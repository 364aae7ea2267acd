"""The benchmark's own tests: every workload emits every named metric at
tiny scale, and every output check fails on a corrupted output.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from intervalaverage_spark.functions import dedup
from intervalaverage_spark.operators import average as average_op
from intervalaverage_spark.operators import intersect as intersect_op
from intervalaverage_spark.operators import isolate as isolate_op
from perfbench import checks, harness
from perfbench import run as run_cli
from perfbench.tracing import Tracer
from perfbench.workloads import (
    PER_LAYER_UNITS,
    SCALES,
    WORKLOADS,
    CorpusDedup,
    CrawlRollup,
    RangeOps,
)

from conftest import ROOT

DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_declared_metrics_match_the_code():
    assert {m["name"]: m["unit"] for m in DECLARED["end_to_end"]} == harness.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in DECLARED["per_layer"]} == PER_LAYER_UNITS
    assert {w["name"] for w in DECLARED["workloads"]} == set(WORKLOADS)
    assert set(run_cli.WORKLOADS) == set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_every_metric_with_unit(spark, tmp_path, workload, trace):
    result, record = harness.run(workload, seed=3, seconds=0, trace=bool(trace),
                                 work=tmp_path, scale="tiny", spark=spark)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], record["failures"]
    assert result["failed"] == 0 and result["attempted"] >= harness.MIN_ITERATIONS
    units = PER_LAYER_UNITS if trace else harness.END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(math.isfinite(v["value"]) for v in result["metrics"].values())
    if trace:
        spans = [s for s in record["spans"] if s["iteration"] is not None]
        assert spans and all(s["end"] >= s["start"] for s in spans)
        assert result["metrics"]["trace.span_coverage"]["value"] >= 0.9
        # every layer the workload drives reads non-zero
        covered = {k: v["value"] for k, v in result["metrics"].items()
                   if k.split(".")[0] in WORKLOADS[workload].layers}
        assert covered and all(v > 0 for v in covered.values()), covered
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def _ready(spark, tmp_path, cls):
    wl = cls(spark, Tracer(spark, False, tmp_path), tmp_path, 5, SCALES["tiny"])
    wl.setup()
    wl.iterate()
    assert wl.check() == []
    return wl


def _rewrite(f, change):
    """Apply ``change`` to the pyarrow table of parquet file ``f``. Its
    Hadoop checksum file goes too, so the check sees the tampered content
    rather than a checksum error."""
    pq.write_table(change(pq.read_table(f)), f)
    f.with_name(f".{f.name}.crc").unlink(missing_ok=True)


def _rewrite_first_file(directory, change):
    _rewrite(sorted(p for p in directory.rglob("*.parquet") if pq.read_metadata(p).num_rows)[0],
             change)


def test_tampered_blob_fails_crawl_check(spark, tmp_path):
    wl = _ready(spark, tmp_path, CrawlRollup)

    def flip_a_middle_byte(table):
        # the last byte may hold only padding bits; a middle one holds data
        blobs = table.column("blob").to_pylist()
        i = len(blobs[0]) // 2
        blobs[0] = blobs[0][:i] + bytes([blobs[0][i] ^ 0x55]) + blobs[0][i + 1:]
        i = table.schema.get_field_index("blob")
        return table.set_column(i, "blob", pa.array(blobs, table.schema.field("blob").type))

    _rewrite_first_file(wl.out / "segments", flip_a_middle_byte)
    assert wl.check()


def test_tampered_tier_partition_fails_crawl_check(spark, tmp_path):
    wl = _ready(spark, tmp_path, CrawlRollup)

    def bump_nobs(table):
        col = table.column("nobs_text_bytes").to_pylist()
        col[0] += 1
        i = table.schema.get_field_index("nobs_text_bytes")
        return table.set_column(i, "nobs_text_bytes", pa.array(col, pa.int64()))

    _rewrite_first_file(wl.state / "tier=1d", bump_nobs)
    assert wl.check()


def test_resume_with_wrong_bucket_counts_fails(spark, tmp_path):
    wl = _ready(spark, tmp_path, CrawlRollup)
    out = wl.iterate()
    assert wl.verify_iteration(out, out) == []
    out["signature"] = (*out["signature"][:-3], wl.n_dirty + 1, *out["signature"][-2:])
    assert wl.verify_iteration(out, out)


@pytest.mark.parametrize("op", RangeOps.ops)
def test_faulty_range_join_fails_range_check(spark, tmp_path, monkeypatch, op):
    """A range join that loses pairs under the strategy the timed call
    resolves to, and only there, must fail the check."""
    wl = _ready(spark, tmp_path, RangeOps)
    took = checks.resolved_strategy(wl.call(op, validate=False))
    mod = {"average": average_op, "intersect": intersect_op, "isolate": isolate_op}[op]
    real = mod.range_join

    def loses_pairs(*args, **kwargs):
        out = real(*args, **kwargs)
        if checks.resolved_strategy(out) != took:
            return out
        return out.filter(F.pmod(F.xxhash64(*out.columns), F.lit(5)) != 0)

    monkeypatch.setattr(mod, "range_join", loses_pairs)
    wl.iterate()
    assert wl.check()


def test_lossy_dedup_fails_corpus_check(spark, tmp_path, monkeypatch):
    wl = _ready(spark, tmp_path, CorpusDedup)
    real = dedup.minhash_lsh_pairs
    monkeypatch.setattr(dedup, "minhash_lsh_pairs",
                        lambda *a, **kw: real(*a, **kw).filter(F.col("id1") % 2 == 0))
    wl.iterate()
    assert wl.check()


def test_tampered_knn_cosine_fails_corpus_check(spark, tmp_path):
    wl = _ready(spark, tmp_path, CorpusDedup)

    def shift_cosines(table):
        i = table.schema.get_field_index("cosine")
        col = [c - 0.01 for c in table.column("cosine").to_pylist()]
        return table.set_column(i, "cosine", pa.array(col, table.schema.field("cosine").type))

    for f in (wl.work / "knn").rglob("*.parquet"):
        _rewrite(f, shift_cosines)
    assert wl.check()


def test_same_seed_same_inputs(spark, tmp_path):
    def signature(seed, sub):
        wl = WORKLOADS["crawl_rollup"](spark, Tracer(spark, False, tmp_path / sub),
                                       tmp_path / sub, seed, SCALES["tiny"])
        wl.setup()
        return checks.table_checksum(wl.read(wl.versions[0]))

    assert signature(7, "a") == signature(7, "b")
    assert signature(7, "a") != signature(8, "c")


def test_without_the_engine_it_exits_nonzero(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_rollup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
