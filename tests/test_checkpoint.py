"""Lineage checkpoints: exact resume recomputes only changed buckets."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from intervalaverage_spark.jobs.rollup import finalize_tier, run_rollup
from intervalaverage_spark.operators import tiers as tiers_mod
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.webts import synth_webpages
from tests.test_entry_contract import SF_DIR


@pytest.fixture()
def out_root(tmp_path):
    return str(tmp_path / "tiers")


def test_resume_skips_unchanged(spark, out_root):
    pages = synth_webpages(spark, n_pages=40, n_domains=6, seed=5)
    r1 = run_rollup(spark, pages, out_root=out_root, n_buckets=8, tiers=("1d", "30d"))
    assert r1["buckets"]["todo"] == 8 and r1["buckets"]["skipped"] == 0
    assert r1["tiers"]["1d"]["points"] > 0

    # identical input → everything skipped, outputs intact
    r2 = run_rollup(spark, pages, out_root=out_root, n_buckets=8, tiers=("1d", "30d"))
    assert r2["buckets"]["todo"] == 0 and r2["buckets"]["skipped"] == 8
    pts = finalize_tier(spark, out_root, "30d")
    assert pts.count() > 0

    # perturb: add brand-new pages (different seed → different urls)
    extra = synth_webpages(spark, n_pages=6, n_domains=6, seed=99)
    both = pages.unionByName(extra)
    r3 = run_rollup(spark, both, out_root=out_root, n_buckets=8, tiers=("1d", "30d"))
    assert 0 < r3["buckets"]["todo"] < 8, r3
    assert r3["buckets"]["todo"] + r3["buckets"]["skipped"] == 8

    # final state equals a from-scratch run (exact resume)
    clean = str(out_root) + "_clean"
    run_rollup(spark, both, out_root=clean, n_buckets=8, tiers=("1d", "30d"))
    a = finalize_tier(spark, out_root, "30d")
    b = finalize_tier(spark, clean, "30d")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_vanished_bucket_cleared(spark, out_root):
    """A bucket whose input rows disappear entirely must not keep serving
    its old tier output (stale partitions + manifest entries removed)."""
    import os

    from intervalaverage_spark.plans.checkpoint import with_bucket

    pages = synth_webpages(spark, n_pages=40, n_domains=6, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=8, tiers=("1d",))
    parts_before = {d for d in os.listdir(out_root + "/tier=1d") if d.startswith("p=")}
    assert len(parts_before) >= 2

    # drop every page of one bucket
    gone_p = int(sorted(parts_before)[0].split("=")[1])
    kept = with_bucket(pages, "url", 8).filter(F.col("p") != gone_p).drop("p")
    r = run_rollup(spark, kept, out_root=out_root, n_buckets=8, tiers=("1d",))
    assert r["buckets"]["vanished"] == 1

    parts_after = {d for d in os.listdir(out_root + "/tier=1d") if d.startswith("p=")}
    assert f"p={gone_p}" not in parts_after
    # equals a from-scratch run on the reduced input
    clean = str(out_root) + "_clean2"
    run_rollup(spark, kept, out_root=clean, n_buckets=8, tiers=("1d",))
    a, b = finalize_tier(spark, out_root, "1d"), finalize_tier(spark, clean, "1d")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_written_state_partitioned_by_bucket(spark, out_root, tmp_path):
    pages = synth_webpages(spark, n_pages=20, n_domains=4, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=4, tiers=("1d",))
    import os

    parts = [d for d in os.listdir(out_root + "/tier=1d") if d.startswith("p=")]
    assert len(parts) >= 2  # hash-bucketed layout on disk


def test_resume_after_single_bucket_mutation(spark, out_root):
    """Mutate ONE bucket's existing input (longer text for one url — no
    new pages, no new buckets) and re-run: exactly that bucket recomputes,
    every other bucket is skipped, and the resumed output equals a
    from-scratch recompute row for row."""
    from intervalaverage_spark.plans.checkpoint import with_bucket

    pages = synth_webpages(spark, n_pages=40, n_domains=6, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=8, tiers=("1d",))

    victim = pages.select("url").first()["url"]
    victim_p = with_bucket(
        pages.filter(F.col("url") == victim), "url", 8
    ).first()["p"]
    mutated = pages.withColumn(
        "text",
        F.when(F.col("url") == victim, F.concat(F.col("text"), F.lit(" EDITED")))
        .otherwise(F.col("text")),
    )

    r = run_rollup(spark, mutated, out_root=out_root, n_buckets=8, tiers=("1d",))
    assert r["buckets"]["todo"] == 1 and r["buckets"]["skipped"] == 7, r
    assert r["buckets"]["vanished"] == 0
    # job-level metrics: the single recomputed bucket produced points
    assert r["tiers"]["1d"]["points"] > 0
    assert r["total_points"] == r["tiers"]["1d"]["points"]

    clean = str(out_root) + "_clean3"
    run_rollup(spark, mutated, out_root=clean, n_buckets=8, tiers=("1d",))
    a, b = finalize_tier(spark, out_root, "1d"), finalize_tier(spark, clean, "1d")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # and the mutation actually changed the victim bucket's points
    pre = run_rollup(spark, pages, out_root=None, n_buckets=8, tiers=("1d",))
    assert pre["tiers"]["1d"]["points"] > 0  # sanity: the job ran
    assert a.filter(F.col("p") == victim_p).count() > 0


def test_direct_run_is_one_tier_pass(spark, out_root, monkeypatch):
    """One run_rollup builds one tier plan and writes it once."""
    calls = {"rollup_from_raw": 0, "write_partitioned": 0}

    def counting(mod, name):
        fn = getattr(mod, name)

        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        monkeypatch.setattr(mod, name, wrapped)

    for mod, name in ((tiers_mod, "rollup_from_raw"), (ckpt, "write_partitioned")):
        counting(mod, name)
    pages = synth_webpages(spark, n_pages=20, n_domains=4, seed=5)
    r = run_rollup(spark, pages, out_root=out_root, n_buckets=4)
    assert calls == {"rollup_from_raw": 1, "write_partitioned": 1}
    assert all(r["tiers"][t]["points"] > 0 for t in ("1h", "1d", "30d"))
    assert {d for d in os.listdir(out_root) if d.startswith("tier=")} == {
        "tier=1h", "tier=1d", "tier=30d"}


def test_missing_manifest_is_empty_without_a_job(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("read-missing-manifest", "read_manifest on a fresh root")
    try:
        m = ckpt.read_manifest(spark, str(tmp_path / "fresh"))
        assert sc.statusTracker().getJobIdsForGroup("read-missing-manifest") == []
    finally:
        sc.setJobGroup(None, None)
    assert m.count() == 0 and m.columns == [
        "tier", "p", "input_fingerprint", "input_rows", "output_rows", "output_checksum"]


def test_corrupt_manifest_raises(spark, out_root):
    """An unreadable _lineage must stop the run with a named error, not
    pass for a first run and silently recompute every bucket."""
    pages = synth_webpages(spark, n_pages=20, n_domains=4, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=4, tiers=("1d",))
    lineage = os.path.join(out_root, "_lineage")
    for f in os.listdir(lineage):
        if f.endswith(".crc"):
            os.remove(os.path.join(lineage, f))
        elif f.endswith(".parquet"):
            with open(os.path.join(lineage, f), "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.raises(ckpt.ManifestError, match="unreadable"):
        ckpt.read_manifest(spark, out_root)
    with pytest.raises(ckpt.ManifestError):
        run_rollup(spark, pages, out_root=out_root, n_buckets=4, tiers=("1d",))


def test_resume_metrics_query_rows(spark):
    """checkpoint_resume_metrics has no oracle, so its answer is pinned:
    a cold run recomputes all 8 buckets, one mutated user dirties one."""
    q = entrymod.queries()["checkpoint_resume_metrics"]
    rows = [tuple(r) for r in q(spark, SF_DIR).collect()]
    assert rows == [("run1_cold", 8, 0, True), ("run2_after_one_user_mutation", 1, 7, True)]
