"""Lineage checkpoints: exact resume recomputes only changed buckets."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from intervalaverage_spark.jobs.rollup import finalize_tier, run_rollup
from intervalaverage_spark.operators import tiers as tiers_mod
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.webts import observation_intervals, synth_webpages
from tests.conftest import spark_jobs
from tests.test_entry_contract import SF_DIR
from tests.test_tiers import _checksum


@pytest.fixture()
def out_root(tmp_path):
    return str(tmp_path / "tiers")


def _mutate_one_url(pages):
    """``pages`` with one url's text edited, and that url's bucket of 8."""
    victim = pages.select("url").first()["url"]
    victim_p = ckpt.with_bucket(pages.filter(F.col("url") == victim), "url", 8).first()["p"]
    return pages.withColumn("text", F.when(
        F.col("url") == victim, F.concat(F.col("text"), F.lit(" EDITED"))).otherwise(
        F.col("text"))), victim_p


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
    with spark_jobs(spark, "read-missing-manifest") as jobs:
        m = ckpt.read_manifest(spark, str(tmp_path / "fresh"))
    assert jobs == []
    assert m == [] and ckpt.MANIFEST_ARROW.names == [
        "tier", "p", "input_fingerprint", "input_rows", "output_rows", "output_checksum"]


def test_manifest_io_and_resume_plan_run_no_job(spark, out_root):
    """Only the fingerprint aggregate runs on Spark: reading and writing
    the manifest and both resume decisions are driver work."""
    pages = synth_webpages(spark, n_pages=20, n_domains=4, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=4, tiers=("1d",))
    fps = ckpt.fingerprint_partitions(
        ckpt.with_bucket(observation_intervals(pages, unit=1), "url", 4)).collect()
    jobs = {}
    with spark_jobs(spark, "read_manifest") as jobs["read_manifest"]:
        m = ckpt.read_manifest(spark, out_root)
    with spark_jobs(spark, "plan_resume") as jobs["plan_resume"]:
        todo, skipped = ckpt.plan_resume(fps, m, "input")
    with spark_jobs(spark, "vanished_buckets") as jobs["vanished_buckets"]:
        gone = ckpt.vanished_buckets(fps, m, "input")
    with spark_jobs(spark, "write_manifest") as jobs["write_manifest"]:
        ckpt.write_manifest(m[1:], out_root, spark)
    assert all(ids == [] for ids in jobs.values()), jobs
    assert todo == [] and gone == [] and skipped == sorted(r[1] for r in m)
    assert all(len(r) == len(ckpt.MANIFEST_ARROW) and r[0] == "input" for r in m)
    assert ckpt.read_manifest(spark, out_root) == m[1:]


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


def test_mistyped_manifest_raises(spark, out_root):
    """A manifest column of the wrong type is unreadable too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(out_root, "_lineage"))
    cols = {c: pa.array([1], pa.int64()) for c in ckpt.MANIFEST_ARROW.names}
    cols.update(tier=pa.array(["input"]), p=pa.array(["x"]))
    pq.write_table(pa.table(cols), os.path.join(out_root, ckpt.MANIFEST))
    with pytest.raises(ckpt.ManifestError, match="unreadable"):
        ckpt.read_manifest(spark, out_root)


def test_crash_before_the_manifest_write_recomputes_on_rerun(spark, out_root, monkeypatch):
    """A run that dies after its tier write but before its manifest write
    leaves the old fingerprints on record: the re-run recomputes the dirty
    bucket and its state equals a clean run's."""
    pages = synth_webpages(spark, n_pages=40, n_domains=6, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=8, tiers=("1d",))
    mutated, _ = _mutate_one_url(pages)

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the manifest write")

    monkeypatch.setattr(ckpt, "write_manifest", crash)
    with pytest.raises(RuntimeError, match="crash"):
        run_rollup(spark, mutated, out_root=out_root, n_buckets=8, tiers=("1d",))
    monkeypatch.undo()

    r = run_rollup(spark, mutated, out_root=out_root, n_buckets=8, tiers=("1d",))
    assert (r["buckets"]["todo"], r["buckets"]["skipped"]) == (1, 7), r
    clean = out_root + "_clean"
    run_rollup(spark, mutated, out_root=clean, n_buckets=8, tiers=("1d",))
    assert _checksum(spark.read.parquet(f"{out_root}/tier=1d")) == _checksum(
        spark.read.parquet(f"{clean}/tier=1d"))


def test_failed_manifest_rename_keeps_the_old_manifest(spark, out_root, monkeypatch):
    """A manifest write that dies after writing its temp file, in the
    rename, leaves the old manifest readable, and the re-run makes the same
    resume decision the failed run made."""
    pages = synth_webpages(spark, n_pages=40, n_domains=6, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=8, tiers=("1d",))
    old = ckpt.read_manifest(spark, out_root)
    mutated, victim_p = _mutate_one_url(pages)
    plans, plan_resume, rename_over = [], ckpt.plan_resume, ckpt._rename_over

    def recording(*args, **kwargs):
        plans.append(plan_resume(*args, **kwargs))
        return plans[-1]

    def crash(*args, **kwargs):
        raise OSError("rename failed")

    monkeypatch.setattr(ckpt, "plan_resume", recording)
    monkeypatch.setattr(ckpt, "_rename_over", crash)
    with pytest.raises(OSError, match="rename failed"):
        run_rollup(spark, mutated, out_root=out_root, n_buckets=8, tiers=("1d",))
    tmp = os.path.join(out_root, "_lineage", "manifest.parquet.tmp")
    assert os.path.exists(tmp)
    assert ckpt.read_manifest(spark, out_root) == old

    monkeypatch.setattr(ckpt, "_rename_over", rename_over)
    r = run_rollup(spark, mutated, out_root=out_root, n_buckets=8, tiers=("1d",))
    assert plans[0] == plans[1] and plans[0][0] == [victim_p], plans
    assert (r["buckets"]["todo"], r["buckets"]["skipped"]) == (1, 7), r
    assert not os.path.exists(tmp)


def test_root_without_manifest_clears_vanished_bucket(spark, out_root):
    """A root whose state has no manifest — written when ``_lineage`` held
    Spark ``part-*`` files, or left by a crash between the manifest's
    delete and rename — recomputes the buckets that still have input and
    clears the partitions of the one whose input vanished."""
    pages = synth_webpages(spark, n_pages=40, n_domains=6, seed=5)
    run_rollup(spark, pages, out_root=out_root, n_buckets=8, tiers=("1d",))
    lineage = os.path.join(out_root, "_lineage")
    old_rows = ckpt.read_manifest(spark, out_root)
    spark.createDataFrame(old_rows, "tier string, p long, input_fingerprint long, "
                          "input_rows long, output_rows long, output_checksum long").write.mode(
        "overwrite").parquet(lineage)
    assert ckpt.read_manifest(spark, out_root) == []

    gone_p = old_rows[0][1]
    kept = ckpt.with_bucket(pages, "url", 8).filter(F.col("p") != gone_p).drop("p")
    r = run_rollup(spark, kept, out_root=out_root, n_buckets=8, tiers=("1d",))
    assert (r["buckets"]["todo"], r["buckets"]["skipped"], r["buckets"]["vanished"]) == (
        len(old_rows) - 1, 0, 1), r
    assert not os.path.exists(os.path.join(out_root, "tier=1d", f"p={gone_p}"))
    assert sorted(p for _, p, *_ in ckpt.read_manifest(spark, out_root)) == sorted(
        p for _, p, *_ in old_rows if p != gone_p)
    clean = out_root + "_clean"
    run_rollup(spark, kept, out_root=clean, n_buckets=8, tiers=("1d",))
    assert _checksum(spark.read.parquet(f"{out_root}/tier=1d")) == _checksum(
        spark.read.parquet(f"{clean}/tier=1d"))


def test_resume_metrics_query_rows(spark):
    """checkpoint_resume_metrics has no oracle, so its answer is pinned:
    a cold run recomputes all 8 buckets, one mutated user dirties one."""
    q = entrymod.queries()["checkpoint_resume_metrics"]
    rows = [tuple(r) for r in q(spark, SF_DIR).collect()]
    assert rows == [("run1_cold", 8, 0, True), ("run2_after_one_user_mutation", 1, 7, True)]
