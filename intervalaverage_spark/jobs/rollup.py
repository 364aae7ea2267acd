"""The north-star job: web-page visits → observation intervals → 1h/1d/30d
tier states → finalized points (+ optional Gorilla segment blobs), with
per-partition lineage checkpoints and exact resume.

Run via ``spark-submit --py-files ia.zip -m intervalaverage_spark.jobs.rollup``
or programmatically through :func:`run_rollup`. Designed so every stage is
a shuffle on ``(p, …)`` where ``p = xxhash64(url) % n_buckets`` — url stays
co-located across stages, and a bucket is the unit of both skew mitigation
and resume.

:func:`rollup_intervals` is the one tier → write → lineage pipeline, for
any interval table: the job, the bench and the checkpoint queries all call
it. Every tier is built from the raw intervals in one plan, persisted and
counted in one job and written once as ``tier=<t>/p=<b>``. The lineage
manifest ``_lineage/manifest.parquet`` is read once and rewritten once (temp
file, then rename), both on the driver with no Spark job; which buckets to
recompute, skip or clear is decided on the driver from it and the collected
per-bucket fingerprints. At web-crawl visit density the hour-grid
state is ~170× denser than raw (each ~9-day validity interval covers ~220
hour windows), so building 1d from raw shuffles two orders of magnitude
fewer rows than merging it from the 1h state (measured 4.7 s vs 180 s at
60k pages / 8 cores); ``rollup_cascade`` is for when raw has aged out.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intervalaverage_spark.operators.tiers import TIER_WIDTHS, finalize, rollup_tiers
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.webts import observation_intervals

VALUE_VARS = ["text_bytes", "crawl_gap"]
GROUP_VARS = ["url", "lang"]


def run_rollup(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str | None = None,
    n_buckets: int = 32,
    tiers: Sequence[str] = ("1h", "1d", "30d"),
) -> dict:
    """The rollup job over web-page visits: their observation intervals
    (seconds grid) through :func:`rollup_intervals`, bucketed on url."""
    return rollup_intervals(
        spark, observation_intervals(pages, unit=1), {t: TIER_WIDTHS[t] for t in tiers},
        VALUE_VARS, GROUP_VARS, "url", n_buckets, out_root,
    )


def rollup_intervals(
    spark: SparkSession,
    x: DataFrame,
    widths: Mapping[str, int],
    value_vars: Sequence[str],
    group_vars: Sequence[str],
    key: str,
    n_buckets: int,
    out_root: str | None = None,
) -> dict:
    """Roll the interval table ``x`` up into one state per tier name →
    width in ``widths``, bucketed by ``pmod(xxhash64(key), n_buckets)``;
    returns a metrics report.

    With ``out_root``, the states are written as ``tier=<t>/p=<b>`` with a
    lineage manifest ``_lineage/manifest.parquet``: a re-run recomputes
    only buckets whose input fingerprint changed, and clears the partitions
    of buckets whose input vanished. ``report["tiers"][t]["seconds"]`` is the shared
    tier-pass time, the same for every tier."""
    t_start = time.time()
    report: dict = {"tiers": {}, "buckets": {"n": n_buckets}}
    ws = list(widths.values())
    for w0, w1 in zip(ws, ws[1:]):
        if w1 % w0:
            raise ValueError(f"tier widths must tile: {w0} → {w1}")

    x = ckpt.with_bucket(x, key, n_buckets)
    if out_root:
        # the resume decision's one Spark query; the rest works on driver rows
        fps = ckpt.fingerprint_partitions(x).collect()
        manifest = ckpt.read_manifest(spark, out_root)
        if not manifest:
            # state without a manifest (an older layout, a crash inside its
            # rename): each written bucket's fingerprint is unknown
            manifest = [("input", p, None, None, None, None)
                        for p in ckpt.written_buckets(spark, out_root)]
        todo, skipped = ckpt.plan_resume(fps, manifest, tier="input")
        # buckets whose input disappeared entirely emit no fingerprint row:
        # clear their stale tier partitions + manifest entries
        vanished = ckpt.vanished_buckets(fps, manifest, tier="input")
        fresh = [("input", p, fp, n, None, None) for p, fp, n in fps]
        replaced = {r[:2] for r in fresh}
        manifest_rows = [
            r for r in manifest if r[:2] not in replaced and r[1] not in vanished] + fresh
        if vanished:
            ckpt.delete_partition_dirs(
                spark, out_root, [f"tier={t}/p={b}" for t in widths for b in vanished])
        report["buckets"].update(todo=len(todo), skipped=len(skipped), vanished=len(vanished))
        x = x.filter(F.col("p").isin(todo)) if todo else x.limit(0)

    t0 = time.time()
    state = rollup_tiers(x, widths, value_vars, [*group_vars, "p"]).persist()
    counts = state.agg(*[F.count_if(F.col("tier") == t).alias(t) for t in widths]).first()
    seconds = round(time.time() - t0, 3)
    for tier in widths:
        report["tiers"][tier] = {"points": counts[tier], "seconds": seconds}
    if out_root:
        ckpt.write_partitioned(state, out_root, ("tier", "p"))
        ckpt.write_manifest(manifest_rows, out_root, spark)
    state.unpersist()

    total_points = sum(r["points"] for r in report["tiers"].values())
    report["total_points"] = total_points
    report["wall_seconds"] = round(time.time() - t_start, 3)
    report["points_per_sec"] = round(total_points / max(report["wall_seconds"], 1e-9), 1)
    return report


def finalize_tier(
    spark: SparkSession,
    out_root: str,
    tier: str,
    required_percentage: float = 0.0,
) -> DataFrame:
    """Read a written tier state and materialize reference-semantics points."""
    state = spark.read.parquet(os.path.join(out_root, f"tier={tier}"))
    return finalize(
        state, TIER_WIDTHS[tier], VALUE_VARS, [*GROUP_VARS, "p"],
        required_percentage=required_percentage,
    )


def main() -> None:  # pragma: no cover — spark-submit entry
    from intervalaverage_spark.session import get_spark
    from intervalaverage_spark.sources.webts import synth_webpages

    spark = get_spark(app_name="ia-rollup")
    pages = synth_webpages(spark, n_pages=int(os.environ.get("IA_PAGES", "2000")))
    report = run_rollup(spark, pages, out_root=os.environ.get("IA_OUT"))
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
