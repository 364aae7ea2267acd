"""The north-star job: web-page visits → observation intervals → 1h/1d/30d
tier states → finalized points (+ optional Gorilla segment blobs), with
per-partition lineage checkpoints and exact resume.

Run via ``spark-submit --py-files ia.zip -m intervalaverage_spark.jobs.rollup``
or programmatically through :func:`run_rollup`. Designed so every stage is
a shuffle on ``(p, …)`` where ``p = xxhash64(url) % n_buckets`` — the tier
cascade then never reshuffles across stages (url stays co-located), and a
bucket is the unit of both skew mitigation and resume.

The default (direct) job is one tier pass: all tiers are built in one plan,
persisted and counted in one job and written once as ``tier=<t>/p=<b>``;
the manifest is read once and rewritten once.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intervalaverage_spark.operators.tiers import (
    TIER_WIDTHS,
    finalize,
    rollup_cascade,
    rollup_from_raw,
    rollup_tiers,
)
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
    resume: bool = True,
    unit: int = 1,
    strategy: str = "direct",
) -> dict:
    """Returns a metrics report. With ``out_root``, states are written
    partitioned by tier and bucket (``tier=<t>/p=<b>``) with a lineage
    manifest; a re-run recomputes only buckets whose input fingerprint
    changed.

    ``strategy``:
      * ``"direct"`` (default) — every tier from the raw interval table, in
        ONE tier pass (:func:`rollup_tiers`): one plan over x × tiers,
        persisted and counted per tier in one job, written once under
        dynamic partition overwrite. ``report["tiers"][t]["seconds"]`` is
        then the shared pass time, the same for every tier. At web-crawl
        visit density the materialized hour-grid state is ~170× denser
        than raw (each ~9-day validity interval covers ~220 hour windows),
        so cascading 1d from the 1h STATE shuffles two orders of magnitude
        more rows than re-aggregating raw (measured 180 s vs 4.7 s at 60k
        pages / 8 cores).
      * ``"cascade"`` — each tier merged from the previous tier's state
        (rollup_cascade), one tier after another. Correct and REQUIRED when
        raw has aged out of retention and only a finer tier remains;
        exactness of cascade == direct == interval_average is
        property-tested."""
    t_start = time.time()
    report: dict = {"tiers": {}, "buckets": {"n": n_buckets}}

    widths = [TIER_WIDTHS[t] for t in tiers]
    for w0, w1 in zip(widths, widths[1:]):
        if w1 % w0:
            raise ValueError(f"tier widths must tile: {w0} → {w1}")
    if strategy not in ("direct", "cascade"):
        raise ValueError(f"unknown strategy {strategy!r}")

    x = observation_intervals(pages, unit=unit)
    x = ckpt.with_bucket(x, "url", n_buckets)

    manifest_rows: list[tuple] | None = None  # None → no manifest to write
    if out_root and resume:
        fps = ckpt.fingerprint_partitions(x).cache()
        manifest = ckpt.read_manifest(spark, out_root)
        todo, skipped = ckpt.plan_resume(fps, manifest, tier="input")
        # buckets whose input disappeared entirely emit no fingerprint row:
        # clear their stale tier partitions + manifest entries
        vanished = ckpt.vanished_buckets(fps, manifest, tier="input")
        # the old manifest is read once, before any write, and merged with
        # this run's fingerprints on the driver
        fresh = [("input", int(r["p"]), int(r["fingerprint"]), int(r["rows"]), None, None)
                 for r in fps.collect()]
        replaced = {(t, p) for t, p, *_ in fresh}
        manifest_rows = [
            tuple(r) for r in manifest.collect()
            if (r["tier"], r["p"]) not in replaced and r["p"] not in vanished
        ] + fresh
        if vanished:
            ckpt.delete_partition_dirs(
                spark, out_root,
                [f"tier={t}/p={b}" for t in tiers for b in vanished],
            )
        report["buckets"]["todo"] = len(todo)
        report["buckets"]["skipped"] = len(skipped)
        report["buckets"]["vanished"] = len(vanished)
        x = x.filter(F.col("p").isin(todo)) if todo else x.limit(0)

    if strategy == "direct":
        _tier_pass(x, tiers, out_root, report)
    else:
        _cascade(x, tiers, widths, out_root, report)

    if manifest_rows is not None:
        ckpt.write_manifest(manifest_rows, out_root, spark)

    total_points = sum(r["points"] for r in report["tiers"].values())
    report["total_points"] = total_points
    report["wall_seconds"] = round(time.time() - t_start, 3)
    report["points_per_sec"] = round(total_points / max(report["wall_seconds"], 1e-9), 1)
    return report


def _tier_pass(x: DataFrame, tiers: Sequence[str], out_root: str | None, report: dict) -> None:
    """Every tier in one plan, one counting job and one write."""
    t0 = time.time()
    state = rollup_tiers(
        x, {t: TIER_WIDTHS[t] for t in tiers}, VALUE_VARS, [*GROUP_VARS, "p"]
    ).persist()
    counts = state.agg(*[F.count_if(F.col("tier") == t).alias(t) for t in tiers]).first()
    seconds = round(time.time() - t0, 3)
    for tier in tiers:
        report["tiers"][tier] = {"points": counts[tier], "seconds": seconds}
    if out_root:
        ckpt.write_partitioned(state, out_root, ("tier", "p"))
    state.unpersist()


def _cascade(
    x: DataFrame, tiers: Sequence[str], widths: Sequence[int], out_root: str | None,
    report: dict,
) -> None:
    """Each tier merged from the previous tier's persisted state."""
    prev_state: DataFrame | None = None
    for tier, width in zip(tiers, widths):
        t0 = time.time()
        if prev_state is None:
            state = rollup_from_raw(x, width, VALUE_VARS, [*GROUP_VARS, "p"])
        else:
            state = rollup_cascade(prev_state, prev_width, width, VALUE_VARS, [*GROUP_VARS, "p"])
        state = state.persist()
        report["tiers"][tier] = {"points": state.count(),
                                 "seconds": round(time.time() - t0, 3)}
        if out_root:
            ckpt.write_partitioned(state, os.path.join(out_root, f"tier={tier}"), ("p",))
        if prev_state is not None:
            prev_state.unpersist()
        prev_state, prev_width = state, width
    if prev_state is not None:
        prev_state.unpersist()


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
