"""Output checks. Each returns a list of failure messages; empty means pass.

The checks run on the outputs of the last timed iteration, outside the
timed window, and compare them with an independent path: decode
against the finalized points, a resumed state against a direct rollup of
the same input, each range operator against the range-join strategy its
timed call did not take or the slow oracle, LSH pairs against the
lossless prefix-filtered join, k-NN cosines against numpy.
"""

from __future__ import annotations

import math
import random
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intervalaverage_spark.functions.gorilla import decode_segments
from intervalaverage_spark.jobs.rollup import GROUP_VARS, VALUE_VARS
from intervalaverage_spark.operators.average import interval_average, interval_average_slow
from intervalaverage_spark.operators.tiers import TIER_WIDTHS, rollup_from_raw
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.webts import observation_intervals

#: largest prime below 2^63, as in plans/checkpoint.py
_MOD = 9223372036854775783


def _set_diff(a: DataFrame, b: DataFrame, label: str) -> list[str]:
    """Multiset equality of two frames with the same columns, in one job:
    each distinct row's count in ``a`` minus its count in ``b`` must be 0."""
    tagged = a.withColumn("__side", F.lit(1)).unionByName(
        b.select(*a.columns).withColumn("__side", F.lit(-1)))
    off = tagged.groupBy(*a.columns).agg(F.sum("__side").alias("__n")).filter(
        F.col("__n") != 0).count()
    return [f"{label}: {off} distinct rows differ in count"] if off else []


def segments_match_points(
    spark: SparkSession, points_path: str, segments_path: str, value_col: str,
) -> list[str]:
    """Every written Gorilla blob decodes to exactly the finalized points."""
    try:
        pts = spark.read.parquet(points_path).select(*GROUP_VARS, "start", value_col)
        dec = decode_segments(spark.read.parquet(segments_path), GROUP_VARS,
                              "start", value_col)
        return _set_diff(dec, pts, "gorilla decode vs finalized 1d points")
    except Exception as e:  # a corrupt blob can fail to decode at all
        return [f"gorilla decode failed: {type(e).__name__}: {str(e)[:200]}"]


def checksum_columns(df: DataFrame) -> list:
    """Aggregates for (rows, modular sum of row hashes over sorted columns):
    usable in ``agg`` and in ``observe``; read back with :func:`checksum_of`."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("h")]


def checksum_of(row) -> tuple[int, int]:
    return int(row["n"]), int(row["h"]) % _MOD


def table_checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive modular sum of row hashes) over sorted columns."""
    return checksum_of(df.agg(*checksum_columns(df)).first())


def resumed_state_matches_direct(
    spark: SparkSession,
    out_root: str,
    pages_path: str,
    n_buckets: int,
    tiers: Sequence[str] = ("1h", "1d", "30d"),
) -> list[str]:
    """The written (resumed) tier states equal a direct ``rollup_from_raw``
    of the same input version, tier by tier, by row count and checksum."""
    x = ckpt.with_bucket(
        observation_intervals(spark.read.parquet(pages_path), unit=1), "url", n_buckets)
    failures = []
    for tier in tiers:
        try:
            written = spark.read.parquet(f"{out_root}/tier={tier}")
            written = written.withColumn("p", F.col("p").cast("long"))
            got = table_checksum(written)
        except Exception as e:  # an unreadable partition is a failed check
            failures.append(f"tier {tier}: written state unreadable: {type(e).__name__}")
            continue
        want = table_checksum(
            rollup_from_raw(x, TIER_WIDTHS[tier], VALUE_VARS, [*GROUP_VARS, "p"]))
        if got != want:
            failures.append(f"tier {tier}: written (rows, checksum) {got} != direct {want}")
    return failures


def _rows(df: DataFrame, keys: Sequence[str]) -> list[dict]:
    rows = [r.asDict() for r in df.collect()]
    return sorted(rows, key=lambda r: tuple((r[k] is None, str(r[k])) for k in keys))


def frames_close(
    got: DataFrame, want: DataFrame, keys: Sequence[str], label: str,
    rel: float = 1e-9,
) -> list[str]:
    """Row-by-row equality after sorting on ``keys``; doubles to ``rel``."""
    a, b = _rows(got, keys), _rows(want.select(*got.columns), keys)
    if len(a) != len(b):
        return [f"{label}: {len(a)} rows vs {len(b)} in reference"]
    for ra, rb in zip(a, b):
        for k, va in ra.items():
            vb = rb[k]
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=rel, abs_tol=rel):
                    return [f"{label}: {k} {va} != {vb} at {ra}"]
            elif va != vb:
                return [f"{label}: {k} {va!r} != {vb!r} at {ra}"]
    return []


def resolved_strategy(df: DataFrame) -> str:
    """The range-join strategy a built operator output actually uses:
    only the bucketed join carries the ``__ia_bucket`` column."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "bucket" if "__ia_bucket" in plan else "sortmerge"


def range_ops_match_references(wl, urls: Sequence[str]) -> list[str]:
    """The timed outputs of range_ops are right.

    ``interval_intersect`` and ``isolate_overlaps``: the (rows, checksum)
    observed on the last timed call equals a full-size run of the same
    call under the other range-join strategy than the one the timed call
    resolved to. ``interval_average`` sums doubles, whose last bits depend
    on the join order, so it is checked on a slice of ``urls`` instead: the
    strategy the timed call resolved to against the slow oracle, which
    takes no range join at all."""
    failures = []
    for op in ("intersect", "isolate"):
        took = resolved_strategy(wl.call(op, validate=False))
        other = "bucket" if took == "sortmerge" else "sortmerge"
        want = table_checksum(wl.call(op, validate=False, strategy=other))
        if wl.sums[op] != want:
            failures.append(f"{op} ({took}): timed (rows, checksum) {wl.sums[op]} "
                            f"!= {other} {want}")
    took = resolved_strategy(wl.call("average", validate=False))
    xu = average_input(wl.x).filter(F.col("url").isin(list(urls)))
    yu = wl.y_day.filter(F.col("url").isin(list(urls)))
    kw = dict(interval_vars=("start", "end"), value_vars=VALUE_VARS,
              group_vars=["url"], required_percentage=0)
    failures += frames_close(interval_average(xu, yu, validate=False, strategy=took, **kw),
                             interval_average_slow(xu, yu, **kw),
                             ["url", "start", "end"],
                             f"interval_average ({took}) vs slow oracle")
    return failures


def average_input(x: DataFrame) -> DataFrame:
    """range_ops' x table shaped for ``interval_average``."""
    return x.select("url", "start", "end", *VALUE_VARS)


def intersect_input(x: DataFrame) -> DataFrame:
    """range_ops' x table shaped for ``interval_intersect``."""
    return x.select("domain", "url", "start", "end", "text_bytes")


def isolate_input(x: DataFrame) -> DataFrame:
    """range_ops' x table shaped for ``isolate_overlaps``; the interval
    columns are renamed so they do not collide with its output names."""
    return x.select("domain", "lang", "url", F.col("start").alias("s"),
                    F.col("end").alias("e"))


#: least share of planted near-duplicate pairs MinHash-LSH must recover;
#: seeds 1-80 and 9001 at the full size gave 0.90-1.0, and all but one of
#: them at least 0.946 (a missed family of four loses 6 of the 150 pairs)
PAIR_RECALL_FLOOR = 0.85


def dedup_outputs_hold(
    lsh_pairs: DataFrame, prefix_pairs: DataFrame, recall: float,
    clusters: tuple[int, int], docs: DataFrame,
) -> list[str]:
    """MinHash-LSH recovers the planted pairs at the measured level; its
    pairs (exact-verified, so precision 1) are all found by the lossless
    prefix-filtered join with the same Jaccard; the clustering keeps one
    row per document."""
    failures = []
    if recall < PAIR_RECALL_FLOOR:
        failures.append(f"pair_recall {recall:.4f} < {PAIR_RECALL_FLOOR}")
    key = ["id1", "id2"]
    extra = lsh_pairs.select(*key).exceptAll(prefix_pairs.select(*key)).count()
    if extra:
        failures.append(f"{extra} LSH pairs missing from the prefix-filtered join")
    off = lsh_pairs.join(prefix_pairs.withColumnRenamed("jaccard", "j2"), key).filter(
        F.abs(F.col("jaccard") - F.col("j2")) > 1e-9).count()
    if off:
        failures.append(f"{off} pairs with a different Jaccard in the two joins")
    n_docs = docs.count()
    if clusters[0] != n_docs:
        failures.append(f"dedup_clusters gave {clusters[0]} rows for {n_docs} documents")
    return failures


def knn_rows_exact(knn: DataFrame, vecs: DataFrame, k: int, seed: int,
                   n_queries: int = 25) -> list[str]:
    """For a seeded sample of queries: at most ``k`` neighbours, never
    the query itself, ranks 1.. in descending cosine, and every cosine
    equal to the one numpy computes from the two vectors."""
    import numpy as np

    ids = sorted(r[0] for r in vecs.select("vec_id").collect())
    sample = random.Random(seed).sample(ids, min(n_queries, len(ids)))
    got = knn.filter(F.col("q_id").isin(sample)).collect()
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in vecs.filter(F.col("vec_id").isin(
               sample + [r["nn_id"] for r in got])).collect()}
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
    failures = []
    if len(by_q) < len(sample):
        failures.append(f"knn: {len(sample) - len(by_q)} of {len(sample)} sampled "
                        "queries have no neighbour")
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        if len(rows) > k or [r["rank"] for r in rows] != list(range(1, len(rows) + 1)):
            failures.append(f"knn: query {q} ranks {[r['rank'] for r in rows]}")
            continue
        cos = [r["cosine"] for r in rows]
        if any(a < b for a, b in zip(cos, cos[1:])) or any(r["nn_id"] == q for r in rows):
            failures.append(f"knn: query {q} not in descending cosine order or self-matched")
            continue
        a = emb[q]
        for r in rows:
            b = emb[r["nn_id"]]
            want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            if not math.isclose(r["cosine"], want, abs_tol=1e-6):
                failures.append(f"knn: cosine({q}, {r['nn_id']}) {r['cosine']} != {want}")
                break
    return failures
