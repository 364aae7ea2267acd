"""Training-shard assignment: pack documents into fixed-budget shards.

The last step of a training-data pipeline: documents, in a deterministic
global order, are packed greedily into shards of ~``shard_weight`` tokens
(shard id = exclusive-prefix-sum(weight) div shard_weight). The hard part
at 100 TB is the GLOBAL running sum — a naive ``Window.orderBy(id)`` with
no partition key collapses the whole table into one task.

:func:`assign_shards` runs the classic two-phase distributed prefix sum
instead:

1. range-repartition by id (so partition p holds an id range entirely
   below partition p+1's), per-partition window cumsum — parallel;
2. per-partition totals — ONE row per partition — collected to the
   driver, exclusive-prefixed, and rejoined as a literal map.

The output is a pure function of the data (ids and weights): the sampled
range boundaries affect only which task computes a row, never its global
cumulative sum. Integer weights → exact, engine-portable (the driver
query's DuckDB oracle is a plain ``SUM() OVER (ORDER BY id)``).

CORRECTNESS NOTE (the subtle trap): ``repartitionByRange`` SAMPLES its
range boundaries per execution (RangePartitioner seeds from the RDD id),
so the totals job and a later output action would otherwise see DIFFERENT
``pid`` assignments for rows near boundaries — silently wrong
cum_weight. The partitioned frame is therefore eagerly materialized with
``localCheckpoint`` BEFORE totals are collected: both the totals job and
every downstream action read the same frozen partitioning. (On a real
cluster, swap localCheckpoint for a reliable checkpoint/parquet write of
the partitioned frame — same invariant, durable storage.)
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.plans.rangejoin import fdiv
from intervalaverage_spark.validation import _plus


def assign_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_tokens",
    shard_weight: int = 100_000,
) -> DataFrame:
    """Append ``cum_weight`` (inclusive global running sum in ``id_col``
    order) and ``shard`` = (cum_weight − weight) div shard_weight.
    A document larger than the budget still lands in exactly one shard
    (greedy packing never splits a document)."""
    e, back = _plus(df, {"id": id_col, "w": weight_col}, ["cum_weight", "shard"])
    w = F.col("w").cast("long")
    part = e.repartitionByRange(F.col("id")).withColumn(
        "pid", F.spark_partition_id()
    )
    wspec = Window.partitionBy("pid").orderBy("id")
    # freeze the sampled range partitioning (module docstring: boundaries
    # re-sample per execution) so totals and output read identical pid
    base = part.withColumn("cs", F.sum(w).over(wspec)).localCheckpoint()
    # one row per partition — bounded driver-side metadata, not a data read
    totals = {
        r["pid"]: r["t"]
        for r in base.groupBy("pid").agg(F.sum(w).alias("t")).collect()
    }
    pids = sorted(totals)
    offsets = dict(zip(pids, accumulate([0] + [totals[p] for p in pids[:-1]])))
    off = F.element_at(
        F.create_map(*[F.lit(x) for p in pids for x in (p, offsets[p])]),
        F.col("pid"),
    ).cast("long")
    cum = (F.col("cs") + off).alias("cum_weight")
    return base.select(
        *back, cum, fdiv(F.col("cs") + off - w, shard_weight).alias("shard")
    )
