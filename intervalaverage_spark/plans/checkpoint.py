"""Per-partition lineage + metrics checkpoints enabling exact resume.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The unit of resume is a *url-hash bucket*: every table in the
pipeline carries ``p = pmod(xxhash64(url), n_buckets)`` and is written
``partitionBy("p")``. For each bucket we record a LINEAGE row:

    p, input_fingerprint, input_rows, output_rows, out_checksum, tier

The input fingerprint is an order-insensitive pure-JVM aggregate: the SUM
of per-row xxhash64 reduced mod the largest 63-bit prime (DECIMAL
accumulation — ANSI-safe, no overflow, no Python). SUM, not bit_xor: XOR
cancels any pairwise-duplicated change (two identical new rows would
leave the fingerprint untouched), while a modular sum is duplicate-
sensitive. plan_resume additionally compares the recorded row count as a
second independent witness. On re-run, buckets whose (fingerprint, rows)
match the manifest are SKIPPED; only changed/new buckets recompute, and
dynamic partition overwrite rewrites exactly those directories. This replaces Structured
Streaming checkpoints for the batch-incremental tier cascade (SURVEY §2.3:
watermarks are out of scope; resume-from-checkpoint replaces them).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

#: one row per (tier, bucket); Arrow types map to string, long × 5
MANIFEST_ARROW = pa.schema(
    [("tier", pa.string())]
    + [(c, pa.int64()) for c in ("p", "input_fingerprint", "input_rows", "output_rows",
                                 "output_checksum")]
)
MANIFEST_SCHEMA = from_arrow_schema(MANIFEST_ARROW)


def with_bucket(df: DataFrame, key_col: str, n_buckets: int, out: str = "p") -> DataFrame:
    return df.withColumn(out, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)))


#: largest prime below 2^63 — fingerprint modulus (result fits LongType)
_FP_MOD = 9223372036854775783


def fingerprint_partitions(df: DataFrame, part_col: str = "p") -> DataFrame:
    """One row per bucket: (p, fingerprint, rows). Order-insensitive AND
    duplicate-sensitive (modular sum of row hashes; see module docstring)."""
    cols = [c for c in df.columns if c != part_col]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return df.groupBy(part_col).agg(
        F.pmod(F.sum(h), F.lit(_FP_MOD).cast("decimal(38,0)"))
        .cast("long").alias("fingerprint"),
        F.count(F.lit(1)).alias("rows"),
    )


class ManifestError(RuntimeError):
    """The lineage manifest exists but cannot be read."""


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The lineage manifest under ``path``, read once into a driver-side
    frame (per-bucket metadata, small by construction).

    A missing ``_lineage`` is a first run: an empty manifest, no Spark job.
    One that exists but cannot be read raises :class:`ManifestError` —
    treating it as empty would silently recompute every bucket."""
    mpath = os.path.join(path, "_lineage")
    fs, hpath = _hadoop_path(spark, mpath)
    if not fs.exists(hpath):
        return _manifest_frame(spark, [])
    try:
        rows = spark.read.schema(MANIFEST_SCHEMA).parquet(mpath).collect()
    except (PySparkException, Py4JJavaError) as e:  # a failed scan or analysis
        raise ManifestError(
            f"lineage manifest {mpath} is unreadable ({type(e).__name__}); "
            "delete it to recompute every bucket"
        ) from e
    return _manifest_frame(spark, rows)


def write_manifest(rows: Sequence[Sequence], path: str, spark: SparkSession) -> None:
    """Overwrite the manifest with driver-side ``rows`` (in MANIFEST_ARROW
    column order)."""
    _manifest_frame(spark, rows).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_lineage"))


def _manifest_frame(spark: SparkSession, rows: Sequence[Sequence]) -> DataFrame:
    """Driver-side manifest rows as a frame, shipped to the JVM as Arrow: a
    frame made from a Python list would start Python workers in every job
    that reads it."""
    cols = list(zip(*rows)) or [()] * len(MANIFEST_ARROW)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, MANIFEST_ARROW)], schema=MANIFEST_ARROW))


def plan_resume(
    input_fps: DataFrame,
    manifest: DataFrame,
    tier: str,
) -> tuple[list[int], list[int]]:
    """Compare bucket (fingerprint, row count) with the manifest.

    Both recorded witnesses must match for a skip — the row count catches
    any residual hash-collision class the modular sum might admit.
    Returns (todo_buckets, skipped_buckets) — driver-side lists; bucket
    counts are small (≤ thousands) by construction, so this collect is a
    metadata operation, not a data read."""
    old = manifest.filter(F.col("tier") == tier).select(
        F.col("p").alias("mp"),
        F.col("input_fingerprint").alias("mfp"),
        F.col("input_rows").alias("mrows"),
    )
    j = input_fps.join(old, input_fps["p"] == old["mp"], "left")
    rows = j.select("p", "fingerprint", "rows", "mfp", "mrows").collect()
    same = lambda r: r["mfp"] == r["fingerprint"] and r["mrows"] == r["rows"]  # noqa: E731
    todo = sorted(int(r["p"]) for r in rows if r["mfp"] is None or not same(r))
    skipped = sorted(int(r["p"]) for r in rows if r["mfp"] is not None and same(r))
    return todo, skipped


def vanished_buckets(input_fps: DataFrame, manifest: DataFrame, tier: str) -> list[int]:
    """Buckets recorded in the manifest whose input rows have vanished
    entirely (no fingerprint row this run). Their written tier partitions
    and manifest entries are stale and must be cleared — a bucket with
    zero input emits nothing, so without this anti-join it would silently
    keep serving old output."""
    old = manifest.filter(F.col("tier") == tier).select("p")
    gone = old.join(input_fps.select("p"), "p", "left_anti")
    return sorted(int(r["p"]) for r in gone.collect())


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop API —
    filesystem-agnostic (local/HDFS/object store), driver-side."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def delete_partition_dirs(spark: SparkSession, root: str, subdirs: Sequence[str]) -> None:
    """Remove partition directories (e.g. ``tier=1d/p=3``) — a driver-side
    metadata operation. Used to clear stale partitions of vanished
    buckets."""
    for sub in subdirs:
        fs, p = _hadoop_path(spark, os.path.join(root, sub))
        if fs.exists(p):
            fs.delete(p, True)


def write_partitioned(df: DataFrame, path: str, part_cols: Sequence[str] = ("p",)) -> None:
    """Partitioned parquet write that overwrites only the partitions present
    in ``df`` (exact-resume rewrite granularity). Dynamic overwrite is set on
    this writer alone, so other writes on the session keep their mode."""
    df.write.partitionBy(*part_cols).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic").parquet(path)
