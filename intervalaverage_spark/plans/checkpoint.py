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

Layout: the manifest is one parquet file, ``<root>/_lineage/manifest.parquet``
(schema MANIFEST_ARROW), beside the ``tier=<t>/p=<b>`` state directories.
It holds one row per (tier, bucket) — at most a few thousand — so it never
goes through Spark: pyarrow encodes it on the driver and the Hadoop FS API
moves the bytes. A write goes to ``_lineage/manifest.parquet.tmp`` first
and is then renamed over the manifest, so a crash mid-write leaves the old
manifest whole. A crash between deleting the old file and the rename
leaves none, as does a root written when ``_lineage`` held Spark
``part-*`` files; a run that finds no manifest lists the state directories
(:func:`written_buckets`), recomputes the buckets that still have input
and clears the rest. The resume decision (:func:`plan_resume`,
:func:`vanished_buckets`) is a pure function of the collected fingerprint
rows and the manifest rows; the fingerprint aggregate is its one Spark job.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: one row per (tier, bucket): the tier name and five int64 columns
MANIFEST_ARROW = pa.schema(
    [("tier", pa.string())]
    + [(c, pa.int64()) for c in ("p", "input_fingerprint", "input_rows", "output_rows",
                                 "output_checksum")]
)
#: the manifest file under an output root
MANIFEST = "_lineage/manifest.parquet"


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


def read_manifest(spark: SparkSession, path: str) -> list[tuple]:
    """The lineage manifest under ``path`` as driver rows in MANIFEST_ARROW
    column order, read through the Hadoop FS API with no Spark job.

    A missing manifest is a first run: no rows. One that exists but cannot
    be read raises :class:`ManifestError` — treating it as empty would
    silently recompute every bucket."""
    fs, mpath = _hadoop_path(spark, os.path.join(path, MANIFEST))
    if not fs.exists(mpath):
        return []
    try:
        stream = fs.open(mpath)
        try:
            data = stream.readAllBytes()
        finally:
            stream.close()
        table = pq.read_table(pa.BufferReader(data)).select(MANIFEST_ARROW.names).cast(
            MANIFEST_ARROW)
    except (Py4JJavaError, pa.ArrowException, KeyError) as e:
        raise ManifestError(
            f"lineage manifest {mpath} is unreadable ({type(e).__name__}); "
            "delete it to recompute every bucket"
        ) from e
    return list(zip(*table.to_pydict().values()))


def write_manifest(rows: Sequence[Sequence], path: str, spark: SparkSession) -> None:
    """Replace the manifest with driver ``rows`` (in MANIFEST_ARROW column
    order), with no Spark job: pyarrow writes the parquet bytes to a temp
    file beside the manifest, which :func:`_rename_over` then moves over
    it. A failure before the rename leaves the old manifest in place."""
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(MANIFEST_ARROW.names, r)) for r in rows], schema=MANIFEST_ARROW), sink)
    fs, dst = _hadoop_path(spark, os.path.join(path, MANIFEST))
    tmp = dst.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()
    _rename_over(fs, tmp, dst)


def _rename_over(fs, src, dst) -> None:
    """Move the Hadoop path ``src`` over ``dst``. ``FileSystem.rename``
    refuses an existing target, so ``dst`` is deleted first; a crash between
    the two leaves no manifest, and the next run treats every written
    bucket as unrecorded (see :func:`written_buckets`).
    ``FileContext.rename`` with OVERWRITE takes the same two steps on a
    local filesystem, at 25 ms a call against 1 ms (4-vCPU Linux host, no
    native Hadoop library)."""
    fs.delete(dst, False)
    if not fs.rename(src, dst):
        raise OSError(f"cannot rename {src} to {dst}")


def plan_resume(
    fps: Sequence[Sequence],
    manifest: Sequence[Sequence],
    tier: str,
) -> tuple[list[int], list[int]]:
    """Compare each bucket's (fingerprint, row count) — the rows of
    :func:`fingerprint_partitions`, collected — with the ``tier`` rows of
    the manifest; a pure function of driver rows.

    Both recorded witnesses must match for a skip — the row count catches
    any residual hash-collision class the modular sum might admit.
    Returns (todo_buckets, skipped_buckets)."""
    old = {p: (fp, n) for t, p, fp, n, *_ in manifest if t == tier}
    same = {p for p, fp, n in fps if old.get(p) == (fp, n)}
    return sorted(p for p, *_ in fps if p not in same), sorted(same)


def vanished_buckets(fps: Sequence[Sequence], manifest: Sequence[Sequence], tier: str) -> list[int]:
    """Buckets recorded in the manifest whose input rows have vanished
    entirely (no fingerprint row this run). Their written tier partitions
    and manifest entries are stale and must be cleared — a bucket with
    zero input emits nothing, so without this check it would silently
    keep serving old output."""
    return sorted({p for t, p, *_ in manifest if t == tier} - {p for p, *_ in fps})


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the Hadoop API —
    filesystem-agnostic (local/HDFS/object store), driver-side."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def written_buckets(spark: SparkSession, root: str) -> list[int]:
    """The buckets with a ``tier=<t>/p=<b>`` directory under ``root``,
    listed through the Hadoop FS API. A root with state but no manifest —
    written before the manifest was one file, or left by a crash between
    the delete and the rename of :func:`_rename_over` — has no record of
    these buckets, so the caller must recompute or clear them."""
    fs, pattern = _hadoop_path(spark, os.path.join(root, "tier=*", "p=*"))
    found = fs.globStatus(pattern) or []
    return sorted({int(s.getPath().getName().split("=", 1)[1]) for s in found})


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
