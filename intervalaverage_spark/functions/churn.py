"""Cross-snapshot churn: change detection over repeated crawls of the
same key.

A Common-Crawl-style corpus re-fetches the same url across snapshots;
most fetches return an UNCHANGED page. Two operators cover the two
things a 100 TB pipeline does with that fact:

* :func:`snapshot_changes` — row-level: per (key, ts) snapshot, a
  fingerprint of the payload, whether it differs from the key's
  previous snapshot (``is_changed``; the first snapshot of a key is a
  change by definition — it must be stored), and the revisit gap in
  seconds. ``filter(is_changed)`` is the **delta-storage** op: keep one
  copy per run of identical consecutive snapshots, i.e. run-length
  compression of a keyed series — the ingest-side twin of the Gorilla
  segment codec (that one compresses values inside a tier; this one
  drops whole redundant rows before they ever reach a tier).
* :func:`churn_stats` — per-key aggregate over those rows: snapshot
  count, change count, change rate, mean revisit gap. The crawl-
  scheduling signal (fast-churning urls deserve short revisit
  intervals) and the input to per-domain cadence policy.

Scale shape: ONE shuffle, on the key — the lag window and the per-key
aggregate share the ``hashpartitioning(key)`` exchange, so Catalyst
plans the whole pipeline with a single Exchange (asserted in
BENCH/PLANS.md). Snapshots-per-key is bounded by crawl cadence (a url
is fetched at most a few hundred times), so per-key window state is
tiny and skew is structural-free; the payload column is pruned to a
16-byte fingerprint before the shuffle (``md5`` — chosen over xxhash64
because every engine reproduces it, which keeps the operator inside
the driver's cross-engine value-hash gate).

Reference parity context: the reference (kaufman-lab/intervalaverage)
computes over pre-built interval tables and has no snapshot-ingest
surface — this is a web-text payload extension (SURVEY.md §2.4, E44).
Its interval semantics (gap = ts − lag(ts) per key) mirror the
reference's per-group consecutive-row scans (ref src/is_overlapping.cpp
walks sorted per-group rows the same way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.validation import _aliased, _no_collision


def _epoch_secs(col: str) -> Column:
    """Epoch seconds (floor) for TIMESTAMP *and* TIMESTAMP_NTZ order
    columns: Spark 4 forbids a direct NTZ→numeric cast (the same
    DATATYPE_MISMATCH family as date→long, round-6 ADVICE on fill.py),
    so NTZ routes through a session-tz timestamp first. Sessions run
    UTC (intervalaverage_spark.session), so NTZ epoch arithmetic
    matches DuckDB's naive ``epoch_us // 1e6`` exactly; gaps are
    tz-invariant either way (both endpoints shift together)."""
    return F.col(col).cast("timestamp").cast("long")


def _fingerprint(col: str) -> Column:
    """16-byte hex payload fingerprint. md5 (not xxhash64): cross-engine
    reproducible, so oracle value-hash compares cover the operator; the
    collision risk at 10^12 rows (~2^-49 per pair under birthday bound
    within one key's few-hundred snapshots) is below hardware error."""
    return F.md5(F.col(col).cast("string"))


def _snapshots(df: DataFrame, key_col: str, ts_col: str, payload_col: str) -> DataFrame:
    """The churn functions' one entry, batch and streaming: ``df``'s key,
    ts and payload as ``(key, ts, fingerprint)`` in one quoted projection,
    so any column name works and only the fingerprint leaves the scan."""
    return _aliased(df, {"key": key_col, "ts": ts_col, "p": payload_col}).select(
        "key", "ts", _fingerprint("p").alias("fingerprint"))


def _changes(df: DataFrame, key_col: str, ts_col: str, payload_col: str) -> DataFrame:
    """:func:`snapshot_changes` over internal names: ``(key, ts,
    fingerprint, is_changed, revisit_secs)``."""
    w = Window.partitionBy("key").orderBy("ts", "fingerprint")
    return (
        _snapshots(df, key_col, ts_col, payload_col)
        .withColumn("prev_fp", F.lag("fingerprint").over(w))
        .withColumn("prev_ts", F.lag("ts").over(w))
        .select(
            "key", "ts", "fingerprint",
            (F.col("prev_fp").isNull() | (F.col("prev_fp") != F.col("fingerprint")))
            .alias("is_changed"),
            (_epoch_secs("ts") - _epoch_secs("prev_ts")).alias("revisit_secs"),
        )
    )


def snapshot_changes(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    payload_col: str,
) -> DataFrame:
    """Row-level change detection across consecutive snapshots of a key.

    Returns one row per input row with columns ``(key, ts, fingerprint,
    is_changed, revisit_secs)``:

    * ``fingerprint`` — ``md5(payload)`` (payload column pruned away
      immediately; only 16 bytes cross the shuffle),
    * ``is_changed`` — fingerprint differs from the key's previous
      snapshot (ts asc); a key's FIRST snapshot is true (nothing
      stored yet),
    * ``revisit_secs`` — seconds since the key's previous snapshot
      (NULL on the first).

    ``filter(F.col("is_changed"))`` keeps exactly one row per run of
    identical consecutive snapshots — delta storage. Ties on ts within
    a key are ordered by fingerprint for determinism.
    """
    _no_collision(["fingerprint", "is_changed", "revisit_secs"], [key_col, ts_col])
    return _changes(df, key_col, ts_col, payload_col).select(
        F.col("key").alias(key_col), F.col("ts").alias(ts_col),
        "fingerprint", "is_changed", "revisit_secs")


def snapshot_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    payload_col: str,
) -> DataFrame:
    """Collapse consecutive identical snapshots into VALIDITY INTERVALS
    (SCD-2): one row per run of equal fingerprints per key, with

    * ``valid_from`` — first snapshot ts of the run,
    * ``valid_to`` — first snapshot ts of the NEXT run (exclusive), NULL
      for the key's current version,
    * ``last_seen`` — last snapshot ts inside the run (how long the
      version was re-confirmed unchanged),
    * ``n_snapshots`` — crawls that returned this version.

    This is the bridge from crawl ingest to the interval engine: the
    output IS the (key, start, end, value-fingerprint) interval table
    that :func:`~intervalaverage_spark.operators.average.interval_average`
    and :func:`~intervalaverage_spark.operators.intersect
    .interval_intersect` consume (the reference computes over exactly
    such pre-built interval tables — this operator manufactures them
    from raw snapshots).

    Plan shape: change flags, run numbering (running sum of
    ``is_changed``), the per-run aggregate, and the ``lead`` stitching
    all partition by the key — EnsureRequirements plans ONE
    hashpartitioning exchange for the whole chain.
    """
    _no_collision(["fingerprint", "valid_from", "valid_to", "last_seen", "n_snapshots"], [key_col])
    w_run = (Window.partitionBy("key").orderBy("ts", "fingerprint")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    runs = _changes(df, key_col, ts_col, payload_col).withColumn(
        "run", F.sum(F.col("is_changed").cast("long")).over(w_run)
    )
    iv = runs.groupBy("key", "run").agg(
        # constant within a run — min() rather than first() so the agg
        # stays order-insensitive (first() is formally non-deterministic)
        F.min("fingerprint").alias("fingerprint"),
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_snapshots"),
    )
    w_next = Window.partitionBy("key").orderBy("run")
    return iv.select(
        F.col("key").alias(key_col),
        "fingerprint",
        "valid_from",
        F.lead("valid_from").over(w_next).alias("valid_to"),
        "last_seen",
        "n_snapshots",
    )


def churn_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    payload_col: str,
    min_snapshots: int = 2,
) -> DataFrame:
    """Per-key churn aggregate over :func:`snapshot_changes` rows.

    Returns ``(key, n_snapshots, n_changes, change_rate,
    avg_revisit_secs)`` for keys with at least ``min_snapshots``
    snapshots (keys seen once carry no churn signal):

    * ``n_changes`` counts changed snapshots EXCLUDING the first (the
      first is a storage necessity, not churn),
    * ``change_rate`` = n_changes / (n_snapshots − 1), rounded 6 dp,
    * ``avg_revisit_secs`` = mean gap between consecutive snapshots,
      rounded 6 dp.

    Shares the key-hash exchange with the window above — one shuffle
    end to end.
    """
    _no_collision(["n_snapshots", "n_changes", "change_rate", "avg_revisit_secs"], [key_col])
    return (
        _changes(df, key_col, ts_col, payload_col)
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_snapshots"),
            F.sum(
                F.when(
                    F.col("is_changed") & F.col("revisit_secs").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_changes"),
            F.round(F.avg("revisit_secs"), 6).alias("avg_revisit_secs"),
        )
        .filter(F.col("n_snapshots") >= min_snapshots)
        .select(
            F.col("key").alias(key_col),
            "n_snapshots",
            "n_changes",
            F.round(
                F.col("n_changes") / (F.col("n_snapshots") - F.lit(1)), 6
            ).alias("change_rate"),
            "avg_revisit_secs",
        )
    )


def recrawl_priority(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    payload_col: str,
    half_life_secs: int = 7 * 86400,
    min_snapshots: int = 2,
) -> DataFrame:
    """Time-decayed churn: the recrawl-scheduling score.

    :func:`churn_stats` weighs a change from a year ago the same as one
    from an hour ago; a crawl scheduler wants recency. Each revisit
    snapshot (a key's 2nd..nth) gets weight ``w = 2^(-age/half_life)``
    where ``age = as_of − ts`` and ``as_of`` is the dataset's newest
    snapshot timestamp (the "now" the decay anchors to — derived from
    the data so the operator stays deterministic and replayable).

    Returns, per key with ≥ ``min_snapshots`` snapshots::

        (key, n_snapshots,
         decayed_changes,      -- Σ w over CHANGED revisits
         decayed_visit_mass,   -- Σ w over all revisits
         decayed_change_rate,  -- ratio of the two: recent-change propensity
         secs_since_last)      -- staleness: as_of − last snapshot ts

    All doubles rounded 6 dp (cross-engine ``exp``/``ln`` agree well
    past 6 significant decimals; the fixed round keeps the driver's
    value-hash gate meaningful). Keys whose revisits all predate many
    half-lives decay toward 0 — rank by ``decayed_change_rate`` desc,
    tie-break staleness, and you have the crawl queue.

    Scale shape: the :func:`snapshot_changes` window and the per-key
    aggregate share one ``hashpartitioning(key)`` exchange (same plan
    as :func:`churn_stats`, BENCH/PLANS.md §29); the ``as_of`` anchor
    is a 1-row global max broadcast-cross-joined in — no second scan
    shuffles, no collect in the lineage.
    """
    _no_collision(["n_snapshots", "decayed_changes", "decayed_visit_mass",
                   "decayed_change_rate", "secs_since_last"], [key_col])
    lam = float(half_life_secs)
    ch = _changes(df, key_col, ts_col, payload_col)
    anchor = ch.agg(F.max(_epoch_secs("ts")).alias("as_of"))
    rev = ch.crossJoin(F.broadcast(anchor))
    age = F.col("as_of") - _epoch_secs("ts")
    w = F.pow(F.lit(2.0), -age.cast("double") / F.lit(lam))
    is_rev = F.col("revisit_secs").isNotNull()
    return (
        rev.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_snapshots"),
            F.sum(
                F.when(is_rev & F.col("is_changed"), w).otherwise(F.lit(0.0))
            ).alias("dc"),
            F.sum(F.when(is_rev, w).otherwise(F.lit(0.0))).alias("dv"),
            (F.first("as_of") - F.max(_epoch_secs("ts"))).alias(
                "secs_since_last"
            ),
        )
        .filter(F.col("n_snapshots") >= min_snapshots)
        .select(
            F.col("key").alias(key_col),
            "n_snapshots",
            F.round("dc", 6).alias("decayed_changes"),
            F.round("dv", 6).alias("decayed_visit_mass"),
            F.round(F.col("dc") / F.col("dv"), 6).alias(
                "decayed_change_rate"
            ),
            "secs_since_last",
        )
    )
