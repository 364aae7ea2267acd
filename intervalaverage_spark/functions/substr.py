"""Exact substring duplication: per-doc coverage by word n-grams that
repeat across documents.

The ExactSubstr signal of Lee et al. 2022 ("Deduplicating Training Data
Makes Language Models Better"): a training document whose text is
largely covered by spans that appear verbatim in OTHER documents is
boilerplate/template mass — the per-doc duplicated-token fraction is
the filter signal. The paper builds a suffix array; the Spark-native
shape is n-gram spans + a distributed duplicate-gram join, with the
span UNION computed by this engine's own interval operator:

1. tokenize (lowercased whitespace — the same token domain as
   decontamination) and posexplode word ``n``-grams to
   ``(doc, pos, gram)`` rows;
2. grams seen in ≥ ``min_docs`` DISTINCT docs form the duplicate set
   (one groupBy on an md5 gram key — 16 hashed bytes shuffle instead of
   the n-word string; md5 rather than xxhash64 so the DuckDB oracle
   replays it bit-for-bit);
3. join spans back on the gram key: each surviving row is a CLOSED
   token-position interval ``[pos, pos+n−1]``;
4. the per-doc duplicated-token count is the UNION size of those
   overlapping intervals —
   :func:`~intervalaverage_spark.operators.coalesce.interval_coalesce`
   over (doc, pos-interval), exactly the operator the engine runs over
   time intervals, pointed at token positions (`covered` sums to the
   true union, overlaps never double-count).

Scale shape: the gram groupBy and the gram join are the irreducible
shuffles of the operator (both keyed on the 16-byte hash, partial-agg
combined map-side); the coalesce window and per-doc sum then cluster by
doc id. Hot grams don't fan out: the duplicate set is DISTINCT grams,
so the join-back never multiplies span rows.

Reference parity context: the reference (kaufman-lab/intervalaverage)
has no text surface — web-text payload extension (SURVEY.md §2.4, E46);
its interval-union semantics are the reference's isolateoverlaps
coverage arithmetic (ref R/intervalaverage.R interval bookkeeping)
re-aimed at token positions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.functions.textstats import bind_once, tokens
from intervalaverage_spark.operators.coalesce import interval_coalesce
from intervalaverage_spark.validation import _aliased, _no_collision


def _pos_grams(docs: DataFrame, n: int) -> DataFrame:
    """``(id, pos, gkey)`` of the entered ``docs`` (``id``, ``t``) — one
    row per word n-gram occurrence; ``pos`` is the 1-based token index of
    the gram's first word, ``gkey`` the md5 of the space-joined gram."""
    def body(tk):
        return F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.array_join(F.slice(tk, i, n), " ")).alias("gkey"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,gkey:string>>"))

    # let-bound so tokenization runs once per doc, not once per gram
    grams = bind_once(tokens(F.lower("t")), body)
    return (
        docs.select("id", F.explode(grams).alias("g"))
        .select("id", F.col("g.pos").alias("pos"), F.col("g.gkey").alias("gkey"))
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-doc exact-substring duplication stats.

    Returns one row per input doc: ``(id, n_tokens, dup_tokens,
    dup_fraction)`` where ``dup_tokens`` is the number of token
    positions covered by at least one word ``n``-gram that occurs in
    ≥ ``min_docs`` distinct docs (union of overlapping spans — never
    double-counted), and ``dup_fraction`` = dup_tokens / n_tokens
    (rounded 6 dp; 0.0 for docs shorter than ``n`` tokens).
    """
    _no_collision(["n_tokens", "dup_tokens", "dup_fraction"], [id_col])
    docs = _aliased(df, {"id": id_col, "t": text_col})
    pg = _pos_grams(docs, n)
    dup = (
        pg.groupBy("gkey")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gkey")
    )
    spans = pg.join(dup, "gkey").select(
        "id",
        F.col("pos").cast("long").alias("s"),
        (F.col("pos") + (n - 1)).cast("long").alias("e"),
    )
    covered = (
        interval_coalesce(spans, ["s", "e"], ["id"])
        .groupBy("id")
        .agg(F.sum("covered").alias("dup"))
    )
    dup_tokens = F.coalesce(F.col("dup"), F.lit(0))
    return (
        docs.select("id", F.size(tokens(F.lower("t"))).cast("long").alias("n"))
        .join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n").alias("n_tokens"),
            dup_tokens.cast("long").alias("dup_tokens"),
            F.when(F.col("n") > 0, F.round(dup_tokens / F.col("n"), 6))
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
    )
