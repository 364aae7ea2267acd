"""Corpus vocabulary statistics: per-term frequencies, document
frequency, idf, and top-k terms per group.

The vocabulary pass every web-text pipeline runs at least once:
collection frequency (how often a term occurs), document frequency
(how many docs carry it), smoothed idf — the inputs to stopword
discovery, tf-idf quality features, and tokenizer-vocab audits.

Scale shape: one ``explode`` of lowercased whitespace tokens, then
hash aggregation on (group, term). The hot keys are exactly the
stopwords — and partial aggregation (map-side combine) absorbs them:
each task emits ONE row per distinct (group, term) it saw, so the
shuffle carries vocabulary-sized traffic, not token-sized (the same
reason word-count scales). ``countDistinct(doc)`` plans as the
standard two-phase expand/agg — still keyed by (group, term), no
row explosion beyond the distinct pairs. The top-k rank windows over
per-group VOCABULARIES (bounded by Heaps' law, ~10^6 terms at web
scale), never over token instances.

Reference parity context: no counterpart in the reference
(kaufman-lab/intervalaverage) — a web-text payload extension
(SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.functions.textstats import tokens
from intervalaverage_spark.validation import _aliased, _no_collision

#: the per-term statistics, after the group column
_STATS = ["term", "cf", "df", "n_docs", "idf"]


def _term_stats(df: DataFrame, id_col: str, text_col: str, group_col: str | None,
                out: list[str]) -> DataFrame:
    """:func:`term_stats` with the group column named ``g``, after
    checking that the output names ``out`` differ from the id and group."""
    g = {"g": group_col} if group_col else {}
    _no_collision(out, [id_col, *g.values()])
    e = _aliased(df, {"id": id_col, "t": text_col, **g})
    words = e.select(*g, "id", F.explode(tokens(F.lower(F.col("t")))).alias("term"))
    per_term = words.groupBy(*g, "term").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("id").alias("df"),
    )
    if g:
        ndocs = e.groupBy("g").agg(F.countDistinct("id").alias("n_docs"))
        per_term = per_term.join(F.broadcast(ndocs), "g")
    else:
        ndocs = e.agg(F.countDistinct("id").alias("n_docs"))
        per_term = per_term.crossJoin(F.broadcast(ndocs))
    idf = F.round(
        F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1, 6
    ).alias("idf")
    return per_term.select(*g, "term", "cf", "df", "n_docs", idf)


def term_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Per-term statistics, optionally per group (e.g. language).

    Returns one row per (group,) term: ``(group?, term, cf, df,
    n_docs, idf)`` where ``cf`` is total occurrences, ``df`` the
    distinct docs containing the term, ``n_docs`` the group's doc
    count, and ``idf = round(ln((n_docs+1)/(df+1)) + 1, 6)`` (the
    sklearn-style smoothed idf — never negative, defined for unseen
    terms). Tokenisation is lowercased whitespace (textstats.tokens).
    """
    stats = _term_stats(df, id_col, text_col, group_col, _STATS)
    return stats.withColumnsRenamed({"g": group_col} if group_col else {})


def top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    k: int = 20,
) -> DataFrame:
    """Top-``k`` terms per group by collection frequency.

    Deterministic total order: cf desc, then term asc (row_number, so
    exactly ``k`` rows per group that has ≥ k distinct terms). The
    rank window partitions by group over the group's VOCABULARY —
    bounded rows per partition regardless of corpus size.
    """
    stats = _term_stats(df, id_col, text_col, group_col, [*_STATS, "rnk"])
    w = Window.partitionBy("g").orderBy(F.col("cf").desc(), F.col("term").asc())
    return (
        stats.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .withColumnRenamed("g", group_col)
    )
