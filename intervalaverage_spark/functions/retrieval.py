"""BM25 ranked retrieval: score documents against a small query set
over an inverted-index-shaped postings relation.

The retrieval pass of a web-text pipeline — "which documents match
these probe queries" — used for decontamination spot-checks, quality
probes ("does the corpus answer common questions"), and eval-set
mining. Okapi BM25 with the Lucene non-negative idf:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score   = sum over distinct query terms t of w(t, d)

Scale shape (the whole point): postings are ``explode(tokens)`` →
``groupBy(doc, term).count`` — map-side combine collapses token
traffic to (doc × distinct-term) rows before the shuffle, the same
reason word-count scales. Document length and corpus stats (N, avgdl)
are scalar aggregates. The query set is SMALL by construction (probe
queries, not the corpus), so query terms land as a BROADCAST hash
join onto the postings — the 100 TB side never shuffles for the
match, and only (query, matching-doc) pairs flow into the score
aggregation. Top-k ranks windows over per-query match lists, never
over the corpus.

Cross-engine exactness: the per-(query, doc) score is a SUM of
per-term contributions whose order is data-dependent — the one shape
IEEE floats cannot replay across engines. Each contribution is
therefore one fixed-order float expression ROUNDED to 6 dp and cast
to DECIMAL(18,6); the sum runs in decimal (exact, order-free — the
same trick as the interval-average Σw·v accumulator, queries.py), and
only the final total is cast back to double. ``avgdl`` is an exact
integer sum ÷ exact count: one IEEE division, identical both sides.

Reference parity context: no counterpart in the reference
(kaufman-lab/intervalaverage) — a web-text payload extension
(SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from intervalaverage_spark.validation import IntervalSchemaError, _aliased, _no_collision
from intervalaverage_spark.functions.textstats import tokens


def _postings(e: DataFrame) -> DataFrame:
    """:func:`bm25_postings` of the entered docs ``e`` (``id``, ``t``)."""
    posts = (
        e.select("id", F.explode(tokens(F.lower(F.col("t")))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return posts.withColumn("dl", F.sum("tf").over(Window.partitionBy("id")))


def bm25_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Postings relation: one row per (doc, distinct term) with the
    term frequency ``tf`` and the doc's token length ``dl``.

    ``dl`` is recovered from the exploded table itself
    (``sum(tf)`` per doc, window over the doc's vocabulary) rather
    than a sibling ``F.size`` projection — never co-project a scalar
    with its own explode (the sibling re-evaluates per output row).
    """
    _no_collision(["term", "tf", "dl"], [id_col])
    return _postings(_aliased(docs, {"id": id_col, "t": text_col})).select(
        F.col("id").alias(id_col), "term", "tf", "dl")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    Returns ``(query_id, doc_id, score, n_terms_hit, rnk)`` — ``rnk``
    is a deterministic row_number (score desc, then doc id asc), so
    ties never make the result run-dependent. Distinct query terms
    each contribute once (probe queries are term sets, not weighted
    bags). Documents matching zero terms do not appear.

    ``queries`` must be small (it is broadcast); ``k1``, ``b`` must be
    positive / in [0, 1], and ``k`` ≥ 1 — violations raise
    :class:`IntervalSchemaError` like every other geometry contract in
    the package.

    ``postings`` — a pre-built :func:`bm25_postings` relation (e.g.
    read back from parquet). df, dl, and avgdl all derive from the
    postings, so passing a PERSISTED index makes this a single
    index-scan job: the inverted index is first-class data exactly
    like the minhash band index (functions/dedup.py), built once per
    ingest and probed by every retrieval query after it. Without it
    the index subtree is recomputed per derivation (3 tokenise passes
    — fine for one-shot probes, wrong for a standing index at scale).
    """
    if k1 <= 0:
        raise IntervalSchemaError(f"bm25: k1 must be > 0, got {k1}")
    if not (0.0 <= b <= 1.0):
        raise IntervalSchemaError(f"bm25: b must be in [0, 1], got {b}")
    if k < 1:
        raise IntervalSchemaError(f"bm25: k must be >= 1, got {k}")

    _no_collision(["query_id", "score", "n_terms_hit", "rnk"], [id_col])
    posts = (
        _postings(_aliased(docs, {"id": id_col, "t": text_col}))
        if postings is None
        else _aliased(postings, {"id": id_col, "term": "term", "tf": "tf", "dl": "dl"})
    )

    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
    )
    # avgdl: exact integer token-count sum ÷ exact doc count — ONE IEEE
    # division, replayable cross-engine. Token counts come from the
    # postings (sum of tf == dl), not a second tokenise pass.
    lens = posts.groupBy("id").agg(F.max("dl").alias("dl"))
    avg = lens.agg(
        F.sum("dl").alias("sum_dl"), F.count(F.lit(1)).alias("n_len")
    )
    corpus = stats.crossJoin(F.broadcast(avg)).select(
        "n_docs",
        (F.col("sum_dl") / F.col("n_len")).alias("avgdl"),
    )

    df_stats = posts.groupBy("term").agg(
        F.countDistinct("id").alias("df")
    )

    qterms = _aliased(queries, {"query_id": qid_col, "qt": qtext_col}).select(
        "query_id", F.explode(tokens(F.lower(F.col("qt")))).alias("term")
    ).distinct()

    # broadcast the small side: query terms (+ their df) meet the
    # postings in a broadcast hash join — the corpus never shuffles
    # for the match.
    qterms_df = qterms.join(df_stats, "term", "left").na.fill({"df": 0})
    matched = posts.join(
        F.broadcast(qterms_df.crossJoin(corpus)), "term"
    )

    idf = F.round(
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
        6,
    )
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * (F.col("dl") / F.col("avgdl")))
    )
    # one fixed-order float expression per (query, doc, term), rounded
    # to 6 dp, then EXACT decimal summation — order-free cross-engine.
    contrib = F.round(idf * tf_part, 6).cast("decimal(18,6)")

    scored = (
        matched.select("query_id", "id", contrib.alias("w"))
        .groupBy("query_id", "id")
        .agg(
            F.sum("w").alias("score_dec"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_dec").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            F.col("score_dec").cast("double").alias("score"),
            "n_terms_hit",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
