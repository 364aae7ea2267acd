"""Benchmark decontamination: flag training docs sharing word n-grams
with an evaluation/benchmark set.

The standard LLM-corpus hygiene step (GPT-3 appendix C / Llama-style
13-gram decontamination): any training document that shares at least one
word ``n``-gram with a benchmark document is contaminated — it can leak
eval answers into training. At 100 TB the only viable shape is the one
built here:

1. the CONTAMINANT side (benchmark prompts — thousands to low millions
   of rows, tiny next to the corpus) is reduced to its distinct n-gram
   set once;
2. the corpus side explodes each doc's distinct n-grams (explode ALONE —
   no expensive sibling projections, the round-5 Generate trap) and
   meets the contaminant grams in an equi-join on the gram string. The
   gram set is **broadcast** (``F.broadcast``): the 100 TB side never
   shuffles — the join is map-side, embarrassingly parallel, and the
   scan stays column-pruned to (id, text);
3. one ``groupBy(doc_id)`` counts distinct hits per doc — keyed by doc,
   perfectly spread — and a left join back onto the corpus restores
   untouched docs with zero counts.

Determinism: tokenization is lowercased whitespace splitting and grams
are plain space-joined strings — byte-replayable in any engine (the
DuckDB oracle rebuilds the same grams with ``regexp_split_to_array`` +
``list_slice``), no hashing involved, so the driver's value-hash compare
covers the whole operator.

Reference parity context: the reference (kaufman-lab/intervalaverage)
has no text surface — this is a web-text payload extension (SURVEY.md
§2.4, E42); its contract is pinned by known-answer tests
(tests/test_decontam.py) and the cross-engine driver oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.functions.textstats import bind_once, tokens
from intervalaverage_spark.validation import _aliased, _plus


def distinct_ngrams(col: Column | str, n: int) -> Column:
    """DISTINCT word ``n``-grams of the lowercased text (space-joined
    strings; empty array for docs shorter than ``n`` words). Lowercasing
    is standard: eval prompts are quoted with arbitrary casing in crawls."""
    def body(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(k >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    # let-bound so tokenization runs once per doc, not once per gram
    return bind_once(tokens(F.lower(col)), body)


def contaminant_grams(
    contaminants: DataFrame, text_col: str = "text", n: int = 13
) -> DataFrame:
    """The distinct n-gram set of the benchmark corpus — one column
    ``gram``. Persist this once per benchmark release; every corpus
    snapshot probes the same table."""
    return (
        _aliased(contaminants, {"t": text_col})
        .select(F.explode(distinct_ngrams("t", n)).alias("gram"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    contaminants: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    contam_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per-doc contamination stats for every row of ``docs``: appends

    * ``n_contam_grams`` — how many of the doc's DISTINCT n-grams appear
      in the benchmark set (0 for clean docs);
    * ``is_contaminated`` — ``n_contam_grams > 0``.

    Filtering is the caller's policy (drop, or threshold on the count —
    some pipelines tolerate 1-2 incidental overlaps); the stats row is
    the reusable primitive. The contaminant gram set rides a broadcast
    join, so the corpus side never shuffles (module docstring)."""
    e, back = _plus(docs, {"id": id_col, "t": text_col}, ["n_contam_grams", "is_contaminated"])
    grams = F.broadcast(contaminant_grams(contaminants, contam_text_col, n))
    # explode ALONE (no sibling scalar of the same expensive expression)
    hits = (
        e.select("id", F.explode(distinct_ngrams("t", n)).alias("gram"))
        .join(grams, "gram")
        .groupBy("id")
        .agg(F.count("*").alias("hits"))  # grams are distinct per doc
    )
    n_hits = F.coalesce(F.col("hits"), F.lit(0))
    return e.join(hits, "id", "left").select(
        *back,
        n_hits.cast("long").alias("n_contam_grams"),
        (n_hits > 0).alias("is_contaminated"),
    )
