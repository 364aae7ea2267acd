"""Text-analysis primitives for the web-scale pipeline: token counting,
quality scoring, n-gram language ID, document fingerprinting.

All JVM-side Catalyst expressions (no Python UDFs) so the hot path stays in
whole-stage codegen and pushes through a 100 TB documents scan with only the
``text`` column read (column pruning). Every function has an exact DuckDB SQL
twin in :mod:`intervalaverage_spark.queries` — the cross-engine portability
rule is: only ``md5`` (hex string), ``split``/``regexp_extract_all``, and
integer arithmetic, all of which the two engines evaluate identically.

The reference package has no string functions (SURVEY.md §2.3) — this module
is the axes-A+B extension mandated by the north_rule's web-text payload.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from intervalaverage_spark.validation import _plus

#: small fixed marker-stopword profiles for the n-gram language heuristic.
#: Deterministic tie-break: first language in this dict order wins.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "y", "las", "es"),
}

#: stopwords for the quality score (english-ish; fixed, tiny)
STOPWORDS: tuple[str, ...] = (
    "the", "a", "of", "and", "is", "to", "in", "it", "that", "for",
)

#: BPE-ish token pattern: runs of letters, runs of digits, or single
#: non-space punctuation — the standard pre-tokenizer shape.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bind_once(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` ONCE per row
    and hand it to ``body`` as a lambda variable.

    Why this exists (round-8 optimization, guide §1.2 step 2): a
    non-trivial array expression referenced INSIDE a higher-order
    function's lambda is re-evaluated on every lambda invocation by the
    interpreted HOF evaluator — e.g. the n-gram builders referenced the
    ``split``+``filter`` token expression inside the per-gram lambda, so
    every gram re-tokenized the whole document: O(len²) per doc, measured
    at ~90 % of the dedup detectors' runtime (22 s of a 48 s minhash run
    was the bare shingle explode). Wrapping the expression in a 1-element
    array and transforming it binds the computed value to a
    NamedLambdaVariable, which the lambda body references in O(1).

    Bit-exact: the same expression over the same input, computed once
    instead of k times."""
    return F.get(F.transform(F.array(value), body), 0)


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (empty-safe)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col)).cast("long")


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish sub-token count: letters-run | digits-run | punct char."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0))).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Stopword tokens / total tokens (0 when no tokens)."""
    toks = tokens(col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    n = F.size(toks)
    return F.when(n > 0, n_sw / n).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite quality heuristic in [0, 1]: rewards mid-length docs with
    low punctuation and a natural stopword ratio. Deterministic closed form:

        0.4·min(len/500, 1) + 0.3·(1 − min(punct_ratio·5, 1))
      + 0.3·min(stopword_ratio·5, 1)
    """
    c = F.col(col) if isinstance(col, str) else col
    ln = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    pu = F.lit(1.0) - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    sw = F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
    return ln * 0.4 + pu * 0.3 + sw * 0.3


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-token count per language profile."""
    toks = tokens(col)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t)))).cast("long")
    return out


def lang_id(col: Column | str) -> Column:
    """Argmax language over marker profiles; 'und' when all scores are 0.
    Ties break to the first language in LANG_MARKERS order."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    expr = F.lit("und")
    for lang in reversed(list(scores)):  # build when-chain so FIRST lang wins ties
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str, n: int = 3) -> Column:
    """Document fingerprint: lexicographic-min md5 over word ``n``-grams of
    the whitespace-normalized text (a 1-permutation MinHash — the rolling-
    hash-window fingerprint of the dedup literature, hash = md5). Docs
    sharing any long run of words collide with high probability. Falls back
    to md5 of the whole normalized text for docs shorter than ``n`` words."""
    def body(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))),
        )
        whole = F.md5(F.concat_ws(" ", toks))
        return F.when(k >= n, F.array_min(grams)).otherwise(whole)

    return bind_once(tokens(col), body)


def _trunc6(c: Column) -> Column:
    """Truncate to 6 dp — used instead of round() for cross-engine float
    columns: rounding MODES differ between engines on boundary values
    (HALF_UP vs HALF_EVEN), but floor of bit-identical doubles doesn't."""
    return F.floor(c * 1000000.0) / 1000000.0


def _frac(num: Column, den: Column) -> Column:
    """``num / den`` truncated to 6 dp, 0.0 where ``den`` is not positive."""
    return _trunc6(F.when(den > 0, num / den).otherwise(F.lit(0.0)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the full stat set as columns (one projection, zero shuffles)."""
    c = F.col("t")
    stats = {
        "n_tokens": token_count(c),
        "n_bpe_tokens": bpe_token_count(c),
        "punct_ratio": _trunc6(punct_ratio(c)),
        "stopword_ratio": _trunc6(stopword_ratio(c)),
        "quality": _trunc6(quality_score(c)),
        "lang_pred": lang_id(c),
        "fingerprint": fingerprint(c),
    }
    e, back = _plus(df, {"t": text_col}, list(stats))
    return e.select(*back, *(v.alias(n) for n, v in stats.items()))


def ngram_list(col: Column | str, n: int) -> Column:
    """NON-distinct word n-gram list (order preserved, duplicates kept —
    repetition analysis needs multiplicity; contrast dedup's
    ``shingles``, which deduplicates). Empty array for docs shorter
    than ``n`` words."""
    def body(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(k >= n, grams).otherwise(F.array().cast("array<string>"))

    return bind_once(tokens(col), body)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Within-document repetition signals (the Gopher/Dolma quality-filter
    family) per doc:

    * ``n_lines``, ``dup_line_frac`` (lines occurring more than once /
      total lines), ``dup_line_char_frac`` (characters inside those
      duplicate-line occurrences / characters in all lines);
    * per ``n`` in ``ns``: ``dup_{n}gram_frac`` (n-gram occurrences
      beyond the first of each distinct gram / total occurrences) and
      ``top_{n}gram_char_frac`` (chars covered by the single most
      frequent n-gram = count·len(gram) / doc chars; ties broken by
      longer gram then lexicographic — deterministic in any engine).

    Plan per signal family: one explode → groupBy(doc, unit) count →
    groupBy(doc) aggregate → left-join back on the doc id. Everything is
    keyed by the doc — no global state, no skew (a doc's units stay
    together), no Python. Fractions are floor-truncated to 6 dp
    (cross-engine rounding-mode safety, like :func:`text_stats`).
    Docs with no lines/grams get 0.0 fractions."""
    out = ["n_lines", "dup_line_frac", "dup_line_char_frac",
           *(c for n in ns for c in (f"dup_{n}gram_frac", f"top_{n}gram_char_frac"))]
    e, back = _plus(df, {"id": id_col, "t": text_col}, out)

    lc = (e.select("id", F.explode(F.split("t", "\n")).alias("ln"))
          .groupBy("id", "ln").agg(F.count(F.lit(1)).alias("c")))
    ln_chars = F.length("ln") * F.col("c")
    line_stats = lc.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dl"),
        F.sum(F.when(F.col("c") > 1, ln_chars).otherwise(0)).alias("dlc"),
        F.sum(ln_chars).alias("lc"),
    )
    res = e.join(line_stats.select(
        "id", "n_lines",
        _frac(F.col("dl"), F.col("n_lines")).alias("dup_line_frac"),
        _frac(F.col("dlc"), F.col("lc")).alias("dup_line_char_frac"),
    ), "id", "left")
    for n in ns:
        gc = (e.select("id", F.explode(ngram_list("t", n)).alias("g"))
              .groupBy("id", "g").agg(F.count(F.lit(1)).alias("c")))
        top = F.max(F.struct(F.col("c"), F.length("g").alias("l"), F.col("g")))
        gs = gc.groupBy("id").agg(
            F.sum("c").alias("tot"), F.count(F.lit(1)).alias("dst"), top.alias("top"))
        res = res.join(gs.select(
            "id",
            _frac(F.col("tot") - F.col("dst"), F.col("tot")).alias(f"dup_{n}gram_frac"),
            (F.col("top")["c"] * F.col("top")["l"]).alias(f"top{n}"),
        ), "id", "left")
    tops = {f"top_{n}gram_char_frac": _frac(F.coalesce(f"top{n}", F.lit(0)), F.length("t"))
            for n in ns}
    return res.select(*back, *(tops.get(c, F.coalesce(c, F.lit(0))).alias(c) for c in out))
