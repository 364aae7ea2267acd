"""Near-duplicate detection over a documents table, Spark-first.

Four detectors, each a distinct scale/recall trade-off:

* :func:`exact_dedup`          — hash-groupBy on md5(text); one shuffle.
* :func:`ngram_jaccard_pairs`  — EXACT word-n-gram Jaccard ≥ t. Candidate
  generation by inverted index (pairs sharing ≥1 shingle) gives 100 % recall
  for any t > 0, so results are deterministic and SQL-oracle-checkable.
* :func:`minhash_lsh_pairs`    — MinHash signatures + banded LSH: the
  sub-quadratic scale path. Hash = md5 hex strings (lexicographic min), so
  signatures are engine-portable and the DuckDB oracle reproduces them
  bit-for-bit. Candidates are exact-verified, so no false positives — only
  the LSH recall (bands × rows) is approximate, and it too is deterministic.
* :func:`simhash_pairs`        — 64-bit SimHash + pigeonhole chunk join:
  hamming distance ≤ d with 100 % recall when chunks > d (4 × 16-bit chunks
  cover d ≤ 3).

Scale notes (100 TB / 10^9 docs):
  - every detector is explode → shuffle-on-short-key → agg/join; no driver
    collect, no Python UDF, no cartesian product;
  - the inverted-index join in :func:`ngram_jaccard_pairs` is quadratic in
    per-shingle doc frequency — hot shingles are dropped by a document-
    frequency cap (``max_df``), the standard "stop-shingle" trick, BEFORE the
    self-join, bounding pair fan-out;
  - minhash bands join on a 32-hex-char bucket key: uniformly distributed,
    no skew salting needed; AQE splits residual skew.

The reference has no dedup operators (SURVEY.md §2.3) — this is the web-text
payload extension (north_rule axes A+B).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from intervalaverage_spark.functions.ann import _norm
from intervalaverage_spark.functions.textstats import bind_once, tokens
from intervalaverage_spark.validation import _aliased, _no_collision


def _ckpt(df: DataFrame) -> DataFrame:
    """Materialize a shared intermediate once (``localCheckpoint``): the
    detectors reference their exploded-shingle, band-index and candidate
    tables from several plan branches, and without materialization every
    branch re-runs the full upstream pipeline (the minhash plan once
    scanned the source 24×).

    The one materialization path. Results never depend on it: patching
    ``dedup._ckpt`` to the identity gives the same rows from the full lazy
    plan, which is how BENCH/dump_plans.py audits the uncheckpointed plan
    shape. A scoped, lazy ``persist()`` in its place measured slower
    (BENCH/NOTES.md)."""
    return df.localCheckpoint()


def _docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The detectors' one entry: ``df``'s id and text columns as ``id``
    and ``text`` in one quoted projection, so any column name works."""
    return _aliased(df, {"id": id_col, "text": text_col})


# --------------------------------------------------------------- shingles

def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram array (shingle set) of whitespace tokens.

    The token array is let-bound (:func:`bind_once`) so tokenization runs
    once per document, not once per gram — the interpreted HOF evaluator
    otherwise re-evaluates the split+filter expression inside the per-gram
    lambda, O(len²) per doc (round-8: this was ~90 % of every shingle
    detector's runtime)."""
    def body(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        # short docs (< n tokens): single shingle = whole text, so they can
        # still match exact duplicates of themselves
        whole = F.array(F.concat_ws(" ", toks))
        return F.array_distinct(F.when(k >= n, grams).otherwise(whole))

    return bind_once(tokens(col), body)


def _shingle_rows(d: DataFrame, n: int) -> DataFrame:
    """The exploded ``(id, sh)`` table of entered docs: one row per distinct
    shingle of each doc. Only these two columns: a sibling ``size(shingles())``
    in the generate projection would re-evaluate per output row (~90× slower)."""
    return d.select("id", F.explode(shingles("text", n)).alias("sh"))


def _stop_list(sh: DataFrame, max_df: int) -> DataFrame:
    """Shingles of an ``(id, sh)`` table whose document frequency exceeds
    ``max_df`` (one column ``sh``)."""
    return sh.groupBy("sh").count().filter(F.col("count") > max_df).select("sh")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) → (hash, n_docs, canonical_id)."""
    return _docs(df, id_col, text_col).groupBy(F.md5("text").alias("text_md5")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("id").alias("canonical_id"),
    )


# ------------------------------------------------- exact n-gram Jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Doc pairs scored by TRUE word-``n``-gram Jaccard, ≥ ``threshold``.

    ``max_df`` affects CANDIDATE GENERATION only: stop-shingles with
    document frequency > max_df are dropped from the inverted index
    BEFORE the self-join (bounding pair fan-out), but the reported
    ``jaccard`` is always the exact Jaccard over the FULL shingle sets —
    the threshold means the same thing with or without the cap, and the
    minhash-LSH path's exact-verified output (same true-Jaccard scoring,
    same signature-side cap) is a subset of this one at equal threshold.
    With ``max_df=None`` recall is 100 % for any threshold > 0.

    Plan: explode distinct shingles → DF cap → self-equi-join on shingle
    → per-pair count of shared KEPT shingles (map-side combinable) → add
    ``|hot∩hot|`` from per-doc hot-shingle arrays (tiny: fewer hot TYPES
    than total_shingle_rows / max_df exist by definition) → join per-doc
    set sizes → ``J = common / (|A| + |B| − common)``. The wide
    full-shingle arrays never shuffle; output (id1, id2, jaccard) with
    id1 < id2.

    ``|A|`` is recovered as rows-per-id from the exploded
    :func:`_shingle_rows` table (shingle sets are distinct by
    construction).

    The exploded table is localCheckpoint-materialized once: the plan
    references it five times (sizes, hot list, both self-join sides, hot
    arrays) and without the checkpoint each reference re-runs the full
    tokenize+shingle scan — the round-start physical plan scanned the
    source 20× (guide §3.3: materialise shared intermediates).
    """
    sh = _shingle_rows(_docs(df, id_col, text_col), n).transform(_ckpt)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    kept = sh
    if max_df is not None:
        hot = _stop_list(sh, max_df).transform(_ckpt)
        kept = sh.join(F.broadcast(hot), "sh", "left_anti")
    a, b = kept.alias("a"), kept.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
        .join(sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1")), "id1")
        .join(sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2")), "id2")
    )
    if max_df is not None:
        doc_hot = (
            sh.join(F.broadcast(hot), "sh", "left_semi")
            .groupBy("id").agg(F.collect_set("sh").alias("hot_shs"))
        )
        hot_common = F.when(
            F.col("hot1").isNull() | F.col("hot2").isNull(), F.lit(0)
        ).otherwise(F.size(F.array_intersect("hot1", "hot2")))
        common = (
            common
            .join(doc_hot.select(F.col("id").alias("id1"),
                                 F.col("hot_shs").alias("hot1")), "id1", "left")
            .join(doc_hot.select(F.col("id").alias("id2"),
                                 F.col("hot_shs").alias("hot2")), "id2", "left")
            .withColumn("common", F.col("common") + hot_common)
        )
    j = F.col("common") / (F.col("sz1") + F.col("sz2") - F.col("common"))
    return (
        common.select("id1", "id2", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------- prefix-filtered exact Jaccard

def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Doc pairs with TRUE word-``n``-gram Jaccard ≥ ``threshold`` —
    **lossless** candidate pruning via the PPJoin/SSJoin prefix filter
    (Xiao et al., WWW'08; Chaudhuri et al., ICDE'06), replacing
    :func:`ngram_jaccard_pairs`'s ``max_df`` stop-shingle cap (a
    recall heuristic) with a filter that provably drops NO qualifying
    pair:

    * **global order**: shingles totally ordered by (document
      frequency ASC, shingle ASC) — rarest first, so prefixes index
      the most selective tokens;
    * **prefix filter**: ``J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉``, hence the
      ``(|A| − ⌈t·|A|⌉ + 1)``-prefix of A (in the global order) must
      intersect B's prefix — only PREFIX rows enter the self-join, so
      boilerplate shingles (high df = late in the order) mostly never
      join at all, which is exactly what the cap tried to approximate;
    * **length filter**: ``t·|A| ≤ |B| ≤ |A|/t`` as a join predicate
      (decimal arithmetic — no float-boundary leaks);
    * **exact verify**: candidates re-score through
      :func:`_verify_jaccard`, the same full-set ``array_intersect``
      verify the LSH paths use, so precision is 1.0 and the reported
      jaccard is the true one.

    Both ⌈t·|A|⌉ and the length bounds are computed in DECIMAL so the
    candidate SET is deterministic cross-run (``0.3·10`` never becomes
    ``2.999…``). Equality ``prefix == uncapped ngram_jaccard_pairs``
    is pytest-pinned; the driver oracle is the brute-force all-pairs
    SQL — the losslessness claim is re-checked per round.

    Scale shape: one explode, one shingle-df fold, ONE window sort per
    doc (rank + size share the partition), a self-equi-join over
    PREFIX rows only (≈ (1−t)·set size per doc — at t=0.8 that is 5×
    fewer index rows and ~25× fewer join pairs than the full inverted
    index, before the df-ascending order's selectivity kicks in), and
    an array verify that ships each doc's set once per surviving
    candidate. No caps, no tuning knob that trades recall.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            f"prefix_jaccard_pairs: threshold must be in (0, 1], "
            f"got {threshold}")
    # FLOOR to 6 dp (not round-half-even): the pruning bounds must never
    # be TIGHTER than the verify filter's raw-float threshold, or a
    # >6-digit threshold that rounds up could drop a qualifying pair and
    # break the losslessness guarantee (round-7 ADVICE). Flooring only
    # loosens pruning — the exact verify keeps precision at 1.0.
    t_floor = math.floor(float(threshold) * 1_000_000) / 1_000_000
    td = F.lit(t_floor).cast("decimal(9,6)")
    d = _docs(df, id_col, text_col)
    # one materialized shingle table: the plan otherwise re-runs the
    # tokenize+shingle explode for the df fold and the rank window
    sh = _shingle_rows(d, n).transform(_ckpt)
    # document frequency attached via a count-over-window on the shingle
    # partitioning instead of a groupBy + join back: one exchange of the
    # shingle table replaces the aggregate exchange PLUS the sort-merge
    # join of the 12M-row table against the 9.8M-row df table (measured
    # 5.9 s join → window shares the exchange; same values — a full-frame
    # count over the sh partition IS the document frequency)
    wdf = (
        Window.partitionBy("sh")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wid = Window.partitionBy("id").orderBy("__df", "sh")
    ranked = sh.select(
        "id", "sh", F.count(F.lit(1)).over(wdf).alias("__df")
    ).select(
        "id", "sh", "__df",
        F.row_number().over(wid).alias("__rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("id")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("sz"),
    ).drop("__df")
    # materialized once: both self-join sides read it, and without the
    # checkpoint each side re-pays the df-join + two windows
    prefix = ranked.where(
        F.col("__rk") <= F.col("sz") - F.ceil(td * F.col("sz")) + 1
    ).select("id", "sh", "sz", "__rk").transform(_ckpt)

    # positional filter (PPJoin's second pruning): for a QUALIFYING pair
    # the FIRST common token in the global order sits at ranks (i, j)
    # with every other common token later in both sets, so the true
    # overlap o ≤ 1 + min(|A|−i, |B|−j); o must also reach the Jaccard
    # equivalent-overlap bound α = ⌈t/(1+t)·(|A|+|B|)⌉. Filtering
    # row-wise is lossless: a qualifying pair's first-common row always
    # passes. α is computed in EXACT integer arithmetic — t as micro-
    # units P/10^6, α = ⌈P·S / (10^6+P)⌉ via (num + den − 1) div den —
    # so no decimal-division rounding mode can ever over-tighten it.
    p_micro = int(math.floor(float(threshold) * 1_000_000))  # floor: see td
    num = F.lit(p_micro) * (F.col("a.sz") + F.col("b.sz"))
    den = F.lit(1_000_000 + p_micro)
    alpha = ((num + den - 1) - (num + den - 1) % den) / den
    ubound = 1 + F.least(
        F.col("a.sz") - F.col("a.__rk"), F.col("b.sz") - F.col("b.__rk")
    )

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (td * F.col("a.sz") <= F.col("b.sz"))
            & (td * F.col("b.sz") <= F.col("a.sz"))
            & (ubound.cast("double") >= alpha),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
        .transform(_ckpt)
    )
    return _verify_jaccard(d, cand, n, threshold)


# ------------------------------------------------------- MinHash + LSH

def hot_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int = 1000,
) -> DataFrame:
    """Stop-shingle list: shingles whose document frequency exceeds
    ``max_df`` (one column ``sh``). Computed once over a corpus and
    PERSISTED alongside the band index (:func:`minhash_band_index`) so
    incremental ingest signs new batches against the SAME frozen stop
    list the existing signatures used — the precondition for
    ``incremental == full-recompute`` equality. Refresh it (and re-sign)
    on the cadence the corpus' boilerplate drifts."""
    return _stop_list(_shingle_rows(_docs(df, id_col, text_col), n), max_df)


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    max_df: int | None = None,
    stop_shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: for permutation j, ``min(md5(j || ':' ||
    shingle))`` as a hex STRING (lexicographic min ≡ min over uniform
    128-bit ints; portable to any engine with md5). One explode + one
    groupBy with ``num_hashes`` min-aggregates — fused, single shuffle.

    ``max_df`` drops stop-shingles (document frequency > max_df) BEFORE
    the signature — the boilerplate-footer mitigation: shared boilerplate
    shingles otherwise dominate minima across unrelated docs and inflate
    LSH candidate pairs quadratically (measured: BENCH/NOTES.md
    "Dedup at 100k docs"). A doc whose EVERY shingle is hot drops out of
    the signature table (and so can never be a candidate) — cap well
    above the boilerplate DF, not near the median.

    ``stop_shingles`` supplies the stop list EXPLICITLY (a persisted
    :func:`hot_shingles` table) instead of recomputing it from ``df`` —
    the incremental-ingest path, where the new batch must be signed
    against the index's frozen stop list, not its own tiny histogram."""
    return _signature(_docs(df, id_col, text_col), n, num_hashes, max_df, stop_shingles)


def _signature(d: DataFrame, n: int, num_hashes: int, max_df: int | None,
               stop_shingles: DataFrame | None) -> DataFrame:
    """:func:`minhash_signature` of entered docs ``d``."""
    if max_df is not None and stop_shingles is not None:
        raise ValueError("pass max_df OR stop_shingles, not both")
    sh = _shingle_rows(d, n)
    if max_df is not None:
        # the stop list derives from sh AND sh feeds the anti-join below:
        # materialize once instead of exploding the corpus twice
        sh = sh.transform(_ckpt)
        stop_shingles = _stop_list(sh, max_df)
    if stop_shingles is not None:
        sh = sh.join(F.broadcast(stop_shingles.select("sh")), "sh", "left_anti")
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("sh")))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_df: int | None = None,
    stop_shingles: DataFrame | None = None,
) -> DataFrame:
    """The PERSISTABLE LSH index: one row per (id, band, bkey), where
    ``bkey = md5('|'-join of the band's minhashes)``. This is what a
    100 TB corpus stores between crawl snapshots (parquet, partitioned or
    bucketed by ``bkey`` so delta probes co-locate) — candidate
    generation for a new batch then touches only the buckets the batch's
    own band keys hit (:func:`incremental_minhash_lsh_pairs`), never the
    rest of the corpus."""
    return _band_index(_docs(df, id_col, text_col), n, num_hashes, bands, max_df, stop_shingles)


def _band_index(d: DataFrame, n: int, num_hashes: int, bands: int, max_df: int | None,
                stop_shingles: DataFrame | None) -> DataFrame:
    """:func:`minhash_band_index` of entered docs ``d``."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands
    return _signature(d, n, num_hashes, max_df, stop_shingles).select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(
                    "|", *[F.col(f"mh_{b * r + i}") for i in range(r)]
                )).alias("bkey"),
            )
            for b in range(bands)
        ])).alias("bk"),
    ).select("id", "bk.band", "bk.bkey")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate pairs from banded MinHash-LSH, exact-verified.

    ``num_hashes`` minhashes split into ``bands`` bands of r rows; band
    bucket key = md5(concat of the band's minhashes). Pairs sharing ≥1
    bucket are candidates (prob ≈ 1−(1−J^r)^b); each candidate is verified
    with EXACT Jaccard so output precision is 1.0. Deterministic end-to-end.
    Output: (id1, id2, jaccard ≥ threshold).

    ``max_df`` filters stop-shingles out of the SIGNATURES only (see
    :func:`minhash_signature` — the candidate-blowup mitigation); the
    verify step still scores the TRUE Jaccard over unfiltered shingles,
    so the threshold means what it says.
    """
    # band rows are REFERENCED twice (both self-join sides) and the
    # candidate set three times inside the verify; without materialization
    # each reference re-runs the whole signature pipeline — the
    # round-start physical plan scanned the source 24× (guide §3.3)
    d = _docs(df, id_col, text_col)
    band_rows = _band_index(d, n, num_hashes, bands, max_df, None).transform(_ckpt)
    a, b_ = band_rows.alias("a"), band_rows.alias("b")
    cand = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
        .transform(_ckpt)
    )
    return _verify_jaccard(d, cand, n, threshold)


def _verify_jaccard(d: DataFrame, cand: DataFrame, n: int, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (id1, id2) against
    the FULL shingle sets of entered docs ``d`` → (id1, id2, jaccard ≥
    threshold).

    Bounds the verify shuffle: only docs that appear in ≥1 candidate pair
    need their (wide) shingle array built and shuffled — semi-join the
    corpus to candidate ids FIRST, so the array-bearing exchange carries
    O(candidate docs), not O(corpus). At 10^9 docs the candidate set is
    orders of magnitude smaller than the table."""
    cand_ids = (cand.select(F.col("id1").alias("id"))
                .unionByName(cand.select(F.col("id2").alias("id"))).distinct())
    # shingle sets built ONCE per candidate doc (sz derived from the same
    # array instead of a second shingles() evaluation) and materialized:
    # both pair-join sides read this table
    sh = (
        d.join(cand_ids, "id", "left_semi")
        .select("id", shingles("text", n).alias("shs"))
        .select("id", F.size("shs").alias("sz"), "shs")
        .transform(_ckpt)
    )
    verified = (
        cand.join(sh.withColumnsRenamed({"id": "id1", "sz": "sz1", "shs": "shs1"}), "id1")
        .join(sh.withColumnsRenamed({"id": "id2", "sz": "sz2", "shs": "shs2"}), "id2")
        .select(
            "id1", "id2",
            (F.size(F.array_intersect("shs1", "shs2"))
             / (F.col("sz1") + F.col("sz2") - F.size(F.array_intersect("shs1", "shs2")))
             ).alias("j"),
        )
    )
    return verified.select(
        "id1", "id2", F.round("j", 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def incremental_minhash_lsh_pairs(
    corpus: DataFrame,
    new_docs: DataFrame,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    stop_shingles: DataFrame | None = None,
    broadcast_delta: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an EXISTING corpus without recomputing
    the corpus — the crawl-snapshot ingest path (a 100 TB corpus never
    re-signs 10^9 documents because 10^6 arrived).

    Inputs: ``corpus`` = the full docs table INCLUDING the new batch
    (verification needs both sides' text; it is the lake table, already
    there); ``new_docs`` = the delta; ``band_index`` = the PERSISTED
    (id, band, bkey) rows of the existing corpus
    (:func:`minhash_band_index`, written at the previous ingest);
    ``stop_shingles`` = the index's frozen stop list (must be the one the
    index was signed with — see :func:`hot_shingles`).

    Returns ``(pairs, new_band_rows)``: ``pairs`` = exact-verified
    near-dup pairs TOUCHING ≥1 new doc (new×old and new×new; old×old
    pairs were found at their own ingest), ``new_band_rows`` = the
    delta's band rows — append them to the persisted index to complete
    the ingest. INVARIANT (pytest-pinned on the planted-family corpus):
    incremental pairs == full-recompute pairs restricted to pairs
    touching the delta, provided the same stop list signs both.

    Cost scales with the DELTA, not the corpus: signing is
    O(new docs); candidate generation joins the delta's band rows
    against the index on (band, bkey) — with ``broadcast_delta`` the
    index side never shuffles (one scan, hash-probe per row; with the
    index stored bucketed by bkey, scan-pruned too). Disable the
    broadcast for deltas too large to fit an executor (falls back to a
    sort-merge join on the band key — uniform md5 keys, no skew)."""
    # the delta's band rows are referenced three times (new×old probe,
    # both new×new sides) and returned — sign the delta once
    new_bands = _band_index(_docs(new_docs, id_col, text_col), n, num_hashes, bands,
                            None, stop_shingles).transform(_ckpt)
    probe = F.broadcast(new_bands) if broadcast_delta else new_bands
    a, b_ = probe.alias("a"), band_index.alias("b")
    # new × old: either id order is possible — normalize to id1 < id2
    no = (
        a.join(b_, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.id") != F.col("b.id")))
        .select(F.least("a.id", "b.id").alias("id1"),
                F.greatest("a.id", "b.id").alias("id2"))
    )
    # new × new: both sides in the delta
    a2, b2 = new_bands.alias("a"), new_bands.alias("b")
    nn = (
        a2.join(b2, (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
    )
    cand = no.unionByName(nn).distinct().transform(_ckpt)
    return _verify_jaccard(_docs(corpus, id_col, text_col), cand, n, threshold), new_bands


# ------------------------------------------------------------- SimHash

def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash per doc, engine-portable and fully codegen.

    Token hash = first 15 hex chars of md5(token) (60 bits — keeps the
    result a positive signed long in every engine); bit b of the token
    hash = bit (3 − b%4) of nibble b/4. SimHash bit b = 1 iff
    Σ_tokens (±1 per token-hash bit) > 0.

    Shape chosen for 10^9 docs: explode tokens → ONE groupBy(id) with 60
    fused sum-aggregates (partial aggregation map-side, whole-stage
    codegen) → recombine bits in a projection. No higher-order folds (they
    run interpreted, ~µs/row), no collect_list."""
    t = _docs(df, id_col, text_col).select("id", F.explode(tokens("text")).alias("tok"))
    hx = F.substring(F.md5("tok"), 1, 15)
    aggs = []
    for b in range(60):
        nib, sh = divmod(b, 4)
        mask = 1 << (3 - sh)
        nibble = F.conv(F.substring(hx, nib + 1, 1), 16, 10).cast("int")
        aggs.append(
            F.sum(F.when(nibble.bitwiseAND(F.lit(mask)) > 0, 1).otherwise(-1)).alias(f"v{b}")
        )
    votes = t.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(60):
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("id", sim.alias("sim"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Doc pairs with SimHash hamming distance ≤ ``max_hamming`` (≤ 3).

    Pigeonhole: 60 bits split into 4 × 15-bit chunks; distance ≤ 3 ⇒ at
    least one chunk identical — equi-join per chunk gives 100 % recall,
    then exact ``bit_count(xor)`` verification. No cartesian product."""
    if max_hamming > 3:
        raise ValueError("4-chunk pigeonhole guarantees recall only for d<=3")
    # materialized once: both chunk-join sides reference it, and each
    # reference would otherwise re-run the 60-aggregate vote pass
    sh = simhash_table(df, id_col, text_col).transform(_ckpt)
    chunks = sh.select(
        "id", "sim",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright("sim", c * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("ckey"),
            )
            for c in range(4)
        ])).alias("ck"),
    ).select("id", "sim", "ck.chunk", "ck.ckey")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.ckey") == F.col("b.ckey"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
            F.col("a.sim").alias("s1"), F.col("b.sim").alias("s2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return cand.select("id1", "id2", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ------------------------------------------------ duplicate clusters

def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id1", "id2"),
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every doc →
    (canonical_id = min doc id in its component, cluster_size). The step a
    dedup pipeline actually needs after pair generation — keep one doc per
    cluster, drop the rest.

    Spark-first iterative min-label propagation: every id of ``nodes`` or
    of ``pairs`` starts labelled with itself, and each round every id takes
    the min of its own and its neighbors' labels, until a round changes
    nothing. Rounds = component diameter (duplicate clusters are dense, so
    a handful); each round is one equi-join + one groupBy, all JVM,
    materialized by an eager ``localCheckpoint`` that truncates the
    per-round lineage so plans stay O(1). The convergence test rides on
    that same job: an ``Observation`` counts the ids whose label is lower
    than their previous label, and the loop stops when the count is 0.
    Only ``<`` is applied to ids, so any orderable id type works (string,
    long, decimal, date). (Compare GraphX/GraphFrames connected components
    — same algorithm family, expressed on DataFrames so Catalyst/AQE handle
    the physical plan.) Docs with no pairs stay their own singleton
    cluster.

    Non-convergence is an ERROR, never silence: a component whose diameter
    exceeds ``max_iter`` (a pathological near-dup chain) would otherwise
    return partially-propagated labels — wrong canonical_id/cluster_size
    with no signal. Raise ``max_iter`` for long chains (or pre-shorten
    them with pointer doubling); duplicate clusters in practice are dense,
    so the default converges in a handful of rounds."""
    _no_collision(["canonical_id", "cluster_size"], [id_col])
    a, b = pair_cols
    e = _aliased(pairs, {"src": a, "dst": b})
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        _aliased(nodes, {"n": id_col})
        .unionByName(edges.select(F.col("src").alias("n")))
        .distinct().select("n", F.col("n").alias("lab"))
    )
    changed = -1
    for _ in range(max_iter):
        # ``own`` carries each id's previous label through the groupBy
        prop = (
            edges.join(labels.withColumnRenamed("n", "src"), "src")
            .select(F.col("dst").alias("n"), "lab", F.lit(None).alias("own"))
        )
        obs = Observation()
        labels = (
            labels.select("n", "lab", F.col("lab").alias("own"))
            .unionByName(prop)
            .groupBy("n").agg(F.min("lab").alias("lab"), F.max("own").alias("own"))
            .observe(obs, F.count_if(F.col("lab") < F.col("own")).alias("changed"))
            .select("n", "lab")
        ).localCheckpoint()
        changed = obs.get["changed"]
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dedup_clusters did not converge in max_iter={max_iter} rounds "
            "(a component's diameter exceeds the round budget); labels would "
            "be partially propagated — raise max_iter"
        )
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lab").select(
        F.col("n").alias(id_col),
        F.col("lab").alias("canonical_id"),
        "cluster_size",
    )


# --------------------------------------------- embedding near-duplicates

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    group_col: str | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. Baseline: blocked self-join (within
    ``group_col`` blocks when given — e.g. an LSH bucket or label — else
    full O(n²); at 10^9 vectors ALWAYS pass a block column, e.g. from
    :func:`intervalaverage_spark.functions.ann.lsh_bucket`).

    Round-8: each side's norm is folded once per ROW before the self-join
    (bit-identical — the same expression over the same vector, previously
    re-folded per pair), so per-pair work is one dot fold + a divide."""
    a = F.col("a.v")
    b = F.col("b.v")
    base = (_aliased(df, {"id": id_col, "v": vec_col, **({"g": group_col} if group_col else {})})
            .withColumn("v", F.col("v").cast("array<double>"))
            .withColumn("nrm", _norm(F.col("v"))))
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, p: s + p)
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    cond = F.col("a.id") < F.col("b.id")
    if group_col:
        cond = cond & (F.col("a.g") == F.col("b.g"))
    pairs = base.alias("a").join(base.alias("b"), cond)
    return (
        pairs.select(
            F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
