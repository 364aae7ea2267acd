"""The benchmark's workloads: seeded inputs, one timed iteration, checks.

Each workload drives the engine only through the public functions of its
layers, the way a job would. ``iterate`` is one timed unit of work; with
tracing on it also records a span around each layer call, and
``layer_metrics`` turns one traced iteration into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import random
import shutil
import time
from collections.abc import Iterator
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from intervalaverage_spark.functions import dedup
from intervalaverage_spark.functions.ann import knn_join
from intervalaverage_spark.functions.gorilla import encode_segments
from intervalaverage_spark.jobs.rollup import GROUP_VARS, VALUE_VARS, finalize_tier, run_rollup
from intervalaverage_spark.operators import average as average_op
from intervalaverage_spark.operators import intersect as intersect_op
from intervalaverage_spark.operators import isolate as isolate_op
from intervalaverage_spark.operators.grid import tier_grid
from intervalaverage_spark.operators.tiers import TIER_WIDTHS
from intervalaverage_spark.plans import checkpoint as ckpt
from intervalaverage_spark.sources.corpus import family_pairs, synth_corpus, synth_embeddings
from intervalaverage_spark.sources.webts import observation_intervals, synth_webpages

from perfbench import checks
from perfbench.tracing import Tracer

TIERS = ("1h", "1d", "30d")

#: input sizes per scale; "full" is what the benchmark measures, "tiny"
#: is the smoke-test size
SCALES = {
    "full": {"crawl_pages": 150, "range_pages": 400, "docs": 500, "vecs": 1500},
    "tiny": {"crawl_pages": 40, "range_pages": 40, "docs": 200, "vecs": 400},
}

#: every per-layer metric and its unit; a layer a workload bypasses reads 0
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "webts.generate_s": "s",
    "webts.intervals": "count",
    "tiers.1h_s": "s",
    "tiers.1d_s": "s",
    "tiers.30d_s": "s",
    "tiers.finalize_s": "s",
    "tiers.1h_rows": "count",
    "tiers.1d_rows": "count",
    "tiers.30d_rows": "count",
    "tiers.cpu_s": "s",
    "tiers.shuffle_bytes": "bytes",
    "tiers.write_bytes": "bytes",
    "tiers.state_bytes_per_point": "bytes/point",
    "gorilla.encode_s": "s",
    "gorilla.udf_s": "s",
    "gorilla.segments": "count",
    "gorilla.blob_bytes": "bytes",
    "gorilla.shuffle_bytes": "bytes",
    "gorilla.segment_bytes_per_point": "bytes/point",
    "rollup.wall_s": "s",
    "rollup.buckets_recomputed": "count",
    "rollup.buckets_skipped": "count",
    "checkpoint.fingerprint_s": "s",
    "checkpoint.plan_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.manifest_s": "s",
    "validation.check_s": "s",
    "average.wall_s": "s",
    "intersect.wall_s": "s",
    "isolate.wall_s": "s",
    "average.rows_out": "count",
    "intersect.rows_out": "count",
    "isolate.rows_out": "count",
    "rangejoin.cpu_s": "s",
    "rangejoin.shuffle_bytes": "bytes",
    "rangejoin.task_skew": "ratio",
    "corpus.generate_s": "s",
    "dedup.lsh_s": "s",
    "dedup.lsh_pairs": "count",
    "dedup.clusters_s": "s",
    "dedup.prefix_s": "s",
    "dedup.prefix_pairs": "count",
    "dedup.pair_recall": "ratio",
    "ann.knn_s": "s",
    "ann.udf_s": "s",
    "ann.shuffle_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


def parquet_rows(path: Path) -> int:
    """Row count from parquet footers (driver-side, no Spark job)."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in path.rglob("*.parquet"))


def parquet_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


def drain(df: DataFrame) -> tuple[int, int]:
    """Run ``df`` to completion into Spark's no-op sink; return its
    (row count, order-insensitive checksum) as :func:`checks.table_checksum`
    computes them, observed in the same pass."""
    obs = Observation()
    df.observe(obs, *checks.checksum_columns(df)).write.format("noop").mode(
        "overwrite").save()
    return checks.checksum_of(obs.get)


@contextlib.contextmanager
def spans_around(tracer: Tracer, targets) -> Iterator[None]:
    """While tracing, wrap ``module.attr`` functions in a span each.

    ``targets`` holds (module, attr, span name, wrapper factory or None);
    the engine calls these functions through module attributes, so the
    spans land around the calls without touching engine code."""
    if not tracer.enabled:
        yield
        return
    saved = []
    for mod, attr, name, factory in targets:
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))
        setattr(mod, attr, factory(fn, name) if factory else _spanned(tracer, fn, name))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _spanned(tracer: Tracer, fn, name: str):
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapped


class Workload:
    """Base: inputs under ``work``, one ``iterate`` per timed unit."""

    name = ""
    #: prefixes of the per-layer metrics this workload drives
    layers: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, tracer: Tracer, work: Path, seed: int,
                 scale: dict):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.scale = seed, scale

    def read(self, path: Path) -> DataFrame:
        return self.spark.read.parquet(str(path))

    def setup(self) -> dict[str, float]:
        """Generate and write the seeded inputs; returns per-layer set-up
        times (a ``*.generate_s`` metric per source layer)."""
        raise NotImplementedError

    def iterate(self) -> dict:
        """One timed unit; returns its outputs' counts, among them a
        ``signature`` that must repeat exactly across iterations."""
        raise NotImplementedError

    def check(self) -> list[str]:
        """Full output check on the last iteration's outputs."""
        raise NotImplementedError

    def verify_iteration(self, out: dict, first: dict) -> list[str]:
        return [] if out["signature"] == first["signature"] else [
            f"iteration output {out['signature']} differs from first {first['signature']}"]

    def layer_metrics(self, out: dict, iteration: int) -> dict[str, float]:
        raise NotImplementedError

    # shared helpers for layer_metrics
    def _span_sum(self, iteration: int, prefix: str, key: str = "dur") -> float:
        total = 0.0
        for s in self.tracer.iteration_spans(iteration):
            if s["name"] == prefix or s["name"].startswith(prefix + "."):
                total += s["end"] - s["start"] if key == "dur" else s.get(key, 0.0)
        return total

    def _stage_sum(self, stages: dict, iteration: int, prefix: str, key: str) -> float:
        return sum(
            stages.get(s["group"], {}).get(key, 0)
            for s in self.tracer.iteration_spans(iteration)
            if s["name"] == prefix or s["name"].startswith(prefix + ".")
        )


class CrawlRollup(Workload):
    """The BASELINE rollup job in its incremental form. Each iteration a
    new crawl version arrives in which the urls of one seeded bucket in
    eight changed; ``run_rollup`` resumes its checkpointed 1h/1d/30d tier
    state (fingerprint, plan, recompute the changed bucket, partition
    overwrite, manifest), then the whole 1d state is finalized and
    Gorilla-encoded, each written to parquet."""

    name = "crawl_rollup"
    layers = ("webts", "tiers", "gorilla", "rollup", "checkpoint")
    #: 1 of 8 buckets changes between the two crawl versions
    n_buckets = 8
    n_dirty = 1

    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        n = self.scale["crawl_pages"]
        a_path, b_path = self.work / "pages_a", self.work / "pages_b"
        synth_webpages(self.spark, n_pages=n, seed=self.seed).write.mode(
            "overwrite").parquet(str(a_path))
        a = self.read(a_path)
        b = synth_webpages(self.spark, n_pages=n, seed=self.seed + 7919)
        # the bucket run_rollup gives each url (plans/checkpoint.with_bucket)
        bucket = F.pmod(F.xxhash64("url"), F.lit(self.n_buckets))
        filled = [{r[0] for r in df.select(bucket).distinct().collect()} for df in (a, b)]
        # dirty buckets hold urls in both versions, so a flip never empties one
        self.dirty = sorted(random.Random(self.seed).sample(sorted(filled[0] & filled[1]),
                                                            self.n_dirty))
        self.expected = (self.n_dirty, len(filled[0]) - self.n_dirty, 0)
        in_dirty = bucket.isin(self.dirty)
        a.filter(~in_dirty).unionByName(b.filter(in_dirty)).write.mode("overwrite").parquet(
            str(b_path))
        # the first iteration resumes onto an empty state: a cold run over
        # every bucket, which the warm-up absorbs
        self.versions = (b_path, a_path)
        self.state, self.out = self.work / "state", self.work / "out"
        shutil.rmtree(self.state, ignore_errors=True)
        self._flips = 0
        self._signatures: dict[int, tuple] = {}
        return {"webts.generate_s": time.perf_counter() - t0}

    def _fingerprint_factory(self, fn, name):
        # materialize the fingerprint inside its span; run_rollup's own
        # .cache() on the returned frame is then a no-op
        def wrapped(*args, **kwargs):
            with self.tracer.span(name):
                df = fn(*args, **kwargs).cache()
                df.count()
                return df
        return wrapped

    def iterate(self) -> dict:
        t, o = self.tracer, self.out
        self.version = self._flips % 2
        self.current = self.versions[self.version]
        self._flips += 1
        targets = [
            (ckpt, "fingerprint_partitions", "checkpoint.fingerprint", self._fingerprint_factory),
            (ckpt, "plan_resume", "checkpoint.plan", None),
            (ckpt, "vanished_buckets", "checkpoint.plan", None),
            (ckpt, "write_partitioned", "checkpoint.write", None),
            (ckpt, "read_manifest", "checkpoint.manifest", None),
            (ckpt, "write_manifest", "checkpoint.manifest", None),
        ]
        with spans_around(t, targets), t.span("rollup"):
            report = run_rollup(self.spark, self.read(self.current),
                                out_root=str(self.state), n_buckets=self.n_buckets)
        with t.span("tiers.finalize"):
            finalize_tier(self.spark, str(self.state), "1d").write.mode("overwrite").parquet(
                str(o / "points"))
        with t.span("gorilla.encode", profile_udfs=True):
            pts = self.read(o / "points").select(*GROUP_VARS, "start", "text_bytes")
            encode_segments(pts, GROUP_VARS, "start", "text_bytes", TIER_WIDTHS["30d"]).write.mode(
                "overwrite").parquet(str(o / "segments"))
        b = report["buckets"]
        n_points = parquet_rows(o / "points")
        sig = (b["todo"], b["skipped"], b["vanished"],
               *(report["tiers"][tier]["points"] for tier in TIERS),
               n_points, parquet_rows(o / "segments"))
        return {"report": report, "version": self.version, "signature": sig}

    def verify_iteration(self, out: dict, first: dict) -> list[str]:
        # the two crawl versions alternate; each must repeat its own outputs
        want = self._signatures.setdefault(out["version"], out["signature"])
        problems = [] if out["signature"] == want else [
            f"iteration output {out['signature']} differs from {want} on the same version"]
        if out["signature"][:3] != self.expected:
            problems.append(f"resume (recomputed, skipped, vanished) {out['signature'][:3]} "
                            f"!= {self.expected}")
        return problems

    def check(self) -> list[str]:
        return checks.segments_match_points(
            self.spark, str(self.out / "points"), str(self.out / "segments"), "text_bytes",
        ) + checks.resumed_state_matches_direct(
            self.spark, str(self.state), str(self.current), self.n_buckets)

    def layer_metrics(self, out: dict, iteration: int) -> dict[str, float]:
        o, st = self.out, self.tracer.stage_metrics(iteration)
        rep = out["report"]
        # run_rollup's jobs outside its nested checkpoint spans are the
        # tier aggregates it persists and counts
        group = next(s["group"] for s in self.tracer.iteration_spans(iteration)
                     if s["name"] == "rollup")
        tiers = st.get(group, {})
        written = sum(parquet_bytes(self.state / f"tier={t}" / f"p={p}")
                      for t in TIERS for p in self.dirty)
        m = {
            "webts.intervals": observation_intervals(self.read(self.current), unit=1).count(),
            "tiers.finalize_s": self._span_sum(iteration, "tiers.finalize"),
            "tiers.cpu_s": tiers.get("executor_cpu_ns", 0) / 1e9,
            "tiers.shuffle_bytes": tiers.get("shuffle_write_bytes", 0),
            "tiers.write_bytes": written,
            "tiers.state_bytes_per_point": written / rep["total_points"],
            "gorilla.encode_s": self._span_sum(iteration, "gorilla.encode"),
            "gorilla.udf_s": self._span_sum(iteration, "gorilla.encode", "udf_s"),
            "gorilla.segments": parquet_rows(o / "segments"),
            "gorilla.blob_bytes": self.read(o / "segments").agg(
                F.sum(F.length("blob"))).first()[0],
            "gorilla.shuffle_bytes": self._stage_sum(
                st, iteration, "gorilla", "shuffle_write_bytes"),
            "gorilla.segment_bytes_per_point": parquet_bytes(o / "segments") / parquet_rows(
                o / "points"),
            "rollup.wall_s": self._span_sum(iteration, "rollup"),
            "rollup.buckets_recomputed": rep["buckets"]["todo"],
            "rollup.buckets_skipped": rep["buckets"]["skipped"],
            "checkpoint.fingerprint_s": self._span_sum(iteration, "checkpoint.fingerprint"),
            "checkpoint.plan_s": self._span_sum(iteration, "checkpoint.plan"),
            "checkpoint.write_s": self._span_sum(iteration, "checkpoint.write"),
            "checkpoint.manifest_s": self._span_sum(iteration, "checkpoint.manifest"),
        }
        for tier in TIERS:
            m[f"tiers.{tier}_s"] = rep["tiers"][tier]["seconds"]
            m[f"tiers.{tier}_rows"] = rep["tiers"][tier]["points"]
        return m


class RangeOps(Workload):
    """The paper's three operators on hour-unit crawl intervals, default
    strategy and validation: average per url onto a daily grid,
    intersect by domain with a weekly grid, isolate by (domain, lang)."""

    name = "range_ops"
    ops = ("average", "intersect", "isolate")

    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        pages = synth_webpages(self.spark, n_pages=self.scale["range_pages"],
                               n_domains=400, seed=self.seed)
        x = observation_intervals(pages, unit=3600).withColumn(
            "domain", F.regexp_extract("url", r"//(d\d+)\.", 1))
        x.write.mode("overwrite").parquet(str(self.work / "x"))
        self.x = self.read(self.work / "x")
        lo, hi = self.x.agg(F.min("start"), F.max("end")).first()
        tier_grid(self.x.select("url").distinct(), lo, hi, 24).write.mode(
            "overwrite").parquet(str(self.work / "y_day"))
        tier_grid(self.x.select("domain").distinct(), lo, hi, 24 * 7, "ws", "we").write.mode(
            "overwrite").parquet(str(self.work / "y_week"))
        self.y_day = self.read(self.work / "y_day")
        self.y_week = self.read(self.work / "y_week")
        return {"webts.generate_s": time.perf_counter() - t0}

    def call(self, op: str, **kw) -> DataFrame:
        """One timed operator call, unexecuted; ``kw`` is passed through
        (the timed run passes none: defaults throughout). Validation runs
        when the call is made."""
        if op == "average":
            return average_op.interval_average(
                checks.average_input(self.x), self.y_day, ("start", "end"), VALUE_VARS,
                group_vars=["url"], **kw)
        if op == "intersect":
            return intersect_op.interval_intersect(
                checks.intersect_input(self.x), self.y_week, {"start": "ws", "end": "we"},
                ["domain"], **kw)
        return isolate_op.isolate_overlaps(
            checks.isolate_input(self.x), ("s", "e"), ["domain", "lang"], **kw)

    def iterate(self) -> dict:
        t = self.tracer
        targets = [(mod, "check_intervals", "validation.check", None)
                   for mod in (average_op, intersect_op, isolate_op)]
        self.sums = {}
        with spans_around(t, targets):
            for op in self.ops:
                with t.span(op):
                    self.sums[op] = drain(self.call(op))
        rows = {op: n for op, (n, _) in self.sums.items()}
        return {"rows_by_op": rows, "signature": tuple(rows.values())}

    def check(self) -> list[str]:
        rng = random.Random(self.seed)
        urls = sorted(r["url"] for r in self.x.select("url").distinct().collect())
        return checks.range_ops_match_references(
            self, rng.sample(urls, min(4, len(urls))))

    def layer_metrics(self, out: dict, iteration: int) -> dict[str, float]:
        st = self.tracer.stage_metrics(iteration)
        m = {"validation.check_s": self._span_sum(iteration, "validation.check"),
             "webts.intervals": parquet_rows(self.work / "x")}
        skew = 0.0
        heaviest = -1
        for op in self.ops:
            m[f"{op}.wall_s"] = self._span_sum(iteration, op)
            m[f"{op}.rows_out"] = out["rows_by_op"][op]
            for s in self.tracer.iteration_spans(iteration):
                acc = st.get(s.get("group"), {})
                if s["name"] == op and acc.get("heaviest_run_ms", -1) > heaviest:
                    heaviest = acc["heaviest_run_ms"]
                    skew = acc["heaviest_stage_task_skew"]
        m["rangejoin.shuffle_bytes"] = sum(
            self._stage_sum(st, iteration, op, "shuffle_write_bytes") for op in self.ops)
        m["rangejoin.cpu_s"] = sum(
            self._stage_sum(st, iteration, op, "executor_cpu_ns") for op in self.ops) / 1e9
        m["rangejoin.task_skew"] = skew
        return m


class CorpusDedup(Workload):
    """Near-duplicate detection and semantic neighbours on a synthetic
    corpus with planted near-dup families: MinHash-LSH pairs → connected
    components, the lossless prefix-filtered Jaccard join, and a
    broadcast-centroid self k-NN join over embeddings."""

    name = "corpus_dedup"
    #: LSH parameters of bench.py's dedup entry (threshold 0.5, 16 hashes,
    #: 8 bands, stop-shingles above document frequency 1000 capped)
    lsh = {"num_hashes": 16, "bands": 8, "threshold": 0.5, "max_df": 1000}
    k = 10

    def setup(self) -> dict[str, float]:
        t0 = time.perf_counter()
        synth_corpus(self.spark, n_docs=self.scale["docs"], seed=self.seed).write.mode(
            "overwrite").parquet(str(self.work / "docs"))
        synth_embeddings(self.spark, n_vecs=self.scale["vecs"], seed=self.seed).write.mode(
            "overwrite").parquet(str(self.work / "vecs"))
        generate_s = time.perf_counter() - t0
        corpus = self.read(self.work / "docs")
        family_pairs(corpus).write.mode("overwrite").parquet(str(self.work / "planted"))
        self.docs = corpus.drop("family_id")
        self.vecs = self.read(self.work / "vecs")
        self.planted = self.read(self.work / "planted")
        self.n_planted = parquet_rows(self.work / "planted")
        # IVF cells sized as bench.py's self-kNN entry: ~sqrt(n) cells
        self.n_cells = max(16, int(self.scale["vecs"] ** 0.5))
        return {"corpus.generate_s": generate_s}

    def iterate(self) -> dict:
        t, w = self.tracer, self.work
        with t.span("dedup.lsh"):
            dedup.minhash_lsh_pairs(self.docs, **self.lsh).write.mode("overwrite").parquet(
                str(w / "lsh_pairs"))
        with t.span("dedup.clusters"):
            clusters = drain(dedup.dedup_clusters(self.docs, self.read(w / "lsh_pairs")))
        with t.span("dedup.prefix"):
            dedup.prefix_jaccard_pairs(self.docs, threshold=self.lsh["threshold"]).write.mode(
                "overwrite").parquet(str(w / "prefix_pairs"))
        with t.span("ann.knn", profile_udfs=True):
            knn_join(self.vecs, self.vecs, "vec_id", "embedding", "vec_id", "embedding",
                     k=self.k, n_cells=self.n_cells, nprobe=1, exclude_self=True,
                     method="broadcast").write.mode("overwrite").parquet(str(w / "knn"))
        rows = {"lsh": parquet_rows(w / "lsh_pairs"), "clusters": clusters[0],
                "prefix": parquet_rows(w / "prefix_pairs"), "knn": parquet_rows(w / "knn")}
        self.clusters_sum = clusters
        return {"rows_by_step": rows, "signature": tuple(rows.values())}

    def pair_recall(self) -> float:
        found = self.read(self.work / "lsh_pairs").join(self.planted, ["id1", "id2"]).count()
        return found / self.n_planted

    def check(self) -> list[str]:
        w = self.work
        return checks.dedup_outputs_hold(
            self.read(w / "lsh_pairs"), self.read(w / "prefix_pairs"),
            self.pair_recall(), self.clusters_sum, self.docs,
        ) + checks.knn_rows_exact(self.read(w / "knn"), self.vecs, self.k, self.seed)

    def layer_metrics(self, out: dict, iteration: int) -> dict[str, float]:
        st = self.tracer.stage_metrics(iteration)
        rows = out["rows_by_step"]
        return {
            "dedup.lsh_s": self._span_sum(iteration, "dedup.lsh"),
            "dedup.lsh_pairs": rows["lsh"],
            "dedup.clusters_s": self._span_sum(iteration, "dedup.clusters"),
            "dedup.prefix_s": self._span_sum(iteration, "dedup.prefix"),
            "dedup.prefix_pairs": rows["prefix"],
            "dedup.pair_recall": self.pair_recall(),
            "ann.knn_s": self._span_sum(iteration, "ann.knn"),
            "ann.udf_s": self._span_sum(iteration, "ann.knn", "udf_s"),
            "ann.shuffle_bytes": self._stage_sum(st, iteration, "ann", "shuffle_write_bytes"),
        }


class RangeDedup(Workload):
    """The layers the rollup job does not touch, one after the other in
    each iteration: :class:`RangeOps`, then :class:`CorpusDedup`."""

    name = "range_dedup"
    layers = ("webts", "validation", "average", "intersect", "isolate", "rangejoin",
              "corpus", "dedup", "ann")

    def __init__(self, spark: SparkSession, tracer: Tracer, work: Path, seed: int,
                 scale: dict):
        super().__init__(spark, tracer, work, seed, scale)
        self.parts = (RangeOps(spark, tracer, work / "range", seed, scale),
                      CorpusDedup(spark, tracer, work / "corpus", seed, scale))

    def setup(self) -> dict[str, float]:
        return {k: v for part in self.parts for k, v in part.setup().items()}

    def iterate(self) -> dict:
        outs = [part.iterate() for part in self.parts]
        return {"parts": outs, "signature": tuple(o["signature"] for o in outs)}

    def check(self) -> list[str]:
        return [f for part in self.parts for f in part.check()]

    def layer_metrics(self, out: dict, iteration: int) -> dict[str, float]:
        return {k: v for part, o in zip(self.parts, out["parts"])
                for k, v in part.layer_metrics(o, iteration).items()}


WORKLOADS = {w.name: w for w in (CrawlRollup, RangeDedup)}
