"""The three workloads: set-up, one timed repetition, expected store, and
the driver-side replay check.

A repetition ("rep") commits one batch of pages into a fresh triples store:

- ``fused_crawl``: ``canonical_triples_fused`` -> ``merge_into``;
- ``checkpointed_crawl``: ``run_pipeline`` (stages A-D);
- ``incremental_stream``: ``start_triples_stream`` drains every staged file,
  one file per trigger, into a copy of a store seeded by an initial batch.

Each workload also names the jobs that make up its triples and sink layers
(:meth:`Workload.scopes`), so per-layer metrics can be attributed from the
status stores without instrumenting the program.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gazetteer_entity_parser_spark.operators.extract import (
    canonical_triples_fused,
    extract_mentions,
    iter_windows,
)
from gazetteer_entity_parser_spark.operators.triples import (
    canonicalize_triples,
    cooccurrence_triples_grouped,
)
from gazetteer_entity_parser_spark.plans.pipeline import PipelineConfig, run_pipeline
from gazetteer_entity_parser_spark.sources.builder_job import (
    GAZETTEER_SCHEMA,
    broadcast_parser,
    build_parser_distributed,
)
from gazetteer_entity_parser_spark.sources.gazetteer import alias_gazetteer
from gazetteer_entity_parser_spark.sources.sinks import merge_into
from gazetteer_entity_parser_spark.sources.webpages import WEBPAGE_SCHEMA
from gazetteer_entity_parser_spark.streaming.stream import (
    read_webpage_stream,
    start_triples_stream,
)

from gen import CKPT_ENTITIES
from stats import triples_digest

SETUP_REPS = 3  # set-up builds per run; setup_s reports their median
SAMPLE_PAGES = 40  # pages replayed through Parser.run on the driver
WINDOW_TOKENS = 10  # the operators' default co-occurrence window
MENTION_COLUMNS = ["url", "sent_idx", "tok_idx", "begin", "end", "matched_value",
                   "resolved", "raw_value", "entity_id", "rank"]
# the mention columns the triples operators read
LIGHT_COLUMNS = ["url", "sent_idx", "tok_idx", "resolved", "rank"]
PIPELINE_STAGES = ("A_build_broadcast", "B_extract_checkpoint", "C_triples_lineage",
                   "D_canonicalize_merge")


@dataclass
class Rep:
    """One timed repetition: wall time, pages committed, per-commit times
    (one per micro-batch, or the whole rep for a batch job), the store, the
    sink kinds ``merge_into`` reported, and workload-specific extras."""

    wall: float
    pages: int
    commits: list[float]
    store: str
    sinks: list[str]
    span: object = None
    extra: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    paths: dict
    work: str
    seed: int
    tracer: object
    reps_started: int = 0

    def next_rep(self) -> int:
        self.reps_started += 1
        return self.reps_started - 1

    def read_pages(self, path: str):
        """Pages with their declared schema: no schema-inference job."""
        return self.spark.read.schema(WEBPAGE_SCHEMA).parquet(path)

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def replay_mentions(parser, rows: list[tuple[str, str]]) -> list[tuple]:
    """Mentions of ``rows`` (url, text) from ``Parser.run`` on the driver,
    windowed exactly as the extraction operator windows them."""
    out = []
    for url, text in rows:
        if not text:
            continue
        for sent_idx, off, base_tok, wtext, wtoks in iter_windows(text, WINDOW_TOKENS):
            for pv in parser.run(wtext, 0, tokens=wtoks):
                out.append((url, sent_idx, base_tok + pv.tok_range[0], off + pv.range[0],
                            off + pv.range[1], pv.matched_value, pv.resolved_value.resolved,
                            pv.resolved_value.raw_value, pv.entity, pv.rank))
    return sorted(out)


def sample_rows(pages_path: str, seed: int, n: int = SAMPLE_PAGES) -> list[tuple[str, str]]:
    """A fixed sample of (url, text) for the seed."""
    t = pq.read_table(pages_path, columns=["url", "text"])
    idx = np.sort(np.random.default_rng([seed, 99]).choice(t.num_rows, size=min(n, t.num_rows),
                                                           replace=False))
    t = t.take(idx)
    return list(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def store_digest(store: str) -> tuple[int, str]:
    return triples_digest(pq.read_table(os.path.realpath(store)))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(os.path.realpath(path)):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Workload:
    name = ""
    pages_per_rep = 0
    seed_weight = 0  # pair weight already in the store before the first commit

    def __init__(self) -> None:
        self.parser = None
        self.bc = None
        self.build_s: list[float] = []
        self.broadcast_s: list[float] = []
        self.build_spans: list = []

    def build(self, ctx: Context, gazetteer_df, threshold: float, n_stop_words: int,
              reps: int = SETUP_REPS) -> None:
        """Build and broadcast the parser ``reps`` times; keeps the last."""
        for k in range(reps):
            t0 = time.perf_counter()
            with ctx.tracer.span("sources.builder_job.build_parser_distributed", rep=k) as sp:
                parser = build_parser_distributed(gazetteer_df, threshold, n_stop_words)
            t1 = time.perf_counter()
            with ctx.tracer.span("sources.builder_job.broadcast_parser", rep=k):
                bc = broadcast_parser(ctx.spark, parser)
            t2 = time.perf_counter()
            if self.bc is not None:
                self.bc.destroy()
            self.parser, self.bc = parser, bc
            self.build_s.append(t1 - t0)
            self.broadcast_s.append(t2 - t1)
            self.build_spans.append(sp)

    def setup(self, ctx: Context) -> None:
        raise NotImplementedError

    def builder_replica(self, ctx: Context) -> None:
        """Builds the parser when set-up did not (builder-layer metrics)."""

    def prepare(self, ctx: Context) -> None:
        """Untimed work after set-up, before the first rep."""

    warm_fraction = 1.0  # share of the pages the warm reps commit
    warm_reps = 1

    def warm(self, ctx: Context) -> None:
        """Untimed reps before timing, so every Python worker's imports
        and Spark's plan caches are in place: a cold first rep takes about
        twice as long and varies far more from run to run.
        Sampling keeps one task per page file."""
        full = self.pages
        if self.warm_fraction < 1.0:
            self.pages = full.sample(fraction=self.warm_fraction, seed=ctx.seed)
        try:
            for _ in range(self.warm_reps):
                self.rep(ctx, ctx.next_rep())
        finally:
            self.pages = full

    def rep(self, ctx: Context, i: int) -> Rep:
        raise NotImplementedError

    def expected(self, ctx: Context) -> tuple[int, str]:
        raise NotImplementedError

    def spark_sample(self, ctx: Context, rows: list[tuple[str, str]], last: Rep) -> list[tuple]:
        """The program's mentions for the sample pages."""
        df = ctx.spark.createDataFrame(rows, "url string, text string")
        got = extract_mentions(df, self.bc, window_tokens=WINDOW_TOKENS).select(*MENTION_COLUMNS)
        return sorted(tuple(r) for r in got.collect())

    def sample_parser(self, last: Rep):
        return self.parser

    def scopes(self, rep: Rep, status, execs) -> dict[str, list[int]]:
        """Job ids of the triples and sinks layers in ``rep``, whose SQL
        executions are ``execs``."""
        raise NotImplementedError

    def sink_seconds(self, rep: Rep) -> float | None:
        """Wall time of the sink layer when the program reports it; None
        means the union of the sink-scope stages' intervals."""
        return None

    def triples_plan(self, rep: Rep):
        """An unexecuted DataFrame with the plan shape of the workload's
        triples computation, for its Exchange count."""
        raise NotImplementedError

    def udf_probe(self, ctx: Context):
        """None when the reps' own executions carry the UDF metrics."""
        return None


class FusedCrawl(Workload):
    """Large LE2 gazetteer, fused mentions->triples partials, one MERGE."""

    name = "fused_crawl"
    # after one warm rep the next still runs 15-25% slower than the ones after
    # it while the JIT compiles, and by a different amount on every run
    warm_reps = 2
    threshold = 0.6
    n_stop_words = 3

    def setup(self, ctx: Context) -> None:
        self.build(ctx, ctx.spark.read.schema(GAZETTEER_SCHEMA).parquet(ctx.paths["gazetteer"]),
                   self.threshold, self.n_stop_words)
        self.pages = ctx.read_pages(ctx.paths["pages"])
        self.pages_per_rep = pq.ParquetDataset(ctx.paths["pages"]).read(columns=["url"]).num_rows

    def rep(self, ctx: Context, i: int) -> Rep:
        store = os.path.join(ctx.fresh(f"rep-{i}"), "triples")
        t0 = time.perf_counter()
        with ctx.tracer.span("rep", i=i) as root:
            with ctx.tracer.span("operators.extract.canonical_triples_fused"):
                canonical = canonical_triples_fused(self.pages, self.bc)
            with ctx.tracer.span("sources.sinks.merge_into"):
                kind = merge_into(ctx.spark, store, canonical)
        wall = time.perf_counter() - t0
        return Rep(wall, self.pages_per_rep, [wall], store, [kind], root)

    def expected(self, ctx: Context) -> tuple[int, str]:
        """The unfused path: extract -> grouped pairs -> canonicalize."""
        mentions = extract_mentions(self.pages, self.bc, window_tokens=WINDOW_TOKENS,
                                    columns=LIGHT_COLUMNS)
        return triples_digest(canonicalize_triples(cooccurrence_triples_grouped(mentions)).toArrow())

    def scopes(self, rep, status, execs):
        """``canonical_triples_fused`` is lazy, so every job runs inside
        ``merge_into``: :func:`upsert_scopes` splits them."""
        return upsert_scopes(execs, "MapInPandas")

    def triples_plan(self, rep):
        return canonical_triples_fused(self.pages, self.bc)


class CheckpointedCrawl(Workload):
    """Corpus-derived alias gazetteer at theta=0.5 (general kernel lane),
    checkpointed mentions, grouped pair expansion, MERGE."""

    name = "checkpointed_crawl"
    warm_fraction = 0.25  # the pipeline's fixed cost dominates a rep
    cfg = PipelineConfig(n_entities=CKPT_ENTITIES, threshold=0.5, n_stop_words=2,
                         use_alias_gazetteer=True, n_buckets=4, window_tokens=WINDOW_TOKENS)

    def setup(self, ctx: Context) -> None:
        self.pages = ctx.read_pages(ctx.paths["pages"])
        self.pages_per_rep = pq.ParquetDataset(ctx.paths["pages"]).read(columns=["url"]).num_rows
        self._last_res = None

    def builder_replica(self, ctx: Context, reps: int = SETUP_REPS) -> None:
        """Stage A's build through the same public calls, outside the timed
        region: the builder-layer metrics and the fused expected path."""
        if self.bc is None:
            gaz = alias_gazetteer(self.pages.select("text"), self.cfg.n_entities)
            self.build(ctx, gaz, self.cfg.threshold, self.cfg.n_stop_words, reps)

    def rep(self, ctx: Context, i: int) -> Rep:
        workdir = ctx.fresh(f"rep-{i}")
        t0 = time.perf_counter()
        with ctx.tracer.span("rep", i=i) as root:
            with ctx.tracer.span("plans.pipeline.run_pipeline") as sp:
                res = run_pipeline(ctx.spark, self.pages, workdir, self.cfg)
            if sp is not None:
                start = sp.start
                for key in PIPELINE_STAGES:
                    end = start + res["stage_seconds"][key]
                    ctx.tracer.add(f"pipeline.{key}", start, end, sp)
                    start = end
        wall = time.perf_counter() - t0
        if self._last_res is not None:
            self._last_res["broadcast"].destroy()
        self._last_res = res
        return Rep(wall, self.pages_per_rep, [wall], res["triples_path"], [res["sink"]], root,
                   {"stage_seconds": dict(res["stage_seconds"]), "pipeline_span": sp,
                    "checkpoint_bytes": dir_bytes(res["mentions_path"]),
                    "mentions_path": res["mentions_path"]})

    def expected(self, ctx: Context) -> tuple[int, str]:
        """The fused path over the same pages with the same parser."""
        self.builder_replica(ctx, 1)
        return triples_digest(canonical_triples_fused(self.pages, self.bc).toArrow())

    def spark_sample(self, ctx, rows, last):
        """The mention checkpoint the last rep wrote, for the sample URLs."""
        urls = [u for u, _ in rows]
        got = (ctx.spark.read.parquet(last.extra["mentions_path"])
               .where(F.col("url").isin(urls)).select(*MENTION_COLUMNS))
        return sorted(tuple(r) for r in got.collect())

    def sample_parser(self, last: Rep):
        return self._last_res["parser"]

    def _stage_jobs(self, rep, status, key):
        sp = rep.extra["pipeline_span"]
        jobs = set(status.jobs_for_group(sp.group))
        start = sp.start + sum(rep.extra["stage_seconds"][k]
                               for k in PIPELINE_STAGES[:PIPELINE_STAGES.index(key)])
        end = start + rep.extra["stage_seconds"][key]
        return sorted(j for j, t in status.all_jobs() if j in jobs and start <= t < end)

    def scopes(self, rep, status, execs):
        return {"triples": self._stage_jobs(rep, status, "C_triples_lineage"),
                "sinks": self._stage_jobs(rep, status, "D_canonicalize_merge")}

    def sink_seconds(self, rep):
        return rep.extra["stage_seconds"]["D_canonicalize_merge"]

    def triples_plan(self, rep):
        mentions = self.pages.sparkSession.read.parquet(rep.extra["mentions_path"])
        return canonicalize_triples(cooccurrence_triples_grouped(mentions))


class IncrementalStream(Workload):
    """Single-token gazetteer; availableNow stream, one file per trigger,
    MERGE per micro-batch into a seeded store."""

    name = "incremental_stream"
    threshold = 1.0

    def setup(self, ctx: Context) -> None:
        self.build(ctx, ctx.spark.read.schema(GAZETTEER_SCHEMA).parquet(ctx.paths["gazetteer"]),
                   self.threshold, 0)
        self.initial = ctx.read_pages(ctx.paths["pages"])
        self.stream_dir = ctx.paths["stream"]
        self.files = sorted(os.listdir(self.stream_dir))

    def prepare(self, ctx: Context) -> None:
        """Seeds the store with the initial batch once; every rep starts
        from a copy. No commit token: the stream's own batch ids must not
        collide with a seed marker."""
        self.seed_dir = ctx.fresh("seed")
        store = os.path.join(self.seed_dir, "triples")
        merge_into(ctx.spark, store, canonical_triples_fused(self.initial, self.bc))
        weights = pq.read_table(os.path.realpath(store), columns=["weight"]).column("weight")
        self.seed_weight = int(weights.to_numpy().sum())

    def warm(self, ctx: Context) -> None:
        """An untimed drain of the first staged file."""
        warm_dir = ctx.fresh("warm-stream")
        for f in self.files[:1]:
            shutil.copy(os.path.join(self.stream_dir, f), warm_dir)
        self.stream_dir = warm_dir
        try:
            self.rep(ctx, ctx.next_rep())
        finally:
            self.stream_dir = ctx.paths["stream"]

    def rep(self, ctx: Context, i: int) -> Rep:
        rep_dir = os.path.join(ctx.work, f"rep-{i}")
        shutil.rmtree(rep_dir, ignore_errors=True)
        shutil.copytree(self.seed_dir, rep_dir, symlinks=True)
        store = os.path.join(rep_dir, "triples")
        ckpt = os.path.join(rep_dir, "checkpoint")
        t0 = time.perf_counter()
        with ctx.tracer.span("rep", i=i) as root:
            with ctx.tracer.span("streaming.stream.start_triples_stream"):
                pages = read_webpage_stream(ctx.spark, self.stream_dir, max_files=1)
                q = start_triples_stream(ctx.spark, pages, self.bc, store, ckpt,
                                         window_tokens=WINDOW_TOKENS)
                q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        commits = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        add_batch = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]
        return Rep(wall, sum(p["numInputRows"] for p in progress), commits, store,
                   ["parquet"] * len(progress), root,
                   {"run_id": str(q.runId), "add_batch": add_batch,
                    "expected_batches": len(self.files)})

    def triples_plan(self, rep):
        """The per-batch upsert's triples, over a static page frame."""
        mentions = extract_mentions(self.initial, self.bc, window_tokens=WINDOW_TOKENS,
                                    columns=LIGHT_COLUMNS)
        return canonicalize_triples(cooccurrence_triples_grouped(mentions))

    def expected(self, ctx: Context) -> tuple[int, str]:
        """One fused batch over the initial pages plus every staged file."""
        stream = ctx.read_pages(ctx.paths["stream"])
        union = self.initial.unionByName(stream)
        return triples_digest(canonical_triples_fused(union, self.bc).toArrow())

    def scopes(self, rep, status, execs):
        """Each micro-batch's upsert reads its pages as a Scan ExistingRDD
        node: :func:`upsert_scopes` splits the batches' jobs."""
        return upsert_scopes(execs, "Scan ExistingRDD")

    def udf_probe(self, ctx: Context):
        """Spark does not attribute the streaming plan's MapInPandas metrics
        to the foreachBatch executions that run it, so the per-batch UDF
        metrics come from the upsert's extraction call replayed over one
        staged file as a static frame; the caller scales them by the
        batch count."""
        one = ctx.read_pages(os.path.join(ctx.paths["stream"], self.files[0]))
        return extract_mentions(one, self.bc, window_tokens=WINDOW_TOKENS,
                                columns=LIGHT_COLUMNS)


def upsert_scopes(execs, source_node: str) -> dict[str, list[int]]:
    """Triples and sink jobs of ``merge_into_parquet`` calls, whose SQL
    executions are ``execs``. Each call runs two executions over its
    updates: the touched-bucket collect, which computes the mentions and
    triples (its plan holds ``source_node``), and the store write."""
    def has(e, node):
        return any(node in name for name, _m in e.nodes)

    write = "InsertIntoHadoopFsRelationCommand"
    return {
        "triples": sorted({j for e in execs if has(e, source_node) and not has(e, write)
                           for j in e.jobs}),
        "sinks": sorted({j for e in execs if has(e, write) for j in e.jobs}),
    }


WORKLOADS = {w.name: w for w in (FusedCrawl, CheckpointedCrawl, IncrementalStream)}


def parser_bytes(parser) -> int:
    return len(pickle.dumps(parser, protocol=pickle.HIGHEST_PROTOCOL))
