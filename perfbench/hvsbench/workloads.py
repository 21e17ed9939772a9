"""The workloads and the metrics they report.

Every workload: build its state ``setup_reps`` times from seeded inputs and
report the median as set-up; warm up; measure for ``seconds``; then check
every recorded response against the NumPy oracles. With tracing on, a second
phase of the same length repeats the measurement with spans and Spark job
counters, and the per-layer metrics come from those spans.

End-to-end metrics, reported by every workload (an *operation* is one API
call on ``food_finder`` and one query answered on ``bulk_ingest``):

  setup_s            session start + median of the repeated state builds
  latency_mix_p50_ms each operation kind's median latency, weighted by
                     its share of the operations
  ops_per_s          operations completed per second
  recall_at_k        mean tie-aware recall@k of returned neighbours against
                     the exact oracle (1.0 for exact search)
  ingest_rows_per_s  rows through generate -> flatten -> embed -> store:
                     the set-up builds after the first on food_finder,
                     the timed ivf_add steps on bulk_ingest
  live_mem_mb        memory held after the measured phase: the JVM's live
                     heap and non-heap, this process's and Python workers' PSS
"""

from __future__ import annotations

import gc
import random
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

from hybrid_vector_search_spark.api import ApiError, SearchConfig, SearchEngine
from hybrid_vector_search_spark.operators.embed import HashingEmbedder, embed_documents
from hybrid_vector_search_spark.operators.ivf import build_ivf, ivf_add, ivf_search_batch
from hybrid_vector_search_spark.operators.knn import knn_join
from hybrid_vector_search_spark.sources.catalog_gen import flatten_catalogs, generate_catalogs

from . import host, oracle, reqgen, stats
from .tracing import (
    Tracer,
    executed_plan,
    job_group,
    join_rows,
    patched_layers,
    rows_into_lowest,
    rows_into_root,
    scanned_rows,
    spark_counts,
)

EMB_DIM = 1024  # the reference's voyage-3.5 dimension (BASELINE.md)
EMB_COL = "emb_description"
WARMUP_BATCH = -1  # ingest_batch of bulk_ingest's untimed warm-up rows (base rows are 0)
GC_ROUNDS = 6  # full collections before live memory is read

# the reference SearchConfig (tests/test_reference_scenario.py)
REFERENCE_CONFIG = SearchConfig(
    id_col="_id",
    title_col="title",
    emb_col=EMB_COL,
    available_col="product.available",
    price_col="product.price.amount",
    restaurant_col="restaurantName",
    extra_project=("product",),
)


def oracle_columns() -> list:
    return [
        F.col("_id"),
        F.col("title"),
        F.col("restaurantName"),
        F.col("product.available").alias("available"),
        F.col("product.price.amount").alias("price"),
        F.col("product.description").alias("description"),
        F.col(EMB_COL).alias("emb"),
    ]


@dataclass(frozen=True)
class Serving:
    catalogs: int
    clients: int
    setup_reps: int
    warmup: int  # untimed requests before measuring, sent by all clients


@dataclass(frozen=True)
class Bulk:
    base_catalogs: int
    ingest_catalogs: int
    queries: int
    clusters: int
    nprobe: int
    kmeans_iters: int
    setup_reps: int
    k: int = 10


WORKLOADS: dict[str, Serving | Bulk] = {
    "food_finder": Serving(1000, clients=2, setup_reps=4, warmup=8),
    "bulk_ingest": Bulk(
        base_catalogs=200,
        ingest_catalogs=25,
        queries=8,
        clusters=16,
        nprobe=4,
        kmeans_iters=5,
        setup_reps=3,
    ),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, float] = field(default_factory=dict)  # end-to-end
    layers: dict[str, float] = field(default_factory=dict)  # per-layer
    notes: dict[str, float] = field(default_factory=dict)  # recorded, not reported
    tracer: Tracer | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        if self.failed <= 20:
            log(f"FAILED {what}")


class Context:
    def __init__(self, spark, seed: int, seconds: float, trace: bool, workdir: Path, spark_start_s: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.spark_start_s = spark_start_s
        self.embedder = HashingEmbedder(EMB_DIM)
        self.vectors = oracle.TextVectors(EMB_DIM)
        self.out = Outcome(tracer=Tracer() if trace else None)

    def sub_seed(self, *parts: int) -> int:
        """A seed for one input stream, derived from the run's seed."""
        return random.Random(f"{self.seed}/{parts}").getrandbits(32)

    def embed(self, text: str) -> list[float]:
        """A query vector for the program's inputs, made by the oracle."""
        return [float(x) for x in self.vectors.one(text)]

    def end_measurement(self) -> None:
        """Read memory at the end of the measured phase, before the oracle
        allocates its own arrays: the JVM's live heap after a full GC plus
        its non-heap, and the PSS of this process and the Python workers. The
        summed peak RSS of the processes is recorded per layer; it swings by
        a third between runs with the JVM's heap sizing."""
        jvm = self.spark._jvm
        runtime = jvm.java.lang.Runtime.getRuntime()
        # Python's references to JVM objects go first; Spark's cleaner then
        # releases blocks and broadcasts only after the JVM has collected
        # their owners, some collections later, and two readings in a row
        # can agree before it has: take the least of a fixed number
        heap = None
        for _ in range(GC_ROUNDS):
            gc.collect()
            jvm.System.gc()
            used = runtime.totalMemory() - runtime.freeMemory()
            heap = used if heap is None else min(heap, used)
            time.sleep(0.3)
        non_heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
        python = host.tree_pss_without("java")
        mb = 1024 * 1024
        self.out.metrics["live_mem_mb"] = (heap + non_heap + python) / mb
        self.out.layers["memory.jvm_live_heap_mb"] = heap / mb
        self.out.layers["memory.python_pss_mb"] = python / mb
        self.out.layers["memory.peak_rss_mb"] = host.tree_peak_rss_bytes() / mb


# ---------------------------------------------------------------- ingest


@dataclass
class Ingested:
    df: Any
    rows: int
    generate_s: float
    flatten_s: float
    embed_s: float
    total_s: float


def ingest(ctx: Context, catalogs: int, seed: int, store: Callable[[Any], int]) -> Ingested:
    """generate -> flatten -> embed -> ``store`` (which materialises the
    frame and returns its row count). With tracing, flatten is materialised
    on its own first so its time can be told from embedding's."""
    t0 = time.perf_counter()
    raw = generate_catalogs(ctx.spark, catalogs, seed=seed)
    t1 = time.perf_counter()
    flat = flatten_catalogs(raw)
    if ctx.trace:
        flat.count()
    t2 = time.perf_counter()
    df = embed_documents(flat, "product.description", EMB_COL, embedder=ctx.embedder)
    rows = store(df)
    t3 = time.perf_counter()
    return Ingested(df, rows, t1 - t0, t2 - t1, t3 - t2, t3 - t0)


def repeat_setup(ctx: Context, reps_wanted: int, build: Callable[[int], tuple[Ingested, dict[str, float], Any]]):
    """Run ``build`` ``reps_wanted`` times; returns the last state and
    records the set-up metrics over the repetitions."""
    reps = []
    state = None
    for r in range(reps_wanted):
        t0 = time.perf_counter()
        ing, extra, state = build(r)
        reps.append((time.perf_counter() - t0, ing, extra))
        log(f"set-up {r + 1}/{reps_wanted}: {reps[-1][0]:.2f} s, {ing.rows} rows")
    m, lay = ctx.out.metrics, ctx.out.layers
    m["setup_s"] = ctx.spark_start_s + statistics.median(r[0] for r in reps)
    # over the builds after the first, which also pays for the JVM's
    # just-in-time compilation of the ingest path; the later builds are
    # still speeding up, so the last alone moves most from run to run
    warm = reps[1:] or reps
    m["ingest_rows_per_s"] = sum(r[1].rows for r in warm) / sum(r[1].total_s for r in warm)
    lay["catalog_gen.generate_s"] = statistics.median(r[1].generate_s for r in reps)
    lay["catalog_gen.flatten_s"] = statistics.median(r[1].flatten_s for r in reps)
    lay["embed.documents_s"] = statistics.median(r[1].embed_s for r in reps)
    lay["embed.rows_per_s"] = statistics.median(r[1].rows / r[1].embed_s for r in reps)
    for key in reps[-1][2]:
        lay[key] = statistics.median(r[2][key] for r in reps)
    return state


# ---------------------------------------------------------------- serving


@dataclass
class Record:
    req: reqgen.Request
    response: Any
    error: BaseException | None
    latency_s: float
    end: float
    traced: bool = False
    captured: list = field(default_factory=list)  # (layer, lazy DataFrame)
    counts: Any = None  # SparkCounts of the request's job group

    @property
    def valid(self) -> bool:
        return self.req.kind != "invalid"


def call(engine: SearchEngine, req: reqgen.Request):
    try:
        if req.kind == "restaurants":
            return engine.restaurants(), None
        return engine.search(req.payload), None
    except ApiError as e:
        return None, e
    except Exception as e:  # a failed request is recorded, the clients keep going
        traceback.print_exc(file=sys.stderr)
        return None, e


def serve(ctx: Context, engine, stream, clients: int, seconds: float, traced: bool) -> tuple[list[Record], float]:
    """Closed loop: each client sends its next request when the previous
    one returns. Requests in flight at the deadline complete."""
    lock = threading.Lock()
    records: list[Record] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client():
        while True:
            with lock:
                if time.perf_counter() >= deadline:
                    return
                req = next(stream)
            rec = traced_call(ctx, engine, req) if traced else untraced_call(engine, req)
            with lock:
                records.append(rec)

    with ThreadPoolExecutor(clients, thread_name_prefix="client") as pool:
        for f in [pool.submit(client) for _ in range(clients)]:
            f.result()
    elapsed = max((r.end for r in records), default=time.perf_counter()) - start
    return records, elapsed


def untraced_call(engine, req) -> Record:
    t0 = time.perf_counter()
    response, error = call(engine, req)
    t1 = time.perf_counter()
    return Record(req, response, error, t1 - t0, t1)


def traced_call(ctx: Context, engine, req) -> Record:
    """The request under a span and its own Spark job group."""
    rid = req.seq
    with ctx.out.tracer.request_span("api.request", rid, kind=req.kind) as rctx, job_group(
        ctx.sc, f"perfbench-req-{rid}"
    ):
        t0 = time.perf_counter()
        response, error = call(engine, req)
        t1 = time.perf_counter()
    return Record(req, response, error, t1 - t0, t1, traced=True, captured=rctx.captured)


def execute_captured(ctx: Context, records: list[Record]) -> None:
    """After the traced phase, so the phase keeps the untraced phase's
    concurrency: read each request's job counts, then collect each layer
    DataFrame it captured alone, under an exec span of that request."""
    tracer, sc = ctx.out.tracer, ctx.sc
    for rec in records:
        rid = rec.req.seq
        rec.counts = spark_counts(sc, f"perfbench-req-{rid}")
        for key, df in rec.captured:
            group = f"perfbench-exec-{rid}-{key}"
            with job_group(sc, group), tracer.span(f"{key}.exec", request_id=rid) as attrs:
                results = len(df.collect())
            c = spark_counts(sc, group)
            plan = executed_plan(df)
            attrs.update(jobs=c.jobs, tasks=c.tasks, failed_tasks=c.failed_tasks, results=results)
            attrs.update(rows_read=scanned_rows(plan), rows_into_top=rows_into_root(plan))
            attrs.update(rows_aggregated=rows_into_lowest(plan, "HashAggregate"))


def run_serving(ctx: Context, w: Serving) -> None:
    corpus_seed = ctx.sub_seed(1)
    previous: list = []

    def build(r: int):
        for old in previous:  # free the earlier repetition's cached state
            old.unpersist()
        previous.clear()

        def store(df):
            df.cache()
            return df.count()

        ing = ingest(ctx, w.catalogs, corpus_seed, store)
        table = ing.df
        previous.append(table)
        t0 = time.perf_counter()
        engine = SearchEngine(table, REFERENCE_CONFIG, embedder=ctx.embedder)
        init_s = time.perf_counter() - t0
        stats_ = engine._stats
        previous.extend([stats_.postings, stats_.doc_len, stats_.doc_freq, stats_.corpus])
        return ing, {"api.engine_init_s": init_s}, (engine, table)

    engine, table = repeat_setup(ctx, w.setup_reps, build)

    warm = reqgen.food_requests(ctx.sub_seed(2))
    with ThreadPoolExecutor(w.clients, thread_name_prefix="client") as pool:
        list(pool.map(lambda req: untraced_call(engine, req), [next(warm) for _ in range(w.warmup)]))

    log(f"measuring for {ctx.seconds:g} s with {w.clients} client(s)")
    records, elapsed = serve(ctx, engine, reqgen.food_requests(ctx.sub_seed(3)), w.clients, ctx.seconds, False)
    traced: list[Record] = []
    if ctx.trace:
        with patched_layers(ctx.out.tracer):
            traced, _ = serve(
                ctx, engine, reqgen.food_requests(ctx.sub_seed(3)), w.clients, ctx.seconds, True
            )
        execute_captured(ctx, traced)

    valid = [r for r in records if r.valid]
    m = ctx.out.metrics
    by_kind = latency_by_kind(valid)
    m["latency_mix_p50_ms"] = stats.mix_weighted_median(by_kind)
    m["ops_per_s"] = len(valid) / elapsed
    ctx.out.notes["latency_p50_ms"] = stats.median([r.latency_s * 1000 for r in valid])
    for kind, lat in by_kind.items():
        ctx.out.notes[f"latency_p50_ms.{kind}"] = stats.median(lat)
        ctx.out.notes[f"requests.{kind}"] = len(lat)

    ctx.end_measurement()
    log("checking responses against the oracle")
    check = oracle.ServingOracle(
        oracle.Corpus.from_arrow(table.select(*oracle_columns()).toArrow(), ctx.vectors), ctx.vectors
    )
    ctx.out.attempted += 1
    wrong = int(check.c.wrong_vectors.sum())
    if wrong:
        ctx.out.fail(f"corpus: {wrong} of {len(check.c)} stored vectors differ from the oracle's")
    recalls = []
    for rec in records + traced:
        ctx.out.attempted += 1
        reason, recall = check.check(rec.req.kind, rec.req.payload, rec.response, rec.error)
        if reason is not None:
            ctx.out.fail(f"{rec.req.kind} #{rec.req.seq} {rec.req.payload}: {reason}")
        if recall is not None and not rec.traced:
            recalls.append(recall)
    m["recall_at_k"] = stats.mean_or_zero(recalls) if recalls else 1.0
    if ctx.trace:
        serving_layers(ctx, valid, [r for r in traced if r.valid])


def latency_by_kind(records: list[Record]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r.req.kind, []).append(r.latency_s * 1000)
    return out


def serving_layers(ctx: Context, untraced: list[Record], traced: list[Record]) -> None:
    tracer, lay = ctx.out.tracer, ctx.out.layers
    ms = lambda name: [s.ms for s in tracer.named(name)]  # noqa: E731
    by_kind: dict[str, list[Record]] = {}
    for r in traced:
        by_kind.setdefault(r.req.kind, []).append(r)

    for kind in ("vector", "hybrid", "fulltext"):
        recs = by_kind.get(kind, [])
        lay[f"api.search_ms.{kind}"] = stats.median_or_zero([r.latency_s * 1000 for r in recs])
    lay["api.restaurants_ms"] = stats.median_or_zero(
        [r.latency_s * 1000 for r in by_kind.get("restaurants", [])]
    )
    lay["api.results_returned"] = stats.mean_or_zero(
        [len(r.response["results"]) for r in traced if r.req.kind != "restaurants" and r.response]
    )
    for kind in ("vector", "hybrid", "fulltext", "restaurants"):
        recs = [r for r in by_kind.get(kind, []) if r.counts is not None]
        lay[f"spark.jobs_per_request.{kind}"] = stats.median_or_zero([r.counts.jobs for r in recs])
        lay[f"spark.tasks_per_request.{kind}"] = stats.median_or_zero([r.counts.tasks for r in recs])
    exec_spans = [s for s in tracer.spans if s.name.endswith(".exec")]
    lay["spark.failed_tasks"] = float(
        sum(r.counts.failed_tasks for r in traced if r.counts) + sum(s.attrs.get("failed_tasks", 0) for s in exec_spans)
    )

    lay["embed.query_vector_ms"] = stats.median_or_zero(ms("embed.query_vector"))
    lay["knn.build_ms"] = stats.median_or_zero(ms("knn.build"))
    lay["knn.exec_ms"] = stats.median_or_zero(ms("knn.exec"))
    knn_exec = tracer.named("knn.exec")
    lay["knn.spark_jobs"] = stats.median_or_zero([s.attrs["jobs"] for s in knn_exec])
    lay["knn.spark_tasks"] = stats.median_or_zero([s.attrs["tasks"] for s in knn_exec])
    # rows the scan and pre-filter hand to the scorer, as Spark counted them
    lay["knn.rows_scored"] = stats.mean_or_zero([s.attrs["rows_into_top"] for s in knn_exec])
    lay["knn.rows_scored_per_result"] = stats.mean_or_zero(
        [s.attrs["rows_into_top"] / max(1, s.attrs["results"]) for s in knn_exec]
    )

    lay["bm25.scores_build_ms"] = stats.median_or_zero(ms("bm25.scores_build"))
    lay["bm25.scores_exec_ms"] = stats.median_or_zero(ms("bm25.scores.exec"))
    bm_exec = tracer.named("bm25.scores.exec")
    lay["bm25.spark_jobs"] = stats.median_or_zero([s.attrs["jobs"] for s in bm_exec])
    lay["bm25.spark_tasks"] = stats.median_or_zero([s.attrs["tasks"] for s in bm_exec])
    lay["bm25.fulltext_exec_ms"] = stats.median_or_zero(ms("bm25.fulltext.exec"))
    # postings reaching the score aggregation, and rows the scans returned
    lay["bm25.postings_matched"] = stats.mean_or_zero([s.attrs["rows_aggregated"] for s in bm_exec])
    lay["bm25.rows_read"] = stats.mean_or_zero([s.attrs["rows_read"] for s in bm_exec])

    exec_ms: dict[tuple[int, str], float] = {}
    for s in exec_spans:
        exec_ms[(s.request_id, s.name)] = s.ms
    fusion_self = [
        r.latency_s * 1000
        - exec_ms.get((r.req.seq, "knn.exec"), 0.0)
        - exec_ms.get((r.req.seq, "bm25.scores.exec"), 0.0)
        for r in by_kind.get("hybrid", [])
    ]
    lay["fusion.self_ms"] = stats.median_or_zero(fusion_self)
    trace_overhead(ctx, latency_by_kind(untraced), latency_by_kind(traced))


def trace_overhead(ctx: Context, untraced: dict[str, list[float]], traced: dict[str, list[float]]) -> None:
    """The end-to-end latency statistic of both phases and its difference;
    the highest percentile the untraced samples support."""
    lay = ctx.out.layers
    lay["trace.untraced_latency_mix_p50_ms"] = stats.mix_weighted_median(untraced)
    lay["trace.latency_mix_p50_ms"] = stats.mix_weighted_median(traced)
    lay["trace.overhead_ms"] = lay["trace.latency_mix_p50_ms"] - lay["trace.untraced_latency_mix_p50_ms"]
    untraced_ms = [x for v in untraced.values() for x in v]
    tail = stats.highest_supported(len(untraced_ms))
    lay["trace.untraced_samples"] = float(len(untraced_ms))
    lay["trace.untraced_tail_pct"] = tail or 0.0
    lay["trace.untraced_tail_ms"] = stats.percentile(untraced_ms, tail) if tail else 0.0
    lay["trace.spans"] = float(len(ctx.out.tracer.spans))


# ---------------------------------------------------------------- bulk


@dataclass
class Iteration:
    index: int
    traced: bool
    qids: list[int]
    qvecs: list[list[float]]
    ingest_s: float = 0.0
    exact_s: float = 0.0
    ann_s: float = 0.0
    exact: Any = None
    ann: Any = None
    plans: dict[str, list] = field(default_factory=dict)  # executed plans, traced iterations
    errors: list[str] = field(default_factory=list)


def run_bulk(ctx: Context, w: Bulk) -> None:
    base_seed = ctx.sub_seed(1)

    def build(r: int):
        def store(df):
            df.cache()
            return df.count()

        ing = ingest(ctx, w.base_catalogs, base_seed, store)
        base = ing.df.withColumn("ingest_batch", F.lit(0))
        t0 = time.perf_counter()
        index = build_ivf(
            ctx.spark,
            base,
            str(ctx.workdir / f"ivf_{r}"),
            id_col="_id",
            vector_col=EMB_COL,
            n_clusters=w.clusters,
            seed=base_seed % 1_000_003,
            max_iter=w.kmeans_iters,
        )
        build_s = time.perf_counter() - t0
        ing.df.unpersist()
        return ing, {"ivf.build_s": build_s}, index

    index = repeat_setup(ctx, w.setup_reps, build)
    tracer = ctx.out.tracer

    def step(name: str, fn):
        if tracer is None or not it.traced:
            return fn()
        with tracer.span(name, request_id=it.index):
            return fn()

    # warm-up: one untimed ingest and one pass of both query paths
    add_batch(ctx, w, index, ctx.sub_seed(3), WARMUP_BATCH)
    warm = [ctx.embed(t) for t in reqgen.query_texts(ctx.sub_seed(2), w.queries)]
    _exact_topk(ctx, index, list(enumerate(warm)), w.k).collect()
    ivf_search_batch(ctx.spark, index, list(enumerate(warm)), w.k, nprobe=w.nprobe).collect()

    iterations: list[Iteration] = []
    budget = ctx.seconds * (2 if ctx.trace else 1)
    log(f"measuring for {budget:g} s")
    start = time.perf_counter()
    i = 0
    # start another iteration until the budget is spent, like a request in
    # flight at the deadline; a traced run has at least one untraced and one
    # traced iteration
    while i < (2 if ctx.trace else 1) or time.perf_counter() - start < budget:
        i += 1
        texts = reqgen.query_texts(ctx.sub_seed(100, i), w.queries)
        it = Iteration(i, ctx.trace and i % 2 == 0, list(range(w.queries)), [ctx.embed(t) for t in texts])
        iterations.append(it)
        batch_seed = ctx.sub_seed(200, i)

        t0 = time.perf_counter()
        try:
            step("ivf.add", lambda: add_batch(ctx, w, index, batch_seed, i, step))
        except Exception as e:  # the loop goes on; the failure is counted
            traceback.print_exc(file=sys.stderr)
            it.errors.append(f"ivf_add: {e}")
        t1 = time.perf_counter()
        it.ingest_s = t1 - t0

        def exact():
            return _exact_topk(ctx, index, list(zip(it.qids, it.qvecs)), w.k)

        def ann():
            return ivf_search_batch(ctx.spark, index, list(zip(it.qids, it.qvecs)), w.k, nprobe=w.nprobe)

        for name, build, attr in (("knn.join_exec", exact, "exact"), ("ivf.search_batch_exec", ann, "ann")):
            t0 = time.perf_counter()
            try:
                df = build()
                setattr(it, attr, step(name, df.collect))
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                it.errors.append(f"{name}: {e}")
                df = None
            setattr(it, f"{attr}_s", time.perf_counter() - t0)
            if it.traced and df is not None:
                it.plans[attr] = executed_plan(df)
        log(f"iteration {i}: ingest {it.ingest_s:.2f} s, knn_join {it.exact_s:.2f} s, ivf {it.ann_s:.2f} s")
    elapsed = time.perf_counter() - start

    ctx.end_measurement()
    log("checking results against the oracle")
    layout = ctx.spark.read.parquet(index.path).select(
        "_id",
        F.col(EMB_COL).alias("emb"),
        F.col("product.description").alias("description"),
        "cluster_id",
        "ingest_batch",
    ).toArrow()
    check_bulk(ctx, w, index, layout, iterations)

    untraced = [x for x in iterations if not x.traced]
    by_kind = query_latency_by_kind(untraced)
    m = ctx.out.metrics
    m["latency_mix_p50_ms"] = stats.mix_weighted_median(by_kind)
    ctx.out.notes["latency_p50_ms"] = stats.median([x for v in by_kind.values() for x in v])
    m["ops_per_s"] = sum(2 * len(x.qids) for x in untraced) / sum(
        x.ingest_s + x.exact_s + x.ann_s for x in untraced
    )
    if ctx.trace:
        m_lay = ctx.out.layers
        traced = [x for x in iterations if x.traced]
        m_lay["ivf.add_s"] = stats.median_or_zero([s.ms / 1000 for s in tracer.named("ivf.add")])
        m_lay["knn.join_exec_s"] = stats.median_or_zero([s.ms / 1000 for s in tracer.named("knn.join_exec")])
        m_lay["ivf.search_batch_exec_s"] = stats.median_or_zero(
            [s.ms / 1000 for s in tracer.named("ivf.search_batch_exec")]
        )
        trace_overhead(ctx, by_kind, query_latency_by_kind(traced))
    log(f"{len(iterations)} iterations in {elapsed:.1f} s")


def query_latency_by_kind(iterations: list[Iteration]) -> dict[str, list[float]]:
    """Each query's latency is the wall time of the batch that answered it."""
    return {
        "exact": [x.exact_s * 1000 for x in iterations for _ in x.qids],
        "ann": [x.ann_s * 1000 for x in iterations for _ in x.qids],
    }


def add_batch(ctx: Context, w: Bulk, index, seed: int, tag: int, step=lambda name, fn: fn()) -> None:
    """generate -> flatten -> embed -> ivf_add, rows tagged ``ingest_batch``."""
    raw = step("catalog_gen.generate", lambda: generate_catalogs(ctx.spark, w.ingest_catalogs, seed=seed))
    rows = embed_documents(flatten_catalogs(raw), "product.description", EMB_COL, embedder=ctx.embedder)
    ivf_add(ctx.spark, index, rows.withColumn("ingest_batch", F.lit(tag)))


def _exact_topk(ctx: Context, index, queries: list[tuple[int, list[float]]], k: int):
    frame = ctx.spark.createDataFrame(queries, "query_id bigint, embedding array<double>")
    layout = ctx.spark.read.parquet(index.path).select("_id", EMB_COL)
    return knn_join(frame, layout, k, corpus_vector_col=EMB_COL, corpus_id_col="_id")


def check_bulk(ctx: Context, w: Bulk, index, layout, iterations: list[Iteration]) -> None:
    expected = ctx.vectors.many(layout.column("description").to_pylist())
    wrong = oracle.wrong_vectors(oracle.vectors_from_arrow(layout.column("emb"), EMB_DIM), expected)
    raw = expected.astype(np.float64)
    unit = oracle.unit_rows(raw)
    ids = np.array(layout.column("_id").to_pylist(), dtype=object)
    cluster = layout.column("cluster_id").to_numpy()
    batch = layout.column("ingest_batch").to_numpy()
    cents = index.centroids
    assigned = ((cents * cents).sum(axis=1)[None, :] - 2.0 * (raw @ cents.T)).argmin(axis=1)
    cent_unit = oracle.unit_rows(cents)

    out, lay = ctx.out, ctx.out.layers

    def check_stored(what: str, rows: np.ndarray) -> None:
        out.attempted += 1
        if not rows.any():
            out.fail(f"{what}: rows missing")
        elif (assigned[rows] != cluster[rows]).any():
            out.fail(f"{what}: rows in the wrong cluster")
        elif wrong[rows].any():
            out.fail(f"{what}: {int(wrong[rows].sum())} stored vectors differ from the oracle's")

    check_stored("base layout", batch == 0)
    check_stored("warm-up ingest", batch == WARMUP_BATCH)
    recalls, ingested_rows, ingest_s = [], 0, 0.0
    pairs, probe_share, read = [], [], []
    for it in iterations:
        rows = batch <= it.index
        mine = batch == it.index
        out.attempted += 2 * len(it.qids)
        for err in it.errors:
            out.fail(f"iteration {it.index}: {err}")
        check_stored(f"iteration {it.index} ingest", mine)
        if not it.traced:
            ingested_rows += int(mine.sum())
            ingest_s += it.ingest_s
        exact_by_q = group_results(it.exact)
        ann_by_q = group_results(it.ann)
        for qid, qv in zip(it.qids, it.qvecs):
            exact_scores = np.where(rows, oracle.atlas_cosine(unit, qv), np.nan)
            reason = oracle.check_ranked(exact_by_q.get(qid, []), ids, exact_scores, rows, w.k)
            if reason:
                out.fail(f"knn_join iteration {it.index} query {qid}: {reason}")
            q = np.asarray(qv, dtype=np.float64)
            probed = np.argsort(-(cent_unit @ (q / np.linalg.norm(q))))[: w.nprobe]
            in_probe = rows & np.isin(cluster, probed)
            probe_scores = np.where(in_probe, exact_scores, np.nan)
            reason = oracle.check_ranked(ann_by_q.get(qid, []), ids, probe_scores, in_probe, w.k)
            if reason:
                out.fail(f"ivf_search_batch iteration {it.index} query {qid}: {reason}")
            if not it.traced:
                recalls.append(
                    oracle.tie_aware_recall([g[0] for g in ann_by_q.get(qid, [])], ids, exact_scores, w.k)
                )
        # the work Spark did, from the executed plans of traced iterations
        size = int(rows.sum())
        if "exact" in it.plans:
            pairs.append(join_rows(it.plans["exact"]))
        if "ann" in it.plans:
            probe_share.append(join_rows(it.plans["ann"]) / (len(it.qids) * size))
            read.append(scanned_rows(it.plans["ann"], "Scan parquet") / size)
    ctx.out.metrics["recall_at_k"] = stats.mean_or_zero(recalls)
    ctx.out.metrics["ingest_rows_per_s"] = ingested_rows / ingest_s if ingest_s else 0.0
    lay["knn.join_pairs_scored"] = stats.mean_or_zero(pairs)
    lay["ivf.scan_fraction"] = stats.mean_or_zero(probe_share)
    lay["ivf.rows_read_fraction"] = stats.mean_or_zero(read)


def group_results(rows) -> dict[int, list[tuple[str, float]]]:
    """Result rows -> per query, ordered (score desc, id asc)."""
    out: dict[int, list[tuple[str, float]]] = {}
    for r in rows or []:
        out.setdefault(int(r["query_id"]), []).append((r["_id"], float(r["score"])))
    for v in out.values():
        v.sort(key=lambda t: (-t[1], t[0]))
    return out
