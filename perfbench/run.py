#!/usr/bin/env python3
"""Benchmark of the PySpark full-text engine. Workloads: serve-cached and
serve-fetch (gated by ``BENCHMARK.json``), serve-distributed and build.

Run it from the root of a checkout:

    python3 perfbench/run.py --workload serve-cached --seed 1 --seconds 25 --trace 0

It generates its inputs from ``--seed``, builds the index with the package in
this checkout, measures for ``--seconds`` seconds, checks the outputs, and
prints one ``name value unit`` line per metric, a ``host`` line, and, last,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones from spans around each call into the package, and the
spans are written to ``.perfbench/trace-<workload>-<seed>.json``. The exit
code is 0 only when every check passed and no operation failed. See
``perfbench/README.md`` for the workloads, sizes and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from types import SimpleNamespace  # noqa: E402
from typing import NamedTuple  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the benchmark's directory holds sources only

from measure import (  # noqa: E402
    QUERY_TYPES, CpuDelta, OpLog, Tracer, cpu_delta, median, pass_summary,
    per_unit, rate, read_cpu, request_stream,
)

# ---- stated sizes (recorded in BENCHMARK.json and README.md) ----
CORPUS_ROWS = 4000          # rows of the fixtures code corpus
# Driver heap, below host RAM, committed and touched at JVM start: a heap
# that grows on demand makes the JVM's peak RSS follow GC timing (1.5 vs
# 2.6 GB across runs of the same workload at -Xmx4g alone). rss_peak_mb then
# moves with the driver Python and the JVM's memory outside the heap.
DRIVER_MEMORY = "2g"
# The driver JVM compiles with C1 only (-XX:TieredStopAtLevel=1). With the
# default tiered C2 a run never reaches steady state: on the 4-core
# development VM, serve-cached p50 fell from 22 to 16 ms over the first 40 s of
# queries and warm builds from 6.5 to 5.2 s over five builds, so a run
# measured where on that ramp its window fell. Under C1 the first warm build
# already takes its steady time (5.4 s, +-1% over three) and query p50 is
# flat (about 20 ms) within 2 s of the first query. serve-fetch still
# speeds up over its first passes (p50 98, 90, 85 ms), as Spark generates and
# compiles code for each new query plan; an untimed warm-up takes the
# steepest part off.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
WARMUP_REQUESTS = 50        # half a pass, from a separate seeded shuffle
STREAM_LEN = 20_000         # longer than any window can consume
ORACLE_SAMPLE = 8           # first requests of the stream
ROUTE_SAMPLE = 2            # of those, compared across two routes
DF_SAMPLE = 40              # terms whose df the merge check compares
MIN_WARM_BUILDS = 2
FIRST_QUERY = "def main"    # the first served query (loads the driver cache)

HZ = os.sysconf("SC_CLK_TCK")


class CheckFailed(Exception):
    pass


def log(msg: str) -> None:
    """Progress on stderr, with seconds since process start."""
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ------------------------------------------------------------------ session

def import_package():
    """Import the engine from this checkout only; anything else is an error."""
    sys.path.insert(0, ROOT)
    import elasticsearch_alps_spark as pkg
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"engine package found outside the checkout: "
                          f"{pkg.__file__}")
    return pkg


def start_session(work: str, tracer: Tracer):
    """``local[nproc]`` with every scratch directory inside ``work`` (the
    JVM's perf-data file would go to /tmp, so it is off)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit first runs a launcher JVM with these options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.session import ship_package
    cores = len(os.sched_getaffinity(0))
    with tracer.span("session.start"):
        spark = (SparkSession.builder.master(f"local[{cores}]")
                 .appName("perfbench")
                 .config("spark.driver.memory", DRIVER_MEMORY)
                 .config("spark.driver.extraJavaOptions",
                         f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {JIT_OPTS} "
                         f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
                 .config("spark.local.dir", tmp)
                 .config("spark.sql.warehouse.dir",
                         os.path.join(work, "warehouse"))
                 .config("spark.sql.shuffle.partitions", str(cores))
                 .config("spark.sql.execution.arrow.pyspark.enabled", "true")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        ship_package(spark)
    return spark, cores


def jvm_process():
    from pyspark import SparkContext
    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to
    exit: the JVM leaves when its stdin closes."""
    proc = jvm_process()
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def rss_peak_mb() -> float:
    """Driver Python plus driver JVM peak RSS."""
    proc = jvm_process()
    return hwm_mb(os.getpid()) + (hwm_mb(proc.pid) if proc else 0.0)


# ------------------------------------------------------------------- inputs

def corpus_rows(n: int, seed: int):
    from elasticsearch_alps_spark.fixtures import generate_documents
    return generate_documents(n, seed=seed)


def indexed(rows) -> int:
    """Docs the builder keeps: content with a non-blank character."""
    return sum(1 for r in rows if r[4] and r[4].strip())


def stream_for(seed: int, tag: str):
    """The seeded request stream over the reference query set (FIXTURES.md
    section 2): misspellings, uppercase, accents, rare ids, a miss and
    phrases of up to five terms."""
    from elasticsearch_alps_spark.fixtures import REFERENCE_QUERIES
    return request_stream(f"{seed}:{tag}", STREAM_LEN, REFERENCE_QUERIES)


def pass_size() -> int:
    """Requests in one pass of the stream: every text with every type."""
    from elasticsearch_alps_spark.fixtures import REFERENCE_QUERIES
    return len(REFERENCE_QUERIES) * len(QUERY_TYPES)


def write_corpus(ctx) -> str:
    from elasticsearch_alps_spark.fixtures import documents_df_distributed
    src = os.path.join(ctx.work, "corpus")
    t0 = time.perf_counter()
    with ctx.tracer.span("fixtures.corpus_gen"):
        documents_df_distributed(ctx.spark, CORPUS_ROWS,
                                 seed=ctx.seed).write.parquet(src)
    ctx.timings["fixtures.corpus_gen_s"] = time.perf_counter() - t0
    return src


def dir_bytes(path: str, skip=("_lineage",)) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d not in skip]
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in filenames)
    return total


# ------------------------------------------------------------------ builds

class Build(NamedTuple):
    """One timed build or merge: the index it made, wall, VM CPU, docs."""
    root: str
    wall_s: float
    cpu: CpuDelta
    n_docs: int


def timed_build(spark, docs, out: str, shards: int, tracer: Tracer,
                span: str) -> Build:
    from elasticsearch_alps_spark import IndexConfig
    from elasticsearch_alps_spark.indexing import build_index
    shutil.rmtree(out, ignore_errors=True)
    c0, t0 = read_cpu(), time.perf_counter()
    with tracer.span(span):
        paths = build_index(spark, docs, out, IndexConfig(), shards=shards)
    wall, c1 = time.perf_counter() - t0, read_cpu()
    n = paths.read_stats()["fields"]["main"]["n_docs"]
    return Build(out, wall, cpu_delta(c0, c1, HZ), n)


def timed_merge(spark, dirs, out: str, shards: int, tracer: Tracer) -> Build:
    from elasticsearch_alps_spark.merging import merge_indexes
    shutil.rmtree(out, ignore_errors=True)
    c0, t0 = read_cpu(), time.perf_counter()
    with tracer.span("merging.merge_indexes"):
        paths = merge_indexes(spark, dirs, out, shards=shards)
    wall, c1 = time.perf_counter() - t0, read_cpu()
    n = paths.read_stats()["fields"]["main"]["n_docs"]
    return Build(out, wall, cpu_delta(c0, c1, HZ), n)


def sampled_dfs(spark, roots, seed: int):
    """df of a seeded sample of the first index's terms, in every index."""
    from pyspark.sql import functions as F
    from elasticsearch_alps_spark.indexing import IndexPaths
    ts = [spark.read.parquet(IndexPaths(r).term_stats("main")) for r in roots]
    terms = sorted(r["term"] for r in ts[0].select("term").collect())
    sample = random.Random(f"df:{seed}").sample(terms, min(DF_SAMPLE, len(terms)))
    out = []
    for t in ts:
        got = {r["term"]: r["df"]
               for r in t.where(F.col("term").isin(sample)).collect()}
        out.append([got.get(s, 0) for s in sample])
    return out


def index_layer_metrics(cold: Build, build: Build, merged: Build) -> dict:
    """Per-layer record of the builds and the merge: the timed build's
    phases and bytes per doc. Phase times come from its lineage:
    ``phase_times.json`` for the whole build and the main field's
    ``phase_sec`` (the field with packed blocks, the longer of the two
    concurrent field builds)."""
    from elasticsearch_alps_spark.indexing import IndexPaths
    p = IndexPaths(build.root)
    with open(os.path.join(p.lineage_dir, "phase_times.json")) as f:
        phases = json.load(f)
    with open(os.path.join(p.lineage_dir, "field_main.json")) as f:
        phases.update(json.load(f)["phase_sec"])
    out = {f"indexing.phase.{k}_s": float(phases[k]) for k in PHASES}
    out["indexing.cold_build_s"] = cold.wall_s
    out["indexing.build_s"] = build.wall_s
    out["indexing.cpu_s"] = build.cpu.busy_s
    for part, path in (("docs", p.docs), ("main", p.field_dir("main")),
                       ("exact", p.field_dir("exact"))):
        out[f"indexing.bytes_per_doc.{part}"] = per_unit(dir_bytes(path),
                                                         build.n_docs)
    out["merging.merge_s"] = merged.wall_s
    out["merging.bytes_per_doc"] = per_unit(dir_bytes(merged.root),
                                            merged.n_docs)
    return out


PHASES = ("normalize_ids", "tokenize", "postings_write", "cf_total",
          "term_stats", "packed", "total")


# ----------------------------------------------------------------- serving

def query_fn(engine, qtype: str):
    return {"match": engine.match_query,
            "phrase": engine.match_phrase_query,
            "fuzzy": engine.fuzzy_query,
            "bool": engine.bool_must_query}[qtype]


def oracle_hits(oracle, qtype: str, text: str):
    if qtype == "match":
        return oracle.match_query(text, "or")
    if qtype == "phrase":
        return oracle.match_phrase_query(text, 0)
    if qtype == "fuzzy":
        return oracle.fuzzy_query(text)
    return oracle.bool_must_query(text, "and", 3)


def same_hits(got, want, rel: float = 1e-9) -> bool:
    """The tier-1 rule: rank-identical after rounding scores to 9 dp, and
    every score equal to ``rel`` relative."""
    g = sorted(((d, round(s, 9)) for d, s in got), key=lambda t: (-t[1], t[0]))
    w = sorted(((d, round(s, 9)) for d, s in want), key=lambda t: (-t[1], t[0]))
    if [d for d, _ in g] != [d for d, _ in w]:
        return False
    return all(abs(a - b) <= max(rel * max(abs(a), abs(b)), 1e-12)
               for (_, a), (_, b) in zip(g, w))


def hits_of(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


class Window:
    """Closed loop, one client: each request is sent when the previous one
    has been collected. Per request: time inside the query method (the
    DataFrame build) and time in ``.collect()``. ``marks`` holds the time
    and the host CPU sample at the start and after each whole pass."""

    def __init__(self):
        self.lat_ms = []
        self.marks = []
        self.by_type = {t: {"call": [], "collect": [], "jobs": []}
                        for t in QUERY_TYPES}
        self.traced_ms, self.untraced_ms = [], []
        self.hits: list = []
        self.results = {}
        self.ops = OpLog()
        self.wall_s = 0.0
        self.cpu = None


def run_requests(spark, engine, requests, seconds, tracer: Tracer,
                 keep=0, per_pass=None) -> Window:
    """Replay ``requests`` until ``seconds`` have passed and, given
    ``per_pass``, at least one whole pass of ``per_pass`` requests is done.
    In a traced run, requests alternate between traced — spans plus a Spark
    job group whose job ids are counted — and untraced, so the two halves
    give the tracing overhead; the untraced run traces nothing."""
    sc = spark.sparkContext
    w = Window()
    c0, t_begin = read_cpu(), time.perf_counter()
    w.marks.append((t_begin, c0))
    for req in requests:
        if ((per_pass is None or len(w.marks) > 1)
                and time.perf_counter() - t_begin >= seconds):
            break
        traced = tracer.enabled and req.rid % 2 == 0
        tr = tracer if traced else _UNTRACED
        fn = query_fn(engine, req.qtype)
        if traced:
            sc.setJobGroup(f"perfbench-{id(w)}-{req.rid}", req.qtype)

        def op():
            t0 = time.perf_counter()
            with tr.span("bench.request", req.rid):
                with tr.span(f"queries.{fn.__name__}"):
                    df = fn(req.text)
                t1 = time.perf_counter()
                with tr.span("queries.collect"):
                    rows = df.collect()
            return t0, t1, time.perf_counter(), rows

        ok, res = w.ops.run(op)
        if per_pass and (req.rid + 1) % per_pass == 0:
            w.marks.append((time.perf_counter(), read_cpu()))
        if not ok:
            continue
        t0, t1, t2, rows = res
        lat = (t2 - t0) * 1000.0
        w.lat_ms.append(lat)
        w.hits.append(len(rows))
        if req.rid < keep:
            w.results[req.rid] = hits_of(rows)
        if tracer.enabled:
            (w.traced_ms if traced else w.untraced_ms).append(lat)
        if traced:
            jobs = sc.statusTracker().getJobIdsForGroup(
                f"perfbench-{id(w)}-{req.rid}")
            sc.setLocalProperty("spark.jobGroup.id", None)
            bt = w.by_type[req.qtype]
            bt["call"].append((t1 - t0) * 1000.0)
            bt["collect"].append((t2 - t1) * 1000.0)
            bt["jobs"].append(len(jobs))
    w.wall_s = time.perf_counter() - t_begin
    w.cpu = cpu_delta(c0, read_cpu(), HZ)
    return w


_UNTRACED = Tracer(False)


ROUTES = {
    # workload → (QueryConfig overrides, cache): the route every query takes
    "serve-cached": ({}, True),
    "serve-fetch": ({}, False),
    "serve-distributed": ({"driver_score_max_postings": 0}, False),
}


def open_engine(spark, root: str, route: str):
    from elasticsearch_alps_spark import QueryConfig
    from elasticsearch_alps_spark.queries import SearchEngine
    overrides, cache = ROUTES[route]
    return SearchEngine(spark, root, QueryConfig(**overrides), cache=cache)


def index_corpus(ctx):
    """Setup shared by every workload: the seeded corpus to parquet and one
    cold build of it. The first build in a fresh JVM pays class loading and
    JIT (in setup_s); the indexer's steady cost is timed on later builds."""
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    docs = spark.read.parquet(write_corpus(ctx))
    log("corpus written")
    cold = timed_build(spark, docs, os.path.join(work, "idx"), ctx.cores,
                       tracer, "indexing.build_index.cold")
    log(f"cold build {cold.wall_s:.2f}s")
    return docs, cold


def check_merge(spark, one: Build, merged: Build, seed: int) -> None:
    check(merged.n_docs == 2 * one.n_docs,
          f"merge holds {merged.n_docs} docs, expected {2 * one.n_docs}")
    a, m = sampled_dfs(spark, [one.root, merged.root], seed)
    check(m == [2 * d for d in a], "merged df is not twice the source df")


def serve(ctx, route: str) -> dict:
    """serve-*: set up by serving the cold build's index over one route (one
    first query), warm the route up and replay the seeded request stream.
    The traced run also times a warm build of the corpus and a merge of the
    two builds (2x the docs, every df doubled) for the indexing and merging
    layers' metrics. The untraced run leaves them to ``build``: on the
    4-core development VM a 5 s build timed once or twice per run spread
    0.15-0.3 (IQR/median) across runs, and each build takes time the query
    window needs."""
    spark, tracer, work, seed = ctx.spark, ctx.tracer, ctx.work, ctx.seed
    docs, cold = index_corpus(ctx)
    t0 = time.perf_counter()
    with tracer.span("queries.SearchEngine"):
        engine = open_engine(spark, cold.root, route)
    engine_open_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("queries.first_query"):
        engine.match_query(FIRST_QUERY).collect()
    first_query_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_START
    log(f"engine open {engine_open_s:.2f}s, first query {first_query_s:.2f}s")

    builds, merged = [cold], None
    if tracer.enabled:
        builds.append(timed_build(spark, docs, os.path.join(work, "idx_w"),
                                  ctx.cores, tracer, "indexing.build_index"))
        merged = timed_merge(spark, [cold.root, builds[-1].root],
                             os.path.join(work, "idx_m"), ctx.cores, tracer)
        log(f"warm build {builds[-1].wall_s:.2f}s, merge {merged.wall_s:.2f}s")
    with tracer.span("bench.warmup"):
        warm = run_requests(spark, engine,
                            stream_for(seed, "warmup")[:WARMUP_REQUESTS],
                            math.inf, _UNTRACED)
    log(f"warm-up: {len(warm.lat_ms)} requests")
    requests = stream_for(seed, "measure")
    win = run_requests(spark, engine, requests, ctx.seconds, tracer,
                       keep=ORACLE_SAMPLE, per_pass=pass_size())
    rss = rss_peak_mb()
    log(f"window: {len(win.lat_ms)} requests")

    # ---- checks, outside the timed window ----
    rows = corpus_rows(CORPUS_ROWS, seed)
    for b in builds:
        check(b.n_docs == indexed(rows),
              f"build indexed {b.n_docs}, expected {indexed(rows)}")
    if merged is not None:
        check_merge(spark, builds[-1], merged, seed)
    log("builds checked")
    check(not warm.ops.failed, f"warm-up failures: {warm.ops.errors}")
    sample = requests[:ORACLE_SAMPLE]
    for r in sample:  # a slow route may not have reached them in the window
        if r.rid not in win.results:
            win.results[r.rid] = hits_of(
                query_fn(engine, r.qtype)(r.text).collect())
    oracle = build_oracle(spark, cold.root, rows)
    log("oracle built")
    for r in sample:
        check(same_hits(win.results[r.rid],
                        oracle_hits(oracle, r.qtype, r.text)),
              f"{route} {r.qtype}({r.text!r}) differs from the oracle")
    # the cached route is checked against the distributed one, the others
    # against the cached one, whose first queries on a fresh engine are fast
    other_route = ("serve-distributed" if route == "serve-cached"
                   else "serve-cached")
    other = open_engine(spark, cold.root, other_route)
    for r in sample[:ROUTE_SAMPLE]:
        got = hits_of(query_fn(other, r.qtype)(r.text).collect())
        check(same_hits(win.results[r.rid], got),
              f"{r.qtype}({r.text!r}) differs between {route} and "
              f"{other_route}")
    log("checks passed")

    # whole passes only: each holds the same request mix in every run
    p50, tail_ms, pct, passes = pass_summary(win.lat_ms, pass_size())
    (t0, c0), (t1, c1) = win.marks[0], win.marks[passes]
    n = passes * pass_size()
    e2e = {
        "setup_s": setup_s,
        "index_bytes_per_doc": per_unit(dir_bytes(cold.root), cold.n_docs),
        "query_p50_ms": p50,
        "query_tail_ms": tail_ms,
        "queries_per_s": rate(n, t1 - t0),
        "query_cpu_ms": per_unit(cpu_delta(c0, c1, HZ).busy_s * 1000.0, n),
        "rss_peak_mb": rss,
    }
    notes = {"query_tail_percentile": pct, "query_passes": passes,
             "query_samples": n, "window_requests": len(win.lat_ms),
             "failed_frac": win.ops.failed_frac,
             "warmup_requests": len(warm.lat_ms),
             "window_steal_frac": win.cpu.steal_frac,
             "window_busy_frac": win.cpu.busy_frac}
    layers = {}
    if tracer.enabled:
        layers = serve_layers(spark, tracer, win, requests, cold, builds[-1],
                              merged, engine_open_s, first_query_s)
    return {"e2e": e2e, "layers": layers, "notes": notes,
            "attempted": win.ops.attempted, "failed": win.ops.failed}


def build_oracle(spark, root: str, rows):
    """``oracle.OracleIndex`` over the raw rows with the engine's doc ids,
    built the way ``tests/conftest.py`` builds it, less the exact field:
    only term and wildcard queries read it, and the stream sends neither."""
    from elasticsearch_alps_spark import IndexConfig
    from elasticsearch_alps_spark.oracle import OracleIndex
    from elasticsearch_alps_spark.indexing import IndexPaths
    ids = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
           for r in spark.read.parquet(IndexPaths(root).docs)
           .select("repo", "path", "commit", "doc_id").collect()}
    docs = [(ids[(repo, path, commit)], content)
            for repo, path, commit, _lang, content in rows
            if (repo, path, commit) in ids]
    return OracleIndex(sorted(docs), IndexConfig(exact_analyzer=None))


def serve_layers(spark, tracer: Tracer, win: Window, requests, cold: Build,
                 build: Build, merged: Build, engine_open_s: float,
                 first_query_s: float) -> dict:
    from pyspark.sql import functions as F
    from elasticsearch_alps_spark import IndexConfig
    from elasticsearch_alps_spark.indexing import IndexPaths
    from elasticsearch_alps_spark.analysis.analyzers import analyze
    out = index_layer_metrics(cold, build, merged)
    out["queries.engine_open_s"] = engine_open_s
    out["queries.cache_load_s"] = first_query_s
    for t, bt in win.by_type.items():
        out[f"queries.call_ms.{t}"] = median(bt["call"])
        out[f"queries.collect_ms.{t}"] = median(bt["collect"])
        out[f"queries.spark_jobs_per_query.{t}"] = sum(bt["jobs"]) / len(bt["jobs"])
    out["queries.hits_per_query"] = sum(win.hits) / len(win.hits)
    done = requests[:len(win.lat_ms)]
    cfg = IndexConfig().analyzer
    texts = [r.text for r in done]
    t0 = time.perf_counter()
    with tracer.span("analysis.analyze"):
        analyzed = [analyze(t, cfg) for t in texts]
    out["analysis.query_analyze_us"] = (
        (time.perf_counter() - t0) * 1e6 / len(texts))
    terms = sorted({t for ts in analyzed for t in ts})
    df = {r["term"]: r["df"]
          for r in spark.read.parquet(IndexPaths(build.root).term_stats("main"))
          .where(F.col("term").isin(terms)).select("term", "df").collect()}
    out["queries.postings_per_query"] = (
        sum(sum(df.get(t, 0) for t in ts) for ts in analyzed) / len(analyzed))
    out["trace.overhead_ms_per_query"] = (median(win.traced_ms)
                                          - median(win.untraced_ms))
    return out


# ------------------------------------------------------------------ build

def build_workload(ctx) -> dict:
    """build: one untimed cold build, then timed full-corpus builds for the
    window and a timed merge of the last two."""
    spark, tracer, work, seed = ctx.spark, ctx.tracer, ctx.work, ctx.seed
    docs, cold = index_corpus(ctx)
    setup_s = time.perf_counter() - T_START
    ops = OpLog()
    builds = []
    t_begin = time.perf_counter()
    while (len(builds) < MIN_WARM_BUILDS
           or time.perf_counter() - t_begin < ctx.seconds):
        out = os.path.join(work, f"idx_{len(builds) % 2}")
        ok, b = ops.run(lambda: timed_build(spark, docs, out, ctx.cores,
                                            tracer, "indexing.build_index"))
        if not ok:
            break
        builds.append(b)
    check(len(builds) >= MIN_WARM_BUILDS, f"builds failed: {ops.errors}")
    ok, merged = ops.run(lambda: timed_merge(
        spark, [builds[-2].root, builds[-1].root],
        os.path.join(work, "idx_m"), ctx.cores, tracer))
    check(ok, f"merge failed: {ops.errors}")
    rss = rss_peak_mb()

    expected = indexed(corpus_rows(CORPUS_ROWS, seed))
    for b in [cold] + builds:
        check(b.n_docs == expected, f"build indexed {b.n_docs}, expected {expected}")
    check_merge(spark, builds[-1], merged, seed)

    # the median warm build, with the last build's index and lineage
    build = builds[-1]._replace(
        wall_s=median([b.wall_s for b in builds]),
        cpu=CpuDelta(median([b.cpu.busy_s for b in builds]), 0.0, 0.0))
    e2e = {
        "setup_s": setup_s,
        "index_bytes_per_doc": per_unit(dir_bytes(build.root), expected),
        "rss_peak_mb": rss,
    }
    layers = index_layer_metrics(cold, build, merged) if tracer.enabled else {}
    # the build metrics are not gated (see serve), so they are notes
    notes = {"index_docs_per_s": rate(expected, build.wall_s),
             "index_cpu_ms_per_doc": per_unit(build.cpu.busy_s * 1000.0,
                                              expected),
             "merge_docs_per_s": rate(merged.n_docs, merged.wall_s),
             "warm_builds": len(builds), "failed_frac": ops.failed_frac}
    return {"e2e": e2e, "layers": layers, "notes": notes,
            "attempted": ops.attempted, "failed": ops.failed}


WORKLOADS = {
    "build": build_workload,
    "serve-cached": lambda ctx: serve(ctx, "serve-cached"),
    "serve-fetch": lambda ctx: serve(ctx, "serve-fetch"),
    "serve-distributed": lambda ctx: serve(ctx, "serve-distributed"),
}


# --------------------------------------------------------------------- main

def load_spec() -> dict:
    """``BENCHMARK.json``: the metric names and units every run emits."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def select_metrics(spec: dict, kind: str, workload: str, values: dict) -> dict:
    """Name → {value, unit} for every metric of ``kind``. A workload listed
    in ``BENCHMARK.json`` must produce all of them; the others produce the
    ones that apply to them."""
    units = {m["name"]: m["unit"] for m in spec[kind]}
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    if workload in {w["name"] for w in spec["workloads"]}:
        missing = sorted(set(units) - set(values))
        if missing:
            raise RuntimeError(f"{workload} did not measure {missing}")
    return {k: {"value": values[k], "unit": units[k]}
            for k in units if k in values}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import_package()
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    spec = load_spec()

    host0 = read_cpu()
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    tracer = Tracer(bool(args.trace))
    spark, res = None, None
    try:
        t0 = time.perf_counter()
        spark, cores = start_session(work, tracer)
        ctx = SimpleNamespace(spark=spark, cores=cores, tracer=tracer, work=work,
                  seed=args.seed, seconds=args.seconds,
                  timings={"session.start_s": time.perf_counter() - t0})
        log("session started")
        with tracer.span("bench.workload"):
            res = WORKLOADS[args.workload](ctx)
    except CheckFailed as exc:
        print(f"perfbench: check failed: {exc}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    log("stopped")
    host1 = read_cpu()
    run = cpu_delta(host0, host1, HZ)
    host = {"steal_frac": run.steal_frac, "busy_frac": run.busy_frac,
            "load1_start": host0.load1, "load1_end": host1.load1}
    print("host " + json.dumps(host))
    if res is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 0,
                          "metrics": {}}))
        return 1

    e2e = select_metrics(spec, "end_to_end", args.workload, res["e2e"])
    for name, m in e2e.items():
        print(f"{name} {m['value']} {m['unit']}")
    print("notes " + json.dumps(res["notes"]))
    metrics = e2e
    if args.trace:
        layers = {**ctx.timings, **res["layers"]}
        layers.update({f"self.{k}_s": v
                       for k, v in tracer.layer_self_s().items()})
        layers["host.steal_frac"] = run.steal_frac
        layers["host.busy_frac"] = run.busy_frac
        layers["host.load1"] = host1.load1
        metrics = select_metrics(spec, "per_layer", args.workload, layers)
        tracer.dump(os.path.join(
            out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"end_to_end": e2e, "per_layer": metrics, "host": host})
    ok = res["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
