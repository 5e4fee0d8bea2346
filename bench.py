#!/usr/bin/env python
"""Benchmark harness (driver contract): ONE JSON line on stdout.

Measures the two north-star metrics (BASELINE.json `metric`):
- indexing throughput (docs/sec) building the full Lucene-profile inverted
  index (both fields + packed delta+varint blocks) over the deterministic
  synthetic source-code corpus (repo:FIXTURES.md §1; documents at
  $SPARK_GRAFT_SF_DIR are only 500 rows at every sf, so load comes from the
  synthetic corpus — ALPS_BENCH_DOCS rows, default 20k),
- BM25 query latency (p50 over the reference query set,
  fixtures.REFERENCE_QUERIES) for match / phrase / fuzzy — the reference's
  default-enabled types (search.py:37-49) — plus the WAND match path.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), ALPS_BENCH_DOCS. Scaling-efficiency evidence (N vs 4N cores) is
produced by tools/scaling_bench.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _host_probe() -> dict:
    """Load averages + aggregate /proc/stat jiffies. Recorded at bench start
    and end (VERDICT r6 next #7): this host's co-tenant drift has inflated
    or deflated whole rounds by ±40%, and adjudicating 'code regression vs
    drift' needs load evidence IN the emission, not an after-the-fact ABA."""
    la = os.getloadavg()
    out = {"load1": round(la[0], 2), "load5": round(la[1], 2),
           "load15": round(la[2], 2)}
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        # busy = everything but idle+iowait, in jiffies across ALL cpus
        out["cpu_total_jiffies"] = sum(vals)
        out["cpu_idle_jiffies"] = vals[3] + (vals[4] if len(vals) > 4 else 0)
    except OSError:
        pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("ALPS_BENCH_DOCS", "60000"))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")

    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.config import IndexConfig, QueryConfig
    from elasticsearch_alps_spark.fixtures import (
        documents_df_distributed, nl_documents_df_distributed, NL_QUERIES,
        REFERENCE_QUERIES,
    )

    # ALPS_BENCH_CORPUS=nl (r7, VERDICT r6 next #8): the natural-language
    # long-doc shape — ~10× tokens/doc, stopword/stemmer-heavy — with its
    # own query set; default stays the code corpus so rounds compare.
    corpus = os.environ.get("ALPS_BENCH_CORPUS", "code")
    from elasticsearch_alps_spark.indexing.builder import build_index
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("alps-bench")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("ALPS_BENCH_DRIVER_MEM", "16g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    out = tempfile.mkdtemp(prefix="alps_bench_idx_")
    queries: dict[str, float] = {}
    host0 = _host_probe()
    t_total0 = time.time()
    try:
        # ---- indexing throughput ----
        # corpus generated ON the executors (scales with cores) and
        # materialized to parquet first so generation isn't timed as indexing
        src = os.path.join(out, "src_docs")
        gen = (nl_documents_df_distributed if corpus == "nl"
               else documents_df_distributed)
        gen(spark, n_docs, seed=42).write.parquet(src)
        docs = spark.read.parquet(src)
        ref_queries = NL_QUERIES if corpus == "nl" else REFERENCE_QUERIES
        mixed_queries = (("search", "document", "distribute processing",
                          "cluster training") if corpus == "nl"
                         else ("def", "import", "parse json config",
                               "def main"))
        wand_queries = (("search", "document", "distribute processing")
                        if corpus == "nl"
                        else ("def", "import", "parse json config"))
        # identical job at every parallelism level: the shard/partition count
        # is FIXED (a real cluster keeps its layout when executors scale);
        # only the executor thread count varies between scaling legs
        shards = int(os.environ.get("ALPS_BENCH_SHARDS", "32"))
        t0 = time.time()
        paths = build_index(spark, docs, out, IndexConfig(), shards=shards)
        t_index = time.time() - t0
        indexed = paths.read_stats()["fields"]["main"]["n_docs"]
        queries["index_build"] = round(t_index, 3)

        # ---- query latency (reference set; search.py default types) ----
        # interactive serving over a term-pruned scan wants few shuffle
        # partitions — per-query aggregation state is tiny regardless of
        # corpus size (runtime-settable, does not affect the stored index)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # NOT cache=True for the WAND engine: caching materializes the WHOLE
        # packed table on first touch and trades away parquet term pushdown —
        # measured 2× slower for a short query burst
        eng = SearchEngine(spark, paths.root, QueryConfig(), cache=True)
        wand = SearchEngine(spark, paths.root, QueryConfig(use_wand=True))
        eng.match_query("def").collect()  # warm caches / JVM
        lat_ms = []
        by_type: dict[str, list] = {"match": [], "phrase": [], "fuzzy": []}
        for i, q in enumerate(ref_queries):
            for qtype, fn in (("match", lambda t: eng.match_query(t)),
                              ("phrase", lambda t: eng.match_phrase_query(t)),
                              ("fuzzy", lambda t: eng.fuzzy_query(t))):
                t0 = time.time()
                fn(q).collect()
                dt = time.time() - t0
                by_type[qtype].append(dt)
                lat_ms.append(dt * 1000)
        # WAND match path on the hottest terms
        wand_s = []
        for q in wand_queries:
            t0 = time.time()
            wand.match_query(q).collect()
            wand_s.append(time.time() - t0)

        # `value` keeps the r1-r3 scope (build + reference queries + WAND
        # trio) so rounds stay comparable; the r4 three-way section below is
        # timed separately as mixed_section_sec
        t_core = time.time() - t_total0

        # use_wand="auto" (r4): mixed hot+rare set, three scorer configs with
        # the driver path disabled so the DISTRIBUTED scorers are compared —
        # auto must track the better of the two per query
        mixed = mixed_queries
        three = {
            "mixed_exh_p50": SearchEngine(
                spark, paths.root, QueryConfig(driver_score_max_postings=0)),
            "mixed_wand_p50": SearchEngine(
                spark, paths.root, QueryConfig(use_wand=True)),
            "mixed_auto_p50": SearchEngine(
                spark, paths.root, QueryConfig(use_wand="auto",
                                               driver_score_max_postings=0)),
        }
        for key, e in three.items():
            ts = []
            for q in mixed:
                t0 = time.time()
                e.match_query(q).collect()
                ts.append(time.time() - t0)
            queries[key] = round(statistics.median(ts), 4)

        # keep the JSON line SHORT (driver tail-buffers stdout; the r1
        # per-query dict overflowed it) — per-type aggregates only
        for qtype, ts in by_type.items():
            queries[f"{qtype}_p50"] = round(statistics.median(ts), 4)
            queries[f"{qtype}_max"] = round(max(ts), 4)
        queries["wand_p50"] = round(statistics.median(wand_s), 4)
        queries["n_queries"] = len(lat_ms)
        p50 = statistics.median(lat_ms)
        queries["mixed_section_sec"] = round(time.time() - t_total0 - t_core, 3)
        total = t_core
        host1 = _host_probe()
        host = {"load1_start": host0["load1"], "load5_start": host0["load5"],
                "load15_start": host0["load15"], "load1_end": host1["load1"],
                "load5_end": host1["load5"]}
        if "cpu_total_jiffies" in host0 and "cpu_total_jiffies" in host1:
            dt_total = host1["cpu_total_jiffies"] - host0["cpu_total_jiffies"]
            dt_idle = host1["cpu_idle_jiffies"] - host0["cpu_idle_jiffies"]
            if dt_total > 0:
                # whole-box busy share over the run — external-tenant bursts
                # show up here even when loadavg lags them
                host["cpu_busy_frac"] = round(1.0 - dt_idle / dt_total, 3)
        print(json.dumps({
            "metric": "index_build_plus_query_p50",
            "value": round(total, 3),
            "unit": "sec",
            "queries": queries,
            "sf": sf,
            "indexing_docs_per_sec": round(indexed / t_index, 1),
            "indexed_docs": indexed,
            "query_p50_ms": round(p50, 2),
            "cpus": cpus,
            "corpus": corpus,
            "host": host,
        }, separators=(",", ":")))
    finally:
        spark.stop()
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
