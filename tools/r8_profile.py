"""Round-8 optimization profiling harness (guide §1: measure first).

Replicates bench.py's flow — same corpus, same index params, same query set —
but with per-phase attribution:
- build: reads the builder's `_lineage/phase_times.json` + per-field
  `phase_sec` (instrumentation added r8)
- queries: times each reference query per type, plus sub-phase timings of the
  driver serving path (fetch vs score vs materialize) via targeted re-runs.

NOT the driver-timed bench (bench.py is frozen); numbers here feed
OPTIMIZATION_r08.md only.

Usage: python -m tools.r8_profile [--docs 60000] [--skip-build] [--queries]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=60000)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--keep", action="store_true",
                    help="keep the index dir (prints path)")
    ap.add_argument("--index", default=None,
                    help="reuse an existing index dir (skip build)")
    ap.add_argument("--no-queries", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.config import IndexConfig, QueryConfig
    from elasticsearch_alps_spark.fixtures import (
        documents_df_distributed, REFERENCE_QUERIES,
    )
    from elasticsearch_alps_spark.indexing.builder import build_index, IndexPaths
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("r8-profile")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "16g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    out = args.index or tempfile.mkdtemp(prefix="alps_r8_prof_")
    try:
        if args.index:
            paths = IndexPaths(args.index)
        else:
            t0 = time.time()
            src = os.path.join(out, "src_docs")
            documents_df_distributed(spark, args.docs, seed=42) \
                .write.parquet(src)
            t_gen = time.time() - t0
            docs = spark.read.parquet(src)
            t0 = time.time()
            paths = build_index(spark, docs, out, IndexConfig(), shards=32)
            t_build = time.time() - t0
            print(f"corpus_gen_sec={t_gen:.2f} build_sec={t_build:.2f}")
            # phase attribution from lineage
            lin = paths.lineage_dir
            for name in ("phase_times", "docs", "field_main", "field_exact"):
                p = os.path.join(lin, f"{name}.json")
                if os.path.exists(p):
                    with open(p) as f:
                        d = json.load(f)
                    keep = {k: d[k] for k in
                            ("normalize_ids", "tokenize",
                             "total", "elapsed_sec", "phase_sec")
                            if k in d}
                    print(f"  {name}: {json.dumps(keep)}")

        if args.no_queries:
            return

        # ---- query profiling (bench section semantics) ----
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        eng = SearchEngine(spark, paths.root, QueryConfig(), cache=True)
        wand = SearchEngine(spark, paths.root, QueryConfig(use_wand=True))
        t0 = time.time()
        eng.match_query("def").collect()
        print(f"warmup_sec={time.time() - t0:.3f}")

        rows = []
        for q in REFERENCE_QUERIES:
            for qtype, fn in (("match", eng.match_query),
                              ("phrase", eng.match_phrase_query),
                              ("fuzzy", eng.fuzzy_query)):
                t0 = time.time()
                fn(q).collect()
                rows.append((qtype, q, time.time() - t0, eng.last_scorer))
        for q in ("def", "import", "parse json config"):
            t0 = time.time()
            wand.match_query(q).collect()
            rows.append(("wand", q, time.time() - t0, wand.last_scorer))
        tot = {}
        for qtype, q, dt, scorer in sorted(rows, key=lambda r: -r[2]):
            tot[qtype] = tot.get(qtype, 0.0) + dt
        print("totals by type:", {k: round(v, 2) for k, v in tot.items()})
        print("slowest 15:")
        for qtype, q, dt, scorer in sorted(rows, key=lambda r: -r[2])[:15]:
            print(f"  {dt:6.3f}s {qtype:6s} [{scorer}] {q!r}")

        # ---- sub-phase: driver-path match anatomy on a hot term ----
        for term in ("def", "xyzzy_no_such_term"):
            t0 = time.time()
            hits = eng.match_query(term)
            t_plan = time.time() - t0
            t0 = time.time()
            hits.collect()
            t_col = time.time() - t0
            print(f"match {term!r}: build_df={t_plan:.3f}s "
                  f"collect={t_col:.3f}s scorer={eng.last_scorer}")
        # fuzzy anatomy: expansion vs scoring
        for w in ("improt", "tokeniz"):
            t0 = time.time()
            exp = eng._fuzzy_expand_multi("main", [w])[0]
            t_exp = time.time() - t0
            t0 = time.time()
            hits = eng._score_query(
                "main", [(0, t, boost) for t, boost, _ in exp], 1, 50,
                dfs={t: df for t, _, df in exp})
            hits.collect()
            t_score = time.time() - t0
            print(f"fuzzy {w!r}: expand={t_exp:.3f}s ({len(exp)} terms) "
                  f"score+collect={t_score:.3f}s")
    finally:
        if not args.keep and not args.index:
            print(f"(index at {out} removed)")
            shutil.rmtree(out, ignore_errors=True)
        elif not args.index:
            print(f"index kept at {out}")
        spark.stop()


if __name__ == "__main__":
    main()
