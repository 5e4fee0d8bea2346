#!/usr/bin/env python
"""Pruned-vs-exhaustive crossover evidence: where the block-max pruned
route (``SearchEngine._wand``) starts to beat the distributed scorer.

The pruned route pays a fixed cost (a block-table scan, then one postings
scan per scoring round); the distributed scorer pays a scan plus an
aggregation that grows with the summed posting-list length. This tool
times both on single-term queries over a ladder of document frequencies,
plus a few multi-term queries, on an EXISTING index, and appends one row
to BENCH/runs.jsonl. ``SearchEngine.WAND_AUTO_MIN_DF`` is set from it.

Methodology:
- Both engines serve the DISTRIBUTED plan (driver_score_max_postings=0),
  uncached: the comparison is scorer against scorer, not serving tier
  against scorer.
- A third engine, ``use_wand="auto"`` with the df threshold at 1, shows
  what auto does once a query clears the threshold: it keeps the pruned
  route only for one-round plans.
- Each rep times the engines in turn, order alternating; the median of
  ``--reps`` is reported, with the pruned route's ``last_pruning``.
- The ladder term for a target df is the term whose df is nearest to it.

Usage:
    python -m tools.wand_crossover /path/to/index [--cpus 4] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DF_LADDER = [25_000, 50_000, 100_000, 200_000, 300_000, 500_000,
             700_000, 1_000_000]
MULTI_QUERIES = ["def import", "def main", "parse json config",
                 "return self"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F
    from elasticsearch_alps_spark.config import QueryConfig
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("alps-wand-crossover")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("ALPS_BENCH_DRIVER_MEM", "4g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    base = QueryConfig(driver_score_max_postings=0)
    engines = {
        "exhaustive": SearchEngine(spark, args.index, base),
        "wand": SearchEngine(spark, args.index, QueryConfig(
            driver_score_max_postings=0, use_wand=True)),
        "auto": SearchEngine(spark, args.index, QueryConfig(
            driver_score_max_postings=0, use_wand="auto")),
    }
    engines["auto"].WAND_AUTO_MIN_DF = 1
    ts = engines["exhaustive"]._term_stats["main"]
    ladder = []
    for target in DF_LADDER:
        r = (ts.orderBy(F.abs(F.col("df") - target), "term")
             .select("term", "df").first())
        if r is not None and r["term"] not in ladder:
            ladder.append(r["term"])
    for e in engines.values():  # warm JVM, parquet footers, block table
        e.match_query("def").collect()

    rows = {}
    for q in ladder + MULTI_QUERIES:
        times = {name: [] for name in engines}
        for i in range(args.reps):
            order = list(engines.items())
            for name, e in (order if i % 2 == 0 else order[::-1]):
                t0 = time.time()
                e.match_query(q).collect()
                times[name].append(time.time() - t0)
        dfs = engines["exhaustive"]._df_lookup("main", q.split())
        p50 = {n: statistics.median(v) for n, v in times.items()}
        rows[q] = {
            "max_df": max(dfs.values(), default=0),
            **{f"{n}_p50_s": round(v, 3) for n, v in p50.items()},
            "wand_speedup": round(p50["exhaustive"] / p50["wand"], 2),
            "auto_route": engines["auto"].last_scorer,
            "wand_pruning": engines["wand"].last_pruning,
        }
        print(q, json.dumps(rows[q]), flush=True)
    n_docs = engines["exhaustive"].stats["fields"]["main"]["n_docs"]
    report = {"date": str(date.today()), "kind": "wand_crossover",
              "argv": " ".join(["python -m tools.wand_crossover"] + [
                  "IDX" if a == args.index else a for a in sys.argv[1:]]),
              "n_docs": n_docs, "cpus": args.cpus, "reps": args.reps,
              "queries": rows}
    spark.stop()
    log = os.path.join(REPO, "BENCH", "runs.jsonl")
    with open(log, "a") as f:
        f.write(json.dumps(report) + "\n")


if __name__ == "__main__":
    main()
