#!/usr/bin/env python
"""Fuzzy serving-path scaling attribution at scale (VERDICT r7 next #2 /
wrong #2): the r7 10M qscale row recorded fuzzy N→4N efficiency 0.334 with
no attribution. This harness times the three pieces of the DISTRIBUTED
fuzzy path (the configuration qscale measures: driver scoring off)
separately at two parallelism levels on an existing index:

  (a) expansion — the term-dictionary scan + levenshtein collect, then the
      driver-side top-50 cut (engine._fuzzy_expand_multi(...))
  (b) scoring  — the distributed exhaustive scorer over the FIXED expansion
      clause set (engine._score_clauses(...).collect())
  (c) end-to-end fuzzy_query

Each (cores, piece) leg is a fresh subprocess SparkSession over the same
on-disk index (the qscale protocol). The serial term is whichever piece's
latency does not move with cores.

Usage:
    python -m tools.fuzzy_attrib /path/to/index [--words improt,tokeniz]
        [--cores 2,8] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def leg(cores: int, index_dir: str, words, reps: int) -> dict:
    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.config import QueryConfig
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .config("spark.sql.shuffle.partitions", str(max(cores, 4)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("ALPS_BENCH_DRIVER_MEM", "24g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    eng = SearchEngine(spark, index_dir,
                       QueryConfig(driver_score_max_postings=0))
    out = {"cores": cores}
    for w in words:
        eng._fuzzy_expand_multi("main", [w])  # warm
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            exp = eng._fuzzy_expand_multi("main", [w])[0]
            ts.append(time.perf_counter() - t0)
        out[f"{w}_expand"] = round(statistics.median(ts), 4)
        out[f"{w}_n_exp"] = len(exp)
        clauses = [(0, t, boost * eng.idf("main", df))
                   for t, boost, df in exp]
        eng._score_clauses("main", clauses, 1, 50).collect()  # warm
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            eng._score_clauses("main", clauses, 1, 50).collect()
            ts.append(time.perf_counter() - t0)
        out[f"{w}_score"] = round(statistics.median(ts), 4)
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            eng.fuzzy_query(w).collect()
            ts.append(time.perf_counter() - t0)
        out[f"{w}_e2e"] = round(statistics.median(ts), 4)
    spark.stop()
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index")
    ap.add_argument("--words", default="improt,tokeniz")
    ap.add_argument("--cores", default="2,8")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--leg", type=int, default=None)
    args = ap.parse_args()
    words = args.words.split(",")
    if args.leg is not None:
        leg(args.leg, args.index, words, args.reps)
        return
    cores = [int(c) for c in args.cores.split(",")]
    rows = []
    # interleave legs (2,8,2,8) per the qscale protocol
    for trial in range(2):
        for c in cores:
            p = subprocess.run(
                [sys.executable, "-m", "tools.fuzzy_attrib", args.index,
                 "--words", args.words, "--reps", str(args.reps),
                 "--leg", str(c)],
                capture_output=True, text=True, cwd=REPO)
            line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
            if line:
                rows.append(json.loads(line[-1]))
    best = {}
    for r in rows:
        c = r["cores"]
        for k, v in r.items():
            if k == "cores":
                continue
            key = f"local[{c}]_{k}"
            best[key] = min(best.get(key, v), v)
    print(json.dumps({"index": args.index, "legs": rows, "best": best},
                     indent=2))


if __name__ == "__main__":
    main()
