#!/usr/bin/env python
"""Serving-path N-vs-4N scaling at 1M docs (r6, VERDICT r5 next #7).

The r5 scaling rows measured query p50 at 240k docs, where match/phrase/
fuzzy are latency-bound (flat 2→8 cores) and show nothing. This tool
re-measures the QUERY path on a 1M-doc index — the regime where the
posting scans are long enough for parallelism to matter — with the right
experimental shape for a serving tier:

- the index is built ONCE (local[32]; ``resume=True`` skips it on re-runs)
  — index-build scaling is a separate, already-recorded row;
- each (cores, trial) leg is a fresh SUBPROCESS SparkSession reading the
  same on-disk index, so only executor-thread count varies;
- legs interleave cores across trials (2,8,2,8,…) to neutralize the
  measured warm-up/drift modes of this box (BENCH/BASELINE.md r3-r5);
  best-of-trials per (cores, query type) is reported;
- the WAND auto threshold is the constant SearchEngine.WAND_AUTO_MIN_DF,
  so scorer choice cannot vary between legs.

Env: ALPS_QSCALE_DOCS (default 1_000_000), ALPS_QSCALE_NS ("2,8"),
ALPS_QSCALE_TRIALS (2), ALPS_QSCALE_REPS (5).
Emits one JSON report (tools/bench.py --suite qscale wraps it into
BENCH/runs.jsonl).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (label, method, args, engine key) — hot terms exercise long posting
# scans; the rare term pins the latency floor; phrase/fuzzy cover the
# other distributed plans
QUERIES = [
    ("match_hot_def", "exh", "match_query", ("def",)),
    ("match_hot_import", "exh", "match_query", ("import",)),
    ("match_rare", "exh", "match_query", ("parse json config",)),
    ("wand_hot_def", "wand", "match_query", ("def",)),
    ("wand_mixed", "wand", "match_query", ("def import data",)),
    # r7 (VERDICT r6 next #2 done-criterion): the forced-exhaustive 3-hot-term
    # query whose r6 collect_list fold cost 24.4 s at 10M — the clause-order
    # fold must bring it back toward the r5 ~6 s
    ("exh_mixed", "exh", "match_query", ("def import data",)),
    ("phrase", "exh", "match_phrase_query", ("def main",)),
    ("fuzzy", "exh", "fuzzy_query", ("improt",)),
]


def _spark(cores: int):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName(f"alps-qscale-{cores}")
            .config("spark.sql.shuffle.partitions", str(max(cores, 4)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory",
                    os.environ.get("ALPS_BENCH_DRIVER_MEM", "24g"))
            .getOrCreate())


def build_once(n_docs: int, index_dir: str) -> None:
    from elasticsearch_alps_spark.config import IndexConfig
    from elasticsearch_alps_spark.fixtures import documents_df_distributed
    from elasticsearch_alps_spark.indexing.builder import build_index
    from elasticsearch_alps_spark.session import ship_package
    spark = _spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    docs = documents_df_distributed(spark, n_docs, seed=42)
    t0 = time.time()
    build_index(spark, docs, index_dir, IndexConfig(), shards=32,
                resume=True)
    print(f"index ready in {time.time() - t0:.1f}s", flush=True)
    spark.stop()


def run_leg(cores: int, index_dir: str, reps: int) -> dict:
    """One subprocess leg: p50 per query type at local[cores]."""
    from elasticsearch_alps_spark.config import QueryConfig
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package
    spark = _spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    engines = {
        "exh": SearchEngine(spark, index_dir,
                            QueryConfig(driver_score_max_postings=0)),
        "wand": SearchEngine(spark, index_dir, QueryConfig(use_wand=True)),
    }
    out = {"cores": cores}
    for label, ekey, method, args in QUERIES:
        fn = getattr(engines[ekey], method)
        fn(*args).collect()  # warm leg absorbs first-job latency
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(*args).collect()
            ts.append(time.perf_counter() - t0)
        out[label] = round(statistics.median(ts), 4)
    spark.stop()
    print(json.dumps(out))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--leg", type=int, default=None,
                    help="internal: run one query leg at local[N]")
    ap.add_argument("--index", default=None)
    ap.add_argument("--reps", type=int,
                    default=int(os.environ.get("ALPS_QSCALE_REPS", "5")))
    args = ap.parse_args()
    if args.leg:
        run_leg(args.leg, args.index, args.reps)
        return

    n_docs = int(os.environ.get("ALPS_QSCALE_DOCS", "1000000"))
    ns = [int(x) for x in
          os.environ.get("ALPS_QSCALE_NS", "2,8").split(",")]
    trials = int(os.environ.get("ALPS_QSCALE_TRIALS", "2"))
    index_dir = f"/tmp/alps_qscale_idx_{n_docs}"
    build_once(n_docs, index_dir)

    legs: dict = {n: [] for n in ns}
    for trial in range(trials):
        for n in ns:  # interleaved across cores (drift neutralization)
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--leg", str(n),
                 "--index", index_dir, "--reps", str(args.reps)],
                cwd=REPO, capture_output=True, text=True, check=True,
                env=dict(os.environ))
            leg = json.loads(p.stdout.strip().splitlines()[-1])
            legs[n].append(leg)
            print(f"leg local[{n}] trial {trial + 1}: {leg}", flush=True)

    from elasticsearch_alps_spark.queries.engine import SearchEngine
    report = {"date": str(date.today()), "kind": "query_scaling",
              "n_docs": n_docs, "trials": trials, "reps": args.reps,
              "wand_min_df_pin": SearchEngine.WAND_AUTO_MIN_DF}
    small, big = min(ns), max(ns)
    for label, *_ in QUERIES:
        b_small = min(leg[label] for leg in legs[small])
        b_big = min(leg[label] for leg in legs[big])
        speedup = b_small / b_big if b_big else 0.0
        report[label] = {
            f"p50_s_local{small}": b_small, f"p50_s_local{big}": b_big,
            "speedup": round(speedup, 3),
            # latency-form efficiency: 1.0 = perfect N→4N scaling
            "efficiency": round(speedup / (big / small), 3),
        }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
