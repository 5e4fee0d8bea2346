#!/usr/bin/env python
"""Forced-exhaustive hot-term query timing over an EXISTING index — the
committed harness behind the r7 ``exh10m_fold_recovery`` runs.jsonl row
(VERDICT r7 next #6: the number was produced by an uncommitted tmp/ script;
the recording policy is now "no row without a committed harness").

Times ``match_query`` with the driver path disabled and use_wand off — the
distributed scorer, the path whose fold rework r7 measured (24.4 s
collect_list fold → 7.3 s clause-order fold at 10M docs) — and the same
queries under use_wand=True, also at budget 0, so they time the block-max
pruned route (``SearchEngine._wand``) rather than the driver fold. Per
query and engine it reports the median wall time, the Spark jobs of the
last repetition and, for the pruned route, ``last_pruning``: block rows
read, doc intervals kept out of the total, and postings rows scored.

Usage:
    python -m tools.exh_forced /path/to/index [--cpus 32] [--queries def,import]
    (defaults to the code-corpus hot terms)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("index")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--queries", default="def,import,parse json config")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.config import QueryConfig
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "16g").getOrCreate())
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    ship_package(spark)

    exh = SearchEngine(spark, args.index,
                       QueryConfig(driver_score_max_postings=0))
    wand = SearchEngine(spark, args.index,
                        QueryConfig(driver_score_max_postings=0,
                                    use_wand=True))
    exh.match_query(args.queries.split(",")[0]).collect()  # warm
    out = {"index": args.index, "cpus": args.cpus, "queries": {}}
    for q in args.queries.split(","):
        row = {}
        for name, e in (("exhaustive", exh), ("wand", wand)):
            ts = []
            for i in range(args.reps):
                group = f"exh_forced-{name}-{q}-{i}"
                sc.setJobGroup(group, group)
                t0 = time.time()
                e.match_query(q).collect()
                ts.append(time.time() - t0)
            row[name] = round(statistics.median(ts), 3)
            row[f"{name}_samples"] = [round(t, 3) for t in ts]
            row[f"{name}_jobs"] = len(sc.statusTracker()
                                      .getJobIdsForGroup(group))
            if getattr(e, "last_pruning", None):
                row[f"{name}_pruning"] = e.last_pruning
        out["queries"][q] = row
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
