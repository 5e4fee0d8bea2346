"""Round-8: mixed-section (distributed scorer) anatomy profiler.

bench.py's mixed section compares the three DISTRIBUTED scorer configs
(exh / wand / auto, driver path disabled for exh+auto) on 4 hot+rare
queries. This tool replays that section against an existing index with
per-query wall times split into plan-construction (driver/py4j) vs
execution (collect), and reports Spark job counts per query so broadcast
sub-jobs are visible.

Usage: python -m tools.mixed_profile --index /tmp/alps_idx [--repeat 3]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.config import QueryConfig
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package

    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .appName("mixed-profile")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "16g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)

    mixed = ("def", "import", "parse json config", "def main")
    three = {
        "exh": SearchEngine(spark, args.index,
                            QueryConfig(driver_score_max_postings=0)),
        "wand": SearchEngine(spark, args.index, QueryConfig(use_wand=True)),
        "auto": SearchEngine(spark, args.index,
                             QueryConfig(use_wand="auto",
                                         driver_score_max_postings=0)),
    }
    tracker = spark.sparkContext.statusTracker()
    # warm-up (bench does one warm query before the mixed section)
    three["exh"].match_query("def").collect()
    for key, e in three.items():
        for q in mixed:
            for r in range(args.repeat):
                j0 = len(tracker.getJobIdsForGroup(None) or [])
                t0 = time.time()
                hits = e.match_query(q)
                t_plan = time.time() - t0
                t0 = time.time()
                hits.collect()
                t_col = time.time() - t0
                j1 = len(tracker.getJobIdsForGroup(None) or [])
                print(f"{key:5s} {q!r:22s} r{r} plan={t_plan:6.3f}s "
                      f"collect={t_col:6.3f}s jobs={j1 - j0} "
                      f"scorer={e.last_scorer}")
    spark.stop()


if __name__ == "__main__":
    main()
