#!/usr/bin/env python
"""r7 stretch (VERDICT r6 next #8, second option): a 30M-doc single build —
one decade past the 10M merge row — with a short query battery on the
result. Appends a runs.jsonl row (suite build30m) after the build and again
after queries. Env: ALPS_BUILD30M_DOCS (default 30_000_000)."""
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _row(report):
    with open(os.path.join(REPO, "BENCH", "runs.jsonl"), "a") as f:
        f.write(json.dumps({"suite": "build30m",
                            "date": date.today().isoformat(),
                            "report": report},
                           separators=(",", ":")) + "\n")


def main():
    n = int(os.environ.get("ALPS_BUILD30M_DOCS", "30000000"))
    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.config import IndexConfig, QueryConfig
    from elasticsearch_alps_spark.fixtures import documents_df_distributed
    from elasticsearch_alps_spark.indexing.builder import build_index
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    from elasticsearch_alps_spark.session import ship_package
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "64g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    out = tempfile.mkdtemp(prefix="alps_30m_")
    try:
        src = os.path.join(out, "src")
        t0 = time.time()
        documents_df_distributed(spark, n, seed=42).write.parquet(src)
        gen_sec = round(time.time() - t0, 1)
        docs = spark.read.parquet(src)
        t0 = time.time()
        paths = build_index(spark, docs, os.path.join(out, "idx"),
                            IndexConfig(), shards=64)
        build_sec = round(time.time() - t0, 1)
        stats = paths.read_stats()["fields"]["main"]
        rep = {"n_docs": n, "gen_sec": gen_sec, "build_sec": build_sec,
               "docs_per_sec": round(stats["n_docs"] / build_sec, 1),
               "indexed_docs": stats["n_docs"], "shards": 64,
               "index_gb": round(sum(
                   os.path.getsize(os.path.join(dp, fn))
                   for dp, _, fns in os.walk(os.path.join(out, "idx"))
                   for fn in fns) / 1e9, 2)}
        _row(rep)
        print("BUILD:" + json.dumps(rep), flush=True)
        q = {}
        for label, qcfg, queries in (
            ("auto", QueryConfig(use_wand="auto",
                                 driver_score_max_postings=0),
             ("def", "def import data", "parse json config")),
            ("wand", QueryConfig(use_wand=True), ("def",)),
        ):
            eng = SearchEngine(spark, paths.root, qcfg)
            eng.match_query("value").collect()
            for s in queries:
                best = 1e9
                for _ in range(2):
                    t1 = time.time()
                    eng.match_query(s).collect()
                    best = min(best, time.time() - t1)
                q[f"{label}:{s}"] = round(best, 2)
                q[f"{label}:{s}:scorer"] = eng.last_scorer
        rep["queries"] = q
        _row(rep)
        print("RESULT:" + json.dumps(rep), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
