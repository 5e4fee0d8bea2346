#!/usr/bin/env python
"""r8 (VERDICT r7 next #5): lift the single-box scale ceiling past the r7
30M disk abort with a disk-bounded SLICE build — K sequential 10M-doc
builds (each proven to fit this box), every slice in its OWN SparkSession
so its shuffle/spill dirs are freed before the next starts, then
``merge_indexes`` the K segments (merge ≡ rebuild is the r6-proven
bit-exact path). The ranked source parquet is deleted before the merge to
keep the peak footprint inside the ~80 GB free /tmp.

Slicing follows the builder's own docID order (assign_dense_doc_ids rank),
exactly like tools/merge_scale.py, so the merged index assigns the same
docIDs a monolithic 30M build would.

Appends runs.jsonl rows (suite build30m_sliced) after each slice, after the
merge, and after the query battery. Env: ALPS_B30_DOCS (default
30_000_000), ALPS_B30_SLICES (default 3), ALPS_B30_DIR (default a /tmp
tempdir; pass a path to resume manually after a crash).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _row(report: dict) -> None:
    with open(os.path.join(REPO, "BENCH", "runs.jsonl"), "a") as f:
        f.write(json.dumps({"suite": "build30m_sliced",
                            "date": date.today().isoformat(),
                            "report": report},
                           separators=(",", ":")) + "\n")


def _free_gb(path: str = "/tmp") -> float:
    st = os.statvfs(path)
    return round(st.f_bavail * st.f_frsize / 1e9, 1)


def _session(cpus: int, parts: int, mem: str):
    from pyspark.sql import SparkSession
    from elasticsearch_alps_spark.session import ship_package
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("alps-30m-sliced")
             .config("spark.sql.shuffle.partitions", str(parts))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", mem)
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def main() -> None:
    n = int(os.environ.get("ALPS_B30_DOCS", "30000000"))
    k = int(os.environ.get("ALPS_B30_SLICES", "3"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    base = os.environ.get("ALPS_B30_DIR") or tempfile.mkdtemp(
        prefix="alps_30m_sliced_")
    os.makedirs(base, exist_ok=True)
    src = os.path.join(base, "ranked_src")
    slice_dirs = [os.path.join(base, f"slice_{i}") for i in range(k)]
    merged_dir = os.path.join(base, "merged")
    per = (n + k - 1) // k
    t_all = time.time()
    rep: dict = {"n_docs": n, "slices": k, "cpus": cpus,
                 "free_gb_start": _free_gb()}
    try:
        # ---- 1. generate + rank ONCE (own session; spill freed on stop)
        if not os.path.exists(os.path.join(src, "_SUCCESS")):
            spark = _session(cpus, 2 * cpus, "48g")
            try:
                from elasticsearch_alps_spark.fixtures import (
                    documents_df_distributed,
                )
                from elasticsearch_alps_spark.indexing.ids import (
                    assign_dense_doc_ids,
                )
                t0 = time.time()
                docs = documents_df_distributed(spark, n, seed=42)
                with_ids, release_ids, n_rows = assign_dense_doc_ids(
                    docs, ["repo", "path", "commit"], 2 * cpus)
                (with_ids.withColumnRenamed("doc_id", "rn")
                 .write.mode("overwrite").option("compression", "zstd")
                 .parquet(src))
                release_ids()
                rep["gen_rank_sec"] = round(time.time() - t0, 1)
                rep["ranked_rows"] = n_rows
            finally:
                spark.stop()
            rep["free_gb_after_src"] = _free_gb()
            _row(dict(rep, stage="ranked_src"))
            print("RANKED:" + json.dumps(rep), flush=True)

        # ---- 2. K slice builds, one session each
        from elasticsearch_alps_spark.config import IndexConfig
        for i in range(k):
            if os.path.exists(os.path.join(slice_dirs[i], "stats.json")):
                continue  # manual resume
            spark = _session(cpus, 2 * cpus, "48g")
            try:
                from pyspark.sql import functions as F
                from elasticsearch_alps_spark.indexing.builder import (
                    build_index,
                )
                lo, hi = i * per, min((i + 1) * per, n)
                t0 = time.time()
                part = (spark.read.parquet(src)
                        .filter((F.col("rn") >= lo) & (F.col("rn") < hi))
                        .drop("rn"))
                paths = build_index(spark, part, slice_dirs[i],
                                    IndexConfig(), shards=cpus)
                dt = round(time.time() - t0, 1)
                nd = paths.read_stats()["fields"]["main"]["n_docs"]
                srep = {"slice": i, "rows": hi - lo, "indexed_docs": nd,
                        "build_sec": dt, "docs_per_sec": round(nd / dt, 1),
                        "free_gb_after": _free_gb()}
                _row(srep)
                print("SLICE:" + json.dumps(srep), flush=True)
            finally:
                spark.stop()

        # ---- 3. merge (source no longer needed — reclaim its ~12 GB first)
        shutil.rmtree(src, ignore_errors=True)
        spark = _session(cpus, 2 * cpus, "48g")
        try:
            from elasticsearch_alps_spark.merging.merger import merge_indexes
            t0 = time.time()
            merged = merge_indexes(spark, slice_dirs, merged_dir,
                                   IndexConfig(), shards=2 * cpus)
            dt = round(time.time() - t0, 1)
            stats = merged.read_stats()["fields"]["main"]
            mrep = {"merge_sec": dt, "merged_docs": stats["n_docs"],
                    "merge_docs_per_sec": round(stats["n_docs"] / dt, 1),
                    "cf_total": stats["cf_total"],
                    "index_gb": round(sum(
                        os.path.getsize(os.path.join(dp, fn))
                        for dp, _, fns in os.walk(merged_dir)
                        for fn in fns) / 1e9, 2),
                    "free_gb_after": _free_gb()}
            _row(mrep)
            print("MERGED:" + json.dumps(mrep), flush=True)

            # ---- 4. query battery on the merged 30M index (same set as
            # tools/build30m.py so rows compare)
            from elasticsearch_alps_spark.config import QueryConfig
            from elasticsearch_alps_spark.queries.engine import SearchEngine
            q = {}
            for label, qcfg, queries in (
                ("auto", QueryConfig(use_wand="auto",
                                     driver_score_max_postings=0),
                 ("def", "def import data", "parse json config")),
                ("wand", QueryConfig(use_wand=True), ("def",)),
            ):
                eng = SearchEngine(spark, merged.root, qcfg)
                eng.match_query("value").collect()
                for s in queries:
                    best = 1e9
                    for _ in range(2):
                        t1 = time.time()
                        eng.match_query(s).collect()
                        best = min(best, time.time() - t1)
                    q[f"{label}:{s}"] = round(best, 2)
                    q[f"{label}:{s}:scorer"] = eng.last_scorer
            # phrase on the driverless path too
            eng = SearchEngine(spark, merged.root,
                               QueryConfig(driver_score_max_postings=0))
            t1 = time.time()
            eng.match_phrase_query("def main").collect()
            q["exh:phrase 'def main'"] = round(time.time() - t1, 2)
            frep = {"stage": "queries", "queries": q,
                    "total_wall_sec": round(time.time() - t_all, 1),
                    "free_gb_end": _free_gb()}
            _row(frep)
            print("RESULT:" + json.dumps(frep), flush=True)
        finally:
            spark.stop()
    finally:
        if os.environ.get("ALPS_B30_KEEP") != "1":
            shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
