"""Segment/index merge — one shuffle job keyed by term.

The reference merges 95 independently-built ES indexes hierarchically
(95→25→8→2→1) by booting one ES JVM per source and pulling documents through
the remote ``_reindex`` API, re-analyzing every document at every stage
(``/root/reference/scripts/merge/merge.py:255-281``,
``scripts/merge/stage1_balanced_merge_v2.sh:15-17``). Spark-first, a merge is a
*postings-level* job — no re-tokenization, no doc copying protocol, one stage
instead of 4×25 SLURM jobs:

    union(per-index postings, docIDs remapped by cumulative offsets — the
    Lucene-segment-merge docID rebase) → shuffle keyed by (term, doc_id)
    (range partitioning on BOTH columns is the explicit hot-term salting:
    a term with 10^9 postings spreads across many partitions instead of
    hot-spotting one, SURVEY.md §2.6 J1) → rewrite postings + re-aggregate
    term_stats → recompute collection stats → rewrite the block-max table.

Everything after the union is the build's own field writer
(``indexing.builder.write_field``): a merged field gets the same postings
layout, term_stats, block-max table and ``_lineage/field_<f>.json`` record as
a built one. The merger keeps only the docID rebase, the union and its
refusals of incompatible sources.

Invariant (property-tested): merge(build(A), build(B)) ≡ build(A ∪ B) when A
precedes B in docID order. Count verification mirrors the reference's ≥90%
bar (merge.py:202) — but exact, not approximate: the writer's cf_total must
equal Σ source cf_total.

Resume: the merge writes a lineage marker; re-running with ``resume=True``
skips completed merges (analog of stage1_balanced_merge_v2.sh:491-496).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace
from functools import reduce
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_alps_spark import fsio
from elasticsearch_alps_spark.config import BM25Params, IndexConfig
from elasticsearch_alps_spark.indexing.builder import IndexPaths, write_field


def _offset_doc_ids(df: DataFrame, offset: int) -> DataFrame:
    if offset == 0:
        return df
    return df.withColumn("doc_id", (F.col("doc_id") + F.lit(offset)).cast("long"))


def merge_indexes(spark: SparkSession, index_dirs: List[str], out_dir: str,
                  cfg: Optional[IndexConfig] = None, *,
                  shards: Optional[int] = None,
                  resume: bool = False) -> IndexPaths:
    cfg = cfg or IndexConfig()
    out = IndexPaths(out_dir)
    marker = os.path.join(out.lineage_dir, "merge.json")
    if resume and fsio.exists(marker):
        return out
    if "://" not in out_dir:  # Hadoop FSs create directories implicitly
        os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()

    sources = [IndexPaths(d) for d in index_dirs]
    stats = [p.read_stats() for p in sources]
    fields = list(stats[0]["fields"])
    for s in stats[1:]:
        if list(s["fields"]) != fields:
            raise ValueError("cannot merge indexes with different field sets")
        for f in fields:
            for k in ("analyzer", "index_options", "norms", "alias"):
                if stats[0]["fields"][f].get(k) != s["fields"][f].get(k):
                    raise ValueError(
                        f"cannot merge: field {f!r} differs on {k!r} "
                        f"({stats[0]['fields'][f].get(k)!r} vs "
                        f"{s['fields'][f].get(k)!r})")
        if s["bm25"] != stats[0]["bm25"]:
            raise ValueError(f"cannot merge: bm25 differs ({stats[0]['bm25']!r}"
                             f" vs {s['bm25']!r})")
    # the merged index is scored with its sources' BM25 parameters (stats
    # below), so the block-max bounds must be computed with them too: a
    # bound under other k1/b can fall below a posting's real contribution
    cfg = replace(cfg, bm25=BM25Params(**stats[0]["bm25"]))
    # The cumulative-offset docID rebase below assumes engine-assigned dense
    # IDs. A segment built with a USER-supplied doc_id_col carries meaningful
    # external IDs: rebasing would silently rewrite them, and the same logical
    # document re-indexed in a later segment (I9 upsert semantics) would
    # become two distinct docs, inflating n_docs/df. Refuse loudly instead
    # of corrupting (ADVICE.md r1) — compact such segments by re-building
    # from the unioned doc stores with upsert_by_id.
    for s in stats:
        try:
            ck = json.loads(s.get("config_key") or "{}")
        except (TypeError, json.JSONDecodeError):
            ck = {}
        if ck.get("doc_id_col"):
            raise ValueError(
                "merge_indexes cannot rebase user-supplied doc IDs "
                f"(segment built with doc_id_col={ck['doc_id_col']!r}); "
                "rebuild from the unioned doc stores with upsert_by_id instead")

    # docID rebase offsets = cumulative docs-store sizes (Lucene segment merge)
    sizes = [spark.read.parquet(p.docs).count() for p in sources]
    offsets = [sum(sizes[:i]) for i in range(len(sizes))]
    n_shards = shards or spark.sparkContext.defaultParallelism

    merged_docs = reduce(
        DataFrame.unionByName,
        [_offset_doc_ids(spark.read.parquet(p.docs), off)
         for p, off in zip(sources, offsets)])
    (merged_docs.repartitionByRange(n_shards, "doc_id")
                .sortWithinPartitions("doc_id")
                .write.mode("overwrite").option("compression", "zstd").parquet(out.docs))

    field_stats = {}
    aliased = {f: s.get("alias") for f, s in stats[0]["fields"].items()
               if s.get("alias")}
    for field in fields:
        if field in aliased:
            continue  # resolved after the concrete fields are merged
        src_fields = [s["fields"][field] for s in stats]
        merged = reduce(
            DataFrame.unionByName,
            [_offset_doc_ids(spark.read.parquet(p.postings(field)), off)
             for p, off in zip(sources, offsets)])
        # ExtraField metadata must survive a merge (r7, VERDICT r6 next #5 —
        # found by the extra-field merge≡rebuild test): norms /
        # index_options select the engine's scoring branch; dropping them
        # defaulted norms to True, scoring a docs-only field with the
        # norms/dl formula after any merge.
        meta = {k: src_fields[0][k] for k in ("analyzer", "index_options", "norms")
                if k in src_fields[0]}
        field_stats[field] = write_field(
            spark, merged, out, field, cfg, sum(f["n_docs"] for f in src_fields),
            n_shards, meta, stats[0].get("config_key"))
        # exact count verification (reference uses a ≥90% bar, merge.py:202)
        expected_cf = sum(f["cf_total"] for f in src_fields)
        if field_stats[field]["cf_total"] != expected_cf:
            raise RuntimeError(
                f"merge verification failed for field {field}: "
                f"cf {field_stats[field]['cf_total']} != expected {expected_cf}")

    for field, target in aliased.items():
        field_stats[field] = {**field_stats[target], "alias": target}

    out_stats = {
        "fields": field_stats,
        "config_key": stats[0].get("config_key"),
        "bm25": stats[0]["bm25"],
        "quantize_norms": stats[0]["quantize_norms"],
        "text_col": stats[0].get("text_col", "content"),
        "id_cols": stats[0].get("id_cols", []),
        "built_unix": time.time(),
        "merged_from": [p.root for p in sources],
        "merge_sec": round(time.time() - t0, 3),
    }
    fsio.write_json(out.stats, out_stats, spark=spark, indent=2)
    fsio.write_json(marker, {"sources": index_dirs, "sizes": sizes,
                             "elapsed_sec": round(time.time() - t0, 3)},
                    spark=spark, indent=2)
    return out
