"""BM25 query engine — the reference's six query types, Spark-first.

Each query type of ``/root/reference/scripts/search/search.py:141-418`` becomes
a small declarative plan over the postings tables:

    scan postings (term IN (...) pushed into parquet; term-sorted layout →
    file/row-group skipping) → literal clause frame (CASE WHEN term → weight,
    or an ``inline`` fan-out when a term serves several clauses) → per-row
    BM25 contribution (whole-stage-codegen SQL expression) → groupBy(doc_id)
    partial-agg → top-k (TakeOrderedAndProject)

Every clause weight is computed once, on the driver, as multiplier ·
``SearchEngine.idf(df)`` (glibc ``ln`` — the value the DuckDB oracle
reproduces). The driver fold and the distributed plan both consume those
same doubles, and the block-max pruned route (``use_wand``) scores through
the distributed plan, so the route a query takes never changes its scores.

Scoring is Lucene 8.11 BM25 (ES 7.17 default): no (k1+1) factor,
idf = ln(1 + (N−df+0.5)/(df+0.5)), dl SmallFloat-quantized, *global* collection
stats (SURVEY.md §7.0 — equivalent to the reference's fully-merged single
index / dfs_query_then_fetch; the multi-shard per-shard-stats default of ES is
a documented divergence). Ties broken by docID asc (Q10).
"""

from __future__ import annotations

import math
import os
import threading
import time
from datetime import datetime
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from elasticsearch_alps_spark.analysis.analyzers import (
    analyze, analyze_positions, fuzzy_auto_distance, is_single_word,
)
from elasticsearch_alps_spark.config import ANALYZERS, AnalyzerConfig, QueryConfig
from elasticsearch_alps_spark.indexing.builder import IndexPaths
from elasticsearch_alps_spark.indexing.postings import (
    decode_positions, varint_decode_np,
)
from elasticsearch_alps_spark.oracle import phrase_freq
from elasticsearch_alps_spark.queries.highlight import format_snippets

Clause = Tuple[int, str, float]  # (clause_id, term, weight)


def _sql_str(s: str) -> str:
    """Spark SQL string literal. Backslash is Spark's escape character, so it
    is doubled BEFORE the quote is: an unescaped ``c:\\path`` would match the
    term ``c:path``, and a trailing backslash would not parse."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _sql_in(terms: Sequence[str]) -> str:
    return ", ".join(_sql_str(t) for t in terms)


def _doc_phrase_freq(terms, offsets, slop: int, term_blobs) -> float:
    """One document's phrase frequency from its (term, positions blob)
    pairs: decode each blob, then :func:`phrase_freq`. The body of both
    the driver phrase loop and the distributed ``pfreq`` UDF."""
    pos = {t: decode_positions(bytes(p)) for t, p in term_blobs}
    return phrase_freq(terms, pos, slop, offsets)


def _analyzer_from_name(name: str) -> AnalyzerConfig:
    for cfg in ANALYZERS.values():
        if cfg.name() == name:
            return cfg
    raise ValueError(f"unknown analyzer {name!r} in index stats")


class SearchEngine:
    """Loads an index directory written by ``build_index`` and answers queries.

    ``cache=True`` pins the postings + term_stats DataFrames in memory — the
    analog of the reference's warmed ES page cache for latency benchmarks.
    """

    def __init__(self, spark: SparkSession, index_dir: str,
                 qcfg: Optional[QueryConfig] = None, cache: bool = False):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.qcfg = qcfg or QueryConfig()
        self._cache = cache
        self.stats = self.paths.read_stats()
        self.k1 = self.stats["bm25"]["k1"]
        self.b = self.stats["bm25"]["b"]
        self._postings: Dict[str, DataFrame] = {}
        self._term_stats: Dict[str, DataFrame] = {}
        self._analyzers: Dict[str, AnalyzerConfig] = {}
        self._field_src: Dict[str, str] = {}
        for field, fstats in self.stats["fields"].items():
            # an aliased field (identical analyzer) shares the source tables
            src = fstats.get("alias", field)
            self._field_src[field] = src
            if src in self._postings and src != field:
                self._postings[field] = self._postings[src]
                self._term_stats[field] = self._term_stats[src]
            else:
                self._postings[field] = spark.read.parquet(self.paths.postings(src))
                ptype = self._postings[field].schema["positions"].dataType
                if ptype.simpleString() != "binary":
                    # the phrase scorers decode varint blobs only
                    raise ValueError(
                        f"field {src!r} of index {index_dir} stores positions "
                        f"as {ptype.simpleString()}, not varint binary (an "
                        "index written before every field shared one "
                        "positions format). Rebuild the index with "
                        "build_index.")
                self._term_stats[field] = spark.read.parquet(self.paths.term_stats(src))
                if cache:
                    self._postings[field] = self._postings[field].cache()
                    self._term_stats[field] = self._term_stats[field].cache()
            self._analyzers[field] = _analyzer_from_name(fstats["analyzer"])
        self._docs: Optional[DataFrame] = None
        self.results: List[dict] = []
        # total-hits source of the most recent query ON THIS THREAD (for the
        # reference's total_hits stat, G3) — set by every query method via
        # _set_total: an exact count when known driver-side, an Observation
        # riding the scoring aggregation (collected for free by the top-k
        # action — no second job, r2 VERDICT wrong #8), or a recount plan as
        # last resort. Thread-LOCAL so a serving tier can run concurrent
        # queries through one engine without cross-talk (Spark job submission
        # itself is thread-safe). The scorer label (last_scorer) lives there
        # too, so one thread never reads the route of another's query.
        self._totals = threading.local()
        # fuzzy vocab arrays may be pre-built by a background thread while
        # the driver postings cache fetch waits on the JVM — both the lock
        # and the dict must exist before any such thread starts
        self._fuzzy_vocab_cache: Dict[str, tuple] = {}
        self._fuzzy_vocab_lock = threading.Lock()
        # driver postings cache per source field (None = gated off); the lock
        # makes concurrent first queries share ONE full-postings fetch
        self._dcache_store: Dict[str, Optional[dict]] = {}
        self._dcache_lock = threading.Lock()
        # the other lazily built per-field state, each under its own
        # double-checked lock. These three locks are leaves: a holder never
        # takes another engine lock (_dcache_build and the fuzzy warm-up
        # thread call _hot_dfs while holding theirs).
        self._hot_df_cache: Dict[str, Tuple[Dict[str, int], int]] = {}
        self._hot_df_lock = threading.Lock()
        self._ts_lookups: Dict[str, int] = {}
        self._views: Dict[str, str] = {}
        self._views_lock = threading.Lock()
        self._blockmax_cache: Dict[str, DataFrame] = {}
        self._blockmax_lock = threading.Lock()
        # built once, from a one-row LOCAL relation + limit(0) rather than
        # createDataFrame([], ddl) (r8): the empty-list form is RDD-backed
        # and schedules defaultParallelism EMPTY tasks per collect —
        # measured 0.35 s/collect on local[32] vs 5 ms for this plan
        self._empty_hits_df = spark.createDataFrame(
            [(0, 0.0)], "doc_id long, score double").limit(0)

    def _set_total(self, df: Optional[DataFrame] = None,
                   count: Optional[int] = None, obs=None) -> None:
        """Reset ALL total-hits sources and the scorer label (a stale count
        or route from the previous query must never leak into the next
        response); a scorer sets its label after its totals (_routed)."""
        self._totals.df = df
        self._totals.count = count
        self._totals.obs = obs
        self._totals.scorer = None
        self._totals.pruning = None

    def _routed(self, scorer: str, hits: DataFrame) -> DataFrame:
        self._totals.scorer = scorer
        return hits

    @property
    def last_scorer(self) -> Optional[str]:
        """Which scorer served this thread's last query: "driver" |
        "distributed" | "wand", or None when no scorer ran (stopword-only
        or df-0 queries, gated term/wildcard, wildcard, match_all)."""
        return getattr(self._totals, "scorer", None)

    @property
    def last_pruning(self) -> Optional[dict]:
        """What the pruned route did for this thread's last query (None when
        another route served it): ``block_rows`` read, ``intervals`` (doc
        intervals with a candidate block) and how many were ``kept`` and
        scored, ``rounds`` (one scoring Spark job each),
        ``postings_scored`` (postings rows read over all rounds) and
        ``theta`` (the final threshold)."""
        return getattr(self._totals, "pruning", None)

    @property
    def _last_total_df(self):
        return getattr(self._totals, "df", None)

    @_last_total_df.setter
    def _last_total_df(self, v):
        self._totals.df = v

    @property
    def _last_total_count(self):
        return getattr(self._totals, "count", None)

    @_last_total_count.setter
    def _last_total_count(self, v):
        self._totals.count = v

    @property
    def _last_total_obs(self):
        return getattr(self._totals, "obs", None)

    @_last_total_obs.setter
    def _last_total_obs(self, v):
        self._totals.obs = v

    # ------------------------------------------------------------------ utils

    @property
    def docs(self) -> DataFrame:
        if self._docs is None:
            self._docs = self.spark.read.parquet(self.paths.docs)
        return self._docs

    def _fstat(self, field: str) -> Tuple[int, float]:
        fs = self.stats["fields"][field]
        return fs["n_docs"], fs["avgdl"]

    def idf(self, field: str, df: int) -> float:
        n, _ = self._fstat(field)
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _df_lookup(self, field: str, terms: Sequence[str]) -> Dict[str, int]:
        """df for each query term. The cached top-K-by-df dictionary
        (_hot_dfs) answers exactly for any term it contains — and when it
        holds the WHOLE vocabulary, for absent terms too (df = 0) — so the
        common case costs no Spark job; only terms outside the hot set fall
        through to a tiny scan of the (term-sorted, min/max-pruned)
        term_stats table."""
        uniq = list(dict.fromkeys(terms))
        if not uniq:
            return {}
        # consult the hot-term cache only if some OTHER path already paid to
        # build it (the hybrid scorer's budget check does) — a fresh engine
        # with the driver path disabled must not trade a tiny pruned lookup
        # for a top-50k collect it will never amortize
        hot, ceiling = self._hot_df_cache.get(field, ({}, -1))
        if ceiling == -1:
            # no cache yet: from the SECOND lookup on this field onward,
            # build the top-K dictionary so repeated serving stops paying a
            # pruned-scan job per query (r8 — the distributed scorer takes df
            # driver-side). The first lookup stays a tiny pruned scan, so a
            # single-query engine never trades it for a top-K collect.
            cnt = self._ts_lookups
            cnt[field] = cnt.get(field, 0) + 1
            if cnt[field] >= 2:
                hot, ceiling = self._hot_dfs(field)
        out = {t: hot[t] for t in uniq if t in hot}
        missing = [t for t in uniq if t not in hot]
        if missing and ceiling != 0:
            rows = (self._term_stats[field]
                    .filter(F.col("term").isin(missing))
                    .select("term", "df").collect())
            out.update({r["term"]: r["df"] for r in rows})
        # ceiling == 0 → hot holds the full vocabulary: absent terms have
        # df 0 and are correctly left out (callers use dfs.get(t, 0))
        return out

    def _norms_enabled(self, field: str) -> bool:
        return self.stats["fields"][field].get("norms", True)

    def _tf_norm_col(self, field: str):
        freq = F.col("freq").cast("double")
        if not self._norms_enabled(field):
            # Lucene BM25Similarity's norms == null branch (the url field,
            # index_config_with_url_english.json:87): no length
            # normalization — tf / (tf + k1); docs-only fields store tf ≡ 1
            return freq / (freq + F.lit(self.k1))
        _, avgdl = self._fstat(field)
        dl = F.col("dl").cast("double")
        return freq / (freq + F.lit(self.k1) *
                       (F.lit(1.0 - self.b) + F.lit(self.b) * dl / F.lit(avgdl)))

    def _empty_hits(self) -> DataFrame:
        self._set_total(count=0)
        return self._empty_hits_df

    # Driver-side top-K-by-df term dictionary cap. 400k × ~50 B ≈ 20 MB —
    # an ES data node keeps a comparable terms index in heap per shard.
    # Raised 50k → 400k in r8: when the cap covers the WHOLE vocabulary
    # (ceiling == 0) the fuzzy expansion runs driver-side with no Spark job
    # (see _fuzzy_expand_local), and a 60k-doc code corpus already carries
    # ~300k distinct terms. At 100-TB vocabularies the dict simply holds
    # the hottest 400k terms and routing behaves as before.
    _HOT_DF_K = 400_000

    def _postings_view(self, field: str) -> str:
        """Register (once) the postings DataFrame as a temp view so driver
        queries go through one spark.sql() call."""
        views = self._views
        if field not in views:
            with self._views_lock:
                if field not in views:
                    name = f"alps_postings_{abs(id(self))}_{field}"
                    self._postings[field].createOrReplaceTempView(name)
                    views[field] = name
        return views[field]

    def _hot_dfs(self, field: str) -> Tuple[Dict[str, int], int]:
        """(top-K terms by df → df, ceiling df for every other term) — one
        job at first use (under a double-checked lock, so concurrent first
        queries share it), then free per query."""
        cached = self._hot_df_cache
        if field not in cached:
            with self._hot_df_lock:
                if field not in cached:
                    # Arrow transfer (toPandas), not collect(): a row-object
                    # collect of a few 100k terms costs ~0.5 s of py4j
                    # deserialization; the Arrow path is ~10× cheaper (r8)
                    pdf = (self._term_stats[field]
                           .orderBy(F.desc("df"), F.asc("term"))
                           .limit(self._HOT_DF_K).select("term", "df")
                           .toPandas())
                    hot = dict(zip(pdf["term"].tolist(),
                                   (int(d) for d in pdf["df"].tolist())))
                    # ceiling==0 means the dict holds the WHOLE vocabulary
                    ceiling = (min(hot.values())
                               if len(hot) >= self._HOT_DF_K else 0)
                    cached[field] = (hot, ceiling)
        return cached[field]

    def _driver_cache(self, field: str) -> Optional[dict]:
        """Term-sliced numpy postings for ``cache=True`` engines (r8): ONE
        full fetch (term, doc_id, freq, dl, positions) sorted into contiguous
        per-term slices, so every subsequent under-budget driver-path query
        assembles its working set with zero Spark jobs. Built lazily on the
        first driver-path query, under a double-checked lock; None
        (permanently, per field) when the engine is uncached, the budget is
        0, the vocabulary overflows the hot-dict cap (total row count then
        unknown — the 100-TB regime), or the exact total exceeds
        driver_postings_cache_max_rows."""
        if not self._cache or self.qcfg.driver_postings_cache_max_rows <= 0:
            return None
        src = self._field_src.get(field, field)
        store = self._dcache_store
        if src not in store:
            with self._dcache_lock:
                if src not in store:
                    store[src] = self._dcache_build(field)
        return store[src]

    def _dcache_build(self, field: str) -> Optional[dict]:
        hot, ceiling = self._hot_dfs(field)
        if (ceiling != 0 or sum(hot.values())
                > self.qcfg.driver_postings_cache_max_rows):
            return None
        # overlap the fuzzy vocab-matrix build (~0.5 s of pure numpy over
        # the same hot dict; it was the whole first-fuzzy-query latency
        # tail) with the Arrow fetch below, whose JVM-side work releases
        # the GIL (guide §2.6 — fill otherwise-idle wait with independent
        # work). _fuzzy_vocab_arrays is idempotent under its lock.
        warm = threading.Thread(target=self._fuzzy_vocab_arrays,
                                args=(field,), daemon=True)
        warm.start()
        pdf = self.spark.sql(
            f"SELECT term, doc_id, freq, dl, positions FROM "
            f"{self._postings_view(field)}").toPandas()
        codes, uniques = pd.factorize(pdf["term"], sort=True)
        order = np.argsort(codes, kind="stable")
        starts = np.searchsorted(codes[order], np.arange(len(uniques)))
        ends = np.append(starts[1:], len(codes))
        return {
            "slices": {t: (int(s), int(e))
                       for t, s, e in zip(uniques, starts, ends)},
            "doc_id": pdf["doc_id"].to_numpy()[order],
            "freq": pdf["freq"].to_numpy()[order],
            "dl": pdf["dl"].to_numpy()[order],
            "positions": pdf["positions"].to_numpy()[order],
        }

    @staticmethod
    def _dcache_frame(cache: dict, terms, with_positions: bool) -> pd.DataFrame:
        """Assemble the frame the term-IN fetch would have returned, from the
        cache's per-term slices. Row order differs from a Spark fetch (term-
        blocked here), which is immaterial: every driver scorer is row-order
        invariant — at most one posting row per (doc, term), the score fold
        reorders by jidx / sorts internally, and dl is constant per doc."""
        sl = cache["slices"]
        present = [t for t in dict.fromkeys(terms) if t in sl]
        segs = [sl[t] for t in present]
        if segs:
            idx = np.concatenate([np.arange(s, e) for s, e in segs])
            term_col = np.repeat(np.asarray(present, dtype=object),
                                 [e - s for s, e in segs])
        else:
            idx = np.empty(0, dtype=np.int64)
            term_col = np.empty(0, dtype=object)
        data = {"term": term_col,
                "doc_id": cache["doc_id"][idx],
                "freq": cache["freq"][idx],
                "dl": cache["dl"][idx]}
        if with_positions:
            data["positions"] = cache["positions"][idx]
        return pd.DataFrame(data)

    def _driver_working_set(self, field: str, terms: List[str],
                            positions: bool = False,
                            dfs: Optional[Dict[str, int]] = None
                            ) -> Optional[pd.DataFrame]:
        """The query's term-pruned postings (term, doc_id, freq, dl, and
        positions when asked) on the driver — a slice of the driver postings
        cache, else ONE incremental Spark fetch — or None when Σdf exceeds
        qcfg.driver_score_max_postings (the caller then takes the
        distributed plan — the path a 10^9-df hot term takes at scale).
        Σdf is exact when the caller holds ``dfs``, else an O(1) upper bound
        from the cached hot-term dict (any term absent from it has df ≤ the
        K-th df) — no Spark job spent deciding the path."""
        budget = self.qcfg.driver_score_max_postings
        if budget <= 0:
            return None
        if dfs is None:
            hot, ceiling = self._hot_dfs(field)
            dfs = {t: hot.get(t, ceiling) for t in terms}
        if sum(dfs.get(t, 0) for t in terms) > budget:
            return None
        cache = self._driver_cache(field)
        if cache is not None:
            return self._dcache_frame(cache, terms, positions)
        # one SQL string (single py4j round trip, vs ~100 ms of Column-API
        # chatter) + Arrow transfer
        cols = "term, doc_id, freq, dl" + (", positions" if positions else "")
        return self.spark.sql(
            f"SELECT {cols} FROM {self._postings_view(field)} "
            f"WHERE term IN ({_sql_in(terms)})").toPandas()

    def _driver_score_pdf(self, field: str, pdf: pd.DataFrame,
                          clauses: List[Clause], required: int,
                          size: int) -> DataFrame:
        """Vectorized driver-side BM25 fold over the query's postings — the
        same closed form the oracle uses, over the same clause weights the
        distributed plan takes as literals."""
        _, avgdl = self._fstat(field)
        k1, b = self.k1, self.b
        one_minus_b = 1.0 - b
        jmap = self._canon_jidx(clauses)
        # ADVICE r6 #4: one contribution element per (posting row, clause) —
        # the exact multiset the distributed _grouped_score folds. Collapsing
        # duplicate-term clause weights into one (w1+w2)·tf element would
        # diverge by an ulp from the distributed w1·tf + w2·tf fold whenever
        # a future query type carries unequal per-clause weights for the
        # same term; the merge below keeps the paths bit-identical for ANY
        # weights. (Duplicate terms across clauses are rare, so the expanded
        # frame is the same size as pdf in the common case.)
        pdf = pdf.merge(pd.DataFrame([(t, w, jmap[(cid, t)])
                                      for cid, t, w in clauses],
                                     columns=["term", "w", "jidx"]),
                        on="term", how="inner")
        n_elems = len(clauses)
        w = pdf["w"].to_numpy(dtype=np.float64)
        freq = pdf["freq"].to_numpy(dtype=np.float64)
        if self._norms_enabled(field):
            dl = pdf["dl"].to_numpy(dtype=np.float64)
            contrib = w * (freq / (freq + k1 * (one_minus_b + b * dl / avgdl)))
        else:  # norms-free field: tf / (tf + k1), mirroring _tf_norm_col
            contrib = w * (freq / (freq + k1))
        docs = pdf["doc_id"].to_numpy(dtype=np.int64)
        terms_arr = pdf["term"].to_numpy()
        # canonical fold order (r6 find, r7 rework — see _grouped_score):
        # reorder rows so each doc's contributions accumulate in fixed
        # (clause_id, term) jidx order from 0.0 — np.add.at is sequential per
        # slot, so per-doc addition order is the row order restricted to that
        # doc. Missing jidx slots simply don't add (the distributed fold adds
        # an exact + 0.0 there), so scores are bit-identical across index
        # layouts AND to the distributed fold. Above DET_SUM_MAX
        # pairs, the same ascending-by-value fallback as _grouped_score.
        if n_elems > 1:
            if n_elems <= self.DET_SUM_MAX:
                order_ix = np.argsort(pdf["jidx"].to_numpy(), kind="stable")
            else:
                order_ix = np.argsort(contrib, kind="stable")
            docs, contrib = docs[order_ix], contrib[order_ix]
            terms_arr = terms_arr[order_ix]
        uniq, inv = np.unique(docs, return_inverse=True)
        scores = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(scores, inv, contrib)
        if required > 1:
            clause_terms: Dict[int, set] = {}
            for cid, t, _ in clauses:
                clause_terms.setdefault(cid, set()).add(t)
            nmatch = np.zeros(len(uniq), dtype=np.int32)
            term_ser = pd.Series(terms_arr)
            for cterms in clause_terms.values():
                mask = term_ser.isin(cterms).to_numpy()
                hit = np.zeros(len(uniq), dtype=bool)
                hit[inv[mask]] = True
                nmatch += hit
            keep = nmatch >= required
            uniq, scores = uniq[keep], scores[keep]
        self._set_total(count=int(len(uniq)))
        order = np.lexsort((uniq, -scores))[:size]
        return self._local_hits_df(uniq[order], scores[order])

    def _local_hits_df(self, doc_ids, scores) -> DataFrame:
        """Materialize a driver-computed top-k as a DataFrame through the
        Arrow fast path — createDataFrame from a typed pandas frame is ~7×
        cheaper than the pickled list+DDL route (38 ms vs 267 ms measured
        for 50 rows), which was the DOMINANT cost of a warm hybrid query."""
        pdf = pd.DataFrame({
            "doc_id": np.asarray(doc_ids, dtype=np.int64),
            "score": np.asarray(scores, dtype=np.float64)})
        if not len(pdf):
            return self._empty_hits()
        return self.spark.createDataFrame(pdf)

    # (clause, term) pairs above which the clause-order fold falls back to
    # the r6 ascending-value collect_list fold: the conditional-sum
    # projection widens the agg buffer by one double per pair, so very fat
    # expansions (≫ typical fuzzy-multiword) keep the compact path
    DET_SUM_MAX = 64
    # distributed phrase phase 2 broadcasts the candidate doc_id set when
    # its upper bound (min term df) is at most this many rows (~8 B/row →
    # ≤40 MB); above it the semi-join shuffles instead
    PHRASE_BROADCAST_MAX_CANDIDATES = 5_000_000
    # use_wand="auto" takes the pruned route when the largest clause df
    # reaches this (and then only for a one-round plan): the crossover
    # tools/wand_crossover.py measured for the route on a 1M-doc index
    # (4-core VM, local[4], BENCH/runs.jsonl): single terms at df 222,890
    # lose 0.79×, at 492,047 win 1.15×, at 698,402 1.58×, at 979,827
    # 1.99×. Both routes are result-identical, so it only moves speed.
    WAND_AUTO_MIN_DF = 400_000
    # doc-ID ranges one pruned-route round puts in its scan predicate;
    # beyond it the smallest gaps between kept intervals are scored too.
    # The OR of BETWEENs costs a 1M-doc two-term scan the same 1.3-1.4 s
    # at 1 and 16 ranges, 2.8 s at 24 and 10 s at 64 (local[4])
    PRUNE_MAX_RANGES = 16
    # ... and the doc_id buckets (doc_id >> s) it may test instead, one IN
    # list, when the kept intervals need more ranges than that. It cuts the
    # rows scored, not the rows read: on a 1M-doc index (local[4]) "def
    # import" scored 19k rows in 0.72 s with it and 1.04M in 1.00 s without
    PRUNE_MAX_BUCKETS = 4096
    # block rows one pruned-route query collects to the driver (about
    # 8 MB of numpy); past it, adjacent blocks of a term merge
    PRUNE_MAX_BLOCK_ROWS = 1 << 18
    # estimated docs the first pruned-route round scores at least. Rows
    # past the scan cost little next to the scan: on a 1M-doc index
    # (local[4]) one round scoring 6.5k rows and one scoring 59k rows both
    # took about 0.7 s, and every further round is one more scan
    PRUNE_ROUND_DOCS = 50_000
    # each later round scores this many times the estimated docs of the
    # one before, so θ tightens in a few Spark jobs
    PRUNE_GROWTH = 16

    @staticmethod
    def _canon_jidx(clause_rows) -> Dict[Tuple[int, str], int]:
        """Canonical fold position for every (clause_id, term) pair: rank in
        the (clause_id, term)-sorted order — a pure function of the QUERY
        (independent of expansion-collection order and of index layout),
        mirroring Lucene's fixed clause-iteration determinism."""
        pairs = sorted((cid, t) for cid, t, *_ in clause_rows)
        if len(set(pairs)) != len(pairs):
            # ValueError, not assert (ADVICE r7): the no-duplicate contract
            # must hold under python -O too — a silent collapse here would
            # break the cross-path bit-identical fold
            raise ValueError("duplicate (clause_id, term) pair — callers "
                             "must pre-merge weights")
        return {p: i for i, p in enumerate(pairs)}

    def _grouped_score(self, j: DataFrame, m: int,
                       with_nmatch: bool) -> DataFrame:
        """Per-doc score with a canonical fold order (r6 find, r7 rework —
        VERDICT r6 next #2): fold the ≤ m contributions in fixed
        (clause_id, term) order. Each (doc, jidx) has AT MOST ONE posting
        row (postings are unique per (term, doc); the clause frame is unique
        per (clause_id, term)), so every per-jidx ``sum(when(jidx=i, s))``
        aggregates a single element — order-free — and the left-associated
        projection sum over jidx 0..m−1 is deterministic. Missing clauses
        contribute an exact ``+ 0.0`` (IEEE: x + 0.0 ≡ x for x ≥ 0), so the
        fold equals the driver fold of only-present contributions in
        jidx order, bit for bit. Unlike the r6 ascending-value
        collect_list fold this keeps streaming ``partial_sum`` map-side
        combines and whole-stage codegen (the r6 fold shipped every
        contribution double through an ObjectHashAggregate — forced-
        exhaustive hot-term queries ran ~4× slower). Above DET_SUM_MAX
        pairs the compact ascending-value fold returns (both are
        layout-invariant; the driver path switches on the same constant so
        cross-path bit-identity holds per query)."""
        # nmatch (countDistinct) only when the caller will FILTER on it
        # (required > 1) — r8: Spark rewrites a distinct aggregate into an
        # Expand + two aggregation passes (a second shuffle), and the
        # CollectMetrics observe node blocks Catalyst from pruning the
        # unused nmatch away; a required==1 query paid ~3x for a column it
        # dropped (measured 0.93 s -> 0.29 s on a hot single-term query).
        nm = ([F.countDistinct("clause_id").alias("nmatch")]
              if with_nmatch else [])
        if m <= 1:
            return j.groupBy("doc_id").agg(
                F.sum("s").alias("score"), *nm)
        if m <= self.DET_SUM_MAX:
            sums = [F.sum(F.when(F.col("jidx") == i, F.col("s"))).alias(f"_s{i}")
                    for i in range(m)]
            agg = j.groupBy("doc_id").agg(*sums, *nm)
            score = F.coalesce(F.col("_s0"), F.lit(0.0))
            for i in range(1, m):
                score = score + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
            return agg.select("doc_id", score.alias("score"),
                              *(["nmatch"] if with_nmatch else []))
        return j.groupBy("doc_id").agg(
            F.aggregate(F.array_sort(F.collect_list("s")),
                        F.lit(0.0), lambda acc, x: acc + x).alias("score"),
            *nm)

    def _observe_total(self, matches: DataFrame) -> Tuple[DataFrame, "object"]:
        """Attach a row-count Observation to the full-match plan: the top-k
        action (TakeOrderedAndProject consumes every aggregated row — and,
        unlike a range exchange, runs no sampling pass that would double-
        count) fills it for free, so _response needs no second job for
        total_hits. The unobserved plan is kept as a recount fallback."""
        obs = Observation()
        observed = matches.observe(obs, F.count(F.lit(1)).alias("n"))
        self._set_total(df=matches, obs=obs)
        return observed, obs

    def _score_query(self, field: str, clause_mults: List[Clause],
                     required: int, size: int,
                     dfs: Optional[Dict[str, int]] = None) -> DataFrame:
        """The one route every clause query (match, term, fuzzy, bool) takes.
        ``clause_mults`` are (clause_id, term, multiplier); the weight of each
        is multiplier · idf(df), computed here once. Order: resolve the
        pruned route (its ValueErrors fire first), then the driver working
        set under driver_score_max_postings, then the pruned route or the
        distributed scorer. ``dfs`` spares the df lookup when the caller
        already holds them (fuzzy expansions carry their df) and makes the
        budget check exact."""
        if not clause_mults:
            return self._empty_hits()
        terms = list(dict.fromkeys(t for _, t, _ in clause_mults))
        use_wand = self._resolve_use_wand(field, terms)
        pdf = self._driver_working_set(field, terms, dfs=dfs)
        if pdf is not None:
            if not len(pdf):
                return self._routed("driver", self._empty_hits())
            # the working set is complete (under budget): its per-term row
            # counts ARE the df
            clauses = self._clause_weights(field, clause_mults,
                                           pdf["term"].value_counts())
            return self._routed("driver", self._driver_score_pdf(
                field, pdf, clauses, required, size))
        if dfs is None:
            dfs = self._df_lookup(field, terms)
        if not any(dfs.get(t, 0) for t in terms):
            return self._empty_hits()
        clauses = self._clause_weights(field, clause_mults, dfs)
        if use_wand:
            hits = self._wand(field, clauses, size, required, dfs)
            if hits is not None:
                return self._routed("wand", hits)
        return self._routed("distributed", self._score_clauses(
            field, clauses, required, size))

    def _clause_weights(self, field: str, clause_mults: List[Clause],
                        dfs) -> List[Clause]:
        """(clause_id, term, multiplier · idf(df)) — the only place a clause
        weight is computed, so every scorer folds the same doubles. A
        non-finite weight is refused here: the distributed and pruned
        routes carry weights as ``{w!r}D`` SQL literals, which ``infD`` and
        ``nanD`` are not, and the driver fold would return it silently."""
        out = [(cid, t, mult * self.idf(field, int(dfs.get(t, 0))))
               for cid, t, mult in clause_mults]
        bad = [(t, w) for _, t, w in out if not math.isfinite(w)]
        if bad:
            raise ValueError(f"non-finite clause weight(s) {bad!r}: clause "
                             "multipliers (boosts) must be finite")
        return out

    def _clause_matches(self, field: str, clauses: List[Clause],
                        required: int,
                        doc_filter: Optional[str] = None,
                        rows_obs: Optional[Observation] = None) -> DataFrame:
        """Every matching doc's (doc_id, score): per-doc score = Σ
        weight·tf_norm over matched clause terms; keep docs matching ≥
        ``required`` distinct clauses. ``doc_filter`` (a SQL predicate on
        doc_id) restricts the postings scan; ``rows_obs`` counts the
        postings rows that pass it.

        The clause frame is SQL literals over one pruned postings scan — no
        join, no createDataFrame. With one clause per term (the whole match
        family) it is three CASE WHEN columns term → (weight, jidx,
        clause_id). A term serving several clauses (bool "def", overlapping
        multi-word fuzzy expansions) fans each posting row out through
        ``inline(CASE WHEN term = … THEN array(named_struct(…), …) END)``,
        which Catalyst folds into one Generate over the scan. The CASE form
        stays for the common case: on a 6M-row, 3-term probe (local[4]) the
        inline form ran 1.42–1.62 s against 1.36–1.43 s, scores identical."""
        jmap = self._canon_jidx(clauses)
        by_term: Dict[str, list] = {}
        for cid, t, w in clauses:
            by_term.setdefault(t, []).append((jmap[(cid, t)], f"{float(w)!r}D",
                                             cid))

        def case(values) -> str:
            return "CASE " + " ".join(f"WHEN term = {_sql_str(t)} THEN {v}"
                                      for t, v in values) + " END"

        post = self._postings[field].filter(F.col("term").isin(list(by_term)))
        if doc_filter:
            post = post.filter(F.expr(doc_filter))
        if rows_obs is not None:
            # project first: the CollectMetrics node stops column pruning,
            # and the scan would read the positions blobs
            post = post.select("term", "doc_id", "freq", "dl").observe(
                rows_obs, F.count(F.lit(1)).alias("n"))
        if len(by_term) == len(clauses):  # one (jidx, w, clause_id) per term
            frame = [F.expr(case((t, rows[0][k]) for t, rows in by_term.items()))
                     .alias(name) for k, name in enumerate(
                         ("jidx", "w", "clause_id"))]
        else:
            frame = [F.expr("inline(" + case(
                (t, "array(" + ", ".join(
                    f"named_struct('jidx', {j}, 'w', {w}, 'clause_id', {c})"
                    for j, w, c in rows) + ")")
                for t, rows in by_term.items()) + ")")]
        j = (post.select("doc_id", "freq", "dl", *frame)
             .withColumn("s", F.col("w") * self._tf_norm_col(field)))
        agg = self._grouped_score(j, len(clauses), required > 1)
        if required > 1:
            agg = agg.filter(F.col("nmatch") >= required)
        return agg.select("doc_id", "score")

    @staticmethod
    def _top(matches: DataFrame, size: int) -> DataFrame:
        return matches.orderBy(F.desc("score"), F.asc("doc_id")).limit(size)

    def _score_clauses(self, field: str, clauses: List[Clause],
                       required: int, size: int) -> DataFrame:
        """Distributed scorer: the top ``size`` of :meth:`_clause_matches`,
        with the full match count observed on the way."""
        if not clauses:
            return self._empty_hits()
        agg, _ = self._observe_total(
            self._clause_matches(field, clauses, required))
        return self._top(agg, size)

    # --------------------------------------------------- the six query types

    def match_query(self, text: str, operator: str = "or",
                    minimum_should_match: Optional[int] = None,
                    size: Optional[int] = None,
                    field: str = "main") -> DataFrame:
        """Q1/Q2/Q3 (search.py:141-172): analyzed OR/AND match, top `size` by
        BM25, minimum_should_match as a percentage for OR. ``field`` selects
        the analyzed field (the reference's queries are field-parametric,
        search.py:151: "main" = text, or any ExtraField name, e.g. "url" —
        analyzed with THAT field's analyzer and scored with its norms
        setting)."""
        size = size or self.qcfg.size_match
        terms = analyze(text, self._analyzers[field])
        if not terms:
            return self._empty_hits()
        mult: Dict[str, int] = {}
        for t in terms:
            mult[t] = mult.get(t, 0) + 1
        if operator == "and":
            required = len(mult)
        elif minimum_should_match is not None:
            # ES rounds positive percentages DOWN (Q3), clamped ≥ 1
            required = max(1, int(math.floor(minimum_should_match / 100.0 * len(mult))))
        else:
            required = 1
        return self._score_query(
            field, [(i, t, float(k)) for i, (t, k) in enumerate(mult.items())],
            required, size)

    def _resolve_use_wand(self, field: str, terms: List[str]) -> bool:
        """Whether the pruned route may serve this query. ``use_wand="auto"``
        picks it when the LARGEST clause df reaches the constant
        WAND_AUTO_MIN_DF (pruning pays where posting lists get long), else
        the distributed scorer; :meth:`_wand` then keeps it only for a
        one-round plan.
        The decision is O(1) from the hot-term cache except in one regime —
        every query term outside the top-K dict while the K-th df itself
        clears the threshold — where a pruned term_stats lookup resolves it
        exactly (ADVICE r4: assuming the ceiling there misrouted all
        rare-term queries to WAND on corpora whose K-th term is that hot).
        The route needs a norms field and the field's block-max table,
        which the build writes for ``main`` only."""
        mode = self.qcfg.use_wand
        if not mode:
            return False
        if mode != "auto" and not self._norms_enabled(field):
            # the block bounds use the norms/dl BM25 formula, which is
            # WRONG for a norms-free field (an ExtraField like url)
            raise ValueError(
                f"use_wand=True is invalid for field {field!r}: norms "
                "are disabled (docs-only scoring), and the block-max "
                "bounds assume the norms/dl BM25 formula. Use "
                "use_wand=False or 'auto' (auto never prunes here).")
        src = self._field_src.get(field, field)
        if src != "main" or not self._norms_enabled(field):
            return False
        table = self.paths.blockmax(src)
        if "://" not in table and not os.path.exists(table):
            if mode != "auto":
                raise ValueError(
                    f"use_wand=True but field {field!r} has no block-max "
                    f"table at {table} (index built with build_packed=False, "
                    "or before the block-max format replaced packed/). "
                    "Rebuild the index with build_packed=True, or use "
                    "use_wand=False / 'auto'.")
            return False
        if mode != "auto":
            return True
        thresh = self.WAND_AUTO_MIN_DF
        hot, ceiling = self._hot_dfs(field)
        if any(hot.get(t, 0) >= thresh for t in terms):
            return True  # exact: a hot term alone clears the bar
        missing = [t for t in terms if t not in hot]
        if not missing or ceiling < thresh:
            # hot answers exactly (ceiling==0 → full vocabulary: absent
            # terms have df 0), or no absent term can reach the threshold
            return False
        # ambiguous regime (ADVICE r4): the K-th df is ≥ the threshold, so
        # "absent ⇒ ceiling" would misroute every rare-term query to WAND —
        # resolve with the tiny pruned term_stats lookup instead
        dfs = self._df_lookup(field, missing)
        return any(dfs.get(t, 0) >= thresh for t in missing)

    def _block_rows(self, field: str, terms: List[str], dfs: Dict[str, int]
                    ) -> Dict[str, Tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """The query terms' blocks (first_doc, last_doc, max_tf_norm), each
        sorted by first_doc — one term-pruned scan of the block-max table,
        whose read (pinned when ``cache=True``) is opened once per engine.
        When the terms hold more than PRUNE_MAX_BLOCK_ROWS blocks, runs of
        adjacent blocks of a term merge on the executors (first of the
        first, last of the last, max of the bounds: still a bound for every
        posting of the run), so the driver's plan stays that size however
        long the posting lists grow."""
        src = self._field_src.get(field, field)
        tables = self._blockmax_cache
        if src not in tables:
            with self._blockmax_lock:
                if src not in tables:
                    df = self.spark.read.parquet(self.paths.blockmax(src))
                    tables[src] = df.cache() if self._cache else df
        rows = tables[src].filter(F.col("term").isin(terms))
        per_block = self.stats["fields"][src].get("block_size", 1)
        n_blocks = sum(-(-dfs.get(t, 0) // per_block) for t in terms)
        run = -(-n_blocks // self.PRUNE_MAX_BLOCK_ROWS)
        if run > 1:
            rank = F.row_number().over(
                Window.partitionBy("term").orderBy("first_doc"))
            rows = (rows.withColumn("run", F.floor((rank - 1) / run))
                    .groupBy("term", "run")
                    .agg(F.min("first_doc").alias("first_doc"),
                         F.max("last_doc").alias("last_doc"),
                         F.max("max_tf_norm").alias("max_tf_norm")))
        pdf = (rows.select("term", "first_doc", "last_doc", "max_tf_norm")
               .toPandas().sort_values(["term", "first_doc"], kind="stable"))
        out = {}
        for t, g in pdf.groupby("term", sort=False):
            out[t] = (g["first_doc"].to_numpy(dtype=np.int64),
                      g["last_doc"].to_numpy(dtype=np.int64),
                      g["max_tf_norm"].to_numpy(dtype=np.float64))
        return out

    @staticmethod
    def _theta_floor(blocks, clauses: List[Clause], size: int,
                     required: int) -> float:
        """A lower bound on the ``size``-th best score, from the block table
        alone. Every block holds a posting that reaches its max_tf_norm, and
        a doc's score is at least any one of its contributions when no
        weight is negative, so ``size`` blocks of one clause's term bound
        ``size`` distinct docs from below. Only for required ≤ 1: a doc that
        must match further clauses may not count."""
        if required > 1 or any(w < 0 for _, _, w in clauses):
            return 0.0
        floor = 0.0
        for _, t, w in clauses:
            m = blocks.get(t, (None, None, np.empty(0)))[2]
            if len(m) >= size:
                floor = max(floor, float(np.partition(w * m, -size)[-size]))
        # the fold and the table compute tf_norm alike; the margin keeps
        # the floor a bound if they ever round apart
        return floor * (1.0 - 1e-9)

    def _wand(self, field: str, clauses: List[Clause], size: int,
              required: int, dfs: Dict[str, int]) -> Optional[DataFrame]:
        """Block-max interval pruning, planned on the driver and scored by
        :meth:`_clause_matches` — the distributed scorer's fold, so the
        scores are bit-identical to it by construction.

        1. read the query terms' block rows (one pruned scan);
        2. cut the doc space at every block boundary; each interval's bound
           is Σ w · max_tf_norm of the covering blocks, and an interval that
           fewer than ``required`` clauses cover is dropped
           (indexing/blockmax.py);
        3. θ starts at the block floor (:meth:`_theta_floor`), a lower bound
           on the ``size``-th best score that costs no scan;
        4. each round scores the highest-bound intervals still ≥ θ exactly
           (≥: a tie can still win on doc ID) and raises θ to the
           ``size``-th score found. A doc left out scores below θ, under
           ``size`` docs already found, so the top ``size`` of what was
           scored is the exact top ``size``.

        The first round takes every interval that can reach the floor when
        the floor prunes well (an OR query on hot terms: one round), else
        the highest-bound PRUNE_ROUND_DOCS estimated docs; each later round
        PRUNE_GROWTH times more. Every round is a postings scan, so a plan
        of several rounds loses to the one-scan unpruned plan (1M docs,
        local[4]: "return self" 5 rounds, 2.6 s against 1.2 s); under
        ``use_wand="auto"`` such a plan returns None and the caller serves
        the distributed scorer.

        total_hits comes from the unpruned plan, built and counted only
        when a response asks for it."""
        from elasticsearch_alps_spark.indexing.blockmax import (
            doc_predicate, interval_bounds,
        )
        jmap = self._canon_jidx(clauses)
        fold = sorted(clauses, key=lambda c: jmap[(c[0], c[1])])
        terms = list(dict.fromkeys(t for _, t, _ in clauses))
        blocks = self._block_rows(field, terms, dfs)
        edges, bound, ncover, est = interval_bounds(blocks, dfs, fold,
                                                    required)
        # bounds sum in fold order, so w·tf_norm ≤ w·max_tf_norm holds
        # through the rounding; the margin covers the ascending-value fold
        # used above DET_SUM_MAX pairs
        bound = bound * (1.0 + 1e-9)
        cand = np.flatnonzero(ncover >= max(1, required))
        order = cand[np.argsort(-bound[cand], kind="stable")]
        # no query-term posting lies in an interval no block covers, so a
        # range may span those gaps for free
        free = ncover == 0
        theta0 = self._theta_floor(blocks, clauses, size, required)
        # the first round scores every interval that can reach the floor
        # when they are few next to all the candidates, and at least
        # PRUNE_ROUND_DOCS estimated docs
        reach = float(np.sum(est[order][bound[order] >= theta0]))
        want = max(float(self.PRUNE_ROUND_DOCS),
                   reach if reach * self.PRUNE_GROWTH
                   <= float(np.sum(est[cand])) else 0.0)
        if reach > want and self.qcfg.use_wand == "auto":
            return None  # more than one round: more than one scan
        scored: Dict[int, float] = {}
        top: List[Tuple[int, float]] = []
        theta, done, rounds, n_rows = theta0, 0, 0, 0
        while done < len(order):
            # the intervals left are in descending bound order, so the ones
            # that can still hold a top-`size` doc are a prefix of them
            rest = order[done:]
            live = rest[:int(np.count_nonzero(bound[rest] >= theta))]
            if not len(live):
                break
            cum = np.cumsum(est[live])
            batch = (live if cum[-1] <= want
                     else live[:int(np.searchsorted(cum, want)) + 1])
            obs = Observation()
            rows = self._top(self._clause_matches(
                field, clauses, required,
                doc_predicate(edges, batch, free, self.PRUNE_MAX_RANGES,
                              self.PRUNE_MAX_BUCKETS),
                obs), size).collect()
            n_rows += int(obs.get["n"])
            rounds += 1
            done += len(batch)
            want *= self.PRUNE_GROWTH
            scored.update((r["doc_id"], r["score"]) for r in rows)
            top = sorted(scored.items(), key=lambda e: (-e[1], e[0]))[:size]
            theta = max(theta0, top[-1][1] if len(top) >= size else 0.0)
        hits = self._local_hits_df([d for d, _ in top], [s for _, s in top])
        # the unpruned plan, built only if a response asks for the count
        self._set_total(df=lambda: self._clause_matches(field, clauses,
                                                        required))
        self._totals.pruning = {
            "block_rows": int(sum(len(b[0]) for b in blocks.values())),
            "intervals": int(len(cand)), "kept": done, "rounds": rounds,
            "postings_scored": n_rows, "theta": float(theta)}
        return hits

    def _phrase_driver(self, field: str, pdf: pd.DataFrame, terms, offsets,
                       idf_sum: float, slop: int, size: int) -> DataFrame:
        """Driver phrase scorer over the working set (term-pruned postings
        WITH positions): keep the docs holding every phrase term, then
        phrase_freq + BM25 — the same closed form the oracle and the
        distributed pfreq UDF use, so results are identical."""
        counts = pdf.groupby("doc_id")["term"].nunique()
        sub = pdf[pdf["doc_id"].isin(counts.index[counts == len(set(terms))])]
        _, avgdl = self._fstat(field)
        k1, b = self.k1, self.b
        if slop == 0:
            # vectorized exact-phrase scoring (r8): the per-candidate-doc
            # pandas loop below costs ~150 µs/doc (sub-frame + per-row
            # decode + phrase_freq) — ~2.3 s for a mid-df two-term phrase
            # at bench scale. phrase_freq(slop=0) counts anchor positions
            # p of terms[0] with p+offsets[i] present for every other
            # occurrence, which is a pure key-set intersection:
            # key = doc·2³² + (pos − offset). Same BM25 expression tree →
            # bit-identical scores (asserted by the cross-path pytest).
            doc_ids, scores = self._phrase_freqs_vec(
                sub, terms, offsets, idf_sum, k1, b, avgdl)
            self._set_total(count=int(len(doc_ids)))
            order = np.lexsort((doc_ids, -scores))[:size]
            return self._local_hits_df(doc_ids[order], scores[order])
        scored = []
        for doc_id, g in sub.groupby("doc_id"):
            freq = _doc_phrase_freq(terms, offsets, slop,
                                    zip(g["term"], g["positions"]))
            if freq > 0.0:
                dl = float(g["dl"].iat[0])  # identical across a doc's rows
                tf = freq / (freq + k1 * (1.0 - b + b * dl / avgdl))
                scored.append((int(doc_id), idf_sum * tf))
        self._set_total(count=len(scored))
        scored.sort(key=lambda x: (-x[1], x[0]))
        top = scored[:size]
        return self._local_hits_df([d for d, _ in top], [s for _, s in top])

    @staticmethod
    def _phrase_freqs_vec(sub: pd.DataFrame, terms, offsets, idf_sum: float,
                          k1: float, b: float, avgdl: float):
        """Exact-phrase (slop=0) frequencies + BM25 scores for candidate
        rows, whole-frame numpy. Returns (doc_ids, scores) for docs with
        freq > 0. Equivalent to phrase_freq(slop=0) per doc: positions are
        unique per (term, doc), so each occurrence's adjusted key set is
        unique and np.intersect1d(assume_unique) is the anchor count."""
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
        if not len(sub):
            return empty
        row_doc = sub["doc_id"].to_numpy(dtype=np.int64)
        row_dl = sub["dl"].to_numpy(dtype=np.float64)
        pos_col = sub["positions"].tolist()
        # one varint decode for ALL rows' blobs; per-row streams are
        # [count, deltas...] so row boundaries derive from the counts
        flat = varint_decode_np(b"".join(bytes(p) for p in pos_col))
        starts = []
        i = 0
        for _ in range(len(pos_col)):
            starts.append(i)
            i += 1 + int(flat[i])
        starts = np.asarray(starts, dtype=np.int64)
        row_len = flat[starts]
        deltas = np.delete(flat, starts)
        # segmented cumsum → absolute positions per row
        seg_start = np.concatenate(([0], np.cumsum(row_len)[:-1]))
        cs = np.cumsum(deltas)
        nonzero = row_len > 0
        base = np.zeros(len(row_len), dtype=np.int64)
        base[nonzero] = cs[seg_start[nonzero]] - deltas[seg_start[nonzero]]
        flat_pos = cs - np.repeat(base, row_len)
        flat_doc = np.repeat(row_doc, row_len)
        # per-row term code aligned to the flattened positions; a row whose
        # term is not in the phrase gets code -1 and so joins no key set
        term_code = {t: i for i, t in enumerate(dict.fromkeys(terms))}
        row_code = pd.Categorical(sub["term"], categories=list(term_code)
                                  ).codes.astype(np.int64)
        flat_code = np.repeat(row_code, row_len)
        SHIFT = np.int64(1) << np.int64(32)
        inter = None
        for occ, t in enumerate(terms):
            sel = flat_code == term_code[t]
            keys = flat_doc[sel] * SHIFT + (flat_pos[sel]
                                            - np.int64(offsets[occ]))
            inter = keys if inter is None else np.intersect1d(
                inter, keys, assume_unique=True)
            if not len(inter):
                return empty
        docs_hit, freq = np.unique(inter // SHIFT, return_counts=True)
        # dl per doc (identical across a doc's rows): first row wins
        uniq_docs, first_ix = np.unique(row_doc, return_index=True)
        dl = row_dl[first_ix[np.searchsorted(uniq_docs, docs_hit)]]
        freq = freq.astype(np.float64)
        tf = freq / (freq + k1 * (1.0 - b + b * dl / avgdl))
        return docs_hit, idf_sum * tf

    def match_phrase_query(self, text: str, slop: int = 0,
                           size: Optional[int] = None) -> DataFrame:
        """Q4 (search.py:174-205): all terms present, positions form the phrase
        (± slop); scored as BM25 with tf = phrase frequency and the summed idf
        of the phrase terms (Lucene PhraseWeight)."""
        size = size or self.qcfg.size_match
        # analyzed positions, stopword gaps preserved (Lucene phrase semantics)
        tp = analyze_positions(text, self._analyzers["main"])
        if not tp:
            return self._empty_hits()
        terms = [t for t, _ in tp]
        offsets = [p - tp[0][1] for _, p in tp]
        if len(terms) == 1:
            return self.match_query(text, "or", size=size)
        uniq = list(dict.fromkeys(terms))
        dfs = self._df_lookup("main", uniq)
        if any(dfs.get(t, 0) == 0 for t in uniq):
            return self._empty_hits()
        # Lucene PhraseWeight sums idf per term occurrence
        idf_sum = sum(self.idf("main", dfs[t]) for t in terms)
        pdf = self._driver_working_set("main", uniq, positions=True, dfs=dfs)
        if pdf is not None:
            return self._routed("driver", self._phrase_driver(
                "main", pdf, terms, offsets, idf_sum, slop, size))
        # Two-phase candidate plan (r2 rework — VERDICT r1 wrong #1): the r1
        # plan collect_list'ed positions for EVERY doc containing ANY phrase
        # term, so one frequent term shuffled the corpus's position blobs.
        # Phase 1 finds conjunction candidates from a positions-free scan
        # (count == n distinct terms; postings are unique per (term, doc)).
        post = self._postings["main"].filter(F.col("term").isin(uniq))
        cand_ids = (post.select("doc_id")
                    .groupBy("doc_id").agg(F.count("*").alias("nmatch"))
                    .filter(F.col("nmatch") == len(uniq))
                    .select("doc_id"))
        # Phase 2 re-scans postings WITH positions for the candidate set only.
        # |candidates| ≤ min df over the phrase terms; broadcast the id set
        # when that bound is small (positions then never cross an exchange
        # pre-aggregation), else fall back to a shuffle semi-join.
        min_df = min(dfs[t] for t in uniq)
        ids = cand_ids if min_df > self.PHRASE_BROADCAST_MAX_CANDIDATES \
            else F.broadcast(cand_ids)
        cand = (post.join(ids, "doc_id", "left_semi")
                .groupBy("doc_id")
                .agg(F.collect_list(F.struct("term", "positions")).alias("plists"),
                     F.first("dl").alias("dl")))

        qterms, qslop, qoffsets = list(terms), slop, list(offsets)

        @F.pandas_udf("double")
        def pfreq(plists: pd.Series) -> pd.Series:
            return plists.map(lambda lst: _doc_phrase_freq(
                qterms, qoffsets, qslop,
                ((e["term"], e["positions"]) for e in lst)))

        scored = (cand.withColumn("freq", pfreq("plists"))
                      .filter(F.col("freq") > 0.0)
                      .withColumn("score", F.lit(idf_sum) * self._tf_norm_col("main")))
        scored, obs = self._observe_total(scored)
        return self._routed("distributed", scored.select("doc_id", "score")
                            .orderBy(F.desc("score"), F.asc("doc_id"))
                            .limit(size))

    def term_query_exact(self, text: str, size: Optional[int] = None) -> DataFrame:
        """Q5 (search.py:207-242): single-word gate; manual lowercase only (the
        reference does NOT asciifold the query side — quirk, search.py:224);
        exact-analyzer postings, BM25-scored."""
        size = size or self.qcfg.size_term
        if not is_single_word(text) or "exact" not in self._postings:
            return self._empty_hits()
        return self._score_query("exact", [(0, text.strip().lower(), 1.0)],
                                 1, size)

    def wildcard_query(self, text: str, size: Optional[int] = None) -> DataFrame:
        """Q6 (search.py:244-279): single-word gate; ``*word*`` over the exact
        field's term dictionary; ES default constant-score rewrite → score 1.0,
        docID-ordered."""
        size = size or self.qcfg.size_wildcard
        if not is_single_word(text) or "exact" not in self._postings:
            return self._empty_hits()
        needle = text.strip().lower()
        matched = (self._term_stats["exact"]
                   .filter(F.col("term").contains(needle)).select("term"))
        all_hits = (self._postings["exact"]
                    .join(F.broadcast(matched), "term", "left_semi")
                    .select("doc_id").distinct()
                    .withColumn("score", F.lit(1.0)))
        all_hits, obs = self._observe_total(all_hits)
        return all_hits.orderBy(F.asc("doc_id")).limit(size)

    def _term_len_col(self, field: str):
        """Stored term_len when the index has it (r3 — a stored column makes
        the fuzzy length band a PUSHED parquet predicate with row-group
        min/max skipping), else computed length (pre-r3 indexes)."""
        ts = self._term_stats[field]
        return F.col("term_len") if "term_len" in ts.columns \
            else F.length("term")

    def _fuzzy_vocab_arrays(self, field: str):
        """Driver-side term dictionary as numpy arrays sorted by
        (term_len, term): (lens, terms, dfs, padded char-code matrix,
        char signatures). Built once per field, under a double-checked
        lock, from the full-vocabulary hot-df cache; only valid when that
        cache holds the WHOLE dictionary (ceiling == 0)."""
        cached = self._fuzzy_vocab_cache
        if field not in cached:
            with self._fuzzy_vocab_lock:
                if field not in cached:
                    hot, _ = self._hot_dfs(field)
                    if hot:
                        # r8.2: numpy end to end — np.lexsort over a fixed-
                        # width UTF-32 ("U") array gives the same (len, term)
                        # order as the Python sort (numpy U-comparison is
                        # codepoint order, == str comparison), and the
                        # U<width> buffer already IS the null-padded
                        # char-code matrix, so the scatter-fill disappears.
                        # Build time 1.1 s → ~0.5 s at 300k terms (this was
                        # the whole first-fuzzy-query latency tail).
                        tu = np.array(list(hot.keys()), dtype="U")
                        dfs_u = np.fromiter(hot.values(), dtype=np.int64,
                                            count=len(hot))
                        lens_u = np.char.str_len(tu)
                        order = np.lexsort((tu, lens_u))
                        terms = tu[order]
                        dfs = dfs_u[order]
                        lens = lens_u[order].astype(np.int64)
                        width = int(lens[-1])
                        # pad is 0 (U-dtype null padding) instead of the old
                        # -1: tokens never contain NUL, and the DP answer
                        # only reads columns ≤ term_len, so the pad value is
                        # inert either way
                        mat = (np.ascontiguousarray(terms.astype(f"U{width}"))
                               .view(np.uint32).reshape(len(terms), width)
                               .astype(np.int32))
                        # hashed char-count signature (26+ buckets): one edit
                        # changes at most two bucket counts by 1 each, so
                        # L1(sig_a, sig_b) ≤ 2d is NECESSARY for edit
                        # distance ≤ d — a cheap vectorized prefilter that
                        # empties the ~|vocab|-sized DP band a long rare
                        # word would otherwise pay (measured ~0.8 s → ~0.1 s)
                        rows_idx = np.repeat(np.arange(len(terms)), lens)
                        sig = np.bincount(
                            rows_idx * 32 + (mat[mat > 0] % 32),
                            minlength=len(terms) * 32,
                        ).reshape(len(terms), 32).astype(np.int16)
                    else:
                        terms = np.zeros(0, dtype="U1")
                        dfs = np.zeros(0, dtype=np.int64)
                        lens = np.zeros(0, dtype=np.int64)
                        mat = np.zeros((0, 0), dtype=np.int32)
                        sig = np.zeros((0, 32), dtype=np.int16)
                    cached[field] = (lens, terms, dfs, mat, sig)
        return cached[field]

    @staticmethod
    def _levenshtein_vec(word: str, mat: np.ndarray,
                         tlens: np.ndarray) -> np.ndarray:
        """Exact Levenshtein distance of ``word`` against every row of the
        padded char-code matrix (classic DP, vectorized across candidates —
        same distance Spark's ``levenshtein`` computes)."""
        n, width = mat.shape
        prev = np.tile(np.arange(width + 1, dtype=np.int32), (n, 1))
        for i, ch in enumerate(word, 1):
            wc = ord(ch)
            cur = np.empty_like(prev)
            cur[:, 0] = i
            for j in range(1, width + 1):
                sub = prev[:, j - 1] + (mat[:, j - 1] != wc)
                cur[:, j] = np.minimum(np.minimum(prev[:, j] + 1,
                                                  cur[:, j - 1] + 1), sub)
            prev = cur
        return prev[np.arange(n), tlens]

    def _fuzzy_expand_local(self, field: str,
                            words: List[str]) -> Optional[Dict[int, list]]:
        """Driver-side expansion (r8): when the hot-df cache already holds
        the ENTIRE term dictionary (ceiling == 0 — always true once
        |vocab| ≤ _HOT_DF_K and the driver serving path is active), the
        banded scan + levenshtein runs in numpy on the driver with no
        Spark job at all. Returns the same uncut candidates as
        _fuzzy_expand_multi_df: same band, same distance, same boost
        expression (_fuzzy_expand_multi cuts both the same way).
        Returns None when the dictionary exceeds the cache (the 100-TB
        regime) or the driver path is disabled — callers then run the
        distributed expansion plan exactly as before."""
        if self.qcfg.driver_score_max_postings <= 0:
            return None
        hot, ceiling = self._hot_dfs(field)
        if ceiling != 0:
            return None
        lens, terms, dfs, mat, sig = self._fuzzy_vocab_arrays(field)
        out: Dict[int, list] = {}
        for wi, word in enumerate(words):
            max_d = fuzzy_auto_distance(word)
            lo = np.searchsorted(lens, len(word) - max_d, side="left")
            hi = np.searchsorted(lens, len(word) + max_d, side="right")
            if hi <= lo:
                out[wi] = []
                continue
            # char-signature prefilter (see _fuzzy_vocab_arrays): keeps only
            # candidates whose hashed char counts are within 2·max_d moves —
            # a superset of the ed ≤ max_d set, so the DP result is exact
            qsig = np.zeros(32, dtype=np.int16)
            np.add.at(qsig, np.array([ord(c) % 32 for c in word],
                                     dtype=np.int64), 1)
            l1 = np.abs(sig[lo:hi] - qsig).sum(axis=1)
            band_ix = lo + np.flatnonzero(l1 <= 2 * max_d)
            if not len(band_ix):
                out[wi] = []
                continue
            # DP width bounded by the band's longest candidate, not the
            # whole vocabulary's (a 255-char outlier token would otherwise
            # widen every row's DP table ~10×)
            wmax = int(lens[band_ix].max())
            ed = self._levenshtein_vec(word, mat[band_ix][:, :wmax],
                                       lens[band_ix])
            keep = np.flatnonzero(ed <= max_d)
            cand = []
            for k in keep.tolist():
                t = str(terms[band_ix[k]])  # np.str_ → plain str for callers
                e = int(ed[k])
                boost = (1.0 if e == 0
                         else 1.0 - float(e) / float(min(len(t), len(word))))
                cand.append((t, boost, int(dfs[band_ix[k]])))
            out[wi] = cand
        return out

    def _fuzzy_expand_multi_df(self, field: str, words: List[str]) -> DataFrame:
        """Distributed expansion candidates for one or several words in ONE
        term-dictionary scan: every (widx, term, boost, df) within the
        word's edit distance, by JVM-side levenshtein, boost = 1 −
        ed/min(len(term), len(word)). The words are SQL literals
        (``inline(array(named_struct(…)))``, one Generate over the scan) —
        no join and no createDataFrame, whose collect is a Spark job of its
        own. No window rank: the candidates are bounded by each word's
        edit-distance neighbourhood, so the top-k cut runs on the driver
        (_fuzzy_expand_multi) without a shuffle."""
        wrows = [(i, w, fuzzy_auto_distance(w)) for i, w in enumerate(words)]
        words_sql = "inline(array(" + ", ".join(
            f"named_struct('widx', {i}, 'word', {_sql_str(w)}, 'maxd', {d}, "
            f"'wlen', {len(w)})" for i, w, d in wrows) + "))"
        ts = self._term_stats[field]
        tlen = self._term_len_col(field)
        # literal envelope over ALL words' bands — the per-word band below
        # can't push into the scan, but this pre-filter can (pushed parquet
        # predicate)
        lo = min(len(w) - d for _, w, d in wrows)
        hi = max(len(w) + d for _, w, d in wrows)
        return (ts.filter((tlen >= lo) & (tlen <= hi))
                .select("term", "df", tlen.alias("tlen"), F.expr(words_sql))
                .filter((F.col("tlen") >= F.col("wlen") - F.col("maxd"))
                        & (F.col("tlen") <= F.col("wlen") + F.col("maxd")))
                .withColumn("ed", F.levenshtein(F.col("term"), F.col("word")))
                .filter(F.col("ed") <= F.col("maxd"))
                .withColumn("boost", F.when(F.col("ed") == 0, F.lit(1.0)).otherwise(
                    F.lit(1.0) - F.col("ed").cast("double")
                    / F.least(F.length("term"), F.col("wlen")).cast("double")))
                .select("widx", "term", "boost", "df"))

    def _fuzzy_expand_multi(self, field: str, words: List[str]) -> Dict[int, list]:
        """Each word's top fuzzy_max_expansions (term, boost, df) by (boost
        desc, term asc), like Lucene's TopTermsRewrite queue — cut on the
        driver over the numpy or the distributed candidates. Python str
        order is code-point order, which is Spark's UTF-8 binary order."""
        cand = self._fuzzy_expand_local(field, words)
        if cand is None:
            cand = {i: [] for i in range(len(words))}
            for r in self._fuzzy_expand_multi_df(field, words).collect():
                cand[r["widx"]].append((r["term"], r["boost"], r["df"]))
        return {wi: sorted(c, key=lambda e: (-e[1], e[0]))
                [:self.qcfg.fuzzy_max_expansions] for wi, c in cand.items()}

    def fuzzy_query(self, text: str, size: Optional[int] = None) -> DataFrame:
        """Q7 (search.py:282-349). Single word: term-level fuzzy (NO analysis of
        the query value, matching ES), expansions scored boost·BM25 and summed.
        Multi-word: multi_match fuzziness=AUTO fallback, operator or,
        minimum_should_match 60%."""
        size = size or self.qcfg.size_fuzzy
        if is_single_word(text):
            word = text.strip()
            if not word:
                return self._empty_hits()
            # expansion boosts are the idf multipliers
            exp = self._fuzzy_expand_multi("main", [word])[0]
            return self._score_query(
                "main", [(0, t, boost) for t, boost, _ in exp], 1, size,
                dfs={t: df for t, _, df in exp})
        words = analyze(text, self._analyzers["main"])
        if not words:
            return self._empty_hits()
        uniq = list(dict.fromkeys(words))
        pct = int(self.qcfg.fuzzy_multiword_minimum_should_match.rstrip("%"))
        required = max(1, int(math.floor(pct / 100.0 * len(uniq))))
        expansions = self._fuzzy_expand_multi("main", uniq)
        clause_mults: List[Clause] = []
        for ci in range(len(uniq)):
            for t, boost, df in expansions[ci]:
                clause_mults.append((ci, t, boost))
        return self._score_query(
            "main", clause_mults, required, size,
            dfs={t: df for e in expansions.values() for t, _, df in e})

    def bool_must_query(self, text: str, size: Optional[int] = None) -> DataFrame:
        """Q8 (search.py:352-418): whitespace-split words (NOT analyzed as a
        whole), each word a match clause; AND limits to bool_must_max_words and
        requires all; OR uses all words with optional minimum_should_match;
        single word is duplicated (search.py:358/387)."""
        size = size or self.qcfg.size_match
        op = self.qcfg.bool_must_operator.lower()
        if op == "and":
            words = text.split()[: self.qcfg.bool_must_max_words]
            if len(words) < 2:
                words = [text, text]
        else:
            words = text.split()
            if len(words) < 2:
                words = [text, text]
        clause_terms: List[List[str]] = []
        for w in words:
            clause_terms.append(analyze(w, self._analyzers["main"]))
        if op == "and" and any(not ts for ts in clause_terms):
            return self._empty_hits()  # zero-term must clause matches nothing
        clause_mults: List[Clause] = []
        for ci, ts in enumerate(clause_terms):
            mult: Dict[str, int] = {}
            for t in ts:
                mult[t] = mult.get(t, 0) + 1
            for t, k in mult.items():
                clause_mults.append((ci, t, float(k)))
        if op == "and":
            required = len(clause_terms)
        elif self.qcfg.bool_must_minimum_should_match is not None:
            # ES computes minimum_should_match over ALL should clauses —
            # zero-term clauses (stopword-only words) still count toward the
            # requirement and can never match (matches oracle.py bool OR path)
            pct = int(str(self.qcfg.bool_must_minimum_should_match).rstrip("%"))
            required = max(1, int(math.floor(pct / 100.0 * len(words))))
        else:
            required = 1
        return self._score_query("main", clause_mults, required, size)

    def match_all(self, size: int = 1) -> DataFrame:
        """Q11 (merge.py:151-155): all docs, constant score 1.0 — the
        reference uses it as a searchability health probe."""
        # total = every indexed doc (known from stats; no counting job)
        self._set_total(count=self.stats["fields"]["main"]["n_docs"])
        return (self.docs.select("doc_id")
                .withColumn("score", F.lit(1.0))
                .orderBy("doc_id").limit(size))

    # --------------------------------------------- response assembly (Q12/13)

    def _response(self, hits_df: DataFrame, text: str, query_type: str,
                  fragment_size: int = 150, number_of_fragments: int = 3) -> dict:
        """Build the reference's per-query result row
        (search.py:525-555 + 594-614): total_hits capped at 10,000 (ES 7
        track_total_hits default, G3), max_score, top-5 snippets."""
        t0 = time.time()
        rows = hits_df.collect()
        total = len(rows)
        if total > 0 and self._last_total_count is not None:
            total = self._last_total_count
        elif total > 0 and self._last_total_obs is not None:
            # the observation rode the scoring aggregation and was filled by
            # the collect() above — the full match count costs no second job
            n = self._last_total_obs.get.get("n")
            total = int(n) if n is not None else total
        elif total > 0 and self._last_total_df is not None:
            # the result was limit()ed — the reference reports the full match
            # count, capped at 10,000 (ES 7 track_total_hits default, G3)
            # (the pruned route leaves a function that builds that plan)
            plan = self._last_total_df
            total = (plan() if callable(plan) else plan).count()
        top = rows[:100]
        # join back to the doc store for _source (J4) — broadcast the k-row side
        snippets = ""
        max_score = max((r["score"] for r in rows), default=0) or 0
        if top:
            ids = [r["doc_id"] for r in top]
            src = {d["doc_id"]: d for d in
                   self.docs.filter(F.col("doc_id").isin(ids)).collect()}
            text_col = self.stats.get("text_col", "content")
            hits = [{"doc_id": r["doc_id"], "score": r["score"],
                     "content": src[r["doc_id"]][text_col] if r["doc_id"] in src
                     else ""} for r in top]
            # term/wildcard queries hit text.exact and the reference
            # highlights with require_field_match: true (search.py:224-236,
            # 262-273) — so their query terms analyze with the EXACT-field
            # analyzer, not the stemming main analyzer (r2, VERDICT missing #5)
            hfield = ("exact" if query_type.startswith(("term_query",
                                                        "wildcard_query"))
                      and "exact" in self._analyzers else "main")
            qterms = analyze(text, self._analyzers[hfield])
            snippets = format_snippets(hits, qterms, self._analyzers[hfield],
                                       fragment_size, number_of_fragments)
        return {
            "timestamp": datetime.now().isoformat(),
            "segment_text": text,
            "query_type": query_type,
            "query_time_ms": round((time.time() - t0) * 1000, 2),
            "total_hits": min(total, self.qcfg.track_total_hits),
            "max_score": max_score,
            "timed_out": False,
            "error": None,
            "top_5_hits": snippets,
        }

    def run_all_queries(self, segment_text: str) -> List[dict]:
        """Mirror of search.py:557-634: run every enabled query type, collect
        result rows with timings."""
        q = self.qcfg
        methods = []
        if q.execute_match_query:
            for op in q.match_query_operator:
                name = "match_query" if (op == "or" and len(q.match_query_operator) == 1) \
                    else f"match_query_{op}"
                methods.append((name, lambda t, op=op: self.match_query(t, op)))
        if q.execute_match_phrase_query:
            for slop in q.match_phrase_slop:
                name = "match_phrase_query" if slop == 0 \
                    else f"match_phrase_query_slop_{slop}"
                methods.append((name, lambda t, s=slop: self.match_phrase_query(t, s)))
        if q.execute_term_query_exact:
            methods.append(("term_query_exact", self.term_query_exact))
        if q.execute_wildcard_query:
            methods.append(("wildcard_query", self.wildcard_query))
        if q.execute_fuzzy_query:
            methods.append(("fuzzy_query", self.fuzzy_query))
        if q.execute_bool_must_query:
            methods.append(("bool_must_query", self.bool_must_query))

        out = []
        for name, fn in methods:
            t0 = time.time()
            try:
                hits = fn(segment_text)
                frag, nfrag = (200, 5) if name in ("term_query_exact",
                                                   "wildcard_query") else (150, 3)
                row = self._response(hits, segment_text, name, frag, nfrag)
                row["query_time_ms"] = round((time.time() - t0) * 1000, 2)
            except Exception as e:  # mirror search.py:617-632 error rows
                row = {"timestamp": datetime.now().isoformat(),
                       "segment_text": segment_text, "query_type": name,
                       "query_time_ms": round((time.time() - t0) * 1000, 2),
                       "total_hits": 0, "max_score": 0, "timed_out": False,
                       "error": str(e), "top_5_hits": ""}
            out.append(row)
            self.results.append(row)
        return out

    def summary_stats(self) -> dict:
        """Per-query-type summary (G5, search.py:803-881)."""
        import statistics
        by_type: Dict[str, List[dict]] = {}
        for r in self.results:
            by_type.setdefault(r["query_type"], []).append(r)
        stats_by_type = {}
        for qt, rows in by_type.items():
            ok = [r for r in rows if r["error"] is None]
            times = [r["query_time_ms"] for r in ok] or [0]
            hits = [r["total_hits"] for r in ok] or [0]
            stats_by_type[qt] = {
                "total_queries": len(ok),
                "avg_query_time_ms": round(statistics.mean(times), 2),
                "median_query_time_ms": round(statistics.median(times), 2),
                "min_query_time_ms": round(min(times), 2),
                "max_query_time_ms": round(max(times), 2),
                "avg_hits": round(statistics.mean(hits), 2),
                "total_hits": sum(hits),
                "errors": len(rows) - len(ok),
            }
        return {
            "overview": {
                "total_queries": len(self.results),
                "successful_queries": len([r for r in self.results if r["error"] is None]),
                "failed_queries": len([r for r in self.results if r["error"] is not None]),
            },
            "query_type_stats": stats_by_type,
        }

    def close(self) -> None:
        """Release session-global resources this engine registered: its
        postings temp views and any cached/pinned DataFrames (``cache=True``
        postings/term_stats, the block-max table read). A long-running
        serving session that cycles engines should close retired ones —
        temp views and pinned cache blocks otherwise accumulate for the
        application lifetime. NB Spark's cache manager is PLAN-keyed: another
        live engine over the same index directory shares the cache entries
        and falls back to disk reads (correctness unaffected) after this
        unpersists them."""
        for name in self._views.values():
            self.spark.catalog.dropTempView(name)
        self._views.clear()
        if self._cache:
            for df in list(self._postings.values()) + \
                    list(self._term_stats.values()):
                df.unpersist()
            for df in self._blockmax_cache.values():
                df.unpersist()
        self._blockmax_cache.clear()

    def register_views(self, prefix: str = "alps") -> Dict[str, str]:
        """Expose the index as SQL views (``{prefix}_docs``,
        ``{prefix}_postings_<field>``, ``{prefix}_term_stats_<field>``) so
        ad-hoc analytics run through plain ``spark.sql`` — the declarative
        surface the engine itself plans against (term-sorted postings keep
        their min/max pruning under SQL too)."""
        names = {}
        self.docs.createOrReplaceTempView(f"{prefix}_docs")
        names["docs"] = f"{prefix}_docs"
        for field in self._postings:
            self._postings[field].createOrReplaceTempView(
                f"{prefix}_postings_{field}")
            self._term_stats[field].createOrReplaceTempView(
                f"{prefix}_term_stats_{field}")
            names[f"postings_{field}"] = f"{prefix}_postings_{field}"
            names[f"term_stats_{field}"] = f"{prefix}_term_stats_{field}"
        return names

    # ------------------------------------------------------------- invariant

    def materialize_hits(self, hits_df: DataFrame) -> DataFrame:
        """Join top-k hits back to the doc store (J4) — broadcast the k-row
        hit side; carries content + content_sha256 for the per-row invariant."""
        return self.docs.join(F.broadcast(hits_df), "doc_id", "inner")

    def verify_hits_sha256(self, hits_df: DataFrame, source_df: DataFrame,
                           id_cols: Sequence[str], text_col: str = "content") -> bool:
        """BASELINE.json invariant: sha256(content) of every hit equals the
        source table's (content hashed pre-truncation at index time)."""
        mat = self.materialize_hits(hits_df)
        src = source_df.select(
            *id_cols, F.sha2(F.col(text_col), 256).alias("_src_sha"))
        joined = mat.join(src, list(id_cols), "inner")
        bad = joined.filter(F.col("content_sha256") != F.col("_src_sha")).count()
        missing = mat.count() - joined.count()
        return bad == 0 and missing == 0
