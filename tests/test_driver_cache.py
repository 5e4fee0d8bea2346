"""Driver-side working set: the postings cache (r8) — bit-identity with the
per-query fetch path across every query family, the gating contract
(uncached engines, zero budget, and over-budget vocabularies never build it)
and one build under concurrent first queries — and the per-query fetch's SQL
string quoting."""

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from elasticsearch_alps_spark.config import QueryConfig
from elasticsearch_alps_spark.queries.engine import SearchEngine


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def engines(spark, built_index):
    cached = SearchEngine(spark, built_index.root, QueryConfig(), cache=True)
    plain = SearchEngine(spark, built_index.root, QueryConfig(), cache=False)
    return cached, plain


def test_cache_engages_and_match_family_bit_identical(engines):
    cached, plain = engines
    queries = ["def", "import json", "parse config value", "zz_absent_term"]
    for q in queries:
        assert _rows(cached.match_query(q)) == _rows(plain.match_query(q))
        assert (_rows(cached.match_query(q, operator="and"))
                == _rows(plain.match_query(q, operator="and")))
        assert (_rows(cached.match_query(q, minimum_should_match=60))
                == _rows(plain.match_query(q, minimum_should_match=60)))
    # the cache actually served (not silently gated off)
    assert cached._dcache_store.get("main") is not None
    assert cached.last_scorer == "driver"
    # the uncached engine must never have built one
    assert not getattr(plain, "_dcache_store", None)


def test_phrase_and_slop_bit_identical(engines):
    cached, plain = engines
    for q in ["import json", "def main", "parse json config"]:
        for slop in (0, 1):
            assert (_rows(cached.match_phrase_query(q, slop=slop))
                    == _rows(plain.match_phrase_query(q, slop=slop)))


def test_fuzzy_and_bool_bit_identical(engines):
    cached, plain = engines
    for q in ["imprt", "parse jsn confg"]:
        assert _rows(cached.fuzzy_query(q)) == _rows(plain.fuzzy_query(q))
    assert (_rows(cached.bool_must_query("import json"))
            == _rows(plain.bool_must_query("import json")))


def test_wand_config_cached_vs_fetch_bit_identical(spark, built_index):
    # use_wand=True still takes the driver working set under the budget
    w_cached = SearchEngine(spark, built_index.root,
                            QueryConfig(use_wand=True), cache=True)
    w_plain = SearchEngine(spark, built_index.root,
                           QueryConfig(use_wand=True), cache=False)
    for q in ["def", "import", "def import"]:
        assert _rows(w_cached.match_query(q)) == _rows(w_plain.match_query(q))
        assert w_cached.last_scorer == w_plain.last_scorer == "driver"


def _race_first_queries(eng):
    """Run one first match query on ``eng`` from more threads than cores,
    released together with a tiny switch interval; all must agree."""
    n = min(16, (os.cpu_count() or 4) + 2)
    gate = threading.Barrier(n)
    out, errors = {}, []

    def run(i):
        try:
            gate.wait(timeout=60)
            out[i] = _rows(eng.match_query("def"))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len({tuple(r) for r in out.values()}) == 1 and out[0]


def test_concurrent_first_queries_build_cache_once(spark, built_index):
    """Concurrent first queries on a fresh cache=True engine must share ONE
    full-postings fetch (double-checked lock), not each run it."""
    eng = SearchEngine(spark, built_index.root, QueryConfig(), cache=True)
    builds = []
    build = eng._dcache_build

    def counted(field):
        builds.append(field)
        return build(field)

    eng._dcache_build = counted
    eng._hot_dfs("main")  # keep the race on the cache build itself
    _race_first_queries(eng)
    assert builds == ["main"]
    assert eng._dcache_store["main"] is not None


class _SortCountingFrame:
    """A term_stats DataFrame that records each orderBy — the hot-dict
    build's top-K sort — and delegates everything else."""

    def __init__(self, df):
        self._df, self.sorts = df, []

    def orderBy(self, *cols):
        self.sorts.append(cols)
        return self._df.orderBy(*cols)

    def __getattr__(self, name):
        return getattr(self._df, name)


def test_concurrent_first_queries_build_hot_dict_once(spark, built_index):
    """Concurrent first queries on a fresh engine must share ONE top-K
    term_stats collect for the hot-df dict (double-checked lock): the
    router's budget check, the postings-cache build and the fuzzy warm-up
    thread all read it."""
    eng = SearchEngine(spark, built_index.root, QueryConfig(), cache=True)
    ts = eng._term_stats["main"] = _SortCountingFrame(eng._term_stats["main"])
    _race_first_queries(eng)
    assert len(ts.sorts) == 1, ts.sorts
    assert eng._hot_df_cache["main"][0]


def test_fetch_quotes_trailing_backslash(spark, built_index):
    # "foo\" passes the single-word gate and becomes the exact-field term
    # verbatim; an unescaped trailing backslash used to break the fetch SQL
    eng = SearchEngine(spark, built_index.root, QueryConfig())
    assert eng.term_query_exact("foo\\").collect() == []


def test_fetch_quotes_backslash_terms(spark, tmp_path):
    """A keyword-analyzed field keeps backslashes in its terms: the fetch
    route must look up exactly ``c:\\path`` — not ``c:path``, which Spark
    reads from an unescaped literal — and so agree with the distributed
    route, whose term filter is not SQL text."""
    from elasticsearch_alps_spark.config import (
        KEYWORD_ANALYZER, ExtraField, IndexConfig,
    )
    from elasticsearch_alps_spark.indexing.builder import build_index
    rows = [("r", f"p{i}", "c", "py", f"content {i}") for i in range(6)]
    wpath = ["c:\\path", "c:path", "it's", "its", "a\\'b", "plain"]
    docs = (spark.createDataFrame(
        [r + (w,) for r, w in zip(rows, wpath)],
        "repo string, path string, commit string, lang string, "
        "content string, wpath string"))
    cfg = IndexConfig(extra_fields=(
        ExtraField("wpath", "wpath", KEYWORD_ANALYZER),))
    paths = build_index(spark, docs, str(tmp_path / "idx_kw"), cfg, shards=2)
    fetch = SearchEngine(spark, paths.root, QueryConfig())
    dist = SearchEngine(spark, paths.root,
                        QueryConfig(driver_score_max_postings=0))
    ids = dict(spark.read.parquet(paths.docs)
               .select(F.col("path"), "doc_id").collect())
    for i, w in enumerate(wpath[:5]):
        got = _rows(fetch.match_query(w, field="wpath"))
        assert fetch.last_scorer == "driver"
        assert got == _rows(dist.match_query(w, field="wpath")), w
        assert [d for d, _ in got] == [ids[f"p{i}"]], w


def test_total_hits_identical(engines):
    cached, plain = engines
    for q in ["def", "import json"]:
        a = cached._response(cached.match_query(q), q, "match")
        b = plain._response(plain.match_query(q), q, "match")
        assert a["total_hits"] == b["total_hits"]
        assert a["max_score"] == b["max_score"]


def test_zero_budget_disables_cache(spark, built_index):
    eng = SearchEngine(spark, built_index.root,
                       QueryConfig(driver_postings_cache_max_rows=0),
                       cache=True)
    eng.match_query("def").collect()
    assert eng._driver_cache("main") is None


def test_row_budget_gates_cache(spark, built_index):
    # a budget below the corpus' total postings rows must refuse to build
    eng = SearchEngine(spark, built_index.root,
                       QueryConfig(driver_postings_cache_max_rows=10),
                       cache=True)
    assert eng._driver_cache("main") is None
    # and queries still serve correctly via the per-query fetch
    plain = SearchEngine(spark, built_index.root, QueryConfig(), cache=False)
    assert _rows(eng.match_query("def")) == _rows(plain.match_query("def"))


def test_overflowing_vocab_gates_cache(spark, built_index, monkeypatch):
    # vocabulary larger than the hot-dict cap → total row count unknown →
    # cache must not build (the 100-TB regime)
    monkeypatch.setattr(SearchEngine, "_HOT_DF_K", 5)
    eng = SearchEngine(spark, built_index.root, QueryConfig(), cache=True)
    assert eng._driver_cache("main") is None
