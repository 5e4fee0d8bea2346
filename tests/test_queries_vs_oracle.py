"""End-to-end golden queries: the Spark engine must be rank-identical to the
pure-Python Lucene-faithful oracle, with scores equal to ~1e-9 relative
(SURVEY.md §5 item 2, repo:FIXTURES.md §4)."""

import pytest

from elasticsearch_alps_spark.config import QueryConfig
from elasticsearch_alps_spark.queries.engine import SearchEngine

QUERIES = [
    "def",                      # hot single term
    "import",                   # hot single term
    "uniq_100_1",               # rare unique term
    "improt",                   # typo → fuzzy
    "parse json config",        # multi-word OR
    "def main",                 # phrase / AND
    "import numpy as np",       # phrase with stopword gap
    "the value of the result",  # stopword-heavy
    "Café",                     # folding
    "RETURN",                   # case (+ fuzzy no-analysis quirk)
    "pars",                     # wildcard stem
    "xyzzy_no_such_term",       # no hits
    "beautiful optimization",   # stemmed multi-word
]


@pytest.fixture(scope="module")
def engine(spark, built_index):
    """Default config → hybrid driver serving path (budget not tripped at
    this corpus size)."""
    return SearchEngine(spark, built_index.root, QueryConfig(), cache=True)


@pytest.fixture(scope="module")
def engine_dist(spark, built_index):
    """Distributed scoring plan forced (driver path off)."""
    return SearchEngine(spark, built_index.root,
                        QueryConfig(driver_score_max_postings=0), cache=True)


@pytest.mark.parametrize("q", ["def", "parse json config", "def main",
                               "the value of the result"])
def test_distributed_path_matches_oracle(engine_dist, oracle_index, q):
    """The distributed plan must match the oracle too (the hybrid driver
    path is separately covered by every other test in this module)."""
    assert_hits_equal(engine_dist.match_query(q, "or"),
                      oracle_index.match_query(q, "or"), f"dist_match[{q}]")
    assert_hits_equal(engine_dist.match_query(q, "and"),
                      oracle_index.match_query(q, "and"), f"dist_and[{q}]")


def assert_hits_equal(spark_df, oracle_hits, what):
    """Rank-identical after rounding scores to 9 dp: per-doc sums accumulate
    in different orders (Spark partial agg vs Python dict order), so last-ulp
    differences may swap EXACT-tie neighbors — everything else must match."""
    got = sorted(((r["doc_id"], round(r["score"], 9)) for r in spark_df.collect()),
                 key=lambda t: (-t[1], t[0]))
    want = sorted(((d, round(s, 9)) for d, s in oracle_hits),
                  key=lambda t: (-t[1], t[0]))
    assert [d for d, _ in got] == [d for d, _ in want], \
        f"{what}: docID ranking mismatch\n got={got[:10]}\n want={want[:10]}"
    for (gd, gs), (od, os_) in zip(got, want):
        assert gs == pytest.approx(os_, rel=1e-9, abs=1e-12), \
            f"{what}: score mismatch doc {gd}: {gs} vs {os_}"


@pytest.mark.parametrize("q", QUERIES)
def test_match_query_or(engine, oracle_index, q):
    assert_hits_equal(engine.match_query(q, "or"),
                      oracle_index.match_query(q, "or"), f"match_or[{q}]")


@pytest.mark.parametrize("q", ["def main", "parse json config",
                               "import numpy as np", "beautiful optimization",
                               "segment posting merge shard index"])
def test_match_query_and(engine, oracle_index, q):
    assert_hits_equal(engine.match_query(q, "and"),
                      oracle_index.match_query(q, "and"), f"match_and[{q}]")


@pytest.mark.parametrize("q,pct", [("parse json config", 50),
                                   ("segment posting merge shard index", 60),
                                   ("query score frequency", 100)])
def test_minimum_should_match(engine, oracle_index, q, pct):
    assert_hits_equal(engine.match_query(q, "or", minimum_should_match=pct),
                      oracle_index.match_query_msm(q, pct), f"msm[{q},{pct}]")


@pytest.mark.parametrize("q", ["def main", "import numpy as np",
                               "parse json config", "query score frequency",
                               "def def", "value value"])  # repeated-term
@pytest.mark.parametrize("slop", [0, 1, 2])
def test_match_phrase(engine, oracle_index, q, slop):
    assert_hits_equal(engine.match_phrase_query(q, slop),
                      oracle_index.match_phrase_query(q, slop),
                      f"phrase[{q},slop={slop}]")


@pytest.mark.parametrize("q", ["def", "import", "Café", "RETURN",
                               "uniq_100_1", "hello world", "running"])
def test_term_query_exact(engine, oracle_index, q):
    assert_hits_equal(engine.term_query_exact(q),
                      oracle_index.term_query_exact(q), f"term[{q}]")


@pytest.mark.parametrize("q", ["pars", "def", "uniq", "zzz", "two words"])
def test_wildcard_query(engine, oracle_index, q):
    assert_hits_equal(engine.wildcard_query(q),
                      oracle_index.wildcard_query(q), f"wildcard[{q}]")


@pytest.mark.parametrize("q", ["improt", "retrun", "def", "RETURN",
                               "tokeniz", "parse json confg"])
def test_fuzzy_query(engine, oracle_index, q):
    assert_hits_equal(engine.fuzzy_query(q),
                      oracle_index.fuzzy_query(q), f"fuzzy[{q}]")


@pytest.mark.parametrize("q", ["def main", "parse json config value",
                               "single", "the of"])
def test_bool_must_query_and(engine, oracle_index, q):
    assert_hits_equal(engine.bool_must_query(q),
                      oracle_index.bool_must_query(q, "and", 3),
                      f"bool_and[{q}]")


def test_bool_should_with_msm(spark, built_index, oracle_index):
    qcfg = QueryConfig(bool_must_operator="or",
                       bool_must_minimum_should_match="50%")
    eng = SearchEngine(spark, built_index.root, qcfg)
    q = "parse json config value error"
    assert_hits_equal(eng.bool_must_query(q),
                      oracle_index.bool_must_query(q, "or", 3, "50%"),
                      f"bool_or_msm[{q}]")


def test_phrase_respects_stopword_gaps(engine, oracle_index, corpus, doc_id_map):
    """Lucene phrase semantics: 'import numpy as np' — the removed stopword
    'as' leaves a position gap, so docs containing the literal string must
    match (np expected at +3, not +2)."""
    literal_docs = {doc_id_map[(r[0], r[1], r[2])] for r in corpus
                    if "import numpy as np" in r[4]
                    and (r[0], r[1], r[2]) in doc_id_map}
    assert literal_docs, "fixture must contain the literal phrase"
    got = {r["doc_id"] for r in
           engine.match_phrase_query("import numpy as np", 0, size=10_000).collect()}
    assert literal_docs <= got
    want = {d for d, _ in
            oracle_index.match_phrase_query("import numpy as np", 0, size=10_000)}
    assert got == want


def test_subset_invariants(engine, oracle_index):
    """AND hits ⊆ OR hits; phrase hits ⊆ AND hits (SURVEY.md §5 item 3)."""
    q = "def main"
    or_ids = {r["doc_id"] for r in engine.match_query(q, "or", size=10_000).collect()}
    and_ids = {r["doc_id"] for r in engine.match_query(q, "and", size=10_000).collect()}
    ph_ids = {r["doc_id"] for r in engine.match_phrase_query(q, 0, size=10_000).collect()}
    assert and_ids <= or_ids
    assert ph_ids <= and_ids


def test_run_all_queries_and_summary(engine):
    rows = engine.run_all_queries("def main")
    types = {r["query_type"] for r in rows}
    # defaults: match, phrase, fuzzy enabled (search.py:37-49)
    assert types == {"match_query", "match_phrase_query", "fuzzy_query"}
    assert all(r["error"] is None for r in rows)
    match_row = next(r for r in rows if r["query_type"] == "match_query")
    assert match_row["total_hits"] > 0
    assert "<MATCH>" in match_row["top_5_hits"]
    summary = engine.summary_stats()
    assert summary["overview"]["failed_queries"] == 0
    assert summary["query_type_stats"]["match_query"]["total_queries"] == 1


def test_sha256_invariant_on_hits(engine, corpus_df):
    hits = engine.match_query("def", "or")
    assert engine.verify_hits_sha256(hits, corpus_df,
                                     ["repo", "path", "commit"], "content")


def test_total_hits_observed_without_recount(spark, engine_dist, oracle_index):
    """r2 (VERDICT r1 wrong #8): total_hits must come from the Observation
    filled by the top-k action, not from re-running the scoring aggregation.
    Assert (a) the observed total equals an independent full count, and
    (b) the recount-fallback plan is never executed."""
    hits = engine_dist.match_query("def main", "or")
    expected_total = len(oracle_index.match_query("def main", "or",
                                                  size=10_000))
    assert engine_dist._last_total_obs is not None

    class _Boom:  # executing the recount fallback must not happen
        def count(self):
            raise AssertionError("total_hits re-ran the scoring aggregation")

    engine_dist._last_total_df = _Boom()
    row = engine_dist._response(hits, "def main", "match_query")
    assert row["total_hits"] == min(expected_total, 10_000)


def test_exact_field_highlight_for_term_query(spark, built_index):
    """r2 (VERDICT missing #5): term/wildcard queries highlight on the EXACT
    field — a stemming-divergent surface form must not be highlighted for a
    term query, while the match query (main field, stemmed) highlights it."""
    eng = SearchEngine(spark, built_index.root,
                       QueryConfig(execute_term_query_exact=True))
    rows = eng.run_all_queries("running")
    by_type = {r["query_type"]: r for r in rows}
    term_row = by_type["term_query_exact"]
    if term_row["total_hits"]:
        snip = term_row["top_5_hits"].lower()
        # exact analyzer keeps 'running'; only that surface form highlights
        assert "<match>running</match>" in snip or snip == ""
        assert "<match>runs</match>" not in snip
        assert "<match>run</match>" not in snip
    match_row = by_type["match_query"]
    assert match_row["error"] is None


def test_register_views_sql_surface(spark, engine):
    names = engine.register_views("t_alps")
    assert names["docs"] == "t_alps_docs"
    n = spark.sql("SELECT count(*) AS n FROM t_alps_docs").first()["n"]
    assert n == engine.stats["fields"]["main"]["n_docs"]
    top = spark.sql(
        "SELECT term, df FROM t_alps_term_stats_main ORDER BY df DESC LIMIT 1"
    ).first()
    assert top["df"] > 0


@pytest.mark.parametrize("q,slop", [("def main", 0), ("import numpy as np", 1)])
def test_phrase_driver_single_fetch_branch(spark, built_index, oracle_index,
                                           q, slop):
    """An uncached default engine serves phrases from its one per-query
    positions fetch — the only uncached driver path — and must match the
    oracle."""
    eng = SearchEngine(spark, built_index.root, QueryConfig())
    assert_hits_equal(eng.match_phrase_query(q, slop),
                      oracle_index.match_phrase_query(q, slop),
                      f"phrase_single_fetch[{q},{slop}]")
    assert eng.last_scorer == "driver"


def test_concurrent_queries_one_engine(spark, built_index, oracle_index):
    """Serving-tier shape: several threads querying ONE engine concurrently
    must each get a correct response (total-hits bookkeeping is thread-local;
    Spark job submission is thread-safe)."""
    from concurrent.futures import ThreadPoolExecutor
    eng = SearchEngine(spark, built_index.root,
                       QueryConfig(driver_score_max_postings=0), cache=True)
    cases = ["def", "parse json config", "def main", "import",
             "the value of the result", "beautiful optimization"]
    expected = {q: len(oracle_index.match_query(q, "or", size=10_000))
                for q in cases}

    def one(q):
        hits = eng.match_query(q, "or")
        row = eng._response(hits, q, "match_query")
        return q, row["total_hits"]

    with ThreadPoolExecutor(max_workers=4) as ex:
        for q, total in ex.map(one, cases * 2):
            assert total == min(expected[q], 10_000), q


def test_engine_close_releases_views_and_cache(spark, built_index):
    eng = SearchEngine(spark, built_index.root, QueryConfig(), cache=True)
    eng.match_query("def").collect()          # registers view, pins cache
    view = eng._postings_view("main")
    assert any(t.name == view for t in spark.catalog.listTables())
    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert persisted_before > 0
    eng.close()
    assert not any(t.name == view for t in spark.catalog.listTables())
    assert spark.sparkContext._jsc.getPersistentRDDs().size() < persisted_before


def test_fuzzy_local_expansion_equals_spark_plan(engine):
    """r8: the driver-side fuzzy expansion (full-vocab hot cache + numpy
    levenshtein) must find exactly the Spark expansion plan's candidates —
    same terms, same boosts, same dfs — for every band width (max_d 0, 1
    and 2), whether the plan expands one word or several; the one
    driver-side (boost desc, term asc) top-k cut then gives both the same
    expansion."""
    words = ["improt", "retrun", "pars", "de", "tokeniz", "uniq_100_1",
             "snake_case_token"]
    local = engine._fuzzy_expand_local("main", words)
    assert local is not None, "test vocab must fit the hot-df cache"
    got = engine._fuzzy_expand_multi("main", words)
    multi = engine._fuzzy_expand_multi_df("main", words).collect()
    by_w = {i: [] for i in range(len(words))}
    for r in multi:
        by_w[r["widx"]].append((r["term"], r["boost"], r["df"]))
    cap = engine.qcfg.fuzzy_max_expansions
    for wi, w in enumerate(words):
        cands = sorted(by_w[wi], key=lambda c: (-c[1], c[0]))
        assert sorted(local[wi], key=lambda c: (-c[1], c[0])) == cands, w
        assert got[wi] == cands[:cap], f"expansion mismatch for {w!r}"
        single = engine._fuzzy_expand_multi_df("main", [w]).collect()
        assert sorted(((r["term"], r["boost"], r["df"]) for r in single),
                      key=lambda c: (-c[1], c[0])) == cands, w
