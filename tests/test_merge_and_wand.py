"""M5 merge (merge == rebuild property) and M6 WAND (pruning losslessness)."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_alps_spark.config import IndexConfig, QueryConfig
from elasticsearch_alps_spark.fixtures import generate_documents
from elasticsearch_alps_spark.indexing.builder import build_index
from elasticsearch_alps_spark.merging.merger import merge_indexes
from elasticsearch_alps_spark.queries.engine import SearchEngine


@pytest.fixture(scope="module")
def split_indexes(spark, tmp_path_factory):
    """build(A), build(B), build(A∪B) with A = first half in docID order."""
    rows = sorted(generate_documents(200, seed=7), key=lambda r: (r[0], r[1], r[2]))
    half = len(rows) // 2
    schema = "repo string, path string, commit string, lang string, content string"
    cfg = IndexConfig()
    base = tmp_path_factory.mktemp("merge")
    pa = build_index(spark, spark.createDataFrame(rows[:half], schema),
                     str(base / "a"), cfg, shards=2)
    pb = build_index(spark, spark.createDataFrame(rows[half:], schema),
                     str(base / "b"), cfg, shards=2)
    pall = build_index(spark, spark.createDataFrame(rows, schema),
                       str(base / "all"), cfg, shards=2)
    merged = merge_indexes(spark, [pa.root, pb.root], str(base / "merged"),
                           cfg, shards=2)
    return merged, pall


def _postings_set(spark, path):
    return {(r["term"], r["doc_id"], r["freq"], tuple(r["positions"]), r["dl"])
            for r in spark.read.parquet(path).collect()}


def test_merge_equals_rebuild_postings(spark, split_indexes):
    merged, pall = split_indexes
    for field in ("main", "exact"):
        assert _postings_set(spark, merged.postings(field)) == \
            _postings_set(spark, pall.postings(field))


def test_merge_equals_rebuild_stats(split_indexes):
    merged, pall = split_indexes
    ms, ps = merged.read_stats(), pall.read_stats()
    for field in ("main", "exact"):
        assert ms["fields"][field]["n_docs"] == ps["fields"][field]["n_docs"]
        assert ms["fields"][field]["cf_total"] == ps["fields"][field]["cf_total"]
        assert ms["fields"][field]["avgdl"] == pytest.approx(
            ps["fields"][field]["avgdl"], rel=1e-12)


def test_merged_index_queries_identical(spark, split_indexes):
    merged, pall = split_indexes
    em = SearchEngine(spark, merged.root)
    ea = SearchEngine(spark, pall.root)
    for q in ("def", "parse json config", "import numpy as np"):
        got = [(r["doc_id"], r["score"]) for r in em.match_query(q).collect()]
        want = [(r["doc_id"], r["score"]) for r in ea.match_query(q).collect()]
        # BIT-exact, not approx (r6): every scorer folds per-doc term
        # contributions in ascending-term order from 0.0, so scores are
        # independent of index file layout — the 10M-doc merge parity run
        # caught the scan-order fold diverging by an ulp, which reorders
        # docs inside top-k tie plateaus (membership flips rounding can't fix)
        assert got == want, q


def test_merged_index_writes_field_lineage(split_indexes):
    """A merge writes its fields through the build's field writer, so a
    merged field gets the same per-partition lineage record as a built
    one: ``_lineage/field_main.json`` lists the merged postings files."""
    import json
    import os
    merged, _ = split_indexes
    with open(os.path.join(merged.lineage_dir, "field_main.json")) as f:
        rec = json.load(f)
    files = {n for n in os.listdir(merged.postings("main"))
             if n.endswith(".parquet")}
    assert files
    assert {p["file"] for p in rec["partitions"]} == files
    assert rec["stats"] == merged.read_stats()["fields"]["main"]


def test_merge_preserves_extra_fields(spark, tmp_path):
    """r7 (VERDICT r6 next #5): a segment merge of an index with an
    ExtraField must carry the field's postings AND its scoring metadata —
    the r6 merger rebuilt per-field stats with only
    n_docs/cf_total/avgdl/analyzer, silently dropping norms=False /
    index_options="docs", so every post-merge url-field query would have
    scored with the norms/dl formula. Requires bit-exact url-field query
    parity between merged and rebuilt."""
    from elasticsearch_alps_spark.config import ExtraField, URL_ANALYZER

    rows = sorted(generate_documents(200, seed=11),
                  key=lambda r: (r[0], r[1], r[2]))
    half = len(rows) // 2
    schema = "repo string, path string, commit string, lang string, content string"

    def docs(rs):
        return (spark.createDataFrame(rs, schema)
                .withColumn("url", F.concat(F.lit("https://host.example.com/"),
                                            F.col("lang"), F.lit("/"),
                                            F.col("path"))))

    cfg = IndexConfig(extra_fields=(ExtraField("url", "url", URL_ANALYZER),))
    pa = build_index(spark, docs(rows[:half]), str(tmp_path / "a"), cfg,
                     shards=2)
    pb = build_index(spark, docs(rows[half:]), str(tmp_path / "b"), cfg,
                     shards=3)
    pall = build_index(spark, docs(rows), str(tmp_path / "all"), cfg,
                       shards=2)
    merged = merge_indexes(spark, [pa.root, pb.root], str(tmp_path / "m"),
                           cfg, shards=2)
    # postings parity for the extra field
    assert _postings_set(spark, merged.postings("url")) == \
        _postings_set(spark, pall.postings("url"))
    # the scoring metadata survived (the actual r6 bug)
    ms, ps = merged.read_stats(), pall.read_stats()
    for k in ("n_docs", "cf_total", "analyzer", "norms", "index_options"):
        assert ms["fields"]["url"].get(k) == ps["fields"]["url"].get(k), k
    assert ms["fields"]["url"]["norms"] is False
    assert ms["fields"]["url"]["index_options"] == "docs"
    # bit-exact url-field query parity, both serving paths
    for qcfg in (QueryConfig(),                                 # driver
                 QueryConfig(driver_score_max_postings=0)):     # distributed
        em = SearchEngine(spark, merged.root, qcfg)
        ea = SearchEngine(spark, pall.root, qcfg)
        got = [(r["doc_id"], r["score"])
               for r in em.match_query("example py", field="url").collect()]
        want = [(r["doc_id"], r["score"])
                for r in ea.match_query("example py", field="url").collect()]
        assert got == want and got, qcfg
    # and a merge of INCOMPATIBLE field configs refuses loudly
    plain = build_index(spark, docs(rows[:half]), str(tmp_path / "plain"),
                        IndexConfig(extra_fields=(
                            ExtraField("url", "url", URL_ANALYZER,
                                       norms=True),)), shards=2)
    with pytest.raises(ValueError, match="differs on"):
        merge_indexes(spark, [pa.root, plain.root], str(tmp_path / "bad"),
                      cfg, shards=2)


def test_merge_resume_marker(spark, split_indexes, tmp_path):
    merged, _ = split_indexes
    # re-merging with resume=True is a no-op (marker exists)
    import os
    marker = os.path.join(merged.lineage_dir, "merge.json")
    mtime = os.path.getmtime(marker)
    merge_indexes(spark, ["unused"], merged.root, resume=True)
    assert os.path.getmtime(marker) == mtime


WAND_QUERIES = ["def", "import", "parse json config", "def main",
                "the value of the result", "beautiful optimization",
                "segment posting merge shard index", "uniq_100_1"]


def _ranked(rows):
    """Canonical (doc_id, score) ranking. r6: scores compare EXACTLY — all
    scorers fold per-doc contributions in ascending-term order from 0.0,
    so WAND is bit-identical to the exhaustive plan (the pre-r6 rounding
    hedge papered over fold-order ulps that at 10M docs flipped top-k
    membership inside tie plateaus)."""
    return sorted(((r["doc_id"], r["score"]) for r in rows),
                  key=lambda t: (-t[1], t[0]))


@pytest.mark.parametrize("q", WAND_QUERIES)
def test_wand_identical_to_exhaustive(spark, built_index, q):
    """Block-max WAND pruning must be lossless (SURVEY.md §7.1 M6). Budget
    0 on both engines: the distributed scorer against wand_topk itself, not
    the driver fold that serves every under-budget query."""
    exhaustive = SearchEngine(spark, built_index.root,
                              QueryConfig(use_wand=False,
                                          driver_score_max_postings=0))
    wand = SearchEngine(spark, built_index.root,
                        QueryConfig(use_wand=True,
                                    driver_score_max_postings=0))
    want = _ranked(exhaustive.match_query(q).collect())
    got = _ranked(wand.match_query(q).collect())
    assert got == want, q


def test_wand_small_k_prunes_consistently(spark, built_index):
    exhaustive = SearchEngine(spark, built_index.root,
                              QueryConfig(use_wand=False,
                                          driver_score_max_postings=0))
    wand = SearchEngine(spark, built_index.root,
                        QueryConfig(use_wand=True,
                                    driver_score_max_postings=0))
    for k in (1, 5, 10):
        want = _ranked(exhaustive.match_query("def", size=k).collect())
        got = _ranked(wand.match_query("def", size=k).collect())
        assert got == want, k


def _hexed(df):
    return [(r["doc_id"], r["score"].hex()) for r in df.collect()]


@pytest.fixture(scope="module")
def route_engines(spark, built_index):
    """One engine per route a clause query can take: driver over the
    postings cache, driver over a per-query fetch, the distributed scorer,
    and distributed WAND (budget 0 forces the last two)."""
    root = built_index.root
    return {
        "driver-cache": (SearchEngine(spark, root, QueryConfig(), cache=True),
                         "driver"),
        "driver-fetch": (SearchEngine(spark, root, QueryConfig()), "driver"),
        "distributed": (SearchEngine(
            spark, root, QueryConfig(driver_score_max_postings=0)),
            "distributed"),
        "wand": (SearchEngine(spark, root, QueryConfig(
            use_wand=True, driver_score_max_postings=0)), "wand"),
    }


ROUTE_MATRIX = [
    # (case, query call, WAND applies — the match family only)
    ("match_or", lambda e: e.match_query("parse json config"), True),
    ("match_or_hot", lambda e: e.match_query("def import"), True),
    ("match_and", lambda e: e.match_query("def main", "and"), True),
    ("match_msm", lambda e: e.match_query("import numpy as np",
                                          minimum_should_match=60), True),
    ("term_exact", lambda e: e.term_query_exact("def"), False),
    ("fuzzy_single", lambda e: e.fuzzy_query("improt"), False),
    ("fuzzy_multi", lambda e: e.fuzzy_query("parse jsn confg"), False),
    ("bool_and", lambda e: e.bool_must_query("import json"), False),
    # a word duplicated into two clauses: one term, two clause rows
    ("bool_dup_term", lambda e: e.bool_must_query("def"), False),
    ("phrase", lambda e: e.match_phrase_query("def main"), False),
    # "as" is a stopword: a position gap inside the phrase
    ("phrase_gap", lambda e: e.match_phrase_query("import numpy as np", 0),
     False),
    ("phrase_slop", lambda e: e.match_phrase_query("import numpy as np", 1),
     False),
]


@pytest.mark.parametrize("case,call,wand_ok", ROUTE_MATRIX,
                         ids=[c[0] for c in ROUTE_MATRIX])
def test_route_matrix_scores_hex_identical(route_engines, case, call,
                                           wand_ok):
    """Every clause weight is multiplier · glibc-ln idf, computed once on the
    driver and fed to every route as the same double — so each route must
    return the SAME (doc_id, score.hex()) list, bit for bit, with no
    tolerance. Phrase folds one summed idf the same way on every route."""
    got = {}
    for route, (eng, label) in route_engines.items():
        if route == "wand" and not wand_ok:
            continue
        got[route] = _hexed(call(eng))
        assert eng.last_scorer == label, (case, route)
    want = got.pop("driver-fetch")
    assert want, case
    for route, hits in got.items():
        assert hits == want, (case, route)


def test_bool_duplicate_terms_fan_out_without_join(spark, built_index):
    """A term shared by several clauses (bool_must duplicates a single word
    into two clauses, search.py:358) fans each posting row out to every
    clause through the literal inline(...) frame: one pruned postings scan,
    no join, no broadcast — and scores hex-equal to the driver route."""
    eng = SearchEngine(spark, built_index.root,
                       QueryConfig(driver_score_max_postings=0))
    drv = SearchEngine(spark, built_index.root, QueryConfig())
    hits = eng.bool_must_query("def")
    assert eng.last_scorer == "distributed"
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    assert plan.count("Scan parquet") == 1, "one pruned postings scan only"
    assert "Generate" in plan, plan
    want = _hexed(drv.bool_must_query("def"))
    assert drv.last_scorer == "driver"
    assert want and _hexed(hits) == want


@pytest.mark.parametrize("op,msm", [("or", None), ("and", None), ("or", 60)])
def test_wand_total_hits_matches_exhaustive(spark, built_index, op, msm):
    """r3 (VERDICT r2 wrong #4 / ADVICE): the WAND path reports the exact
    capped match count via a lazy positions-free recount plan, not
    min(len(rows), size)."""
    exhaustive = SearchEngine(spark, built_index.root,
                              QueryConfig(use_wand=False,
                                          driver_score_max_postings=0))
    wand = SearchEngine(spark, built_index.root,
                        QueryConfig(use_wand=True,
                                    driver_score_max_postings=0))
    for q in ("def", "def main", "parse json config"):
        rw = wand._response(wand.match_query(q, op, minimum_should_match=msm),
                            q, "match_query")
        re_ = exhaustive._response(
            exhaustive.match_query(q, op, minimum_should_match=msm),
            q, "match_query")
        assert rw["total_hits"] == re_["total_hits"], (q, op, msm)
        assert rw["total_hits"] >= len(
            wand.match_query(q, op, minimum_should_match=msm).collect()) \
            or rw["total_hits"] == 0


@pytest.mark.parametrize("op,msm", [("and", None), ("or", 60), ("or", 100)])
def test_wand_conjunctive_identical_to_exhaustive(spark, built_index, op, msm):
    """r2 (VERDICT r1 missing #4): the WAND conjunctive/msm extension must be
    lossless for AND and minimum_should_match matches too."""
    exhaustive = SearchEngine(spark, built_index.root,
                              QueryConfig(use_wand=False,
                                          driver_score_max_postings=0))
    wand = SearchEngine(spark, built_index.root,
                        QueryConfig(use_wand=True,
                                    driver_score_max_postings=0))
    for q in ("def main", "parse json config", "the value of the result",
              "import numpy as np"):
        want = _ranked(exhaustive.match_query(q, op,
                                              minimum_should_match=msm).collect())
        got = _ranked(wand.match_query(q, op,
                                       minimum_should_match=msm).collect())
        assert got == want, (q, op, msm)


class TestWandAuto:
    """use_wand="auto" (r4, VERDICT r3 next #2): per-query scorer choice on
    the max clause df against SearchEngine.WAND_AUTO_MIN_DF, the measured
    crossover (BENCH/BASELINE.md r3 — pruning wins only once posting lists
    get long). Tests move the threshold per instance."""

    def test_auto_matches_better_scorer_per_query(self, spark, built_index):
        # threshold 5 on this corpus: "def" (hot, df ≫ 5) must take the WAND
        # path; "uniq_100_1" (df 1) must take the distributed scorer —
        # same engine, per-query decision
        auto = SearchEngine(spark, built_index.root,
                            QueryConfig(use_wand="auto",
                                        driver_score_max_postings=0))
        auto.WAND_AUTO_MIN_DF = 5
        got_hot = _ranked(auto.match_query("def").collect())
        assert auto.last_scorer == "wand"
        got_rare = _ranked(auto.match_query("uniq_100_1").collect())
        assert auto.last_scorer == "distributed"
        # both choices are result-identical to the exhaustive reference
        exhaustive = SearchEngine(
            spark, built_index.root,
            QueryConfig(use_wand=False, driver_score_max_postings=0))
        assert got_hot == _ranked(exhaustive.match_query("def").collect())
        assert got_rare == _ranked(
            exhaustive.match_query("uniq_100_1").collect())

    def test_auto_threshold_never_met_stays_exhaustive(self, spark,
                                                       built_index):
        eng = SearchEngine(spark, built_index.root,
                           QueryConfig(use_wand="auto",
                                       driver_score_max_postings=0))
        eng.WAND_AUTO_MIN_DF = 10**9
        eng.match_query("def").collect()
        assert eng.last_scorer == "distributed"

    def test_auto_keeps_hybrid_driver_path_for_small_queries(self, spark,
                                                             built_index):
        # default driver budget: a small-corpus query under budget is served
        # driver-side even in auto mode (auto only redirects the distributed
        # plan)
        eng = SearchEngine(spark, built_index.root,
                           QueryConfig(use_wand="auto"))
        eng.WAND_AUTO_MIN_DF = 10**9
        eng.match_query("parse json").collect()
        assert eng.last_scorer == "driver"

    def test_auto_default_constant_keeps_small_corpus_distributed(
            self, spark, built_index):
        # the default crossover is the constant 200k; every df of this
        # small corpus is far below it, so auto at budget 0 must take the
        # distributed scorer even for its hottest term
        eng = SearchEngine(spark, built_index.root,
                           QueryConfig(use_wand="auto",
                                       driver_score_max_postings=0))
        assert eng.WAND_AUTO_MIN_DF == SearchEngine.WAND_AUTO_MIN_DF == 200_000
        hot, _ = eng._hot_dfs("main")
        assert max(hot.values()) < eng.WAND_AUTO_MIN_DF
        eng.match_query("def").collect()
        assert eng.last_scorer == "distributed"

    def test_auto_rare_term_outside_hot_cache_not_misrouted(self, spark,
                                                            built_index):
        # ADVICE r4: with a hot-term cache too small to hold the vocabulary
        # AND a ceiling (K-th df) above the threshold, a rare term absent
        # from the cache used to inherit the ceiling and misroute to WAND;
        # the fix resolves it exactly via the pruned term_stats lookup
        eng = SearchEngine(spark, built_index.root,
                           QueryConfig(use_wand="auto",
                                       driver_score_max_postings=0))
        eng.WAND_AUTO_MIN_DF = 5
        eng._HOT_DF_K = 1  # cache holds only the single hottest term
        hot, ceiling = eng._hot_dfs("main")
        assert ceiling >= 5  # precondition: the ambiguous regime is live
        assert "uniq_100_1" not in hot
        eng.match_query("uniq_100_1").collect()
        assert eng.last_scorer == "distributed"  # df=1 < 5, exactly


def test_scores_independent_of_index_layout(spark, corpus_df, index_cfg,
                                            built_index, tmp_path):
    """r6 (10M-doc merge parity find): per-doc BM25 sums must not depend on
    the index's file/partition layout. Build the SAME corpus with a
    different shard count (different parquet layout ⇒ different scan row
    order) and require bit-identical (doc_id, score) sequences for a
    3-term query on every scorer path — the canonical ascending-term fold
    makes the association order layout-free, as Lucene's fixed
    clause-order summation is."""
    other = build_index(spark, corpus_df, str(tmp_path / "idx7"), index_cfg,
                        shards=7)
    q = "parse json config"
    for qcfg in (QueryConfig(),                               # driver path
                 QueryConfig(driver_score_max_postings=0),    # distributed
                 QueryConfig(use_wand=True,
                             driver_score_max_postings=0)):   # WAND
        a = SearchEngine(spark, built_index.root, qcfg)
        b = SearchEngine(spark, other.root, qcfg)
        got = [(r["doc_id"], r["score"]) for r in a.match_query(q).collect()]
        want = [(r["doc_id"], r["score"]) for r in b.match_query(q).collect()]
        assert got == want and got, qcfg


def test_fallback_fold_above_det_sum_max_stays_cross_path_identical(
        spark, built_index, monkeypatch):
    """r7 (VERDICT r6 next #2): above DET_SUM_MAX (clause, term) pairs every
    path falls back to the r6 ascending-value fold — the switch is a pure
    function of the QUERY, so driver/distributed/WAND must still agree
    bit-for-bit with each other below AND above the threshold."""
    q = "parse json config"  # 3 pairs > the pinned threshold of 2
    monkeypatch.setattr(SearchEngine, "DET_SUM_MAX", 2)
    exhaustive = SearchEngine(spark, built_index.root,
                              QueryConfig(use_wand=False,
                                          driver_score_max_postings=0))
    wand = SearchEngine(spark, built_index.root,
                        QueryConfig(use_wand=True,
                                    driver_score_max_postings=0))
    driver = SearchEngine(spark, built_index.root, QueryConfig())
    want = _ranked(exhaustive.match_query(q).collect())
    assert exhaustive.last_scorer == "distributed"
    got_w = _ranked(wand.match_query(q).collect())
    assert wand.last_scorer == "wand"
    got_d = _ranked(driver.match_query(q).collect())
    assert driver.last_scorer == "driver"
    assert want and got_w == want and got_d == want
