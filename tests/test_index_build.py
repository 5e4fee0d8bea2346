"""Index-build correctness: stats parity with the oracle, docID determinism,
SmallFloat Catalyst expression parity, sha256 invariant, resume markers."""

import os

import pytest
from pyspark.sql import functions as F

from elasticsearch_alps_spark.analysis.smallfloat import quantize_length
from elasticsearch_alps_spark.config import IndexConfig
from elasticsearch_alps_spark.indexing.builder import build_index, compute_shard_count
from elasticsearch_alps_spark.indexing.norms import quantize_length_col


def test_norms_expression_matches_python(spark):
    vals = list(range(0, 2048)) + [10_000, 123_456, 10**7, 2**31 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "doc_len int")
    rows = df.withColumn("q", quantize_length_col(F.col("doc_len"))).collect()
    for r in rows:
        assert r["q"] == quantize_length(r["doc_len"]), r["doc_len"]


def test_shard_count_heuristic():
    # index.py:107-162 arithmetic: 3× expansion, 30 GB target, [10, 50] clamp
    assert compute_shard_count(0.001) == 1
    assert compute_shard_count(10) == 1       # 30 GB index → 1 shard of 30
    assert compute_shard_count(100) == 10     # 300 GB → 10 × 30
    for raw_gb in (20, 50, 130, 400, 1000):
        n = compute_shard_count(raw_gb)
        per_shard = raw_gb * 3.0 / n
        assert 10.0 <= per_shard <= 50.0, (raw_gb, n, per_shard)


def test_collection_stats_match_oracle(built_index, oracle_index):
    stats = built_index.read_stats()
    assert stats["fields"]["main"]["n_docs"] == oracle_index.main.n_docs
    assert stats["fields"]["main"]["cf_total"] == oracle_index.main.cf_total
    assert stats["fields"]["main"]["avgdl"] == pytest.approx(
        oracle_index.main.avgdl, rel=1e-12)
    assert stats["fields"]["exact"]["n_docs"] == oracle_index.exact.n_docs
    assert stats["fields"]["exact"]["cf_total"] == oracle_index.exact.cf_total


def test_term_stats_match_oracle(spark, built_index, oracle_index):
    ts = {r["term"]: (r["df"], r["cf"]) for r in
          spark.read.parquet(built_index.term_stats("main")).collect()}
    assert set(ts) == set(oracle_index.main.postings)
    for term, posting in oracle_index.main.postings.items():
        df = len(posting)
        cf = sum(len(p) for p in posting.values())
        assert ts[term] == (df, cf), term


def test_postings_positions_and_dl(spark, built_index, oracle_index):
    from elasticsearch_alps_spark.indexing.postings import decode_positions
    sample_terms = list(oracle_index.main.postings)[:25]
    rows = (spark.read.parquet(built_index.postings("main"))
            .filter(F.col("term").isin(sample_terms)).collect())
    by_key = {(r["term"], r["doc_id"]): r for r in rows}
    for term in sample_terms:
        for doc_id, positions in oracle_index.main.postings[term].items():
            r = by_key[(term, doc_id)]
            assert decode_positions(bytes(r["positions"])) == sorted(positions)
            assert r["freq"] == len(positions)
            assert r["dl"] == quantize_length(oracle_index.main.doc_len[doc_id])


def test_doc_ids_dense_and_deterministic(spark, built_index, corpus_df, tmp_path):
    docs = spark.read.parquet(built_index.docs)
    n = docs.count()
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    assert sorted(ids) == list(range(n))  # dense 0..N-1
    # rebuild → identical assignment (determinism, SURVEY.md §7.0)
    out2 = build_index(spark, corpus_df, str(tmp_path / "idx2"),
                       IndexConfig(build_packed=False), shards=2)
    a = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
         for r in docs.select("repo", "path", "commit", "doc_id").collect()}
    b = {(r["repo"], r["path"], r["commit"]): r["doc_id"]
         for r in spark.read.parquet(out2.docs)
         .select("repo", "path", "commit", "doc_id").collect()}
    assert a == b


def test_empty_and_truncated_docs(spark, built_index, corpus):
    docs = spark.read.parquet(built_index.docs)
    # P1: empty/whitespace-only rows are not indexed
    n_nonempty = sum(1 for r in corpus if r[4] and r[4].strip())
    assert docs.count() == n_nonempty
    # P4: the >100k doc is stored truncated with the marker suffix
    big = docs.filter(F.col("path") == "src/pkg5/mod_5.py").collect()
    assert len(big) == 1
    assert big[0]["content"].endswith("... [TRUNCATED]")
    assert len(big[0]["content"]) == 100_000 + len("... [TRUNCATED]")


def test_sha256_invariant_column(spark, built_index, corpus_df):
    """content_sha256 equals sha256 of the ORIGINAL (pre-truncation) source."""
    docs = spark.read.parquet(built_index.docs)
    src = corpus_df.select("repo", "path", "commit",
                           F.sha2("content", 256).alias("src_sha"))
    joined = docs.join(src, ["repo", "path", "commit"])
    assert joined.filter(F.col("content_sha256") != F.col("src_sha")).count() == 0
    assert joined.count() == docs.count()


def test_upsert_by_id(spark):
    from elasticsearch_alps_spark.indexing.builder import upsert_by_id
    df = spark.createDataFrame(
        [("a", 1, "old"), ("a", 2, "new"), ("b", 1, "only")],
        "key string, version int, content string")
    out = {r["key"]: r for r in upsert_by_id(df, ["key"], "version").collect()}
    assert out["a"]["content"] == "new"   # last-wins by version
    assert out["b"]["content"] == "only"
    # deterministic winner even without an order column
    a = sorted(map(tuple, upsert_by_id(df, ["key"]).collect()))
    b = sorted(map(tuple, upsert_by_id(df.repartition(7), ["key"]).collect()))
    assert a == b


def test_exact_field_alias_when_same_analyzer(spark, corpus_df, tmp_path):
    """Identical main/exact analyzers → exact is an alias, not a rebuild."""
    import os
    from elasticsearch_alps_spark.config import SIMPLE_ANALYZER
    cfg = IndexConfig(analyzer=SIMPLE_ANALYZER, exact_analyzer=SIMPLE_ANALYZER,
                      quantize_norms=False, build_packed=False)
    p = build_index(spark, corpus_df, str(tmp_path / "alias_idx"), cfg, shards=2)
    stats = p.read_stats()
    assert stats["fields"]["exact"]["alias"] == "main"
    assert not os.path.exists(p.postings("exact"))
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    eng = SearchEngine(spark, p.root)
    assert eng.term_query_exact("def").count() > 0


def test_resume_skips_built_stages(spark, corpus_df, tmp_path):
    out = str(tmp_path / "idx_resume")
    cfg = IndexConfig(build_packed=False)
    p1 = build_index(spark, corpus_df, out, cfg, shards=2)
    mtime = os.path.getmtime(os.path.join(p1.lineage_dir, "field_main.json"))
    p2 = build_index(spark, corpus_df, out, cfg, shards=2, resume=True)
    # lineage marker untouched → stage skipped
    assert os.path.getmtime(os.path.join(p2.lineage_dir, "field_main.json")) == mtime
    assert p2.read_stats()["fields"]["main"]["n_docs"] > 0


def _simple_url_build(spark, corpus_df, out, **kw):
    """The gate index's config shape: simple profile for main (exact an
    alias) plus a docs-only, norms-free url ExtraField."""
    from elasticsearch_alps_spark.config import (
        ExtraField, SIMPLE_ANALYZER, URL_ANALYZER,
    )
    docs = corpus_df.withColumn(
        "url", F.concat(F.lit("https://host.example.com/"), F.col("path")))
    cfg = IndexConfig(analyzer=SIMPLE_ANALYZER, exact_analyzer=SIMPLE_ANALYZER,
                      extra_fields=(ExtraField("url", "url", URL_ANALYZER),),
                      quantize_norms=False, build_packed=False)
    return build_index(spark, docs, out, cfg, shards=2, **kw)


@pytest.fixture(scope="module")
def simple_url_index(spark, corpus_df, tmp_path_factory):
    return _simple_url_build(
        spark, corpus_df, str(tmp_path_factory.mktemp("simple") / "idx"))


def test_simple_profile_writes_varint_positions(spark, simple_url_index):
    """The simple profile goes through the same analysis pass as every
    other analyzer: every field's positions column is a varint blob, and
    the decoded main postings equal ``analyze_positions`` over the corpus
    (the tokenizer the query side uses)."""
    from collections import defaultdict

    from elasticsearch_alps_spark.analysis.analyzers import analyze_positions
    from elasticsearch_alps_spark.config import SIMPLE_ANALYZER
    from elasticsearch_alps_spark.indexing.postings import decode_positions

    p = simple_url_index
    for field in ("main", "url"):
        ptype = spark.read.parquet(p.postings(field)).schema["positions"]
        assert ptype.dataType.simpleString() == "binary", field
    # the stored (P1-filtered, P4-truncated) text is what the build analyzed
    expected = set()
    for r in spark.read.parquet(p.docs).select("doc_id", "content").collect():
        stream = analyze_positions(r["content"], SIMPLE_ANALYZER)
        by_term = defaultdict(list)
        for t, pos in stream:
            by_term[t].append(pos)
        for t, ps in by_term.items():
            expected.add((t, r["doc_id"], len(ps), tuple(ps), len(stream)))
    got = {(r["term"], r["doc_id"], r["freq"],
            tuple(decode_positions(bytes(r["positions"]))), r["dl"])
           for r in spark.read.parquet(p.postings("main")).collect()}
    assert got == expected
    # docs-only field: one empty blob per (term, doc) pair
    url = spark.read.parquet(p.postings("url"))
    assert url.filter(F.length("positions") != 0).count() == 0


def test_engine_refuses_int_array_positions(spark, simple_url_index,
                                            tmp_path):
    """An index whose postings store positions as array<int> (the layout
    older builds wrote for the simple profile and docs-only fields) is
    refused with a rebuild message rather than misread."""
    import shutil

    from elasticsearch_alps_spark.queries.engine import SearchEngine

    old = str(tmp_path / "old_layout")
    shutil.copytree(simple_url_index.root, old)
    paths = type(simple_url_index)(old)
    post = spark.read.parquet(simple_url_index.postings("url"))
    (post.withColumn("positions",
                     F.expr("CAST(array() AS array<int>)"))
         .write.mode("overwrite").parquet(paths.postings("url")))
    with pytest.raises(ValueError, match="Rebuild the index"):
        SearchEngine(spark, old)
    # the untouched copy loads
    SearchEngine(spark, simple_url_index.root)


def test_resume_rebuilds_field_written_before_varint_entry(spark, corpus_df,
                                                           tmp_path):
    """A lineage marker whose config key lacks the positions-format entry
    (written by a build that stored int-array positions) does not resume:
    ``resume=True`` rebuilds that field."""
    import json

    out = str(tmp_path / "idx_resume_old")
    p1 = _simple_url_build(spark, corpus_df, out)
    marker = os.path.join(p1.lineage_dir, "field_url.json")
    with open(marker) as f:
        rec = json.load(f)
    key = json.loads(rec["config_key"])
    del key["positions"]
    rec["config_key"] = json.dumps(key, sort_keys=True)
    rec["elapsed_sec"] = -1.0  # a rebuild writes a fresh record
    with open(marker, "w") as f:
        json.dump(rec, f)
    main_mtime = os.path.getmtime(os.path.join(p1.lineage_dir,
                                               "field_main.json"))
    _simple_url_build(spark, corpus_df, out, resume=True)
    with open(marker) as f:
        rec2 = json.load(f)
    assert rec2["elapsed_sec"] >= 0
    assert json.loads(rec2["config_key"])["positions"] == "varint"
    # the field whose marker carries the entry resumes untouched
    assert os.path.getmtime(os.path.join(p1.lineage_dir,
                                         "field_main.json")) == main_mtime


def test_single_analyzer_build_matches_dual_main(spark, built_index,
                                                corpus_df, tmp_path):
    """A single-analyzer build (no exact field) takes the same flat
    analysis pass as the default dual build: it records a tokenize phase,
    and its main postings equal the dual build's main postings over the
    same corpus and shard count."""
    import json

    p = build_index(spark, corpus_df, str(tmp_path / "idx_single"),
                    IndexConfig(exact_analyzer=None, build_packed=False),
                    shards=4)
    with open(os.path.join(p.lineage_dir, "phase_times.json")) as f:
        assert "tokenize" in json.load(f)
    assert "exact" not in p.read_stats()["fields"]

    def postings(path):
        return {(r["term"], r["doc_id"], r["freq"], bytes(r["positions"]),
                 r["dl"]) for r in spark.read.parquet(path).collect()}

    assert postings(p.postings("main")) == postings(built_index.postings("main"))


def test_no_leaked_persisted_rdds_after_build(spark, corpus_df, tmp_path):
    """r2 (ADVICE r1): the docID-assignment cache and the dual-analyzer cache
    must be unpersisted once the build completes — a leaked persist stays
    pinned for the application lifetime across multi-segment builds."""
    from elasticsearch_alps_spark.indexing.builder import build_index
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    build_index(spark, corpus_df, str(tmp_path / "idx_leak"), shards=4)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"build leaked {after - before} persisted RDD(s)"


def test_topk_stable_under_repartitioning(spark, built_index, corpus_df,
                                          tmp_path):
    """SURVEY §5 item 3: the same corpus indexed with a different shard count
    AND a pre-shuffled input partitioning must produce identical top-k
    (doc_id, score) for every query type."""
    from elasticsearch_alps_spark.config import QueryConfig
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    shuffled = corpus_df.repartition(11)
    alt = build_index(spark, shuffled, str(tmp_path / "idx_reshard"),
                      IndexConfig(), shards=3)
    e1 = SearchEngine(spark, built_index.root, QueryConfig())
    e2 = SearchEngine(spark, alt.root, QueryConfig())
    for q in ("def main", "parse json config", "the value of the result"):
        for fn in ("match_query", "match_phrase_query", "fuzzy_query"):
            a = [(r["doc_id"], round(r["score"], 9))
                 for r in getattr(e1, fn)(q).collect()]
            b = [(r["doc_id"], round(r["score"], 9))
                 for r in getattr(e2, fn)(q).collect()]
            assert sorted(a, key=lambda t: (-t[1], t[0])) == \
                sorted(b, key=lambda t: (-t[1], t[0])), (fn, q)


def test_extra_url_field_build_and_query(spark, corpus_df, tmp_path):
    """r6 (VERDICT r5 next #4): a second analyzed column — the reference's
    url field (index_config_with_url_english.json:83-88): url_email
    analyzer, index_options=docs (freq ≡ 1, no positions), norms=false
    (BM25's norms==null branch: per-term score = idf · 1/(1+k1))."""
    import math

    from pyspark.sql import functions as F

    from elasticsearch_alps_spark.config import (
        ExtraField, IndexConfig, QueryConfig, URL_ANALYZER,
    )
    from elasticsearch_alps_spark.queries.engine import SearchEngine

    docs = corpus_df.withColumn(
        "url", F.concat(F.lit("https://host.example.com/"), F.col("lang"),
                        F.lit("/"), F.col("path")))
    cfg = IndexConfig(extra_fields=(ExtraField("url", "url", URL_ANALYZER),))
    paths = build_index(spark, docs, str(tmp_path / "idx_url"), cfg, shards=4)
    stats = paths.read_stats()["fields"]
    assert stats["url"]["norms"] is False
    assert stats["url"]["index_options"] == "docs"
    assert stats["url"]["analyzer"] == "url_email+lowercase"
    # docs-only storage: every posting has freq 1, empty positions, dl 1
    post = spark.read.parquet(paths.postings("url"))
    bad = post.filter((F.col("freq") != 1) | (F.length("positions") != 0)
                      | (F.col("dl") != 1)).count()
    assert bad == 0
    # field-parametric match with norms-free scoring: score per matched
    # term = idf(t) · 1/(1+k1), idf from the URL field's own stats
    eng = SearchEngine(spark, paths.root,
                       QueryConfig(driver_score_max_postings=0))
    hits = eng.match_query("example py", field="url").collect()
    assert hits
    n = stats["url"]["n_docs"]
    dfs = {r["term"]: r["df"] for r in
           spark.read.parquet(paths.term_stats("url"))
           .filter(F.col("term").isin(["example", "py"])).collect()}

    def idf(t):
        d = dfs.get(t, 0)
        return math.log(1.0 + (n - d + 0.5) / (d + 0.5))

    tfn = 1.0 / (1.0 + 1.2)
    # every doc has 'example' in its url; only .py paths match 'py' too
    both = idf("example") * tfn + idf("py") * tfn
    only = idf("example") * tfn
    got = {round(r["score"], 9) for r in hits}
    assert got <= {round(both, 9), round(only, 9)}
    assert round(both, 9) in got
    # the driver serving path scores identically (norms-free branch there)
    eng_drv = SearchEngine(spark, paths.root, QueryConfig())
    drv = eng_drv.match_query("example py", field="url").collect()
    assert eng_drv.last_scorer == "driver"
    assert [(r["doc_id"], round(r["score"], 9)) for r in drv] == \
        [(r["doc_id"], round(r["score"], 9)) for r in hits]
    # ADVICE r6 #2: explicit use_wand=True must not reach _wand for a
    # norms-free ExtraField (WAND's max-score bounds assume the norms/dl
    # formula) — clear error, not a raw parquet-not-found
    eng_w = SearchEngine(spark, paths.root, QueryConfig(use_wand=True))
    with pytest.raises(ValueError, match="norms"):
        eng_w.match_query("example py", field="url").collect()
    # auto never routes a norms-free field to WAND, whatever the df
    eng_a = SearchEngine(spark, paths.root,
                         QueryConfig(use_wand="auto",
                                     driver_score_max_postings=0))
    eng_a.WAND_AUTO_MIN_DF = 1
    eng_a.match_query("example py", field="url").collect()
    assert eng_a.last_scorer != "wand"


def test_explicit_wand_without_block_table_is_a_clear_error(
        spark, corpus_df, tmp_path):
    """ADVICE r6 #2 (other half): use_wand=True against an index without a
    block-max table fails with a message that names the rebuild — both for
    a build_packed=False index and for the layout before the block-max
    format (a ``packed/`` directory, no ``blockmax/``). "auto" falls back
    to the distributed scorer on both."""
    import os
    from elasticsearch_alps_spark.config import IndexConfig, QueryConfig
    from elasticsearch_alps_spark.queries.engine import SearchEngine
    nopack = build_index(spark, corpus_df, str(tmp_path / "idx_nopack"),
                         IndexConfig(build_packed=False), shards=2)
    assert not os.path.exists(nopack.blockmax("main"))
    old = build_index(spark, corpus_df, str(tmp_path / "idx_old"),
                      IndexConfig(), shards=2)
    os.rename(old.blockmax("main"),
              os.path.join(old.field_dir("main"), "packed"))
    for paths in (nopack, old):
        eng = SearchEngine(spark, paths.root, QueryConfig(use_wand=True))
        with pytest.raises(ValueError, match="block-max.*Rebuild"):
            eng.match_query("def").collect()
        auto = SearchEngine(spark, paths.root, QueryConfig(
            use_wand="auto", driver_score_max_postings=0))
        auto.WAND_AUTO_MIN_DF = 1
        assert auto.match_query("def").collect()
        assert auto.last_scorer == "distributed"
