"""Physical-plan regression guards — the scale story depends on these
(SURVEY.md §4): term IN (...) pushed into the parquet scan, positions column
pruned when unused, broadcast join for the tiny clause frame, partial
(map-side) aggregation, TakeOrderedAndProject top-k."""

import pytest

from elasticsearch_alps_spark.queries.engine import SearchEngine


def _formatted_plan(df):
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


from elasticsearch_alps_spark.config import QueryConfig


@pytest.fixture(scope="module")
def engine(spark, built_index):
    # plan tests target the DISTRIBUTED scoring plan against the PARQUET
    # scan — clear any cache another test module pinned, else Spark swaps
    # the scan for InMemoryTableScan and the PushedFilters assertions
    # inspect the wrong node
    spark.catalog.clearCache()
    return SearchEngine(spark, built_index.root,
                        QueryConfig(driver_score_max_postings=0))


def test_match_query_plan(spark, engine):
    plan = _formatted_plan(engine.match_query("parse json config"))
    assert "PushedFilters: [In(term" in plan, "term filter must reach the scan"
    # r8: the match-family clause frame is a literal CASE WHEN projection
    # (term → weight/jidx, idf folded in-plan from driver-fetched df) — the
    # plan must carry NO join and NO broadcast exchange at all; exactly one
    # scan (the pruned postings), one aggregate, one top-k.
    assert "Join" not in plan, "match clause frame must not join"
    assert "BroadcastExchange" not in plan
    # formatted mode prints each scan twice (tree line + details block);
    # PushedFilters appears once per scan details block
    assert plan.count("PushedFilters") == 1, "one pruned postings scan only"
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"
    # r7 (VERDICT r6 next #2): multi-term scoring folds per-doc
    # contributions via per-(clause,term) conditional sums in canonical
    # jidx order — layout-invariant like the r6 collect_list fold, but the
    # map-side combine is a TRUE streaming partial_sum again (the r6 fold
    # shipped every contribution double via partial_collect_list through an
    # ObjectHashAggregate, ~4× slower on forced-exhaustive hot terms)
    assert "partial_sum" in plan, \
        "streaming partial_sum map-side combine expected before shuffle"
    assert "partial_collect_list" not in plan, \
        "multi-term fold must not ship raw contribution lists"
    # column pruning: match scoring never reads the positions arrays
    scan = plan.split("Scan parquet")[1].split("(2)")[0]
    assert "positions" not in scan, "positions must be pruned from the scan"


def test_phrase_plan_reads_positions(spark, engine):
    plan = _formatted_plan(engine.match_phrase_query("parse json"))
    assert "PushedFilters: [In(term" in plan
    assert "positions" in plan  # phrase scoring legitimately needs them


def test_phrase_plan_two_phase_prunes_positions(spark, engine):
    """r2 (VERDICT r1 wrong #1): phase 1 (conjunction candidates) must scan
    postings WITHOUT positions; exactly one scan carries the position blobs,
    and it is semi-joined against the candidate set before the collect_list
    aggregation — so non-candidate positions never reach that shuffle."""
    plan = _formatted_plan(engine.match_phrase_query("parse json"))
    scans = [s.split("Output", 1)[1].splitlines()[0]
             for s in plan.split("Scan parquet")[1:] if "Output" in s]
    pos_scans = [s for s in scans if "positions" in s]
    free_scans = [s for s in scans if "positions" not in s and "term" in s]
    assert len(pos_scans) == 1, f"one positions scan expected, got {len(pos_scans)}"
    assert free_scans, "candidate phase must scan postings positions-free"
    assert "LeftSemi" in plan, "phase 2 must semi-join the candidate ids"
    # candidate ids broadcast for small dfs → positions never shuffle pre-agg
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_wildcard_plan_semi_join(spark, engine):
    plan = _formatted_plan(engine.wildcard_query("pars"))
    assert "LeftSemi" in plan or "left_semi" in plan.lower()


def test_doc_store_join_is_broadcast(spark, engine):
    hits = engine.match_query("def")
    plan = _formatted_plan(engine.materialize_hits(hits))
    assert "BroadcastHashJoin" in plan, "k-row hit side must broadcast (J4)"


def test_minhash_simhash_plans_are_jvm_only(spark):
    """r2 (VERDICT r1 wrong #3): MinHash/SimHash hashing moved JVM-side —
    their physical plans must contain NO Python evaluation node
    (BatchEvalPython / ArrowEvalPython / mapInPandas)."""
    from elasticsearch_alps_spark.extras.dedup import (
        minhash_lsh_pairs, simhash_pairs,
    )
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i}") for i in range(20)],
        "doc_id long, text string")
    for df in (minhash_lsh_pairs(docs, threshold=0.1,
                                 persist_signatures=False)[0],
               simhash_pairs(docs, max_hamming=10,
                             persist_fingerprints=False)[0]):
        plan = _formatted_plan(df)
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas"):
            assert node not in plan, f"{node} found in supposedly-JVM plan"


def test_fuzzy_expansion_plan_prunes_positions(spark, engine):
    """Fuzzy scoring never reads position blobs either."""
    plan = _formatted_plan(engine.fuzzy_query("pars"))
    scans = [s.split("Output", 1)[1].splitlines()[0]
             for s in plan.split("Scan parquet")[1:] if "Output" in s]
    assert scans and all("positions" not in s for s in scans)


def test_fuzzy_length_band_pushed_to_scan(spark, engine):
    """r3 (VERDICT r2 next #7): term_len is STORED in term_stats, so the
    fuzzy length-band filter reaches the parquet scan as a pushed predicate
    (row-group min/max skipping): the literal envelope over all words'
    bands pushes into the one expansion plan. The plan ranks nothing: the
    per-word top-k cut runs on the driver, so no Window (and no shuffle
    for it) is planned. The words are SQL literals over the scan, not a
    joined createDataFrame frame (whose collect is a Spark job of its own)."""
    multi = _formatted_plan(engine._fuzzy_expand_multi_df("main",
                                                          ["pars", "jsno"]))
    assert "GreaterThanOrEqual(term_len" in multi
    assert "LessThanOrEqual(term_len" in multi
    assert "Window" not in multi
    assert "Join" not in multi
    assert "BroadcastExchange" not in multi


def test_pq_topk_plan_is_shuffle_free(spark):
    """r4 PQ ADC: the codes-only scan must be a pure map (element_at on
    literal lookup tables) + TakeOrderedAndProject — no Exchange, no join,
    no Python in the scoring path (the encode UDF ran upstream)."""
    import numpy as np
    from elasticsearch_alps_spark.extras.simsearch import (
        pq_encode, pq_fit_codebooks, pq_topk,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.first()["embedding"]
    cb = pq_fit_codebooks(emb, m=8, n_codes=16)
    # materialize codes to parquet — the serving-time shape (encode once,
    # scan codes many times)
    import tempfile
    d = tempfile.mkdtemp(prefix="alps_pq_plan_") + "/codes"
    pq_encode(emb, cb).select("vec_id", "pq_code").write.parquet(d)
    codes = spark.read.parquet(d)
    plan = _formatted_plan(pq_topk(codes, qv, cb, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, "ADC scan must not shuffle"
    assert "Join" not in plan, "lookup tables are literals, not a join"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, \
        "no Python in the ADC scoring path"
    scan = plan.split("Scan parquet")[1]
    assert "embedding" not in scan, "the float vectors must not be read"


def test_ivfpq_served_plan_is_pruned_codes_scan(spark, tmp_path):
    """r5 (VERDICT r4 next #2): serving IVF-PQ from the persisted artifact
    must be a PARTITION-PRUNED codes scan (ivf_cell is a partition column,
    so the probe filter drops whole cell directories) + the pure-map ADC +
    TakeOrderedAndProject — no Exchange, no join, no Python, and the float
    embedding column must not appear anywhere in the plan."""
    from elasticsearch_alps_spark.extras.simsearch import (
        build_ann_index, ivfpq_topk_served,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.first()["embedding"]
    idx = build_ann_index(emb, str(tmp_path / "ann"), n_centroids=8,
                          m=8, n_codes=16)
    plan = _formatted_plan(ivfpq_topk_served(spark, idx, qv, k=10, n_probe=3))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, "served ADC scan must not shuffle"
    assert "Join" not in plan, "lookup tables are literals, not a join"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, \
        "no Python at serve time (the encode UDF ran at build time)"
    assert "embedding" not in plan, "serving must never touch the floats"
    # the formatted plan names "Scan parquet" twice (tree + detail block), so
    # assert on the detail block's attributes directly
    assert "PartitionFilters: [ivf_cell" in plan, \
        "probe filter must prune cell partitions at the directory level"
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_code" in read and "embedding" not in read, \
        "the scan must read only id + codes"


def test_ivfpq_residual_served_plan_is_pruned_codes_scan(spark, tmp_path):
    """r5 residual variant: the per-cell scalars and cross tables are
    literal (possibly nested) arrays indexed by the stored cell/codes —
    the plan shape must stay identical to the global-codebook serve:
    pruned codes scan + pure map + TakeOrderedAndProject."""
    from elasticsearch_alps_spark.extras.simsearch import (
        build_ann_index, ivfpq_topk_served,
    )
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.first()["embedding"]
    idx = build_ann_index(emb, str(tmp_path / "annr"), n_centroids=8,
                          m=8, n_codes=16, residual=True)
    plan = _formatted_plan(ivfpq_topk_served(spark, idx, qv, k=10, n_probe=3))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "embedding" not in plan
    assert "PartitionFilters: [ivf_cell" in plan


def test_repetition_stats_plan_partial_aggs(spark):
    """tx_repetition: both aggregations must have map-side partials and the
    only exchanges are the two key-partitioned ones (id,bigram) → (id)."""
    from elasticsearch_alps_spark.extras.textstats import repetition_stats
    d = spark.createDataFrame([(0, "a b\nc d"), (1, "x y\nx y")],
                              "doc_id long, text string")
    plan = _formatted_plan(repetition_stats(d))
    assert "partial_count" in plan or "partial_max" in plan, \
        "map-side combine expected"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
