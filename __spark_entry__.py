"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the Lucene-profile inverted index over
sf0.001 documents and run a BM25 match query end-to-end.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (+ the training-data-pipeline extras). Full-text queries run the
REAL engine (index built over the driver's ``documents`` table with the
SQL-expressible ``simple`` analyzer profile — lowercase + ``[a-z0-9_]+``
tokens, exact doc-length norms) so DuckDB can recompute the expected BM25
scores from first principles. The Lucene-exact profile (Porter, stopwords,
asciifolding, SmallFloat norms) is covered by the pytest golden-oracle suite
(tests/test_queries_vs_oracle.py) since it is not SQL-expressible.

Float discipline: engine and oracle SQL compute BM25 with the *same
expression tree* (same literals, same association order; idf's ln() runs in
glibc on both sides), so doubles agree to the last ulp except for sum order;
all float outputs are ROUND(x, 5-6) and top-k is re-ranked by
(rounded score DESC, doc_id ASC) on BOTH sides so boundary ties cut
identically.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from elasticsearch_alps_spark.config import (
    ExtraField, IndexConfig, QueryConfig, SIMPLE_ANALYZER, URL_ANALYZER,
)
from elasticsearch_alps_spark.indexing.builder import build_index, IndexPaths
from elasticsearch_alps_spark.indexing.postings import decode_positions
from elasticsearch_alps_spark.queries.engine import SearchEngine
from elasticsearch_alps_spark.session import ship_package

# --------------------------------------------------------------------- engine

_PATHS: dict = {}


def _index_paths(spark: SparkSession, sf_dir: str) -> IndexPaths:
    """Build (once per sf_dir; resumable) the simple-profile index over the
    driver's documents table."""
    key = os.path.abspath(sf_dir)
    if key not in _PATHS:
        ship_package(spark)
        out = os.path.join("/tmp/alps_gate_idx", key.strip("/").replace("/", "_"))
        # truncate_chars raised so the oracle SQL (which tokenizes RAW text)
        # cannot diverge if a driver-generated doc ever exceeds the default
        # 100k-char P4 truncation (ADVICE.md round 1)
        # r6 (VERDICT r5 next #4): a SECOND analyzed field — the reference's
        # url field (docs-only, norms-free, url_email analyzer). The
        # documents table has no url column, so one is synthesized
        # deterministically from (source, lang, doc_id); the oracle mirrors
        # the same expression in SQL.
        cfg = IndexConfig(analyzer=SIMPLE_ANALYZER, exact_analyzer=SIMPLE_ANALYZER,
                          extra_fields=(ExtraField("url", "url", URL_ANALYZER),),
                          quantize_norms=False, build_packed=False,
                          truncate_chars=10**9)
        docs = (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
                .withColumn("url", F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".example.com/"), F.col("lang"),
                    F.lit("/doc-"), F.col("doc_id").cast("string"))))
        _PATHS[key] = build_index(spark, docs, out, cfg, text_col="text",
                                  doc_id_col="doc_id", id_cols=("doc_id",),
                                  shards=8, resume=True)
    return _PATHS[key]


def _engine(spark: SparkSession, sf_dir: str, **qkw) -> SearchEngine:
    # driver_score_max_postings=0: the gate must exercise the DISTRIBUTED
    # scoring plan, not the hybrid driver serving path.
    return SearchEngine(spark, _index_paths(spark, sf_dir).root,
                        QueryConfig(driver_score_max_postings=0, **qkw))


_BIG = 1_000_000  # fetch all matches, then re-rank by rounded score


def _topk(hits: DataFrame, k: int) -> DataFrame:
    return (hits.withColumn("score", F.round("score", 6))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
                .select(F.col("doc_id").cast("long").alias("doc_id"), "score"))


# ------------------------------------------------------- oracle SQL fragments

# Must stay in lockstep with analysis/analyzers.py _SIMPLE_TOKEN_RE and the
# engine's BM25 expression (queries/engine.py _tf_norm_col): k1=1.2 b=0.75,
# no (k1+1), idf = ln(1+(N-df+0.5)/(df+0.5)), dl exact (quantize_norms=False).
_PRELUDE = """
WITH docs AS (
  SELECT doc_id, lower(text) AS t FROM documents
  WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
),
toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(t, '[^a-z0-9_]+'),
                             x -> x <> '') AS arr
  FROM docs
),
tok AS (
  SELECT doc_id, arr[i] AS term, i - 1 AS pos
  FROM toks, UNNEST(generate_series(1, len(arr))) AS u(i)
),
dl AS (SELECT doc_id, len(arr)::DOUBLE AS dl FROM toks),
cs AS (SELECT count(*)::DOUBLE AS n, sum(dl) / count(*) AS avgdl FROM dl),
post AS (SELECT term, doc_id, count(*)::DOUBLE AS freq
         FROM tok GROUP BY term, doc_id),
tstat AS (SELECT term, count(*)::DOUBLE AS df, sum(freq)::BIGINT AS cf
          FROM post GROUP BY term)
"""

_IDF = "ln(1.0 + (cs.n - {df} + 0.5) / ({df} + 0.5))"
_TF = "(p.freq / (p.freq + 1.2 * (0.25 + 0.75 * dl.dl / cs.avgdl)))"


def _sql_match(terms: list, required: int, k: int) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    idf = _IDF.format(df="w.df")
    having = (f"HAVING count(DISTINCT p.term) >= {required}"
              if required > 1 else "")
    return f"""{_PRELUDE}
SELECT p.doc_id, ROUND(SUM({idf} * {_TF}), 6) AS score
FROM post p
JOIN (SELECT term, df FROM tstat WHERE term IN ({tl})) w USING (term)
JOIN dl USING (doc_id) CROSS JOIN cs
GROUP BY p.doc_id
{having}
ORDER BY 2 DESC, 1 ASC LIMIT {k}"""


def _sql_phrase(terms: list, k: int) -> str:
    joins, conds = [], []
    for i, t in enumerate(terms[1:], 1):
        joins.append(f"JOIN tok t{i} ON t{i}.doc_id = t0.doc_id "
                     f"AND t{i}.pos = t0.pos + {i} AND t{i}.term = '{terms[i]}'")
    # Lucene PhraseWeight sums idf PER TERM OCCURRENCE (a repeated term
    # contributes twice) — iterate terms, not dict.fromkeys (ADVICE.md r1)
    idf_sum = " + ".join(
        f"(SELECT ln(1.0 + (cs.n - df + 0.5) / (df + 0.5)) "
        f"FROM tstat, cs WHERE term = '{t}')"
        for t in terms)
    return f"""{_PRELUDE},
pf AS (
  SELECT t0.doc_id, count(*)::DOUBLE AS freq
  FROM tok t0 {' '.join(joins)}
  WHERE t0.term = '{terms[0]}'
  GROUP BY t0.doc_id
)
SELECT pf.doc_id,
       ROUND(({idf_sum}) *
             (pf.freq / (pf.freq + 1.2 * (0.25 + 0.75 * dl.dl / cs.avgdl))), 6)
         AS score
FROM pf JOIN dl USING (doc_id) CROSS JOIN cs
ORDER BY 2 DESC, 1 ASC LIMIT {k}"""


# --------------------------------------------- extras-oracle SQL generators
#
# r2: the four r1 `no_oracle` gates (dx_minhash_lsh, dx_simhash, sx_ann_lsh,
# sx_ann_ivf) are now DuckDB-checkable. Hashing is md5-derived 60-bit ints
# (Spark conv(substr(md5,1,15),16,10) ≡ DuckDB ('0x'||substr(md5,1,15))::BIGINT)
# with Mersenne-31 universal-hash arithmetic that fits signed 64-bit on both
# sides. Float quantities that gate DISCRETE decisions (LSH bucket signs,
# probe ordering, IVF cell argmin) are emitted as EXPLICIT left-to-right sums
# so they reproduce Spark's F.aggregate fold bit-for-bit; the final cosine
# re-rank tolerates ulp noise via ROUND(...,5) on both sides.

_TOKS_CTE = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                             x -> x <> '') AS arr
  FROM documents
)"""


def _sql_minhash_ctes(num_hashes: int, bands: int, shingle_n: int,
                      seed: int) -> str:
    """The shingle→minhash→band→candidate→estimate CTE chain, FROM a
    ``toks`` CTE the caller provides (shared by _sql_minhash_lsh and
    _sql_dedup_corpus)."""
    from elasticsearch_alps_spark.extras.dedup import minhash_params
    a, b = minhash_params(num_hashes, seed)
    rpb = num_hashes // bands
    params = ", ".join(f"({i}, {a[i]}, {b[i]})" for i in range(num_hashes))
    n = shingle_n
    gram = " || ' ' || ".join(f"arr[i+{j}]" for j in range(n))
    return f"""sh AS (
  SELECT doc_id, {gram} AS shingle
  FROM toks, UNNEST(generate_series(1, len(arr) - {n - 1})) u(i)
  WHERE len(arr) >= {n}
  UNION
  SELECT doc_id, array_to_string(arr, ' ') AS shingle
  FROM toks WHERE len(arr) BETWEEN 1 AND {n - 1}
),
hm AS (SELECT doc_id, (('0x' || substr(md5(shingle), 1, 15))::BIGINT)
                      % 2147483647 AS hm FROM sh),
params(i, a, b) AS (VALUES {params}),
sig AS (SELECT doc_id, i, min((a * hm + b) % 2147483647) AS m
        FROM hm, params GROUP BY doc_id, i),
bands AS (SELECT doc_id, i // {rpb} AS band,
                 string_agg(m::VARCHAR, '_' ORDER BY i) AS bucket
          FROM sig GROUP BY doc_id, i // {rpb}),
cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
est AS (SELECT ia, ib,
               sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)::DOUBLE
                 / {float(num_hashes)} AS est_jaccard
        FROM cand JOIN sig sa ON sa.doc_id = ia
                  JOIN sig sb ON sb.doc_id = ib AND sb.i = sa.i
        GROUP BY ia, ib)"""


def _sql_minhash_lsh(num_hashes: int, bands: int, shingle_n: int,
                     threshold: float, seed: int, k_round: int = 6) -> str:
    return f"""{_TOKS_CTE},
{_sql_minhash_ctes(num_hashes, bands, shingle_n, seed)}
SELECT ia::BIGINT AS id_a, ib::BIGINT AS id_b,
       ROUND(est_jaccard, {k_round}) AS est_jaccard
FROM est WHERE est_jaccard >= {threshold} ORDER BY id_a, id_b"""


def _planted_chain_rows():
    """Four synthetic docs on a distinct token alphabet forming a MINHASH
    PATH (measured at seed 42: est 0.469/0.656/0.562 for consecutive pairs;
    the 2–4 candidate estimates 0.344 < 0.4 and 1–3/1–4 never share a band)
    — diameter 3, so the dedup gate fails unless cluster propagation
    actually multi-hops."""
    return [(9000001 + i,
             " ".join(f"zq{j}w" for j in range(4 * i, 4 * i + 16)))
            for i in range(4)]


def _sql_dedup_corpus(num_hashes: int, bands: int, shingle_n: int,
                      threshold: float, seed: int) -> str:
    """End-to-end dedup oracle: minhash-LSH pairs over documents + the
    planted chain → recursive-CTE connected components → anti-join the
    non-canonical ids."""
    planted = "\n  UNION ALL\n".join(
        f"  SELECT {did}::BIGINT, '{text}'" for did, text in
        _planted_chain_rows())
    return f"""WITH RECURSIVE corpus(doc_id, text) AS (
  SELECT doc_id::BIGINT, text FROM documents
  UNION ALL
{planted}
),
toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                             x -> x <> '') AS arr
  FROM corpus
),
{_sql_minhash_ctes(num_hashes, bands, shingle_n, seed)},
pairs AS (SELECT ia, ib FROM est WHERE est_jaccard >= {threshold}),
sym AS (SELECT ia AS a, ib AS b FROM pairs UNION SELECT ib, ia FROM pairs),
reach(id, comp) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.comp FROM sym s JOIN reach r ON r.id = s.b
),
drops AS (
  SELECT id FROM (SELECT id, MIN(comp) AS component FROM reach GROUP BY id)
  WHERE id != component
)
SELECT c.doc_id AS doc_id
FROM corpus c LEFT JOIN drops ON drops.id = c.doc_id
WHERE drops.id IS NULL
ORDER BY doc_id"""


def _sql_simhash(max_hamming: int) -> str:
    return f"""{_TOKS_CTE},
tok AS (SELECT doc_id, unnest(arr) AS tok FROM toks),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
acc AS (SELECT doc_id, j, sum((((h >> j) & 1) * 2 - 1)) AS v
        FROM h, (SELECT unnest(generate_series(0, 59)) AS j) js
        GROUP BY doc_id, j),
fp AS (SELECT doc_id,
              sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
                AS simhash
       FROM acc GROUP BY doc_id),
bands AS (SELECT doc_id, simhash, i AS band,
                 ((simhash >> (15 * i)) & 32767) AS bucket
          FROM fp, (SELECT unnest(generate_series(0, 3)) AS i) bs),
cand AS (SELECT DISTINCT a.doc_id AS ia, a.simhash AS ha,
                         b.doc_id AS ib, b.simhash AS hb
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
SELECT ia::BIGINT AS id_a, ib::BIGINT AS id_b,
       bit_count(xor(ha, hb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
ORDER BY id_a, id_b"""


# Both helpers produce STRICTLY SEQUENTIAL left-assoc folds via
# list_reduce((a,b) -> a+b) — verified identical to explicit `t1 + t2 + ...`
# chaining, which itself equals Spark's F.aggregate(0.0, acc+x) fold
# (0.0 + t1 == t1 exactly). One literal-list copy per use site keeps the
# generated SQL ~5× smaller than fully-expanded term chains.

def _arr(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _seq_weighted_sum(vec_expr: str, weights, dim: int) -> str:
    return (f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> {vec_expr}[i]::DOUBLE * ({_arr(weights)})[i]), "
            f"(a, b) -> a + b)")


def _seq_sqdist(vec_expr: str, center, dim: int) -> str:
    c = _arr(center)
    return (f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> ({vec_expr}[i]::DOUBLE - ({c})[i]) * "
            f"({vec_expr}[i]::DOUBLE - ({c})[i])), (a, b) -> a + b)")


_COS = """list_sum(list_transform(generate_series(1, len({v}.embedding)),
              i -> {v}.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
          / (sqrt(list_sum(list_transform({v}.embedding,
                 x -> x::DOUBLE * x::DOUBLE))) * q.qn)"""


def _sql_ann_lsh(n_planes: int, n_probes: int, seed: int, dim: int,
                 k: int) -> str:
    import numpy as np
    planes = np.random.RandomState(seed).standard_normal((n_planes, dim))
    qd = ",\n         ".join(
        f"({_seq_weighted_sum('q.qv', planes[j], dim)}) AS d{j}"
        for j in range(n_planes))
    qbucket = " + ".join(f"CASE WHEN d{j} > 0 THEN {1 << j} ELSE 0 END"
                         for j in range(n_planes))
    cost = " + ".join(f"(abs(qd.d{j}) * (((m.mask >> {j}) & 1))::DOUBLE)"
                      for j in range(n_planes))
    vbucket = " + ".join(
        f"CASE WHEN ({_seq_weighted_sum('e.embedding', planes[j], dim)}) > 0 "
        f"THEN {1 << j} ELSE 0 END" for j in range(n_planes))
    return f"""
WITH q AS (
  SELECT embedding AS qv,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS qn
  FROM embeddings WHERE vec_id = 0
),
qd AS (SELECT {qd}, q.qv, q.qn FROM q),
probes AS (
  SELECT xor(({qbucket}), m.mask) AS bucket
  FROM qd, (SELECT unnest(generate_series(0, {(1 << n_planes) - 1})) AS mask) m
  ORDER BY ({cost}), m.mask
  LIMIT {n_probes}
),
vb AS (
  SELECT e.vec_id::BIGINT AS id, e.embedding, ({vbucket}) AS bucket
  FROM embeddings e
),
scored AS (
  SELECT c.id, {_COS.format(v='c')} AS cosine
  FROM (SELECT vb.* FROM vb JOIN probes USING (bucket)) c CROSS JOIN q
)
SELECT id, ROUND(cosine, 5) AS cosine FROM scored
ORDER BY ROUND(cosine, 5) DESC, id ASC LIMIT {k}"""


def _sql_embed_cosine_lsh(n_planes: int, seed: int, dim: int,
                          threshold: float) -> str:
    import numpy as np
    planes = np.random.RandomState(seed).standard_normal((n_planes, dim))
    vbucket = " + ".join(
        f"CASE WHEN ({_seq_weighted_sum('e.embedding', planes[j], dim)}) > 0 "
        f"THEN {1 << j} ELSE 0 END" for j in range(n_planes))
    dot = ("list_sum(list_transform(generate_series(1, len(a.embedding)), "
           "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))")
    return f"""
WITH vb AS (
  SELECT e.vec_id::BIGINT AS id, e.embedding,
         sqrt(list_sum(list_transform(e.embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS nrm,
         ({vbucket}) AS bucket
  FROM embeddings e
)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND({dot} / (a.nrm * b.nrm), 5) AS cosine
FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.id < b.id
WHERE {dot} / (a.nrm * b.nrm) >= {threshold}
ORDER BY id_a, id_b"""


def _ivf_oracle_centroids(sf_dir: str, n_centroids: int, iters: int,
                          sample: int, seed: int):
    """Refit the gate's IVF centroids from the SAME rows ivf_fit_centroids
    uses (ORDER BY vec_id LIMIT sample) with the SAME numpy code — bit-equal
    float64 centroids, inlined as literals into the oracle SQL."""
    import duckdb
    import numpy as np
    from elasticsearch_alps_spark.extras.simsearch import kmeans_fit
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT {sample}").fetchall()
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    return kmeans_fit(x, n_centroids, iters, seed)


def _pq_oracle_fit(sf_dir: str, m: int, n_codes: int, iters: int,
                   sample: int, seed: int):
    """Refit the gate's PQ codebooks from the SAME ordered rows
    pq_fit_codebooks uses, with the SAME numpy code — bit-equal float64
    codebooks inlined as literals into the oracle SQL. Also returns the
    query vector (vec_id 0) and its exact sequential-fold norm."""
    import duckdb
    import numpy as np
    from elasticsearch_alps_spark.extras.simsearch import _seq_dot, kmeans_fit
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT {sample}").fetchall()
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    dsub = x.shape[1] // m
    cb = np.stack([kmeans_fit(x[:, j * dsub:(j + 1) * dsub], n_codes,
                              iters, seed + j) for j in range(m)])
    q = [float(v) for v in duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"WHERE vec_id = 0").fetchone()[0]]
    qn = float(np.sqrt(_seq_dot(q, q)))
    return cb, q, qn


def _pq_sql_parts(cb, q) -> dict:
    """Shared SQL fragments for the PQ oracles: per-subspace distance-list
    columns, code columns, and the ADC lookup sums — every float literal
    produced with the same sequential-fold discipline as the Spark side."""
    from elasticsearch_alps_spark.extras.simsearch import _seq_dot
    m, n_codes, dsub = cb.shape

    def sqdist(j: int, c: int) -> str:
        # left-associative `+` chain of per-dimension squared diffs — the
        # same float64 accumulation order as pq_encode's column-wise loop
        terms = []
        for i in range(dsub):
            idx = j * dsub + i + 1  # 1-based
            v = repr(float(cb[j, c, i]))
            terms.append(f"(e.embedding[{idx}]::DOUBLE - {v}) * "
                         f"(e.embedding[{idx}]::DOUBLE - {v})")
        return "(" + " + ".join(terms) + ")"

    dot_tbls = [_arr([_seq_dot(q[j * dsub:(j + 1) * dsub], cb[j, c])
                      for c in range(n_codes)]) for j in range(m)]
    nrm_tbls = [_arr([_seq_dot(cb[j, c], cb[j, c]) for c in range(n_codes)])
                for j in range(m)]
    return {
        "dl_cols": ", ".join(
            "[" + ", ".join(sqdist(j, c) for c in range(n_codes))
            + f"] AS dl{j}" for j in range(m)),
        "code_cols": ", ".join(
            f"(list_position(dl{j}, list_min(dl{j})) - 1) AS c{j}"
            for j in range(m)),
        "dot_sum": " + ".join(f"({dot_tbls[j]})[c{j} + 1]"
                              for j in range(m)),
        "n2_sum": " + ".join(f"({nrm_tbls[j]})[c{j} + 1]"
                             for j in range(m)),
    }


def _sql_ann_pq(sf_dir: str, m: int, n_codes: int, k: int, iters: int = 5,
                sample: int = 10_000, seed: int = 42) -> str:
    cb, q, qn = _pq_oracle_fit(sf_dir, m, n_codes, iters, sample, seed)
    p = _pq_sql_parts(cb, q)
    return f"""
WITH dl AS (
  SELECT e.vec_id::BIGINT AS id, {p['dl_cols']}
  FROM embeddings e
),
enc AS (
  SELECT id, {p['code_cols']} FROM dl
)
SELECT id, ROUND(({p['dot_sum']}) / (sqrt({p['n2_sum']}) * {qn!r}), 5) AS cosine
FROM enc ORDER BY cosine DESC, id ASC LIMIT {k}"""


def _sql_ann_ivfpq(sf_dir: str, n_centroids: int, n_probe: int, m: int,
                   n_codes: int, k: int, iters: int = 5,
                   sample: int = 10_000, seed: int = 42) -> str:
    from elasticsearch_alps_spark.extras.simsearch import _seq_dot
    cent = _ivf_oracle_centroids(sf_dir, n_centroids, iters, sample, seed)
    cb, q, qn = _pq_oracle_fit(sf_dir, m, n_codes, iters, sample, seed)
    p = _pq_sql_parts(cb, q)
    dim = cent.shape[1]
    # probe cells chosen driver-side exactly like ivfpq_topk: sequential-fold
    # distances, (distance, index) tie-break — both engines get the same
    # literal cell list
    d = [_seq_dot([float(a) - float(b) for a, b in zip(c, q)],
                  [float(a) - float(b) for a, b in zip(c, q)])
         for c in cent]
    probe = sorted(range(len(d)), key=lambda i: (d[i], i))[:n_probe]
    vdists = ", ".join(f"({_seq_sqdist('e.embedding', cent[c], dim)})"
                       for c in range(n_centroids))
    cells = ", ".join(str(c) for c in probe)
    return f"""
WITH va AS (
  SELECT e.vec_id::BIGINT AS id,
         (list_position([{vdists}], list_min([{vdists}])) - 1) AS cell,
         {p['dl_cols']}
  FROM embeddings e
),
enc AS (
  SELECT id, {p['code_cols']} FROM va WHERE cell IN ({cells})
)
SELECT id, ROUND(({p['dot_sum']}) / (sqrt({p['n2_sum']}) * {qn!r}), 5) AS cosine
FROM enc ORDER BY cosine DESC, id ASC LIMIT {k}"""


def _residual_oracle_fit(sf_dir: str, n_centroids: int, m: int, n_codes: int,
                         iters: int, sample: int, seed: int):
    """Refit centroids + RESIDUAL codebooks from the same ordered rows with
    the same numpy ops/order as pq_fit_codebooks_residual → bit-equal."""
    import duckdb
    import numpy as np
    from elasticsearch_alps_spark.extras.simsearch import _seq_dot, kmeans_fit
    cent = _ivf_oracle_centroids(sf_dir, n_centroids, iters, sample, seed)
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"ORDER BY vec_id LIMIT {sample}").fetchall()
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    acc = np.zeros((x.shape[0], cent.shape[0]), dtype=np.float64)
    for i in range(x.shape[1]):
        diff = x[:, i, None] - cent[None, :, i]
        acc += diff * diff
    res = x - cent[acc.argmin(axis=1)]
    dsub = x.shape[1] // m
    cb = np.stack([kmeans_fit(res[:, j * dsub:(j + 1) * dsub], n_codes,
                              iters, seed + j) for j in range(m)])
    q = [float(v) for v in duckdb.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"WHERE vec_id = 0").fetchone()[0]]
    qn = float(np.sqrt(_seq_dot(q, q)))
    return cent, cb, q, qn


def _sql_ann_ivfpq_res(sf_dir: str, n_centroids: int, n_probe: int, m: int,
                       n_codes: int, k: int, iters: int = 5,
                       sample: int = 10_000, seed: int = 42) -> str:
    """Residual IVF-PQ oracle (r5): assignment → residual vector (ONE
    nested centroid literal, computed once per row) → per-subspace codes
    (left-assoc squared-diff chains over the residual, matching
    pq_encode_residual's column-wise accumulation) → residual ADC with
    per-cell qc/‖c‖²/cross lookup literals, grouped exactly like
    pq_topk_residual's expression tree."""
    from elasticsearch_alps_spark.extras.simsearch import _seq_dot
    cent, cb, q, qn = _residual_oracle_fit(sf_dir, n_centroids, m, n_codes,
                                           iters, sample, seed)
    dim = cent.shape[1]
    dsub = dim // m
    d = [_seq_dot([float(a) - float(b) for a, b in zip(c, q)],
                  [float(a) - float(b) for a, b in zip(c, q)])
         for c in cent]
    probe = sorted(range(len(d)), key=lambda i: (d[i], i))[:n_probe]
    vdists = ", ".join(f"({_seq_sqdist('e.embedding', cent[c], dim)})"
                       for c in range(n_centroids))
    cent_nested = "[" + ", ".join(_arr(c) for c in cent) + "]"
    # per-subspace code columns over the residual r
    dl_cols = []
    for j in range(m):
        dls = []
        for c in range(n_codes):
            terms = [f"(r[{j * dsub + i + 1}] - {repr(float(cb[j, c, i]))})"
                     f" * (r[{j * dsub + i + 1}] - {repr(float(cb[j, c, i]))})"
                     for i in range(dsub)]
            dls.append("(" + " + ".join(terms) + ")")
        dl_cols.append("[" + ", ".join(dls) + f"] AS dl{j}")
    code_cols = ", ".join(
        f"(list_position(dl{j}, list_min(dl{j})) - 1) AS c{j}"
        for j in range(m))
    qc_arr = _arr([_seq_dot(q, cent[c]) for c in range(n_centroids)])
    c2_arr = _arr([_seq_dot(cent[c], cent[c]) for c in range(n_centroids)])
    dot_tbls = [_arr([_seq_dot(q[j * dsub:(j + 1) * dsub], cb[j, c])
                      for c in range(n_codes)]) for j in range(m)]
    nrm_tbls = [_arr([_seq_dot(cb[j, c], cb[j, c]) for c in range(n_codes)])
                for j in range(m)]
    cross_tbls = ["[" + ", ".join(
        _arr([_seq_dot(cent[c][j * dsub:(j + 1) * dsub], cb[j, kk])
              for kk in range(n_codes)]) for c in range(n_centroids)) + "]"
        for j in range(m)]
    dot_sum = " + ".join(f"({dot_tbls[j]})[c{j} + 1]" for j in range(m))
    nrm_sum = " + ".join(f"({nrm_tbls[j]})[c{j} + 1]" for j in range(m))
    cross_sum = " + ".join(f"({cross_tbls[j]})[cell + 1][c{j} + 1]"
                           for j in range(m))
    cells = ", ".join(str(c) for c in probe)
    return f"""
WITH va AS (
  SELECT e.vec_id::BIGINT AS id, e.embedding,
         (list_position([{vdists}], list_min([{vdists}])) - 1) AS cell
  FROM embeddings e
),
res AS (
  SELECT id, cell,
         list_transform(generate_series(1, {dim}),
             i -> embedding[i]::DOUBLE - ({cent_nested})[cell + 1][i]) AS r
  FROM va WHERE cell IN ({cells})
),
dl AS (
  SELECT id, cell, {", ".join(dl_cols)} FROM res
),
enc AS (
  SELECT id, cell, {code_cols} FROM dl
)
SELECT id,
       ROUND((({qc_arr})[cell + 1] + ({dot_sum}))
             / (sqrt(({c2_arr})[cell + 1] + 2.0 * ({cross_sum})
                     + ({nrm_sum})) * {qn!r}), 5) AS cosine
FROM enc ORDER BY cosine DESC, id ASC LIMIT {k}"""


def _sql_ann_ivf(sf_dir: str, n_centroids: int, n_probe: int, k: int,
                 iters: int = 5, sample: int = 10_000, seed: int = 42) -> str:
    cent = _ivf_oracle_centroids(sf_dir, n_centroids, iters, sample, seed)
    dim = cent.shape[1]
    # per-vector distance list → cell = first argmin (list_position of min),
    # matching Spark's array_position(arr, array_min(arr)) - 1
    vdists = ", ".join(f"({_seq_sqdist('e.embedding', cent[c], dim)})"
                       for c in range(n_centroids))
    qdists = ", ".join(f"({_seq_sqdist('q.qv', cent[c], dim)})"
                       for c in range(n_centroids))
    return f"""
WITH q AS (
  SELECT embedding AS qv,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS qn
  FROM embeddings WHERE vec_id = 0
),
probe AS (
  SELECT cell FROM (
    SELECT u.cell, dl[u.cell + 1] AS dist
    FROM (SELECT [{qdists}] AS dl FROM q) d,
         (SELECT unnest(generate_series(0, {n_centroids - 1})) AS cell) u
  ) ORDER BY dist, cell LIMIT {n_probe}
),
va AS (
  SELECT e.vec_id::BIGINT AS id, e.embedding,
         (list_position(dl, list_min(dl)) - 1) AS cell
  FROM (SELECT *, [{vdists}] AS dl FROM embeddings e) e
),
scored AS (
  SELECT c.id, {_COS.format(v='c')} AS cosine
  FROM (SELECT va.* FROM va JOIN probe USING (cell)) c CROSS JOIN q
)
SELECT id, ROUND(cosine, 5) AS cosine FROM scored
ORDER BY ROUND(cosine, 5) DESC, id ASC LIMIT {k}"""


# ----------------------------------------------------------------- the gate

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Lucene-profile index build + BM25 match query on sf0.001."""
    ship_package(spark)
    sf_dir = "/root/testdata/sf0.001"
    out = "/tmp/alps_entry_idx_lucene"
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    paths = build_index(spark, docs, out, IndexConfig(), text_col="text",
                        doc_id_col="doc_id", id_cols=("doc_id",),
                        shards=8, resume=True)
    eng = SearchEngine(spark, paths.root)
    hits = eng.match_query("batch window spark", "or")
    return eng.materialize_hits(hits).select(
        "doc_id", "score", "lang", "source", "content_sha256")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from elasticsearch_alps_spark.extras import dedup, simsearch, textstats

    def docs_df(spark, sf):
        ship_package(spark)  # extras use Arrow UDFs — workers need the package
        return spark.read.parquet(os.path.join(sf, "documents.parquet"))

    def emb_df(spark, sf):
        ship_package(spark)
        return spark.read.parquet(os.path.join(sf, "embeddings.parquet"))

    # ---- full-text engine (SURVEY.md §2.7 Q1-Q11) ----
    q: dict[str, Callable] = {}
    q["ft_match_or"] = lambda s, sf: _topk(
        _engine(s, sf).match_query("batch window spark", "or", size=_BIG), 50)
    q["ft_match_and"] = lambda s, sf: _topk(
        _engine(s, sf).match_query("join hash filter", "and", size=_BIG), 50)
    q["ft_match_msm60"] = lambda s, sf: _topk(
        _engine(s, sf).match_query("batch window spark join hash", "or",
                                   minimum_should_match=60, size=_BIG), 50)
    q["ft_match_phrase"] = lambda s, sf: _topk(
        _engine(s, sf).match_phrase_query("table value", 0, size=_BIG), 50)
    q["ft_match_phrase3"] = lambda s, sf: _topk(
        _engine(s, sf).match_phrase_query("batch window spark", 0, size=_BIG), 50)
    q["ft_phrase_slop1"] = lambda s, sf: _topk(
        _engine(s, sf).match_phrase_query("table value", 1, size=_BIG), 50)
    q["ft_match_all"] = lambda s, sf: (
        _engine(s, sf).match_all(1)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "score"))
    q["ft_term_exact"] = lambda s, sf: _topk(
        _engine(s, sf).term_query_exact("spark", size=_BIG), 100)
    q["ft_wildcard"] = lambda s, sf: _topk(
        _engine(s, sf).wildcard_query("ind", size=_BIG), 100)
    q["ft_fuzzy"] = lambda s, sf: _topk(
        _engine(s, sf).fuzzy_query("sparc", size=_BIG), 50)
    # r6 (VERDICT r5 next #8): the multi_match fuzziness=AUTO fallback
    # (search.py:295-323 — per-word expansions, max_expansions 50, msm 60%
    # → 2 of 4 words required)
    q["ft_fuzzy_multiword"] = lambda s, sf: _topk(
        _engine(s, sf).fuzzy_query("sparc windoo batchs filtr", size=_BIG),
        50)
    # r6 (VERDICT r5 next #4): match on the SECOND analyzed field (url —
    # docs-only, norms-free: BM25's norms==null branch, tf ≡ 1)
    q["ft_url_match"] = lambda s, sf: _topk(
        _engine(s, sf).match_query("src3 de", "or", size=_BIG, field="url"),
        50)
    q["ft_bool_or_msm50"] = lambda s, sf: _topk(
        _engine(s, sf, bool_must_operator="or",
                bool_must_minimum_should_match="50%")
        .bool_must_query("batch window spark join", size=_BIG), 50)

    # ---- index side tables (SURVEY.md §2.4 I1-I3) ----
    def ft_term_stats(s, sf):
        p = _index_paths(s, sf)
        return (s.read.parquet(p.term_stats("main"))
                .select("term", F.col("df").cast("long").alias("df"),
                        F.col("cf").cast("long").alias("cf"))
                .orderBy("term"))
    q["ft_term_stats"] = ft_term_stats

    def ft_doc_stats(s, sf):
        p = _index_paths(s, sf)
        return (s.read.parquet(p.postings("main"))
                .groupBy("doc_id").agg(F.first("dl").alias("dl"))
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.col("dl").cast("long").alias("dl"))
                .orderBy("doc_id"))
    q["ft_doc_stats"] = ft_doc_stats

    def ft_collection_stats(s, sf):
        p = _index_paths(s, sf)
        st = p.read_stats()["fields"]["main"]
        ts = s.read.parquet(p.term_stats("main"))
        vocab = ts.count()
        return s.createDataFrame(
            [(int(st["n_docs"]), int(st["cf_total"]), int(vocab),
              round(st["avgdl"], 6))],
            "n_docs long, cf_total long, vocab long, avgdl double")
    q["ft_collection_stats"] = ft_collection_stats

    def ft_top_terms(s, sf):
        p = _index_paths(s, sf)
        return (s.read.parquet(p.term_stats("main"))
                .select("term", F.col("cf").cast("long").alias("cf"))
                .orderBy(F.desc("cf"), F.asc("term")).limit(20))
    q["ft_top_terms"] = ft_top_terms

    def ft_hit_count(s, sf):
        eng = _engine(s, sf)
        hits = eng.match_query("batch window", "or", size=_BIG)
        n = hits.count()
        capped = min(n, eng.qcfg.track_total_hits)
        return s.createDataFrame([(capped,)], "total_hits long")
    q["ft_hit_count_capped"] = ft_hit_count

    def ft_postings_spark(s, sf):
        p = _index_paths(s, sf)
        # positions are a varint blob (indexing/postings.py): decode first
        positions = F.udf(decode_positions, "array<long>")("positions")
        return (s.read.parquet(p.postings("main"))
                .filter(F.col("term") == "spark")
                .withColumn("positions", positions)
                .select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.col("freq").cast("long").alias("freq"),
                        F.element_at("positions", 1).cast("long").alias("first_pos"),
                        F.element_at("positions", -1).cast("long").alias("last_pos"))
                .orderBy("doc_id"))
    q["ft_postings_spark"] = ft_postings_spark

    # ---- dedup suite ----
    # The driver corpus has no exact duplicates and no >=0.9-cosine embedding
    # pairs, which made dx_exact_dups / dx_embed_cosine pass VACUOUSLY on
    # 0 rows (VERDICT r2 wrong #1). Both gates now plant deterministic
    # duplicates — copies of the 3 lowest-id rows re-id'd +1,000,000 — on BOTH
    # sides (Spark union / SQL UNION ALL), so an operator returning nothing
    # unconditionally fails the gate.
    def dx_exact_dups(s, sf):
        d = docs_df(s, sf)
        planted = (d.filter(F.col("doc_id") < 3)
                   .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
        return dedup.exact_duplicates(d.unionByName(planted), "text",
                                      "doc_id").orderBy("content_sha256")
    q["dx_exact_dups"] = dx_exact_dups
    # the skew cap is exercised but provably inert on this fixture (max
    # shingle df at sf0.01 is 7 — measured via DuckDB), so the uncapped
    # oracle stays exact
    q["dx_ngram_jaccard"] = lambda s, sf: (
        dedup.ngram_jaccard_pairs(docs_df(s, sf), "text", "doc_id",
                                  n=3, threshold=0.05, max_shingle_df=100)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b"))
    # persist_signatures/fingerprints=False: the gate DataFrame outlives this
    # call (the driver collects it later), so an in-function persist could
    # never be released — the gates must leave no pinned blocks behind
    # (VERDICT r2 wrong #3); recomputing signatures is cheap at sf0.01
    q["dx_minhash_lsh"] = lambda s, sf: (
        dedup.minhash_lsh_pairs(docs_df(s, sf), "text", "doc_id",
                                threshold=0.05,
                                persist_signatures=False)[0]
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .orderBy("id_a", "id_b"))
    q["dx_simhash"] = lambda s, sf: (
        dedup.simhash_pairs(docs_df(s, sf), "text", "doc_id", max_hamming=8,
                            persist_fingerprints=False)[0]
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a", "id_b"))
    def dx_embed_cosine(s, sf):
        e = emb_df(s, sf)
        planted = (e.filter(F.col("vec_id") < 3)
                   .withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
        return (dedup.embedding_cosine_pairs(e.unionByName(planted), "vec_id",
                                             "embedding", threshold=0.9)
                .select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))
                .orderBy("id_a", "id_b"))
    q["dx_embed_cosine"] = dx_embed_cosine

    # the SCALE path for embedding dedup: LSH bucket blocking wired in (the
    # r1 block_col hook, now gate-verified) — only same-bucket pairs compare
    def dx_embed_cosine_lsh(s, sf):
        e = simsearch.hyperplane_buckets(emb_df(s, sf), n_planes=6, seed=42,
                                         dim=64)
        return (dedup.embedding_cosine_pairs(e, "vec_id", "embedding",
                                             threshold=0.4,
                                             block_col="lsh_bucket")
                .select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))
                .orderBy("id_a", "id_b"))
    q["dx_embed_cosine_lsh"] = dx_embed_cosine_lsh

    def dx_components(s, sf):
        # r5: duplicate-cluster ids from pairs (the step after every pair
        # miner). Edge set = doc_id chains in segments of 4 (i→i+1 except
        # every 4th) — multi-hop components (diameter 3) so the gate fails
        # if propagation stops after one neighbor step; DuckDB mirrors it
        # with a recursive CTE.
        d = docs_df(s, sf)
        edges = (d.filter((F.col("doc_id") < 40) & (F.col("doc_id") % 4 != 3))
                 .select(F.col("doc_id").alias("id_a"),
                         (F.col("doc_id") + 1).alias("id_b")))
        return dedup.connected_components(edges).orderBy("id")
    q["dx_components"] = dx_components

    def dx_dedup_corpus(s, sf):
        # r6 (VERDICT r5 next #6): the end-to-end composition — pair mining
        # → connected_components → keep_canonical — as ONE operator, gated
        # over the real corpus plus a planted 4-doc minhash PATH (diameter
        # 3: only multi-hop cluster propagation keeps exactly the chain's
        # min id). Oracle = the same minhash SQL + a recursive CTE.
        d = docs_df(s, sf).select("doc_id", "text")
        chain = s.createDataFrame(_planted_chain_rows(),
                                  "doc_id long, text string")
        corpus = d.withColumn("doc_id", F.col("doc_id").cast("long")) \
                  .unionByName(chain)
        deduped, _ = dedup.dedup_corpus(corpus, strategy="minhash",
                                        threshold=0.4, compute_report=False)
        return deduped.select("doc_id").orderBy("doc_id")
    q["dx_dedup_corpus"] = dx_dedup_corpus

    def sp_hash_sample(s, sf):
        # r5: deterministic hash sampling — reproducible across runs,
        # partitionings and engines (df.sample() is none of those); the
        # stratified variant keys the keep-rate on lang
        from elasticsearch_alps_spark.extras import sampling
        d = docs_df(s, sf)
        plain = sampling.sample_by_hash(d, 0.3, ["doc_id"], seed=42) \
            .select("doc_id", F.lit("plain").alias("which"))
        strat = sampling.stratified_sample_by_hash(
            d, {"en": 0.5, "de": 0.1}, "lang", ["doc_id"], seed=7,
            default_rate=0.25).select("doc_id", F.lit("strat").alias("which"))
        return plain.unionByName(strat).orderBy("which", "doc_id")
    q["sp_hash_sample"] = sp_hash_sample

    # ---- similarity search ----
    def ann_brute(s, sf):
        e = emb_df(s, sf)
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
        hits = simsearch.brute_force_topk(e, qv, k=_BIG, id_col="vec_id")
        return (hits.withColumn("cosine", F.round("cosine", 5))
                    .orderBy(F.desc("cosine"), F.asc("id")).limit(10))
    q["sx_ann_bruteforce"] = ann_brute

    # approximate paths fetch ALL bucket-pruned candidates (k=_BIG), then
    # re-rank by (ROUND(cos,5) DESC, id) — the same tie-cut the oracle makes
    def ann_lsh(s, sf):
        e = emb_df(s, sf)
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
        hits = simsearch.lsh_topk(e, qv, k=_BIG)
        return (hits.withColumn("cosine", F.round("cosine", 5))
                    .orderBy(F.desc("cosine"), F.asc("id")).limit(10))
    q["sx_ann_lsh"] = ann_lsh

    def ann_ivf(s, sf):
        e = emb_df(s, sf)
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
        hits = simsearch.ivf_topk(e, qv, k=_BIG, n_centroids=8, n_probe=3)
        return (hits.withColumn("cosine", F.round("cosine", 5))
                    .orderBy(F.desc("cosine"), F.asc("id")).limit(10))
    q["sx_ann_ivf"] = ann_ivf

    def ann_pq(s, sf):
        # r4: product quantization — codes-only ADC scan (the 100-TB memory
        # path: m small ints per vector + literal lookup tables, floats
        # never leave parquet after encoding)
        e = s.read.parquet(os.path.join(sf, "embeddings.parquet"))
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
        cb = simsearch.pq_fit_codebooks(e, m=8, n_codes=16)
        enc = simsearch.pq_encode(e, cb)
        hits = simsearch.pq_topk(enc, qv, cb, k=_BIG)
        return (hits.withColumn("cosine", F.round("cosine", 5))
                    .orderBy(F.desc("cosine"), F.asc("id")).limit(10))
    q["sx_ann_pq"] = ann_pq

    def ann_ivfpq(s, sf):
        # r4: FAISS-standard IVF-PQ — coarse cells prune, ADC scores codes
        e = s.read.parquet(os.path.join(sf, "embeddings.parquet"))
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
        hits = simsearch.ivfpq_topk(e, qv, k=_BIG, n_centroids=8, n_probe=3,
                                    m=8, n_codes=16)
        return (hits.withColumn("cosine", F.round("cosine", 5))
                    .orderBy(F.desc("cosine"), F.asc("id")).limit(10))
    q["sx_ann_ivfpq"] = ann_ivfpq

    def ann_ivfpq_served(s, sf):
        # r5 (VERDICT r4 next #2): build the persisted ANN artifact
        # (cell-partitioned codes parquet + centroid/codebook meta), then
        # serve the query from the STORED codes — the plan is a
        # partition-pruned codes scan with no Python, no Exchange, and no
        # embedding column (plan-asserted in test_plan_quality.py)
        import hashlib
        import tempfile
        e = s.read.parquet(os.path.join(sf, "embeddings.parquet"))
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
        out = os.path.join(tempfile.gettempdir(), "alps_ann_gate_"
                           + hashlib.md5(sf.encode()).hexdigest()[:10])
        simsearch.build_ann_index(e, out, n_centroids=8, m=8, n_codes=16)
        hits = simsearch.ivfpq_topk_served(s, out, qv, k=_BIG, n_probe=3)
        return (hits.withColumn("cosine", F.round("cosine", 5))
                    .orderBy(F.desc("cosine"), F.asc("id")).limit(10))
    q["sx_ann_ivfpq_served"] = ann_ivfpq_served

    def ann_ivfpq_res(s, sf):
        # r5: FAISS-default RESIDUAL encoding — codebooks fit on
        # v − centroid[cell], per-cell ADC lookup literals; served from the
        # persisted artifact like sx_ann_ivfpq_served
        import hashlib
        import tempfile
        e = s.read.parquet(os.path.join(sf, "embeddings.parquet"))
        qv = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
        out = os.path.join(tempfile.gettempdir(), "alps_ann_gate_res_"
                           + hashlib.md5(sf.encode()).hexdigest()[:10])
        simsearch.build_ann_index(e, out, n_centroids=8, m=8, n_codes=16,
                                  residual=True)
        hits = simsearch.ivfpq_topk_served(s, out, qv, k=_BIG, n_probe=3)
        return (hits.withColumn("cosine", F.round("cosine", 5))
                    .orderBy(F.desc("cosine"), F.asc("id")).limit(10))
    q["sx_ann_ivfpq_res"] = ann_ivfpq_res

    # ---- text analysis ----
    q["tx_text_stats"] = lambda s, sf: textstats.text_stats(
        docs_df(s, sf), "text", "doc_id").orderBy("id")
    q["tx_lang_id"] = lambda s, sf: (
        textstats.language_id(docs_df(s, sf), "text", "doc_id")
        .select("id", "lang_guess", F.round("lang_score", 6).alias("lang_score"))
        .orderBy("id"))
    q["tx_fingerprint"] = lambda s, sf: textstats.fingerprint_md5(
        docs_df(s, sf), "text", "doc_id").orderBy("id")
    # r4: Gopher-style repetition signals (duplicate-line ratio, top-bigram
    # fraction, threshold flag) — the repetition filter stage of a
    # training-data pipeline
    q["tx_repetition"] = lambda s, sf: textstats.repetition_stats(
        docs_df(s, sf), "text", "doc_id").orderBy("id")

    # ---- aggregations (SURVEY.md §2.5 G1-G5 shapes) ----
    def agg_events(s, sf):
        ev = s.read.parquet(os.path.join(sf, "events.parquet"))
        return (ev.groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.round(F.min("value"), 6).alias("min_v"),
                     F.round(F.max("value"), 6).alias("max_v"),
                     F.countDistinct("user_id").alias("users"))
                .orderBy("event_type"))
    q["agg_events_summary"] = agg_events

    # ---- general OLAP shapes over the TPC-H-ish tables (§2.5 G aggs, §2.6
    # broadcast joins) — float discipline: only order-independent stats
    # (counts, min/max) or exact-integral sums cross the compare boundary
    def tpch_orders_by_status(s, sf):
        o = s.read.parquet(os.path.join(sf, "orders.parquet"))
        return (o.groupBy("o_orderstatus")
                .agg(F.count("*").alias("n"),
                     F.round(F.min("o_totalprice"), 6).alias("min_price"),
                     F.round(F.max("o_totalprice"), 6).alias("max_price"),
                     F.countDistinct("o_custkey").alias("customers"))
                .orderBy("o_orderstatus"))
    q["tpch_orders_by_status"] = tpch_orders_by_status

    def tpch_top_customers(s, sf):
        o = s.read.parquet(os.path.join(sf, "orders.parquet"))
        c = s.read.parquet(os.path.join(sf, "customer.parquet"))
        counts = (o.groupBy("o_custkey").agg(F.count("*").alias("n_orders")))
        return (counts.join(F.broadcast(c.select(
                    F.col("c_custkey"), "c_name")),
                    counts["o_custkey"] == c["c_custkey"])
                .select(F.col("c_custkey").cast("long").alias("c_custkey"),
                        "c_name", "n_orders")
                .orderBy(F.desc("n_orders"), F.asc("c_custkey")).limit(20))
    q["tpch_top_customers"] = tpch_top_customers

    def tpch_pricing_summary(s, sf):
        li = s.read.parquet(os.path.join(sf, "lineitem.parquet"))
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum("l_quantity").cast("long").alias("sum_qty"),
                     F.count("*").alias("n"),
                     F.round(F.max("l_extendedprice"), 6).alias("max_price"),
                     F.round(F.min("l_discount"), 6).alias("min_disc"))
                .orderBy("l_returnflag", "l_linestatus"))
    q["tpch_pricing_summary"] = tpch_pricing_summary

    def tpch_region_customers(s, sf):
        r = s.read.parquet(os.path.join(sf, "region.parquet"))
        n = s.read.parquet(os.path.join(sf, "nation.parquet"))
        c = s.read.parquet(os.path.join(sf, "customer.parquet"))
        return (c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
                .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
                .groupBy("r_name")
                .agg(F.count("*").alias("n_customers"),
                     F.countDistinct("n_name").alias("n_nations"))
                .orderBy("r_name"))
    q["tpch_region_customers"] = tpch_region_customers

    # custom operator (brief §custom operators): as-of join — every purchase
    # event gets the most recent view event's value per user (point-in-time
    # feature lookup; union+window shape, not a range join)
    def evx_asof_purchase_view(s, sf):
        from elasticsearch_alps_spark.extras.asof import asof_join
        ev = s.read.parquet(os.path.join(sf, "events.parquet"))
        purchases = (ev.filter(F.col("event_type") == "purchase")
                     .select("event_id", "user_id", "ts", "value"))
        views = (ev.filter(F.col("event_type") == "view")
                 .select("user_id", "ts", "value"))
        return (asof_join(purchases, views, "user_id")
                .select(F.col("event_id").cast("long").alias("event_id"),
                        F.col("user_id").cast("long").alias("user_id"),
                        F.round("value", 6).alias("value"),
                        F.round("value_asof", 6).alias("view_value"))
                .orderBy("event_id"))
    q["evx_asof_purchase_view"] = evx_asof_purchase_view

    # §2.8 window functions: sessionization (30-min inactivity gap) — lag
    # window + cumulative sum of session starts, per user; all-integer
    # output. Gap test is a pure timestamp+INTERVAL comparison so both
    # engines agree at microsecond precision (no second-truncation quirks).
    def evx_sessionize(s, sf):
        from elasticsearch_alps_spark.extras.temporal import sessionize
        ev = s.read.parquet(os.path.join(sf, "events.parquet"))
        sess = sessionize(ev, "user_id", "ts", order_cols=("event_id",))
        return (sess.groupBy("user_id")
                .agg(F.max("session_id").cast("long").alias("n_sessions"),
                     F.count("*").alias("n_events"))
                .select(F.col("user_id").cast("long").alias("user_id"),
                        "n_sessions", "n_events")
                .orderBy("user_id"))
    q["evx_sessionize"] = evx_sessionize

    # bucketed point-in-interval join: purchases attributed to the click
    # session window they fall into (extras.temporal — explode-to-buckets
    # equi-join, not a range theta-join)
    def evx_purchase_in_click_session(s, sf):
        from elasticsearch_alps_spark.extras.temporal import (
            point_in_interval_join, session_intervals,
        )
        ev = s.read.parquet(os.path.join(sf, "events.parquet"))
        clicks = ev.filter(F.col("event_type") == "click") \
                   .select("user_id", "ts", "event_id")
        iv = (session_intervals(clicks, "user_id", "ts",
                                order_cols=("event_id",))
              # ±30 min attribution padding around each click session
              .withColumn("start", F.expr("start - INTERVAL 1800 SECOND"))
              .withColumn("end", F.expr("end + INTERVAL 1800 SECOND")))
        purchases = ev.filter(F.col("event_type") == "purchase") \
                      .select("event_id", "user_id", "ts")
        out = point_in_interval_join(purchases, iv, "user_id",
                                     payload_cols=["session_id"])
        return (out.select(F.col("event_id").cast("long").alias("event_id"),
                           F.col("user_id").cast("long").alias("user_id"),
                           F.col("session_id").cast("long").alias("session_id"))
                .orderBy("event_id", "session_id"))
    q["evx_purchase_in_click_session"] = evx_purchase_in_click_session

    def agg_docs_by_lang(s, sf):
        d = docs_df(s, sf)
        return (d.groupBy("lang")
                .agg(F.count("*").alias("n"),
                     F.round(F.avg("n_chars"), 6).alias("avg_chars"),
                     F.max("n_chars").cast("long").alias("max_chars"))
                .orderBy("lang"))
    q["agg_docs_by_lang"] = agg_docs_by_lang

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["ft_match_or"] = _sql_match(["batch", "window", "spark"], 1, 50)
    o["ft_match_and"] = _sql_match(["join", "hash", "filter"], 3, 50)
    o["ft_match_msm60"] = _sql_match(
        ["batch", "window", "spark", "join", "hash"], 3, 50)  # floor(0.6*5)=3
    o["ft_match_phrase"] = _sql_phrase(["table", "value"], 50)
    o["ft_match_phrase3"] = _sql_phrase(["batch", "window", "spark"], 50)
    o["ft_term_exact"] = _sql_match(["spark"], 1, 100)
    # sloppy phrase, 2 terms, slop 1: per anchor of t0, best displacement of
    # t1 from (anchor+1) within ±1; freq += 1/(1+d) (engine/oracle semantics)
    o["ft_phrase_slop1"] = f"""{_PRELUDE},
anchors AS (
  SELECT a.doc_id, a.pos, min(abs(b.pos - (a.pos + 1))) AS d
  FROM tok a JOIN tok b
    ON b.doc_id = a.doc_id AND b.term = 'value'
   AND abs(b.pos - (a.pos + 1)) <= 1
  WHERE a.term = 'table'
  GROUP BY a.doc_id, a.pos
),
pf AS (SELECT doc_id, sum(1.0 / (1.0 + d))::DOUBLE AS freq
       FROM anchors GROUP BY doc_id)
SELECT pf.doc_id,
       ROUND(((SELECT ln(1.0 + (cs.n - df + 0.5) / (df + 0.5))
               FROM tstat, cs WHERE term = 'table')
            + (SELECT ln(1.0 + (cs.n - df + 0.5) / (df + 0.5))
               FROM tstat, cs WHERE term = 'value')) *
             (pf.freq / (pf.freq + 1.2 * (0.25 + 0.75 * dl.dl / cs.avgdl))), 6)
         AS score
FROM pf JOIN dl USING (doc_id) CROSS JOIN cs
WHERE pf.freq > 0
ORDER BY 2 DESC, 1 ASC LIMIT 50"""
    o["ft_match_all"] = """
SELECT doc_id::BIGINT AS doc_id, 1.0::DOUBLE AS score FROM documents
WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
ORDER BY doc_id LIMIT 1"""
    o["ft_wildcard"] = f"""{_PRELUDE}
SELECT DISTINCT doc_id, 1.0::DOUBLE AS score FROM post
WHERE contains(term, 'ind')
ORDER BY doc_id LIMIT 100"""
    o["ft_fuzzy"] = f"""{_PRELUDE},
expq AS (
  SELECT term, df,
         CASE WHEN ed = 0 THEN 1.0
              ELSE 1.0 - ed::DOUBLE / least(length(term), 5)::DOUBLE END AS boost
  FROM (SELECT term, df, levenshtein(term, 'sparc') AS ed FROM tstat
        WHERE length(term) BETWEEN 4 AND 6) s
  WHERE ed <= 1
  ORDER BY boost DESC, term ASC LIMIT 50
)
SELECT p.doc_id,
       ROUND(SUM(e.boost * ln(1.0 + (cs.n - e.df + 0.5) / (e.df + 0.5))
                 * {_TF}), 6) AS score
FROM post p JOIN expq e USING (term) JOIN dl USING (doc_id) CROSS JOIN cs
GROUP BY p.doc_id ORDER BY 2 DESC, 1 ASC LIMIT 50"""
    # r6: multiword fuzzy fallback — per-word AUTO expansions (len band +
    # levenshtein + boost), top-50 per word by (boost DESC, term ASC), msm
    # 60% of 4 words → 2 distinct word-clauses required
    o["ft_fuzzy_multiword"] = f"""{_PRELUDE},
words(widx, word, maxd, wlen) AS (
  VALUES (0, 'sparc', 1, 5), (1, 'windoo', 2, 6),
         (2, 'batchs', 2, 6), (3, 'filtr', 1, 5)
),
exp0 AS (
  SELECT widx, term, df, wlen, levenshtein(term, word) AS ed
  FROM tstat, words
  WHERE length(term) BETWEEN wlen - maxd AND wlen + maxd
    AND levenshtein(term, word) <= maxd
),
scored AS (
  SELECT widx, term, df,
         CASE WHEN ed = 0 THEN 1.0
              ELSE 1.0 - ed::DOUBLE / least(length(term), wlen)::DOUBLE
         END AS boost
  FROM exp0
),
expq AS (
  SELECT widx, term, df, boost FROM (
    SELECT *, row_number() OVER (PARTITION BY widx
                                 ORDER BY boost DESC, term ASC) AS rn
    FROM scored)
  WHERE rn <= 50
)
SELECT p.doc_id,
       ROUND(SUM(e.boost * ln(1.0 + (cs.n - e.df + 0.5) / (e.df + 0.5))
                 * {_TF}), 6) AS score
FROM post p JOIN expq e USING (term) JOIN dl USING (doc_id) CROSS JOIN cs
GROUP BY p.doc_id
HAVING count(DISTINCT e.widx) >= 2
ORDER BY 2 DESC, 1 ASC LIMIT 50"""
    # r6: match on the url field — docs-only (tf ≡ 1) + norms-free
    # (tf_norm = 1/(1+k1)); the url column is synthesized identically to
    # _index_paths' withColumn, tokenized by the url_email idiom.
    # NB (ADVICE r6 #3): this oracle mirrors the engine's split-on-
    # [/\-_.:?#=&] APPROXIMATION of ES's url_path_tokenizer (which is a
    # substitute-don't-resplit pattern_replace filter over [/\-_.] only) —
    # the gate validates implementation self-consistency, not ES
    # tokenization parity. Divergence documented at analyzers.py
    # url_email branch + COVERAGE.md §3.
    o["ft_url_match"] = """
WITH docs AS (
  SELECT doc_id,
         lower('https://' || source || '.example.com/' || lang || '/doc-'
               || doc_id::VARCHAR) AS u
  FROM documents
  WHERE text IS NOT NULL AND regexp_matches(text, '\\S')
),
toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(u, '[-/_.:?#=&]+'),
                             x -> x <> '') AS arr
  FROM docs
),
upost AS (SELECT DISTINCT doc_id, term
          FROM (SELECT doc_id, unnest(arr) AS term FROM toks)),
ucs AS (SELECT count(*)::DOUBLE AS n FROM docs),
w AS (SELECT term, count(*)::DOUBLE AS df FROM upost
      WHERE term IN ('src3', 'de') GROUP BY term)
SELECT p.doc_id,
       ROUND(SUM(ln(1.0 + (ucs.n - w.df + 0.5) / (w.df + 0.5))
                 * (1.0 / (1.0 + 1.2))), 6) AS score
FROM upost p JOIN w USING (term) CROSS JOIN ucs
GROUP BY p.doc_id
ORDER BY 2 DESC, 1 ASC LIMIT 50"""
    # bool OR over 4 single-term words with msm 50% → required 2 clauses ≡
    # match msm with required 2
    o["ft_bool_or_msm50"] = _sql_match(["batch", "window", "spark", "join"], 2, 50)

    o["ft_term_stats"] = f"""{_PRELUDE}
SELECT term, df::BIGINT AS df, cf FROM tstat ORDER BY term"""
    o["ft_doc_stats"] = f"""{_PRELUDE}
SELECT t.doc_id, count(*)::BIGINT AS dl FROM tok t GROUP BY t.doc_id
ORDER BY t.doc_id"""
    o["ft_collection_stats"] = f"""{_PRELUDE}
SELECT (SELECT count(*) FROM dl)::BIGINT AS n_docs,
       (SELECT sum(dl) FROM dl)::BIGINT AS cf_total,
       (SELECT count(*) FROM tstat)::BIGINT AS vocab,
       ROUND((SELECT avgdl FROM cs), 6) AS avgdl"""
    o["ft_top_terms"] = f"""{_PRELUDE}
SELECT term, cf FROM tstat ORDER BY cf DESC, term ASC LIMIT 20"""
    o["ft_hit_count_capped"] = f"""{_PRELUDE}
SELECT least(count(DISTINCT doc_id), 10000)::BIGINT AS total_hits
FROM post WHERE term IN ('batch', 'window')"""
    o["ft_postings_spark"] = f"""{_PRELUDE}
SELECT doc_id, count(*)::BIGINT AS freq, min(pos)::BIGINT AS first_pos,
       max(pos)::BIGINT AS last_pos
FROM tok WHERE term = 'spark' GROUP BY doc_id ORDER BY doc_id"""

    # planted duplicates mirror the Spark-side union in queries() exactly
    o["dx_exact_dups"] = """
WITH aug AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id < 3
)
SELECT sha256(text) AS content_sha256, count(*)::BIGINT AS dup_count,
       min(doc_id)::BIGINT AS keep_id
FROM aug GROUP BY sha256(text) HAVING count(*) > 1
ORDER BY content_sha256"""
    o["dx_ngram_jaccard"] = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                             x -> x <> '') AS arr
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
  FROM toks, UNNEST(generate_series(1, len(arr) - 2)) u(i)
  WHERE len(arr) >= 3
),
n AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*)::BIGINT AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT ia::BIGINT AS id_a, ib::BIGINT AS id_b,
       ROUND(common::DOUBLE / (na.n_sh + nb.n_sh - common)::DOUBLE, 6) AS jaccard
FROM pairs JOIN n na ON na.doc_id = ia JOIN n nb ON nb.doc_id = ib
WHERE common::DOUBLE / (na.n_sh + nb.n_sh - common)::DOUBLE >= 0.05
ORDER BY id_a, id_b"""
    # defaults of minhash_lsh_pairs / simhash_pairs, thresholds as in queries()
    o["dx_minhash_lsh"] = _sql_minhash_lsh(num_hashes=64, bands=16,
                                           shingle_n=3, threshold=0.05,
                                           seed=42)
    o["dx_simhash"] = _sql_simhash(max_hamming=8)
    # lsh_topk / ivf_topk defaults; centroids refit from the sf0.01 parquet
    # the driver compares against (deterministic: ORDER BY vec_id sample)
    _gate_sf = os.environ.get("GATE_SF", "/root/testdata/sf0.01")
    o["sx_ann_lsh"] = _sql_ann_lsh(n_planes=8, n_probes=4, seed=42, dim=64,
                                   k=10)
    try:
        o["sx_ann_ivf"] = _sql_ann_ivf(_gate_sf, n_centroids=8, n_probe=3,
                                       k=10)
        o["sx_ann_pq"] = _sql_ann_pq(_gate_sf, m=8, n_codes=16, k=10)
        o["sx_ann_ivfpq"] = _sql_ann_ivfpq(_gate_sf, n_centroids=8,
                                           n_probe=3, m=8, n_codes=16, k=10)
        # r5: the served path reads probe-set-independent stored codes, so
        # the same re-encoding oracle must reproduce it bit-for-bit
        o["sx_ann_ivfpq_served"] = _sql_ann_ivfpq(_gate_sf, n_centroids=8,
                                                  n_probe=3, m=8,
                                                  n_codes=16, k=10)
        o["sx_ann_ivfpq_res"] = _sql_ann_ivfpq_res(_gate_sf, n_centroids=8,
                                                   n_probe=3, m=8,
                                                   n_codes=16, k=10)
    except Exception:
        # centroid/codebook refit needs driver-side access to the sf0.01
        # parquet; if unavailable, degrade to the rows-only check rather
        # than a hard oracle error
        pass
    o["dx_embed_cosine_lsh"] = _sql_embed_cosine_lsh(n_planes=6, seed=42,
                                                     dim=64, threshold=0.4)
    # r5: min-reachable-id per node via a recursive CTE — terminates
    # because UNION dedups the finite (id, comp) state space
    o["dx_components"] = """
WITH RECURSIVE e AS (
  SELECT doc_id::BIGINT AS a, doc_id::BIGINT + 1 AS b
  FROM documents WHERE doc_id < 40 AND doc_id % 4 != 3
),
sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
reach(id, comp) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.comp FROM sym s JOIN reach r ON r.id = s.b
)
SELECT id, MIN(comp)::BIGINT AS component
FROM reach GROUP BY id ORDER BY id"""
    # r6: end-to-end dedup — minhash pairs + recursive components +
    # anti-join, over documents ∪ the planted multi-hop chain
    o["dx_dedup_corpus"] = _sql_dedup_corpus(num_hashes=64, bands=16,
                                             shingle_n=3, threshold=0.4,
                                             seed=42)
    # r5: md5-derived ppm bucket (the dedup._md5_60bit idiom) — Spark's
    # conv(substr(md5)) == DuckDB's ('0x' || substr(md5))::BIGINT
    o["sp_hash_sample"] = """
WITH h42 AS (
  SELECT doc_id::BIGINT AS doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || chr(31) || '42'), 1, 15))::BIGINT
           % 1000000 AS b
  FROM documents
),
h7 AS (
  SELECT doc_id::BIGINT AS doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR || chr(31) || '7'), 1, 15))::BIGINT
           % 1000000 AS b
  FROM documents
)
SELECT doc_id, 'plain' AS which FROM h42 WHERE b < 300000
UNION ALL
SELECT doc_id, 'strat' AS which FROM h7
WHERE b < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 100000
          ELSE 250000 END
ORDER BY which, doc_id"""
    o["dx_embed_cosine"] = """
WITH aug AS (
  SELECT * FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id < 3
),
e AS (
  SELECT vec_id::BIGINT AS id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM aug
)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND(list_sum(list_transform(generate_series(1, len(a.embedding)),
                 i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
             / (a.nrm * b.nrm), 5) AS cosine
FROM e a JOIN e b ON a.id < b.id
WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      / (a.nrm * b.nrm) >= 0.9
ORDER BY id_a, id_b"""
    o["sx_ann_bruteforce"] = """
WITH q AS (
  SELECT embedding AS qv,
         sqrt(list_sum(list_transform(embedding,
              x -> x::DOUBLE * x::DOUBLE))) AS qn
  FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT e.vec_id::BIGINT AS id,
         list_sum(list_transform(generate_series(1, len(e.embedding)),
             i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding,
                x -> x::DOUBLE * x::DOUBLE))) * q.qn) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT id, ROUND(cosine, 5) AS cosine FROM scored
ORDER BY ROUND(cosine, 5) DESC, id ASC LIMIT 10"""

    o["tx_text_stats"] = r"""
WITH base AS (
  SELECT doc_id::BIGINT AS id, text,
         length(text)::INT AS n_chars,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS toks,
         (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::DOUBLE
           AS n_punct
  FROM documents
),
d AS (
  SELECT id, n_chars, len(toks)::INT AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::INT
           AS n_bpe_tokens,
         CASE WHEN n_chars > 0 THEN n_punct / n_chars::DOUBLE ELSE 0.0 END
           AS punct_ratio,
         CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> list_contains(
               ['the','and','of','to','is','in','that','it','for'], x)))::DOUBLE
           / len(toks)::DOUBLE ELSE 0.0 END AS stop_ratio,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, x -> length(x)::DOUBLE))
           / len(toks)::DOUBLE ELSE 0.0 END AS mean_tok
  FROM base
)
SELECT id, n_chars, n_tokens, n_bpe_tokens,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stop_ratio, 6) AS stopword_ratio,
       ROUND(mean_tok, 6) AS mean_token_len,
       -- UNROUNDED like the Spark side (r5): the sum is bit-identical
       -- across engines (same IEEE ops, left-assoc), but DuckDB ROUND
       -- scales by 10^6 in double first and flips values half-an-ulp
       -- below a decimal half (found by the sf0.1 gate run, doc 1900);
       -- see extras/textstats.py quality_score comment
       least(n_tokens::DOUBLE / 20.0, 1.0) * 0.4
             + (1.0 - least(punct_ratio * 2.0, 1.0)) * 0.3
             + least(mean_tok / 5.0, 1.0) * 0.3 AS quality_score
FROM d ORDER BY id"""
    # mirrors extras/textstats.language_id exactly: marker counts per
    # language, winner = max by (count, tie=-ord(first letter), lang) —
    # expressed as a rank window ordered the same way
    o["tx_lang_id"] = r"""
WITH base AS (
  SELECT doc_id::BIGINT AS id,
         list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
                     x -> x <> '') AS toks
  FROM documents
),
counts AS (
  SELECT id, len(toks)::DOUBLE AS n_tokens, lang, tie,
         len(list_filter(toks, x -> list_contains(markers, x)))::BIGINT AS cnt
  FROM base, (VALUES
    ('de', -100, ['der','die','das','und','ist','nicht','ein','mit','für']),
    ('en', -101, ['the','and','of','to','is','in','that','it','for']),
    ('es', -101, ['el','la','los','que','es','en','por','una','para']),
    ('fr', -102, ['le','la','les','et','est','pas','une','pour','dans'])
  ) AS l(lang, tie, markers)
),
best AS (
  SELECT id, n_tokens, lang, cnt,
         row_number() OVER (PARTITION BY id
                            ORDER BY cnt DESC, tie DESC, lang DESC) AS rn
  FROM counts
)
SELECT id,
       CASE WHEN cnt > 0 THEN lang ELSE 'unknown' END AS lang_guess,
       ROUND(CASE WHEN n_tokens > 0 THEN cnt::DOUBLE / n_tokens
                  ELSE 0.0 END, 6) AS lang_score
FROM best WHERE rn = 1 ORDER BY id"""
    o["tx_fingerprint"] = r"""
SELECT doc_id::BIGINT AS id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents ORDER BY id"""

    o["tx_repetition"] = r"""
WITH base AS (
  SELECT doc_id::BIGINT AS id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x <> '') AS lines,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT id, len(lines)::INT AS n_lines,
         CASE WHEN len(lines) > 0 THEN
           (len(lines) - len(list_distinct(lines)))::DOUBLE
           / len(lines)::DOUBLE ELSE 0.0 END AS dup_line_ratio,
         CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS n_bigrams,
         toks
  FROM base
),
bg AS (
  SELECT id, toks[i] || ' ' || toks[i + 1] AS bigram
  FROM m, UNNEST(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
tc AS (SELECT id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
tp AS (SELECT id, max(c) AS top FROM tc GROUP BY 1)
SELECT m.id, m.n_lines, ROUND(m.dup_line_ratio, 6) AS dup_line_ratio,
       ROUND(CASE WHEN m.n_bigrams > 0 THEN
           COALESCE(tp.top, 0)::DOUBLE / m.n_bigrams::DOUBLE
           ELSE 0.0 END, 6) AS top_bigram_frac,
       (ROUND(m.dup_line_ratio, 6) > 0.3
        OR ROUND(CASE WHEN m.n_bigrams > 0 THEN
             COALESCE(tp.top, 0)::DOUBLE / m.n_bigrams::DOUBLE
             ELSE 0.0 END, 6) > 0.2) AS repetitive
FROM m LEFT JOIN tp ON m.id = tp.id ORDER BY m.id"""

    o["tpch_orders_by_status"] = """
SELECT o_orderstatus, count(*)::BIGINT AS n,
       ROUND(min(o_totalprice), 6) AS min_price,
       ROUND(max(o_totalprice), 6) AS max_price,
       count(DISTINCT o_custkey)::BIGINT AS customers
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
    o["tpch_top_customers"] = """
SELECT c.c_custkey::BIGINT AS c_custkey, c.c_name,
       n.n_orders::BIGINT AS n_orders
FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) n
JOIN customer c ON c.c_custkey = n.o_custkey
ORDER BY n_orders DESC, c_custkey ASC LIMIT 20"""
    o["tpch_pricing_summary"] = """
SELECT l_returnflag, l_linestatus, sum(l_quantity)::BIGINT AS sum_qty,
       count(*)::BIGINT AS n, ROUND(max(l_extendedprice), 6) AS max_price,
       ROUND(min(l_discount), 6) AS min_disc
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""
    o["tpch_region_customers"] = """
SELECT r.r_name, count(*)::BIGINT AS n_customers,
       count(DISTINCT n.n_name)::BIGINT AS n_nations
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY r.r_name"""
    o["agg_events_summary"] = """
SELECT event_type, count(*)::BIGINT AS n,
       ROUND(min(value), 6) AS min_v, ROUND(max(value), 6) AS max_v,
       count(DISTINCT user_id)::BIGINT AS users
FROM events GROUP BY event_type ORDER BY event_type"""
    o["evx_asof_purchase_view"] = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
SELECT p.event_id::BIGINT AS event_id, p.user_id::BIGINT AS user_id,
       ROUND(p.value, 6) AS value, ROUND(v.value, 6) AS view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
ORDER BY event_id"""
    o["evx_purchase_in_click_session"] = """
WITH c AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'click'),
g AS (SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM c),
s AS (SELECT user_id, ts,
             sum(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 1800 SECOND
                      THEN 1 ELSE 0 END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g),
iv AS (SELECT user_id, session_id,
              min(ts) - INTERVAL 1800 SECOND AS s_start,
              max(ts) + INTERVAL 1800 SECOND AS s_end
       FROM s GROUP BY user_id, session_id),
p AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase')
SELECT p.event_id::BIGINT AS event_id, p.user_id::BIGINT AS user_id,
       iv.session_id::BIGINT AS session_id
FROM p JOIN iv ON p.user_id = iv.user_id
              AND p.ts BETWEEN iv.s_start AND iv.s_end
ORDER BY event_id, session_id"""
    o["evx_sessionize"] = """
WITH g AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
s AS (
  SELECT user_id,
         sum(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id::BIGINT AS user_id, max(session_id)::BIGINT AS n_sessions,
       count(*)::BIGINT AS n_events
FROM s GROUP BY user_id ORDER BY user_id"""
    o["agg_docs_by_lang"] = """
SELECT lang, count(*)::BIGINT AS n,
       ROUND(avg(n_chars), 6) AS avg_chars,
       max(n_chars)::BIGINT AS max_chars
FROM documents GROUP BY lang ORDER BY lang"""
    return o
