"""elasticsearch_alps_spark — a PySpark-native full-text indexing + BM25 retrieval engine.

A from-scratch re-implementation of the query/data-processing capabilities of the
reference repo ``Reliable-Information-Lab-HEVS/elasticsearch_alps`` (a thin wrapper
around single-node Elasticsearch 7.17 / Lucene 8.11), re-expressed Spark-first:

- ingest + analysis: DataFrame transforms + vectorized Arrow ``pandas_udf`` analyzers
  (reference: ES analyzer config ``index_config/index_config_1.json``)
- inverted index build: tokenize → (term, doc_id)-sorted postings with
  varint positions, plus a block-max table (one bound per 128-posting block)
  (reference: Lucene index, ``index_options: positions``)
- query engine: the reference's 6 query types (``scripts/search/search.py:141-418``)
  with Lucene-8.11-faithful BM25 (k1=1.2, b=0.75, SmallFloat norms, no (k1+1) factor)
- merge: shuffle-based segment merge keyed by term with explicit hot-term salting
  (reference: hierarchical ES ``_reindex`` merge, ``scripts/merge/``)

No code is copied from the reference; only behavior is reproduced, from public
Elasticsearch/Lucene semantics and the reference's configuration files.
"""

__version__ = "0.1.0"

from elasticsearch_alps_spark.config import (  # noqa: F401
    AnalyzerConfig, ExtraField, IndexConfig, QueryConfig,
)
