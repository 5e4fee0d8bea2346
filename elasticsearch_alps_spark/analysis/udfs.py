"""Spark-side analysis: one flat Arrow stream over the shared pure-Python
chain.

Every field of a build (main, exact, each ExtraField), whatever its
analyzer, comes out of ONE ``mapInArrow`` pass (:func:`doc_postings_flat`):
tokenization crosses the JVM↔Python boundary once per Arrow batch, and each
document's text is analyzed once per field — no per-row Python UDFs, no
nested struct columns. The query side analyzes with the same functions, so
index and query tokens agree by construction.
"""

from __future__ import annotations

from typing import List, Sequence

from elasticsearch_alps_spark.analysis.analyzers import analyze_positions_multi
from elasticsearch_alps_spark.config import AnalyzerConfig


def _doc_posts(stream):
    """[(term, pos)] → (doc_len, [(term, freq, varint-packed positions)]).
    Aggregating term→positions here, while the tokens are already in
    Python, removes the groupBy(term, doc_id) shuffle from the index build;
    binary positions keep shuffle rows ~3× smaller than int arrays and are
    the one positions format every postings table stores."""
    from elasticsearch_alps_spark.indexing.postings import encode_positions
    d = {}
    for t, p in stream:
        d.setdefault(t, []).append(p)
    return (len(stream), [(t, len(ps), encode_positions(ps))
                          for t, ps in d.items()])


# flat per-(doc, field, term) postings row stream — see doc_postings_flat
FLAT_POSTINGS_SCHEMA = ("doc_id long, fld int, doc_len int, term string, "
                        "freq int, ps binary")


def doc_postings_flat(groups: Sequence[List[AnalyzerConfig]]):
    """mapInArrow batch fn: (doc_id, text_0, …, text_{g-1}) batches → FLAT
    postings rows, one per (doc, field, distinct term), with per-posting
    varint-packed positions.

    ``groups[i]`` is the list of analyzers run over text column ``i``; the
    fields are numbered ``fld`` 0, 1, … in group order, then analyzer order.
    The analyzers of one group share the char filter and tokenizer when
    they agree on them (``analyze_positions_multi``: the main and exact
    fields over the same text). Flat columns are built directly as Arrow
    arrays from flat Python lists (C-speed conversion) and the downstream
    shuffle consumes them with no explode — the nested
    struct<array<struct>> UDF column this replaces cost far more in
    pandas→Arrow object conversion than the analysis itself."""
    import pyarrow as pa

    groups = [list(g) for g in groups]
    first_fld = [sum(len(g) for g in groups[:i]) for i in range(len(groups))]
    arrow_schema = pa.schema([
        ("doc_id", pa.int64()), ("fld", pa.int32()), ("doc_len", pa.int32()),
        ("term", pa.string()), ("freq", pa.int32()), ("ps", pa.binary()),
    ])

    def _flat(batches):
        for batch in batches:
            doc_ids = batch.column(0).to_pylist()
            o_doc, o_fld, o_len = [], [], []
            o_term, o_freq, o_ps = [], [], []
            for gi, cfgs in enumerate(groups):
                texts = batch.column(gi + 1).to_pylist()
                for did, x in zip(doc_ids, texts):
                    streams = analyze_positions_multi(x, cfgs)
                    for fld, stream in enumerate(streams, first_fld[gi]):
                        ln, posts = _doc_posts(stream)
                        for t, f, ps in posts:
                            o_doc.append(did)
                            o_fld.append(fld)
                            o_len.append(ln)
                            o_term.append(t)
                            o_freq.append(f)
                            o_ps.append(ps)
            yield pa.record_batch([
                pa.array(o_doc, pa.int64()), pa.array(o_fld, pa.int32()),
                pa.array(o_len, pa.int32()), pa.array(o_term, pa.string()),
                pa.array(o_freq, pa.int32()), pa.array(o_ps, pa.binary()),
            ], schema=arrow_schema)

    return _flat
