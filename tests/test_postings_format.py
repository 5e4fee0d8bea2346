"""Postings codecs and the block-max table: varint round trips, the numpy
block builder against a per-term Python reference, and the pruned route's
scan predicate."""

import re

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from elasticsearch_alps_spark.indexing.blockmax import (
    block_max_frame, doc_predicate,
)
from elasticsearch_alps_spark.indexing.postings import (
    varint_decode, varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    assert varint_decode(varint_encode(values)) == values


def _tf_norm(freq, dl, k1=1.2, b=0.75, avgdl=50.0):
    return freq / (freq + k1 * (1.0 - b + b * dl / avgdl))


@pytest.mark.parametrize("block_size", [16, 128])
@given(entries=st.lists(st.tuples(
    st.integers(min_value=0, max_value=5),        # term index
    st.integers(min_value=0, max_value=10**6),    # doc_id
    st.integers(min_value=1, max_value=500),      # freq
    st.integers(min_value=0, max_value=10**5),    # dl
), min_size=1, max_size=600, unique_by=lambda t: (t[0], t[1])),
    cuts=st.lists(st.integers(min_value=1, max_value=599), max_size=4),
    reverse=st.booleans())
@settings(max_examples=60, deadline=None)
def test_block_max_frame_matches_per_term_reference(block_size, entries,
                                                    cuts, reverse):
    """The numpy block builder over (term, doc_id)-sorted postings, fed the
    way a read split feeds it: cut into batches (a block may end at a
    cut), or as sorted files read back to back in either order. Against a
    per-term Python reference: every posting lies in exactly one block of
    its term, a block holds at most ``block_size`` postings and starts and
    ends on one, and ``max_tf_norm`` is the closed-form maximum over it."""
    entries.sort()
    rows = [(f"term_{t}", d, f, dl) for t, d, f, dl in entries]
    edges = sorted({c for c in cuts if c < len(rows)})
    chunks = [rows[a:z] for a, z in zip([0] + edges, edges + [len(rows)])]
    if reverse:
        # sorted files packed into one split largest-first: the doc IDs of
        # one term can restart, and the builder must cut the run there
        chunks = [sum(chunks[::-1], [])]
    blocks = []
    for chunk in chunks:
        out = block_max_frame(
            np.array([r[0] for r in chunk], dtype=object),
            np.array([r[1] for r in chunk], dtype=np.int64),
            np.array([r[2] for r in chunk], dtype=np.int64),
            np.array([r[3] for r in chunk], dtype=np.int64),
            block_size, 1.2, 0.75, 50.0)
        blocks.extend(zip(out["term"], out["first_doc"].tolist(),
                          out["last_doc"].tolist(),
                          out["max_tf_norm"].tolist()))
    by_term = {}
    for t, d, f, dl in rows:
        by_term.setdefault(t, {})[d] = (f, dl)
    covered = {}
    for t, first, last, mtn in blocks:
        inside = {d: v for d, v in by_term[t].items() if first <= d <= last}
        assert first in inside and last in inside
        assert len(inside) <= block_size
        assert mtn == max(_tf_norm(f, dl) for f, dl in inside.values())
        for d in inside:
            covered[(t, d)] = covered.get((t, d), 0) + 1
    assert covered == {(t, d): 1 for t, d, _, _ in rows}


def _eval_doc_predicate(pred: str, doc: int) -> bool:
    """The predicates doc_predicate writes, evaluated in Python."""
    ranges = [(int(a), int(z)) for a, z in
              re.findall(r"doc_id BETWEEN (\d+) AND (\d+)", pred)]
    ok = any(a <= doc <= z for a, z in ranges)
    m = re.search(r"shiftright\(doc_id, (\d+)\) IN \(([\d,]+)\)", pred)
    if m:
        ok = ok and (doc >> int(m.group(1))) in {
            int(x) for x in m.group(2).split(",")}
    return ok


@given(widths=st.lists(st.integers(min_value=1, max_value=50), min_size=1,
                       max_size=300),
       data=st.data(), max_ranges=st.integers(min_value=1, max_value=4),
       max_buckets=st.integers(min_value=1, max_value=8))
@settings(max_examples=80, deadline=None)
def test_doc_predicate_covers_picked_intervals(widths, data, max_ranges,
                                               max_buckets):
    """Every doc of a picked interval passes the scan predicate, whatever
    the caps (even more picked intervals than buckets allowed), and the
    predicate keeps to at most ``max_ranges`` ranges and ``max_buckets``
    buckets."""
    edges = np.concatenate(([0], np.cumsum(widths))).astype(np.int64)
    n = len(widths)
    picked = np.array(sorted(data.draw(st.sets(
        st.integers(min_value=0, max_value=n - 1), min_size=1))))
    free = np.array(data.draw(st.lists(st.booleans(), min_size=n,
                                       max_size=n)))
    free[picked] = False
    pred = doc_predicate(edges, picked, free, max_ranges, max_buckets)
    assert len(re.findall("BETWEEN", pred)) <= max_ranges
    m = re.search(r"IN \(([\d,]+)\)", pred)
    assert m is None or len(m.group(1).split(",")) <= max_buckets
    for i in picked:
        for doc in range(edges[i], edges[i + 1]):
            assert _eval_doc_predicate(pred, doc)


def test_doc_predicate_more_picked_intervals_than_buckets():
    """Scattered picks outnumbering both caps: the bucket shift coarsens
    until the buckets fit (a per-interval count never would)."""
    edges = np.arange(0, 10_001, 10, dtype=np.int64)
    picked = np.arange(0, 1000, 3)
    pred = doc_predicate(edges, picked, np.zeros(1000, dtype=bool), 4, 16)
    assert len(re.search(r"IN \(([\d,]+)\)", pred).group(1).split(",")) <= 16
    assert all(_eval_doc_predicate(pred, d)
               for i in picked for d in range(edges[i], edges[i + 1]))
