"""Block-max table: per-block BM25 bounds beside the postings, and the
doc-interval bounds a query plans its pruning from.

The reference gets top-k pruning from Lucene's block-max WAND, which keeps
per-128-posting block metadata beside the postings. Here that metadata is a
small parquet table, ``fields/main/blockmax/``, with one row per block:

- ``term``, ``first_doc``, ``last_doc``: a run of up to ``block_size``
  consecutive postings of one term, in doc order;
- ``max_tf_norm``: max over the block of freq/(freq + k1·(1−b+b·dl/avgdl)),
  the same closed form every scorer uses, so w·max_tf_norm bounds any
  block posting's contribution w·tf_norm.

It carries no posting data: scoring still reads the postings table. A block
may end early (at a read-split or Arrow-batch edge); it is still a
doc-contiguous run of one term, so its bound stays valid.

Query side (:func:`interval_bounds`, :func:`doc_predicate`): the union of
the query terms' block boundaries splits the doc space into intervals; an
interval's bound is Σ over clauses of w · max_tf_norm of the term's block
covering it. A doc in an interval whose bound is below the k-th best exact
score found so far cannot reach the top k, so its postings are never scored.
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

import numpy as np

BLOCKMAX_SCHEMA = ("term string, first_doc long, last_doc long, "
                   "max_tf_norm double")


def block_max_frame(terms: np.ndarray, doc_ids: np.ndarray,
                    freqs: np.ndarray, dls: np.ndarray, block_size: int,
                    k1: float, b: float, avgdl: float) -> dict:
    """Block rows of a (term, doc_id)-sorted slice of postings, as a dict of
    column arrays in BLOCKMAX_SCHEMA order. A run starts wherever the term
    changes or the doc ID does not increase (two sorted files read back to
    back), and each run is cut every ``block_size`` postings; one segmented
    max gives each block's bound."""
    n = len(doc_ids)
    if n == 0:
        return {"term": np.empty(0, dtype=object),
                "first_doc": np.empty(0, dtype=np.int64),
                "last_doc": np.empty(0, dtype=np.int64),
                "max_tf_norm": np.empty(0, dtype=np.float64)}
    doc = np.asarray(doc_ids, dtype=np.int64)
    frq = np.asarray(freqs, dtype=np.int64)
    dl = np.asarray(dls, dtype=np.int64)
    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    new_run[1:] = (terms[1:] != terms[:-1]) | (doc[1:] <= doc[:-1])
    run_start = np.flatnonzero(new_run)
    offset = np.arange(n) - run_start[np.cumsum(new_run) - 1]
    blk_start = np.flatnonzero(offset % block_size == 0)
    blk_end = np.append(blk_start[1:], n)
    # the scorers' arithmetic, operation for operation (engine._tf_norm_col)
    tfn = frq / (frq + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
    return {"term": terms[blk_start],
            "first_doc": doc[blk_start],
            "last_doc": doc[blk_end - 1],
            "max_tf_norm": np.maximum.reduceat(tfn, blk_start)}


Blocks = Tuple[np.ndarray, np.ndarray, np.ndarray]  # first, last, max_tf_norm


def interval_bounds(blocks: Dict[str, Blocks], dfs: Dict[str, int],
                    clauses: Sequence[Tuple[int, str, float]],
                    required: int
                    ) -> Tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Split the doc space at every block boundary of the query terms.

    ``blocks`` maps each term to its blocks sorted by ``first_doc``;
    ``clauses`` are (clause_id, term, weight) in fold order. Returns
    ``(edges, bound, ncover, est)``: interval ``i`` is the doc range
    ``[edges[i], edges[i+1])``; ``bound[i]`` is Σ w·max_tf_norm over the
    (clause, term) pairs whose block covers it, summed in fold order;
    ``ncover[i]`` counts the clauses with a covering block (a doc matching
    ``required`` clauses lies in an interval with ``ncover ≥ required``);
    ``est[i]`` estimates its matching docs from the blocks' densities
    (df spread evenly over a term's blocks) — a planning hint only."""
    live = {t: blk for t, blk in blocks.items() if len(blk[0])}
    if not live:
        e = np.empty(0, dtype=np.int64)
        return e, np.empty(0), e, np.empty(0)
    edges = np.unique(np.concatenate(
        [np.concatenate((f, l + 1)) for f, l, _ in live.values()]))
    lo, width = edges[:-1], np.diff(edges)
    at: Dict[str, Tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for t, (f, l, m) in live.items():
        i = np.searchsorted(f, lo, side="right") - 1
        ic = np.maximum(i, 0)
        cov = (i >= 0) & (l[ic] >= lo)
        density = np.minimum(1.0, dfs.get(t, 0) / len(f) / (l - f + 1))
        at[t] = (np.where(cov, m[ic], 0.0), cov,
                 np.where(cov, width * density[ic], 0.0))
    bound = np.zeros(len(lo))
    cover: Dict[int, np.ndarray] = {}
    cest: Dict[int, np.ndarray] = {}
    for cid, t, w in clauses:
        if t not in at:
            continue
        m, cov, est = at[t]
        # a negative weight only lowers a score: bound it by 0
        bound = bound + max(float(w), 0.0) * m
        cover[cid] = cover.get(cid, False) | cov
        cest[cid] = cest.get(cid, 0.0) + est
    ncover = np.sum(list(cover.values()), axis=0).astype(np.int64)
    per_clause = np.sort(np.vstack(list(cest.values())), axis=0)
    # docs matching ≥ required clauses: the required-th largest clause
    # estimate (the sum of them all when any one clause suffices)
    est = (per_clause.sum(axis=0) if required <= 1
           else per_clause[-min(required, len(per_clause))])
    return edges, bound, ncover, est


def doc_predicate(edges: np.ndarray, picked: np.ndarray, free: np.ndarray,
                  max_ranges: int, max_buckets: int) -> str:
    """A SQL predicate on ``doc_id`` that holds for every doc of the picked
    intervals (and maybe some others, which then score exactly too).

    Its first part is an OR of at most ``max_ranges`` inclusive ranges,
    which parquet can push down. Two picked intervals share a range when
    only ``free`` intervals (a boolean mask: no posting to read) lie
    between them; past ``max_ranges``, the smallest doc gaps close. When
    gaps had to close, a second part keeps the rows scored near the
    picked intervals: a membership test of ``doc_id >> s`` in the buckets
    the intervals touch, at the finest ``s`` giving at most
    ``max_buckets`` buckets."""
    idx = np.sort(picked)
    lo, hi = edges[idx], edges[idx + 1] - 1
    costly = np.concatenate(([0], np.cumsum(~free)))
    brk = np.flatnonzero(costly[idx[1:]] - costly[idx[:-1] + 1] > 0)
    buckets = ""
    if len(brk) >= max_ranges:
        def n_buckets(s: int) -> int:
            # the intervals are disjoint and sorted, so two neighbours share
            # at most the one bucket where the first ends
            a, z = lo >> s, hi >> s
            return int(np.sum(z - a + 1) - np.sum(a[1:] == z[:-1]))

        shift = 0
        while n_buckets(shift) > max_buckets:
            shift += 1
        ids = np.unique(np.concatenate(
            [np.arange(a, z + 1) for a, z in zip(lo >> shift, hi >> shift)]))
        buckets = (f" AND shiftright(doc_id, {shift}) IN "
                   f"({','.join(map(str, ids.tolist()))})")
        gaps = lo[brk + 1] - hi[brk]
        brk = np.sort(brk[np.argsort(-gaps, kind="stable")[:max_ranges - 1]])
    starts = np.concatenate(([0], brk + 1))
    ends = np.append(brk, len(idx) - 1)
    ranges = " OR ".join(f"doc_id BETWEEN {a} AND {z}" for a, z in
                         zip(lo[starts].tolist(), hi[ends].tolist()))
    return f"({ranges}){buckets}"
