"""Query path over the compressed index: exact top-k via block-max WAND —
the *search* verb (SURVEY.md §3.3).

Reference semantics: per-shard local top-k then global merge
(retriever.md:178-225 ANY/ALL polling); exactly `limit` results
(tests/test_search.py:41-44); descending order (tests/test_ranker.py:34-35).

Three physical strategies, identical results:

- ``IndexReader.search(text, k)`` — interactive low-latency path: the query
  is tokenized on the driver (vendored tokenizer), term shards are computed
  driver-side with the Spark-identical pure-Python xxhash64, and ONE Spark
  job scans the pruned block set; WAND runs on the driver over the collected
  blocks. Latency = one filtered parquet scan.

- ``search_topk(..., mode="wand")`` — batch of queries, one task per query
  inside applyInPandas. In-task scorer mirrors the reader's crossover:
  vectorized TAAT while decoded lists fit the memory bound (measured
  20-30× faster at tens of millions of postings), document-at-a-time WAND
  with a bounded min-heap beyond it. WAND blocks decode lazily; advancing
  skips whole blocks via last_doc; pruning uses admissible upper bounds
  (idf · max block max_w) inflated by 1+1e-9 so float rounding of the UB
  sum can never prune a true top-k doc → both scorers EXACT.

- ``search_topk(..., mode="exploded")`` — decode all candidate blocks via
  mapInPandas into (term, doc_id, idf·w) rows, ordered-fold sum, window
  top-k. Shuffle-heavy but fully distributed; the high-QPS batch path.

Block rows carry their term's idf (denormalized at build), so no dictionary
lookup happens at query time; corpus stats ride in _meta.json.

Determinism: scores bit-identical to oracle.BM25Oracle — per-doc partials
idf·w summed in ascending-term order; tie-break (score DESC, doc_id ASC).
"""

from __future__ import annotations

import heapq
import time
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.codec import (
    decode_posting_blocks_batch,
    impact_weights,
    vbyte_decode,
)
from ..functions.hashing import term_shard
from ..sources.tables import IndexStorage
from ..textnorm import tokenize_words
from .bm25 import query_terms

TOPK_SCHEMA = "query_id int, rank int, doc_id long, score double"
_UB_SAFETY = 1.0 + 1e-9


# ---------------------------------------------------------------------------
# WAND core (shared by driver path and applyInPandas path)
# ---------------------------------------------------------------------------


class _Cursor:
    __slots__ = (
        "term", "idf", "ub", "blocks", "bi", "pos", "doc_ids", "ws", "_bm25",
    )

    def __init__(self, term: str, idf: float, blocks: Sequence, bm25: tuple):
        # blocks: rows with .n/.first_doc/.last_doc/.max_w/.docs/.tfs/.dls,
        # sorted by first_doc; bm25 = (avgdl, k1, b) for w recomputation
        self.term = term
        self.idf = idf
        self.blocks = blocks
        self._bm25 = bm25
        self.ub = idf * max(b.max_w for b in blocks)
        self.bi = 0
        self._load_block()

    def _load_block(self):
        row = self.blocks[self.bi]
        self.doc_ids = np.cumsum(vbyte_decode(row.docs, row.n))
        avgdl, k1, b = self._bm25
        self.ws = impact_weights(
            vbyte_decode(row.tfs, row.n), vbyte_decode(row.dls, row.n),
            avgdl, k1, b,
        )
        self.pos = 0

    @property
    def doc(self) -> int:
        return int(self.doc_ids[self.pos])

    @property
    def exhausted(self) -> bool:
        return self.bi >= len(self.blocks)

    def partial(self) -> float:
        return self.idf * float(self.ws[self.pos])

    def advance(self) -> bool:
        self.pos += 1
        if self.pos >= len(self.doc_ids):
            self.bi += 1
            if self.exhausted:
                return False
            self._load_block()
        return True

    def seek(self, target: int) -> bool:
        """advance to first doc >= target, skipping blocks via last_doc
        metadata (no decode of skipped blocks)."""
        skipped = False
        while self.blocks[self.bi].last_doc < target:
            self.bi += 1
            skipped = True
            if self.exhausted:
                return False
        if skipped:
            self._load_block()
        idx = int(np.searchsorted(self.doc_ids, target, side="left"))
        self.pos = idx  # last_doc >= target ⇒ idx < n
        return True


def _mask_deleted(docs: np.ndarray, w: np.ndarray, deleted):
    """Drop tombstoned doc_ids from a decoded (docs, weights) pair —
    the postings-side merge-on-read filter (delete_docs). `deleted` is a
    sorted int64 ndarray or None; None/empty is the common zero-cost case.
    Must run BEFORE any top-k threshold is derived (a deleted doc setting
    the kth score would prune live docs)."""
    if deleted is None or len(deleted) == 0 or len(docs) == 0:
        return docs, w
    m = ~np.isin(docs, deleted)
    return docs[m], w[m]


def wand_topk(
    cursors: list[_Cursor], k: int, deleted=None
) -> list[tuple[int, int, float]]:
    """exact top-k [(rank, doc_id, score)] over posting cursors —
    Block-Max WAND (Ding & Suel, SIGIR 2011 — public algorithm):

    1. pivot by term-level UBs (idf · max over blocks);
    2. before scoring a pivot, re-check with the CURRENT BLOCKS' max_w — if
       even those can't reach θ, jump past min(block boundary, next cursor)
       without decoding (the shallow advance that makes Zipf-head single-
       and two-term queries skip most of their posting lists);
    3. bounds are inflated by 1+1e-9 so float rounding can never prune a
       true top-k doc → EXACT.

    ``deleted``: optional set of tombstoned doc_ids (delete_docs) — a
    deleted pivot is advanced past without scoring, so it can neither
    appear in results nor raise θ and shadow a live doc."""
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
    alive = [c for c in cursors if not c.exhausted]
    while alive:
        alive.sort(key=lambda c: c.doc)
        theta = heap[0][0] if len(heap) >= k else None
        acc = 0.0
        pivot = None
        for i, c in enumerate(alive):
            acc += c.ub
            if theta is None or acc * _UB_SAFETY >= theta:
                pivot = i
                break
        if pivot is None:
            break
        pivot_doc = alive[pivot].doc
        candidates = alive[: pivot + 1]
        if theta is not None:
            # block-max refinement over the candidates' CURRENT blocks
            block_ub = 0.0
            for c in candidates:
                block_ub += c.idf * c.blocks[c.bi].max_w
            if block_ub * _UB_SAFETY < theta:
                # nothing in [pivot_doc, d_next) can reach θ: the only
                # cursors covering that range are the candidates' current
                # blocks (cursor pivot+1 starts at its current doc)
                d_boundary = min(c.blocks[c.bi].last_doc for c in candidates)
                d_next = d_boundary + 1
                if pivot + 1 < len(alive):
                    d_next = min(d_next, alive[pivot + 1].doc)
                d_next = max(d_next, pivot_doc + 1)
                for c in candidates:
                    if not c.exhausted and c.doc < d_next:
                        c.seek(d_next)
                alive = [c for c in alive if not c.exhausted]
                continue
        if alive[0].doc == pivot_doc:
            if deleted is not None and pivot_doc in deleted:
                # tombstoned: advance past without scoring (and without
                # letting it into the heap where it would raise θ)
                for c in alive:
                    if not c.exhausted and c.doc == pivot_doc:
                        c.advance()
                alive = [c for c in alive if not c.exhausted]
                continue
            parts = []
            for c in alive:
                if c.doc != pivot_doc:
                    break
                parts.append((c.term, c.partial()))
            parts.sort(key=lambda p: p[0])  # ascending-term float64 fold
            score = 0.0
            for _, p in parts:
                score += p
            entry = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            for c in alive:
                if not c.exhausted and c.doc == pivot_doc:
                    c.advance()
            alive = [c for c in alive if not c.exhausted]
        else:
            alive[0].seek(pivot_doc)
            alive = [c for c in alive if not c.exhausted]
    ordered = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(r, -d, s) for r, (s, d) in enumerate(ordered, 1)]


_DECODE_CHUNK_BLOCKS = 4096


def _decode_block_group(blks, bm25: tuple):
    """Batch-decode a list of block rows of ONE term → (docs, w).

    Large groups decode in bounded chunks: vbyte_decode's general path
    allocates several #bytes-sized temporaries, and a Zipf-head term's
    single-shot decode (millions of postings) was measured ~4× slower than
    the same blocks in 4096-block chunks (memory traffic, not ALU). Outputs
    are identical — blocks decode independently."""
    if len(blks) <= _DECODE_CHUNK_BLOCKS:
        return _decode_block_group_raw(blks, bm25)
    doc_parts = []
    w_parts = []
    for i in range(0, len(blks), _DECODE_CHUNK_BLOCKS):
        d, w = _decode_block_group_raw(blks[i : i + _DECODE_CHUNK_BLOCKS], bm25)
        doc_parts.append(d)
        w_parts.append(w)
    return np.concatenate(doc_parts), np.concatenate(w_parts)


def _decode_block_group_raw(blks, bm25: tuple):
    avgdl, k1, b = bm25
    ns = np.array([r.n for r in blks], dtype=np.int64)
    docs, tfs, dls = decode_posting_blocks_batch(
        [r.docs for r in blks], [r.tfs for r in blks], [r.dls for r in blks], ns
    )
    return docs, impact_weights(tfs, dls, avgdl, k1, b)


def taat_topk(
    rows,
    k: int,
    bm25: tuple,
    n_docs: int | None = None,
    chunk_blocks: int = 4096,
    deleted=None,
) -> list[tuple[int, int, float]]:
    """Vectorized exact term-at-a-time scorer.

    Single-term queries take a BLOCK-MAX EARLY-STOP path: blocks sort by
    max_w DESC and decode in chunks; with one term, a decoded doc's partial
    IS its exact score, so once k docs beat idf·(best undecoded max_w)
    (inflated by the 1+1e-9 WAND safety so boundary ties keep decoding), the
    Zipf-head tail never decodes — exact, and the common worst-latency case
    ("the"-style head-term queries) skips most of its list.

    Multi-term queries above ``MULTI_TAAT_EARLY_MIN_POSTINGS`` (dense-id
    indexes only) take the two-phase block-max early-stop path
    (_taat_multi_term): decode block-chunks ACROSS terms in descending
    idf·block-max order, stop exactly when the Σ of the terms' remaining
    block maxima can no longer lift any doc outside the candidate set into
    the top-k, then re-score only the candidates with the oracle's
    ascending-term float64 fold — exact, same guarantee the single-term
    stop gives, vectorized, no per-posting Python. Below the threshold a
    full vectorized decode is faster than the stop's bookkeeping (a
    sum-of-remaining-UBs stop with no candidate phase was measured
    NET-SLOWER at 6.4M docs — this version stops the moment the bound
    fires and hands the tail to a candidate-driven decode instead of
    waiting for the bound to close the whole gap). Accumulation of
    RETURNED scores is always ascending-term (the oracle's float64
    association); top-k via lexsort with the (score DESC, doc ASC)
    tie-break.
    """
    by_term: dict[str, list] = {}
    for row in rows:
        by_term.setdefault(row.term, []).append(row)
    if not by_term:
        return []
    terms = sorted(by_term)

    if len(terms) == 1:
        return _taat_single_term(
            by_term[terms[0]], k, bm25, chunk_blocks, deleted=deleted
        )

    total = sum(r.n for r in rows)
    if n_docs is not None and total > MULTI_TAAT_EARLY_MIN_POSTINGS:
        return _taat_multi_term(
            by_term, k, bm25, n_docs, chunk_blocks, deleted=deleted
        )

    decoded = []
    for term in terms:
        # batch-decode the whole term's blocks in one vectorized pass
        # (sub-salt lists decode together: carry resets at every block)
        blks = by_term[term]
        docs, w = _decode_block_group(blks, bm25)
        decoded.append((term, docs, blks[0].idf * w))
    return taat_topk_decoded(decoded, k, n_docs=n_docs, deleted=deleted)


def taat_topk_decoded(
    decoded: list, k: int, n_docs: int | None = None, deleted=None
) -> list[tuple[int, int, float]]:
    """Exact top-k from pre-decoded per-term postings: `decoded` is
    [(term, docs, idf·w)] in ASCENDING-TERM order (the oracle's float64
    association). Split out so IndexReader can memoize decoded terms across
    queries (head terms repeat; decode dominates warm latency).

    ``deleted`` (sorted int64 ndarray): tombstoned doc_ids masked out of
    each term's postings BEFORE accumulation — the memoized decoded lists
    stay unfiltered (delete-independent), the mask applies at use."""
    if not decoded:
        return []
    if deleted is not None and len(deleted):
        decoded = [
            (t,) + _mask_deleted(d, w, deleted) for t, d, w in decoded
        ]
        decoded = [(t, d, w) for t, d, w in decoded if len(d)]
        if not decoded:
            return []
    if n_docs is not None:
        # dense-id mode: doc_id IS the array index — no unique/searchsorted.
        # BM25 partials are strictly > 0, so score 0 ⇔ no query term matched
        # (non-candidates stay out of the top-k, reference invariant
        # tests/test_search.py:41-44). Sized by max(n_docs, max decoded id)
        # so an index whose stats undercount can never IndexError.
        max_seen = max(int(d.max()) for _t, d, _w in decoded)
        dense = np.zeros(max(n_docs, max_seen) + 1, dtype=np.float64)
        for _term, docs, partials in decoded:  # ascending-term accumulation
            dense[docs] += partials
        universe = np.flatnonzero(dense > 0.0)
        scores = dense[universe]
    else:
        universe = np.unique(np.concatenate([d for _t, d, _w in decoded]))
        scores = np.zeros(len(universe), dtype=np.float64)
        for _term, docs, partials in decoded:  # ascending-term accumulation
            scores[np.searchsorted(universe, docs)] += partials
    return _topk_from_arrays(universe, scores, k)


def _taat_single_term(blks, k: int, bm25: tuple, chunk_blocks: int, deleted=None):
    """Single-term exact top-k with block-max early stop (see taat_topk).

    Tombstoned docs are masked PER CHUNK, before the kth-score threshold is
    taken — a deleted doc holding the kth slot would inflate θ and stop the
    decode while live docs that belong in the page are still undecoded."""
    blks = sorted(blks, key=lambda r: -r.max_w)
    idf = float(blks[0].idf)
    doc_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    n_seen = 0
    kth = None
    i = 0
    while i < len(blks):
        chunk = blks[i : i + chunk_blocks]
        i += len(chunk)
        docs, w = _decode_block_group(chunk, bm25)
        docs, w = _mask_deleted(docs, w, deleted)
        doc_parts.append(docs)
        score_parts.append(idf * w)
        n_seen += len(docs)
        if i >= len(blks):
            break
        if n_seen >= k:
            scores = np.concatenate(score_parts) if len(score_parts) > 1 else score_parts[0]
            kth = -np.partition(-scores, k - 1)[k - 1] if len(scores) >= k else None
            if kth is not None and idf * blks[i].max_w * _UB_SAFETY < kth:
                break  # no undecoded doc can reach (or tie) the kth score
    universe = np.concatenate(doc_parts)
    scores = np.concatenate(score_parts)
    return _topk_from_arrays(universe, scores, k)


# engage the multi-term early stop only past this candidate volume: below
# it a full vectorized decode finishes in ~tens of ms and the stop's
# bookkeeping (global impact sort + per-chunk threshold checks) is net loss
MULTI_TAAT_EARLY_MIN_POSTINGS = 2_000_000
# phase-1 candidate-pool cap (docs with the largest first-chunk partials;
# their accumulated scores provide the kth-score lower bound θ̃ — a pool
# miss only DELAYS the stop, so small-and-strong beats big-and-slow: the
# per-chunk θ̃ check gathers dense[pool])
_TAAT_POOL_MAX = 65_536
# stop only once the candidate set is small enough that the finalization
# decode stays cheap; keep decoding (rem shrinks, the set shrinks) otherwise
_TAAT_CAND_MAX = 65_536
# failed candidate scans before giving up on the early stop for this query
_TAAT_MAX_CAND_SCANS = 3


def _taat_multi_term(
    by_term: dict[str, list], k: int, bm25: tuple, n_docs: int,
    chunk_blocks: int, deleted=None,
):
    """Multi-term exact top-k with a block-max early stop (dense ids).

    Phase 1 — bound: decode block-chunks across ALL query terms in
    descending idf·block-max impact order into a dense accumulator.
    rem = Σ_t idf_t · (max_w of t's best undecoded block) bounds how much
    ANY document's score can still grow (each doc has ≤1 posting per term).
    θ̃ = kth-best accumulated score over a pool of docs seen in the highest-
    impact chunks (a lower bound of the true kth score, since partials only
    grow and the pool is a subset). Once rem < θ̃ no document outside
    C = {d : acc[d] + rem ≥ θ̃} can reach the final top-k — with the same
    1+1e-9 float inflation the WAND bounds use, applied on both sides.

    Phase 2 — finalize: the final top-k ⊆ C, but phase-1 partial sums are
    neither complete nor in the oracle's fold order, so C is re-scored
    EXACTLY: per term (ascending), decode only the blocks whose
    [first_doc, last_doc] span intersects C (vectorized searchsorted over
    the block metadata — the impact-ordered tail almost never overlaps a
    k-sized candidate set), mask to C, accumulate ascending-term. Scores
    are bit-identical to the full-decode fold. If the bound never closes a
    small candidate set, the fully-decoded bound accumulator still locates
    the top-k region (rem = 0, same addends as the exact fold to within
    addition order, margins keep boundary ties) and phase 2 re-scores just
    that region — the worst case pays one scatter plus bookkeeping, never
    a second full accumulation.

    Tombstoned docs are masked per decoded chunk BEFORE θ̃ is taken (a
    deleted doc inflating θ̃ could stop the decode while live docs that
    belong in the page are undecoded — same invariant as the single-term
    stop)."""
    terms = sorted(by_term)
    entries = []  # (term, idf, blocks sorted by max_w desc) — ascending term
    for t in terms:
        blks = sorted(by_term[t], key=lambda r: -r.max_w)
        entries.append((t, float(blks[0].idf), blks))
    # global impact-desc decode order, consistent with each term's own order
    flat_blocks: list = []
    flat_ti: list[int] = []
    imps: list[float] = []
    for ti, (_t, idf, blks) in enumerate(entries):
        for b in blks:
            flat_blocks.append(b)
            flat_ti.append(ti)
            imps.append(idf * b.max_w)
    order = np.argsort(-np.asarray(imps, dtype=np.float64), kind="stable")

    max_last = max(b.last_doc for b in flat_blocks)
    dense_size = max(n_docs, int(max_last)) + 1
    ptr = [0] * len(entries)  # per-term decoded-block count (own desc order)
    # BOUND accumulator: impact-order partial sums — same addends as the
    # exact fold, so its values differ from exact scores only in addition
    # order (last-ulp); used ONLY for the θ̃/candidate bounds, with the
    # 1+1e-9 margins absorbing that noise. Phase 2 re-scores candidates in
    # the oracle's ascending-term order, so returned scores are exact. One
    # full scatter total (incremental), and decoded chunks are NOT retained
    # — peak memory is the accumulator, not 16 B/posting of pieces.
    dense = np.zeros(dense_size, dtype=np.float64)
    # θ̃ pool: docs of the FIRST (highest-impact) chunk, frozen — the true
    # top-k almost always carries a high-impact posting, and a weaker pool
    # only DELAYS the stop (θ̃ = kth of a subset ≤ kth overall), never
    # breaks it
    pool: np.ndarray | None = None
    cand = None
    stopped = False
    next_check_rem = float("inf")
    cand_scans = 0
    i = 0
    while i < len(order):
        chunk_idx = order[i : i + chunk_blocks]
        i += len(chunk_idx)
        by_ti: dict[int, list] = {}
        for j in chunk_idx:
            by_ti.setdefault(flat_ti[j], []).append(flat_blocks[j])
        chunk_docs = [] if pool is None else None
        chunk_pws = [] if pool is None else None
        for ti, blks in sorted(by_ti.items()):
            docs, w = _decode_block_group(blks, bm25)
            docs, w = _mask_deleted(docs, w, deleted)
            pw = entries[ti][1] * w
            dense[docs] += pw
            ptr[ti] += len(blks)
            if chunk_docs is not None:
                chunk_docs.append(docs)
                chunk_pws.append(pw)
        if pool is None:
            if chunk_docs:
                cd = np.concatenate(chunk_docs)
                cw = np.concatenate(chunk_pws)
                if len(cd) > _TAAT_POOL_MAX:
                    top = np.argpartition(-cw, _TAAT_POOL_MAX - 1)[
                        :_TAAT_POOL_MAX
                    ]
                    cd = cd[top]
                pool = np.unique(cd)
            else:
                pool = np.empty(0, dtype=np.int64)
        if i >= len(order):
            break
        rem = 0.0
        for ti, (_t, idf, blks) in enumerate(entries):
            if ptr[ti] < len(blks):
                rem += idf * blks[ptr[ti]].max_w
        if len(pool) >= k and cand_scans < _TAAT_MAX_CAND_SCANS:
            pool_scores = dense[pool]
            theta = -np.partition(-pool_scores, k - 1)[k - 1]
            if (
                theta > 0.0
                and rem * _UB_SAFETY < theta
                and rem <= next_check_rem
            ):
                cand = np.flatnonzero(
                    dense >= theta / _UB_SAFETY - rem * _UB_SAFETY
                )
                if len(cand) <= _TAAT_CAND_MAX:
                    stopped = True
                    break
                # candidate set still too broad: decode on, pay the next
                # full-array scan only once the bound has tightened, and
                # give up on early stopping after a few failed scans (flat
                # impact distributions never close the set — the end-of-
                # decode candidate finalize is then the cheap path)
                cand_scans += 1
                next_check_rem = rem * 0.5

    if not stopped:
        # everything decoded (the bound never closed a small candidate
        # set): finalize CANDIDATE-DRIVEN anyway — with rem = 0 the kth
        # largest bound value locates the top-k region to within float
        # noise, the margins keep every possible member and tie in, and
        # phase 2 re-scores that small set exactly. No second scatter.
        if not dense.any():
            return []
        kth = (
            -np.partition(-dense, k - 1)[k - 1]
            if dense_size > k
            else 0.0
        )
        if kth <= 0.0:
            # fewer than k scored docs — the candidate set IS the universe
            cand = np.flatnonzero(dense > 0.0)
        else:
            cand = np.flatnonzero(dense >= kth / _UB_SAFETY)

    if deleted is not None and len(deleted):
        # a phase-1 threshold ≤ 0 admits accumulator-0 docs, tombstones
        # among them, and the phase-2 fold below does not mask
        cand = np.setdiff1d(cand, deleted, assume_unique=True)

    # phase 2: exact ascending-term fold over the candidate set only
    scores = np.zeros(len(cand), dtype=np.float64)
    for _t, idf, blks in entries:
        firsts = np.array([b.first_doc for b in blks], dtype=np.int64)
        lasts = np.array([b.last_doc for b in blks], dtype=np.int64)
        lo = np.searchsorted(cand, firsts, side="left")
        hi = np.searchsorted(cand, lasts, side="right")
        sel = np.flatnonzero(hi > lo)
        if not len(sel):
            continue
        docs, w = _decode_block_group([blks[j] for j in sel], bm25)
        idxs = np.searchsorted(cand, docs)
        np.clip(idxs, 0, len(cand) - 1, out=idxs)
        m = cand[idxs] == docs
        scores[idxs[m]] += idf * w[m]
    live = scores > 0.0
    return _topk_from_arrays(cand[live], scores[live], k)


def _topk_from_arrays(universe: np.ndarray, scores: np.ndarray, k: int):
    """(score DESC, doc ASC) top-k over parallel arrays; boundary ties kept
    through the kth-score threshold so the doc_id tie-break stays exact."""
    if len(universe) == 0:
        return []
    if len(universe) <= k:
        order = np.lexsort((universe, -scores))
    else:
        kth_score = -np.partition(-scores, k - 1)[k - 1]
        cand = np.flatnonzero(scores >= kth_score)
        order = cand[np.lexsort((universe[cand], -scores[cand]))]
    out = []
    for i in order[:k]:
        out.append((len(out) + 1, int(universe[i]), float(scores[i])))
    return out


def _cursors_from_rows(rows, bm25: tuple) -> list[_Cursor]:
    by_key: dict[tuple, list] = {}
    for row in rows:
        by_key.setdefault((row.term, row.salt), []).append(row)
    cursors = []
    for (term, _salt), blks in by_key.items():
        blks.sort(key=lambda r: r.first_doc)
        cursors.append(_Cursor(term, float(blks[0].idf), blks, bm25))
    return cursors


# ---------------------------------------------------------------------------
# interactive driver path (single Spark job per query)
# ---------------------------------------------------------------------------


class IndexReader:
    """Warm handle on an index for low-latency interactive search.

    Default engine is a direct pyarrow dataset read — shard-dir partition
    pruning + term row-group skipping in C++, zero Spark jobs per query
    (the reference serves interactive search from a resident AnnLite index
    the same way, retriever.md:117-136). Works wherever the driver can read
    the index store (local disk here; object store on a cluster). Pass
    ``engine="spark"`` to route the scan through Spark instead. Decoded
    term cursors are memoized across queries (head terms repeat), and the
    memo survives a delete-only refresh(): tombstones are masked at use,
    so live deletes never cost a re-fetch or re-decode.

    strategy='auto' crossover: vectorized TAAT (numpy, whole lists decoded)
    up to ``taat_max_postings``; the per-posting-loop Python WAND only
    beyond it. The bound is a MEMORY bound, not a latency bound — decoded
    lists cost ~16 B/posting (default 250M ⇒ ≤4 GB peak), and measured at a
    12.8M-doc index the heaviest fixture query (36.7M postings) runs in
    ~14 s under TAAT vs minutes under driver-side Python WAND (the 30-query
    loop: 129 s TAAT-forced vs >35 min under the old 20M crossover).
    Posting volumes past the bound belong on the distributed search_topk
    paths — the same boundary a deployment draws between a resident shard
    reader and the cluster."""

    def __init__(
        self,
        spark: SparkSession | None,
        index_dir: str,
        engine: str = "pyarrow",
        strategy: str = "auto",
        taat_max_postings: int = 250_000_000,
        raw_cache_bytes: int | None = None,
        decoded_cache_bytes: int | None = None,
    ):
        self.spark = spark
        self.store = IndexStorage(index_dir)
        self.engine = engine
        self.strategy = strategy
        self.taat_max_postings = taat_max_postings
        # cache budgets: class defaults suit a few-million-doc shard; SIZE TO
        # THE CORPUS for bigger shards — one Zipf-head term decodes to
        # ~16 B/posting (205 MB at df=12.8M), and a budget smaller than the
        # query stream's head-term working set turns every query into a
        # re-fetch + re-decode of its largest lists (measured: the 12.8M-doc
        # latency loop ran ~10× slower under a 256 MB budget than sized-up)
        if raw_cache_bytes is not None:
            self.RAW_CACHE_MAX_BYTES = raw_cache_bytes
        if decoded_cache_bytes is not None:
            self.DECODED_CACHE_MAX_BYTES = decoded_cache_bytes
        self.query_log: list[dict] = []
        # both caches are BYTE-budgeted, not entry-counted: Zipf-head terms
        # are exactly the entries that repeat AND are the largest (millions
        # of postings each), so an entry cap alone lets a long-lived reader
        # grow to many GB. Eviction is FIFO (dict order) — an LRU buys
        # little when the hot set is the Zipf head.
        self._term_rows_cache: dict[str, list] = {}
        self._raw_sizes: dict[str, int] = {}
        self._raw_bytes = 0
        # decoded-term memo: head terms repeat across interactive queries, and
        # decode (vByte + impact_weights) dominates warm latency — cache the
        # decoded (docs, idf·w) per term (~16 B/posting; reset when refresh()
        # finds the index changed)
        self._decoded_cache: dict[str, tuple] = {}
        self._decoded_sizes: dict[str, int] = {}
        self._decoded_bytes = 0
        self._snapshot = None
        self.refresh()

    def refresh(self) -> None:
        """Reload doc tombstones — pick up delete_docs() made since the
        last refresh (the snapshot posture of AnnReader.refresh) — and
        reload the index itself only if it changed.

        Change is detected by a snapshot of (path, size, mtime_ns) of every
        file under ``blocks/`` plus the bytes of ``_meta.json``. Unchanged
        (a delete-only refresh): the file handles, ``meta`` and both term
        caches are kept — their entries are tombstone-independent, the
        mask applies at use. Changed (appended blocks, a rebuild in place):
        ``meta`` and the BM25 parameters are re-read, the handles rebuilt,
        and both caches cleared, since their entries may describe
        superseded files or stats."""
        snapshot = self._index_snapshot()
        if snapshot != self._snapshot:
            self._reload(snapshot)
        # merge-on-read doc deletes (delete_docs): tombstoned ids loaded
        # at construction/refresh; masked out of every scorer. The
        # decoded/raw caches stay UNFILTERED (delete-independent), the
        # mask applies at use.
        self._deleted_arr = self._deleted_set = None
        if self.store.exists("deleted_docs"):
            import pyarrow.dataset as pads

            ids = np.unique(
                np.asarray(
                    pads.dataset(
                        self.store.path("deleted_docs"), format="parquet"
                    ).to_table(columns=["doc_id"]).column("doc_id"),
                    dtype=np.int64,
                )
            )
            if len(ids):
                self._deleted_arr = ids
                self._deleted_set = set(int(i) for i in ids)

    def _index_snapshot(self) -> tuple:
        """(path, size, mtime_ns) of every file under ``blocks/``, plus the
        bytes of ``_meta.json``: everything meta, handles and caches read."""
        import os as _os

        files = []
        for dp, _, fns in _os.walk(self.store.path("blocks")):
            for f in fns:
                st = _os.stat(_os.path.join(dp, f))
                files.append((dp, f, st.st_size, st.st_mtime_ns))
        with open(_os.path.join(self.store.root, "_meta.json"), "rb") as fh:
            return tuple(sorted(files)), fh.read()

    def _reload(self, snapshot: tuple) -> None:
        """Load meta and file handles of the index ``snapshot`` describes,
        emptying both term caches."""
        import json

        meta = json.loads(snapshot[1])
        if meta.get("version") != 2:
            raise ValueError(
                f"index at {self.store.root} has block format "
                f"v{meta.get('version')}; this reader needs v2 "
                "(vByte tf/dl payloads) — rebuild the index"
            )
        self.meta = meta
        self._bm25 = (
            float(meta["avgdl"]), float(meta["k1"]), float(meta["b"])
        )
        self._term_rows_cache.clear()
        self._raw_sizes.clear()
        self._raw_bytes = 0
        self._decoded_cache.clear()
        self._decoded_sizes.clear()
        self._decoded_bytes = 0
        if self.engine == "pyarrow":
            # per-shard ParquetFile handles + per-row-group (min, max) term
            # stats, built once per index change: a fetch then opens no
            # files and reads no footers — it prunes row groups driver-side
            # (files are term-sorted at build, so the stats are selective)
            # and issues direct read_row_groups calls. Measured ~2× faster
            # per query than re-filtering a hive dataset (which re-evaluates
            # partition + stats expressions per to_table call).
            self._pq_files = self._build_pq_handles()
            self.blocks = None
        else:
            self._pq_files = None
            self.blocks = self.store.read(self.spark, "blocks")
        self._snapshot = snapshot

    # cache byte budgets (defaults sized for a long-lived service reader;
    # per-entry accounting uses the payload buffers, the dominant cost —
    # a Zipf-head term at 10^8 df is ~300 MB raw / ~1.6 GB decoded, so the
    # budget, not an entry count, is what actually bounds residency)
    RAW_CACHE_MAX_BYTES = 128 << 20
    DECODED_CACHE_MAX_BYTES = 256 << 20
    QUERY_LOG_MAX = 10_000

    def _build_pq_handles(self) -> dict[int, list]:
        """{shard: [(ParquetFile, [(term_min, term_max) per row group])]}
        for the blocks table — the reader's warm file map (rebuilt by
        refresh(), so appended files are picked up there)."""
        import glob as _glob
        import os as _os

        import pyarrow.parquet as _pq

        out: dict[int, list] = {}
        root = self.store.path("blocks")
        for d in sorted(_os.listdir(root)):
            if not d.startswith("shard="):
                continue
            shard = int(d.split("=", 1)[1])
            handles = []
            for f in sorted(_glob.glob(_os.path.join(root, d, "*.parquet"))):
                pf = _pq.ParquetFile(f)
                md = pf.metadata
                ti = list(md.schema.names).index("term")
                stats = []
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(ti).statistics
                    stats.append(
                        (st.min, st.max) if st is not None else (None, None)
                    )
                handles.append((pf, stats))
            out[shard] = handles
        return out

    def _fetch_rows(self, terms: list[str]) -> list:
        missing = [t for t in terms if t not in self._term_rows_cache]
        if missing:
            shards = sorted({term_shard(t, self.meta["n_shards"]) for t in missing})
            if self.engine == "pyarrow":
                import pyarrow as pa
                import pyarrow.compute as pc

                parts = []
                for s in shards:
                    for pf, stats in self._pq_files.get(s, []):
                        rgs = [
                            i
                            for i, (mn, mx) in enumerate(stats)
                            if mn is None
                            or any(mn <= t <= mx for t in missing)
                        ]
                        if rgs:
                            part = pf.read_row_groups(
                                rgs, columns=list(_ARROW_COLS),
                                use_threads=True,
                            )
                            parts.append(
                                part.filter(pc.field("term").isin(missing))
                            )
                tbl = (
                    pa.concat_tables(parts)
                    if parts
                    else None
                )
                fetched = _arrow_rows(tbl) if tbl is not None else []
            else:
                fetched = self.blocks.where(
                    F.col("shard").isin(shards) & F.col("term").isin(missing)
                ).collect()
            for t in missing:
                self._term_rows_cache[t] = []
            for row in fetched:
                self._term_rows_cache[row.term].append(row)
            for t in missing:
                nbytes = sum(
                    len(r.docs) + len(r.tfs) + len(r.dls) + 64
                    for r in self._term_rows_cache[t]
                )
                self._raw_sizes[t] = nbytes
                self._raw_bytes += nbytes
            # evict FIFO down to budget — but never a term of the CURRENT
            # query (its rows are read by _decoded_term right after this);
            # search() re-trims unprotected at query end so a protected
            # over-budget entry doesn't linger past its query
            self._trim_raw_cache(protect=set(terms))
        out = []
        for t in terms:
            out.extend(self._term_rows_cache.get(t, []))
        return out

    def _trim_raw_cache(self, protect: set = frozenset()) -> None:
        """Bring the raw cache within budget. Entries whose size ALONE
        exceeds the budget are dropped first (FIFO trimming would otherwise
        empty the whole cache around them and still stay over budget — the
        one-Zipf-head-term pathology), then FIFO down to the budget."""
        for key in [
            k
            for k, s in self._raw_sizes.items()
            if s > self.RAW_CACHE_MAX_BYTES and k not in protect
        ]:
            del self._term_rows_cache[key]
            self._raw_bytes -= self._raw_sizes.pop(key)
        for key in list(self._term_rows_cache):
            if self._raw_bytes <= self.RAW_CACHE_MAX_BYTES:
                break
            if key in protect:
                continue
            del self._term_rows_cache[key]
            self._raw_bytes -= self._raw_sizes.pop(key)

    def _decoded_term(self, t: str) -> tuple:
        """(term, docs, idf·w) — full decode of one term's blocks, memoized.

        Eviction needs no protect-set: callers hold references to the
        returned tuples, so evicting an entry mid-query only drops the memo,
        never the data in flight."""
        hit = self._decoded_cache.get(t)
        if hit is None:
            blks = self._term_rows_cache[t]
            docs, w = _decode_block_group(blks, self._bm25)
            hit = (t, docs, float(blks[0].idf) * w)
            nbytes = int(docs.nbytes + hit[2].nbytes) + 64
            if nbytes > self.DECODED_CACHE_MAX_BYTES:
                # a single over-budget entry can never fit: caching it would
                # empty the cache AND leave it over budget until the next
                # insert — return uncached (callers hold the reference)
                return hit
            while (
                self._decoded_bytes + nbytes > self.DECODED_CACHE_MAX_BYTES
                and self._decoded_cache
            ):
                old = next(iter(self._decoded_cache))
                del self._decoded_cache[old]
                self._decoded_bytes -= self._decoded_sizes.pop(old)
            self._decoded_cache[t] = hit
            self._decoded_sizes[t] = nbytes
            self._decoded_bytes += nbytes
        return hit

    def _tokenize_query(self, text: str) -> list[str]:
        """Query terms in the INDEX's vocabulary: word tokens by default,
        BPE-id strings when the index was built with term_mode='bpe' (the
        mode rides in _meta.json, so reader and build can never disagree)."""
        if self.meta.get("term_mode") == "bpe":
            from ..textnorm import get_bpe, tokenize_bpe_terms

            return tokenize_bpe_terms(text, get_bpe(self.meta.get("bpe_path")))
        return tokenize_words(text)

    def search(self, text: str, k: int = 10) -> list[tuple[int, int, float]]:
        """→ [(rank, doc_id, score)] — exact BM25 top-k for one query.

        Per-call phase timings (tokenize / block fetch / score) append to
        ``self.query_log`` — the query-side analog of build_log lineage
        (reference client.py:68-120 reports roundtrip/gateway/model timing
        per call the same way); ``profile_summary()`` aggregates."""
        t0 = time.perf_counter()
        terms = sorted(set(self._tokenize_query(text)))
        t_tok = time.perf_counter()
        entry = {
            "n_terms": len(terms), "strategy": None,
            "n_blocks": 0, "n_postings": 0,
            "tokenize_ms": 1000 * (t_tok - t0),
            "fetch_ms": 0.0, "score_ms": 0.0, "total_ms": 0.0,
        }
        if not terms:
            self._log_query(entry)
            return []
        rows = self._fetch_rows(terms)
        t_fetch = time.perf_counter()
        entry["fetch_ms"] = 1000 * (t_fetch - t_tok)
        entry["n_blocks"] = len(rows)
        entry["n_postings"] = sum(r.n for r in rows)
        if not rows:
            entry["total_ms"] = 1000 * (time.perf_counter() - t0)
            self._log_query(entry)
            return []
        strategy = self.strategy
        if strategy == "auto":
            strategy = (
                "taat"
                if entry["n_postings"] <= self.taat_max_postings
                else "wand"
            )
        entry["strategy"] = strategy
        if strategy == "taat":
            n_docs = (
                self.meta["n_docs"]
                if self.meta.get("doc_id_method")
                in ("dense", "dense_sorted", "row_number")
                else None
            )
            hit_terms = [t for t in terms if self._term_rows_cache.get(t)]
            cold = [t for t in hit_terms if t not in self._decoded_cache]
            if len(hit_terms) == 1 and cold:
                # cold single-term: block-max early stop (partial decode —
                # deliberately NOT cached: the memo stores only full lists)
                out = taat_topk(
                    rows, k, self._bm25, n_docs=n_docs,
                    deleted=self._deleted_arr,
                )
            elif (
                len(hit_terms) > 1
                and cold
                and n_docs is not None
                and entry["n_postings"] > MULTI_TAAT_EARLY_MIN_POSTINGS
            ):
                # cold heavy multi-term: two-phase block-max early stop
                # (_taat_multi_term) — like the single-term stop, partial
                # decodes are not memoized; warm repeats hit the memo path
                out = taat_topk(
                    rows, k, self._bm25, n_docs=n_docs,
                    deleted=self._deleted_arr,
                )
            else:
                out = taat_topk_decoded(
                    [self._decoded_term(t) for t in hit_terms], k,
                    n_docs=n_docs, deleted=self._deleted_arr,
                )
        else:
            out = wand_topk(
                _cursors_from_rows(rows, self._bm25), k,
                deleted=self._deleted_set,
            )
        t_score = time.perf_counter()
        entry["score_ms"] = 1000 * (t_score - t_fetch)
        entry["total_ms"] = 1000 * (t_score - t0)
        self._log_query(entry)
        # end-of-query trim with no protect set: evicts any current-query
        # entry whose size alone exceeds the budget (kept in-flight above)
        self._trim_raw_cache()
        return out

    def _log_query(self, entry: dict) -> None:
        """Append to query_log, rotating at QUERY_LOG_MAX (oldest dropped) —
        a long-lived service reader must not grow the log without bound."""
        self.query_log.append(entry)
        if len(self.query_log) > self.QUERY_LOG_MAX:
            del self.query_log[: len(self.query_log) - self.QUERY_LOG_MAX]

    def phrase(self, text: str, limit: int | None = None) -> list[tuple[int, int]]:
        """→ [(doc_id, start_pos)] exact occurrences of the phrase, from the
        PERSISTED positional table (build_index(positions=True)) — the
        interactive twin of phrase.phrase_search_indexed: shard pruning is
        computed driver-side, the pyarrow scan reads only the phrase terms'
        shards/row-groups, and the positional intersection runs vectorized
        on the driver (sorted-merge over aligned starts)."""
        terms = tokenize_words(text)
        if not terms:
            return []
        if not self.meta.get("positions"):
            raise ValueError(
                "index has no positional table — build with positions=True"
            )
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        ds = pads.dataset(
            self.store.path("positions"), format="parquet", partitioning="hive"
        )
        shards = sorted({term_shard(t, self.meta["n_shards"]) for t in terms})
        tbl = ds.to_table(
            filter=pc.field("shard").isin(shards)
            & pc.field("term").isin(sorted(set(terms))),
            columns=["term", "doc_id", "pos"],
        )
        term_arr = np.asarray(tbl.column("term"))
        doc_arr = np.asarray(tbl.column("doc_id"), dtype=np.int64)
        pos_arr = np.asarray(tbl.column("pos"), dtype=np.int64)
        if self._deleted_arr is not None and len(doc_arr):
            live = ~np.isin(doc_arr, self._deleted_arr)
            term_arr, doc_arr, pos_arr = (
                term_arr[live], doc_arr[live], pos_arr[live]
            )

        def _keys(mask, shift: int) -> np.ndarray:
            # structured (doc, start) keys — doc_ids span the FULL signed
            # 64-bit range under doc_id_method='hash', so no bit packing
            a = np.empty(int(mask.sum()), dtype=[("d", np.int64), ("p", np.int64)])
            a["d"] = doc_arr[mask]
            a["p"] = pos_arr[mask] - shift
            return np.unique(a)

        # rarest-term-first: the running intersection is bounded by the
        # smallest key set touched so far, so start from the term with the
        # fewest fetched positions instead of phrase order (one bulk
        # np.unique count; the fetch above already read every term's rows)
        uniq, counts = np.unique(term_arr, return_counts=True)
        n_rows = dict(zip(uniq.tolist(), counts.tolist()))
        order = sorted(
            range(len(terms)), key=lambda i: (n_rows.get(terms[i], 0), i)
        )
        cur: np.ndarray | None = None
        for step, i in enumerate(order):
            t = terms[i]
            m = (term_arr == t) & (pos_arr >= i)
            keys = _keys(m, i)
            cur = (
                keys
                if step == 0
                else np.intersect1d(cur, keys, assume_unique=True)
            )
            if cur.size == 0:
                return []
        out = sorted((int(r["d"]), int(r["p"])) for r in cur)
        return out[:limit] if limit is not None else out

    def profile_summary(self) -> dict:
        """p50/p95 per phase over this reader's query_log (profile verb)."""
        import statistics

        if not self.query_log:
            return {"n_queries": 0}
        out: dict = {"n_queries": len(self.query_log)}
        for phase in ("tokenize_ms", "fetch_ms", "score_ms", "total_ms"):
            vals = sorted(e[phase] for e in self.query_log)
            out[phase] = {
                "p50": round(statistics.median(vals), 3),
                "p95": round(vals[int(0.95 * (len(vals) - 1))], 3),
            }
        return out


_ARROW_COLS = (
    "term", "salt", "block_id", "n", "first_doc", "last_doc",
    "max_w", "idf", "docs", "tfs", "dls",
)


# a namedtuple constructs ~3× faster than a setattr-loop class over the
# hundreds of thousands of block rows a Zipf-head fetch returns
import collections as _collections

_ArrowRow = _collections.namedtuple("_ArrowRow", _ARROW_COLS)


def _arrow_rows(tbl) -> list[_ArrowRow]:
    cols = [tbl.column(name).to_pylist() for name in _ARROW_COLS]
    return list(map(_ArrowRow._make, zip(*cols)))


# ---------------------------------------------------------------------------
# distributed batch paths
# ---------------------------------------------------------------------------


def _candidate_blocks(
    spark: SparkSession, store: IndexStorage, terms: list[str], n_shards: int
) -> DataFrame | None:
    if not terms:
        return None
    shards = sorted({term_shard(t, n_shards) for t in terms})
    return store.read(spark, "blocks").where(
        F.col("shard").isin(shards) & F.col("term").isin(terms)
    )


def search_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    mode: str = "auto",
    heavy_postings: int = 20_000_000,
    routing: dict[int, str] | None = None,
) -> DataFrame:
    """→ (query_id, rank, doc_id, score); queries(query_id, text).

    mode="auto" routes PER QUERY by estimated candidate volume (Σ block n —
    read from block metadata columns only, never the payloads): queries under
    ``heavy_postings`` run single-task WAND (parallelism = #queries, skipping
    pays); heavier queries — a Zipf-head single-term query would serialize
    its whole posting list into one WAND task — run the fully distributed
    exploded plan instead. Mirrors the IndexReader driver-side auto strategy
    (taat_max_postings) with the same crossover logic.

    NOTE mode="auto" is not fully lazy: the volume estimate runs ONE eager
    Spark job (a metadata-only aggregate) before the returned DataFrame is
    built (the query-terms collect is eager in every mode — it's the Q·|q|
    row query table). Callers that already computed ``query_routing`` (bench,
    ops dashboards) pass it via ``routing`` to skip that job — the candidate
    block set is then scanned once, not twice."""
    store = IndexStorage(index_dir)
    meta = store.read_meta()
    bm25 = (float(meta["avgdl"]), float(meta["k1"]), float(meta["b"]))
    dense_n_docs = (
        int(meta["n_docs"])
        if meta.get("doc_id_method") in ("dense", "dense_sorted", "row_number")
        else None
    )
    # merge-on-read doc deletes (delete_docs): tombstoned ids are dropped
    # from every scorer BEFORE ranking. Collected once per call (the table
    # is delete-sized) and broadcast to the WAND/TAAT closures; the
    # exploded plan anti-joins distributed instead. Corpus stats stay
    # STALE until purge_deleted_docs (Lucene's merge-on-read posture):
    # surviving docs keep their exact pre-delete scores — pinned by test.
    deleted_ids = deleted_bc = None
    if store.exists("deleted_docs"):
        deleted_ids = sorted(
            int(r["doc_id"])
            for r in store.read(spark, "deleted_docs")
            .select("doc_id").distinct().collect()
        )
        if deleted_ids:
            deleted_bc = _deleted_broadcast(spark, store, deleted_ids)
        else:
            deleted_ids = None
    # query-terms table is tiny (Q·|q| rows): collect ONCE and rebuild as a
    # local DataFrame — no .cache() to leak, and the term list for shard
    # pruning falls out of the same pass
    qt_rows = query_terms(
        queries, meta.get("term_mode", "word"), meta.get("bpe_path")
    ).collect()
    terms = sorted({r["term"] for r in qt_rows})
    cand = _candidate_blocks(spark, store, terms, meta["n_shards"])
    if cand is None or not qt_rows:
        return spark.createDataFrame([], TOPK_SCHEMA)
    qt = spark.createDataFrame(qt_rows, "query_id int, term string")
    joined = cand.join(F.broadcast(qt), "term")

    if mode == "wand":
        return joined.groupBy("query_id").applyInPandas(
            _make_wand(k, bm25, deleted_bc=deleted_bc, n_docs=dense_n_docs),
            schema=TOPK_SCHEMA,
        )
    if mode == "exploded":
        return _search_exploded(joined, k, bm25, deleted_ids=deleted_ids)
    if mode == "auto":
        if routing is None:
            # volume estimate: one tiny agg over (query_id, n) — parquet
            # column pruning keeps the binary docs/ws columns unread
            vols = _query_volumes(joined)
            routing = {
                q: ("exploded" if v > heavy_postings else "wand")
                for q, v in vols.items()
            }
        else:
            # a caller-supplied routing may lag the query set — estimate the
            # stragglers rather than silently dropping their results
            unrouted = {r["query_id"] for r in qt_rows} - set(routing)
            if unrouted:
                vols = _query_volumes(
                    joined.filter(F.col("query_id").isin(sorted(unrouted)))
                )
                routing = {
                    **routing,
                    **{
                        q: ("exploded" if v > heavy_postings else "wand")
                        for q, v in vols.items()
                    },
                }
        heavy = sorted(q for q, m in routing.items() if m == "exploded")
        parts = []
        if heavy:
            parts.append(
                _search_exploded(
                    joined.filter(F.col("query_id").isin(heavy)), k, bm25,
                    deleted_ids=deleted_ids,
                )
            )
        light = sorted(q for q, m in routing.items() if m == "wand")
        if light:
            parts.append(
                joined.filter(F.col("query_id").isin(light))
                .groupBy("query_id")
                .applyInPandas(
                    _make_wand(k, bm25, deleted_bc=deleted_bc, n_docs=dense_n_docs),
                    schema=TOPK_SCHEMA,
                )
            )
        if not parts:
            return spark.createDataFrame([], TOPK_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    raise ValueError(f"unknown mode {mode!r}")


# one live tombstone broadcast per index_dir (ADVICE r06: a long-lived
# driver serving many queries against an index with deletes used to create
# a NEW broadcast per search_topk call and never release it). Keyed on a
# fingerprint of the tombstone file set (names + mtimes), so new deletes
# refresh the broadcast and the superseded one is destroyed.
_DELETED_BC_CACHE: dict[str, tuple] = {}


def _deleted_broadcast(spark: SparkSession, store: IndexStorage, ids: list):
    import glob
    import os

    sig_src = sorted(
        (os.path.basename(f), os.path.getmtime(f))
        for f in glob.glob(os.path.join(store.path("deleted_docs"), "*.parquet"))
    )
    app = spark.sparkContext.applicationId
    key = (app, store.root)
    # entries of a stopped SparkContext are dead weight: drop them
    for k in [k for k in _DELETED_BC_CACHE if k[0] != app]:
        del _DELETED_BC_CACHE[k]
    sig = (tuple(sig_src), len(ids))
    hit = _DELETED_BC_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    if hit is not None:
        # superseded: release executor copies; tasks in flight from earlier
        # plans have already materialized their value
        import contextlib

        with contextlib.suppress(Exception):
            hit[1].unpersist(blocking=False)
    bc = spark.sparkContext.broadcast(ids)
    _DELETED_BC_CACHE[key] = (sig, bc)
    return bc


def _query_volumes(joined: DataFrame) -> dict[int, int]:
    return {
        r["query_id"]: r["v"]
        for r in joined.groupBy("query_id").agg(F.sum("n").alias("v")).collect()
    }


def query_routing(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    heavy_postings: int = 20_000_000,
) -> dict[int, str]:
    """→ {query_id: 'wand'|'exploded'} — the routing mode='auto' would pick
    (candidate posting volume vs threshold); exposed for bench/ops reporting."""
    store = IndexStorage(index_dir)
    meta = store.read_meta()
    qt_rows = query_terms(
        queries, meta.get("term_mode", "word"), meta.get("bpe_path")
    ).collect()
    terms = sorted({r["term"] for r in qt_rows})
    cand = _candidate_blocks(spark, store, terms, meta["n_shards"])
    if cand is None or not qt_rows:
        return {}
    qt = spark.createDataFrame(qt_rows, "query_id int, term string")
    vols = _query_volumes(cand.join(F.broadcast(qt), "term"))
    return {
        q: ("exploded" if v > heavy_postings else "wand")
        for q, v in vols.items()
    }


_BATCH_TAAT_MAX_POSTINGS = 250_000_000  # same memory bound as IndexReader


def _make_wand(
    k: int, bm25: tuple, taat_max: int | None = None, deleted_bc=None,
    n_docs: int | None = None,
):
    # the crossover is read HERE (driver side) and captured by the closure —
    # executor workers re-import the module, so a module global read inside
    # the UDF would ignore driver-side overrides
    if taat_max is None:
        taat_max = _BATCH_TAAT_MAX_POSTINGS

    def _wand(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {"query_id": [], "rank": [], "doc_id": [], "score": []}
            )
        # tombstoned doc_ids ride a Spark broadcast (shipped once per
        # executor, not per task); sorted ndarray for the TAAT mask, set
        # for WAND's per-pivot membership test
        del_arr = del_set = None
        if deleted_bc is not None:
            del_arr = np.asarray(deleted_bc.value, dtype=np.int64)
            del_set = set(deleted_bc.value)
        query_id = int(pdf["query_id"].iloc[0])
        rows = list(pdf.itertuples(index=False))
        # same crossover as the interactive reader: vectorized TAAT while
        # decoded lists fit (~16 B/posting), per-posting Python WAND only
        # beyond — measured 20-30× faster at tens of millions of postings
        if int(pdf["n"].sum()) <= taat_max:
            # n_docs (dense-id indexes) enables both the direct-array scorer
            # and the multi-term block-max early stop inside taat_topk
            result = taat_topk(rows, k, bm25, n_docs=n_docs, deleted=del_arr)
        else:
            result = wand_topk(
                _cursors_from_rows(rows, bm25), k, deleted=del_set
            )
        return pd.DataFrame(
            {
                "query_id": np.full(len(result), query_id, dtype=np.int64),
                "rank": np.array([r for r, _, _ in result], dtype=np.int64),
                "doc_id": np.array([d for _, d, _ in result], dtype=np.int64),
                "score": np.array([s for _, _, s in result], dtype=np.float64),
            }
        )

    return _wand


def _search_exploded(
    joined: DataFrame, k: int, bm25: tuple, deleted_ids: list[int] | None = None
) -> DataFrame:
    """decode → (query_id, term, doc_id, partial) rows → ordered-fold sum →
    window top-k. `joined` = candidate blocks × query terms. Tombstoned
    doc_ids (``deleted_ids``) are dropped from the partials with a
    broadcast anti-join BEFORE the top-k window — staying distributed, no
    per-task Python set."""
    avgdl, k1, b = bm25

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE vectorized decode per Arrow batch (guide §4.2): blocks are
        # independently decodable, so the whole batch's payloads go through
        # decode_posting_blocks_batch together and the per-row metadata is
        # np.repeat-expanded — the previous per-row loop made thousands of
        # tiny vbyte_decode calls per batch (overhead-bound)
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"query_id": pd.Series([], dtype="int64"),
                     "term": pd.Series([], dtype=object),
                     "doc_id": pd.Series([], dtype="int64"),
                     "partial": pd.Series([], dtype="float64")}
                )
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            doc_ids, tfs, dls = decode_posting_blocks_batch(
                list(pdf["docs"]), list(pdf["tfs"]), list(pdf["dls"]), ns
            )
            w = impact_weights(tfs, dls, avgdl, k1, b)
            partial = np.repeat(pdf["idf"].to_numpy(dtype=np.float64), ns) * w
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(dtype=np.int64), ns
                    ),
                    "term": np.repeat(pdf["term"].to_numpy(dtype=object), ns),
                    "doc_id": doc_ids,
                    "partial": partial,
                }
            )

    partials = joined.mapInPandas(
        _decode, schema="query_id int, term string, doc_id long, partial double"
    )
    if deleted_ids:
        dele = joined.sparkSession.createDataFrame(
            [(d,) for d in deleted_ids], "doc_id long"
        )
        partials = partials.join(F.broadcast(dele), "doc_id", "left_anti")
    scores = (
        partials.groupBy("query_id", "doc_id")
        .agg(F.collect_list(F.struct("term", "partial")).alias("parts"))
        .select(
            "query_id",
            "doc_id",
            F.aggregate(
                F.array_sort("parts"),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x["partial"],
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
