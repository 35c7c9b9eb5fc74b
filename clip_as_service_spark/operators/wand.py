"""Query path over the compressed index: exact BM25 top-k — the *search*
verb (SURVEY.md §3.3).

Reference semantics: per-shard local top-k then global merge
(retriever.md:178-225 ANY/ALL polling); exactly `limit` results
(tests/test_search.py:41-44); descending order (tests/test_ranker.py:34-35).

Every in-memory query is scored by one family of vectorized
term-at-a-time kernels — numpy over whole decoded blocks, no per-posting
Python (column-at-a-time scoring, as in "Columnar Formatted Inverted Index
for Highly-Paralleled, Vectorized Query Processing", ICDE 2025):

- ``_taat_single_term`` — blocks in descending max_w order, decoded in
  chunks into a running top-k; stops once no undecoded block can reach the
  kth score (the block-max bound of Ding & Suel, SIGIR 2011).
- ``_taat_multi_term`` — dense ids past ``MULTI_TAAT_EARLY_MIN_POSTINGS``:
  impact-ordered chunked decode across terms, Σ-remaining-bound stop, exact
  ascending-term re-score of the candidate set.
- full decode (the rest of ``taat_topk``; ``taat_topk_decoded`` over the
  reader's decoded-term memo) — every list decoded and folded. Past
  ``DECODE_MAX_POSTINGS`` postings it folds doc-id windows cut on block
  boundaries and merges a running top-k, so decoded memory stays bounded.

Bounds are inflated by 1+1e-9 (``_UB_SAFETY``) so float rounding can never
stop a decode that a true top-k doc still needs → every kernel is EXACT.

One caller: ``IndexReader.search(text, k)`` — tokenized with the index's
own vocabulary, block rows read with pyarrow, no Spark job per query. The
batch verb ``search_topk(spark, index_dir, queries, k)`` runs it inside
Spark tasks: each task searches its share of the query rows with a reader
cached in its Python worker.

Block rows carry their term's idf (denormalized at build), so no dictionary
lookup happens at query time; corpus stats ride in _meta.json.

Determinism: scores bit-identical to oracle.BM25Oracle — per-doc partials
idf·w summed in ascending-term order; tie-break (score DESC, doc_id ASC).
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.codec import (
    bm25_params,
    check_block_format,
    decode_posting_blocks_batch,
    dense_ids,
    impact_weights,
)
from ..functions.hashing import term_shard
from ..sources.tables import IndexStorage
from ..textnorm import tokenize_words

TOPK_SCHEMA = pa.schema([
    ("query_id", pa.int32()), ("rank", pa.int32()),
    ("doc_id", pa.int64()), ("score", pa.float64()),
])
_UB_SAFETY = 1.0 + 1e-9


# ---------------------------------------------------------------------------
# vectorized TAAT kernels
# ---------------------------------------------------------------------------


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


_DECODE_CHUNK_BLOCKS = 4096


def _decode_block_group(blks, bm25: tuple):
    """Batch-decode a list of block rows → (docs, w), concatenated in row
    order (blocks decode independently, so the rows may mix terms).

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


# the most postings a scorer decodes at once (~16 B/posting decoded, so
# 250M ⇒ ≤ 4 GB). IndexReader.search reads it per query unless the
# reader's max_postings is set, as search_topk's tasks set it to the
# driver's value.
DECODE_MAX_POSTINGS = 250_000_000


def taat_topk(
    rows,
    k: int,
    bm25: tuple,
    n_docs: int | None = None,
    chunk_blocks: int = 4096,
    deleted=None,
    max_postings: int | None = None,
) -> list[tuple[int, int, float]]:
    """Vectorized exact term-at-a-time scorer over a query's block rows.

    - one term: _taat_single_term's block-max early stop — with one term a
      decoded doc's partial IS its exact score, so a Zipf-head list stops
      decoding once k docs beat idf·(best undecoded max_w);
    - dense ids past ``MULTI_TAAT_EARLY_MIN_POSTINGS``: _taat_multi_term's
      two-phase early stop (below it a full vectorized decode beats the
      stop's bookkeeping — a sum-of-remaining-UBs stop with no candidate
      phase was measured NET-SLOWER at 6.4M docs);
    - otherwise a full decode, in one pass up to ``max_postings`` postings
      (default ``DECODE_MAX_POSTINGS``) and in doc-id windows of about
      that many past it (_taat_windowed).

    Returned scores always accumulate ascending-term (the oracle's float64
    association); top-k via lexsort with the (score DESC, doc ASC)
    tie-break."""
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

    if max_postings is None:
        max_postings = DECODE_MAX_POSTINGS
    if total > max_postings:
        return _taat_windowed(by_term, k, bm25, max_postings, deleted=deleted)

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


def _doc_windows(firsts, lasts, ns, max_postings: int) -> list[tuple[int, int]]:
    """Cut the doc-id span of blocks (first_doc, last_doc, n arrays) into
    half-open windows [lo, hi) at block boundaries (first_doc, last_doc+1),
    greedily widest such that the blocks overlapping a window hold at most
    ``max_postings`` postings. No window is narrower than one gap between
    adjacent boundaries, inside which each posting list has at most one
    block — so a window exceeds the bound only when that gap alone does, by
    at most one block per list."""
    cuts = np.unique(np.concatenate((firsts, lasts + 1)))
    by_first = np.argsort(firsts, kind="stable")
    by_last = np.argsort(lasts, kind="stable")
    # postings in blocks starting / ending before each cut; the blocks
    # overlapping [cuts[i], cuts[j]) hold started[j] - ended[i]
    started = np.concatenate(([0], np.cumsum(ns[by_first])))[
        np.searchsorted(firsts[by_first], cuts, side="left")
    ]
    ended = np.concatenate(([0], np.cumsum(ns[by_last])))[
        np.searchsorted(lasts[by_last], cuts, side="left")
    ]
    windows = []
    i, end = 0, len(cuts) - 1
    while i < end:
        j = int(np.searchsorted(started, ended[i] + max_postings, "right")) - 1
        j = min(max(j, i + 1), end)
        windows.append((int(cuts[i]), int(cuts[j])))
        i = j
    return windows


def _taat_windowed(
    by_term: dict[str, list], k: int, bm25: tuple, max_postings: int,
    deleted=None,
):
    """Full-decode fold with bounded memory: per doc-id window
    (_doc_windows), decode the overlapping blocks of every term in ONE
    batch, mask them to the window, fold ascending-term
    (taat_topk_decoded) and merge into a running top-k. Windows are
    doc-disjoint, so each doc's score is complete inside its window and
    bit-identical to the single-pass fold; the window's top-k holds every
    doc of the global top-k that lies in it."""
    terms = sorted(by_term)
    blks = [b for t in terms for b in by_term[t]]  # ascending term
    term_of = np.repeat(
        np.arange(len(terms)), [len(by_term[t]) for t in terms]
    )
    idfs = np.array([float(by_term[t][0].idf) for t in terms])
    firsts = np.array([b.first_doc for b in blks], dtype=np.int64)
    lasts = np.array([b.last_doc for b in blks], dtype=np.int64)
    ns = np.array([b.n for b in blks], dtype=np.int64)
    best: list = []
    for lo, hi in _doc_windows(firsts, lasts, ns, max_postings):
        sel = np.flatnonzero((firsts < hi) & (lasts >= lo))
        if not len(sel):
            continue
        docs, w = _decode_block_group([blks[j] for j in sel], bm25)
        ti = np.repeat(term_of[sel], ns[sel])
        m = (docs >= lo) & (docs < hi)
        docs, w, ti = docs[m], w[m], ti[m]
        # sel ascends, so ti is sorted: split into per-term runs
        bounds = np.searchsorted(ti, np.arange(len(terms) + 1))
        decoded = [
            (terms[t], docs[a:b], idfs[t] * w[a:b])
            for t, (a, b) in enumerate(zip(bounds[:-1], bounds[1:]))
            if b > a
        ]
        best += taat_topk_decoded(decoded, k, deleted=deleted)
        best = sorted(best, key=lambda e: (-e[2], e[1]))[:k]
    return [(r, d, s) for r, (_, d, s) in enumerate(best, 1)]


def _taat_single_term(blks, k: int, bm25: tuple, chunk_blocks: int, deleted=None):
    """Single-term exact top-k with block-max early stop (see taat_topk).

    Keeps a running top-k — the docs at or above the current kth score plus
    the newly decoded chunk — so memory is bounded by one chunk, not by the
    list. Tombstoned docs are masked PER CHUNK, before the kth-score
    threshold is taken — a deleted doc holding the kth slot would inflate θ
    and stop the decode while live docs that belong in the page are still
    undecoded."""
    blks = sorted(blks, key=lambda r: -r.max_w)
    idf = float(blks[0].idf)
    kept = None
    i = 0
    while True:
        chunk = blks[i : i + chunk_blocks]
        i += len(chunk)
        docs, w = _decode_block_group(chunk, bm25)
        docs, w = _mask_deleted(docs, w, deleted)
        scores = idf * w
        if kept is not None:
            docs = np.concatenate((kept[0], docs))
            scores = np.concatenate((kept[1], scores))
        if i >= len(blks):
            break
        if len(scores) >= k:
            kth = -np.partition(-scores, k - 1)[k - 1]
            survive = scores >= kth
            docs, scores = docs[survive], scores[survive]
            if idf * blks[i].max_w * _UB_SAFETY < kth:
                break  # no undecoded doc can reach (or tie) the kth score
        kept = (docs, scores)
    return _topk_from_arrays(docs, scores, k)


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
    1+1e-9 float inflation the single-term stop uses, applied on both sides.

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


# ---------------------------------------------------------------------------
# the reader: one query at a time, no Spark job
# ---------------------------------------------------------------------------


class IndexReader:
    """Warm handle on an index for low-latency interactive search.

    Block rows are read directly with pyarrow — shard-dir partition pruning
    plus term row-group skipping, zero Spark jobs per query (the reference
    serves interactive search from a resident AnnLite index the same way,
    retriever.md:117-136). Works wherever the driver or an executor can
    read the index store (local disk here; object store on a cluster).
    The leading ``spark`` argument is unused and kept only for call-site
    compatibility; pass None.

    Scoring is the vectorized TAAT family (see the module docstring). Fetched
    block rows and fully decoded terms are memoized across queries (head
    terms repeat), and the memo survives a delete-only refresh(): tombstones
    are masked at use, so live deletes never cost a re-fetch or re-decode.
    Cold single-term and cold heavy multi-term queries take the early-stop
    kernels, which decode part of a list and are not memoized; a query over
    ``DECODE_MAX_POSTINGS`` postings goes to ``taat_topk`` too, whose
    windowed fold bounds decoded memory (~16 B/posting) instead of
    memoizing whole lists. Batches of queries belong on search_topk,
    whose Spark tasks each run this reader's search over their rows."""

    # this reader's decode bound; None reads DECODE_MAX_POSTINGS per query
    max_postings: int | None = None

    def __init__(
        self,
        spark: SparkSession | None,
        index_dir: str,
        raw_cache_bytes: int | None = None,
        decoded_cache_bytes: int | None = None,
    ):
        self.store = IndexStorage(index_dir)
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
        ids = self.store.deleted_doc_ids()
        self._deleted_arr = ids if len(ids) else None

    def _index_snapshot(self) -> tuple:
        """(path, size, mtime_ns) of every file under ``blocks/``, plus the
        bytes of ``_meta.json``: everything meta, handles and caches read."""
        files = []
        for dp, _, fns in os.walk(self.store.path("blocks")):
            for f in fns:
                st = os.stat(os.path.join(dp, f))
                files.append((dp, f, st.st_size, st.st_mtime_ns))
        with open(os.path.join(self.store.root, "_meta.json"), "rb") as fh:
            return tuple(sorted(files)), fh.read()

    def _reload(self, snapshot: tuple) -> None:
        """Load meta and file handles of the index ``snapshot`` describes,
        emptying both term caches."""
        import json

        meta = json.loads(snapshot[1])
        check_block_format(meta, self.store.root)
        self.meta = meta
        self._bm25 = bm25_params(meta)
        self._n_docs = int(meta["n_docs"]) if dense_ids(meta) else None
        self._term_rows_cache.clear()
        self._raw_sizes.clear()
        self._raw_bytes = 0
        self._decoded_cache.clear()
        self._decoded_sizes.clear()
        self._decoded_bytes = 0
        # per-shard ParquetFile handles + per-row-group (min, max) term stats,
        # built once per index change: a fetch then opens no files and reads
        # no footers — it prunes row groups driver-side (files are
        # term-sorted at build, so the stats are selective) and issues
        # direct read_row_groups calls. Measured ~2× faster per query than
        # re-filtering a hive dataset (which re-evaluates partition + stats
        # expressions per to_table call).
        self._pq_files = self._build_pq_handles()
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

        import pyarrow.parquet as _pq

        out: dict[int, list] = {}
        root = self.store.path("blocks")
        for d in sorted(os.listdir(root)):
            if not d.startswith("shard="):
                continue
            shard = int(d.split("=", 1)[1])
            handles = []
            for f in sorted(_glob.glob(os.path.join(root, d, "*.parquet"))):
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
            import pyarrow.compute as pc

            parts = []
            for s in shards:
                for pf, stats in self._pq_files.get(s, []):
                    rgs = [
                        i
                        for i, (mn, mx) in enumerate(stats)
                        if mn is None or any(mn <= t <= mx for t in missing)
                    ]
                    if rgs:
                        part = pf.read_row_groups(
                            rgs, columns=list(_ARROW_COLS), use_threads=True,
                        )
                        parts.append(part.filter(pc.field("term").isin(missing)))
            fetched = _arrow_rows(pa.concat_tables(parts)) if parts else []
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
        entry["strategy"] = "taat"
        n_docs = self._n_docs
        hit_terms = [t for t in terms if self._term_rows_cache.get(t)]
        cold = [t for t in hit_terms if t not in self._decoded_cache]
        early_stop = len(hit_terms) == 1 or (
            n_docs is not None
            and entry["n_postings"] > MULTI_TAAT_EARLY_MIN_POSTINGS
        )
        bound = (
            DECODE_MAX_POSTINGS if self.max_postings is None else self.max_postings
        )
        if entry["n_postings"] > bound or (cold and early_stop):
            # over the memory bound (windowed fold), or a cold single-term /
            # cold heavy dense multi-term query (block-max early stops):
            # partial or windowed decodes are deliberately NOT memoized —
            # the memo stores only full lists; warm repeats hit it below
            out = taat_topk(
                rows, k, self._bm25, n_docs=n_docs, deleted=self._deleted_arr,
                max_postings=bound,
            )
        else:
            out = taat_topk_decoded(
                [self._decoded_term(t) for t in hit_terms], k,
                n_docs=n_docs, deleted=self._deleted_arr,
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
# batch path: IndexReader.search in each Spark task
# ---------------------------------------------------------------------------


def search_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """→ (query_id, rank, doc_id, score); queries(query_id, text).

    Each task runs ``IndexReader.search(text, k)`` over its query rows with
    its Python worker's cached reader (_search_batches): one stage, no
    exchange. A query whose text is null or has no indexed term gives no
    rows. Building the plan checks the block format and starts no Spark
    job; as with any Spark read, the index and its tombstones are read when
    the DataFrame runs, not when it is built."""
    # absolute: a task's working directory need not be the driver's
    store = IndexStorage(os.path.abspath(index_dir))
    check_block_format(store.read_meta(), store.root)
    return queries.select("query_id", "text").mapInArrow(
        functools.partial(
            _search_batches, index_dir=store.root, k=k,
            max_postings=DECODE_MAX_POSTINGS,
        ),
        from_arrow_schema(TOPK_SCHEMA),
    )


# the reader a Python worker keeps between tasks: the last index it searched
_task_reader: IndexReader | None = None
# queries per term fetch: a row group is read once per chunk, not per query
FETCH_CHUNK_QUERIES = 64


def _search_batches(batches, index_dir: str, k: int, max_postings: int):
    """mapInArrow body of search_topk: (query_id, text) batches →
    TOPK_SCHEMA batches. The worker's reader is reused if it holds
    ``index_dir`` and refreshed first, so each task sees the deletes and
    rebuilds made before it. ``max_postings`` is the driver's
    DECODE_MAX_POSTINGS: a worker imports this module afresh, so a
    driver-side override reaches it only this way."""
    global _task_reader
    reader = _task_reader
    if reader is None or reader.store.root != index_dir:
        reader = _task_reader = IndexReader(None, index_dir)
    else:
        reader.refresh()
    reader.max_postings = max_postings
    for batch in batches:
        cols = [batch.column(c).to_pylist() for c in ("query_id", "text")]
        queries = [(qid, text) for qid, text in zip(*cols) if text is not None]
        rows = []
        for i in range(0, len(queries), FETCH_CHUNK_QUERIES):
            chunk = queries[i : i + FETCH_CHUNK_QUERIES]
            reader._fetch_rows(sorted({t for _, q in chunk for t in reader._tokenize_query(q)}))
            rows += [(qid, *hit) for qid, text in chunk for hit in reader.search(text, k)]
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(zip(*rows), TOPK_SCHEMA)],
                schema=TOPK_SCHEMA,
            )


def query_routing(
    spark: SparkSession, index_dir: str, queries: DataFrame
) -> dict[int, str]:
    """→ {query_id: 'wand'} for every query with an indexed term, found on
    the driver: one collect of (query_id, text), then the reader's
    tokenizer and term fetch. search_topk has one path, so this reports
    nothing a caller can act on; it stays only for the routing counts of
    the benchmark trace (perfbench) and bench.py."""
    reader = IndexReader(None, index_dir)
    return {
        qid: "wand"
        for qid, text in queries.select("query_id", "text").collect()
        if text and reader._fetch_rows(sorted(set(reader._tokenize_query(text))))
    }
