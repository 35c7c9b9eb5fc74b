"""Query path over the compressed index: exact BM25 top-k — the *search*
verb (SURVEY.md §3.3).

Reference semantics: per-shard local top-k then global merge
(retriever.md:178-225 ANY/ALL polling); exactly `limit` results
(tests/test_search.py:41-44); descending order (tests/test_ranker.py:34-35).

Every in-memory query is scored by vectorized term-at-a-time kernels —
numpy over whole decoded blocks, no per-posting or per-block Python
(column-at-a-time scoring, as in "Columnar Formatted Inverted Index for
Highly-Paralleled, Vectorized Query Processing", ICDE 2025), and
``taat_topk`` alone picks one of two for a query's terms, each fetched as
block arrays (``_Term``) that the kernels index:

- ``_taat_stop`` — the block-max early stop (Ding & Suel, SIGIR 2011), one
  rule for any number of terms: blocks decoded in chunks in descending
  idf·max_w order until the Σ-remaining bound cannot reach the kth score.
  One term keeps a running top-k; several keep a bound accumulator and
  hand the surviving candidates to ``_fold_blocks``.
- ``_fold_blocks`` — the one exact fold over block arrays: select blocks
  (all, or those holding a candidate), decode them in doc-id windows of
  at most ``DECODE_MAX_POSTINGS`` postings, fold each ascending-term with
  ``_fold`` into a running top-k; a single window reads and fills the
  reader's decoded-term memo.

``_fold`` sums in one ``np.bincount``, into a direct array over the doc
span (≤ ``_DENSE_SLOTS_PER_POSTING`` slots per posting) or over the
distinct docs; ``_top`` selects every top-k above a sampled kth floor.

Bounds are inflated by 1+1e-9 (``_UB_SAFETY``) so float rounding can never
stop a decode that a true top-k doc still needs → every kernel is EXACT.

One caller: ``IndexReader.search(text, k)`` — tokenized with the index's
own vocabulary, blocks read with pyarrow, no Spark job per query. The
batch verb ``search_topk(spark, index_dir, queries, k)`` runs it inside
Spark tasks: each task searches its share of the query rows with a reader
cached in its Python worker.

Block rows carry their term's idf (denormalized at build), so no dictionary
lookup happens at query time; corpus stats ride in _meta.json.

Determinism: scores bit-identical to oracle.BM25Oracle — per-doc partials
idf·w summed in ascending-term order; tie-break (score DESC, doc_id ASC).
"""

from __future__ import annotations

import dataclasses
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


def _member(docs: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """True where ``docs`` holds one of ``ids`` (sorted, unique, non-empty)
    — the membership test of every tombstone mask and of the fold's
    candidate filter.

    A long chunk of dense ids looks each doc up in a table over the
    ids' range, no longer than 32 slots per doc; anything else
    takes one binary search per doc. On 600k dense docs with 300
    tombstones the table took 3-6 ms of a 4096-block chunk (decode
    24-54 ms) where the search took 6-12 ms, and the search 3× less than
    the table at 8 blocks; on hash ids the search wins at every length."""
    if len(docs) >= 8192 and int(ids[-1]) - int(ids[0]) <= 32 * len(docs):
        return np.isin(docs, ids, kind="table")
    j = np.searchsorted(ids, docs)
    np.minimum(j, len(ids) - 1, out=j)
    return ids[j] == docs


_DECODE_CHUNK_BLOCKS = 4096
# a fold sums over its lists' doc span when it has at most this many slots
# per posting, else over their distinct docs: folding three random lists,
# the span was faster up to ~24 slots per posting at 30k postings, ~32 at
# 3k-10k and past 64 at 300 or fewer (and 5-10× slower at 64 from 10k up)
_DENSE_SLOTS_PER_POSTING = 32


@dataclasses.dataclass(slots=True)
class _Term:
    """One term's fetched blocks as columns, one element per block: numpy
    ``n``, ``first_doc``, ``last_doc`` and ``max_w``, and the vByte
    payloads ``docs``, ``tfs`` and ``dls`` as Arrow binary arrays."""

    term: str
    idf: float
    postings: int  # n.sum()
    n: np.ndarray
    first_doc: np.ndarray
    last_doc: np.ndarray
    max_w: np.ndarray
    docs: pa.BinaryArray
    tfs: pa.BinaryArray
    dls: pa.BinaryArray

    @property
    def nbytes(self) -> int:  # the raw cache's charge: 4 arrays, 3 binary
        cols = (self.docs, self.tfs, self.dls)
        return 44 * len(self.n) + sum(c.total_values_length for c in cols)


def _payload(col: pa.BinaryArray, sel: np.ndarray) -> pa.Buffer:
    """The bytes of the elements of ``col`` at positions ``sel``, back to
    back: a slice of the data buffer of ``col`` (when ``sel`` ascends by
    one, as a whole term's or a window's blocks do) or of a ``take`` (in
    ``sel``'s order, as the impact-ordered early stop picks them)."""
    first = int(sel[0])
    run = bool((np.diff(sel) == 1).all())
    col = col.slice(first, len(sel)) if run else col.take(sel)
    _, offsets, data = col.buffers()
    start = np.frombuffer(offsets, np.int32, 1, 4 * col.offset)[0]
    return data.slice(int(start), col.total_values_length)


def _decode_blocks(picks: list, bm25: tuple):
    """Batch-decode the blocks ``picks`` = [(term, block positions)] →
    (docs, w), concatenated in pick order: several terms' blocks per
    decode call, each payload passed as one buffer per term.

    A call holds at most ``_DECODE_CHUNK_BLOCKS`` blocks: vbyte_decode's
    general path allocates several #bytes-sized temporaries, and a
    Zipf-head term's single-shot decode (millions of postings) was measured
    ~4× slower than in 4096-block chunks (memory traffic, not ALU)."""
    pieces = [
        (t, sel[i : i + _DECODE_CHUNK_BLOCKS])
        for t, sel in picks for i in range(0, len(sel), _DECODE_CHUNK_BLOCKS)
    ]
    docs, w = [], []
    while pieces:
        call, size = [], 0
        while pieces and size + len(pieces[0][1]) <= _DECODE_CHUNK_BLOCKS:
            size += len(pieces[0][1])
            call.append(pieces.pop(0))
        d, tfs, dls = decode_posting_blocks_batch(
            *([_payload(getattr(t, c), sel) for t, sel in call]
              for c in ("docs", "tfs", "dls")),
            np.concatenate([t.n[sel] for t, sel in call]),
        )
        docs.append(d)
        w.append(impact_weights(tfs, dls, *bm25))
    return np.concatenate(docs), np.concatenate(w)


# the most postings a scorer decodes at once (~16 B/posting decoded, so
# 250M ⇒ ≤ 4 GB) and the most slots of a score array (8 B/slot): a fold
# and the multi-term stop use a direct array over the doc span a query
# touches only up to this many slots, so a dense-id index with more docs
# folds sparse and skips the multi-term stop.
DECODE_MAX_POSTINGS = 250_000_000


def taat_topk(
    terms: list[_Term], k: int, bm25: tuple, deleted=None,
    memo: _ByteCache | None = None, log: dict | None = None,
) -> list[tuple[int, int, float]]:
    """Vectorized exact term-at-a-time scorer over a query's fetched terms
    (distinct, as ``IndexReader._fetch_rows`` returns them) — the one
    function that picks a kernel.

    - every term in ``memo`` (decoded terms kept across queries) and at
      most ``DECODE_MAX_POSTINGS`` postings: _fold_blocks folds the
      memoized lists;
    - otherwise, when the query has more blocks than one decode chunk or
      more postings than ``DECODE_MAX_POSTINGS``, the block-max early stop
      (_taat_stop): for one term always — a Zipf-head list stops once k
      docs beat idf·(best undecoded max_w) — and for several past
      ``MULTI_TAAT_EARLY_MIN_POSTINGS`` postings over a doc span of at
      most ``DECODE_MAX_POSTINGS`` (below it a full vectorized decode
      beats the stop's bookkeeping — a sum-of-remaining-UBs stop with no
      candidate phase was measured NET-SLOWER at 6.4M docs);
    - anything else: _fold_blocks over every block, in doc-id windows past
      ``DECODE_MAX_POSTINGS`` postings; in one window each list is read
      from ``memo`` or decoded whole and remembered there, so a query
      within one chunk is warm the next time.

    ``deleted``: the sorted tombstones; None or empty when there are none.
    ``log``, when given, receives ``kernel`` — ``memo`` (nothing decoded),
    ``fold`` (one window), ``windows``, ``stop`` (closed early) or
    ``stop_open`` (decoded every block) — and ``decoded_blocks``, the
    blocks this call decoded. Returned scores always accumulate
    ascending-term (the oracle's float64 association); top-k via ``_top``
    and a lexsort with the (score DESC, doc ASC) tie-break."""
    log = {} if log is None else log
    log.update(kernel=None, decoded_blocks=0)
    if not terms or k < 1:
        return []
    terms = sorted(terms, key=lambda t: t.term)
    if deleted is not None and not len(deleted):
        deleted = None
    bound = DECODE_MAX_POSTINGS
    total = sum(t.postings for t in terms)
    one_window = total <= bound
    warm = one_window and memo is not None and all(t.term in memo for t in terms)
    if not warm and (not one_window or sum(len(t.n) for t in terms) > _DECODE_CHUNK_BLOCKS):
        if len(terms) == 1:
            return _taat_stop(terms, k, bm25, deleted, log)
        if total > MULTI_TAAT_EARLY_MIN_POSTINGS:
            lo = min(int(t.first_doc.min()) for t in terms)
            if max(int(t.last_doc.max()) for t in terms) + 1 - lo <= bound:
                return _taat_stop(terms, k, bm25, deleted, log)
    return _fold_blocks(terms, k, bm25, deleted, log, memo=memo)


def _fold(decoded: list, k: int, universe, deleted=None):
    """Exact top-k of per-term postings ``decoded`` = [(docs, idf·w)] in
    ASCENDING-TERM order, without the sorted tombstones ``deleted``, in one
    pass: the lists are concatenated in that order and summed by one
    ``np.bincount``, whose bins add their weights in input order from 0.0
    — the oracle's float64 association, bit for bit. One list holds each
    doc once: its partials are its scores, with no accumulator.

    ``universe`` says which docs get a score slot:
    - (lo, hi), the lists' doc span: a direct array over it (doc_id - lo
      IS the slot) when it has at most ``_DENSE_SLOTS_PER_POSTING`` slots
      per posting, else the distinct docs — sized by the postings, never
      by a sparse span;
    - a sorted doc-id ndarray: those docs only, the postings of others
      dropped before the fold (_taat_stop's candidate set);
    - None: the distinct docs.

    Tombstones are zeroed once, after accumulation, so no live doc's sum
    is touched. BM25 partials are > 0, so score 0 ⇔ no query term matched
    (reference invariant tests/test_search.py:41-44)."""
    docs, w = decoded[0] if len(decoded) == 1 else map(np.concatenate, zip(*decoded))
    if isinstance(universe, np.ndarray):
        if not len(universe):
            return []
        m = _member(docs, universe)
        docs, w = docs[m], w[m]
        universe = (int(universe[0]), int(universe[-1]) + 1)
    lo, hi = universe or (0, 0)
    if len(decoded) > 1 and 0 < hi - lo <= _DENSE_SLOTS_PER_POSTING * len(docs):
        w = np.bincount(docs - lo, w, hi - lo)
        if deleted is not None:  # the tombstones inside [lo, hi)
            a, b = np.searchsorted(deleted, universe)
            w[deleted[a:b] - lo] = 0.0
        return _topk_from_arrays(lo, w, k)
    if len(decoded) > 1:
        docs, slot = np.unique(docs, return_inverse=True)
        w = np.bincount(slot, w)
    if deleted is not None:
        w = np.where(_member(docs, deleted), 0.0, w)
    return _topk_from_arrays(docs, w, k)


def _doc_windows(firsts, lasts, ns, bound: int) -> list[tuple[int, int]]:
    """Cut the doc-id span of blocks (first_doc, last_doc, n arrays) into
    half-open windows [lo, hi) at block boundaries (first_doc, last_doc+1),
    greedily widest such that the blocks overlapping a window hold at most
    ``bound`` postings. No window is narrower than one gap between
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
        j = int(np.searchsorted(started, ended[i] + bound, "right")) - 1
        j = min(max(j, i + 1), end)
        windows.append((int(cuts[i]), int(cuts[j])))
        i = j
    return windows


def _fold_blocks(terms, k: int, bm25: tuple, deleted, log: dict, cand=None, memo=None):
    """Exact top-k of ``terms`` (distinct and in ascending term order, as
    taat_topk sorts them: the fold order is the oracle's) over their
    blocks: all of them, or, given the sorted doc ids ``cand``, the blocks
    whose [first_doc, last_doc] holds a candidate, every other doc dropped
    (_taat_stop's re-score).

    The selection is cut into doc-id windows (_doc_windows) — one unless it
    holds more than ``DECODE_MAX_POSTINGS`` postings, so decoded memory
    stays bounded. Each window decodes in ONE call and folds ascending-term
    (_fold), and the folds' top-k merge. Windows are doc-disjoint, so each
    doc's score is complete inside its window and bit-identical to the
    single-pass fold; a window's top-k holds every doc of the global top-k
    that lies in it. A window that decodes more postings than the
    bound (a gap between block boundaries can) folds in slices of at most
    that many distinct docs, so no score array outgrows the bound.

    In a single window a list in ``memo`` is not decoded, and a list
    decoded whole is remembered there as (docs, idf·w, min doc,
    max doc + 1) in arrays of its own, not views of the shared decode."""
    bound = DECODE_MAX_POSTINGS
    if cand is None:  # every block: made only when a list is decoded
        sels, postings = None, sum(t.postings for t in terms)
    else:
        sels = [np.flatnonzero(
            np.searchsorted(cand, t.last_doc, side="right")
            > np.searchsorted(cand, t.first_doc, side="left")
        ) for t in terms]
        postings = sum(int(t.n[s].sum()) for t, s in zip(terms, sels))
    windows = [None]
    if postings > bound:
        sels = sels or [np.arange(len(t.n)) for t in terms]
        # term i's selected blocks are [starts[i], starts[i + 1]) of these
        starts = np.cumsum([0] + [len(s) for s in sels])
        blk = np.concatenate(sels)
        firsts, lasts, ns = (
            np.concatenate([getattr(t, c)[s] for t, s in zip(terms, sels)])
            for c in ("first_doc", "last_doc", "n")
        )
        windows = _doc_windows(firsts, lasts, ns, bound)
    found = []  # each fold's top-k
    for win in windows:
        picks, got = sels, [None] * len(terms)
        if win is not None:  # the selected blocks overlapping the window
            sel = np.flatnonzero((firsts < win[1]) & (lasts >= win[0]))
            at = np.searchsorted(sel, starts)
            picks = [blk[sel[a:b]] for a, b in zip(at[:-1], at[1:])]
        elif memo is not None:
            got = [memo.get(t.term) for t in terms]
        todo = [i for i, e in enumerate(got) if e is None and (picks is None or len(picks[i]))]
        if todo:
            picks = picks or [np.arange(len(t.n)) for t in terms]
            docs, w = _decode_blocks([(terms[i], picks[i]) for i in todo], bm25)
            log["decoded_blocks"] += sum(len(picks[i]) for i in todo)
            ends = np.cumsum([int(terms[i].n[picks[i]].sum()) for i in todo])
            if win is not None:  # the window's postings only
                m = (docs >= win[0]) & (docs < win[1])
                ends = np.cumsum(m)[ends - 1]
                docs, w = docs[m], w[m]
            for i, a, b in zip(todo, [0, *ends[:-1].tolist()], ends.tolist()):
                t, d = terms[i], docs[a:b]
                keep = win is None and memo is not None and len(picks[i]) == len(t.n)
                if keep and len(todo) > 1:  # its own array, not a view of the decode
                    d = d.copy()
                got[i] = e = (d, t.idf * w[a:b], *(win or (int(d.min()), int(d.max()) + 1)))
                if keep:
                    memo.put(t.term, e, d.nbytes + e[1].nbytes + 64)
        got = [e for e in got if e is not None]
        if not got:
            continue
        # the docs the lists span: the window, or their own min and max
        cuts = [min(e[2] for e in got), max(e[3] for e in got)]
        if win is not None and len(docs) > bound:
            cuts[1:1] = np.unique(docs)[bound::bound].tolist()
        for a, b in zip(cuts, cuts[1:]):
            part = [e[:2] for e in got]
            if len(cuts) > 2:
                part = [(d[m], pw[m]) for d, pw in part for m in [(d >= a) & (d < b)]]
            universe = (
                cand[(cand >= a) & (cand < b)] if cand is not None
                else (a, b) if b - a <= bound else None
            )
            found.append(_fold(part, k, universe, deleted=deleted))
    log["kernel"] = (
        "windows" if len(windows) > 1 else "fold" if log["decoded_blocks"] else "memo"
    )
    if len(found) == 1:
        return found[0]
    best = sorted((h for hits in found for h in hits), key=lambda e: (-e[2], e[1]))
    return [(r, d, s) for r, (_, d, s) in enumerate(best[:k], 1)]


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


def _taat_stop(terms: list[_Term], k: int, bm25: tuple, deleted, log: dict):
    """Exact top-k of ``terms`` (distinct and in ascending term order, as
    taat_topk sorts them) with the block-max early stop.

    Each term's blocks are ordered by max_w, descending, and one stable
    order by idf·max_w runs across all terms (for one term it is the
    term's own order). Chunks of ``_DECODE_CHUNK_BLOCKS`` blocks of it
    decode in one call each. rem = Σ_t idf_t · (max_w of t's best
    undecoded block) bounds how much ANY doc's score can still grow (each
    doc has ≤1 posting per term). Tombstoned docs are masked per chunk,
    BEFORE a threshold is taken: a deleted doc holding the kth slot would
    inflate it and stop the decode while live docs that belong in the
    page are still undecoded.

    - One term: a decoded doc's partial IS its exact score. A running
      top-k (the docs at or above the kth score plus the new chunk, so
      memory is one chunk, not the list) stops once rem < the kth score.
    - Several terms, over a doc span that fits one direct array: a bound
      accumulator offset by the span's low end sums the partials in
      impact order — the exact fold's addends, so it differs from exact
      scores only in addition order (last-ulp) and serves ONLY the
      bounds, with the 1+1e-9 margins on both sides absorbing that noise.
      θ̃ = kth-best accumulated score over a pool of the first chunk's
      docs (frozen: a weaker pool only DELAYS the stop). Once rem < θ̃ no
      doc outside C = {d : acc[d] + rem ≥ θ̃} can reach the top-k; when C
      is small the decode stops. A set too broad is scanned again only
      once rem has halved, and never after ``_TAAT_MAX_CAND_SCANS``
      scans; a decode that runs to the end takes C from the full
      accumulator (rem = 0, margins keep every boundary tie). Either way
      _fold_blocks re-scores C EXACTLY, decoding only the blocks that
      hold a member — one scatter in the worst case, never a second full
      accumulation. Its fold also masks the tombstones: a threshold ≤ 0
      admits accumulator-0 docs, tombstones among them."""
    orders = [np.argsort(-t.max_w, kind="stable") for t in terms]
    flat_ti = np.repeat(np.arange(len(terms)), [len(o) for o in orders])
    flat_blk = np.concatenate(orders)
    order = np.argsort(-np.concatenate(
        [t.idf * t.max_w[o] for t, o in zip(terms, orders)]
    ), kind="stable")
    ptr = np.zeros(len(terms), dtype=np.int64)  # blocks decoded per term
    dense = kept = pool = cand = None
    if len(terms) > 1:
        lo = min(int(t.first_doc.min()) for t in terms)
        dense = np.zeros(max(int(t.last_doc.max()) for t in terms) + 1 - lo)
    next_check_rem, cand_scans, i = float("inf"), 0, 0
    while True:
        chunk = order[i : i + _DECODE_CHUNK_BLOCKS]
        i += len(chunk)
        cti = flat_ti[chunk]
        ptr += np.bincount(cti, minlength=len(terms))
        picks = [
            (terms[ti], flat_blk[chunk[cti == ti]])
            for ti in np.unique(cti).tolist()  # ascending term
        ]
        docs, w = _decode_blocks(picks, bm25)
        log["decoded_blocks"] += len(chunk)
        ends = np.cumsum([int(t.n[s].sum()) for t, s in picks])
        if deleted is not None:
            live = ~_member(docs, deleted)
            ends = np.cumsum(live)[ends - 1]
            docs, w = docs[live], w[live]
        segs = [slice(a, b) for a, b in zip([0, *ends[:-1].tolist()], ends.tolist())]
        for (t, _), seg in zip(picks, segs):
            w[seg] *= t.idf  # w is now the partials idf·w
        if dense is None:
            if kept is not None:
                docs = np.concatenate((kept[0], docs))
                w = np.concatenate((kept[1], w))
        else:
            slots = docs - lo
            # one term's segment at a time: dense[slots] += w applies only
            # one of a repeated slot, and a doc repeats when two of its
            # terms share a chunk
            for seg in segs:
                dense[slots[seg]] += w[seg]
            if pool is None:
                pool = np.unique(slots[_top(w, _TAAT_POOL_MAX)[1]])
        if i >= len(order):
            break
        rem = sum(t.idf * t.max_w[o[p]]
                  for t, o, p in zip(terms, orders, ptr.tolist()) if p < len(o))
        if dense is None:
            kth, at = _top(w, k)
            docs, w = docs[at], w[at]
            if rem * _UB_SAFETY < kth:
                break  # no undecoded doc can reach (or tie) the kth score
            kept = (docs, w)
        elif cand_scans < _TAAT_MAX_CAND_SCANS:
            theta = _top(dense[pool], k)[0]
            if theta > 0.0 and rem * _UB_SAFETY < theta and rem <= next_check_rem:
                cand = np.flatnonzero(
                    dense >= theta / _UB_SAFETY - rem * _UB_SAFETY
                ) + lo
                if len(cand) <= _TAAT_CAND_MAX:
                    break
                # still too broad: decode on, scan again once the bound
                # has tightened, and give up after a few scans (flat impact
                # distributions never close the set)
                cand_scans += 1
                next_check_rem = rem * 0.5
    kernel = "stop" if i < len(order) else "stop_open"
    if dense is None:
        hits = _topk_from_arrays(docs, w, k)
    else:
        if i >= len(order):  # C from the fully decoded accumulator
            kth = _top(dense, k)[0]
            cand = np.flatnonzero(
                dense >= kth / _UB_SAFETY if kth > 0.0 else dense > 0.0
            ) + lo
        hits = _fold_blocks(terms, k, bm25, deleted, log, cand=cand)
    log["kernel"] = kernel
    return hits


def _top(scores: np.ndarray, k: int) -> tuple[float, np.ndarray]:
    """(kth, at): the kth largest score > 0 (0.0 when fewer than k are)
    and the positions of the scores > 0 at or above it, every tie at the
    kth included — the kernels' one top-k selection. The kth largest of a
    strided sample of ~sqrt(k·n) scores is a floor never above the true
    kth, so only the scores at or above it are partitioned; a floor ≤ 0
    (mostly empty slots) keeps the scores > 0 instead."""
    floor, stride = 0.0, int(np.sqrt(len(scores) // k))
    if stride > 1:
        sample = scores[::stride]
        floor = np.partition(sample, len(sample) - k)[len(sample) - k]
    at = np.flatnonzero(scores >= floor if floor > 0.0 else scores > 0.0)
    if len(at) < k:
        return 0.0, at
    s = scores[at]
    kth = np.partition(s, len(s) - k)[len(s) - k]
    return kth, at[s >= kth]


def _topk_from_arrays(docs, scores: np.ndarray, k: int):
    """(score DESC, doc ASC) top-k of the docs scoring > 0: ``docs`` and
    ``scores`` are parallel arrays, or ``docs`` is the id of slot 0 of a
    direct score array. Boundary ties are kept through the kth score, so
    the doc_id tie-break stays exact."""
    at = _top(scores, k)[1]
    ids = at + docs if isinstance(docs, int) else docs[at]
    order = np.lexsort((ids, -scores[at]))[:k]
    return list(zip(range(1, k + 1), ids[order].tolist(), scores[at[order]].tolist()))


# ---------------------------------------------------------------------------
# the reader: one query at a time, no Spark job
# ---------------------------------------------------------------------------


class _ByteCache(dict):
    """A dict within ``max_bytes``: ``put`` evicts the oldest entries (FIFO)
    until the new one fits, and keeps no value larger than the whole budget
    — caching it would empty the cache and still overflow it; the caller
    holds its own reference for the query in flight."""

    def __init__(self, max_bytes: int):
        super().__init__()
        self.max_bytes = max_bytes
        self.nbytes = 0
        self._sizes: dict = {}

    def put(self, key, value, nbytes: int) -> None:
        if nbytes > self.max_bytes:
            return
        while self.nbytes + nbytes > self.max_bytes:
            old = next(iter(self))
            del self[old]
            self.nbytes -= self._sizes.pop(old)
        self[key] = value
        self._sizes[key] = nbytes
        self.nbytes += nbytes


class IndexReader:
    """Warm handle on an index for low-latency interactive search.

    Blocks are read directly with pyarrow — shard-dir partition pruning
    plus term row-group skipping, zero Spark jobs per query (the reference
    serves interactive search from a resident AnnLite index the same way,
    retriever.md:117-136). Works wherever the driver or an executor can
    read the index store (local disk here; object store on a cluster).
    The leading ``spark`` argument is unused and kept only for call-site
    compatibility; pass None.

    Each query is one ``taat_topk`` call over its fetched terms, each a
    ``_Term`` of block arrays. Fetched terms and fully decoded terms are
    memoized across queries (head terms repeat), and both survive a
    delete-only refresh(): tombstones are masked at use, so live deletes
    never cost a re-fetch or re-decode. Batches of queries belong on
    search_topk, whose Spark tasks each run this reader's search over
    their rows."""

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
        self._snapshot = None
        self._tombstones = None
        self.refresh()

    def refresh(self) -> None:
        """Pick up the delete_docs() calls made since the last refresh (the
        snapshot posture of AnnReader.refresh), and reload the index itself
        only if it changed.

        Only tombstone files this reader has not read are read
        (IndexStorage.deleted_doc_ids): a refresh costs per new file.

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
        # merge-on-read doc deletes: masked out by every scorer at use; the
        # raw and decoded caches stay unfiltered
        self._tombstones = self.store.deleted_doc_ids(self._tombstones)
        self._deleted_arr = self._tombstones[1]

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
        with empty term caches."""
        import json

        meta = json.loads(snapshot[1])
        check_block_format(meta, self.store.root)
        self.meta = meta
        self._bm25 = bm25_params(meta)
        # both caches are BYTE-budgeted, not entry-counted: Zipf-head terms
        # are exactly the entries that repeat AND are the largest (millions
        # of postings each), so an entry cap alone lets a long-lived reader
        # grow to many GB. Eviction is FIFO (dict order) — an LRU buys
        # little when the hot set is the Zipf head.
        # _fetch_rows: a _Term per term found, None per term not found
        self._term_rows_cache = _ByteCache(self.RAW_CACHE_MAX_BYTES)
        # decoded-term memo (taat_topk): head terms repeat, and decode
        # dominates warm latency — (docs, idf·w, min doc, max doc + 1) per
        # fully decoded term, ~16 B/posting
        self._decoded_cache = _ByteCache(self.DECODED_CACHE_MAX_BYTES)
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

    def _fetch_rows(self, terms: list[str]) -> list[_Term]:
        """The ``_Term`` of each of ``terms`` found in the index, in term
        order: cached ones from the raw cache, the rest read
        (``_read_terms``) and remembered there (a term not found as None)."""
        cache = self._term_rows_cache
        got = {t: cache[t] for t in terms if t in cache}
        missing = [t for t in terms if t not in got]
        if missing:
            read = self._read_terms(missing)
            for t in missing:
                got[t] = entry = read.get(t)
                cache.put(t, entry, entry.nbytes if entry else 0)
        return [got[t] for t in terms if got[t] is not None]

    def _read_terms(self, names: list[str]) -> dict[str, _Term]:
        """{name: _Term} for each of ``names`` in the index, read in one pass
        over the row groups whose term range holds one of them. A term's
        blocks are copied out of the read: a slice would keep the whole
        read alive while the raw cache charges only the term."""
        import pyarrow.compute as pc

        parts = []
        for s in sorted({term_shard(t, self.meta["n_shards"]) for t in names}):
            for pf, stats in self._pq_files.get(s, []):
                rgs = [i for i, (mn, mx) in enumerate(stats)
                       if mn is None or any(mn <= t <= mx for t in names)]
                if rgs:
                    parts.append(pf.read_row_groups(rgs, columns=[
                        "term", "n", "first_doc", "last_doc", "max_w", "idf",
                        "docs", "tfs", "dls",
                    ], use_threads=True))
        if not parts:
            return {}
        tbl = pa.concat_tables(parts)
        pos = pc.index_in(tbl["term"], value_set=pa.array(names))
        pos = pc.fill_null(pos, -1).to_numpy()
        runs: dict[str, list] = {}  # usually one: a term's blocks sit in one file
        starts = np.flatnonzero(np.diff(pos, prepend=-2))
        for a, b in zip(starts.tolist(), [*starts[1:].tolist(), len(pos)]):
            if pos[a] >= 0:
                runs.setdefault(names[pos[a]], []).append((a, b))
        n = tbl["n"].to_numpy().astype(np.int64)
        arrays = [n, *(tbl[c].to_numpy() for c in ("first_doc", "last_doc", "max_w"))]
        payloads = [tbl[c] for c in ("docs", "tfs", "dls")]
        idf = tbl["idf"].to_numpy()
        return {t: _Term(
            t, float(idf[spans[0][0]]), sum(int(n[a:b].sum()) for a, b in spans),
            *(np.concatenate([x[a:b] for a, b in spans]) for x in arrays),
            *(pa.concat_arrays([
                c for a, b in spans for c in col.slice(a, b - a).chunks
            ]) for col in payloads),
        ) for t, spans in runs.items()}

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

        Per-call phase timings (tokenize / block fetch / score), with the
        kernel that ran and the blocks it decoded (taat_topk's ``log``),
        append to ``self.query_log`` — the query-side analog of build_log lineage
        (reference client.py:68-120 reports roundtrip/gateway/model timing
        per call the same way); ``profile_summary()`` aggregates."""
        t0 = time.perf_counter()
        terms = sorted(set(self._tokenize_query(text)))
        t_tok = time.perf_counter()
        entry = {
            "n_terms": len(terms), "strategy": None,
            "n_blocks": 0, "n_postings": 0, "kernel": None, "decoded_blocks": 0,
            "tokenize_ms": 1000 * (t_tok - t0),
            "fetch_ms": 0.0, "score_ms": 0.0, "total_ms": 0.0,
        }
        if not terms:
            self._log_query(entry)
            return []
        fetched = self._fetch_rows(terms)
        t_fetch = time.perf_counter()
        entry["fetch_ms"] = 1000 * (t_fetch - t_tok)
        entry["n_blocks"] = sum(len(t.n) for t in fetched)
        entry["n_postings"] = sum(t.postings for t in fetched)
        if not fetched:
            entry["total_ms"] = 1000 * (time.perf_counter() - t0)
            self._log_query(entry)
            return []
        entry["strategy"] = "taat"
        out = taat_topk(
            fetched, k, self._bm25, deleted=self._deleted_arr,
            memo=self._decoded_cache, log=entry,
        )
        t_score = time.perf_counter()
        entry["score_ms"] = 1000 * (t_score - t_fetch)
        entry["total_ms"] = 1000 * (t_score - t0)
        self._log_query(entry)
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

        ds = self.store.dataset("positions")
        shards = sorted({term_shard(t, self.meta["n_shards"]) for t in terms})
        tbl = ds.to_table(
            filter=pc.field("shard").isin(shards)
            & pc.field("term").isin(sorted(set(terms))),
            columns=["term", "doc_id", "pos"],
        )
        term_arr = np.asarray(tbl.column("term"))
        doc_arr = np.asarray(tbl.column("doc_id"), dtype=np.int64)
        pos_arr = np.asarray(tbl.column("pos"), dtype=np.int64)
        if len(self._deleted_arr):
            live = ~_member(doc_arr, self._deleted_arr)
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
    if queries.columns != ["query_id", "text"]:  # a select costs ~6 ms of py4j
        queries = queries.select("query_id", "text")
    return queries.mapInArrow(
        functools.partial(_search_batches, index_dir=store.root, k=k),
        from_arrow_schema(TOPK_SCHEMA),
    )


# the reader a Python worker keeps between tasks: the last index it searched
_task_reader: IndexReader | None = None
# queries per term fetch: a row group is read once per chunk, not per query
FETCH_CHUNK_QUERIES = 64


def _search_batches(batches, index_dir: str, k: int):
    """mapInArrow body of search_topk: (query_id, text) batches →
    TOPK_SCHEMA batches. The worker's reader is reused if it holds
    ``index_dir`` and refreshed first, so each task sees the deletes and
    rebuilds made before it."""
    global _task_reader
    reader = _task_reader
    if reader is None or reader.store.root != index_dir:
        reader = _task_reader = IndexReader(None, index_dir)
    else:
        reader.refresh()
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
