"""A/B timing of the in-memory scoring kernels on a large index, in one
process: this checkout against a second checkout of the package.

The perfbench corpus (5,000 pages) is too small to reach the early stops
or the windowed fold, so this script builds, once, a 600k-page
``dense_sorted`` index with two head terms:

- ``alpha`` in 80% of the pages (480k postings),
- ``beta`` in every page (600k postings),

with term frequencies and page lengths that vary from page to page, and
a tail of long pages holding each term once, whose blocks have the
lowest block-max weights — so the stop on ``beta`` closes after one
decode chunk.

Both checkouts are imported into this process under distinct module
names (timings of separate processes read 10-20% apart depending on
their run order). Every call gets its own empty decoded-term memo, as a
reader's first search of the query does, so every call is cold except
``alpha_warm``'s. Each round runs every case in turn on both sides,
alternating which side goes first call by call:

- ``alpha``: one term within one decode chunk (3,754 blocks), which a
  reader folds whole and memoizes (an older checkout may run the stop);
- ``alpha_warm``: ``alpha`` again with the memo its first call filled,
  only the second call timed;
- ``beta``: the single-term early stop (4,693 blocks, past one chunk);
- ``multi_stop``: "alpha beta" with the multi-term stop's postings
  threshold forced to 0;
- ``full_decode``: "alpha beta" at the default thresholds (one fold);
- ``windows``: "alpha beta" with ``DECODE_MAX_POSTINGS`` forced to
  ``--window-bound`` postings, below the terms' span, so the fold runs in
  doc-id windows;
- ``sparse_pair``: two synthetic 100-posting lists, each drawn from the
  first and last 500 doc ids, handed straight to ``_fold`` with their
  600k-id span as the universe — the accumulator a sparse query needs.

Both sides must return identical answers. One JSON line is printed:
per case, each side's median ms per round, and this side's kernel and
decoded blocks (from ``taat_topk``'s log).

    python tools/kernel_ab.py --index /tmp/ab_index --other /path/to/checkout \\
        --rounds 3 --calls 15
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import importlib.util
import inspect
import json
import os
import statistics
import sys
import time
from unittest import mock

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 600_000
K = 10
CASES = ("alpha", "alpha_warm", "beta", "multi_stop", "full_decode", "windows", "sparse_pair")


def build_index(out: str) -> None:
    """The 600k-page index: page i holds ``beta`` 1 + i % 3 times,
    ``alpha`` 1 + i % 4 times unless i % 5 == 0, and ``filler``
    2 + (i·7919) % 23 times; each of the last 100k pages holds the two
    terms once and ``filler`` 40 times."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from clip_as_service_spark.operators import index_build
    from clip_as_service_spark.session import get_spark

    spark = get_spark(app_name="kernel_ab", master="local[4]")
    try:
        i = F.col("id")
        tail = i >= N_PAGES - 100_000
        counts = {
            "beta": F.when(tail, 1).otherwise(1 + i % 3),
            "alpha": F.when(i % 5 == 0, 0).when(tail, 1).otherwise(1 + i % 4),
            "filler": F.when(tail, 40).otherwise(2 + (i * 7919) % 23),
        }
        pages = spark.range(N_PAGES, numPartitions=8).select(
            F.format_string("u%07d", i).alias("url"),
            F.array_join(F.concat(*(
                F.array_repeat(F.lit(word), n.cast("int")) for word, n in counts.items()
            )), " ").alias("text"),
        )
        index_build.build_index(spark, pages, out, doc_id_method="dense_sorted")
    finally:
        spark.stop()
        sys.path.remove(ROOT)


def load(checkout: str, name: str):
    """The ``operators.wand`` module of the package in ``checkout``,
    imported as ``name``."""
    pkg = os.path.join(checkout, "clip_as_service_spark")
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(pkg, "__init__.py"), submodule_search_locations=[pkg]
    )
    module = importlib.util.module_from_spec(spec)
    sys.modules[name] = module
    spec.loader.exec_module(module)
    return importlib.import_module(f"{name}.operators.wand")


class Side:
    """One checkout's reader over the index and its cases."""

    def __init__(self, wand, index: str):
        self.wand = wand
        self.reader = wand.IndexReader(None, index)
        self.terms = {t.term: t for t in self.reader._fetch_rows(["alpha", "beta"])}
        self.logs = "log" in inspect.signature(wand.taat_topk).parameters
        rng = np.random.default_rng(0)
        ends = np.r_[0:500, N_PAGES - 500 : N_PAGES]
        self.pair = [
            (np.sort(rng.choice(ends, 100, replace=False)), rng.random(100) + 0.1)
            for _ in range(2)
        ]

    def run(self, case: str, window_bound: int):
        w, t = self.wand, self.terms
        if case == "sparse_pair":
            lo = min(int(d[0]) for d, _ in self.pair)
            hi = max(int(d[-1]) for d, _ in self.pair) + 1
            t0 = time.perf_counter()
            hits = w._fold(self.pair, K, (lo, hi))
            return 1000 * (time.perf_counter() - t0), hits, {}
        forced = {
            "multi_stop": {"MULTI_TAAT_EARLY_MIN_POSTINGS": 0},
            "windows": {"DECODE_MAX_POSTINGS": window_bound},
        }.get(case, {})
        names = {"alpha": "alpha", "alpha_warm": "alpha", "beta": "beta"}.get(case, "alpha beta")
        terms = [t[name] for name in names.split()]
        memo = w._ByteCache(w.IndexReader.DECODED_CACHE_MAX_BYTES)
        log: dict = {}
        kw = {"log": log} if self.logs else {}
        with mock.patch.multiple(w, **forced) if forced else contextlib.nullcontext():
            if case == "alpha_warm":
                w.taat_topk(terms, K, self.reader._bm25, memo=memo)
            t0 = time.perf_counter()
            hits = w.taat_topk(terms, K, self.reader._bm25, memo=memo, **kw)
            ms = 1000 * (time.perf_counter() - t0)
        return ms, hits, log


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--index", required=True, help="index directory; built if absent")
    ap.add_argument("--other", required=True, help="path of the checkout to compare with")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--calls", type=int, default=15, help="cold calls per case, side and round")
    ap.add_argument("--window-bound", type=int, default=200_000)
    args = ap.parse_args(argv)
    if not os.path.isdir(args.index):
        build_index(args.index)
    sides = {
        "this": Side(load(ROOT, "ab_this"), args.index),
        "other": Side(load(os.path.abspath(args.other), "ab_other"), args.index),
    }
    out = {"index": {
        name: {"postings": t.postings, "blocks": len(t.n)}
        for name, t in sides["this"].terms.items()
    }}
    for case in CASES:
        out[case] = {"this_ms": [], "other_ms": []}
    for _ in range(args.rounds):
        for case in CASES:
            times: dict = {"this": [], "other": []}
            for c in range(args.calls):
                order = ("this", "other") if c % 2 == 0 else ("other", "this")
                got = {}
                for side in order:
                    ms, got[side], log = sides[side].run(case, args.window_bound)
                    times[side].append(ms)
                    if side == "this":
                        out[case].update(log)
                assert got["this"] == got["other"], case
            for side, ms in times.items():
                out[case][f"{side}_ms"].append(round(statistics.median(ms), 2))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
