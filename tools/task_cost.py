"""A/B timing of Spark's fixed cost per Python task: this checkout against
a second checkout of the package, each in its own Spark sessions.

A ``search_topk`` batch over the perfbench corpus is a few tens of ms of
searching inside one ``mapInArrow`` stage; the rest is the cost of
starting Python tasks and moving Arrow batches between the JVM and the
Python workers. This script times three small jobs whose wall time is
almost all of that cost:

- ``map_in_arrow``: an identity ``mapInArrow`` over a 4-row, 4-partition
  ``spark.range``;
- ``list_frame_count``: ``count()`` of a query DataFrame built from a
  Python list (214 rows, as perfbench's ``batch`` builds it), which runs
  one Python task per partition upstream of any plan over it;
- ``search_topk``: ``search_topk(...).collect()`` of those 214 queries over
  an index of 500 fixture pages, built once into ``--index`` by this
  checkout.

The session options (the Python worker transport among them) are fixed
when a session starts, so each side runs in its own processes: sessions
alternate this, other, other, this, ... Each session runs every job
``--warmup`` times untimed, then ``--repeats`` times timed, and reports
the median wall ms per job. One JSON line is printed: per job, each
side's per-session medians.

    python tools/task_cost.py --index /tmp/task_cost_index --other /path/to/checkout
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOBS = ("map_in_arrow", "list_frame_count", "search_topk")
N_PAGES = 500
N_SEEDED_QUERIES = 200  # make_queries adds 14 fixed queries


def session_medians(checkout: str, index: str, warmup: int, repeats: int) -> dict:
    """In one new session of the package in ``checkout``: the median wall
    ms of each job. Builds the index first if it is absent."""
    sys.path.insert(0, checkout)
    from clip_as_service_spark import fixtures
    from clip_as_service_spark.operators import index_build, wand
    from clip_as_service_spark.session import get_spark

    spark = get_spark(app_name="task_cost", master="local[4]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if not os.path.isdir(index):
            pages = fixtures.pages_spark_df(spark, N_PAGES, partitions=4)
            index_build.build_index(spark, pages, index, doc_id_method="dense_sorted")
        queries = [
            (i, q["text"])
            for i, q in enumerate(fixtures.make_queries(N_SEEDED_QUERIES, 42))
        ]
        qdf = spark.createDataFrame(queries, "query_id int, text string")
        tiny = spark.range(0, 4, 1, 4)

        def identity(batches):
            yield from batches

        jobs = {
            "map_in_arrow": lambda: tiny.mapInArrow(identity, tiny.schema).collect(),
            "list_frame_count": qdf.count,
            "search_topk": lambda: wand.search_topk(spark, index, qdf, k=10).collect(),
        }
        out = {}
        for name in JOBS:
            for _ in range(warmup):
                jobs[name]()
            ms = []
            for _ in range(repeats):
                t0 = time.perf_counter()
                jobs[name]()
                ms.append(1000 * (time.perf_counter() - t0))
            out[name] = round(statistics.median(ms), 1)
        return out
    finally:
        spark.stop()


def run_side(checkout: str, args) -> dict:
    """``session_medians`` of ``checkout`` in a new Python process."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--side", checkout,
         "--index", args.index, "--warmup", str(args.warmup), "--repeats", str(args.repeats)],
        capture_output=True, text=True, env=env, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--index", required=True, help="index directory; built if absent")
    ap.add_argument("--other", help="path of the checkout to compare with")
    ap.add_argument("--sessions", type=int, default=2, help="sessions per side")
    ap.add_argument("--warmup", type=int, default=3)
    ap.add_argument("--repeats", type=int, default=15)
    ap.add_argument("--side", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    args.index = os.path.abspath(args.index)
    if args.side:
        print(json.dumps(session_medians(args.side, args.index, args.warmup, args.repeats)))
        return 0
    if not args.other:
        ap.error("--other is required")
    sides = {"this": ROOT, "other": os.path.abspath(args.other)}
    out = {job: {"this_ms": [], "other_ms": []} for job in JOBS}
    for s in range(args.sessions):
        # this side first, so this checkout builds the index
        for side in ("this", "other") if s % 2 == 0 else ("other", "this"):
            medians = run_side(sides[side], args)
            for job in JOBS:
                out[job][f"{side}_ms"].append(medians[job])
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
