#!/usr/bin/env python3
"""Engine benchmark: one seeded workload per run, every answer checked
against ``oracle.BM25Oracle``.

    python3 perfbench/run.py --workload {interactive,batch} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Human-readable lines start with ``#``; the
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer metrics
(spans around each package call plus Spark's event log) together with the
tracing overhead: a traced window alternates untraced and traced operations,
and the overhead is the difference between the two halves.

Scratch files live under ``.perfbench/`` in the repository root: one
working directory per run (removed at exit), the oracle answers per seed
and corpus size (``cache/``) and span dumps of traced runs (``traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The package defaults to a 48g heap and /dev/shm spill space, both sized
# for a large host; this benchmark fits a 4-core, 15 GB one.
DRIVER_HEAP = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["interactive", "batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Heap, spill and temp directories of this process and the JVM it
    starts, all inside the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    # -XX:+UseSerialGC: the serial collector sizes the heap by occupancy
    # alone, where G1 also reacts to pause times; with G1 the JVM's peak RSS
    # of the same batch run spread by 0.14 (quartile distance over median)
    # between seeds, with the serial collector by 0.03. It also runs no
    # GC threads beside the four task threads.
    java_opts = f"-Xss16m -XX:-UsePerfData -XX:+UseSerialGC -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        # set-up warms with the workload's own calls instead
        "SPARK_GRAFT_WARMUP": "0",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    })
    tempfile.tempdir = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clip_as_service_spark", "__init__.py")):
        print(f"perfbench: no clip_as_service_spark package under {ROOT}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")

    work = os.path.join(state, f"run-{os.getpid()}")
    configure_env(work)
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS, Run

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
              work, os.path.join(state, "cache"))
    try:
        t0 = time.perf_counter()
        run.start_session()
        try:
            WORKLOADS[args.workload](run, t0)
        finally:
            run.stop_session()
        if args.trace:
            stage_rows = tracing.fold_event_log(
                tracing.read_event_log(os.path.join(work, "eventlog"))
            )
            run.event_log_layers(stage_rows)
            run.tracer.write(
                os.path.join(state, "traces", f"{args.workload}-s{args.seed}.jsonl"), stage_rows
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("# host " + " ".join(f"{k}={v}" for k, v in run.host.items()))
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} ops={run.n_ops}")
    for name, value, unit, note in run.report:
        print(f"# {name} = {value:.6g} {unit}  ({note})")
    print(f"# failed_frac = {run.failed / max(run.attempted, 1):.6g}  "
          f"({run.failed} of {run.attempted} operations)")
    for name, (value, unit) in run.e2e.items():
        print(f"# e2e {name} = {value:.6g} {unit}")
    metrics = run.e2e
    if args.trace:
        for name, (value, unit) in run.layers.items():
            print(f"# layer {name} = {value:.6g} {unit}")
        metrics = run.layers
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
