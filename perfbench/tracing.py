"""Spans around the benchmark's calls into the package, and the fold of
Spark's own event log into one row per tagged call.

A span has a name, a start, an end, a parent span and a request id; spans
are kept in memory and written out when the run ends. While a span is open
its id tags every Spark job the call submits (``setJobDescription``), so
``fold_event_log`` can attribute executor time, shuffle bytes, spill and
task counts of ``SparkListenerStageCompleted`` to that call.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

TAG_PREFIX = "perfbench:"

# SparkListenerStageCompleted accumulables folded per tagged call
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


class Tracer:
    """Span recorder; a disabled tracer records nothing and tags nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark_context = None  # set once the session exists

    def span(self, name: str, request=None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, request)

    @contextlib.contextmanager
    def _span(self, name: str, request):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {
            "id": sid, "name": name, "parent": parent,
            "request": sid if request is None else request,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, sid):
        if self.spark_context is not None:
            self.spark_context.setJobDescription(
                None if sid is None else f"{TAG_PREFIX}{sid}"
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, stage_rows: dict[int, dict]) -> None:
        """One JSON line per span, with its folded Spark stage metrics."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "spark": stage_rows.get(s["id"])}) + "\n")


def fold_calls(spans: list[dict], stage_rows: dict[int, dict], name: str) -> list[dict]:
    """Per span called ``name``: its seconds plus the stage totals of the
    jobs tagged by it or by any span under it."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        total = {"seconds": s["end"] - s["start"], "request": s["request"], "stages": 0}
        todo = [s["id"]]
        while todo:
            sid = todo.pop()
            todo.extend(children.get(sid, []))
            for key, value in stage_rows.get(sid, {}).items():
                total[key] = total.get(key, 0) + value
        out.append(total)
    return out


def read_event_log(log_dir: str):
    """Yield the JSON events of every event-log file under ``log_dir``
    (plain or zstd-compressed, single-file or rolling layout)."""
    import pyarrow as pa

    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    )
    for path in files:
        if path.endswith(".zstd"):
            with pa.OSFile(path) as raw, pa.CompressedInputStream(raw, "zstd") as z:
                text = z.read().decode("utf-8")
        else:
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


def fold_event_log(events) -> dict[int, dict]:
    """{span id: totals over the completed stages of the jobs it tagged}."""
    stage_span: dict[int, int] = {}
    rows: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get("spark.job.description") or ""
            if tag.startswith(TAG_PREFIX):
                for stage_id in ev.get("Stage IDs", []):
                    stage_span.setdefault(stage_id, int(tag[len(TAG_PREFIX):]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is None:
                continue
            row = rows.setdefault(
                sid, dict.fromkeys(("stages", "tasks", *STAGE_METRICS.values()), 0)
            )
            row["stages"] += 1
            row["tasks"] += int(info.get("Number of Tasks", 0))
            for acc in info.get("Accumulables", []):
                key = STAGE_METRICS.get(acc.get("Name"))
                if key is not None:
                    row[key] += int(acc.get("Value", 0))
    return rows
