"""The benchmark's workloads: set-up, the timed window, the answer checks,
and the per-layer probes of a traced run.

Every workload runs in one process with one client against a
``local[nproc]`` session and calls only public functions of the package.
Set-up materialises the corpus and a serving index built from it
(``build_index`` with ``doc_id_method="dense_sorted"``). ``batch`` builds it
in every run, so the build path is timed as part of its ``setup_s`` and the
JVM is warm before the first batch; untraced ``interactive`` runs search a
copy of an index built once per checkout. The corpus comes from a fixed
seed, so that every run builds the same index and the index size is a
function of the code alone; ``--seed`` draws the query stream.

- ``interactive``: a closed loop of ``IndexReader.search`` with
  Zipf-popular queries; after every DELETE_EVERY searches, a ``delete_docs``
  of ids from recent answers followed by ``refresh()``. The window ends on
  a whole cycle of searches and delete.
- ``batch``: back-to-back ``search_topk`` batches over a fixed query set in
  a seeded order.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np

from . import check, measure
from .tracing import Tracer, fold_calls

K = 10
SERVE_PAGES = 5_000
CORPUS_SEED = 0
INTERACTIVE_SEEDED = 2_000  # make_queries adds 14 fixed queries
BATCH_SEEDED = 200
WARM_BATCHES = 1
WARM_DELETES = 3
DELETE_EVERY = 200
DELETE_BATCH = 10
# oracle answers are cached this deep; deeper ones are computed when
# tombstones need them
REF_DEPTH = 160
ZIPF_S = 0.8  # query popularity: P(rank r) ~ r^-ZIPF_S over the pool
# a decoded posting is an int64 doc id and a float64 weight
DECODED_BYTES_PER_POSTING = 16
TEXTNORM_SAMPLE = 2_000
CODEC_MIN_SECONDS = 0.5


class Run:
    """State of one benchmark run: config, session, tracer, counters, and
    the metrics it reports."""

    def __init__(self, root, workload, seed, seconds, trace, work, cache):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.work, self.cache = work, cache
        self.cores = measure.cores()
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.report: list[tuple[str, float, str, str]] = []  # name, value, unit, note
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.host: dict[str, object] = {}

    # -- bookkeeping -------------------------------------------------------
    def fail(self, what: str, exc: BaseException | None = None, count: int = 1) -> None:
        self.failed += count
        print(f"FAILED: {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def span(self, name, request=None):
        return self.tracer.span(name, request)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        from clip_as_service_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + log_dir
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.cores}]",
                extra_conf=conf,
            )
        self.layer("session.start_s", time.perf_counter() - t0, "s")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark_context = self.spark.sparkContext
        import pyspark

        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.host = {
            "nproc": self.cores,
            "ram_gb": round(measure.ram_gb(), 1),
            "pyspark": pyspark.__version__,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "driver_heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "master": f"local[{self.cores}]",
        }

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM to exit (it exits when its
        stdin closes)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        self.spark = None

    def peak_rss_mb(self) -> float:
        py, jvm = measure.vm_hwm_mb(os.getpid()), measure.vm_hwm_mb(self.jvm_pid)
        self.host["peak_rss_mb_python_jvm"] = f"{py:.0f}/{jvm:.0f}"
        return py + jvm

    # -- inputs ------------------------------------------------------------
    def write_corpus(self, n_pages: int) -> str:
        from clip_as_service_spark import fixtures

        # the corpus is the same on every run, so it is written once per
        # checkout and fixture code, and later runs read it back
        fp = check.code_fingerprint(self.root)
        path = os.path.join(self.cache, f"pages-{n_pages}-c{CORPUS_SEED}-{fp}")
        if not os.path.isdir(path):
            tmp = os.path.join(self.work, f"pages-{n_pages}")
            with self.span("fixtures.pages_spark_distributed"):
                fixtures.pages_spark_distributed(
                    self.spark, n_pages, CORPUS_SEED, partitions=2 * self.cores
                ).write.parquet(tmp)
            os.makedirs(self.cache, exist_ok=True)
            os.replace(tmp, path)
        self.pages_path = path
        return path

    def page_table(self, columns=("url", "text")):
        import pyarrow.parquet as pq

        return pq.read_table(self.pages_path, columns=list(columns))

    def text_bytes(self) -> int:
        import pyarrow.compute as pc

        return int(pc.sum(pc.binary_length(self.page_table(["text"])["text"])).as_py())

    def references(self, name: str, depth: int) -> check.References:
        fp = check.code_fingerprint(self.root)
        # every workload and seed draws from one query pool per corpus
        path = os.path.join(self.cache, f"oracle-{name}-c{CORPUS_SEED}-d{depth}-{fp}.json")
        return check.References(path, lambda: self.page_table().to_pylist(), depth)

    def queries(self, n_seeded: int, shuffle: bool = False) -> list[dict]:
        """``fixtures.make_queries(n_seeded, CORPUS_SEED)``: the corpus seed,
        because ``make_queries`` takes its terms from the vocabulary of the
        seed it is given. ``shuffle`` puts them in an order drawn with the
        run's seed."""
        from clip_as_service_spark import fixtures

        rows = fixtures.make_queries(n_seeded, CORPUS_SEED)
        if shuffle:
            rows = [rows[i] for i in np.random.default_rng([self.seed, 3]).permutation(len(rows))]
        return [{"query_id": i, "text": r["text"]} for i, r in enumerate(rows)]

    def build(self, pages, out_dir: str, span_name: str, **kwargs):
        from clip_as_service_spark.operators import index_build

        with self.span(span_name):
            return index_build.build_index(self.spark, pages, out_dir, **kwargs)

    def reader(self, index_dir: str):
        from clip_as_service_spark.operators.wand import IndexReader

        with self.span("wand.IndexReader"):
            return IndexReader(None, index_dir)

    def delete_and_refresh(self, index_dir: str, reader, ids) -> tuple[float, float]:
        """(delete_docs seconds, refresh seconds)."""
        from clip_as_service_spark.operators import index_build

        with self.span("delete_cycle"):
            t0 = time.perf_counter()
            with self.span("index_build.delete_docs"):
                index_build.delete_docs(self.spark, index_dir, ids)
            t1 = time.perf_counter()
            with self.span("IndexReader.refresh"):
                reader.refresh()
            return t1 - t0, time.perf_counter() - t1

    def run_batch(self, index_dir: str, qdf, request=None) -> tuple[float, float, list]:
        """One search_topk batch: (plan seconds, run seconds, rows)."""
        from clip_as_service_spark.operators import wand

        with self.span("batch", request):
            t0 = time.perf_counter()
            with self.span("wand.search_topk"):
                df = wand.search_topk(self.spark, index_dir, qdf, k=K)
            t1 = time.perf_counter()
            with self.span("DataFrame.collect"):
                rows = df.collect()
            return t1 - t0, time.perf_counter() - t1, rows

    # -- end-to-end metrics ------------------------------------------------
    def set_e2e(self, setup_s, figures, peak_rss, n_ops):
        self.e2e = {
            "setup_s": (setup_s, "s"),
            **figures,
            "peak_rss_mb": (peak_rss, "MB"),
            "index_bytes_per_text_byte": (self.index_bytes / self.text_bytes(), "B/B"),
        }
        self.n_ops = n_ops

    # -- per-layer probes (traced run) -------------------------------------
    def probe_textnorm(self) -> None:
        from clip_as_service_spark.textnorm import tokenize_words

        texts = self.page_table(["text"])["text"].to_pylist()[:TEXTNORM_SAMPLE]
        t0 = time.perf_counter()
        with self.span("textnorm.tokenize_words"):
            for text in texts:
                tokenize_words(text)
        self.layer("textnorm.docs_per_s", len(texts) / (time.perf_counter() - t0), "1/s")

    def pool_blocks(self, index_dir: str, queries: list[dict]) -> dict[str, list]:
        """Columns of the index blocks that the query pool's terms fetch,
        in posting-list order."""
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        from clip_as_service_spark.sources.tables import IndexStorage
        from clip_as_service_spark.textnorm import tokenize_words

        terms = sorted({t for q in queries for t in tokenize_words(q["text"])})
        tbl = pads.dataset(
            IndexStorage(index_dir).path("blocks"), format="parquet", partitioning="hive"
        ).to_table(
            filter=pc.field("term").isin(terms),
            columns=["term", "salt", "block_id", "n", "bytes", "docs", "tfs", "dls"],
        ).sort_by([("term", "ascending"), ("salt", "ascending"), ("block_id", "ascending")])
        return {c: tbl[c].to_pylist() for c in tbl.column_names}

    def probe_working_set(self, cols: dict[str, list], cycles: list[list[str]]) -> None:
        """Decoded bytes of the distinct terms each delete cycle's searches
        touch: what the reader's decoded cache must hold between two
        refreshes (each refresh clears it)."""
        from clip_as_service_spark.operators.wand import IndexReader
        from clip_as_service_spark.textnorm import tokenize_words

        postings: dict[str, int] = {}
        for term, n in zip(cols["term"], cols["n"]):
            postings[term] = postings.get(term, 0) + n
        mb = [
            DECODED_BYTES_PER_POSTING
            * sum(postings.get(t, 0) for t in {t for q in texts for t in tokenize_words(q)})
            / 2**20
            for texts in cycles
        ]
        self.layer("reader.cycle_decoded_mb", measure.median(mb), "MB")
        self.report.append((
            "reader.cycle_decoded_mb_max", max(mb), "MB",
            f"decoded cache budget {IndexReader.DECODED_CACHE_MAX_BYTES / 2**20:g} MB",
        ))

    def probe_codec(self, cols: dict[str, list]) -> None:
        """Decode and re-encode the posting lists the query pool fetches."""
        from clip_as_service_spark.functions.codec import (
            decode_posting_blocks_batch,
            encode_posting_blocks,
        )

        lists: dict[tuple, list[int]] = {}
        for i, key in enumerate(zip(cols["term"], cols["salt"])):
            lists.setdefault(key, []).append(i)
        n_post = sum(cols["n"])

        def _decode():
            return [
                decode_posting_blocks_batch(
                    [cols["docs"][i] for i in rows], [cols["tfs"][i] for i in rows],
                    [cols["dls"][i] for i in rows], np.array([cols["n"][i] for i in rows]),
                )
                for rows in lists.values()
            ]

        decoded, dec_s, reps = None, 0.0, 0
        with self.span("codec.decode_posting_blocks_batch"):
            while dec_s < CODEC_MIN_SECONDS:
                t0 = time.perf_counter()
                decoded = _decode()
                dec_s += time.perf_counter() - t0
                reps += 1
        self.layer("codec.decode_mpostings_per_s", reps * n_post / dec_s / 1e6, "M/s")
        enc_s, reps = 0.0, 0
        with self.span("codec.encode_posting_blocks"):
            while enc_s < CODEC_MIN_SECONDS:
                t0 = time.perf_counter()
                for docs, tfs, dls in decoded:
                    encode_posting_blocks(docs, tfs, dls)
                enc_s += time.perf_counter() - t0
                reps += 1
        self.layer("codec.encode_mpostings_per_s", reps * n_post / enc_s / 1e6, "M/s")
        self.layer("codec.bytes_per_posting", sum(cols["bytes"]) / n_post, "B")

    def probe_tables(self, index_dir: str) -> None:
        from clip_as_service_spark.sources.tables import IndexStorage

        store = IndexStorage(index_dir)
        for table in ("blocks", "postings", "termdf"):
            self.layer(f"tables.{table}_bytes", store.table_bytes(table), "B")

    def probe_build_log(self, index_dir: str) -> None:
        from clip_as_service_spark.operators import index_build
        from clip_as_service_spark.sources.tables import IndexStorage

        with self.span("index_build.iter_build_log"):
            rows = index_build.iter_build_log(self.spark, IndexStorage(index_dir))
        wall = {}
        for r in rows:
            wall[r["stage"]] = max(wall.get(r["stage"], 0), r["wall_ms"])
        for stage in ("postings", "stats", "termdf", "blocks"):
            self.layer(f"build.{stage}_s", wall[stage] / 1000.0, "s")

    def reader_layers(self, reader, n_searches: int, n_results: int, refresh_s) -> None:
        log = reader.query_log[-n_searches:]
        for phase in ("fetch_ms", "score_ms"):
            vals = [e[phase] for e in log]
            self.layer(f"reader.{phase[:-3]}_ms_p50", measure.median(vals), "ms")
            self.layer(f"reader.{phase[:-3]}_ms_p99", measure.tail(vals)[1], "ms")
        self.layer(
            "reader.postings_per_result",
            sum(e["n_postings"] for e in log) / max(n_results, 1), "count",
        )
        routed = [e["strategy"] for e in log if e["strategy"] is not None]
        self.layer("reader.taat_share", routed.count("taat") / max(len(routed), 1), "ratio")
        self.layer("reader.refresh_ms", 1000 * measure.median(refresh_s), "ms")

    def probe_reader(self, index_dir: str, queries: list[dict]):
        reader = self.reader(index_dir)
        n_results = 0
        for i, q in enumerate(queries):
            with self.span("IndexReader.search", request=f"probe-{i}"):
                n_results += len(reader.search(q["text"], k=K))
        refresh_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.span("IndexReader.refresh"):
                reader.refresh()
            refresh_s.append(time.perf_counter() - t0)
        self.reader_layers(reader, len(queries), n_results, refresh_s)
        return reader

    def probe_search(self, index_dir: str, qdf, batches=None) -> None:
        """search.* from the given (plan s, run s) batches, or one probe
        batch; routing counts from ``query_routing``."""
        from clip_as_service_spark.operators import wand

        if batches is None:
            plan_s, run_s, _ = self.run_batch(index_dir, qdf, request="probe")
            batches = [(plan_s, run_s)]
        self.layer("search.plan_s", measure.median([b[0] for b in batches]), "s")
        self.layer("search.run_s", measure.median([b[1] for b in batches]), "s")
        with self.span("wand.query_routing"):
            routing = wand.query_routing(self.spark, index_dir, qdf)
        modes = list(routing.values())
        self.layer("search.routed_wand", modes.count("wand"), "count")
        self.layer("search.routed_exploded", modes.count("exploded"), "count")

    def probe_delete(self, index_dir: str, reader) -> None:
        ids = list(range(1, DELETE_BATCH + 1))
        delete_s, refresh_s = self.delete_and_refresh(index_dir, reader, ids)
        self.layer("delete.ms", 1000 * delete_s, "ms")

    def event_log_layers(self, stage_rows: dict[int, dict]) -> None:
        """Layer metrics that come from Spark's event log (after stop)."""
        spans = self.tracer.spans
        builds = fold_calls(spans, stage_rows, "index_build.build_index")
        cpu_ns = sum(b.get("cpu_ns", 0) for b in builds)
        wall = sum(b["seconds"] for b in builds)
        self.layer("build.cpu_util", cpu_ns / 1e9 / (wall * self.cores), "ratio")
        batches = [
            b for b in fold_calls(spans, stage_rows, "batch") if b["request"] != "warm"
        ]
        med = lambda key: measure.median([b.get(key, 0) for b in batches])  # noqa: E731
        self.layer(
            "search.shuffle_bytes",
            measure.median(
                [b.get("shuffle_read_bytes", 0) + b.get("shuffle_write_bytes", 0) for b in batches]
            ),
            "B",
        )
        self.layer("search.cpu_s", med("cpu_ns") / 1e9, "s")
        self.layer("search.tasks", med("tasks"), "count")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _timed_window(run: Run, op, every: int = 1) -> tuple[list[float], float]:
    """Call ``op(i)`` until ``run.seconds`` have passed (at least once),
    stopping only after a multiple of ``every`` calls;
    → (seconds per call, window seconds)."""
    times = []
    t0 = time.perf_counter()
    i = 0
    while True:
        t = time.perf_counter()
        op(i)
        times.append(time.perf_counter() - t)
        i += 1
        if i % every == 0 and time.perf_counter() - t0 >= run.seconds:
            return times, time.perf_counter() - t0


def _figures(lat: list[float], throughput: float) -> dict[str, tuple[float, str]]:
    """The window's end-to-end figures from per-operation latencies."""
    return {
        "op_p50_ms": (1000 * measure.median(lat), "ms"),
        "throughput_per_s": (throughput, "1/s"),
    }


def _halves(values, groups) -> tuple[list, list]:
    """(values of even groups, values of odd groups): a traced run traces
    the odd groups of its window and leaves the even ones untraced."""
    return ([v for v, g in zip(values, groups) if g % 2 == 0],
            [v for v, g in zip(values, groups) if g % 2 == 1])


def _overhead(run: Run, untraced: dict, traced: dict) -> None:
    for name, (value, unit) in traced.items():
        run.layer(f"overhead.{name}", value - untraced[name][0], unit)


def _probe_layers(run: Run, index_dir, queries, qdf, batches=None, cycles=None):
    """Per-layer metrics of a traced run: taken from the workload's own
    calls where it made them, else from one probe call per layer.
    ``cycles`` (query texts per delete cycle) come from an interactive
    window, which has measured the reader itself; without them the probe's
    searches of ``queries`` count as one cycle."""
    run.probe_textnorm()
    run.probe_build_log(index_dir)
    cols = run.pool_blocks(index_dir, queries)
    run.probe_codec(cols)
    run.probe_tables(index_dir)
    run.probe_search(index_dir, qdf, batches)
    if cycles is None:
        run.probe_delete(index_dir, run.probe_reader(index_dir, queries))
        cycles = [[q["text"] for q in queries]]
    run.probe_working_set(cols, cycles)


def _serving_index(run: Run, fresh: bool) -> str:
    """Corpus plus serving index, with url-ordered dense ids numbered
    exactly as ``BM25Oracle.from_pages`` numbers them. ``fresh`` builds it
    in this run's set-up; otherwise the index is built once per checkout and
    package code, and each run searches a copy of it."""
    pages_path = run.write_corpus(SERVE_PAGES)
    index_dir = os.path.join(run.work, "serving")
    built = os.path.join(
        run.cache, f"serving-{SERVE_PAGES}-c{CORPUS_SEED}-{check.code_fingerprint(run.root, None)}"
    )
    if fresh or not os.path.isdir(built):
        out = index_dir if fresh else os.path.join(run.work, "serving-build")
        t0 = time.perf_counter()
        run.build(run.spark.read.parquet(pages_path), out, "index_build.build_index",
                  doc_id_method="dense_sorted")
        build_s = time.perf_counter() - t0
        run.report.append(("build_docs_per_s", SERVE_PAGES / build_s, "1/s",
                           f"serving build of {SERVE_PAGES} pages in set-up"))
        if not fresh:
            os.replace(out, built)
    if not fresh:
        shutil.copytree(built, index_dir)
    # sized before the workload adds tombstones to the index directory
    run.index_bytes = measure.dir_bytes(index_dir)
    return index_dir


def _references(run: Run, index_dir: str) -> check.References:
    """The oracle's answers for the serving corpus, after checking the
    index's corpus stats against the oracle's. The first run in a checkout
    answers the whole query pool, so that later runs only read answers."""
    from clip_as_service_spark.sources.tables import IndexStorage

    refs = run.references(f"serve{SERVE_PAGES}", REF_DEPTH)
    for q in run.queries(INTERACTIVE_SEEDED):
        refs.ranked(q["text"])
    meta = IndexStorage(index_dir).read_meta()
    n_docs, avgdl = refs.stats()
    run.attempted += 1
    if meta["n_docs"] != n_docs or not check.same_bits(meta["avgdl"], avgdl):
        run.fail(f"serving index n_docs/avgdl {meta['n_docs']}/{meta['avgdl']!r}, "
                 f"oracle {n_docs}/{avgdl!r}")
    return refs


def _warm_deletes(run: Run, index_dir: str) -> None:
    """``delete_docs`` + ``refresh`` cycles on a scratch copy of the index:
    in a session that has not built, the first delete takes seconds, so the
    window's deletes would otherwise start cold. The serving index itself
    keeps no tombstones."""
    warm = os.path.join(run.work, "warm")
    shutil.copytree(index_dir, warm)
    reader = run.reader(warm)
    for c in range(WARM_DELETES):
        run.delete_and_refresh(warm, reader, list(range(c * DELETE_BATCH, (c + 1) * DELETE_BATCH)))
    shutil.rmtree(warm)


def workload_interactive(run: Run, t_start: float) -> None:
    # a traced run builds, so that the build layers come from this session
    index_dir = _serving_index(run, fresh=run.trace)
    pool = run.queries(INTERACTIVE_SEEDED)
    # which queries are popular is fixed with the corpus; the seed draws
    # the stream, so seeds differ by sampling, not by workload
    popularity = np.arange(1, len(pool) + 1) ** -ZIPF_S
    draws = np.random.default_rng([CORPUS_SEED, 1]).permutation(len(pool))[
        np.random.default_rng([run.seed, 1]).choice(
            len(pool), size=200_000, p=popularity / popularity.sum()
        )
    ]
    reader = run.reader(index_dir)
    # warm-up: one cycle's worth of searches from another draw of the pool,
    # then refresh(), so the window's first cycle starts like every later
    # one (after a refresh) instead of also paying first-call costs
    for q in np.random.default_rng([run.seed, 2]).choice(len(pool), DELETE_EVERY):
        reader.search(pool[q]["text"], k=K)
    reader.refresh()
    _warm_deletes(run, index_dir)
    setup_s = time.perf_counter() - t_start

    searches: list[tuple[str, list, int]] = []  # text, answer, tombstone version
    lat: list[float] = []
    lat_cycle: list[int] = []
    versions = [frozenset()]
    delete_s, refresh_s, visible_s = [], [], []

    def _recent_ids() -> list[int]:
        out: list[int] = []
        for _, answer, _ in reversed(searches):
            for _, doc, _ in answer:
                doc = int(doc)
                if doc not in versions[-1] and doc not in out:
                    out.append(doc)
                    if len(out) == DELETE_BATCH:
                        return out
        return out

    def _one(i):
        cycle = i // DELETE_EVERY
        if i % DELETE_EVERY == 0:
            run.tracer.enabled = run.trace and cycle % 2 == 1
        text = pool[draws[i % len(draws)]]["text"]
        run.attempted += 1
        t = time.perf_counter()
        try:
            with run.span("IndexReader.search", request=i):
                answer = reader.search(text, k=K)
        except Exception as exc:
            run.fail(f"search {text!r}", exc)
        else:
            lat.append(time.perf_counter() - t)
            lat_cycle.append(cycle)
            searches.append((text, answer, len(versions) - 1))
        if (i + 1) % DELETE_EVERY == 0:
            ids = _recent_ids()
            run.attempted += 1
            try:
                d, r = run.delete_and_refresh(index_dir, reader, ids)
            except Exception as exc:
                run.fail("delete_docs/refresh", exc)
            else:
                versions.append(versions[-1] | frozenset(ids))
                delete_s.append(d)
                refresh_s.append(r)
                visible_s.append(d + r)

    # whole delete cycles only, so every window has the same mix of
    # searches and deletes wherever the clock runs out; a traced window
    # alternates untraced and traced cycles, so it ends on a pair
    times, window_s = _timed_window(run, _one, every=DELETE_EVERY * (2 if run.trace else 1))
    run.tracer.enabled = run.trace
    peak_rss = run.peak_rss_mb()

    refs = _references(run, index_dir)
    for text, answer, version in searches:
        deleted = versions[version]
        why = check.answer_diff(answer, refs.ranked(text, K, deleted), K, deleted)
        if why:
            run.fail(f"search {text!r} after {len(versions[version])} tombstones: {why}")
    refs.save()

    # searches per second of a cycle's wall time (its searches, delete and
    # refresh), median over the window's cycles
    cycle_s = [sum(times[i:i + DELETE_EVERY]) for i in range(0, len(times), DELETE_EVERY)]
    qps = DELETE_EVERY / measure.median(cycle_s)
    p, tail_s = measure.tail(lat)
    run.report += [
        ("query_p50_ms", 1000 * measure.median(lat), "ms", f"{len(lat)} searches"),
        ("query_p99_ms", 1000 * tail_s, "ms", f"p{p:g} of {len(lat)} searches"),
        ("queries_per_s", qps, "1/s",
         f"loop wall time, deletes included; median of {len(cycle_s)} cycles "
         f"in {window_s:.1f} s"),
        ("delete_visible_ms", 1000 * measure.median(visible_s) if visible_s else float("nan"),
         "ms", f"median of {len(visible_s)} delete_docs+refresh"),
    ]
    run.set_e2e(setup_s, _figures(lat, qps), peak_rss, len(lat))
    if run.trace:
        (lat_u, lat_t), (cyc_u, cyc_t) = _halves(lat, lat_cycle), _halves(cycle_s, range(len(cycle_s)))
        _overhead(run, _figures(lat_u, DELETE_EVERY / measure.median(cyc_u)),
                  _figures(lat_t, DELETE_EVERY / measure.median(cyc_t)))
        n_results = sum(len(a) for _, a, _ in searches)
        run.reader_layers(reader, len(searches), n_results, refresh_s)
        run.layer("delete.ms", 1000 * measure.median(delete_s), "ms")
        cycles: dict[int, list[str]] = {}
        for (text, _, _), c in zip(searches, lat_cycle):
            cycles.setdefault(c, []).append(text)
        batch_q = run.queries(BATCH_SEEDED)
        _probe_layers(run, index_dir, pool,
                      run.spark.createDataFrame(batch_q, "query_id int, text string"),
                      cycles=list(cycles.values()))


def workload_batch(run: Run, t_start: float) -> None:
    # built in every run: a session that has built runs its batches at a
    # steady speed from the second one, while one that has not speeds up
    # for about a minute of batches as the JVM warms
    index_dir = _serving_index(run, fresh=True)
    queries = run.queries(BATCH_SEEDED, shuffle=True)
    qdf = run.spark.createDataFrame(queries, "query_id int, text string")
    # a discarded full batch: moves first-batch init out of the window
    for _ in range(WARM_BATCHES):
        run.run_batch(index_dir, qdf, request="warm")
    setup_s = time.perf_counter() - t_start

    results: list[list] = []
    plan_run: list[tuple[float, float]] = []

    def _one(i):
        run.tracer.enabled = run.trace and i % 2 == 1
        run.attempted += len(queries)
        try:
            plan_s, run_s, rows = run.run_batch(index_dir, qdf, request=i)
        except Exception as exc:
            run.fail(f"batch {i}", exc, count=len(queries))
            return
        plan_run.append((plan_s, run_s))
        results.append(rows)

    # a traced window alternates untraced and traced batches
    times, _ = _timed_window(run, _one, every=2 if run.trace else 1)
    run.tracer.enabled = run.trace
    peak_rss = run.peak_rss_mb()

    refs = _references(run, index_dir)
    for rows in results:
        by_query: dict[int, list] = {}
        for r in rows:
            by_query.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
        for q in queries:
            got = sorted(by_query.get(q["query_id"], []))
            why = check.answer_diff(got, refs.ranked(q["text"]), K)
            if why:
                run.fail(f"batch query {q['text']!r}: {why}")
    refs.save()

    def figures(batch_s):
        return _figures(batch_s, len(queries) / measure.median(batch_s))

    run.report += [
        ("batch_queries_per_s", len(queries) / measure.median(times), "1/s",
         f"{len(queries)} queries per batch, median of {len(times)} batches"),
    ]
    run.set_e2e(setup_s, figures(times), peak_rss, len(times))
    if run.trace:
        _overhead(run, *map(figures, _halves(times, range(len(times)))))
        _probe_layers(run, index_dir, queries, qdf, batches=plan_run)


WORKLOADS = {
    "interactive": workload_interactive,
    "batch": workload_batch,
}
