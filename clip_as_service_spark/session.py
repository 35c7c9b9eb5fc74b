"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing + skew-join splitting (head-term skew is the
  dominant hazard of inverted-index builds over web text).
- Arrow enabled: every Python crossing is a vectorized Arrow batch — the
  engine has no per-row Python anywhere (BASELINE.json input_hint).
- shuffle.partitions defaults to 2×cores locally; on a real cluster this is
  sized so a shuffle partition of (term, doc_id, tf) rows fits in executor
  memory (~128 MB target per partition).
- Python workers come from ``worker_daemon``, PySpark's own daemon started
  with zipimport's cache invalidation fixed. PySpark calls
  ``importlib.invalidate_caches()`` before every task, and before Python
  3.13 each of a worker's 16 cached zipimporters then re-reads the
  1,328-entry directory of ``pyspark.zip``: ~155 ms of CPU per task, which
  was most of a ``search_topk`` batch (8 tasks on 4 cores; the searches
  themselves take 15-50 ms per task). The daemon forks every worker, so
  all of them inherit the fix; the driver's zipimport is untouched.
- Python workers reach the JVM over Unix domain sockets
  (``spark.python.unix.domain.socket.enabled``), not loopback TCP. Over
  TCP each Python task waited 40-54 ms for its first Arrow batch, which
  looks like Linux's 40 ms delayed ACK, while the 53 searches of a
  ``search_topk`` task took 10-25 ms; over UDS the wait is 0.3-15 ms. On
  4 cores a 4-partition Python-RDD ``count`` fell from 93 to 46 ms and a
  214-query ``search_topk`` collect from 157 to 114 ms (medians of 30).
  A new SparkContext gets its own socket directory, made by
  ``_socket_dir``: mode 0700, under the temp directory, or under /tmp
  when that directory's path would be longer than the 61 characters
  Spark accepts for ``spark.python.unix.domain.socket.dir`` or push a
  socket path past AF_UNIX's 107 bytes, and removed when the process
  exits. ``pyspark.daemon``
  treats a UDS connection as already authenticated, so the directory's
  mode is the only access control. A caller's ``extra_conf`` may set
  either key; with the option off, or no usable directory, workers use
  TCP.
- Workers import this package from where the driver did: its parent
  directory leads ``spark.executorEnv.PYTHONPATH`` (merged with a caller's
  value), so neither the daemon nor a pickled package function depends on
  the JVM's working directory.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

_UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"
# the longest AF_UNIX socket path: sun_path's 108 bytes less the NUL
_SOCKET_PATH_MAX = 107
# the longest socket directory Spark accepts: a longer _UDS_DIR fails
# every Python job of the session with INVALID_CONF_VALUE.REQUIREMENT
_SOCKET_DIR_MAX = 61


def get_spark(
    app_name: str = "clip-as-service-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    cores = _parse_local_cores(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    # -Xss must reach the JVM LAUNCH (builder configs apply after the local
    # JVM exists, so spark.driver.extraJavaOptions alone is too late):
    # inject through PYSPARK_SUBMIT_ARGS while the gateway is still unborn,
    # and put the caller's value back once it is up.
    # See the inFilterThreshold note below for why the depth matters.
    from pyspark import SparkContext

    prior_submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS")
    submit_args = prior_submit_args or ""
    if SparkContext._active_spark_context is None and "--driver-java-options" not in submit_args:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            '--driver-java-options "-Xss16m" ' + (submit_args or "pyspark-shell")
        )
        submit_args = os.environ["PYSPARK_SUBMIT_ARGS"]
    # The 4096 In-filter threshold below is only safe WITH the 16m stack
    # (below the threshold parquet-mr evaluates an In as a recursive Or
    # chain — overflows from ~600-800 values on a default 1m stack). When
    # the JVM is already up or the user supplied their own
    # --driver-java-options without an -Xss, the injection didn't happen —
    # fall back to the worst-case-safe cap (MAX_IN_PUSHDOWN) instead of
    # promising a depth the stack can't hold.
    from .operators.ann_index import MAX_IN_PUSHDOWN

    deep_stack = "-Xss" in submit_args
    in_filter_threshold = 4096 if deep_stack else MAX_IN_PUSHDOWN

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(max(cores, 2)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep post-shuffle partitions small enough that AQE coalescing never
        # starves cores (applyInPandas stages want width, not 64MB chunks)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # scan-parallelism floor: minPartitionNum only splits finer when a
        # scan would otherwise produce fewer tasks than cores (a small-corpus
        # hazard: one 600 KB parquet file = one task doing ALL tokenize work
        # — measured 2.7× slower on the BM25 family); at 100 TB the file
        # count dominates and the floor is a no-op. openCostInBytes drops
        # from its 4 MB default so the floor can actually engage on small
        # files (4 MB is a spinning-disk-era estimate; an open on NVMe or an
        # object store costs far less than 4 MB of sequential scan).
        .config("spark.sql.files.minPartitionNum", str(max(cores, 2)))
        .config("spark.sql.files.openCostInBytes", "131072")
        # COUNT(*)/MIN/MAX over an unfiltered parquet scan answer from the
        # file footers instead of scanning rows (Spark 3.3+; off by default).
        # The build's per-stage lineage counts (_log) and row-count fences
        # become metadata-only jobs; results are identical by construction.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # ANN stored probes push (bucket IN <hundreds of values>) into the
        # parquet scan; the default threshold (10) silently drops such In
        # filters from row-group evaluation — measured 1.7× slower at 1M
        # vectors. CAUTION: below the threshold parquet-mr evaluates the In
        # as a RECURSIVE Or chain — on the default 1m thread stack, chains
        # past ~800 values StackOverflow (measured; flaky from ~600). 4096
        # covers 2^12-bucket probe sets IF the -Xss injection above
        # happened; otherwise the worst-case-safe MAX_IN_PUSHDOWN cap.
        .config(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            str(in_filter_threshold),
        )
        # headroom for the Or-chain recursion above (≈1.2 KB/level measured
        # → 16m ≈ 13k levels); local mode: one JVM, so driver options cover
        # every task thread
        .config("spark.driver.extraJavaOptions", "-Xss16m")
        # local mode: the driver JVM hosts ALL task slots — size the heap for
        # cores × (agg hash maps + shuffle buffers), not like a cluster driver
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # see the module docstring: workers fork from a daemon that stops
        # every task re-reading pyspark.zip
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # shuffle spill dir: prefer tmpfs when present so local-mode benchmarks
    # measure compute, not a single shared disk (a real cluster spreads
    # shuffle over per-node local disks)
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    conf = dict(extra_conf or {})
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, [package_parent, conf.get("spark.executorEnv.PYTHONPATH")])
    )
    fresh = SparkContext._active_spark_context is None
    # see the module docstring: a new context's Python workers reach the
    # JVM over Unix domain sockets in a private directory
    if fresh and conf.get(_UDS_ENABLED, "true").lower() == "true":
        socket_dir = conf.get(_UDS_DIR) or _socket_dir()
        if socket_dir is not None:
            conf.update({_UDS_ENABLED: "true", _UDS_DIR: socket_dir})
    for k, v in conf.items():
        builder = builder.config(k, v)

    try:
        spark = builder.getOrCreate()
    finally:
        if prior_submit_args is None:
            os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        else:
            os.environ["PYSPARK_SUBMIT_ARGS"] = prior_submit_args
    if fresh and os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0":
        _warmup(spark)
    return spark


def _socket_dir() -> str | None:
    """A new directory, mode 0700, for the Python workers' sockets, removed
    when this process exits: under the temp directory, or under /tmp when
    the directory's path would be longer than Spark accepts or leave no
    room for a socket path (Spark names its sockets
    ``<dir>/.<uuid4>.sock``); None when neither serves."""
    for parent in (tempfile.gettempdir(), "/tmp"):
        longest = os.path.join(parent, "uds-xxxxxxxx")
        sock = os.path.join(longest, f".{uuid.uuid4()}.sock")
        if len(longest) > _SOCKET_DIR_MAX or len(os.fsencode(sock)) > _SOCKET_PATH_MAX:
            continue
        try:
            path = tempfile.mkdtemp(prefix="uds-", dir=parent)
        except OSError:
            continue
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        return path
    return None


def _warmup(spark: SparkSession) -> None:
    """One tiny generic job on session creation: exercises the shuffle
    machinery, hash-aggregate/sort/window codegen paths, broadcast exchange
    and AQE query-stage plumbing so the FIRST real query doesn't pay their
    one-time JVM init (Janino/classloader warm-up measured ~2-4 s on the
    first shuffle query of a cold session). Touches no user data and caches
    nothing — pure infrastructure warm-up, skippable via
    SPARK_GRAFT_WARMUP=0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    try:
        df = spark.range(0, 1000, 1, 4).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        )
        agg = df.groupBy("k").agg(F.sum("v").alias("s"))
        w = Window.partitionBy("k").orderBy(F.desc("s"))
        out = (
            agg.withColumn("r", F.row_number().over(w))
            .join(F.broadcast(df.limit(7).select("k")), "k")
            .filter(F.col("r") <= 1)
        )
        out.count()
        # second pass: Generate (explode) + the higher-order-function
        # expression paths (transform/filter/aggregate) the text queries
        # compile — their codegen/eval infrastructure is distinct from the
        # aggregate/window machinery above
        txt = spark.createDataFrame(
            [("a b c a", i) for i in range(8)], "text string, id int"
        ).select("id", F.split("text", " ").alias("t"))
        probe = txt.select(
            "id",
            F.size(F.filter("t", lambda x: x == "a")).alias("na"),
            F.aggregate(
                "t", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).alias("tl"),
            F.explode(
                F.transform(
                    F.array(F.lit("a"), F.lit("b")),
                    lambda q: F.struct(
                        q.alias("term"),
                        F.size(F.filter(F.col("t"), lambda x: x == q)).alias(
                            "tf"
                        ),
                    ),
                )
            ).alias("p"),
        )
        probe.groupBy(F.col("p.term")).agg(F.sum("na"), F.sum("tl")).count()
    except Exception:  # pragma: no cover - warm-up must never fail a session
        pass


def _parse_local_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 4
        try:
            return int(inner)
        except ValueError:
            return 4
    return os.cpu_count() or 4
