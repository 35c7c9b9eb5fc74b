"""Extra measurement harness for the optimization rounds (bench.py is FROZEN
for the driver; this file carries the guide-§1 isolation runs).

Usage:
  python bench_extra.py headline [query ...]   # count() timing, bench-style
  python bench_extra.py noop [query ...]       # noop-sink isolation (§1.4)
  python bench_extra.py build                  # index build wall + stage log
  python bench_extra.py reader                 # IndexReader latency loop
  python bench_extra.py batch                  # search_topk auto batch
  python bench_extra.py ann                    # ANN build + stored probes

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line per section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clip_as_service_spark.plans import driver_queries as dq  # noqa: E402
from clip_as_service_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "bm25_topk",
    "bm25_pairs",
    "boolean_and",
    "term_stats",
    "dedup_exact",
    "text_quality",
    "pricing_summary",
    "top_orders_per_customer",
    "customer_order_totals",
    "events_hourly",
]


def _spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark, sf_dir):
    # mirror bench.py's warm-up so numbers are comparable
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as F

    from clip_as_service_spark.functions.text import tokenize_udf

    spark.createDataFrame([("warm up",)], "text string").select(
        F.explode(tokenize_udf(F.col("text")))
    ).count()


def run_queries(mode: str, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    _warm(spark, sf_dir)
    registry = dq.queries()
    timings: dict[str, float] = {}
    t_all = time.perf_counter()
    for name in names:
        spark.sparkContext.setJobDescription(f"{mode}:{name}")
        t0 = time.perf_counter()
        df = registry[name](spark, sf_dir)
        if mode == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
    total = round(time.perf_counter() - t_all, 3)
    print(json.dumps({"mode": mode, "value": total, "queries": timings}))
    spark.stop()


def run_build() -> None:
    import shutil

    from pyspark.sql import functions as F

    from clip_as_service_spark.operators import index_build

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    _warm(spark, sf_dir)
    idx_dir = "/tmp/bench_extra_idx"
    shutil.rmtree(idx_dir, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    n_docs = docs.count()
    t0 = time.perf_counter()
    index_build.build_index(spark, docs, idx_dir, n_shards=16, doc_id_method="dense")
    build_sec = time.perf_counter() - t0
    log = [
        (r["stage"], r["wall_ms"])
        for r in index_build.iter_build_log(
            spark, index_build.IndexStorage(idx_dir)
        )
        if r["shard"] in (-1, 0)
    ]
    print(
        json.dumps(
            {
                "mode": "build",
                "n_docs": n_docs,
                "build_sec": round(build_sec, 2),
                "docs_per_sec": round(n_docs / build_sec, 1),
                "stages_ms": log,
            }
        )
    )
    spark.stop()


def run_reader() -> None:
    import shutil
    import statistics

    from pyspark.sql import functions as F

    from clip_as_service_spark.operators import index_build, wand

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    idx_dir = "/tmp/bench_extra_idx"
    if not os.path.isdir(idx_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("url"), "text"
        )
        index_build.build_index(
            spark, docs, idx_dir, n_shards=16, doc_id_method="dense"
        )
    reader = wand.IndexReader(None, idx_dir)
    reader.search("warm up", k=10)
    lat = []
    for _rep in range(5):
        reader2 = wand.IndexReader(None, idx_dir)
        reader2.search("warm up", k=10)
        for _qid, qtext in dq.DOC_QUERIES:
            t1 = time.perf_counter()
            reader2.search(qtext, k=10)
            lat.append(time.perf_counter() - t1)
    lat.sort()
    print(
        json.dumps(
            {
                "mode": "reader",
                "p50_ms": round(1000 * statistics.median(lat), 2),
                "p95_ms": round(1000 * lat[int(0.95 * (len(lat) - 1))], 2),
                "profile": reader2.profile_summary(),
            }
        )
    )
    spark.stop()


def run_batch() -> None:
    from clip_as_service_spark.operators import wand

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    _warm(spark, sf_dir)
    idx_dir = "/tmp/bench_extra_idx"
    qdf = spark.createDataFrame(
        [(i, t) for i, t in dq.DOC_QUERIES], "query_id int, text string"
    )
    routing = wand.query_routing(spark, idx_dir, qdf, heavy_postings=10_000)
    t0 = time.perf_counter()
    n = wand.search_topk(
        spark, idx_dir, qdf, k=10, mode="auto", routing=routing
    ).count()
    print(
        json.dumps(
            {
                "mode": "batch",
                "batch_search_auto_sec": round(time.perf_counter() - t0, 3),
                "rows": n,
                "routing": {m: sum(1 for v in routing.values() if v == m) for m in set(routing.values())},
            }
        )
    )
    spark.stop()


def run_ann() -> None:
    import shutil

    from clip_as_service_spark.operators import ann_index as annx
    from clip_as_service_spark.operators import similarity as sim

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    _warm(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_ann = dq._ann_queries(spark, sf_dir)
    out = {"mode": "ann"}
    t0 = time.perf_counter()
    cent = sim.kmeans_centroids(emb, k=16, n_iter=5)
    out["kmeans_sec"] = round(time.perf_counter() - t0, 3)
    ann_dir = "/tmp/bench_extra_ann"
    shutil.rmtree(ann_dir, ignore_errors=True)
    t0 = time.perf_counter()
    annx.build_ann_index(
        spark, emb, ann_dir, dim=dq.RH_DIM, rh_n_bits=8, rh_n_tables=8,
        ivf_centroids=cent,
    )
    out["build_sec"] = round(time.perf_counter() - t0, 3)

    def _timed(fn) -> float:
        t1 = time.perf_counter()
        fn().count()
        return round(time.perf_counter() - t1, 3)

    out["rh_recomputed_sec"] = _timed(
        lambda: sim.rh_bucketed_topk(
            emb, q_ann, k=10, n_bits=8, dim=dq.RH_DIM, n_tables=8
        )
    )
    out["rh_stored_sec"] = _timed(
        lambda: annx.rh_topk_stored(spark, ann_dir, q_ann, k=10)
    )
    out["ivf_recomputed_sec"] = _timed(
        lambda: sim.ivf_topk(
            emb, q_ann, annx.IndexStorage(ann_dir).read(spark, "ivf_centroids"),
            k=10, nprobe=2,
        )
    )
    out["ivf_stored_sec"] = _timed(
        lambda: annx.ivf_topk_stored(spark, ann_dir, q_ann, k=10, nprobe=2)
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    section = sys.argv[1] if len(sys.argv) > 1 else "headline"
    if section in ("headline", "noop"):
        run_queries(section, sys.argv[2:] or HEADLINE)
    elif section == "build":
        run_build()
    elif section == "reader":
        run_reader()
    elif section == "batch":
        run_batch()
    elif section == "ann":
        run_ann()
    else:
        raise SystemExit(f"unknown section {section!r}")
