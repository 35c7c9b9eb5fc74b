"""Benchmark runner (driver contract): runs headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count() to materialize — results are
not collected to the driver; the driver-side limit queries are tiny anyway).
Also reports index-build throughput (docs/sec over the documents table) under
"extra" for the scaling-evidence workflow (see bench_scaling.py).
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    registry = dq.queries()
    # warm the JVM + python worker pool once (reference protocol drops
    # warm-up iterations, scripts/benchmark.py:84); touch a different table
    # so no query-result caching is possible
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as F
    from clip_as_service_spark.functions.text import tokenize_udf

    spark.createDataFrame([("warm up",)], "text string").select(
        F.explode(tokenize_udf(F.col("text")))
    ).count()

    timings: dict[str, float] = {}
    t_all = time.perf_counter()
    for name in HEADLINE:
        fn = registry[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        _ = n
    total = round(time.perf_counter() - t_all, 3)

    # full index build (tokenize → postings → stats → dict → compressed
    # blocks) over the documents table + interactive WAND/TAAT query p50
    import shutil
    import statistics

    from pyspark.sql import functions as F2

    from clip_as_service_spark.operators import index_build, wand

    idx_dir = "/tmp/bench_idx"
    shutil.rmtree(idx_dir, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F2.col("doc_id").cast("string").alias("url"), "text"
    )
    n_docs = docs.count()
    t0 = time.perf_counter()
    index_build.build_index(spark, docs, idx_dir, n_shards=16, doc_id_method="dense")
    build_sec = time.perf_counter() - t0
    docs_per_sec = round(n_docs / build_sec, 1) if build_sec > 0 else 0.0

    reader = wand.IndexReader(None, idx_dir)
    reader.search("warm up", k=10)
    lat = []
    for _qid, qtext in dq.DOC_QUERIES:
        t1 = time.perf_counter()
        reader.search(qtext, k=10)
        lat.append(time.perf_counter() - t1)
    lat.sort()
    query_p50_ms = round(1000 * statistics.median(lat), 2)
    query_profile = reader.profile_summary()

    # batch search: IndexReader.search in each search_topk task. It has one
    # path, so the routed counts read all "wand" and "exploded" 0; the keys
    # stay so earlier output still parses
    qdf = spark.createDataFrame(
        [(i, t) for i, t in dq.DOC_QUERIES], "query_id int, text string"
    )
    routing = wand.query_routing(spark, idx_dir, qdf)
    t0 = time.perf_counter()
    n_batch = wand.search_topk(spark, idx_dir, qdf, k=10).count()
    batch_auto_sec = round(time.perf_counter() - t0, 3)
    routed = {
        "wand": sum(1 for m in routing.values() if m == "wand"),
        "exploded": sum(1 for m in routing.values() if m == "exploded"),
        "rows": n_batch,
    }

    # ANN recall@10 vs the exact brute-force baseline: axis-aligned 8-bit
    # LSH vs random-hyperplane LSH at the same 8 bits (isotropy win) and at
    # the 16-bit+multi-probe scale configuration
    from clip_as_service_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_ann = dq._ann_queries(spark, sf_dir)

    def _topk_sets(df):
        out: dict[int, set] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    exact = _topk_sets(sim.cosine_topk(emb, q_ann, k=10))

    def _recall(df) -> float:
        got = _topk_sets(df)
        per_q = [
            len(got.get(q, set()) & hits) / len(hits) for q, hits in exact.items()
        ]
        return round(sum(per_q) / len(per_q), 3)

    ann_recall = {
        "axis8": _recall(sim.bucketed_topk(emb, q_ann, k=10, n_bits=8)),
        "rh8_t1": _recall(
            sim.rh_bucketed_topk(emb, q_ann, k=10, n_bits=8, dim=dq.RH_DIM)
        ),
        "rh8_t8": _recall(
            sim.rh_bucketed_topk(
                emb, q_ann, k=10, n_bits=8, dim=dq.RH_DIM, n_tables=8
            )
        ),
        "rh6_t8": _recall(
            sim.rh_bucketed_topk(
                emb, q_ann, k=10, n_bits=6, dim=dq.RH_DIM, n_tables=8
            )
        ),
        "ivf_np2": _recall(
            sim.ivf_topk(
                emb, q_ann, dq._ivf_centroids(spark, sf_dir), k=10, nprobe=2
            )
        ),
        "ivf_km16_np2": _recall(
            sim.ivf_topk(
                emb, q_ann, sim.kmeans_centroids(emb, k=16, n_iter=5),
                k=10, nprobe=2,
            )
        ),
    }

    # embedding near-dup PAIR COVERAGE vs brute-force truth at the same
    # threshold: what fraction of all true pairs (cosine ≥ t) each LSH
    # candidate scheme surfaces — the apples-to-apples axis-vs-RH comparison
    # for cosine_pairs (the truth comes from a driver-side numpy gram matrix;
    # the candidates come from the actual Spark operators being graded)
    import numpy as np

    pair_t = 0.3
    erows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in erows], dtype=np.int64)
    V = np.array([r["embedding"] for r in erows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    G = Vn @ Vn.T
    iu = np.triu_indices(len(ids), k=1)
    hit = G[iu] >= pair_t
    true_pairs = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][hit], ids[iu[1]][hit])
    }

    # stored-vs-recomputed ANN query time: the persisted index (ann_index)
    # turns the per-query O(N) re-bucket / O(N·C) re-assignment into a
    # pruned read — measure both on the same probes (build time reported
    # separately; it amortizes over every query the index ever serves)
    import shutil as _sh

    from clip_as_service_spark.operators import ann_index as annx

    ann_dir = "/tmp/bench_ann"
    _sh.rmtree(ann_dir, ignore_errors=True)
    t0 = time.perf_counter()
    annx.build_ann_index(
        spark, emb, ann_dir, dim=dq.RH_DIM, rh_n_bits=8, rh_n_tables=8,
        ivf_centroids=sim.kmeans_centroids(emb, k=16, n_iter=5),
    )
    ann_build_sec = round(time.perf_counter() - t0, 3)

    def _timed(fn) -> float:
        t1 = time.perf_counter()
        fn().count()
        return round(time.perf_counter() - t1, 3)

    ann_stored = {
        "build_sec": ann_build_sec,
        "rh_recomputed_sec": _timed(
            lambda: sim.rh_bucketed_topk(
                emb, q_ann, k=10, n_bits=8, dim=dq.RH_DIM, n_tables=8
            )
        ),
        "rh_stored_sec": _timed(
            lambda: annx.rh_topk_stored(spark, ann_dir, q_ann, k=10)
        ),
        # fair compare: recompute uses the SAME stored quantizer — the
        # timed delta is re-assignment vs pruned read, not training
        "ivf_recomputed_sec": _timed(
            lambda: sim.ivf_topk(
                emb, q_ann,
                annx.IndexStorage(ann_dir).read(spark, "ivf_centroids"),
                k=10, nprobe=2,
            )
        ),
        "ivf_stored_sec": _timed(
            lambda: annx.ivf_topk_stored(spark, ann_dir, q_ann, k=10, nprobe=2)
        ),
    }

    # id-only payload (store_vectors=False): same probes, n_tables× smaller
    # rh_buckets (vectors live once, in ivf_cells) — report bytes + the
    # fetch-join probe cost next to the full-payload numbers
    def _tbl_bytes(root: str, table: str) -> int:
        return annx.IndexStorage(root).table_bytes(table)

    slim_dir = "/tmp/bench_ann_slim"
    _sh.rmtree(slim_dir, ignore_errors=True)
    annx.build_ann_index(
        spark, emb, slim_dir, dim=dq.RH_DIM, rh_n_bits=8, rh_n_tables=8,
        ivf_centroids=sim.kmeans_centroids(emb, k=16, n_iter=5),
        store_vectors=False,
    )
    ann_stored["rh_stored_idonly_sec"] = _timed(
        lambda: annx.rh_topk_stored(spark, slim_dir, q_ann, k=10)
    )
    ann_stored["rh_buckets_bytes_full"] = _tbl_bytes(ann_dir, "rh_buckets")
    ann_stored["rh_buckets_bytes_idonly"] = _tbl_bytes(slim_dir, "rh_buckets")
    ann_stored["ivf_cells_bytes"] = _tbl_bytes(slim_dir, "ivf_cells")

    # PQ payload: ADC scoring + bounded exact re-rank (rerank=50 of ~
    # hundreds of candidates) — report probe time + bytes next to the
    # other two layouts
    pq_dir = "/tmp/bench_ann_pq"
    _sh.rmtree(pq_dir, ignore_errors=True)
    annx.build_ann_index(
        spark, emb, pq_dir, dim=dq.RH_DIM, rh_n_bits=8, rh_n_tables=8,
        ivf_centroids=sim.kmeans_centroids(emb, k=16, n_iter=5),
        store_vectors=False, pq=True, pq_m=8, pq_codes=64, pq_n_iter=3,
    )
    ann_stored["rh_stored_pq_sec"] = _timed(
        lambda: annx.rh_topk_stored(spark, pq_dir, q_ann, k=10, rerank=50)
    )
    ann_stored["rh_buckets_bytes_pq"] = _tbl_bytes(pq_dir, "rh_buckets")

    def _pair_set(df) -> set:
        return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}

    axis_pairs = _pair_set(sim.cosine_pairs(emb, threshold=pair_t, n_bits=8))
    rh_pairs = _pair_set(
        sim.rh_cosine_pairs(
            emb, threshold=pair_t, n_bits=6, n_tables=8, dim=dq.RH_DIM
        )
    )
    denom = max(len(true_pairs), 1)
    pair_coverage = {
        "threshold": pair_t,
        "n_true_pairs": len(true_pairs),
        "axis8": round(len(axis_pairs & true_pairs) / denom, 3),
        "rh6_t8": round(len(rh_pairs & true_pairs) / denom, 3),
    }

    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "index_build_docs_per_sec": docs_per_sec,
                "index_build_sec": round(build_sec, 2),
                "query_p50_ms": query_p50_ms,
                "n_docs": n_docs,
                "cpus": int(cpus),
                "ann_recall_at_10": ann_recall,
                "ann_stored_vs_recomputed": ann_stored,
                "pair_coverage": pair_coverage,
                "query_phase_profile": query_profile,
                "batch_search_auto_sec": batch_auto_sec,
                "batch_search_routed": routed,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
