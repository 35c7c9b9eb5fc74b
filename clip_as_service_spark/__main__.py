"""CLI — the engine's `spark-submit --py-files` entry point (north rule),
mirroring the reference's `python -m clip_server <flow.yml>` single-entry
style (reference server/clip_server/__main__.py:13-26).

    python -m clip_as_service_spark build  --input pages.parquet --out ./idx
    python -m clip_as_service_spark build  --input p.parquet --out ./idx --term-mode bpe
    python -m clip_as_service_spark merge  --inputs ./idx_a ./idx_b --out ./idx
    python -m clip_as_service_spark search --index ./idx --query "hello world" -k 10
    python -m clip_as_service_spark search --index ./idx --queries-tsv qs.tsv
    python -m clip_as_service_spark stats  --index ./idx
    python -m clip_as_service_spark compact --postings ./streamed --out ./idx
    python -m clip_as_service_spark ann-build --input emb.parquet --out ./ann

Under spark-submit the active session is reused; standalone it builds a
local one (SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS env override).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(
        app_name=f"cas-spark-{args.cmd}",
        master=getattr(args, "master", None),
    )


def cmd_build(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    pages = spark.read.parquet(args.input)
    from .operators.index_build import build_index

    build_index(
        spark,
        pages,
        args.out,
        n_shards=args.n_shards,
        salt_cutoff=args.salt_cutoff,
        doc_id_method=args.doc_id_method,
        term_mode=args.term_mode,
        bpe_path=args.bpe_path,
        positions=args.positions,
    )
    from .sources.tables import IndexStorage

    log = IndexStorage(args.out).read(spark, "build_log")
    for r in log.orderBy("stage", "shard").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_merge(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.index_build import merge_indexes
    from .sources.tables import IndexStorage

    merge_indexes(
        spark,
        args.inputs,
        args.out,
        n_shards=args.n_shards,
        salt_cutoff=args.salt_cutoff,
    )
    log = IndexStorage(args.out).read(spark, "build_log")
    for r in log.orderBy("stage", "shard").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_search(args) -> int:
    # IndexReader reads the index with pyarrow: no Spark session to start
    from .operators.wand import IndexReader

    reader = IndexReader(None, args.index)
    if args.phrase:
        for doc_id, start_pos in reader.phrase(args.phrase, limit=args.k):
            print(json.dumps({"doc_id": doc_id, "start_pos": start_pos}))
        return 0
    queries: list[tuple[str, str]] = []
    if args.query:
        queries.append(("q0", args.query))
    if args.queries_tsv:
        with open(args.queries_tsv) as fh:
            for line in fh:
                qid, _, text = line.rstrip("\n").partition("\t")
                queries.append((qid, text))
    if not queries:
        print("no query given (use --query or --queries-tsv)", file=sys.stderr)
        return 2
    for qid, text in queries:
        for rank, doc_id, score in reader.search(text, k=args.k):
            print(json.dumps({"query": qid, "rank": rank, "doc_id": doc_id, "score": score}))
    if args.profile:
        print(json.dumps({"profile": reader.profile_summary()}))
    return 0


def cmd_stats(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .sources.tables import IndexStorage

    store = IndexStorage(args.index)
    meta = store.read_meta()
    blocks = store.read(spark, "blocks")
    agg = blocks.agg(
        {"bytes": "sum", "n": "sum", "term": "approx_count_distinct"}
    ).collect()[0]
    print(
        json.dumps(
            {
                **meta,
                "block_rows": blocks.count(),
                "compressed_bytes": int(agg["sum(bytes)"]),
                "postings": int(agg["sum(n)"]),
                "approx_terms": int(agg["approx_count_distinct(term)"]),
            }
        )
    )
    return 0


def cmd_compact(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .sources.tables import IndexStorage
    from .streaming.incremental import compact_streamed_index

    compact_streamed_index(
        spark,
        args.postings,
        args.out,
        n_shards=args.n_shards,
        salt_cutoff=args.salt_cutoff,
        term_mode=args.term_mode,
        bpe_path=args.bpe_path,
    )
    log = IndexStorage(args.out).read(spark, "build_log")
    for r in log.orderBy("stage", "shard").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_ann_build(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.ann_index import build_ann_index

    emb = spark.read.parquet(args.input)
    dim = args.dim
    if dim is None:
        from pyspark.sql import functions as F

        row = emb.select(F.size(args.vec_col).alias("d")).first()
        dim = int(row["d"]) if row else 0
    store = build_ann_index(
        spark,
        emb,
        args.out,
        dim=dim,
        rh_n_bits=args.rh_bits,
        rh_n_tables=args.rh_tables,
        ivf_k=args.ivf_k,
        ivf_train_sample=args.ivf_sample,
        id_col=args.id_col,
        vec_col=args.vec_col,
        store_vectors=not (args.no_store_vectors or args.pq),
        pq=args.pq,
        pq_m=args.pq_m,
        pq_codes=args.pq_codes,
        pq_train_sample=args.pq_sample,
    )
    print(json.dumps(store.read_meta()))
    return 0


def cmd_hybrid_search(args) -> int:
    queries: list[tuple[int, str]] = []
    if args.query:
        queries.append((0, args.query))
    if args.queries_tsv:
        with open(args.queries_tsv) as fh:
            for i, line in enumerate(fh):
                qid, _, text = line.rstrip("\n").partition("\t")
                queries.append((int(qid) if qid.isdigit() else i, text))
    if not queries:
        print("no query given (use --query or --queries-tsv)", file=sys.stderr)
        return 2
    if args.interactive:
        # zero-Spark serving path: resident readers + python RRF — no JVM
        # at all (parity with the stored path is test-pinned)
        from .operators.fusion import HybridReader

        reader = HybridReader(args.text_index, args.ann_index)
        for qid, text in queries:
            for rank, doc_id, rrf, rb, rc in reader.search(
                text, k=args.k, pool=args.pool, ann_method=args.ann_method,
                nprobe=args.nprobe, rerank=args.rerank,
            ):
                print(json.dumps({
                    "query_id": qid, "rank": rank, "doc_id": doc_id,
                    "rrf": rrf, "rank_bm25": rb, "rank_cos": rc,
                }))
        return 0
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.fusion import hybrid_search_stored

    qdf = spark.createDataFrame(queries, "query_id int, text string")
    out = hybrid_search_stored(
        spark, args.text_index, args.ann_index, qdf,
        k=args.k, pool=args.pool, ann_method=args.ann_method,
        nprobe=args.nprobe, rerank=args.rerank,
    )
    for r in out.orderBy("query_id", "rank").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_ann_ingest(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .streaming.incremental import ingest_staged_vectors

    n = ingest_staged_vectors(spark, args.staging, args.index)
    print(json.dumps({"ingested": n}))
    return 0


def cmd_delete_docs(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.index_build import delete_docs, delete_urls

    n = 0
    if args.ids:
        n += delete_docs(
            spark, args.index,
            [int(v) for v in args.ids.split(",") if v.strip() != ""],
        )
    if args.urls:
        n += delete_urls(
            spark, args.index,
            [u for u in args.urls.split(",") if u.strip() != ""],
        )
    print(json.dumps({"deleted": n}))
    return 0


def cmd_purge(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.index_build import purge_deleted_docs

    store = purge_deleted_docs(spark, args.index, args.out)
    print(json.dumps(store.read_meta()))
    return 0


def cmd_ann_stats(args) -> int:
    """Workspace observability: per-table rows + bytes, live/dead split
    when tombstones exist, and the persisted build config — the ops view
    a refresh pipeline checks before deciding to ann-compact."""
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from pyspark.sql import functions as F

    from .operators.ann_index import _filter_dead, _tombstones
    from .sources.tables import IndexStorage

    store = IndexStorage(args.index)
    out = {"meta": store.read_meta()}
    for t in ("rh_buckets", "ivf_centroids", "ivf_cells", "deleted_ids"):
        if store.exists(t):
            out[t] = {
                "rows": store.read(spark, t).count(),
                "bytes": store.table_bytes(t),
            }
    ts = _tombstones(spark, store)
    if ts is not None:
        cells = store.read(spark, "ivf_cells")
        live = _filter_dead(cells.select("vec_id", "gen"), ts).count()
        out["live_vectors"] = live
        out["dead_rows_pending_compact"] = out["ivf_cells"]["rows"] - live
        out["tombstoned_ids"] = ts.count()
    print(json.dumps(out))
    return 0


def cmd_ann_delete(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.ann_index import delete_ann_vectors

    ids = [int(v) for v in args.ids.split(",") if v.strip() != ""]
    n = delete_ann_vectors(spark, args.index, ids)
    print(json.dumps({"deleted": n}))
    return 0


def cmd_ann_update(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.ann_index import update_ann_vectors

    emb = spark.read.parquet(args.input)
    update_ann_vectors(
        spark, args.index, emb, id_col=args.id_col, vec_col=args.vec_col
    )
    print(json.dumps({"updated": emb.count()}))
    return 0


def cmd_ann_compact(args) -> int:
    spark = _spark(args)
    spark.sparkContext.setLogLevel("WARN")
    from .operators.ann_index import compact_ann_index
    from .sources.tables import IndexStorage

    compact_ann_index(spark, args.index, retrain=args.retrain)
    print(json.dumps(IndexStorage(args.index).read_meta()))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="clip_as_service_spark")
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--n-shards", type=int, default=32)
    b.add_argument("--salt-cutoff", type=int, default=50_000)
    b.add_argument(
        "--doc-id-method",
        default="dense",
        choices=["dense", "dense_sorted", "hash", "row_number"],
    )
    b.add_argument(
        "--term-mode", default="word", choices=["word", "bpe"],
        help="index vocabulary: word tokens (default) or BPE ids",
    )
    b.add_argument(
        "--bpe-path", default=None,
        help="BPE merges file (.txt.gz); default = vendored mini table",
    )
    b.add_argument(
        "--positions", action="store_true",
        help="also persist the term-sharded positional table (phrase queries)",
    )
    b.set_defaults(fn=cmd_build)

    m = sub.add_parser(
        "merge", help="hierarchically merge partial indexes (hash doc ids)"
    )
    m.add_argument("--inputs", nargs="+", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--n-shards", type=int, default=32)
    m.add_argument("--salt-cutoff", type=int, default=50_000)
    m.set_defaults(fn=cmd_merge)

    s = sub.add_parser("search", help="BM25 top-k search")
    s.add_argument("--index", required=True)
    s.add_argument("--query")
    s.add_argument("--queries-tsv")
    s.add_argument(
        "--phrase", help="exact phrase lookup (requires build --positions)"
    )
    s.add_argument("-k", type=int, default=10)
    s.add_argument(
        "--profile", action="store_true",
        help="print per-phase (tokenize/fetch/score) p50/p95 after the results",
    )
    s.set_defaults(fn=cmd_search)

    t = sub.add_parser("stats", help="index statistics")
    t.add_argument("--index", required=True)
    t.set_defaults(fn=cmd_stats)

    c = sub.add_parser(
        "compact",
        help="compact streamed append-only postings into a full block index",
    )
    c.add_argument("--postings", required=True, help="streamed postings dir")
    c.add_argument("--out", required=True)
    c.add_argument("--n-shards", type=int, default=32)
    c.add_argument("--salt-cutoff", type=int, default=50_000)
    c.add_argument("--term-mode", default="word", choices=["word", "bpe"])
    c.add_argument("--bpe-path", default=None)
    c.set_defaults(fn=cmd_compact)

    a = sub.add_parser(
        "ann-build", help="persist the embedding-side ANN index (RH + IVF)"
    )
    a.add_argument("--input", required=True, help="embeddings parquet")
    a.add_argument("--out", required=True)
    a.add_argument("--dim", type=int, default=None, help="default: probed")
    a.add_argument("--rh-bits", type=int, default=None, help="None = auto-size from corpus")
    a.add_argument("--rh-tables", type=int, default=1)
    a.add_argument("--ivf-k", type=int, default=None, help="None = auto-size from corpus (~sqrt(N))")
    a.add_argument("--ivf-sample", type=float, default=None)
    a.add_argument("--id-col", default="vec_id")
    a.add_argument("--vec-col", default="embedding")
    a.add_argument(
        "--no-store-vectors", action="store_true",
        help="id-only rh_buckets payload (vectors fetched from ivf_cells "
        "at probe time) — n_tables x smaller index",
    )
    a.add_argument(
        "--pq", action="store_true",
        help="product-quantized payload: m smallint codes per vector, "
        "ADC candidate scoring + exact re-rank of survivors (implies "
        "--no-store-vectors)",
    )
    a.add_argument("--pq-m", type=int, default=8)
    a.add_argument("--pq-codes", type=int, default=256)
    a.add_argument("--pq-sample", type=float, default=None)
    a.set_defaults(fn=cmd_ann_build)

    ac = sub.add_parser(
        "ann-compact",
        help="compact the ANN workspace (coalesce append small files; "
        "--retrain also retrains the quantizer and reassigns cells)",
    )
    ac.add_argument("--index", required=True)
    ac.add_argument("--retrain", action="store_true")
    ac.set_defaults(fn=cmd_ann_compact)

    ai = sub.add_parser(
        "ann-ingest",
        help="fold streamed/staged embeddings into the ANN index "
        "(idempotent, crash-convergent insert-only fold)",
    )
    ai.add_argument("--staging", required=True)
    ai.add_argument("--index", required=True)
    ai.set_defaults(fn=cmd_ann_ingest)

    dd = sub.add_parser(
        "delete-docs",
        help="tombstone documents in the block index (merge-on-read: "
        "hidden from search/phrase immediately, stats stay stale until "
        "purge)",
    )
    dd.add_argument("--index", required=True)
    dd.add_argument("--ids", help="comma-separated doc_ids")
    dd.add_argument(
        "--urls",
        help="comma-separated urls (doc_id_method='hash' indexes only)",
    )
    dd.set_defaults(fn=cmd_delete_docs)

    pg = sub.add_parser(
        "purge",
        help="rebuild the index without tombstoned docs (stats/idf "
        "refresh; out-of-place like compact)",
    )
    pg.add_argument("--index", required=True)
    pg.add_argument("--out", required=True)
    pg.set_defaults(fn=cmd_purge)

    ast = sub.add_parser(
        "ann-stats",
        help="ANN workspace stats: table rows/bytes, live vs tombstoned, "
        "persisted config",
    )
    ast.add_argument("--index", required=True)
    ast.set_defaults(fn=cmd_ann_stats)

    ad = sub.add_parser(
        "ann-delete",
        help="tombstone vectors by id (merge-on-read; bytes reclaimed at "
        "the next ann-compact)",
    )
    ad.add_argument("--index", required=True)
    ad.add_argument(
        "--ids", required=True, help="comma-separated vec_ids to delete"
    )
    ad.set_defaults(fn=cmd_ann_delete)

    au = sub.add_parser(
        "ann-update",
        help="upsert re-encoded vectors (delete + append in one call)",
    )
    au.add_argument("--index", required=True)
    au.add_argument("--input", required=True, help="parquet of new vectors")
    au.add_argument("--id-col", default="vec_id")
    au.add_argument("--vec-col", default="embedding")
    au.set_defaults(fn=cmd_ann_update)

    hy = sub.add_parser(
        "hybrid-search",
        help="BM25 + embedding hybrid top-k through the persisted indexes "
        "(WAND block index + stored ANN, reciprocal-rank fusion)",
    )
    hy.add_argument("--text-index", required=True)
    hy.add_argument("--ann-index", required=True)
    hy.add_argument("--query")
    hy.add_argument("--queries-tsv")
    hy.add_argument(
        "--interactive", action="store_true",
        help="serve through the zero-Spark HybridReader (resident "
        "IndexReader + AnnReader, python RRF) instead of Spark jobs",
    )
    hy.add_argument("-k", type=int, default=10)
    hy.add_argument("--pool", type=int, default=20)
    hy.add_argument("--ann-method", default="rh", choices=["rh", "ivf"])
    hy.add_argument(
        "--nprobe", type=int, default=2,
        help="IVF cells probed per query (--ann-method ivf)",
    )
    hy.add_argument(
        "--rerank", type=int, default=None,
        help="PQ indexes: ADC-select this many candidates per query for "
        "the exact re-rank (default: fetch every candidate's exact vector)",
    )
    hy.set_defaults(fn=cmd_hybrid_search)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
