"""Rank fusion — combining the lexical (BM25) and semantic (embedding)
engines into one results page.

The reference attaches BOTH scores to every match (`clip_score` and
`clip_score_cosine`, server/clip_server/executors/helper.py:107-114) but
leaves combining them to the caller; this module completes the pairing with
reciprocal-rank fusion (RRF, Cormack et al. 2009 — the standard public
technique):

    rrf(q, d) = Σ_arm 1 / (rrf_k + rank_arm(q, d))

Rank-based, so the arms' incomparable score scales never mix, and an arm
that misses a document simply contributes 0.

Scale shape: each arm ships only its per-query top-``pool`` rows (k·|Q| —
result-page-sized by construction, NOT corpus-sized), so the fusion join is
a full-outer equi-join of tiny relations; AQE broadcasts it from observed
size. Everything is JVM built-ins — no Python in the plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import topk_rows


def rrf_fuse(
    arms: dict[str, DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    round_dp: int = 9,
) -> DataFrame:
    """Fuse per-query ranked arms into one top-``k`` page.

    ``arms``: name → DataFrame(query_id, doc_id, rank) — each arm's
    per-query candidate pool with 1-based ranks (feed each engine's own
    top-``pool``). Returns (query_id, rank, doc_id, rrf, rank_<name>…) —
    per-arm ranks carried through (0 = the arm missed the doc), mirroring
    the reference's keep-both-scores contract. Deterministic: rrf rounded
    to ``round_dp`` before ranking, ties broken by doc_id ascending."""
    if not arms:
        raise ValueError("rrf_fuse: at least one arm required")
    renamed = [
        df.select(
            "query_id", "doc_id", F.col("rank").alias(f"rank_{name}")
        )
        for name, df in arms.items()
    ]
    joined = reduce(
        lambda a, b: a.join(b, ["query_id", "doc_id"], "full_outer"), renamed
    )
    rank_cols = [f"rank_{name}" for name in arms]
    rrf = reduce(
        lambda acc, c: acc
        + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col(c)), F.lit(0.0)),
        rank_cols,
        F.lit(0.0),
    )
    fused = joined.select(
        "query_id",
        "doc_id",
        F.round(rrf, round_dp).alias("rrf"),
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("int").alias(c)
            for c in rank_cols
        ],
    )
    return topk_rows(
        fused, "query_id", [F.desc("rrf"), F.asc("doc_id")], k
    ).select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        "doc_id", "rrf", *rank_cols,
    )


class HybridReader:
    """Zero-Spark interactive hybrid search — RRF over the two resident
    readers (wand.IndexReader lexical arm, ann_index.AnnReader semantic
    arm), completing the serving story whose batch twin is
    hybrid_search_stored. Reference analog: the gateway merges
    multi-executor results per request (retriever.md:202-225); here the
    per-request merge is this fusion.

    Query flow per call: tokenize+WAND/TAAT over the block index (pruned
    pyarrow reads), hash-embed the text in pure Python (bit-identical to
    the Spark encode verb), probe the persisted ANN tables (pruned pyarrow
    reads), fuse ranks — no Spark jobs anywhere. Parity with
    hybrid_search_stored on the same indexes is test-pinned.

    Snapshot semantics follow the underlying readers: appends/deletes made
    after construction need ``refresh()``."""

    def __init__(self, text_index_dir: str, ann_index_dir: str):
        from .ann_index import AnnReader
        from .wand import IndexReader

        self.lex = IndexReader(None, text_index_dir)
        self.ann = AnnReader(ann_index_dir)
        self.dim = int(self.ann.meta["dim"])

    def refresh(self) -> None:
        """Pick up appends AND deletes on BOTH arms (block-index doc
        tombstones + ANN vector tombstones) made after construction."""
        self.lex.refresh()
        self.ann.refresh()

    def search(
        self,
        text: str,
        k: int = 10,
        pool: int = 20,
        rrf_k: int = 60,
        ann_method: str = "rh",
        nprobe: int = 2,
        rerank: int | None = None,
        round_dp: int = 9,
    ) -> list[tuple]:
        """→ [(rank, doc_id, rrf, rank_bm25, rank_cos)] — the same row
        shape rrf_fuse emits (minus query_id; one query per call). A
        zero-norm query embedding (no tokens survive hashing) drops the
        semantic arm, exactly like hybrid_search_stored's qvec filter."""
        import numpy as np

        from .ann_index import _round_half_up
        from .encode import hash_embed_py

        lex_rank = {
            int(doc_id): int(rank)
            for rank, doc_id, _score in self.lex.search(text, k=pool)
        }
        qvec = hash_embed_py(text, dim=self.dim)
        sem_rank: dict[int, int] = {}
        if any(x != 0 for x in qvec):
            if ann_method == "ivf":
                hits = self.ann.search_ivf(
                    qvec, k=pool, nprobe=nprobe, rerank=rerank
                )
            else:
                hits = self.ann.search(qvec, k=pool, rerank=rerank)
            sem_rank = {int(vid): int(rank) for rank, vid, _cos in hits}
        fused = []
        for doc_id in set(lex_rank) | set(sem_rank):
            rrf = 0.0
            if doc_id in lex_rank:
                rrf += 1.0 / (rrf_k + lex_rank[doc_id])
            if doc_id in sem_rank:
                rrf += 1.0 / (rrf_k + sem_rank[doc_id])
            # same decimal HALF_UP rounding as rrf_fuse's F.round — a tie
            # at the page boundary must break identically in both engines
            rrf = float(_round_half_up(np.float64(rrf), round_dp))
            fused.append(
                (doc_id, rrf, lex_rank.get(doc_id, 0), sem_rank.get(doc_id, 0))
            )
        fused.sort(key=lambda t: (-t[1], t[0]))
        return [
            (rank + 1, doc_id, rrf, rb, rc)
            for rank, (doc_id, rrf, rb, rc) in enumerate(fused[:k])
        ]


def hybrid_search_stored(
    spark,
    text_index_dir: str,
    ann_index_dir: str,
    queries: DataFrame,
    k: int = 10,
    pool: int = 20,
    rrf_k: int = 60,
    ann_method: str = "rh",
    nprobe: int = 2,
    rerank: int | None = None,
) -> DataFrame:
    """Hybrid search THROUGH THE PERSISTED indexes — the serving-path twin
    of the oracle-checked brute-force `hybrid_topk` gate query.

    ``queries``: (query_id, text). The lexical arm scores the block index
    with wand.search_topk (IndexReader.search in each task); the semantic arm
    encodes the query text with the deterministic hash-embed verb at the
    ANN index's own dim and probes the persisted RH tables (or IVF cells,
    ``ann_method="ivf"``) — both arms read ONLY their pruned slices of the
    at-rest structures. Arms keep their top-``pool``; rrf_fuse combines.

    Docs are assumed to share the id space with the indexed vectors
    (vec_id == doc_id — the encode→index flow guarantees it)."""
    from .ann_index import ivf_topk_stored, rh_topk_stored
    from .encode import hash_embed
    from .wand import search_topk
    from ..sources.tables import IndexStorage

    lex = search_topk(spark, text_index_dir, queries, k=pool).select(
        "query_id", F.col("doc_id").cast("long").alias("doc_id"), "rank"
    )

    dim = int(IndexStorage(ann_index_dir).read_meta()["dim"])
    qe = (
        hash_embed(queries, "query_id", "text", dim=dim)
        .select(F.col("id").alias("query_id"), F.col("embedding").alias("qvec"))
        .filter(F.exists("qvec", lambda x: x != 0))  # zero vec has no cosine
    )
    # rerank (PQ indexes): bound the semantic arm's exact-fetch pool
    if ann_method == "ivf":
        sem = ivf_topk_stored(
            spark, ann_index_dir, qe, k=pool, nprobe=nprobe, rerank=rerank
        )
    else:
        sem = rh_topk_stored(spark, ann_index_dir, qe, k=pool, rerank=rerank)
    sem = sem.select(
        "query_id", F.col("vec_id").cast("long").alias("doc_id"), "rank"
    )
    return rrf_fuse({"bm25": lex, "cos": sem}, k=k, rrf_k=rrf_k)
