"""Answer checks against ``oracle.BM25Oracle``, with the oracle's answers
kept on disk per corpus so that later runs of the same seed and size reuse
them instead of rebuilding the oracle."""

from __future__ import annotations

import hashlib
import json
import os


def same_bits(a: float, b: float) -> bool:
    return float(a).hex() == float(b).hex()


def answer_diff(got, ranked, k: int, deleted=frozenset()) -> str | None:
    """None when ``got`` [(rank, doc_id, score)] is the oracle's answer,
    else why not. ``ranked`` is the oracle's [(doc_id, score)] order (score
    descending, doc id ascending), deep enough to cover ``deleted``: with
    tombstones the expected answer is that order with the tombstoned ids
    removed, because corpus stats stay those of the full corpus."""
    want = [(d, s) for d, s in ranked if d not in deleted][:k]
    got = list(got)
    if len(got) != len(want):
        return f"{len(got)} results, oracle has {len(want)}"
    for i, ((rank, doc, score), (wdoc, wscore)) in enumerate(zip(got, want), 1):
        if rank != i:
            return f"position {i} carries rank {rank}"
        if doc != wdoc:
            return f"rank {i}: doc {doc}, oracle doc {wdoc}"
        if not same_bits(score, wscore):
            return f"rank {i}: score {score!r}, oracle {wscore!r}"
    return None


def score_diff(got_scores, want_scores) -> str | None:
    """Score sequences must match bit for bit (used where doc ids follow
    input order and cannot be mapped to the oracle's url order)."""
    got, want = list(got_scores), list(want_scores)
    if len(got) != len(want):
        return f"{len(got)} scores, oracle has {len(want)}"
    for i, (a, b) in enumerate(zip(got, want), 1):
        if not same_bits(a, b):
            return f"rank {i}: score {a!r}, oracle {b!r}"
    return None


ORACLE_SOURCES = ("fixtures.py", "oracle.py", "textnorm.py", "__init__.py")


def code_fingerprint(root: str, rels=ORACLE_SOURCES) -> str:
    """Hash of the package sources ``rels`` (all of them when None); by
    default those that define the corpus and the oracle's answers, so that
    cached answers never outlive a change to them."""
    pkg = os.path.join(root, "clip_as_service_spark")
    if rels is None:
        rels = sorted(
            os.path.relpath(os.path.join(dp, f), pkg)
            for dp, _, files in os.walk(pkg)
            for f in files
            if f.endswith(".py")
        )
    h = hashlib.sha256()
    for rel in rels:
        h.update(rel.encode())
        with open(os.path.join(pkg, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


class References:
    """Oracle answers (top ``depth`` per query) and corpus stats for one
    corpus. ``load_pages`` returns the corpus as page dicts; the oracle is
    built from it only when an answer is not cached yet."""

    def __init__(self, path: str, load_pages, depth: int):
        self.path = path
        self.depth = depth
        self._load_pages = load_pages
        self._oracle = None
        self._dirty = False
        self._data = {"stats": None, "answers": {}}
        if os.path.exists(path):
            with open(path) as fh:
                self._data = json.load(fh)

    def _get_oracle(self):
        if self._oracle is None:
            from clip_as_service_spark.oracle import BM25Oracle

            self._oracle = BM25Oracle.from_pages(self._load_pages())
        return self._oracle

    def stats(self) -> tuple[int, float]:
        if self._data["stats"] is None:
            o = self._get_oracle()
            self._data["stats"] = [o.n_docs, o.avgdl]
            self._dirty = True
        n_docs, avgdl = self._data["stats"]
        return n_docs, avgdl

    def ranked(self, text: str, k: int = 0, deleted=frozenset()) -> list[tuple[int, float]]:
        """The oracle's (doc_id, score) order for ``text``, ``depth`` deep,
        or deeper when the cached answers, with ``deleted`` removed, hold
        fewer than ``k`` of the ranking (the deeper answer is not cached)."""
        hit = self._data["answers"].get(text)
        if hit is None:
            hit = [[d, s] for _, d, s in self._get_oracle().topk(text, self.depth)]
            self._data["answers"][text] = hit
            self._dirty = True
        if len(hit) == self.depth and sum(d not in deleted for d, _ in hit) < k:
            hit = [[d, s] for _, d, s in self._get_oracle().topk(text, k + len(deleted))]
        return [(d, s) for d, s in hit]

    def save(self) -> None:
        if not self._dirty:
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = f"{self.path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self._data, fh)
        os.replace(tmp, self.path)
        self._dirty = False
