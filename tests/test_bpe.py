"""CLIP-BPE path (textnorm.BpeTokenizer): a generated mini merge table makes
encode/decode run in ANY container; the full-vocab tests additionally run
when the reference artifact is present (read-only reference checkout)."""

import gzip
import os

import pytest

VOCAB = (
    "/root/reference/server/clip_server/resources/bpe_simple_vocab_16e6.txt.gz"
)

# deterministic mini merge table (header line + merge rows) — enough to
# merge common english digraphs; everything else falls back to bytes+</w>
_MINI_MERGES = [
    "#version: mini",
    "t h",
    "th e</w>",
    "a n",
    "an d</w>",
    "i n",
    "e r",
    "o r",
    "h e",
    "w o",
    "wo r",
    "wor l",
    "worl d</w>",
    "h el",
    "hel lo</w>",
    "l o</w>",
    "l l",
    "e l",
]


@pytest.fixture(scope="module")
def mini_bpe(tmp_path_factory):
    from clip_as_service_spark.textnorm import BpeTokenizer

    path = str(tmp_path_factory.mktemp("bpe") / "mini_vocab.txt.gz")
    with gzip.open(path, "wb") as fh:
        fh.write("\n".join(_MINI_MERGES).encode("utf-8"))
    return BpeTokenizer(path)


def test_mini_encode_decode_roundtrip(mini_bpe):
    for text in (
        "the world",
        "hello world",
        "in and or the",
        "Queue zigzag!",
        "Café &amp;amp; résumé",
    ):
        ids = mini_bpe.encode(text)
        assert ids and all(isinstance(i, int) for i in ids)
        # decode inverts encode up to the normalization the encoder applied
        from clip_as_service_spark.textnorm import tokenize_words

        assert mini_bpe.decode(ids).split() == tokenize_words(text)


def test_mini_merges_applied(mini_bpe):
    # "the" must encode as ONE id (th + e</w> merged), not three byte ids
    ids = mini_bpe.encode("the")
    assert len(ids) == 1
    # unknown word falls back to multiple pieces
    assert len(mini_bpe.encode("qzxvqt")) >= 2


def test_mini_decode_unknown_bytes(mini_bpe):
    # every single-byte id decodes (byte→unicode map is total + reversible)
    ids = mini_bpe.encode("日本語 text")
    assert mini_bpe.decode(ids).split()[-1] == "text"


# --- BPE as the INDEX vocabulary (term_mode='bpe', SURVEY §7 flagged path) --


def test_bpe_index_build_and_search_rank_identical(spark, tmp_path):
    """build_index(term_mode='bpe') + every search path must match a Python
    BM25 oracle that tokenizes with the SAME vendored merge table —
    rank-identical, scores to 1e-12 (the done-bar for wiring BPE as an
    engine index option rather than a standalone tokenizer class)."""
    from clip_as_service_spark import fixtures
    from clip_as_service_spark.operators import index_build, wand
    from clip_as_service_spark.oracle import BM25Oracle
    from clip_as_service_spark.sources.tables import IndexStorage
    from clip_as_service_spark.textnorm import get_bpe, tokenize_bpe_terms

    n_pages = 60
    pages = fixtures.make_pages(n_pages)
    df = fixtures.pages_spark_df(spark, n_pages, partitions=4)
    out = str(tmp_path / "idx_bpe")
    index_build.build_index(
        spark, df, out, n_shards=4, doc_id_method="dense_sorted",
        term_mode="bpe",
    )
    meta = IndexStorage(out).read_meta()
    assert meta["term_mode"] == "bpe"

    bpe = get_bpe(None)  # vendored mini merge table
    oracle = BM25Oracle.from_pages(
        pages, tokenizer=lambda t: tokenize_bpe_terms(t, bpe)
    )
    assert meta["n_docs"] == oracle.n_docs
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)

    queries = fixtures.make_queries()[:10]
    # interactive reader path (tokenizes via meta's term_mode)
    reader = wand.IndexReader(None, out)
    for q in queries:
        got = reader.search(q["text"], k=5)
        expected = oracle.topk(q["text"], k=5)
        assert [(r, d) for r, d, _ in got] == [(r, d) for r, d, _ in expected], q
        for (_, _, se), (_, _, sg) in zip(expected, got):
            assert sg == pytest.approx(se, rel=1e-12)

    # distributed batch path (query_terms must BPE-tokenize too)
    qdf = spark.createDataFrame(
        [(q["query_id"], q["text"]) for q in queries], "query_id int, text string"
    )
    got_rows = wand.search_topk(spark, out, qdf, k=5, mode="wand").collect()
    by_q: dict[int, list] = {}
    for r in sorted(got_rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
    for q in queries:
        expected = [(r, d) for r, d, _ in oracle.topk(q["text"], k=5)]
        assert by_q.get(q["query_id"], []) == expected, q


# --- full reference artifact (when present) --------------------------------

full = pytest.mark.skipif(
    not os.path.exists(VOCAB), reason="BPE vocab artifact not available"
)


@pytest.fixture(scope="module")
def bpe():
    from clip_as_service_spark.textnorm import BpeTokenizer

    return BpeTokenizer(VOCAB)


@full
def test_vocab_size(bpe):
    # 256 bytes + 256 </w> + 48894 merges + 2 specials = 49408
    # (reference simple_tokenizer.py:74-82, tokenization.py:80-81)
    assert len(bpe.encoder) == 49408


@full
def test_encode_basics(bpe):
    ids = bpe.encode("hello world!")
    assert len(ids) == 3  # three whole-word vocab hits
    assert all(0 <= i < 49408 for i in ids)
    assert bpe.encode("hello world!") == ids  # deterministic + cached


@full
def test_unknown_word_splits_to_multiple_pieces(bpe):
    ids = bpe.encode("qzxvqt")
    assert len(ids) >= 2


@full
def test_normalization_flows_through(bpe):
    # same pipeline F1-F3 feeds BPE: case/whitespace collapse first
    assert bpe.encode("  HELLO   world! ") == bpe.encode("hello world!")


@full
def test_full_vocab_roundtrip(bpe):
    from clip_as_service_spark.textnorm import tokenize_words

    for text in ("hello world", "she smiled, with pain", "First do it right"):
        assert bpe.decode(bpe.encode(text)).split() == tokenize_words(text)
