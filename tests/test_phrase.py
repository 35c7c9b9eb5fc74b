"""Positional phrase search: exact occurrences, overlaps, and validation
short-circuits."""

from __future__ import annotations

from clip_as_service_spark.operators import phrase


def _matches(spark, rows, terms):
    df = spark.createDataFrame(rows, "id long, text string")
    pos = phrase.token_positions(df, "id", "text")
    return {
        (r["id"], r["start_pos"])
        for r in phrase.phrase_positions(pos, terms).collect()
    }


def test_phrase_exact_and_multiple_occurrences(spark):
    rows = [
        (1, "a b c a b c"),       # "a b" at 0 and 3
        (2, "a c b"),             # no "a b"
        (3, "b a b"),             # "a b" at 1
        (4, "a"),                 # shorter than the phrase
    ]
    assert _matches(spark, rows, ["a", "b"]) == {(1, 0), (1, 3), (3, 1)}


def test_phrase_overlapping_matches(spark):
    # "a a a" contains "a a" at 0 AND 1 — overlaps must both count
    assert _matches(spark, [(1, "a a a")], ["a", "a"]) == {(1, 0), (1, 1)}


def test_phrase_three_terms_and_order_sensitivity(spark):
    rows = [(1, "x hash join table y"), (2, "join hash table")]
    assert _matches(spark, rows, ["hash", "join", "table"]) == {(1, 1)}


def test_phrase_empty_and_oov(spark):
    rows = [(1, "a b c")]
    assert _matches(spark, rows, []) == set()
    assert _matches(spark, rows, ["zzz"]) == set()


def test_phrase_rarest_term_first_ordering(spark):
    """With a term_df map the join tree must be left-deep starting from the
    RAREST term (the intermediate is bounded by its postings, not the head
    term's), while results stay identical to phrase-order joins — including
    when the rarest term is not term 0 (negative aligned starts can't
    survive the term-0 join)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "aa_head bb_mid cc_rare runs"),
        (2, "aa_head aa_head aa_head bb_mid cc_rare"),
        (3, "aa_head bb_mid brown fox"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    pos = phrase.token_positions(df, "id", "text")
    terms = ["aa_head", "bb_mid", "cc_rare"]
    term_df = {"aa_head": 10, "bb_mid": 3, "cc_rare": 2}

    plain = {
        (r["id"], r["start_pos"])
        for r in phrase.phrase_positions(pos, terms).collect()
    }
    ordered = phrase.phrase_positions(pos, terms, term_df=term_df)
    got = {(r["id"], r["start_pos"]) for r in ordered.collect()}
    assert got == plain == {(1, 0), (2, 2)}

    # plan inspection: in the left-deep join tree the deepest-left leaf
    # prints FIRST, so the rarest term's filter literal must appear before
    # the head term's in the optimized plan
    plan = ordered._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("cc_rare") < plan.index("bb_mid") < plan.index("aa_head")

    # a term ABSENT from term_df is df=0 (the dictionary is complete):
    # it must join FIRST — its empty posting list short-circuits the rest
    oov = phrase.phrase_positions(
        pos, ["aa_head", "zz_oov"], term_df={"aa_head": 10}
    )
    assert oov.collect() == []
    oplan = oov._jdf.queryExecution().optimizedPlan().toString()
    assert oplan.index("zz_oov") < oplan.index("aa_head")


import pytest


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    """80-page index with the positional table, shared by the indexed
    phrase + snippet tests."""
    from clip_as_service_spark import fixtures
    from clip_as_service_spark.operators import index_build

    out = str(tmp_path_factory.mktemp("idxp") / "idx_pos")
    df = fixtures.pages_spark_df(spark, 80, partitions=4)
    index_build.build_index(
        spark, df, out, n_shards=4, doc_id_method="dense_sorted",
        positions=True,
    )
    return out


def test_indexed_phrase_search_matches_token_oracle(spark, pos_index):
    """build_index(positions=True) persists the term-sharded positional
    table; phrase_search_indexed must find exactly the occurrences a pure
    Python scan over tokenize_words finds (byte-identity vocabulary), and
    its scan must be pruned to the phrase terms' shards."""
    from clip_as_service_spark import fixtures
    from clip_as_service_spark.textnorm import tokenize_words

    pages = fixtures.make_pages(80)
    out = pos_index

    # oracle: doc_id = row_number over url asc (matches dense_sorted)
    ordered = sorted(pages, key=lambda p: p["url"])
    toks = {i: tokenize_words(p["text"]) for i, p in enumerate(ordered, 1)}
    # pick a phrase that actually occurs: first doc with >= 3 tokens
    doc_id, tt = next((i, t) for i, t in toks.items() if len(t) >= 3)
    ph_terms = tt[1:3]
    phrase_text = " ".join(ph_terms)

    expected = set()
    for i, t in toks.items():
        for j in range(len(t) - len(ph_terms) + 1):
            if t[j : j + len(ph_terms)] == ph_terms:
                expected.add((i, j))
    assert expected  # the phrase occurs at least once by construction

    got = {
        (r["id"], r["start_pos"])
        for r in phrase.phrase_search_indexed(spark, out, phrase_text).collect()
    }
    assert got == expected

    # interactive (pyarrow, zero-Spark-jobs) twin must agree exactly
    from clip_as_service_spark.operators import wand

    reader = wand.IndexReader(None, out)
    assert set(reader.phrase(phrase_text)) == expected
    assert reader.phrase("") == []
    assert reader.phrase("zzzoovterm nothere") == []

    # empty phrase short-circuits
    assert phrase.phrase_search_indexed(spark, out, "").collect() == []


def test_snippets_indexed_matches_python_oracle(spark, pos_index):
    """snippets_indexed over a result page must window the index-vocabulary
    tokens at the earliest matching query-term position — checked against a
    pure Python re-derivation (tokenize_words both sides)."""
    from pyspark.sql import functions as F

    from clip_as_service_spark import fixtures
    from clip_as_service_spark.textnorm import tokenize_words

    pages = fixtures.make_pages(80)
    ordered = sorted(pages, key=lambda p: p["url"])
    toks = {i: tokenize_words(p["text"]) for i, p in enumerate(ordered, 1)}

    queries = fixtures.make_queries()[:4]
    qdf = spark.createDataFrame(
        [(q["query_id"], q["text"]) for q in queries],
        "query_id long, qtext string",
    )
    # a synthetic result page: for each query, the first 3 docs containing
    # ANY of its terms (deterministic; content doesn't matter — the page is
    # the operator's INPUT)
    page_rows = []
    expected = {}
    before, width = 2, 6
    for q in queries:
        terms = set(tokenize_words(q["text"]))
        found = 0
        for i in sorted(toks):
            hitpos = [p for p, t in enumerate(toks[i]) if t in terms]
            if hitpos:
                page_rows.append((q["query_id"], i))
                s = max(hitpos[0] - before, 0)
                expected[(q["query_id"], i)] = (
                    hitpos[0], " ".join(toks[i][s : s + width])
                )
                found += 1
                if found == 3:
                    break
    assert page_rows
    results = spark.createDataFrame(page_rows, "query_id long, doc_id long")
    docs = spark.createDataFrame(
        [(i, p["text"]) for i, p in enumerate(ordered, 1)],
        "doc_id long, text string",
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["pos"], r["snippet"])
        for r in phrase.snippets_indexed(
            spark, pos_index, results, qdf, docs, before=before, width=width
        ).collect()
    }
    assert got == expected
    # position source must be the PRUNED positions scan: shards beyond the
    # query terms' are filtered out of the plan (partition filter on shard)
    out = phrase.snippets_indexed(
        spark, pos_index, results, qdf, docs, before=before, width=width
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan
    # UDF-position pin (VERDICT r04 #1): the tokenize UDF must evaluate
    # ABOVE the documents⋈hits join — tokenizing only the k·|queries|
    # surviving rows, never the corpus. Plans print root-first, so "above"
    # = an EARLIER line: every ArrowEvalPython must precede the join node.
    lines = plan.splitlines()
    udf_lines = [i for i, l in enumerate(lines) if "ArrowEvalPython" in l]
    join_lines = [
        i for i, l in enumerate(lines) if "BroadcastHashJoin" in l
    ]
    assert udf_lines and join_lines
    assert max(udf_lines) < min(join_lines), (
        "tokenize UDF evaluates below the hits join — whole-corpus "
        "Python scan per results page"
    )
