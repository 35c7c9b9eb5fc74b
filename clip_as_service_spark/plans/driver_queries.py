"""Driver-facing query registry: every entry is a (Spark impl, DuckDB oracle
SQL) pair over the driver's testdata tables (TESTDATA.md).

These queries exercise the operator inventory of SURVEY.md §2 on the
driver's `documents`/`embeddings`/`events`/TPC-H-ish tables. The fulltext
path here uses *split-on-space* tokenization (the documents fixture is clean
lowercase prose) so the oracle is expressible in ANSI SQL; the full
reference tokenizer (ftfy/unescape/\\p{L} regex — not SQL-expressible) is
exercised against the vendored Python oracle in tests/ instead.

Float determinism between engines: aggregate floats are rounded (4-6 dp) in
BOTH engines; rankings order by round(score, 9) before the doc_id tie-break
so last-ulp summation-order differences can't flip a rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
TOPK = 10

# fixed query set drawn from the documents-table vocabulary + one OOV
DOC_QUERIES: list[tuple[int, str]] = [
    (0, "spark window agg"),
    (1, "hash join table"),
    (2, "customer query"),
    (3, "vector"),
    (4, "slow fast merge"),
    (5, "stream batch group order"),
    (6, "zzzoovterm"),
]

STOPWORDS = ("a", "the")

# The full distinct term set of DOC_QUERIES — a STATIC property of the query
# workload (DOC_QUERIES is a module constant), used to push a semi-join-style
# term filter below every shuffle of the BM25 family (guide §2.3/§3.2: drop
# definitely-non-matching rows before the exchange). Results are unchanged:
# only postings of query terms ever survive the qt join downstream.
_QUERY_TERM_LIST: list[str] = sorted(
    {t for _, q in DOC_QUERIES for t in q.split(" ")}
)


def _qterm_array():
    return F.array(*[F.lit(t) for t in _QUERY_TERM_LIST])


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(DOC_QUERIES, "query_id int, qtext string")


def _queries_values_sql() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in DOC_QUERIES)
    return f"(VALUES {rows}) AS q(query_id, qtext)"


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, term) one row per token (split on space)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    )


def _doc_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _doc_tokens(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


_SQL_TOKENS = (
    "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents"
)
_SQL_POSTINGS = (
    f"SELECT term, doc_id, count(*) AS tf FROM ({_SQL_TOKENS}) GROUP BY term, doc_id"
)
_SQL_DL = f"SELECT doc_id, count(*) AS dl FROM ({_SQL_TOKENS}) GROUP BY doc_id"


# ---------------------------------------------------------------------------
# Fulltext / BM25 family (reference verbs encode/rank/search, SURVEY.md §2.11)
# ---------------------------------------------------------------------------


def _bm25_postings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tf, dl) restricted to DOC_QUERIES' terms.

    The static query-term filter (guide §2.3/§3.2) drops every
    non-query-term token BEFORE the aggregation, so the one exchange
    carries only candidate postings (a tiny, near-uniform fraction); dl
    rides in-row off the token-array length, so the old window-dl exchange
    and the corpus-wide postings build stay gone. An in-row tf variant
    (per-term `filter`/`size` higher-order functions, zero exchanges) was
    A/B-measured SLOWER (0.51-0.58 s vs 0.38-0.41 s at sf0.1, identical
    rows): HOFs are CodegenFallback, and |query terms| · dl interpreted
    equality checks per doc lose to the codegen'd explode + filter +
    map-side-combined aggregation of the filtered stream."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    tok_q = docs.select(
        "doc_id", F.size("t").alias("dl"), F.explode("t").alias("term")
    ).filter(F.col("term").isin(_QUERY_TERM_LIST))
    return (
        tok_q.groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score) BM25 over documents for DOC_QUERIES.

    Plan shape (scale story): the candidate postings (query terms only) are
    computed shuffle-free in-row (_bm25_postings_q); corpus stats (N, avgdl)
    come straight off the token-array lengths — one map-side-combinable
    global aggregate, no window, no N-row dl relation anywhere. df for the
    (tiny) query-term dictionary aggregates the already-filtered postings.
    The only exchanges left are the one-row stats fold, the query-term df
    fold, and the final per-(query, doc) score sum — 9 Exchanges → 3, and
    the documents scan is the only corpus-sized input to any of them. No
    driver-side loops, no Python UDFs at all here — whole plan is JVM
    built-ins."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("t")).alias("avgdl")
    )
    postings = _bm25_postings_q(spark, sf_dir)
    # df per query term from the cheaper set-op form (array_intersect is
    # distinct-by-construction, so count(*) == the postings-based df) —
    # this branch of the plan then skips the tf computation entirely
    tdf = (
        docs.select(
            F.explode(
                F.array_intersect("t", _qterm_array())
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )

    qt = (
        _queries_df(spark)
        .select("query_id", F.explode(F.split("qtext", " ")).alias("term"))
        .distinct()
    )
    qt_idf = (
        qt.join(tdf, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .select("query_id", "term", "idf", "avgdl")
    )
    joined = postings.join(F.broadcast(qt_idf), "term")
    partial = (
        F.col("idf")
        * F.col("tf")
        * F.lit(K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        joined.select("query_id", "doc_id", partial.alias("partial"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"))
    )


_SQL_BM25_SCORES = f"""
WITH tokens AS ({_SQL_TOKENS}),
postings AS (SELECT term, doc_id, count(*) AS tf FROM tokens GROUP BY term, doc_id),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tdf AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
       FROM {_queries_values_sql()}),
scored AS (
  SELECT qt.query_id, p.doc_id,
         sum( ln(1.0 + (s.n_docs - t.df + 0.5) / (t.df + 0.5))
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * ({1.0 - B} + {B} * d.dl / s.avgdl)) ) AS score
  FROM qt
  JOIN tdf t ON qt.term = t.term
  JOIN postings p ON qt.term = p.term
  JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN stats s
  GROUP BY qt.query_id, p.doc_id
)
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: BM25 top-10 per query, rank + rounded score."""
    scores = _bm25_scores(spark, sf_dir)
    return _sim.topk_rows(
        scores, "query_id",
        [F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")], TOPK,
    ).select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.round("score", 6).alias("score"),
    )


SQL_BM25_TOPK = f"""
{_SQL_BM25_SCORES}
, ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id) AS rank,
         round(score, 6) AS score
  FROM scored)
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS INT) AS rank, score
FROM ranked WHERE rank <= {TOPK}
"""


def q_bm25_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All scored (query, doc) pairs — order-free value check of the scorer."""
    return _bm25_scores(spark, sf_dir).select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )


SQL_BM25_PAIRS = f"""
{_SQL_BM25_SCORES}
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS score FROM scored
"""


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 terms by document frequency (df desc, term asc) with collection
    frequency — the index's dictionary head (A4 corpus statistics)."""
    postings = _doc_postings(spark, sf_dir)
    return (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


SQL_TERM_STATS = f"""
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM ({_SQL_POSTINGS}) GROUP BY term
ORDER BY df DESC, term ASC LIMIT 50
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N, avgdl, vocabulary size (A4)."""
    tokens = _doc_tokens(spark, sf_dir)
    dl = tokens.groupBy("doc_id").agg(F.count("*").alias("dl"))
    return dl.crossJoin(
        tokens.agg(F.countDistinct("term").alias("vocab"))
    ).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
        F.first("vocab").alias("vocab"),
    ).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        "avgdl",
        F.col("vocab").cast("long").alias("vocab"),
    )


SQL_CORPUS_STATS = f"""
WITH tokens AS ({_SQL_TOKENS}),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id)
SELECT CAST((SELECT count(*) FROM dl) AS BIGINT) AS n_docs,
       round((SELECT avg(dl) FROM dl), 6) AS avgdl,
       CAST((SELECT count(DISTINCT term) FROM tokens) AS BIGINT) AS vocab
"""


def q_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count + distinct terms (P2/A4 analog)."""
    return _doc_tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        F.countDistinct("term").alias("n_terms"),
    )


SQL_DOC_LENGTH = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms
FROM ({_SQL_TOKENS}) GROUP BY doc_id
"""


def q_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) posting-list intersection: docs containing ALL query
    terms (SURVEY.md §2.3 — repeated equi-join expressed as group/having)."""
    qt = (
        _queries_df(spark)
        .select("query_id", F.explode(F.split("qtext", " ")).alias("term"))
        .distinct()
    )
    n_terms = qt.groupBy("query_id").agg(F.count("*").alias("n_terms"))
    # distinct matched terms per doc computed IN-ROW (array_intersect is a
    # set op), replacing the full postings build: the old plan aggregated
    # every (term, doc_id) posting through an exchange only to keep the
    # handful of query-term rows after the join (guide §2.3 — filter before
    # the shuffle). Row multiset after the qt join is identical.
    matched_terms = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.array_intersect(F.split(F.col("text"), " "), _qterm_array())
        ).alias("term"),
    )
    matched = (
        matched_terms.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        matched.join(F.broadcast(n_terms), "query_id")
        .filter(F.col("n_hit") == F.col("n_terms"))
        .select("query_id", F.col("doc_id").cast("long").alias("doc_id"))
    )


SQL_BOOLEAN_AND = f"""
WITH qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
            FROM {_queries_values_sql()}),
nq AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY query_id),
postings AS ({_SQL_POSTINGS})
SELECT m.query_id, CAST(m.doc_id AS BIGINT) AS doc_id
FROM (SELECT qt.query_id, p.doc_id, count(*) AS n_hit
      FROM qt JOIN postings p ON qt.term = p.term
      GROUP BY qt.query_id, p.doc_id) m
JOIN nq ON m.query_id = nq.query_id
WHERE m.n_hit = nq.n_terms
"""


def q_global_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scatter-gather global top-k (SURVEY.md §2.6): longest 20 docs.
    Spark's TakeOrderedAndProject = per-partition heap + driver merge —
    exactly the reference's shard-poll-ALL-and-merge (retriever.md:202-225)."""
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.length("text").alias("n_chars_computed"))
        .orderBy(F.desc("n_chars_computed"), F.asc("doc_id"))
        .limit(20)
    )


SQL_GLOBAL_TOPK_DOCS = """
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_computed
FROM documents ORDER BY n_chars_computed DESC, doc_id ASC LIMIT 20
"""


def q_result_merge_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 keyed result merge (client.py:160-166): attach each query's best
    doc back onto the query row by id; queries with no hits survive (left
    join) — identity & order preservation invariant."""
    top1 = q_bm25_topk(spark, sf_dir).filter(F.col("rank") == 1).select(
        "query_id", F.col("doc_id").alias("best_doc_id"), F.col("score").alias("best_score")
    )
    return _queries_df(spark).join(top1, "query_id", "left").select(
        "query_id", "qtext", "best_doc_id", "best_score"
    )


SQL_RESULT_MERGE_BY_ID = f"""
{_SQL_BM25_SCORES}
, ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id) AS rank,
         round(score, 6) AS score
  FROM scored)
SELECT q.query_id, q.qtext,
       CAST(r.doc_id AS BIGINT) AS best_doc_id, r.score AS best_score
FROM {_queries_values_sql()}
LEFT JOIN (SELECT * FROM ranked WHERE rank = 1) r ON q.query_id = r.query_id
"""


# ---------------------------------------------------------------------------
# Dedup family (training-data pipeline ops)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text with
    its cardinality and the min doc_id as the canonical survivor."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# Text-analysis family
# ---------------------------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, mean token length, stopword ratio.

    All three are per-document quantities over the in-row token array, so
    the plan is fully narrow (scan → project, zero exchanges): the old
    explode → groupBy(doc_id) shuffled every token of the corpus back to
    the partition it already lived in (guide §2.4). Arithmetic is
    value-identical: Σlength and the stopword count are exact ints either
    way, and int/int division yields the same float64."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    n = F.size("t")
    total_len = F.aggregate(
        "t", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_stop = F.size(F.filter("t", lambda x: x.isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.round(total_len / n, 6).alias("avg_token_len"),
        F.round(n_stop / n, 6).alias("stopword_ratio"),
    )


SQL_TEXT_QUALITY = f"""
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(length(term)), 6) AS avg_token_len,
       round(sum(CASE WHEN term IN ('a', 'the') THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS stopword_ratio
FROM ({_SQL_TOKENS}) GROUP BY doc_id
"""


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language histogram with per-lang char stats (P1 modality-split analog)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


SQL_LANG_DISTRIBUTION = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Relational coverage (joins/aggs/windows on the TPC-H-ish tables)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregate over lineitem (A-family coverage)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: per-key descending rank with deterministic tie-break, ≤3."""
    orders = _t(spark, sf_dir, "orders")
    return _sim.topk_rows(
        orders, "o_custkey", [F.desc("o_totalprice"), F.asc("o_orderkey")], 3, "rn"
    ).select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn")
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn <= 3
"""


def q_customer_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim equi-join + agg (J1-family at relational scale)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
    )
    return (
        agg.join(F.broadcast(cust), agg["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey", "c_name", "c_mktsegment", "n_orders", "total_spent"
        )
    )


SQL_CUSTOMER_ORDER_TOTALS = """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(n_orders AS BIGINT) AS n_orders, total_spent
FROM (SELECT o_custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 4) AS total_spent
      FROM orders GROUP BY o_custkey) a
JOIN customer ON a.o_custkey = c_custkey
"""


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregate (batch form of the streaming op)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS value_sum
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


def q_rank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference /rank verb (client.py:456-539, executors/helper.py:89-124):
    score a FIXED candidate set per query (not the whole corpus), sort desc.
    Candidates here: doc_id ≡ query_id (mod 50) — a deterministic restriction."""
    scores = _bm25_scores(spark, sf_dir)
    cand = scores.filter(F.col("doc_id") % 50 == F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")
    )
    return cand.withColumn("rank", F.row_number().over(w)).select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.round("score", 6).alias("score"),
    )


SQL_RANK_CANDIDATES = f"""
{_SQL_BM25_SCORES}
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY round(score, 9) DESC, doc_id) AS INT) AS rank,
       round(score, 6) AS score
FROM scored WHERE doc_id % 50 = query_id
"""


def q_explode_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Access-path traversal (P2, '@c' chunks): split each doc into 10-token
    chunks, explode to child rows, keep per-chunk stats — the normalized
    form of the reference's nested chunks arrays (tests/test_simple.py:130-151)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.floor((F.size("t") - 1) / 10)),
                lambda i: F.concat_ws(" ", F.slice("t", i * 10 + 1, 10)),
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.length("chunk").alias("chunk_chars"),
    )


SQL_EXPLODE_CHUNKS = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(length(array_to_string(t[i*10+1:i*10+10], ' ')) AS BIGINT) AS chunk_chars
FROM (SELECT doc_id, t, unnest(range(CAST(floor((len(t)-1)/10) AS BIGINT) + 1)) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
"""


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result presentation: for each query's best document, an 80-char
    snippet centered on the FIRST occurrence of any query term (min
    position over matching terms — deterministic). The gather-by-id +
    substring shape of a search results page; J1/S6 composed with the
    ranker."""
    top1 = q_bm25_topk(spark, sf_dir).filter(F.col("rank") == 1).select(
        "query_id", "doc_id"
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qt = _queries_df(spark).select(
        "query_id", F.explode(F.split("qtext", " ")).alias("term")
    ).distinct()
    hit = (
        top1.join(docs, "doc_id")
        .join(qt, "query_id")
        .withColumn("pos", F.expr("locate(term, text)"))
        .filter(F.col("pos") > 0)
        .groupBy("query_id", "doc_id", "text")
        .agg(F.min("pos").alias("pos"))
    )
    return hit.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("pos").cast("int").alias("pos"),
        F.expr(
            "substring(text, CAST(greatest(1, pos - 40) AS INT), 80)"
        ).alias("snippet"),
    )


SQL_SEARCH_SNIPPETS = f"""
{_SQL_BM25_SCORES}
, ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id) AS rank
  FROM scored),
top1 AS (SELECT query_id, doc_id FROM ranked WHERE rank = 1),
qts AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
       FROM {_queries_values_sql()}),
hit AS (
  SELECT t.query_id, t.doc_id, d.text, min(strpos(d.text, q.term)) AS pos
  FROM top1 t
  JOIN documents d ON t.doc_id = d.doc_id
  JOIN qts q ON t.query_id = q.query_id
  WHERE strpos(d.text, q.term) > 0
  GROUP BY t.query_id, t.doc_id, d.text)
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id, CAST(pos AS INT) AS pos,
       substr(text, CAST(greatest(1, pos - 40) AS INT), 80) AS snippet
FROM hit
"""


HASH_EMBED_DIM = 32


def q_encode_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic encode verb (feature-hashing embedding,
    operators/encode.hash_embed): every document's HASH_EMBED_DIM-component
    vector, emitted FLATTENED as (doc_id, i, v) so the oracle compares raw
    components with no array-hash or rounding hazard. The array form feeds
    the ANN family directly (encode → index → search flow, test-pinned)."""
    from ..operators.encode import hash_embed

    docs = _t(spark, sf_dir, "documents")
    emb = hash_embed(docs, "doc_id", "text", dim=HASH_EMBED_DIM)
    return emb.select(
        F.col("id").cast("long").alias("doc_id"),
        F.posexplode("embedding").alias("i", "v"),
    ).select("doc_id", F.col("i").cast("int").alias("i"), "v")


SQL_ENCODE_HASH_EMBED = f"""
WITH tok AS ({_SQL_TOKENS}),
comp AS (
  SELECT doc_id,
         ('0x' || substr(md5(term), 1, 15))::BIGINT % {HASH_EMBED_DIM} AS i,
         sum(CASE WHEN ('0x' || substr(md5(term), 17, 1))::BIGINT % 2 = 0
                  THEN 1.0 ELSE -1.0 END) AS v
  FROM tok WHERE term <> '' GROUP BY doc_id, i),
grid AS (
  SELECT doc_id, unnest(range({HASH_EMBED_DIM})) AS i FROM documents)
SELECT CAST(g.doc_id AS BIGINT) AS doc_id, CAST(g.i AS INT) AS i,
       CAST(coalesce(c.v, 0.0) AS DOUBLE) AS v
FROM grid g LEFT JOIN comp c ON g.doc_id = c.doc_id AND g.i = c.i
"""


HYBRID_POOL = 20  # per-arm candidate pool fed into the fusion
HYBRID_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
HYBRID_DIM = 64  # == RH_DIM == the embeddings table's component count


def q_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: BM25 (lexical arm) fused with embedding cosine
    (semantic arm) by reciprocal-rank fusion — the reference attaches BOTH
    `clip_score` and `clip_score_cosine` to every match
    (executors/helper.py:107-114); this completes the pairing into one
    ranked results page. Query vectors come from the deterministic encode
    verb (hash_embed over the query text, the engine's encode→search flow);
    the semantic arm scores them against the embeddings table (vec_id ==
    doc_id in the test corpus). Each arm keeps its top-HYBRID_POOL, the
    arms full-outer join on (query_id, doc_id), and

        rrf = Σ_arm 1 / (HYBRID_RRF_K + rank_arm)

    — rank-based fusion, so the two engines' incomparable score scales
    never mix. Scale shape: the lexical arm is the bm25_topk plan; the
    semantic arm is one broadcast of |queries| hashed vectors against the
    embeddings scan (at rest this arm is rh/ivf_topk_stored over the
    persisted ANN index — the brute-force scoring here doubles as the
    oracle-checkable form); the fusion join is per-query top-pool rows,
    tiny by construction."""
    from ..operators.encode import hash_embed

    bm25 = _bm25_scores(spark, sf_dir)
    lex = _sim.topk_rows(
        bm25, "query_id", [F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")],
        HYBRID_POOL, "rank_bm25",
    ).select(
        "query_id", F.col("doc_id").cast("long").alias("doc_id"), "rank_bm25",
    )

    qe = hash_embed(_queries_df(spark), "query_id", "qtext", dim=HYBRID_DIM)
    qe = qe.select(
        F.col("id").alias("query_id"), F.col("embedding").alias("qvec")
    ).filter(F.exists("qvec", lambda x: x != 0))  # zero vector has no cosine
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("demb"),
    ).filter(
        # zero-norm doc guard, matching the oracle's WHERE nd > 0: a zero
        # embedding (the corpus model allows zero-token docs) gives 0/0 =
        # NaN cosine, which F.desc orders FIRST — garbage at the pool head
        # and a Spark/oracle parity break.
        F.exists("demb", lambda x: x != 0)
    )
    cos = emb.crossJoin(F.broadcast(qe)).select(
        "query_id",
        F.col("vec_id").cast("long").alias("doc_id"),
        _sim.cosine_col(F.col("demb"), F.col("qvec")).alias("cosine"),
    )
    sem = _sim.topk_rows(
        cos, "query_id", [F.desc(F.round(F.col("cosine"), 9)), F.asc("doc_id")],
        HYBRID_POOL, "rank_cos",
    ).select("query_id", "doc_id", "rank_cos")

    from ..operators.fusion import rrf_fuse

    return rrf_fuse(
        {
            "bm25": lex.select(
                "query_id", "doc_id", F.col("rank_bm25").alias("rank")
            ),
            "cos": sem.select(
                "query_id", "doc_id", F.col("rank_cos").alias("rank")
            ),
        },
        k=TOPK,
        rrf_k=HYBRID_RRF_K,
    )


SQL_HYBRID_TOPK = f"""
{_SQL_BM25_SCORES}
, bm25rank AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id) AS rank_bm25
  FROM scored),
qtok AS (SELECT query_id, unnest(string_split(qtext, ' ')) AS term
         FROM {_queries_values_sql()}),
qcomp AS (
  SELECT query_id,
         ('0x' || substr(md5(term), 1, 15))::BIGINT % {HYBRID_DIM} AS i,
         sum(CASE WHEN ('0x' || substr(md5(term), 17, 1))::BIGINT % 2 = 0
                  THEN 1.0 ELSE -1.0 END) AS v
  FROM qtok WHERE term <> '' GROUP BY query_id, i),
qnorm AS (SELECT query_id, sqrt(sum(v * v)) AS nq FROM qcomp GROUP BY query_id),
dcomp AS (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v FROM (
    SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
    FROM embeddings)),
dnorm AS (SELECT vec_id, sqrt(sum(v * v)) AS nd FROM dcomp GROUP BY vec_id),
dots AS (
  SELECT q.query_id, d.vec_id, sum(q.v * d.v) AS dot
  FROM qcomp q JOIN dcomp d ON q.i = d.i
  GROUP BY q.query_id, d.vec_id),
cos AS (
  SELECT dots.query_id, dots.vec_id AS doc_id, dot / (nq * nd) AS cosine
  FROM dots
  JOIN qnorm ON dots.query_id = qnorm.query_id
  JOIN dnorm ON dots.vec_id = dnorm.vec_id
  WHERE nq > 0 AND nd > 0),
cosrank AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cosine, 9) DESC, doc_id) AS rank_cos
  FROM cos),
arms AS (
  SELECT coalesce(b.query_id, c.query_id) AS query_id,
         coalesce(b.doc_id, c.doc_id) AS doc_id,
         b.rank_bm25, c.rank_cos
  FROM (SELECT * FROM bm25rank WHERE rank_bm25 <= {HYBRID_POOL}) b
  FULL OUTER JOIN (SELECT * FROM cosrank WHERE rank_cos <= {HYBRID_POOL}) c
    ON b.query_id = c.query_id AND b.doc_id = c.doc_id),
fused AS (
  SELECT query_id, doc_id,
         round(coalesce(1.0 / ({HYBRID_RRF_K} + rank_bm25), 0)
               + coalesce(1.0 / ({HYBRID_RRF_K} + rank_cos), 0), 9) AS rrf,
         CAST(coalesce(rank_bm25, 0) AS INT) AS rank_bm25,
         CAST(coalesce(rank_cos, 0) AS INT) AS rank_cos
  FROM arms),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id) AS rank
  FROM fused)
SELECT query_id, CAST(rank AS INT) AS rank, CAST(doc_id AS BIGINT) AS doc_id,
       rrf, rank_bm25, rank_cos
FROM ranked WHERE rank <= {TOPK}
"""


SNIP_K = 3
SNIP_BEFORE = 3
SNIP_WIDTH = 8


def q_search_snippets_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized results-page snippets (VERDICT r03 #5): top-SNIP_K docs
    per query each get a SNIP_WIDTH-token window at the earliest matching
    query term. Positions come from the token table (the persisted
    positions table for indexed corpora — snippets_indexed is the twin);
    the text column is windowed ONCE for the broadcast result page
    (operators/phrase.snippet_hits + attach_snippets) — a results page
    never re-scans documents per term."""
    from ..operators import phrase as _ph

    topk = (
        q_bm25_topk(spark, sf_dir)
        .filter(F.col("rank") <= SNIP_K)
        .select("query_id", "doc_id", "rank")
    )
    qt = (
        _queries_df(spark)
        .select("query_id", F.explode(F.split("qtext", " ")).alias("term"))
        .distinct()
    )
    docs = _t(spark, sf_dir, "documents")
    pos = _ph.token_positions(docs, "doc_id", "text")
    # rank rides THROUGH the hit aggregation (carry_cols) — re-joining topk
    # here would execute the whole BM25 subplan a second time
    hits = _ph.snippet_hits(topk, qt, pos, carry_cols=("rank",))
    out = _ph.attach_snippets(
        hits, docs, before=SNIP_BEFORE, width=SNIP_WIDTH
    )
    return out.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("pos").cast("int").alias("pos"),
        "snippet",
    )


SQL_SEARCH_SNIPPETS_K = f"""
{_SQL_BM25_SCORES}
, ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id) AS rank
  FROM scored),
topk AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= {SNIP_K}),
qts AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
        FROM {_queries_values_sql()}),
tok AS (
  SELECT doc_id, i AS pos, t[i + 1] AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS t,
               unnest(range(len(string_split(text, ' ')))) AS i
        FROM documents)),
hit AS (
  SELECT k.query_id, k.doc_id, k.rank, min(tok.pos) AS pos
  FROM topk k
  JOIN qts q ON k.query_id = q.query_id
  JOIN tok ON tok.doc_id = k.doc_id AND tok.term = q.term
  GROUP BY k.query_id, k.doc_id, k.rank)
SELECT h.query_id, CAST(h.doc_id AS BIGINT) AS doc_id,
       CAST(h.rank AS INT) AS rank, CAST(h.pos AS INT) AS pos,
       array_to_string(
         string_split(d.text, ' ')[greatest(h.pos - {SNIP_BEFORE}, 0) + 1
                                   : greatest(h.pos - {SNIP_BEFORE}, 0) + {SNIP_WIDTH}],
         ' ') AS snippet
FROM hit h JOIN documents d ON h.doc_id = d.doc_id
"""


PHRASES: list[tuple[int, str]] = [(0, "hash join"), (1, "spark window agg")]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search: every exact occurrence of each phrase as
    (phrase_id, doc_id, start_pos) — chained positional equi-joins
    (operators/phrase.py); the oracle checks via k-gram string equality."""
    from ..operators import phrase as _ph

    docs = _t(spark, sf_dir, "documents")
    pos = _ph.token_positions(docs, "doc_id", "text")
    parts = []
    for pid, ph in PHRASES:
        parts.append(
            _ph.phrase_positions(pos, ph.split(" ")).select(
                F.lit(pid).alias("phrase_id"),
                F.col("id").cast("long").alias("doc_id"),
                "start_pos",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_phrase_search() -> str:
    selects = []
    for pid, ph in PHRASES:
        k = len(ph.split(" "))
        selects.append(f"""
SELECT {pid} AS phrase_id, CAST(doc_id AS BIGINT) AS doc_id, CAST(i AS INT) AS start_pos
FROM (SELECT doc_id, t, unnest(range(greatest(len(t) - {k - 1}, 0))) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
WHERE array_to_string(t[i+1:i+{k}], ' ') = '{ph}'""")
    return " UNION ALL ".join(selects)


SQL_PHRASE_SEARCH = _sql_phrase_search()


def q_set_ops_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.7): terms of short docs INTERSECT long docs,
    EXCEPT stopwords — vocabulary overlap between corpus slices."""
    tokens = _doc_tokens(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    short_ids = docs.filter(F.col("n_chars") < 300).select("doc_id")
    long_ids = docs.filter(F.col("n_chars") >= 300).select("doc_id")
    short_terms = tokens.join(short_ids, "doc_id").select("term").distinct()
    long_terms = tokens.join(long_ids, "doc_id").select("term").distinct()
    stop = spark.createDataFrame([(s,) for s in STOPWORDS], "term string")
    return short_terms.intersect(long_terms).exceptAll(stop)


SQL_SET_OPS_TERMS = f"""
WITH tokens AS ({_SQL_TOKENS}),
short_terms AS (SELECT DISTINCT term FROM tokens
                JOIN documents USING (doc_id) WHERE n_chars < 300),
long_terms AS (SELECT DISTINCT term FROM tokens
               JOIN documents USING (doc_id) WHERE n_chars >= 300)
SELECT term FROM short_terms INTERSECT SELECT term FROM long_terms
EXCEPT SELECT unnest(['a', 'the']) AS term
"""


def q_softmax_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 softmax normalization per query (reference numpy_softmax,
    executors/helper.py:12-17; invariant: per-query scores sum to 1,
    tests/test_ranker.py:59-61). Computed over each query's BM25 top-10."""
    scores = _bm25_scores(spark, sf_dir)
    top = _sim.topk_rows(
        scores, "query_id", [F.desc(F.round(F.col("score"), 9)), F.asc("doc_id")], TOPK
    )
    grp = Window.partitionBy("query_id")
    ex = F.exp(F.col("score") - F.max("score").over(grp))
    out = top.withColumn("_ex", ex).withColumn(
        "softmax", F.round(F.col("_ex") / F.sum("_ex").over(grp), 6)
    )
    return out.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        "softmax",
    )


SQL_SOFTMAX_SCORES = f"""
{_SQL_BM25_SCORES}
, ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(score, 9) DESC, doc_id) AS rank
  FROM scored),
top AS (SELECT * FROM ranked WHERE rank <= {TOPK}),
ex AS (
  SELECT query_id, doc_id,
         exp(score - max(score) OVER (PARTITION BY query_id)) AS e
  FROM top)
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id,
       round(e / sum(e) OVER (PARTITION BY query_id), 6) AS softmax
FROM ex
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 masked mean-pool analog: per-label elementwise centroid of the
    embedding vectors (the coarse-quantizer build step of an IVF index)."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("i", "v")
    )
    return comp.groupBy("label", "i").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid")
    ).select("label", F.col("i").cast("int").alias("i"), "centroid")


SQL_LABEL_CENTROIDS = """
SELECT label, CAST(i - 1 AS INT) AS i, round(avg(CAST(v AS DOUBLE)), 6) AS centroid
FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i,
             embedding[i] AS v
      FROM embeddings)
GROUP BY label, i
"""


# ---------------------------------------------------------------------------
# Dedup family (operators/dedup.py) — MinHash+LSH, SimHash, n-gram Jaccard
# ---------------------------------------------------------------------------

N_HASHES = 8
N_BANDS = 4
_ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3
SIMHASH_BITS = 60

from ..operators import dedup as _dd  # noqa: E402
from ..operators import similarity as _sim  # noqa: E402

_SQL_SHINGLES = f"""
SELECT DISTINCT id, array_to_string(t[i+1:i+{SHINGLE_K}], ' ') AS shingle FROM (
  SELECT doc_id AS id, t,
         unnest(range(greatest(len(t) - {SHINGLE_K - 1}, 0))) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
"""

_SQL_SHINGLE_HASH = f"""
SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
FROM ({_SQL_SHINGLES})
"""

_SQL_SHINGLE_HASH40 = f"""
SELECT id, ('0x' || substr(md5(shingle), 1, 10))::BIGINT AS h
FROM ({_SQL_SHINGLES})
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _dd.lsh_candidate_pairs(
        docs, "doc_id", "text", k=SHINGLE_K, n_hashes=N_HASHES, n_bands=N_BANDS
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )


def _sql_minhash_sig() -> str:
    mins = ", ".join(
        f"min(({_dd.HASH_A[i]} * h + {_dd.HASH_B[i]}) % {_dd.MOD_P}) AS mh_{i}"
        for i in range(N_HASHES)
    )
    return f"SELECT id, {mins} FROM ({_SQL_SHINGLE_HASH40}) GROUP BY id"


def _sql_bands() -> str:
    selects = []
    for b in range(N_BANDS):
        cols = [f"mh_{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)]
        concat = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        selects.append(
            f"SELECT id, {b} AS band, md5({concat}) AS bucket FROM sig"
        )
    return " UNION ALL ".join(selects)


SQL_DEDUP_MINHASH_LSH = f"""
WITH sig AS ({_sql_minhash_sig()}),
bands AS ({_sql_bands()})
SELECT DISTINCT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=SHINGLE_K, threshold=0.05
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.id
JOIN sizes sb ON inter.id_b = sb.id
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.05
"""


DEDUP_PIPE_THRESHOLD = 0.8


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-default composite: LSH candidates → Jaccard verify ≥ 0.8 —
    the candidate-bounded path a 10^12-doc corpus must always take."""
    docs = _t(spark, sf_dir, "documents")
    return _dd.near_dup_pipeline(
        docs, "doc_id", "text",
        k=SHINGLE_K, n_hashes=N_HASHES, n_bands=N_BANDS,
        threshold=DEDUP_PIPE_THRESHOLD,
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "jaccard",
    )


SQL_DEDUP_PIPELINE = f"""
WITH sig AS ({_sql_minhash_sig()}),
bands AS ({_sql_bands()}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  JOIN cand c ON c.id_a = a.id AND c.id_b = b.id
  GROUP BY a.id, b.id)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.id
JOIN sizes sb ON inter.id_b = sb.id
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {DEDUP_PIPE_THRESHOLD}
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy keep-lowest-id survivor set: drop every doc that is the higher
    id of some verified near-dup pair (exact dups are Jaccard-1.0 pairs, so
    one policy covers both) — the doc set a training pipeline would keep."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _dd.near_dup_pipeline(
        docs, "doc_id", "text",
        k=SHINGLE_K, n_hashes=N_HASHES, n_bands=N_BANDS,
        threshold=DEDUP_PIPE_THRESHOLD,
    )
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        docs.join(drops, "doc_id", "left_anti")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
    )


SQL_DEDUP_SURVIVORS = f"""
WITH pipe AS ({SQL_DEDUP_PIPELINE})
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM pipe)
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: connected components over the verified
    near-dup pairs (min-label propagation) — cluster_id = min reachable doc
    id, singletons cluster to themselves. The cluster id IS the survivor
    (vs q_dedup_survivors' greedy pairwise policy, which can drop a doc
    whose only link is to an already-dropped doc)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _dd.near_dup_pipeline(
        docs, "doc_id", "text",
        k=SHINGLE_K, n_hashes=N_HASHES, n_bands=N_BANDS,
        threshold=DEDUP_PIPE_THRESHOLD,
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    cc = _dd.connected_components(pairs.select("id_a", "id_b"), nodes=nodes)
    return cc.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pipe AS ({SQL_DEDUP_PIPELINE}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pipe
  UNION
  SELECT id_b AS src, id_a AS dst FROM pipe),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
minreach AS (SELECT src, min(dst) AS mn FROM reach GROUP BY src)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN minreach m ON d.doc_id = m.src
"""


def q_dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-canonical survivor set: keep exactly the min id of every
    connected component (ONE survivor per transitive cluster). Differs from
    the greedy q_dedup_survivors when duplicate relations chain: greedy
    keeps every doc that never appears as a pair's higher id, so a doc
    linked only as the LOWER id of its pairs survives alongside the
    component min (e.g. pairs (1,9),(5,9): greedy keeps {1,5}, clusters
    keep {1}). Both always keep the component min."""
    cc = q_dedup_clusters(spark, sf_dir)
    return cc.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")


SQL_DEDUP_CLUSTER_SURVIVORS = f"""
WITH cc AS ({SQL_DEDUP_CLUSTERS})
SELECT doc_id FROM cc WHERE doc_id = cluster_id
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _dd.simhash_fingerprints(docs, "doc_id", "text", n_bits=SIMHASH_BITS).select(
        F.col("id").cast("long").alias("doc_id"), "simhash"
    )


def _sql_simhash() -> str:
    terms = " + ".join(
        f"(CASE WHEN sum(tf * (((h >> {j}) & 1) * 2 - 1)) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tf AS (
  SELECT doc_id AS id, term, count(*) AS tf
  FROM ({_SQL_TOKENS} ) GROUP BY doc_id, term),
h AS (SELECT id, tf, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf)
SELECT CAST(id AS BIGINT) AS doc_id, CAST({terms} AS BIGINT) AS simhash
FROM h GROUP BY id
"""


SQL_DEDUP_SIMHASH = _sql_simhash()


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded Hamming-neighbor join (4×15-bit bands
    over the 60-bit fingerprint), exact for Hamming ≤ 3 by pigeonhole."""
    docs = _t(spark, sf_dir, "documents")
    return _dd.simhash_candidate_pairs(
        docs, "doc_id", "text", n_bits=SIMHASH_BITS, n_bands=4
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH fp AS ({SQL_DEDUP_SIMHASH}),
bands AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (b.band * 15)) & 32767 AS key
  FROM fp, (VALUES (0), (1), (2), (3)) b(band)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings (operators/similarity.py)
# ---------------------------------------------------------------------------

ANN_N_QUERIES = 5
ANN_K = 10
LSH_BITS = 8

_SQL_EMB_COMPONENTS = """
SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v FROM (
  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings)
"""

_SQL_COSINE_PAIRS_BASE = f"""
WITH comp AS ({_SQL_EMB_COMPONENTS}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS qid, d.vec_id AS did, sum(q.v * d.v) AS dot
  FROM comp q JOIN comp d ON q.i = d.i
  WHERE q.vec_id < {ANN_N_QUERIES}
  GROUP BY q.vec_id, d.vec_id),
cos AS (
  SELECT qid, did, dot / (nq.nrm * nd.nrm) AS cosine
  FROM dots JOIN norms nq ON dots.qid = nq.vec_id
            JOIN norms nd ON dots.did = nd.vec_id)
"""


def _ann_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def _ann_page(out: DataFrame) -> DataFrame:
    """An ANN top-k re-ranked on cosine rounded to 9 places, for
    cross-engine stability, ties to the smaller vec_id → (query_id, rank,
    vec_id, cosine rounded to 4 places)."""
    return _sim.topk_rows(
        out.drop("rank"), "query_id",
        [F.desc(F.round(F.col("cosine"), 9)), F.asc("vec_id")], ANN_K,
    ).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        F.round("cosine", 4).alias("cosine"),
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = _sim.cosine_topk(emb, _ann_queries(spark, sf_dir), k=ANN_K)
    return _ann_page(out)


SQL_ANN_COSINE_TOPK = f"""
{_SQL_COSINE_PAIRS_BASE}
, ranked AS (
  SELECT qid AS query_id, did AS vec_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(cosine, 9) DESC, did) AS rank,
         round(cosine, 4) AS cosine
  FROM cos)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, cosine
FROM ranked WHERE rank <= {ANN_K}
"""


def q_ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    out = _sim.bucketed_topk(
        emb, _ann_queries(spark, sf_dir), k=ANN_K, n_bits=LSH_BITS
    )
    return _ann_page(out)


def _sql_bucket(tbl_alias: str = "") -> str:
    pre = f"{tbl_alias}." if tbl_alias else ""
    bits = " + ".join(
        f"(CASE WHEN {pre}embedding[{j + 1}] >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(LSH_BITS)
    )
    return f"({bits})"


SQL_ANN_BUCKETED_TOPK = f"""
WITH bkt AS (SELECT vec_id, {_sql_bucket()} AS bucket FROM embeddings),
comp AS ({_SQL_EMB_COMPONENTS}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS qid, d.vec_id AS did, sum(q.v * d.v) AS dot
  FROM comp q
  JOIN bkt bq ON q.vec_id = bq.vec_id
  JOIN bkt bd ON bq.bucket = bd.bucket
  JOIN comp d ON d.vec_id = bd.vec_id AND q.i = d.i
  WHERE q.vec_id < {ANN_N_QUERIES}
  GROUP BY q.vec_id, d.vec_id),
cos AS (
  SELECT qid, did, dot / (nq.nrm * nd.nrm) AS cosine
  FROM dots JOIN norms nq ON dots.qid = nq.vec_id
            JOIN norms nd ON dots.did = nd.vec_id),
ranked AS (
  SELECT qid AS query_id, did AS vec_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(cosine, 9) DESC, did) AS rank,
         round(cosine, 4) AS cosine
  FROM cos)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, cosine
FROM ranked WHERE rank <= {ANN_K}
"""


RH_BITS = 16
RH_DIM = 64
RH_SEED = 42
_RH_SIGN_DP = 9  # round dot before sign in BOTH engines (boundary stability)

_ANN_STORE_CACHE: dict[str, str] = {}


def _ann_store(spark: SparkSession, sf_dir: str) -> str:
    """Build once per process per sf_dir the PERSISTED ANN index the gate
    queries probe. The gate thereby exercises the at-rest path — partition-
    pruned bucket/cell reads, the engine's real 100-TB shape (VERDICT r03
    #1) — while the oracle SQL is unchanged: the stored path's results are
    identical to the recompute operators' (pinned in tests/test_ann_index)."""
    if sf_dir not in _ANN_STORE_CACHE:
        import atexit
        import shutil
        import tempfile

        from ..operators import ann_index as _ann

        tmp_root = tempfile.mkdtemp(prefix="annidx_")
        atexit.register(shutil.rmtree, tmp_root, ignore_errors=True)
        out = tmp_root + "/ann"
        _ann.build_ann_index(
            spark,
            _t(spark, sf_dir, "embeddings"),
            out,
            dim=RH_DIM,
            rh_n_bits=RH_BITS,
            rh_n_tables=1,
            rh_seed=RH_SEED,
            sign_round_dp=_RH_SIGN_DP,
            ivf_centroids=_ivf_centroids(spark, sf_dir),
            meta_cols=("label",),  # AnnLite-style filter column
        )
        _ANN_STORE_CACHE[sf_dir] = out
    return _ANN_STORE_CACHE[sf_dir]


_ANN_PQ_STORE_CACHE: dict[str, str] = {}


def _ann_store_pq(spark: SparkSession, sf_dir: str) -> str:
    """The PQ-payload twin of _ann_store (same planes/quantizer/filter
    column, but rh_buckets stores m-smallint PQ codes instead of vectors
    and ivf_cells keeps the one exact copy) — so the compact-payload
    serving shape is visible to the driver's hard correctness signal
    (VERDICT r05 #3), not only to pytest."""
    if sf_dir not in _ANN_PQ_STORE_CACHE:
        import atexit
        import shutil
        import tempfile

        from ..operators import ann_index as _ann

        tmp_root = tempfile.mkdtemp(prefix="annidx_pq_")
        atexit.register(shutil.rmtree, tmp_root, ignore_errors=True)
        out = tmp_root + "/ann"
        _ann.build_ann_index(
            spark,
            _t(spark, sf_dir, "embeddings"),
            out,
            dim=RH_DIM,
            rh_n_bits=RH_BITS,
            rh_n_tables=1,
            rh_seed=RH_SEED,
            sign_round_dp=_RH_SIGN_DP,
            ivf_centroids=_ivf_centroids(spark, sf_dir),
            meta_cols=("label",),
            store_vectors=False,
            pq=True,
            pq_m=8,
            pq_codes=16,
        )
        _ANN_PQ_STORE_CACHE[sf_dir] = out
    return _ANN_PQ_STORE_CACHE[sf_dir]


def q_ann_rh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: random-hyperplane LSH (16 bits → 65536 near-uniform
    buckets) with 1-bit-flip multi-probe; exact cosine within candidates —
    served from the PERSISTED rh_buckets table (pruned scan), not a corpus
    re-bucketing."""
    from ..operators import ann_index as _ann

    out = _ann.rh_topk_stored(
        spark, _ann_store(spark, sf_dir), _ann_queries(spark, sf_dir), k=ANN_K
    )
    return _ann_page(out)


def _sql_ann_rh_topk(filter_label: int | None = None) -> str:
    from ..operators.similarity import rh_planes

    planes = rh_planes(RH_DIM, RH_BITS, RH_SEED)
    plane_rows = ", ".join(
        f"({j}, {i + 1}, {float(planes[j, i])!r})"
        for j in range(RH_BITS)
        for i in range(RH_DIM)
    )
    probe_rows = ", ".join(
        ["(0)"] + [f"({1 << j})" for j in range(RH_BITS)]
    )
    label_join = (
        f"JOIN embeddings e ON e.vec_id = d.vec_id AND e.label = {filter_label}"
        if filter_label is not None
        else ""
    )
    return f"""
WITH planes(j, i, w) AS (VALUES {plane_rows}),
comp AS ({_SQL_EMB_COMPONENTS}),
pdots AS (
  SELECT c.vec_id, p.j, sum(c.v * p.w) AS dot
  FROM comp c JOIN planes p ON c.i = p.i
  GROUP BY c.vec_id, p.j),
bkt AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN round(dot, {_RH_SIGN_DP}) >= 0
                       THEN (1::BIGINT << j) ELSE 0 END) AS INT) AS bucket
  FROM pdots GROUP BY vec_id),
probes AS (
  SELECT b.vec_id AS qid, xor(b.bucket, pr.m) AS bucket
  FROM bkt b CROSS JOIN (VALUES {probe_rows}) pr(m)
  WHERE b.vec_id < {ANN_N_QUERIES}),
cand AS (
  SELECT DISTINCT p.qid, d.vec_id AS did
  FROM probes p JOIN bkt d ON d.bucket = p.bucket {label_join}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY vec_id),
dots AS (
  SELECT c.qid, c.did, sum(q.v * d.v) AS dot
  FROM cand c
  JOIN comp q ON q.vec_id = c.qid
  JOIN comp d ON d.vec_id = c.did AND q.i = d.i
  GROUP BY c.qid, c.did),
cos AS (
  SELECT qid, did, dot / (nq.nrm * nd.nrm) AS cosine
  FROM dots JOIN norms nq ON dots.qid = nq.vec_id
            JOIN norms nd ON dots.did = nd.vec_id),
ranked AS (
  SELECT qid AS query_id, did AS vec_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(cosine, 9) DESC, did) AS rank,
         round(cosine, 4) AS cosine
  FROM cos)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, cosine
FROM ranked WHERE rank <= {ANN_K}
"""


SQL_ANN_RH_TOPK = _sql_ann_rh_topk()


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact-payload ANN through the PERSISTED PQ index: identical RH
    probe over the PQ-coded bucket table, rerank=None so every candidate's
    exact vector is fetched from ivf_cells (the one stored copy) — by the
    bit-identity contract (test_pq_rerank_all_equals_full_payload) the
    result equals the full-payload probe exactly, so the same DuckDB
    oracle applies verbatim. What the gate thereby checks end-to-end: PQ
    codebook training + encoding at build, the id-only candidate flow, and
    the pushed-down exact-vector fetch."""
    from ..operators import ann_index as _ann

    out = _ann.rh_topk_stored(
        spark, _ann_store_pq(spark, sf_dir), _ann_queries(spark, sf_dir),
        k=ANN_K, rerank=None,
    )
    return _ann_page(out)


ANN_FILTER_LABEL = 0


def q_ann_rh_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN (the reference's AnnLite filter columns,
    retriever.md:161-165): same RH probe as ann_rh_topk but restricted to
    vectors with label = ANN_FILTER_LABEL — the predicate evaluates inside
    the stored index's pruned scan (meta_cols carried at build), not via a
    per-query side join."""
    from ..operators import ann_index as _ann

    out = _ann.rh_topk_stored(
        spark,
        _ann_store(spark, sf_dir),
        _ann_queries(spark, sf_dir),
        k=ANN_K,
        where=f"label = {ANN_FILTER_LABEL}",
    )
    return _ann_page(out)


SQL_ANN_RH_TOPK_FILTERED = _sql_ann_rh_topk(filter_label=ANN_FILTER_LABEL)


def q_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.cosine_pairs(emb, threshold=0.3, n_bits=LSH_BITS).select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    )


SQL_EMBEDDING_COSINE_PAIRS = f"""
WITH bkt AS (SELECT vec_id, {_sql_bucket()} AS bucket FROM embeddings),
comp AS ({_SQL_EMB_COMPONENTS}),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY vec_id),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
dots AS (
  SELECT c.id_a, c.id_b, sum(x.v * y.v) AS dot
  FROM cand c
  JOIN comp x ON x.vec_id = c.id_a
  JOIN comp y ON y.vec_id = c.id_b AND x.i = y.i
  GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
FROM dots JOIN norms na ON dots.id_a = na.vec_id
          JOIN norms nb ON dots.id_b = nb.vec_id
WHERE dot / (na.nrm * nb.nrm) >= 0.3
"""


IVF_NPROBE = 2


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse quantizer for the IVF path: per-label elementwise centroids
    (the deterministic stand-in for k-means — same math as label_centroids,
    unrounded). → (cell_id, centroid:array<double>)."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = emb.select("label", F.posexplode("embedding").alias("i", "v"))
    cent = comp.groupBy("label", "i").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    return (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("arr"))
        .select(
            F.col("label").alias("cell_id"),
            F.transform("arr", lambda s: s["c"]).alias("centroid"),
        )
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: label-centroid coarse quantizer, nprobe-cell probe, exact
    re-rank within probed cells — served from the PERSISTED cell-partitioned
    ivf_cells table (directory-pruned scan), not a per-query N×C
    re-assignment."""
    from ..operators import ann_index as _ann

    out = _ann.ivf_topk_stored(
        spark,
        _ann_store(spark, sf_dir),
        _ann_queries(spark, sf_dir),
        k=ANN_K,
        nprobe=IVF_NPROBE,
    )
    return _ann_page(out)


_SQL_EMB_COMPONENTS_L = """
SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS v FROM (
  SELECT vec_id, label, embedding, unnest(range(1, len(embedding) + 1)) AS i
  FROM embeddings)
"""

SQL_ANN_IVF_TOPK = f"""
WITH compl AS ({_SQL_EMB_COMPONENTS_L}),
comp AS ({_SQL_EMB_COMPONENTS}),
cent AS (
  SELECT label AS cell_id, i, avg(v) AS c
  FROM compl GROUP BY label, i),
cnorm AS (SELECT cell_id, sqrt(sum(c * c)) AS nrm FROM cent GROUP BY cell_id),
vnorm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY vec_id),
vc AS (
  SELECT p.vec_id, ct.cell_id,
         round(sum(p.v * ct.c) / (vn.nrm * cn.nrm), 9) AS ccos
  FROM comp p
  JOIN cent ct ON p.i = ct.i
  JOIN vnorm vn ON p.vec_id = vn.vec_id
  JOIN cnorm cn ON ct.cell_id = cn.cell_id
  GROUP BY p.vec_id, ct.cell_id, vn.nrm, cn.nrm),
d_assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cell_id ASC) AS r
    FROM vc) WHERE r = 1),
q_assign AS (
  SELECT vec_id AS qid, cell_id FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cell_id ASC) AS r
    FROM vc WHERE vec_id < {ANN_N_QUERIES}) WHERE r <= {IVF_NPROBE}),
cand AS (
  SELECT DISTINCT q.qid, d.vec_id AS did
  FROM q_assign q JOIN d_assign d ON q.cell_id = d.cell_id),
dots AS (
  SELECT c.qid, c.did, sum(q.v * d.v) AS dot
  FROM cand c
  JOIN comp q ON q.vec_id = c.qid
  JOIN comp d ON d.vec_id = c.did AND q.i = d.i
  GROUP BY c.qid, c.did),
cos AS (
  SELECT qid, did, dot / (nq.nrm * nd.nrm) AS cosine
  FROM dots JOIN vnorm nq ON dots.qid = nq.vec_id
            JOIN vnorm nd ON dots.did = nd.vec_id),
ranked AS (
  SELECT qid AS query_id, did AS vec_id,
         row_number() OVER (PARTITION BY qid
                            ORDER BY round(cosine, 9) DESC, did) AS rank,
         round(cosine, 4) AS cosine
  FROM cos)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
       CAST(vec_id AS BIGINT) AS vec_id, cosine
FROM ranked WHERE rank <= {ANN_K}
"""


RH_PAIR_BITS = 6
RH_PAIR_TABLES = 8
RH_PAIR_THRESHOLD = 0.3


def q_embedding_rh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with RANDOM-HYPERPLANE LSH candidates — the
    scale path (isotropic buckets; the axis-aligned q_embedding_cosine_pairs
    stays as the simpler oracle variant). 6 bits × 8 tables reproduces the
    bench's best-recall ANN configuration."""
    emb = _t(spark, sf_dir, "embeddings")
    return _sim.rh_cosine_pairs(
        emb,
        threshold=RH_PAIR_THRESHOLD,
        n_bits=RH_PAIR_BITS,
        n_tables=RH_PAIR_TABLES,
        dim=RH_DIM,
        seed=RH_SEED,
        sign_round_dp=_RH_SIGN_DP,
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _sql_embedding_rh_pairs() -> str:
    from ..operators.similarity import rh_planes

    planes = rh_planes(RH_DIM, RH_PAIR_BITS * RH_PAIR_TABLES, RH_SEED)
    plane_rows = ", ".join(
        f"({t}, {j}, {i + 1}, {float(planes[t * RH_PAIR_BITS + j, i])!r})"
        for t in range(RH_PAIR_TABLES)
        for j in range(RH_PAIR_BITS)
        for i in range(RH_DIM)
    )
    return f"""
WITH planes(t, j, i, w) AS (VALUES {plane_rows}),
comp AS ({_SQL_EMB_COMPONENTS}),
pdots AS (
  SELECT c.vec_id, p.t, p.j, sum(c.v * p.w) AS dot
  FROM comp c JOIN planes p ON c.i = p.i
  GROUP BY c.vec_id, p.t, p.j),
bkt AS (
  SELECT vec_id, t,
         CAST(sum(CASE WHEN round(dot, {_RH_SIGN_DP}) >= 0
                       THEN (1::BIGINT << j) ELSE 0 END) AS INT) AS bucket
  FROM pdots GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bkt a JOIN bkt b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY vec_id),
dots AS (
  SELECT c.id_a, c.id_b, sum(x.v * y.v) AS dot
  FROM cand c
  JOIN comp x ON x.vec_id = c.id_a
  JOIN comp y ON y.vec_id = c.id_b AND x.i = y.i
  GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
FROM dots JOIN norms na ON dots.id_a = na.vec_id
          JOIN norms nb ON dots.id_b = nb.vec_id
WHERE dot / (na.nrm * nb.nrm) >= {RH_PAIR_THRESHOLD}
"""


SQL_EMBEDDING_RH_PAIRS = _sql_embedding_rh_pairs()


# ---------------------------------------------------------------------------
# Text analysis family
# ---------------------------------------------------------------------------


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-hash fingerprint: (min, max, count) over k-gram hashes —
    a 1-permutation MinHash sketch usable as a cheap near-dup key."""
    docs = _t(spark, sf_dir, "documents")
    sh = _dd.shingles(docs, "doc_id", "text", k=SHINGLE_K)
    h = sh.select("id", _dd.base_hash_col(F.col("shingle")).alias("h"))
    return h.groupBy("id").agg(
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
        F.count("*").alias("n_shingles"),
    ).select(F.col("id").cast("long").alias("doc_id"), "min_h", "max_h", "n_shingles")


SQL_DOC_FINGERPRINT = f"""
SELECT CAST(id AS BIGINT) AS doc_id, min(h) AS min_h, max(h) AS max_h,
       CAST(count(*) AS BIGINT) AS n_shingles
FROM ({_SQL_SHINGLE_HASH}) GROUP BY id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: CJK chars → zh; English stopword hit → en;
    otherwise other. (The reference sniffs modality per doc the same
    branch-on-content way, executors/helper.py:82-86.)"""
    docs = _t(spark, sf_dir, "documents")
    has_cjk = F.col("text").rlike("[\\u4e00-\\u9fff]")
    has_en = F.col("text").rlike("(^| )(the|a|of|and)( |$)")
    return docs.select(
        "doc_id",
        F.when(has_cjk, F.lit("zh"))
        .when(has_en, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("lang_pred"),
    )


SQL_LANG_ID = r"""
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '(^| )(the|a|of|and)( |$)') THEN 'en'
            ELSE 'other' END AS lang_pred
FROM documents
"""


def q_token_count_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length histogram (50-token buckets)."""
    tokens = _doc_tokens(spark, sf_dir)
    dl = tokens.groupBy("doc_id").agg(F.count("*").alias("dl"))
    return (
        dl.select(F.floor(F.col("dl") / 50).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_TOKEN_COUNT_HIST = f"""
SELECT CAST(floor(dl / 50) AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM ({_SQL_DL}) GROUP BY 1
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap per user (lag + cumulative sum
    windows — the stateful-streaming op in its batch form)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    sess = lagged.withColumn(
        "session_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    ).select(
        "user_id",
        F.col("session_id").cast("int").alias("session_id"),
        "n_events",
        "value_sum",
    )


SQL_EVENTS_SESSIONIZE = """
WITH lagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM lagged)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS value_sum
FROM sess GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "bm25_topk": (q_bm25_topk, SQL_BM25_TOPK),
    "bm25_pairs": (q_bm25_pairs, SQL_BM25_PAIRS),
    "term_stats": (q_term_stats, SQL_TERM_STATS),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "doc_length": (q_doc_length, SQL_DOC_LENGTH),
    "boolean_and": (q_boolean_and, SQL_BOOLEAN_AND),
    "global_topk_docs": (q_global_topk_docs, SQL_GLOBAL_TOPK_DOCS),
    "result_merge_by_id": (q_result_merge_by_id, SQL_RESULT_MERGE_BY_ID),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "lang_distribution": (q_lang_distribution, SQL_LANG_DISTRIBUTION),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "top_orders_per_customer": (q_top_orders_per_customer, SQL_TOP_ORDERS_PER_CUSTOMER),
    "customer_order_totals": (q_customer_order_totals, SQL_CUSTOMER_ORDER_TOTALS),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_pipeline": (q_dedup_pipeline, SQL_DEDUP_PIPELINE),
    "dedup_survivors": (q_dedup_survivors, SQL_DEDUP_SURVIVORS),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_cluster_survivors": (q_dedup_cluster_survivors, SQL_DEDUP_CLUSTER_SURVIVORS),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "ann_bucketed_topk": (q_ann_bucketed_topk, SQL_ANN_BUCKETED_TOPK),
    "ann_rh_topk": (q_ann_rh_topk, SQL_ANN_RH_TOPK),
    "ann_pq_topk": (q_ann_pq_topk, SQL_ANN_RH_TOPK),
    "ann_rh_topk_filtered": (q_ann_rh_topk_filtered, SQL_ANN_RH_TOPK_FILTERED),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
    "embedding_cosine_pairs": (q_embedding_cosine_pairs, SQL_EMBEDDING_COSINE_PAIRS),
    "embedding_rh_pairs": (q_embedding_rh_pairs, SQL_EMBEDDING_RH_PAIRS),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "token_count_hist": (q_token_count_hist, SQL_TOKEN_COUNT_HIST),
    "events_sessionize": (q_events_sessionize, SQL_EVENTS_SESSIONIZE),
    "rank_candidates": (q_rank_candidates, SQL_RANK_CANDIDATES),
    "softmax_scores": (q_softmax_scores, SQL_SOFTMAX_SCORES),
    "label_centroids": (q_label_centroids, SQL_LABEL_CENTROIDS),
    "explode_chunks": (q_explode_chunks, SQL_EXPLODE_CHUNKS),
    "set_ops_terms": (q_set_ops_terms, SQL_SET_OPS_TERMS),
    "phrase_search": (q_phrase_search, SQL_PHRASE_SEARCH),
    "search_snippets": (q_search_snippets, SQL_SEARCH_SNIPPETS),
    "search_snippets_k": (q_search_snippets_k, SQL_SEARCH_SNIPPETS_K),
    "encode_hash_embed": (q_encode_hash_embed, SQL_ENCODE_HASH_EMBED),
    "hybrid_topk": (q_hybrid_topk, SQL_HYBRID_TOPK),
}


def queries():
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql():
    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}
