"""BM25 full-text retrieval over the corpus — top-k documents per query.

The retrieval companion to tfidf.py (which extracts keywords) and
similarity.py (which retrieves by embedding): BM25 (Robertson-Spärck
Jones / Okapi, the Lucene default) retrieves by lexical match with
saturating term-frequency and length normalization:

  score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
  idf(t)      = ln(1 + (N − df + 0.5)/(df + 0.5))        (Lucene variant)

Spark shape, built for a tiny query set against a 10^12-doc corpus:

  - the corpus pass is the tfidf pass: one (doc, term) shuffle with
    map-side combine builds tf; dl (doc length in valid tokens) rides
    the same aggregate as a sum — ONE pass over the token stream;
  - the query set is distinct (query, term) pairs, a few KB — it
    BROADCASTS against tf, so the corpus is touched by an equi-join on
    term that prunes every non-query term before any further shuffle;
  - df is computed from the ALREADY query-pruned tf slice (count of
    docs per surviving term — df of non-query terms is never needed);
  - the final reduction is a hash aggregate per (query, doc) and a
    top-k window per query over candidate docs only.

Cross-engine float discipline: the per-term score is one fixed
expression tree over (tf, df, dl, N, avgdl) — deterministic within an
engine — but a double SUM across a doc's matched terms is
partial-aggregation-order-dependent. So per-term scores are quantized
to FIXED-POINT int64 (floor(1e9·score)) and summed as integers — the
perplexity.py discipline — which also makes ranking ties EXACT and
portable: equal integer scores break by doc_id ascending on every
engine. ln() is the one libm call; a floor-boundary flip needs it to
land within ~1e-15 of a grid line. avgdl enters as T/N, a single
correctly-rounded division of two exactly-representable integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logunifier_spark.operators.stats import grouped_top_k
from logunifier_spark.operators.textstats import ASCII_WS
from logunifier_spark.operators.tfidf import TERM_RE

BM25_QUANT = 10**9


def _terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (df.select(F.col(id_col),
                      F.explode(F.split(F.lower(F.col(text_col)),
                                        ASCII_WS + "+")).alias("term"))
              .where(F.col("term").rlike(TERM_RE)))


def bm25_topk(docs: DataFrame, queries: list[tuple[str, str]],
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75,
              top_k: int = 10) -> DataFrame:
    """Top-k documents per query by BM25. `queries` is a driver-side
    list of (query_id, query_text) — retrieval queries are human-issued
    and tiny; a DataFrame of queries would broadcast to the same plan.
    Returns (query_id, doc_id, rank, score) with rank 1-based by
    (score desc, doc_id asc) and score = fixed-point sum / 1e9 rounded
    to 6. Queries with no matching docs yield no rows. Tokenization is
    the repo-wide convention (lowercase, ASCII whitespace split,
    ^[a-z]{2,}$ terms)."""
    if not queries:
        raise ValueError("queries must be non-empty")
    spark = docs.sparkSession
    n_docs = docs.count()

    tf = (_terms(docs, id_col, text_col)
          .groupBy(id_col, "term").agg(F.count("*").alias("tf")))
    # dl must count EVERY valid token of the doc (not just query terms),
    # so it aggregates from tf before the query pruning; both aggregates
    # reuse the one materialized (doc, term) frame — the tfidf trade.
    tf = tf.localCheckpoint(eager=False)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    tot = dl.agg(F.sum("dl").alias("t")).first()
    # sum over zero rows is NULL: a corpus with rows but no valid tokens
    # must return the empty result, not crash on int(None) / divide into
    # a 0.0 avgdl (ADVICE r3)
    total_tokens = int(tot["t"] or 0)
    if n_docs == 0 or total_tokens == 0:
        id_t = docs.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id string, {id_col} {id_t}, rank int, score double")
    avgdl = float(total_tokens) / float(n_docs)

    qdf = F.broadcast(
        _terms(spark.createDataFrame(queries,
                                     "query_id string, _qtext string"),
               "query_id", "_qtext").distinct())
    hits = tf.join(qdf, "term")                       # prunes non-query terms
    df_ = hits.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"))
    idf = F.log(F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf")
             + F.lit(k1) * (F.lit(1.0 - b)
                            + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    contrib = F.floor(
        F.lit(float(BM25_QUANT))
        * (idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom)).cast("long")
    scored = (hits.join(F.broadcast(df_), "term")
                  .join(dl, id_col)
                  .select("query_id", F.col(id_col), contrib.alias("_c"))
                  .groupBy("query_id", id_col)
                  .agg(F.sum("_c").alias("_s")))
    return (grouped_top_k(scored, "query_id", "_s", k=top_k,
                          tiebreak=[id_col])
                  .select("query_id", F.col(id_col), "rank",
                          F.round(F.col("_s").cast("double")
                                  / F.lit(float(BM25_QUANT)),
                                  6).alias("score")))


def inverted_index(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   max_postings: int = 1000) -> DataFrame:
    """Build the inverted index as a TABLE: one row per term —
    (term, df BIGINT, postings STRING: comma-joined ascending doc ids,
    truncated BOOLEAN). The serving-side artifact behind bm25_topk's
    on-the-fly pass: persist it (bucketed by term — storage.py) and
    lookups become exchange-free point joins.

    Posting lists are CAPPED at `max_postings` ids (smallest first,
    deterministic) with `truncated` flagging the cut: a stopword's list
    at 10^12 docs is the corpus itself — materializing it would blow the
    aggregation buffer for one key, and every real engine stores such
    terms differently (skip lists / bitmaps) or stops them entirely. df
    is always the TRUE document frequency (computed before the cap).
    The cap is `stats.grouped_top_k` ascending on the id: its partial
    WindowGroupLimit keeps max_postings ids per term in every map
    partition before the shuffle, so a stopword never reaches one sort
    whole (for max_postings ≤ 1,000, Spark's
    windowGroupLimitThreshold default).

    Postings serialize as a string, not array<bigint>: a string column
    is directly hashable/comparable across engines and keeps this
    oracle-able; consumers split on ','."""
    d = (_terms(docs, id_col, text_col)
         .groupBy("term", id_col).agg(F.count("*").alias("tf")))
    d = d.localCheckpoint(eager=False)
    dfreq = d.groupBy("term").agg(F.count("*").alias("df"))
    kept = grouped_top_k(d, "term", id_col, k=max_postings,
                         ascending=True).drop("rank")
    posts = (kept.groupBy("term")
                 .agg(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(F.col(id_col))),
                         lambda x: x.cast("string")), ",")
                      .alias("postings")))
    return (dfreq.join(posts, "term")
                 .select("term", "df", "postings",
                         (F.col("df") > max_postings).alias("truncated")))
