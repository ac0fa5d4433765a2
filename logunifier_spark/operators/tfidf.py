"""TF-IDF keyword extraction over a document corpus — the corpus-level
companion to textstats.py's row-local projections (quality, language,
token counts): the score of a term depends on every other document via
the document frequency.

Spark shape, built for 10^12 docs:

  - term stream = split + explode (zero Python, fuses with the scan);
  - tf = one shuffle on (doc, term) with map-side combine — the only
    pass over the full token stream;
  - df aggregates the (already doc-distinct) tf frame down to vocab
    size, and the tf⋈df join is a vocab-keyed join: vocab is sublinear
    in corpus size (Heaps' law), AQE broadcasts it when it fits;
  - top-k per doc is one window shuffle on doc_id over the tf-sized
    (not token-sized) frame;
  - N (corpus row count) enters the plan as a driver literal — one
    count() job, metadata-only on parquet sources.

Cross-engine float discipline (the value-hash gate): (N+1)/(df+1) is a
single IEEE-correctly-rounded double division of exactly-representable
integers, identical on every engine; ln() is the one libm call (Java
Math.log vs DuckDB's ln may differ in the last ulp for SOME inputs, but
equal (tf, df) pairs — the only systematic near-ties — produce the SAME
double within each engine, so the term-ascending tie-break ranks them
identically on both sides). Scores are rounded to 6 places on output;
ranking uses the unrounded value.

Tokenization matches the repo-wide convention (textstats.ASCII_WS):
lowercase, split on the explicit ASCII whitespace class, keep pure
ASCII-alpha terms of length >= 2 (`^[a-z]{2,}$` — identical semantics in
Java regex, Python re, and RE2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logunifier_spark.operators.stats import grouped_top_k
from logunifier_spark.operators.textstats import ASCII_WS

TERM_RE = "^[a-z]{2,}$"


def tfidf_top_terms(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Top-k terms per document by tf·idf, idf = ln((N+1)/(df+1)).
    Returns (doc_id, term, tf, df, rank, score) — tf/df BIGINT, rank INT
    (row_number), score rounded to 6. Ties rank by term ascending.
    Documents whose text yields no terms produce no rows."""
    n_docs = docs.count()
    terms = (docs
             .select(F.col(id_col),
                     F.explode(F.split(F.lower(F.col(text_col)),
                                       ASCII_WS + "+")).alias("term"))
             .where(F.col("term").rlike(TERM_RE)))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # df derives FROM tf, and the plan references tf twice (df agg + the
    # score join): without materialization Spark re-scans the corpus and
    # re-aggregates the token stream per reference. Same trade as the
    # minhash signature checkpoint — executor-local storage of the
    # (doc, term) frame buys back a full second pass. (The alternative —
    # df as count().over(Window.partitionBy(term)) — is one scan with no
    # checkpoint but puts ALL rows of a hot term in one window task:
    # stopword skew at corpus scale. Partial aggregation is skew-safe.)
    tf = tf.localCheckpoint(eager=False)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(df_, "term")
                .withColumn(
                    "score",
                    F.col("tf") * F.log(F.lit(float(n_docs + 1))
                                        / (F.col("df") + F.lit(1))
                                        .cast("double"))))
    return (grouped_top_k(scored, id_col, "score", k=k, tiebreak=["term"])
                  .select(F.col(id_col), "term", "tf", "df", "rank",
                          F.round("score", 6).alias("score")))


def pmi_collocations(docs: DataFrame, text_col: str = "text",
                     min_count: int = 5, k: int = 20) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    (l, r, c_ab BIGINT, pmi DOUBLE rounded to 6) for adjacent term
    pairs with c_ab >= min_count, ranked by (pmi DESC, l, r). The
    phrase-mining signal ("new york" scores high, "of the" does not)
    that feeds tokenizer phrase lists and n-gram vocabularies.

    PMI = ln(P(ab) / (P(a)P(b))) = ln((c_ab * N) / (c_a * c_b)) with N
    the corpus token count. Cross-engine float discipline (the tfidf
    lesson): both products are exact int64 counts cast to double, the
    division and ln are single correctly-rounded/libm calls on
    identical inputs, and equal inputs give equal outputs within each
    engine — so ranking ties resolve identically; the displayed score
    rounds to 6.

    Shape: one token-stream explode feeds BOTH the unigram and the
    adjacent-pair aggregates (adjacency on the TERM_RE-filtered
    sequence, the standard convention); the pair⋈unigram joins are
    vocab-keyed (sublinear — Heaps), AQE broadcasts them when small;
    the global top-k is a TakeOrdered, not a full sort."""
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), ASCII_WS + "+"),
        lambda x: x.rlike(TERM_RE))
    base = docs.select(arr.alias("_a")).where(F.size("_a") >= 1)
    base = base.localCheckpoint(eager=False)
    uni = (base.select(F.explode("_a").alias("t"))
               .groupBy("t").agg(F.count("*").alias("c")))
    n_tokens = uni.agg(F.sum("c")).collect()[0][0] or 0
    pairs = (base.where(F.size("_a") >= 2)
                 .select(F.col("_a"),
                         F.explode(F.sequence(F.lit(1),
                                              F.size("_a") - 1)).alias("i"))
                 .select(F.element_at("_a", F.col("i")).alias("l"),
                         F.element_at("_a", F.col("i") + 1).alias("r"))
                 .groupBy("l", "r").agg(F.count("*").alias("c_ab"))
                 .where(F.col("c_ab") >= min_count))
    ca = uni.select(F.col("t").alias("l"), F.col("c").alias("_ca"))
    cb = uni.select(F.col("t").alias("r"), F.col("c").alias("_cb"))
    scored = (pairs.join(ca, "l").join(cb, "r")
                   .withColumn(
                       "pmi",
                       F.round(F.log(
                           (F.col("c_ab").cast("double")
                            * F.lit(float(n_tokens)))
                           / (F.col("_ca").cast("double")
                              * F.col("_cb").cast("double"))), 6)))
    return (scored.orderBy(F.desc("pmi"), F.asc("l"), F.asc("r"))
                  .limit(k).select("l", "r", "c_ab", "pmi"))
