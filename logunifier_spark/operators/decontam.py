"""Benchmark decontamination: drop training documents that share any word
n-gram with an evaluation/benchmark set (the standard pretraining hygiene
step — exact n-gram overlap, the method used by GPT-3/PaLM-style pipelines
with n around 8-13).

Scale shape: the benchmark side is tiny (eval sets are MBs), so its
distinct gram set is BROADCAST; the 100-TB training side is exploded to
grams and probed map-side (BroadcastHashJoin — no shuffle of the corpus).
The only exchange is the per-doc hit aggregation, and it runs over hit
rows only. `decontaminate` then anti-joins the (small) contaminated id set
back — a second corpus scan, which is the honest cost of returning rows
rather than ids; callers that only need the report use `contaminated_ids`.

Gram identity is the canonical ASCII-whitespace word stream shared with
textstats (lower → collapse ws → trim → split), so the DuckDB oracle can
reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logunifier_spark.operators.kernels import fan_out
from logunifier_spark.operators.textstats import ASCII_WS


def norm_words(text: Column) -> Column:
    """Canonical word array: lowercase, collapse ASCII whitespace, trim;
    empty text yields an empty array (not ['''])."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))),
                                   ASCII_WS + "+", " "))
    return F.when(norm == "", F.array().cast("array<string>")) \
            .otherwise(F.split(norm, " "))


def word_ngrams(words: Column, n: int) -> Column:
    """Space-joined word n-grams from a *pre-projected* word array (bind
    the array in a prior withColumn — expressions inlined into transform
    lambdas re-evaluate per element)."""
    k = F.size(words) - (n - 1)
    return F.when(k >= 1, F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    ).otherwise(F.array().cast("array<string>"))


def _gram_rows(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    # explode positions first, build each gram as a plain row projection:
    # a transform() lambda body runs interpreted per element (~50 µs),
    # while the post-explode concat_ws/slice stays in whole-stage codegen
    # — measured 25x on gram streams (see dedup.repeated_ngram_stats)
    w = df.select(F.col(id_col), norm_words(F.col(text_col)).alias("_w"))
    k = F.size("_w") - (n - 1)
    return (w.where(k >= 1)
             .select(F.col(id_col), "_w",
                     F.explode(F.sequence(F.lit(1), k)).alias("_i"))
             .select(F.col(id_col),
                     F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i"), n))
                      .alias("gram")))


def contaminated_ids(train: DataFrame, bench: DataFrame, n: int = 8,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id_col, n_hits) for every training doc sharing >= 1 word n-gram
    with the benchmark; n_hits = distinct shared grams. The benchmark gram
    set is broadcast, so the training side is probed without a shuffle."""
    bench_grams = (_gram_rows(bench, n, text_col, id_col)
                   .select("gram").distinct())
    # a small corpus scans as fewer tasks than cores, and the broadcast
    # probe inherits them
    train_grams = _gram_rows(fan_out(train), n, text_col, id_col)
    hits = train_grams.join(F.broadcast(bench_grams), "gram")
    return hits.groupBy(id_col).agg(
        F.countDistinct("gram").alias("n_hits"))


def decontaminate(train: DataFrame, bench: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Training rows with contaminated documents removed (anti-join on the
    broadcast-small contaminated id set)."""
    bad = contaminated_ids(train, bench, n, text_col, id_col).select(id_col)
    return train.join(F.broadcast(bad), id_col, "left_anti")
