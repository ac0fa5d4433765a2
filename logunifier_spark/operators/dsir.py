"""DSIR-style importance weighting — select pretraining data that looks
like a target domain (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling", NeurIPS).

The published recipe: represent every document as a bag of HASHED
word-bigram features, fit two smoothed unigram-over-buckets models —
one on a (small) target-domain sample, one on the raw pool — and score
each raw document by its log importance weight
    log w(d) = Σ_{bigram instances b in d} ln( p_target(b) / p_source(b) ),
then resample the pool by weight. Documents whose n-gram profile
matches the target domain score high; generic/off-domain text scores
low. This is the standard scalable alternative to classifier-based
selection (fastText quality filters) — no training loop, two counting
passes, one broadcast join.

Spark shape, built for 10^12 raw docs vs a KB-to-GB target sample:
  - the bigram→bucket stream is a pure codegen projection
    (explode(sequence) + element_at — the repo's gram-stream idiom; no
    interpreted HOFs, no Python);
  - bucket counts are map-side-combinable hash aggregates; the
    log-ratio table has exactly `buckets` rows and BROADCASTS to the
    scoring join — the only corpus-scale shuffle is the final per-doc
    sum (hash aggregate on doc_id);
  - per-bucket contributions are FIXED-POINT int64
    (floor(1e6·(ln((t+1)/(T+B)) − ln((s+1)/(S+B))))) so the per-doc
    sum is associative, order-free, and engine-exact — the same
    discipline as unigram_logppl; totals T/S ride in-plan as 1-row
    crossJoins (never driver-side floats).

Hash portability: the bucket is kmv_hash(bigram) % buckets — the 48-bit
md5-prefix family shared with stats.kmv_distinct, bit-identical in any
engine with md5 (SQL mirror in duck_oracles.dsir_weights_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logunifier_spark.operators.stats import grouped_top_k, kmv_hash

QUANT = 10**6


def bigram_buckets(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   buckets: int = 4096) -> DataFrame:
    """(id_col, bucket) — one row per word-bigram INSTANCE (adjacency
    over the raw whitespace split; both words must match TERM_RE, the
    corpus tokenization used everywhere else). Stays in whole-stage
    codegen end to end."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    from logunifier_spark.operators.textstats import adjacent_word_pairs
    d = adjacent_word_pairs(docs, text_col, id_col)
    gram = F.concat(F.col("prev"), F.lit(" "), F.col("term"))
    return d.select(F.col(id_col),
                    F.pmod(kmv_hash(gram), F.lit(buckets)).alias("bucket"))


def dsir_logweights(raw: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    buckets: int = 4096) -> DataFrame:
    """Per-raw-document DSIR log importance weight under hashed-bigram
    bucket models with add-one smoothing: (id_col, n_bigrams BIGINT,
    logw DOUBLE rounded to 1e-6). Documents with no valid bigram
    produce no row (nothing to score — callers treat them as
    minimum-weight). Higher logw = more target-like."""
    src = bigram_buckets(raw, text_col, id_col, buckets)
    # referenced twice (source counts + scoring) — cut the lineage so
    # the corpus scan and gram explode run once
    src = src.localCheckpoint(eager=False)
    tgt = bigram_buckets(target, text_col, id_col, buckets)
    sb = src.groupBy("bucket").agg(F.count("*").alias("s"))
    tb = tgt.groupBy("bucket").agg(F.count("*").alias("t"))
    # NB: Spark resolution is case-insensitive — totals must not be
    # named "S"/"T" next to the per-bucket "s"/"t" columns
    stot = sb.agg(F.sum("s").alias("stotal"))
    ttot = tb.agg((F.coalesce(F.sum("t"), F.lit(0))).alias("ttotal"))
    b = F.lit(float(buckets))
    lr_fp = F.floor(
        F.lit(float(QUANT))
        * (F.log((F.col("t") + F.lit(1)).cast("double")
                 / (F.col("ttotal").cast("double") + b))
           - F.log((F.col("s") + F.lit(1)).cast("double")
                   / (F.col("stotal").cast("double") + b)))).cast("long")
    lrtab = (sb.join(tb, "bucket", "left")
               .na.fill({"t": 0})
               .crossJoin(stot).crossJoin(ttot)
               .select("bucket", lr_fp.alias("lr")))
    return (src.join(F.broadcast(lrtab), "bucket")
               .groupBy(id_col)
               .agg(F.count("*").alias("n_bigrams"),
                    F.sum("lr").alias("_s"))
               .select(id_col, "n_bigrams",
                       F.round(F.col("_s").cast("double")
                               / F.lit(float(QUANT)), 6).alias("logw")))


def dsir_topk(raw: DataFrame, target: DataFrame, k: int,
              text_col: str = "text", id_col: str = "doc_id",
              buckets: int = 4096) -> DataFrame:
    """The k most target-like raw documents: (id_col, n_bigrams, logw,
    rank 1..k), ties broken by id: the global form of
    `stats.grouped_top_k` (TakeOrdered — a per-partition heap + driver
    merge, no global sort partition at any corpus size)."""
    w = dsir_logweights(raw, target, text_col, id_col, buckets)
    return grouped_top_k(w, [], "logw", k=k, tiebreak=[id_col])


def source_drift(docs: DataFrame, group_col: str = "source",
                 text_col: str = "text", id_col: str = "doc_id",
                 buckets: int = 4096) -> DataFrame:
    """Distribution-shift monitor for corpus curation: per-`group_col`
    smoothed KL divergence of the group's hashed-bigram bucket
    distribution from the whole corpus — the "did this source start
    shipping different content" alarm a 100 TB ingest pipeline watches
    per batch. Returns (group_col, n_bigrams BIGINT, drift DOUBLE
    rounded 1e-6), drift >= 0 up to fixed-point rounding, higher =
    more divergent.

    Exact statistic (integer-defined, engine-portable): with
    per-(group, bucket) counts g_b, group total G, corpus counts c_b,
    corpus total C and add-one smoothing over `buckets` = B,
        drift = Σ_b (g_b+1)·floor(Q·(ln((g_b+1)/(G+B))
                                     − ln((c_b+1)/(C+B)))) / (Q·(G+B))
    — the fixed-point estimator of KL(p_group ‖ p_corpus). Every bucket
    of the corpus contributes (groups missing a bucket contribute its
    smoothed mass), so the sum runs over the corpus bucket table, which
    has at most B rows per group after the one broadcast join. Scale
    shape identical to dsir_logweights: codegen gram stream, two hash
    aggregates, one broadcast of the ≤B-row corpus bucket table."""
    src = bigram_buckets(docs.select(F.col(group_col), F.col(id_col),
                                     F.col(text_col)),
                         text_col, group_col, buckets)
    src = src.localCheckpoint(eager=False)
    gb = (src.groupBy(group_col, "bucket").agg(F.count("*").alias("g")))
    cb = src.groupBy("bucket").agg(F.count("*").alias("c"))
    ctot = cb.agg(F.sum("c").alias("ctotal"))
    gtot = gb.groupBy(group_col).agg(F.sum("g").alias("gtotal"))
    b = F.lit(float(buckets))
    # every (group, corpus-bucket) cell exists: cross the group list
    # with the ≤B-row corpus table, then attach the group's own counts
    cells = (gtot.crossJoin(F.broadcast(cb.crossJoin(ctot)))
                 .join(gb, [group_col, "bucket"], "left")
                 .na.fill({"g": 0}))
    lr = F.floor(
        F.lit(float(QUANT))
        * (F.log((F.col("g") + F.lit(1)).cast("double")
                 / (F.col("gtotal").cast("double") + b))
           - F.log((F.col("c") + F.lit(1)).cast("double")
                   / (F.col("ctotal").cast("double") + b)))).cast("long")
    term = (F.col("g") + F.lit(1)) * lr
    return (cells.groupBy(group_col, "gtotal")
                 .agg(F.sum(term).alias("_s"))
                 .select(F.col(group_col),
                         F.col("gtotal").alias("n_bigrams"),
                         F.round(F.col("_s").cast("double")
                                 / (F.lit(float(QUANT))
                                    * (F.col("gtotal").cast("double") + b)),
                                 6).alias("drift")))
