"""Text-analysis operators: language-ID heuristic, quality scoring, token
counting, document fingerprinting. All native Spark SQL expressions (regexp /
aggregate / transform) — designed as narrow, codegen-friendly projections so
they compose with any scan at 100 TB without extra shuffles."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Canonical tokenization whitespace: an EXPLICIT ASCII class, identical
# across the three regex engines that must agree for the value-hash gate —
# Java regex (Spark native), Python re (Arrow UDFs), RE2 (DuckDB oracles).
# A bare `\s` is engine-specific: Java's is exactly this set, Python's is
# Unicode-wide (matches NBSP etc.), RE2's lacks \x0B — so a document with
# non-ASCII whitespace would tokenize differently per engine and silently
# break minhash/simhash/fingerprint/token-count parity (ADVICE r2).
ASCII_WS = r"[ \t\r\n\f\x0B]"

# tiny per-language stopword marker sets (n-gram heuristic)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "del", "con", "para"],
}


def _marker_hits(words: Column, markers: list[str]) -> Column:
    mset = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(words, lambda w: F.array_contains(mset, w)))


def language_id(text: Column) -> Column:
    """Best-scoring marker language; 'und' when nothing matches."""
    words = F.split(F.lower(text), r"[^\p{L}]+")
    scores = F.array(*[
        F.struct(_marker_hits(words, m).alias("hits"), F.lit(lang).alias("lang"))
        for lang, m in _LANG_MARKERS.items()
    ])
    best = F.array_max(scores)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, ASCII_WS + "+")))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish regex segmentation count: word pieces, numbers, punctuation
    runs (a deterministic proxy for subword tokenizers)."""
    # the negated class spells out ASCII_WS (can't nest a class literal)
    return F.size(F.regexp_extract_all(
        text, F.lit(r"(\p{L}+|\p{N}+|[^ \t\r\n\f\x0B\p{L}\p{N}]+)"), 0))


def quality_score(text: Column) -> Column:
    """[0,1] quality heuristic: length band, punctuation ratio, stopword
    ratio, alpha ratio — the standard pretraining-filter features."""
    t = F.coalesce(text, F.lit(""))
    n_chars = F.length(t)
    words = F.split(F.lower(t), ASCII_WS + "+")
    n_words = F.size(words)
    alpha = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    stop_hits = _marker_hits(words, _LANG_MARKERS["en"])
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = alpha / (n_chars + F.lit(1e-9))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct / (n_words + F.lit(1.0)))
    stop_ratio = F.least(stop_hits / (n_words * F.lit(0.1) + F.lit(1e-9)), F.lit(1.0))
    score = (len_score * 0.25 + alpha_ratio * 0.35
             + punct_penalty * 0.2 + stop_ratio * 0.2)
    return F.round(score, 6)


def fingerprint(text: Column, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: min hash over word 4-gram
    hashes (robust to small edits; native expressions only). The gram hash
    is md5 (hex string) rather than xxhash64 — identical selection
    behavior (min over a uniform hash), but md5 exists verbatim in other
    engines, so the duplicate-set output carries an independent DuckDB
    value-hash oracle instead of a rows-only check."""
    words = F.split(F.regexp_replace(F.lower(text), ASCII_WS + "+", " "), " ")
    k = F.greatest(F.size(words) - 3, F.lit(1))
    grams = F.transform(F.sequence(F.lit(0), k - 1),
                        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i + 1, 4))))
    return F.array_min(grams)


def fingerprint_frame(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, fp): the same fingerprint as `fingerprint()`, computed as
    explode-positions → per-row md5 projection → min aggregate instead
    of a transform() lambda. HOF lambda bodies run on the interpreted
    expression path per element — measured ~25x slower than the
    post-explode projection, which stays inside whole-stage codegen —
    so THIS is the corpus-scan shape; the Column form exists for
    row-local annotation (with_text_stats) where adding an aggregate
    would force a join back. The min aggregate is map-side-combined, so
    the shuffle carries one (doc, fp) row per doc, not the gram
    stream."""
    words_expr = F.split(F.regexp_replace(F.lower(F.col(text_col)),
                                          ASCII_WS + "+", " "), " ")
    d = docs.select(F.col(id_col), words_expr.alias("_w"))
    k = F.greatest(F.size("_w") - 3, F.lit(1))
    return (d.select(F.col(id_col), "_w",
                     F.explode(F.sequence(F.lit(1), k)).alias("_i"))
             .select(F.col(id_col),
                     F.md5(F.concat_ws(" ", F.slice(F.col("_w"),
                                                    F.col("_i"), 4)))
                      .alias("_g"))
             .groupBy(id_col).agg(F.min("_g").alias("fp")))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     min_words: int = 50, max_words: int = 100_000,
                     min_mean_word_len: float = 3.0,
                     max_mean_word_len: float = 10.0,
                     min_alpha_word_frac: float = 0.8,
                     max_dup_line_frac: float = 0.3,
                     max_dup_2gram_frac: float = 0.2) -> DataFrame:
    """Gopher-style repetition / shape filters (Rae et al. 2021 §A1.1,
    re-expressed with distinct-ratio duplicate metrics so both Spark and
    the DuckDB oracle compute them natively):

      n_words            canonical ASCII-ws word count
      mean_word_len      (chars - spaces) / n_words, from the normalized text
      alpha_word_frac    fraction of words containing a letter
      dup_line_frac      1 - distinct(raw lines)/count(lines)
      dup_2gram_frac     1 - distinct(word 2-grams)/count(2-grams)
      gopher_pass        all thresholds hold (defaults are the paper's
                         bounds where they translate)

    Pure projection — no shuffle, no Python; ratios are rounded to 6
    places for cross-engine hashing, the pass flag is computed on the
    unrounded values (identical IEEE ops on both engines)."""
    from logunifier_spark.operators.decontam import norm_words, word_ngrams
    t = F.coalesce(F.col(text_col), F.lit(""))
    d = df.withColumn("_w", norm_words(t))
    nw = F.size("_w")
    d = d.withColumn("_g2", word_ngrams(F.col("_w"), 2)) \
         .withColumn("_lines", F.split(t, "\n"))
    norm_len = F.length(F.concat_ws(" ", F.col("_w")))
    mean_wl = F.when(nw > 0, (norm_len - nw + 1) / nw).otherwise(F.lit(0.0))
    alpha_frac = F.when(nw > 0, F.size(F.filter(
        F.col("_w"), lambda w: w.rlike(r"\p{L}"))) / nw).otherwise(F.lit(0.0))
    n_lines = F.size("_lines")
    dup_line = F.when(n_lines > 0,
                      1 - F.size(F.array_distinct("_lines")) / n_lines
                      ).otherwise(F.lit(0.0))
    n_g2 = F.size("_g2")
    dup_g2 = F.when(n_g2 > 0, 1 - F.size(F.array_distinct("_g2")) / n_g2
                    ).otherwise(F.lit(0.0))
    gopher = (nw.between(min_words, max_words)
              & mean_wl.between(min_mean_word_len, max_mean_word_len)
              & (alpha_frac >= min_alpha_word_frac)
              & (dup_line <= max_dup_line_frac)
              & (dup_g2 <= max_dup_2gram_frac))
    return d.withColumns({
        "n_words": nw.cast("long"),
        "mean_word_len": F.round(mean_wl, 6),
        "alpha_word_frac": F.round(alpha_frac, 6),
        "dup_line_frac": F.round(dup_line, 6),
        "dup_2gram_frac": F.round(dup_g2, 6),
        "gopher_pass": gopher,
    }).drop("_w", "_g2", "_lines")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return df.withColumns({
        "lang_id": language_id(t),
        "n_tokens": token_count(t),
        "n_subtokens": bpe_ish_token_count(t),
        "quality": quality_score(t),
        "fingerprint": fingerprint(t),
    })


ENTROPY_QUANT = 10**6


def char_entropy(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document character-distribution Shannon entropy (nats) — the
    classic cheap spam/keyboard-mash/low-diversity filter signal (C4
    lineage): repeated-character junk and single-token spam score near
    0, natural prose lands ~3-4. Returns (id_col, n_counted BIGINT,
    entropy DOUBLE rounded 1e-6); empty/null texts produce no row.

    H = ln(n) - (1/n)·Σ_c cnt_c·ln(cnt_c). Cross-engine float
    discipline (the unigram_logppl trick): the per-character
    contributions cnt·floor(1e6·ln(cnt)) are int64 and sum order-free,
    so the result is engine-exact; only the final two double ops divide
    the fixed point back out. Characters are raw codepoints via an
    explode(sequence)+substring codegen projection — one (id, char)
    hash aggregate and one (id) hash aggregate, both map-side combined,
    are the only shuffles."""
    d = (docs.where(F.col(text_col).isNotNull()
                    & (F.length(text_col) > 0))
             .select(F.col(id_col), F.col(text_col).alias("_t")))
    chars = (d.select(F.col(id_col), "_t",
                      F.explode(F.sequence(F.lit(1), F.length("_t")))
                       .alias("_i"))
              .select(F.col(id_col),
                      F.substring(F.col("_t"), F.col("_i"), 1).alias("_ch")))
    # NB: substring with a Column start needs expr-compatible args in
    # some Spark versions; F.substring accepts Columns since 3.4
    cnt = chars.groupBy(id_col, "_ch").agg(F.count("*").alias("_c"))
    contrib = F.col("_c") * F.floor(
        F.lit(float(ENTROPY_QUANT))
        * F.log(F.col("_c").cast("double"))).cast("long")
    agg = (cnt.groupBy(id_col)
              .agg(F.sum("_c").alias("n_counted"),
                   F.sum(contrib).alias("_s")))
    h = (F.log(F.col("n_counted").cast("double"))
         - F.col("_s").cast("double")
         / (F.lit(float(ENTROPY_QUANT)) * F.col("n_counted").cast("double")))
    return agg.select(id_col, "n_counted", F.round(h, 6).alias("entropy"))


def adjacent_word_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(id_col, prev, term) — one row per RAW-adjacent word pair where
    BOTH words match TERM_RE: the corpus bigram identity shared by DSIR
    bucketing and the bigram LM (one definition, one SQL mirror — four
    hand-copied variants of this stream drifted apart once in review).
    Pure codegen: split → explode(sequence) → element_at, no HOFs."""
    from logunifier_spark.operators.tfidf import TERM_RE
    ws = F.split(F.lower(F.col(text_col)), ASCII_WS + "+")
    return (docs.select(F.col(id_col), ws.alias("_ws"))
                .where(F.size("_ws") >= 2)
                .select(F.col(id_col), "_ws",
                        F.explode(F.sequence(F.lit(1), F.size("_ws") - 1))
                         .alias("_i"))
                .select(F.col(id_col),
                        F.element_at("_ws", F.col("_i")).alias("prev"),
                        F.element_at("_ws", F.col("_i") + 1).alias("term"))
                .where(F.col("prev").rlike(TERM_RE)
                       & F.col("term").rlike(TERM_RE)))


def vocab_zipf(docs: DataFrame, text_col: str = "text",
               top_k: int = 4096) -> DataFrame:
    """Corpus vocabulary rank-frequency table — the Zipf health check
    every corpus report should carry (a natural corpus has freq·rank
    roughly constant; a scrape full of templated boilerplate or
    near-empty docs bends the curve visibly at both ends): (token,
    rank, freq, zipf_c, cum_ppm) for the `top_k` most frequent tokens,
    where zipf_c = rank·freq (the Zipf "constant" — EXACT integers, no
    cross-engine float risk) and cum_ppm is the cumulative corpus
    coverage of ranks 1..r in ppm (integer DIV of exact counts; the
    "how few types cover 90% of tokens" curve that sizes vocabularies
    and spots dedup failures). Ties rank by (freq DESC, token ASC) —
    total order, engine-portable.

    Scale shape: the token stream is the split+explode codegen idiom;
    the ONLY corpus-sized shuffle is the map-side-combined token count,
    which reduces to one row per vocabulary TYPE. Ranking is an
    unpartitioned window, deliberately: it runs over the vocabulary
    (types, not tokens — bounded in the low millions by Heaps' law at
    any corpus size), the same single-task trade tfidf's document
    frequency table makes. The cumulative sum must see every type
    anyway (rank r's coverage includes all higher ranks), so the cap
    to top_k is applied AFTER it."""
    toks = (docs.where(F.col(text_col).isNotNull())
                .select(F.explode(
                    F.split(F.trim(F.lower(F.col(text_col))),
                            ASCII_WS + "+")).alias("token"))
                .where(F.col("token") != ""))
    freq = toks.groupBy("token").agg(F.count("*").alias("freq"))
    # vocabulary-sized (types, not tokens) — bounded; see docstring
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = (freq.withColumn("rank", F.row_number().over(w).cast("long"))
                  .withColumn("_cum", F.sum("freq").over(
                      w.rowsBetween(Window.unboundedPreceding, 0)))
                  .withColumn("_tot", F.sum("freq").over(
                      Window.partitionBy())))
    return (ranked.where(F.col("rank") <= top_k)
                  .select("token", "rank", "freq",
                          (F.col("rank") * F.col("freq")).alias("zipf_c"),
                          F.expr("CAST((_cum * 1000000) DIV _tot AS BIGINT)")
                           .alias("cum_ppm")))
