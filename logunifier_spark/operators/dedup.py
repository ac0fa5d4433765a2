"""Deduplication operators for large-scale training-data pipelines.

All operators take a DataFrame with (id_col, text_col) and return either a
keep-set or duplicate-pair frame. Designed for 100 TB shapes:

  - exact_dedup:     hash-groupBy on a 64-bit content hash (one shuffle of
                     (hash, id) pairs only — never the text)
  - minhash_lsh:     shingle → minhash signature → band buckets → bucket
                     join; candidate verification by signature similarity.
                     The banding join shuffles only (band_key, id, signature),
                     so the width is O(rows · bands), independent of doc size.
  - simhash:         60-bit portable simhash; near-dup candidates via
                     4×15-bit block buckets (Hamming ≤ 3 pigeonhole), with
                     a hot-bucket cap for degenerate corpora
  - ngram_jaccard:   character n-gram Jaccard over a self-join restricted to
                     shared-shingle buckets; document-frequency pruning of
                     ubiquitous grams ON by default (the exact no-prune mode
                     is opt-in — it is quadratic on common grams)

Joins/aggregations/banding are native Spark SQL expressions (xxhash64,
explode, hash joins). The minhash/simhash signature computations are
numpy kernels in `arrow_udf`s, one call per Arrow batch with the output
built directly as an Arrow array (zero per-row Python in the hot loops)
— measured 5-50× faster than the equivalent Catalyst higher-order-function
expression trees, which re-expand per downstream reference.
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, LongType

from logunifier_spark.operators.kernels import _input_bytes_estimate, fan_out
from logunifier_spark.operators.textstats import ASCII_WS
from logunifier_spark.session import observation_or


# ---------------------------------------------------------------- exact ----


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact text hash (deterministic)."""
    h = F.xxhash64(F.col(text_col))
    return (df.withColumn("_h", h)
              .groupBy("_h")
              .agg(F.min(id_col).alias(id_col),
                   F.count("*").alias("dup_count"))
              .drop("_h"))


# -------------------------------------------------------------- shingles ---

def _normalize(text: Column) -> Column:
    # explicit ASCII class == Java \s; keeps Spark/pandas/DuckDB tokenization
    # identical for the value-hash gate (see textstats.ASCII_WS)
    return F.regexp_replace(F.lower(text), ASCII_WS + "+", " ")


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-gram 64-bit hashes, as an array column.
    Native: sequence → transform(substring) → xxhash64 → array_distinct.

    The normalized string is bound as a lambda variable (via a 1-element
    array) so the regexp_replace runs ONCE per row — embedding it directly
    in the transform lambda would re-run the regex once per gram (~300×/row,
    measured 7× slower end-to-end)."""
    grams = F.flatten(F.transform(F.array(_normalize(text)), lambda nm:
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(nm) - (n - 1), F.lit(1))),
            lambda i: F.xxhash64(F.substring(nm, i, n)))))
    return F.array_distinct(grams)


# -------------------------------------------------------------- minhash ----

_MINHASH_P = 2_147_483_647  # Mersenne prime 2^31 - 1: the portable field

# Horner bases for the portable gram hashes (two independent-ish families)
_GRAM_BASE_1 = 131
_GRAM_BASE_2 = 137

_LONGS = to_arrow_type(ArrayType(LongType()))


def _long_lists(offsets: np.ndarray, flat: np.ndarray) -> pa.Array:
    """An array<long> UDF result built in Arrow: row i is
    flat[offsets[i]:offsets[i + 1]]."""
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(flat, type=pa.int64()),
        type=_LONGS)


def _norm_series(text: pd.Series) -> pd.Series:
    """THE normalization for every portable gram family in this module
    (minhash signatures, simhash votes, the verify-stage gram sets):
    lower + ASCII-ws collapse + UTF-32LE codepoints. One copy — the
    sketch and its verify stage must hash the SAME sets, and the SQL
    oracles' _codepoints_cte mirrors exactly this."""
    return (text.fillna("").str.lower()
                .str.replace(ASCII_WS + "+", " ", regex=True)
                .str.encode("utf-32-le"))


def _horner_grams(norm_u32, shingle_n: int, bases=(_GRAM_BASE_1,)) -> list:
    """Distinct gram keys per row (list of int64 arrays) from UTF-32LE-
    encoded normalized strings: one Horner rolling hash per base over
    Unicode CODEPOINTS, h = fold(h*base + cp) mod p, packed 31 bits per
    base. One base (minhash, the verify-stage gram sets) gives the hash
    itself, < p; two (simhash) give (h1 << 31) | h2, the 62-bit gram
    IDENTITY — portable to SQL as a single BIGINT (a list of pairs is not
    list_distinct-able in DuckDB).

    This family is deliberately ENGINE-PORTABLE: the same arithmetic is
    expressible in plain SQL (DuckDB list comprehensions over unicode()
    codepoints), which is what lets the minhash/simhash pipelines carry an
    independent value-hash oracle instead of a rows-only check. Texts
    shorter than one window are zero-padded, so every row has >= 1 gram."""
    grams_per_row = []
    for bs in norm_u32:
        cps = np.frombuffer(bs, dtype="<u4").astype(np.int64)
        if len(cps) < shingle_n:
            cps = np.pad(cps, (0, shingle_n - len(cps)))
        win = np.lib.stride_tricks.sliding_window_view(cps, shingle_n)
        key = None
        for base in bases:
            # Horner WITHOUT per-step mod: codepoints < 2^21 and
            # base^(n-1)·n·2^21 < 2^63 for n ≤ 5, so one mod at the end is
            # exact — and ~2× faster (integer division dominates the
            # vectorized loop). Congruent to the SQL oracle's per-step
            # (a*base + c) % p by mod homomorphism. For n > 5 the deferred
            # form would silently wrap int64 and diverge from the oracle,
            # so those fall back to the exact per-step mod.
            h = np.zeros(len(win), dtype=np.int64)
            if shingle_n <= 5:
                for j in range(shingle_n):
                    h = h * base + win[:, j]
                h %= _MINHASH_P
            else:
                for j in range(shingle_n):
                    h = (h * base + win[:, j]) % _MINHASH_P
            key = h if key is None else (key << np.int64(31)) | h
        grams_per_row.append(np.unique(key))
    return grams_per_row


def _ragged_grams(text: pa.Array, shingle_n: int, bases=(_GRAM_BASE_1,)):
    """The gram keys of a batch as one ragged array for the sketch UDFs'
    per-row `np.ufunc.reduceat`: (lens, flat, offsets) — each row's gram
    count, all keys concatenated, and each row's start in `flat`. Every
    row has >= 1 gram (`_horner_grams` pads), so no offset repeats."""
    grams_per_row = _horner_grams(_norm_series(text.to_pandas()), shingle_n,
                                  bases)
    lens = np.fromiter(map(len, grams_per_row), dtype=np.int64,
                       count=len(grams_per_row))
    offsets = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    flat = (np.concatenate(grams_per_row) if grams_per_row
            else np.zeros(0, dtype=np.int64))
    return lens, flat, offsets


def minhash_signature_udf(num_hashes: int = 64, shingle_n: int = 5):
    """Arrow-vectorized text → minhash signature (numpy, zero per-row Python
    in the hot loops). Normalization matches `_normalize` (lower + collapse
    whitespace); grams are distinct Horner-mod-p codepoint hashes
    (`_horner_grams`, engine-portable); sig[i] = min over grams g of
    (g*(2i+1) + 1000003*(i+7)) mod p.

    Shingling happens inside the UDF (rather than passing a Catalyst
    shingle array in) because a higher-order-function expression as a
    Python-UDF argument breaks ExtractPythonUDFs (leftover nullability
    variants → INTERNAL_ERROR 'Cannot generate code'), and inlining the
    normalization into a transform lambda re-runs the regex per gram."""
    a = np.arange(num_hashes, dtype=np.int64) * 2 + 1
    b = ((np.arange(num_hashes, dtype=np.int64) + 7) * 1_000_003) % _MINHASH_P
    p = np.int64(_MINHASH_P)

    def _sig(text: pa.Array) -> pa.Array:
        lens, flat, offsets = _ragged_grams(text, shingle_n)
        out = np.full((len(lens), num_hashes), p, dtype=np.int64)
        if len(lens):
            # one fused pass per hash function: O(total) memory
            for i in range(num_hashes):
                row = (flat * a[i] + b[i]) % p
                out[:, i] = np.minimum.reduceat(row, offsets)
        return _long_lists(np.arange(0, out.size + 1, num_hashes),
                           out.ravel())

    return F.arrow_udf(_sig, returnType=ArrayType(LongType()))


# Two-stage auto-broadcast gate for the signature table. The broadcast
# size scales with ROW COUNT (rows × 4·num_hashes B), not input bytes —
# a 500 MB corpus of 100-byte log lines is ~5M docs → a multi-GB
# broadcast, while 500 MB of 2 KB docs is a comfortable ~70 MB. So the
# cheap byte estimate only SCREENS OUT obviously-huge inputs; below it,
# the decision uses the actual signature row count (counting the sigs
# frame materializes its localCheckpoint — work the pipeline pays once
# anyway, pulled forward to decide the join strategy).
_SIG_BROADCAST_INPUT_BYTES = 512 * 1024 * 1024
_SIG_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


_OBS_SEQ = itertools.count()


class _CapStats:
    """What a pair operator's hot-bucket cap dropped (the
    `hot_bucket_observation` attribute of its result). `.get` (after the
    first action on that result) is a mapping with `capped_buckets` and
    `max_bucket_rows`. Normally it reads the free ride-along Observation;
    when NO candidate pair survives the cap (every bucket capped, or only
    singletons left), Spark 4.1's AQE empty-relation propagation prunes
    the plan branch carrying the CollectMetrics node, and Observation.get
    crashes on a schemaless row (same bug class as write_sinks' zero-row
    write) — the fallback then re-aggregates the bucket counts, which
    recomputes the banded frame (jobs, on that path only)."""

    def __init__(self, obs, raw_counts: DataFrame, max_bucket: int):
        self._obs, self._counts, self._mb = obs, raw_counts, max_bucket

    @property
    def get(self) -> dict:
        return dict(observation_or(self._obs, self._recount))

    def _recount(self) -> dict:
        row = self._counts.agg(
            F.sum((F.col("_n") > self._mb).cast("long"))
             .alias("capped_buckets"),
            F.max("_n").alias("max_bucket_rows")).first()
        return {"capped_buckets": int(row["capped_buckets"] or 0),
                "max_bucket_rows": int(row["max_bucket_rows"] or 0)}


def capped_counts(counts: DataFrame, cap: int) -> tuple[DataFrame, _CapStats]:
    """THE observed cap: `counts` (key columns + `_n`, the rows per key)
    → (the keys with `_n <= cap`, a `_CapStats` reporting how many keys
    were capped and the largest `_n`). The Observation rides the count
    aggregate the cap needs anyway: zero extra jobs."""
    from pyspark.sql import Observation
    # unique per call: Observation names are global to a plan, and a
    # hard-coded name breaks any query composing two capped pair
    # frames (DUPLICATED_METRICS_NAME on union/join)
    obs = Observation(f"hot_buckets_{next(_OBS_SEQ)}")
    observed = counts.observe(
        obs,
        F.sum((F.col("_n") > cap).cast("long")).alias("capped_buckets"),
        F.max("_n").alias("max_bucket_rows"))
    return observed.where(F.col("_n") <= cap), _CapStats(obs, counts, cap)


def bucket_pairs(banded: DataFrame, keys: list[str],
                 cap: int | None) -> tuple[DataFrame, _CapStats | None]:
    """THE capped bucket self-join of the near-duplicate pair family:
    `banded` rows (id, *keys, *payload) → distinct (id_a, id_b) pairs
    with id_a < id_b that share at least one bucket (`keys`), each
    payload column carried as `<c>_a` / `<c>_b`. Returns (pairs, stats).

    `cap` is the hot-bucket guard (None: exact pigeonhole): buckets
    holding more than `cap` rows are dropped from candidate generation.
    One hot bucket is the skewed-key case of a hash self-join — its pair
    explosion is ONE join key, which AQE skew-splitting cannot divide, so
    the candidate count is bounded by rows·buckets-per-row·cap instead.
    The drop trades recall, so it is never silent: `stats` (a
    `_CapStats`, None when uncapped) reports how many buckets were
    capped and the largest population seen, read from an Observation on
    the bucket-count aggregate the cap needs anyway — zero extra jobs
    (see _CapStats for the no-survivor fallback)."""
    stats = None
    if cap is not None:
        cool, stats = capped_counts(
            banded.groupBy(*keys).agg(F.count("*").alias("_n")), cap)
        banded = banded.join(cool.select(*keys), keys, "left_semi")
    payload = [c for c in banded.columns if c != "id" and c not in keys]
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, on=keys)
              .where(F.col("a.id") < F.col("b.id"))
              .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                      *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload],
                      *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload])
              .dropDuplicates(["id_a", "id_b"]))
    return pairs, stats


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 64,
                      bands: int = 16, shingle_n: int = 5,
                      threshold: float = 0.7,
                      max_bucket: int | None = 10_000) -> DataFrame:
    """Candidate near-duplicate pairs via banded minhash LSH, verified by
    signature agreement (estimate of Jaccard). Returns (id_a, id_b, sim).

    `max_bucket` (ON by default at 10k, matching simhash_pairs; pass None
    for the exact banding) caps the per-(band, bucket) population used for
    candidate generation (`bucket_pairs`). On corpora with a high
    similarity floor (templated logs), a single bucket can hold thousands
    of docs — sf0.1 bench: one bucket of 1170 docs generates 684k of the
    2.3M raw candidates AND pins one join task; at 100 TB an uncapped hot
    bucket is the scale-killer. A pair is lost only if ALL its shared
    bands are hot; at the cap's scale those docs are boilerplate-identical
    and better collapsed by exact_dedup first. Callers needing the exact
    pigeonhole guarantee opt out with max_bucket=None explicitly (default
    flipped in round 3 — see CHANGES_r03.md). The returned frame's
    `hot_bucket_observation` (None when uncapped) reports what the cap
    dropped after the first action on the result.

    The signature table is broadcast to the two verify joins when it is
    small enough (an automatic two-stage gate on the input's Catalyst size
    estimate, then on the actual signature row count): the candidate-pair
    frame — the LARGE side on similarity-floor corpora (sf0.1: 1.3M pairs
    from 5k docs) — then flows through with NO exchange, instead of being
    shuffled twice carrying an attached signature per row. At billions of
    docs the gate keeps the shuffled join."""
    rows_per_band = num_hashes // bands
    sig = (fan_out(df)
           .select(F.col(id_col).alias("id"),
                   minhash_signature_udf(num_hashes, shingle_n)(
                       F.col(text_col)).alias("sig")))
    # minhash values live in [0, 2^31): int32 exactly represents them, so
    # the signature column is packed to array<int> — halves every byte the
    # verify joins move, with bit-identical agreement semantics
    sig = sig.withColumn("sig", F.col("sig").cast("array<int>"))
    # materialize signatures once: the plan references sig three times
    # (banding + two candidate-pair re-joins) and Spark would otherwise
    # re-scan the text and re-run the UDF per reference. At scale this
    # trades ~(rows × 8·num_hashes B) of executor-local storage for two
    # full re-reads of the corpus.
    sig = sig.localCheckpoint(eager=False)
    # screen on the cheap byte estimate, then decide on the ACTUAL
    # signature row count (materializes the checkpoint we reuse anyway)
    broadcast_sigs = (
        _input_bytes_estimate(df) < _SIG_BROADCAST_INPUT_BYTES
        and sig.count() * (4 * num_hashes + 16) < _SIG_BROADCAST_MAX_BYTES)
    # bucket array in a Project (UDF-derived `sig` referenced only via
    # attribute), exploded in a separate step: keeps the Python UDF out of
    # the Generate node, where ExtractPythonUDFs cannot place it.
    # The band join shuffles ONLY (band, bucket, id) — carrying the 64-long
    # signature through the 16× band explode would multiply shuffle width
    # by bands; signatures are re-attached to the deduped candidate pairs
    # with two narrow joins instead.
    bucket_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(F.concat_ws(
                     ",", *[F.element_at(F.col("sig"), b * rows_per_band + r + 1)
                            for r in range(rows_per_band)])).alias("bucket"))
        for b in range(bands)
    ])
    with_buckets = sig.withColumn("bb_arr", bucket_arr)
    banded = (with_buckets
              .select("id", F.explode("bb_arr").alias("bb"))
              .select("id", F.col("bb.band").alias("band"),
                      F.col("bb.bucket").alias("bucket")))
    cand, hot_obs = bucket_pairs(banded, ["band", "bucket"], max_bucket)

    sigs = with_buckets.select("id", "sig")
    side_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    side_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    if broadcast_sigs:
        side_a, side_b = F.broadcast(side_a), F.broadcast(side_b)
    pairs = cand.join(side_a, "id_a").join(side_b, "id_b")
    # Position agreement stays zip_with+filter DELIBERATELY: an explicit
    # num_hashes-term sum of element_at comparisons looks codegen-friendly
    # but measured a consistent 5× SLOWER end-to-end (16.1 vs 3.1 s at
    # sf0.1, interleaved min-of-3) — the ~400-node expression lands in the
    # fused join stage's generated method, which blows the JIT method-size
    # budget and drops the whole stage to deoptimized bytecode. The
    # interpreted higher-order function costs ~17 ns/element and never
    # poisons the surrounding stage.
    agree = F.size(F.filter(
        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
        lambda v: v == 1))
    sim = (agree / F.lit(num_hashes)).alias("sim")
    out = pairs.select("id_a", "id_b", sim).where(F.col("sim") >= threshold)
    out.hot_bucket_observation = hot_obs
    return out


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", collapse_exact: bool = True,
                  **kwargs) -> DataFrame:
    """Keep-set after dropping the higher id of every near-dup pair
    (greedy single-pass; `connected_components` gives the exact
    transitive clustering when chains A~B~C with A≁C matter).

    `collapse_exact` (default ON, round-4 family design — see
    exact_groups): exact clones collapse before the LSH chain, the
    keep-set is computed among representatives, and non-representative
    clones are dropped without any pair work. Equivalent to the direct
    computation — a non-rep clone c is always dropped there too (its
    rep has a lower id and sim 1.0 ≥ any threshold), and a rep is
    dropped iff some lower rep pairs with it (a lower MEMBER implies
    its own rep is lower still, with the identical signature) — except
    under the hot-bucket cap, where collapsed populations count
    DISTINCT texts: clones can no longer evict their own bucket and
    silently survive dedup, the strictly safer behavior (the sf1.0
    soak's measured failure mode). The oracle mirrors the collapse."""
    if collapse_exact:
        _, df = exact_groups(df, F.md5(F.col(text_col)), id_col)
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drops, on=id_col, how="left_anti")


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 50,
                         strict: bool = True) -> DataFrame:
    """Exact connected components of a duplicate-pair graph via min-label
    propagation WITH POINTER DOUBLING: every node takes the minimum label
    among itself and its neighbors (propagate), then shortcuts to its
    label's label (jump). Returns (node, component) where component = min
    node id in the component.

    Round-5 convergence fix: plain propagation converges in
    graph-diameter rounds — shallow for template families (2-4), but a
    pathological clone CHAIN of length n (each doc a near-dup of the
    next) needs n rounds, i.e. 10^4 Spark jobs for a 10^4 chain. The
    jump step makes the distance-to-min a label has traveled DOUBLE per
    round (k -> 2k+1 on a path), so convergence is <= ~log2(n) rounds —
    the same logarithmic bound the alternating large-star/small-star
    algorithm (Kiveris et al. 2014) achieves, obtained here as one extra
    self-join of the label table per round instead of rewriting the
    edge set each round (labels stay monotonically decreasing and
    always reference a node of the same component, so the fixpoint —
    label constant across every edge — is the exact component min,
    unchanged; measured: a 10^4-node path converges in 14 rounds).

    Scale design: each iteration is one shuffle join of the (narrow,
    2-long) edge list against the label table, one hash aggregate, and
    one label⋈label self-join — never materializing the transitive
    closure (which is quadratic on dense clusters; the DuckDB oracle
    does exactly that, which is fine at oracle scale and impossible at
    10^12). Lineage is cut per iteration with an eager localCheckpoint —
    without it each loop doubles the plan and the job re-executes all
    prior iterations. The convergence probe (isEmpty on changed labels)
    is one narrow job per iteration — inherent to any driver-terminated
    iterative algorithm."""
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
                  .unionByName(pairs.select(F.col(id_b).alias("src"),
                                            F.col(id_a).alias("dst")))
                  .distinct()
                  .localCheckpoint(eager=False))
    labels = (edges.select(F.col("src").alias("node")).distinct()
                   .withColumn("component", F.col("node")))
    for _ in range(max_iter):
        nb_min = (edges.join(labels.select(F.col("node").alias("dst"),
                                           F.col("component").alias("_nl")),
                             "dst")
                       .groupBy("src").agg(F.min("_nl").alias("_nb")))
        # the jump self-joins prop against itself on DIFFERENT keys
        # (component vs node), so without a lineage cut the propagate
        # subtree (edge join + aggregate) would execute twice per round
        prop = (labels.join(nb_min,
                            labels["node"] == nb_min["src"], "left")
                      .select("node",
                              F.least(F.col("component"),
                                      F.coalesce(F.col("_nb"),
                                                 F.col("component")))
                               .alias("component"))
                      .localCheckpoint(eager=False))
        # pointer doubling: component values are always node ids present
        # in the label table (init: self; propagate: min of such ids;
        # jump: one of such ids), so the left join always matches — the
        # coalesce guards the invariant, not an expected miss
        new_labels = (prop.join(prop.select(F.col("node").alias("_c"),
                                            F.col("component").alias("_cc")),
                                prop["component"] == F.col("_c"), "left")
                          .select("node",
                                  F.least(F.col("component"),
                                          F.coalesce(F.col("_cc"),
                                                     F.col("component")))
                                   .alias("component"))
                          .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.component") != F.col("o.component")))
        labels = new_labels
        if changed.isEmpty():
            break
    else:
        # partial labels presented as exact are silently WRONG (a >max_iter
        # diameter chain under-merges) — fail loudly by default
        msg = (f"connected_components did not converge in {max_iter} "
               "iterations (graph diameter exceeds max_iter); labels are "
               "a partial propagation — raise max_iter")
        if strict:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


# -------------------------------------------------------------- simhash ----

SIMHASH_BITS = 60          # 2 × 30 portable bits (from two 31-bit hashes)
SIMHASH_BLOCK_BITS = 15    # 4 blocks; pigeonhole covers Hamming <= 3


def simhash_udf(shingle_n: int = 4):
    """Arrow-vectorized text → 60-bit simhash (numpy). Same normalization
    and portable Horner-mod-p gram hashing as `minhash_signature_udf`, with
    TWO independent bases: bits 0-29 vote on gram-hash-1 bits, bits 30-59
    on gram-hash-2 bits (a single 31-bit hash can't supply 60 independent
    bits). Per-bit majority vote over the distinct gram pairs, packed into
    a signed long. Engine-portable — the DuckDB oracle recomputes it in SQL.

    A Catalyst version (bit extraction via binary-string ops per gram per
    bit, ~64× gram-count string allocations per row) measured minutes at a
    few thousand docs; this is a handful of numpy passes."""
    half = SIMHASH_BITS // 2

    def _sim(text: pa.Array) -> pa.Array:
        lens, flat, offsets = _ragged_grams(
            text, shingle_n, (_GRAM_BASE_1, _GRAM_BASE_2))
        out = np.zeros(len(lens), dtype=np.int64)
        if len(lens):
            for i in range(SIMHASH_BITS):
                # simhash bit i: h1 bit i for i < 30, else h2 bit (i - 30)
                src = 31 + i if i < half else i - half
                ones = np.add.reduceat((flat >> np.int64(src)) & np.int64(1),
                                       offsets)
                # majority vote: bit set iff ones*2 > gram count
                out |= (ones * 2 > lens).astype(np.int64) << np.int64(i)
        return pa.array(out, type=pa.int64())

    return F.arrow_udf(_sim, returnType=LongType())


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_bucket: int | None = 10_000) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, using the
    4×15-bit block pigeonhole: any pair within distance 3 shares at least
    one exact 15-bit block — bucket-join per block, then verify.

    The simhash is a pure function of the text, so exact clones are
    collapsed to one representative before hashing/banding and verified
    pairs expand back afterwards (clone pairs at hamming 0; the round-4
    soak lesson, see exact_groups). On a corpus with c clones per doc
    this cuts candidate work by c² and, under the bucket cap, makes
    populations count DISTINCT texts (a million clones can no longer
    evict their block bucket).

    `max_bucket` caps the per-(block, value) bucket population used for
    CANDIDATE GENERATION (`bucket_pairs`; the simhash analog of
    ngram_jaccard's df-cap): a degenerate corpus where millions of docs
    share a block value would otherwise produce O(bucket²) candidates on
    that block. A true near-dup pair is missed only if ALL FOUR of its
    shared blocks are hot — at that point the docs are near-identical
    boilerplate better handled by exact_dedup first. None disables the
    cap (exact pigeonhole). The returned frame's `hot_bucket_observation`
    (None when uncapped) reports what the cap dropped."""
    members, df = exact_groups(df, F.md5(F.col(text_col)), id_col)
    s = fan_out(df).select(
        F.col(id_col).alias("id"),
        simhash_udf()(F.col(text_col)).alias("sh"))
    n_blocks = SIMHASH_BITS // SIMHASH_BLOCK_BITS
    mask = (1 << SIMHASH_BLOCK_BITS) - 1
    # block array in a Project, exploded separately (keeps the Python UDF
    # out of the Generate node — see minhash_lsh_pairs)
    blk_arr = F.array(*[
        F.struct(F.lit(k).alias("blk"),
                 F.shiftright(F.col("sh"), SIMHASH_BLOCK_BITS * k)
                  .bitwiseAND(F.lit(mask)).alias("val"))
        for k in range(n_blocks)
    ])
    blocks = (s.withColumn("blk_arr", blk_arr)
               .select("id", "sh", F.explode("blk_arr").alias("b"))
               .select("id", "sh", F.col("b.blk").alias("blk"),
                       F.col("b.val").alias("val")))
    cand, hot_obs = bucket_pairs(blocks, ["blk", "val"], max_bucket)
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    out = cand.select("id_a", "id_b", ham).where(F.col("hamming") <= max_hamming)
    clones = _rep_rows(members).select(
        "_rep", F.lit(0).cast("int").alias("hamming"))
    out = expand_rep_pairs(out, members, clones)
    out.hot_bucket_observation = hot_obs
    return out


# -------------------------------------------------------- ngram jaccard ----

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = 100) -> DataFrame:
    """Exact character-n-gram Jaccard for pairs sharing at least one shingle.
    Shuffles (shingle, id); candidate pairs deduped before the exact
    intersection/union computation on the shingle arrays.

    Jaccard is a pure function of the two texts, so exact clones
    collapse to one representative before shingling and verified pairs
    expand back afterwards (clone pairs at jaccard 1.0; the round-4 soak
    lesson, see exact_groups). This also makes `max_df` count DISTINCT
    TEXTS containing a gram — the meaningful discriminativeness measure:
    on the sf1.0 soak corpus (every doc ×10 exact clones) an uncollapsed
    df crossed the cap for EVERY gram and the operator returned zero
    pairs; collapsed, df is clone-invariant.

    `max_df` (DEFAULT ON at 100) is the scale guard: grams appearing in
    more than max_df documents are dropped from CANDIDATE GENERATION only
    (`bucket_pairs` with the gram as the bucket; the Jaccard is still
    computed on the full shingle sets). Ubiquitous grams produce
    O(bucket²) candidate pairs — unpruned, the self-join is quadratic in
    the corpus (measured 295 s vs 7.6 s at 5k docs), which is why exact
    mode is opt-in (`max_df=None`), not the default. The recall
    trade-off: a near-dup pair is missed iff ALL its shared grams exceed
    max_df, which template-generated corpora (many mutually-similar docs
    sharing the same gram families) can hit — on such data prefer
    minhash_lsh_pairs, whose banding cost is O(rows·bands) regardless of
    gram frequency. The returned frame's `hot_bucket_observation` (None
    when unpruned) reports how many grams were pruned
    (`capped_buckets`) and the largest df seen (`max_bucket_rows`). The
    DuckDB oracle mirrors the same df-pruning (and the collapse), so the
    default stays value-hash-verified."""
    members, df = exact_groups(df, F.md5(F.col(text_col)), id_col)
    sh = fan_out(df).select(F.col(id_col).alias("id"),
                            char_shingles(F.col(text_col), n).alias("sh"))
    exploded = sh.select("id", F.explode("sh").alias("g"))
    cand, hot_obs = bucket_pairs(exploded, ["g"], max_df)
    pairs = (cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
                 .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = (inter / union).alias("jaccard")
    out = pairs.select("id_a", "id_b", jac).where(F.col("jaccard") >= threshold)
    clones = _rep_rows(members).select("_rep", F.lit(1.0).alias("jaccard"))
    out = expand_rep_pairs(out, members, clones)
    out.hot_bucket_observation = hot_obs
    return out


# ------------------------------------------------- repeated n-gram spans ----

def repeated_ngram_stats(docs: DataFrame, n: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Substring-level duplication signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): the
    fraction of each document's word n-grams that occur MORE THAN ONCE
    in the whole corpus (counting all occurrences, including repeats
    within one document). Doc-level dedup misses boilerplate stitched
    into otherwise-unique pages — license headers, navigation chrome,
    templated intros — which is exactly what a high `repeated_frac`
    with a low doc-level duplicate score flags.

    Returns (doc_id, n_grams, n_repeated, repeated_frac) for documents
    with at least one n-gram (fewer than n words -> no row).

    Scale shape: the gram stream is a pure JVM projection (md5 over
    sliding word windows, explode) — no Python; the per-(doc, gram)
    count is one shuffle with map-side combine; the global gram total
    aggregates THAT frame (gram-keyed, the tfidf df shape) and joins
    back on gram. The gram-keyed shuffle is ~the token stream in size —
    the honest cost of substring-level dedup (the suffix-array
    alternative is a global sort of every suffix). The (doc, gram)
    frame feeds both sides, so it is localCheckpoint-ed once."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    # Gram construction is explode-positions-then-project, NOT a
    # transform() lambda building the gram array: a HOF lambda body
    # runs on the interpreted expression path per element (measured 25x
    # slower at sf0.1 — 12 s vs 0.5 s for the same 260k grams), while a
    # post-explode projection stays inside whole-stage codegen. The
    # words array is bound in its own projection so the split runs once
    # per doc, not once per gram.
    words_expr = F.split(F.regexp_replace(F.lower(F.col(text_col)),
                                          ASCII_WS + "+", " "), " ")
    d = docs.select(F.col(id_col), words_expr.alias("_w"))
    k = F.size("_w") - (n - 1)
    g = (d.where(k > 0)
          .select(F.col(id_col), "_w",
                  F.explode(F.sequence(F.lit(1), k)).alias("_i"))
          .select(F.col(id_col),
                  F.md5(F.concat_ws(" ", F.slice(F.col("_w"), F.col("_i"),
                                                 n))).alias("gram")))
    tf = (g.groupBy(id_col, "gram").agg(F.count("*").alias("tf"))
           .localCheckpoint(eager=False))
    tot = tf.groupBy("gram").agg(F.sum("tf").alias("total"))
    rep = F.when(F.col("total") > 1, F.col("tf")).otherwise(F.lit(0))
    return (tf.join(tot, "gram")
              .groupBy(id_col)
              .agg(F.sum("tf").alias("n_grams"),
                   F.sum(rep).alias("n_repeated"))
              .select(F.col(id_col), "n_grams", "n_repeated",
                      F.round(F.col("n_repeated").cast("double")
                              / F.col("n_grams"), 6)
                       .alias("repeated_frac")))


def portable_grams_udf(shingle_n: int = 5):
    """Arrow UDF: text -> array<long> of the distinct portable Horner
    gram hashes — the EXACT gram sets `minhash_signature_udf` sketches
    (same normalization, same `_horner_grams` family), exposed as a
    column so a verify stage can compute true Jaccard on them."""
    def _g(text: pa.Array) -> pa.Array:
        _, flat, offsets = _ragged_grams(text, shingle_n)
        return _long_lists(np.append(offsets, flat.size), flat)

    return F.arrow_udf(_g, returnType=ArrayType(LongType()))


def exact_groups(df: DataFrame, key: Column,
                 id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """THE exact-duplicate collapse of the pair family (the round-4 soak
    lesson): returns (members, reps) where members maps every id (`_m`)
    to the min-id representative (`_rep`) of its group of equal `key`,
    and reps is df filtered to the representatives. The key is
    md5(text) for texts (the shuffle key is 32 bytes, not the document)
    and the raw vector for embeddings (at dim 64 it is 256 B, narrower
    than most texts; key on a strong hash first if dims grow huge).
    members is localCheckpointed: the expansion joins reference it up
    to three times."""
    members = df.select(F.col(id_col).alias("_m"), key.alias("_tk"))
    reps = members.groupBy("_tk").agg(F.min("_m").alias("_rep"))
    members = (members.join(reps, "_tk").select("_m", "_rep")
                      .localCheckpoint(eager=False))
    rep_docs = df.join(reps.select(F.col("_rep").alias(id_col)),
                       id_col, "left_semi")
    return members, rep_docs


def _rep_rows(members: DataFrame) -> DataFrame:
    """One row per exact-duplicate group (its representative's): the
    text callers' rep-level frame for their constant self-scores."""
    return members.where(F.col("_m") == F.col("_rep"))


def expand_rep_pairs(pairs: DataFrame, members: DataFrame,
                     self_scores: DataFrame) -> DataFrame:
    """THE expansion of the pair family: (id_a, id_b, …) pairs over
    exact-duplicate REPRESENTATIVES → member pairs, columns in `pairs`'
    order. Every non-id column of `pairs` is a pure function of the two
    texts/vectors, so cross-group member pairs inherit their rep pair's
    values verbatim (least/greatest restores the canonical id_a < id_b).
    Within-group pairs (exact clones) take the same columns from
    `self_scores`, keyed by `_rep`, through an inner join: a group whose
    rep has no row there emits no clone pairs — the vector callers gate
    the rep's self-cosine on their threshold, as the direct computation
    would; the text callers' scores are constants (hamming 0, jaccard
    1.0, est_sim 1.0) over every rep. Mirrored in SQL by
    duck_oracles._expand_sql."""
    ma = members.select(F.col("_rep").alias("id_a"), F.col("_m").alias("_a"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col("_m").alias("_b"))
    out = [F.least("_a", "_b").alias(c) if c == "id_a"
           else F.greatest("_a", "_b").alias(c) if c == "id_b" else c
           for c in pairs.columns]
    cross = pairs.join(ma, "id_a").join(mb, "id_b").select(*out)
    # the clone self-join reuses the cross branch's member sides: their
    # exchange or broadcast is planned once for both branches. The
    # coalesce keeps the optimizer from inferring `_b IS NOT NULL` into
    # this mb side only, which would make the two plans differ.
    within = (ma.join(mb, F.col("id_a") == F.col("id_b"))
              .where(F.coalesce(F.col("_a") < F.col("_b"), F.lit(False)))
              .join(self_scores.withColumnRenamed("_rep", "id_a"), "id_a")
              .select(*out))
    return cross.unionByName(within)


def verified_neardup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", shingle_n: int = 5,
                           num_hashes: int = 64, bands: int = 16,
                           est_threshold: float = 0.35,
                           exact_threshold: float = 0.5,
                           max_bucket: int | None = 10_000) -> DataFrame:
    """The CANDIDATE -> VERIFY near-dup composition: banded minhash at a
    LOOSE estimated threshold generates candidates (cheap, recall-
    oriented), then the TRUE Jaccard over the full portable gram sets
    confirms or kills each pair — the production shape where sketch
    error must not decide deletions. Returns (id_a, id_b, est_sim,
    jaccard), both rounded to 4, jaccard >= exact_threshold.

    EXACT-DUPLICATE PRE-COLLAPSE (round-4 soak finding): signatures,
    bucket membership, est_sim and Jaccard are all pure functions of
    the TEXT, so verifying a pair of exact clones is pure waste — and
    on a corpus where every doc has c exact copies, skipping the
    collapse multiplies every candidate pair by c² (measured at the
    sf1.0 soak: 121.5M candidate pairs instead of ~1.2M, turning the
    verify join into a ~400 GB shuffle of gram arrays and one wedged
    straggler task). So: group by md5(text), verify ONCE per distinct
    text on the min-id representative, then expand verified rep pairs
    back to member pairs (identical est_sim/jaccard by construction)
    and add within-group pairs at sim 1.0. The OUTPUT of that
    expansion is itself quadratic in clone-group size (a text with a
    million copies is ~5·10^11 within-group pairs): on such corpora
    collapse-then-count (exact_dedup, minhash_dedup) instead. Under
    the hot-bucket cap the collapsed form is also the SAFER semantics:
    bucket populations count distinct texts, so a million clones can
    no longer evict their bucket; the returned frame's
    `hot_bucket_observation` is the candidate stage's (None when
    uncapped).

    Scale: the verify joins attach one gram array per side to the
    candidate frame only (never all pairs); array_intersect/union on
    the sorted-distinct int64 arrays are JVM-native. Input docs must
    have non-empty normalized text (upstream min-length gates do this)
    — an empty-vs-empty pair would divide 0/0. The estimated and exact
    thresholds are independent knobs: est low for recall, exact the
    real bar."""
    members, rep_docs = exact_groups(df, F.md5(F.col(text_col)), id_col)
    cands = minhash_lsh_pairs(rep_docs, text_col, id_col,
                              num_hashes=num_hashes,
                              bands=bands, shingle_n=shingle_n,
                              threshold=est_threshold,
                              max_bucket=max_bucket)
    g = rep_docs.select(F.col(id_col).alias("_gid"),
                        portable_grams_udf(shingle_n)(F.col(text_col))
                        .alias("g"))
    g = g.localCheckpoint(eager=False)
    pairs = (cands
             .join(g.select(F.col("_gid").alias("id_a"),
                            F.col("g").alias("_ga")), "id_a")
             .join(g.select(F.col("_gid").alias("id_b"),
                            F.col("g").alias("_gb")), "id_b"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size(F.array_union("_ga", "_gb"))
    jac = inter / union
    verified = (pairs.withColumn("_j", jac)
                     .where(F.col("_j") >= exact_threshold)
                     .select("id_a", "id_b",
                             F.round(F.col("sim"), 4).alias("est_sim"),
                             F.round(F.col("_j"), 4).alias("jaccard")))
    # exact clones are sim 1.0 / jaccard 1.0 (the direct computation
    # finds them too: identical signatures share every band)
    clones = _rep_rows(members).select("_rep", F.lit(1.0).alias("est_sim"),
                                       F.lit(1.0).alias("jaccard"))
    out = expand_rep_pairs(verified, members, clones)
    out.hot_bucket_observation = cands.hot_bucket_observation
    return out


# ------------------------------------------------- cross-doc substrings ----

def _window_fingerprints(docs: DataFrame, gram_len: int, text_col: str,
                         id_col: str, with_pos: bool = False) -> DataFrame:
    """(id_col, gram_hash[, pos]) — one row per `gram_len`-token window,
    fingerprinted with the 48-bit md5-prefix hash. THE shared stream
    between cross_doc_grams, doc_duplication_stats, and
    winnow_fingerprints (one tokenization, one SQL mirror); `pos` is
    the 1-based window start, emitted only when winnowing needs it."""
    from logunifier_spark.operators.stats import kmv_hash
    if gram_len < 2:
        raise ValueError(f"gram_len must be >= 2, got {gram_len}")
    ws = F.split(F.trim(F.lower(F.col(text_col))), ASCII_WS + "+")
    fp = kmv_hash(F.array_join(
        F.slice(F.col("_ws"), F.col("_i"), gram_len), " ")).alias("gram_hash")
    cols = [F.col(id_col), fp] + ([F.col("_i").alias("pos")]
                                  if with_pos else [])
    return (docs.select(F.col(id_col), ws.alias("_ws"))
                .where(F.size("_ws") >= gram_len)
                .select(F.col(id_col), "_ws",
                        F.explode(F.sequence(
                            F.lit(1), F.size("_ws") - gram_len + 1))
                         .alias("_i"))
                .select(*cols))


def cross_doc_grams(docs: DataFrame, gram_len: int = 8, min_docs: int = 2,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact-substring duplication ACROSS documents (the cross-document
    face of Lee et al. 2022's exact substring dedup — boilerplate,
    licenses, templated sentences shared verbatim by many pages): every
    `gram_len`-token window is fingerprinted, and fingerprints seen in
    at least `min_docs` DISTINCT documents are reported as
    (gram_hash BIGINT, n_docs, n_occurrences, sample_doc).

    Scale shape: the gram stream is the repo's codegen idiom —
    explode(sequence) + slice/array_join projection, no interpreted
    HOFs, no Python — and the only shuffle is the fingerprint-keyed
    aggregate (map-side combined; countDistinct adds the standard
    two-phase expansion). The fingerprint is stats.kmv_hash (48-bit
    md5 prefix), so the oracle re-derives it byte-identically in SQL.
    A true suffix-array pass (arbitrary-length maximal repeats) does
    not distribute; fixed-length windows with gram_len at the dedup
    threshold are the standard scalable surrogate — any repeat of
    >= gram_len tokens is caught by one of its windows."""
    grams = _window_fingerprints(docs, gram_len, text_col, id_col)
    return (grams.groupBy("gram_hash")
                 .agg(F.countDistinct(id_col).alias("n_docs"),
                      F.count("*").alias("n_occurrences"),
                      F.min(id_col).alias("sample_doc"))
                 .where(F.col("n_docs") >= min_docs))


def _dup_marked_grams(docs: DataFrame, gram_len: int, min_docs: int,
                      text_col: str, id_col: str,
                      with_pos: bool = False):
    """(grams, marked) — THE shared cross-doc duplication scaffold
    (doc_duplication_stats, longest_dup_run): the localCheckpointed
    gram stream (referenced by the dup-set aggregate, the mark join,
    and the caller's totals), the duplicated-fingerprint SET
    (countDistinct >= min_docs — map-side combined, much smaller than
    the stream), and the left-semi mark join (AQE broadcasts the set
    when it fits). One place to change the dup rule or the checkpoint
    policy for both oracled operators."""
    grams = _window_fingerprints(docs, gram_len, text_col, id_col,
                                 with_pos=with_pos)
    grams = grams.localCheckpoint(eager=False)
    dup = (grams.groupBy("gram_hash")
                .agg(F.countDistinct(id_col).alias("_nd"))
                .where(F.col("_nd") >= min_docs)
                .select("gram_hash"))
    return grams, grams.join(dup, "gram_hash", "left_semi")


def doc_duplication_stats(docs: DataFrame, gram_len: int = 8,
                          min_docs: int = 2, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document cross-doc duplication load — the actionable filter
    signal ("drop documents that are mostly boilerplate"): (id_col,
    n_grams, n_dup_grams, dup_ppm) where n_dup_grams counts this doc's
    windows whose fingerprint appears in >= min_docs distinct docs and
    dup_ppm = n_dup_grams * 1e6 DIV n_grams (integer — Spark/DuckDB
    round doubles differently, CLAUDE.md). Documents shorter than
    gram_len produce no row. One extra equi-join on the fingerprint
    against the (already aggregated, much smaller) duplicated-gram set;
    AQE broadcasts it when it fits."""
    grams, marked = _dup_marked_grams(docs, gram_len, min_docs,
                                      text_col, id_col)
    flagged = marked.groupBy(id_col).agg(F.count("*").alias("n_dup_grams"))
    totals = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    return (totals.join(flagged, id_col, "left")
                  .na.fill({"n_dup_grams": 0})
                  .select(id_col, "n_grams", "n_dup_grams",
                          F.expr("CAST((n_dup_grams * 1000000) DIV n_grams "
                                 "AS BIGINT)").alias("dup_ppm")))


def longest_dup_run(docs: DataFrame, gram_len: int = 8, min_docs: int = 2,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Longest duplicated substring per document (the Lee et al. 2022
    dedup-analysis metric): the longest run of CONSECUTIVE
    `gram_len`-token windows each shared verbatim with >= `min_docs`
    distinct documents — a run of r consecutive duplicated windows
    certifies a duplicated substring of r + gram_len - 1 tokens.
    Returns (id_col, n_grams, longest_run BIGINT, longest_dup_tokens
    BIGINT), 0/0 for clean documents; docs shorter than gram_len
    produce no row (no window exists — the family convention).

    Scale shape: the gram stream is the shared codegen projection
    (localCheckpointed once — referenced by the dup-set aggregate, the
    semi-join, and the totals); the duplicated-fingerprint SET is a
    map-side-combined aggregate left-semi joined back (much smaller
    than the stream; AQE broadcasts it when it fits — the
    doc_duplication_stats shape); the run length is the classic
    gaps-and-islands rewrite — ONE window function partitioned per
    DOCUMENT ordered by pos (doc-bounded sort, the winnowing
    precedent), never a corpus-scale sort — followed by two hash
    aggregates."""
    from pyspark.sql import Window
    grams, marked = _dup_marked_grams(docs, gram_len, min_docs,
                                      text_col, id_col, with_pos=True)
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (marked
                 .withColumn("_isl", F.col("pos") - F.row_number().over(w))
                 .groupBy(id_col, "_isl")
                 .agg(F.count("*").alias("_run"))
                 .groupBy(id_col)
                 .agg(F.max("_run").alias("longest_run")))
    totals = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    return (totals.join(runs, id_col, "left")
                  .na.fill({"longest_run": 0})
                  .select(F.col(id_col), "n_grams",
                          F.col("longest_run").cast("long")
                           .alias("longest_run"),
                          F.when(F.col("longest_run") > 0,
                                 F.col("longest_run") + (gram_len - 1))
                           .otherwise(F.lit(0)).cast("long")
                           .alias("longest_dup_tokens")))


def paragraph_dedup(docs: DataFrame, para_tokens: int = 10,
                    min_dup: int = 2, sep: str | None = None,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide paragraph-level dedup (the CCNet / RefinedWeb line
    dedup: drop every paragraph whose normalized text occurs >= min_dup
    times ANYWHERE in the corpus — navigation bars, cookie banners,
    license blocks — and keep the rest of the document). Returns one
    row per document: (id_col, n_paras BIGINT, n_dropped BIGINT,
    clean_chars BIGINT, clean_md5) where clean_md5 fingerprints the
    surviving text (kept paragraphs in original order, single-space
    joined) so downstream stages can detect no-op docs cheaply.

    Segmentation: `sep` splits normalized text on a real paragraph
    boundary regex (e.g. '\\n{2,}' for web text); empty paragraphs
    (blank lines, leading/trailing separators) are skipped, as CCNet's
    line dedup skips empty lines — a doc whose every paragraph is
    empty (or whose text is NULL) produces no row. With sep=None the
    fallback segments into fixed `para_tokens`-token windows — the
    honest stand-in for corpora (like the synthetic tables) with no
    newline structure; the dedup semantics are identical either way.
    Normalization is the family's lower+whitespace-collapse+trim
    (collapse BEFORE trim — see the sep branch), so a re-spaced or
    tab-indented clone of a boilerplate paragraph still matches.

    Scale shape: the paragraph stream is the codegen idiom
    (explode(sequence) + slice/array_join projection, no interpreted
    HOFs, no Python); exactly two shuffles — the fingerprint-keyed
    count (map-side combined) and the per-doc rebuild (collect_list is
    bounded by DOCUMENT length, the multiline-reassembly precedent; the
    in-order rebuild is a doc-local array_sort+transform, the
    small-array HOF exception). The stream is localCheckpointed once
    (referenced by both the count and the join back). The count join
    stays a shuffled equi-join on the 48-bit fingerprint: unlike
    doc_duplication_stats' duplicated-gram SET, every paragraph needs
    its own count, so there is no small side to broadcast — AQE still
    picks broadcast when the distinct-paragraph frame fits."""
    from logunifier_spark.operators.stats import kmv_hash
    if para_tokens < 1:
        raise ValueError(f"para_tokens must be >= 1, got {para_tokens}")
    norm = F.trim(F.lower(F.col(text_col)))
    if sep is not None:
        # collapse BEFORE trim: F.trim strips only spaces, so a
        # tab/newline-edged paragraph must first have its whitespace
        # collapsed to spaces or the edge survives as ' para' and the
        # re-spaced-clone match breaks. Empty paragraphs (leading/
        # trailing separators, blank lines) are skipped — CCNet line
        # dedup ignores empty lines; an all-empty doc produces no row.
        paras = (docs.select(
                     F.col(id_col),
                     F.posexplode(F.split(norm, sep)).alias("i", "_raw"))
                     .select(F.col(id_col), F.col("i"),
                             F.trim(F.regexp_replace(F.col("_raw"),
                                                     ASCII_WS + "+",
                                                     " ")).alias("_para"))
                     .where(F.col("_para") != ""))
    else:
        p = para_tokens
        # NULL text must drop the doc (the sep path's posexplode and the
        # oracle's range(0, NULL) both yield zero rows) — without the
        # filter, size(NULL) = -1 makes sequence(0, -1) infer step -1
        # and emit two phantom paragraphs
        paras = (docs.where(F.col(text_col).isNotNull())
                     .select(F.col(id_col),
                             F.split(norm, ASCII_WS + "+").alias("_t"))
                     .withColumn("_np", F.expr(
                         f"CAST((size(_t) + {p - 1}) DIV {p} AS INT)"))
                     .select(F.col(id_col), "_t",
                             F.explode(F.sequence(
                                 F.lit(0), F.col("_np") - 1)).alias("i"))
                     .select(F.col(id_col), F.col("i"),
                             F.array_join(
                                 F.slice("_t", F.col("i") * p + 1, p),
                                 " ").alias("_para")))
    paras = paras.withColumn("fp", kmv_hash(F.col("_para")))
    paras = paras.localCheckpoint(eager=False)
    counts = paras.groupBy("fp").agg(F.count("*").alias("_c"))
    flagged = (paras.join(counts, "fp")
                    .withColumn("_dup", F.col("_c") >= min_dup))
    clean = F.expr(
        "array_join(transform(array_sort(collect_list("
        "CASE WHEN NOT _dup THEN struct(i, _para) END)), "
        "x -> x._para), ' ')")
    return (flagged.groupBy(id_col)
                   .agg(F.count("*").alias("n_paras"),
                        F.sum(F.when(F.col("_dup"), 1).otherwise(0))
                         .cast("long").alias("n_dropped"),
                        clean.alias("_clean"))
                   .select(F.col(id_col), "n_paras", "n_dropped",
                           F.length("_clean").cast("long")
                            .alias("clean_chars"),
                           F.md5(F.col("_clean")).alias("clean_md5")))


def winnow_fingerprints(docs: DataFrame, gram_len: int = 5,
                        window: int = 4, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): instead of keeping EVERY token-window
    fingerprint (cross_doc_grams) or one global minimum per doc
    (textstats.fingerprint), keep the minimum of every sliding window
    of `window` consecutive gram hashes. The selected set is (a) dense
    enough to GUARANTEE detection of any shared run of
    gram_len + window - 1 tokens, (b) sparse — expected density
    2/(window+1) of the gram stream — and (c) position-robust (local
    minima survive edits elsewhere in the document). Returns one row
    per selected fingerprint: (id_col, fp BIGINT, pos INT — the 1-based
    gram position the winning hash sits at, MODULO 2^16: documents with
    65536+ grams wrap the reported position — the fingerprint set and
    its detection guarantee are unaffected, only the position label
    wraps; carry a wider key if exact positions matter at that length).

    Determinism (engine-portable spec): the gram hash is reduced to 40
    bits (kmv % 2^40) and packed with the position as
    key = h·2^16 + (pos mod 2^16); the per-window minimum of `key`
    breaks hash ties toward the LEFTMOST occurrence (the paper prefers
    rightmost; leftmost is the same guarantee with simpler integer
    packing, and the 2^16 position wrap merely rotates tie-breaks on
    65k+-gram documents — both engines compute it identically).
    Duplicate selections from overlapping windows dedupe via DISTINCT,
    exactly as the paper records each fingerprint once.

    Scale shape: the gram stream is the shared codegen projection; the
    sliding minimum is ONE window function partitioned by (id_col) and
    ordered by pos — per-DOCUMENT sort, bounded by document length
    (the multiline-reassembly precedent), never corpus-scale. Docs with
    fewer than `window` grams produce no row (no full window exists)."""
    from pyspark.sql import Window
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    g = _window_fingerprints(docs, gram_len, text_col, id_col,
                             with_pos=True)
    h40 = F.pmod(F.col("gram_hash"), F.lit(1 << 40))
    key = h40 * F.lit(1 << 16) + F.pmod(F.col("pos"), F.lit(1 << 16))
    w_doc = Window.partitionBy(id_col)
    w_slide = (Window.partitionBy(id_col).orderBy("pos")
                     .rowsBetween(Window.currentRow, window - 1))
    sel = (g.select(F.col(id_col), F.col("pos"), key.alias("_key"))
            .withColumn("_m", F.count("*").over(w_doc))
            .withColumn("_wmin", F.min("_key").over(w_slide))
            .where(F.col("pos") <= F.col("_m") - window + 1)
            .select(F.col(id_col), F.col("_wmin").alias("_sel"))
            .distinct())
    # exact integer unpack: _sel can reach h40*2^16 + pos ~ 2^56, beyond
    # double's 53-bit mantissa — float division rounds the quotient across
    # the 2^16 boundary for pos mod 2^16 >= ~65532 (ADVICE r4), so the
    # decode must stay integral (shiftright == DIV 65536 for _sel >= 0)
    return sel.select(
        F.col(id_col),
        F.shiftright(F.col("_sel"), 16).alias("fp"),
        F.pmod(F.col("_sel"), F.lit(1 << 16)).cast("int").alias("pos"))


# ------------------------------------------------- cross-source overlap ----

def source_overlap(docs: DataFrame, gram_len: int = 8,
                   group_col: str = "source", text_col: str = "text",
                   max_sources: int | None = None) -> DataFrame:
    """Pairwise corpus-overlap matrix between sources — the mixture-
    design companion to per-doc dedup: before weighting sources into a
    training mix (and before paying for cross-source dedup), measure
    how much content they already share. Returns one row per source
    pair with any overlap: (source_a, source_b, inter_grams,
    union_grams, jaccard_ppm) — the Jaccard similarity of the two
    sources' DISTINCT `gram_len`-token window fingerprint sets, in ppm
    (integer DIV; counts are exact, no float risk). source_a <
    source_b lexicographically; zero-overlap pairs are omitted.

    Scale shape: the gram stream is the shared _window_fingerprints
    codegen idiom keyed by SOURCE (sources number in the tens-to-
    hundreds, so per-source distinct sets are the only corpus-sized
    aggregates, both map-side combined). The pair counts come from a
    fingerprint-keyed self-join of the distinct (source, fp) frame —
    one shuffle by fp; a fingerprint present in s sources contributes
    s·(s-1)/2 rows, so near-universal boilerplate grams are the skew
    risk: `max_sources` drops fingerprints seen in more sources than
    that (standard max-df cap; they carry no mixture signal — a gram
    in EVERY source moves all Jaccards equally). The cap is applied to
    the intersection AND union sides consistently, keeping jaccard_ppm
    a true Jaccard of the capped sets."""
    grams = (_window_fingerprints(docs, gram_len, text_col, group_col)
             .select(F.col(group_col).alias("_src"), "gram_hash")
             .distinct())
    if max_sources is not None:
        keep = (grams.groupBy("gram_hash")
                     .agg(F.count("*").alias("_ns"))
                     .where(F.col("_ns") <= max_sources)
                     .select("gram_hash"))
        grams = grams.join(keep, "gram_hash", "left_semi")
    grams = grams.localCheckpoint(eager=False)  # 3 consumers, one compute
    sizes = grams.groupBy("_src").agg(F.count("*").alias("_n"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (a.join(b, (F.col("a.gram_hash") == F.col("b.gram_hash"))
                    & (F.col("a._src") < F.col("b._src")))
              .groupBy(F.col("a._src").alias("source_a"),
                       F.col("b._src").alias("source_b"))
              .agg(F.count("*").alias("inter_grams")))
    sa = sizes.select(F.col("_src").alias("source_a"),
                      F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_src").alias("source_b"),
                      F.col("_n").alias("_nb"))
    # sizes is |sources| rows — broadcast regardless of corpus size
    return (inter.join(F.broadcast(sa), "source_a")
                 .join(F.broadcast(sb), "source_b")
                 .select("source_a", "source_b", "inter_grams",
                         (F.col("_na") + F.col("_nb")
                          - F.col("inter_grams")).alias("union_grams"),
                         F.expr("CAST((inter_grams * 1000000) DIV "
                                "(_na + _nb - inter_grams) AS BIGINT)")
                          .alias("jaccard_ppm")))
