"""Dataset curation operators for training-data pipelines: deterministic
sampling, per-source mixture weighting, and sequence packing.

All native Spark SQL expressions. The sampling hash is the portable
(id * MULT) mod 2^31 family (same as IVF centroid selection) rather than
`df.sample` — `sample()` is seed-stable only for a FIXED partitioning,
while a hash-gate is a pure function of the row: the same document is kept
or dropped regardless of cluster size, partition count, or retry, which is
what makes a 100 TB sampling run resumable and auditable. All three ops
carry DuckDB value-hash oracles (plain SQL arithmetic / windows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logunifier_spark.operators.stats import grouped_top_k

# odd multiplier -> bijective on [0, 2^31); the id's hash is uniform-ish
# and engine-portable (no xxhash64 in DuckDB). THE canonical copy of the
# portable-hash constant — similarity.py imports it.
SAMPLE_MULT = 2_654_435_761
_MOD = 2**31


def _portable_hash(id_col: Column, offset: int = 0) -> Column:
    """(id mod 2^31) * MULT + offset, mod 2^31. The id is reduced BEFORE
    the multiply: ids at 100 TB scale (sequential past 3.47e9, or 64-bit
    hash-derived) would otherwise overflow int64 — a confirmed
    ARITHMETIC_OVERFLOW crash under Spark 4's default ANSI mode. Reduced
    product < 2^31 * MULT < 2^63. SQL mirror:
    ((id % 2147483648) * 2654435761 + off) % 2147483648."""
    reduced = F.pmod(id_col.cast("long"), F.lit(_MOD))
    return F.pmod(reduced * SAMPLE_MULT + F.lit(offset), F.lit(_MOD))


def sample_gate(id_col: Column, rate: float, salt: int = 0) -> Column:
    """Deterministic keep-gate: portable_hash(id, mix(salt)) < rate*2^31.
    The salt is pre-mixed with a large odd constant — the hash is affine in
    id, so a raw small salt would shift every hash by the same few units
    and leave the keep-set identical; a large rotation re-windows it."""
    off = (salt * 0x9E3779B1) % _MOD
    return _portable_hash(id_col, off) < F.lit(int(rate * _MOD))


def sample_deterministic(df: DataFrame, rate: float, id_col: str = "doc_id",
                         salt: int = 0) -> DataFrame:
    """Keep ~rate of rows, decided per-row by the portable hash — stable
    across runs, partitionings, and cluster sizes (no shuffle, no state)."""
    return df.where(sample_gate(F.col(id_col), rate, salt))


def mixture_sample(df: DataFrame, rates: dict[str, float],
                   source_col: str = "source", id_col: str = "doc_id",
                   default_rate: float = 0.0, salt: int = 0) -> DataFrame:
    """Per-source mixture weighting: each source is downsampled to its own
    rate (the standard pretraining-mixture reweighting). Sources absent
    from `rates` get `default_rate`. Pure projection + filter — composes
    with any scan, no shuffle."""
    rate_map = F.create_map(*[
        F.lit(x) for kv in rates.items() for x in (kv[0], float(kv[1]))])
    rate = F.coalesce(F.element_at(rate_map, F.col(source_col)),
                      F.lit(float(default_rate)))
    off = (salt * 0x9E3779B1) % _MOD
    h = _portable_hash(F.col(id_col), off)
    # floor, not cast: double->bigint CAST truncates in Spark but ROUNDS in
    # DuckDB — floor() is identical in both engines (oracle parity)
    return df.where(h < F.floor(rate * _MOD))


def stratified_sample(df: DataFrame, keys: list[str] | str, n: int,
                      id_col: str = "doc_id", salt: int = 0) -> DataFrame:
    """Exact per-group quota sampling: for each group of `keys`, keep
    the `n` rows with the smallest (portable_hash(id, salt), id) —
    deterministic across runs, partitionings, and cluster sizes (rate
    gates can't hit an exact count; this is the balanced-evaluation-set
    / per-language-quota shape). Groups smaller than n keep every row.

    Scale: one projection and `stats.grouped_top_k`, whose partial
    WindowGroupLimit keeps n rows per group in every map partition
    before the shuffle, so a hot group never reaches one sort whole."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    off = (salt * 0x9E3779B1) % _MOD
    keyed = df.withColumn("_h", _portable_hash(F.col(id_col), off))
    return (grouped_top_k(keyed, keys, "_h", k=n, tiebreak=[id_col],
                          ascending=True)
            .drop("rank", "_h"))


def epoch_shuffle(df: DataFrame, id_col: str = "doc_id", epoch: int = 0,
                  n_shards: int | None = None) -> DataFrame:
    """Deterministic global training-order permutation: every row gets a
    contiguous 0-based `pos` in the order (portable_hash(id, epoch), id)
    — a reproducible per-epoch shuffle of the corpus. Changing `epoch`
    re-windows the hash (same salt-mixing as `sample_gate`), giving a
    fresh permutation per epoch from pure arithmetic: no stored
    permutation table, stable across partitionings, cluster sizes, and
    retries (the property `df.orderBy(rand(seed))` does NOT have).

    Scale design — a global row_number would serialize on one sort
    partition, so:
      - rows are RANGE-bucketed by hash value (shard = h div
        ceil(2^31/n_shards)): every hash in shard s sorts before every
        hash in shard s+1, so within-shard ranks + per-shard prefix
        offsets reproduce the exact global order;
      - per-shard counts are one map-side-combined agg collapsing to
        <= n_shards rows on the driver, which prefix-sums them and
        broadcast-joins the offsets back;
      - the hash is uniform on [0, 2^31), so range buckets are balanced
        without sampling (no range-partitioner scan like orderBy runs).
    The OUTPUT is independent of n_shards (it only sets the parallelism
    of the sort), so the default adapts to the cluster
    (defaultParallelism, at least 64) — unlike
    pack_sequences, where shard identity is part of the result.

    Returns (id, pos), pos BIGINT in [0, n_rows)."""
    if n_shards is None:
        # read from the context, not df.rdd: getNumPartitions runs the
        # input's AQE stages while the plan is built
        n_shards = max(64, df.sparkSession.sparkContext.defaultParallelism)
    off = (epoch * 0x9E3779B1) % _MOD
    h = _portable_hash(F.col(id_col), off)
    width = -(-_MOD // n_shards)  # ceil; double-div floor below is exact
    # (1/width >= 2^-31 dwarfs the quotient's ulp <= n_shards * 2^-52)
    keyed = (df.select(F.col(id_col), h.alias("_h"))
               .withColumn("_shard",
                           F.floor(F.col("_h") / F.lit(width)).cast("int")))
    sizes = {int(r["_shard"]): int(r["n"])
             for r in keyed.groupBy("_shard")
                           .agg(F.count("*").alias("n")).collect()}
    acc, offsets = 0, []
    for s in sorted(sizes):
        offsets.append((s, acc))
        acc += sizes[s]
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_shard int, _offset long")
    w = Window.partitionBy("_shard").orderBy("_h", id_col)
    return (keyed.withColumn("_rank", F.row_number().over(w))
                 .join(F.broadcast(off_df), "_shard")
                 .select(F.col(id_col),
                         (F.col("_offset") + F.col("_rank") - 1)
                         .cast("long").alias("pos")))


def pack_sequences(df: DataFrame, budget: int, tokens_col: Column | None = None,
                   id_col: str = "doc_id",
                   n_shards: int | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing (the standard LLM-pretraining
    layout): documents are laid end-to-end in deterministic (shard, id)
    order and cut into fixed `budget`-token context windows; a document
    spans packs [first_pack, last_pack].

    Scale design: a GLOBAL running total would serialize on one partition,
    so documents are hashed into `n_shards` independent streams and the
    cumulative sum runs per shard (Window.partitionBy(shard)) — n_shards
    parallel sorts instead of one global one, and pack ids are stable
    (shard, pack) composites independent of cluster layout.

    `n_shards` BOUNDS the parallelism: each shard is one window-sort
    partition. Unlike epoch_shuffle, the shard id is PART OF THE RESULT
    (pack ids are (shard, pack) composites), so the default is a FIXED
    64 — an adaptive default would make the pack layout silently vary
    with the input's partitioning (maxPartitionBytes, file count), which
    breaks the repo's determinism convention and any resume that assumes
    stable pack ids (ADVICE r3). Callers packing corpora where 64
    parallel sorts is too coarse (each shard is one external sort of
    ~n/64 docs) pass a larger explicit n_shards and record it next to
    the layout — the value is a property of the DATASET VERSION, not of
    the cluster that happened to write it.

    Returns (id, shard, tokens, start_offset, first_pack, last_pack) where
    offsets are within-shard token positions."""
    from logunifier_spark.operators.textstats import token_count
    tokens = tokens_col if tokens_col is not None else token_count(F.col("text"))
    if n_shards is None:
        n_shards = 64
    shard = _portable_hash(F.col(id_col)) % n_shards
    w = (Window.partitionBy("shard").orderBy(id_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (df.select(F.col(id_col), shard.alias("shard"),
                     tokens.cast("long").alias("tokens"))
             .withColumn("_cum", F.sum("tokens").over(w))
             .withColumn("start_offset", F.col("_cum") - F.col("tokens")))
    return out.select(
        id_col, "shard", "tokens", "start_offset",
        F.floor(F.col("start_offset") / budget).alias("first_pack"),
        # a zero-token doc occupies the pack at its start offset
        F.floor((F.col("_cum") - 1 + (F.col("tokens") == 0).cast("long"))
                / budget).alias("last_pack"),
    )


def mixture_weights(df: DataFrame, source_col: str = "source",
                    alpha_sqrt: bool = True,
                    target_ppm: int | None = None) -> DataFrame:
    """Temperature-based mixture rates from the corpus itself: per
    source, (n BIGINT, weight_ppm BIGINT, rate_ppm BIGINT). weight_ppm
    ∝ sqrt(share) (the standard p^α upweighting of small sources at
    α=1/2 — sqrt is an IEEE correctly-rounded op, portable across
    engines, unlike pow(x, α) for general α — α≠1/2 callers accept
    engine drift or precompute weights); rate_ppm is the per-source
    KEEP rate for `mixture_sample` that realizes the weights while
    sampling DOWN only: scaled so the largest upweighting factor hits
    rate 1e6 (or `target_ppm`). All derived values floor to integer ppm
    — engine-exact.

    One count aggregate to the source frame (tiny) + driver-side
    normalization over <= thousands of sources; the output joins/maps
    back into mixture_sample's rates dict."""
    counts = df.groupBy(source_col).agg(F.count("*").alias("n"))
    rows = sorted(counts.collect(), key=lambda r: r[source_col])
    if not rows:
        return df.sparkSession.createDataFrame(
            [], f"{source_col} string, n bigint, weight_ppm bigint, "
                "rate_ppm bigint")
    total = sum(r["n"] for r in rows)
    # weight ∝ sqrt(n/total); realized rate_s ∝ weight_s / share_s
    #        ∝ 1/sqrt(share_s) — largest for the SMALLEST source.
    # The sqrt-sum runs in SORTED source order: a float sum is
    # order-dependent, and the SQL oracle mirrors with an ORDER BY
    # aggregate — the one place order enters the arithmetic.
    shares = [(r[source_col], r["n"], r["n"] / total) for r in rows]
    wsum = sum(s ** 0.5 for _, _, s in shares)
    inv_max = max(1.0 / s ** 0.5 for _, _, s in shares)
    cap = (target_ppm if target_ppm is not None else 1_000_000)
    out = [(k, n,
            int(s ** 0.5 / wsum * 1_000_000),
            int((1.0 / s ** 0.5) / inv_max * cap))
           for k, n, s in shares]
    return df.sparkSession.createDataFrame(
        out, f"{source_col} string, n bigint, weight_ppm bigint, "
             "rate_ppm bigint")


def weighted_sample(df: DataFrame, n: int, weight_col: str,
                    id_col: str = "doc_id", salt: int = 0) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis 2006): keep the n rows with the largest
    ln(u)/w, where u = (portable_hash(id, salt)+1) / (2^31+1) in (0,1)
    and w the row's positive weight — equivalent to ranking by u^(1/w),
    so inclusion probability is proportional to weight, yet the
    keep-set is a pure function of (id, weight, salt): stable across
    partitionings, cluster sizes, and retries, like every sampler here.
    The quality-weighted corpus selection shape ("sample 10M docs
    proportional to quality score").

    Float discipline: u is exact (two int64s cast to double, one
    correctly-rounded division), ln is the single libm call (tfidf
    lesson: equal inputs give equal outputs within an engine, so
    cross-engine ranking ties resolve identically via the id
    tie-break), and ln(u)/w is one more correctly-rounded division —
    the key is bit-identical on any engine. Rows with null/non-positive
    weight are excluded (their key is undefined).

    Scale: pure projection + the global form of `stats.grouped_top_k`
    (TakeOrderedAndProject: a per-partition heap of n rows, no shuffle)."""
    off = (salt * 0x9E3779B1) % _MOD
    u = ((_portable_hash(F.col(id_col), off) + F.lit(1)).cast("double")
         / F.lit(float(_MOD + 1)))
    key = F.log(u) / F.col(weight_col).cast("double")
    d = (df.where(F.col(weight_col).isNotNull()
                  & (F.col(weight_col).cast("double") > 0))
           .withColumn("_k", key))
    return (grouped_top_k(d, [], "_k", k=n, tiebreak=[id_col])
            .drop("rank", "_k"))


def assign_splits(df: DataFrame, fracs: dict[str, float] | None = None,
                  id_col: str = "doc_id", salt: int = 0) -> DataFrame:
    """Deterministic train/val/test (or any named) split assignment:
    adds a `split` STRING column decided per row by the portable hash —
    stable across runs, partitionings, engines, and cluster sizes (no
    shuffle, no state, no RNG), so a document NEVER migrates between
    splits when the corpus is re-read, appended to, or re-partitioned:
    the properties an eval-contamination audit actually needs. Splits
    are contiguous hash intervals: cumulative fraction boundaries over
    [0, 2^31) in the given dict order (insertion-ordered; the LAST
    split absorbs the rounding remainder so every row is assigned).
    Fractions must sum to 1 (±1e-9). Same salt-mixing as sample_gate —
    a different salt re-deals every split membership.

    SQL mirror: CASE WHEN hash < b1 THEN s1 WHEN hash < b2 THEN s2 …
    ELSE s_last END over ((id % 2^31) * 2654435761 + mix(salt)) % 2^31.
    """
    fracs = fracs or {"train": 0.9, "val": 0.05, "test": 0.05}
    if not fracs or abs(sum(fracs.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fracs}")
    off = (salt * 0x9E3779B1) % _MOD
    h = _portable_hash(F.col(id_col), off)
    names = list(fracs)
    expr = F.lit(names[-1])
    cum = 0.0
    bounds: list[tuple[str, int]] = []
    for name in names[:-1]:
        cum += fracs[name]
        bounds.append((name, int(cum * _MOD)))
    for name, b in reversed(bounds):
        expr = F.when(h < F.lit(b), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)
