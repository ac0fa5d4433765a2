"""Distributed statistics: exact per-group quantiles and a portable
KMV (k-minimum-values) distinct-count sketch.

Corpus curation reads quantile summaries constantly (doc-length p50/p95
per source, tokens-per-turn tails per conversation family) and the
approximate `percentile_approx` is the right default at 100 TB — but
thresholds that feed FILTERS (e.g. "drop docs beyond p99 length")
need the exact statistic, reproducibly, on both the engine and any SQL
oracle. This module computes exact discrete quantiles with integer-only
rank math so the result is engine-portable bit-for-bit.

Semantics: the type-1 (discrete) quantile — the value at 1-based sorted
position ceil(q·n) — matching DuckDB's `quantile_disc` exactly (probed:
n=4, q=.25/.5/.75/.95 → positions 1/2/3/4; n=5, q=.5/.95 → 3/5).
Quantile fractions are taken as integer PERCENTS and the position is
computed as floor((n·p + 99) / 100) ≡ ceil(n·p/100) in pure integer
arithmetic — a float q (n·0.95) is inexact in binary and flips the
position at exact multiples. Exact for n·p + 99 < 2^53 (n per group up
to ~9.5e13 at p=95), far past any real group.

Scale: the exact quantiles come from a per-group TWO-PASS coarse
histogram (the per-group generalization of `range_bounds`) — hash
aggregates plus a final rank over only the needed (group, bucket)
populations (~n_group/coarse_bins rows per task). No window ever
partitions row-scale data by the group keys alone, so a dominant group
— or a constant key asking for whole-corpus percentiles — costs the
same per-row work as a balanced one instead of one giant external
sort. When an estimate suffices, `F.percentile_approx` is still
cheaper (single pass, no second scan).

Ties: row_number among equal values is arbitrary, but the VALUE at a
given sorted position of a multiset is deterministic — the selected
quantile never depends on tie order or partitioning.

KMV sketch (`kmv_distinct`): the classic k-minimum-values estimator
(Bar-Yossef et al. 2002) — hash every value into [0, M), keep the k
smallest distinct hashes per group, estimate |distinct| as
(k-1)·M / h_k where h_k is the k-th smallest. Spark ships HLL++
(`approx_count_distinct`), but its sketch is engine-internal: the
result is neither reproducible across engines nor value-hash
oracle-able, and the registers can't be post-processed in SQL. KMV is
the portable alternative: the hash here is the first 48 bits of
md5(value-as-string) — bit-identical in Spark, DuckDB, and any engine
with md5 — so the estimate is a pure DETERMINISTIC function of the
value set: same answer on every engine, every partitioning, every
retry. Standard error ≈ 1/sqrt(k-2) (~9% at k=128); groups with fewer
than k distinct hashes return the EXACT count (the sketch holds the
whole value set). Hash collisions undercount by ~n²/2^49 — irrelevant
below ~10^12 distinct values per group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_quantiles(df: DataFrame, keys: list[str] | str, col: str,
                    percents: tuple[int, ...] = (50, 95),
                    out_prefix: str = "p",
                    coarse_bins: int = 1024) -> DataFrame:
    """Per-`keys` exact discrete quantiles of `col`: one row per group
    with `n` (non-null count) and one `<out_prefix><p>` column per
    requested percent. Null `col` values are ignored (standard quantile
    semantics); groups with only nulls are absent from the result.

    SKEW-SAFE by construction (round-4 rewrite): the original form
    ranked each group in ONE window-sort partition, so a dominant group
    (one language at 90% corpus share — or the constant group the
    dataset card uses to get whole-corpus percentiles) became a
    single-task global sort. This version is the per-group
    generalization of `range_bounds`' two-pass coarse-histogram, fully
    distributed, with NO window ever partitioned by the group keys
    alone over row-scale data:

      1. one scan → per-group (n, lo, hi) hash aggregate;
      2. one scan → per-(group, coarse bucket) counts, where the bucket
         is a pure function of (value, group lo/hi) so equal values
         always share a bucket; a cumulative window over the HISTOGRAM
         (≤ `coarse_bins` rows per group — bounded regardless of group
         size) locates, for each target rank ceil(n·p/100), its bucket
         and local rank within it;
      3. a second row scan, pruned by semi-join to only the needed
         (group, bucket) pairs, ranks WITHIN each (group, bucket) —
         partition size ~n_group/coarse_bins, never the group — and a
         join on (bucket, local rank) picks the exact values.

    The histogram path requires a NUMERIC column (fixed-width buckets);
    other orderable types (strings, dates) transparently fall back to
    the original type-agnostic sort-per-group window — correct, but one
    task per group. Map temporal columns through unix_micros when their
    groups are skewed.

    Single-valued groups (lo == hi, which includes n == 1) are answered
    from pass 1 directly and never touch pass 2/3. Degenerate case: one
    VALUE dominating a group keeps its whole population in one bucket
    of step 3 (equal values must share a bucket for exactness) — but
    ranking among equal values is rank-free in effect, and any needed
    bucket is still at most the hot value's population, not the group.
    Same integer-exact type-1 semantics as before (module docstring);
    results are bit-identical to the single-sort form."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    for p in percents:
        if not (isinstance(p, int) and 1 <= p <= 100):
            raise ValueError(f"percents must be ints in 1..100, got {p!r}")
    if coarse_bins < 2:
        raise ValueError(f"coarse_bins must be >= 2, got {coarse_bins}")
    dt = df.schema[col].dataType.simpleString()
    if dt not in {"tinyint", "smallint", "int", "bigint",
                  "float", "double"} and not dt.startswith("decimal"):
        # non-numeric orderable types (strings, dates, …) cannot be
        # fixed-width-bucketed (the double cast would crash under ANSI
        # — review r4); they keep the original type-agnostic
        # sort-per-group window. Skew-safety is therefore a NUMERIC
        # guarantee; map temporal columns through unix_micros to get it.
        return _group_quantiles_sorted(df, keys, col, percents, out_prefix)
    d = df.where(F.col(col).isNotNull()).select(*keys,
                                                F.col(col).alias("_gq_v"))
    # pass 1: per-group stats; tiny (one row per group) — cut the
    # lineage so the four downstream references don't rescan the input
    g = (d.groupBy(*keys).agg(F.count("*").alias("_gq_n"),
                              F.min("_gq_v").alias("_gq_lo"),
                              F.max("_gq_v").alias("_gq_hi"))
          .localCheckpoint(eager=False))
    pcols = [f"{out_prefix}{p}" for p in percents]
    flat = g.where(F.col("_gq_lo") == F.col("_gq_hi")).select(
        *keys, F.col("_gq_n").alias("n"),
        *[F.col("_gq_lo").alias(c) for c in pcols])
    multi = g.where(F.col("_gq_lo") != F.col("_gq_hi"))
    # bucket id: fixed-width over the group's [lo, hi] span, clamped
    # (x == hi lands exactly on coarse_bins); double-space like
    # range_bounds — deterministic, so both passes bucket identically
    x = F.col("_gq_v").cast("double")
    lo = F.col("_gq_lo").cast("double")
    span = F.col("_gq_hi").cast("double") - lo
    raw = F.floor((x - lo) / span * F.lit(float(coarse_bins)))
    bucket = F.least(F.lit(coarse_bins - 1).cast("long"),
                     F.greatest(F.lit(0).cast("long"), raw))
    db = (d.join(multi.select(*keys, "_gq_lo", "_gq_hi"), keys)
           .withColumn("_gq_b", bucket)
           .drop("_gq_lo", "_gq_hi"))
    hist = db.groupBy(*keys, "_gq_b").agg(F.count("*").alias("_gq_c"))
    # cumulative counts: window over the histogram, ≤ coarse_bins rows
    # per group by construction (NOT row-scale — bounded at any skew)
    hist = hist.withColumn(
        "_gq_cum",
        F.sum("_gq_c").over(Window.partitionBy(*keys).orderBy("_gq_b")))
    tstructs = []
    for p in percents:
        # pos = ceil(n*p/100), integer-only (see module docstring)
        a = F.col("_gq_n") * F.lit(int(p)) + F.lit(99)
        pos = ((a - F.pmod(a, F.lit(100))) / F.lit(100)).cast("long")
        tstructs.append(F.struct(F.lit(int(p)).alias("_gq_p"),
                                 pos.alias("_gq_pos")))
    tgt = (multi.select(*keys, F.explode(F.array(*tstructs)).alias("_t"))
                .select(*keys, "_t._gq_p", "_t._gq_pos"))
    located = (tgt.join(hist, keys)
                  .where((F.col("_gq_pos") > F.col("_gq_cum") - F.col("_gq_c"))
                         & (F.col("_gq_pos") <= F.col("_gq_cum")))
                  .select(*keys, "_gq_p", "_gq_b",
                          (F.col("_gq_pos") - F.col("_gq_cum")
                           + F.col("_gq_c")).alias("_gq_lrank")))
    need = located.select(*keys, "_gq_b").distinct()
    ranked = (db.join(need, [*keys, "_gq_b"], "left_semi")
                .withColumn("_gq_lrank", F.row_number().over(
                    Window.partitionBy(*keys, "_gq_b").orderBy("_gq_v"))))
    vals = (ranked.join(located, [*keys, "_gq_b", "_gq_lrank"])
                  .select(*keys, "_gq_p", "_gq_v"))
    pivoted = vals.groupBy(*keys).agg(
        *[F.max(F.when(F.col("_gq_p") == p, F.col("_gq_v"))).alias(c)
          for p, c in zip(percents, pcols)])
    out = (multi.select(*keys, F.col("_gq_n").alias("n"))
                .join(pivoted, keys)
                .select(*keys, "n", *pcols))
    return out.unionByName(flat)


def _group_quantiles_sorted(df: DataFrame, keys: list[str], col: str,
                            percents: tuple[int, ...],
                            out_prefix: str) -> DataFrame:
    """Type-agnostic fallback (the pre-round-4 implementation): one
    ranking window per group — any orderable column type, but each
    group sorts in ONE task. Same type-1 integer rank math; identical
    results to the histogram path on numeric inputs."""
    d = df.where(F.col(col).isNotNull()).select(*keys, col)
    w_row = Window.partitionBy(*keys).orderBy(col)
    w_all = Window.partitionBy(*keys)
    d = (d.withColumn("_rn", F.row_number().over(w_row))
          .withColumn("_n", F.count(col).over(w_all)))
    aggs = [F.max("_n").alias("n")]
    for p in percents:
        # pos = ceil(n*p/100), integer-only (see module docstring)
        a = F.col("_n") * F.lit(int(p)) + F.lit(99)
        pos = (a - F.pmod(a, F.lit(100))) / F.lit(100)
        aggs.append(F.max(F.when(F.col("_rn") == pos, F.col(col)))
                    .alias(f"{out_prefix}{p}"))
    return d.groupBy(*keys).agg(*aggs)


KMV_HEX_CHARS = 12                 # 48-bit hash -> fits int64 exactly
KMV_SPACE = 1 << (4 * KMV_HEX_CHARS)


def kmv_hash(col: Column) -> Column:
    """Portable 48-bit uniform hash: first 12 hex chars of
    md5(value-as-string) parsed as int64. SQL mirror (DuckDB):
    CAST(concat('0x', substring(md5(CAST(v AS VARCHAR)), 1, 12)) AS
    BIGINT). Restricted to string/integral inputs — float-to-string
    formatting is engine-specific and would break the parity."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, KMV_HEX_CHARS),
                  16, 10).cast("long")


def kmv_distinct(df: DataFrame, keys: list[str] | str, col: str,
                 k: int = 128) -> DataFrame:
    """Per-`keys` distinct-count estimate of `col` via a KMV sketch:
    (keys…, est_distinct BIGINT, exact BOOLEAN). `exact` is true when
    the group had fewer than k distinct hashes (the returned value is
    then the true distinct count). Nulls are ignored; all-null groups
    are absent.

    Scale shape: one shuffle produces the distinct (keys, hash) frame
    (map-side partial distinct); the k smallest hashes per group come
    from `grouped_top_k`, whose partial WindowGroupLimit prunes every
    map partition to k rows per group before the second shuffle, so a
    hot group ships at most k rows per partition. The final reduction
    is one hash aggregate; the (k-1)·M numerator stays < 2^63 for
    k ≤ 2^14, and h_k ≥ k-1 ≥ 1 (distinct non-negative hashes), so the
    integer division is safe."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if not (2 <= k <= 1 << 14):
        raise ValueError(f"k must be in [2, 16384], got {k}")
    dt = df.schema[col].dataType.simpleString()
    if dt not in ("string", "int", "bigint", "smallint", "tinyint"):
        raise ValueError(
            f"kmv_distinct needs a string/integral column, got {col}: {dt} "
            "(float formatting is engine-specific; pre-quantize first)")
    d = (df.where(F.col(col).isNotNull())
           .select(*keys, kmv_hash(F.col(col)).alias("_h"))
           .distinct())
    agg = (grouped_top_k(d, keys, "_h", k=k, ascending=True)
           .groupBy(*keys)
           .agg(F.count("*").alias("_n"),
                F.max(F.when(F.col("rank") == k, F.col("_h"))).alias("_hk")))
    numer = (k - 1) * KMV_SPACE
    est = F.when(F.col("_n") < k, F.col("_n")) \
           .otherwise(F.expr(f"CAST({numer} DIV _hk AS BIGINT)"))
    return agg.select(*keys, est.alias("est_distinct"),
                      (F.col("_n") < k).alias("exact"))


def group_histogram(df: DataFrame, keys: list[str] | str, col: str,
                    lo: float, hi: float, bins: int = 20) -> DataFrame:
    """Per-`keys` fixed-width histogram of `col` over [lo, hi):
    (keys…, bucket INT, n BIGINT), buckets 0..bins-1, out-of-range
    values clamped into the edge buckets (so counts always total the
    non-null rows — the dashboards-never-lose-rows convention). One
    map-side-combinable hash aggregate; empty buckets are absent (join
    a `spark.range(bins)` spine to densify when plotting).

    Bounds are explicit caller scalars, not a data-dependent min/max
    scan: histograms that feed monitoring must be stable across runs
    and comparable across corpora. The bucket index is
    floor((x-lo)/(hi-lo)·bins) evaluated in one fixed double expression
    tree — identical on every engine (floor is portable; round is
    not)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not (hi > lo):
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    x = F.col(col).cast("double")
    raw = F.floor((x - F.lit(float(lo))) / F.lit(float(hi - lo))
                  * F.lit(float(bins)))
    # clamp on the LONG before narrowing: an extreme value's raw bucket
    # overflows an int cast (ANSI-mode crash); after the clamp the value
    # is provably in [0, bins-1]
    bucket = F.least(F.lit(bins - 1).cast("long"),
                     F.greatest(F.lit(0).cast("long"), raw)).cast("int")
    return (df.where(x.isNotNull())
              .groupBy(*keys, bucket.alias("bucket"))
              .agg(F.count("*").alias("n")))


def grouped_top_k(df: DataFrame, keys: list[str] | str,
                  order_col: str, k: int = 10,
                  tiebreak: list[str] | None = None,
                  ascending: bool = False) -> DataFrame:
    """Per-group top-k rows by `order_col` DESC (ASC with
    `ascending=True`), ties broken by `tiebreak` ascending (pass columns
    that complete a total order for a deterministic result), with
    `rank` INT 1..k added. The one top-k of `operators/`.

    Grouped (`keys` non-empty): a `row_number() <= k` window filter.
    Spark plans it as WindowGroupLimit Partial → Exchange →
    WindowGroupLimit Final: every map partition keeps only its top k
    per group before the shuffle, so a hot group ships at most k rows
    per map partition, in one shuffle. The partial limit fires only for
    k ≤ spark.sql.optimizer.windowGroupLimitThreshold (1,000 by
    default); above it a group is sorted whole. Program callers pass
    k ≤ 64.

    `keys=[]` (one global top-k): orderBy().limit(k) plans as
    TakeOrderedAndProject at any k (a per-partition heap and a merge,
    no shuffle), and `rank` numbers the ≤ k rows it returns."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    head = F.asc(order_col) if ascending else F.desc(order_col)
    order = [head] + [F.asc(c) for c in tiebreak or []]
    if not keys:
        # unpartitioned on purpose (WindowExec warns): it sees <= k rows
        return (df.orderBy(*order).limit(k)
                  .withColumn("rank",
                              F.row_number().over(Window.orderBy(*order))))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k))


def range_bounds(df: DataFrame, col: str, parts: int,
                 coarse_bins: int = 1024) -> DataFrame:
    """EXACT range-partitioner boundaries: (bound_idx INT 1..parts-1,
    value) where value is the type-1 quantile of `col` at 1-based sorted
    position ceil(n*i/parts) — the split points that give `parts`
    near-equal ranges for repartitionByRange / a sorted write.
    Spark's own RangePartitioner SAMPLES (boundaries drift run to run);
    these are exact and reproducible, which is what a resumable 100 TB
    sorted layout needs.

    Two-pass histogram algorithm — NO global sort:
      1. one scan: (min, max, count) + a coarse fixed-width histogram
         (map-side combinable, <= coarse_bins rows to the driver);
      2. the driver walks the cumulative histogram to find, for each
         target rank, its bucket and LOCAL rank within that bucket;
      3. a second scan sorts ONLY the <= parts-1 needed buckets
         (filter pushes to the scan; each bucket holds ~n/coarse_bins
         rows), and a row_number window per bucket picks the exact
         values. Equal values always share a bucket (the bucket is a
         function of the value), so local rank + bucket prefix = global
         rank exactly.
    Degenerate case: one value dominating a bucket makes that bucket's
    sort large — raise coarse_bins (cheap: histogram rows, not data,
    scale with it). Nulls are excluded; all-null/empty input returns an
    empty frame; min == max returns that value at every boundary."""
    if parts < 2:
        raise ValueError(f"parts must be >= 2, got {parts}")
    spark = df.sparkSession
    c = F.col(col)
    d = df.where(c.isNotNull()).select(c.alias("_v"))
    first = d.agg(F.count("*").alias("n"), F.min("_v").alias("lo"),
                  F.max("_v").alias("hi")).collect()[0]
    n, lo, hi = first["n"], first["lo"], first["hi"]
    out_schema = f"bound_idx int, value {df.schema[col].dataType.simpleString()}"
    if n == 0:
        return spark.createDataFrame([], out_schema)
    targets = {i: (n * i + parts - 1) // parts for i in range(1, parts)}
    if lo == hi:
        return spark.createDataFrame([(i, lo) for i in targets], out_schema)
    x = F.col("_v").cast("double")
    width = float(hi) - float(lo)
    raw = F.floor((x - F.lit(float(lo))) / F.lit(width)
                  * F.lit(float(coarse_bins)))
    b = F.least(F.lit(coarse_bins - 1).cast("long"),
                F.greatest(F.lit(0).cast("long"), raw))
    hist = sorted((int(r["_b"]), int(r["c"])) for r in
                  d.groupBy(b.alias("_b")).agg(F.count("*").alias("c"))
                   .collect())
    needed = []  # (bucket, local_rank, bound_idx)
    cum = 0
    hist_iter = iter(hist)
    bkt, cnt = next(hist_iter)
    for i in sorted(targets, key=lambda i: targets[i]):
        r = targets[i]
        while cum + cnt < r:
            cum += cnt
            bkt, cnt = next(hist_iter)
        needed.append((bkt, r - cum, i))
    lr = spark.createDataFrame(needed,
                               "_b long, _lrank long, bound_idx int")
    wanted = sorted({t[0] for t in needed})
    w = Window.partitionBy("_b").orderBy("_v")
    second = (d.withColumn("_b", b)
               .where(F.col("_b").isin(wanted))
               .withColumn("_rn", F.row_number().over(w)))
    return (second.join(F.broadcast(lr),
                        (second["_b"] == lr["_b"])
                        & (second["_rn"] == lr["_lrank"]))
                  .select("bound_idx", F.col("_v").alias("value")))


CMS_HEX_PER_ROW = 6                      # 24-bit slice per hash row


def _cms_validate(d: int, w: int) -> None:
    if not (1 <= d <= 5):
        raise ValueError(f"d must be in [1, 5] (md5 slices), got {d}")
    if not (2 <= w <= 1 << 24):
        raise ValueError(f"w must be in [2, 2^24], got {w}")


def _cms_cells(col: str, d: int, w: int) -> Column:
    """The d (row, bucket) cells of a value — THE shared hashing between
    cms_sketch and cms_estimate (build/probe parity is the whole
    correctness argument; two copies could silently diverge)."""
    md5c = F.md5(F.col(col).cast("string"))
    return F.array(*[F.struct(
        F.lit(i).alias("row"),
        F.pmod(F.conv(F.substring(md5c, 1 + CMS_HEX_PER_ROW * i,
                                  CMS_HEX_PER_ROW), 16, 10).cast("long"),
               F.lit(w)).cast("int").alias("bucket"))
        for i in range(d)])


def cms_sketch(df: DataFrame, col: str, d: int = 4,
               w: int = 1024) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of `col`'s value
    frequencies: (row INT 0..d-1, bucket INT 0..w-1, c BIGINT). The
    mergeable fixed-size frequency summary — union two sketches by
    summing cells — for when exact per-key counts (10^12 distinct keys)
    can't be held but point estimates must be cheap.

    Like kmv_distinct, the hashes are ENGINE-PORTABLE so the sketch is
    a pure deterministic function of the multiset and a SQL oracle can
    rebuild it: row i's hash is hex slice [1+6i, 6] of md5(value) —
    d <= 5 independent 24-bit slices from one md5 — mod w. One explode
    (d rows per input row, plain codegen) + ONE map-side-combinable
    hash aggregate bounded at d*w cells.

    Standard error: est <= true + 2N/w with prob 1 - (1/2)^d."""
    _cms_validate(d, w)
    ex = (df.where(F.col(col).isNotNull())
            .withColumn("_cells", _cms_cells(col, d, w))
            .select(F.explode("_cells").alias("rb")))
    return (ex.groupBy(F.col("rb.row").alias("row"),
                       F.col("rb.bucket").alias("bucket"))
              .agg(F.count("*").alias("c")))


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str,
                 d: int = 4, w: int = 1024) -> DataFrame:
    """Point-estimate the frequency of each distinct probe value:
    (col, est BIGINT) with est = min over rows of the value's cell
    (0 when a cell is empty). est >= true count always (CMS
    one-sided error). `d`/`w` MUST match the sketch's build — the
    sketch frame carries no metadata, so a mismatch is undetectable
    here and silently breaks the one-sided guarantee (probe buckets
    miss, est=0); parameter ranges are validated like cms_sketch."""
    _cms_validate(d, w)
    p = (probes.where(F.col(col).isNotNull()).select(col).distinct()
               .withColumn("_cells", _cms_cells(col, d, w))
               .select(F.col(col), F.explode("_cells").alias("rb"))
               .select(F.col(col), F.col("rb.row").alias("row"),
                       F.col("rb.bucket").alias("bucket")))
    j = p.join(sketch, ["row", "bucket"], "left")
    return (j.groupBy(col)
             .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est")))
