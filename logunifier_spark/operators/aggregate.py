"""Aggregations: per-sink routed-row counts + pattern-hit histogram.

Spark analogs of the reference's only aggregate surfaces:
  - per-label-stream grouping  (batch.go:55-79)  -> groupBy(stream-level keys)
  - prometheus counters        (client.go:53-142) -> hash aggregates

All map-side-combinable hash aggregates (partial aggregation happens before
the exchange, so the shuffle carries one row per (key, partition))."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sink_counts(df: DataFrame) -> DataFrame:
    """(sink, routed_rows) — the driver's routed-row equality metric."""
    return df.groupBy("sink").agg(F.count("*").alias("routed_rows"))


def pattern_histogram(df: DataFrame) -> DataFrame:
    """(pattern_key, hits)."""
    return (df.groupBy(F.col("log_pattern_key").alias("pattern_key"))
              .agg(F.count("*").alias("hits")))


def level_histogram(df: DataFrame) -> DataFrame:
    return (df.groupBy(F.col("log_level").alias("level"))
              .agg(F.count("*").alias("hits")))


def sink_bytes(df: DataFrame) -> DataFrame:
    """(sink, routed_rows, payload_bytes) — A2/A3 batch-size accounting
    parity: the reference sizes Loki batches by summed entry line bytes
    (/root/reference/pkg/clients/lokiclient/batch.go:113-123, sizeBytes /
    sizeBytesAfter gate the flush at BatchSize; age() gates on BatchWait).
    Batch flush timing itself is a no-op under Spark's bulk execution
    model, but the accounting surface — bytes routed per sink — is the
    reference metric users actually read, so it ships as a first-class
    map-side-combinable aggregate."""
    return df.groupBy("sink").agg(
        F.count("*").alias("routed_rows"),
        F.sum(F.octet_length(F.coalesce(F.col("message"), F.lit(""))))
         .alias("payload_bytes"))


def error_counts(df: DataFrame) -> DataFrame:
    """(sink, process_errors, validation_errors) — shipper drop/mutate
    counter analog."""
    return (df.groupBy("sink").agg(
        F.count(F.when(F.col("process_error_reason").isNotNull(), 1)).alias("process_errors"),
        F.count(F.when(F.col("validation_errors").isNotNull(), 1)).alias("validation_errors"),
        F.count("*").alias("routed_rows"),
    ))


def rollup_report(df: DataFrame, dims: list[str],
                  cents_col=None, fill: str = "(all)") -> DataFrame:
    """OLAP ROLLUP over `dims` (the dashboard drill-down shape: every
    prefix of the dimension list gets a subtotal row, plus the grand
    total): (dims…, n BIGINT[, sum_cents BIGINT]). Subtotal levels show
    `fill` in the rolled-up dimensions — dims must be string-typed and
    null-free (a genuine null would collide with the sentinel; filter
    or fillna upstream — enforced).

    `cents_col` is an optional integer-cents Column for an exact money
    sum: a double SUM over arbitrary group shapes is
    partial-aggregation-order-dependent, so currency enters as int64
    cents (floor(x*100 + 0.5) of a 2-decimal double is portable —
    Spark/DuckDB round() disagree on half-even, floor(+0.5) does not)
    and sums associatively.

    ROLLUP is Expand + one hash aggregate in Spark — each input row is
    replicated len(dims)+1 times BEFORE the shuffle but after map-side
    partial aggregation collapses it, so the exchange carries
    ~|groups|·(len(dims)+1) rows, not |input|·(len(dims)+1)."""
    for d in dims:
        if df.schema[d].dataType.simpleString() != "string":
            raise ValueError(f"rollup dim {d} must be string-typed")
    if df.where(" OR ".join(f"{d} IS NULL" for d in dims)).head(1):
        raise ValueError(f"rollup dims {dims} contain nulls; fill upstream")
    aggs = [F.count("*").alias("n")]
    if cents_col is not None:
        aggs.append(F.sum(cents_col).alias("sum_cents"))
    out = df.rollup(*dims).agg(*aggs)
    return out.select(
        *[F.coalesce(F.col(d), F.lit(fill)).alias(d) for d in dims],
        *[c for c in out.columns if c not in dims])


def latest_state(df: DataFrame, keys: list[str] | str,
                 order_by: list[str], payload: list[str],
                 count_col: str = "n_rows") -> DataFrame:
    """CDC latest-wins compaction (the read side of a MERGE): one row per
    `keys` group carrying the `payload` columns of the row that is
    maximal under `order_by` (compared as a struct, field order = list
    order — include a unique id last for a total order, or ties resolve
    by the later field being null-last struct comparison), plus the
    group's row count.

    ONE aggregate of max_by's — map-side combinable, so the shuffle
    carries a single partially-reduced row per (keys, partition), never
    the history. This is the scale-correct alternative to the
    row_number()-over-desc window (which shuffles every group's full
    history); a SQL oracle can use the window form and must agree.
    Plan note: max_by's (payload, ordering) buffer is not
    UnsafeRow-mutable when it contains strings, so Spark plans a
    SortAggregate — partial combine still happens before the exchange,
    at the cost of a per-partition sort; with all-fixed-width payloads
    it stays a HashAggregate."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    ord_ = F.struct(*[F.col(c) for c in order_by])
    aggs = [F.max_by(F.col(c), ord_).alias(c) for c in payload]
    aggs.append(F.count("*").alias(count_col))
    return df.groupBy(*keys).agg(*aggs)
