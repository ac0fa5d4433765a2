"""Skew-aware joins: deterministic two-sided salting.

The routing fan-out already salts conv_id hotspots
(operators/route.py::salt_column — the north-rule skew requirement for
the pipeline itself). This module generalizes the lever to ANY equi-join
where (a) the dimension side is too large to broadcast and (b) a handful
of hot keys would otherwise pin single shuffle tasks.

AQE's skew-join splitting (on in get_spark) already divides oversized
partitions of sort-merge joins at runtime, but it cannot split ONE key's
rows across tasks when they collide into a single hash bucket by key
equality alone. Salting can: the big side spreads each key over
`salts` sub-keys; the dim side replicates each row `salts` times.
Shuffle cost: big side unchanged, dim side ×salts — use the smallest
salts that caps the hottest key (hot-key rows / salts per task).

The salt is DETERMINISTIC (a hash of the big row's columns, mod salts),
like every partitioning decision in this repo: reproducible across
retries, partitionings, and cluster sizes — no rand(), which would make
shuffle retries non-idempotent."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logunifier_spark.operators.stats import grouped_top_k

DEFAULT_JOIN_SALTS = 16


def _hashable(dt) -> bool:
    """True iff xxhash64 accepts the type (no MapType anywhere inside)."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable(f.dataType) for f in dt.fields)
    return True


def salted_join(big: DataFrame, dim: DataFrame, on: list[str] | str,
                salts: int = DEFAULT_JOIN_SALTS,
                how: str = "inner") -> DataFrame:
    """Equi-join with the big side's hot keys spread over `salts`
    sub-partitions. Result rows are identical to big.join(dim, on, how);
    only the physical key distribution changes.

    `how` supports the big-side-preserving joins ("inner", "left",
    "left_outer") — right/full would multiply unmatched dim rows by the
    replication factor.

    LIMITATION (inherent to deterministic salting): byte-identical rows
    of a hot key necessarily hash to the SAME salt — no deterministic
    per-row feature distinguishes them, and a non-deterministic salt
    (rand/monotonic id) in a shuffle key risks rerun inconsistencies
    under partial-fetch stage retries (the SPARK-23207 class). Collapse
    exact duplicates first (exact_dedup — the normal pre-dedup step on
    log corpora); salting then spreads the surviving distinct rows."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    overlap = set(big.columns) & set(dim.columns) - set(keys)
    if overlap:
        raise ValueError(f"ambiguous non-key columns on both sides: {sorted(overlap)}")
    # xxhash64 rejects MAP-typed input (and structs containing maps) —
    # salt over the hashable columns only
    hashable = [f.name for f in big.schema.fields if _hashable(f.dataType)]
    if not hashable:
        raise ValueError("salted_join needs at least one non-map column to salt on")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(salts))
    b = big.withColumn("_join_salt", salt)
    d = dim.withColumn(
        "_join_salt",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             F.lit(salts - 1).cast("long"))))
    return b.join(d, keys + ["_join_salt"], how).drop("_join_salt")


def skew_report(df: DataFrame, keys: list[str] | str,
                top: int = 10) -> DataFrame:
    """Join/shuffle-key skew diagnostics: the `top` hottest key values
    with (keys..., rows BIGINT, share_ppm BIGINT, rank INT) — share_ppm
    is the key's parts-per-million of total rows in exact integer math
    (rows * 1_000_000 DIV total; a float share would drift between
    engines). Run this BEFORE a big equi-join: a top-1 share in the
    multi-percent range at 10^9+ rows means key-hash partitioning will
    pin single tasks and `salted_join` (or a broadcast, if the dim fits)
    is the right plan; flat shares mean plain hash/AQE is fine.

    Scale: one map-side-combinable count aggregate reduces the input to
    the distinct-key frame; the top keys come from the global form of
    `stats.grouped_top_k` (TakeOrderedAndProject: a per-partition heap,
    no shuffle), and the scalar total rides as a driver literal from the
    same pass (one extra metadata-cheap agg job, no second scan of the
    raw table)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*keys).agg(F.count("*").alias("rows"))
    counts = counts.localCheckpoint(eager=False)
    total = counts.agg(F.sum("rows")).collect()[0][0] or 0
    return (grouped_top_k(counts, [], "rows", k=top, tiebreak=keys)
                .select(*keys, "rows",
                        # integer DIV: '/' is double division and
                        # double->bigint CAST rounds in DuckDB but
                        # truncates in Spark (CLAUDE.md)
                        F.expr(f"CAST((rows * 1000000) DIV {int(total)} "
                               "AS BIGINT)").alias("share_ppm"),
                        "rank"))
