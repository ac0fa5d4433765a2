"""Routing: deterministic salted label-hash fan-out to per-sink tables.

The Spark analog of the Loki shipper's per-label-stream batching
(/root/reference/pkg/clients/lokiclient/batch.go:55-111,
client.go:273-363): instead of per-tenant HTTP batches we partition by a
deterministic hash of (stream_key, conv_id, salt) and write one table per
sink.

Skew design (north-rule requirement): hot conversations are spread across
SALT_BUCKETS shuffle partitions via `pmod(xxhash64(turn_idx), K)` — a pure
column expression, so the partitioner is deterministic and reproducible
across runs and cluster sizes. At 10^12 turns a single hot conv_id would
otherwise pin a whole executor; the salt bounds any conversation's share of
a partition to ~1/K of its rows while keeping (conv_id, salt) co-location
for downstream per-conversation work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logunifier_spark.session import observation_or, per_context

SALT_BUCKETS = 8
ROUTE_PARTITIONS = 32


def salt_column(turn_idx: Column) -> Column:
    return F.pmod(F.xxhash64(turn_idx), F.lit(SALT_BUCKETS))


def route_partition(stream_key: Column, conv_id: Column,
                    salt: Column) -> Column:
    """Deterministic route partition id (stable across runs/cluster sizes)."""
    return F.pmod(F.xxhash64(stream_key, conv_id, salt),
                  F.lit(ROUTE_PARTITIONS))


def with_routing(df: DataFrame, tenant: bool = False) -> DataFrame:
    """Attach salt + route_partition columns (expects stream_key, conv_id,
    turn_idx present).

    `tenant=True` additionally attaches a `tenant` column (org_name, the
    X-Scope-OrgID analog): the reference's Loki client batches and ships
    per tenant (/root/reference/pkg/clients/lokiclient/client.go:273-363);
    here the tenant becomes a first-class partition key — pass it to
    write_sinks' partitionBy (or a per-tenant Iceberg table) so one
    tenant's volume can never skew another's files."""
    return df.withColumns(_routing_columns(tenant))


@per_context
def _routing_columns(tenant: bool) -> dict[str, Column]:
    salt = salt_column(F.col("turn_idx"))
    cols = {
        "salt": salt,
        "route_partition": route_partition(F.col("stream_key"),
                                           F.col("conv_id"), salt),
    }
    if tenant:
        cols["tenant"] = F.coalesce(F.col("org_name"), F.lit(""))
    return cols


def enforce_line_limit(df: DataFrame, max_line_size: int = 0,
                       truncate: bool = True,
                       message_col: str = "message") -> DataFrame:
    """O3: max-entry-size guard of the Loki client
    (/root/reference/pkg/clients/lokiclient/client.go:308-319; disabled by
    default via maxLineSize=0 at pkg/clients/contruct.go:38): oversize
    messages are either truncated to the limit or dropped entirely.

    The limit is BYTE-based, like the Go client's len(line) on a UTF-8
    string — octet_length for the check, and truncation keeps the longest
    character prefix whose UTF-8 encoding fits (never splits a codepoint).
    The byte-scan runs only on the rare oversize rows; in-limit messages
    short-circuit on the octet_length comparison. (Deviation note: Go
    truncates mid-codepoint at the raw byte boundary; we truncate at the
    last whole character — a shipped line differs only in trailing
    replacement bytes Loki would reject as invalid UTF-8 anyway.)"""
    if max_line_size <= 0:
        return df
    msg = F.col(message_col)
    over = F.octet_length(msg) > max_line_size
    if truncate:
        # running (bytes, chars-kept) scan over the char array; `b` is
        # monotone, so `k` freezes at the last prefix that fits
        chars = F.split(msg, "")
        fit = F.aggregate(
            chars,
            F.struct(F.lit(0).alias("b"), F.lit(0).alias("k")),
            lambda a, c: F.struct(
                (a["b"] + F.octet_length(c)).alias("b"),
                F.when(a["b"] + F.octet_length(c) <= max_line_size,
                       a["k"] + 1).otherwise(a["k"]).alias("k")),
        )
        return df.withColumn(
            message_col,
            F.when(over, F.substring(msg, 1, fit["k"])).otherwise(msg))
    return df.where(~over)


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFoundException
        return False


def write_sinks_iceberg(df: DataFrame, table: str,
                        catalog: str = "local") -> None:
    """Iceberg-native sink commit: one table partitioned by
    (sink, route_partition), appended via the V2 `writeTo` API — each append
    is an atomic SNAPSHOT COMMIT, which replaces the parquet + sidecar
    manifest bookkeeping of `write_sinks`/`run_resumable` with Iceberg's
    own exactly-once semantics (the reference's JetStream ack bookkeeping,
    streamcfg.go:96-120, maps onto snapshot lineage).

    The writer plan is built unconditionally (the code path is real); the
    capability gate fires before execution because this sandbox ships no
    Iceberg runtime jar. On a real cluster enable it with:
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
      --conf spark.sql.catalog.<catalog>=org.apache.iceberg.spark.SparkCatalog
      --conf spark.sql.catalog.<catalog>.type=hadoop
      --conf spark.sql.catalog.<catalog>.warehouse=<path>
    """
    spark = df.sparkSession
    full = f"{catalog}.{table}"
    # co-locate each output partition in one task before the commit, same
    # rationale as write_sinks
    writer = (df.repartition(F.col("sink"), F.col("route_partition"))
                .writeTo(full)
                .partitionedBy(F.col("sink"), F.col("route_partition")))
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg Spark runtime not on the classpath — add "
            "iceberg-spark-runtime and a spark.sql.catalog.* config "
            "(see write_sinks_iceberg docstring); falling back to "
            "write_sinks() gives the same layout with sidecar manifests")
    if spark.catalog.tableExists(full):
        writer.append()
    else:
        writer.create()


def _list_sink_dirs(spark, base_path: str) -> dict[str, str]:
    """Enumerate `sink=<name>` partition directories under base_path via
    the Hadoop FileSystem API — resolves the scheme from the path itself,
    so the same call works on local FS, HDFS, and object stores (s3a://,
    gs://, abfss://), unlike os.listdir."""
    jvm = spark._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    out = {}
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("sink="):
            out[name[len("sink="):]] = st.getPath().toString()
    return out


def write_sinks(df: DataFrame, base_path: str, mode: str = "overwrite",
                file_format: str = "parquet") -> dict[str, str]:
    """Fan out to one table per sink, partitioned by route_partition.
    Returns {sink: path} for exactly the sinks THIS write produced.

    One pass over the data: partitionBy(sink, route_partition) gives the
    per-sink directory layout without N separate jobs. On an Iceberg-enabled
    cluster, swap the writer for ``df.writeTo(f"{catalog}.{sink}")`` —
    snapshot commits then replace the ack bookkeeping of the reference
    (streamcfg.go:96-120) with exactly-once semantics.

    The shuffle on (sink, route_partition) before the write is load-bearing:
    without it every task writes a file per output partition
    (tasks × sinks × route partitions small files — measured 507 files for
    5k rows on 8 tasks); with it each output partition is written by one
    task and the file count equals the distinct partition count.

    Sink enumeration: a select("sink").distinct() after the fact would
    re-execute the entire upstream plan (dedup shuffle, parse UDF, enrich,
    routing) a second time, so the sink set is captured with an Observation
    riding the write job itself (collect_set over a tiny domain — no extra
    job, no recompute), then matched to the on-disk partition directories
    via the Hadoop FileSystem API. Under mode="append" this keeps the
    returned map honest: directories left by earlier runs that this
    DataFrame never wrote are excluded."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, F.collect_set("sink").alias("sinks"))
    (observed.repartition(F.col("sink"), F.col("route_partition"))
       .write.mode(mode)
       .partitionBy("sink", "route_partition")
       .format(file_format)
       .save(base_path))
    # A zero-row write runs no task that observes (observation_or); the
    # write itself succeeded, so the sink set is recomputed from df
    # (normally empty; one column-pruned job). Listing the output instead
    # would misreport earlier appends as ours.
    written = set(observation_or(obs, lambda: {"sinks": [
        r["sink"] for r in df.select("sink").distinct().collect()]})["sinks"])
    listed = _list_sink_dirs(df.sparkSession, base_path)
    return {s: p for s, p in sorted(listed.items()) if s in written}


def _fs_rename(fs, src, dst) -> None:
    """Hadoop FileSystem.rename reports failure by returning false, not
    raising (ADVICE r4) — a swallowed false during the compact swap or its
    crash recovery leaves sink data stranded in `._compact_old` while the
    run reports success. Raise so a half-swapped base_path is never
    treated as healthy."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _fs_delete(fs, path) -> None:
    if not fs.delete(path, True) and fs.exists(path):
        raise IOError(f"delete failed: {path}")


def compact_sinks(spark, base_path: str,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  file_format: str = "parquet") -> dict[str, int]:
    """Compact each `sink=<name>` table under `base_path` toward
    `target_file_bytes` per file and return {sink: files_after}. The
    small-files maintenance pass every long-running partitioned sink
    needs: an append-mode pipeline accretes a file per (micro)batch per
    partition, and at 100 TB a sink degrades into millions of KB-sized
    files that throttle every downstream scan on open/list overhead
    (and S3 request cost) rather than bytes.

    Per sink: the CURRENT on-disk byte size comes from the Hadoop
    FileSystem's content summary (no data scan), the file count target
    is ceil(bytes / target_file_bytes), and the rewrite is one
    repartition(n) job per sink preserving the route_partition layout.
    The rewrite goes through a sibling staging directory + a TWO-rename
    swap (path→._compact_old, staging→path; each rename is atomic on
    HDFS and a fast metadata move locally, but the pair is NOT one
    atomic operation — on object stores prefer the Iceberg path in
    `write_sinks_iceberg`, where compaction is a snapshot-safe rewrite).

    Guarantee, stated honestly (ADVICE r3): a reader that lists the sink
    sees the complete old data or the complete new data, never a partial
    mix — but BETWEEN the two renames there is a window where the sink
    directory does not exist (a racing reader gets an empty/missing
    listing, not wrong rows), and a crash inside that window strands the
    data in `sink=<name>._compact_old`. That state is RECOVERABLE and
    this function self-heals it: on entry, any `._compact_old` whose
    sink directory is missing is renamed back (the data was complete
    when it was set aside); one whose sink directory EXISTS is deleted
    (the swap completed and only the backup cleanup was lost — leaving
    it would double every read of base_path); and leftover
    `._compact_tmp` staging dirs from a crashed write are deleted (they
    may be partial; the live sink
    was never touched). The reference's file-sink ack model
    (streamcfg.go:96-120) gives the same old-or-new listing guarantee
    with the same non-atomic swap caveat, minus Iceberg's time travel.
    """
    jvm = spark._jvm  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    base_jpath = jvm.org.apache.hadoop.fs.Path(base_path)
    base_fs = base_jpath.getFileSystem(conf)
    # crash recovery BEFORE listing sinks (see docstring)
    for st in base_fs.listStatus(base_jpath):
        name = st.getPath().getName()
        if name.endswith("._compact_tmp"):
            _fs_delete(base_fs, st.getPath())
        elif name.endswith("._compact_old"):
            live = jvm.org.apache.hadoop.fs.Path(
                base_path, name[: -len("._compact_old")])
            if not base_fs.exists(live):
                _fs_rename(base_fs, st.getPath(), live)
            else:
                # live present -> the swap COMPLETED and only the
                # backup delete was lost (crash between rename 2 and
                # delete). The backup is the pre-compaction copy; left
                # in place it would be enumerated as its own
                # 'foo._compact_old' sink and double every read of
                # base_path (review r4) — drop it.
                _fs_delete(base_fs, st.getPath())
    out: dict[str, int] = {}
    for sink, path in _list_sink_dirs(spark, base_path).items():
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(conf)
        size = int(fs.getContentSummary(jpath).getLength())
        n_files = max(1, -(-size // target_file_bytes))
        df = spark.read.format(file_format).load(path)
        part_cols = [c for c in df.columns if c == "route_partition"]
        staging = jvm.org.apache.hadoop.fs.Path(path + "._compact_tmp")
        writer = (df.repartition(n_files)
                    .write.mode("overwrite").format(file_format))
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.save(staging.toString())
        backup = jvm.org.apache.hadoop.fs.Path(path + "._compact_old")
        if fs.exists(backup):
            _fs_delete(fs, backup)
        _fs_rename(fs, jpath, backup)
        _fs_rename(fs, staging, jpath)
        _fs_delete(fs, backup)
        n_after = sum(1 for st in fs.listStatus(jpath)
                      if not st.isDirectory()
                      and not st.getPath().getName().startswith("_"))
        if part_cols:   # files live under route_partition=* subdirs
            n_after = 0
            for st in fs.listStatus(jpath):
                if st.isDirectory():
                    n_after += sum(
                        1 for f in fs.listStatus(st.getPath())
                        if not f.isDirectory()
                        and not f.getPath().getName().startswith("_"))
        out[sink] = n_after
    return out
