"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §4): AQE on (runtime coalesce +
skew-join splitting), Arrow transfer for the parse UDFs, UTC session tz (all
reference timestamps normalize to UTC), and shuffle partitions sized to the
local harness (override per cluster via spark-submit --conf)."""

from __future__ import annotations

import functools
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession


def per_context(fn):
    """Memoize a function that builds Column expressions, once per
    SparkContext, keyed by the function and its (hashable) arguments.

    Every Column-API call is a py4j round-trip plus PySpark's call-site
    capture, so rebuilding the pipeline's expression trees costs thousands
    of round-trips per `unify` call. Unresolved Column expressions hold no
    session state (time zone, ANSI mode and the like resolve at analysis),
    so one set serves every session of the context. A function may
    be memoized only if its result depends on its arguments alone: never
    one that closes over a DataFrame-bound column (`df["x"]`), a session
    conf value or a Column passed in by the caller. The result is shared:
    callers must not mutate it. Two threads that miss at once both build,
    and either result is valid."""
    @functools.wraps(fn)
    def memoized(*args):
        sc = SparkContext._active_spark_context  # noqa: SLF001
        if sc is None:
            return fn(*args)
        memo = sc.__dict__.setdefault("_logunify_column_memo", {})
        key = (fn, args)
        if key not in memo:
            memo[key] = fn(*args)
        return memo[key]
    return memoized


def observation_or(obs, recompute) -> dict:
    """`obs.get`, or `recompute()` when the observed plan ran no task.

    Spark 4.1 bug: when no task executes a CollectMetrics node (a
    zero-row write, or AQE pruning the observed branch as empty),
    `Observation.get` receives a schemaless row and
    `PythonSQLUtils.toPyRow` asserts. Only that failure (a Py4JJavaError
    naming `toPyRow` and `AssertionError`) falls back: any other failure
    of the observed action (job abort, OOM, analysis error) must surface,
    not be masked by a silent recompute."""
    try:
        return obs.get
    except Exception as e:
        msg = str(e)
        if not (type(e).__name__ == "Py4JJavaError"
                and "toPyRow" in msg and "AssertionError" in msg):
            raise
        return recompute()


def ship_package(spark: SparkSession) -> str:
    """Make `logunifier_spark` importable on every executor regardless of the
    driver's cwd — the programmatic equivalent of `spark-submit --py-files`.
    Zips the package once per session and registers it with addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(),
                        f"logunifier_spark_pyfiles_{os.getpid()}")
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        staging = base + "_stage"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.copytree(pkg_dir, os.path.join(staging, "logunifier_spark"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.make_archive(base, "zip", staging)
        shutil.rmtree(staging, ignore_errors=True)
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def get_spark(app_name: str = "logunifier-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the Python round-trip for the
        # parse UDF (its per-batch setup is a fixed cost)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
