"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in a single JVM; the configs
here are chosen so the same plans scale to a real multi-executor cluster:
AQE re-plans shuffles at runtime (coalesces small partitions, splits skewed
ones, converts sort-merge joins to broadcast when a side turns out small),
Arrow makes any unavoidable Python UDF batch-vectorized, and shuffle
partition counts are sized for the local core count but overridable for a
cluster via ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Collection

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "tmapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    On a real cluster, drop ``master`` and submit with ``spark-submit``; every
    config below remains valid. AQE is the load-bearing one at 100 TB: it
    handles skewed shuffle partitions (salting rarely needed) and picks
    broadcast joins at runtime based on observed sizes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus) if cpus.isdigit() else 32, 8)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- shuffle sizing -------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # --- adaptive execution: runtime re-plan, skew handling -------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Arrow for any pandas UDF / toPandas path ------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: keep partitions in the 128 MB sweet spot -----------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # wide single-pass aggregates (agg_permutation_test folds 124
        # bit-sliced sums in one HashAggregate) must stay inside
        # whole-stage codegen; the default 100-field cutoff dropped that
        # plan to interpreted eval (measured 1.5x slower at sf0.1). This
        # bounds generated-code size per plan, not cluster size — the
        # hugeMethodLimit JIT fallback still guards pathological plans.
        .config("spark.sql.codegen.maxFields", "200")
        # --- deterministic session timezone for oracle parity ----------------
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark has no
        # native type for — read as LONG nanos; sources.catalog converts to a
        # microsecond timestamp at load (SURVEY §7 hard-part 3).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    root = _package_root()
    if root is not None:
        # Python workers skip re-reading unchanged zip archives on sys.path
        # at every task start (pyworker module docstring). Without a package
        # directory to put on the workers' path, PySpark's own daemon runs.
        builder = builder.config("spark.python.daemon.module", "tmapreduce_spark.pyworker")
    spark = builder.getOrCreate()
    if root is not None:
        # The context's ``environment`` is the spark.executorEnv.* map every
        # Python function carries to its workers. Merging here, not through
        # the builder, keeps a PYTHONPATH the caller set in spark-defaults or
        # on the command line, which a builder value would replace.
        env = spark.sparkContext.environment
        paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        if root not in paths:
            env["PYTHONPATH"] = os.pathsep.join([*paths, root])
    return spark


def _package_root() -> str | None:
    """The directory holding the ``tmapreduce_spark`` package, which the
    workers need on their path to start the daemon and to import the
    engine's UDFs: the worker daemon starts from the JVM's working directory,
    so a driver that found the package only through its own ``sys.path``
    would leave every Python task failing. ``None`` when the package is not
    imported from a directory (an installed zip, for instance)."""
    import tmapreduce_spark

    pkg = os.path.dirname(os.path.abspath(tmapreduce_spark.__file__))
    return os.path.dirname(pkg) if os.path.isdir(pkg) else None


def noop_run(
    spark: SparkSession, fn: Callable[[SparkSession, str], DataFrame], sf_dir: str
) -> float:
    """Build one catalog query and run it through the ``noop`` sink; return
    the wall seconds of build + execution. RDDs the run persisted (its
    ``localCheckpoint``s) are then unpersisted, blocking, outside the timed
    window: pinned checkpoints accumulate executor GC pressure across
    hundreds of queries, and a non-blocking release bleeds into the next
    query's timed window."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    release_rdds(spark, keep=before)
    return elapsed


def release_rdds(spark: SparkSession, keep: Collection[int] = ()) -> None:
    """Unpersist, blocking, every persisted RDD whose id is not in ``keep``."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(m.keySet().toArray()):
        if rid not in keep:
            m.get(rid).unpersist(True)
