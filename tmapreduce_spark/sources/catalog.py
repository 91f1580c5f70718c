"""Table catalog over the parquet testdata (TESTDATA.md).

The reference's only sources are a REST JSON body (``gateway.cc:87-106``) and
a client-side file slurp (``word_count_client.cc:30-43``); this engine's scan
layer is columnar parquet with Catalyst predicate pushdown and column pruning
— the load-bearing difference at 100 TB (only referenced columns reach IO,
filters reach the parquet row-group statistics).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change how Spark decodes parquet physical types into
# Catalyst types; an inferred schema is only valid under the values it was
# inferred with.
_DECODE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# (path, decode conf values) -> (file version, inferred schema).
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def file_version(path: str) -> tuple | None:
    """Identity of the bytes at ``path``: inode, size and mtime of a file, or
    every file's (relative name, size, mtime) under a directory. ``None``
    when the path cannot be stat'ed locally."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    version = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            fst = os.stat(full)
            version.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(version))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, resolved once per file
    version and decode-conf setting, as a metastore would hold it.

    Inference reads the parquet footers in a Spark job; a pinned schema
    (``spark.read.schema(...)``) needs none. This caches metadata only:
    every read of the returned schema still plans and scans the data. A file
    rewritten in place changes its version and is inferred again, and a
    session that decodes the footer differently gets its own entry. A path
    that cannot be stat'ed is inferred on every call."""
    key = (path, tuple(spark.conf.get(c) for c in _DECODE_CONFS))
    version = file_version(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and version is not None and hit[0] == version:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if version is not None:
        _SCHEMAS[key] = (version, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # The driver may hand us a session built WITHOUT get_spark(): the
        # events footer is TIMESTAMP(NANOS), which Spark only reads (as LONG)
        # under this session-scoped legacy flag — set it defensively here.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        # Normalize events.ts to TIMESTAMP (LTZ) whatever the parquet footer
        # holds — generated testdata has shipped it two ways across rounds:
        #   * TIMESTAMP(NANOS): with nanosAsLong it arrives as LONG nanos;
        #     truncate (not round) to µs — matching how DuckDB presents the
        #     column as its µs TIMESTAMP — so both engines see identical
        #     instants. Integer `div` avoids double-precision loss at ~1e18ns.
        #   * timestamp[us] without UTC adjustment: Spark 4 infers
        #     TIMESTAMP_NTZ, which instant functions (unix_micros & co)
        #     reject. Cast to TIMESTAMP — identical to the implicit
        #     session-tz cast unix_timestamp(ntz) already performs, so
        #     downstream semantics (and the DuckDB oracle parity) are
        #     unchanged, but the full instant-function surface works.
        from pyspark.sql import functions as F  # local import to avoid cycle

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, spark: SparkSession, *keys: str) -> DataFrame:
    """Fan a FEW-PARTITION scan out across the cluster before a
    CPU-amplifying transform (token/shingle explode, per-row hashing, Arrow
    decode): local single-row-group parquet files arrive as ONE task, which
    serializes the entire tokenize/hash stage on one core no matter how many
    executors exist. Repartitioning the COMPACT pre-explode rows (ids +
    text, not the exploded fan-out) costs one small shuffle and buys full
    parallelism — and when `keys` name the downstream groupBy key, the
    exchange double-serves as the aggregation's shuffle (HashPartitioning
    is preserved through projections/explodes, so the agg adds no second
    exchange).

    Guarded: a scan that already has >= defaultParallelism partitions — the
    100 TB production case, where inputs arrive as thousands of splits —
    passes through untouched, so this never adds a shuffle at scale. The
    partition probe is plan-side only (no job) and caches with the plan."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F  # local import to avoid cycle

    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so ``spark.sql`` works
    against the same names DuckDB's oracle uses."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_jsonl_shards(
    df: DataFrame, out_dir: str, n_shards: int, shard_col: str = "shard"
) -> None:
    """Materialize a corpus as deterministic JSONL shards — the standard
    LLM-training export format (one JSON object per line, a fixed shard
    count a downstream loader can address): `repartition(n, shard_col)`
    routes every row of a shard into ONE task, and the partitionBy write
    lays each shard down as its own `shard=K/` directory, so shard
    membership is exactly the md5-priority assignment
    (`pipeline_shard_output`-style), never file-size chance.

    Scale: one hash exchange on the shard key; each writer task streams
    its shard — no driver collect, no global sort. Shard sizes stay
    balanced because the assignment column is a content hash."""
    (
        df.repartition(n_shards, shard_col)
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .json(out_dir)
    )
