"""Structured Streaming over the ``events`` table: watermarked tumbling /
sliding / session windows, streaming dedup, and a run-to-completion helper.

The reference is strictly batch (its job stage machine terminates at FINISHED,
``/root/reference/src/tmapreduce/job.h:26-39``); streaming is a required
category from SURVEY §2B. Each windowed transform here is defined over ANY
DataFrame — batch or streaming — so correctness is testable by running the
same function in both modes (and against the batch oracle in the catalog:
``events_tumbling_10min`` is the batch twin of :func:`tumbling_counts`).

Scale notes: watermark + windowed aggregation is incremental state in the
state store, keyed by (window, event_type) — bounded by watermark horizon, not
input size. ``dropDuplicatesWithinWatermark`` state is likewise bounded.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from tmapreduce_spark.parity import SPARK, mround, msum2
from tmapreduce_spark.sources.catalog import parquet_schema
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def events_stream_schema(spark: SparkSession, sf_dir: str):
    """(schema, normalize) pair for streaming reads of the events parquet.

    Streaming file sources need an explicit schema, and the generated
    testdata has shipped events.ts two ways across rounds (TIMESTAMP(NANOS)
    → LONG under nanosAsLong; timestamp[us] without UTC adjustment →
    TIMESTAMP_NTZ).  The footer schema batch reads resolve
    (``sources.catalog.parquet_schema``, inferred once per file version) tells
    us how THIS session decodes the column; ``normalize`` then brings ts to a
    proper TIMESTAMP exactly like ``sources.catalog.load_table`` does for
    batch, so every downstream plan sees one canonical instant type in both
    modes."""
    # A caller-provided session may lack the legacy long read for nanos
    # footers (get_spark sets it, arbitrary sessions don't). Deliberately NOT
    # restored: the lazy scan needs the flag at every micro-batch, not just
    # at definition time (documented in read_stream).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_path = os.path.join(sf_dir, "events.parquet")
    native = parquet_schema(spark, events_path)["ts"].dataType.simpleString()
    if native == "bigint":  # TIMESTAMP(NANOS) footer read as LONG nanos
        ts_type = LongType()

        def normalize(df: DataFrame) -> DataFrame:
            # Truncate (not round) to µs, matching DuckDB's presentation of
            # the same column; integer div avoids double loss at ~1e18 ns.
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))

    elif native == "timestamp_ntz":
        from pyspark.sql.types import TimestampNTZType

        ts_type = TimestampNTZType()

        def normalize(df: DataFrame) -> DataFrame:
            # Same implicit session-tz cast unix_timestamp(ntz) performs.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))

    else:
        ts_type = TimestampType()

        def normalize(df: DataFrame) -> DataFrame:
            return df

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    return schema, normalize


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one-file-per-trigger keeps
    the smoke deterministic; a production deployment points this at a
    landing directory or Kafka with the same downstream plan). The file
    source requires a directory, so point it at sf_dir with a glob filter."""
    schema, normalize = events_stream_schema(spark, sf_dir)
    return normalize(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """10-minute tumbling windows per event_type; late rows beyond the
    watermark are dropped. Batch twin: catalog query ``events_tumbling_10min``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.expr(msum2("value", SPARK)).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("bucket_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in 2 windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("bucket_epoch"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame, gap: str = "15 minutes", watermark: str = "60 minutes") -> DataFrame:
    """Per-user session windows with a 15-minute inactivity gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.expr(msum2("value", SPARK)).alias("session_value"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("session_start"),
            F.unix_timestamp(F.col("win.end")).alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def ohlc_hourly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming OHLC bars per (event_type, hour): open/close picked by
    min_by/max_by over the (ts, event_id) total order — the DECLARATIVE
    first/last formulation, because analytic row_number windows (the batch
    twin `events_ohlc_hourly`'s formulation) don't exist in streaming; both
    pick the same rows under the same total order (test-pinned). State per
    key is O(1) (four scalars + the argmin/argmax structs), evicted at the
    watermark — the downsample-on-ingest operator that keeps 100 TB of raw
    events out of the store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.expr(mround("min_by(value, struct(ts, event_id))", 6)).alias("open"),
            F.expr(mround("max(value)", 6)).alias("high"),
            F.expr(mround("min(value)", 6)).alias("low"),
            F.expr(mround("max_by(value, struct(ts, event_id))", 6)).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


DOCUMENTS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the arriving-crawl
    side of the streaming admission pipeline."""
    return (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def admit_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest admission via STREAM-STATIC anti-join: arriving
    documents (doc_id % 5 = 0, modeling tonight's crawl) are admitted only
    if their content hash does not already exist in the static corpus (the
    rest) — the streaming twin of `dedup_incremental_admit`'s exact stage.

    Scale: the static side reduces to a 16-byte-hash set built ONCE per
    micro-batch plan (broadcast under AQE when small, shuffled hash join
    otherwise); the stream ships only (hash, metadata). Stream-static joins
    need no watermark/state store — the static side is not in motion."""
    from tmapreduce_spark.sources.catalog import load_table

    corpus_hashes = (
        load_table(spark, sf_dir, "documents")
        .filter(F.expr("doc_id % 5 != 0"))
        .selectExpr("md5(text) AS h")
        .distinct()
    )
    incoming = (
        stream_documents(spark, sf_dir)
        .filter(F.expr("doc_id % 5 = 0"))
        .selectExpr("doc_id", "lang", "n_chars", "md5(text) AS h")
    )
    return incoming.join(corpus_hashes, "h", "left_anti").select(
        "doc_id", "lang", "n_chars"
    )


def dedup_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    bounded-state streaming analog of ``dedup_exact_*``."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def click_purchase_join(events: DataFrame, horizon: str = "30 minutes") -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    clicks in the preceding ``horizon``. Both sides carry watermarks so the
    join state store evicts clicks older than the horizon — state is bounded
    by (watermark window × click rate), not stream length. Works identically
    on batch DataFrames (the test's oracle twin)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", horizon)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("p_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
    )


# ---------------------------------------------------------------------------
# Source-agnostic ingestion: the windowed plans above consume ANY stream that
# lands in the canonical events schema. read_stream() is the single front
# door; each kind is a different physical source producing the same columns,
# so swapping file -> Kafka in production is a one-argument change, not a
# replumb.
# ---------------------------------------------------------------------------

# Kafka record envelope (the exact columns Spark's real kafka source emits:
# key/value payload + topic/partition/offset/timestamp metadata). The mock
# layout is a directory of JSON files with these columns, partitioned like a
# topic; the decode path (from_json on `value`) is byte-for-byte what a real
# Kafka deployment runs after `.format("kafka")`.
KAFKA_ENVELOPE_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("value", StringType()),
        StructField("topic", StringType()),
        StructField("partition", LongType()),
        StructField("offset", LongType()),
    ]
)

# payload carried in the Kafka value: events row with ts as LONG microseconds
# (serializing the timestamp as an integer dodges JSON timestamp-format
# truncation; decode is timestamp_micros on both engines).
EVENTS_PAYLOAD_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def write_kafka_mock(spark: SparkSession, sf_dir: str, out_dir: str, n_partitions: int = 4) -> None:
    """Materialize the events table as a mock Kafka topic directory:
    JSON-envelope files partitioned by a key-hash 'partition' column, one
    monotone offset per record — the at-rest shape of a topic dump."""
    from tmapreduce_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    env = ev.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.unix_micros("ts").alias("ts_us"),
                F.col("user_id"),
                F.col("event_type"),
                F.col("value"),
                F.col("props"),
            )
        ).alias("value"),
        F.lit("events").alias("topic"),
        F.pmod(F.col("event_id"), F.lit(n_partitions)).alias("partition"),
        F.col("event_id").alias("offset"),
    )
    env.write.mode("overwrite").partitionBy("partition").json(out_dir)


def read_stream(
    spark: SparkSession, sf_dir: str | None = None, kind: str = "file", path: str | None = None
) -> DataFrame:
    """One events stream, three physical sources — all landing in the
    canonical (event_id, ts, user_id, event_type, value, props) schema:

    - ``file``: the parquet landing-directory source over ``sf_dir``.
    - ``kafka_mock``: Kafka-shaped JSON envelope directory at ``path``
      (see :func:`write_kafka_mock`); decode = from_json on `value`,
      exactly the real ``.format("kafka")`` read path minus the broker.
    - ``rate``: Spark's rate source mapped to deterministic synthetic
      events — an infinite load generator for soak/perf runs.

    Production swap-in: against a real broker, replace the source line
    with ``spark.readStream.format("kafka")
    .option("kafka.bootstrap.servers", ...).option("subscribe", "events")
    .load()`` — it emits the same envelope columns this mock encodes
    (key/value/topic/partition/offset), so the ``from_json(value)`` decode
    and EVERY downstream graph (windows, watermarks, stateful ops) are
    unchanged; no broker ships in this sandbox, which is the only reason
    the envelope arrives from a directory instead of a socket. The
    downstream graph's source-independence is asserted by
    ``tests/test_streaming.py::test_tumbling_matches_batch_from_kafka_mock``
    (same transform over file and kafka-mock sources equals the batch
    twin).

    .. warning:: ``kind='file'`` sets ``spark.sql.legacy.parquet.nanosAsLong
       = true`` on the CALLER'S session and leaves it set: the testdata
       stores TIMESTAMP(NANOS) and the flag must still be active whenever a
       micro-batch executes, so it cannot be snapshot-and-restored around
       this call. Session-wide effect: unrelated batch reads of
       TIMESTAMP(NANOS) parquet on the same session will also decode the
       column as LONG nanos. ``get_spark()`` sessions already run with the
       flag on; only callers bringing their own session and mixing nanos
       parquet reads need care."""
    if kind == "file":
        if sf_dir is None:
            raise ValueError("kind='file' requires sf_dir")
        return stream_events(spark, sf_dir)
    if kind == "kafka_mock":
        if path is None:
            raise ValueError("kind='kafka_mock' requires path")
        raw = spark.readStream.schema(KAFKA_ENVELOPE_SCHEMA).option(
            "maxFilesPerTrigger", 8
        ).json(path)
        return (
            raw.select(F.from_json("value", EVENTS_PAYLOAD_SCHEMA).alias("e"))
            .select("e.*")
            .withColumn("ts", F.expr("timestamp_micros(ts_us)"))
            .drop("ts_us")
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
        )
    if kind == "rate":
        rate = spark.readStream.format("rate").option("rowsPerSecond", 500).load()
        return rate.selectExpr(
            "value AS event_id",
            "timestamp AS ts",
            "value % 50 AS user_id",
            "element_at(array('click','view','purchase'), CAST(value % 3 + 1 AS INT)) AS event_type",
            "CAST(value % 100 AS DOUBLE) / 10 AS value",
            "CAST(NULL AS STRING) AS props",
        )
    raise ValueError(f"unknown stream kind: {kind!r}")


def run_stream_to_memory(
    spark: SparkSession, streaming_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a stream with availableNow (process-everything-then-stop) into an
    in-memory table; returns the materialized result as a batch DataFrame."""
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the orders parquet (the CDC-feed stand-in for
    the SCD2 streaming twin). The footer is timestamp[us] without UTC
    adjustment at every shipped SF, so Spark 4 infers TIMESTAMP_NTZ —
    declared explicitly here because a streaming source cannot infer."""
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
