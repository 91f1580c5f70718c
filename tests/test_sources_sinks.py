"""Source/sink coverage: KV ingestion from JSON/CSV/text (the REST-payload
analog, FIXTURES §1), parquet write round-trips, partitioned writes."""

from __future__ import annotations

import functools
import json
import os
import shutil

import pytest
from pyspark.sql import DataFrame, SparkSession

from tests.conftest import SF_SMOKE, jobs_in_group
from tmapreduce_spark.sources.catalog import TABLES, load_table, parquet_schema

KVS = [("1", "alpha"), ("2", "bravo"), ("3", "charlie")]


def read_kv_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines KV ingestion — the scan analog of the reference's REST
    ``/launch`` payload shape (``gateway.cc:43-48``: string key, string value)."""
    df = spark.read.json(path)
    return df.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")


def read_kv_csv(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.option("header", "true").csv(path)
    return df.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")


def read_kv_text(spark: SparkSession, path: str) -> DataFrame:
    """Whole-line text source; the reference client keys by file name
    (``word_count_client.cc:30-43``), so each line keys by its source file."""
    from pyspark.sql import functions as F

    return spark.read.text(path).select(
        F.input_file_name().alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def test_read_kv_json(spark, tmp_path):
    p = tmp_path / "kv.jsonl"
    p.write_text("\n".join(json.dumps({"key": k, "value": v}) for k, v in KVS))
    got = sorted((r["key"], r["value"]) for r in read_kv_json(spark, str(p)).collect())
    assert got == KVS


def test_read_kv_csv(spark, tmp_path):
    p = tmp_path / "kv.csv"
    p.write_text("key,value\n" + "\n".join(f"{k},{v}" for k, v in KVS))
    got = sorted((r["key"], r["value"]) for r in read_kv_csv(spark, str(p)).collect())
    assert got == KVS


def test_read_kv_text(spark, tmp_path):
    p = tmp_path / "doc.txt"
    p.write_text("line one\nline two\n")
    rows = read_kv_text(spark, str(p)).collect()
    assert sorted(r["value"] for r in rows) == ["line one", "line two"]
    assert all(r["key"].endswith("doc.txt") for r in rows)


def _job_sites(spark, group, fn):
    """Run ``fn()`` under job group ``group``; the call sites of the Spark
    jobs it ran."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return [store.job(j).name() for j in jobs_in_group(spark, group, fn)]


def test_schema_inferred_once_per_file(spark, tmp_path):
    """The first load of a table infers its schema in a parquet footer job;
    a second load of the unchanged file runs no Spark job at all."""
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path)
    load = functools.partial(load_table, spark, str(tmp_path), "orders")
    first = _job_sites(spark, "schema-first-load", load)
    second = _job_sites(spark, "schema-second-load", load)
    assert any(site.startswith("parquet") for site in first), first
    assert second == []


def test_directory_table_keyed_on_its_files(spark, tmp_path):
    """A table stored as a directory of part files is resolved once, and
    inferred again once a part file is added."""
    region = load_table(spark, SF_SMOKE, "region")
    out = str(tmp_path / "region.parquet")
    region.write.parquet(out)
    load = functools.partial(load_table, spark, str(tmp_path), "region")
    assert any(s.startswith("parquet") for s in _job_sites(spark, "dir-first-load", load))
    assert _job_sites(spark, "dir-second-load", load) == []
    region.write.mode("append").parquet(out)
    assert any(s.startswith("parquet") for s in _job_sites(spark, "dir-grown-load", load))
    assert load().count() == 2 * region.count()


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten in place with another ts footer is inferred again:
    the second load sees the new footer, and both normalise ts to the same
    instants."""
    from pyspark.sql import functions as F

    from tests.test_footer_variants import ROWS, _write_events

    path = os.path.join(str(tmp_path), "events.parquet")
    got = {}
    for unit, native in (("ns", "bigint"), ("us", "timestamp_ntz")):
        _write_events(str(tmp_path), unit)
        df = load_table(spark, str(tmp_path), "events")
        assert parquet_schema(spark, path)["ts"].dataType.simpleString() == native
        assert dict(df.dtypes)["ts"] == "timestamp"
        got[unit] = sorted(
            tuple(r) for r in df.select("event_id", F.unix_micros("ts")).collect()
        )
    assert got["ns"] == got["us"] == sorted((r[0], r[1]) for r in ROWS)


def test_decode_confs_key_the_schema(spark, tmp_path):
    """A session conf that changes how parquet types decode gets its own
    schema, never one inferred under another value."""
    from tests.test_footer_variants import _write_events

    paths = {}
    for unit in ("ns", "us"):
        (tmp_path / unit).mkdir()
        paths[unit] = os.path.join(_write_events(str(tmp_path / unit), unit), "events.parquet")
    nanos, ntz = ("spark.sql.legacy.parquet.nanosAsLong",
                  "spark.sql.parquet.inferTimestampNTZ.enabled")
    saved = {k: spark.conf.get(k) for k in (nanos, ntz)}
    try:
        # TIMESTAMP(NANOS) only decodes under nanosAsLong: off must fail
        # each time, even after a LONG schema was resolved with it on.
        for value in ("false", "true", "false"):
            spark.conf.set(nanos, value)
            if value == "false":
                with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
                    parquet_schema(spark, paths["ns"])
            else:
                assert parquet_schema(spark, paths["ns"])["ts"].dataType.simpleString() == "bigint"
        spark.conf.set(nanos, "true")
        for value, native in (("true", "timestamp_ntz"), ("false", "timestamp"),
                              ("true", "timestamp_ntz")):
            spark.conf.set(ntz, value)
            assert parquet_schema(spark, paths["us"])["ts"].dataType.simpleString() == native
            assert parquet_schema(spark, paths["us"]) == spark.read.parquet(paths["us"]).schema
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pinned_schema_reads_match_inferred(spark):
    """For every catalog table a read through the resolved schema has the
    schema and row count of a freshly inferred read."""
    for name in TABLES:
        path = os.path.join(SF_SMOKE, f"{name}.parquet")
        fresh = spark.read.parquet(path)
        pinned = spark.read.schema(parquet_schema(spark, path)).parquet(path)
        assert pinned.dtypes == fresh.dtypes, name
        assert pinned.schema == fresh.schema, name
        assert pinned.count() == fresh.count(), name


def test_parquet_roundtrip(spark, tmp_path):
    out = str(tmp_path / "lineitem_out")
    df = load_table(spark, SF_SMOKE, "lineitem")
    df.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_partitioned_write_prunes(spark, tmp_path):
    """Partitioned layout: reading one partition must scan only that
    directory (partition pruning — the at-rest layout lever for 100 TB)."""
    out = str(tmp_path / "orders_by_status")
    load_table(spark, SF_SMOKE, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    assert sorted(
        d for d in os.listdir(out) if d.startswith("o_orderstatus=")
    ) == ["o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]
    one = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() > 0
    # pruned scan must not mention the other partition dirs
    assert "o_orderstatus=O" not in plan


def test_stateful_running_totals(spark):
    """applyInPandasWithState: final per-user running totals must equal the
    batch groupBy (take the last update per user)."""
    from tmapreduce_spark.streaming.events import run_stream_to_memory, stream_events
    from tmapreduce_spark.streaming.stateful import running_user_totals
    from pyspark.sql import functions as F

    s = running_user_totals(stream_events(spark, SF_SMOKE))
    mem = run_stream_to_memory(spark, s, "t_stateful", output_mode="update")
    # update mode may emit a row per micro-batch; the file arrives as one
    # batch here, so rows are already final — still, take the max to be safe.
    final = mem.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    a = {(r["user_id"], r["n_events"]) for r in final.collect()}
    b = {(r["user_id"], r["n_events"]) for r in batch.collect()}
    assert a == b


def test_range_partitioned_sorted_write(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions: the at-rest layout for
    time-ordered data — parquet files cover disjoint date ranges, so a date
    filter prunes to ~1/N of the files via row-group stats."""
    import pyspark.sql.functions as F

    out = str(tmp_path / "orders_ranged")
    (
        load_table(spark, SF_SMOKE, "orders")
        .repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    parts = sorted(p for p in os.listdir(out) if p.endswith(".parquet"))
    # repartitionByRange guarantees AT MOST 4 non-empty partitions
    assert 2 <= len(parts) <= 4
    ranges = []
    for p in parts:
        r = (
            spark.read.parquet(os.path.join(out, p))
            .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
            .collect()[0]
        )
        ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {ranges}"


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC round-trip (second columnar at-rest format after parquet): values
    survive, and a filter on the read path reaches the ORC scan as a pushed
    predicate (Spark's native ORC reader supports pushdown like parquet)."""
    out = str(tmp_path / "orders_orc")
    df = load_table(spark, SF_SMOKE, "orders")
    df.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)
    filtered = back.filter("o_orderstatus = 'F'").select("o_orderkey")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1][:200]
    exp = df.filter("o_orderstatus = 'F'").count()
    assert filtered.count() == exp


def test_schema_evolution_merge(spark, tmp_path):
    """Schema evolution at rest: a second batch adds a column; reading with
    mergeSchema unions the schemas (old rows NULL in the new column) —
    the append-only ingest pattern where producers upgrade over time."""
    out = str(tmp_path / "evolving")
    o = load_table(spark, SF_SMOKE, "orders")
    o.select("o_orderkey", "o_totalprice").write.parquet(out + "/batch=1")
    o.select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.parquet(out + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"o_orderkey", "o_totalprice", "o_orderstatus", "batch"}
    n = o.count()
    assert merged.count() == 2 * n
    assert merged.filter("o_orderstatus IS NULL").count() == n
    assert merged.filter("batch = 1 AND o_orderstatus IS NOT NULL").count() == 0


def test_events_ts_normalized_to_instant(spark):
    """events.ts must load as TIMESTAMP (LTZ) whatever the parquet footer
    holds — the driver has shipped it as TIMESTAMP(NANOS) (rounds 1-2) and as
    timestamp[us]/NTZ (round 3, which crashed unix_micros in BENCH_r03).
    The full instant-function surface must work on the loaded column."""
    from pyspark.sql import functions as F

    df = load_table(spark, SF_SMOKE, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # unix_micros rejects TIMESTAMP_NTZ outright — this line IS the regression
    row = df.select(F.unix_micros("ts").alias("us")).agg(F.min("us")).first()
    assert row[0] is not None


def test_hilbert_layout_write_tightens_rowgroup_envelopes(spark, tmp_path):
    """The at-rest payoff of the Hilbert key: writing orders range-sorted
    by hkey produces parquet row groups whose per-group (cust_bucket,
    price_bucket) min/max envelopes are dramatically tighter than an
    unclustered write — which is exactly what row-group skipping prunes
    on for 2-D predicates. Measured directly from parquet footer stats."""
    import pyarrow.parquet as pq

    from tmapreduce_spark.operators.advanced import layout_hilbert_key
    from tests.conftest import SF_CORRECT

    df = layout_hilbert_key(spark, SF_CORRECT)

    plain = str(tmp_path / "plain")
    clustered = str(tmp_path / "clustered")
    # force multiple row groups per file so envelopes are measurable
    small_rg = {"parquet.block.size": 64 * 1024}
    df.coalesce(1).write.options(**small_rg).parquet(plain)
    (
        df.repartitionByRange(1, "hkey")
        .sortWithinPartitions("hkey")
        .write.options(**small_rg)
        .parquet(clustered)
    )

    def envelope_area(path: str) -> float:
        import glob

        total, n = 0.0, 0
        for f in glob.glob(path + "/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            cols = {
                meta.row_group(0).column(i).path_in_schema: i
                for i in range(meta.num_columns)
            }
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                cx = rg.column(cols["cust_bucket"]).statistics
                cy = rg.column(cols["price_bucket"]).statistics
                total += (cx.max - cx.min + 1) * (cy.max - cy.min + 1)
                n += 1
        assert n >= 4, f"expected multiple row groups, got {n}"
        return total / n

    mean_plain = envelope_area(plain)
    mean_clustered = envelope_area(clustered)
    # Hilbert-sorted row groups cover a fraction of the 1024x1024 space;
    # the unclustered write's groups cover essentially all of it.
    assert mean_clustered < mean_plain / 4, (mean_clustered, mean_plain)


def test_spread_is_noop_on_well_partitioned_input(spark):
    """The spread() fan-out guard: an input that already has >=
    defaultParallelism partitions (the production case) passes through
    UNTOUCHED — no repartition exchange is ever added at scale — while a
    single-partition local scan fans out to defaultParallelism."""
    from tests.conftest import SF_SMOKE
    from tmapreduce_spark.sources.catalog import load_table, spread

    target = spark.sparkContext.defaultParallelism
    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    assert d.rdd.getNumPartitions() < target  # single-row-group local file
    assert spread(d, spark, "doc_id").rdd.getNumPartitions() == target
    wide = d.repartition(target + 4, "doc_id")
    assert spread(wide, spark, "doc_id") is wide  # returned unmodified


def test_write_jsonl_shards_roundtrip_and_layout(spark, tmp_path):
    """JSONL shard export: every shard lands as its own shard=K directory,
    the JSON-lines round-trip preserves all rows/columns, and shard
    membership in the files matches the deterministic assignment column."""
    from tests.conftest import SF_SMOKE
    from tmapreduce_spark.sources.catalog import load_table, write_jsonl_shards
    from pyspark.sql import functions as F

    d = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "source")
        .withColumn(
            "shard", F.pmod(F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long"), F.lit(4))
        )
    )
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl_shards(d, out, 4)
    import os

    dirs = sorted(p for p in os.listdir(out) if p.startswith("shard="))
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    # partition column comes back from the directory name on the read
    back = spark.read.option("basePath", out).json(out)
    want = {(r["doc_id"], r["shard"]) for r in d.collect()}
    got = {(int(r["doc_id"]), int(r["shard"])) for r in back.collect()}
    assert got == want


def _drain_launch_stream(spark, spool_dir, protocol, out, ckpt):
    """One availableNow drain of the launch stream into a parquet sink with
    a PERSISTENT checkpoint — the restartable half of the exactly-once
    contract (the memory-sink tests use throwaway checkpoints)."""
    from tmapreduce_spark.sources.stream_launch import read_launch_stream

    q = (
        read_launch_stream(spark, spool_dir, protocol=protocol)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_launch_stream_restart_resumes_exactly_once(spark, tmp_path):
    """Kill-and-restore e2e for the launchstream source (r11 verdict #4),
    under BOTH visibility protocols: ingest N payloads, drain and STOP the
    query, append M more while no query is running, restart from the same
    checkpoint — the restarted query must resume from the committed offset
    (consuming exactly the M new payloads) so the sink holds every seq
    0..N+M-1 exactly once: no replayed duplicates, no gaps. A third restart
    with nothing new must add zero rows."""
    import pytest as _pytest

    from tmapreduce_spark.sources.stream_launch import LaunchSpool

    for protocol in ("rename", "marker"):
        base = tmp_path / protocol
        spool_dir, out, ckpt = (
            str(base / "spool"), str(base / "out"), str(base / "ckpt")
        )
        spool = LaunchSpool(spool_dir, protocol=protocol)
        for i in range(5):
            spool.append(f"job{i}", "wordcount", [("k", str(i)), ("k2", f"v{i}")])

        _drain_launch_stream(spark, spool_dir, protocol, out, ckpt)
        first = spark.read.parquet(out).collect()
        assert sorted({r["seq"] for r in first}) == list(range(5)), protocol
        assert len(first) == 10, protocol  # 2 kv rows per payload

        # stopped-world appends, then restart from the SAME checkpoint
        for i in range(5, 9):
            spool.append(f"job{i}", "wordcount", [("k", str(i))])
        _drain_launch_stream(spark, spool_dir, protocol, out, ckpt)
        second = spark.read.parquet(out).collect()
        seqs = sorted(r["seq"] for r in second)
        # seqs 0-4 carry two rows each, 5-8 one row each — each EXACTLY once
        assert seqs == sorted(list(range(5)) * 2 + list(range(5, 9))), protocol
        assert {r["name"] for r in second} == {f"job{i}" for i in range(9)}

        # idle restart: offsets fully caught up, nothing is re-emitted
        _drain_launch_stream(spark, spool_dir, protocol, out, ckpt)
        third = spark.read.parquet(out).collect()
        assert len(third) == len(second), protocol
