"""Reference-parity tests for the MapReduce job API (FIXTURES.md §3 golden
jobs + error paths, semantics cited from /root/reference in mapreduce.py)."""

from __future__ import annotations

from collections import Counter

import pytest

from tests.conftest import jobs_in_group
from tmapreduce_spark.mapreduce import (
    IN_DRIVER_MAX_CHARS,
    JOB_RESULT_TIMEOUT_SECOND,
    JobStage,
    LaunchError,
    MapReduceEngine,
    ResultError,
)

KVS = [
    ("1", "sgdakjsdkashdashdashdjkasdhkjasdhkashdk"),
    ("2", "sdakjshdkajsdhj"),
    ("3", "dhaksjdhksadhasjkdashdasdhkjasdhakjshdkasjdda"),
]


@pytest.fixture(scope="module")
def engine(spark, in_driver_max_chars):
    return MapReduceEngine(spark, in_driver_max_chars=in_driver_max_chars)


def _path(in_driver_max_chars):
    """The path a small test payload takes under this module's gate."""
    return "driver" if in_driver_max_chars else "spark"


def expected_charcount(kvs):
    total = Counter()
    for _k, v in kvs:
        total.update(c for c in v if ("a" <= c <= "z") or ("0" <= c <= "9"))
    out = []
    for ch in sorted(total):
        out.extend([ch, str(total[ch])])
    return out


def test_charcount_golden(engine):
    """The reference's shipped example job: flat [k1, n1, k2, n2, ...] sorted
    by key (word_count.cc:9-34, job.cc:63-77)."""
    job_id = engine.launch("wc", "charcount", KVS, mapper_num=2, reducer_num=2, token="tk")
    assert engine.wait(job_id) is JobStage.FINISHED
    result = engine.get_result(job_id, token="tk")
    assert result == expected_charcount(KVS)
    assert engine._jobs[job_id].path == _path(engine.in_driver_max_chars)


def test_identity_ordering_contract(engine):
    """Global key order + within-key (subjob, emission) value order
    (SURVEY §1.4)."""
    kvs = [("b", "2"), ("a", "1"), ("b", "3"), ("a", "4"), ("c", "5"), ("a", "6")]
    job_id = engine.launch("id", "identity", kvs, mapper_num=3, reducer_num=2)
    engine.wait(job_id)
    result = engine.get_result(job_id)
    # sorted payload: a1,a4,a6,b2,b3,c5 -> slices keep contiguous order, so
    # values per key appear in sorted-payload order.
    assert result == ["1", "4", "6", "2", "3", "5"]


def test_empty_map_short_circuit(engine):
    """Zero map output => job finishes with empty result, reduce never runs
    (master.cc:624-627)."""
    job_id = engine.launch("em", "empty-map", KVS)
    engine.wait(job_id)
    assert engine.get_result(job_id) == []
    assert engine.stage_of(job_id) is JobStage.FINISHED


def test_single_reducer_matches_many(engine):
    job1 = engine.launch("wc", "charcount", KVS, mapper_num=1, reducer_num=1)
    job2 = engine.launch("wc", "charcount", KVS, mapper_num=3, reducer_num=4)
    engine.wait(job1), engine.wait(job2)  # the two jobs run concurrently
    assert engine.get_result(job1) == engine.get_result(job2)


def _launch_in_group(spark, engine, group, job_type, reducer_num=2):
    """Launch under the caller's job group ``group`` and wait; returns the
    job and the Spark job ids of the group. A Spark-path launch's
    InheritableThread carries the group into the job thread."""
    launched = []

    def launch():
        launched.append(engine.launch("oj", job_type, KVS, mapper_num=2,
                                      reducer_num=reducer_num))
        assert engine.wait(launched[0], timeout=60) is JobStage.FINISHED

    jobs = jobs_in_group(spark, group, launch)
    return engine._jobs[launched[0]], jobs


@pytest.mark.parametrize(
    "job_type,reducer_num",
    [("wordcount", 1), ("wordcount", 2), ("wordcount", 4), ("empty-map", 2)],
)
def test_launch_is_one_spark_job(spark, job_type, reducer_num):
    """With the in-driver gate at 0, a launch fires exactly one Spark job of
    at most two stages (map, then groupByKey + reduce): no emptiness probe,
    no sortByKey count/sample jobs."""
    engine = MapReduceEngine(spark, in_driver_max_chars=0)
    job, jobs = _launch_in_group(
        spark, engine, f"one-job-{job_type}-{reducer_num}", job_type,
        reducer_num=reducer_num)
    assert job.path == "spark"
    assert len(jobs) == 1, jobs
    tracker = spark.sparkContext.statusTracker()
    assert len(tracker.getJobInfo(jobs[0]).stageIds) <= 2


def test_spark_reduce_tasks_capped_at_parallelism(spark):
    """On the Spark path a client's reducer_num beyond the session's
    parallelism runs at most ``defaultParallelism`` reduce tasks, with the
    same result as a single reducer."""
    engine = MapReduceEngine(spark, in_driver_max_chars=0)
    parallelism = spark.sparkContext.defaultParallelism
    job, jobs = _launch_in_group(spark, engine, "reduce-cap", "wordcount",
                                 reducer_num=8 * parallelism)
    one, _ = _launch_in_group(spark, engine, "reduce-one", "wordcount", reducer_num=1)
    assert job.path == "spark" and len(jobs) == 1, jobs
    tracker = spark.sparkContext.statusTracker()
    tasks = [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(jobs[0]).stageIds]
    assert max(tasks) <= parallelism, tasks
    assert job.results == one.results


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_only_spark_launches_start_inheritable_threads(spark, monkeypatch, path):
    """An InheritableThread copies the caller's local properties over py4j;
    only a Spark-path launch, whose job must carry the caller's job group,
    starts one."""
    from pyspark import InheritableThread

    starts = []
    start = InheritableThread.start

    def counting_start(self):
        starts.append(self)
        return start(self)

    monkeypatch.setattr(InheritableThread, "start", counting_start)
    engine = MapReduceEngine(
        spark, in_driver_max_chars=IN_DRIVER_MAX_CHARS if path == "driver" else 0)
    job_id = engine.launch("th", "wordcount", KVS)
    assert engine.wait(job_id, timeout=60) is JobStage.FINISHED
    assert engine._jobs[job_id].path == path
    assert len(starts) == (1 if path == "spark" else 0)


@pytest.mark.parametrize("job_type", ["wordcount", "wordcount+c", "empty-map"])
def test_small_launch_runs_no_spark_job(spark, job_type):
    """Under the default gate a small payload runs in the driver (uber
    mode): the caller's job group sees no Spark job at all."""
    engine = MapReduceEngine(spark)
    job, jobs = _launch_in_group(spark, engine, f"no-job-{job_type}", job_type)
    assert job.path == "driver"
    assert jobs == []


def test_gate_boundary_is_inclusive(spark):
    """A payload of exactly ``in_driver_max_chars`` characters
    (``sum(len(key) + len(value))``) runs in the driver; one character more
    runs on Spark, with the same result. A negative gate is rejected."""
    with pytest.raises(ValueError):
        MapReduceEngine(spark, in_driver_max_chars=-1)
    size = sum(len(k) + len(v) for k, v in KVS)
    engine = MapReduceEngine(spark, in_driver_max_chars=size)
    at = engine.launch("at", "charcount", KVS)
    over_kvs = KVS[:-1] + [(KVS[-1][0], KVS[-1][1] + "z")]
    over = engine.launch("over", "charcount", over_kvs)
    for job_id in (at, over):
        assert engine.wait(job_id, timeout=60) is JobStage.FINISHED
    assert engine._jobs[at].path == "driver"
    assert engine._jobs[over].path == "spark"
    assert engine.get_result(at) == expected_charcount(KVS)
    assert engine.get_result(over) == expected_charcount(over_kvs)


def test_empty_map_never_calls_reduce(spark, in_driver_max_chars):
    """With no map output there is no group, so a raising reduce_fn is
    never called: the job returns [] and reaches FINISHED
    (master.cc:624-627)."""
    from tmapreduce_spark.registry import JobRegistry, empty_map

    def bad_reduce(key, values):
        raise RuntimeError("reduce must not run")

    reg = JobRegistry()
    reg.register("empty-bad-reduce", empty_map, bad_reduce)
    engine = MapReduceEngine(spark, registry=reg, in_driver_max_chars=in_driver_max_chars)
    job_id = engine.launch("e", "empty-bad-reduce", KVS, mapper_num=2, reducer_num=3)
    assert engine.wait(job_id, timeout=60) is JobStage.FINISHED
    assert engine.get_result(job_id) == []


@pytest.mark.parametrize("job_type", ["identity", "wordcount+c", "invertedindex"])
def test_partition_counts_beyond_data_match_single_reducer(engine, job_type):
    """More reduce partitions than distinct keys (some reduce partitions get
    nothing) and more mappers than payload pairs must both give the
    reducer_num=1 result."""
    kvs = [("d2", "b a b"), ("d1", "a c"), ("d3", "c a")]
    runs = [(1, 1), (2, 64), (len(kvs) + 5, 2)]
    ids = [engine.launch("p", job_type, kvs, mapper_num=m, reducer_num=r)
           for m, r in runs]
    for i in ids:
        assert engine.wait(i, timeout=60) is JobStage.FINISHED
    results = [engine.get_result(i) for i in ids]
    assert results[0]
    assert results[1] == results[0]
    assert results[2] == results[0]


def test_validation_errors(engine):
    """master.cc:530-535 / gateway.cc:15-51 admission rules."""
    with pytest.raises(LaunchError):
        engine.launch("bad", "charcount", [])
    with pytest.raises(LaunchError):
        engine.launch("bad", "charcount", KVS, mapper_num=0)
    with pytest.raises(LaunchError):
        engine.launch("bad", "charcount", KVS, reducer_num=0)
    with pytest.raises(LaunchError):
        engine.launch("bad", "charcount", [("k", 42)])  # non-string value
    with pytest.raises(KeyError):
        engine.launch("bad", "no-such-type", KVS)


def test_get_result_errors(engine):
    """master.cc:685-699: unknown job, wrong token."""
    with pytest.raises(ResultError):
        engine.get_result(999999)
    job_id = engine.launch("tk", "identity", KVS, token="secret")
    engine.wait(job_id)
    with pytest.raises(ResultError):
        engine.get_result(job_id, token="wrong")
    assert engine.get_result(job_id, token="secret")


def test_result_ttl_gc(engine):
    """Finished jobs GC'd after 1h (master.cc:449-463, master.h:27)."""
    job_id = engine.launch("ttl", "identity", KVS)
    engine.wait(job_id)
    job = engine._jobs[job_id]
    job.finish_time -= JOB_RESULT_TIMEOUT_SECOND + 1
    with pytest.raises(ResultError):
        engine.get_result(job_id)


def test_apply_df_matches_launch(engine, spark):
    """The distributed DataFrame path computes the same per-key outputs as the
    driver-side parity path."""
    df = spark.createDataFrame(KVS, "key string, value string")
    rows = engine.apply_df(df, "charcount").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(r["result"])
    flat = []
    for k in sorted(by_key):
        flat.extend(by_key[k])
    job_id = engine.launch("wc", "charcount", KVS)
    engine.wait(job_id)
    assert flat == engine.get_result(job_id)


def test_apply_df_construction_launches_no_jobs(engine, spark):
    """Building the apply_df DataFrame must launch ZERO Spark jobs: the
    output schema is declared explicitly, so no RDD sampling (rdd.first())
    may execute the map+shuffle lineage before the caller's real action —
    the r12 optimization that de-doubled every mr_* entry's map stage.
    The schema itself stays the declared (key string, result string)."""
    df = spark.createDataFrame(KVS, "key string, value string")
    built = []
    jobs = jobs_in_group(
        spark, "apply_df_build", lambda: built.append(engine.apply_df(df, "charcount"))
    )
    assert not jobs, "apply_df construction fired a Spark job"
    out = built[0]
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("key", "string"),
        ("result", "string"),
    ]


def test_combiner_results_identical_to_plain(engine):
    """The map-side combiner must not change results — only shuffle volume."""
    kvs = [("d1", "aab bb a"), ("d2", "bb cc aab"), ("d3", "a a a")]
    pj = engine.launch("p", "wordcount", kvs, 3, 2, token="t")
    cj = engine.launch("c", "wordcount+c", kvs, 3, 2, token="t")
    engine.wait(pj), engine.wait(cj)
    plain = engine.get_result(pj, token="t")
    combined = engine.get_result(cj, token="t")
    assert plain == combined

def test_async_launch_observable_lifecycle(spark, in_driver_max_chars):
    """launch returns before the job finishes (gateway.cc:131-157): another
    thread can observe intermediate stages, and get_result refuses with
    'job not finished' while the job runs (master.cc:685-699) — the exact
    poll loop the reference client runs (word_count_client.cc:54)."""
    import os
    import tempfile
    import time as _time

    from tmapreduce_spark.registry import JobRegistry, charcount_reduce

    # Filesystem gate (a threading.Event would not pickle into the closure).
    gate_path = os.path.join(tempfile.mkdtemp(), "gate")

    def slow_map(key, value):
        deadline = _time.time() + 30
        while not os.path.exists(gate_path) and _time.time() < deadline:
            _time.sleep(0.05)
        return [(c, "1") for c in value]

    reg = JobRegistry()
    reg.register("slow-charcount", slow_map, charcount_reduce)
    engine = MapReduceEngine(spark, registry=reg, in_driver_max_chars=in_driver_max_chars)

    job_id = engine.launch("slow", "slow-charcount", KVS, token="t")
    # launch returned while the map stage is blocked on the gate: the job
    # must be observably in-flight, and get_result must refuse.
    deadline = _time.time() + 10
    while engine.stage_of(job_id) is JobStage.INIT and _time.time() < deadline:
        _time.sleep(0.01)
    assert engine.stage_of(job_id) is JobStage.MAPPING
    with pytest.raises(ResultError, match="not finished"):
        engine.get_result(job_id, token="t")

    with open(gate_path, "w") as f:
        f.write("go")
    assert engine.wait(job_id, timeout=60) is JobStage.FINISHED
    assert engine.get_result(job_id, token="t") == expected_charcount(KVS)


def test_async_launch_error_surfaces(spark, in_driver_max_chars):
    """A user-function failure is captured on the background thread and
    re-raised to the caller (wait and get_result)."""
    from tmapreduce_spark.registry import JobRegistry, charcount_reduce

    def bad_map(key, value):
        raise RuntimeError("boom in map")

    reg = JobRegistry()
    reg.register("bad-map", bad_map, charcount_reduce)
    engine = MapReduceEngine(spark, registry=reg, in_driver_max_chars=in_driver_max_chars)
    job_id = engine.launch("bad", "bad-map", KVS, token="t")
    with pytest.raises(Exception, match="boom in map"):
        engine.wait(job_id, timeout=60)
    with pytest.raises(ResultError, match="job failed"):
        engine.get_result(job_id, token="t")


def test_failed_reduce_unpersists_cached_rdd(spark, in_driver_max_chars):
    """A reduce-stage failure must not leave a persisted RDD behind: the
    launch path persists nothing at all, so failed jobs can't accumulate
    pinned executor memory across a long-lived session."""
    from tmapreduce_spark.registry import JobRegistry, charcount_map

    def bad_reduce(key, values):
        raise RuntimeError("boom in reduce")

    reg = JobRegistry()
    reg.register("bad-reduce", charcount_map, bad_reduce)
    engine = MapReduceEngine(spark, registry=reg, in_driver_max_chars=in_driver_max_chars)
    # relative check: other tests in the shared session may hold legitimate
    # persistent RDDs (localCheckpoint lineage truncation); the invariant is
    # that THIS failed job leaves no NEW one behind
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    job_id = engine.launch("bad", "bad-reduce", KVS, token="t")
    with pytest.raises(Exception, match="boom in reduce"):
        engine.wait(job_id, timeout=60)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_finished_launch_persists_no_rdd(engine, spark):
    """Success-path twin of the failed-reduce check: a finished launch
    leaves the session's persisted-RDD count where it was."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    job_id = engine.launch("ok", "charcount", KVS, mapper_num=2, reducer_num=2)
    assert engine.wait(job_id, timeout=60) is JobStage.FINISHED
    assert engine.get_result(job_id) == expected_charcount(KVS)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


# -- HTTP/REST gateway (gateway.cc observable contract) ----------------------


def _http(method, port, path, body=None):
    import http.client
    import json as _json

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    payload = _json.dumps(body) if isinstance(body, dict) else body
    conn.request(method, path, body=payload)
    resp = conn.getresponse()
    raw = resp.read()
    conn.close()
    try:
        return resp.status, _json.loads(raw)
    except (ValueError, UnicodeDecodeError):
        return resp.status, raw.decode(errors="replace")


def test_gateway_end_to_end_wordcount(spark, in_driver_max_chars):
    """POST /launch -> poll GET /getresult until the job stops answering
    'job not finished' -> key-ordered flat results, matching the reference
    client's loop (word_count_client.cc:54-63)."""
    import time

    from tmapreduce_spark.gateway import Gateway
    from tmapreduce_spark.mapreduce import MapReduceEngine

    engine = MapReduceEngine(spark, in_driver_max_chars=in_driver_max_chars)
    with Gateway(engine) as gw:
        status, body = _http("GET", gw.port, "/helloworld")
        assert (status, body) == (200, "Hello world.")

        status, body = _http(
            "POST", gw.port, "/launch",
            {
                "name": "wc", "type": "wordcount", "mapper_num": 2,
                "reducer_num": 2, "token": "tok",
                "kvs": [
                    {"key": "a", "value": "x y x"},
                    {"key": "b", "value": "y"},
                ],
            },
        )
        assert status == 200 and body["ok"] is True
        job_id = body["job_id"]

        deadline = time.time() + 120
        while True:
            status, body = _http(
                "GET", gw.port, f"/getresult?job_id={job_id}&token=tok"
            )
            if status == 200:
                break
            assert body["ok"] is False
            assert time.time() < deadline, body
            time.sleep(0.2)
        assert body == {"ok": True, "message": "", "result": ["x", "2", "y", "2"]}


def test_gateway_error_paths(spark):
    from tmapreduce_spark.gateway import Gateway
    from tmapreduce_spark.mapreduce import MapReduceEngine

    ok_req = {
        "name": "wc", "type": "wordcount", "mapper_num": 1, "reducer_num": 1,
        "token": "", "kvs": [{"key": "a", "value": "x"}],
    }
    with Gateway(MapReduceEngine(spark)) as gw:
        # shape violations -> bare 400 (check_launch_request, gateway.cc:15-51)
        for broken in (
            "not json",
            {**ok_req, "mapper_num": "2"},
            {**ok_req, "mapper_num": -1},
            {k: v for k, v in ok_req.items() if k != "token"},
            {**ok_req, "kvs": [{"key": "a", "value": 3}]},
            {**ok_req, "kvs": "nope"},
        ):
            status, _ = _http("POST", gw.port, "/launch", broken)
            assert status == 400, broken

        # shape-valid but rejected by admission -> 500 {"ok": false}
        for rejected in (
            {**ok_req, "mapper_num": 0},
            {**ok_req, "kvs": []},
            {**ok_req, "type": "no_such_type"},
        ):
            status, body = _http("POST", gw.port, "/launch", rejected)
            assert status == 500 and body["ok"] is False, rejected

        # getresult failures: unknown job, wrong token
        status, body = _http("GET", gw.port, "/getresult?job_id=99&token=")
        assert status == 500 and "no such job" in body["message"]

        status, body = _http("POST", gw.port, "/launch", {**ok_req, "token": "s3"})
        job_id = body["job_id"]
        status, body = _http("GET", gw.port, f"/getresult?job_id={job_id}&token=bad")
        assert status == 500 and "wrong token" in body["message"]


@pytest.mark.parametrize("where", ["map", "reduce"])
def test_failed_job_contract(spark, in_driver_max_chars, where):
    """A raising map_fn or reduce_fn: /getresult answers 500 {"ok": false}
    with "job failed" in the message, the job leaves no new persisted RDD,
    and the 3600 s result TTL (master.cc:449-463) collects the failed job as
    it collects finished ones."""
    from tmapreduce_spark.gateway import Gateway
    from tmapreduce_spark.registry import (
        JobRegistry,
        charcount_map,
        charcount_reduce,
    )

    def boom(*_args):
        raise RuntimeError(f"boom in {where}")

    reg = JobRegistry()
    reg.register("bad", boom if where == "map" else charcount_map,
                 boom if where == "reduce" else charcount_reduce)
    engine = MapReduceEngine(spark, registry=reg, in_driver_max_chars=in_driver_max_chars)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    with Gateway(engine) as gw:
        status, body = _http("POST", gw.port, "/launch", {
            "name": "bad", "type": "bad", "mapper_num": 2, "reducer_num": 2,
            "token": "t", "kvs": [{"key": k, "value": v} for k, v in KVS],
        })
        assert status == 200 and body["ok"] is True
        job_id = body["job_id"]
        with pytest.raises(Exception, match=f"boom in {where}"):
            engine.wait(job_id, timeout=60)
        status, body = _http("GET", gw.port, f"/getresult?job_id={job_id}&token=t")
    assert status == 500 and body["ok"] is False, body
    assert "job failed" in body["message"], body
    assert persisted().size() == before
    job = engine._jobs[job_id]
    assert job.path == _path(in_driver_max_chars)
    assert engine.gc(now=job.finish_time + JOB_RESULT_TIMEOUT_SECOND - 1) == 0
    assert engine.gc(now=job.finish_time + JOB_RESULT_TIMEOUT_SECOND + 1) == 1
    assert job_id not in engine._jobs


@pytest.mark.parametrize("length", ["-1", "ten"])
def test_gateway_bad_content_length_is_400(spark, length):
    """A negative or non-integer Content-Length is a shape violation: a bare
    400 without reading the body (gateway.cc:15-51). Reading with length -1
    would block until the client closed the socket."""
    import socket

    from tmapreduce_spark.gateway import Gateway

    with Gateway(MapReduceEngine(spark)) as gw:
        with socket.create_connection(("127.0.0.1", gw.port), timeout=5) as sock:
            sock.sendall(
                f"POST /launch HTTP/1.1\r\nHost: localhost\r\n"
                f"Content-Length: {length}\r\n\r\n".encode()
            )
            status_line = sock.makefile("rb").readline()
    assert status_line.split()[1] == b"400", status_line


def test_gateway_spool_failure_never_500s_a_launched_job(spark):
    """Once the master has admitted the job, a spool failure of ANY exception
    class (not just OSError: e.g. a codec TypeError on a pathological payload)
    must log-and-200 — a 500 would make the client retry and duplicate the
    job (r10 advice; broadened per r11 advice)."""
    from tmapreduce_spark.gateway import Gateway
    from tmapreduce_spark.mapreduce import MapReduceEngine

    class _ExplodingSpool:
        def __init__(self, exc):
            self.exc = exc

        def append(self, name, job_type, kvs):
            raise self.exc

    req = {
        "name": "wc", "type": "wordcount", "mapper_num": 1, "reducer_num": 1,
        "token": "t", "kvs": [{"key": "a", "value": "x"}],
    }
    for exc in (OSError("disk full"), TypeError("bad payload"),
                ValueError("codec"), RuntimeError("anything")):
        with Gateway(MapReduceEngine(spark), spool=_ExplodingSpool(exc)) as gw:
            status, body = _http("POST", gw.port, "/launch", req)
            assert status == 200 and body["ok"] is True, (exc, status, body)


def test_mr_sort_output_globally_key_ordered(spark):
    """The distributed-sort canonical program: with identity map/reduce the
    FRAMEWORK's key-sort contract alone must produce globally ordered
    output — rows arrive in non-decreasing key order across partitions
    (range-partitioned Finish stage), which is the whole point of the
    TeraSort shape."""
    from tests.conftest import SF_SMOKE
    from tmapreduce_spark.operators.mapreduce_queries import mr_sort

    keys = [r["key"] for r in mr_sort(spark, SF_SMOKE).collect()]
    assert len(keys) > 0
    assert keys == sorted(keys)


def test_apply_df_ordered_groups_each_key_once_across_partitions(spark):
    """ordered=True reduces CONTIGUOUS key runs after one range-partitioned
    sorted shuffle (the TeraSort shape) instead of groupByKey+sortByKey.
    The internals risk of run-grouping is a key split across partitions
    reaching reduce as two groups — range partitioning must send every copy
    of a key to one partition. Pin it with an aggregating reducer over keys
    deliberately scattered across 16 input partitions: each key must emit
    exactly one (key, key-marker) + one fully-concatenated row, in global
    key order."""
    from tmapreduce_spark.mapreduce import MapReduceEngine

    rows = [
        (f"k{i % 7}", f"{i:03d}|v{i:03d}") for i in range(140)
    ]
    df = spark.createDataFrame(rows, "key string, value string").repartition(16)
    out = [
        (r["key"], r["result"])
        for r in MapReduceEngine(spark).apply_df(
            df, "secondarysort", ordered=True
        ).collect()
    ]
    keys = [k for k, _ in out]
    assert keys == sorted(keys)
    # exactly two rows per key: the marker and ONE concatenation of all 20
    # payloads in sortkey order — a split reduce group would emit extras
    for k in {k for k, _ in out}:
        vals = [v for kk, v in out if kk == k]
        assert len(vals) == 2, (k, vals)
        expected = "".join(
            f"v{i:03d}" for i in sorted(j for j in range(140) if f"k{j % 7}" == k)
        )
        assert k in vals and expected in vals, (k, vals)
