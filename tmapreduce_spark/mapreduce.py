"""Reference-parity MapReduce job API on Spark.

Implements the reference's complete engine-executed dataflow (SURVEY.md §2A
items 1-10) as one dataflow with two executors:

    validate -> sort-by-key -> contiguous partition -> map side per slice
      (flatMap(map_fn), optional combiner) -> group by key
      -> reduce per group -> driver key-sort

- **Spark** (payloads over ``in_driver_max_chars``): ONE Spark job of two
  stages, ``parallelize -> mapPartitionsWithIndex -> groupByKey -> flatMap
  -> collect``.
- **Driver** (payloads within the gate; Hadoop's uber-task mode,
  MAPREDUCE-1220): the same map side and reduce function called in the
  driver on ``Job::Partition`` slices, with a dict as the shuffle, on a plain
  thread. A Spark job costs about 0.6 s however small the payload; this path
  starts none.

Reference semantics preserved (file:line into /root/reference/):

- **Validation/admission**: ``mapper_num<=0``, ``reducer_num<=0`` or empty
  ``kvs`` rejected (``src/tmapreduce/master.cc:530-535``); non-string keys or
  values rejected (``src/tmapreduce/gateway.cc:15-51``).
- **Ingest key-sort**: payload sorted by key before partitioning
  (``master.cc:736-738``).
- **Contiguous partitioning**: the sorted list is cut into near-equal
  contiguous runs like ``Job::Partition()`` (``src/tmapreduce/job.cc:10-43``)
  — by ``sc.parallelize`` on Spark, by ``p*n//m`` slicing in the driver.
- **Map**: per-pair flatMap of the user function (C wrapper loop,
  ``src/tmapreduce/wrapper.cc:10-31``).
- **Shuffle/Merge**: group values by key (``src/tmapreduce/job.cc:45-66``)
  in the Spark job's only shuffle, or a dict in the driver; within-key value
  order is (map-subjob index, emission order) (``job.cc:51-59`` ordering
  contract, SURVEY §1.4). Spark tags each map output with
  ``(partition_index, emission_seq)`` and sorts the group after the shuffle;
  the driver runs the slices in order and appends to the dict, which gives
  that order untagged. Since slices are contiguous, it is payload emission
  order on both paths.
- **Empty-shuffle short-circuit**: zero map output pairs form no group, so
  reduce never runs and the result is empty (``master.cc:624-627``).
- **Reduce**: per-group flatMap of the user function
  (``src/tmapreduce/wrapper.cc:33-55``), emitting one ``(key, outputs)`` pair
  per group.
- **Finish**: the collected groups are sorted by key on the driver and
  concatenated into one flat string array (``src/tmapreduce/job.cc:68-77``,
  a master-side merge in the reference too). Nothing is cached or persisted.
  No emptiness probe and no ``sortByKey`` run, so a Spark-path launch is one
  Spark job and a driver-path launch is none.
- **Result lifecycle**: per-job bearer token checked at get_result
  (``master.cc:691-693``, ``src/tmapreduce/job.h:93``); finished results GC'd
  after 3600 s (``master.cc:449-463``, ``master.h:27``).

Everything the reference builds around this dataflow — raft replication,
heartbeats, straggler requeue, etcd discovery (§2A items 11-16) — is Spark's
scheduler and is deliberately not reimplemented.

Scale note: ``launch`` mirrors the reference's REST contract and therefore
takes a driver-side list (the reference holds the whole payload in master RAM,
``job.h:86-88``, so list-shaped input *is* the parity surface). For 100 TB
inputs use :meth:`MapReduceEngine.apply_df`, which runs the same two UDFs over
an arbitrary ``DataFrame[key string, value string]`` without any driver-side
materialization.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from enum import Enum
from itertools import chain, starmap

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from tmapreduce_spark.registry import JobRegistry, default_registry

# apply_df's fixed output schema (key-wise parity with launch(): one string
# row per reduce output, keyed by its group key).
_APPLY_DF_SCHEMA = StructType(
    [StructField("key", StringType(), True), StructField("result", StringType(), True)]
)

# Reference operational constant: finished-job result TTL
# (/root/reference/src/tmapreduce/master.h:27).
JOB_RESULT_TIMEOUT_SECOND = 3600.0

# Default uber-task gate in payload characters (MapReduceEngine docstring):
# the smallest Spark-vs-driver crossover over every registered job type,
# rounded down. Measured with launch + wait on 4 cores at mapper_num =
# reducer_num = 4 (Spark's best case there): wordcount broke even near
# 4.6 M chars (15,000 documents of ~300 chars); every type ran faster in the
# driver at 3.0 M chars and below.
IN_DRIVER_MAX_CHARS = 4_000_000


def _combiner(combine_fn):
    """Map-side combine for ``mapPartitions``: group one partition's map
    output by key and pre-aggregate it BEFORE the shuffle, so the shuffle
    carries one partial per (partition, key) instead of every map emission —
    the optimization the reference structurally lacks (all map output
    transits the master, worker.cc:311-315). Result-identical for the
    associative reducers a combiner is registered for."""

    def combine(it):
        groups: dict[str, list[str]] = {}
        for k, v in it:
            groups.setdefault(k, []).append(v)
        for k, vs in groups.items():
            for v in combine_fn(k, vs):
                yield k, v

    return combine


def _map_side(map_fn, combine_fn):
    """One map subjob's work, shared by both launch executors:
    ``map_side(pairs)`` runs ``map_fn`` over the slice (the C wrapper loop,
    wrapper.cc:10-31), then the optional combiner, and yields ``(key,
    value)`` in emission order."""
    combine = _combiner(combine_fn) if combine_fn is not None else None

    def map_side(it):
        mapped = chain.from_iterable(starmap(map_fn, it))
        # Registering a combiner asserts the reducer is insensitive to
        # within-key value order.
        return combine(mapped) if combine is not None else mapped

    return map_side


def _tagged(map_side):
    """The Spark path's map side: tags each emission ``(key, (part_idx, seq,
    value))`` so the reducer can restore the reference's within-key
    (subjob, emission) value order (job.cc:51-59) after the shuffle."""

    def tagged(part_idx: int, it):
        for seq, (k, v) in enumerate(map_side(it)):
            yield k, (part_idx, seq, v)

    return tagged


def _tagged_reducer(reduce_fn):
    """The Spark path's work per reduce group: order the tagged values by
    (subjob, seq) and emit a single ``(key, outputs)`` pair, so Finish can
    order whole groups by key."""

    def run_reduce(kv):
        k, tagged = kv
        # (part_idx, seq) is unique, so plain tuple order never reaches v.
        values = [v for _p, _s, v in sorted(tagged)]
        return [(k, list(reduce_fn(k, values)))]

    return run_reduce


class JobStage(Enum):
    """Mirror of the reference's job stage machine for observability
    (``/root/reference/src/tmapreduce/job.h:26-39``); Spark collapses the
    wait/partition states into its own DAG scheduling. ``launch`` runs map,
    merge and reduce as one step (one Spark job, or one pass in the driver
    for payloads under the in-driver gate), so it reports only MAPPING and
    FINISHED on both paths; MERGING and REDUCING are kept for the
    reference's vocabulary."""

    INIT = "INIT"
    MAPPING = "MAPPING"
    MERGING = "MERGING"
    REDUCING = "REDUCING"
    FINISHED = "FINISHED"


class LaunchError(ValueError):
    """Invalid launch payload (``master.cc:530-535``, ``gateway.cc:15-51``)."""


class ResultError(RuntimeError):
    """get_result failure: unknown job / bad token / unfinished job
    (``master.cc:685-699``)."""


@dataclass
class _Job:
    job_id: int
    name: str
    job_type: str
    token: str
    # Executor the job runs on: "driver" or "spark", decided at launch.
    path: str
    stage: JobStage = JobStage.INIT
    results: list[str] = field(default_factory=list)
    finish_time: float | None = None
    error: BaseException | None = None
    thread: threading.Thread | None = None


class MapReduceEngine:
    """Driver-side job manager: the master+gateway capability surface as a
    plain Python API over Spark lineages.

    ``in_driver_max_chars`` is the uber-task gate (Hadoop's
    ``mapreduce.job.ubertask.enable``, MAPREDUCE-1220): a launch whose
    payload size, ``sum(len(key) + len(value))``, is at most this many
    characters runs in the driver instead of as a Spark job; ``0`` sends
    every launch to Spark. A Spark job costs about 0.6 s however small the
    payload, and the default sits below the measured crossover where Spark's
    parallelism starts to pay for it. Trade-off: in-driver user map and
    reduce code runs in the driver process, as Hadoop's uber mode runs it in
    the ApplicationMaster, and in-driver jobs share the driver's GIL."""

    def __init__(
        self,
        spark: SparkSession,
        registry: JobRegistry | None = None,
        in_driver_max_chars: int = IN_DRIVER_MAX_CHARS,
    ):
        if in_driver_max_chars < 0:
            raise ValueError("in_driver_max_chars must be >= 0")
        self.spark = spark
        self.registry = registry if registry is not None else default_registry()
        self.in_driver_max_chars = in_driver_max_chars
        self._jobs: dict[int, _Job] = {}
        self._next_id = 0
        self._lock = threading.Lock()

    # -- launch (§2A items 1-9) --------------------------------------------

    def launch(
        self,
        name: str,
        job_type: str,
        kvs: list[tuple[str, str]],
        mapper_num: int = 2,
        reducer_num: int = 2,
        token: str = "",
    ) -> int:
        """Submit a job; returns the job_id IMMEDIATELY while the pipeline
        runs on a background thread — the reference's async contract: launch
        responds as soon as the job is admitted (``gateway.cc:131-157``,
        ``master.cc:489-514``) and the client polls get_result until the
        master stops answering "job not finished"
        (``example/word_count/word_count_client.cc:54``). The stage
        (``job.h:26-39``) is observable from other threads via
        :meth:`stage_of`: MAPPING while the map, merge and reduce run (one
        Spark job, or one pass in the driver when the payload is within
        ``in_driver_max_chars``), FINISHED after it; use :meth:`wait` to
        block."""
        payload_chars = self._validate(job_type, kvs, mapper_num, reducer_num)
        jt = self.registry.get(job_type)  # unknown type rejected at admission
        gate = self.in_driver_max_chars
        path = "driver" if gate > 0 and payload_chars <= gate else "spark"
        with self._lock:
            job_id = self._next_id
            self._next_id += 1
            job = _Job(job_id, name, job_type, token, path)
            self._jobs[job_id] = job

        # The job thread waits until launch has started it. A driver-path
        # job is CPU-bound Python: run at once, it holds the GIL while
        # Thread.start() waits for it, and the caller gets the GIL back only
        # after the 5 ms switch interval (traced mr_gateway /launch RTT:
        # 9 ms with InheritableThread, 16 ms with a plain thread run at
        # once). Blocked on the event, it leaves the caller the GIL to
        # return and send its reply.
        admitted = threading.Event()

        def run() -> None:
            admitted.wait()
            try:
                self._run_job(job, jt, kvs, mapper_num, reducer_num)
            except BaseException as exc:  # surfaced via wait()/get_result()
                job.error = exc
                job.stage = JobStage.FINISHED
                job.finish_time = time.time()

        # A Spark-path job thread must carry the caller's local properties
        # (job group, scheduler pool) into its Spark action, which
        # InheritableThread does over two py4j calls. The driver path starts
        # no Spark job, so a plain thread serves it.
        thread_cls = InheritableThread if path == "spark" else threading.Thread
        job.thread = thread_cls(target=run, daemon=True)
        job.thread.start()
        admitted.set()
        return job_id

    def wait(self, job_id: int, timeout: float | None = None) -> JobStage:
        """Block until the job finishes (the client's poll loop,
        ``word_count_client.cc:54``, without the 1 s sleeps). Re-raises the
        job's exception, if any."""
        job = self._jobs.get(job_id)
        if job is None:
            raise ResultError(f"no such job: {job_id}")
        if job.thread is not None:
            job.thread.join(timeout)
        if job.error is not None:
            raise job.error
        return job.stage

    def _run_job(
        self,
        job: _Job,
        jt,
        kvs: list[tuple[str, str]],
        mapper_num: int,
        reducer_num: int,
    ) -> None:
        # Ingest key-sort (master.cc:736-738). Python's sort is stable, so
        # equal keys keep payload order, matching std::sort's effect on the
        # observable contract (values later ordered by subjob and emission).
        kvs_sorted = sorted(kvs, key=lambda kv: kv[0])
        # Deliberate deviation from Job::Partition (job.cc:10-43), which
        # creates EMPTY subjobs when mapper_num > len(kvs): Spark rejects
        # empty parallelize slices less gracefully than the reference's RPC
        # fan-out, and an empty subjob emits nothing, so clamping is
        # observationally identical (the same emissions in the same order).
        mapper_num = min(mapper_num, len(kvs_sorted))
        map_side = _map_side(jt.map_fn, jt.combine_fn)
        job.stage = JobStage.MAPPING
        if job.path == "driver":
            # Uber mode: the same map side per Job::Partition slice
            # (job.cc:10-43), a dict as the shuffle, reduce per group. Slices
            # run in order and a dict keeps insertion order, so each group's
            # values arrive in (subjob, emission) order with no tag or sort.
            n = len(kvs_sorted)
            grouped: dict[str, list[str]] = {}
            for p in range(mapper_num):
                part = kvs_sorted[p * n // mapper_num : (p + 1) * n // mapper_num]
                for k, v in map_side(part):
                    grouped.setdefault(k, []).append(v)
            groups = [(k, list(jt.reduce_fn(k, vs))) for k, vs in grouped.items()]
        else:
            # One Spark job: contiguous near-equal parallelize slices
            # (Job::Partition), the map side per slice, then Merge
            # (job.cc:45-66) and Reduce in ONE shuffle. Like the mapper_num
            # clamp above, reducer_num is capped, here at the session's
            # parallelism: results are identical at any partition count
            # (groups are key-sorted below), but each partition is one Python
            # reduce task, and a client's reducer_num must not queue more of
            # them than the session can run at once.
            sc = self.spark.sparkContext
            groups = (
                sc.parallelize(kvs_sorted, mapper_num)
                .mapPartitionsWithIndex(_tagged(map_side))
                .groupByKey(numPartitions=min(reducer_num, sc.defaultParallelism))
                .flatMap(_tagged_reducer(jt.reduce_fn))
                .collect()
            )
        # Finish (job.cc:68-77) on the driver, which holds the whole result by
        # contract (job.h:86-88): keys are unique after grouping, so sorting
        # the groups by key and concatenating them gives the reference's
        # key-ordered flat array. No map output means no group, so reduce_fn
        # never runs (master.cc:624-627).
        groups.sort(key=lambda kv: kv[0])
        job.results = [out for _k, outs in groups for out in outs]
        job.stage = JobStage.FINISHED
        job.finish_time = time.time()

    # -- get_result (§2A item 10) ------------------------------------------

    def get_result(self, job_id: int, token: str = "") -> list[str]:
        """Fetch the flat, key-ordered result string array
        (``master.cc:685-699`` semantics, including check order:
        existence -> token -> finished)."""
        self.gc()
        job = self._jobs.get(job_id)
        if job is None:
            raise ResultError(f"no such job: {job_id}")
        if job.token != token:
            raise ResultError("wrong token")
        if job.stage is not JobStage.FINISHED:
            raise ResultError(f"job not finished (stage={job.stage.value})")
        if job.error is not None:
            raise ResultError(f"job failed: {job.error!r}") from job.error
        return list(job.results)

    def stage_of(self, job_id: int) -> JobStage:
        job = self._jobs.get(job_id)
        if job is None:
            raise ResultError(f"no such job: {job_id}")
        return job.stage

    def gc(self, now: float | None = None) -> int:
        """Delete finished jobs older than the reference's 1 h TTL
        (``master.cc:449-463``)."""
        now = time.time() if now is None else now
        with self._lock:
            dead = [
                jid
                for jid, j in self._jobs.items()
                if j.finish_time is not None
                and now - j.finish_time > JOB_RESULT_TIMEOUT_SECOND
            ]
            for jid in dead:
                del self._jobs[jid]
        return len(dead)

    # -- scale path ---------------------------------------------------------

    def apply_df(self, df: DataFrame, job_type: str, ordered: bool = False) -> DataFrame:
        """Run a registered (map_fn, reduce_fn) pair over an arbitrary
        ``DataFrame[key string, value string]`` fully distributed — the 100 TB
        path the reference cannot take (its payload transits master RAM and
        the raft log, ``master.cc:489-514``).

        Returns ``DataFrame[key string, result string]``: one row per reduce
        output string, keyed by its group key (key-wise parity with
        :meth:`launch`; the flat-array concatenation order is a driver-side
        presentation concern and is not materialized here). Within-key value
        order follows Spark's shuffle arrival order — canonical for
        associative reducers; order-sensitive reducers should sort inside the
        UDF.

        ``ordered=True`` additionally applies the Finish stage's key-order
        contract (the reference merge-sorts reduce output by key,
        ``job.cc:45-66``) DISTRIBUTEDLY: sortByKey range-partitions, so
        partitions are globally ordered and a partition-order collect yields
        the reference's concatenation order without ever funneling rows
        through one task — this is what makes the distributed-sort canonical
        program (``mr_sort``) an engine contract rather than a driver sort.
        """
        jt = self.registry.get(job_type)
        map_fn, reduce_fn, combine_fn = jt.map_fn, jt.reduce_fn, jt.combine_fn

        rdd = df.select("key", "value").rdd.map(lambda r: (r[0], r[1]))
        mapped = rdd.flatMap(lambda kv: map_fn(kv[0], kv[1]))
        if combine_fn is not None:
            mapped = mapped.mapPartitions(_combiner(combine_fn))
        if ordered:
            # TeraSort shape: sort the MAP output once and reduce contiguous
            # key runs in-partition. sortByKey range-partitions (all equal
            # keys land in one partition, keys sorted within it), so a
            # single sorted shuffle replaces the old groupByKey shuffle +
            # post-reduce sortByKey — whose PySpark implementation runs a
            # count() job and a sample() job over the whole map+group+reduce
            # lineage before the real range shuffle, i.e. the reduce ran
            # three times and the data shuffled twice. Within-key value
            # order remains shuffle-arrival (the documented contract above);
            # order-sensitive reducers sort inside the UDF.
            import itertools

            def reduce_runs(it):
                for k, group in itertools.groupby(it, key=lambda kv: kv[0]):
                    vals = [v for _, v in group]
                    for out in reduce_fn(k, vals):
                        yield k, out

            reduced = mapped.sortByKey().mapPartitions(
                reduce_runs, preservesPartitioning=True
            )
        else:
            reduced = mapped.groupByKey().flatMap(
                lambda kv: [(kv[0], out) for out in reduce_fn(kv[0], list(kv[1]))]
            )
        # Explicit schema: toDF(names-only) infers the schema by SAMPLING the
        # RDD — an rdd.first() that executes the whole map stage plus one
        # reduce partition before the caller's real action, i.e. every
        # apply_df query paid for its map+shuffle-write once more (measured
        # 8.78 s -> 7.62 s across the 8 mr_* entries at sf0.1).
        # verifySchema=False skips the per-row Python type re-check: the
        # (str, str) row shape is the registry job contract (the reference's
        # gateway admits only string pairs, gateway.cc:15-51, and map/reduce
        # fns emit strings by the same contract), so re-verifying every output
        # row in Python buys nothing at 100 TB.
        return self.spark.createDataFrame(
            reduced, _APPLY_DF_SCHEMA, verifySchema=False
        )

    # -- internals ----------------------------------------------------------

    @staticmethod
    def _validate(
        job_type: str, kvs: list[tuple[str, str]], mapper_num: int, reducer_num: int
    ) -> int:
        """Admission checks; returns the payload size in characters."""
        if mapper_num <= 0 or reducer_num <= 0:
            raise LaunchError("mapper_num and reducer_num must be > 0")
        if not kvs:
            raise LaunchError("empty kvs")
        chars = 0
        for kv in kvs:
            if (
                not isinstance(kv, tuple)
                or len(kv) != 2
                or not isinstance(kv[0], str)
                or not isinstance(kv[1], str)
            ):
                # gateway.cc:15-51 — every element must be a {key,value} pair
                # of strings.
                raise LaunchError(f"invalid kv element: {kv!r}")
            chars += len(kv[0]) + len(kv[1])
        return chars
