"""The three benchmark workloads.

Each workload is a fixed sequence of operations over seeded inputs: the seed
fixes the inputs, the workload fixes the op sequence and its length (scaled
by ``--seconds``), so every run of one seed does identical work. A workload object goes through
``setup()`` (inputs + fixed warm-up), ``run()`` (the timed window) and
``check()`` (correctness, outside the timed window). With tracing on, it
also records spans and Spark counters per op and reports them from
``layers()``.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import statistics
import sys
import threading
import time

import numpy as np

import datagen
import model
from probe import SparkProbe, Tracer, union_length

PKG = "tmapreduce_spark."


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, seconds: int, trace: bool):
        self.spark, self.work, self.seed = spark, work_dir, seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.probe = SparkProbe(spark)
        self.latencies: list[float] = []
        self.attempted = 0
        self.window_s = 0.0
        self.failed = 0
        self.failures: list[str] = []
        self.phase: dict[str, float] = {}
        self.identity: dict = {}
        # per-op diagnostics, printed on the line before the result
        self.op_log: list = []
        self.check_log: list = []

    def check(self) -> None:
        """Correctness checks not already made during warm-up."""

    def close(self) -> None:
        """Release what ``setup`` started."""

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def end_to_end(self) -> dict[str, float]:
        return {
            "ops_per_s": len(self.latencies) / self.window_s,
            "op_latency_p50_s": statistics.median(self.latencies),
        }


# --------------------------------------------------------------------------
# mr_gateway: the paper's job contract over HTTP
# --------------------------------------------------------------------------

GATEWAY_TYPES = ["charcount", "wordcount", "wordcount+c", "invertedindex",
                 "identity", "empty-map"]
GATEWAY_PARTS = [1, 2, 4]
GATEWAY_REDUCERS = [2, 1, 2, 4]
GATEWAY_CLIENTS = 2
GATEWAY_POLL_S = 0.05
GATEWAY_DOCS = 5000  # the sf0.1 documents table
# Payload sizes are drawn from this seed, not the run seed: the largest
# payloads (~2,000 pairs) ran up to 1.5x longer than small ones, and a
# seeded size sequence moved the run's totals between seeds.
SIZE_SEED = 20240102


class MrGateway(Workload):
    """Closed loop, 2 clients: POST /launch, then poll GET /getresult."""

    name = "mr_gateway"
    ops_per_second = 1.5  # op count = whole grids of round(seconds * rate) ops
    warmup_ops = len(GATEWAY_TYPES)  # every job type once

    def setup(self) -> None:
        from tmapreduce_spark.gateway import Gateway
        from tmapreduce_spark.mapreduce import MapReduceEngine

        t = time.perf_counter()
        rng = np.random.default_rng(self.seed)
        docs = datagen.documents_table(rng, GATEWAY_DOCS)["text"].to_pylist()
        # The sequence of (job type, mapper_num, reducer_num) shapes is the
        # same for every seed and the seed draws only the payloads: which
        # jobs overlap decides much of a job's latency, and a seeded order
        # moved throughput by 15% between seeds. Client c runs the ops with
        # j % 2 == c; at step k the two clients run job types k and k + 3
        # (every type on both clients) with one reducer_num. Latency grows
        # with reducer_num, so half the steps use 2 and the median falls
        # inside one latency cluster, not in the gap between two. The
        # payload sizes are fixed too (SIZE_SEED); the seed draws which
        # documents fill them.
        reps = max(1, round(self.seconds * self.ops_per_second / len(GATEWAY_TYPES)))
        grid = []
        for j in range(reps * len(GATEWAY_TYPES)):
            k, c = divmod(j, GATEWAY_CLIENTS)
            grid.append((GATEWAY_TYPES[(k + 3 * c) % len(GATEWAY_TYPES)],
                         GATEWAY_PARTS[(k + c) % 3],
                         GATEWAY_REDUCERS[k % len(GATEWAY_REDUCERS)]))
        shapes = [(t, 2, 2) for t in GATEWAY_TYPES[:self.warmup_ops]] + grid
        sizes = np.random.default_rng(SIZE_SEED)
        self.ops = []
        for i, (jt, m, r) in enumerate(shapes):
            n = int(round(np.exp(sizes.uniform(np.log(50), np.log(2000)))))
            ids = rng.integers(0, len(docs), n)
            self.ops.append({
                "name": f"op{i}", "type": jt, "mapper_num": m, "reducer_num": r,
                "token": f"t{i}",
                "kvs": [{"key": str(d), "value": docs[d]} for d in ids],
            })
        n_ops = len(self.ops)
        self.identity = {"payload_digest": _digest(self.ops), "ops": n_ops - self.warmup_ops,
                         "warmup_ops": self.warmup_ops}
        self.phase["setup.datagen_s"] = time.perf_counter() - t

        engine_cls = MapReduceEngine
        if self.tracer.enabled:
            engine_cls = _traced_engine(MapReduceEngine, self.spark)
        self.engine = engine_cls(self.spark)
        self.gateway = Gateway(self.engine).start()
        self.results: dict[int, list[str]] = {}
        self.records: dict[int, dict] = {}

        t = time.perf_counter()
        self._drive(range(self.warmup_ops))
        self.phase["setup.warmup_s"] = time.perf_counter() - t

    def _op(self, i: int, conn: http.client.HTTPConnection) -> None:
        op = self.ops[i]
        body = json.dumps(op)
        rec = {"gets": []}
        t0 = time.time()
        conn.request("POST", "/launch", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        doc = json.loads(resp.read())
        t1 = time.time()
        rec["launch"] = (t0, t1)
        if resp.status != 200 or not doc.get("ok"):
            raise RuntimeError(f"launch {op['name']}: {resp.status} {doc}")
        path = f"/getresult?job_id={doc['job_id']}&token={op['token']}"
        while True:
            time.sleep(GATEWAY_POLL_S)
            g0 = time.time()
            conn.request("GET", path)
            resp = conn.getresponse()
            res = json.loads(resp.read())
            rec["gets"].append((g0, time.time()))
            if res.get("ok"):
                break
            if "not finished" not in res.get("message", ""):
                raise RuntimeError(f"getresult {op['name']}: {res}")
        rec["end"] = time.time()
        self.results[i] = res["result"]
        self.records[i] = rec
        if i >= self.warmup_ops:
            self.latencies.append(rec["end"] - t0)
            self.op_log.append((op["type"], op["mapper_num"], op["reducer_num"],
                                len(op["kvs"]), round(rec["end"] - t0, 3)))

    def _drive(self, indices) -> None:
        """Client ``c`` runs ops ``c, c + n, c + 2n, ...`` of ``indices`` in
        order. A fixed split keeps which ops overlap the same from run to
        run; with a shared queue, small timing differences swapped the
        pairing and moved single-op latencies by 2x."""
        todo = list(indices)
        errors: list[str] = []

        def client(mine):
            conn = http.client.HTTPConnection("127.0.0.1", self.gateway.port, timeout=120)
            try:
                for i in mine:
                    try:
                        self._op(i, conn)
                    except Exception as exc:  # recorded as a failed op
                        errors.append(f"op{i}: {exc!r}")
            finally:
                conn.close()

        threads = [threading.Thread(target=client, args=(todo[c::GATEWAY_CLIENTS],))
                   for c in range(GATEWAY_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for e in errors:
            self.fail(e)

    def run(self) -> None:
        self.attempted = len(self.ops) - self.warmup_ops
        t0 = time.perf_counter()
        self._drive(range(self.warmup_ops, len(self.ops)))
        self.window_s = time.perf_counter() - t0

    def check(self) -> None:
        reg = self.engine.registry
        for i in range(len(self.ops)):
            op = self.ops[i]
            if i not in self.results:
                continue
            kvs = [(kv["key"], kv["value"]) for kv in op["kvs"]]
            if self.results[i] != model.mr_launch_model(reg.get(op["type"]), kvs):
                self.fail(f"{op['name']} ({op['type']}): result differs from the model")

    def close(self) -> None:
        if getattr(self, "gateway", None) is not None:
            self.gateway.stop()
            self.gateway = None

    def layers(self) -> dict[str, float]:
        idx = [i for i in range(self.warmup_ops, len(self.ops)) if i in self.records]
        recs = [self.records[i] for i in idx]
        out = {
            "gateway.launch_rtt_s": _mean([r["launch"][1] - r["launch"][0] for r in recs]),
            "gateway.getresult_rtt_s": _mean([e - s for r in recs for s, e in r["gets"]]),
            "gateway.polls_per_op": _mean([len(r["gets"]) for r in recs]),
        }
        jobs_n, stages_n, wait, busy, gap, totals = [], [], [], [], [], []
        for i, r in zip(idx, recs):
            jobs = self.probe.jobs(f"mr-{self.ops[i]['name']}")
            if not jobs:  # status store already evicted the op's jobs
                continue
            jobs_n.append(len(jobs))
            tot = self.probe.stage_totals(jobs)
            totals.append(tot)
            stages_n.append(tot["stages"])
            t0, t_end = r["launch"][0], r["end"]
            accepted = self.engine.accepted[self.ops[i]["name"]]
            first = min(j["start"] for j in jobs)
            spans = [(j["start"], j["end"]) for j in jobs]
            b = union_length(spans)
            wait.append(first - accepted)
            busy.append(b)
            gap.append((t_end - t0) - (first - accepted) - b)
            self.tracer.add(i, "op", t0, t_end)
            self.tracer.add(i, "http.launch", *r["launch"], parent="op")
            for s, e in r["gets"]:
                self.tracer.add(i, "http.getresult", s, e, parent="op")
            for j in jobs:
                self.tracer.add(i, "spark.job", j["start"], j["end"], parent="op",
                                job=j["id"], callsite=j["name"])
        out.update({
            "mapreduce.spark_jobs_per_op": _mean(jobs_n),
            "mapreduce.stages_per_op": _mean(stages_n),
            "mapreduce.queue_wait_s": _mean(wait),
            "mapreduce.spark_busy_s": _mean(busy),
            "mapreduce.driver_gap_s": _mean(gap),
        })
        out.update(_exec_means(totals, jobs_n))
        return out


def _traced_engine(base, spark):
    """Engine subclass that sets a per-op job group on the calling thread
    before ``launch``; the engine's InheritableThread carries it into the
    job thread, so every Spark job of the op lands in group ``mr-<name>``."""

    class TracedEngine(base):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.accepted: dict[str, float] = {}

        def launch(self, name, job_type, kvs, mapper_num=2, reducer_num=2, token=""):
            spark.sparkContext.setJobGroup(f"mr-{name}", name)
            self.accepted[name] = time.time()
            return super().launch(name, job_type, kvs, mapper_num, reducer_num, token)

    return TracedEngine


def _exec_means(totals: list[dict], jobs: list[int]) -> dict[str, float]:
    """Per-op means of the stage counters of the ops' Spark jobs."""
    return {
        "exec.jobs": _mean(jobs),
        "exec.stages": _mean([t["stages"] for t in totals]),
        "exec.executor_run_s": _mean([t["executor_run_s"] for t in totals]),
        "exec.input_bytes": _mean([t["input_bytes"] for t in totals]),
        "exec.shuffle_read_bytes": _mean([t["shuffle_read_bytes"] for t in totals]),
        "exec.shuffle_write_bytes": _mean([t["shuffle_write_bytes"] for t in totals]),
        "exec.spill_bytes": _mean([t["spill_bytes"] for t in totals]),
    }


# --------------------------------------------------------------------------
# mr_apply: the same map/reduce pairs over a parquet corpus (the scale path)
# --------------------------------------------------------------------------

APPLY_TYPES = ["wordcount+c", "wordcount", "invertedindex", "charcount+c", "identity"]
APPLY_DOCS = 4_000


class MrApply(Workload):
    """Single client: ``apply_df(read.parquet(corpus), type, ordered=True)``
    then a ``noop`` write; job types cycle in a fixed order."""

    name = "mr_apply"
    ops_per_second = 0.8

    def setup(self) -> None:
        import pyarrow.parquet as pq

        from tmapreduce_spark.mapreduce import MapReduceEngine

        t = time.perf_counter()
        self.corpus = os.path.join(self.work, "kv.parquet")
        datagen.write_kv_corpus(self.corpus, self.seed, APPLY_DOCS)
        self.phase["setup.datagen_s"] = time.perf_counter() - t
        self.engine = MapReduceEngine(self.spark)
        cycles = max(1, round(self.seconds * self.ops_per_second / len(APPLY_TYPES)))
        self.ops = APPLY_TYPES * cycles
        self.identity = {"corpus_docs": APPLY_DOCS, "ops": len(self.ops),
                         "corpus_digest": _file_digest(self.corpus)}
        self.records: list[dict] = []
        # Warm-up: every job type once, collected and checked against the
        # Python model (the check is the warm-up, so it costs no extra run).
        t = time.perf_counter()
        table = pq.read_table(self.corpus)
        kvs = list(zip(table["key"].to_pylist(), table["value"].to_pylist()))
        self.emissions = {}
        for jt in APPLY_TYPES:
            job = self.engine.registry.get(jt)
            self.emissions[jt] = model.map_emissions(job, kvs)
            try:
                rows = self._apply(jt).collect()
                bad = model.apply_rows_match([(r[0], r[1]) for r in rows],
                                             model.apply_model(job, kvs))
            except Exception as exc:
                bad = repr(exc)[:300]
            if bad:
                self.fail(f"{jt}: {bad}")
        self.phase["setup.warmup_s"] = time.perf_counter() - t

    def _apply(self, jt: str):
        return self.engine.apply_df(self.spark.read.parquet(self.corpus), jt, ordered=True)

    def _op(self, i: int, jt: str) -> float:
        sc = self.spark.sparkContext
        tr = self.tracer.enabled
        if tr:
            sc.setJobGroup(f"ab-{i}", jt)
        t0 = time.perf_counter()
        df = self._apply(jt)
        t1 = time.perf_counter()
        if tr:
            sc.setJobGroup(f"ae-{i}", jt)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if tr:
            now = time.time()
            self.records.append({"op": i, "type": jt, "build_s": t1 - t0, "exec_s": t2 - t1,
                                 "t": (now - (t2 - t0), now)})
        return t2 - t0

    def run(self) -> None:
        self.attempted = len(self.ops)
        for i, jt in enumerate(self.ops):
            try:
                self.latencies.append(self._op(i, jt))
                self.op_log.append((jt, round(self.latencies[-1], 3)))
            except Exception as exc:  # recorded as a failed op
                self.fail(f"op{i} ({jt}): {exc!r}")
        self.window_s = sum(self.latencies)

    def layers(self) -> dict[str, float]:
        totals, jobs_n, by_type = [], [], {}
        for r in self.records:
            jobs = self.probe.jobs(f"ab-{r['op']}") + self.probe.jobs(f"ae-{r['op']}")
            tot = self.probe.stage_totals(jobs)
            totals.append(tot)
            jobs_n.append(len(jobs))
            by_type.setdefault(r["type"], []).append(tot["shuffle_write_bytes"])
            s0, s1 = r["t"]
            self.tracer.add(r["op"], "op", s0, s1, type=r["type"])
            self.tracer.add(r["op"], "apply_df", s0, s0 + r["build_s"], parent="op")
            self.tracer.add(r["op"], "write.noop", s0 + r["build_s"], s1, parent="op")
        # PySpark shuffles pickled batches, so Spark's shuffle record counts
        # count batches, not pairs: the combiner's effect is measured in
        # bytes, same map with and without it.
        combined, raw = _mean(by_type.get("wordcount+c", [])), _mean(by_type.get("wordcount", []))
        out = {
            "mapreduce.apply_build_s": _mean([r["build_s"] for r in self.records]),
            "mapreduce.apply_exec_s": _mean([r["exec_s"] for r in self.records]),
            "mapreduce.map_output_records": _mean([self.emissions[r["type"]] for r in self.records]),
            "mapreduce.shuffle_write_bytes": _mean([t["shuffle_write_bytes"] for t in totals]),
            "mapreduce.combine_ratio": combined / raw if raw else 0.0,
            "mapreduce.executor_run_s": _mean([t["executor_run_s"] for t in totals]),
            "mapreduce.spill_bytes": _mean([t["spill_bytes"] for t in totals]),
        }
        out.update(_exec_means(totals, jobs_n))
        return out


def _file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


# --------------------------------------------------------------------------
# catalog_sweep: one catalog entry per op, at sf0.01-equivalent scale
# --------------------------------------------------------------------------

CATALOG_SF = 0.01
PER_MODULE = 1
# The entry sample and its order are fixed by this seed, not the run seed:
# entry costs differ by 10x and more, so a per-seed sample would move the
# run's totals by far more than any bound (see README.md). The run seed
# varies the tables.
SAMPLE_SEED = 20240101
# The catalog module whose entries run MapReduceEngine.apply_df.
APPLY_MODULE = "operators.mapreduce_queries"
# Modules left out of the sample, with the reason. The benchmark writes only
# inside its working directory; these entries write elsewhere.
EXCLUDED_MODULES = {
    "sources.bucketing": "its entries write bucketed tables under a fixed /tmp path",
}


def catalog_modules(catalog) -> dict[str, str]:
    """Entry name -> defining module (the module whose ``QUERIES`` holds
    it), derived from the modules ``build_catalog`` imported."""
    owner = {}
    for mod_name, mod in list(sys.modules.items()):
        queries = getattr(mod, "QUERIES", None)
        if mod_name.startswith(PKG) and isinstance(queries, dict):
            for name in queries:
                if name in catalog:
                    owner[name] = mod_name[len(PKG):]
    return owner


def catalog_sample(catalog, owner) -> list[str]:
    """``PER_MODULE`` entries of every defining module, by ``SAMPLE_SEED``,
    in a fixed order that interleaves the modules."""
    rng = np.random.default_rng(SAMPLE_SEED)
    by_mod: dict[str, list[str]] = {}
    for name in sorted(catalog):
        if owner[name] not in EXCLUDED_MODULES:
            by_mod.setdefault(owner[name], []).append(name)
    sample = []
    for mod in sorted(by_mod):
        names = by_mod[mod]
        take = rng.choice(len(names), min(PER_MODULE, len(names)), replace=False)
        sample.extend(names[j] for j in sorted(take))
    return [sample[j] for j in rng.permutation(len(sample))]


class CatalogSweep(Workload):
    """Single client: ``spec.fn(spark, sf)`` + ``noop`` write per op, over a
    sample stratified by defining module, in whole passes."""

    name = "catalog_sweep"
    ops_per_second = 2.4

    def setup(self) -> None:
        from tmapreduce_spark.catalog import build_catalog

        t = time.perf_counter()
        self.sf = os.path.join(self.work, "sf")
        datagen.write_tables(self.sf, self.seed, CATALOG_SF)
        self.phase["setup.datagen_s"] = time.perf_counter() - t
        self.catalog = build_catalog()
        self.owner = catalog_modules(self.catalog)
        self.sample = catalog_sample(self.catalog, self.owner)
        passes = max(1, round(self.seconds * self.ops_per_second / len(self.sample)))
        self.ops = self.sample * passes
        self.identity = {"entries": self.sample, "passes": passes,
                         "warmup_passes": 2,
                         "excluded_modules": EXCLUDED_MODULES}
        self.records: list[dict] = []
        # Warm-up: one fixed pass that checks every entry against its DuckDB
        # oracle, then one untimed pass run exactly like a timed one. The
        # first pass after the check pass still ran 5-25% slower than the
        # next, and by a different amount in every run.
        t = time.perf_counter()
        self._check_pass()
        for name in self.sample:
            before = self.probe.persisted_rdd_ids()
            self.catalog[name].fn(self.spark, self.sf).write.format("noop") \
                .mode("overwrite").save()
            self.probe.unpersist_new(before)
        self.phase["setup.warmup_s"] = time.perf_counter() - t

    def _check_pass(self) -> None:
        import duckdb

        from tmapreduce_spark.sources.catalog import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf, t + '.parquet')}'")
            for name in self.sample:
                spec = self.catalog[name]
                before = self.probe.persisted_rdd_ids()
                t0 = time.perf_counter()
                try:
                    got = spec.fn(self.spark, self.sf).toPandas()
                    t1 = time.perf_counter()
                    bad = model.frames_match(got, con.execute(spec.oracle).df())
                except Exception as exc:
                    t1 = time.perf_counter()
                    bad = repr(exc)[:300]
                self.check_log.append((name, round(t1 - t0, 3), round(time.perf_counter() - t1, 3)))
                self.probe.unpersist_new(before)
                if bad:
                    self.fail(f"{name}: {bad}")
        finally:
            con.close()

    def _op(self, i: int, name: str) -> float:
        spec = self.catalog[name]
        sc = self.spark.sparkContext
        tr = self.tracer.enabled
        before = self.probe.persisted_rdd_ids()
        if tr:
            sc.setJobGroup(f"cb-{i}", name)
        t0 = time.perf_counter()
        df = spec.fn(self.spark, self.sf)
        t1 = time.perf_counter()
        plan_s = 0.0
        if tr:
            sc.setJobGroup(f"cp-{i}", name)
            df._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - t1
            sc.setJobGroup(f"ce-{i}", name)
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        # blocking unpersist of the op's new persisted RDDs, untimed
        leaked = self.probe.unpersist_new(before)
        if tr:
            now = time.time()
            self.records.append({"op": i, "name": name, "build_s": t1 - t0,
                                 "plan_s": plan_s, "exec_s": t3 - t2, "leaked": leaked,
                                 "t": (now - (t3 - t0), now)})
        return t3 - t0

    def run(self) -> None:
        self.attempted = len(self.ops)
        for i, name in enumerate(self.ops):
            try:
                self.latencies.append(self._op(i, name))
                self.op_log.append((name, round(self.latencies[-1], 3)))
            except Exception as exc:  # recorded as a failed op
                self.fail(f"op{i} ({name}): {exc!r}")
        self.window_s = sum(self.latencies)

    def layers(self) -> dict[str, float]:
        n = max(1, len(self.records))
        out = {k: 0.0 for k in ("sources.schema_jobs", "catalog.build_jobs",
                                "catalog.checkpoint_jobs", "catalog.collect_jobs")}
        totals, exec_jobs, apply_ops = [], [], []
        per_mod: dict[str, dict[str, list[float]]] = {}
        for r in self.records:
            build = self.probe.jobs(f"cb-{r['op']}")
            out["catalog.build_jobs"] += len(build)
            for j in build:
                site = j["name"].split(" at ", 1)[0]
                key = {"parquet": "sources.schema_jobs",
                       "localCheckpoint": "catalog.checkpoint_jobs"}.get(site, "catalog.collect_jobs")
                out[key] += 1
            ex = self.probe.jobs(f"ce-{r['op']}")
            exec_jobs.append(len(ex))
            totals.append(self.probe.stage_totals(ex))
            m = per_mod.setdefault(self.owner[r["name"]], {"build_s": [], "exec_s": []})
            m["build_s"].append(r["build_s"])
            m["exec_s"].append(r["plan_s"] + r["exec_s"])
            if self.owner[r["name"]] == APPLY_MODULE:
                apply_ops.append((r, self.probe.stage_totals(build + ex)))
            s0, s1 = r["t"]
            b1, p1 = s0 + r["build_s"], s0 + r["build_s"] + r["plan_s"]
            self.tracer.add(r["op"], "op", s0, s1, entry=r["name"])
            self.tracer.add(r["op"], "spec.fn", s0, b1, parent="op")
            self.tracer.add(r["op"], "plan", b1, p1, parent="op")
            self.tracer.add(r["op"], "write.noop", p1, s1, parent="op")
        for k in list(out):
            out[k] /= n
        out.update({
            "catalog.build_s": _mean([r["build_s"] for r in self.records]),
            "catalog.plan_s": _mean([r["plan_s"] for r in self.records]),
            "catalog.leaked_rdds": _mean([r["leaked"] for r in self.records]),
        })
        out.update(_exec_means(totals, exec_jobs))
        for mod, m in per_mod.items():
            out[f"{mod}.build_s"] = _mean(m["build_s"])
            out[f"{mod}.exec_s"] = _mean(m["exec_s"])
        # The apply_df layer, through the sampled entries that call it.
        out.update({
            "mapreduce.apply_build_s": _mean([r["build_s"] for r, _ in apply_ops]),
            "mapreduce.apply_exec_s": _mean([r["plan_s"] + r["exec_s"] for r, _ in apply_ops]),
            "mapreduce.shuffle_write_bytes": _mean([t["shuffle_write_bytes"] for _, t in apply_ops]),
            "mapreduce.executor_run_s": _mean([t["executor_run_s"] for _, t in apply_ops]),
            "mapreduce.spill_bytes": _mean([t["spill_bytes"] for _, t in apply_ops]),
        })
        return out


WORKLOADS = {w.name: w for w in (MrGateway, MrApply, CatalogSweep)}
