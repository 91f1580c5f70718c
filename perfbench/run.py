"""Benchmark entry point.

    python3 perfbench/run.py --workload mr_gateway --seed 1 --seconds 20 --trace 0

Run from the repository root. Everything runs in this one process: the Spark
driver (``local[nproc]``), the in-process HTTP gateway and the load
generator. Inputs are generated from ``--seed`` under
``.perfbench/`` in the current directory and deleted at exit; Spark's local
and temp dirs live there too, so the run writes nothing outside it.

Output: progress and the work-identity record go to stdout as JSON lines;
the LAST line is ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the spans are written to
``.perfbench/out/trace-<workload>-<seed>.json``.
"""

import time

T_START = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
HOLDOUT_SEED = 90017  # never used while tuning; for verifying later claims


def _env(work: str) -> None:
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    for d in ("spark", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # Python workers import the engine's UDFs by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf spark.sql.warehouse.dir={os.path.join(work, "warehouse")} '
        f'--driver-java-options "-Djava.io.tmpdir={os.path.join(work, "tmp")} '
        f'-XX:-UsePerfData" pyspark-shell'
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tmapreduce_spark", "mapreduce.py")):
        print("perfbench: tmapreduce_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # SIGTERM unwinds through the finally below, so Spark still stops.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    from tmapreduce_spark.session import get_spark

    spark = wl = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, bool(args.trace))
        wl.setup()
        setup_s = time.perf_counter() - T_START
        wl.run()
        wl.check()
        metrics = {"setup_s": (setup_s, "s")}
        e2e = wl.end_to_end() if wl.latencies else {}
        if args.trace:
            layers = wl.layers()
            layers.update({
                "session.start_s": session_s,
                "setup.datagen_s": wl.phase["setup.datagen_s"],
                "setup.warmup_s": wl.phase["setup.warmup_s"],
                "traced.setup_s": setup_s,
                "traced.ops_per_s": e2e.get("ops_per_s", 0.0),
                "traced.op_latency_p50_s": e2e.get("op_latency_p50_s", 0.0),
            })
            # Every per-layer metric BENCHMARK.json names, 0 where this
            # workload does not exercise the layer; then any the workload
            # adds (mr_apply's, which BENCHMARK.json does not run).
            names = _per_layer_names(root)
            names += [k for k in layers if k not in names]
            metrics = {k: (layers.get(k, 0.0), unit_of(k)) for k in names}
            os.makedirs(os.path.join(base, "out"), exist_ok=True)
            wl.tracer.dump(os.path.join(base, "out", f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics.update({k: (v, unit_of(k)) for k, v in e2e.items()})
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # only when no trace output is left in it
        except OSError:
            pass

    print(json.dumps({"identity": {"workload": args.workload, "seed": args.seed,
                                   "holdout_seed": HOLDOUT_SEED, **wl.identity},
                      "samples": len(wl.latencies), "failures": wl.failures[:20],
                      "ops": wl.op_log, "checks": wl.check_log}))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _per_layer_names(root: str) -> list[str]:
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            return [m["name"] for m in json.load(fh)["per_layer"]]
    except (OSError, ValueError, KeyError):
        return []


def unit_of(metric: str) -> str:
    if metric.endswith("ops_per_s"):
        return "1/s"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
