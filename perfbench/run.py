"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It reads the fixture tables in
``perfbench/fixtures/``, cuts its streamed inputs from them with
``--seed`` under ``.perfbench/`` in the checkout, runs one workload on a
``local[nproc]`` session from ``pulsar_spark_spark.session.get_session``,
checks every output against a reference, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans around each layer call plus Spark's event log,
parsed after the run). Lines before the JSON start with ``#`` and carry
the environment, every metric with its unit, and the error rate.
``--cores 1`` gives the single-core baseline run (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_ingest", "batch_queries")
RUN_LIMIT_S = 175.0
TRACED_E2E = ("pass_s", "latency_p50_s", "latency_p75_s")
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="local task slots (default: nproc)")
    return p.parse_args(argv)


def _pin_environment(cores: int, work: str) -> None:
    """Default arms only: every SPARK_GRAFT_* knob but the core count
    must be unset. Scratch space stays inside the checkout."""
    knobs = sorted(
        k for k in os.environ if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS"
    )
    if knobs:
        raise SystemExit(f"refusing to run with non-default knobs set: {knobs}")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()


def _warm_workers(spark) -> None:
    """Ship the package and start one Python worker per task slot, each
    importing the kernel module (the same warm-up as bench.py's)."""
    from pulsar_spark_spark.operators.shipping import ensure_package_on_executors

    ensure_package_on_executors(spark)
    n = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import pulsar_spark_spark.operators.geo_kernels  # noqa: F401

        yield from batches

    spark.range(n * 8).repartition(n).mapInPandas(_warm, "id long").collect()


def _setup(conf: dict) -> tuple:
    """One cold session set-up: ``get_session`` (which launches the JVM)
    plus the Python-worker warm-up. Returns the session and both times."""
    from pulsar_spark_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    _warm_workers(spark)
    return spark, (t1 - t0, time.perf_counter() - t1)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order."""
    from batch import QUERY_MIX

    names = [
        "session.get_session_s", "session.worker_warm_s", "session.cold_pass_s", "session.jvm_peak_rss_mb",
        "sources.load_table_s", "sources.load_table_jobs", "sources.state_mb",
        "plans.build_s", "plans.build_jobs", "plans.collect_s",
        "plans.collect_jobs", "plans.catalyst_ms",
    ]
    for q in QUERY_MIX:
        names += [f"plans.{q}.build_s", f"plans.{q}.build_jobs", f"plans.{q}.collect_s"]
    names += [
        "operators.python_run_s", "operators.python_boot_s",
        "operators.python_init_s", "operators.python_sent_mb",
        "operators.python_rows_received",
        "streaming.state_rows", "streaming.batches", "streaming.trigger_ms_p50",
        "streaming.add_batch_ms_p50", "streaming.planning_ms_p50",
        "streaming.offsets_ms_p50", "streaming.commit_ms_p50",
        "streaming.run_overhead_ms_p50", "streaming.runs",
        "streaming.files_per_run", "streaming.backlog_files_end",
        "streaming.generator_lag_ms_max",
    ]
    for layer in ("plans", "streaming"):
        names += [f"{layer}.{k}" for k in (
            "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_mb",
            "shuffle_write_mb", "spill_mb", "stages", "tasks",
        )]
    names += [f"trace.{k}" for k in TRACED_E2E]
    return names


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms_max", "ms"), ("_ms_p50", "ms"), ("_ms", "ms"),
                         ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def _layer_values(workload, result, timing, spark_rss, spans_list, jobs) -> dict:
    import spans as sp

    values = dict.fromkeys(per_layer_names(), 0.0)
    values["session.get_session_s"], values["session.worker_warm_s"] = timing
    values["session.cold_pass_s"] = result["cold_pass_s"]
    values["session.jvm_peak_rss_mb"] = spark_rss
    by_span = sp.attribute(jobs, spans_list)
    for layer in ("plans", "streaming"):
        t = sp.totals([
            j for s in spans_list if s["name"].startswith(layer + ".")
            for j in by_span.get(s["id"], [])
        ])
        for k in ("exec_run_s", "exec_cpu_s", "gc_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "stages", "tasks"):
            values[f"{layer}.{k}"] = t[k]
    ops = sp.totals([j for js in by_span.values() for j in js])
    for k in ("python_run_s", "python_boot_s", "python_init_s",
              "python_sent_mb", "python_rows_received"):
        values[f"operators.{k}"] = ops[k]
    if workload == "batch_queries":
        import batch

        values.update(batch.layer_metrics(result["raw"], spans_list, by_span))
    else:
        import ingest

        values.update(ingest.layer_metrics(result["raw"]))
    for k in TRACED_E2E:
        values[f"trace.{k}"] = result["e2e"][k]
    return values


def _overhead(path: str, e2e: dict) -> str:
    """Traced minus untraced e2e, when an untraced run of the same
    workload, seed and core count left its result at ``path``."""
    if not os.path.exists(path):
        return "no untraced run of this seed here yet"
    with open(path) as fh:
        untraced = json.load(fh)
    return " ".join(f"{k}={e2e[k] - untraced[k]:+.4f}s" for k in TRACED_E2E)


def main(argv=None) -> int:
    args = _args(argv)
    started = time.time()
    cores = args.cores or len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "runs", f"{args.workload}-{os.getpid()}")
    _pin_environment(cores, work)
    sys.path.insert(1, ROOT)
    try:
        import pulsar_spark_spark.session
    except ImportError as exc:
        print(f"# the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(pulsar_spark_spark.session.__file__)))
    if pkg != ROOT:
        print(f"# refusing to measure the engine at {pkg}, not this checkout", file=sys.stderr)
        return 2
    import batch
    import ingest
    import procs
    from spans import Tracer, parse_event_log

    spark = None
    procs.adopt_orphans()
    try:
        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(work, d))
        watchdog = threading.Timer(RUN_LIMIT_S, lambda: (
            print("# run limit reached", file=sys.stderr), procs.kill_all(), os._exit(3)
        ))
        watchdog.daemon = True
        watchdog.start()
        staged = None
        if args.workload == "batch_queries":
            # the oracle digests: about 20 s on the first run of a checkout
            staged = batch.stage(os.path.join(base, "cache"))
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        }
        event_dir = os.path.join(work, "eventlog")
        if args.trace:
            os.makedirs(event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark, timing = _setup(conf)
        tracer = Tracer(spark, bool(args.trace), f"{args.workload}-{args.seed}")
        if args.workload == "batch_queries":
            result = batch.run(spark, tracer, staged)
        else:
            result = ingest.run(spark, tracer, work, args.seed, args.seconds)
        rss = _jvm_peak_rss_mb(spark)
        versions = _versions(spark)
        procs.stop(spark)
        spark = None
        attempted, failed = result["attempted"], result["failed"]
        e2e = dict(result["e2e"])
        e2e["setup_s"] = sum(timing)
        results_dir = os.path.join(base, "results")
        os.makedirs(results_dir, exist_ok=True)
        stem = os.path.join(results_dir, f"{args.workload}-seed{args.seed}-local{cores}")
        if args.trace:
            tracer.dump(f"{stem}.spans.jsonl")
            values = _layer_values(args.workload, result, timing, rss,
                                   tracer.spans, parse_event_log(event_dir))
            metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in per_layer_names()}
        else:
            with open(f"{stem}.json", "w") as fh:
                json.dump(e2e, fh)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
            "master": f"local[{cores}]", **versions,
            "wall_s": round(time.time() - started, 2),
        }
        print("# env " + json.dumps(env))
        for k, u in E2E_UNITS.items():
            print(f"# {k:<16} {e2e[k]:12.4f} {u}")
        print(f"# error_rate       {failed / max(1, attempted):12.4f} "
              f"({failed} failed of {attempted} attempted)")
        if args.trace:
            print("# tracing overhead: " + _overhead(f"{stem}.json", e2e))
        print(f"# cold_pass_s {result['cold_pass_s']:.3f}")
        for k, v in result["info"].items():
            print(f"# {k} {v}")
        print(json.dumps({
            "correct": bool(result["correct"] and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        sys.stdout.flush()
        return 0
    finally:
        procs.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a SIGTERM unwinds through main's cleanup instead of orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
