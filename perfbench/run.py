"""Benchmark entry point for the spark-graft engine.

    python3 perfbench/run.py --workload catalog_read --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout.  The run makes its inputs from
``--seed`` inside ``.perfbench/run-<pid>/`` in the checkout, sets the
engine up, times whole passes over the workload's ops until ``--seconds``
of op time have passed, checks every op's output outside the timed
region, and deletes everything it wrote.  The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
Spark event log is on and the metrics are the per-layer ones.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import layers  # noqa: E402
from tracing import RssSampler, Tracer, p90  # noqa: E402

ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_embeddings_pipeline_spark"
WORKLOADS = ("catalog_read", "incremental_sync")


def host_sizing() -> dict:
    """One local process, one task thread per usable core, and a driver
    heap of a quarter of host RAM, at most 2 GiB (the sf0.1 inputs need
    far less)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"cpus": cpus, "host_mem_mb": mem_kb // 1024,
            "driver_mem_mb": min(2048, mem_kb // 1024 // 4)}


def configure_env(run_dir: str, sizing: dict) -> None:
    """Everything the engine, Spark and Python workers write goes under
    ``run_dir``; the package is importable in Spark's Python workers."""
    for sub in ("tmp", "local", "layout"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(sizing["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{sizing['driver_mem_mb']}m"
    os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = os.path.join(run_dir, "layout")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on next use
    sys.path.insert(0, ROOT)


def start_spark(run_dir: str, sizing: dict, trace: bool):
    from airflow_embeddings_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{sizing['cpus']}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

    def wait_children_gone(timeout_s: float) -> None:
        deadline = time.time() + timeout_s
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)

    wait_children_gone(30)
    for pid in descendants(os.getpid()):  # Python workers that outlived the JVM
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_children_gone(10)


def workload_class(name: str):
    import workloads as w

    return {"catalog_read": w.CatalogRead, "incremental_sync": w.IncrementalSync}[name]


def run(args, run_dir: str, sizing: dict) -> dict:
    import workloads as w

    trace = bool(args.trace)
    tracer = Tracer(trace)
    fixture_dir = os.path.join(run_dir, "fixtures")
    workload_cls = workload_class(args.workload)
    fixtures.write_tables(fixtures.make_tables(args.seed, workload_cls.tables), fixture_dir)
    gc.collect()

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, sizing, trace)
        try:
            if trace:
                layers.install_wrappers(spark, tracer)
            workload = workload_cls(spark, tracer, run_dir, args.seed)
            with tracer.span("setup"):
                workload.setup(fixture_dir)
            setup_s = time.perf_counter() - t0
            lat, all_lat, failures, passes, by_op = [], [], [], [], {}
            measured, i, bplb = 0.0, 0, None
            # whole passes only: every pass starts from the same state
            while not passes or measured < args.seconds:
                with rss.paused():
                    workload.start_pass(len(passes))
                pass_t = 0.0
                for name in workload.pass_ops:
                    if trace:
                        spark.sparkContext.setJobGroup(f"op{i}", name)
                    t1, dt = time.perf_counter(), None
                    try:
                        with tracer.span("op"):
                            result = workload.op(i)
                        dt = time.perf_counter() - t1
                        with rss.paused(), tracer.span("verify"):
                            workload.verify(i, result)
                        lat.append(dt)
                    except Exception as exc:
                        if dt is None:  # the op itself raised
                            dt = time.perf_counter() - t1
                        failures.append(f"op {i} ({name}): {type(exc).__name__}: {str(exc)[:300]}")
                        if not isinstance(exc, w.WrongOutput):
                            traceback.print_exc(file=sys.stderr)
                    result = None
                    all_lat.append(dt)
                    by_op.setdefault(name, []).append(round(dt, 3))
                    measured += dt
                    pass_t += dt
                    i += 1
                passes.append(pass_t)
                if bplb is None:
                    # at the end of the first pass, so the run's length
                    # cannot change the history it measures
                    with rss.paused(), tracer.span("verify"):
                        bplb = workload.bytes_per_live_byte()
            per_layer = layers.collect(spark, tracer, workload) if trace else None
        finally:
            stop_spark(spark)

    failures += workload.failures()
    result = {
        "attempted": i,
        "failed": len(failures),
        "failures": failures,
        "e2e": {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(passes), "s"),
            "op_p50_s": (statistics.median(lat or all_lat), "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
            "bytes_per_live_byte": (bplb, "ratio"),
        },
        # Unbounded: too few ops per run lie beyond p90, and a healthy
        # run fails none.
        "extra": {
            "op_p90_s": (p90(lat or all_lat), "s"),
            "ops_failed_frac": (len(failures) / i, "frac"),
        },
        "op_samples": len(lat),
        "passes": len(passes),
        "op_latency_s": by_op,
    }
    if trace:
        result["layers"] = layers.finish(per_layer, os.path.join(run_dir, "eventlog"),
                                         tracer, result["e2e"]["wall_s"][0])
    return result


def cleanup(run_dir: str) -> None:
    """Delete the run directory and any pid-scoped engine scratch roots
    this process left under the system temp directory."""
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass
    for d in glob.glob(f"/tmp/spark_graft_*/*.{os.getpid()}"):
        shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and deletes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sizing = host_sizing()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    configure_env(run_dir, sizing)
    try:
        res = run(args, run_dir, sizing)
    finally:
        cleanup(run_dir)

    for f in res["failures"]:
        print(f"# failed {f}", file=sys.stderr)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": sizing, "ops": res["attempted"], "op_samples": res["op_samples"],
        "passes": res["passes"],
        "op_latency_s": res["op_latency_s"],
        **{k: {"value": v, "unit": u} for k, (v, u) in {**res["e2e"], **res["extra"]}.items()},
    }
    print("# summary " + json.dumps(summary))
    if args.trace:
        print("# layers " + json.dumps(res["layers"]["all"]))
        metrics = res["layers"]["per_layer"]
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
