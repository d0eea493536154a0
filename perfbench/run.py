"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload validate_batch --seed 1 --seconds 20 --trace 0

Run from the repository root (any directory works; paths are resolved
from this file).  Inputs are generated from ``--seed`` on first use and
cached under ``perfbench/.work/inputs``; Spark scratch, warehouse, event
logs and temp files go to a per-run directory under ``perfbench/.work``
that is removed at exit.  Results (all metrics, named workload metrics
and, with ``--trace 1``, the per-layer report) are written to
``perfbench/out/<workload>-seed<n>-trace<t>.json``.

The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Exit status is 0 when every checked output is correct,
1 when one is not, and 2 when the package cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, "out")
WORKLOAD_NAMES = ("validate_batch", "stream_monitor")
CORES = 4
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "latency_ms_p50": "ms",
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def _process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(run_dir: str) -> None:
    """Point Python workers at this checkout and keep every file Spark or
    Python writes inside the run directory."""
    sys.path.insert(0, REPO_ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM (spark-submit's launcher and the driver): temp files in the
    # run dir, no hsperfdata file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _start_spark(run_dir: str, trace: bool):
    from llm_drift_detector_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed-size heap: the JVM's resident size then tracks the work
        # rather than when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Dderby.system.home={os.path.join(run_dir, 'tmp')}",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{CORES}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _measure(args, run_dir: str, proc_start: float) -> int:
    from perfbench.layers import PER_LAYER, layer_metrics
    from perfbench.measure import MemorySampler, median
    from perfbench.tracing import Tracer, parse_event_log, span_report
    from perfbench.inputs import InputCache
    from perfbench.workloads import WORKLOADS, Context, decode_rates

    make_inputs, run = WORKLOADS[args.workload]
    cache = InputCache(os.path.join(WORK_DIR, "inputs"))
    input_dir = make_inputs(cache, args.seed, args.seconds)
    gen_s = cache.info["input_gen_s"]
    trace = bool(args.trace)

    t0 = time.time()
    spark = _start_spark(run_dir, trace)
    ready = time.time()
    from pyspark import SparkContext

    sampler = MemorySampler(SparkContext._gateway.proc.pid).start()
    tracer = Tracer(spark.sparkContext) if trace else None
    if tracer is not None:
        tracer.record("session.start", t0, ready)
    ctx = Context(spark=spark, seed=args.seed, seconds=args.seconds, run_dir=run_dir, tracer=tracer)
    try:
        with tracer.installed() if tracer is not None else nullcontext():
            run(ctx, input_dir)
        peak_mb = sampler.stop()
        decode = decode_rates(ctx.decode_sample) if trace else {}
    finally:
        sampler.stop()  # no-op after the first stop; here for the error path
        _stop_spark(spark)

    # process start -> session ready (input generation excluded), plus the
    # median table-open / static-side preparation time
    setup_s = (ready - proc_start - gen_s) + median(ctx.prep_s)
    e2e = dict(ctx.metrics, setup_s=setup_s, peak_rss_mb=peak_mb)
    correct = ctx.failed == 0
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "error_rate": ctx.failed / max(1, ctx.attempted),
        "failures": ctx.failures,
        "end_to_end": e2e,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in ctx.named.items()},
        "info": {
            "session_start_s": ready - t0,
            "process_to_session_s": ready - proc_start,
            "prep_s": ctx.prep_s,
            **cache.info,
            "input_dir": os.path.relpath(input_dir, REPO_ROOT),
        },
    }
    if trace:
        log = parse_event_log(os.path.join(run_dir, "events"))
        layers = layer_metrics(ctx, tracer, log, ready - t0, decode)
        result["per_layer"] = layers
        result["spans"] = span_report(tracer, log)
        untraced = _load_result(args.workload, args.seed, 0)
        result["tracing_overhead"] = (
            {k: e2e[k] - untraced["end_to_end"][k] for k in e2e if k in untraced["end_to_end"]}
            if untraced else "no untraced result for this workload and seed in perfbench/out"
        )
        metrics = {n: {"value": layers[n], "unit": u} for n, u, _b in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END_UNITS[k]} for k in END_TO_END_UNITS}

    os.makedirs(OUT_DIR, exist_ok=True)
    with open(_result_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    for k, rec in sorted(result["named"].items()):
        print(f"named {k} = {rec['value']:.6g} {rec['unit']}")
    print(f"named error_rate = {result['error_rate']:.6g} ratio")
    for msg in ctx.failures:
        print(f"FAILED {msg}")
    if trace:
        print(f"info tracing_overhead {json.dumps(result['tracing_overhead'])}")
    print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(OUT_DIR, f"{workload}-seed{seed}-trace{trace}.json")


def _load_result(workload: str, seed: int, trace: int) -> dict | None:
    try:
        with open(_result_path(workload, seed, trace)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def main(argv=None) -> int:
    proc_start = _process_start_time()
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(REPO_ROOT, "llm_drift_detector_spark", "__init__.py")):
        print(f"perfbench: package llm_drift_detector_spark not found in {REPO_ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    _prepare_env(run_dir)
    try:
        return _measure(args, run_dir, proc_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
