"""One benchmark run of one workload.

    python3 perfbench/run.py --workload stream_alerts --seed 1 \
        --seconds 20 --trace 0

Run it from the root of a checkout.  It stages seeded inputs under
``.perfbench_work/``, starts a local Spark session, warms up with a
fixed amount of work, measures for ``--seconds``, checks the outputs
against DuckDB and prints one line per metric.  The last line of
standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run
also writes its spans to ``.perfbench_out/``.  The exit code is 0 only
when every operation succeeded and every output matched.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.measure import (PeakMemory, Tracer, latency_summary,  # noqa: E402
                               process_age_s, process_tree, read_event_log)

WORKLOADS = {
    "batch_reference": ("perfbench.batch", "BatchReference"),
    "stream_alerts": ("perfbench.stream", "StreamAlerts"),
}


@dataclass
class Context:
    """What a workload needs from the run: the session, a scratch
    directory inside the checkout, the seed, the measured seconds and
    the tracer (disabled unless ``--trace 1``)."""
    spark: object
    work: str
    seed: int
    seconds: int
    tracer: Tracer


def local_threads() -> int:
    """Spark gets every core but one; the generator thread has that."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    let Python workers import the package, and turn Spark's event log
    on for traced runs only.  Must run before PySpark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    if trace:
        os.environ["SPARK_GRAFT_EVENT_LOG_DIR"] = os.path.join(work, "events")
    else:
        os.environ.pop("SPARK_GRAFT_EVENT_LOG_DIR", None)


def start_session(cpus: int):
    from kafkadirect_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    return spark


def stop_jvm() -> None:
    """Shut the JVM PySpark launched and wait until it, the Python
    worker daemon and every worker have exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = [p for p in process_tree() if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the gateway exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    for pid in started:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def emit(correct, attempted, failed, metrics, specs) -> None:
    units = {m["name"]: m["unit"] for m in specs}
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0),
                                "unit": units[m["name"]]} for m in specs}}),
        flush=True)


def set_up(w, work: str) -> tuple[float, str]:
    """Write the seeded inputs and warm up.  Returns setup_s (process
    start to here, less the time the benchmark spent writing its own
    inputs, which no change to the program can move) and a description
    of its parts."""
    session_s = process_age_s()
    t = time.perf_counter()
    w.stage(os.path.join(work, "stage"))
    stage_s = time.perf_counter() - t
    t = time.perf_counter()
    w.warm_up()
    warm_s = time.perf_counter() - t
    return process_age_s() - stage_s, (
        f"session {session_s:.2f} s, warm-up {warm_s:.2f} s; input "
        f"writing {stage_s:.2f} s not counted")


def guarded(step, what: str) -> tuple[int, int, list[str]]:
    """Run a step that returns (attempted, failed, notes); an exception
    counts as one failed operation."""
    try:
        return step()
    except Exception as e:
        traceback.print_exc()
        return 1, 1, [f"{what} raised {type(e).__name__}: {e}"]


def traced_layers(w, ctx, e2e: dict) -> dict:
    """Per-layer metrics after the session stopped (the event log is
    complete then), plus the single-threaded baseline on a fresh
    ``local[1]`` session where the workload has one."""
    jobs = read_event_log(os.environ["SPARK_GRAFT_EVENT_LOG_DIR"])
    layers = w.layers(jobs)
    layers.update({f"trace.{k}": v for k, v in e2e.items()})
    if hasattr(w, "single_thread_baseline"):
        ctx.spark = start_session(1)
        layers["baseline.local1_ops_per_s"] = w.single_thread_baseline()
        ctx.spark.stop()
    out = os.path.join(ROOT, ".perfbench_out",
                       f"trace-{w.name}-seed{ctx.seed}.json")
    ctx.tracer.write(out, {"workload": w.name, "seed": ctx.seed,
                           "layers": layers, "end_to_end": e2e,
                           "progress": getattr(w, "progress", []),
                           "jobs": list(jobs.values())})
    for k in sorted(layers):
        print(f"layer {k} {layers[k]:.3f}")
    print(f"spans written to {os.path.relpath(out, ROOT)}")
    return layers


def run(args, mem: PeakMemory) -> int:
    bench = metric_specs()
    specs = bench["per_layer" if args.trace else "end_to_end"]
    module, cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, args.trace)
    ctx = Context(start_session(local_threads()), work, args.seed,
                  args.seconds, Tracer(enabled=bool(args.trace)))
    w = getattr(importlib.import_module(module), cls)(ctx)
    print(f"workload {w.name} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} local[{local_threads()}]", flush=True)
    setup_s, setup_note = set_up(w, work)

    try:
        res = w.measure()
    except Exception as e:
        traceback.print_exc()
        print(f"FAILED: the measured window raised {type(e).__name__}: {e}")
        ctx.spark.stop()
        emit(False, 1, 1, {}, specs)
        return 1
    peak_mb = mem.stop()
    attempted, failed, notes = res["attempted"], res["failed"], res["notes"]
    steps = [(w.check, "the output check")]
    if args.trace and hasattr(w, "traced_extras"):
        steps.append((w.traced_extras, "the traced extras"))
    for step, what in steps:
        a, f, n = guarded(step, what)
        attempted, failed, notes = attempted + a, failed + f, notes + n
    if res["latencies_ms"]:
        lat = latency_summary(res["latencies_ms"], w.tail_cap)
    else:
        notes.append("empty latency sample")
        failed += 1
        lat = {"p50": 0.0, "tail": 0.0, "tail_p": 0.0, "n": 0, "beyond": 0}
    e2e = {"setup_s": setup_s, "latency_ms_p50": lat["p50"],
           "latency_ms_tail": lat["tail"], "ops_per_s": res["ops_per_s"],
           "peak_rss_mb": peak_mb}

    print(f"setup_s {setup_s:.3f} s ({setup_note})")
    print(f"latency_ms_p50 {lat['p50']:.2f} ms (n={lat['n']})")
    print(f"latency_ms_tail {lat['tail']:.2f} ms (p{lat['tail_p']:g}, "
          f"n={lat['n']}, {lat['beyond']} samples beyond it)")
    print(f"ops_per_s {res['ops_per_s']:.2f} {w.unit} ({res['note']})")
    print(f"peak_rss_mb {peak_mb:.1f} MB (driver, JVM and Python workers; "
          f"printed, not gated)")
    print(f"failed_share {failed / max(attempted, 1):.6f} ratio "
          f"({failed} of {attempted} operations)")
    for n in notes:
        print(f"FAILED: {n}")

    ctx.spark.stop()
    metrics = traced_layers(w, ctx, e2e) if args.trace else e2e
    emit(failed == 0, attempted, failed, metrics, specs)
    return 0 if failed == 0 else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # On SIGTERM, still stop the JVM and remove the scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "kafkadirect_spark",
                                       "__init__.py")):
        print("error: kafkadirect_spark is not in this checkout",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    mem = PeakMemory()
    try:
        return run(args, mem)
    finally:
        mem.stop()
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(os.path.join(work_root,
                                   f"{args.workload}-{os.getpid()}"),
                      ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)


if __name__ == "__main__":
    sys.exit(main())
