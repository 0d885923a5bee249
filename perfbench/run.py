"""The scrub system's benchmark: one workload per run, closed loop, on one
``local[1]`` Spark session.

    python3 perfbench/run.py --workload corpus_funnel --seed 1 --seconds 6 --trace 0

``--trace 0`` times the workload's action back to back for ``--seconds``
(the next action starts only after the previous one returned), checks every
output against the pure-Python reference, and prints the end-to-end metrics
of ``BENCHMARK.json``. ``--trace 1`` instead runs one untraced and one traced
action (the Spark event log on), re-runs each layer as an isolated action,
times the kernel stages in-process, and prints the per-layer metrics.
``--corrupt-one-row`` alters one output row before the check; the run must
then report ``failed`` > 0.

The last stdout line is one JSON object (correct, attempted, failed,
metrics). The full record (host facts, input shape, samples, spans, event-log
counters, streaming progress) goes to ``.perfbench/records/``. All inputs,
outputs and Spark scratch space live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

from measure import (PssSampler, Tracer, median, read_event_log,
                     scheduler_counters, stream_layers, tail)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "azure_based_pii_redactor_spark"
WORK = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(WORK, "run")
# Task slots. The executors are busy about a sixth of an action (driver-side
# planning and job launch dominate), so one slot runs an action as fast as
# four, and leaves the rest of a small host to the driver thread, GC and the
# JIT compilers instead of making them queue behind the Python workers.
CORES = 1
# Driver heap, fixed (initial = maximum) so that resident memory does not
# depend on how far the collector happened to grow the heap in a run.
DRIVER_MEMORY = "1g"
# Untimed full-size actions before timing. The first pays worker imports
# and cold planning. Each action also hands the JVM's JIT compilers seconds
# of work that run alongside the next action; the first hands over the
# most, so the action after it is the slowest and noisiest of the rest.
WARM_ACTIONS = 2
DEADLINE_S = 170  # a run must end within 180 s; fail rather than overrun


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "w"):
        os.makedirs(os.path.join(RUN_DIR, d))
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path[:0] = [ROOT]


def start_session(cores: int, event_log: str | None = None):
    from azure_based_pii_redactor_spark.engine.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.local.dir": os.path.join(RUN_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    return build_session(app_name="perfbench", master=f"local[{cores}]",
                         shuffle_partitions=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Stop the Spark context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_facts(spark) -> dict:
    import pyspark

    calib = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "calibrate_host.py"),
         str(len(os.sched_getaffinity(0))), "1"],
        capture_output=True, text=True, timeout=120, check=True)
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "loadavg": os.getloadavg(),
        "calibrate_host": json.loads(calib.stdout.strip().splitlines()[-1]),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "platform": platform.platform(),
    }


class Ctx:
    def __init__(self, seed: int, cores: int) -> None:
        self.seed = seed
        self.cores = cores
        self.work = os.path.join(RUN_DIR, "w")
        self.tracer = Tracer()
        self.spark = None


def epochs_of(reps: list[dict]) -> list[float]:
    """Epoch times: Structured Streaming micro-batches for the streaming
    workloads, one closed-loop action for the batch ones."""
    if "epochs" in reps[0]:
        return [e for r in reps for e in r["epochs"]]
    return [r["wall_s"] for r in reps]


def docs_per_s(reps: list[dict]) -> float:
    """Median over the run's actions of input docs per second of wall
    time; for admission, median over the epochs of slice docs per second
    of epoch time."""
    if "epoch_docs" in reps[0]:
        return median([d / e for r in reps
                       for d, e in zip(r["epoch_docs"], r["epochs"])])
    return median([r["docs"] / r["wall_s"] for r in reps])


def run_action(wl, rep: int) -> dict:
    r = wl.action(rep)
    r["rep"] = rep
    r["wall_s"] = wl.ctx.tracer.duration(r["span"])
    wl.reps.append(r)
    return r


def measure_e2e(wl, seconds: int, corrupt: bool, jvm_pid: int) -> dict:
    setup_s = process_age_s()
    with PssSampler(jvm_pid) as mem:
        t_end = time.perf_counter() + seconds
        rep = 0
        while rep == 0 or time.perf_counter() < t_end:
            run_action(wl, rep)
            rep += 1
    facts = host_facts(wl.ctx.spark)
    attempted, failed = wl.check(corrupt)
    epochs = epochs_of(wl.reps)
    tail_name, tail_s = tail(epochs)
    return {
        "metrics": {
            "setup_s": setup_s,
            "docs_per_s": docs_per_s(wl.reps),
            "peak_rss_mb": mem.peak_mb,
            "epoch_p50_s": median(epochs),
            "epoch_tail_s": tail_s,
        },
        "failed_frac": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "samples": {"actions": len(wl.reps), "epochs": len(epochs),
                    "epoch_tail_percentile": tail_name,
                    "action_wall_s": [r["wall_s"] for r in wl.reps],
                    "epoch_s": epochs},
        "host": facts,
    }


def measure_layers(wl, corrupt: bool) -> dict:
    """Traced run: one untraced action, a context restart with the event
    log on, one traced action, then the isolated per-layer actions."""
    import oracle

    ctx = wl.ctx
    run_action(wl, 0)
    ctx.spark.stop()
    event_dir = os.path.join(RUN_DIR, "eventlog")
    ctx.spark = start_session(ctx.cores, event_log=event_dir)
    wl.action("warm_traced")
    w0 = time.time() * 1000
    traced = run_action(wl, 1)
    w1 = time.time() * 1000
    layers = wl.layers()
    layers.update(oracle.kernel_stages(wl.kernel_slice()))
    facts = host_facts(ctx.spark)
    attempted, failed = wl.check(corrupt)
    ctx.spark.stop()
    (log_name,) = os.listdir(event_dir)
    events = read_event_log(os.path.join(event_dir, log_name))
    layers.update(scheduler_counters(events, w0, w1, ctx.cores))

    if "progress" in traced:
        layers.update(stream_layers(traced["progress"]))
        layer_sum = sum(traced["epochs"])
    else:
        layer_sum = layers.pop("_layer_sum_s")
    if "report" in traced:
        layers.update({f"funnel.{k}_rows": v for k, v in traced["report"].items()})
        layers["corpus.report_overhead_s"] = traced["wall_s"] - layers.pop("_lazy_wall_s")
    layers["trace.unattributed_s"] = traced["wall_s"] - layer_sum
    layers["trace.overhead_s"] = traced["wall_s"] - wl.reps[0]["wall_s"]
    return {
        "metrics": layers,
        "failed_frac": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "samples": {"untraced_wall_s": wl.reps[0]["wall_s"],
                    "traced_wall_s": traced["wall_s"], "layer_sum_s": layer_sum},
        "host": facts,
    }


def span_records(tracer) -> list[dict]:
    own = tracer.self_times()
    t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
    return [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "self_s": own[s["id"]]} for s in tracer.spans]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-one-row", action="store_true")
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    isolate_environment()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def overrun(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overrun)
    signal.alarm(DEADLINE_S)
    ctx = Ctx(args.seed, CORES)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        with ctx.tracer.span("setup.session", rep="setup"):
            ctx.spark = start_session(CORES)
        jvm_pid = int(ctx.spark.sparkContext._jvm.ProcessHandle.current().pid())
        with ctx.tracer.span("setup.inputs", rep="setup"):
            shape = wl.setup()
        for i in range(WARM_ACTIONS):
            with ctx.tracer.span("setup.warm", rep="setup"):
                wl.action(f"warm{i}")
        if args.trace:
            result = measure_layers(wl, args.corrupt_one_row)
            wanted = spec["per_layer"]
        else:
            result = measure_e2e(wl, args.seconds, args.corrupt_one_row, jvm_pid)
            wanted = spec["end_to_end"]
    finally:
        signal.alarm(0)
        stop_jvm()
    metrics = result["metrics"]
    if not args.trace:
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
    # a layer the workload does not run reports 0
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
           for m in wanted}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": shape,
        "failed_frac": result["failed_frac"], "samples": result["samples"],
        "metrics": out, "extra": {k: v for k, v in metrics.items() if k not in out},
        "host": result["host"], "spans": span_records(ctx.tracer),
        "reps": [{k: v for k, v in r.items() if k != "progress"} for r in wl.reps],
    }
    if args.trace:
        record["stream_progress"] = [r.get("progress") for r in wl.reps]
    path = os.path.join(WORK, "records",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(RUN_DIR, ignore_errors=True)

    for name, m in out.items():
        print(f"{name:<34} {m['value']:>14.6g} {m['unit']}")
    print(f"{'failed_frac':<34} {result['failed_frac']:>14.6g} "
          f"({result['failed']}/{result['attempted']})")
    print(f"samples {json.dumps({k: v for k, v in result['samples'].items() if not isinstance(v, list)})}")
    print(f"input {json.dumps(shape)}")
    print(f"record {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
