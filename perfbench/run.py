"""Benchmark of etl_hero_spark on four seeded user workloads.

    python3 perfbench/run.py --workload clean_session --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It starts one local Spark session,
generates the workload's inputs from the seed, runs untimed warm-up
passes, then timed passes for ``--seconds``, checks every pass's output
against the injected ground truth, and prints as the last line of stdout
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: it alternates untraced and traced passes,
computes layer metrics from the traced ones, and reports the tracing
overhead as the difference of the two medians. Spans are written to
``.perfbench_work/spans-<workload>-<seed>.json``. All scratch files
(inputs, outputs, Spark local dirs, checkpoints, event log) live under
``.perfbench_work/run`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import (  # noqa: E402
    LAYER_STATS,
    LAYERS,
    DirMeter,
    Tracer,
    cpu_seconds,
    make_stream_listener,
    parse_event_log,
    peak_rss_mb,
    stream_stats,
)

CPUS = 2  # local[2]: leaves half of a 4-core host to the JVM's own threads
SETUP_REPS = 3
WARMUP_PASSES = 3  # the JIT keeps speeding passes up for several passes
MIN_PASSES = 3
# GC threads bounded to the task slots; JIT threads left at the default,
# which reached steady pass times sooner than two compiler threads
JVM_OPTS = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:-UsePerfData"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "step_p50_s": "s",
    "step_p90_s": "s",
    "spark_jobs": "count",
    "write_amp": "ratio",
}

_STAT_UNITS = {"calls": "count", "busy_s": "s", "self_s": "s", "build_s": "s", "jobs": "count"}
PER_LAYER = {
    **{f"{layer}.{k}": _STAT_UNITS[k] for layer in LAYERS for k in LAYER_STATS},
    "checkpoint.write_mb": "MB",
    "checkpoint.stages": "count",
    "io.write_mb": "MB",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.recall": "ratio",
    "simsearch.recall_at_k": "ratio",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.state_rows": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def start_session(dirs: dict, traced: bool):
    from etl_hero_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={dirs['tmp']}",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.eventLog.enabled": str(traced).lower(),
        "spark.eventLog.dir": dirs["eventlog"],
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark("perfbench", cpus=CPUS, extra_conf=conf)


def stop_jvm() -> None:
    """End the driver JVM (and the Python workers it started) and wait for
    it: the gateway process exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(args, run_dir: str, dirs: dict) -> dict:
    import numpy as np

    from workloads import WORKLOADS

    traced = bool(args.trace)
    wl = WORKLOADS[args.workload](run_dir, dirs["out"])

    # set-up: session start + seeded inputs generated and written, several
    # times; the first includes the JVM launch, later ones restart the
    # context in the same JVM
    setup_times, spark, prev = [], None, None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(dirs, traced)
        in_dir = os.path.join(run_dir, f"inputs{rep}")
        wl.setup(spark, np.random.default_rng(args.seed), in_dir)
        setup_times.append(time.perf_counter() - t0)
        if prev:
            shutil.rmtree(prev)
        prev = in_dir
    wl.spark = spark

    tracer = Tracer(spark, traced=False)
    listener = None
    if traced:
        listener = make_stream_listener()
        spark.streams.addListener(listener)
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    meters = {"out": DirMeter(dirs["out"]), "ckpt": DirMeter(dirs["ckpt"])}

    passes: list[dict] = []
    attempted = failed = n_stream_queries = 0
    t_timed = None
    i = 0
    try:
        while True:
            timed = i >= WARMUP_PASSES
            if timed and t_timed is None:
                t_timed = time.perf_counter()
            n_timed = i - WARMUP_PASSES
            if timed and n_timed >= MIN_PASSES and time.perf_counter() - t_timed >= args.seconds:
                break
            # traced runs alternate untraced and traced timed passes
            tracer.traced = traced and timed and n_timed % 2 == 1
            tracer.pass_id = i
            wl.before_pass(i)
            for m in meters.values():
                m.start()
            job0, cpu0 = tracer.next_job_id(), cpu_seconds(jvm_pid) if traced else 0.0
            t0 = time.perf_counter()
            try:
                result = wl.run_pass(tracer, i)
            except Exception:  # a library call failed: count it and stop
                traceback.print_exc()
                failed += 1
                attempted += sum(1 for s in tracer.pass_spans(i) if s.layer in LAYERS)
                break
            dt = time.perf_counter() - t0
            job1 = tracer.next_job_id()
            rec = {
                "pass": i,
                "traced": tracer.traced,
                "pass_s": dt,
                "jobs": job1 - job0,
                "job_window": (job0, job1),
                "steps": tracer.steps(i),
            }
            if traced:
                rec["cpu_s"] = cpu_seconds(jvm_pid) - cpu0
            out_b, _ = meters["out"].take()
            ck_b, ck_n = meters["ckpt"].take()
            rec["write_amp"] = (out_b + ck_b) / wl.input_bytes
            calls = [s for s in tracer.pass_spans(i) if s.layer in LAYERS]
            n_stream_queries += sum(1 for s in calls if s.layer == "streaming")
            if tracer.traced:
                rec["layers"] = tracer.layer_stats(i)
                rec["layers"].update(
                    {"checkpoint.write_mb": ck_b / 2**20, "checkpoint.stages": ck_n, "io.write_mb": out_b / 2**20}
                )
                rec["layers"].update(wl.extra_metrics(result))
            if listener is not None:
                listener.wait_terminated(n_stream_queries)
                progress = listener.take()
                if tracer.traced:
                    rec["layers"].update(stream_stats(progress))
            fails = wl.check(spark, result, full=(i == WARMUP_PASSES))
            for entry in os.listdir(dirs["out"]):
                shutil.rmtree(os.path.join(dirs["out"], entry))
            for f in fails:
                print(f"check failed (pass {i}): {f}", file=sys.stderr)
            attempted += len(calls)
            failed += len(fails)
            if timed:
                passes.append(rec)
            print(f"pass {i} {'timed' if timed else 'warm-up'}: {dt:.3f} s, {rec['jobs']} jobs", file=sys.stderr)
            i += 1
        peak = peak_rss_mb(jvm_pid)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
        stop_jvm()

    if traced:
        work = os.path.dirname(run_dir)
        tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
        metrics = layer_metrics(passes, dirs["eventlog"], app_id, peak)
    else:
        metrics = end_to_end_metrics(passes, setup_times)
    failed = min(failed, max(attempted, 1))
    return {
        "correct": failed == 0 and bool(passes),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }


def _metric(name: str, value: float, units: dict) -> dict:
    return {"value": float(value), "unit": units[name]}


def end_to_end_metrics(passes: list[dict], setup_times: list[float]) -> dict:
    if not passes:
        return {}
    steps = [s for p in passes for s in p["steps"]]
    values = {
        "setup_s": statistics.median(setup_times),
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "step_p50_s": statistics.median(steps),
        "step_p90_s": percentile(steps, 90),
        "spark_jobs": statistics.median(p["jobs"] for p in passes),
        "write_amp": statistics.median(p["write_amp"] for p in passes),
    }
    return {k: _metric(k, v, END_TO_END) for k, v in values.items()}


def layer_metrics(passes: list[dict], eventlog_dir: str, app_id: str, peak_rss: float) -> dict:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    if not traced:
        return {}
    log = os.path.join(eventlog_dir, app_id)
    spark_stats = parse_event_log(log, {p["pass"]: p["job_window"] for p in traced})
    for p in traced:
        p["layers"].update({f"spark.{k}": v for k, v in spark_stats[p["pass"]].items()})
        p["layers"]["spark.cpu_s"] = p["cpu_s"]
    values = {"spark.peak_rss_mb": peak_rss}
    for name in PER_LAYER:
        if name not in values and not name.startswith("trace."):
            values[name] = statistics.median(p["layers"].get(name, 0.0) for p in traced)
    values["trace.pass_s"] = statistics.median(p["pass_s"] for p in traced)
    values["trace.untraced_pass_s"] = statistics.median(p["pass_s"] for p in plain)
    values["trace.overhead_s"] = values["trace.pass_s"] - values["trace.untraced_pass_s"]
    return {k: _metric(k, v, PER_LAYER) for k, v in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "etl_hero_spark")):
        print("perfbench: run from the root of a checkout that holds etl_hero_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".perfbench_work", "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "ckpt", "eventlog", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d)
    # everything Spark, the JVM, py4j and the library write stays in run_dir
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        ETL_HERO_CHECKPOINT_DIR=dirs["ckpt"],
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    )
    tempfile.tempdir = dirs["tmp"]
    try:
        result = run(args, run_dir, dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
