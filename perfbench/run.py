"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload minhash_code --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates (or reuses) the seeded
input, starts one Spark session at ``local[<nproc - 1>]``, counts the
workload's untimed warm-up runs into ``setup_s``, then repeats it for
about ``--seconds`` and reports medians over those runs. Every run
writes to a fresh directory and its output is checked; a run that
raises or fails its check counts in ``failed``.

``--trace 1`` also runs the traced composition: each layer's functions
called one at a time, each under its own Spark job group, and reports
the per-layer metrics of ``BENCHMARK.json`` instead.

Only the last stdout line is the result; progress goes to stderr. The
full record (samples, input layout, versions, commit) is written to
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOAD_NAMES = ["minhash_code", "cc_graph"]
# no timed run starts after this long, so one invocation stays within
# about three minutes however slow the machine is
DEADLINE_S = 120.0

# A run's wall time is reported with the per-layer metrics, not here: on
# a shared virtual machine the host slows every process for minutes at a
# time, by 30-70%, and the interquartile spread of ten seeds' median
# wall times reached 0.26-0.28 of the median for minhash_code in two of
# five sets, above the largest bound the benchmark may set.
E2E_UNITS = {
    "peak_pss_mb": "MB",
    "shuffle_mb": "MB",
    "setup_s": "s",
}
SPAN_UNITS = {
    "wall_s": "s",
    "cpu_s": "s",
    "task_s": "s",
    "busy_slots": "slots",
    "jobs": "count",
    "tasks": "count",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "skew": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots: one core fewer than the machine has. On a
    shared virtual machine the host takes cores away for seconds at a
    time. With every core busy a stage waits for the task on a stalled
    core; with one to spare the kernel can move it. In such spells, with
    all four cores busy, a minhash_code run took 60% longer while its
    CPU time grew by 20%."""
    return max(1, nproc() - 1)


def per_layer_units():
    from perfbench.workloads import COUNTS, KERNELS, SPANS

    units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_UNITS.items()}
    units.update(COUNTS)
    units.update({k: "docs/s" for k in KERNELS})
    units.update({
        "trace.span_total_s": "s",
        "trace.untraced_wall_s": "s",
        "trace.untraced_items_per_s": "items/s",
        "trace.untraced_cpu_s": "s",
    })
    return units


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Spark takes its block and shuffle directory from this variable
    # before spark.local.dir, so an inherited value would win
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    # a heap sized to the inputs rather than the 8g default: with room
    # to spare, G1 sizes the heap by its pause-time history, and the
    # peak PSS of one seed then spreads by a third between processes
    os.environ["SPARKDEDUP_DRIVER_MEM"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def start_spark():
    from sparkdedup.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{task_slots()}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    from perfbench.probe import tree_pids

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left or time.time() > deadline:
            break
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.time() < deadline - 20 else signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _stamp(args) -> dict:
    import numpy
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
    }


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool, size: int = 0) -> dict:
    """One benchmark run in this process; returns the full record.

    ``size`` overrides the workload's input size (for toy-size tests)."""
    from perfbench import inputs
    from perfbench.probe import Probe, PssSampler
    from perfbench.workloads import WORKLOADS, kernel_rates

    seed %= 1 << 32  # the generators take 32-bit seeds
    wl = WORKLOADS[workload]()
    if size:
        wl.size = size
    inp = inputs.prepare(os.path.join(WORK, "inputs"), wl.kind, wl.size, seed)
    wl.load(inp)
    run_root = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_root, ignore_errors=True)
    rec = {"size": wl.size, "input_layout": inp.layout, "attempted": 0, "failed": 0, "failures": []}
    seq = [0]

    def fresh_dir() -> str:
        seq[0] += 1
        return os.path.join(run_root, str(seq[0]))

    def failed(tag: str, why: str) -> None:
        rec["failed"] += 1
        rec["failures"].append(f"{tag}: {why}")
        print(f"[perfbench] {workload} {tag} FAILED: {why}", file=sys.stderr)

    def attempt(tag: str):
        rec["attempted"] += 1
        d = fresh_dir()
        try:
            with probe.measure(tag) as m:
                result = wl.job(spark, d)
            fails = wl.check(d, result)
        except Exception:
            failed(tag, traceback.format_exc(limit=3))
            return None
        finally:
            shutil.rmtree(d, ignore_errors=True)
        if fails:
            failed(tag, "; ".join(fails))
            return None
        return m

    spark = None
    t_begin = time.perf_counter()
    with PssSampler() as sampler:
        try:
            spark = start_spark()
            spark_s = time.perf_counter() - t_begin
            probe = Probe(spark, sampler)
            warm = [attempt("warmup") for _ in range(wl.warmup_runs)]
            rec["setup_s"] = spark_s + sum(m.wall_s for m in warm if m is not None)
            # the count of timed runs follows from --seconds and the
            # workload's nominal run length, not from this machine's
            # speed now: on a loaded host a time window holds fewer runs,
            # all early on the JVM's warm-up curve, which would make a
            # slow host look slower still
            runs = []
            for _ in range(max(1, round(seconds / wl.nominal_run_s))):
                m = attempt("run")
                if m is not None:
                    runs.append(m)
                if time.perf_counter() - t_begin > DEADLINE_S:
                    break
            rec["runs"] = [
                {"wall_s": r.wall_s, "cpu_s": r.cpu_s, "peak_pss_mb": r.peak_pss_mb,
                 "shuffle_mb": r.spark.shuffle_mb, "jobs": r.spark.jobs, "task_s": r.spark.task_s}
                for r in runs
            ]
            if trace:
                rec["attempted"] += 1
                d = fresh_dir()
                try:
                    spans, counts = wl.trace(spark, d, probe)
                    fails = wl.check(d, None)
                except Exception:
                    spans, counts, fails = {}, {}, []
                    failed("trace", traceback.format_exc(limit=3))
                if fails:
                    failed("trace", "; ".join(fails))
                shutil.rmtree(d, ignore_errors=True)
                rec["spans"] = {k: v.as_span() for k, v in spans.items()}
                rec["counts"] = counts
                rec["kernels"] = kernel_rates(seed)
        finally:
            try:
                stop_spark(spark)
            finally:
                shutil.rmtree(run_root, ignore_errors=True)
    rec["process_s"] = time.perf_counter() - t_begin
    return rec


def _median(rec: dict, key: str) -> float:
    runs = rec.get("runs") or []
    return statistics.median(r[key] for r in runs) if runs else 0.0


def e2e_metrics(rec: dict) -> dict:
    values = {
        "peak_pss_mb": _median(rec, "peak_pss_mb"),
        "shuffle_mb": _median(rec, "shuffle_mb"),
        "setup_s": rec.get("setup_s", 0.0),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def layer_metrics(rec: dict) -> dict:
    units = per_layer_units()
    values = dict.fromkeys(units, 0.0)
    for span, vals in rec.get("spans", {}).items():
        for k, v in vals.items():
            values[f"{span}.{k}"] = v
    values.update(rec.get("counts", {}))
    values.update(rec.get("kernels", {}))
    values["trace.span_total_s"] = sum(s["wall_s"] for s in rec.get("spans", {}).values())
    wall = _median(rec, "wall_s")
    values["trace.untraced_wall_s"] = wall
    values["trace.untraced_items_per_s"] = rec["size"] / wall if wall else 0.0
    values["trace.untraced_cpu_s"] = _median(rec, "cpu_s")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparkdedup", "__init__.py")):
        print(f"perfbench: no sparkdedup package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    _prepare_env()
    rec = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    rec["stamp"] = _stamp(args)
    metrics = layer_metrics(rec) if args.trace else e2e_metrics(rec)
    rec["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    runs = len(rec.get("runs") or [])
    print(
        f"[perfbench] {args.workload} seed={args.seed}: {runs} timed runs, "
        f"median wall {_median(rec, 'wall_s'):.3f} s, "
        f"error_rate={rec['failed'] / max(rec['attempted'], 1):.3f}, process {rec['process_s']:.1f} s",
        file=sys.stderr,
    )
    for k, v in metrics.items():
        if v["value"]:
            print(f"  {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    line = {
        "correct": rec["failed"] == 0 and runs > 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
