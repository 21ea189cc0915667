"""Steadiness check: repeat the benchmark and report its spread.

    python3 perfbench/steady.py --runs 10 --sets 2

For each set, every workload runs ``--runs`` times, each with another
seed, through ``perfbench/run.py`` in a fresh process. For every
workload and end-to-end metric it prints each set's median and
quartiles, the spread (interquartile distance over median) against the
metric's bound in ``BENCHMARK.json``, and whether the later set's
median is within the bound of the first, and the mean time of one
process. The full table is written to ``perfbench/.work/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["process_s"] = elapsed
    with open(os.path.join(HERE, ".work", "results", f"{workload}-seed{seed}-trace0.json")) as f:
        out["stamp"] = json.load(f)["stamp"]
    return out


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per workload and set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="*", help="default: all in BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    samples = {w: [[] for _ in range(args.sets)] for w in workloads}
    process_s = []
    seed = args.first_seed
    for s in range(args.sets):
        for _ in range(args.runs):
            for w in workloads:
                out = run_once(w, seed, bench["run_seconds"])
                process_s.append(out["process_s"])
                if not out["correct"]:
                    print(f"{w} seed {seed}: correct=false", file=sys.stderr)
                samples[w][s].append(out)
                print(f"set {s + 1} {w} seed {seed}: {out['process_s']:.1f} s", file=sys.stderr)
            seed += 1

    stamp = samples[workloads[0]][0][0]["stamp"]
    print("stamp: " + ", ".join(f"{k}={stamp[k]}" for k in ("nproc", "spark", "pyarrow", "numpy", "commit")))
    report = {"workloads": {}, "mean_process_s": statistics.mean(process_s), "stamp": stamp}
    ok = True
    for w in workloads:
        rows = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sets = []
            for runs in samples[w]:
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = quartiles(vals)
                sets.append({"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med})
            worse = [
                (st["median"] - sets[0]["median"]) / sets[0]["median"] * (1 if m["better"] == "lower" else -1)
                for st in sets[1:]
            ]
            spread_ok = name == "setup_s" or all(st["spread"] <= bound for st in sets)
            agree = all(x <= bound for x in worse)
            ok &= spread_ok and agree
            rows[name] = {"bound": bound, "sets": sets, "worse_by": worse,
                          "spread_ok": spread_ok, "agree": agree}
            print(
                f"{w:14s} {name:12s} bound {bound:.2f} "
                + " | ".join(f"med {st['median']:.4g} q1 {st['q1']:.4g} q3 {st['q3']:.4g} "
                             f"spread {st['spread']:.3f}" for st in sets)
                + (f" | worse_by {max(worse):+.3f} {'agree' if agree else 'DISAGREE'}" if worse else "")
                + ("" if spread_ok else " SPREAD>BOUND")
            )
        report["workloads"][w] = rows
    print(f"mean process {report['mean_process_s']:.1f} s; {'STEADY' if ok else 'NOT STEADY'}")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "steady.json"), "w") as f:
        json.dump({"report": report, "samples": samples}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
