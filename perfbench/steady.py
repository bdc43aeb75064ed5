"""Steadiness harness: run each workload N times with N seeds, report
every metric's median and quartiles, and derive regression bounds from
the observed spread.

    python3 perfbench/steady.py --workloads reshape_mix,operator_chain --runs 10
    python3 perfbench/steady.py --compare first.json second.json

The spread of a metric is the distance between its first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of its
median. A bound must be at least three times the spread, so the derived
bound is ``min(0.25, max(0.05, 3.5 * spread))`` rounded up to 0.01;
``setup_s`` always gets the largest bound, 0.25. ``--compare`` checks
that the second set's medians are no worse than the first's by more
than each metric's bound in BENCHMARK.json. Runs are sequential, one
process at a time; the summary goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    result["returncode"] = proc.returncode
    result["elapsed_s"] = time.perf_counter() - t
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / abs(med) if med else math.inf
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(values)}


def derived_bound(name: str, spread: float) -> float:
    if name == "setup_s":
        return 0.25
    return min(0.25, max(0.05, math.ceil(3.5 * spread * 100) / 100))


def better_is_lower(name: str, bench: dict) -> bool:
    for m in bench["end_to_end"]:
        if m["name"] == name:
            return m["better"] == "lower"
    return True


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def measure(args) -> int:
    bench = load_bench() if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]} if bench else {}
    summary: dict = {}
    ok = True
    for workload in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            r = run_once(workload, args.seed0 + i, args.seconds, args.trace)
            runs.append(r)
            print(f"{workload} seed={args.seed0 + i} rc={r['returncode']} correct={r.get('correct')} "
                  f"attempted={r.get('attempted')} failed={r.get('failed')} elapsed={r['elapsed_s']:.1f}s",
                  flush=True)
            if r["returncode"] != 0 or not r.get("correct") or r.get("failed"):
                ok = False
        names = runs[0].get("metrics", {}).keys()
        stats = {}
        for name in names:
            s = summarize([r["metrics"][name]["value"] for r in runs if "metrics" in r])
            s["derived_bound"] = derived_bound(name, s["spread"])
            if name in bounds:
                s["bound"] = bounds[name]
                s["steady"] = name == "setup_s" or s["spread"] < bounds[name] / 3
                ok = ok and s["steady"]
            stats[name] = s
            print(f"  {name:28s} median={s['median']:.6g} q1={s['q1']:.6g} q3={s['q3']:.6g} "
                  f"spread={s['spread']:.4f} derived_bound={s['derived_bound']}"
                  + (f" bound={s['bound']} steady={s['steady']}" if "bound" in s else ""), flush=True)
        summary[workload] = {"runs": runs, "stats": stats,
                             "elapsed_median_s": statistics.median(r["elapsed_s"] for r in runs)}
    out = args.out or os.path.join(ROOT, ".perfbench_out", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"summary: {out}  steady={ok}")
    return 0 if ok else 1


def compare(first_path: str, second_path: str) -> int:
    bench = load_bench()
    with open(first_path) as f:
        first = json.load(f)
    with open(second_path) as f:
        second = json.load(f)
    ok = True
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        for workload in first:
            if workload not in second:
                continue
            a = first[workload]["stats"][name]["median"]
            b = second[workload]["stats"][name]["median"]
            worse = (b - a) / a if better_is_lower(name, bench) else (a - b) / a
            flag = worse <= bound
            ok = ok and flag
            print(f"{workload:16s} {name:20s} first={a:.6g} second={b:.6g} worse_by={worse:+.4f} "
                  f"bound={bound} {'ok' if flag else 'REGRESSED'}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if args.seconds is None:
        args.seconds = load_bench()["run_seconds"]
    if args.workloads is None:
        args.workloads = ",".join(w["name"] for w in load_bench()["workloads"])
    return measure(args)


if __name__ == "__main__":
    sys.exit(main())
