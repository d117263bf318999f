"""Steadiness check: two independent sets of benchmark runs of the same
code, compared metric by metric against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10              # all workloads, 2 sets
    python3 perfbench/steady.py --runs 5 --sets 1 --workloads edit_path
    python3 perfbench/steady.py --load .bench_out/steady-<stamp>.json

For each workload and end-to-end metric, a set's spread is the distance
between the first and third quartile of its runs (``statistics.
quantiles(values, n=4)``) as a share of their median. A metric fails
when a set's spread exceeds its bound, or when
the second set's median is worse than the first's by more than the
bound. Every failure is printed by metric and workload; the exit code
is 1 when there is any. Runs go one at a time, each with its own seed
(set k uses seeds first_seed + k*runs ...), and their results are saved
under .bench_out/ so a check can be re-read without re-running.
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


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    res.update(workload=workload, seed=seed, returncode=proc.returncode, wall_s=wall)
    print(
        f"{workload:16s} seed {seed:4d} rc {proc.returncode} {wall:6.1f} s  "
        + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
        flush=True,
    )
    return res


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def analyse(spec: dict, sets: list[list[dict]]) -> list[str]:
    problems = []
    for res in (r for s in sets for r in s):
        if res["returncode"] != 0 or not res["correct"]:
            problems.append(f"{res['workload']} seed {res['seed']}: run failed (rc {res['returncode']})")
    workloads = sorted({r["workload"] for s in sets for r in s})
    print(f"\n{'workload':16s} {'metric':14s} {'bound':>6s}  " + "  ".join(
        f"{'median' + str(i + 1):>11s} {'spread' + str(i + 1):>8s}" for i in range(len(sets))
    ))
    for wl in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            medians = []
            cells = []
            for s in sets:
                vals = [r["metrics"][name]["value"] for r in s if r["workload"] == wl and name in r["metrics"]]
                if len(vals) < 2:
                    problems.append(f"{wl} {name}: fewer than two runs with a value")
                    cells.append(f"{'-':>11s} {'-':>8s}")
                    medians.append(None)
                    continue
                sp = spread(vals)
                medians.append(statistics.median(vals))
                cells.append(f"{medians[-1]:11.4g} {sp:8.3f}")
                if sp > bound:
                    problems.append(f"{wl} {name}: spread {sp:.3f} exceeds bound {bound}")
            print(f"{wl:16s} {name:14s} {bound:6.2f}  " + "  ".join(cells))
            for a, b in zip(medians, medians[1:]):
                if a is None or b is None:
                    continue
                shift = (b - a) / a if m["better"] == "lower" else (a - b) / a
                if shift > bound:
                    problems.append(f"{wl} {name}: second median worse by {shift:.3f} > bound {bound}")
    return problems


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="two-set steadiness check against BENCHMARK.json bounds")
    p.add_argument("--runs", type=int, default=10, help="runs per workload per set")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1000)
    p.add_argument("--workloads", default="", help="comma-separated; default all")
    p.add_argument("--load", default="", help="re-analyse a saved results file")
    args = p.parse_args(argv)
    spec = _spec()
    if args.load:
        with open(args.load) as fh:
            sets = json.load(fh)
    else:
        names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
        seconds = spec["run_seconds"]
        sets = []
        for k in range(args.sets):
            base = args.first_seed + k * args.runs
            sets.append([run_once(spec, wl, base + i, seconds) for i in range(args.runs) for wl in names])
        out = os.path.join(ROOT, ".bench_out", f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as fh:
            json.dump(sets, fh)
        print(f"results saved to {out}")
    problems = analyse(spec, sets)
    for msg in problems:
        print("OUT OF BOUND:", msg)
    print("steady" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
