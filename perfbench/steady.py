"""Steadiness self-check: repeat one workload over several seeds and
print, for each end-to-end metric, the median, the quartiles and the
spread (interquartile distance over the median) against the bound in
``BENCHMARK.json``. A spread under a third of its bound passes.

    python3 perfbench/steady.py --workload dashboard_reads --seeds 1-10

With ``--traced`` each seed also gets a traced run, and the tracing
overhead (traced minus untraced, as a share of untraced) is printed per
end-to-end metric, read from the traced run's span file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(f"{ROOT}/BENCHMARK.json") as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    seeds = list(range(lo, hi + 1))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {name: [] for name in bounds}
    overhead: dict[str, list[float]] = {name: [] for name in bounds}
    for seed in seeds:
        res = run_once(args.workload, seed, bench["run_seconds"], 0)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for name in bounds:
            values[name].append(res["metrics"][name]["value"])
        if args.traced:
            run_once(args.workload, seed, bench["run_seconds"], 1)
            with open(f"{ROOT}/.perfbench/traces/{args.workload}-seed{seed}.json") as f:
                traced = json.load(f)["end_to_end_traced"]
            for name in bounds:
                overhead[name].append(traced[name] / res["metrics"][name]["value"] - 1)
    ok = True
    for name, bound in bounds.items():
        q1, med, q3, sp = spread(values[name])
        passed = sp < bound / 3
        ok &= passed
        line = (f"{name:12s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={sp:.3f} "
                f"bound={bound} {'ok' if passed else 'TOO WIDE'}")
        if args.traced:
            line += f" trace_overhead={statistics.median(overhead[name]):+.3f}"
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
