#!/usr/bin/env python3
"""Stability self-check: run each workload in two sets of seeds and report,
per end-to-end metric, each set's median and quartiles, the spread
(interquartile distance as a share of the median) and whether the sets
agree within BENCHMARK.json's bounds.

    python3 perfbench/stability.py [--runs 10] [--workloads extract_bulk ...]

Set A uses seeds first-seed .. first-seed+runs-1, set B the next ``runs``
seeds. A metric passes when each set's spread is within its bound
(``setup_s`` excepted: its spread is reported, not judged) and set B's
median is not worse than set A's by more than the bound. The spread over
both sets together is printed too. Raw results, with each run's job
times, are written to ``.bench_work/stability-<time>.json``. Exits 1 on
any failure.
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
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    for line in proc.stderr.splitlines():
        if line.startswith('{"workload"'):
            result["info"] = json.loads(line)
    return result


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    if not first:
        return 0.0
    return (second - first) / first if better == "lower" else (first - second) / first


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args(argv)

    results: dict[str, list[list[dict]]] = {}
    ok = True
    for wl in args.workloads:
        sets = []
        for s in range(2):
            seeds = range(args.first_seed + s * args.runs,
                          args.first_seed + (s + 1) * args.runs)
            sets.append([run_once(wl, seed, args.seconds) for seed in seeds])
        results[wl] = sets
        print(f"\n{wl} ({args.runs} runs per set)")
        print(f"{'metric':<22}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}  verdict")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            per_set = [[r["metrics"][name]["value"] for r in runs] for runs in sets]
            worst = 0.0
            for label, vals in zip("AB", per_set):
                med, q1, q3, sp = spread(vals)
                worst = max(worst, sp)
                print(f"{name:<22}{label:>4}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}"
                      f"{sp:>9.4f}{bound:>7}")
            _, _, _, sp_all = spread(per_set[0] + per_set[1])
            drift = worse_by(statistics.median(per_set[0]),
                             statistics.median(per_set[1]), m["better"])
            fine = drift <= bound and (name == "setup_s" or worst <= bound)
            ok &= fine
            print(f"{name:<22}{'A+B':>4}{'':>36}{sp_all:>9.4f}{bound:>7}  "
                  f"{'ok' if fine else 'FAIL'} (B worse than A by {drift:+.4f},"
                  f" worst set spread/bound {worst / bound:.2f})")

    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_work", f"stability-{int(time.time())}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(results, f, indent=1)
    print(f"\nraw results: {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
