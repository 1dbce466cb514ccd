"""Steadiness and repeat checks over several benchmark runs.

    python3 perfbench/stats.py spread --workload W --seeds 1-10 [--seconds S]
        Runs the benchmark once per seed (tracing off, one run at a
        time) and prints, per end-to-end metric, the median and the
        spread: (Q3 - Q1) / median, quartiles as
        ``statistics.quantiles(values, n=4)`` gives them.

    python3 perfbench/stats.py repeat --workload W --seed N [--seconds S]
        Runs the traced benchmark twice on one seed and reports which
        count metrics repeat exactly. A count that does not repeat is
        listed with its spread, to be read as a timing, not a count.

Both read ``seconds`` from BENCHMARK.json unless given.
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

#: the traced counts that must repeat exactly on one seed
REPEAT_COUNTS = (
    "spark.jobs", "spark.stages", "py4j.calls", "delta_log.commit_n",
    "delta_log.checkpoint_n", "io.files_opened", "io.footer_reads",
)


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"run failed (rc={out.returncode}): {' '.join(cmd)}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def cmd_spread(args, bench) -> int:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {m: [] for m in bounds}
    walls = []
    for seed in seeds_arg(args.seeds):
        t0 = time.perf_counter()
        res = run_once(args.workload, seed, args.seconds, 0)
        walls.append(time.perf_counter() - t0)
        if not res["correct"] or res["failed"]:
            print(f"seed {seed}: NOT correct ({res['failed']}/{res['attempted']} failed)")
        for m in bounds:
            values[m].append(res["metrics"][m]["value"])
        print(f"seed {seed}: " + " ".join(f"{m}={values[m][-1]:.4g}" for m in bounds)
              + f" (run {walls[-1]:.0f} s)", flush=True)
    print(f"{args.workload:<13} run wall: median {statistics.median(walls):.0f} s, max {max(walls):.0f} s")
    ok = True
    for m, vs in values.items():
        s = spread(vs)
        verdict = "ok" if s <= bounds[m] / 3 else ("WITHIN BOUND" if s <= bounds[m] else "OVER BOUND")
        if m != "setup_s" and s > bounds[m]:
            ok = False
        print(f"{args.workload:<13} {m:<14} median={statistics.median(vs):<10.5g} "
              f"spread={s:.3f} bound={bounds[m]} {verdict}")
    return 0 if ok else 1


def cmd_repeat(args, bench) -> int:
    a = run_once(args.workload, args.seed, args.seconds, 1)["metrics"]
    b = run_once(args.workload, args.seed, args.seconds, 1)["metrics"]
    ok = True
    for m in REPEAT_COUNTS:
        va, vb = a[m]["value"], b[m]["value"]
        if va == vb:
            print(f"{args.workload:<13} {m:<24} repeats: {va:g}")
        else:
            ok = False
            mid = (va + vb) / 2
            print(f"{args.workload:<13} {m:<24} DOES NOT REPEAT: {va:g} vs {vb:g} "
                  f"(spread {abs(va - vb) / mid if mid else 0:.3f}; read it as a timing)")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("spread", "repeat"):
        p = sub.add_parser(name)
        p.add_argument("--workload", required=True)
        p.add_argument("--seconds", type=float)
        if name == "spread":
            p.add_argument("--seeds", default="1-10")
        else:
            p.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    bench = bench_json()
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    return cmd_spread(args, bench) if args.cmd == "spread" else cmd_repeat(args, bench)


if __name__ == "__main__":
    sys.exit(main())
