"""Steadiness evidence: run one workload on several seeds and report, for
every metric, the median, the quartiles and the spread (third minus first
quartile, as a share of the median), with the bounds from BENCHMARK.json.

    python3 perfbench/steadiness.py --workload job_short_turns --seeds 1-10 \\
        [--seconds 10] [--trace 0] [--out results.jsonl]

Each run is a separate process, one after the other. Run from the root of
a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / statistics.median(values),
    }


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float, list[str]]:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), time.time() - t0, lines[:-1]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None, help="append each run's lines here")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    run_walls = []
    for seed in seed_list(args.seeds):
        result, run_wall, other = run_once(args.workload, seed, seconds, args.trace)
        run_walls.append(run_wall)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: run {run_wall:.1f} s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()),
              flush=True)
        if args.out:
            with open(args.out, "a") as f:
                for line in other + [json.dumps(result)]:
                    f.write(f"{args.workload}\t{seed}\t{line}\n")
    report = {k: spread(v) for k, v in values.items() if len(v) >= 2}
    for k, r in report.items():
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if r["spread"] < b / 3 else " WIDE")
        print(f"{k}: median {r['median']:.4f} q1 {r['q1']:.4f} q3 {r['q3']:.4f} "
              f"spread {r['spread']:.4f} bound {b}{flag}")
    print(f"run wall: median {statistics.median(run_walls):.1f} s max {max(run_walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
