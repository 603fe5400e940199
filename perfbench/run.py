"""kgx benchmark: one command per workload.

    python3 perfbench/run.py --workload job_short_turns --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The command generates the workload's
inputs from --seed under .perfbench_work/, starts Spark at local[k]
(k = min(4, nproc)) with the kgx.session.get_spark defaults, warms the
program up on a file subset of the same input, then runs timed units in a
closed loop (one client, next unit after the previous one ends) until
--seconds of unit time have passed, at least one unit. The outputs are
checked outside the timed units.

--trace 0 prints the end-to-end metrics; --trace 1 runs the traced
layer-by-layer pass instead (perfbench/trace.py) and prints the per-layer
metrics. The last stdout line is one JSON object: correct, attempted,
failed, metrics.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_UNITS = 50


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def local_cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def start_spark(extra_conf: dict[str, str] | None = None):
    from kgx import session

    k = local_cores()
    return session.get_spark(
        "kgx-perfbench", master=f"local[{k}]", shuffle_partitions=k,
        extra_conf=extra_conf,
    )


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM (it exits when its stdin
    closes), and wait until every process this one started has ended."""
    from perfbench import procstat

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while procstat.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while procstat.descendants():
        time.sleep(0.1)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )


def checked(check, *args) -> list[str]:
    """A check's problems; a check that raises is one problem, so a broken
    output counts as a failed unit instead of ending the run."""
    try:
        return check(*args)
    except Exception as e:
        traceback.print_exc()
        return [f"check raised {type(e).__name__}: {e}"]


def run_untraced(args, wl, t_proc_start: float) -> tuple[bool, int, int, dict, dict]:
    from perfbench import procstat

    walls, cpus, problems = [], [], []
    failed_units: set[int] = set()
    with procstat.PeakRss() as rss:
        spark = start_spark()
        try:
            t = time.time()
            wl.prepare(spark)
            gen_s = time.time() - t
            wl.load()
            wl.warm(spark)
            setup_s = time.time() - t_proc_start - gen_s

            measured, i = 0.0, 0
            while i == 0 or (measured < args.seconds and i < MAX_UNITS):
                c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
                try:
                    wl.unit(spark, i)
                    ok = True
                except Exception:
                    traceback.print_exc()
                    ok = False
                wall = time.perf_counter() - t0
                cpu = procstat.tree_cpu_s() - c0
                measured += wall
                walls.append(wall)
                cpus.append(cpu)
                unit_problems = checked(wl.after_unit, spark, i) if ok else ["unit raised"]
                if unit_problems:
                    failed_units.add(i)
                    problems += [f"unit {i}: {p}" for p in unit_problems]
                i += 1
            rss.sample()
            peak_mb = rss.peak_mb
            run_problems = checked(wl.check_run, spark)
            if run_problems:
                # the run-level check reads unit 0's output (job) or the same
                # program's rows (queries): unit 0 counts as failed
                failed_units.add(0)
                problems += run_problems
        finally:
            stop_spark(spark)

    attempted = len(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "cpu_s": (statistics.median(cpus), "s"),
    }
    info = {
        "gen_s": round(gen_s, 3),
        "unit_wall_s": [round(w, 3) for w in walls],
        "unit_cpu_s": [round(c, 3) for c in cpus],
        "problems": problems,
        "extra": {"peak_rss_mb": (peak_mb, "MB"), **wl.extra()},
    }
    return not failed_units, attempted, len(failed_units), metrics, info


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a TERM (e.g. a timeout) still runs the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "kgx")):
        return fail(f"no kgx package in {ROOT}: run from the root of a kgx checkout")
    sys.path.insert(0, ROOT)
    # Spark's Python workers import kgx too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import procstat, workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    t_proc_start = procstat.process_start_epoch()
    host = procstat.fingerprint(ROOT, f"local[{local_cores()}]", args.seed)
    host["workload"] = args.workload
    host["trace"] = args.trace
    host["load_before"] = procstat.load_sample()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
        if args.trace:
            from perfbench import trace

            correct, attempted, failed, metrics, info = trace.run_traced(args, wl)
        else:
            correct, attempted, failed, metrics, info = run_untraced(args, wl, t_proc_start)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    host["load_after"] = procstat.load_sample()
    print("host " + json.dumps(host))
    print("info " + json.dumps(info, default=str))
    shown = dict(metrics)
    if not args.trace:
        shown.update(info["extra"])
        shown["error_rate"] = (failed / attempted, "share")
    print("summary " + " ".join(f"{k}={v:.4f} {u}" for k, (v, u) in shown.items()))
    print(result_line(correct, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
