"""Scaling-efficiency probe (north rule): run the identical KG job on the
identical input at a given parallelism and print one JSON line with wall
time + throughput.

Two modes:
  * --executors E --exec-cores C: master = local-cluster[E,C,3072] — REAL
    separate executor JVMs (own memory, own Python worker pools,
    inter-process shuffle). bench.py runs E=1 vs E=4: literally N vs 4N
    executors, the north rule's own phrasing.
  * --cpus N (thread mode): master = local[N]; the lighter-weight probe
    for per-core sweeps.

Usage: python -m kgx.bench_scale --executors 4 --exec-cores 2 --input DIR
       python -m kgx.bench_scale --cpus 8 --input DIR

bench.py's pair-sequential probe launches this module once PER TRIAL
(--trials 1), alternating N, 4N, N, 4N in time: a fresh process per trial
with exactly one cluster alive at a time. A rejected earlier design kept
both clusters resident and interleaved trials inside them via a stdin
protocol — measurement killed it: a 4N trial ran 45.7s with its cluster
alone but 91-116s with an idle 1N cluster co-resident (the idle local-
cluster Worker/executor JVMs churn 35-58% CPU each), and a sync+settle
pause did not recover it.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--cpus", type=int, default=0, help="thread mode: local[N]")
    p.add_argument(
        "--executors", type=int, default=0,
        help="executor mode: local-cluster[E, exec-cores, 3072]",
    )
    p.add_argument("--exec-cores", type=int, default=2)
    p.add_argument("--input", required=True)
    p.add_argument(
        "--trials",
        type=int,
        default=1,
        help="timed repetitions inside the one warmed session; the MEDIAN "
        "wall is the headline (min + full distribution reported alongside)",
    )
    args = p.parse_args()

    from kgx import aggregate, assemble, cache, relations, resources, session

    # AQE off for the local probe: its sequential query-stage
    # materialization adds ~1-2s latency per shuffle boundary in local mode,
    # which at sandbox scale dominates wall time and masks real scaling
    # (measured: 48s -> 25s at local[32] on 600k turns). On a real cluster
    # AQE stays ON (skew-join splitting matters at 10^12 turns) and its
    # re-planning cost amortizes over minutes-long stages.
    import os

    extra = {"spark.sql.adaptive.enabled": "false"}
    if args.executors:
        # real executor processes: each owns 3 GB + its Python workers;
        # PYTHONPATH ships the package to the executors' workers (the
        # spark-submit deployment uses --py-files dist/kgx.zip instead)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra["spark.executorEnv.PYTHONPATH"] = repo
        master = f"local-cluster[{args.executors},{args.exec_cores},3072]"
        cpus = args.executors * args.exec_cores
        label = f"{args.executors}x{args.exec_cores}"
    else:
        master = f"local[{args.cpus}]"
        cpus = args.cpus
        label = str(args.cpus)
    spark = session.get_spark(
        f"kgx-scale-{label}",
        master=master,
        shuffle_partitions=max(cpus, 8),
        extra_conf=extra,
    )
    kb = resources.default_kb()
    transcripts = spark.read.parquet(args.input)
    n_turns = transcripts.count()

    @cache.scope()
    def run(df):
        # identical dataflow to job.run_pipeline's hot path: map-only
        # admission, slim late dedup inside extract_facts
        turns = assemble.admit_turns(df)
        facts, tf = relations.extract_facts(turns, kb)
        # facts feeds both the sentence and the document branch of
        # all_triples; persist so the link joins run once, not per branch
        return aggregate.all_triples(cache.persist(facts), tf).count()

    # Warm-up on a FILE SUBSET of the input (~1/8 of the parquet files),
    # not .limit(): limit() inserts Local/GlobalLimit nodes, so its
    # generated code differs from the real trial's and the first full
    # trial still paid one-time Janino compilation (measured ~70s vs a
    # ~46s steady state at 4 executors). Reading a subset of the same
    # files keeps the plan SHAPE bit-identical — whole-stage codegen, the
    # Arrow python workers, and the per-worker matcher caches are all hot
    # before the timed trial, which therefore measures steady-state
    # throughput (what a 1000-executor cluster amortizes to).
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(args.input, "*.parquet")))
    if len(files) >= 8:
        warm_df = spark.read.parquet(*files[: max(4, len(files) // 8)])
    else:
        warm_df = transcripts.limit(20000)
    run(warm_df)

    # Multiple timed trials in the SAME warmed session. The MEDIAN wall is
    # the headline estimator: on a shared host external-load bursts slow
    # trials down at random, and taking per-config minima with UNEQUAL
    # trial counts systematically flatters the config given more draws
    # (round 2 recorded a not-credible 1.165 efficiency exactly that way).
    # The median is robust to a burst in either config without cherry-
    # picking; the min and the full distribution are reported alongside so
    # the spread is visible.
    walls: list[float] = []
    loads: list[float] = []
    n_triples = 0

    def timed_trial() -> float:
        nonlocal n_triples
        t0 = time.monotonic()
        n_triples = run(transcripts)
        w = round(time.monotonic() - t0, 3)
        walls.append(w)
        # 1-min loadavg right after the trial: published per-trial so
        # external-load contamination is visible in the record
        try:
            loads.append(float(open("/proc/loadavg").read().split()[0]))
        except OSError:
            loads.append(-1.0)
        return w

    for _ in range(max(args.trials, 1)):
        timed_trial()
    import statistics

    wall = round(statistics.median(walls), 3)

    print(
        json.dumps(
            {
                "master": master,
                "executors": args.executors or None,
                "cpus": cpus,
                "turns": n_turns,
                "triples": n_triples,
                "wall_sec": wall,
                "wall_min_sec": min(walls),
                "trial_walls": walls,
                "trial_loadavg": loads,
                "turns_per_sec": round(n_turns / wall, 1),
                "triples_per_sec": round(n_triples / wall, 1),
            }
        )
    )
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
