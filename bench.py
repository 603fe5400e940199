"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Also (unless BENCH_SKIP_SCALING=1) runs the north-rule scaling probe — the
full KG-extraction job on an identical synthetic transcript corpus at N
and 4N real executor JVMs (local-cluster mode) — and records throughput at
both plus efficiency = tput(4N) / (4 × tput(N)) in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "kg_sentence_triples",
    "kg_document_triples",
    "kg_fallback_ratio",
    "kg_mentions",
    "cc_canonicalize",
    "a1_posneg_ratio",
    "w1_turn_order",
    "sessionize",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_cosine_topk",
    "mm_image_meta",
    "tpch_q1_pricing",
    "tpch_q3_revenue",
    "asof_last_purchase",
    "graph_pagerank",
    "curate_contamination",
    "dedup_embedding",
    "a6_model_fuzzy",
    "stats_hist_profile",
    "ann_lsh_topk",
    # new in round 4b (extend, never replace, so round-over-round deltas on
    # the shared prefix stay comparable)
    "sketch_cms_heavy_hitters",
    "sketch_bloom_contamination",
    "text_tfidf_topk",
    "kg_entity_carryover",
    "ann_pq_topk",
    # new in round 4c
    "dedup_semantic",
    "text_dup_substring",
    "text_bm25",
    "kg_triple_type_check",
    "text_ngram_lm",
    "curate_chunk_documents",
    "events_scd2",
    "curate_group_cap",
    "text_lm_score",
    "events_rolling",
    "curate_temperature_sample",
    "text_bpe_pairs",
    "events_outliers",
    # new in round 5
    "mm_frame_index_real",
    "kg_multiturn_phrase_edges",
    "graph_negative_samples",
    "kg_mention_contexts",
    "graph_random_walks",
    "text_mlm_mask",
    "graph_skipgram_pairs",
    "kg_sft_pairs",
    # new in round 5 final batch
    "curate_dpo_pairs",
    "graph_jaccard_similarity",
    "graph_resource_alloc",
    "kg_subclass_closure",
    "kg_tool_transitions",
    "kg_nsp_pairs",
    "sketch_quantile_merge",
    "graph_landmark_distances",
    "events_cohort_retention",
    "curate_dedup_weights",
    "graph_kcore",
    "graph_ppr_seeds",
    "curate_boilerplate",
    "curate_train_split",
    "text_span_corruption",
    "curate_url_normalize",
    "events_props_stats",
    # new in round 5 closing batch
    "graph_label_propagation",
    "curate_dsir_weights",
    "text_pmi_collocations",
    "text_winnow_fingerprints",
    "kg_fuzzy_alias_pairs",
    "graph_hits",
    "text_rake_keywords",
    "sketch_kmv_intersection",
    "curate_cdc_chunks",
    # new in round 5 fusion batch
    "kg_fact_fusion",
    "kg_fact_provenance",
    "kg_snapshot_diff",
    "kg_entity_salience",
    "dedup_containment",
    "curate_mix_interleave",
    "stats_correlation",
    "text_textrank",
    "mm_exif_orientation",
    "graph_modularity",
    "curate_ppl_band",
    # new in the round-5 extension session
    "graph_ktruss",
    "graph_closeness",
    "stats_chi2",
    "events_attribution",
    "kg_temporal_validity",
    "text_bpe_encode",
    "events_topk_paths",
    "graph_clustering",
    "kg_facts_asof",
    "stats_ks_drift",
    "graph_assortativity",
]


def run_headline(sf_dir: str, cpus: int) -> tuple[dict[str, float], dict[str, list[float]]]:
    from kgx import cache, session
    from kgx.queries import REGISTRY

    spark = session.get_spark(
        "kgx-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    # Warm up JVM codegen + the Arrow python-worker pool once so per-query
    # timings measure the operators, not session cold-start (~14s).
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s * 2

    warm = spark.range(1000).withColumn("y", _warm("id"))
    warm.join(F.broadcast(spark.range(10)), "id").groupBy().sum("y").collect()

    # Warm EVERY headline plan's whole-stage codegen on tiny table copies:
    # identical expression trees compile to identical generated source, so
    # the timed runs hit the Janino cache and measure execution, not
    # compilation (~9s one-time compile for the extraction plan and ~10s
    # for the 60-column SimHash agg, measured at local[32]).
    import shutil
    import tempfile

    from kgx.queries import _KG_CACHE

    warm_dir = tempfile.mkdtemp(prefix="kgx_warm_")
    try:
        for tbl in ("documents", "part", "embeddings", "events",
                    "lineitem", "orders", "customer"):
            spark.read.parquet(f"{sf_dir}/{tbl}.parquet").limit(30).write.mode(
                "overwrite"
            ).parquet(f"{warm_dir}/{tbl}.parquet")
        for qn in HEADLINE:
            try:
                with cache.scope():
                    REGISTRY[qn][0](spark, warm_dir).count()
            except Exception as e:  # pragma: no cover - warm best-effort
                print(f"  warm {qn} failed: {e}", file=sys.stderr)
    finally:
        # the kg memo's caches are session-lifetime: drop them by hand
        for _sp, facts, tf in _KG_CACHE.values():
            facts.unpersist()
            tf.unpersist()
        _KG_CACHE.clear()
        shutil.rmtree(warm_dir, ignore_errors=True)

    # >=3 timed passes, MEDIAN per query (round-4 methodology fix): round 3
    # shipped single-effective-pass numbers on a bursty shared host, which
    # made a uniform ~1.33x host-load slowdown indistinguishable from a code
    # regression. The median over N passes is robust to one-sided load
    # bursts without the min's flattery, and the per-query pass lists are
    # published so spread is visible (a real regression moves the whole
    # distribution; host noise widens it). Every pass starts cold: ALL
    # persisted intermediates are dropped between passes (Spark's
    # CacheManager plan-matches otherwise and later passes would read the
    # first pass's persisted indexes — warm-cache numbers, not operator
    # cost). Codegen stays warm across passes (intended: compilation is
    # one-time in any long-lived deployment).
    n_passes = int(os.environ.get("BENCH_PASSES", "3"))
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for pass_i in range(n_passes):
        for name in HEADLINE:
            fn, _sql = REGISTRY[name]
            # the scope releases the caches the query made, so they don't
            # leak into later queries' memory budget within a pass
            with cache.scope():
                t0 = time.monotonic()
                n = fn(spark, sf_dir).count()
                dt = round(time.monotonic() - t0, 3)
            passes[name].append(dt)
            print(f"  {name}[{pass_i}]: {dt:.2f}s ({n} rows)", file=sys.stderr)
        _KG_CACHE.clear()
        spark.catalog.clearCache()
    spark.stop()
    timings = {
        name: round(statistics.median(ts), 3) for name, ts in passes.items()
    }
    return timings, passes


SCALE_N = int(os.environ.get("BENCH_SCALE_N", "1"))
SCALE_4N = 4 * SCALE_N
SCALE_EXEC_CORES = int(os.environ.get("BENCH_SCALE_EXEC_CORES", "2"))
# "executors": local-cluster[N,C,3072] vs local-cluster[4N,C,3072] — real
# separate executor JVMs, the north rule's literal N vs 4N executors.
# "threads": local[N] vs local[4N] (per-core sweep mode).
SCALE_MODE = os.environ.get("BENCH_SCALE_MODE", "executors")
SCALE_TURNS = int(os.environ.get("BENCH_SCALE_TURNS", "5000000"))
# EQUAL trial counts per config: the estimator is the per-config MEDIAN
# wall, and unequal draw counts with a min estimator systematically
# flatter the config given more draws (round 2's 1.165 "superlinear"
# efficiency was exactly that — min-of-3 vs min-of-5 under bursty load).
SCALE_TRIALS_N = int(os.environ.get("BENCH_SCALE_TRIALS_N", "4"))
SCALE_TRIALS_4N = int(os.environ.get("BENCH_SCALE_TRIALS_4N", "4"))


def _spin(q, dur: float) -> None:
    t_end = time.monotonic() + dur
    n = 0
    while time.monotonic() < t_end:
        for _ in range(10000):
            pass
        n += 10000
    q.put(n)


def _effective_cores(nproc: int, dur: float = 1.5) -> float:
    """Measured parallel speedup of nproc pure-CPU spin processes over one:
    a direct, Spark-independent read of how many physical cores the
    hypervisor is ACTUALLY backing right now. On this box loadavg cannot
    see co-tenant pressure (it counts our runnable tasks only): during one
    round-5 degraded window the 8-core KG trial ran 65-125s vs its 35s
    healthy wall while loadavg looked normal — this probe is what
    distinguishes those windows (it read 7.65/8 minutes after the window
    passed)."""
    import multiprocessing as mp

    def rate(k: int) -> float:
        q = mp.Queue()
        ps = [mp.Process(target=_spin, args=(q, dur)) for _ in range(k)]
        for p in ps:
            p.start()
        tot = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        return tot / dur

    # base = MAX of two 1-proc measurements: a descheduled single spin
    # process depresses the baseline and the ratio then reads ABOVE nproc
    # (round 5 recorded 9.8-10.35 "effective cores" on an 8-proc probe in
    # exactly such a window) — an artifact, not capacity
    base = max(rate(1), rate(1))
    return round(rate(nproc) / base, 2) if base else 0.0


def _mem_bw_gbs(nproc: int = 8, dur: float = 1.0) -> float:
    """Aggregate memory-streaming throughput (GB/s) of nproc processes each
    repeatedly summing a 64 MB float64 array. RECORDED, not thresholded:
    round 5 observed a second kind of degraded window the spin gate cannot
    see — 2-core Spark trials slowed 40% while spin capacity read 7-8/8
    effective cores, i.e. co-tenant MEMORY-BANDWIDTH pressure (the spin
    loop barely touches memory; Spark is bandwidth-hungry). Publishing this
    number per gate lets a reader classify such windows in the record."""
    import multiprocessing as mp

    def stream(q, dur):
        import numpy as np

        a = np.ones(8 * 1024 * 1024, dtype=np.float64)  # 64 MB
        t_end = time.monotonic() + dur
        n = 0
        while time.monotonic() < t_end:
            a.sum()
            n += 1
        q.put(n * a.nbytes)

    q = mp.Queue()
    ps = [mp.Process(target=stream, args=(q, dur)) for _ in range(nproc)]
    for p in ps:
        p.start()
    tot = sum(q.get() for _ in ps)
    for p in ps:
        p.join()
    return round(tot / dur / 1e9, 1)


GATE_MIN_FRAC = float(os.environ.get("BENCH_GATE_MIN_FRAC", "0.75"))
GATE_MAX_WAIT = float(os.environ.get("BENCH_GATE_MAX_WAIT", "600"))
# Healthy-box memory-streaming reference: ~84 GB/s at 8 procs, measured
# 2026-08-19 on this VM in windows where the KG trials hit their fastest
# recorded walls. The gate requires 90% of it: round-5 batch 9 measured
# 63-79 GB/s pre-pair / 70-74 post-pair and its 1N walls inflated 13-35%
# — bandwidth pressure corrupts trials just like core pressure, so as of
# that batch the gate WAITS on it too (previously recorded-only).
HEALTHY_BW_GBS = float(os.environ.get("BENCH_HEALTHY_BW_GBS", "84.0"))
GATE_MIN_BW = float(os.environ.get("BENCH_GATE_MIN_BW_FRAC", "0.90")) * HEALTHY_BW_GBS


def _capacity_gate(need_cores: int) -> dict:
    """Pre-trial host-health gate: before each scaling PAIR, require the
    host to demonstrably deliver (a) >= GATE_MIN_FRAC * need_cores
    effective cores to a raw spin probe AND (b) >= GATE_MIN_BW GB/s of
    aggregate memory-streaming throughput, waiting (bounded, 45s steps)
    for a degraded co-tenant window to pass. Honest by construction: the
    gate runs BEFORE the pair, never discards a completed trial, and every
    check — including a gave_up=True timeout after which the pair runs
    anyway — is published in the scaling record."""
    t0 = time.monotonic()
    checks: list[float] = []
    bw_checks: list[float] = []
    while True:
        eff = _effective_cores(need_cores)
        bw = _mem_bw_gbs(need_cores)
        checks.append(eff)
        bw_checks.append(bw)
        ok = eff >= GATE_MIN_FRAC * need_cores and bw >= GATE_MIN_BW
        timed_out = time.monotonic() - t0 > GATE_MAX_WAIT
        if ok or timed_out:
            return {"effective_cores": eff, "checks": checks,
                    "mem_bw_gbs": bw, "bw_checks": bw_checks,
                    "waited_s": round(time.monotonic() - t0, 1),
                    "gave_up": not ok}
        print(f"    capacity gate: {eff}/{need_cores} effective cores, "
              f"{bw}/{GATE_MIN_BW:.0f} GB/s — waiting 45s for the degraded "
              f"window to pass ...",
              file=sys.stderr)
        time.sleep(45)


def _classify_pair(gate: dict, need: int) -> dict:
    """Post-hoc health classification of one scaling PAIR from its
    INDEPENDENT capacity instruments (pre-gate, post-pair, and mid-trial
    spin/bandwidth probes) — never from the efficiency value itself, so
    screening on it is not cherry-picking. A pair is healthy only if every
    core reading sits in [GATE_MIN_FRAC*need, 1.25*need] (readings ABOVE
    the band mean the 1-proc baseline was descheduled — itself pressure)
    and both edge bandwidth readings clear GATE_MIN_BW. Mid-trial
    bandwidth is recorded but not thresholded: our own trial consumes
    bandwidth, so its healthy band differs from the idle-box reference."""
    lo, hi = GATE_MIN_FRAC * need, 1.25 * need
    reasons = []
    pre_c = gate.get("effective_cores")
    post_c = gate.get("post_pair_effective_cores")
    for tag, v in (("pre", pre_c), ("post", post_c)):
        if v is None:
            continue
        if v < lo:
            reasons.append(f"{tag}-core-pressure({v})")
        elif v > hi:
            reasons.append(f"{tag}-probe-anomaly({v})")
    for tag, v in (("pre", gate.get("mem_bw_gbs")),
                   ("post", gate.get("post_pair_mem_bw_gbs"))):
        if v is not None and v < GATE_MIN_BW:
            reasons.append(f"{tag}-bw-pressure({v})")
    for cfg, mids in (gate.get("mid_trial") or {}).items():
        bad = [v for v in mids.get("effective_cores", []) if v < lo or v > hi]
        if bad:
            reasons.append(f"mid-{cfg}-core-pressure({bad})")
    if gate.get("gave_up"):
        reasons.append("gate-gave-up")
    return {"healthy": not reasons, "reasons": reasons}


class _MidTrialSampler:
    """Samples host capacity DURING a trial from a daemon thread: an
    ~1s 8-proc spin probe every ~12s (plus an 0.6s bandwidth probe every
    third sample, recorded-only). This is the instrument the round-5
    batch-8 record was missing: its edge gates all read healthy while two
    4N trials ran 40% slow — the window lived entirely between the edges.
    Interference is bounded (<0.7 core average on a 32-CPU box) and lands
    IDENTICALLY on both configs of a pair, so the pair ratio cancels it."""

    def __init__(self, need: int):
        import threading

        self.samples = {"effective_cores": [], "mem_bw_gbs": []}
        self._stop = threading.Event()
        self._need = need
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        k = 0
        while not self._stop.wait(8.0 if k == 0 else 12.0):
            self.samples["effective_cores"].append(
                _effective_cores(self._need, dur=1.0))
            if k % 3 == 1:
                self.samples["mem_bw_gbs"].append(
                    _mem_bw_gbs(self._need, dur=0.6))
            k += 1

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _gen_corpus(inp: str) -> None:
    from kgx import benchgen, session

    spark = session.get_spark("bench-gen", master="local[32]", shuffle_partitions=32)
    benchgen.write_bench_corpus(spark, inp, SCALE_TURNS)
    spark.stop()


def run_scaling() -> dict | None:
    """North-rule probe: the identical KG job on the identical corpus at N
    and 4N EXECUTORS (default local-cluster[1,2,3072] vs
    local-cluster[4,2,3072] — real separate executor JVMs with their own
    memory and Python worker pools, inter-process shuffle between them;
    the literal "N and 4N executors" of the north rule). Trials run
    PAIR-SEQUENTIALLY — N, 4N, N, 4N in time, one fresh warmed process
    per trial, exactly one cluster alive at a time (see probe() for the
    two failure modes this dodges). The primary estimator is the median
    of per-pair efficiencies; the ratio of per-config median walls is
    published alongside. BENCH_SCALE_MODE=threads falls back to the
    local[N]-vs-local[4N] per-core probe."""
    inp = f"/tmp/kgx_bench_{SCALE_TURNS}"
    if not os.path.exists(inp):
        print(f"  generating {SCALE_TURNS}-turn corpus ...", file=sys.stderr)
        _gen_corpus(inp)

    def probe(mode: str) -> dict | None:
        # PAIR-SEQUENTIAL trials (round-4 methodology fix, second
        # iteration). Two failure modes had to be dodged at once:
        #   1. All-N-then-all-4N (the r3 scheme) lets one external-load
        #      burst poison whichever config owned that time window (one
        #      293s outlier once produced a meaningless 0.31 "efficiency").
        #   2. Keeping BOTH clusters resident and interleaving trials
        #      (this round's first attempt) cross-contaminates: a 4N trial
        #      measured 45.7s with the 4N cluster alone but 91-116s with an
        #      idle 1N cluster resident — the co-resident JVMs/worker pools
        #      degrade the wider config disproportionately, and a
        #      sync+settle pause does NOT recover it.
        # So: trials alternate N, 4N, N, 4N in time (burst-fair at pair
        # granularity) but each trial runs in a FRESH process and exactly
        # one cluster is alive at any moment. Each process warms codegen +
        # Arrow workers on a file-subset read (identical plan shape), then
        # times ONE full trial. Estimator: per-config MEDIAN over an EQUAL
        # number of trials; per-trial 1-min loadavg is recorded so external
        # load is visible in the published record.
        pairs = min(SCALE_TRIALS_N, SCALE_TRIALS_4N)
        walls: dict[int, list[float]] = {SCALE_N: [], SCALE_4N: []}
        loads: dict[int, list[float]] = {SCALE_N: [], SCALE_4N: []}
        gates: list[dict] = []
        last: dict[int, dict] = {}
        need = SCALE_4N * (SCALE_EXEC_CORES if mode == "executors" else 1)
        for t in range(pairs):
            gate = _capacity_gate(need)
            gates.append(gate)
            print(f"    pair {t} capacity gate: {gate['effective_cores']}"
                  f"/{need} effective cores (waited {gate['waited_s']}s"
                  f"{', GAVE UP' if gate['gave_up'] else ''})",
                  file=sys.stderr)
            for n in (SCALE_N, SCALE_4N):
                if mode == "executors":
                    args = ["--executors", str(n),
                            "--exec-cores", str(SCALE_EXEC_CORES)]
                    desc = f"local-cluster[{n},{SCALE_EXEC_CORES},3072]"
                else:
                    args = ["--cpus", str(n)]
                    desc = f"local[{n}]"
                with _MidTrialSampler(need) as sampler:
                    out = subprocess.run(
                        [sys.executable, "-m", "kgx.bench_scale",
                         *args, "--input", inp, "--trials", "1"],
                        capture_output=True,
                        text=True,
                        cwd=REPO,
                        timeout=2400,
                    )
                gate.setdefault("mid_trial", {})[f"{n}exec"] = sampler.samples
                if out.returncode != 0:
                    print(out.stderr[-2000:], file=sys.stderr)
                    return None
                line = [l for l in out.stdout.strip().splitlines()
                        if l.startswith("{")][-1]
                r = json.loads(line)
                walls[n].append(r["wall_sec"])
                loads[n].extend(r.get("trial_loadavg", []))
                last[n] = r
                print(f"    pair {t} {desc}: {r['wall_sec']}s "
                      f"(load {r.get('trial_loadavg')})", file=sys.stderr)
            # post-pair capacity reading: a degraded window can ARRIVE
            # mid-pair after the gate passed; publishing capacity on both
            # edges of the pair makes that visible per-pair instead of
            # silently folding it into the efficiency median
            gate["post_pair_effective_cores"] = _effective_cores(need)
            gate["post_pair_mem_bw_gbs"] = _mem_bw_gbs(need)

        results = {}
        for n in (SCALE_N, SCALE_4N):
            r = dict(last[n])
            wall = round(statistics.median(walls[n]), 3)
            r["wall_sec"] = wall
            r["wall_min_sec"] = min(walls[n])
            r["trial_walls"] = walls[n]
            r["trial_loadavg"] = loads[n]
            r["turns_per_sec"] = round(r["turns"] / wall, 1)
            r["triples_per_sec"] = round(r["triples"] / wall, 1)
            results[n] = r
            print(f"    {json.dumps(r)}", file=sys.stderr)
        # PRIMARY estimator: median of PER-PAIR efficiencies. Each pair's
        # two trials share a time window, so host-state drift (this VM's
        # 1N walls range 126-198s across a quiet hour — hypervisor-level
        # variance, loadavg stays flat) hits both sides of a ratio and
        # cancels; the ratio-of-config-medians does not exploit the
        # pairing and mixes fast-window N walls with slow-window 4N walls.
        # Both are published.
        pair_effs = [
            round((wn / w4) / 4, 3)
            for wn, w4 in zip(walls[SCALE_N], walls[SCALE_4N])
        ]
        eff_pairwise = round(statistics.median(pair_effs), 3)
        eff = results[SCALE_4N]["turns_per_sec"] / (4 * results[SCALE_N]["turns_per_sec"])
        # instrument-screened view: pair health comes from the capacity
        # probes alone (never the efficiency value), so the healthy-pair
        # median is a pre-registered-criterion screen, not cherry-picking
        health = [_classify_pair(g, need) for g in gates]
        healthy_effs = [e for e, h in zip(pair_effs, health) if h["healthy"]]
        window_health = ("healthy" if len(healthy_effs) == len(pair_effs)
                         else "partial" if healthy_effs else "degraded")
        return {
            "mode": mode,
            "n_cores": SCALE_N,
            "n4_cores": SCALE_4N,
            "interleaved_pairs": pairs,
            "pair_capacity_gates": gates,
            "localN": results[SCALE_N],
            "local4N": results[SCALE_4N],
            "pair_efficiencies": pair_effs,
            "scaling_efficiency": eff_pairwise,
            "scaling_efficiency_config_medians": round(eff, 3),
            "pair_health": health,
            "window_health": window_health,
            "healthy_pair_efficiencies": healthy_effs,
            "scaling_efficiency_healthy_pairs": (
                round(statistics.median(healthy_effs), 3)
                if healthy_effs else None),
        }

    # executor mode is the primary evidence; fall back to the thread probe
    # rather than record nothing if local-cluster can't start here
    modes = [SCALE_MODE] + (["threads"] if SCALE_MODE == "executors" else [])
    for mode in modes:
        r = probe(mode)
        if r is not None:
            return r
    return None


HISTORY_PATH = os.path.join(REPO, "BENCH", "scaling_history.jsonl")


def _append_scaling_history(scaling: dict) -> list[dict]:
    """Append this run's compact record to BENCH/scaling_history.jsonl and
    return the full history. The history is what lets BASELINE.md separate
    'what the latest run measured' from 'what the engine's scaling is': on
    this shared box, co-tenant windows flip on ~10-minute scales (see
    BENCH/SCALE.md), so any single run can land degraded; the cross-run
    record keeps every measurement while the instrument-screened healthy
    pairs carry the engine claim."""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    rec = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "mode": scaling.get("mode"),
        "turns": scaling.get("localN", {}).get("turns"),
        "pair_efficiencies": scaling.get("pair_efficiencies"),
        "scaling_efficiency": scaling.get("scaling_efficiency"),
        "window_health": scaling.get("window_health"),
        "pair_health": scaling.get("pair_health"),
        "healthy_pair_efficiencies": scaling.get("healthy_pair_efficiencies"),
        "walls_n": scaling.get("localN", {}).get("trial_walls"),
        "walls_4n": scaling.get("local4N", {}).get("trial_walls"),
        "gates": scaling.get("pair_capacity_gates"),
    }
    with open(HISTORY_PATH, "a") as f:
        f.write(json.dumps(rec) + "\n")
    with open(HISTORY_PATH) as f:
        return [json.loads(l) for l in f if l.strip()]


def _history_summary_md(history: list[dict]) -> str:
    """Render the cross-run record: one row per run plus the pooled
    instrument-screened estimate (median of all healthy pairs across
    runs)."""
    rows = []
    pooled: list[float] = []
    for h in history:
        pooled.extend(h.get("healthy_pair_efficiencies") or [])
        hp = h.get("pair_health") or []
        n_h = sum(1 for p in hp if p.get("healthy"))
        rows.append(
            f"| {h.get('ts', '?')} | {h.get('scaling_efficiency')} | "
            f"{h.get('pair_efficiencies')} | {h.get('window_health', '?')} "
            f"({n_h}/{len(hp)} pairs healthy) | "
            f"{h.get('healthy_pair_efficiencies') or '—'} |")
    pooled_md = (
        f"{round(statistics.median(pooled), 3)} over {len(pooled)} "
        f"healthy pairs" if pooled else
        "no instrument-healthy pairs recorded yet — see BENCH/SCALE.md "
        "batches 3/6 (0.831, 0.864) for the pre-instrumentation "
        "healthy-window evidence")
    return (
        "\n## Cross-run record (BENCH/scaling_history.jsonl)\n\n"
        "Every harness probe run, none discarded (rows marked\n"
        "`seeded_batch` in the jsonl are the last two pre-mid-trial-\n"
        "instrumentation batches, classified by the same rules from their\n"
        "edge gates). Pair health is classified from the capacity probes\n"
        "alone (pre-gate, post-pair, mid-trial spin + bandwidth readings\n"
        "— never from the efficiency value), so the healthy-pair screen\n"
        "is a pre-registered independent criterion, not selection on the\n"
        "outcome. Earlier round-5 batches (including the healthy-window\n"
        "0.831/0.864 measurements and every degraded batch) are retained\n"
        "in BENCH/SCALE.md.\n\n"
        "| run (local time) | eff (median all pairs) | pair efficiencies | "
        "window health | healthy-pair efficiencies |\n"
        "|---|---|---|---|---|\n" + "\n".join(rows) + "\n\n"
        f"**Instrument-screened efficiency (median over all healthy pairs "
        f"across runs): {pooled_md}.**\n")


def write_baseline_md(scaling: dict, sf: str, history: list[dict] | None = None) -> None:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    rn, r4n = scaling["localN"], scaling["local4N"]
    n, n4 = scaling["n_cores"], scaling["n4_cores"]
    cfg_n = rn.get("master", f"local[{n}]")
    cfg_4n = r4n.get("master", f"local[{n4}]")
    md = f"""# BENCH/BASELINE — measured results

## Scaling efficiency (north rule: N → 4N workers, target ≥ 0.8)

Identical KG-extraction job (assemble → Arrow-UDF mentions → relations →
linking → aggregation → triples) on the identical synthetic transcript
corpus ({rn["turns"]} turns), two parallelism levels, separate processes.
Trials alternate N, 4N, N, 4N in TIME (so an external-load burst lands
on both configs, not just whichever owned that window — the r3 scheme's
flaw), but each trial runs in a FRESH process with exactly ONE cluster
alive at a time (keeping both clusters resident and interleaving inside
them cross-contaminates: a 4N trial measured 45.7s with its cluster
alone vs 91-116s with an idle 1N cluster co-resident, and a sync+settle
pause does not recover it). Each process warms whole-stage codegen and
the Arrow python workers on a file-subset read whose plan shape is
identical to the full trial's (limit()-based warmup leaves the real
plan's codegen cold), then times ONE full-corpus run. Per config: an
EQUAL number of timed trials; the headline wall is the per-config MEDIAN
(robust to one-sided bursts without the min's flattery); the min, the
full trial distribution, and the per-trial 1-min loadavg are shown so
external-load contamination is visible in the record. The bar is ≥0.8:

| config | median wall (s) | min wall (s) | trial walls | per-trial 1-min loadavg | turns/s | triples/s |
|---|---|---|---|---|---|---|
| {cfg_n}  | {rn["wall_sec"]} | {rn.get("wall_min_sec", rn["wall_sec"])} | {rn.get("trial_walls")} | {rn.get("trial_loadavg")} | {rn["turns_per_sec"]} | {rn["triples_per_sec"]} |
| {cfg_4n} | {r4n["wall_sec"]} | {r4n.get("wall_min_sec", r4n["wall_sec"])} | {r4n.get("trial_walls")} | {r4n.get("trial_loadavg")} | {r4n["turns_per_sec"]} | {r4n["triples_per_sec"]} |

**efficiency = median over pairs of tput(4N)/(4 × tput(N)) =
{scaling["scaling_efficiency"]}** (per-pair efficiencies:
{scaling.get("pair_efficiencies")}; the ratio of config-median
throughputs = {scaling.get("scaling_efficiency_config_medians")} is
published alongside). The per-pair median is the declared primary
estimator: each pair's two trials share a time window, so host-state
drift — this VM's 1N walls ranged 126-198s across one otherwise-idle
hour with flat loadavg, i.e. hypervisor-level variance — hits both
sides of the ratio and cancels, while a ratio of config medians mixes
fast-window N walls with slow-window 4N walls.

Each pair is preceded by a CAPACITY GATE (round-5 methodology fix): a raw
multiprocess spin probe must demonstrate the host can actually deliver
the 4N trial's core demand (>= 75% effective) AND >= 90% of the healthy
memory-streaming reference (~84 GB/s at 8 procs, recorded 2026-08-19)
before the pair starts, waiting out degraded co-tenant windows in bounded
45s steps (<= 600s, then the pair runs anyway with gave_up=true
published). Round 5 measured why both checks are necessary: in one
degraded window the 8-core trial walls were 65-125s vs the 35s healthy
wall while 1N walls moved <15% and loadavg stayed normal — co-tenant
physical-core pressure is invisible to loadavg and asymmetric, so it
reads as a scaling collapse; a SECOND window kind (co-tenant
memory-bandwidth pressure, 63-79 GB/s readings) slowed even 2-core
trials 13-35% while spin capacity read healthy. Capacity is ALSO sampled
mid-trial (an ~1s spin probe every ~12s from the harness while each
trial runs, identical duty on both configs of a pair so the ratio
cancels it): the batch-8 record showed edge gates alone under-resolve —
all edges read healthy while two 4N trials ran 40% slow. Each pair is
then classified healthy/degraded FROM THE INSTRUMENTS ALONE (never from
its efficiency value). This run: window health = **{scaling.get("window_health", "?")}**,
per-pair health = {json.dumps([h for h in scaling.get("pair_health", [])])},
healthy-pair efficiencies = {scaling.get("healthy_pair_efficiencies")}
(median {scaling.get("scaling_efficiency_healthy_pairs")}).
The gate is pre-trial (never discards a completed measurement) and every
check is published: pair gates this run =
{json.dumps(scaling.get("pair_capacity_gates"))}.

Default probe mode is EXECUTORS: local-cluster[N,2,3072] runs N real
executor JVMs — each with its own 3 GB heap and its own Arrow
python-worker pool, shuffling between processes — so N → 4N here is
literally "N executors vs 4N executors" (the north rule's phrasing), not
thread-level parallelism inside one JVM. The thread-mode per-core sweep
(BENCH_SCALE_MODE=threads; see BENCH/SCALE.md) corroborates: per-core
throughput holds ~0.95 from 1→4 cores before the 32-core shared host's
memory-bandwidth + external-load wall — single-host contention a real
multi-executor cluster does not have.

## Headline per-query timings

See BENCH_r*.json (driver-recorded, sf={sf}).
"""
    if history:
        md += _history_summary_md(history)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    timings, passes = run_headline(sf_dir, cpus)
    total = round(sum(timings.values()), 3)

    skew = None
    if os.environ.get("BENCH_SKIP_SKEW") != "1":
        try:
            from kgx import bench_skew, session

            sp = session.get_spark(
                "kgx-skew", master=f"local[{cpus}]", shuffle_partitions=cpus
            )
            skew = bench_skew.run_skew_probe(sp)
            bench_skew.write_skew_md(skew, os.path.join(REPO, "BENCH", "SKEW.md"))
            sp.stop()
        except Exception as e:  # pragma: no cover
            print(f"  skew probe failed: {e}", file=sys.stderr)

    scaling = None
    if os.environ.get("BENCH_SKIP_SCALING") != "1":
        try:
            scaling = run_scaling()
        except Exception as e:  # pragma: no cover
            print(f"  scaling probe failed: {e}", file=sys.stderr)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_passes": passes,
        "estimator": f"median of {len(next(iter(passes.values())))} cold-cache passes per query",
        "note": (
            "r3's 1.33x uniform slowdown vs r2 was single-pass timing on a "
            "bursty shared host (untouched queries moved in lockstep; pytest "
            "itself ran 2.4x slower that session); medians-of-3 with "
            "published per-pass spreads make host noise visible and "
            "distinguishable from plan regressions from r4 on. "
            "asof_last_purchase (r3's only >2x mover, code unchanged since "
            "r1) is dispositioned by the same medians: see its pass spread."
        ),
        "sf": sf,
    }
    if skew:
        payload["skew"] = skew
    pooled_healthy = None
    if scaling:
        payload["scaling"] = scaling
        history = _append_scaling_history(scaling)
        write_baseline_md(scaling, sf, history)
        # Instrument-screened cross-run estimate: median over every
        # capacity-gate-healthy pair across ALL recorded runs (the screen
        # is pre-registered on the capacity probes, never on the
        # efficiency value — see _history_summary_md). This rides in the
        # headline so a driver run that lands in a degraded co-tenant
        # window still carries the screened engine number next to the
        # raw in-window one.
        pooled = [
            e
            for h in history
            for e in (h.get("healthy_pair_efficiencies") or [])
        ]
        if pooled:
            pooled_healthy = {
                "value": round(statistics.median(pooled), 3),
                "n_pairs": len(pooled),
            }
        payload["scaling_eff_screened_cross_run"] = pooled_healthy
    # Full detail (per-pass lists, skew probe, scaling trials) goes to the
    # BENCH/ file; the FINAL stdout line is a compact headline the driver can
    # capture whole. Round 4's driver record came back `parsed: null` because
    # this line carried the full payload and outgrew the driver's 2,000-char
    # tail capture — the numbers existed only in BENCH/BENCH_local.json.
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BENCH_local.json"), "w") as f:
        json.dump(payload, f, indent=1)
    headline = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {n: round(v, 2) for n, v in timings.items()},
        "sf": sf,
        "detail": "BENCH/BENCH_local.json",
    }
    if scaling:
        headline["scaling_efficiency"] = scaling.get("scaling_efficiency")
        headline["scaling_window_health"] = scaling.get("window_health")
        headline["scaling_eff_healthy_pairs"] = scaling.get(
            "scaling_efficiency_healthy_pairs"
        )
        if pooled_healthy:
            headline["scaling_eff_screened_cross_run"] = pooled_healthy["value"]
        headline["triples_per_sec_4n"] = scaling.get("local4N", {}).get(
            "triples_per_sec"
        )
    if skew:
        headline["skew_flatten_factor"] = skew.get("max_group", {}).get(
            "flatten_factor"
        )
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1900:  # stay under the driver's tail capture no matter what
        headline.pop("skew_flatten_factor", None)
        headline["queries"] = {
            n: round(v, 1) for n, v in sorted(
                timings.items(), key=lambda kv: -kv[1]
            )[:30]
        }
        headline["queries_truncated_to_slowest"] = 30
        line = json.dumps(headline, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
