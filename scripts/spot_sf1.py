"""Round-5 spot-run (VERDICT r4 #9): push the three most expensive headline
queries far past the bench ladder and record walls + peak persisted-storage
so a memory cliff in (a) text_dup_substring's persisted shingle frame and
(b) the kg facts persist cannot hide below 20M turns.

  * kg extraction (the kg_sentence_triples dataflow) at 100M turns
    (benchgen corpus, Spark-side generation) on local[16];
  * text_dup_substring and dedup_simhash over a 100x documents corpus
    (sf0.1 replicated with per-doc-unique suffix tokens so replicas are
    NEAR-duplicates — the hot-cluster shape the dedup caps exist for).

Appends results to BENCH/SCALE.md. Storage peaks come from
sc.getRDDStorageInfo() captured while the operator's persisted frames are
still alive (before their kgx.cache scope exits).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_TURNS = int(os.environ.get("SPOT_TURNS", "100000000"))
DOC_REPL = int(os.environ.get("SPOT_DOC_REPL", "100"))
CPUS = int(os.environ.get("SPOT_CPUS", "16"))
WORK = os.environ.get("SPOT_WORK", "/tmp/kgx_spot")


def storage_peak_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return round(sum(i.memSize() + i.diskSize() for i in infos) / 1e6, 1)


def loadavg() -> float:
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def main() -> None:
    import pyspark.sql.functions as F

    from kgx import aggregate, assemble, benchgen, cache, relations, resources, session

    os.makedirs(WORK, exist_ok=True)
    spark = session.get_spark(
        "kgx-spot-sf1",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        extra_conf={"spark.driver.memory": "48g"},
    )
    results = {}

    # ---- corpus generation (Spark-side, deterministic) -------------------
    tr_path = f"{WORK}/transcripts"
    t0 = time.monotonic()
    if not os.path.exists(f"{tr_path}/_SUCCESS"):
        benchgen.write_bench_corpus(spark, tr_path, N_TURNS)
    gen_s = round(time.monotonic() - t0, 1)

    # ---- phase A: kg extraction at N_TURNS -------------------------------
    kb = resources.default_kb()
    transcripts = spark.read.parquet(tr_path)
    import glob as _glob

    files = sorted(_glob.glob(f"{tr_path}/*.parquet"))
    warm = spark.read.parquet(*files[: max(4, len(files) // 8)])

    @cache.scope()
    def kg_run(df, capture: bool):
        turns = assemble.admit_turns(df)
        facts, tf = relations.extract_facts(turns, kb)
        n = aggregate.all_triples(cache.persist(facts), tf).count()
        peak = storage_peak_mb(spark) if capture else 0.0
        return n, peak

    kg_run(warm, capture=False)  # codegen + Arrow workers + matcher caches
    t0 = time.monotonic()
    n_triples, kg_peak = kg_run(transcripts, capture=True)
    kg_wall = round(time.monotonic() - t0, 1)
    results["kg_sentence_dataflow"] = {
        "turns": N_TURNS, "triples": n_triples, "wall_s": kg_wall,
        "turns_per_s": round(N_TURNS / kg_wall, 1),
        "peak_persisted_mb": kg_peak, "loadavg": loadavg(), "gen_s": gen_s,
    }
    print("kg:", results["kg_sentence_dataflow"], flush=True)

    # ---- phase B: 100x documents corpus ----------------------------------
    docs_dir = f"{WORK}/sfbig"
    ddst = f"{docs_dir}/documents.parquet"
    if not os.path.exists(f"{ddst}/_SUCCESS"):
        base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        big = (
            base.crossJoin(spark.range(DOC_REPL).withColumnRenamed("id", "k"))
            .select(
                (F.col("doc_id") + F.col("k") * 5000).alias("doc_id"),
                # per-(doc, replica)-unique suffix: replicas are NEAR-dups
                # (one token differs), the hot-cluster shape dedup caps face
                F.concat_ws(
                    " ", F.col("text"),
                    F.concat(F.lit("u"), (F.col("doc_id") * 1000 + F.col("k"))),
                ).alias("text"),
                "lang", "source",
                (F.col("n_chars") + F.lit(8)).alias("n_chars"),
            )
            .repartition(CPUS * 2)
        )
        big.write.mode("overwrite").parquet(ddst)
    n_docs = spark.read.parquet(ddst).count()

    from kgx.queries import REGISTRY

    for qname in ("text_dup_substring", "dedup_simhash"):
        fn, _sql = REGISTRY[qname]
        with cache.scope():
            t0 = time.monotonic()
            n = fn(spark, docs_dir).count()
            peak = storage_peak_mb(spark)
            wall = round(time.monotonic() - t0, 1)
        spark.catalog.clearCache()
        results[qname] = {
            "docs": n_docs, "rows_out": n, "wall_s": wall,
            "docs_per_s": round(n_docs / wall, 1),
            "peak_persisted_mb": peak, "loadavg": loadavg(),
        }
        print(qname, results[qname], flush=True)

    # ---- record -----------------------------------------------------------
    md = f"""

## Round-5 sf1-equivalent spot-run (VERDICT r4 #9; local[{CPUS}], shared host)

Purpose: the bench ladder stops at 20M turns; this one-shot run pushes the
three most expensive headline dataflows far past it and records the PEAK
PERSISTED STORAGE of the frames the operators own, so a memory cliff in
text_dup_substring's shingle frame or the kg facts persist cannot hide.

| dataflow | input | wall (s) | throughput | peak persisted (MB) | 1-min loadavg |
|---|---|---|---|---|---|
| kg extraction (sentence+document triples) | {N_TURNS:,} turns ({results['kg_sentence_dataflow']['triples']:,} triples) | {results['kg_sentence_dataflow']['wall_s']} | {results['kg_sentence_dataflow']['turns_per_s']:,} turns/s | {results['kg_sentence_dataflow']['peak_persisted_mb']} | {results['kg_sentence_dataflow']['loadavg']} |
| text_dup_substring | {results['text_dup_substring']['docs']:,} docs (100x sf0.1, near-dup replicas) | {results['text_dup_substring']['wall_s']} | {results['text_dup_substring']['docs_per_s']:,} docs/s | {results['text_dup_substring']['peak_persisted_mb']} | {results['text_dup_substring']['loadavg']} |
| dedup_simhash | {results['dedup_simhash']['docs']:,} docs (same corpus) | {results['dedup_simhash']['wall_s']} | {results['dedup_simhash']['docs_per_s']:,} docs/s | {results['dedup_simhash']['peak_persisted_mb']} | {results['dedup_simhash']['loadavg']} |

Corpus generation: {gen_s}s (Spark-side benchgen, deterministic). The
documents corpus replicates sf0.1 with per-(doc,replica)-unique suffix
tokens: every original doc becomes a {DOC_REPL}-member NEAR-duplicate
cluster — the hot-cluster stress the dedup bucket caps exist for.
Storage peaks are sc.getRDDStorageInfo() captured while each operator's
persisted frames were still alive.
"""
    with open(os.path.join(REPO, "BENCH", "SCALE.md"), "a") as f:
        f.write(md)
    print("appended BENCH/SCALE.md")
    spark.stop()


if __name__ == "__main__":
    main()
