"""Round-5 closing spot-run: the four newest map-only/one-exchange text
operators (winnowing, CDC chunking, RAKE, PMI) over the same 100x
near-duplicate documents corpus scripts/spot_sf1.py uses (500k docs,
100-member near-dup clusters) — walls + peak persisted storage, appended
to BENCH/SCALE.md. Purpose: the driver bench runs these at sf0.1 (5k
docs); this pushes them 100x so an in-row O(n^2) surprise or a persisted
frame cliff cannot hide below bench scale.

Usage: SPOT_CPUS=16 python scripts/spot_textops.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOC_REPL = int(os.environ.get("SPOT_DOC_REPL", "100"))
CPUS = int(os.environ.get("SPOT_CPUS", "16"))
WORK = os.environ.get("SPOT_WORK", "/tmp/kgx_spot")
QUERIES = os.environ.get(
    "SPOT_QUERIES",
    "text_winnow_fingerprints,curate_cdc_chunks,"
    "text_rake_keywords,text_pmi_collocations",
).split(",")


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

    from kgx import cache, session

    os.makedirs(WORK, exist_ok=True)
    spark = session.get_spark(
        "kgx-spot-textops",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        extra_conf={"spark.driver.memory": "48g"},
    )

    docs_dir = f"{WORK}/sfbig"
    ddst = f"{docs_dir}/documents.parquet"
    if not os.path.exists(f"{ddst}/_SUCCESS"):
        base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        big = (
            base.crossJoin(spark.range(DOC_REPL).withColumnRenamed("id", "k"))
            .select(
                (F.col("doc_id") + F.col("k") * 5000).alias("doc_id"),
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

    results = {}
    for qname in QUERIES:
        fn, _sql = REGISTRY[qname]
        fn(spark, docs_dir).count()  # warm codegen on the real plan shape
        spark.catalog.clearCache()
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

    rows = "\n".join(
        f"| {q} | {r['docs']:,} docs | {r['rows_out']:,} | {r['wall_s']} "
        f"| {r['docs_per_s']:,} docs/s | {r['peak_persisted_mb']} "
        f"| {r['loadavg']} |"
        for q, r in results.items()
    )
    note = os.environ.get(
        "SPOT_NOTE",
        "Same near-duplicate corpus construction as the sf1-equivalent "
        "run above; walls are ONE timed full run after a same-plan "
        "warmup.",
    )
    title = os.environ.get("SPOT_TITLE", "Spot-run")
    md = f"""

## {title} — {DOC_REPL}x corpus (local[{CPUS}], shared host)

{note}

| operator | input | rows out | wall (s) | throughput | peak persisted (MB) | 1-min loadavg |
|---|---|---|---|---|---|---|
{rows}
"""
    with open(os.path.join(REPO, "BENCH", "SCALE.md"), "a") as f:
        f.write(md)
    print("appended to BENCH/SCALE.md", flush=True)


if __name__ == "__main__":
    main()
