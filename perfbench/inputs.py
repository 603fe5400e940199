"""Seeded inputs: the chat-shaped transcript corpus and the query tables.

Both are written as several parquet files, so a warm-up can read a file
subset with the same plan shape as the full input (a `.limit()` slice
leaves the real plan's codegen cold).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# benchgen turns open with 10 filler words; keeping words 9.. leaves two
# filler words plus every entity/indicator/feature/polarity term
SHORT_TURN_FIRST_WORD = 9


def write_short_turns(spark, path: str, n_turns: int, seed: int, n_files: int) -> None:
    """Chat-shaped corpus from kgx.benchgen: 20 turns per conversation,
    tens of characters per turn, at most about one mention each."""
    import pyspark.sql.functions as F

    from kgx import benchgen

    df = benchgen.generate_transcripts(
        spark, n_turns, turns_per_conv=20, seed=seed, n_partitions=n_files
    )
    short = F.array_join(
        F.slice(F.split("text", " "), SHORT_TURN_FIRST_WORD, 1 << 16), " "
    )
    df.withColumn("text", short).write.mode("overwrite").parquet(path)


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


# -- query tables ----------------------------------------------------------

QUERY_TABLES = ("customer", "supplier", "part", "orders", "lineitem", "documents")
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def query_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables the graph/dedup rows read. At scale 1.0: 1500
    customers, 100 suppliers, 15000 orders (~10 per customer), ~4 lines
    per order, 500 documents of 10-99 words of which 5% repeat an earlier
    document plus one word (the near-duplicates the dedup rows find)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(1500 * scale), int(100 * scale)
    n_part, n_orders, n_docs = int(2000 * scale), int(15000 * scale), int(500 * scale)

    lines = np.clip(rng.binomial(12, 1 / 3, n_orders), 1, 13)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": np.repeat(orders["o_orderkey"].to_numpy(), lines),
            "l_suppkey": rng.integers(0, n_supp, int(lines.sum()), dtype=np.int64),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(
                np.int32
            ),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        }
    )
    part = pd.DataFrame({"p_partkey": np.arange(n_part, dtype=np.int64)})

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, k)))
    documents = pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}
    )
    return {
        "customer": customer, "supplier": supplier, "part": part,
        "orders": orders, "lineitem": lineitem, "documents": documents,
    }


def write_query_tables(root: str, slice_root: str, seed: int, scale: float, n_files: int) -> None:
    """Each table becomes `<root>/<name>.parquet/part-<i>.parquet`; the
    slice directory holds only each table's first file. Orders and their
    lines are cut at the same order keys, so the slice joins cleanly."""
    for name, df in query_tables(seed, scale).items():
        out = os.path.join(root, f"{name}.parquet")
        os.makedirs(out, exist_ok=True)
        os.makedirs(os.path.join(slice_root, f"{name}.parquet"), exist_ok=True)
        table = pa.Table.from_pandas(df, preserve_index=False)
        key = df.columns[0]
        bounds = np.linspace(0, int(df[key].max()) + 1, n_files + 1).astype(np.int64)
        for i in range(n_files):
            mask = (df[key] >= bounds[i]) & (df[key] < bounds[i + 1])
            part = table.filter(pa.array(mask.to_numpy()))
            pq.write_table(part, os.path.join(out, f"part-{i}.parquet"))
            if i == 0:
                pq.write_table(
                    part,
                    os.path.join(slice_root, f"{name}.parquet", "part-0.parquet"),
                )
