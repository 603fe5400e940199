"""Output checks, run outside every timed region.

* Job workloads: the triples of a seeded sample of conversations must equal
  the independent pure-Python oracle's (tests/oracle.py) on semantic triple
  identity, and every timed unit of a run must write the same
  order-independent triple digest.
* Query workload: each row's Spark result must match its DuckDB oracle SQL
  in columns, row count and canonical hash, on every timed unit.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal

import pandas as pd
import pyarrow.dataset as ds

# semantic triple identity, as tests/test_pipeline_golden.py compares it
KEY_COLS = [
    "conv_id", "turn_idx", "level", "subj_name", "subj_uri", "subj_type",
    "pred", "subfeature", "obj_polarity", "score", "classifier", "dom_label",
    "indicator_uri",
]


def read_triples(path: str) -> pd.DataFrame:
    return (
        ds.dataset(path, format="parquet", partitioning="hive")
        .to_table(columns=KEY_COLS)
        .to_pandas()
    )


def canon_triples(df: pd.DataFrame) -> set[tuple]:
    score_i, turn_i = KEY_COLS.index("score"), KEY_COLS.index("turn_idx")

    def norm(v, i):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return None
        if i == score_i:
            return str(Decimal(str(v)).normalize())
        if i == turn_i:
            return str(int(float(v)))
        return str(v)

    return {
        tuple(norm(v, i) for i, v in enumerate(r))
        for r in df[KEY_COLS].itertuples(index=False)
    }


def digest(rows) -> str:
    """Order-independent digest of a collection of canonical row tuples."""
    h = hashlib.sha256()
    for line in sorted(repr(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def compare(got: set[tuple], want: set[tuple]) -> list[str]:
    """Empty when the sets agree; otherwise one line per kind of mismatch
    with the first example."""
    problems = []
    for label, diff in (("missing", want - got), ("extra", got - want)):
        if diff:
            problems.append(f"{len(diff)} {label} triples, e.g. {sorted(diff, key=repr)[0]}")
    return problems


def sample_convs(conv_ids, n: int, seed: int) -> list[str]:
    import numpy as np

    ids = sorted(set(conv_ids))
    rng = np.random.default_rng(seed)
    return sorted(rng.choice(ids, size=min(n, len(ids)), replace=False).tolist())


def oracle_check(corpus_dir: str, triples: pd.DataFrame, n_convs: int, seed: int) -> list[str]:
    """Spark triples of a seeded conversation sample vs tests/oracle.py."""
    from kgx import assemble, resources
    from tests.oracle import Oracle

    pdf = pd.read_parquet(corpus_dir)
    sample = sample_convs(pdf["conv_id"], n_convs, seed)
    want = Oracle(
        resources.default_kb(), max_text_len=assemble.DEFAULT_MAX_TEXT_LEN
    ).run(pdf[pdf["conv_id"].isin(sample)])
    got = triples[triples["conv_id"].isin(sample)]
    if want.empty:
        return [f"oracle produced no triples for the {len(sample)} sampled convs"]
    return compare(canon_triples(got), canon_triples(want))


def _duck(tables_dir: str):
    """DuckDB connection with one view per `<name>.parquet/` table dir."""
    import duckdb

    con = duckdb.connect()
    for t in sorted(os.listdir(tables_dir)):
        con.execute(
            f"CREATE VIEW {t.removesuffix('.parquet')} AS SELECT * FROM "
            f"parquet_scan('{os.path.join(tables_dir, t)}/*.parquet')"
        )
    return con


def signature(df: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(sorted columns, row count, canonical hash) of a query result, with
    scripts/check_contract.py's value canonicalization."""
    from scripts.check_contract import canon_rows

    rows = canon_rows(df)
    return tuple(sorted(df.columns)), len(rows), digest(rows)


def oracle_signatures(names: list[str], tables_dir: str) -> dict[str, tuple]:
    """name -> signature of the row's DuckDB oracle SQL over the tables."""
    from kgx.queries import REGISTRY

    con = _duck(tables_dir)
    try:
        return {n: signature(con.execute(REGISTRY[n][1]).fetchdf()) for n in names}
    finally:
        con.close()


def signature_problems(got: tuple, want: tuple) -> list[str]:
    if got[0] != want[0]:
        return [f"columns {list(got[0])} vs oracle {list(want[0])}"]
    if got[1] != want[1]:
        return [f"rows {got[1]} vs oracle {want[1]}"]
    if got[2] != want[2]:
        return ["canonical hash differs from the oracle"]
    return []
