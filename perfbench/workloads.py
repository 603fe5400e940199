"""The benchmark's workloads. Each one generates its inputs from the seed
(outside every metric), warms the program up on a file subset of the same
input, runs timed units, and checks the outputs outside the timed units.

* job_short_turns: one `kgx.job.run_pipeline(resume=False)` per unit over a
  chat-shaped corpus of many short turns.
* queries_graph_dedup: one pass over graph/dedup/linking/canonical registry
  rows per unit, each row's result delivered to the client; read-only, no
  mention UDF, no writer.
"""

from __future__ import annotations

import os
import shutil
import statistics

from perfbench import checks, inputs

JOB_TURNS = 4_000
JOB_FILES = 8
ORACLE_CONVS = 40
QUERY_SCALE = 1.0
QUERY_FILES = 4
# one row per mechanism: wedge + broadcast degree joins, the single-
# partition negative-sampling window, the LSH bucket kernel, the max_df
# hot-token purge, deletion-neighbourhood blocking, connected components
QUERY_ROWS = [
    "graph_jaccard_similarity",
    "graph_negative_samples",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "kg_fuzzy_alias_pairs",
    "cc_canonicalize",
]
# timed only in the traced run, to keep one untraced run inside the time
# budget: pagerank shares the degree joins, resource_alloc the wedge,
# simhash the bucket kernel, containment the max_df purge; kcore (iterative
# peeling) is the slowest row
TRACE_ONLY_ROWS = [
    "graph_pagerank",
    "graph_resource_alloc",
    "graph_kcore",
    "dedup_simhash",
    "dedup_containment",
]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


class JobShortTurns:
    name = "job_short_turns"

    def __init__(self, work: str, seed: int, n_turns: int = JOB_TURNS):
        self.work, self.seed, self.n_turns = work, seed, n_turns
        self.corpus = os.path.join(work, "corpus")
        self.kb = None
        self.digests: list[str] = []
        self.write_amp: list[float] = []
        self.first_triples = None

    def prepare(self, spark) -> None:
        inputs.write_short_turns(spark, self.corpus, self.n_turns, self.seed, JOB_FILES)

    def load(self) -> None:
        from kgx import resources

        self.kb = resources.default_kb()

    def run_pipeline(self, spark, src, out: str) -> None:
        from kgx import job

        job.run_pipeline(spark, src, out, kb=self.kb, resume=False)

    def warm(self, spark) -> None:
        out = os.path.join(self.work, "warm")
        src = spark.read.parquet(*inputs.parquet_files(self.corpus)[:1])
        self.run_pipeline(spark, src, out)
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)

    def unit_out(self, i: int) -> str:
        return os.path.join(self.work, f"out-{i}")

    def unit(self, spark, i: int) -> None:
        self.run_pipeline(spark, spark.read.parquet(self.corpus), self.unit_out(i))

    def after_unit(self, spark, i: int) -> list[str]:
        spark.catalog.clearCache()
        out = self.unit_out(i)
        triples = checks.read_triples(os.path.join(out, "triples"))
        self.digests.append(checks.digest(checks.canon_triples(triples)))
        self.write_amp.append(dir_bytes(out) / inputs.parquet_bytes(self.corpus))
        if self.first_triples is None:
            self.first_triples = triples
        shutil.rmtree(out, ignore_errors=True)
        if self.digests[-1] != self.digests[0]:
            return [f"unit {i} triple digest differs from unit 0"]
        return []

    def check_run(self, spark) -> list[str]:
        if self.first_triples is None:
            return []
        return checks.oracle_check(
            self.corpus, self.first_triples, ORACLE_CONVS, self.seed
        )

    def extra(self) -> dict[str, tuple[float, str]]:
        if not self.write_amp:
            return {}
        return {"write_amp": (statistics.median(self.write_amp), "ratio")}


class QueriesGraphDedup:
    name = "queries_graph_dedup"

    def __init__(self, work: str, seed: int, scale: float = QUERY_SCALE):
        self.work, self.seed, self.scale = work, seed, scale
        self.tables = os.path.join(work, "tables")
        self.slice = os.path.join(work, "slice")
        self.results: dict = {}
        self.want: dict | None = None

    def prepare(self, spark) -> None:
        inputs.write_query_tables(self.tables, self.slice, self.seed, self.scale, QUERY_FILES)

    def load(self) -> None:
        pass

    def warm(self, spark) -> None:
        for name in QUERY_ROWS:
            run_row(spark, name, self.slice)

    def unit(self, spark, i: int) -> None:
        self.results = {name: run_row(spark, name, self.tables) for name in QUERY_ROWS}

    def after_unit(self, spark, i: int) -> list[str]:
        if self.want is None:
            self.want = checks.oracle_signatures(QUERY_ROWS, self.tables)
        return [
            f"{name}: {p}"
            for name, want in self.want.items()
            for p in checks.signature_problems(checks.signature(self.results[name]), want)
        ]

    def check_run(self, spark) -> list[str]:
        return []

    def extra(self) -> dict[str, tuple[float, str]]:
        return {}


def run_row(spark, name: str, tables: str):
    """One registry row's full result, delivered to the client as pandas;
    the caches the row pinned are released afterwards."""
    from kgx.queries import REGISTRY

    out = REGISTRY[name][0](spark, tables).toPandas()
    spark.catalog.clearCache()
    return out


WORKLOADS = {w.name: w for w in (JobShortTurns, QueriesGraphDedup)}
