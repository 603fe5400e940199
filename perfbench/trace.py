"""Traced run (--trace 1): per-layer metrics.

Spark is lazy, so each layer's input is materialised first (persist +
count, untimed) and the layer call is then timed through to a `noop` sink
or the layer's own writer. Every call sits in a span (name, start, end,
parent) and in a Spark job description of the same name; the session
writes Spark's uncompressed event log, which gives the task and plan
metrics per span.

Every traced run prints every per-layer metric. The workload's own half
runs first, after the same warm-up as the untraced run, so its traced unit
(`trace.unit_wall_s`) sits where the untraced run's timed unit sits; the
tracing overhead is `trace.unit_wall_s` minus the untraced `wall_s` of the
same seed. The other half runs on a
companion input of its usual shape, cold: for example graph.* on the
job_short_turns trace includes plan compilation, and its warm values come
from the queries_graph_dedup trace.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds

from perfbench import eventlog, spans, workloads
from perfbench.run import checked
from perfbench.workloads import JobShortTurns, QueriesGraphDedup, run_row

# companion inputs: the other workload's shape, small (its spans are cold)
COMPANION_TURNS = 1_000
COMPANION_SCALE = 0.25
SPAN_OF_ROW = {
    "graph_pagerank": "graph.pagerank",
    "graph_jaccard_similarity": "graph.jaccard",
    "graph_resource_alloc": "graph.resource_alloc",
    "graph_negative_samples": "graph.negative_samples",
    "graph_kcore": "graph.kcore",
    "dedup_minhash_lsh": "dedup.minhash",
    "dedup_ngram_jaccard": "dedup.ngram_jaccard",
    "dedup_simhash": "dedup.simhash",
    "dedup_containment": "dedup.containment",
    "kg_fuzzy_alias_pairs": "linking.fuzzy_alias",
    "cc_canonicalize": "canonical.cc",
}
DEDUP_ROWS = ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash", "dedup_containment")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialized(df):
    df = df.persist()
    df.count()
    return df


def rows_in(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def stage_walls(lineage_dir: str) -> dict[str, float]:
    """Stage -> wall seconds from the program's own lineage table."""
    t = ds.dataset(lineage_dir, format="parquet").to_table(
        columns=["stage", "partition_id", "wall_ms"]
    ).to_pandas()
    t = t[t["partition_id"].isna() & t["wall_ms"].notna()]
    return {r.stage: r.wall_ms / 1e3 for r in t.itertuples(index=False)}


def job_half(spark, tr: spans.Tracer, wl: JobShortTurns, counts: dict) -> list[str]:
    """The traced pipeline unit, then each job layer on the same corpus."""
    from kgx import aggregate, assemble, canonical, lineage, materialize, mentions, relations

    with tr.span("job.run_pipeline"):
        wl.unit(spark, 0)
    out0 = wl.unit_out(0)
    counts["lineage"] = stage_walls(os.path.join(out0, "lineage"))
    problems = checked(wl.after_unit, spark, 0) + checked(wl.check_run, spark)

    kb = wl.kb
    out = os.path.join(wl.work, "layers")
    src = spark.read.parquet(wl.corpus)
    n_in = src.count()
    with tr.span("assemble.admit_turns"):
        noop(assemble.admit_turns(src))
    turns = materialized(assemble.admit_turns(src))
    n_turns = turns.count()
    with tr.span("mentions.extract_turn_features"):
        noop(mentions.extract_turn_features(turns, kb))
    with tr.span("mentions.detect_mentions"):
        noop(mentions.detect_mentions(turns, kb))
    # extract_facts = extract_turn_features + facts_from_turn_features; the
    # summary pass is a child span, so the parent's self time is relations'
    with tr.span("relations.extract_facts"):
        with tr.span("relations.extract_facts.turn_summary"):
            tf = materialized(mentions.extract_turn_features(turns, kb))
        facts_df, turn_feats = relations.facts_from_turn_features(tf, kb)
        noop(facts_df)
    facts_df, turn_feats = materialized(facts_df), materialized(turn_feats)
    n_facts = facts_df.count()
    with tr.span("aggregate.all_triples"):
        noop(aggregate.all_triples(facts_df, turn_feats))
    triples = materialized(aggregate.all_triples(facts_df, turn_feats))
    with tr.span("canonical.canonicalize"):
        noop(canonical.canonicalize(triples))
    wm = materialized(mentions.detect_mentions(turns, kb))
    written = ("triples", "mentions", "phrase_edges")
    paths = {k: os.path.join(out, k) for k in written}
    with tr.span("materialize.write"):
        with tr.span("materialize.write_triples"):
            materialize.write_triples(triples, paths["triples"])
        with tr.span("materialize.write_mentions"):
            materialize.write_mentions(materialize.mention_evidence(wm), paths["mentions"])
        with tr.span("materialize.phrase_fact_edges"):
            materialize.phrase_fact_edges(facts_df, wm, kb).write.mode(
                "overwrite"
            ).partitionBy("ts_day").parquet(paths["phrase_edges"])
    with tr.span("lineage.append"):
        lin = os.path.join(out, "lineage")
        lineage.append_lineage(spark, lin, "perfbench", "bench", None, None, 0)
        lineage.append_partition_lineage(spark, lin, "perfbench", "bench", paths["triples"])
    spark.catalog.clearCache()

    files = [
        os.path.join(d, f)
        for k in written
        for d, _dirs, fs in os.walk(paths[k])
        for f in fs
    ]
    counts.update(
        n_in=n_in,
        n_turns=n_turns,
        n_facts=n_facts,
        bytes_written=sum(os.path.getsize(f) for f in files),
        files_written=sum(1 for f in files if f.endswith(".parquet")),
        evidence_rows=rows_in(paths["mentions"]),
    )
    return problems


def query_half(spark, tr: spans.Tracer, wl: QueriesGraphDedup, counts: dict) -> list[str]:
    """The traced query unit (the workload's rows), then the trace-only rows."""
    results = {}
    with tr.span("queries.unit"):
        for name in workloads.QUERY_ROWS:
            with tr.span(SPAN_OF_ROW[name]):
                results[name] = run_row(spark, name, wl.tables)
    for name in workloads.TRACE_ONLY_ROWS:
        with tr.span(SPAN_OF_ROW[name]):
            results[name] = run_row(spark, name, wl.tables)
    from perfbench import checks

    want = checks.oracle_signatures(list(results), wl.tables)
    counts["dedup_pairs"] = sum(len(results[n]) for n in DEDUP_ROWS)
    return [
        f"{name}: {p}"
        for name, w in want.items()
        for p in checks.signature_problems(checks.signature(results[name]), w)
    ]


def layer_metrics(tr: spans.Tracer, ev: dict, counts: dict, primary: str) -> dict:
    dur = {s.name: s.duration for s in tr.spans}
    selfs = tr.self_times()
    self_of = {s.name: selfs[s.id] for s in tr.spans}
    pipe = ev.get("job.run_pipeline", {})
    lin = counts["lineage"]
    n_turns = counts["n_turns"]

    def e(desc: str, key: str) -> float:
        return ev.get(desc, {}).get(key, 0.0)

    graph = eventlog.totals(ev, "graph")
    return {
        "session.start_s": (dur["session.start"], "s"),
        "session.warm_s": (dur["session.warm"], "s"),
        "session.peak_rss_mb": (counts["peak_rss_mb"], "MB"),
        "assemble.admit_s": (dur["assemble.admit_turns"], "s"),
        "assemble.rows_dropped": (counts["n_in"] - n_turns, "count"),
        "mentions.summary_s": (dur["mentions.extract_turn_features"], "s"),
        "mentions.spans_s": (dur["mentions.detect_mentions"], "s"),
        "mentions.udf_rows_per_turn": (pipe.get("arrow_rows", 0.0) / n_turns, "rows/turn"),
        "mentions.python_s": (pipe.get("python_s", 0.0), "s"),
        "mentions.arrow_mb": (
            pipe.get("arrow_sent_mb", 0.0) + pipe.get("arrow_returned_mb", 0.0), "MB"
        ),
        "relations.extract_facts_self_s": (self_of["relations.extract_facts"], "s"),
        "relations.facts_per_turn": (counts["n_facts"] / n_turns, "rows/turn"),
        "relations.broadcast_mb": (e("relations.extract_facts", "broadcast_mb"), "MB"),
        "aggregate.all_triples_s": (dur["aggregate.all_triples"], "s"),
        "aggregate.shuffle_mb": (e("aggregate.all_triples", "shuffle_write_mb"), "MB"),
        "canonical.canonicalize_s": (dur["canonical.canonicalize"], "s"),
        "canonical.cc_s": (dur["canonical.cc"], "s"),
        "materialize.write_s": (dur["materialize.write"], "s"),
        "materialize.bytes_written_mb": (counts["bytes_written"] / 2**20, "MB"),
        "materialize.files_written": (counts["files_written"], "count"),
        "materialize.evidence_rows_per_turn": (counts["evidence_rows"] / n_turns, "rows/turn"),
        "lineage.s": (dur["lineage.append"], "s"),
        "job.extract_s": (lin.get("extract", 0.0), "s"),
        "job.triples_s": (lin.get("triples", 0.0), "s"),
        "job.nodes_s": (lin.get("nodes", 0.0), "s"),
        "job.analytics_s": (lin.get("analytics", 0.0), "s"),
        "job.spark_jobs": (pipe.get("spark_jobs", 0.0), "count"),
        "job.tasks": (pipe.get("tasks", 0.0), "count"),
        "job.shuffle_mb": (pipe.get("shuffle_write_mb", 0.0), "MB"),
        "job.spill_mb": (pipe.get("spill_mb", 0.0), "MB"),
        "job.gc_s": (pipe.get("gc_s", 0.0), "s"),
        "job.exec_cpu_s": (pipe.get("exec_cpu_s", 0.0), "s"),
        "graph.pagerank_s": (dur["graph.pagerank"], "s"),
        "graph.jaccard_s": (dur["graph.jaccard"], "s"),
        "graph.resource_alloc_s": (dur["graph.resource_alloc"], "s"),
        "graph.negative_samples_s": (dur["graph.negative_samples"], "s"),
        "graph.kcore_s": (dur["graph.kcore"], "s"),
        "graph.broadcast_mb": (graph.get("broadcast_mb", 0.0), "MB"),
        "dedup.minhash_s": (dur["dedup.minhash"], "s"),
        "dedup.ngram_jaccard_s": (dur["dedup.ngram_jaccard"], "s"),
        "dedup.simhash_s": (dur["dedup.simhash"], "s"),
        "dedup.containment_s": (dur["dedup.containment"], "s"),
        "dedup.pairs_out": (counts["dedup_pairs"], "count"),
        "linking.fuzzy_alias_s": (dur["linking.fuzzy_alias"], "s"),
        "trace.unit_wall_s": (
            dur["job.run_pipeline" if primary == JobShortTurns.name else "queries.unit"], "s"
        ),
    }


def run_traced(args, wl):
    from perfbench import procstat
    from perfbench.run import start_spark, stop_spark

    ev_dir = os.path.join(wl.work, "eventlog")
    os.makedirs(ev_dir)
    companion = os.path.join(wl.work, "companion")
    os.makedirs(companion)
    if isinstance(wl, JobShortTurns):
        job_wl, q_wl = wl, QueriesGraphDedup(companion, args.seed, COMPANION_SCALE)
    else:
        job_wl, q_wl = JobShortTurns(companion, args.seed, COMPANION_TURNS), wl

    tr = spans.Tracer()
    counts: dict = {}
    problems: list[str] = []
    with procstat.PeakRss() as rss:
        with tr.span("session.start"):
            spark = start_spark(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + ev_dir,
                }
            )
        tr.on_enter = spark.sparkContext.setJobDescription
        try:
            job_wl.prepare(spark)
            q_wl.prepare(spark)
            job_wl.load()
            with tr.span("session.warm"):
                wl.warm(spark)
            if wl is job_wl:
                problems += job_half(spark, tr, job_wl, counts)
                problems += query_half(spark, tr, q_wl, counts)
            else:
                problems += query_half(spark, tr, q_wl, counts)
                problems += job_half(spark, tr, job_wl, counts)
            rss.sample()
            counts["peak_rss_mb"] = rss.peak_mb
        finally:
            stop_spark(spark)

    ev = eventlog.summarize(eventlog.read_events(ev_dir))
    metrics = layer_metrics(tr, ev, counts, wl.name)
    info = {
        "spans": spans.render(tr.spans),
        "event_log": {k: {m: round(v, 4) for m, v in row.items()} for k, row in ev.items() if k},
        "problems": problems,
        "overhead": "trace.unit_wall_s minus wall_s of an untraced run of the same seed",
    }
    return not problems, 1, int(bool(problems)), metrics, info
