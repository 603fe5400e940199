"""spark-submit entrypoint: the full KG-construction stage graph.

    spark-submit --py-files kgx.zip kgx/job.py \
        --input /data/transcripts --out /data/kg \
        --shuffle-partitions 2048 --salt 16

Stage graph, declared once in the `STAGES` table (stage → the outputs it
writes). One runner drives every stage: it skips a stage whose outputs all
carry a `_KGX_STAGE_OK` marker for the same input, else clears and reruns
it, appends its lineage rows in one write and marks its outputs, so a
killed run resumes at the first incomplete stage (SURVEY.md §3 tail). The
marker records the input identity (KB version, max_text_len, input files):
a different input reruns everything, and every stage after a rerun stage
reruns too, so no output is built from a stale upstream one:

    assemble → extract (mentions+relations → facts/turn_feats/mentions/
    phrase_edges/doc_meta/carryover) → triples (+ indicator_nodes,
    results) → nodes → analytics (entity_degrees, corpus_meta and the
    url/query-parameter/node-property dims)

Inside a stage, once its shared inputs are written, its independent
writes run at the same time (`write_all`, one thread per write). The
rules of that pool:
  * every frame is built in the calling thread, each `kgx.cache.persist`
    included, because a `kgx.cache.scope()` belongs to one thread;
  * each write starts through `inheritable_thread_target(spark)`, so its
    jobs keep the caller's job group, description and tags;
  * a failure in any write fails the stage;
  * the lineage append and the markers come after all of a stage's
    writes, and stages run one after another: every append goes to the
    one `lineage/` dir, and concurrent appends would share its
    `_temporary` dir.

No job writes nothing: every output the job reads back or counts is
written conformed to its declared schema (`SCHEMAS`) and read with it
(no schema-inference job), and the row counts lineage and the validity
gate need are observed on the writes themselves (`DataFrame.observe`).
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from kgx import (
    aggregate,
    assemble,
    cache,
    canonical,
    lineage,
    linking,
    materialize,
    mentions as mentions_mod,
    relations,
    resources,
    schema,
    session,
)


# The stage graph, in run order: each stage names the output dirs it
# writes, once. `run_pipeline`'s paths, its resume check, its
# `_KGX_STAGE_OK` markers and its lineage rows all derive from this table.
STAGES: dict[str, tuple[str, ...]] = {
    "extract": (
        "facts", "turn_feats", "mentions", "phrase_edges", "doc_meta", "carryover",
    ),
    "triples": ("triples", "indicator_nodes", "results"),
    "nodes": ("nodes",),
    "analytics": (
        "entity_degrees", "corpus_meta", "url_dim", "query_params", "node_props",
    ),
}
# the output whose per-partition row counts a stage's lineage records (its
# summary rows_out is the row count observed on that output's write);
# analytics writes only small rollups
COUNTED = {"extract": "facts", "triples": "triples", "nodes": "nodes"}
# the declared schema of every output the job reads back or counts: each
# is written conformed to it and read with it, so no read infers a schema
SCHEMAS = {
    "facts": schema.FACTS,
    "turn_feats": schema.TURN_FEATS,
    "doc_meta": schema.DOC_META,
    "triples": schema.TRIPLES,
    "nodes": schema.NODES,
}


def input_identity(
    transcripts: DataFrame, kb: resources.KnowledgeBase, max_text_len: int
) -> str:
    """What a stage's outputs were computed from: the KB version, the
    admission limit, the input's sorted file list (its plan's semantic
    hash when it reads no files) and the declared output schemas, so a
    schema change reruns every stage instead of reading old files with a
    schema they lack. A file rewritten in place keeps its identity; write
    a new input to a new path."""
    src = sorted(transcripts.inputFiles()) or transcripts.semanticHash()
    declared = sorted((o, s.simpleString()) for o, s in SCHEMAS.items())
    payload = repr((kb.version(), max_text_len, src, declared))
    return hashlib.md5(payload.encode()).hexdigest()[:16]


def write_all(spark: SparkSession, writes: list[Callable[[], None]]) -> None:
    """Run a stage's independent writes at the same time, one thread per
    write, and return once all have ended; the first failure is raised.
    The caller builds every frame first (a `kgx.cache.scope()` is per
    thread), and each write starts through `inheritable_thread_target`,
    so its Spark jobs keep the caller's job group, description and tags."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    for f in futures:
        f.result()


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    kb: resources.KnowledgeBase | None = None,
    num_partitions: int | None = None,
    max_text_len: int = assemble.DEFAULT_MAX_TEXT_LEN,
    resume: bool = True,
    run_id: str | None = None,
    salt_buckets: int | None = None,
) -> dict[str, str]:
    """Run all stages; returns {output: path}. Idempotent + resumable: a
    stage reruns whole unless every one of its outputs carries a marker for
    this input, and every stage after a rerun stage reruns too."""
    kb = kb or resources.default_kb()
    run_id = run_id or lineage.new_run_id()
    input_id = input_identity(transcripts, kb, max_text_len)
    paths = {o: os.path.join(out_dir, o) for outs in STAGES.values() for o in outs}
    todo: set[str] = set()
    for stage, outs in STAGES.items():
        if todo or not (
            resume and all(lineage.stage_output_ok(paths[o], input_id) for o in outs)
        ):
            todo.add(stage)

    def read(o: str) -> DataFrame:
        return spark.read.schema(SCHEMAS[o]).parquet(paths[o])

    def writer(df: DataFrame, o: str, *partition_by: str) -> Callable[[], None]:
        """The write of output `o`, to run now or in a `write_all` pool."""
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        return lambda: w.parquet(paths[o])

    def counted(
        df: DataFrame, o: str, **metrics: Column
    ) -> tuple[DataFrame, Observation]:
        """`df` conformed to output `o`'s declared schema, observed so that
        its write also yields its row count (`rows`) and `metrics`."""
        obs = Observation(o)
        exprs = [F.count(F.lit(1)).alias("rows")]
        exprs += [e.alias(k) for k, e in metrics.items()]
        return schema.conform(df, SCHEMAS[o]).observe(obs, *exprs), obs

    def run(
        stage: str, write: Callable[[], dict | None], **meta
    ) -> dict | None:
        """Run a stage's writes unless resume finds it done, then append
        its lineage in one write, then mark its outputs: a stage marked
        done always has its lineage rows, wherever a kill lands. Returns
        the metrics observed on the stage's counted write (None when the
        stage was skipped or counts nothing)."""
        if stage not in todo:
            return None
        t0 = time.monotonic()
        # start from empty dirs: a dynamic partition overwrite would keep
        # the partitions (and the marker) of an earlier input
        for o in STAGES[stage]:
            shutil.rmtree(paths[o], ignore_errors=True)
        observed = write()
        out = COUNTED.get(stage)
        lineage.write_lineage(
            spark,
            os.path.join(out_dir, "lineage"),
            run_id,
            stage,
            wall_ms=int((time.monotonic() - t0) * 1000),
            out_path=out and paths[out],
            out_schema=out and SCHEMAS[out],
            rows_out=observed and observed["rows"],
            kb_version=kb.version(),
        )
        for o in STAGES[stage]:
            lineage.mark_stage_ok(
                paths[o], {"run_id": run_id, "input": input_id, **meta}
            )
        return observed

    # -- stage: extract (assemble + mentions + relations). The facts write
    #    runs first: it fills the turns/spans caches, and phrase_edges reads
    #    its files. The other five writes then run together over those
    #    caches; the scope releases every cache the stage made when it
    #    returns ---------------------------------------------------------
    @cache.scope()
    def write_extract() -> dict:
        # map-only admission (no full-text shuffle). Scan split planning
        # (spark.sql.files.maxPartitionBytes) controls parallelism; set
        # num_partitions only to fan out a pathological file layout —
        # it costs one full shuffle of the raw rows.
        turns = assemble.admit_turns(transcripts, max_text_len=max_text_len)
        if num_partitions:
            turns = turns.repartition(num_partitions)
        turns = cache.persist(turns)
        # one Arrow pass: the span UDF runs once per admitted turn, and
        # its slim output — duplicate (conv_id, turn_idx) rows already
        # resolved — is persisted and feeds every output below
        spans = cache.persist(
            mentions_mod.resolved_mentions(mentions_mod.detect_mentions(turns, kb))
        )
        facts, turn_feats = relations.sentence_facts(spans, kb)
        # the invalid-fact count decides whether the validity gate below
        # needs a job of its own
        facts, obs = counted(
            facts, "facts",
            invalid=F.count_if(F.col("entity_name").isNull() | F.col("pred").isNull()),
        )
        writer(facts, "facts", "ts_day")()
        # SENTIMENT_PHRASE_RELATION analogue: fact ↔ evidence edges, from
        # the facts just written — the lazy plan would rerun their linking
        # joins
        pe = materialize.phrase_fact_edges(read("facts"), spans, kb)
        # coref-lite entity continuity (active SO set per turn, carried
        # across silent turns); one narrow conv_id window
        so = spans.select(
            "conv_id", "turn_idx", mentions_mod.so_set_col().alias("so_set")
        )
        tf = turn_feats.select(*schema.TURN_FEATS.fieldNames())
        write_all(spark, [
            writer(schema.conform(tf, schema.TURN_FEATS), "turn_feats", "ts_day"),
            writer(materialize.mention_evidence(spans), "mentions", "ts_day"),
            writer(pe, "phrase_edges", "ts_day"),
            # DOCUMENT_META_DATA provenance rows
            writer(
                schema.conform(materialize.document_meta(turns), schema.DOC_META),
                "doc_meta",
            ),
            writer(mentions_mod.carryover_from_so(so), "carryover"),
        ])
        return obs.get

    extracted = run("extract", write_extract)

    facts = read("facts")
    turn_feats = read("turn_feats")

    # conversation-level validity gate (the reference's skip-the-whole-
    # document abort, SentimentClassification.java:280-284). Applied HERE —
    # once, ahead of the stage branches — so every consumer of facts
    # (triples AND analytics) sees the same gated input whether the run is
    # fresh or resumed; gating only inside the triples stage made
    # entity_degrees differ between a fresh run and one that resumed past
    # triples. Skipped entirely when no facts-consuming stage re-runs: a
    # fully-resumed invocation stays marker-checks-only. The offender set
    # is counted only when the facts write observed an invalid fact, or
    # when extract was skipped and observed nothing.
    n_invalid = 0
    if todo & {"triples", "analytics"} and (
        extracted is None or extracted["invalid"]
    ):
        bad = relations.invalid_convs(facts)
        n_invalid = bad.count()
        if n_invalid:
            facts = facts.join(F.broadcast(bad), "conv_id", "left_anti")
            # gate turn_feats too: fallback (PosNegWordRatio) triples are
            # computed from turn_feats, and the reference's abort skips the
            # WHOLE document — an invalid conversation must not leak a
            # fallback row when its facts were dropped
            turn_feats = turn_feats.join(F.broadcast(bad), "conv_id", "left_anti")

    # -- stage: triples (+ SENTIMENT_INDICATOR dim): triples and
    #    indicator_nodes together, then results from the written triples -
    def write_triples() -> dict:
        triples, obs = counted(
            aggregate.all_triples(facts, turn_feats, salt_buckets=salt_buckets),
            "triples",
        )
        write_all(spark, [
            writer(triples, "triples", "ts_day"),
            writer(
                materialize.indicator_nodes(facts, linking.indicators_dim(spark, kb)),
                "indicator_nodes",
            ),
        ])
        # S8 nested-result marshal: one ordered result doc per conv, from
        # the triples just written (not a second all_triples run)
        writer(materialize.result_docs(read("triples")), "results", "ts_day")()
        return obs.get

    run("triples", write_triples, n_invalid_convs=n_invalid)

    # -- stage: nodes (canonicalization) -----------------------------------
    def write_nodes() -> dict:
        nodes, obs = counted(canonical.canonicalize(read("triples")), "nodes")
        writer(nodes, "nodes")()
        return obs.get

    run("nodes", write_nodes)

    # -- stage: read-side analytics (entity degrees + corpus rollup +
    #    provenance/property dims: URL, QUERY_PARAMETER, SO_PROPERTY), all
    #    five writes together -------------------------------------------
    def write_analytics() -> None:
        degrees = facts.groupBy(
            F.col("entity_name").alias("subj_name"),
            F.col("entity_uri").alias("subj_uri"),
        ).agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.count(F.lit(1)).alias("n_facts"),
            F.sum(F.when(F.col("score_i") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.when(F.col("score_i") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_neg"),
            F.countDistinct("pred").alias("n_preds"),
        )
        dm = read("doc_meta")
        write_all(spark, [
            writer(degrees, "entity_degrees"),
            writer(materialize.corpus_meta(dm), "corpus_meta"),
            writer(materialize.url_dim(dm), "url_dim"),
            writer(materialize.query_parameters(dm, facts), "query_params"),
            writer(materialize.node_properties(facts), "node_props"),
        ])

    run("analytics", write_analytics)
    return paths


def main() -> None:
    p = argparse.ArgumentParser(description="kgx KG-construction job")
    p.add_argument("--input", required=True, help="transcripts parquet/Iceberg path")
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--num-partitions", type=int, default=None)
    p.add_argument("--max-text-len", type=int, default=assemble.DEFAULT_MAX_TEXT_LEN)
    p.add_argument(
        "--salt",
        type=int,
        default=None,
        help="salt buckets for the two-phase hot-entity document rollup",
    )
    p.add_argument(
        "--kb",
        default=None,
        help="knowledge source: a snapshot dir ({gazetteer,lexicon,"
        "indicators,feature_alias,feature_surfaces}.parquet|tsv, see "
        "resources.save_knowledge) OR an OWL/RDF-XML ontology file "
        "(*.owl|*.rdf|*.xml, parsed by kgx.owl.load_owl — the reference's "
        "WeblogTag.java:83-116 ingestion path); default: built-in "
        "synthetic KB",
    )
    p.add_argument("--no-resume", action="store_true")
    args = p.parse_args()

    spark = session.get_spark(
        "kgx-job", master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    transcripts = spark.read.parquet(args.input)
    paths = run_pipeline(
        spark,
        transcripts,
        args.out,
        kb=resources.load_kb_any(args.kb) if args.kb else None,
        num_partitions=args.num_partitions,
        max_text_len=args.max_text_len,
        resume=not args.no_resume,
        salt_buckets=args.salt,
    )
    n = spark.read.schema(schema.TRIPLES).parquet(paths["triples"]).count()
    print(f"kgx: wrote {n} triples to {paths['triples']}")


if __name__ == "__main__":
    main()
