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
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import time
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kgx import (
    aggregate,
    assemble,
    cache,
    canonical,
    lineage,
    materialize,
    mentions as mentions_mod,
    relations,
    resources,
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
# summary rows_out is their sum); analytics writes only small rollups
COUNTED = {"extract": "facts", "triples": "triples", "nodes": "nodes"}


def input_identity(
    transcripts: DataFrame, kb: resources.KnowledgeBase, max_text_len: int
) -> str:
    """What a stage's outputs were computed from: the KB version, the
    admission limit and the input's sorted file list (its plan's semantic
    hash when it reads no files). A file rewritten in place keeps its
    identity; write a new input to a new path."""
    src = sorted(transcripts.inputFiles()) or transcripts.semanticHash()
    payload = repr((kb.version(), max_text_len, src))
    return hashlib.md5(payload.encode()).hexdigest()[:16]


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

    def run(stage: str, write: Callable[[], None], **meta) -> None:
        """Run a stage's writes unless resume finds it done, then append
        its lineage in one write, then mark its outputs: a stage marked
        done always has its lineage rows, wherever a kill lands."""
        if stage not in todo:
            return
        t0 = time.monotonic()
        # start from empty dirs: a dynamic partition overwrite would keep
        # the partitions (and the marker) of an earlier input
        for o in STAGES[stage]:
            shutil.rmtree(paths[o], ignore_errors=True)
        write()
        counted = COUNTED.get(stage)
        lineage.write_lineage(
            spark,
            os.path.join(out_dir, "lineage"),
            run_id,
            stage,
            wall_ms=int((time.monotonic() - t0) * 1000),
            out_path=counted and paths[counted],
            kb_version=kb.version(),
        )
        for o in STAGES[stage]:
            lineage.mark_stage_ok(
                paths[o], {"run_id": run_id, "input": input_id, **meta}
            )

    # -- stage: extract (assemble + mentions + relations): six writes, each
    #    its own Spark jobs (~35 in all) over one persisted span frame; the
    #    scope releases every cache the stage made when it returns --------
    @cache.scope()
    def write_extract() -> None:
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
        facts.write.mode("overwrite").partitionBy("ts_day").parquet(paths["facts"])
        turn_feats.select(
            "conv_id", "turn_idx", "ts_day", "pos_cnt", "neg_cnt", "has_so"
        ).write.mode("overwrite").partitionBy("ts_day").parquet(paths["turn_feats"])
        materialize.write_mentions(
            materialize.mention_evidence(spans), paths["mentions"]
        )
        # SENTIMENT_PHRASE_RELATION analogue: fact ↔ evidence edges, from
        # the facts just written — the lazy plan would rerun their linking
        # joins once per edge role
        pe = materialize.phrase_fact_edges(
            spark.read.parquet(paths["facts"]), spans, kb
        )
        pe.write.mode("overwrite").partitionBy("ts_day").parquet(
            paths["phrase_edges"]
        )
        # DOCUMENT_META_DATA provenance rows
        materialize.document_meta(turns).write.mode("overwrite").parquet(
            paths["doc_meta"]
        )
        # coref-lite entity continuity (active SO set per turn, carried
        # across silent turns); one narrow conv_id window
        so = spans.select(
            "conv_id", "turn_idx", mentions_mod.so_set_col().alias("so_set")
        )
        mentions_mod.carryover_from_so(so).write.mode("overwrite").parquet(
            paths["carryover"]
        )

    run("extract", write_extract)

    facts = spark.read.parquet(paths["facts"])
    turn_feats = spark.read.parquet(paths["turn_feats"])

    # conversation-level validity gate (the reference's skip-the-whole-
    # document abort, SentimentClassification.java:280-284). Applied HERE —
    # once, ahead of the stage branches — so every consumer of facts
    # (triples AND analytics) sees the same gated input whether the run is
    # fresh or resumed; gating only inside the triples stage made
    # entity_degrees differ between a fresh run and one that resumed past
    # triples. Skipped entirely when no facts-consuming stage re-runs: a
    # fully-resumed invocation stays marker-checks-only (no full facts
    # scan just to compute an unused gate).
    n_invalid = 0
    if todo & {"triples", "analytics"}:
        bad = relations.invalid_convs(facts)
        n_invalid = bad.count()
        if n_invalid:
            facts = facts.join(F.broadcast(bad), "conv_id", "left_anti")
            # gate turn_feats too: fallback (PosNegWordRatio) triples are
            # computed from turn_feats, and the reference's abort skips the
            # WHOLE document — an invalid conversation must not leak a
            # fallback row when its facts were dropped
            turn_feats = turn_feats.join(F.broadcast(bad), "conv_id", "left_anti")

    # -- stage: triples (+ SENTIMENT_INDICATOR dim) -------------------------
    def write_triples() -> None:
        triples = aggregate.all_triples(facts, turn_feats, salt_buckets=salt_buckets)
        materialize.write_triples(triples, paths["triples"])
        from kgx import linking

        materialize.indicator_nodes(
            facts, linking.indicators_dim(spark, kb)
        ).write.mode("overwrite").parquet(paths["indicator_nodes"])
        # S8 nested-result marshal: one ordered result doc per conv, from
        # the triples just written (not a second all_triples run)
        written = spark.read.parquet(paths["triples"])
        materialize.result_docs(written).write.mode("overwrite").partitionBy(
            "ts_day"
        ).parquet(paths["results"])

    run("triples", write_triples, n_invalid_convs=n_invalid)

    # -- stage: nodes (canonicalization) -----------------------------------
    run(
        "nodes",
        lambda: materialize.write_nodes(
            canonical.canonicalize(spark.read.parquet(paths["triples"])),
            paths["nodes"],
        ),
    )

    # -- stage: read-side analytics (entity degrees + corpus rollup +
    #    provenance/property dims: URL, QUERY_PARAMETER, SO_PROPERTY) ------
    def write_analytics() -> None:
        facts.groupBy(
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
        ).write.mode("overwrite").parquet(paths["entity_degrees"])
        dm = spark.read.parquet(paths["doc_meta"])
        materialize.corpus_meta(dm).write.mode("overwrite").parquet(
            paths["corpus_meta"]
        )
        materialize.url_dim(dm).write.mode("overwrite").parquet(paths["url_dim"])
        materialize.query_parameters(dm, facts).write.mode(
            "overwrite"
        ).parquet(paths["query_params"])
        materialize.node_properties(facts).write.mode("overwrite").parquet(
            paths["node_props"]
        )

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
    n = spark.read.parquet(paths["triples"]).count()
    print(f"kgx: wrote {n} triples to {paths['triples']}")


if __name__ == "__main__":
    main()
