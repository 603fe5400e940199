"""spark-submit entrypoint: the full KG-construction stage graph.

    spark-submit --py-files kgx.zip kgx/job.py \
        --input /data/transcripts --out /data/kg \
        --shuffle-partitions 2048 --salt 16

Stage graph (each stage checkpoints to parquet/Iceberg and records lineage,
so a killed run resumes at the first incomplete stage — SURVEY.md §3 tail):

    assemble → extract (mentions+relations → facts/turn_feats/mentions/
    phrase_edges/carryover) → triples (+ indicator_nodes) → nodes →
    analytics (entity_degrees + corpus_meta read-side rollups)
"""

from __future__ import annotations

import argparse
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kgx import (
    aggregate,
    assemble,
    canonical,
    lineage,
    materialize,
    mentions as mentions_mod,
    relations,
    resources,
    session,
)


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
    """Run all stages; returns {stage: output_path}. Idempotent + resumable."""
    kb = kb or resources.default_kb()
    run_id = run_id or lineage.new_run_id()
    lin_dir = os.path.join(out_dir, "lineage")
    paths = {
        "facts": os.path.join(out_dir, "facts"),
        "turn_feats": os.path.join(out_dir, "turn_feats"),
        "triples": os.path.join(out_dir, "triples"),
        "nodes": os.path.join(out_dir, "nodes"),
        "mentions": os.path.join(out_dir, "mentions"),
        "phrase_edges": os.path.join(out_dir, "phrase_edges"),
        "indicator_nodes": os.path.join(out_dir, "indicator_nodes"),
        "doc_meta": os.path.join(out_dir, "doc_meta"),
        "results": os.path.join(out_dir, "results"),
        "entity_degrees": os.path.join(out_dir, "entity_degrees"),
        "corpus_meta": os.path.join(out_dir, "corpus_meta"),
        "url_dim": os.path.join(out_dir, "url_dim"),
        "query_params": os.path.join(out_dir, "query_params"),
        "node_props": os.path.join(out_dir, "node_props"),
        "carryover": os.path.join(out_dir, "carryover"),
    }

    # -- stage: extract (assemble + mentions + relations), one Spark job ---
    extract_ok = all(
        lineage.stage_output_ok(paths[p])
        for p in (
            "facts", "turn_feats", "mentions", "phrase_edges", "doc_meta",
            "carryover",
        )
    )
    if not (resume and extract_ok):
        with lineage.StageTimer() as t:
            # map-only admission (no full-text shuffle). Scan split planning
            # (spark.sql.files.maxPartitionBytes) controls parallelism; set
            # num_partitions only to fan out a pathological file layout —
            # it costs one full shuffle of the raw rows.
            turns = assemble.admit_turns(transcripts, max_text_len=max_text_len)
            if num_partitions:
                turns = turns.repartition(num_partitions)
            turns = turns.persist()
            # one Arrow pass: the span UDF runs once per admitted turn, and
            # its slim output — duplicate (conv_id, turn_idx) rows already
            # resolved — is persisted and feeds every output below
            spans = mentions_mod.resolved_mentions(
                mentions_mod.detect_mentions(turns, kb)
            ).persist()
            facts, turn_feats = relations.sentence_facts(spans, kb)
            facts.write.mode("overwrite").partitionBy("ts_day").parquet(paths["facts"])
            turn_feats.select(
                "conv_id", "turn_idx", "ts_day", "pos_cnt", "neg_cnt", "has_so"
            ).write.mode("overwrite").partitionBy("ts_day").parquet(paths["turn_feats"])
            materialize.write_mentions(
                materialize.mention_evidence(spans), paths["mentions"]
            )
            # SENTIMENT_PHRASE_RELATION analogue: fact ↔ evidence edges
            pe = materialize.phrase_fact_edges(facts, spans, kb)
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
            # release everything this stage pinned: the admitted turns, the
            # span frame and the slim intermediates of the facts and edges
            for cached in [turns, spans, *facts._kgx_persisted, *pe._kgx_persisted]:
                cached.unpersist()
        lineage.mark_stage_ok(paths["facts"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["turn_feats"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["mentions"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["phrase_edges"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["doc_meta"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["carryover"], {"run_id": run_id})
        lineage.append_lineage(spark, lin_dir, run_id, "extract", None, None, t.wall_ms, kb_version=kb.version())
        lineage.append_partition_lineage(spark, lin_dir, run_id, "extract", paths["facts"], kb_version=kb.version())

    facts = spark.read.parquet(paths["facts"])
    turn_feats = spark.read.parquet(paths["turn_feats"])

    triples_needed = not (resume and lineage.stage_output_ok(paths["triples"]))
    analytics_needed = not (
        resume
        and all(
            lineage.stage_output_ok(paths[p])
            for p in (
                "entity_degrees", "corpus_meta", "url_dim", "query_params",
                "node_props",
            )
        )
    )

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
    if triples_needed or analytics_needed:
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
    if triples_needed:
        with lineage.StageTimer() as t:
            triples = aggregate.all_triples(
                facts, turn_feats, salt_buckets=salt_buckets
            )
            materialize.write_triples(triples, paths["triples"])
            from kgx import linking

            materialize.indicator_nodes(
                facts, linking.indicators_dim(spark, kb)
            ).write.mode("overwrite").parquet(paths["indicator_nodes"])
            # S8 nested-result marshal: one ordered result doc per conv
            materialize.result_docs(triples).write.mode("overwrite").partitionBy(
                "ts_day"
            ).parquet(paths["results"])
        lineage.mark_stage_ok(
            paths["triples"], {"run_id": run_id, "n_invalid_convs": n_invalid}
        )
        lineage.mark_stage_ok(paths["indicator_nodes"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["results"], {"run_id": run_id})
        lineage.append_lineage(spark, lin_dir, run_id, "triples", None, None, t.wall_ms, kb_version=kb.version())
        lineage.append_partition_lineage(spark, lin_dir, run_id, "triples", paths["triples"], kb_version=kb.version())

    triples = spark.read.parquet(paths["triples"])

    # -- stage: nodes (canonicalization) -----------------------------------
    if not (resume and lineage.stage_output_ok(paths["nodes"])):
        with lineage.StageTimer() as t:
            nodes = canonical.canonicalize(triples)
            materialize.write_nodes(nodes, paths["nodes"])
        lineage.mark_stage_ok(paths["nodes"], {"run_id": run_id})
        lineage.append_lineage(spark, lin_dir, run_id, "nodes", None, None, t.wall_ms, kb_version=kb.version())
        lineage.append_partition_lineage(spark, lin_dir, run_id, "nodes", paths["nodes"], kb_version=kb.version())

    # -- stage: read-side analytics (entity degrees + corpus rollup +
    #    provenance/property dims: URL, QUERY_PARAMETER, SO_PROPERTY) ------
    if analytics_needed:
        with lineage.StageTimer() as t:
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
            materialize.url_dim(dm).write.mode("overwrite").parquet(
                paths["url_dim"]
            )
            materialize.query_parameters(dm, facts).write.mode(
                "overwrite"
            ).parquet(paths["query_params"])
            materialize.node_properties(facts).write.mode("overwrite").parquet(
                paths["node_props"]
            )
        lineage.mark_stage_ok(paths["entity_degrees"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["corpus_meta"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["url_dim"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["query_params"], {"run_id": run_id})
        lineage.mark_stage_ok(paths["node_props"], {"run_id": run_id})
        lineage.append_lineage(spark, lin_dir, run_id, "analytics", None, None, t.wall_ms, kb_version=kb.version())

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
