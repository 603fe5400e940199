"""Structured-streaming wrapper around the batch KG pipeline.

The reference is an unbounded ZeroMQ service (SURVEY.md §2.8): bounded
buffer (S2), per-document at-least-once transactions with idempotent
delete-then-insert (A5), graceful drain on FINISH (S4), and — crucially —
NO cross-document state: every document is self-contained. The correct
Spark rendering is therefore `foreachBatch` over the *same* batch stages,
not a custom stateful operator:

  * source: `spark.readStream` on a file/Iceberg/Kafka source of transcript
    turns; `maxFilesPerTrigger` / `maxOffsetsPerTrigger` is the bounded
    buffer; `Trigger.AvailableNow` is the FINISH drain;
  * per micro-batch: run extract → aggregate exactly as in batch and append
    date-partitioned output (with an Iceberg catalog this is MERGE INTO on
    (conv_id, classifier) — the reference's delete-then-recompute
    semantics, ClassifiedDocument.java:76-93);
  * exactly-once: Spark's checkpointLocation + a batch-keyed dynamic-
    partition-overwrite write (a retried batch replaces its own batch_id
    partitions, never appends duplicates).

Caveat (documented, matching the reference's own behavior): sentiment is
per-turn/per-conversation-slice; a conversation whose turns straddle two
micro-batches contributes document-level rows per slice, which the
downstream MERGE folds by (conv_id, subj, pred, classifier). For strict
whole-conversation aggregation use watermarked grouping or close
conversations upstream (session gap), exactly as the reference assumes one
message = one complete document.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kgx import aggregate, assemble, cache, mentions, relations, resources, schema


def stream_transcripts_from_files(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File source of transcript parquet — the S1/S2 analogue with
    `maxFilesPerTrigger` as the bounded admission buffer."""
    return (
        spark.readStream.schema(schema.TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def start_kg_stream(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    kb: resources.KnowledgeBase | None = None,
    available_now: bool = False,
    merge_table: str | None = None,
) -> StreamingQuery:
    """Run extract→triples per micro-batch, appending to a date-partitioned
    sink. `available_now=True` = drain-and-stop (FINISH semantics).

    `merge_table`: with an Iceberg catalog configured, route each batch
    through materialize.merge_upsert against that table instead of the
    parquet sink — the engine-level MERGE rendering of the reference's
    per-document delete-then-insert (A5); a retried batch re-merges the
    same keys idempotently. CONTRACT: each source micro-batch must carry
    whole conversations (the reference's queue delivers whole documents,
    CompletePipelineReceiver one message = one document) — a conversation
    split across batches would have its earlier-batch triples deleted and
    replaced by the later batch's partial recompute, exactly the
    reference's re-process-the-document semantics, which is lossy if the
    'document' itself was only half-delivered. The default parquet sink
    (batch_id-keyed partitions) does not have this constraint."""
    kb = kb or resources.default_kb()

    # one cache scope per micro-batch: a continuous stream must not pin
    # the batch's cached intermediates until restart
    @cache.scope()
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        turns = assemble.assemble_turns(batch_df)
        wm = mentions.detect_mentions(turns, kb)
        facts, tf = relations.sentence_facts(wm, kb)
        triples = aggregate.all_triples(facts, tf).withColumn(
            "batch_id", F.lit(batch_id)
        )
        if merge_table is not None:
            from kgx import materialize

            materialize.merge_upsert(
                batch_df.sparkSession,
                out_dir,
                triples,
                keys=["conv_id", "classifier"],
                table=merge_table,
            )
            return
        # Idempotent batch-keyed sink: partitioning by batch_id and writing
        # with dynamic partition overwrite means a batch retried after a
        # partial write REPLACES its own partitions instead of appending
        # duplicates — checkpointed offsets + this rerun-safe write give
        # exactly-once output. With Iceberg this becomes
        # MERGE INTO ... ON conv_id/classifier (A5 idempotency).
        #
        # The overwrite mode MUST be pinned here, per write: under Spark's
        # default (STATIC) a partitioned overwrite wipes the whole sink each
        # micro-batch and only the last batch survives. Relying on the conf
        # being set in kgx.session made the sink silently lossy under any
        # externally-created session; the writer-level option overrides the
        # session conf regardless of who built the session.
        (
            triples.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ts_day", "batch_id")
            .parquet(out_dir)
        )

    writer = (
        source.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def main() -> None:
    """spark-submit entrypoint for the streaming deployment:

        spark-submit --py-files kgx.zip kgx/streaming/stream_job.py \
            --input /data/incoming --out /data/kg_stream \
            --checkpoint /data/kg_stream_ckpt [--drain]

    --drain = Trigger.AvailableNow: process everything present, then stop
    (the FINISH semantics); without it the query runs until interrupted,
    picking up new files as they land. Restart-safe either way: offsets
    live in the checkpoint, the sink is batch-keyed overwrite."""
    import argparse
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    from kgx import session

    p = argparse.ArgumentParser(description="kgx streaming KG-construction job")
    p.add_argument(
        "--input",
        required=True,
        help="transcript parquet DIRECTORY (file streaming sources watch "
        "directories; new files landing here become micro-batches)",
    )
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--drain", action="store_true", help="AvailableNow: drain and stop")
    p.add_argument(
        "--merge-table",
        default=None,
        help="route each micro-batch through materialize.merge_upsert against "
        "this table (engine MERGE with an Iceberg catalog configured, parquet "
        "delete-then-insert emulation otherwise); batches must carry whole "
        "conversations — see start_kg_stream",
    )
    args = p.parse_args()

    spark = session.get_spark(
        "kgx-stream", master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    source = stream_transcripts_from_files(
        spark, args.input, max_files_per_trigger=args.max_files_per_trigger
    )
    q = start_kg_stream(
        spark, source, args.out, args.checkpoint, available_now=args.drain,
        merge_table=args.merge_table,
    )
    q.awaitTermination()
    # report from whichever sink the batches actually used — the same
    # dispatch rule merge_upsert applies (catalog loadable → Iceberg table,
    # else parquet emulation at --out). Guessing from isdir(out) is wrong
    # whenever the out dir pre-exists or zero batches ran.
    from kgx import materialize

    if args.merge_table and materialize.iceberg_catalog(spark):
        n = spark.table(args.merge_table).count()
        print(f"kgx-stream: {n} triples merged into {args.merge_table}")
    elif os.path.isdir(args.out):
        n = spark.read.parquet(args.out).count()
        print(f"kgx-stream: {n} triples in {args.out}")
    else:
        print(f"kgx-stream: 0 triples (no batches ran; {args.out} not created)")


if __name__ == "__main__":
    main()
