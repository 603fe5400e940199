"""Stage lineage + resume (S10 / DOCUMENT_VERSION analogue).

The reference writes one DOCUMENT_VERSION row per (document, stage) with the
artifact URL + ontology version (DatabaseFacade.java:236-281) — its audit
trail doubles as a resume marker. Ours: each finished stage appends ONE
parquet write to a `lineage` table next to the outputs, holding its summary
row (partition_id NULL: wall time, KB version, and `rows_out` = the row
count of the stage's counted output) and one row count per physical
partition of that output; `rows_in` is still NULL. A stage whose output
dirs all carry a `_KGX_STAGE_OK` marker is skipped on resume (the
killed-run-resumes-without-recompute contract).

On a real deployment the outputs are Iceberg tables and the marker is the
table's snapshot — `MERGE INTO` on (conv_id, classifier) gives the same
delete-then-insert idempotency as ClassifiedDocument.java:76-93.
"""

from __future__ import annotations

import json
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from kgx import schema

MARKER = "_KGX_STAGE_OK"


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def stage_output_ok(path: str, input_id: str) -> bool:
    """`path` carries a marker written for input `input_id` (a marker
    without one, or for another input, does not count)."""
    try:
        with open(os.path.join(path, MARKER)) as f:
            return json.load(f).get("input") == input_id
    except (OSError, ValueError):
        return False


def mark_stage_ok(path: str, meta: dict | None = None) -> None:
    with open(os.path.join(path, MARKER), "w") as f:
        json.dump(meta or {}, f)


def write_lineage(
    spark: SparkSession,
    lineage_dir: str,
    run_id: str,
    stage: str,
    *,
    wall_ms: int | None = None,
    out_path: str | None = None,
    out_schema: StructType | None = None,
    rows_in: int | None = None,
    rows_out: int | None = None,
    kb_version: str | None = None,
) -> None:
    """Append lineage rows in one single-file parquet write: a summary row
    (partition_id NULL, carrying `rows_out`) when `wall_ms` is set, and
    when `out_path` is set one row count per physical partition of that
    output. The counts re-read the output with zero data columns, which
    parquet answers from footer row counts; pass the output's declared
    `out_schema` and the re-read infers none. Every row is built in the
    JVM (no driver collect, no Python-list DataFrame)."""
    parts = []
    if wall_ms is not None:
        parts.append(spark.range(1).select(
            F.lit(None).cast("int").alias("partition_id"),
            F.lit(rows_out).cast("long").alias("rows_out"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        ))
    if out_path is not None:
        reader = spark.read if out_schema is None else spark.read.schema(out_schema)
        parts.append(
            reader.parquet(out_path)
            .groupBy(F.spark_partition_id().cast("int").alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows_out"))
            .withColumn("wall_ms", F.lit(None).cast("long"))
        )
    rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    const = {
        "run_id": F.lit(run_id),
        "stage": F.lit(stage),
        # rows_in only on the summary row; per-partition rows keep it NULL
        "rows_in": F.when(F.col("partition_id").isNull(), F.lit(rows_in)),
        "kb_version": F.lit(kb_version),
        "ts": F.current_timestamp(),
    }
    # cast each column to its LINEAGE type: a None literal is otherwise a
    # VOID column, which the parquet writer rejects
    rows.select(
        *[
            const.get(f.name, F.col(f.name)).cast(f.dataType).alias(f.name)
            for f in schema.LINEAGE
        ]
    ).coalesce(1).write.mode("append").parquet(lineage_dir)


def append_lineage(
    spark: SparkSession,
    lineage_dir: str,
    run_id: str,
    stage: str,
    rows_in: int | None,
    rows_out: int | None,
    wall_ms: int,
    kb_version: str | None = None,
) -> None:
    """One stage summary row with the given counts."""
    write_lineage(spark, lineage_dir, run_id, stage, wall_ms=wall_ms,
                  rows_in=rows_in, rows_out=rows_out, kb_version=kb_version)


def append_partition_lineage(
    spark: SparkSession,
    lineage_dir: str,
    run_id: str,
    stage: str,
    out_path: str,
    kb_version: str | None = None,
) -> None:
    """Per-partition row counts of a written output, no summary row."""
    write_lineage(spark, lineage_dir, run_id, stage, out_path=out_path,
                  kb_version=kb_version)
