"""Canonical StructTypes for every table the pipeline reads or writes.

Input model (BASELINE input_hint; maps to the reference's GATE document model,
SURVEY.md §1.1): conversation ↔ document, turn ↔ sentence, annotation ↔
struct column.

Output model (SURVEY.md §1.3): the reference's SENTIMENT star schema
(db_schema.sql:437-455 SENTIMENT, :289-297 SENTIMENT_OBJECT, :173-180
SENTIMENT_FEATURE_TYPE, :360-374 PHRASE) rendered as triples/nodes/mentions
tables with deterministic hash ids instead of identity columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# input
# ---------------------------------------------------------------------------

TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# standoff annotation model (GATE: type, startOffset, endOffset, FeatureMap —
# SentimentClassification.java:312-317). Offsets are char offsets into the
# turn text. The GATE FeatureMap collapses to the single attribute the
# pipeline consumes (orientation polarity) — a flat nullable column, because
# MapType per mention costs ~3x in Arrow transfer and cache at 10^12 turns.
MENTION = StructType(
    [
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("kind", StringType(), False),  # SO | OrientationTerm | Indicator | Feature
        StructField("surface", StringType(), False),
        StructField("polarity", StringType(), True),  # OrientationTerm only
    ]
)

MENTIONS_COL = ArrayType(MENTION)

# ---------------------------------------------------------------------------
# knowledge dimensions (broadcast; SURVEY.md §1.2)
# ---------------------------------------------------------------------------

GAZETTEER = StructType(
    [
        StructField("entity_uri", StringType(), False),
        StructField("entity_name", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("surface", StringType(), False),
    ]
)

ORIENTATION_LEXICON = StructType(
    [
        StructField("term", StringType(), False),
        StructField("polarity", StringType(), False),  # positive | negative
    ]
)

INDICATORS = StructType(
    [
        StructField("indicator_uri", StringType(), False),
        StructField("indicator_name", StringType(), False),
        StructField("surface", StringType(), False),
        StructField("ind_type", StringType(), False),
        StructField("correlation", IntegerType(), False),  # +1 / -1
        StructField("object_class", StringType(), False),
        StructField("feature_uri", StringType(), False),
    ]
)

FEATURE_ALIAS = StructType(
    [
        StructField("alias", StringType(), False),
        StructField("canonical", StringType(), False),
    ]
)

DOM_BOUNDS = StructType(
    [
        StructField("label", StringType(), False),
        StructField("lower", DecimalType(3, 2), True),
        StructField("upper", DecimalType(3, 2), True),
        StructField("avg", DecimalType(3, 2), True),
    ]
)

# ---------------------------------------------------------------------------
# outputs
# ---------------------------------------------------------------------------

SCORE_TYPE = DecimalType(18, 16)  # numeric(18,16), WorkerThread.java:160-162

TRIPLES = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), True),  # null at document level
        StructField("level", StringType(), False),  # sentence | document
        StructField("subj_id", LongType(), False),
        StructField("subj_uri", StringType(), True),
        StructField("subj_name", StringType(), False),
        StructField("subj_type", StringType(), True),
        StructField("pred", StringType(), False),
        # second feature mention of the turn, alias-normalized (the SENTIMENT
        # subfeature FK, db_schema.sql:443); sentence level only, else null
        StructField("subfeature", StringType(), True),
        StructField("obj_polarity", StringType(), False),  # positive|negative|neutral
        StructField("score", SCORE_TYPE, True),
        StructField("classifier", StringType(), False),
        StructField("dom_label", StringType(), True),  # fuzzy degree-of-membership
        StructField("indicator_uri", StringType(), True),
        StructField("ts_day", DateType(), True),  # partition column (days(ts))
    ]
)

# the facts kgx.job writes (relations.sentence_facts) and reads back; the
# ts_day partition column comes last, where a partitioned read puts it
FACTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("entity_id", LongType(), True),
        StructField("entity_uri", StringType(), True),
        StructField("entity_name", StringType(), True),
        StructField("entity_type", StringType(), True),
        StructField("pred", StringType(), True),
        StructField("subfeature", StringType(), True),
        StructField("score_i", IntegerType(), True),
        StructField("indicator_uri", StringType(), True),
        StructField("ts_day", DateType(), True),
    ]
)

# per-turn polarity counts, the input of the PosNegWordRatio fallback
TURN_FEATS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("pos_cnt", IntegerType(), True),
        StructField("neg_cnt", IntegerType(), True),
        StructField("has_so", BooleanType(), True),
        StructField("ts_day", DateType(), True),
    ]
)

# DOCUMENT_META_DATA analogue (materialize.document_meta)
DOC_META = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_words", LongType(), True),
        StructField("n_chars", LongType(), True),
        StructField("n_turns", LongType(), True),
        StructField("retrieval_ts", TimestampType(), True),
        StructField("retrieval_date", DateType(), True),
        StructField("source", StringType(), True),
        StructField("website_id", LongType(), True),
    ]
)

NODES = StructType(
    [
        StructField("entity_id", LongType(), False),
        StructField("canonical_id", LongType(), False),
        StructField("name", StringType(), False),
        StructField("uri", StringType(), True),
        StructField("entity_type", StringType(), True),
    ]
)

MENTIONS_OUT = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("phrase_type", StringType(), False),
        # per-phrase score: orientation polarity (±1) or the turn score
        # (SENTIMENT_SCORE, db_schema.sql:365)
        StructField("sentiment_score_i", IntegerType(), True),
        # char distance to nearest SO begin (DISTANCE_TO_SENTIMENT_OBJECT,
        # db_schema.sql:369); null when the turn has no SO mention
        StructField("dist_to_so", IntegerType(), True),
        StructField("ts_day", DateType(), True),
    ]
)

# SENTIMENT_PHRASE_RELATION analogue (db_schema.sql:462-468): n:m edges
# between facts and evidence phrases; role ∈ subject | orientation |
# feature | indicator
PHRASE_FACT_EDGES = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("subj_name", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("indicator_uri", StringType(), True),
        StructField("begin", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("ts_day", DateType(), True),
        StructField("role", StringType(), False),
    ]
)

LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), True),
        StructField("rows_in", LongType(), True),
        StructField("rows_out", LongType(), True),
        StructField("wall_ms", LongType(), True),
        # KB snapshot id the stage extracted with (the ontology-version
        # analogue, DatabaseFacade.java:614-668)
        StructField("kb_version", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)


def conform(df: DataFrame, declared: StructType) -> DataFrame:
    """`df` with its columns in `declared`'s order, after checking that its
    column names and types equal the declared ones (nullability aside). A
    parquet read with a declared schema fills a column the files lack with
    NULL and raises nothing, so a frame that drifted from its declaration
    must fail before it is written, not when a reader sees the NULLs."""
    got = [(f.name, f.dataType.simpleString()) for f in df.schema]
    want = [(f.name, f.dataType.simpleString()) for f in declared]
    if sorted(got) != sorted(want):
        raise ValueError(
            f"frame schema {sorted(got)} differs from its declaration {sorted(want)}"
        )
    return df.select(*declared.fieldNames())
