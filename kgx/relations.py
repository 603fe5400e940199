"""Stage 3 — relation extraction: per-turn (subj, pred, polarity) facts.

Replaces the reference's JAPE classification pipeline + defineSentenceLevel
(SentimentClassification.java:305-514): for every sentence it pairs the
sentiment-object mention with the sentence's feature mention (or a default),
derives polarity from orientation terms, and resolves indirect sentiment
through indicator correlations (SentimentClassification.java:453-508).

Extraction contract (identical in tests/oracle.py):
  * turn polarity counts: pos/neg = # orientation-term mentions by polarity
    (multiplicity counts);
  * sentence score = sign(pos - neg) ∈ {-1, 0, +1}
    (SentimentClassification.java:641-653 / A4);
  * DIRECT: each distinct linked entity mentioned in the turn gets one
    sentence-level fact; predicate = the turn's FIRST feature mention by
    offset, alias-normalized, else expectedFutureReputationChange;
  * INDIRECT: each indicator mention attributes sign * correlation to every
    distinct same-turn entity whose canonical type equals the indicator's
    object_class; if none, to the class-level pseudo-entity
    (uri = ns#<class>) — deterministic stand-in for the reference's
    class-scoped attribution;
  * entities with unknown type are dropped from fact emission
    (SentimentClassification.java:206).

Shuffle budget: turn-level columns are pure array expressions (no shuffle);
the explodes are narrow; dimension joins broadcast; the single
indirect-attribution join is keyed (conv_id, turn_idx) on two children of
the same conv_id-partitioned parent (exchange reuse).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from kgx import cache, linking, mentions
from kgx.resources import KnowledgeBase

_NS = "http://kgx.example.org/onto#"


def turn_features(turns_with_mentions: DataFrame) -> DataFrame:
    """Per-turn scalar columns derived from the mentions array —
    whole-stage-codegen array expressions; the only shuffle is the
    duplicate-turn window of mentions.resolved_mentions, and only when
    the input still carries txt_h.

    Projects AWAY text/mentions/role/tool: this DataFrame is the fan-out
    point for direct/indirect/fallback branches and is persisted by
    sentence_facts, so the cached rows must be slim (the raw text and full
    annotation array would otherwise dominate cache size and shuffle)."""
    turns_with_mentions = mentions.resolved_mentions(turns_with_mentions)
    m = F.col("mentions")
    is_pos = lambda x: x["polarity"] == "positive"  # noqa: E731
    is_neg = lambda x: x["polarity"] == "negative"  # noqa: E731
    so_surfaces = F.array_distinct(
        F.transform(F.filter(m, lambda x: x["kind"] == "SO"), lambda x: x["surface"])
    )
    ind_surfaces = F.array_distinct(
        F.transform(F.filter(m, lambda x: x["kind"] == "Indicator"), lambda x: x["surface"])
    )
    feat_surfaces = F.transform(
        F.filter(m, lambda x: x["kind"] == "Feature"), lambda x: x["surface"]
    )
    pos_cnt = F.size(F.filter(m, is_pos))
    neg_cnt = F.size(F.filter(m, is_neg))
    return turns_with_mentions.select(
        "conv_id",
        "turn_idx",
        "ts_day",
        pos_cnt.alias("pos_cnt"),
        neg_cnt.alias("neg_cnt"),
        F.signum(pos_cnt - neg_cnt).cast("int").alias("turn_score"),
        F.try_element_at(F.filter(m, lambda x: x["kind"] == "Feature"), F.lit(1))[
            "surface"
        ].alias("feature_surface"),  # mentions sorted by begin → first by offset
        F.try_element_at(
            F.filter(
                feat_surfaces,
                lambda s: F.lower(s)
                != F.lower(F.try_element_at(feat_surfaces, F.lit(1))),
            ),
            F.lit(1),
        ).alias("subfeature_surface"),  # second distinct feature by offset
        so_surfaces.alias("so_mentions"),
        ind_surfaces.alias("ind_mentions"),
        (F.size(so_surfaces) > 0).alias("has_so"),
    )


def linked_turn_entities(turn_feats: DataFrame, gaz_dim: DataFrame) -> DataFrame:
    """Explode SO mentions and link them (J1/J2); distinct per
    (conv_id, turn_idx, entity_id)."""
    so = turn_feats.select(
        "conv_id",
        "turn_idx",
        "ts_day",
        "turn_score",
        "feature_surface",
        "subfeature_surface",
        F.explode("so_mentions").alias("surface"),
    )
    linked = linking.link_so_mentions(so, gaz_dim)
    return linked.dropDuplicates(["conv_id", "turn_idx", "entity_id"])


def direct_facts(linked_entities: DataFrame, alias_dim: DataFrame) -> DataFrame:
    """Sentence-level direct sentiment facts. `subfeature` is the alias-
    normalized second feature mention of the turn (the SENTIMENT subfeature
    FK, db_schema.sql:443; guard P2 `containsKey("SubFeature")`,
    SentimentClassification.java:349) — null when absent, no default."""
    df = linking.normalize_feature(linked_entities, alias_dim, "feature_surface")
    sub_alias = alias_dim.select(
        F.col("alias_lc").alias("sub_alias_lc"),
        F.col("canonical").alias("subfeature"),
    )
    df = df.withColumn("sub_alias_lc", F.lower("subfeature_surface")).join(
        F.broadcast(sub_alias), "sub_alias_lc", "left"
    )
    return (
        df.filter(F.col("entity_type") != F.lit("unknown"))
        .select(
            "conv_id",
            "turn_idx",
            "ts_day",
            "entity_id",
            F.col("entity_uri"),
            "entity_name",
            "entity_type",
            "pred",
            "subfeature",
            F.col("turn_score").alias("score_i"),
            F.lit(None).cast("string").alias("indicator_uri"),
        )
    )


def indirect_facts(turn_feats: DataFrame, linked_entities: DataFrame, ind_dim: DataFrame) -> DataFrame:
    """Indicator-mediated sentiment: score = turn sign * correlation,
    attributed to same-turn entities of the indicator's object class, else
    a class-level pseudo-entity."""
    ind = (
        turn_feats.filter(F.size("ind_mentions") > 0)
        .select(
            "conv_id",
            "turn_idx",
            "ts_day",
            "turn_score",
            F.explode("ind_mentions").alias("m"),
        )
        .withColumn("surface_lc", F.lower(F.col("m")))
        .join(F.broadcast(ind_dim), "surface_lc", "inner")
        .dropDuplicates(["conv_id", "turn_idx", "indicator_uri"])
        .withColumn("eff_score", (F.col("turn_score") * F.col("correlation")).cast("int"))
    )

    targets = linked_entities.select(
        "conv_id", "turn_idx", "entity_id", "entity_uri", "entity_name", "entity_type"
    )
    joined = ind.join(
        targets,
        on=[
            ind["conv_id"] == targets["conv_id"],
            ind["turn_idx"] == targets["turn_idx"],
            targets["entity_type"] == ind["object_class"],
        ],
        how="left",
    ).select(
        ind["conv_id"],
        ind["turn_idx"],
        ind["ts_day"],
        ind["feature_uri"].alias("pred"),
        F.lit(None).cast("string").alias("subfeature"),
        ind["eff_score"].alias("score_i"),
        ind["indicator_uri"],
        ind["object_class"],
        targets["entity_id"],
        targets["entity_uri"],
        targets["entity_name"],
        targets["entity_type"],
    )
    # fall back to the class-level pseudo-entity when no same-class entity
    # is mentioned in the turn
    return (
        joined.withColumn(
            "entity_name", F.coalesce("entity_name", F.col("object_class"))
        )
        .withColumn(
            "entity_uri",
            F.coalesce("entity_uri", F.concat(F.lit(_NS), F.col("object_class"))),
        )
        .withColumn("entity_type", F.coalesce("entity_type", F.col("object_class")))
        .withColumn(
            "entity_id",
            F.coalesce(
                "entity_id",
                F.xxhash64(F.lower("entity_name"), F.coalesce("entity_uri", F.lit(""))),
            ),
        )
        .drop("object_class")
    )


def facts_from_turn_features(
    tf: DataFrame, kb: KnowledgeBase
) -> tuple[DataFrame, DataFrame]:
    """Stage-3 wiring from a slim turn_feats DataFrame. Returns
    (sentence_facts, turn_feats).

    sentence_facts columns: conv_id, turn_idx, ts_day, entity_id,
    entity_uri, entity_name, entity_type, pred, score_i, indicator_uri.

    turn_feats and linked entities are each the input of 2+ branches;
    persisting them keeps the Arrow-UDF stage from re-executing once per
    branch (Spark does no cross-branch subplan dedup). In kgx.job only the
    facts and turn_feats writes read them (phrase_edges reads the written
    facts).
    """
    spark = tf.sparkSession
    gaz = linking.gazetteer_dim(spark, kb)
    alias = linking.feature_alias_dim(spark, kb)
    ind = linking.indicators_dim(spark, kb)

    tf = cache.persist(tf)
    linked = cache.persist(linked_turn_entities(tf, gaz))
    direct = direct_facts(linked, alias)
    indirect = indirect_facts(tf, linked, ind)
    return direct.unionByName(indirect), tf


def extract_facts(
    turns: DataFrame, kb: KnowledgeBase
) -> tuple[DataFrame, DataFrame]:
    """Assemble-output turns → facts, for callers that do not keep the
    mention spans; use sentence_facts when you already have them."""
    return sentence_facts(mentions.detect_mentions(turns, kb), kb)


def sentence_facts(
    turns_with_mentions: DataFrame, kb: KnowledgeBase
) -> tuple[DataFrame, DataFrame]:
    """Stage-3 wiring from a full-mention DataFrame (evidence path)."""
    return facts_from_turn_features(turn_features(turns_with_mentions), kb)


def drop_invalid_convs(facts: DataFrame) -> DataFrame:
    """Conversation-level validity gate — the reference's abort semantics
    (SentimentClassification.java:280-284: a null sentiment-object or
    feature throws, the catch at CompletePipelineWorker.java:290-335 skips
    the WHOLE document; nothing partial is ever written).

    Our extractor derives entity/pred deterministically so invalid rows
    cannot arise from the happy path, but upstream KB edits or malformed
    annotations can reintroduce them — this gate reproduces the skip as a
    distributed rule: any conversation containing a fact with a null
    subject or predicate loses ALL its facts. Implemented as a left-anti
    join on the (tiny, usually empty) distinct offending conv set, which
    Catalyst broadcasts; count the skips via the companion
    invalid_conv_count for lineage metrics."""
    bad = invalid_convs(facts)
    return facts.join(F.broadcast(bad), "conv_id", "left_anti")


def invalid_convs(facts: DataFrame) -> DataFrame:
    """Distinct conv_ids carrying a null-subject or null-pred fact (the
    offender set drop_invalid_convs removes; count it for metrics)."""
    return (
        facts.filter(F.col("entity_name").isNull() | F.col("pred").isNull())
        .select("conv_id")
        .distinct()
    )
