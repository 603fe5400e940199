"""Stage 4 — entity linking via broadcast joins (J1-J4) + alias
normalization (J3) with first-id-wins dedup semantics (W2).

The reference links every mention through Hibernate get-or-create point
lookups (Criteria equality + ORDER BY id ASC + take-first:
DatabaseFacade.java:439-470 features, :900-976 types, :987-1018 objects,
:1026-1143 indicators). In Spark these become broadcast hash joins against
tiny dimension DataFrames; the order-dependent identity columns are replaced
by deterministic content-hash ids (xxhash64(name, uri)) so results are
independent of task scheduling and retries.

Scale: dims are O(10^3-10^5) rows → always `F.broadcast(...)`; the fact side
never shuffles for these joins (verify in .explain(): BroadcastHashJoin).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from kgx import schema
from kgx.resources import PRED_REPUTATION, KnowledgeBase, local_df


def _entity_id(name_col, uri_col):
    return F.xxhash64(F.lower(name_col), F.coalesce(uri_col, F.lit("")))


def canonical_type(type_col):
    """Any type containing 'Stock' canonicalizes to 'Stock'
    (SentimentClassification.java:214-216)."""
    return F.when(F.col(type_col).contains("Stock"), F.lit("Stock")).otherwise(
        F.col(type_col)
    )


def _first_wins(rows: list[tuple], key, order) -> list[tuple]:
    """One row per `key(row)`: the row least in `order(row)` (then in the
    whole row, so ties resolve the same way every run). The dims are
    picked here, from the KB's driver-side rows, and handed to Spark as a
    local relation: a first-wins window over them would cost every plan
    that joins a dim a shuffle job. Keys are Python's `str.lower`, which
    the differential oracle (tests/oracle.py) also uses for Spark's
    `lower`."""
    best: dict = {}
    for r in rows:
        k = key(r)
        if k not in best or (order(r), r) < (order(best[k]), best[k]):
            best[k] = r
    return list(best.values())


def gazetteer_dim(spark: SparkSession, kb: KnowledgeBase) -> DataFrame:
    """surface_lc → (entity_id, uri, name, type), one row per surface.

    Duplicate (surface) rows resolve first-id-wins: ORDER BY id ASC then
    take first (DatabaseFacade.java:994 + Order.asc("id")). Our first-wins
    order is (uri, name) lexicographic — a deterministic,
    parallelism-independent stand-in for the reference's ORDER BY id ASC
    (ids there are insertion order; ours must not depend on scheduling);
    id is the deterministic content hash.
    """
    rows = _first_wins(
        kb.gazetteer, key=lambda r: r[3].lower(), order=lambda r: (r[0], r[1])
    )
    return local_df(spark, rows, schema.GAZETTEER).select(
        F.lower("surface").alias("surface_lc"),
        _entity_id(F.col("entity_name"), F.col("entity_uri")).alias("entity_id"),
        "entity_uri",
        "entity_name",
        canonical_type("entity_type").alias("entity_type"),
    )


def feature_alias_dim(spark: SparkSession, kb: KnowledgeBase) -> DataFrame:
    """alias_lc → canonical predicate (GlobalParameters.java:147-159), plus
    the feature surface forms used in running text."""
    # deterministic first-wins (least canonical): a user-supplied KB may
    # map one alias to two canonicals — the same scheduling-independence
    # rule as gazetteer_dim/indicators_dim
    rows = _first_wins(
        kb.feature_alias + kb.feature_surfaces,
        key=lambda r: r[0].lower(),
        order=lambda r: r[1],
    )
    return local_df(spark, rows, schema.FEATURE_ALIAS).select(
        F.lower("alias").alias("alias_lc"), "canonical"
    )


def indicators_dim(spark: SparkSession, kb: KnowledgeBase) -> DataFrame:
    rows = _first_wins(
        kb.indicators, key=lambda r: r[2].lower(), order=lambda r: r[0]
    )
    return local_df(spark, rows, schema.INDICATORS).select(
        F.lower("surface").alias("surface_lc"),
        "indicator_uri",
        "indicator_name",
        "ind_type",
        "correlation",
        "object_class",
        "feature_uri",
    )


def link_so_mentions(so_mentions: DataFrame, gaz_dim: DataFrame) -> DataFrame:
    """J1+J2: broadcast-join SO mention surfaces to the gazetteer.

    `so_mentions` must carry a `surface` column. Unmatched surfaces become
    new nodes with deterministic hash ids (the get-or-create 'create' arm);
    their type is 'unknown', and — like the reference, which skips unknown
    object types (SentimentClassification.java:206) — callers filter them
    out of fact emission but keep them in metrics.
    """
    return (
        so_mentions.withColumn("surface_lc", F.lower("surface"))
        .join(F.broadcast(gaz_dim), "surface_lc", "left")
        .withColumn(
            "entity_id",
            F.coalesce(F.col("entity_id"), _entity_id(F.col("surface"), F.lit(None))),
        )
        .withColumn("entity_name", F.coalesce("entity_name", "surface"))
        .withColumn("entity_type", F.coalesce("entity_type", F.lit("unknown")))
        .drop("surface_lc")
    )


def normalize_feature(df: DataFrame, alias_dim: DataFrame, col: str = "feature_surface") -> DataFrame:
    """J3: alias → canonical predicate; default predicate when no explicit
    feature mention exists in the turn."""
    return (
        df.withColumn("alias_lc", F.lower(F.col(col)))
        .join(F.broadcast(alias_dim), "alias_lc", "left")
        .withColumn("pred", F.coalesce("canonical", F.lit(PRED_REPUTATION)))
        .drop("alias_lc", "canonical")
    )


def triple_type_check(
    spark: SparkSession,
    facts: DataFrame,
    kb: KnowledgeBase,
    rules: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """SHACL-lite triple validation against the ontology's domain/range
    shape: every extracted fact is checked (a) DOMAIN — is the subject's
    entity type allowed for this predicate (resources.DOMAIN_RULES, the
    owl domain-axiom stand-in), and (b) RANGE — for indicator-backed
    facts, does the subject's type match the indicator's declared
    object_class (the correlation individuals' applies-to class,
    FIRSTOntology.owl:4224-4259 shape / DatabaseFacade.java:1026-1143
    indicator linking). The reference enforces these constraints
    implicitly through typed Hibernate lookups; here they are an explicit
    auditable validation stage — the KG-QA pass a consumer runs before
    trusting the graph.

    Emits one row per fact:
      (conv_id, turn_idx, subj_name, subj_type, pred, indicator_uri,
       domain_ok, range_ok, is_valid)
    domain_ok is NULL for an unruled predicate; range_ok is NULL only for
    non-indicator facts — an indicator-backed fact whose indicator_uri is
    ABSENT from the KB dim is a dangling reference and gets
    range_ok=false (the left-join miss must not vacuously pass);
    is_valid = coalesce(domain_ok, false) AND coalesce(range_ok, true) —
    strict on domain, vacuous only when no range constraint applies.

    Scale shape: two broadcast hash joins against O(10)-row dims; the
    fact stream never shuffles. Validation is a map over the extraction
    output at any corpus size."""
    from kgx.resources import DOMAIN_RULES

    rule_rows = [(p, list(ts)) for p, ts in (rules or DOMAIN_RULES).items()]
    rdf = local_df(spark, rule_rows, "pred string, allowed array<string>")
    ind = (
        kb.indicators_df(spark)
        .select("indicator_uri", "object_class")
        .distinct()
    )
    domain_ok = F.array_contains("allowed", F.col("entity_type"))
    range_ok = F.when(
        F.col("indicator_uri").isNotNull(),
        F.coalesce(
            F.col("entity_type") == F.col("object_class"), F.lit(False)
        ),
    )
    return (
        facts.join(F.broadcast(rdf), "pred", "left")
        .join(F.broadcast(ind), "indicator_uri", "left")
        .select(
            "conv_id",
            "turn_idx",
            F.col("entity_name").alias("subj_name"),
            F.col("entity_type").alias("subj_type"),
            "pred",
            "indicator_uri",
            domain_ok.alias("domain_ok"),
            range_ok.alias("range_ok"),
            (
                F.coalesce(domain_ok, F.lit(False))
                & F.coalesce(range_ok, F.lit(True))
            ).alias("is_valid"),
        )
    )


def fuzzy_alias_pairs(
    vocab: DataFrame,
    word_col: str = "w",
    min_len: int = 3,
) -> DataFrame:
    """All pairs of distinct surface forms at Levenshtein distance
    exactly 1 — the fuzzy-alias mining pass an entity-resolution stage
    runs over entity name vocabularies to catch typos and near-variants
    that exact gazetteer linking (j1) misses (reference analogue: the
    reference matches names only by case-insensitive EXACT equality —
    GlobalParameters.java:147-159 equalsIgnoreCase ladders; fuzzy
    matching is part of the canonicalization surface this engine adds).

    Candidate generation is the SymSpell deletion-neighborhood join
    (Garbe's public symmetric-delete algorithm) rather than an all-pairs
    or length-band scan: every word emits its own form plus each
    single-character-deletion variant as join keys; two words at
    distance <= 1 ALWAYS share a key (substitution at i -> both deletion
    variants at i are equal; insertion/deletion -> one word IS the
    other's deletion variant), so the blocking is sound and complete for
    distance 1 — no recall loss, unlike first-letter or prefix blocking.
    Candidates sharing a key at distance >= 2 (e.g. transpositions) are
    removed by the exact levenshtein verify.

    Shape: key explosion is map-only (length+1 keys per word — the
    index is O(total chars), vocabulary-sized, never corpus-sized); the
    self-join shuffles on the deletion key; pairs are DISTINCT'd before
    the levenshtein verify so each pair is verified once no matter how
    many keys it shares. Skew note: very short words produce short,
    popular deletion keys — min_len (default 3, so keys are >= 2 chars)
    bounds that, and AQE skew-join handles residual hot keys; at web
    scale raise min_len or pre-salt the top key bucket. Words shorter
    than min_len are excluded on BOTH engines (documented contract,
    like temperature_sample's NULL-strata exclusion).

    Returns (w1, w2, dist) with w1 < w2 lexicographically, dist == 1.
    """
    words = (
        vocab.select(F.lower(F.col(word_col)).alias("w"))
        .where(F.length("w") >= min_len)
        .distinct()
    )
    keys = words.select(
        "w",
        F.explode(
            F.array_union(
                F.array(F.col("w")),
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> concat(substring(w, 1, i - 1),"
                    "             substring(w, i + 1, length(w))))"
                ),
            )
        ).alias("dk"),
    )
    cand = (
        keys.alias("a")
        .join(keys.alias("b"), "dk")
        .where(F.col("a.w") < F.col("b.w"))
        .select(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .distinct()
    )
    return cand.where(F.levenshtein("w1", "w2") <= 1).withColumn(
        "dist", F.levenshtein("w1", "w2").cast("int")
    )
