"""Stage 7 — graph materialization (S6/S7): triples / nodes / mentions
tables, date-partitioned, idempotent.

The reference writes facts to SQL Server per-document transactions
(CompletePipelineWorker.java:278-288) and audit files into date-partitioned
directories tmp/YYYY/M/D (GlobalParameters.java:359-386). We write
parquet partitioned by ts_day (the days(ts) transform on Iceberg);
`spark.sql.sources.partitionOverwriteMode=dynamic` + a full-pipeline rerun
gives delete-then-insert idempotency per partition — the A5 semantics. With
an Iceberg catalog the same DataFrames go through MERGE INTO on
(conv_id, classifier).
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from kgx import assemble, mentions


def write_triples(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    triples.write.mode(mode).partitionBy("ts_day").parquet(path)


def merge_upsert_parquet(
    spark, target_path: str, updates: DataFrame, keys: list[str]
) -> None:
    """MERGE INTO emulation on plain parquet: delete-then-insert by key —
    the reference's per-document upsert (ClassifiedDocument.java:76-93,
    DatabaseFacade.java:678-714) and the exact semantics an Iceberg catalog
    executes as `MERGE INTO target USING updates ON <keys> WHEN MATCHED
    THEN DELETE ... WHEN NOT MATCHED THEN INSERT` — swap this function for
    that statement when the jars are present; the DataFrame contract does
    not move.

    Semantics: every target row whose key tuple appears in `updates` is
    replaced by the update rows for that key (delete-then-insert, NOT
    row-level update), other target rows are untouched. Idempotent: merging
    the same updates twice yields the same table.

    Mechanics: read target, LEFT ANTI join on the (broadcastable) distinct
    update keys, union the updates, write to a staging dir, then swap dirs
    — the parquet stand-in for Iceberg's atomic snapshot commit.
    """
    import os
    import shutil

    staging = target_path.rstrip("/") + "._kgx_merge_tmp"
    trash = target_path.rstrip("/") + "._kgx_merge_old"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(trash, ignore_errors=True)
    if os.path.isdir(target_path):
        target = spark.read.parquet(target_path)
        upd_keys = updates.select(*keys).dropDuplicates(keys)
        kept = target.join(F.broadcast(upd_keys), keys, "left_anti")
        merged = kept.unionByName(updates.select(*target.columns))
        merged.write.mode("overwrite").parquet(staging)
        os.rename(target_path, trash)
        os.rename(staging, target_path)
        shutil.rmtree(trash, ignore_errors=True)
    else:
        updates.write.mode("overwrite").parquet(target_path)


def iceberg_catalog(spark) -> str | None:
    """Name of a configured, LOADABLE Iceberg catalog on this session, or
    None. Both conditions matter: a spark.sql.catalog.<name> conf entry
    pointing at an Iceberg implementation AND the class actually being on
    the classpath (jars present)."""
    try:
        entries = list(spark.sparkContext.getConf().getAll())
        # catalogs may also be configured at runtime (spark.conf.set /
        # SET ...); SQL `SET` lists explicitly-set session confs
        entries += [(r["key"], r["value"]) for r in spark.sql("SET").collect()]
    except Exception:  # pragma: no cover - defensive
        return None
    for k, v in entries:
        parts = k.split(".")
        if (
            len(parts) == 4
            and k.startswith("spark.sql.catalog.")
            and "iceberg" in str(v).lower()
        ):
            try:
                spark._jvm.java.lang.Class.forName(str(v))
                return parts[3]
            except Exception:
                # this catalog's jar is missing — keep scanning: another
                # configured catalog (conf order is unspecified) may load
                continue
    return None


def merge_upsert(
    spark,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    table: str | None = None,
) -> str:
    """The one-flag MERGE dispatch (S7/A5): with an Iceberg catalog
    configured AND its jars loadable, the upsert executes engine-level
    against `table` — delete-by-key (MERGE INTO ... WHEN MATCHED THEN
    DELETE) followed by INSERT of all update rows, the exact
    delete-then-insert the reference performs per document
    (ClassifiedDocument.java:76-93, DatabaseFacade.java:678-714; two
    statements because an update set may carry MULTIPLE rows per key, which
    row-level WHEN MATCHED UPDATE cannot express). Otherwise falls back to
    the parquet emulation with identical semantics. Returns the path taken
    ("iceberg" | "parquet") so callers/lineage can record it.

    Enabling the engine path is configuration only — no code change:
      spark.sql.catalog.kgx=org.apache.iceberg.spark.SparkCatalog
      spark.sql.catalog.kgx.type=hadoop
      spark.sql.catalog.kgx.warehouse=<dir>
    (tests/test_round3.py has the skip-marked engine-level test that runs
    wherever the jars exist; this sandbox has none, documented.)"""
    cat = iceberg_catalog(spark)
    if cat and table:
        # per-call view name: foreachBatch batches of concurrent streaming
        # queries run on separate driver threads sharing one session — a
        # fixed view name could be overwritten between registration and the
        # MERGE, merging the wrong batch's keys
        view = f"_kgx_merge_src_{uuid.uuid4().hex}"
        updates.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            key_cols = ", ".join(keys)
            # the MERGE source must be the DISTINCT key tuples, not the raw
            # update rows: an update set carries many rows per key (one per
            # subj/pred per conversation), and a MERGE whose source matches a
            # target row more than once aborts with MERGE_CARDINALITY_VIOLATION
            spark.sql(
                f"MERGE INTO {table} t "
                f"USING (SELECT DISTINCT {key_cols} FROM {view}) s "
                f"ON {on} WHEN MATCHED THEN DELETE"
            )
        finally:
            spark.catalog.dropTempView(view)
        # append by NAME (DataFrameWriterV2), never by position: the update
        # frame may be column-reordered vs the target — positional inserts
        # would silently misassign same-typed columns. An update column the
        # target lacks still fails loudly (create the streaming target WITH
        # batch_id), which beats silent corruption.
        updates.writeTo(table).append()
        return "iceberg"
    merge_upsert_parquet(spark, target_path, updates, keys)
    return "parquet"


def write_nodes(nodes: DataFrame, path: str, mode: str = "overwrite") -> None:
    nodes.write.mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str = "conv_id",
    num_buckets: int = 64,
    sort: bool = True,
) -> None:
    """Bucketed parquet table — the co-location primitive for the hot join
    keys (the parquet stand-in for Iceberg's `bucket(N, conv_id)` partition
    transform in our target table spec, SURVEY.md §4 item 1).

    Every downstream equi-join or aggregation on `key` between two tables
    bucketed with the SAME bucket count reads pre-hashed, pre-sorted
    buckets and skips BOTH the exchange and the sort — at 10^12 turns the
    triples⋈mentions and triples⋈nodes joins become zero-shuffle
    (tests/test_round2b.py asserts the Exchange-free plan). Buckets also
    bound file counts: output files = num_buckets × write tasks, versus
    one file per (task × partition-value) for raw partitionBy."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, key)
    )
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def mention_evidence(turns_with_mentions: DataFrame) -> DataFrame:
    """PHRASE-table analogue (db_schema.sql:360-374): one row per mention
    span with its phrase type (PHRASE_TYPE values,
    insertAllConstantTypes.sql) plus the reference PHRASE row's score
    columns:

      * sentiment_score_i — orientation phrases carry their own polarity
        (±1); every other phrase carries the turn's sentence score
        sign(pos − neg) (the SENTIMENT_SCORE the reference stores per
        phrase, db_schema.sql:365);
      * dist_to_so — char distance from the phrase begin to the nearest
        sentiment-object begin in the turn (DISTANCE_TO_SENTIMENT_OBJECT,
        db_schema.sql:369); null when the turn has no SO mention.

    Both are within-row array expressions over the mentions column; the
    only shuffle is mentions.resolved_mentions' duplicate-turn window,
    when the input still carries txt_h."""
    kind_to_phrase = F.create_map(
        F.lit("SO"), F.lit("sentimentObjectPhrase"),
        F.lit("OrientationTerm"), F.lit("orientationPhrase"),
        F.lit("Indicator"), F.lit("indicatorPhrase"),
        F.lit("Feature"), F.lit("featurePhrase"),
    )
    turns_with_mentions = mentions.resolved_mentions(turns_with_mentions)
    m = F.col("mentions")
    pos_cnt = F.size(F.filter(m, lambda x: x["polarity"] == "positive"))
    neg_cnt = F.size(F.filter(m, lambda x: x["polarity"] == "negative"))
    turn_score = F.signum(pos_cnt - neg_cnt).cast("int")
    so_begins = F.transform(
        F.filter(m, lambda x: x["kind"] == "SO"), lambda x: x["begin"]
    )
    return turns_with_mentions.select(
        "conv_id",
        "turn_idx",
        "ts_day",
        turn_score.alias("_tscore"),
        so_begins.alias("_sob"),
        F.explode("mentions").alias("m"),
    ).select(
        "conv_id",
        "turn_idx",
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.surface").alias("text"),
        kind_to_phrase[F.col("m.kind")].alias("phrase_type"),
        F.when(
            F.col("m.kind") == "OrientationTerm",
            F.when(F.col("m.polarity") == "positive", 1).otherwise(-1),
        )
        .otherwise(F.col("_tscore"))
        .cast("int")
        .alias("sentiment_score_i"),
        F.when(
            F.size("_sob") > 0,
            F.array_min(
                F.transform(F.col("_sob"), lambda b: F.abs(F.col("m.begin") - b))
            ),
        )
        .cast("int")
        .alias("dist_to_so"),
        "ts_day",
    )


def write_mentions(mentions: DataFrame, path: str, mode: str = "overwrite") -> None:
    mentions.write.mode(mode).partitionBy("ts_day").parquet(path)


def phrase_fact_edges(facts: DataFrame, turns_with_mentions: DataFrame, kb) -> DataFrame:
    """SENTIMENT_PHRASE_RELATION analogue: the n:m link between sentiment
    facts and the evidence phrases that produced them (db_schema.sql:462-468,
    registered per sentiment at SentimentSentence.java:383-414).

    One edge row per (fact, phrase, role):
      * subject     — an SO phrase whose linked entity name equals the
                      fact's subject;
      * orientation — every orientation phrase of the turn (they all feed
                      the turn score every fact in the turn carries);
      * feature     — the turn's FIRST feature phrase by offset (the one
                      the fact's predicate derives from), direct facts only;
      * indicator   — the indicator phrase whose linked indicator_uri
                      equals the fact's, indirect facts only.

    Shuffle shape: one equi-join of the facts with one frame of
    role-tagged spans on (conv_id, turn_idx); the role conditions are the
    join's residual filter. The span frame is built in-row: a turn's
    feature span is the first element of `array_sort` over its Feature
    mentions (least begin, ties broken by the rest of the span), and SO
    and Indicator spans get their join key (linked entity name, indicator
    uri) from one broadcast dim keyed on (kind, surface_lc). `kgx.job`
    passes the facts read back from their parquet output, so the join
    does not rerun the linking joins that built them.
    """
    from kgx import linking

    spark = facts.sparkSession
    gaz = linking.gazetteer_dim(spark, kb)
    ind_dim = linking.indicators_dim(spark, kb)
    span_key = F.broadcast(
        gaz.select(
            F.lit("SO").alias("kind"), "surface_lc",
            F.lower("entity_name").alias("_key"),
        ).unionByName(
            ind_dim.select(
                F.lit("Indicator").alias("kind"), "surface_lc",
                F.col("indicator_uri").alias("_key"),
            )
        )
    )
    m = F.col("mentions")
    first_feature = F.slice(
        F.array_sort(F.filter(m, lambda x: x["kind"] == "Feature")), 1, 1
    )
    role = F.create_map(
        F.lit("SO"), F.lit("subject"),
        F.lit("OrientationTerm"), F.lit("orientation"),
        F.lit("Feature"), F.lit("feature"),
        F.lit("Indicator"), F.lit("indicator"),
    )
    ev = (
        mentions.resolved_mentions(turns_with_mentions)
        .select(
            "conv_id", "turn_idx",
            F.explode(
                F.concat(F.filter(m, lambda x: x["kind"] != "Feature"), first_feature)
            ).alias("m"),
        )
        .select(
            "conv_id", "turn_idx",
            F.col("m.begin").alias("begin"),
            F.col("m.end").alias("end"),
            F.col("m.kind").alias("kind"),
            F.lower("m.surface").alias("surface_lc"),
        )
        .join(span_key, ["kind", "surface_lc"], "left")
        .select(
            "conv_id", "turn_idx", "begin", "end", "_key",
            role[F.col("kind")].alias("role"),
        )
        .alias("ev")
    )
    f = facts.alias("f")
    r = F.col("ev.role")
    on = (
        (F.col("f.conv_id") == F.col("ev.conv_id"))
        & (F.col("f.turn_idx") == F.col("ev.turn_idx"))
        & (
            (r == "orientation")
            | ((r == "feature") & F.col("f.indicator_uri").isNull())
            | ((r == "subject") & (F.col("ev._key") == F.lower("f.entity_name")))
            | ((r == "indicator") & (F.col("ev._key") == F.col("f.indicator_uri")))
        )
    )
    return f.join(ev, on).select(
        F.col("f.conv_id").alias("conv_id"),
        F.col("f.turn_idx").alias("turn_idx"),
        F.col("f.entity_name").alias("subj_name"),
        F.col("f.pred").alias("pred"),
        F.col("f.indicator_uri").alias("indicator_uri"),
        F.col("ev.begin").alias("begin"),
        F.col("ev.end").alias("end"),
        F.col("f.ts_day").alias("ts_day"),
        r.alias("role"),
    )


def document_meta(turns: DataFrame) -> DataFrame:
    """DOCUMENT_META_DATA analogue (db_schema.sql:333-349): one provenance
    row per conversation — word/char/turn counts (A7) plus retrieval date
    and the website FK (db_schema.sql:229-265 WEBSITE dim; the reference
    stores URL/TITLE/AUTHOR/RETRIEVAL_DATE per document). Source column is
    optional in the transcript input; when absent the website key is null.

    One keyed aggregation on conv_id (reuses the conv_id partitioning);
    the website dim join key is a deterministic hash, so the dim table
    (see website_dim) needs no sequence generator."""
    has_source = "source" in turns.columns
    src = F.col("source") if has_source else F.lit(None).cast("string")
    slim_cols = ["conv_id", "turn_idx"] + (
        ["txt_h"] if "txt_h" in turns.columns else []
    )
    # counts become SLIM columns map-side — the text itself never enters
    # the shuffle; duplicate (conv_id, turn_idx) rows from the map-only
    # admission path resolve on the slim rows (assemble.resolve_duplicates)
    per_turn = turns.select(
        *slim_cols,
        F.size(F.split("text", " ")).alias("w"),
        F.length("text").alias("c"),
        # the input model's TIMESTAMP (schema.TRANSCRIPTS): a pandas-written
        # input reads as TIMESTAMP_NTZ, and doc_meta declares one type
        F.col("ts").cast("timestamp").alias("ts"),
        src.alias("source"),
    )
    return assemble.resolve_duplicates(per_turn).groupBy("conv_id").agg(
        F.sum("w").cast("bigint").alias("n_words"),
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("retrieval_ts"),
        F.min(F.to_date("ts")).alias("retrieval_date"),
        F.min_by("source", F.struct("turn_idx")).alias("source"),
    ).withColumn(
        "website_id",
        F.when(F.col("source").isNotNull(), F.xxhash64(F.lower("source"))),
    )


def website_dim(doc_meta: DataFrame) -> DataFrame:
    """WEBSITE dimension (db_schema.sql:229-265): distinct sources with
    deterministic hash ids + usage counts — the get-or-create dim rendered
    as a groupBy (first-seen-free: the id is content-derived)."""
    return (
        doc_meta.filter(F.col("source").isNotNull())
        .groupBy(F.lower("source").alias("website"), "website_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def corpus_meta(doc_meta: DataFrame) -> DataFrame:
    """CORPUS_META_DATA + CORPUS_RELATION analogue (db_schema.sql:114-127,
    :422-428): a corpus is one source/website; roll up its document, word
    and char counts plus the retrieval-date range. The reference keeps an
    n:m corpus↔document relation table — with deterministic ids that edge
    set is just (conv_id, website_id) on doc_meta, so the only new table
    is this per-corpus rollup (one small keyed aggregation)."""
    return doc_meta.filter(F.col("source").isNotNull()).groupBy(
        F.lower("source").alias("corpus")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.min("retrieval_date").alias("first_retrieval"),
        F.max("retrieval_date").alias("last_retrieval"),
    )


def result_docs(triples: DataFrame) -> DataFrame:
    """S8 nested-result marshal analogue (ClassifiedDocument JAXB tree,
    CompletePipelineWorker.java:244-262): one row per conversation with the
    sentence/document triples nested as a deterministically ORDERED array
    (sort_array, never shuffle order) — the parquet/JSON rendering of the
    reference's result XML. A digest column gives a cheap equality handle
    over the nested payload (integer/string fields only — no float
    formatting in the digest)."""
    trip = F.struct(
        "level", "subj_name", "pred",
        F.coalesce("subfeature", F.lit("")).alias("subfeature"),
        "obj_polarity", "classifier",
        F.coalesce("dom_label", F.lit("")).alias("dom_label"),
        F.coalesce("indicator_uri", F.lit("")).alias("indicator_uri"),
        F.coalesce(F.col("turn_idx").cast("int"), F.lit(-1)).alias("turn_idx"),
    )
    return (
        triples.groupBy("conv_id")
        .agg(
            F.sort_array(F.collect_list(trip)).alias("sentiments"),
            F.count(F.lit(1)).alias("n_triples"),
            F.min("ts_day").alias("ts_day"),
        )
        .withColumn(
            "digest",
            # sort the FORMATTED LINES (not the structs): line order is
            # then plain binary string order, which any SQL engine's
            # `string_agg(line ORDER BY line)` reproduces exactly
            F.md5(
                F.concat_ws(
                    "\n",
                    F.sort_array(
                        F.transform(
                            "sentiments",
                            lambda s: F.concat_ws(
                                "|",
                                s["level"], s["subj_name"], s["pred"], s["subfeature"],
                                s["obj_polarity"], s["classifier"], s["dom_label"],
                                s["indicator_uri"], s["turn_idx"].cast("string"),
                            ),
                        )
                    ),
                )
            ),
        )
    )


def indicator_nodes(facts: DataFrame, ind_dim: DataFrame) -> DataFrame:
    """SENTIMENT_INDICATOR dimension analogue (db_schema.sql:309-322,
    materialized per indicator at DatabaseFacade.java:1104-1143): one node
    per indicator observed in the indirect facts, carrying its KB
    attributes (name, type, correlation, object class, feature) plus
    usage aggregates over the fact stream."""
    agg = (
        facts.filter(F.col("indicator_uri").isNotNull())
        .groupBy("indicator_uri")
        .agg(
            F.count(F.lit(1)).alias("n_facts"),
            F.sum("score_i").cast("bigint").alias("sum_score"),
        )
    )
    dim = ind_dim.select(
        "indicator_uri", "indicator_name", "ind_type", "correlation",
        "object_class", "feature_uri",
    ).dropDuplicates(["indicator_uri"])
    return agg.join(F.broadcast(dim), "indicator_uri")


def url_dim(doc_meta: DataFrame, stages: tuple[str, ...] = ("txt", "classified", "ontology")) -> DataFrame:
    """URL table analogue (db_schema.sql:249-260; rows written per
    processing step by DatabaseFacade.createDocumentVersion:236-260): one
    row per (conversation, pipeline stage) recording where that step's
    output lives — (protocol, host, path, version_info). The reference
    tracks 'txt'/'classified'/'ontology' file versions per document; the
    Spark rendering points at the stage's date-partitioned parquet
    location, host = the originating website, version_info = the stage
    type (exactly the DocumentVersion.type discriminator).

    Map-only: doc_meta × a literal stage array (explode) — no shuffle, no
    dim-table sequence generator (ids are content-derived)."""
    stage_col = F.explode(F.array(*[F.lit(s) for s in stages])).alias("stage")
    base = doc_meta.select("conv_id", "source", "retrieval_date", stage_col)
    return base.select(
        "conv_id",
        F.col("stage").alias("version_info"),
        F.lit("file").alias("protocol"),
        F.coalesce(F.lower("source"), F.lit("local")).alias("host"),
        F.concat(
            F.col("stage"), F.lit("/ts_day="),
            F.col("retrieval_date").cast("string"),
            F.lit("/conv_id="), F.col("conv_id"),
        ).alias("path"),
    )


def query_parameters(doc_meta: DataFrame, facts: DataFrame) -> DataFrame:
    """QUERY_PARAMETER provenance analogue (db_schema.sql:62-80): the
    crawl query that produced each document — (query_site, query_date,
    query_sentiment_object, query_string). The reference stores the search
    site, date and target sentiment object per retrieval; the Spark
    rendering reconstructs one distinct row per (site, date, subject
    entity) actually observed, with the synthesized query string
    site+object (what the crawler would have issued) and a usage count.

    Two slim aggregations: facts → per-conv first subject (min_by on
    turn order, deterministic), then a keyed rollup on the tiny
    (site, date, object) key space."""
    first_so = facts.groupBy("conv_id").agg(
        F.min_by("entity_name", F.struct("turn_idx", "entity_name")).alias(
            "query_sentiment_object"
        )
    )
    return (
        doc_meta.join(first_so, "conv_id")
        .groupBy(
            F.lower("source").alias("query_site"),
            F.col("retrieval_date").alias("query_date"),
            "query_sentiment_object",
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "query_string",
            F.concat_ws(" ", "query_site", "query_sentiment_object"),
        )
    )


def node_properties(facts: DataFrame) -> DataFrame:
    """SENTIMENT_OBJECT_PROPERTY (+_RELATION) analogue (db_schema.sql:
    266-278, :383-396; written via the property bag on SentimentObject):
    key/value property rows attached to entity nodes, the EAV rendering —
    (node_key, prop_key, prop_value). Static attributes (name, uri, type)
    unpivot map-side; usage properties (n_facts, n_convs) come from one
    keyed aggregation. node_key is content-derived, so the
    property↔object relation table is implicit — no id sequence, no
    second shuffle. Each key part is hashed BEFORE concatenation
    (md5(md5(name)||'|'||md5(coalesce(uri,'')))): a raw '|' join is
    delimiter-injectable (name='a|b',uri='c' would collide with
    name='a',uri='b|c'), and a null uri must yield a real key, not a
    null one. KG_NODE_PROPS_SQL mirrors the same expression."""
    nodes = facts.groupBy(
        F.lower("entity_name").alias("name"),
        F.col("entity_uri").alias("uri"),
    ).agg(
        F.min("entity_type").alias("entity_type"),
        F.count(F.lit(1)).alias("n_facts"),
        F.countDistinct("conv_id").alias("n_convs"),
    ).withColumn(
        "node_key",
        F.md5(
            F.concat(
                F.md5(F.col("name")),
                F.lit("|"),
                F.md5(F.coalesce(F.col("uri"), F.lit(""))),
            )
        ),
    )
    kv = F.explode(
        F.map_from_arrays(
            F.array(
                F.lit("name"), F.lit("uri"), F.lit("type"),
                F.lit("n_facts"), F.lit("n_convs"),
            ),
            F.array(
                F.col("name"), F.col("uri"), F.col("entity_type"),
                F.col("n_facts").cast("string"),
                F.col("n_convs").cast("string"),
            ),
        )
    ).alias("prop_key", "prop_value")
    return nodes.select("node_key", kv)
