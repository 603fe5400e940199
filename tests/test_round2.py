"""Round-2 additions: hot-key caps for the dedup blockers, MERGE-emulation
idempotency (A5), KB-version lineage, lang-id tie rule, cross-engine md5
hashing, reference-exact canonicalization blocking, idempotent streaming
sink, PHRASE parity columns."""

from __future__ import annotations

import pyspark.sql.functions as F

from kgx import canonical, dedup, materialize, resources, textops


# ---------------------------------------------------------------------------
# hot-shingle / hot-bucket caps
# ---------------------------------------------------------------------------

def _zipf_docs(spark, n=30):
    """Every doc shares a boilerplate prefix (one hot shingle set) but the
    unique tails are long enough that boilerplate-only overlap stays below
    the 0.5 threshold; docs 0/1 are true near-dups beyond the boilerplate."""
    boiler = "terms of service apply to all content on this site"
    tail = " ".join(f"w{j}x{{i}}" for j in range(10))
    rows = [(i, f"{boiler} " + tail.format(i=i)) for i in range(n)]
    rows[1] = (1, rows[0][1].replace("w9x0", "w9x0b"))  # near-dup of 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_max_df_cap_preserves_output(spark):
    """The DF cap drops boilerplate shingles from the candidate index only;
    verified pairs and their exact Jaccard values are unchanged (candidates
    re-verify against the full shingle arrays)."""
    docs = _zipf_docs(spark)
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=5).collect()
    }
    assert (0, 1) in uncapped
    assert capped == uncapped


def test_ngram_max_df_cap_bounds_candidates(spark):
    """On a pure-boilerplate corpus (all docs share ONLY hot shingles) the
    capped index generates zero candidate pairs — the quadratic blowup the
    cap exists to prevent — while true dup pairs still surface via their
    sub-cap shingles (previous test)."""
    boiler = "one two three four five six"
    docs = spark.createDataFrame(
        [(i, f"{boiler} tail{i}") for i in range(20)], "doc_id long, text string"
    )
    out = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.01, max_df=5)
    # with the boilerplate shingles capped away, no candidate pair shares
    # an index entry at all → empty result even at a trivial threshold
    assert out.count() == 0
    # sanity: the uncapped index DOES emit those pairs (they share the
    # boilerplate shingles) — the cap is what removed them
    assert dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.01).count() > 0


def test_minhash_bucket_cap_stars_hot_buckets(spark):
    """Buckets above max_bucket_size emit star candidates (min id ↔ member):
    identical docs all still link to the keeper, but candidate count is
    linear, not quadratic."""
    docs = spark.createDataFrame(
        [(i, "same words repeated for every single document here") for i in range(10)],
        "doc_id long, text string",
    )
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, n=3, threshold=0.9, max_bucket_size=3
        ).collect()
    }
    assert capped == {(0, j) for j in range(1, 10)}
    uncapped = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.9).count()
    assert uncapped == 45  # all pairs — the blowup the cap bounds


def test_md5_hash60_range_and_determinism(spark):
    df = spark.range(5).select(
        dedup.md5_hash60(F.concat(F.lit("x"), F.col("id"))).alias("h")
    )
    vals = [r["h"] for r in df.collect()]
    assert all(0 <= v < (1 << 60) for v in vals)
    assert vals == [r["h"] for r in df.collect()]


def test_simhash_md5_variant_identical_docs_hamming_zero(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    fp = dedup.simhash_fingerprints(docs, n_bits=60, hash_fn=dedup.md5_hash60)
    pairs = dedup.simhash_candidates(fp, n_bits=60).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0
    for r in fp.collect():
        assert 0 <= r["simhash"] < (1 << 60)


# ---------------------------------------------------------------------------
# MERGE emulation (A5 delete-then-insert idempotency)
# ---------------------------------------------------------------------------

def test_merge_upsert_delete_then_insert_idempotent(spark, tmp_path):
    target = str(tmp_path / "triples")
    initial = spark.createDataFrame(
        [("c1", "CRISP", 0.5), ("c1", "FUZZY", 0.5), ("c2", "CRISP", -1.0)],
        "conv_id string, classifier string, score double",
    )
    materialize.merge_upsert_parquet(spark, target, initial, ["conv_id", "classifier"])
    assert spark.read.parquet(target).count() == 3

    # recompute conv c1's CRISP row (delete-then-insert: the OLD c1/CRISP
    # rows vanish, replaced by exactly the update rows for that key)
    updates = spark.createDataFrame(
        [("c1", "CRISP", 0.75)], "conv_id string, classifier string, score double"
    )
    materialize.merge_upsert_parquet(spark, target, updates, ["conv_id", "classifier"])

    def snap():
        return sorted(
            (r["conv_id"], r["classifier"], r["score"])
            for r in spark.read.parquet(target).collect()
        )

    first = snap()
    assert first == [("c1", "CRISP", 0.75), ("c1", "FUZZY", 0.5), ("c2", "CRISP", -1.0)]
    # a retried merge with the same updates is a no-op (A5 idempotency)
    materialize.merge_upsert_parquet(spark, target, updates, ["conv_id", "classifier"])
    assert snap() == first


# ---------------------------------------------------------------------------
# KB snapshot id in lineage
# ---------------------------------------------------------------------------

# Spark jobs of one run_pipeline over the 4-conversation input below, as
# measured when the stage writes became concurrent and the schema-inference,
# count and dim-shuffle jobs were removed (the run made 106 jobs before)
RUN_JOB_BUDGET = 77


def test_kb_version_stamped_into_lineage(spark, tmp_path):
    from kgx import job, schema, synth

    pdf = synth.make_transcripts(n_convs=4, turns_per_conv=3, seed=11, oversize_every=0)
    inp = str(tmp_path / "in.parquet")
    pdf.to_parquet(inp, index=False)
    out = str(tmp_path / "kg")
    kb = resources.default_kb()
    sc = spark.sparkContext
    # the job budget: every Spark job of the run, the ones its pool
    # threads start included (they inherit the caller's job group)
    sc.setJobGroup("kgx-run-budget", "run_pipeline")
    try:
        job.run_pipeline(spark, spark.read.parquet(inp), out, kb=kb)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("kgx-run-budget")) <= RUN_JOB_BUDGET

    # every output the job reads back or counts has the schema it declares
    # (a read with a declared schema would fill a missing column with
    # NULL), and a read with it launches no schema-inference job
    for name, declared in job.SCHEMAS.items():
        inferred = spark.read.parquet(f"{out}/{name}").schema
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in declared
        ], name
    sc.setJobGroup("kgx-declared-read", "declared read")
    try:
        spark.read.schema(schema.FACTS).parquet(f"{out}/facts").schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("kgx-declared-read") == []

    lin = spark.read.parquet(f"{out}/lineage")
    vers = {r["kb_version"] for r in lin.select("kb_version").collect()}
    assert vers == {kb.version()}
    # the version is a content digest: any dimension change moves it
    kb2 = resources.driver_kb()
    assert kb2.version() != kb.version()

    # one lineage write per stage: one data file each
    import glob

    assert len(glob.glob(f"{out}/lineage/*.parquet")) == 4

    # per-partition metric rows (north rule: per-partition lineage): for
    # each core output, partition_id-tagged rows whose counts sum to the
    # written row count; each stage's one summary row keeps partition_id
    # NULL and carries that count as rows_out
    import pyspark.sql.functions as F

    for stage, out_name in (("extract", "facts"), ("triples", "triples"), ("nodes", "nodes")):
        per_part = lin.filter(
            (F.col("stage") == stage) & F.col("partition_id").isNotNull()
        )
        assert per_part.count() >= 1, stage
        total = per_part.agg(F.sum("rows_out")).collect()[0][0]
        n_out = spark.read.parquet(f"{out}/{out_name}").count()
        assert total == n_out, stage
        summary = lin.filter(
            (F.col("stage") == stage) & F.col("partition_id").isNull()
        ).collect()
        assert len(summary) == 1, stage
        assert summary[0]["rows_out"] == n_out, stage
        assert summary[0]["wall_ms"] is not None, stage
    analytics = lin.filter(F.col("stage") == "analytics").collect()
    assert len(analytics) == 1
    assert analytics[0]["partition_id"] is None
    assert analytics[0]["rows_out"] is None


def test_gate_drops_invalid_conv_and_pool_write_failure_fails_stage(
    spark, tmp_path, monkeypatch
):
    """One run: a null-pred fact makes the validity gate drop its whole
    conversation from triples and entity_degrees, counted in the triples
    marker; then a write that fails inside the analytics pool reaches the
    caller, and analytics leaves neither its lineage nor a marker."""
    import glob
    import json

    import pytest

    from kgx import job, lineage, relations, synth

    pdf = synth.make_transcripts(n_convs=4, turns_per_conv=3, seed=11, oversize_every=0)
    inp = str(tmp_path / "in.parquet")
    pdf.to_parquet(inp, index=False)
    out = str(tmp_path / "kg")

    sentence_facts = relations.sentence_facts

    def with_invalid_fact(spans, kb):
        facts, tf = sentence_facts(spans, kb)
        bad = (
            facts.orderBy("conv_id", "turn_idx", "entity_id")
            .limit(1)
            .withColumn("pred", F.lit(None).cast("string"))
        )
        return facts.unionByName(bad), tf

    def failing_url_dim(doc_meta, *args, **kwargs):
        return doc_meta.select(
            "conv_id",
            F.raise_error(F.lit("url_dim write failed")).cast("string").alias("x"),
        )

    monkeypatch.setattr(relations, "sentence_facts", with_invalid_fact)
    monkeypatch.setattr(materialize, "url_dim", failing_url_dim)
    with pytest.raises(Exception, match="url_dim write failed"):
        job.run_pipeline(spark, spark.read.parquet(inp), out)

    facts = spark.read.parquet(f"{out}/facts")
    (victim,) = {r["conv_id"] for r in facts.filter(F.col("pred").isNull()).collect()}
    kept = facts.filter(F.col("conv_id") != victim)
    assert kept.count() > 0
    triples = spark.read.parquet(f"{out}/triples")
    assert triples.filter(F.col("conv_id") == victim).count() == 0
    assert triples.count() > 0
    # entity_degrees has no conv_id: its fact count is that of the kept
    # conversations exactly
    degrees = spark.read.parquet(f"{out}/entity_degrees")
    assert degrees.agg(F.sum("n_facts")).collect()[0][0] == kept.count()
    with open(f"{out}/triples/{lineage.MARKER}") as f:
        assert json.load(f)["n_invalid_convs"] == 1

    stages = {r["stage"] for r in spark.read.parquet(f"{out}/lineage").collect()}
    assert stages == {"extract", "triples", "nodes"}
    assert len(glob.glob(f"{out}/lineage/*.parquet")) == 3
    for o in job.STAGES["analytics"]:
        assert glob.glob(f"{out}/{o}/{lineage.MARKER}") == []


# ---------------------------------------------------------------------------
# lang-id tie rule
# ---------------------------------------------------------------------------

def test_lang_id_tie_resolves_to_und(spark):
    df = spark.createDataFrame(
        [
            (0, "the and of morning"),      # en only → en
            (1, "the el la and y luz"),     # en=2 es=2 tie → und
            (2, "xyz abc def"),             # zero hits → und
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in textops.lang_id(df).collect()}
    assert out == {0: "en", 1: "und", 2: "und"}


# ---------------------------------------------------------------------------
# canonicalization blocking policies
# ---------------------------------------------------------------------------

def test_blocking_name_and_uri_matches_reference_get_or_create(spark):
    nodes = spark.createDataFrame(
        [
            (1, "Acme", "u1", "Company"),
            (2, "Acme", "u2", "Company"),   # same name, different uri
            (3, "acme", "u1", "Company"),   # same (lower(name), uri) as 1
            (4, "Other", None, "Company"),
        ],
        "entity_id long, name string, uri string, entity_type string",
    )
    # OR-policy (default): 1,2,3 all merge (shared name + shared uri chains)
    cc_or = canonical.connected_components(nodes, canonical.candidate_edges(nodes))
    comp_or = {r["entity_id"]: r["canonical_id"] for r in cc_or.collect()}
    assert comp_or[1] == comp_or[2] == comp_or[3] == 1 and comp_or[4] == 4
    # reference-exact AND-policy: only exact (lower(name), uri) equality
    # merges → 1+3 merge, 2 stays distinct
    edges_and = canonical.candidate_edges(nodes, blocking="name_and_uri")
    cc_and = canonical.connected_components(nodes, edges_and)
    comp_and = {r["entity_id"]: r["canonical_id"] for r in cc_and.collect()}
    assert comp_and[1] == comp_and[3] == 1
    assert comp_and[2] == 2 and comp_and[4] == 4


# ---------------------------------------------------------------------------
# idempotent streaming sink (batch-keyed dynamic partition overwrite)
# ---------------------------------------------------------------------------

def test_batch_keyed_overwrite_is_retry_idempotent(spark, tmp_path):
    """A retried micro-batch (same batch_id) REPLACES its own partitions;
    a new batch_id accumulates — the exactly-once contract of the
    streaming sink's write pattern."""
    out = str(tmp_path / "sink")
    b0 = spark.createDataFrame(
        [("c1", "2025-01-01", 0), ("c2", "2025-01-01", 0)],
        "conv_id string, ts_day string, batch_id int",
    )
    b0.write.mode("overwrite").partitionBy("ts_day", "batch_id").parquet(out)
    # retry of batch 0 (e.g. after a partial write): same rows again
    b0.write.mode("overwrite").partitionBy("ts_day", "batch_id").parquet(out)
    assert spark.read.parquet(out).count() == 2
    b1 = spark.createDataFrame(
        [("c3", "2025-01-01", 1)], "conv_id string, ts_day string, batch_id int"
    )
    b1.write.mode("overwrite").partitionBy("ts_day", "batch_id").parquet(out)
    assert spark.read.parquet(out).count() == 3


# ---------------------------------------------------------------------------
# PHRASE parity columns + fact↔phrase edges
# ---------------------------------------------------------------------------

def test_mention_evidence_scores_and_so_distance(spark):
    from kgx import assemble, mentions as mentions_mod

    rows = [("c0", 0, "user", "Acme gains and losses today", None, "2025-01-01 00:00:00")]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kb = resources.default_kb()
    turns = assemble.admit_turns(tr)
    ev = materialize.mention_evidence(mentions_mod.detect_mentions(turns, kb))
    got = {r["text"].lower(): r for r in ev.collect()}
    # 'gains' (+1) and 'losses' (-1) carry their own polarity; the SO
    # phrase carries the turn score sign(1-1)=0
    assert got["gains"]["sentiment_score_i"] == 1
    assert got["losses"]["sentiment_score_i"] == -1
    assert got["acme"]["sentiment_score_i"] == 0
    # distance to SO: 'Acme' begins at 0; 'gains' at 5 → dist 5
    assert got["acme"]["dist_to_so"] == 0
    assert got["gains"]["dist_to_so"] == 5


def test_phrase_fact_edges_roles(spark):
    from kgx import assemble, mentions as mentions_mod, relations

    rows = [("c0", 0, "user", "Acme price gains while inflation worsen", None,
             "2025-01-01 00:00:00")]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kb = resources.default_kb()
    turns = assemble.admit_turns(tr)
    wm = mentions_mod.detect_mentions(turns, kb)
    facts, _tf = relations.sentence_facts(wm, kb)
    edges = materialize.phrase_fact_edges(facts, wm, kb)
    roles = {(r["role"], r["subj_name"]) for r in edges.collect()}
    # direct fact on Acme: subject + orientation + feature edges
    assert ("subject", "Acme Corp") in roles
    assert ("orientation", "Acme Corp") in roles
    assert ("feature", "Acme Corp") in roles
    # indirect fact via 'inflation' (object class Currency, no currency in
    # turn → class pseudo-entity): indicator edge present
    assert any(role == "indicator" for role, _n in roles)


# ---------------------------------------------------------------------------
# block-hypergraph CC ≡ edge CC (including the adversarial chain shape)
# ---------------------------------------------------------------------------

def test_block_cc_matches_edge_cc_on_chain(spark):
    """connected_components_blocks must agree with the edge-based CC on a
    worst-case chain graph (node i pairs with i+1 alternately via name and
    uri blocks — hypergraph diameter = n/2)."""
    n = 40
    rows = [
        (i, f"n{i // 2}", f"u{(i + 1) // 2}" if i not in (0, n - 1) else None, "E")
        for i in range(n)
    ]
    nodes = spark.createDataFrame(
        rows, "entity_id long, name string, uri string, entity_type string"
    )
    edge_cc = {
        r["entity_id"]: r["canonical_id"]
        for r in canonical.connected_components(
            nodes, canonical.candidate_edges(nodes)
        ).collect()
    }
    block_cc = {
        r["entity_id"]: r["canonical_id"]
        for r in canonical.connected_components_blocks(
            nodes, canonical.block_memberships(nodes)
        ).collect()
    }
    assert block_cc == edge_cc
    assert set(block_cc.values()) == {0}  # one chain component, min id 0


# ---------------------------------------------------------------------------
# Aho-Corasick matcher engine ≡ regex alternation engine
# ---------------------------------------------------------------------------

def test_aho_corasick_matches_regex_engine():
    """The AC engine (scale path for 10^5+ gazetteer surfaces) must produce
    byte-identical matches and summaries to the alternation regex on
    overlapping patterns, multi-word surfaces, boundary cases and
    punctuation-bearing surfaces."""
    import random

    from kgx import mentions, resources

    kb = resources.default_kb()

    def build(engine):
        return mentions.SurfaceMatcher(
            so_surfaces=[s for (_u, _n, _t, s) in kb.gazetteer],
            indicator_surfaces=[row[2] for row in kb.indicators],
            feature_surfaces=[s for (s, _c) in kb.feature_surfaces],
            pos_terms=[t for (t, p) in kb.lexicon if p == "positive"],
            neg_terms=[t for (t, p) in kb.lexicon if p == "negative"],
            engine=engine,
        )

    rx, ac = build("regex"), build("aho")
    assert ac.entity_ac is not None and rx.entity_ac is None

    vocab = (
        [s for (_u, _n, _t, s) in kb.gazetteer]
        + [row[2] for row in kb.indicators]
        + [t for (t, _p) in kb.lexicon]
        + ["noise", "acmecorp", "the", "x", "Acme", "P/E", "ratio", "gain,s"]
    )
    rng = random.Random(42)
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25)))
        for _ in range(200)
    ]
    texts += [
        "ACME Corporation plc gains while Globex shares crash",
        "acmecorp gains nothing: no boundary for Acme there",
        "P/E ratio beats the debt ratio, head and shoulders pattern",
        "gain gains gaining gained",           # boundary + longest-first
        "Acme Corp,Acme Corp.Acme",            # punctuation boundaries
        "",                                    # empty
        "inflation rate hike interest rate",   # overlapping indicator surfaces
    ]
    for t in texts:
        assert rx.match(t) == ac.match(t), t


def test_aho_corasick_equivalence_property():
    """Property-based equivalence: random pattern sets (incl. substrings
    and shared prefixes/suffixes) and random texts — the AC engine must
    reproduce the regex engine's matches exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kgx import mentions

    alphabet = "ab_ c"  # tiny alphabet maximizes overlaps and boundaries
    pattern = st.text(alphabet="abc", min_size=1, max_size=4)

    @settings(max_examples=120, deadline=None)
    @given(
        pats=st.lists(pattern, min_size=1, max_size=8, unique=True),
        terms=st.lists(pattern, min_size=0, max_size=4, unique=True),
        text=st.text(alphabet=alphabet, min_size=0, max_size=40),
    )
    def check(pats, terms, text):
        rx = mentions.SurfaceMatcher(pats, [], [], terms, [], engine="regex")
        ac = mentions.SurfaceMatcher(pats, [], [], terms, [], engine="aho")
        assert rx.match(text) == ac.match(text)

    check()


def test_pipeline_with_large_gazetteer_uses_ac_and_matches_oracle(spark):
    """End-to-end with a KB big enough to auto-select the Aho-Corasick
    engine inside the Arrow UDF (>512 surfaces): triples must still match
    the independent differential oracle exactly."""
    import dataclasses

    from kgx import aggregate, assemble, mentions as mentions_mod, relations, synth
    from kgx.mentions import AC_AUTO_THRESHOLD, matcher_from_kb
    from tests.oracle import Oracle
    from tests.test_pipeline_golden import _canon

    base = resources.default_kb()
    # pad the gazetteer past the AC threshold with surfaces that never
    # occur in the synthetic texts (they only flip the engine)
    pad = [
        (f"http://kgx.example.org/onto#pad{i}", f"pad{i}", "Company", f"padsurface{i}")
        for i in range(AC_AUTO_THRESHOLD + 50)
    ]
    kb = dataclasses.replace(base, gazetteer=base.gazetteer + pad)
    assert matcher_from_kb(kb).entity_ac is not None  # AC engine active

    import pyspark.sql.functions as SF

    pdf = synth.make_transcripts(n_convs=20, turns_per_conv=6, seed=202, oversize_every=0)
    turns = assemble.admit_turns(spark.createDataFrame(pdf))
    facts, tf = relations.extract_facts(turns, kb)
    got = _canon(
        aggregate.all_triples(facts, tf)
        .withColumn("score", SF.col("score").cast("string"))
        .toPandas()
    )
    want = _canon(Oracle(kb).run(pdf))
    assert got == want
