"""Round-3 regression tests (VERDICT.md r2 'What's wrong')."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from kgx import aggregate, assemble, cache, mentions, relations, resources, synth
from kgx.streaming import stream_job


def test_stream_sink_survives_static_overwrite_mode(spark, tmp_path):
    """The exact condition that broke CORRECTNESS_r02's stream_kg_triples:
    the driver builds its OWN SparkSession, where
    spark.sql.sources.partitionOverwriteMode is Spark's default STATIC.
    Under STATIC, a partitioned mode('overwrite') write wipes the whole
    sink directory every micro-batch, so only the final batch survives.
    The sink must pin dynamic overwrite per-write (writer option) so it is
    correct regardless of session conf."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        pdf = synth.make_transcripts(
            n_convs=12, turns_per_conv=6, seed=33, oversize_every=0
        )
        src_dir = str(tmp_path / "src")
        os.makedirs(src_dir)
        convs = sorted(pdf["conv_id"].unique())
        half = len(convs) // 2
        pdf[pdf["conv_id"].isin(convs[:half])].to_parquet(
            f"{src_dir}/a.parquet", index=False
        )
        pdf[pdf["conv_id"].isin(convs[half:])].to_parquet(
            f"{src_dir}/b.parquet", index=False
        )

        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        source = stream_job.stream_transcripts_from_files(
            spark, src_dir, max_files_per_trigger=1
        )
        q = stream_job.start_kg_stream(
            spark, source, out_dir, ckpt, available_now=True
        )
        # cold-session micro-batches (Arrow UDF spin-up + stage compile) can
        # exceed 120s under load; a short timeout here reads the sink
        # mid-stream and fails spuriously
        terminated = q.awaitTermination(600)
        assert terminated, "stream did not drain within 600s"

        got = (
            spark.read.parquet(out_dir)
            .drop("batch_id", "ts_day")
            .withColumn("score", F.col("score").cast("string"))
            .toPandas()
        )

        kb = resources.default_kb()
        turns = assemble.assemble_turns(spark.createDataFrame(pdf))
        wm = mentions.detect_mentions(turns, kb)
        facts, tf = relations.sentence_facts(wm, kb)
        want = (
            aggregate.all_triples(facts, tf)
            .drop("ts_day")
            .withColumn("score", F.col("score").cast("string"))
            .toPandas()
        )

        # Under the pre-fix sink, `got` holds only the LAST micro-batch
        # (roughly half the rows); with the per-write dynamic option the
        # stream output matches the batch pipeline exactly.
        cols = sorted(got.columns)
        g = sorted(map(tuple, got[cols].astype(str).values.tolist()))
        w = sorted(map(tuple, want[cols].astype(str).values.tolist()))
        assert g == w
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_model_fuzzy_matches_ladder(spark):
    """A6 pluggable-scorer equivalence: the broadcast linear model
    (kgx.fuzzy_model) must reproduce the expression ladder's DoM label for
    every (conv, subject, pred) group — including groups whose document
    score lands EXACTLY on a bin edge (0.2, 0.4, 0.6, 0.8, 1.0), where the
    ladder's closed lower bound must equal the model's tie-break."""
    import pandas as pd

    from kgx import aggregate, fuzzy_model

    # synthesize facts hitting every exact bin edge and interior point:
    # pos+neg totals of 5 give dscores in {±1/5=0.2 steps}; totals of 10
    # give ±0.8 exactly; plus all-pos / all-neg (|d| = 1.0) and d = 0.
    rows = []
    cid = 0
    for pos, neg in [
        (0, 5), (1, 4), (2, 3), (3, 2), (4, 1), (5, 0),
        (9, 1), (1, 9), (8, 2), (7, 3), (6, 4), (5, 5),
        (10, 0), (0, 10), (3, 3), (1, 0), (0, 1),
    ]:
        cid += 1
        for i in range(pos):
            rows.append((f"c{cid:03d}", i, f"e{cid}", "Ent", "Company", "p", 1))
        for i in range(neg):
            rows.append((f"c{cid:03d}", pos + i, f"e{cid}", "Ent", "Company", "p", -1))
        rows.append((f"c{cid:03d}", 99, f"e{cid}", "Ent", "Company", "p", 0))
    facts = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "conv_id", "turn_idx", "entity_uri", "entity_name",
                "entity_type", "pred", "score_i",
            ],
        )
    )

    ladder = (
        facts.groupBy("conv_id", F.lower("entity_name").alias("subj_name"), "pred")
        .agg(
            F.sum(F.when(F.col("score_i") > 0, 1).otherwise(0)).alias("p"),
            F.sum(F.when(F.col("score_i") < 0, 1).otherwise(0)).alias("n"),
        )
        .filter((F.col("p") + F.col("n")) > 0)
        .withColumn(
            "dscore",
            (F.col("p") - F.col("n")).cast("double")
            / (F.col("p") + F.col("n")).cast("double"),
        )
        .withColumn("dom_label", aggregate.dom_label_expr(F.abs(F.col("dscore"))))
        .select("conv_id", "subj_name", "pred", "dscore", "dom_label")
    )
    want = {
        (r.conv_id, r.subj_name, r.pred): (r.dscore, r.dom_label)
        for r in ladder.collect()
    }
    assert want, "ladder produced no groups"

    for mode in ("map", "group"):
        got = {
            (r.conv_id, r.subj_name, r.pred): (r.dscore, r.dom_label)
            for r in fuzzy_model.model_fuzzy_labels(facts, mode=mode).collect()
        }
        assert got == want, f"mode={mode} diverges from the ladder"


def test_merge_upsert_dispatch_and_fallback(spark, tmp_path):
    """merge_upsert: without an Iceberg catalog the dispatch must take the
    parquet-emulation path with delete-then-insert semantics, idempotently."""
    from kgx import materialize

    tgt = str(tmp_path / "merge_tgt")
    base = spark.createDataFrame(
        [("c1", "A", 1), ("c2", "B", 2), ("c3", "C", 3)], "conv_id string, v string, n int"
    )
    base.write.parquet(tgt)
    upd = spark.createDataFrame(
        [("c2", "B2", 20), ("c2", "B3", 21), ("c4", "D", 4)],
        "conv_id string, v string, n int",
    )
    path1 = materialize.merge_upsert(spark, tgt, upd, ["conv_id"], table=None)
    assert path1 == "parquet"
    got = {tuple(r) for r in spark.read.parquet(tgt).collect()}
    want = {("c1", "A", 1), ("c3", "C", 3), ("c2", "B2", 20), ("c2", "B3", 21), ("c4", "D", 4)}
    assert got == want
    # idempotent: same merge twice -> same table
    materialize.merge_upsert(spark, tgt, upd, ["conv_id"], table=None)
    assert {tuple(r) for r in spark.read.parquet(tgt).collect()} == want


import pytest  # noqa: E402


def test_merge_upsert_iceberg_engine(spark, tmp_path):
    """Engine-level MERGE INTO: same scenario as the parquet fallback test,
    run against a hadoop-type Iceberg catalog. Skips (lazily, on the shared
    session — no extra JVM at collection time) when the Iceberg runtime
    jars are absent, which is the case in this sandbox; the engine path is
    config-only (see materialize.merge_upsert docstring) and this test
    executes it wherever the jars exist."""
    from kgx import materialize

    # Jar-provisioning attempt, 2026-08-18: no route to a Maven repository
    # from this sandbox (DNS resolution fails for external hosts), no
    # iceberg-*.jar anywhere on disk (/root, ~/.ivy2, ~/.m2 all empty of
    # them), and no Python package distributes the iceberg-spark-runtime
    # jar. The engine path therefore remains executable only outside this
    # sandbox; everything short of the JVM-side MERGE (dispatch, SQL,
    # cardinality handling, per-call source view) is covered by the
    # fallback tests above.
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip("Iceberg runtime jars absent in this sandbox")
    # restore the session confs afterwards: the spark fixture is session-
    # scoped, and a leftover loadable catalog conf would flip every later
    # merge_upsert dispatch (e.g. test_stream_merge_table_fallback, which
    # asserts the PARQUET path) onto the engine branch in jar-present envs
    keys = [
        "spark.sql.catalog.kgx",
        "spark.sql.catalog.kgx.type",
        "spark.sql.catalog.kgx.warehouse",
    ]
    try:
        spark.conf.set("spark.sql.catalog.kgx", "org.apache.iceberg.spark.SparkCatalog")
        spark.conf.set("spark.sql.catalog.kgx.type", "hadoop")
        spark.conf.set("spark.sql.catalog.kgx.warehouse", str(tmp_path / "wh"))
        spark.createDataFrame(
            [("c1", "A", 1), ("c2", "B", 2)], "conv_id string, v string, n int"
        ).writeTo("kgx.db.t").create()
        upd = spark.createDataFrame(
            [("c2", "B2", 20), ("c4", "D", 4)], "conv_id string, v string, n int"
        )
        path = materialize.merge_upsert(spark, "", upd, ["conv_id"], table="kgx.db.t")
        assert path == "iceberg"
        got = {tuple(r) for r in spark.sql("SELECT * FROM kgx.db.t").collect()}
        assert got == {("c1", "A", 1), ("c2", "B2", 20), ("c4", "D", 4)}
    finally:
        for k in keys:
            try:
                spark.conf.unset(k)
            except Exception:
                pass


def test_hist_profile_brackets_exact(spark):
    """profile_numeric_hist error bound: each histogram quantile must sit
    within range/bins of the exact quantile, and be >= it (upper-edge
    estimator over a cumulative count that reached the rank)."""
    from kgx import stats

    ev = spark.range(0, 5000).select(
        (F.col("id") % 3).cast("string").alias("event_type"),
        (F.col("id") * 37 % 1000).cast("double").alias("value"),
    )
    exact = {r.event_type: r for r in stats.profile_numeric(ev, "event_type").collect()}
    hist = {r.event_type: r for r in stats.profile_numeric_hist(ev, "event_type").collect()}
    assert exact.keys() == hist.keys()
    for k in exact:
        width = (exact[k].vmax - exact[k].vmin) / 256.0
        for q in ("p50", "p90", "p99"):
            e, h = getattr(exact[k], q), getattr(hist[k], q)
            assert h >= e - 1e-9, (k, q, e, h)
            assert h <= e + 2 * width + 1e-9, (k, q, e, h)


def test_stream_merge_table_fallback(spark, tmp_path):
    """start_kg_stream(merge_table=...): without Iceberg jars the per-batch
    merge dispatch takes the parquet-emulation path; the drained output
    must still equal the batch pipeline (delete-then-insert by
    (conv_id, classifier) across micro-batches loses nothing when convs
    don't straddle batches)."""
    import os

    from kgx import aggregate, assemble, mentions, relations, resources, synth
    from kgx.streaming import stream_job

    pdf = synth.make_transcripts(n_convs=10, turns_per_conv=4, seed=44, oversize_every=0)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    convs = sorted(pdf["conv_id"].unique())
    half = len(convs) // 2
    pdf[pdf["conv_id"].isin(convs[:half])].to_parquet(f"{src_dir}/a.parquet", index=False)
    pdf[pdf["conv_id"].isin(convs[half:])].to_parquet(f"{src_dir}/b.parquet", index=False)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    source = stream_job.stream_transcripts_from_files(spark, src_dir, max_files_per_trigger=1)
    q = stream_job.start_kg_stream(
        spark, source, out_dir, ckpt, available_now=True,
        merge_table="kgx_nonexistent.db.t",  # no catalog -> parquet fallback
    )
    assert q.awaitTermination(600)

    got = (
        spark.read.parquet(out_dir)
        .drop("batch_id", "ts_day")
        .withColumn("score", F.col("score").cast("string"))
        .toPandas()
    )
    kb = resources.default_kb()
    turns = assemble.assemble_turns(spark.createDataFrame(pdf))
    wm = mentions.detect_mentions(turns, kb)
    facts, tf = relations.sentence_facts(wm, kb)
    want = (
        aggregate.all_triples(facts, tf)
        .drop("ts_day")
        .withColumn("score", F.col("score").cast("string"))
        .toPandas()
    )
    cols = sorted(got.columns)
    g = sorted(map(tuple, got[cols].astype(str).values.tolist()))
    w = sorted(map(tuple, want[cols].astype(str).values.tolist()))
    assert g == w


def test_query_parameters_first_subject_by_turn_order(spark):
    """query_parameters picks each conversation's FIRST subject in turn
    order (min_by on (turn_idx, entity_name)), not the alphabetical min.
    The registry oracle corpus is single-turn (turn_idx = 0 everywhere),
    where the two rules coincide — this pins the multi-turn branch the
    SQL oracle cannot distinguish."""
    import datetime

    from kgx import materialize

    dm = spark.createDataFrame(
        [("c1", "SiteA", datetime.date(2025, 6, 1))],
        "conv_id string, source string, retrieval_date date",
    )
    # alphabetical min is 'aardvark' (turn 5); turn-order first is 'zebra'
    facts = spark.createDataFrame(
        [("c1", 5, "aardvark"), ("c1", 1, "zebra"), ("c1", 3, "middling")],
        "conv_id string, turn_idx int, entity_name string",
    )
    rows = materialize.query_parameters(dm, facts).collect()
    assert len(rows) == 1
    assert rows[0]["query_sentiment_object"] == "zebra"
    assert rows[0]["query_string"] == "sitea zebra"
    # tie on turn_idx resolves by entity_name (deterministic)
    facts2 = spark.createDataFrame(
        [("c1", 1, "bravo"), ("c1", 1, "alpha")],
        "conv_id string, turn_idx int, entity_name string",
    )
    rows2 = materialize.query_parameters(dm, facts2).collect()
    assert rows2[0]["query_sentiment_object"] == "alpha"


def test_lsh_topk_recall_and_cap(spark):
    """similarity.lsh_topk: on a clustered corpus the bucketed search must
    recover most of brute force's top-k (same-cluster vectors share sign
    patterns), results must be a subset of the exact candidate ranking,
    and the deterministic bucket cap must bound per-bucket fan-out without
    breaking the contract."""
    import numpy as np

    from kgx import similarity

    rng = np.random.RandomState(7)
    dim, per, nclust = 32, 40, 5
    rows = []
    vid = 0
    for c in range(nclust):
        center = rng.randn(dim) * 4
        for _ in range(per):
            rows.append((vid, [float(x) for x in center + rng.randn(dim) * 0.3]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") % per == 0)  # one query per cluster

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(emb, q, k=5, n_planes=16, bands=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall} below bound"

    # cap path: results remain valid (a subset of each query's bucket
    # candidates, exactly k or fewer rows, ranks contiguous from 1)
    capped = similarity.lsh_topk(
        emb, q, k=5, n_planes=16, bands=4, max_bucket_size=8
    ).collect()
    by_q = {}
    for r in capped:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (qid, ranks)
        assert len(ranks) <= 5

    # multi-probe (Hamming-1 query-side probing) can only widen each
    # query's candidate set, so recall must not drop — and borderline
    # vectors usually push it up
    probed = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_topk(
            emb, q, k=5, n_planes=16, bands=4, probe_flips=1
        ).collect()
    }
    recall_mp = len(exact & probed) / len(exact)
    assert recall_mp >= recall, (recall_mp, recall)


def test_candidate_pair_kernel_invariants(spark):
    """Property test for the shared banded-LSH pair kernel
    (dedup.candidate_pairs_from_buckets) on randomized bucket frames:
      * capped output is a SUBSET of the uncapped all-pairs closure
        (the cap only removes pairs, never invents them)
      * every member of an oversize bucket still links to that bucket's
        min id (the STAR guarantee — no document is orphaned by the cap)
      * pairs are canonical: id_a < id_b, no duplicates
      * buckets at or under the cap contribute their full all-pairs set
    """
    import itertools
    import random

    from kgx import dedup

    rng = random.Random(1234)
    for trial in range(3):
        rows = []
        # a few buckets per band, sizes straddling the cap
        for band in range(3):
            n_keys = rng.randint(2, 4)
            ids = list(range(60))
            rng.shuffle(ids)
            ofs = 0
            for kk in range(n_keys):
                size = rng.choice([1, 2, 3, 7, 11])
                members = ids[ofs : ofs + size]
                ofs += size
                rows.extend((i, band, f"k{kk}") for i in members)
        buckets = spark.createDataFrame(rows, "id long, band int, key string")
        cap = 5

        uncapped = {
            (r.id_a, r.id_b)
            for r in dedup.candidate_pairs_from_buckets(buckets, None).collect()
        }
        with cache.scope():
            capped_df = dedup.candidate_pairs_from_buckets(buckets, cap)
            capped = {(r.id_a, r.id_b) for r in capped_df.collect()}

        assert capped <= uncapped, "cap invented a pair"
        assert all(a < b for a, b in capped), "non-canonical pair"

        by_bucket: dict[tuple, list] = {}
        for i, band, key in rows:
            by_bucket.setdefault((band, key), []).append(i)
        for members in by_bucket.values():
            ms = sorted(members)
            if len(ms) > cap:
                # STAR guarantee: min id links to every other member
                for m in ms[1:]:
                    assert (ms[0], m) in capped, (ms[0], m)
            else:
                for a, b in itertools.combinations(ms, 2):
                    assert (min(a, b), max(a, b)) in capped, (a, b)


def test_matcher_survives_unicode_case_variants():
    """re.IGNORECASE (and the casefolded AC scan) can match Unicode case
    variants whose str.lower() is NOT the pattern key — 'ſtark' (long s)
    matches the pattern 'stark' but 'ſtark'.lower() == 'ſtark'; the Greek
    final-sigma rule makes 'ΑΣ'.lower() == 'ας' while the per-char scan
    lowered it to 'ασ'. A dict[] lookup on the matched slice raised
    KeyError and killed the whole task; the matcher must SKIP such stray
    matches instead (which is also what the differential oracle does: it
    searches text.lower() for the lowered pattern and never matches these
    variants at all)."""
    from kgx.mentions import SurfaceMatcher

    m = SurfaceMatcher(
        so_surfaces=["stark industries"],
        indicator_surfaces=["ασ"],
        feature_surfaces=["stark"],
        pos_terms=["gain"],
        neg_terms=["loss"],
    )
    # long-s variant matches the regex for 'stark' but must be skipped;
    # the orientation term after it still counts
    assert m.match("ſtark had a gain") == [(12, 16, "OrientationTerm", "gain", "positive")]
    # final-sigma variant of the indicator must be skipped, not crash
    out = m.match("ΑΣ rose; loss for ſtark")
    kinds = {k for (_b, _e, k, _s, _p) in out}
    assert "Indicator" not in kinds
    assert ("OrientationTerm" in kinds)  # 'loss' still matched
    # exact-case behavior unchanged: SO keeps its raw surface, the
    # lowercase feature still matches
    assert m.match("Stark Industries gain for stark") == [
        (0, 16, "SO", "Stark Industries", None),
        (17, 21, "OrientationTerm", "gain", "positive"),
        (26, 31, "Feature", "stark", None),
    ]
