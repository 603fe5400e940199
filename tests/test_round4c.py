"""Round-4c operators: SemDeDup, duplicated-substring coverage, BM25 and
bigram LM counts. Each test pins the property that makes the operator
trustworthy at scale, independent of the DuckDB oracle rows (which pin
cross-engine value equality)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from kgx import dedup, textops

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _centroids(n_cells=4, dim=64):
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"t-{ci}-{i}".encode()).digest()[0] % 2 == 0 else -1.0
            for i in range(dim)
        ]
        for ci in range(n_cells)
    ]


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def test_semdedup_keeper_rule(emb):
    """The defining SemDeDup contract: a vector is dropped iff it has a
    SAME-CELL neighbor with smaller id and cosine >= tau — verified by
    brute force over every same-cell pair."""
    tau = 0.3
    out = dedup.semdedup(emb, centroids=_centroids(), tau=tau).toPandas()
    rows = emb.select("vec_id", "embedding").toPandas()
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in rows.itertuples()}
    cell = {int(r.vec_id): int(r.cell) for r in out.itertuples()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    for r in out.itertuples():
        vid = int(r.vec_id)
        expect_drop = any(
            o < vid and cell[o] == cell[vid] and cos(vecs[o], vecs[vid]) >= tau
            for o in vecs
        )
        assert bool(r.is_kept) == (not expect_drop), vid
        if expect_drop:
            assert r.n_dup_smaller >= 1


def test_semdedup_cap_keeps_one_row_per_vector(emb):
    """Hot-cell STAR degradation (max_cell_size) never loses or duplicates
    vectors: output stays exactly one row per input, and every dropped
    vector still names at least one smaller-id duplicate."""
    out = dedup.semdedup(emb, centroids=_centroids(1), tau=-1.0, max_cell_size=3)
    n_in = emb.count()
    assert out.count() == n_in
    assert out.select("vec_id").distinct().count() == n_in
    # tau=-1 in a single cell: everything but the global min-id pairs with
    # the STAR keeper (cosine >= -1 always), so exactly one survivor
    assert out.where("is_kept").count() == 1


# ---------------------------------------------------------------------------
# duplicated-substring coverage
# ---------------------------------------------------------------------------


def test_dup_substring_hand_case(spark):
    """Two docs sharing one 5-gram + a unique tail, one disjoint doc, one
    short doc: exact expected coverage per doc."""
    rows = [
        (1, "a b c d e x1 y1 z1"),  # shares 'a b c d e' with doc 2
        (2, "a b c d e x2 y2 z2"),
        (3, "p q r s t u v w"),  # no shared shingle
        (4, "a b c"),  # < n tokens: whole-text fallback shingle
        (5, "a b c"),  # identical short doc -> fully covered
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in dedup.dup_substring_coverage(df, n=5).collect()
    }
    # docs 1/2: tokens 0..4 covered (5 of 8); 4 positions -> 1 dup position
    for d in (1, 2):
        assert out[d].n_tokens == 8
        assert out[d].n_shingles == 4
        assert out[d].n_dup_positions == 1
        assert out[d].covered_tokens == 5
        assert abs(out[d].dup_fraction - 5 / 8) < 1e-15
    assert out[3].covered_tokens == 0 and out[3].dup_fraction == 0.0
    # short dup docs: single fallback shingle covers all 3 tokens
    for d in (4, 5):
        assert out[d].n_shingles == 1
        assert out[d].covered_tokens == 3
        assert out[d].dup_fraction == 1.0


def test_dup_substring_overlapping_spans_count_once(spark):
    """Overlapping duplicated shingles must not double-count covered
    tokens (the countDistinct is the interval union)."""
    rows = [
        (1, "a b c d e f g"),  # shingles at pos 0,1,2 all duplicated
        (2, "a b c d e f g"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.dup_substring_coverage(df, n=5).collect()
    for r in out:
        assert r.n_dup_positions == 3
        assert r.covered_tokens == 7  # union of [0,4],[1,5],[2,6]
        assert r.dup_fraction == 1.0


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_matches_independent_recompute(docs):
    """Differential test: the Spark scores equal a from-scratch Python
    BM25 (same rational-IDF variant) to the last ulp, and per-term ranks
    equal Lucene-style ln(1 + rational) BM25's ranks (always-positive
    monotone transform of the rational idf; the raw Robertson ln form
    goes NEGATIVE for df > N/2 and reverses order — see the operator
    docstring)."""
    terms = ["the", "scan", "join"]
    k1, b = 1.2, 0.75
    got = textops.bm25(docs, terms, k=1000, k1=k1, b=b).toPandas()

    rows = docs.select("doc_id", "text").collect()
    toks = {r.doc_id: r.text.strip().lower().split() for r in rows}
    n_docs = len(toks)
    total = sum(len(t) for t in toks.values())
    avgdl = total / n_docs
    tf = {
        (d, t): sum(1 for w in ws if w == t)
        for d, ws in toks.items()
        for t in terms
    }
    dfreq = {t: sum(1 for d in toks if tf[(d, t)] > 0) for t in terms}

    def score(d, t, idf):
        return idf * (
            (tf[(d, t)] * (k1 + 1.0))
            / (tf[(d, t)] + k1 * ((1.0 - b) + b * (len(toks[d]) / avgdl)))
        )

    for r in got.itertuples():
        idf = ((n_docs - dfreq[r.token]) + 0.5) / (dfreq[r.token] + 0.5)
        assert r.score == score(r.doc_id, r.token, idf), (r.token, r.doc_id)

    # rank parity with classic log-IDF BM25, per term
    import math as m

    for t in terms:
        sub = got[got.token == t]
        ours = list(sub.sort_values("rank").doc_id)
        idf_ln = m.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
        classic = sorted(
            (d for d in toks if tf[(d, t)] > 0),
            key=lambda d: (-score(d, t, idf_ln), d),
        )
        assert ours == classic[: len(ours)]


# ---------------------------------------------------------------------------
# bigram LM
# ---------------------------------------------------------------------------


def test_ngram_lm_exact_counts(spark):
    corpus = [
        ("x y x y z",),
        ("x y q",),
        ("w",),  # single token: no bigram
    ]
    df = spark.createDataFrame(corpus, ["text"])
    out = {
        (r.w1, r.w2): r for r in textops.ngram_lm(df, min_count=2).collect()
    }
    assert set(out) == {("x", "y")}
    r = out[("x", "y")]
    assert r.cnt == 3
    # head_cnt counts ALL bigrams headed by x, including pruned ones
    assert r.head_cnt == 3
    assert r.cond_p == 1.0


def test_ngram_lm_denominator_unpruned(spark):
    """Pruning removes rows but must NOT shrink head_cnt: the survivor's
    conditional stays the true MLE against all continuations."""
    corpus = [("a b a b a c",)]  # (a,b)x2, (b,a)x2, (a,c)x1
    df = spark.createDataFrame(corpus, ["text"])
    out = {(r.w1, r.w2): r for r in textops.ngram_lm(df, min_count=2).collect()}
    assert ("a", "c") not in out  # pruned
    r = out[("a", "b")]
    assert r.cnt == 2 and r.head_cnt == 3  # denominator includes (a,c)
    assert r.cond_p == 2 / 3
    assert out[("b", "a")].cond_p == 1.0


# ---------------------------------------------------------------------------
# triple type check
# ---------------------------------------------------------------------------


def test_triple_type_check_rules(spark):
    """Domain + range semantics on a hand-built fact frame: allowed type
    passes, disallowed fails, unruled pred -> NULL domain_ok and invalid,
    indicator mismatch fails range, no indicator -> NULL range_ok valid."""
    from kgx import linking, resources

    facts = spark.createDataFrame(
        [
            # (conv, turn, name, type, pred, indicator_uri)
            ("c1", 0, "acme", "Company", resources.PRED_REPUTATION, None),
            ("c2", 0, "vec", "Topic", resources.PRED_REPUTATION, None),
            ("c3", 0, "acme", "Company", "unruledPred", None),
            (
                "c4",
                0,
                "acme",
                "Company",
                resources.PRED_PRICE,
                "http://kgx.example.org/onto#hash_ind",
            ),
            (
                "c5",
                0,
                "vec",
                "Topic",
                resources.PRED_VOLATILITY,
                "http://kgx.example.org/onto#hash_ind",  # Company indicator
            ),
        ],
        "conv_id string, turn_idx int, entity_name string, entity_type string,"
        " pred string, indicator_uri string",
    )
    out = {
        r.conv_id: r
        for r in linking.triple_type_check(
            spark, facts, resources.driver_kb()
        ).collect()
    }
    assert out["c1"].domain_ok and out["c1"].range_ok is None and out["c1"].is_valid
    assert out["c2"].domain_ok is False and not out["c2"].is_valid
    assert out["c3"].domain_ok is None and not out["c3"].is_valid
    assert out["c4"].domain_ok and out["c4"].range_ok and out["c4"].is_valid
    # domain allows Topic for volatility, but the Company indicator fails range
    assert out["c5"].domain_ok and out["c5"].range_ok is False
    assert not out["c5"].is_valid


def test_triple_type_check_broadcast_only(spark):
    """The validation stage must add zero shuffles: both dim joins are
    BroadcastHashJoins in the physical plan."""
    from kgx import linking, resources

    facts = spark.createDataFrame(
        [("c1", 0, "acme", "Company", resources.PRED_REPUTATION, None)],
        "conv_id string, turn_idx int, entity_name string, entity_type string,"
        " pred string, indicator_uri string",
    )
    plan = linking.triple_type_check(
        spark, facts, resources.driver_kb()
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2


# ---------------------------------------------------------------------------
# chunking + SCD2
# ---------------------------------------------------------------------------


def test_chunk_documents_reconstructs(spark):
    """Chunks with overlap must tile the document exactly: stitching
    chunk 0 plus every later chunk minus its overlap reproduces the
    original token stream; boundaries follow the stride arithmetic."""
    from kgx import curation

    words = " ".join(f"w{i}" for i in range(70))
    df = spark.createDataFrame([(1, words), (2, "a b c")], ["doc_id", "text"])
    out = curation.chunk_documents(df, chunk_tokens=32, overlap=8)
    rows = sorted(
        [r for r in out.collect() if r.doc_id == 1], key=lambda r: r.chunk_idx
    )
    assert [r.start_tok for r in rows] == [0, 24, 48]
    assert [r.n_chunk_tokens for r in rows] == [32, 32, 22]
    stitched = rows[0].chunk_text.split()
    for r in rows[1:]:
        stitched += r.chunk_text.split()[8:]
    assert stitched == words.split()
    short = [r for r in out.collect() if r.doc_id == 2]
    assert len(short) == 1
    assert short[0].chunk_text == "a b c" and short[0].n_chunk_tokens == 3


def test_chunk_documents_rejects_bad_overlap(spark):
    from kgx import curation

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        curation.chunk_documents(df, chunk_tokens=8, overlap=8)


def test_scd2_intervals_chain(spark):
    """Per key: intervals chain gap-free in order, exactly one current
    row, ties broken deterministically by the tie-break column."""
    import datetime as dt

    from kgx import asof

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, 10, t(1), 1.0),
        (1, 11, t(5), 2.0),
        (1, 12, t(5), 3.0),  # same ts as 11: event_id orders them
        (2, 20, t(2), 9.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    out = asof.scd2_intervals(
        df, key_cols=["user_id"], ts_col="ts", order_tiebreak=["event_id"]
    ).collect()
    by_eid = {r.event_id: r for r in out}
    assert by_eid[10].valid_to == t(5)
    assert by_eid[11].valid_to == t(5)  # superseded by the same-ts row 12
    assert by_eid[12].valid_to is None and by_eid[12].is_current
    assert by_eid[20].valid_to is None and by_eid[20].is_current
    assert sum(1 for r in out if r.user_id == 1 and r.is_current) == 1


def test_chunk_documents_tiling_property(spark):
    """Property (batched through one Spark call): for random doc lengths
    and (chunk, overlap) shapes, chunk boundaries equal an independent
    Python chunker's, chunks tile the doc exactly, and every chunk except
    a lone short doc's is full-size."""
    cases = []
    doc_id = 0
    shapes = [(32, 8), (16, 0), (8, 7), (5, 2)]
    import random

    rng = random.Random(7)
    for chunk, ov in shapes:
        for _ in range(12):
            n = rng.randint(1, 90)
            cases.append((doc_id, chunk, ov, n))
            doc_id += 1
    from kgx import curation

    for chunk, ov in shapes:
        sub = [(d, " ".join(f"t{i}" for i in range(n)))
               for d, c, o, n in cases if (c, o) == (chunk, ov)]
        df = spark.createDataFrame(sub, ["doc_id", "text"])
        got = {}
        for r in curation.chunk_documents(df, chunk_tokens=chunk, overlap=ov).collect():
            got.setdefault(r.doc_id, []).append(r)
        for d, text in sub:
            n = len(text.split())
            stride = chunk - ov
            # independent reference chunker
            starts = [0]
            while starts[-1] + chunk < n:
                starts.append(starts[-1] + stride)
            rows = sorted(got[d], key=lambda r: r.chunk_idx)
            assert [r.start_tok for r in rows] == starts, (d, chunk, ov, n)
            stitched = rows[0].chunk_text.split()
            for r in rows[1:]:
                stitched += r.chunk_text.split()[ov:]
            assert stitched == text.split(), (d, chunk, ov, n)
            for r in rows[:-1]:
                assert r.n_chunk_tokens == chunk


# ---------------------------------------------------------------------------
# multi-turn KG oracle rows
# ---------------------------------------------------------------------------


def test_multiturn_query_params_discriminates_turn_order(spark):
    """The multi-turn fold must make the first-subject-in-turn-order rule
    OBSERVABLE: a min(name) regression (the hazard the single-turn oracle
    cannot see) must change the result. Guards the new oracle row's
    discriminating power, not just its current green-ness."""
    import pyspark.sql.functions as F2

    from kgx import queries as q

    facts, _tf = q._kg_mt_run(spark, "/root/testdata/sf0.001")
    turn_first = facts.groupBy("conv_id").agg(
        F2.min_by("entity_name", F2.struct("turn_idx", "entity_name")).alias("n")
    )
    alpha = facts.groupBy("conv_id").agg(F2.min("entity_name").alias("n"))
    diff = (
        turn_first.alias("t")
        .join(alpha.alias("a"), "conv_id")
        .where(F2.col("t.n") != F2.col("a.n"))
        .count()
    )
    assert diff > 0


def test_multiturn_document_triples_aggregate_across_turns(spark):
    """Multi-turn document triples must aggregate evidence ACROSS turns:
    at least one (conv, entity, pred) group has |score| strictly between
    0 and 1 (impossible on single-turn input, where every group holds
    exactly one fact and dscore is ±1)."""
    from kgx import queries as q

    out = q.kg_multiturn_triples(spark, "/root/testdata/sf0.001")
    frac = out.where(
        (F.abs(F.col("score")) > 0) & (F.abs(F.col("score")) < 1)
    ).count()
    assert frac > 0


def test_kg_memo_caches_only_its_two_frames(spark):
    """Outside any cache scope the kg memo leaves exactly its own two
    frames (facts, turn_feats) cached: the linked-entity frame the facts
    were built from is released once they are materialized."""
    from kgx import queries as q

    sc = spark.sparkContext
    q._KG_CACHE.pop((id(spark), SF_DIR), None)
    before = set(sc._jsc.getPersistentRDDs().keySet())
    q.kg_sentence_triples(spark, SF_DIR).count()
    after = set(sc._jsc.getPersistentRDDs().keySet())
    assert len(after - before) == 2


# ---------------------------------------------------------------------------
# streaming SCD2
# ---------------------------------------------------------------------------


def test_stream_scd2_quiet_gap_split_semantics(spark, tmp_path):
    """Pin the quiet-gap contract on a virtual clock: a key quiet for
    `gap` emits and CLOSES (is_current on its last row); a later change
    re-opens the key and the second emission starts a fresh interval set.
    The stale is_current from window 1 is the documented append-mode
    artifact a downstream MERGE supersedes."""
    import os
    import time as _time

    import pandas as pd

    from kgx.streaming import scd2_stream

    def ev(eid, ts, val, uid=1):
        return {"user_id": uid, "event_id": eid, "ts": pd.Timestamp(ts), "value": val}

    batches = [
        # window 1: two changes close together
        [ev(1, "2025-01-01 10:00:00", 1.0), ev(2, "2025-01-01 10:02:00", 2.0)],
        # advance the watermark past 10:02 + 10min via another key
        [ev(90, "2025-01-01 10:30:00", 0.0, uid=9)],
        [ev(91, "2025-01-01 10:31:00", 0.0, uid=9)],
        # window 2: key 1 re-opens after the quiet gap
        [ev(3, "2025-01-01 11:00:00", 3.0)],
        # drain sentinels push the watermark past 11:00 + 10min
        [ev(92, "2025-01-01 12:00:00", 0.0, uid=9)],
        [ev(93, "2025-01-01 12:30:00", 0.0, uid=9)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i * 60, base + i * 60))

    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = scd2_stream.scd2_events(stream, gap="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("scd2_gap")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r
        for r in spark.sql(
            "SELECT * FROM scd2_gap WHERE user_id = 1"
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    # window 1 chains internally, then closes with a (stale) is_current
    assert got[1].valid_to == got[2].ts and not got[1].is_current
    assert got[2].valid_to is None and got[2].is_current
    # window 2 is a fresh interval set
    assert got[3].valid_to is None and got[3].is_current


def test_stream_scd2_interval_rows_matches_batch(spark):
    """The emission kernel must agree with the batch operator on the same
    rows (shared semantics claim behind the verbatim shared oracle),
    including same-timestamp ties broken by event_id."""
    import pandas as pd

    from kgx import asof
    from kgx.streaming.scd2_stream import _interval_rows

    rows = [
        (1, 10, pd.Timestamp("2024-01-01 00:00:00.000001").to_pydatetime(), 1.0),
        (1, 12, pd.Timestamp("2024-01-01 00:00:05.500001").to_pydatetime(), 2.0),
        (1, 11, pd.Timestamp("2024-01-01 00:00:05.500001").to_pydatetime(), 3.0),
        (1, 13, pd.Timestamp("2024-01-02 00:00:00.999999").to_pydatetime(), 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    batch = {
        r.event_id: r
        for r in asof.scd2_intervals(
            df, key_cols=["user_id"], ts_col="ts", order_tiebreak=["event_id"]
        ).collect()
    }
    import pandas as pd2

    us = lambda t: pd2.Timestamp(t).value // 1_000
    stream = _interval_rows(
        1, [r[1] for r in rows], [us(r[2]) for r in rows], [r[3] for r in rows]
    )
    assert len(stream) == len(batch)
    for rec in stream.itertuples():
        b = batch[rec.event_id]
        assert pd.Timestamp(b.ts) == rec.ts
        bv = pd.Timestamp(b.valid_to) if b.valid_to is not None else pd.NaT
        assert (pd.isna(bv) and pd.isna(rec.valid_to)) or bv == rec.valid_to
        assert b.is_current == rec.is_current


def test_group_cap_uniform_and_additive(spark):
    """group_cap keeps exactly min(cap, |group|) rows per group, and the
    kept set is precisely the cap smallest (hash_rank, id) keys of the
    group — the definition that makes it a uniform without-replacement
    sample, independent of id assignment order."""
    from kgx import curation

    rows = [(i, f"g{i % 3}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = curation.group_cap(df, cap=4).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.source, []).append(r)
    full = {
        r.source: sorted((rr.hash_rank, rr.doc_id) for rr in out if rr.source == r.source)
        for r in out
    }
    all_ranks = {
        g: sorted(
            (r2.hash_rank, r2.doc_id)
            for r2 in curation.group_cap(df, cap=10**9).collect()
            if r2.source == g
        )
        for g in by_g
    }
    for g, kept in by_g.items():
        assert len(kept) == 4
        assert sorted((r.hash_rank, r.doc_id) for r in kept) == all_ranks[g][:4]
    # tiny group: cap larger than the group keeps everything
    small = spark.createDataFrame([(1, "x"), (2, "x")], ["doc_id", "source"])
    assert curation.group_cap(small, cap=5).count() == 2


def test_registry_window_holds_r4_changes():
    """Registry ORDER is evidence policy: the driver verifies the first 50
    rows, so every row NEW or CHANGED in round 4 must sit inside that
    window UNTIL the driver has verified it green — after which it may
    rotate out in favor of staler rows (the round-5 computed policy;
    bounded staleness is pinned by test_round5's invariant test). Guards
    against a changed row escaping the hard verification signal without
    ever having received it."""
    from kgx.queries import REGISTRY
    from scripts.registry_window import latest_green_rounds

    latest, _current = latest_green_rounds()
    window = set(list(REGISTRY)[:50])
    r4_rows = {
        # round-4a/b
        "mm_image_real_dims", "mm_audio_real_meta", "mm_video_real_meta",
        "kg_node_properties", "kg_query_params", "graph_triangles",
        "sketch_cms_heavy_hitters", "sketch_bloom_contamination",
        "text_tfidf_topk", "text_unigram_lik", "kg_entity_carryover",
        "stream_entity_carryover", "ann_pq_topk", "events_funnel",
        # changed late in round 4
        "kg_sentence_triples", "kg_document_triples",
        "kg_phrase_fact_edges", "dedup_exact",
        # round-4c
        "dedup_semantic", "text_dup_substring", "text_bm25",
        "text_ngram_lm", "kg_triple_type_check", "curate_chunk_documents",
        "events_scd2", "stream_events_scd2", "curate_group_cap",
        "kg_multiturn_triples", "kg_multiturn_query_params",
        "text_lm_score", "events_rolling", "curate_temperature_sample",
        "text_bpe_pairs", "events_outliers",
    }
    missing = {
        n for n in r4_rows - window
        if latest.get(n, 0) < 4  # never driver-green since the r4 change
    }
    assert not missing, f"unverified r4 rows outside the window: {sorted(missing)}"


def test_aqe_splits_skewed_join(spark):
    """North-rule evidence for AQE skew-join handling: a join where one
    key holds ~90% of the rows gets its oversized partition SPLIT by AQE
    (the executed plan's SortMergeJoin is marked skew=true), and the
    result is unchanged by the split. Thresholds are lowered to make the
    mechanism observable at test scale; the session enables skewJoin
    globally (kgx/session.py)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.pmod(F.col("id"), F.lit(997)))
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("payload"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("v")
        )
        j = left.join(right, "k")
        rows = j.collect()  # finalizes THIS frame's adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert len(rows) == 400_000  # splitting never changes the result
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lm_score_hand_case(spark):
    """Exact LM-apply semantics on a hand corpus: known conditionals,
    OOV bigrams contribute 0 and are counted, single-token docs score
    NULL with zero bigrams."""
    corpus = [
        (1, "a b a b"),   # bigrams: (a,b) x2, (b,a) x1
        (2, "a b z"),     # (a,b), (b,z)
        (3, "q"),         # no bigrams
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    lm = textops.ngram_lm(df, min_count=2)  # keeps only (a,b): cnt=3
    out = {r.doc_id: r for r in textops.lm_score(df, lm).collect()}
    # corpus-wide: head a -> 3 bigrams ((a,b) x3); cond_p(a,b) = 3/3 = 1.0
    assert out[1].n_bigrams == 3 and out[1].n_oov == 1  # (b,a) pruned -> OOV
    assert out[1].lm_score == (1.0 + 0.0 + 1.0) / 3
    assert out[2].n_bigrams == 2 and out[2].n_oov == 1
    assert out[2].lm_score == (1.0 + 0.0) / 2
    assert out[3].n_bigrams == 0 and out[3].lm_score is None


def test_stream_scd2_checkpoint_recovery(spark, tmp_path):
    """Kill the SCD2 stream BEFORE any key has emitted (its buffered rows
    live only in the state store), restart from the checkpoint, drain:
    the recovered state must still produce the exact batch-equivalent
    interval set — state-store durability, not just sink idempotency."""
    import os
    import time as _time

    import pandas as pd

    from kgx import asof
    from kgx.streaming import scd2_stream

    def ev(eid, ts, val, uid):
        return {"user_id": uid, "event_id": eid, "ts": pd.Timestamp(ts), "value": val}

    data = [
        ev(1, "2025-01-01 10:00:00", 1.0, 1),
        ev(2, "2025-01-01 10:30:00", 2.0, 1),
        ev(3, "2025-01-01 10:10:00", 3.0, 2),
        ev(4, "2025-01-01 11:00:00", 4.0, 2),
    ]
    batches = [
        [data[1], data[2]],  # out of order: later event first
        [data[0], data[3]],
        [ev(90, "2025-01-02 00:00:00", 0.0, 9)],  # sentinels drain
        [ev(91, "2025-01-03 00:00:00", 0.0, 9)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i * 60, base + i * 60))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start(available_now: bool):
        stream = (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        rows = scd2_stream.scd2_events(stream, gap="10 minutes")
        w = (
            rows.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    # phase 1: stop after the first batch COMMITS but before anything emits
    q = start(available_now=False)
    commits = os.path.join(ckpt, "commits")
    for _ in range(300):
        if os.path.isdir(commits) and len(
            [f for f in os.listdir(commits) if not f.startswith(".")]
        ) >= 1:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    # phase 2: restart from the same checkpoint, drain everything
    q2 = start(available_now=True)
    q2.awaitTermination(120)

    got = spark.read.parquet(out_dir).where(F.col("user_id") < 9)
    ev_df = spark.createDataFrame(
        [(d["user_id"], d["event_id"], d["ts"].to_pydatetime(), d["value"]) for d in data],
        "user_id long, event_id long, ts timestamp, value double",
    )
    want = asof.scd2_intervals(
        ev_df, key_cols=["user_id"], ts_col="ts", order_tiebreak=["event_id"]
    )
    g = sorted(map(tuple, got.toPandas().astype(str).values.tolist()))
    w2 = sorted(map(tuple, want.toPandas()[got.columns].astype(str).values.tolist()))
    assert g == w2


def test_stream_scd2_preserves_null_values(spark, tmp_path):
    """A NULL change value must stay SQL NULL through state and emission
    (the pandas batch delivers it as NaN; state+emit must not launder it
    into a double NaN) — batch parity for nullable value columns."""
    import os
    import time as _time

    import pandas as pd

    from kgx.streaming import scd2_stream

    batches = [
        pd.DataFrame(
            {
                "user_id": [1, 1],
                "event_id": [1, 2],
                "ts": pd.to_datetime(
                    ["2025-01-01 10:00:00", "2025-01-01 10:05:00"]
                ).astype("datetime64[us]"),
                "value": [1.5, None],
            }
        ),
        pd.DataFrame(
            {
                "user_id": [9],
                "event_id": [90],
                "ts": pd.to_datetime(["2025-01-02 00:00:00"]).astype("datetime64[us]"),
                "value": [0.0],
            }
        ),
        pd.DataFrame(
            {
                "user_id": [9],
                "event_id": [91],
                "ts": pd.to_datetime(["2025-01-03 00:00:00"]).astype("datetime64[us]"),
                "value": [0.0],
            }
        ),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _time.time() - 3600
    for i, pdf in enumerate(batches):
        path = f"{src}/b{i}.parquet"
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i * 60, base + i * 60))
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = scd2_stream.scd2_events(stream, gap="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("scd2_nulls")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_id: r
        for r in spark.sql("SELECT * FROM scd2_nulls WHERE user_id = 1").collect()
    }
    assert got[1].value == 1.5
    assert got[2].value is None  # NULL, not NaN
    assert got[2].is_current


def test_events_rolling_trailing_window(spark):
    """RANGE-frame semantics on a hand case: the trailing hour includes
    events exactly at the boundary (RANGE is value-inclusive), excludes
    older ones, and same-second peers see each other."""
    import datetime as dt

    from kgx import queries as q

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(
        minutes=m, seconds=s
    )
    rows = [
        (1, 1, t(0), 5.0),
        (1, 2, t(30), 1.0),
        (1, 3, t(60), 9.0),   # exactly 3600s after e1: still in frame
        (1, 4, t(60, 1), 2.0),  # 3601s after e1: e1 now out
        (2, 5, t(0), 7.0),
        (2, 6, t(0), 3.0),    # same second: RANGE peers include each other
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    import pyspark.sql.functions as F2

    w = (
        __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy("user_id")
        .orderBy(F2.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    out = {
        r.event_id: r
        for r in df.select(
            "user_id", "event_id",
            F2.count(F2.lit(1)).over(w).alias("n"),
            F2.min("value").over(w).alias("mn"),
            F2.max("value").over(w).alias("mx"),
        ).collect()
    }
    assert out[3].n == 3 and out[3].mn == 1.0 and out[3].mx == 9.0
    assert out[4].n == 3 and out[4].mn == 1.0 and out[4].mx == 9.0  # e1 aged out
    assert out[5].n == 2 and out[6].n == 2  # same-second peers
    assert out[5].mn == 3.0 and out[5].mx == 7.0


def test_temperature_sample_flattens_toward_uniform(spark):
    """alpha=0.5 semantics: the smallest stratum keeps everything, and a
    stratum of size n keeps ~sqrt(n_min*n) docs (geometric flattening);
    kept sets are the deterministic hash buckets below the derived
    threshold — recomputed independently here."""
    import hashlib
    import math

    from kgx import curation

    rows = [(i, "big" if i < 400 else "small") for i in range(450)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = curation.temperature_sample(df, "lang").collect()
    by = {}
    for r in out:
        by.setdefault(r.lang, set()).add(r.doc_id)
    # small stratum (50 docs): keep_prob = 1 -> all kept
    assert len(by["small"]) == 50
    # big stratum: threshold = floor(sqrt(50/400) * 1e8)
    thresh = math.floor(math.sqrt(50 / 400) * 100_000_000.0)
    expect = set()
    for i in range(400):
        h = int(hashlib.md5(f"big:{i}".encode()).hexdigest()[:15], 16) % 100_000_000
        if h < thresh:
            expect.add(i)
    assert by["big"] == expect
    # expected kept count ~ 400 * 0.3535 ~ sqrt(50*400) = 141; hash
    # realization must be in a sane band around it
    assert abs(len(by["big"]) - math.sqrt(50 * 400)) < 40


def test_temperature_sample_excludes_null_strata(spark):
    """A NULL stratum must not poison n_min (which would deflate every
    real stratum's keep rate) and NULL-stratum docs are excluded from
    the output — the documented contract."""
    from kgx import curation

    rows = [(i, "big") for i in range(100)] + [(100 + i, "small") for i in range(20)]
    rows += [(200 + i, None) for i in range(3)]  # 3-doc NULL group
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = curation.temperature_sample(df, "lang").collect()
    assert all(r.lang is not None for r in out)
    # n_min must be 20 (the smallest REAL stratum), not 3
    assert {r.n_min for r in out} == {20}
    assert sum(1 for r in out if r.lang == "small") == 20  # keeps everything


def _py_bpe_train(word_freq: dict, n_merges: int):
    """Reference BPE trainer (pure Python, greedy leftmost merges, most
    frequent pair first, lexicographic tie-break)."""
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freq.items():
            syms = list(w)
            for a, b in merges:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(top[0])
    return merges


def test_bpe_train_matches_reference(spark, docs):
    """Differential test: 5 merges learned on the real corpus vocabulary
    equal a from-scratch pure-Python BPE trainer's (same greedy fold,
    same tie-break) — the whole train loop, not just one iteration."""
    from kgx import textops as T

    wf_df = (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    got = T.bpe_train(wf_df, 5)
    wf = {r.word: r.freq for r in wf_df.collect()}
    assert got == _py_bpe_train(wf, 5)


def test_bpe_apply_merges_greedy_edges(spark):
    """Greedy leftmost semantics: [a,a,a] under (a,a) -> [aa, a]; chained
    merges compose in order; merged symbols do not re-trigger on their
    parts."""
    from kgx import textops as T

    df = spark.createDataFrame(
        [("aaa",), ("abab",), ("aab",)], ["word"]
    )
    out = {
        r.word: r.s
        for r in df.select(
            "word",
            T._apply_merges(
                F.split(F.col("word"), ""), [("a", "a"), ("aa", "b")]
            ).alias("s"),
        ).collect()
    }
    assert out["aaa"] == ["aa", "a"]
    assert out["aab"] == ["aab"]  # (a,a) then (aa,b)
    assert out["abab"] == ["a", "b", "a", "b"]  # no (a,b) merge learned


def test_events_outliers_integer_cut(spark):
    """k = n div 100 exactly: groups under 100 rows flag nothing; a
    200-row group flags exactly its top-2 values with deterministic
    event_id tie-break."""
    from kgx import queries as q

    rows = [("big", i, float(i % 50)) for i in range(200)]
    rows += [("small", 1000 + i, float(i)) for i in range(99)]
    df = spark.createDataFrame(rows, "event_type string, event_id long, value double")
    import tempfile

    d = tempfile.mkdtemp(prefix="kgx_outl_")
    df.select(
        F.col("event_id"), F.lit(None).cast("timestamp").alias("ts"),
        F.lit(0).cast("long").alias("user_id"), "event_type", "value",
        F.lit(None).cast("string").alias("props"),
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = q.events_outliers(spark, d).collect()
    assert all(r.event_type == "big" for r in out)  # small group: k = 0
    assert len(out) == 2
    # top value 49.0 appears 4x (ids 49, 99, 149, 199): smallest two ids win
    assert sorted(r.event_id for r in out) == [49, 99]
