"""Property tests (SURVEY.md §5 item 6): scoring algebra bounds,
row-order/permutation invariance, deterministic re-runs, and job resume."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from kgx import aggregate, assemble, job, mentions, relations, resources, synth


def _triples(spark, pdf):
    kb = resources.default_kb()
    turns = assemble.assemble_turns(spark.createDataFrame(pdf))
    wm = mentions.detect_mentions(turns, kb)
    facts, tf = relations.sentence_facts(wm, kb)
    t = aggregate.all_triples(facts, tf)
    return sorted(
        map(
            tuple,
            t.withColumn("score", F.col("score").cast("string"))
            .toPandas()
            .astype(str)
            .values.tolist(),
        )
    )


def test_row_order_invariance(spark):
    """Input row order must not affect the triple set (shuffle order never
    leaks: W1 sort_array + groupBy are order-insensitive)."""
    pdf = synth.make_transcripts(n_convs=15, turns_per_conv=8, seed=33, oversize_every=0)
    shuffled = pdf.sample(frac=1.0, random_state=99).reset_index(drop=True)
    assert _triples(spark, pdf) == _triples(spark, shuffled)


def test_rerun_determinism(spark):
    pdf = synth.make_transcripts(n_convs=10, turns_per_conv=6, seed=44, oversize_every=0)
    assert _triples(spark, pdf) == _triples(spark, pdf)


@given(pos=st.integers(0, 50), neg=st.integers(0, 50))
@settings(max_examples=50, deadline=None)
def test_score_algebra_bounds(pos, neg):
    """score ∈ [-1, 1]; sign(score) consistent with counts; NaN guard."""
    if pos + neg == 0:
        return  # guarded row never emitted
    score = (pos - neg) / (pos + neg)
    assert -1.0 <= score <= 1.0
    if pos > neg:
        assert score > 0
    elif neg > pos:
        assert score < 0
    else:
        assert score == 0
    assert resources.dom_label(abs(score)) in {
        "no amount", "small amount", "moderate amount", "large amount", "maximum amount",
    }


def test_job_resume_skips_completed_stages(spark, tmp_path):
    pdf = synth.make_transcripts(n_convs=8, turns_per_conv=5, seed=55, oversize_every=0)
    inp = str(tmp_path / "in.parquet")
    pdf.to_parquet(inp, index=False)
    out = str(tmp_path / "kg")

    transcripts = spark.read.parquet(inp)
    spark.catalog.clearCache()
    paths = job.run_pipeline(spark, transcripts, out, resume=True)
    # every cache the run made was released by its stage's scope
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    first = spark.read.parquet(paths["triples"]).count()
    extract_mtime = os.path.getmtime(os.path.join(paths["facts"], "_KGX_STAGE_OK"))

    # full re-run: everything skipped, outputs identical, extract untouched
    paths2 = job.run_pipeline(spark, transcripts, out, resume=True)
    assert spark.read.parquet(paths2["triples"]).count() == first
    assert os.path.getmtime(os.path.join(paths["facts"], "_KGX_STAGE_OK")) == extract_mtime

    # simulate kill after extract: downstream marker removed → that stage
    # and every later one recompute; extract stays untouched
    nodes_mtime = os.path.getmtime(os.path.join(paths["nodes"], "_KGX_STAGE_OK"))
    os.remove(os.path.join(paths["triples"], "_KGX_STAGE_OK"))
    job.run_pipeline(spark, transcripts, out, resume=True)
    assert spark.read.parquet(paths["triples"]).count() == first
    assert os.path.getmtime(os.path.join(paths["facts"], "_KGX_STAGE_OK")) == extract_mtime
    assert os.path.getmtime(os.path.join(paths["nodes"], "_KGX_STAGE_OK")) != nodes_mtime

    # losing ANY output of a stage reruns that whole stage: with results/
    # gone, triples reruns and restores it; extract stays untouched
    import shutil

    triples_marker = os.path.join(paths["triples"], "_KGX_STAGE_OK")
    triples_mtime = os.path.getmtime(triples_marker)
    shutil.rmtree(paths["results"])
    job.run_pipeline(spark, transcripts, out, resume=True)
    assert os.path.exists(os.path.join(paths["results"], "_KGX_STAGE_OK"))
    assert os.path.getmtime(triples_marker) != triples_mtime
    assert spark.read.parquet(paths["triples"]).count() == first
    assert os.path.getmtime(os.path.join(paths["facts"], "_KGX_STAGE_OK")) == extract_mtime

    # a different input into the same out dir reruns extract (and so
    # everything): no triple of the old input survives
    sub = pdf[pdf["conv_id"].isin(pdf["conv_id"].unique()[:4])]
    inp4 = str(tmp_path / "in4.parquet")
    sub.to_parquet(inp4, index=False)
    job.run_pipeline(spark, spark.read.parquet(inp4), out, resume=True)
    assert os.path.getmtime(os.path.join(paths["facts"], "_KGX_STAGE_OK")) != extract_mtime
    t4 = spark.read.parquet(paths["triples"])
    assert t4.count() != first
    assert {r.conv_id for r in t4.select("conv_id").distinct().collect()} <= set(
        sub["conv_id"]
    )


# ---------------------------------------------------------------------------
# late (slim) dedup vs early (full-text) dedup
# ---------------------------------------------------------------------------

def _triples_set(t):
    import pyspark.sql.functions as F

    return sorted(
        map(
            tuple,
            t.withColumn("score", F.col("score").cast("string"))
            .toPandas()
            .astype(str)
            .values.tolist(),
        )
    )


def test_late_dedup_matches_early_on_exact_duplicates(spark):
    """admit_turns + slim dedup ≡ assemble_turns (early full-text dedup)
    when duplicate (conv_id, turn_idx) rows carry identical text."""
    pdf = synth.make_transcripts(n_convs=12, turns_per_conv=4, seed=77, oversize_every=0)
    dup = pdf.sample(n=10, random_state=1)  # exact duplicate rows
    import pandas as pd

    noisy = pd.concat([pdf, dup], ignore_index=True)
    kb = resources.default_kb()

    early = spark.createDataFrame(noisy)
    t_early = aggregate.all_triples(
        *relations.extract_facts(assemble.assemble_turns(early), kb)
    )
    late = assemble.admit_turns(spark.createDataFrame(noisy))
    t_late = aggregate.all_triples(*relations.extract_facts(late, kb))
    assert _triples_set(t_early) == _triples_set(t_late)


def test_late_dedup_deterministic_on_conflicting_duplicates(spark):
    """Conflicting duplicate texts resolve to the min-txt_h winner: the
    output is identical across runs and row orders (the parallel,
    order-independent analogue of the reference's first-writer-wins)."""
    import pandas as pd

    pdf = synth.make_transcripts(n_convs=10, turns_per_conv=3, seed=78, oversize_every=0)
    conflict = pdf.sample(n=6, random_state=2).copy()
    conflict["text"] = conflict["text"] + " big big fast"
    noisy = pd.concat([pdf, conflict], ignore_index=True)
    shuffled = noisy.sample(frac=1.0, random_state=3).reset_index(drop=True)
    kb = resources.default_kb()

    def run(frame):
        turns = assemble.admit_turns(spark.createDataFrame(frame))
        return _triples_set(aggregate.all_triples(*relations.extract_facts(turns, kb)))

    r1, r2 = run(noisy), run(shuffled)
    assert r1 == r2
    # exactly one winner per (conv_id, turn_idx): no duplicated sentence rows
    from collections import Counter

    turns = assemble.admit_turns(spark.createDataFrame(noisy))
    tf = relations.extract_facts(turns, kb)[1]
    keys = [(r["conv_id"], r["turn_idx"]) for r in tf.select("conv_id", "turn_idx").collect()]
    assert max(Counter(keys).values()) == 1


def test_mention_evidence_dedup_consistent_with_facts(spark):
    """The evidence path applies the same min-txt_h winner rule, so spans
    come from the same text the facts were computed from."""
    import pandas as pd

    from kgx import materialize, mentions as mentions_mod

    pdf = synth.make_transcripts(n_convs=6, turns_per_conv=3, seed=79, oversize_every=0)
    conflict = pdf.head(4).copy()
    conflict["text"] = "zzz " + conflict["text"]
    noisy = pd.concat([pdf, conflict], ignore_index=True)

    kb = resources.default_kb()
    turns = assemble.admit_turns(spark.createDataFrame(noisy))
    ev = materialize.mention_evidence(mentions_mod.detect_mentions(turns, kb))
    # winner text hash per (conv, turn) from the dedup rule
    import pyspark.sql.functions as F

    winners = (
        turns.groupBy("conv_id", "turn_idx")
        .agg(F.min_by("text", "txt_h").alias("wtext"))
        .collect()
    )
    wmap = {(r["conv_id"], r["turn_idx"]): r["wtext"] for r in winners}
    for r in ev.collect():
        wt = wmap[(r["conv_id"], r["turn_idx"])]
        assert wt[r["begin"]:r["end"]].lower() == r["text"].lower()


def test_job_outputs_follow_duplicate_turn_winner(spark, tmp_path):
    """run_pipeline resolves a conflicting duplicate turn once, so every
    extract output comes from the min-txt_h winner text: no loser span
    reaches phrase_edges and no loser entity reaches carryover."""
    import datetime

    winner, loser = "Globex outlook loss", "Initech price surge"
    texts = [
        (0, "Acme profit record"),
        (1, winner),
        (1, loser),
        (2, "it looks weak"),
        (3, "Hooli growth"),
    ]
    ts = datetime.datetime(2025, 3, 1, 12, 0)
    tr = spark.createDataFrame(
        [("c0", i, "user", t, None, ts) for i, t in texts],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    hashes = {
        r["text"]: r["h"] for r in tr.select("text", F.xxhash64("text").alias("h")).collect()
    }
    assert hashes[winner] < hashes[loser]  # premise: the winner is min txt_h
    kept = {i: t for i, t in texts if t != loser}

    paths = job.run_pipeline(spark, tr, str(tmp_path / "kg"))

    def rows(name):
        return spark.read.parquet(paths[name]).collect()

    facts = rows("facts")
    assert {r["entity_name"] for r in facts if r["turn_idx"] == 1} == {"Globex"}
    assert all("Initech" not in (r["entity_name"] or "") for r in facts)

    for r in rows("mentions"):
        assert kept[r["turn_idx"]][r["begin"]:r["end"]] == r["text"]
    turn1 = {(r["begin"], r["end"]) for r in rows("mentions") if r["turn_idx"] == 1}
    assert turn1 == {(0, 6), (7, 14), (15, 19)}

    edges = {(r["role"], r["begin"], r["end"]) for r in rows("phrase_edges") if r["turn_idx"] == 1}
    assert ("orientation", 15, 19) in edges
    assert {(b, e) for _role, b, e in edges} <= turn1

    carry = {(r["turn_idx"], r["entity"]) for r in rows("carryover")}
    assert carry == {(0, "acme"), (1, "globex"), (2, "globex"), (3, "hooli")}

    (meta,) = rows("doc_meta")
    assert meta["n_turns"] == 4
    assert meta["n_chars"] == sum(len(t) for t in kept.values())
    assert meta["n_words"] == sum(len(t.split(" ")) for t in kept.values())


def test_salted_rollup_matches_unsalted(spark):
    """--salt path: two-phase salted document rollup produces identical
    triples to the direct groupBy (same totals, same first-wins subject)."""
    pdf = synth.make_transcripts(n_convs=20, turns_per_conv=6, seed=91, oversize_every=0)
    kb = resources.default_kb()
    turns = assemble.admit_turns(spark.createDataFrame(pdf))
    facts, tf = relations.extract_facts(turns, kb)
    facts = facts.persist()
    plain = _triples_set(aggregate.document_triples(facts, salt_buckets=None))
    salted = _triples_set(aggregate.document_triples(facts, salt_buckets=7))
    facts.unpersist()
    assert plain == salted
