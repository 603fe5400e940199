"""Round-5d tests: final operator batch — deterministic label
propagation (mode rule vs min rule), DSIR importance weights, PMI
collocations."""

from __future__ import annotations

import pyspark.sql.functions as F

from kgx import cache, curation, graph, textops


# ------------------------------------------- label propagation (LPA) ----


def _sym(spark, und):
    return spark.createDataFrame(
        und + [(b, a) for a, b in und], "src string, dst string"
    )


def test_lpa_mode_rule_diverges_from_min_propagation(spark):
    # Triangle a-b-c with pendant z and a second triangle x1-x2-y hung
    # off z. Round 1 degenerates to min-NEIGHBOR id (all counts tie at
    # 1): a->'b', b->'a', c->'a', z->'a', x1->'x2', x2->'x1', y->'x1'.
    # Round 2 exercises the true MODE rule — x1's neighbors then carry
    # {z:'a', x2:'x1', y:'x1'}, so count 2 keeps 'x1' even though
    # 'a' < 'x1': the divergence that separates LPA from
    # connected-components min-propagation.
    und = [
        ("a", "b"), ("a", "c"), ("b", "c"),
        ("z", "a"), ("z", "x1"), ("z", "x2"),
        ("x1", "x2"), ("x1", "y"), ("x2", "y"),
    ]
    with cache.scope():
        out = graph.label_propagation(_sym(spark, und), rounds=2)
        got = {r.node: r.community for r in out.collect()}
    # round 2: a sees {b:'a', c:'a', z:'a'} -> 'a'; b sees {a:'b', c:'a'}
    # tie -> 'a'; c sees {a:'b', b:'a'} tie -> 'a'; y sees {x1:'x2',
    # x2:'x1'} tie -> 'x1'.
    assert got["b"] == "a" and got["c"] == "a" and got["a"] == "a"
    assert got["y"] == "x1"
    # mode rule visible on x1: neighbors at r1 = {z:'a', x2:'x1', y:'x1'}
    # -> 'x1' by COUNT (2 > 1), even though 'a' < 'x1' — min-propagation
    # (cc semantics) would have said 'a'.
    assert got["x1"] == "x1"


def test_lpa_all_nodes_labeled_exactly_once(spark):
    und = [("a", "b"), ("b", "c"), ("d", "e")]
    with cache.scope():
        out = graph.label_propagation(_sym(spark, und), rounds=2)
        rows = out.collect()
    assert len(rows) == 5
    assert len({r.node for r in rows}) == 5


# ------------------------------------------------------ DSIR weights ----


def test_dsir_weights_rank_target_like_docs_higher(spark):
    # target docs speak "alpha beta", raw-only docs speak "gamma delta";
    # a held-out doc written in target language must outscore one written
    # in raw-only language.
    rows = [
        (1, "alpha beta alpha beta", True),
        (2, "alpha beta beta alpha", True),
        (3, "gamma delta gamma delta", False),
        (4, "gamma delta delta gamma", False),
        (5, "alpha beta alpha beta", False),   # target-like, in raw pool
        (6, "gamma delta gamma delta", False),  # raw-like
    ]
    docs = spark.createDataFrame(
        rows, "doc_id int, text string, is_target boolean"
    )
    with cache.scope():
        out = curation.dsir_weights(docs)
        got = {r.doc_id: r.dsir_weight for r in out.collect()}
    assert got[5] > got[6]
    # weights are positive and the target-language docs themselves score
    # highest of all
    assert min(got.values()) > 0
    assert got[1] > got[6]


def test_dsir_quantization_contract_is_exact_integers(spark):
    # score_num_q must be a BIGINT sum of integral per-token terms:
    # recompute one doc by hand. Doc 1 = two tokens, both in bucket(b) of
    # 'w'; single-token vocab so c_t = c_r = count of 'w' rows.
    docs = spark.createDataFrame(
        [(1, "w w", True), (2, "w", False)],
        "doc_id int, text string, is_target boolean",
    )
    with cache.scope():
        out = curation.dsir_weights(docs)
        rows = {r.doc_id: r for r in out.collect()}
    # corpus: c_r('w')=3, c_t('w')=2 -> per-token term with tf=2:
    # (2 * 3 * 1_000_000) div 4 = 1_500_000
    assert rows[1].score_num_q == 1_500_000
    assert rows[1].n_tokens == 2
    # doc 2: (1 * 3 * 1e6) div 4 = 750_000
    assert rows[2].score_num_q == 750_000


# --------------------------------------------------- PMI collocations ----


def test_pmi_lift_ranks_collocation_over_chance_pair(spark):
    # "new york" always adjacent; "the" pairs with everything — the
    # collocation's lift must exceed the promiscuous pair's.
    docs = spark.createDataFrame(
        [
            (1, "the new york times the new york post"),
            (2, "the new york subway the big apple"),
            (3, "the cat saw the dog near the new york park"),
        ],
        "doc_id int, text string",
    )
    with cache.scope():
        out = textops.pmi_collocations(docs, min_count=2)
        got = {(r.w1, r.w2): r for r in out.collect()}
    assert ("new", "york") in got
    ny = got[("new", "york")]
    # exact margins: 'new' appears 4x, 'york' 4x, pair 4x
    assert ny.pair_count == 4 and ny.c1 == 4 and ny.c2 == 4
    the_new = got[("the", "new")]
    assert ny.pmi_lift > the_new.pmi_lift


def test_pmi_min_count_filters_rare_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "c d")], "doc_id int, text string"
    )
    with cache.scope():
        out = textops.pmi_collocations(docs, min_count=3)
        got = {(r.w1, r.w2) for r in out.collect()}
    assert ("a", "b") in got
    assert ("c", "d") not in got
