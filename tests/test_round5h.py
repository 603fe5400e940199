"""Round-5h tests: k-truss peeling, landmark harmonic closeness,
chi-square cells, U-shaped multi-touch attribution."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from kgx import cache, graph, stats


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(u, v) for u, v in pairs], "u string, v string"
    )


# ---------------------------------------------------------------------------
# ktruss
# ---------------------------------------------------------------------------

def test_ktruss_peels_pendant_and_keeps_clique(spark):
    # K4 on a-b-c-d (every edge in 2 triangles) plus pendant edge d-e
    # (0 triangles) and a tail triangle d-f-g (each edge in 1 triangle).
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    extra = [("d", "e"), ("d", "f"), ("d", "g"), ("f", "g")]
    with cache.scope():
        out = graph.ktruss(_edges(spark, k4 + extra), k=4, rounds=2)
        rows = {(r.u, r.v): r.support for r in out.collect()}
    # 4-truss (support >= 2): exactly the K4 edges survive, each with
    # support 2 counted in the round-1 subgraph (K4 + tail alone).
    assert set(rows) == set(k4)
    assert all(s == 2 for s in rows.values())


def test_ktruss_k3_keeps_all_triangle_edges(spark):
    tri = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]
    with cache.scope():
        out = graph.ktruss(_edges(spark, tri), k=3, rounds=2)
        rows = {(r.u, r.v): r.support for r in out.collect()}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert all(s == 1 for s in rows.values())


def test_ktruss_rejects_k_below_three(spark):
    # at k <= 2 the triangle-free edge c-d must survive, but peeling only
    # keeps edges found in the support table, so the call is refused
    import pytest

    tri = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]
    for k in (0, 1, 2):
        with pytest.raises(ValueError, match="k >= 3"):
            graph.ktruss(_edges(spark, tri), k=k)


def test_ktruss_cascade_needs_second_round(spark):
    # chain of triangles: t1 = a-b-c, t2 = b-c-d, t3 = c-d-e. Edge c-d sits
    # in t2+t3 (support 2), b-c in t1+t2 (2), others support 1. k=4 round 1
    # keeps {b-c, c-d}; round 2 finds no triangles -> empty (the cascade).
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
             ("c", "e"), ("d", "e")]
    with cache.scope():
        r1 = graph.ktruss(_edges(spark, pairs), k=4, rounds=1)
        kept1 = {(r.u, r.v) for r in r1.collect()}
    assert kept1 == {("b", "c"), ("c", "d")}
    with cache.scope():
        r2 = graph.ktruss(_edges(spark, pairs), k=4, rounds=2)
        kept2 = {(r.u, r.v) for r in r2.collect()}
    assert kept2 == set()


def test_ktruss_survivors_subset_with_min_support(spark):
    import itertools
    import random

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(12)]
    pairs = sorted(p for p in itertools.combinations(nodes, 2)
                   if rng.random() < 0.45)
    base = _edges(spark, pairs)
    with cache.scope():
        out = graph.ktruss(base, k=5, rounds=3)
        rows = {(r.u, r.v): r.support for r in out.collect()}
    assert set(rows) <= set(pairs)
    assert all(s >= 3 for s in rows.values())


# ---------------------------------------------------------------------------
# harmonic closeness
# ---------------------------------------------------------------------------

def test_harmonic_closeness_path_graph(spark):
    # path a - b - c - d; symmetric edge list; 1 landmark = highest degree
    # (b and c tie at deg 2 -> id-asc picks b).
    und = []
    for u, v in [("a", "b"), ("b", "c"), ("c", "d")]:
        und += [(u, v), (v, u)]
    edges = spark.createDataFrame(und, "src string, dst string")
    with cache.scope():
        out = graph.harmonic_closeness(edges, n_landmarks=1, max_depth=3)
        rows = {r.node: (r.n_reached, r.harmonic_scaled, r.harmonic) for r in out.collect()}
    # distances from landmark b: a=1, c=1, d=2 (b's own 0 row excluded)
    assert rows == {
        "a": (1, 10**12, 1.0),
        "c": (1, 10**12, 1.0),
        "d": (1, 500000000000, 0.5),
    }


def test_harmonic_closeness_sums_over_landmarks(spark):
    # triangle a-b-c plus spoke c-d: 2 landmarks (deg: c=3 > a=b=2, then a)
    und = []
    for u, v in [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]:
        und += [(u, v), (v, u)]
    edges = spark.createDataFrame(und, "src string, dst string")
    with cache.scope():
        out = graph.harmonic_closeness(edges, n_landmarks=2, max_depth=3)
        rows = {r.node: (r.n_reached, r.harmonic_scaled) for r in out.collect()}
    # landmarks {c, a}: b is dist 1 from both -> 2e12; d dist 1 from c,
    # dist 2 from a -> 1.5e12; a dist 1 from c (own row excluded);
    # c dist 1 from a.
    assert rows == {
        "b": (2, 2 * 10**12),
        "d": (2, 1500000000000),
        "a": (1, 10**12),
        "c": (1, 10**12),
    }


# ---------------------------------------------------------------------------
# chi2 cells
# ---------------------------------------------------------------------------

def _ev(spark, rows):
    data = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
         uid, et, val, "{}")
        for i, (uid, et, val) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )


def test_chi2_independent_table_zero_contrib(spark):
    # perfectly independent 2x2: contribs are exactly 0.0
    rows = []
    for et in ("x", "y"):
        rows += [(1, et, 5.0)] * 4 + [(1, et, 50.0)] * 6
    out = stats.chi2_cells(_ev(spark, rows), "event_type", "value", (15.0,))
    cells = out.collect()
    assert len(cells) == 4
    assert all(c.contrib == 0.0 for c in cells)
    assert all(c.n_total == 20 for c in cells)


def test_chi2_hand_computed_cell(spark):
    # 2x2 table: x:(3 low, 1 high), y:(1 low, 3 high); N=8, totals 4/4
    rows = ([(1, "x", 1.0)] * 3 + [(1, "x", 99.0)]
            + [(1, "y", 1.0)] + [(1, "y", 99.0)] * 3)
    out = stats.chi2_cells(_ev(spark, rows), "event_type", "value", (15.0,))
    cells = {(c.event_type, c.band): c for c in out.collect()}
    c = cells[("x", "b0")]
    assert (c.observed, c.row_total, c.col_total, c.n_total) == (3, 4, 4, 8)
    assert c.expected == 2.0
    # d = 3*8 - 4*4 = 8; contrib = 64 / (4*4*8) = 0.5 for every cell
    assert all(v.contrib == 0.5 for v in cells.values())
    # chi2 = 2.0 for this table
    assert sum(v.contrib for v in cells.values()) == 2.0


def test_chi2_band_ladder_edges(spark):
    # values exactly ON a threshold fall in the upper band (strict <)
    rows = [(1, "x", 15.0), (1, "x", 14.999), (1, "y", 35.0), (1, "y", 34.999)]
    out = stats.chi2_cells(
        _ev(spark, rows), "event_type", "value", (15.0, 35.0, 70.0)
    )
    got = {(c.event_type, c.band, c.observed) for c in out.collect()}
    assert ("x", "b0", 1) in got and ("x", "b1", 1) in got
    assert ("y", "b1", 1) in got and ("y", "b2", 1) in got


def test_chi2_null_value_joins_no_cell(spark):
    # a NULL value has no band: it must not land in the top one
    rows = [(1, "x", 1.0), (1, "x", None), (1, "y", 99.0)]
    out = stats.chi2_cells(_ev(spark, rows), "event_type", "value", (15.0,))
    got = {(c.event_type, c.band): (c.observed, c.n_total) for c in out.collect()}
    assert got == {("x", "b0"): (1, 2), ("y", "b1"): (1, 2)}


def test_chi2_large_table_does_not_overflow(spark):
    # one cell with r = c = N = 2.2M: r*c*N > 2^63 overflowed BIGINT
    n = 2_200_000
    ev = spark.range(n).select(
        F.lit("x").alias("event_type"), F.lit(1.0).alias("value")
    )
    (c,) = stats.chi2_cells(ev, "event_type", "value", (15.0,)).collect()
    assert (c.observed, c.row_total, c.col_total, c.n_total) == (n, n, n, n)
    assert c.expected == float(n)
    assert c.contrib == 0.0


# ---------------------------------------------------------------------------
# position attribution
# ---------------------------------------------------------------------------

def _attr_events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )


def _ts(minute):
    return datetime.datetime(2024, 1, 10, 12, minute)


def test_attribution_credit_branches(spark):
    rows = [
        # user 1: one touch -> 10000
        (1, _ts(0), 1, "view", 0.0, "{}"),
        (2, _ts(5), 1, "purchase", 0.0, "{}"),
        # user 2: two touches -> 5000/5000
        (3, _ts(0), 2, "view", 0.0, "{}"),
        (4, _ts(1), 2, "click", 0.0, "{}"),
        (5, _ts(5), 2, "purchase", 0.0, "{}"),
        # user 3: five touches -> 4000, 666, 667, 667... wait: middles are
        # positions 2..4 -> base 2000 div 3 = 666, remainder 2 to position
        # n-1 = 4 -> [4000, 666, 666, 668, 4000]
        (6, _ts(0), 3, "view", 0.0, "{}"),
        (7, _ts(1), 3, "view", 0.0, "{}"),
        (8, _ts(2), 3, "click", 0.0, "{}"),
        (9, _ts(3), 3, "view", 0.0, "{}"),
        (10, _ts(4), 3, "click", 0.0, "{}"),
        (11, _ts(30), 3, "purchase", 0.0, "{}"),
    ]
    out = stats.position_attribution(_attr_events(spark, rows), window_days=2)
    got = {}
    for r in out.collect():
        got.setdefault(r.conv_event_id, {})[r.position] = r.credit_bp
    assert got[2] == {1: 10000}
    assert got[5] == {1: 5000, 2: 5000}
    assert got[11] == {1: 4000, 2: 666, 3: 666, 4: 668, 5: 4000}


def test_attribution_credit_sums_to_10000(spark):
    # n = 3..9 touches: per-conversion credit must total exactly 10000
    rows = []
    eid = 0
    for n in range(3, 10):
        uid = n
        for i in range(n):
            rows.append((eid, _ts(i), uid, "view", 0.0, "{}"))
            eid += 1
        rows.append((eid, _ts(50), uid, "purchase", 0.0, "{}"))
        eid += 1
    out = stats.position_attribution(_attr_events(spark, rows), window_days=2)
    sums = (
        out.groupBy("conv_event_id", "n_touches")
        .agg(F.sum("credit_bp").alias("total"))
        .collect()
    )
    assert len(sums) == 7
    assert all(r.total == 10000 for r in sums)


def test_attribution_window_and_tie_rules(spark):
    rows = [
        # touch outside the 2-day window is ignored
        (1, datetime.datetime(2024, 1, 1, 0, 0), 1, "view", 0.0, "{}"),
        (2, datetime.datetime(2024, 1, 9, 12, 0), 1, "view", 0.0, "{}"),
        (3, datetime.datetime(2024, 1, 10, 12, 0), 1, "purchase", 0.0, "{}"),
        # same-timestamp touch counts only when event_id < purchase id
        (5, datetime.datetime(2024, 1, 10, 12, 0), 2, "view", 0.0, "{}"),
        (6, datetime.datetime(2024, 1, 10, 12, 0), 2, "purchase", 0.0, "{}"),
        (8, datetime.datetime(2024, 1, 10, 12, 0), 3, "purchase", 0.0, "{}"),
        (9, datetime.datetime(2024, 1, 10, 12, 0), 3, "view", 0.0, "{}"),
    ]
    out = stats.position_attribution(_attr_events(spark, rows), window_days=2)
    got = {(r.conv_event_id, r.touch_event_id): r.credit_bp for r in out.collect()}
    assert got == {(3, 2): 10000, (6, 5): 10000}


# ---------------------------------------------------------------------------
# temporal validity
# ---------------------------------------------------------------------------

def _facts(spark, rows):
    # (conv_id, turn_idx, entity_name, pred, score_i)
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, entity_name string, pred string, "
        "score_i long",
    )


def test_temporal_validity_flip_closes_interval(spark):
    from kgx import aggregate

    rows = [
        ("c1", 0, "ACME", "p", 2),
        ("c1", 1, "ACME", "p", 1),   # same polarity extends the run
        ("c1", 3, "ACME", "p", -1),  # flip at turn 3 closes [0, 3)
        ("c1", 5, "ACME", "p", -4),
    ]
    out = {
        (r.valid_from): r
        for r in aggregate.temporal_validity(_facts(spark, rows)).collect()
    }
    assert set(out) == {0, 3}
    first, second = out[0], out[3]
    assert (first.state, first.valid_to, first.last_asserted,
            first.n_assertions, first.is_current) == (1, 3, 1, 2, False)
    assert (second.state, second.valid_to, second.last_asserted,
            second.n_assertions, second.is_current) == (-1, None, 5, 2, True)


def test_temporal_validity_gap_does_not_close(spark):
    from kgx import aggregate

    # assertion at turn 0, silence until turn 9, same polarity -> ONE run
    rows = [("c1", 0, "X", "p", 1), ("c1", 9, "X", "p", 3)]
    out = aggregate.temporal_validity(_facts(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.valid_from, r.valid_to, r.n_assertions, r.is_current) == (
        0, None, 2, True)


def test_temporal_validity_case_insensitive_and_zero_state(spark):
    from kgx import aggregate

    rows = [
        ("c1", 0, "Spark", "p", 1),
        ("c1", 1, "spark", "p", -1),  # same subject, new run
        ("c1", 2, "SPARK", "p", 1),   # net zero with the other turn-2 row?
        ("c1", 2, "spark", "p", -1),  # evidence sums to 0 -> state 0
    ]
    out = sorted(
        aggregate.temporal_validity(_facts(spark, rows)).collect(),
        key=lambda r: r.valid_from,
    )
    assert [r.name_lc for r in out] == ["spark"] * 3
    assert [(r.state, r.valid_from, r.valid_to) for r in out] == [
        (1, 0, 1), (-1, 1, 2), (0, 2, None)]


# ---------------------------------------------------------------------------
# streaming temporal validity: kill+resume durability
# ---------------------------------------------------------------------------

def test_validity_stream_kill_resume_equals_single_run(spark, tmp_path):
    """Mid-corpus kill+resume for the foreachBatch validity stream: stop
    after the first committed micro-batch, restart from the same
    checkpoint with availableNow, and assert the interval table equals
    the uninterrupted run AND the batch operator over the union —
    checkpoint offsets + the batch-keyed evidence-delta overwrite make
    the restart exactly-once, and evidence additivity makes the
    out-of-order batch split invisible."""
    import os as _os
    import sys

    import pandas as pd

    from kgx import aggregate
    from kgx.streaming import validity_stream

    # turns arrive OUT OF ORDER across batches; u1/p flips polarity at
    # turn 2 and the flip's evidence is split across two batches
    frames = [
        pd.DataFrame({"conv_id": ["c1"] * 3,
                      "entity_name": ["ACME", "acme", "ACME"],
                      "pred": ["p"] * 3,
                      "turn_idx": [2, 0, 2],
                      "score_i": [-1, 2, -1]}),
        pd.DataFrame({"conv_id": ["c1"] * 2,
                      "entity_name": ["Acme", "ACME"],
                      "pred": ["p"] * 2,
                      "turn_idx": [1, 2],
                      "score_i": [1, 1]}),
        pd.DataFrame({"conv_id": ["c2"], "entity_name": ["Widget"],
                      "pred": ["q"], "turn_idx": [0], "score_i": [3]}),
    ]
    sys.path.insert(0, _os.path.join(_os.path.dirname(__file__)))
    from test_round5 import _drain_with_restart, _write_batches

    cols = ["conv_id", "name_lc", "pred", "state", "valid_from",
            "valid_to", "last_asserted", "n_assertions", "is_current"]

    def run(tag, restart):
        base = str(tmp_path / tag)
        src = f"{base}/src"
        _write_batches(src, frames)
        log, ckpt = f"{base}/log", f"{base}/ckpt"

        def start(available_now):
            source = (
                spark.readStream.schema(
                    "conv_id string, entity_name string, pred string, "
                    "turn_idx long, score_i long"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{src}/*")
            )
            return validity_stream.start_validity_stream(
                spark, source, log, ckpt, available_now=available_now
            )

        _drain_with_restart(spark, start, ckpt, restart)
        return sorted(
            tuple(getattr(r, c) for c in cols)
            for r in validity_stream.read_intervals(spark, log).collect()
        )

    single = run("single", restart=False)
    resumed = run("resumed", restart=True)
    assert single == resumed
    batch = sorted(
        tuple(getattr(r, c) for c in cols)
        for r in aggregate.temporal_validity(
            spark.createDataFrame(pd.concat(frames))
        ).collect()
    )
    assert single == batch
    # the flip is real: turn 2's merged evidence is -1 -1 +1 = -1
    by_from = {(r[0], r[2], r[4]): r for r in batch}
    assert by_from[("c1", "p", 0)][3] == 1        # state +1 over turns 0-1
    assert by_from[("c1", "p", 0)][5] == 2        # closed at turn 2
    assert by_from[("c1", "p", 2)][3] == -1       # superseding interval
    assert by_from[("c1", "p", 2)][8] is True     # still current


# ---------------------------------------------------------------------------
# bpe encode
# ---------------------------------------------------------------------------

def _enc(spark, words, merges):
    from kgx import textops

    df = spark.createDataFrame([(w,) for w in words], "word string")
    return {
        r.word: (r.n_chars, r.n_pieces, r.encoded)
        for r in textops.bpe_encode(df, merges).collect()
    }


def test_bpe_encode_greedy_overlap(spark):
    # [a,a,a] under (a,a): leftmost pair merges, third 'a' survives
    got = _enc(spark, ["aaa", "aaaa"], [("a", "a")])
    assert got["aaa"] == (3, 2, "aa a")
    assert got["aaaa"] == (4, 2, "aa aa")


def test_bpe_encode_chained_merges_in_order(spark):
    merges = [("t", "h"), ("th", "e")]
    got = _enc(spark, ["the", "theth", "eth"], merges)
    assert got["the"] == (3, 1, "the")
    # second 'th' has no following 'e'
    assert got["theth"] == (5, 2, "the th")
    # 'e' BEFORE 'th' never merges ((th,e) is th-then-e)
    assert got["eth"] == (3, 2, "e th")


def test_bpe_encode_order_sensitivity(spark):
    # same pairs, opposite order: (th,e) before (t,h) can never fire
    # because 'th' does not exist yet
    got = _enc(spark, ["the"], [("th", "e"), ("t", "h")])
    assert got["the"] == (3, 2, "th e")


def test_bpe_encode_untouched_and_single_char(spark):
    got = _enc(spark, ["x", "zq"], [("a", "b")])
    assert got["x"] == (1, 1, "x")
    assert got["zq"] == (2, 2, "z q")


# ---------------------------------------------------------------------------
# top-k event paths
# ---------------------------------------------------------------------------

def test_topk_paths_counts_and_tiebreak(spark, tmp_path):
    import pyspark.sql.functions as FF

    rows = []
    # user 1: a b c a b c -> trigrams abc, bca, cab, abc
    for i, et in enumerate(["a", "b", "c", "a", "b", "c"]):
        rows.append((i, _ts(i), 1, et, 0.0, "{}"))
    # user 2: a b c  -> abc (trigram crosses ONLY within a user)
    for i, et in enumerate(["a", "b", "c"]):
        rows.append((10 + i, _ts(i), 2, et, 0.0, "{}"))
    sf = str(tmp_path / "sf")
    import os
    os.makedirs(sf)
    _attr_events(spark, rows).write.parquet(f"{sf}/events.parquet")
    from kgx.rows.events import events_topk_paths

    got = [(r.t1, r.t2, r.t3, r.n, r.rank)
           for r in events_topk_paths(spark, sf).orderBy("rank").collect()]
    assert got == [
        ("a", "b", "c", 3, 1),
        ("b", "c", "a", 1, 2),
        ("c", "a", "b", 1, 3),
    ]


# ---------------------------------------------------------------------------
# clustering coefficient
# ---------------------------------------------------------------------------

def test_clustering_coefficient_hand_graph(spark):
    from kgx import graph

    # triangle a-b-c plus spoke c-d plus isolated pair e-f
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("e", "f")]
    with cache.scope():
        out = graph.clustering_coefficient(_edges(spark, pairs))
        got = {r.node: (r.deg, r.n_triangles, r.clustering) for r in out.collect()}
    assert got["a"] == (2, 1, 1.0)
    assert got["b"] == (2, 1, 1.0)
    # c: deg 3, 1 triangle -> 2/(3*2) = 1/3
    assert got["c"] == (3, 1, 2.0 / 6.0)
    assert got["d"] == (1, 0, 0.0)
    assert got["e"] == (1, 0, 0.0) and got["f"] == (1, 0, 0.0)


def test_facts_asof_containment_semantics(spark):
    """Point-in-time semantics over hand-built intervals: a turn inside
    [valid_from, valid_to) reports the interval's state; turns past
    last_asserted but before valid_to are carried_forward; turns before
    the first assertion report nothing."""
    from kgx import aggregate
    import pyspark.sql.functions as FF

    rows = [
        ("c1", 1, "ACME", "p", 1),
        ("c1", 4, "ACME", "p", -1),
    ]
    iv = aggregate.temporal_validity(_facts(spark, rows))
    probes = spark.createDataFrame(
        [("c1", t) for t in range(6)], "conv_id string, turn_idx int"
    )
    j = iv.join(probes, "conv_id").where(
        (FF.col("valid_from") <= FF.col("turn_idx"))
        & (FF.col("valid_to").isNull() | (FF.col("turn_idx") < FF.col("valid_to")))
    )
    got = {
        r.turn_idx: (r.state, r.turn_idx > r.last_asserted)
        for r in j.collect()
    }
    # turn 0: before first assertion -> absent; 1-3: +1 (2,3 carried);
    # 4-5: -1 (5 carried)
    assert got == {1: (1, False), 2: (1, True), 3: (1, True),
                   4: (-1, False), 5: (-1, True)}


# ---------------------------------------------------------------------------
# KS two-sample drift
# ---------------------------------------------------------------------------

def test_ks_identical_distributions_zero(spark):
    from kgx import stats

    rows = []
    for i, v in enumerate([1.0, 2.0, 3.0] * 4):
        rows.append((i, _ts(0), 1, "x" if i % 2 == 0 else "y", v, "{}"))
    out = stats.ks_two_sample(
        _attr_events(spark, rows), "event_type", "value", "x", "y"
    ).collect()[0]
    assert (out.n_a, out.n_b, out.d_scaled, out.d) == (6, 6, 0, 0.0)


def test_ks_hand_computed_supremum(spark):
    from kgx import stats

    # a: {1, 2}; b: {3, 4} -> full separation, D = 1 at value 2
    rows = [
        (0, _ts(0), 1, "a", 1.0, "{}"),
        (1, _ts(0), 1, "a", 2.0, "{}"),
        (2, _ts(0), 1, "b", 3.0, "{}"),
        (3, _ts(0), 1, "b", 4.0, "{}"),
        (4, _ts(0), 1, "other", 9.0, "{}"),  # excluded group
    ]
    out = stats.ks_two_sample(
        _attr_events(spark, rows), "event_type", "value", "a", "b"
    ).collect()[0]
    assert (out.n_a, out.n_b) == (2, 2)
    assert (out.d_scaled, out.d, out.at_value) == (4, 1.0, 2.0)


def test_ks_partial_overlap_and_tie_location(spark):
    from kgx import stats

    # a: {1,1,3}; b: {1,3,3}: diffs at v=1: |2*3-1*3|=3; v=3: |3*3-3*3|=0
    rows = [
        (0, _ts(0), 1, "a", 1.0, "{}"),
        (1, _ts(0), 1, "a", 1.0, "{}"),
        (2, _ts(0), 1, "a", 3.0, "{}"),
        (3, _ts(0), 1, "b", 1.0, "{}"),
        (4, _ts(0), 1, "b", 3.0, "{}"),
        (5, _ts(0), 1, "b", 3.0, "{}"),
    ]
    out = stats.ks_two_sample(
        _attr_events(spark, rows), "event_type", "value", "a", "b"
    ).collect()[0]
    assert (out.d_scaled, out.d, out.at_value) == (3, 3.0 / 9.0, 1.0)


def test_assortativity_star_is_negative(spark):
    """A star graph is maximally disassortative: every edge pairs the
    hub (deg n-1) with a leaf (deg 1) -> r = -1 exactly? No: with all
    (x,y) pairs being (n-1,1) and (1,n-1), r is the correlation of a
    two-point symmetric distribution = -1."""
    from kgx import stats
    import pyspark.sql.functions as FF

    pairs = [("h", f"l{i}") for i in range(5)]
    e = _edges(spark, [(min(a, b), max(a, b)) for a, b in pairs])
    sym = e.select(FF.col("u").alias("a"), FF.col("v").alias("b")).unionAll(
        e.select(FF.col("v").alias("a"), FF.col("u").alias("b"))
    )
    deg = sym.groupBy("a").agg(FF.count("*").alias("deg"))
    j = (
        sym.join(deg.select("a", FF.col("deg").alias("x")), "a")
        .join(deg.select(FF.col("a").alias("b"), FF.col("deg").alias("y")), "b")
        .select(FF.lit("all").alias("g"), "x", "y")
    )
    out = stats.correlation(j, "g", "x", "y").collect()[0]
    assert out.n == 10
    assert out.pearson_r == -1.0


# ---------------------------------------------------------------------------
# driver-built tables: local relations, rows still verified
# ---------------------------------------------------------------------------

def test_kb_tables_are_local_relations_and_verify_rows(spark):
    """Every driver-built KB table plans as a LocalTableScan (its rows ride
    in the plan, no Python RDD to scan), and a malformed row still raises
    the error the list-built table raised."""
    import dataclasses

    import pytest
    from pyspark.errors import PySparkValueError

    from kgx import linking, resources

    kb = resources.default_kb()
    tables = [
        kb.gazetteer_df(spark),
        kb.lexicon_df(spark),
        kb.indicators_df(spark),
        kb.feature_alias_df(spark),
        linking.feature_alias_dim(spark, kb),
        resources.class_hierarchy_df(spark),
        resources.dom_bounds_df(spark),
    ]
    for df in tables:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert tables[2].count() == len(kb.indicators)

    uri, name, etype, _ = kb.gazetteer[0]
    no_surface = dataclasses.replace(
        kb, gazetteer=[(uri, name, etype, None)] + kb.gazetteer[1:]
    )
    with pytest.raises(PySparkValueError, match="FIELD_NOT_NULLABLE_WITH_NAME"):
        no_surface.gazetteer_df(spark)
    ind = list(kb.indicators[0])
    ind[4] = 2**40
    huge = dataclasses.replace(kb, indicators=[tuple(ind)] + kb.indicators[1:])
    with pytest.raises(PySparkValueError, match="VALUE_OUT_OF_BOUNDS"):
        huge.indicators_df(spark)


# ---------------------------------------------------------------------------
# cache ownership: one scope releases what its producers persisted
# ---------------------------------------------------------------------------

def test_cache_scope_releases_only_what_it_cached(spark):
    import pytest
    from pyspark import StorageLevel

    def nothing_cached():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    und = []
    for u, v in [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]:
        und += [(u, v), (v, u)]
    edges = spark.createDataFrame(und, "src string, dst string")

    # a projection over the producer's result still releases its caches
    with cache.scope():
        ranks = graph.pagerank_int(edges, iters=2).select("node")
        assert len(ranks.collect()) == 4
        assert not nothing_cached()
    assert nothing_cached()

    # a frame the caller cached beforehand survives the producer's scope
    mine = edges.persist()
    with cache.scope():
        rows = graph.jaccard_similarity(edges, min_common=1).collect()
    assert rows
    assert mine.storageLevel != StorageLevel.NONE
    mine.unpersist()
    assert nothing_cached()

    # an exception inside the scope still releases
    with pytest.raises(RuntimeError):
        with cache.scope():
            boom = cache.persist(spark.range(5))
            boom.count()
            raise RuntimeError("boom")
    assert boom.storageLevel == StorageLevel.NONE

    # an inner scope releases only its own frames
    with cache.scope():
        outer = cache.persist(spark.range(6))
        with cache.scope():
            inner = cache.persist(spark.range(7))
        assert inner.storageLevel == StorageLevel.NONE
        assert outer.storageLevel != StorageLevel.NONE
    assert nothing_cached()

    # the scope stack is per thread: a frame another thread persists
    # outside any scope of its own is not this scope's to release
    import threading

    other = []
    with cache.scope():
        t = threading.Thread(target=lambda: other.append(cache.persist(spark.range(8))))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    assert other[0].storageLevel != StorageLevel.NONE
    other[0].unpersist()
    assert nothing_cached()


def test_persist_only_through_cache():
    # one cache-ownership mechanism: every kgx persist goes through
    # kgx.cache, except the session-lifetime kg memo in kgx/rows/kg.py
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "kgx"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root.parent).as_posix()
        if rel == "kgx/cache.py":
            continue
        tree = ast.parse(path.read_text())
        allowed = set()
        if rel == "kgx/rows/kg.py":
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "_kg_memo":
                    allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "persist"
                and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "cache")
                and id(node) not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert offenders == []
