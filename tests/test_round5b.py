"""Round-5 batch-11 tests: Resource-Allocation link prediction and
min-depth transitive closure (ontology subsumption)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from kgx import cache, graph, resources


# ------------------------------------------------- resource allocation ----


def test_resource_allocation_matches_hand_computation(spark):
    # square a-b-c-d plus a hub h connected to everything:
    #   N(a)={b,d,h} N(c)={b,d,h}; shared non-hub middles of (a,c): b,d
    edges_uv = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),
                ("h", "a"), ("h", "b"), ("h", "c"), ("h", "d")]
    sym = [(u, v) for u, v in edges_uv] + [(v, u) for u, v in edges_uv]
    edges = spark.createDataFrame(sym, "src string, dst string")
    with cache.scope():
        out = graph.resource_allocation(edges, max_middle_degree=3, min_common=1)
        rows = {(r.a, r.b): r for r in out.collect()}
    # deg(b) = deg(d) = 3 (a, c, h); the hub h (deg 4) is capped out of
    # the middle set, so ra(a,c) = 2 * (10^12 div 3) exactly
    ac = rows[("a", "c")]
    assert ac.n_common == 2
    assert ac.ra_scaled == 2 * (10**12 // 3)
    assert ac.ra == ac.ra_scaled / 1e12
    # every pair through h only (e.g. none — h is capped): (a,b) share h
    # only as a NON-middle; their common middles are none with deg<=3
    # except via the square: N(a)∩N(b) = {h} → capped → absent
    assert ("a", "b") not in rows


def test_resource_allocation_weighs_low_degree_middles_higher(spark):
    # x and y share two middles: m1 (deg 2) and m2 (deg 4, two extras)
    pairs = [("m1", "x"), ("m1", "y"), ("m2", "x"), ("m2", "y"),
             ("m2", "e1"), ("m2", "e2")]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src string, dst string")
    with cache.scope():
        out = graph.resource_allocation(edges, max_middle_degree=10, min_common=1)
        row = [r for r in out.collect() if {r.a, r.b} == {"x", "y"}][0]
    assert row.n_common == 2
    assert row.ra_scaled == 10**12 // 2 + 10**12 // 4
    assert math.isclose(row.ra, 0.75, rel_tol=1e-12)


# ------------------------------------------------- transitive closure ----


def test_transitive_closure_chain_min_depth(spark):
    # chain a->b->c->d->e plus a shortcut a->d: min depth wins
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "d")],
        "src string, dst string",
    )
    out = {
        (r.src, r.dst): r.depth
        for r in graph.transitive_closure(edges, max_depth=8).collect()
    }
    assert out[("a", "e")] == 2  # via the shortcut, not the 4-hop chain
    assert out[("a", "d")] == 1
    assert out[("a", "c")] == 2
    assert out[("b", "e")] == 3
    assert len(out) == 5 + 5  # 5 direct + (a,c),(a,e),(b,d),(b,e),(c,e)


def test_transitive_closure_covers_class_hierarchy_depth(spark):
    hier = resources.class_hierarchy_df(spark)
    closure = graph.transitive_closure(hier, max_depth=8)
    ns = "http://kgx.example.org/onto#"
    got = {
        (r.src, r.dst): r.depth
        for r in closure.collect()
    }
    # deepest chain: CommonStock -> Stock -> Equity -> FinancialInstrument
    #                -> SentimentObject -> Thing
    assert got[(ns + "CommonStock", ns + "Thing")] == 5
    assert got[(ns + "CommonStock", ns + "Stock")] == 1
    # every class reaches Thing (the hierarchy is a rooted tree)
    children = {c for c, _ in resources.CLASS_HIERARCHY}
    for c in children:
        assert (ns + c, ns + "Thing") in got
    # a tree closure has exactly sum(depth_to_root) pairs; spot-check
    # antisymmetry instead of recount: no (x, x) and no inverted pair
    assert all(s != d for s, d in got)
    assert all((d, s) not in got for s, d in got)


def test_transitive_closure_round_count_is_logarithmic(spark):
    # 7-node chain needs depth 6; max_depth=8 -> 3 doubling rounds must
    # already reach the far end (2^3 = 8 >= 6)
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    out = {
        (r.src, r.dst): r.depth
        for r in graph.transitive_closure(edges, max_depth=8).collect()
    }
    assert out[("n0", "n6")] == 6
    assert len(out) == 21  # 7 choose 2 ordered pairs along a chain
