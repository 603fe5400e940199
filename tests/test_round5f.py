"""Round-5f tests: exact-integer HITS hubs/authorities and RAKE
keyword scores."""

from __future__ import annotations

from kgx import cache, graph, textops


# ------------------------------------------- HITS ----------------------


def test_hits_two_iterations_hand_traced(spark):
    # a->x, a->y, b->x.  h0 = 1 everywhere.
    # a1: x=2 (a,b), y=1 (a).      h1: a = a1(x)+a1(y) = 3, b = a1(x) = 2.
    # a2: x = h1(a)+h1(b) = 5, y = h1(a) = 3.
    # h2: a = a2(x)+a2(y) = 8, b = a2(x) = 5.
    edges = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x")], "src string, dst string"
    )
    with cache.scope():
        out = graph.hits_int(edges, iters=2)
        got = {r.node: (r.hub, r.auth) for r in out.collect()}
    assert got == {
        "a": (8, 0),
        "b": (5, 0),
        "x": (0, 5),
        "y": (0, 3),
    }


def test_hits_bipartite_purity(spark):
    # on a directed bipartite graph, sources never gain authority and
    # sinks never gain hub mass — the property the customer->supplier
    # registry row relies on.
    edges = spark.createDataFrame(
        [(f"c{i}", f"s{i % 3}") for i in range(9)], "src string, dst string"
    )
    with cache.scope():
        out = graph.hits_int(edges, iters=2)
        rows = out.collect()
    for r in rows:
        if r.node.startswith("c"):
            assert r.auth == 0 and r.hub > 0
        else:
            assert r.hub == 0 and r.auth > 0


# ------------------------------------------- RAKE ----------------------


def _rake(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return {
        r.word: (r.freq, r.deg, r.rake_score)
        for r in textops.rake_keywords(df).collect()
    }


def test_rake_hand_traced(spark):
    # doc1 phrases: "deep learning" / "deep net" (split at of, the)
    # doc2 phrase:  "deep deep deep dive"        (split at a)
    got = _rake(
        spark,
        ["deep learning of the deep net", "a deep deep deep dive"],
    )
    assert got == {
        "deep": (5, 16, 3.2),      # 2+2 from len-2 phrases, 3*4 from len-4
        "learning": (1, 2, 2.0),
        "net": (1, 2, 2.0),
        "dive": (1, 4, 4.0),
    }


def test_rake_all_stopword_doc_emits_nothing(spark):
    got = _rake(spark, ["the of and a to"])
    assert got == {}
