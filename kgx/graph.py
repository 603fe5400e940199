"""Graph analytics over the materialized KG / relational edge sets.

The reference stores its graph in SQL Server and never analyzes it; these
are the first-class graph queries a KG consumer runs on the output
(degree profile, centrality, neighborhood expansion). All are pure
DataFrame compositions designed for 10^9+-edge graphs:

  * the edge list is the only big table; it is hash-partitioned by `src`
    once and persisted, so every per-iteration join co-locates on the
    same exchange;
  * rank/degree tables are O(|V|) and flow through broadcast or shuffled
    hash joins as AQE decides;
  * PageRank uses EXACT integer arithmetic (rank mass 10^12 per node,
    integral `div`) so the result is bit-identical across engines and
    row orders — no float summation order dependence — making an
    unrolled-CTE DuckDB oracle possible (cf. the left-fold trick used in
    kgx/similarity.py for float dots).

Connected components (the canonicalization analogue) lives in
kgx/canonical.py; this module covers the read-side analytics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from kgx import cache

R0 = 10**12  # integer rank mass per node (exact across engines)


def undirected_edges(pairs: DataFrame, left: str, right: str) -> DataFrame:
    """Distinct (left,right) pairs → symmetric string-keyed edge list.

    Node ids are namespaced ('c<id>' / 's<id>') so a bipartite pair table
    becomes one homogeneous graph.
    """
    e = pairs.select(
        F.concat(F.lit("c"), F.col(left).cast("string")).alias("c"),
        F.concat(F.lit("s"), F.col(right).cast("string")).alias("s"),
    ).distinct()
    return e.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        e.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree of a symmetric edge list (one shuffle)."""
    return edges.groupBy("src").agg(F.count("*").alias("deg"))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """degree -> node count (two partial-aggregated shuffles)."""
    return (
        degrees(edges)
        .groupBy("deg")
        .agg(F.count("*").alias("n_nodes"))
        .select(F.col("deg").cast("bigint").alias("deg"), "n_nodes")
    )


def pagerank_int(edges: DataFrame, iters: int = 3, r0: int = R0) -> DataFrame:
    """Exact integer PageRank (damping 0.85) over a symmetric edge list.

    rank'(v) = (15*r0) div 100  +  (85 * Σ_{u→v} (rank(u) div deg(u))) div 100

    All quantities are BIGINTs and `div` is integral division, so the
    fixed-iteration result is exactly reproducible in any engine and any
    aggregation order (sum of integers is associative). Per iteration:
    one join of the O(|V|) rank table onto the pre-partitioned edge list
    + one groupBy(dst) — two exchanges, both on node keys; skewed hubs
    are split by AQE. Edges are persisted once; rank tables are tiny
    relative to edges and never hold floats.
    """
    npart = edges.sparkSession.sparkContext.defaultParallelism
    edges = cache.persist(edges.repartition(npart, "src"))
    deg = cache.persist(degrees(edges))
    base = (15 * r0) // 100
    ranks = deg.select("src", F.lit(r0).cast("bigint").alias("r"), "deg")
    for _ in range(iters):
        contrib = edges.join(ranks, "src").select(
            F.col("dst").alias("node"), F.expr("r div deg").alias("c")
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = deg.join(sums, deg["src"] == sums["node"], "left").select(
            deg["src"],
            (F.lit(base) + F.expr("(85 * coalesce(s, 0)) div 100")).cast("bigint").alias("r"),
            deg["deg"],
        )
    return ranks.select(F.col("src").alias("node"), F.col("r").alias("rank"))


def two_hop_counts(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """#distinct 2-hop neighbors per source node (excluding the source).

    sources: DataFrame[node]. Two self-equi-joins on the symmetric edge
    list with a semi-join prefilter — the source set prunes the first hop
    before any fan-out, so cost is O(Σ_{s∈sources} Σ_{m∈N(s)} deg(m)),
    never the full deg² blowup of an unrestricted 2-hop.
    """
    hop1 = edges.join(sources.withColumnRenamed("node", "src"), "src").select(
        F.col("src").alias("origin"), F.col("dst").alias("mid")
    )
    hop2 = hop1.join(
        edges.select(F.col("src").alias("mid"), F.col("dst").alias("nbr2")), "mid"
    ).filter(F.col("nbr2") != F.col("origin"))
    return hop2.groupBy("origin").agg(
        F.countDistinct("nbr2").alias("n_two_hop")
    )


def jaccard_similarity(
    edges: DataFrame,
    max_middle_degree: int = 60,
    min_common: int = 2,
) -> DataFrame:
    """Neighbor-set Jaccard similarity between node pairs — the classic
    link-prediction feature (Liben-Nowell & Kleinberg 2003): for pairs
    (a, b) sharing >= min_common common neighbors,
    jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|.

    Input: symmetric string-keyed edge list (src, dst), e.g. from
    undirected_edges.

    Scale shape: common neighbors are enumerated as wedges a—m—b through
    MIDDLE nodes m; an unrestricted wedge join fans out deg(m)² per
    middle, so middles with degree > max_middle_degree are EXCLUDED from
    wedge enumeration (a hub connected to everything co-occurs with
    everything — its wedges carry no similarity signal yet would dominate
    the join at 10^9 edges; the same deterministic hot-key cap as the
    dedup bucket caps, and the oracle reproduces it). Degrees in the
    denominator stay EXACT, so for pairs that also share capped hubs the
    score is a documented lower bound. One wedge groupBy with map-side
    partial counts; degree table is O(|V|) and broadcast.

    Returns (a, b, n_common, deg_a, deg_b, jaccard) with a < b; jaccard
    is one correctly-rounded double division (deterministic cross-engine).
    """
    edges = cache.persist(edges)
    deg = degrees(edges)
    mid = deg.where(F.col("deg") <= max_middle_degree).select("src")
    # wedge legs restricted to capped middles; persisted because the
    # self-join reads it twice
    nbr = cache.persist(edges.join(F.broadcast(mid), "src"))
    wedges = (
        nbr.select(F.col("src"), F.col("dst").alias("a"))
        .join(nbr.select(F.col("src"), F.col("dst").alias("b")), "src")
        .where(F.col("a") < F.col("b"))
    )
    common = (
        wedges.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    return (
        common.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "n_common",
            "deg_a",
            "deg_b",
            (
                F.col("n_common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def copurchase_edges(pairs: DataFrame, key: str, node: str, min_support: int = 2) -> DataFrame:
    """Project a bipartite (key, node) membership table onto node—node
    edges: two nodes are linked iff they share >= min_support keys
    (e.g. suppliers co-serving >= 2 customers).

    One self-join co-partitioned on `key` (the natural blocking key), then
    a (u,v) count-filter. Hot keys fan out quadratically in their node
    count — at 10^12-row scale cap per-key membership first (same
    document-frequency cap as kgx/dedup.ngram_jaccard_pairs max_df); the
    min_support filter then prunes the long tail of weak edges before any
    downstream traversal.
    """
    m = pairs.select(F.col(key).alias("k"), F.col(node).alias("n")).distinct()
    a, b = m.alias("a"), m.alias("b")
    co = a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.n") < F.col("b.n"))).select(
        F.col("a.n").alias("u"), F.col("b.n").alias("v")
    )
    return (
        co.groupBy("u", "v")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
        .select("u", "v")
    )


def triangle_counts(edges_uv: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over a unique undirected
    edge list (u < v per row).

    Degree-ordered orientation ("compact-forward"): each edge is directed
    from its lower-(deg, id) endpoint to the higher one, so every triangle
    is enumerated exactly once from its lowest-degree corner and the
    wedge join fans out by the SMALL endpoint's degree — O(E^1.5) work
    bound instead of Σ deg² — the property that keeps hub nodes (a
    supplier serving every customer) from exploding the wedge stage at
    10^9+ edges. Three hash joins on node keys; AQE splits skewed hubs.

    Orientation does not change the triangle set, so a plain u<v<w
    3-way-join SQL oracle counts the same triangles.
    """
    # the edge list feeds degree counting AND orientation — persist it
    # once or every reference replays its upstream plan (for a projection
    # input that is a full self-join, a multiplicative re-scan)
    edges_uv = cache.persist(edges_uv)
    sym = edges_uv.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges_uv.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    dsrc = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    ddst = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    # the degree tables are O(|V|) and broadcast by explicit hint, which
    # AQE never demotes, whatever their size
    oriented = cache.persist(
        edges_uv.join(F.broadcast(dsrc), "u")
        .join(F.broadcast(ddst), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    wedges = oriented.join(
        oriented.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )
    tri = wedges.join(
        oriented.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
    ).select("a", "b", "c")
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    # oriented is read three times (both wedge sides + the closing
    # semi-check); the persist barrier computes it once
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def negative_samples(
    pos: DataFrame,
    entities: DataFrame,
    left: str,
    right: str,
    k: int = 3,
) -> DataFrame:
    """Link-prediction training negatives: for every positive (left, right)
    edge, k corrupted candidates replacing the RIGHT endpoint with a
    deterministically hash-picked entity, filtered against the true edge
    set (the standard TransE/DistMult negative-sampling recipe — Bordes
    et al. 2013 — as a batch Spark op; the reference has no trainer, this
    is the training-data surface its KG output feeds).

    Corruption is pure expression arithmetic: candidate rank =
    1 + md5_60bit(left:right:i) mod |entities| over a rank-indexed entity
    dim, so the sample is reproducible run-to-run and engine-to-engine
    (no RNG state, no Spark-specific hash). False negatives — corrupted
    pairs that happen to be true edges, including i landing on the
    original right endpoint — are removed by an anti-join against the
    positives, the filtered variant shown to beat unfiltered sampling.

    Shuffle shape at 10^9+ edges: the candidate explode is map-side (k
    literal rows per edge); the entity dim is O(|V|) and broadcast (its
    global row_number is one O(|V|) single-partition window — fine for a
    dimension, and replaceable by zipWithIndex-style ranking if the
    entity set ever outgrows one partition); the anti-join shuffles on
    the same (left, right) key as the positive dedup, so AQE coalesces
    the exchanges. Output rows: (left, right, label, neg_idx) with
    label 1 / neg_idx 0 for positives, label 0 / neg_idx in 1..k for
    surviving negatives.
    """
    from kgx.dedup import md5_hash60

    pos = cache.persist(pos.select(left, right).distinct())
    ranks = entities.select(
        F.col(right),
        F.row_number().over(Window.orderBy(right)).alias("rnk"),
    )
    n = entities.agg(F.count("*").alias("n_ent"))
    cand = (
        pos.crossJoin(F.broadcast(n))
        .select(
            left,
            F.col(right).alias("_orig"),
            "n_ent",
            F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias("neg_idx"),
        )
        .withColumn(
            "rnk",
            (
                md5_hash60(
                    F.concat_ws(
                        ":",
                        F.col(left).cast("string"),
                        F.col("_orig").cast("string"),
                        F.col("neg_idx").cast("string"),
                    )
                )
                % F.col("n_ent")
                + 1
            ).cast("int"),
        )
    )
    neg = (
        cand.join(F.broadcast(ranks), "rnk")
        .select(left, right, "neg_idx")
        .join(pos, [left, right], "left_anti")
    )
    return pos.select(
        F.col(left),
        F.col(right),
        F.lit(1).alias("label"),
        F.lit(0).alias("neg_idx"),
    ).unionByName(neg.withColumn("label", F.lit(0)).select(left, right, "label", "neg_idx"))


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    edges_unique: bool = False,
) -> DataFrame:
    """DeepWalk-style walk corpus (Perozzi et al. 2014) as a batch Spark
    op: `walks_per_node` truncated walks of `walk_len` nodes from every
    node, emitted LONG-format as (start, walk_id, step, node) — the
    skip-gram training-data surface a KG-embedding trainer consumes over
    the graph kgx materializes (the reference stops at the KG; this is
    the table its output feeds).

    The next-hop choice is pure expression arithmetic, not RNG: at step
    s the walk picks neighbor rank md5_60bit(start:walk_id:s) mod deg
    from the per-source rank-indexed adjacency, so the corpus is
    reproducible run-to-run and engine-to-engine and the DuckDB oracle
    unrolls the identical picks as CTEs (same scheme as pagerank_int's
    integer fixpoint).

    Shuffle shape at 10^9 edges: the adjacency frame pays one per-source
    window (rank + degree share the partitioning) and is persisted once;
    each of the walk_len-1 steps is ONE shuffle join of the frontier
    against it on the current node — the canonical iterative-graph shape,
    with frontier size fixed at |V|·walks_per_node rows of 3 short
    columns. Every frontier is persisted so the step-k join executes
    once, not (walk_len-k) times across the union branches — at a
    production walk_len of 40 the difference is O(L) vs O(L²) joins.
    No driver-side state; walk_len is a literal loop bound.

    edges_unique=True skips the defensive distinct — one full shuffle of
    the edge list, ~17% of the op's wall at sf0.1 — for callers whose
    edge list is unique by construction (undirected_edges output is).
    Passing it with duplicate edges does not break walk validity, but
    duplicated neighbors get proportionally higher pick probability.
    """
    from kgx.dedup import md5_hash60

    per_src = Window.partitionBy("src")
    base = edges.select("src", "dst")
    if not edges_unique:
        base = base.distinct()
    adj = cache.persist(
        base.select(
            "src",
            "dst",
            (F.row_number().over(per_src.orderBy("dst")) - 1).alias("nbr"),
            F.count("*").over(per_src).alias("deg"),
        )
    )
    cur = (
        adj.select("src")
        .distinct()
        .select(
            F.col("src").alias("start"),
            F.explode(
                F.array(*[F.lit(i) for i in range(1, walks_per_node + 1)])
            ).alias("walk_id"),
        )
        .withColumn("node", F.col("start"))
    )
    out = cur.withColumn("step", F.lit(0))
    for step in range(1, walk_len):
        pick = md5_hash60(
            F.concat_ws(
                ":", F.col("start"), F.col("walk_id").cast("string"), F.lit(str(step))
            )
        )
        cur = cache.persist(
            cur.join(adj, cur["node"] == adj["src"])
            .where(F.col("nbr") == pick % F.col("deg"))
            .select("start", "walk_id", F.col("dst").alias("node"))
        )
        out = out.unionByName(cur.withColumn("step", F.lit(step)))
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts over a long-format
    walk corpus — the word2vec-style input a DeepWalk/node2vec trainer
    consumes downstream of random_walks (Perozzi et al. 2014 §4.2;
    Mikolov et al. 2013): every ordered pair of nodes within `window`
    steps of each other inside the same walk, counted corpus-wide.

    Shape at 10^9 walk rows: a self-join keyed on (start, walk_id) —
    every key group is exactly walk_len rows, so the join is shuffle-even
    by construction (no skew possible) and the |Δstep| band is a residual
    predicate on top of the equi key; the count rollup shuffles once on
    (center, context) with map-side partial aggregation. No driver state.
    """
    a = walks.select(
        F.col("start"), F.col("walk_id"),
        F.col("step").alias("s1"), F.col("node").alias("center"),
    )
    b = walks.select(
        F.col("start"), F.col("walk_id"),
        F.col("step").alias("s2"), F.col("node").alias("context"),
    )
    return (
        a.join(b, ["start", "walk_id"])
        .where(
            (F.abs(F.col("s1") - F.col("s2")) <= window)
            & (F.col("s1") != F.col("s2"))
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("cnt"))
    )


def resource_allocation(
    edges: DataFrame,
    max_middle_degree: int = 60,
    min_common: int = 2,
    scale: int = 10**12,
) -> DataFrame:
    """Resource-Allocation link-prediction index (Zhou, Lü & Zhang 2009):
    ra(a, b) = Σ_{m ∈ N(a)∩N(b)} 1/deg(m) — the middle-degree-weighted
    refinement of common-neighbor counting (low-degree shared neighbors
    carry more signal than hubs).

    Determinism: the per-middle contribution is integer-scaled as
    `scale div deg(m)` (integral division), so the cross-row sum is exact
    BIGINT arithmetic — associative in any aggregation order and engine —
    and `ra` is ONE final IEEE division by `scale` (the same log-free
    fixed-point recipe as pagerank_int; a float Σ 1/deg would be row-order
    dependent and unhashable cross-engine).

    Scale shape: identical wedge enumeration to jaccard_similarity —
    middles above max_middle_degree are excluded (their contribution
    1/deg is also the smallest, so the cap cuts the quadratic fan-out
    exactly where the signal is weakest); one wedge groupBy with map-side
    partial sums; the degree dim is O(|V|) and broadcast.

    Returns (a, b, n_common, ra_scaled, ra) with a < b.
    """
    edges = cache.persist(edges)
    deg = degrees(edges)
    mid = deg.where(F.col("deg") <= max_middle_degree).withColumn(
        "contrib", F.expr(f"CAST({scale} AS BIGINT) div deg")
    ).select("src", "contrib")
    # wedge legs restricted to capped middles, each leg carrying the
    # middle's own 1/deg contribution; persisted — the self-join reads
    # it twice
    nbr = cache.persist(edges.join(F.broadcast(mid), "src"))
    wedges = (
        nbr.select("src", F.col("dst").alias("a"), "contrib")
        .join(nbr.select("src", F.col("dst").alias("b")), "src")
        .where(F.col("a") < F.col("b"))
    )
    return (
        wedges.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("contrib").alias("ra_scaled"),
        )
        .where(F.col("n_common") >= min_common)
        .select(
            "a",
            "b",
            "n_common",
            "ra_scaled",
            (F.col("ra_scaled").cast("double") / F.lit(float(scale))).alias("ra"),
        )
    )


def transitive_closure(
    edges: DataFrame,
    max_depth: int = 16,
    checkpoint: bool = True,
) -> DataFrame:
    """Min-depth transitive closure of a DAG edge list (src, dst) — e.g.
    an ontology's rdfs:subClassOf hierarchy (child, parent) expanded to
    every (descendant, ancestor, min_depth) pair, the precomputed
    subsumption table a KG type-checker or inference join consumes.

    Path doubling, not frontier expansion: after k rounds the closure
    holds every pair reachable in <= 2^k hops, so covering `max_depth`
    costs ceil(log2(max_depth)) self-joins instead of max_depth chained
    joins — the same O(log d) trick as canonical.pointer-jumping CC. Per
    round: one self-join of the closure on (dst = src) + one
    groupBy(src, dst).min(depth) dedupe — two exchanges on node keys.
    min() over exact integer depths is order-independent, so the result
    is engine-exact and a WITH RECURSIVE SQL oracle reproduces it.

    Ontology hierarchies are dimension-sized (10^2–10^5 classes) so every
    round is broadcast-cheap; the same plan holds for large instance DAGs
    (10^9 edges) where the joins become shuffles on node keys. Each round
    localCheckpoints (when `checkpoint`) to truncate the doubling lineage
    — without it round k's plan nests 2^k scans.

    Input rows must be a DAG (cycles make min_depth undefined); depth
    counts edges (direct parent = 1). Returns (src, dst, depth).
    """
    closure = edges.select("src", "dst", F.lit(1).cast("int").alias("depth"))
    rounds = max(1, (max_depth - 1).bit_length())
    for _ in range(rounds):
        hop = (
            closure.alias("l")
            .join(
                closure.alias("r"), F.col("l.dst") == F.col("r.src"), "inner"
            )
            .select(
                F.col("l.src").alias("src"),
                F.col("r.dst").alias("dst"),
                (F.col("l.depth") + F.col("r.depth")).alias("depth"),
            )
        )
        closure = (
            closure.unionByName(hop)
            .groupBy("src", "dst")
            .agg(F.min("depth").alias("depth"))
        )
        if checkpoint:
            closure = closure.localCheckpoint(eager=False)
    return closure


def landmark_distances(
    edges: DataFrame,
    n_landmarks: int = 5,
    max_depth: int = 3,
) -> DataFrame:
    """Landmark (pivot) BFS distances — the classic graph-embedding /
    approximate-shortest-path feature table (Potamias et al. 2009,
    "Fast shortest path distance estimation in large networks"): pick the
    `n_landmarks` highest-degree nodes (ties broken by node id, so the
    pick is deterministic and engine-exact) and emit every
    (landmark, node, dist) pair with dist <= max_depth over the
    undirected edge list (src, dst).

    Level-synchronous BFS with frontier pruning: level k+1 = distinct
    neighbors of level k anti-joined against everything already reached,
    so each frontier is bounded by n_landmarks * |V| rows of 2 keys no
    matter how dense the graph — the unpruned alternative enumerates
    PATHS (deg^k blowup on hub graphs). Each level costs one shuffle
    join on the frontier key + one distinct + one anti-join, all on slim
    (landmark, node) pairs; every frontier is persisted, so `seen` (the
    lazy union of them) never recomputes a level. BFS level order makes the
    first visit the minimal distance, so no min() re-aggregation is
    needed and the result is engine-exact for an unrolled SQL oracle
    that EXCEPTs each level against the union of earlier ones.

    At 10^9 edges the per-level join is the standard iterative-graph
    shuffle on node keys; max_depth stays a literal loop bound (3-5
    covers real small-world graphs) and landmark count scales the
    frontier linearly. Returns (landmark, node, dist).
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    landmarks = (
        deg.orderBy(F.col("deg").desc(), F.col("src").asc())
        .limit(n_landmarks)
        .select(F.col("src").alias("landmark"))
    )
    level = landmarks.select("landmark", F.col("landmark").alias("node"))
    seen = cache.persist(level.withColumn("dist", F.lit(0).cast("int")))
    for d in range(1, max_depth + 1):
        frontier = cache.persist(
            level.join(edges, level["node"] == edges["src"])
            .select("landmark", F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("landmark", "node"), ["landmark", "node"], "left_anti")
        )
        seen = seen.unionByName(frontier.withColumn("dist", F.lit(d).cast("int")))
        level = frontier
    return seen


def kcore(edges: DataFrame, k: int, rounds: int = 4) -> DataFrame:
    """Bounded k-core peeling over a symmetric edge list: `rounds`
    synchronous rounds of "drop every node with degree < k, then drop
    edges touching dropped nodes" (Matula & Beck 1983 peeling, the
    standard subgraph-density filter for KG noise pruning and community
    seeding). `rounds` is a literal contract exactly like pagerank_int's
    `iters` — once the peel reaches fixpoint, further rounds are no-ops,
    so the result is engine-exact for an oracle that unrolls the same
    round count whether or not a particular corpus converges earlier
    (real small-world graphs peel in a handful of rounds; a production
    run to exact coreness loops with an emptiness convergence check).

    Per round: one degree groupBy + two semi-joins of the edge list
    against the O(|V|) survivor set — all shuffles on node keys, edges
    persisted per round so round r+1 never recomputes round r. Returns
    the surviving (node, deg) table (degree within the k-core subgraph).
    """
    cur = cache.persist(edges.select("src", "dst"))
    for _ in range(rounds):
        keep = (
            cur.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select("src")
        )
        cur = cache.persist(
            cur.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    return cur.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )


def ppr_int(
    edges: DataFrame, seeds: DataFrame, iters: int = 3, r0: int = R0
) -> DataFrame:
    """Exact integer personalized PageRank (damping 0.85, teleport
    restricted to a seed set) — the KG relevance/expansion scorer
    ("which entities matter relative to THESE seeds"), same engine-exact
    integral contract as pagerank_int:

      rank'(v) = (v ∈ S ? (15*r0) div 100 : 0)
                 + (85 * Σ_{u→v} (rank(u) div deg(u))) div 100
      rank0(v) = r0 if v ∈ S else 0

    All BIGINTs, `div` integral, sums associative — bit-identical in any
    engine/order, so a SQL oracle unrolls the same iterations. Mass is
    unnormalized (like pagerank_int's r0-per-node convention); rankings
    and ratios are what callers consume. Same shuffle shape as
    pagerank_int (edges persisted once, two node-key exchanges per
    iteration); `seeds` is a 1-column (src) frame, broadcast-joined onto
    the degree table once.
    """
    npart = edges.sparkSession.sparkContext.defaultParallelism
    edges = cache.persist(edges.repartition(npart, "src"))
    deg = cache.persist(
        degrees(edges)
        .join(
            F.broadcast(seeds.select("src").distinct().withColumn("is_seed", F.lit(1))),
            "src",
            "left",
        )
    )
    base = (15 * r0) // 100
    base_col = F.when(F.col("is_seed").isNotNull(), F.lit(base)).otherwise(F.lit(0))
    ranks = deg.select(
        "src",
        F.when(F.col("is_seed").isNotNull(), F.lit(r0))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("r"),
        "deg",
        "is_seed",
    )
    for _ in range(iters):
        contrib = edges.join(ranks, "src").select(
            F.col("dst").alias("node"), F.expr("r div deg").alias("c")
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = deg.join(sums, deg["src"] == sums["node"], "left").select(
            deg["src"],
            (base_col + F.expr("(85 * coalesce(s, 0)) div 100"))
            .cast("bigint")
            .alias("r"),
            deg["deg"],
            deg["is_seed"],
        )
    return ranks.select(F.col("src").alias("node"), F.col("r").alias("rank"))


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over a
    symmetric edge list — the linear-time community detector a KG builder
    runs after canonicalization to group densely-linked entities (topic
    clusters, coordinated-source groups). Completes the graph family
    next to cc_canonicalize (min-label connected components): LPA's MODE
    rule finds dense communities INSIDE one component, which
    min-propagation by construction cannot.

    Deterministic contract (engine-exact, no randomness):
      label0(v)   = v
      label_t+1(v)= the label most frequent among v's neighbors at t;
                    ties break to the SMALLEST label (classic LPA breaks
                    ties randomly — here the tie-break is total, so a SQL
                    oracle unrolls the identical rounds).
    `rounds` is a literal contract exactly like pagerank_int's `iters`
    and kcore's `rounds`: synchronous LPA oscillates on bipartite
    structure rather than converging, so bounded-round semantics are the
    honest fixpoint-free definition (GraphX's LabelPropagation documents
    the same caveat and runs a fixed maxSteps).

    Shape per round: one shuffle joining neighbor labels (edges hashed on
    dst, labels on node) + one (node, label) count groupBy with map-side
    partials + one per-node arg-max window over the counted frame —
    never over raw neighbor rows. Labels persisted per round; O(rounds)
    jobs, O(|E|) rows moved per round, reducer state bounded by a node's
    DISTINCT neighbor-label count.
    """
    labels = cache.persist(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counted = nbr.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = cache.persist(
            counted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.select("node", F.col("label").alias("community"))


def hits_int(edges: DataFrame, iters: int = 2) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    list, exact unnormalized integer power iteration — pagerank_int's
    reproducibility contract applied to the two mutually-recursive
    scores (the reference has no graph analytics; this completes the
    centrality family next to pagerank_int/ppr_int):

      h_0(u) = 1
      a_t(v) = Σ_{u→v} h_{t-1}(u)      (authority: endorsed by hubs)
      h_t(u) = Σ_{u→v} a_t(v)          (hub: endorses authorities)

    run for a LITERAL `iters` (classic HITS normalizes each step and
    iterates to convergence; dropping the normalizer keeps every value a
    BIGINT whose any-order integer sums are bit-identical in any engine,
    and the RANKING each step is unchanged — normalization is a positive
    scalar). Emitted: (node, hub, auth) = (h_iters, a_iters) over the
    node universe src ∪ dst, missing sums coalesced to 0 (a pure source
    has auth 0; a pure sink has hub 0). Magnitude grows like
    (mean degree)^(2·iters): with iters=2 the values stay far inside
    int64 up to ~10^4 mean degree; beyond that widen to DECIMAL(38,0)
    on both engines (same note as pmi_collocations).

    Shape per iteration: one join of the O(|V|) score table onto the
    persisted edge list + one groupBy on the opposite endpoint — two
    exchanges on node keys with map-side partial sums; AQE splits skewed
    hubs. Score tables are persisted per step."""
    edges = cache.persist(edges.select("src", "dst"))
    nodes = cache.persist(
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
    )
    h = nodes.select("node", F.lit(1).cast("long").alias("s"))
    a = None
    for _ in range(iters):
        a = cache.persist(
            edges.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("s").alias("s"))
            .withColumnRenamed("dst", "node")
        )
        h = cache.persist(
            edges.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("s").alias("s"))
            .withColumnRenamed("src", "node")
        )
    return (
        nodes.join(h.withColumnRenamed("s", "hub"), "node", "left")
        .join(a.withColumnRenamed("s", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
        )
    )


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Per-community Newman modularity contributions over a symmetric
    edge list and a (node, community) assignment — the quality metric
    that says whether a community detector (label_propagation) found
    real structure or noise; global Q is the sum of contributions.

    Exact-integer contract: with und holding BOTH directions (|und| =
    2m), intra_und(c) counts directed intra-community rows (= 2·e_c)
    and k_c sums member degrees, so

        contribution(c) = (2m·intra_und(c) − k_c²) / (2m)²

    is a single IEEE division of exact BIGINTs — bit-identical in any
    engine, any aggregation order (Newman 2004's Q = Σ_c [e_c/m −
    (k_c/2m)²] rewritten over one denominator). k_c² stays inside int64
    up to k_c ≈ 3·10^9 member-degree — beyond that widen to
    DECIMAL(38,0) (hits_int's note).

    Shape: two label joins on the edge list (O(|E|) rows, node-keyed),
    one intra count + one degree-sum groupBy (map-side partials), and
    the 2m total joins in as a broadcast single-row frame. Skewed giant
    communities split fine: every aggregation is additive."""
    lab_s = communities.select(F.col("node").alias("src"), F.col("community").alias("sl"))
    lab_d = communities.select(F.col("node").alias("dst"), F.col("community").alias("dl"))
    intra = (
        edges.join(lab_s, "src")
        .join(lab_d, "dst")
        .filter(F.col("sl") == F.col("dl"))
        .groupBy(F.col("sl").alias("community"))
        .agg(F.count("*").cast("long").alias("intra_und"))
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    kc = (
        deg.join(communities.withColumnRenamed("node", "src"), "src")
        .groupBy("community")
        .agg(
            F.sum("deg").cast("long").alias("k_c"),
            F.count("*").cast("long").alias("n_nodes"),
        )
    )
    tot = edges.agg(F.count("*").cast("long").alias("m2"))
    return (
        kc.join(intra, "community", "left")
        .withColumn("intra_und", F.coalesce("intra_und", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            "intra_und",
            "k_c",
            (
                (F.col("m2") * F.col("intra_und") - F.col("k_c") * F.col("k_c"))
                .cast("double")
                / (F.col("m2") * F.col("m2")).cast("double")
            ).alias("contribution"),
        )
    )


def ktruss(edges_uv: DataFrame, k: int, rounds: int = 2) -> DataFrame:
    """Bounded k-truss peeling over a unique undirected edge list
    (u < v per row): `rounds` synchronous rounds of "drop every edge
    whose triangle support is < k-2" (Cohen 2008, "Trusses: cohesive
    subgraphs for social network analysis") — the EDGE-level refinement
    of k-core: a k-truss edge sits in at least k-2 triangles within the
    surviving subgraph, so trusses isolate strong-tie communities that
    degree-based coreness cannot (a hub with many weak one-off edges is
    k-core-dense but truss-sparse). Standard KG-noise filter for
    co-occurrence graphs: keep only relations reinforced by closed
    triangles.

    `rounds` is a literal contract exactly like kcore's — at fixpoint
    further rounds are no-ops, so an oracle that unrolls the same round
    count is engine-exact wherever the corpus actually converges.

    Per round the support computation reuses triangle_counts' degree-
    ordered orientation ("compact-forward"): each surviving triangle is
    enumerated once from its lowest-degree corner, the wedge join fans by
    the SMALL endpoint's degree (O(E^1.5) bound, hub-safe at 10^9 edges),
    then each triangle credits its three constituent u<v edges and one
    groupBy(u, v) (map-side partials) produces supports. Edges with no
    triangle vanish from the support table and are peeled implicitly —
    correct truss semantics for k >= 3. Returns the surviving
    (u, v, support) edges, `support` counted within the PREVIOUS round's
    subgraph (the value the final peel tested, mirroring kcore returning
    degree within the surviving subgraph).

    Per-round edge sets are localCheckpoint'ed (eager) — the fixpoint
    lineage-truncation contract shared with canonical.connected_components;
    per-round oriented frames are persisted through kgx.cache.

    Raises ValueError for k < 3: below that an edge in zero triangles
    should survive, but it never reaches the support table.
    """
    if k < 3:
        raise ValueError(f"ktruss needs k >= 3, got {k}")
    cur = edges_uv.select("u", "v")
    last_sup = None
    for _ in range(rounds):
        # truncate lineage per round (canonical.py's fixpoint pattern):
        # each round references the previous round's edges ~5x (degrees,
        # both wedge sides, the closing join), so an un-truncated plan
        # grows ~15^rounds and blows up the analyzer long before the data
        # does. localCheckpoint materializes the round eagerly and cuts
        # the logical plan back to a leaf.
        cur = cur.localCheckpoint(eager=True)
        sym = cur.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            cur.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
        dsrc = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
        ddst = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
        oriented = cache.persist(
            cur.join(F.broadcast(dsrc), "u")
            .join(F.broadcast(ddst), "v")
            .select(
                F.when(
                    (F.col("du") < F.col("dv"))
                    | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                )
                .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
                .alias("e")
            )
            .select("e.a", "e.b")
        )
        wedges = oriented.join(
            oriented.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
        )
        tri = wedges.join(
            oriented.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
        ).select("a", "b", "c")
        # each triangle credits its three unordered (u < v) edges
        sides = (
            tri.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .unionAll(
                tri.select(F.least("b", "c").alias("u"), F.greatest("b", "c").alias("v"))
            )
            .unionAll(
                tri.select(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v"))
            )
        )
        sup = sides.groupBy("u", "v").agg(F.count("*").alias("support"))
        cur = sup.where(F.col("support") >= k - 2)
        last_sup = cur
        cur = cur.select("u", "v")
    return last_sup if last_sup is not None else edges_uv.select(
        "u", "v", F.lit(None).cast("bigint").alias("support")
    )


def harmonic_closeness(
    edges: DataFrame,
    n_landmarks: int = 4,
    max_depth: int = 3,
) -> DataFrame:
    """Landmark-approximated harmonic closeness centrality (Boldi &
    Vigna 2014, "Axioms for centrality"): for every node that some
    landmark reaches within `max_depth` hops, sum 1/d over its distances
    d to the `n_landmarks` highest-degree pivots (the landmark_distances
    table), the bounded-depth estimator of the exact harmonic centrality
    Σ_u 1/d(u, v) that a full APSP could never compute at 10^9 edges.
    Unreached (landmark, node) pairs contribute 0 exactly as the full
    definition prescribes — no infinite-distance special case. A node
    that no landmark reaches within `max_depth` (a landmark's distance 0
    to itself does not count) gets no row at all, not a row with
    harmonic 0.

    Engine-exact arithmetic: each distance contributes the exact integer
    10^12 // d (d >= 1; the landmark's own dist-0 row is excluded), the
    per-node sum is a BIGINT (order-independent), and `harmonic` is ONE
    IEEE division by 10^12 — the same scaled-integer contract as
    resource_allocation. One groupBy(node) over the slim (landmark,
    node, dist) table after the BFS; cost is dominated by the shared
    landmark_distances stages.

    Returns (node, n_reached, harmonic_scaled, harmonic).
    """
    dists = landmark_distances(edges, n_landmarks=n_landmarks, max_depth=max_depth)
    contrib = dists.where(F.col("dist") >= 1).select(
        "node", F.expr("1000000000000 div dist").cast("bigint").alias("c")
    )
    out = contrib.groupBy("node").agg(
        F.count("*").alias("n_reached"),
        F.sum("c").cast("bigint").alias("harmonic_scaled"),
    )
    return out.select(
        "node",
        "n_reached",
        "harmonic_scaled",
        (F.col("harmonic_scaled").cast("double") / F.lit(1.0e12)).alias("harmonic"),
    )


def clustering_coefficient(edges_uv: DataFrame) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998):
    2T / (d(d-1)) over a unique undirected edge list (u < v) — the
    per-node closure metric completing the triangle family
    (triangle_counts = the numerator, degrees = the denominator). The
    division is ONE IEEE op over exact integers, so the row is
    engine-exact; nodes in no triangle (or with degree < 2) report 0.0.

    Cost is the shared triangle_counts stages (degree-ordered
    orientation, O(E^1.5)) plus one degree groupBy and a node-keyed
    left join — at 10^9 edges both shuffle on node keys and the degree
    side is |V|-bounded.
    """
    tri = triangle_counts(edges_uv)
    sym = edges_uv.select(F.col("u").alias("node"), F.col("v").alias("o")).unionAll(
        edges_uv.select(F.col("v").alias("node"), F.col("u").alias("o"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    j = deg.join(tri, "node", "left").select(
        "node",
        F.col("deg").cast("bigint").alias("deg"),
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
    )
    return j.select(
        "node",
        "deg",
        "n_triangles",
        F.when(
            F.col("deg") >= 2,
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
