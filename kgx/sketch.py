"""Mergeable sketches — the 100 TB approximate-state paths: HyperLogLog
(distinct counts), Count-Min (per-key frequencies), Bloom (set membership).

`count distinct` at corpus scale either shuffles every distinct key
(exact) or keeps O(m) register state per group (HLL). The register table
produced here is the SKETCH ITSELF: tiny (m rows per group), mergeable by
`max` — so shards/days/corpora sketch independently and merge later
without touching raw data again, which is exactly how a 1000-executor
pipeline maintains rolling distinct-user / distinct-doc counts.

Cross-engine determinism: the hash is md5-derived (kgx.dedup.md5_hash60 —
reproducible in DuckDB), rho comes from integer bit-arithmetic (`bin`
string length, identical in both engines), and the harmonic sum is kept
as an EXACT integer (each 2^-rho term scaled by 2^S) so cross-row addition
is order-independent; the only floating-point op is one final literal /
sum division. The oracle therefore reproduces estimates bit-for-bit.

Raw HLL estimator only (Flajolet et al. 2007, alpha_m * m^2 / sum 2^-M_j);
the small/large-range corrections need `ln`, whose last-ulp behavior is
engine-specific — callers that want corrections apply them on the emitted
(v_zero, hll_estimate) columns.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from kgx import cache
from kgx.dedup import md5_hash60


def _prefactor(p: int) -> float:
    """alpha_m * m^2 * 2^S as one literal, so both engines do a single
    literal/sum division (no cross-engine op-order ambiguity)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << (61 - p))


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    p: int = 6,
) -> DataFrame:
    """Build per-group HLL register tables: (group..., reg, max_rho).

    m = 2^p registers; reg = low p bits of the 60-bit md5 hash; rho =
    1 + leading zeros of the remaining (60-p)-bit word. The groupBy is a
    map-side-combining agg whose post-shuffle size is <= m rows per group
    regardless of input size — that bound is the whole point.

    Register tables from disjoint shards of the same corpus merge with
    `merge_registers` (max per (group, reg)) into the identical sketch the
    whole corpus would have produced (max is idempotent/commutative).
    """
    wid = 60 - p
    h = md5_hash60(F.col(value_col).cast("string"))
    w = F.shiftrightunsigned(h, p)
    nbits = F.length(F.bin(w))
    rho = F.when(w == 0, F.lit(wid + 1)).otherwise(F.lit(wid + 1) - nbits)
    return (
        df.select(
            *[F.col(g) for g in group_cols],
            F.pmod(h, F.lit(1 << p)).alias("reg"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def merge_registers(a: DataFrame, b: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge two register tables (same p) — max per (group, reg)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "reg")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_estimate(
    regs: DataFrame, group_cols: Sequence[str], p: int = 6
) -> DataFrame:
    """Estimate per-group cardinality from a register table.

    Emits (group..., m, v_zero, sum_scaled, hll_estimate): v_zero = empty
    registers (feed linear counting if wanted), sum_scaled = the exact
    integer harmonic sum (sum of 2^(S - M_j), empty registers at 2^S),
    hll_estimate = prefactor / sum_scaled — the raw HLL estimator.
    """
    m = 1 << p
    s_exp = 61 - p  # scale: max rho is (60-p)+1 = s_exp, so exponents >= 0
    # python shiftleft() wants a literal bit count; SQL shiftleft takes exprs
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {s_exp} - max_rho)")
    agg = regs.groupBy(*group_cols).agg(
        F.sum(term).alias("present_sum"),
        F.count(F.lit(1)).alias("n_present"),
    )
    sum_scaled = (
        F.col("present_sum")
        + (F.lit(m) - F.col("n_present")) * F.lit(1 << s_exp).cast("long")
    )
    return agg.select(
        *group_cols,
        F.lit(m).cast("bigint").alias("m"),
        (F.lit(m) - F.col("n_present")).cast("bigint").alias("v_zero"),
        sum_scaled.cast("bigint").alias("sum_scaled"),
        (F.lit(_prefactor(p)) / sum_scaled.cast("double")).alias("hll_estimate"),
    )


def hll_distinct(
    df: DataFrame, value_col: str, group_cols: Sequence[str], p: int = 6
) -> DataFrame:
    """registers -> estimate in one call (single-corpus convenience)."""
    return hll_estimate(hll_registers(df, value_col, group_cols, p), group_cols, p)


# ---------------------------------------------------------------------------
# Count-Min sketch — the 100 TB per-key frequency path
# ---------------------------------------------------------------------------
#
# Exact per-token counts over a 10^12-token corpus shuffle every distinct
# token; a CMS keeps depth*width integer cells per group, mergeable by SUM,
# so shards/days sketch independently and merge later. Point queries
# overestimate (never underestimate) by min-of-rows. Same determinism
# contract as the HLL above: md5-derived row hashes (reproducible in
# DuckDB) and integer-only cells, so oracles match bit-for-bit.


def cms_counts(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Per-group Count-Min cells: (group..., r, c, cnt).

    One pass: each value explodes to `depth` (row, col) pairs, col =
    md5-derived hash of ("cms{r}|" + value) mod width; groupBy is a
    map-side-combining count whose post-shuffle size is <= depth*width
    rows per group regardless of input size. Cells from disjoint shards
    merge with `cms_merge` (sum is distributive) into the identical
    sketch the whole corpus would produce."""
    val = F.col(value_col).cast("string")
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("r"),
                F.pmod(md5_hash60(F.concat(F.lit(f"cms{r}|"), val)), F.lit(width))
                .cast("int")
                .alias("c"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(*[F.col(g) for g in group_cols], F.explode(pairs).alias("rc"))
        .select(*group_cols, F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .groupBy(*group_cols, "r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge two cell tables (same depth/width) — sum per (group, r, c)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "r", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_point_query(
    cells: DataFrame,
    probes: DataFrame,
    group_cols: Sequence[str],
    probe_col: str = "probe",
    depth: int = 3,
    width: int = 64,
) -> DataFrame:
    """Estimate per (group..., probe): min over rows of the probe's cell.

    `probes` must carry the group columns + `probe_col` (one row per
    wanted estimate). Cells the sketch never touched count 0 (left join +
    coalesce). The cell table is tiny (<= depth*width per group), so the
    join broadcasts the SKETCH, never the corpus."""
    from pyspark.sql.functions import broadcast

    val = F.col(probe_col).cast("string")
    pairs = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("r"),
                F.pmod(md5_hash60(F.concat(F.lit(f"cms{r}|"), val)), F.lit(width))
                .cast("int")
                .alias("c"),
            )
            for r in range(depth)
        ]
    )
    ph = probes.select(
        *[F.col(g) for g in group_cols], probe_col, F.explode(pairs).alias("rc")
    ).select(*group_cols, probe_col, F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    joined = ph.join(broadcast(cells), [*group_cols, "r", "c"], "left")
    return (
        joined.groupBy(*group_cols, probe_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_count"))
        .withColumn("cms_count", F.col("cms_count").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# Bloom filter — the 100 TB set-membership path
# ---------------------------------------------------------------------------
#
# Broadcasting an exact distinct-key set (curation.contamination_flags)
# stops working when the reference set outgrows executor memory; a Bloom
# filter caps the build side at m bits with no false NEGATIVES (every
# true member always flags). md5-derived bit positions keep the filter —
# including its false positives — exactly reproducible in a SQL oracle.


def bloom_bits(
    df: DataFrame, value_col: str, m_bits: int = 4096, k: int = 3
) -> DataFrame:
    """Distinct set bit positions (single column `bit`) for the value set.

    The bit table is the FILTER ITSELF: <= m distinct ints regardless of
    input size, mergeable across shards by plain union+distinct (bitwise
    OR), broadcastable to every probe task."""
    val = F.col(value_col).cast("string")
    pos = F.array(
        *[
            F.pmod(md5_hash60(F.concat(F.lit(f"bloom{i}|"), val)), F.lit(m_bits)).cast(
                "int"
            )
            for i in range(k)
        ]
    )
    return (
        df.select(F.explode(pos).alias("bit")).distinct()
    )


def bloom_probe(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str],
    bits: DataFrame,
    m_bits: int = 4096,
    k: int = 3,
    out_col: str = "bloom_member",
) -> DataFrame:
    """(key..., value) rows -> (key..., value, <out_col>): member iff all
    k bit positions of value are set.

    `df` rows must be unique per (key_cols, value_col) — the natural
    shape after an explode-distinct (e.g. per-doc distinct shingles).
    Probe shape: project the SLIM (key, value) rows, explode k positions,
    broadcast-join the bit table, count hits per row — payload columns
    never enter the shuffle, only the tiny bit table moves."""
    from pyspark.sql.functions import broadcast

    val = F.col(value_col).cast("string")
    pos = F.array(
        *[
            F.pmod(md5_hash60(F.concat(F.lit(f"bloom{i}|"), val)), F.lit(m_bits)).cast(
                "int"
            )
            for i in range(k)
        ]
    )
    marked = bits.withColumn("_hit", F.lit(1))
    probed = (
        df.select(*[F.col(c) for c in key_cols], F.col(value_col))
        .withColumn("bit", F.explode(pos))
        .join(broadcast(marked), "bit", "left")
    )
    return (
        probed.groupBy(*key_cols, value_col)
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_nhits"))
        .withColumn(out_col, F.col("_nhits") == F.lit(k))
        .drop("_nhits")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch
# ---------------------------------------------------------------------------


def hist_counts(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    n_bins: int,
    lo: float,
    hi: float,
) -> DataFrame:
    """Fixed-bin equi-width histogram — the simplest MERGEABLE quantile
    sketch (the shape q-digest/t-digest refine; reference parity: the
    reference keeps per-doc latency histograms driver-side in
    PerformanceMeasurement.java:154-192 — this is the distributed,
    mergeable version of that state).

    bucket = clamp(floor((v - lo) / (hi - lo) * n_bins), 0, n_bins-1),
    all integer/exact after ONE float expression evaluated identically in
    Spark and DuckDB; counts per (group, bucket) are exact BIGINTs. The
    groupBy's map-side partial aggregation IS the shard sketch: each
    executor holds at most n_bins counters per group before the shuffle,
    so a 100 TB scan reduces to |groups|*n_bins rows regardless of row
    count. Shards/days merge by SUM (hist_merge)."""
    width_expr = (F.col(value_col) - F.lit(lo)) / F.lit(hi - lo) * F.lit(n_bins)
    bucket = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor(width_expr).cast("int")),
    )
    return (
        df.select(*[F.col(c) for c in group_cols], bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").alias("n"))
    )


def hist_merge(a: DataFrame, b: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Merge two histogram sketches over the same binning: per-bucket SUM.
    Associative + commutative, so any shard/day/corpus tree order gives
    the identical table — the property sketch_quantile_merge pins by
    hash-comparing sketch-of-shards against the oracle's single pass."""
    keys = [*group_cols, "bucket"]
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"))
    )


def hist_quantiles(
    hist: DataFrame,
    group_cols: Sequence[str],
    n_bins: int,
    lo: float,
    hi: float,
    qs: Sequence[float],
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q, the upper
    edge of the first bucket whose cumulative count reaches
    ceil(q * total). Rank arithmetic is exact-integer (ceil of q*total
    with q a literal); the estimate is one float expression
    lo + (bucket+1) * ((hi-lo)/n_bins) written identically in the oracle.
    Cumulative counts come from one bounded window per group (n_bins rows
    max), then a min(bucket) aggregation per (group, q)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("bucket")
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(*group_cols))
    )
    qlits = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    hit = (
        cum.select(*group_cols, "bucket", "cum", "total", qlits)
        .withColumn("rank", F.ceil(F.col("q") * F.col("total")).cast("bigint"))
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy(*group_cols, "q")
        .agg(
            F.min("bucket").alias("bucket"),
            F.first("total").alias("total"),
            F.first("rank").alias("rank"),
        )
    )
    est = F.lit(lo) + (F.col("bucket") + F.lit(1)) * F.lit((hi - lo) / n_bins)
    return hit.select(
        *group_cols,
        "q",
        F.col("rank").cast("bigint").alias("rank"),
        F.col("total").cast("bigint").alias("total"),
        F.col("bucket").cast("int").alias("bucket"),
        est.alias("q_est"),
    )


# 60-bit hash space (md5_hash60 values are uniform on [0, 2^60))
_KMV_SPACE = 1 << 60


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: int = 64,
) -> DataFrame:
    """Per-group KMV (k-minimum-values) sketch: the k SMALLEST distinct
    60-bit hashes of the value column — the theta-sketch building block
    (Beyer et al. 2007; Apache DataSketches' theta family). Completes
    the sketch shelf: HLL registers merge under UNION only; KMV sketches
    additionally support set INTERSECTION estimates (kmv_intersection),
    which HLL fundamentally cannot.

    Deterministic by construction: the hash is md5_hash60 (cross-engine
    exact) and "k smallest distinct" is a total order — no RNG, so a SQL
    oracle reproduces the sketch verbatim. A group with fewer than k
    distinct values keeps ALL of them (its sketch is exact).

    Shape: distinct on (group, hash) with map-side partials, then a
    rank-<=k filter over a per-group window — Spark's WindowGroupLimit
    rewrites that into per-partition group limits BEFORE the shuffle, so
    at most k rows per (group, partition) ever move; post-shuffle state
    is <= k rows per group regardless of input size (the same bound HLL
    gets from its m registers)."""
    h = md5_hash60(F.col(value_col).cast("string"))
    from pyspark.sql import Window

    d = df.select(
        *[F.col(g) for g in group_cols], h.alias("hv")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_intersection(
    df: DataFrame,
    value_col: str,
    type_col: str,
    type_a: str,
    type_b: str,
    k: int = 64,
) -> DataFrame:
    """Theta-framework set-intersection estimate between two groups'
    distinct value sets from their KMV sketches, plus the exact answer
    for self-evidencing comparison:

      sketch_X = k smallest distinct hashes of group X (all if < k)
      theta_X  = k-th smallest (max of the sketch) if |sketch_X| == k,
                 else SPACE = 2^60 (an exact sketch covers the space)
      T        = min(theta_A, theta_B)
      M        = |{h in sketch_A ∩ sketch_B : h < T}|
      est      = M * SPACE / T    (ONE IEEE division of exact integers;
                                   when both sketches are exact T=SPACE
                                   and est == M == the true count)

    Every input to the division is an exact BIGINT, so the estimate is
    bit-identical in any engine. The exact intersection rides along as
    its own column — at test scale it grades the estimate in-row; at
    100 TB a consumer drops it and keeps only the sketch path (the
    sketches are k rows per group; the exact count is the expensive
    distinct-intersect the sketch exists to avoid).

    Returns ONE row: (k, theta_t, n_matches, est_intersection,
    exact_intersection). The (<= 2k)-row sketch frame is persisted ONCE
    and feeds its three consumers (theta stats, side A, side B) — the
    text_dup_substring convention."""
    pair = df.where(F.col(type_col).isin(type_a, type_b))
    sk = cache.persist(kmv_sketch(pair, value_col, [type_col], k=k))
    stats = sk.groupBy(type_col).agg(
        F.count("*").alias("n"), F.max("hv").alias("mx")
    )
    theta = stats.select(
        F.min(
            F.when(F.col("n") >= k, F.col("mx")).otherwise(
                F.lit(_KMV_SPACE).cast("long")
            )
        ).alias("theta_t")
    )
    a = sk.where(F.col(type_col) == type_a).select("hv")
    b = sk.where(F.col(type_col) == type_b).select("hv")
    matches = (
        a.join(b, "hv")
        .crossJoin(F.broadcast(theta))
        .where(F.col("hv") < F.col("theta_t"))
        .agg(F.count("*").cast("long").alias("n_matches"))
    )
    exact = (
        pair.select(type_col, value_col)
        .distinct()
        .groupBy(value_col)
        .agg(F.count("*").alias("c"))
        .where(F.col("c") == 2)
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    return (
        matches.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(k).cast("int").alias("k"),
            F.col("theta_t").cast("long").alias("theta_t"),
            "n_matches",
            (
                F.col("n_matches").cast("double")
                * F.lit(float(_KMV_SPACE))
                / F.col("theta_t").cast("double")
            ).alias("est_intersection"),
            "exact_intersection",
        )
    )
