"""Column-profiling statistics for pipeline data-quality gates.

A training-data pipeline fronts every ingest with distribution checks
(drift, outliers, degenerate partitions). Two tiers:

  * profile_numeric — EXACT grouped quantiles (linear interpolation on the
    sorted values) + min/max/count. Exact percentile buffers each group's
    values in the aggregation state, so it is for dims / samples / bounded
    groups. Its arithmetic (index = p·(n−1), one lerp per quantile) is
    bit-identical to DuckDB's quantile_cont — hash-checkable cross-engine.
  * profile_numeric_approx — the 100 TB path: approx_percentile
    (a mergeable quantile sketch aggregated map-side in constant memory
    per group) with the same output shape. Accuracy dial =
    `accuracy` (10000 ≈ 0.01% rank error); not oracle-comparable by
    construction, so it ships behind the exact variant's tested contract.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

QUANTILES = (0.5, 0.9, 0.99)


def _finish(df: DataFrame, group_col: str) -> DataFrame:
    return df.selectExpr(
        group_col,
        "n",
        "vmin",
        "vmax",
        "q[0] AS p50",
        "q[1] AS p90",
        "q[2] AS p99",
    )


def profile_numeric(
    df: DataFrame, group_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    qs = ", ".join(f"{q}D" for q in QUANTILES)
    agg = df.groupBy(group_col).agg(
        F.count(value_col).alias("n"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
        F.expr(f"percentile({value_col}, array({qs}))").alias("q"),
    )
    return _finish(agg, group_col)


def profile_numeric_approx(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    accuracy: int = 10000,
) -> DataFrame:
    qs = ", ".join(f"{q}D" for q in QUANTILES)
    agg = df.groupBy(group_col).agg(
        F.count(value_col).alias("n"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
        F.expr(
            f"approx_percentile({value_col}, array({qs}), {accuracy})"
        ).alias("q"),
    )
    return _finish(agg, group_col)


def profile_numeric_hist(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    bins: int = 256,
) -> DataFrame:
    """The deterministic sketch profile — the 100 TB default.

    Fixed-width histogram quantiles: one O(groups) min/max/count pass, a
    broadcast join-back, then per-(group, bin) counts — aggregation state
    is bounded by `bins` per group (mergeable map-side: bin counts are
    additive), unlike the exact variant's full per-group value buffer. A
    quantile is answered as the UPPER EDGE of the first bin whose
    cumulative count reaches ceil(q*n); estimate error <= range/bins.

    Every arithmetic step (bin index, cumulative rank, edge
    reconstruction) is plain IEEE double + integer ops in a fixed order,
    so the result is bit-reproducible by any SQL engine — this variant is
    hash-checkable cross-engine, where approx_percentile's sketch is not.
    """
    from pyspark.sql import Window

    g, v = F.col(group_col), F.col(value_col)
    ranges = df.filter(v.isNotNull()).groupBy(group_col).agg(
        F.count(value_col).alias("n"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )
    binned = (
        df.filter(v.isNotNull())
        .join(F.broadcast(ranges), group_col)
        .withColumn(
            "bin",
            F.when(
                F.col("vmax") > F.col("vmin"),
                F.least(
                    F.lit(bins - 1),
                    F.floor(
                        (v - F.col("vmin"))
                        / (F.col("vmax") - F.col("vmin"))
                        * F.lit(float(bins))
                    ).cast("int"),
                ),
            ).otherwise(F.lit(0)),
        )
    )
    # n/vmin/vmax ride the grouping key (functionally determined by the
    # group) instead of re-joining `ranges` here — a second join would
    # re-execute the whole min/max/count scan of the input, tripling the
    # data passes this "one range pass + one bin pass" design promises
    hist = binned.groupBy(group_col, "n", "vmin", "vmax", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    qbins = cum.groupBy(group_col, "n", "vmin", "vmax").agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin")
                )
            ).alias(f"b{int(q * 100)}")
            for q in QUANTILES
        ]
    )

    def edge(bcol: str):
        return F.when(
            F.col("vmax") > F.col("vmin"),
            F.col("vmin")
            + (F.col(bcol) + 1)
            * ((F.col("vmax") - F.col("vmin")) / F.lit(float(bins))),
        ).otherwise(F.col("vmin"))

    return qbins.select(
        group_col,
        "n",
        "vmin",
        "vmax",
        edge("b50").alias("p50"),
        edge("b90").alias("p90"),
        edge("b99").alias("p99"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by the ISO week of
    their FIRST event (the cohort), then counted per (cohort_week,
    week_offset) over every week they were active — the standard
    product-analytics triangle, and at corpus scale the freshness/
    churn profile of a crawl's contributing sources.

    Two aggregations, both on keys that shrink the data before they
    shuffle: distinct (user, week) activity first (map-side partial
    dedup), then min(week) per user for the cohort (bounded reducer
    state), broadcast back over the activity rows. week_offset is exact
    integer day arithmetic / 7 (date_trunc('week') is ISO-Monday in both
    Spark and DuckDB); retention is ONE IEEE division by the cohort's
    week-0 size. Returns (cohort_week, week_offset, n_active, cohort_size,
    retention).
    """
    weekly = (
        events.select(
            F.col(user_col).alias("user_id"),
            F.date_trunc("week", F.col(ts_col)).cast("date").alias("week"),
        )
        .distinct()
    )
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    # cohorts is per-user (can be 10^9 rows) — shuffle join on user_id,
    # the same key the weekly distinct just partitioned on, so AQE reuses
    # the exchange; only the tiny week-0 base table is broadcast.
    counts = (
        weekly.join(cohorts, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
    )
    base = counts.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    # cohort_week leaves as an ISO string: DATE round-trips differently
    # through Arrow/pandas in Spark (datetime.date) vs DuckDB
    # (datetime64), which breaks cross-engine value comparison even when
    # the dates are identical.
    return counts.join(F.broadcast(base), "cohort_week").select(
        F.col("cohort_week").cast("string").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias("retention"),
    )


def correlation(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Pearson correlation + OLS slope with EXACT cross-row
    accumulation: the five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²)
    are summed as decimals (order-independent — the repo rule: never sum
    raw doubles across rows), and the final r and slope are single IEEE
    expressions over the five scalars. One documented cross-engine seam
    remains: converting a decimal sum whose UNSCALED value exceeds 2^53
    to double can differ by 1 ulp between engines (Java BigDecimal
    converts in one correctly-rounded step; DuckDB's int128 path rounds
    twice), so the two emitted ratios are quantized to 1e-12 on both
    sides — the same explicit-contract convention as events_rolling's
    second-granularity note. The sums themselves stay exact.

    Contract: inputs must be exactly representable at DECIMAL(18,2)
    (prices/quantities); NULLs in either column drop the row (standard
    pairwise-complete). Degenerate groups (zero variance in either
    column) emit NULL r rather than a division error; slope needs only
    x-variance.

    Shape: one groupBy with map-side partial decimal sums — the same
    single-exchange profile as profile_numeric, state O(1) per group."""
    xd = F.col(x_col).cast("decimal(18,2)")
    yd = F.col(y_col).cast("decimal(18,2)")
    agg = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(xd).cast("double").alias("sx"),
            F.sum(yd).cast("double").alias("sy"),
            F.sum(xd * yd).cast("double").alias("sxy"),
            F.sum(xd * xd).cast("double").alias("sx2"),
            F.sum(yd * yd).cast("double").alias("sy2"),
        )
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sx2") - F.col("sx") * F.col("sx")
    deny = nd * F.col("sy2") - F.col("sy") * F.col("sy")
    return agg.select(
        group_col,
        "n",
        F.round(
            F.when((denx > 0) & (deny > 0), num / F.sqrt(denx * deny)), 12
        ).alias("pearson_r"),
        F.round(F.when(denx > 0, num / denx), 12).alias("ols_slope"),
    )


def chi2_cells(
    df: DataFrame,
    type_col: str,
    value_col: str,
    bands: tuple,
) -> DataFrame:
    """Per-cell chi-square independence decomposition of a categorical
    column against a literal-threshold banding of a numeric column — the
    drift / association gate a training-data pipeline runs between a
    source dimension and a quality score (reference analogue: the
    per-group score profiling family; the statistic itself is standard
    Pearson chi-square).

    Contingency counts, row totals, column totals and N are exact
    BIGINTs from three aggregations over the SAME tiny contingency table
    (the per-cell table is |types| x |bands| rows, so the total/join
    stages cost nothing regardless of input scale; the one real shuffle
    is the first groupBy, map-side combined). Each output row carries
    its OWN expected count and (O-E)^2/E contribution: summing doubles
    across rows is never needed inside the operator. Every factor is
    cast to DOUBLE before it is multiplied, so no product can overflow
    BIGINT (r*c*N passes 2^63 near N = 2.1M rows; under ANSI mode that
    raised ARITHMETIC_OVERFLOW). The emitted floats stay engine-exact
    while N^2 < 2^53 (N up to ~94M rows): O*N and r*c are then exact
    doubles, so d = O*N - r*c is exact, and (r*c)*N rounds once, as the
    BIGINT-to-DOUBLE cast of an exact product would.

    Rows whose value is NULL are dropped before banding: a NULL has no
    band, and it must not fall into the top one.

    Returns (type, band, observed, row_total, col_total, n_total,
    expected, contrib); chi2 = sum(contrib),
    dof = (n_types - 1) * (n_bands - 1).
    """
    band = F.when(F.col(value_col) < bands[0], F.lit("b0"))
    for i, thr in enumerate(bands[1:], start=1):
        band = band.when(F.col(value_col) < thr, F.lit(f"b{i}"))
    band = band.otherwise(F.lit(f"b{len(bands)}"))
    o = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(type_col).alias("event_type"), band.alias("band"))
        .groupBy("event_type", "band")
        .agg(F.count("*").alias("observed"))
    )
    r = o.groupBy("event_type").agg(F.sum("observed").alias("row_total"))
    c = o.groupBy("band").agg(F.sum("observed").alias("col_total"))
    n = o.agg(F.sum("observed").alias("n_total"))
    cell = (
        o.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "band")
        .crossJoin(F.broadcast(n))
    )
    obs, r_t, c_t, n_t = (
        F.col(k).cast("double")
        for k in ("observed", "row_total", "col_total", "n_total")
    )
    d = obs * n_t - r_t * c_t
    return cell.select(
        "event_type",
        "band",
        F.col("observed").cast("bigint").alias("observed"),
        F.col("row_total").cast("bigint").alias("row_total"),
        F.col("col_total").cast("bigint").alias("col_total"),
        F.col("n_total").cast("bigint").alias("n_total"),
        (r_t * c_t / n_t).alias("expected"),
        (d * d / (r_t * c_t * n_t)).alias("contrib"),
    )


def position_attribution(events: DataFrame, window_days: int = 2) -> DataFrame:
    """U-shaped (position-based 40/20/40) multi-touch attribution over an
    event log: each 'purchase' conversion distributes 10,000 basis
    points across the same user's preceding 'view'/'click' touches
    within a trailing `window_days` window — 4,000 bp to the first and
    last touch, the middle 2,000 bp split by integral division with the
    remainder assigned to the last middle position, so credit per
    conversion sums to exactly 10,000. Integer arithmetic end to end.

    Shape: ONE groupBy(user_id) builds the (ts, event_id, event_type)
    array sorted in-row, then nested higher-order lambdas emit
    (conversion, touch, position, credit) rows map-side — the per-user
    state is the user's own history (the events_funnel / sessionize
    bounded-by-key contract; pre-bucket pathological users at 10^6+
    events). No self-join: the equivalent join enumerates |purchases| x
    |touches| pairs per user through a shuffle, this plan touches each
    user's partition once. Strictly-before is (ts, event_id) tuple
    order, so equal timestamps resolve deterministically.
    """
    grouped = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    )
    # one pass: bind each purchase to its touch array ONCE (so the filter
    # runs once per purchase and its size rides along), then explode.
    # strictly-before = (ts, event_id) tuple order; the trailing bound is
    # whole-day INTERVAL subtraction — exact microsecond arithmetic on the
    # NTZ timestamp in both engines (unix_micros would reject NTZ).
    win_days = int(window_days)
    pairs = F.expr(
        f"""
        flatten(transform(
          transform(
            filter(evs, p -> p.event_type = 'purchase'),
            p -> struct(
              p.event_id AS pid,
              filter(evs, t -> t.event_type IN ('view', 'click')
                     AND (t.ts < p.ts
                          OR (t.ts = p.ts AND t.event_id < p.event_id))
                     AND t.ts >= p.ts - INTERVAL '{win_days}' DAY
              ) AS tch)
          ),
          q -> transform(q.tch, (t, i) -> struct(
                 q.pid AS conv_event_id,
                 t.event_id AS touch_event_id,
                 t.event_type AS touch_type,
                 CAST(i + 1 AS INT) AS position,
                 CAST(size(q.tch) AS BIGINT) AS n_touches))
        ))
        """
    )
    exploded = (
        grouped.select("user_id", F.explode_outer(pairs).alias("a"))
        .where(F.col("a").isNotNull())
        .select("user_id", "a.conv_event_id", "a.touch_event_id",
                "a.touch_type", "a.position", "a.n_touches")
    )
    credit = (
        F.when(F.col("n_touches") == 1, F.lit(10000))
        .when(F.col("n_touches") == 2, F.lit(5000))
        .when(
            (F.col("position") == 1) | (F.col("position") == F.col("n_touches")),
            F.lit(4000),
        )
        .otherwise(
            F.expr("2000 div (n_touches - 2)")
            + F.when(
                F.col("position") == F.col("n_touches") - 1,
                F.expr("2000 % (n_touches - 2)"),
            ).otherwise(F.lit(0))
        )
    )
    return exploded.select(
        "user_id",
        "conv_event_id",
        "touch_event_id",
        "touch_type",
        "position",
        "n_touches",
        credit.cast("int").alias("credit_bp"),
    )


def ks_two_sample(
    df: DataFrame,
    type_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two groups — THE standard distribution-drift gate a
    training-data pipeline runs between ingest batches / sources. D =
    sup_x |F_a(x) - F_b(x)| evaluated at observed values, computed in
    exact scaled integers: at each distinct value, |cum_a * n_b -
    cum_b * n_a| is a BIGINT (cum counts <= n <= 2^31 each, product
    < 2^63), the max is order-independent, and `d` is ONE IEEE division
    by n_a*n_b. The supremum location is reported with a deterministic
    min-value tie-break.

    Shape: one groupBy(value) with map-side combine collapses the corpus
    to its distinct-value table, then ONE single-partition window
    computes both cumulative counts — bounded by |distinct values|, not
    rows (at 100 TB pre-quantize the value column so the distinct table
    stays bounded; the statistic then bounds the true D within one
    quantization bin). Returns one row: (n_a, n_b, d_scaled, d,
    at_value).
    """
    from pyspark.sql import Window

    a_flag = (F.col(type_col) == group_a).cast("long")
    b_flag = (F.col(type_col) == group_b).cast("long")
    per_val = (
        df.where(F.col(type_col).isin(group_a, group_b))
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.sum(a_flag).alias("ca"), F.sum(b_flag).alias("cb"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_val.select(
        "v",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = per_val.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        "v",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).cast("bigint").alias("diff_scaled"),
    )
    best = scored.groupBy("n_a", "n_b").agg(
        F.max("diff_scaled").alias("d_scaled"),
        F.min_by(
            "v", F.struct((F.col("diff_scaled") * -1).alias("nd"), F.col("v"))
        ).alias("at_value"),
    )
    return best.select(
        "n_a",
        "n_b",
        F.col("d_scaled").cast("bigint").alias("d_scaled"),
        (
            F.col("d_scaled").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("d"),
        "at_value",
    )
