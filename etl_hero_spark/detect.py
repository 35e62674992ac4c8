"""Detection operators — the reference's "missions" (P2-P5, app.py:210-237).

Each detector returns either a DataFrame of findings or a flagged copy
of the input (extra boolean column). ``with_outlier_flags`` and
``detect_missions`` reach their z-score statistics through a broadcast
1-row stats DataFrame (crossJoin): building them runs no job, and the
stats execute inside the one query that uses them. ``detect_outliers``
and ``detect_outliers_iqr`` run their stats first (concurrent per-column
jobs) and fold them into the counting scan as literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_hero_spark.features import _dlit
from etl_hero_spark.profile import (
    dec_avg,
    dec_stddev_pop,
    duplicate_count,
    null_counts,
    numeric_columns,
    sql_dec_avg,
    sql_dec_std,
    sql_ident,
    sql_str,
    string_columns,
)

DEFAULT_ZSCORE_THRESHOLD = 3.0  # reference default, app.py:62
DEFAULT_DATE_FORMATS = ["yyyy-MM-dd", "dd/MM/yyyy", "MM-dd-yyyy"]
DATE_LIKE_RATIO = 0.6  # reference threshold, app.py:205


# ---------------------------------------------------------------------------
# P2 — z-score outliers (population sigma, ddof=0: app.py:67)
# ---------------------------------------------------------------------------


def zscore_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """1-row DataFrame of mu_<c>, sigma_<c> for each column — one scan."""
    exprs: list[Column] = []
    for c in cols:
        exprs += [dec_avg(c, f"mu_{c}"), dec_stddev_pop(c, f"sigma_{c}")]
    return df.agg(*exprs)


def zscore_flag(c: str, mu: Column, sigma: Column, threshold: float) -> Column:
    """|c - mu| / sigma > threshold, never NULL: sigma NULL or 0 and a
    NULL value both read False."""
    flag = F.when(sigma.isNull() | (sigma == 0), F.lit(False)).otherwise(
        F.abs((F.col(c) - mu) / sigma) > threshold
    )
    return F.coalesce(flag, F.lit(False))


def with_outlier_flags(
    df: DataFrame,
    cols: list[str] | None = None,
    threshold: float = DEFAULT_ZSCORE_THRESHOLD,
) -> DataFrame:
    """Input plus boolean is_outlier_<c> per numeric column.

    Semantics match detect_outliers_zscore (app.py:62-71): sigma==0 or
    null sigma -> no outliers; NULL values -> not outliers (NULL comparison
    is false under filter). The stats side is a 1-row broadcast — Catalyst
    plans BroadcastNestedLoopJoin, effectively a free map-side literal.
    """
    cols = cols or numeric_columns(df)
    stats = zscore_stats(df, cols)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(
            f"is_outlier_{c}",
            zscore_flag(c, F.col(f"mu_{c}"), F.col(f"sigma_{c}"), threshold),
        )
    drop = [f"mu_{c}" for c in cols] + [f"sigma_{c}" for c in cols]
    return out.drop(*drop)


def zscore_stats_map(
    df: DataFrame, cols: list[str]
) -> dict[str, tuple[float | None, float | None]]:
    """{col: (mu, sigma)} via CONCURRENT per-column jobs — same rationale
    as profile.distinct_counts_map: each job's codegen unit is small and
    its scan is pruned to one column, and the jobs overlap; one wide
    all-columns decimal agg compiles a giant codegen stage whose one-off
    compile cost dominates interactive runs."""
    from concurrent.futures import ThreadPoolExecutor

    def one(c: str):
        r = df.agg(dec_avg(c, "mu"), dec_stddev_pop(c, "sigma")).first()
        return c, (r["mu"], r["sigma"])

    with ThreadPoolExecutor(max_workers=min(len(cols), 16)) as ex:
        return dict(ex.map(one, cols))


def detect_outliers(
    df: DataFrame,
    cols: list[str] | None = None,
    threshold: float = DEFAULT_ZSCORE_THRESHOLD,
) -> DataFrame:
    """(column, n_outliers) per numeric column — the P2 mission surface.

    Two-phase: per-column stats jobs (overlapping, pruned scans), then
    ONE counting scan with mu/sigma folded in as literals — the count
    expressions are plain double arithmetic, no stats join at all.
    Columns with sigma NULL/0/NaN are excluded (reference: no outliers
    when the column is constant or non-numeric, app.py:68-69)."""
    import math

    cols = cols or numeric_columns(df)
    stats = zscore_stats_map(df, cols) if cols else {}

    def usable(s):
        mu, sigma = s
        return (
            mu is not None
            and sigma is not None
            and sigma != 0.0
            and not math.isnan(sigma)
        )

    active = [c for c in cols if usable(stats[c])]
    if not active:
        return df.sparkSession.createDataFrame(
            [], "column string, n_outliers bigint"
        )
    wide = df.agg(
        *[
            F.sum(
                F.when(
                    F.abs((F.col(c) - F.lit(stats[c][0])) / F.lit(stats[c][1]))
                    > threshold,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(c)
            for c in active
        ]
    )
    # unpivot the 1-row wide result into (column, n_outliers)
    stack_expr = ", ".join(f"{sql_str(c)}, {sql_ident(c)}" for c in active)
    return wide.selectExpr(
        f"stack({len(active)}, {stack_expr}) as (column, n_outliers)"
    )


# ---------------------------------------------------------------------------
# P3 — missing values
# ---------------------------------------------------------------------------


def detect_missing(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n_null) for columns with at least one NULL (app.py:225-228)."""
    cols = cols or df.columns
    wide = null_counts(df, cols)
    stack_expr = ", ".join(f"{sql_str(c)}, {sql_ident('n_null_' + c)}" for c in cols)
    return (
        wide.selectExpr(f"stack({len(cols)}, {stack_expr}) as (column, n_null)")
        .filter(F.col("n_null") > 0)
    )


# ---------------------------------------------------------------------------
# P4 — duplicates
# ---------------------------------------------------------------------------


def detect_duplicates(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """1-row (n_duplicates) — occurrences after the first (app.py:230-232)."""
    return duplicate_count(df, subset)


# ---------------------------------------------------------------------------
# P5 — date-likeness via explicit format list (declarative replacement for
# the reference's dateutil row-scan, app.py:73-81; see SURVEY §2.5 trap)
# ---------------------------------------------------------------------------


def parse_date_expr(col: str | Column, formats: list[str] | None = None) -> Column:
    """First-success parse across an explicit format list -> DateType.

    try_to_date per format, coalesced — NULL on total failure, never an
    ANSI error. Vectorized/codegen'd; replaces the reference's per-row
    dateutil loop (10^4x throughput class difference at scale).
    """
    c = F.col(col) if isinstance(col, str) else col
    formats = formats or DEFAULT_DATE_FORMATS
    return F.coalesce(*[F.try_to_date(c, f) for f in formats])


def date_likeness(
    df: DataFrame, cols: list[str] | None = None, formats: list[str] | None = None
) -> DataFrame:
    """(column, n_total, n_parsed, parse_ratio, is_date_like, is_mixed) per
    string column. is_date_like: ratio > 0.6 (app.py:205); is_mixed:
    0 < n_parsed < n_non_null (app.py:236)."""
    cols = cols if cols is not None else string_columns(df)
    if not cols:
        return df.sparkSession.createDataFrame(
            [],
            "column string, n_total bigint, n_parsed bigint, "
            "parse_ratio double, is_date_like boolean, is_mixed boolean",
        )
    aggs: list[Column] = []
    for c in cols:
        parsed = parse_date_expr(c, formats)
        aggs += [
            F.count(F.col(c)).alias(f"n_{c}"),
            F.count(parsed).alias(f"p_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"{sql_str(c)}, {sql_ident('n_' + c)}, {sql_ident('p_' + c)}" for c in cols
    )
    long = wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (column, n_total, n_parsed)"
    )
    ratio = F.when(
        F.col("n_total") > 0, F.col("n_parsed") / F.col("n_total")
    ).otherwise(F.lit(0.0))
    return (
        long.withColumn("parse_ratio", F.round(ratio, 6))
        .withColumn("is_date_like", F.col("parse_ratio") > DATE_LIKE_RATIO)
        .withColumn(
            "is_mixed",
            (F.col("n_parsed") > 0) & (F.col("n_parsed") < F.col("n_total")),
        )
    )


# ---------------------------------------------------------------------------
# Mission roll-up — the reference's per-rerun detection sweep (app.py:210-240)
# ---------------------------------------------------------------------------


def detect_missions(
    df: DataFrame,
    zscore_threshold: float = DEFAULT_ZSCORE_THRESHOLD,
    date_formats: list[str] | None = None,
) -> DataFrame:
    """All four mission classes in one DataFrame:
    (mission, column, metric). Empty result == "no problems found"
    (app.py:240). Rows and their order are those of the union of
    detect_outliers (n_outliers > 0), detect_missing, detect_duplicates
    (n_duplicates > 0) and date_likeness (is_mixed, metric n_total -
    n_parsed) — pinned against that union in tests/test_detect.py.

    ONE lazy query; building it runs no job. groupBy(all columns).count()
    is the duplicate count's one shuffle; every other metric is a
    function of the group key, so one global aggregate of sums weighted
    by the group count ``_cnt`` yields them all: NULLs per column,
    sum(_cnt - 1) duplicates, parsed/non-NULL counts per string column,
    and z-score outliers per numeric column. mu/sigma come from a 1-row
    dec_avg/dec_stddev_pop subquery over ``df`` broadcast onto the
    groups; a sigma NULL, 0 or NaN counts no outliers. One stack
    unpivots the aggregate. Expressions are SQL text (one py4j call per
    projection, not per Column node)."""
    cols = df.columns
    q = {c: sql_ident(c) for c in cols}
    nums = numeric_columns(df)
    groups = df.groupBy(*[F.col(q[c]) for c in cols]).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    if nums:
        stats = df.selectExpr(
            *[
                e
                for i, c in enumerate(nums)
                for e in (
                    f"{sql_dec_avg(q[c])} AS __mu{i}",
                    f"{sql_dec_std(q[c])} AS __sd{i}",
                )
            ]
        )
        groups = groups.crossJoin(F.broadcast(stats))

    def weighted(cond: str) -> str:
        return f"sum(CASE WHEN {cond} THEN _cnt ELSE 0 END)"

    thr = _dlit(zscore_threshold)
    cells = [
        (
            "outliers",
            c,
            f"sum(CASE WHEN __sd{i} = 0 OR isnan(__sd{i}) THEN 0 "
            f"WHEN abs(({q[c]} - __mu{i}) / __sd{i}) > {thr} THEN _cnt "
            "ELSE 0 END)",
        )
        for i, c in enumerate(nums)
    ]
    cells += [("missing", c, weighted(f"{q[c]} IS NULL")) for c in cols]
    cells.append(("duplicates", "*", "sum(_cnt - 1)"))
    for c in string_columns(df):
        parsed = ", ".join(
            f"try_to_date({q[c]}, {sql_str(f)})"
            for f in date_formats or DEFAULT_DATE_FORMATS
        )
        n = weighted(f"{q[c]} IS NOT NULL")
        p = weighted(f"coalesce({parsed}) IS NOT NULL")
        cells.append(
            ("date_mixed", c, f"CASE WHEN {p} > 0 AND {p} < {n} THEN {n} - {p} END")
        )
    wide = groups.selectExpr(
        *[f"CAST({m} AS BIGINT) AS __m{k}" for k, (_, _, m) in enumerate(cells)]
    )
    stack = ", ".join(
        f"{sql_str(mission)}, {sql_str(c)}, __m{k}"
        for k, (mission, c, _) in enumerate(cells)
    )
    return wide.selectExpr(
        f"stack({len(cells)}, {stack}) AS (mission, column, metric)"
    ).filter("metric > 0")


def detect_anomalies_mad(
    df: DataFrame,
    col: str,
    group_cols: list[str] | str,
    k: float = 3.5,
) -> DataFrame:
    """Robust per-group anomaly detection via median/MAD — the
    z-score's (P2) scale-hardened sibling: median and MAD have a 50%
    breakdown point, so a burst of extreme values cannot mask itself by
    inflating the mean and stddev the way it does for z-scores.

    Flags rows where |x - median_g| > k * MAD_g (k=3.5 ~ the classic
    Iglewicz-Hoberg cutoff scaled for raw MAD). Groups with MAD = 0
    (constant or near-constant) flag nothing, matching P2's sigma=0
    guard; NULL x is never an anomaly, and groups with NO non-null x
    have no median to compare against and are dropped.

    Output: group_cols + n, n_anomalies, med, mad — one row per group.

    Plan: two grouped percentile passes (median, then median of
    |x - med| after a broadcast join of the tiny med table) + one
    conditional-count agg folded into the second pass's join side.
    Group keys are low-cardinality dimensions (event types, sources),
    so both joins broadcast and the fact table shuffles only for the
    two grouped aggs — percentile STATE crosses the wire, not rows.
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    def _nullsafe_join(left, right, how="inner"):
        # NULL group keys are real groups and must match their own
        # stats row — plain equi-join keys would drop that whole
        # subpopulation silently
        r = right.select(
            *[F.col(g).alias(f"_g_{g}") for g in group_cols],
            *[c for c in right.columns if c not in group_cols],
        )
        cond = None
        for g in group_cols:
            eq = F.col(g).eqNullSafe(F.col(f"_g_{g}"))
            cond = eq if cond is None else cond & eq
        return left.join(F.broadcast(r), cond, how).drop(
            *[f"_g_{g}" for g in group_cols]
        )

    med = df.filter(F.col(col).isNotNull()).groupBy(*group_cols).agg(
        F.percentile(col, F.lit(0.5)).alias("_med")
    )
    dev = _nullsafe_join(df, med).withColumn(
        "_adev", F.abs(F.col(col) - F.col("_med"))
    )
    mad = dev.filter(F.col(col).isNotNull()).groupBy(*group_cols).agg(
        F.percentile("_adev", F.lit(0.5)).alias("_mad")
    )
    flagged = _nullsafe_join(dev, mad)
    return (
        flagged.groupBy(*group_cols)
        .agg(
            F.count(col).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    (F.col("_mad") > 0)
                    & (F.col("_adev") > F.lit(k) * F.col("_mad")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
            F.first("_med").alias("med"),
            F.first("_mad").alias("mad"),
        )
    )


def iqr_bounds(
    df: DataFrame,
    col: str,
    k: float = 1.5,
    approx: bool = False,
    round_bounds: int | None = 2,
) -> tuple:
    """Tukey fences for one column: (Q1 - k*IQR, Q3 + k*IQR) from exact
    interpolated quartiles (t-digest behind approx=True for the 100 TB
    path). The reference LISTS IQR outliers as future work (app.py:397,
    'outlier IQR in alternativa a z-score') without shipping it — this
    completes that roadmap item with standard Tukey semantics. Bounds
    round to a 2dp grid like clip_outliers so comparisons are
    engine-independent. Returns (None, None) on an all-null column."""
    from etl_hero_spark.profile import quantiles

    qs = quantiles(df, col, [0.25, 0.75], approx=approx)
    if not qs or qs[0] is None:
        return (None, None)
    q1, q3 = qs
    lo, hi = q1 - k * (q3 - q1), q3 + k * (q3 - q1)
    if round_bounds is not None:
        lo, hi = round(lo, round_bounds), round(hi, round_bounds)
    return (lo, hi)


def detect_outliers_iqr(
    df: DataFrame,
    cols: list[str] | None = None,
    k: float = 1.5,
    approx: bool = False,
    round_bounds: int | None = 2,
) -> DataFrame:
    """(column, n_outliers, lo, hi) per numeric column under the Tukey
    rule — the IQR twin of detect_outliers (P2). Same two-phase plan:
    concurrent per-column quartile jobs fold the fences in as plan
    literals, then ONE counting scan; NULLs are never outliers. A
    constant column has IQR 0 -> fences collapse to the constant ->
    zero outliers (the sigma==0 guard's analogue, free by construction).

    ``round_bounds``: decimal places for the fence grid (default 2, the
    clip_outliers convention). Pass None for the raw IEEE fences — the
    hash-exact cross-engine form (q1 - k*(q3-q1) is the same double in
    any engine computing the same expression; a driver-side decimal
    round is not).
    """
    from concurrent.futures import ThreadPoolExecutor

    cols = cols or numeric_columns(df)
    if not cols:
        # before the pool: max_workers=0 is a ValueError, and there is
        # nothing to probe anyway
        return df.sparkSession.createDataFrame(
            [], "column string, n_outliers bigint, lo double, hi double"
        )

    def one(c):
        return c, iqr_bounds(df, c, k, approx, round_bounds)

    with ThreadPoolExecutor(max_workers=min(len(cols), 16)) as ex:
        bounds = dict(ex.map(one, cols))
    usable = [c for c in cols if bounds[c][0] is not None]
    if not usable:
        return df.sparkSession.createDataFrame(
            [], "column string, n_outliers bigint, lo double, hi double"
        )
    counts = df.agg(
        *[
            F.sum(
                (
                    (F.col(c) < bounds[c][0]) | (F.col(c) > bounds[c][1])
                ).cast("long")
            ).alias(c)
            for c in usable
        ]
    ).first()
    rows = [
        (c, int(counts[c] or 0), bounds[c][0], bounds[c][1])
        for c in usable
    ]
    return df.sparkSession.createDataFrame(
        rows, "column string, n_outliers bigint, lo double, hi double"
    )


# ---------------------------------------------------------------------------
# seasonal anomaly — z-scores against an hour-of-day baseline (the E2
# z-score mission lifted to time-series shape: "is 3am traffic abnormal
# FOR 3am", not "for the whole day")
# ---------------------------------------------------------------------------


def seasonal_anomaly_buckets(
    events: DataFrame,
    ts_col: str = "ts",
    threshold: float = DEFAULT_ZSCORE_THRESHOLD,
) -> DataFrame:
    """Per (day, hour-of-day) activity buckets scored against each
    hour-of-day's OWN baseline across days: bucket counts -> per-hour
    decimal-exact mean/std (ddof=0, the engine-wide convention) -> z per
    bucket. A traffic spike at 3am is anomalous against 3am's history
    even when it would be normal at noon — the seasonality the global
    z-score mission (P2) is blind to.

    Output: (day, hour, n_events, z, is_anomalous). Plan: one
    (day, hour) groupBy of the raw events, one (hour) re-aggregation of
    the <=24*days bucket rows (tiny), broadcast of the 24-row baseline
    back onto buckets — no second scan of the raw data. Constant hours
    (sigma 0/NULL) are never anomalous, matching detect_outliers."""
    buckets = events.groupBy(
        F.date_format(ts_col, "yyyy-MM-dd").alias("day"),
        F.hour(ts_col).cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    base = buckets.groupBy("hour").agg(
        dec_avg("n_events", "mu"), dec_stddev_pop("n_events", "sigma")
    )
    z = F.when(
        F.col("sigma").isNotNull() & (F.col("sigma") != 0),
        F.round((F.col("n_events") - F.col("mu")) / F.col("sigma"), 6),
    )
    return (
        buckets.join(F.broadcast(base), "hour")
        .withColumn("z", z)
        .withColumn(
            "is_anomalous",
            F.coalesce(F.abs(F.col("z")) > threshold, F.lit(False)).cast(
                "int"
            ),
        )
        .select("day", "hour", "n_events", "z", "is_anomalous")
    )
