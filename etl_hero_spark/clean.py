"""Remediation operators (reference R1-R4, app.py:248-352).

Every remediation is a pure DataFrame -> DataFrame transform. Scalar
statistics (median / mean / mode / percentiles) are computed in a single
tiny aggregate job and folded into the plan as literals — the same shape
the reference uses (compute stat, then conditional write, app.py:255-273)
but lazy and distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_hero_spark.detect import (
    DEFAULT_ZSCORE_THRESHOLD,
    parse_date_expr,
    with_outlier_flags,
    zscore_flag,
    zscore_stats,
)
from etl_hero_spark.profile import mode_value, quantiles

# ---------------------------------------------------------------------------
# R1 — outliers
# ---------------------------------------------------------------------------


def remove_outliers(
    df: DataFrame, col: str, threshold: float = DEFAULT_ZSCORE_THRESHOLD
) -> DataFrame:
    """R1a (app.py:251-254): drop rows where |z| > threshold."""
    flagged = with_outlier_flags(df, [col], threshold)
    return flagged.filter(~F.col(f"is_outlier_{col}")).drop(f"is_outlier_{col}")


def replace_outliers(
    df: DataFrame,
    col: str,
    strategy: str = "median",
    threshold: float = DEFAULT_ZSCORE_THRESHOLD,
) -> DataFrame:
    """R1b/R1c (app.py:255-266): replace outlier values with the median /
    mean of the NON-outlier rows (the reference computes the statistic
    after masking — a subtle but load-bearing detail).

    mu and sigma are read in one tiny job and enter the plan as literals,
    with the flag semantics of ``with_outlier_flags`` (its lazy form,
    which broadcast-joins the stats row instead): the result is one
    projection with no join, so later scans of it do not re-run the
    stats aggregate."""
    row = zscore_stats(df, [col]).first()
    flag = zscore_flag(
        col,
        F.lit(row[f"mu_{col}"]).cast("double"),
        F.lit(row[f"sigma_{col}"]).cast("double"),
        threshold,
    )
    keep = df.filter(~flag)
    if strategy == "median":
        stat = keep.agg(F.percentile(col, 0.5).alias("v")).first()["v"]
    elif strategy == "mean":
        from etl_hero_spark.profile import dec_avg

        stat = keep.agg(dec_avg(col, "v")).first()["v"]
    else:  # pragma: no cover - guarded by API
        raise ValueError(f"unknown strategy {strategy!r}")
    return df.withColumn(col, F.when(flag, F.lit(stat)).otherwise(F.col(col)))


def clip_outliers(
    df: DataFrame,
    col: str,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    round_bounds: int | None = 2,
    approx: bool = False,
) -> DataFrame:
    """R1d (app.py:267-273): clip to [q_lower, q_upper] computed over the
    FULL column (outliers included — reference behavior). NULL passes
    through (greatest/least propagate null -> coalesce keeps it null,
    matching pandas clip on NaN).

    round_bounds pins the thresholds to a decimal grid so the comparison
    set is engine-independent; approx=True uses t-digest at scale.
    """
    qs = quantiles(df, col, [lower_q, upper_q], approx=approx)
    if not qs or qs[0] is None:
        return df
    lo, hi = qs
    if round_bounds is not None:
        lo, hi = round(lo, round_bounds), round(hi, round_bounds)
    return df.withColumn(
        col,
        F.when(F.col(col) < lo, F.lit(lo))
        .when(F.col(col) > hi, F.lit(hi))
        .otherwise(F.col(col)),
    )


# ---------------------------------------------------------------------------
# R2 — missing values
# ---------------------------------------------------------------------------


def drop_null_rows(df: DataFrame, cols: list[str] | str) -> DataFrame:
    """R2a (app.py:281-286). Expressed as an isNotNull conjunction, not
    na.drop: na.drop compiles to AtLeastNNonNulls, which Spark does NOT
    translate into a parquet pushed filter, while isNotNull predicates
    reach the scan (PushedFilters — row groups skip via statistics).
    Identical semantics to na.drop(subset=cols) (how='any')."""
    cols = [cols] if isinstance(cols, str) else cols
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
    return df.filter(cond)


def impute(
    df: DataFrame,
    col: str,
    strategy: str = "median",
    fill_value=None,
) -> DataFrame:
    """R2b/c/d (app.py:287-304): fill NULLs with median / mean / mode /
    constant. Mode uses the reference tie-break (smallest value wins).
    Empty mode -> '' (app.py:294 guard)."""
    if strategy == "median":
        stat = df.agg(F.percentile(col, 0.5).alias("v")).first()["v"]
    elif strategy == "mean":
        from etl_hero_spark.profile import dec_avg

        stat = df.agg(dec_avg(col, "v")).first()["v"]
    elif strategy == "mode":
        stat = mode_value(df, col)
    elif strategy == "constant":
        stat = fill_value if fill_value is not None else "Unknown"
    else:  # pragma: no cover
        raise ValueError(f"unknown strategy {strategy!r}")
    if stat is None:
        return df
    return df.withColumn(
        col, F.coalesce(F.col(col), F.lit(stat).cast(df.schema[col].dataType))
    )


# ---------------------------------------------------------------------------
# R3 — duplicate rows
# ---------------------------------------------------------------------------


def drop_duplicate_rows(
    df: DataFrame,
    subset: list[str] | None = None,
    keep_first_by: list[str] | None = None,
) -> DataFrame:
    """R3 (app.py:308-315). Two modes:

    * keep_first_by=None: multiset-dedup via dropDuplicates — for FULL-row
      duplicates the kept row is indistinguishable from the dropped ones,
      so this equals the reference's keep='first' result. One shuffle.
    * keep_first_by=[ordering cols]: deterministic keep-first via
      row_number() over (partitionBy subset orderBy keep_first_by) — the
      scale-out generalization (subset-key dedup with an explicit winner),
      needed whenever non-key columns differ between duplicates.
    """
    if keep_first_by is None:
        return df.dropDuplicates(subset) if subset else df.dropDuplicates()
    keys = subset or df.columns
    w = W.partitionBy(*keys).orderBy(*[F.asc(c) for c in keep_first_by])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# R4 — date normalization
# ---------------------------------------------------------------------------


def normalize_dates(
    df: DataFrame,
    col: str,
    formats: list[str] | None = None,
    exact: bool = False,
) -> DataFrame:
    """R4a (app.py:321-330) with declarative format-list semantics: parse
    with the first matching format, re-render 'yyyy-MM-dd'; unparseable ->
    NULL (the reference's NaT).

    exact=True reproduces the reference's pandas/dateutil auto-parse
    byte-for-byte (SURVEY §2.5 fallback): dateutil is over-permissive and
    current-date-dependent ('March' parses to today's year), so this mode
    is deliberately excluded from the cross-engine oracles and pinned by
    unit tests instead. It runs as an Arrow-batched pandas_udf — the slow
    path, but vectorized per batch and still a narrow map (no shuffle,
    scales with partition parallelism)."""
    if exact:
        return df.withColumn(col, _dateutil_parse_udf()(F.col(col)))
    parsed = parse_date_expr(col, formats)
    return df.withColumn(col, F.date_format(parsed, "yyyy-MM-dd"))


def _dateutil_parse_udf():
    """pandas_udf replicating the reference's per-element
    `parser.parse(str(x), dayfirst=False).strftime('%Y-%m-%d')`, NaT ->
    NULL on any exception (app.py:322-327). Built lazily so importing this
    module never hard-requires dateutil (it ships with pandas)."""
    import pandas as pd
    from dateutil import parser as du_parser
    from pyspark.sql.functions import pandas_udf

    def _one(x):
        if x is None:
            return None
        try:
            return du_parser.parse(str(x), dayfirst=False).strftime("%Y-%m-%d")
        except Exception:
            return None

    def _parse(s: pd.Series):
        return s.map(_one)

    # explicit SCALAR eval type: the module's `from __future__ import
    # annotations` stringifies type hints, which pandas_udf's hint
    # inference cannot resolve for a function-local pd import
    from pyspark.rdd import PythonEvalType

    return pandas_udf(_parse, "string", PythonEvalType.SQL_SCALAR_PANDAS_UDF)


def force_date_format(df: DataFrame, col: str, fmt: str) -> DataFrame:
    """R4b/R4c (app.py:331-350): strict single-format parse -> 'yyyy-MM-dd'
    or NULL. fmt uses Spark datetime patterns, e.g. 'dd/MM/yyyy'."""
    return df.withColumn(
        col, F.date_format(F.try_to_date(F.col(col), fmt), "yyyy-MM-dd")
    )


# ---------------------------------------------------------------------------
# Column-level conditional replace (F4, app.py:257,263)
# ---------------------------------------------------------------------------


def replace_where(df: DataFrame, col: str, cond: Column, value) -> DataFrame:
    return df.withColumn(col, F.when(cond, F.lit(value)).otherwise(F.col(col)))


def clip_outliers_grouped(
    df: DataFrame,
    col: str,
    group_cols: list[str] | str,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    round_bounds: int | None = 2,
    approx: bool = False,
) -> DataFrame:
    """Grouped winsorize — R1d generalized per group: clip col to its
    OWN group's [q_lower, q_upper]. The per-domain/per-source outlier
    treatment of heterogeneous corpora, where one global clip bound is
    wrong for every subpopulation at once.

    Plan: per-group exact interpolated percentiles in ONE groupBy pass
    (shuffle on the group keys, partial agg map-side), then a broadcast
    equi-join of the tiny bounds table back onto the rows — the fact
    table never re-shuffles. approx=True swaps in percentile_approx
    (t-digest) for the 100 TB path where exact per-group sort memory is
    unbounded; group-key skew is irrelevant (percentile state, not
    rows, crosses the wire).

    NULL passes through (when-chains skip null, matching clip_outliers);
    round_bounds pins thresholds to a decimal grid for engine-
    independent comparisons.
    """
    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    pct = (
        F.percentile_approx(col, [lower_q, upper_q])
        if approx
        else F.percentile(col, F.array(F.lit(lower_q), F.lit(upper_q)))
    )
    bounds = df.groupBy(*group_cols).agg(
        pct[0].alias("_lo"), pct[1].alias("_hi")
    )
    if round_bounds is not None:
        bounds = bounds.select(
            *group_cols,
            F.round("_lo", round_bounds).alias("_lo"),
            F.round("_hi", round_bounds).alias("_hi"),
        )
    bounds = bounds.select(
        *[F.col(g).alias(f"_g_{g}") for g in group_cols], "_lo", "_hi"
    )
    cond = None
    for g in group_cols:
        eq = F.col(g).eqNullSafe(F.col(f"_g_{g}"))
        cond = eq if cond is None else cond & eq
    # null-SAFE join keys: a NULL group is a real group (its bounds row
    # exists) and must still be clipped — plain equi-join keys would
    # silently leave the whole NULL subpopulation untouched
    return (
        df.join(F.broadcast(bounds), cond, "left")
        .withColumn(
            col,
            F.when(F.col(col) < F.col("_lo"), F.col("_lo"))
            .when(F.col(col) > F.col("_hi"), F.col("_hi"))
            .otherwise(F.col(col)),
        )
        .drop("_lo", "_hi", *[f"_g_{g}" for g in group_cols])
    )


def impute_grouped(
    df: DataFrame,
    col: str,
    group_cols: list[str] | str,
    strategy: str = "median",
    approx: bool = False,
) -> DataFrame:
    """R2b/R2c generalized per group: fill NULLs in col with the
    column's statistic computed over the row's OWN group — per-domain
    imputation for heterogeneous corpora (a global median is wrong for
    every subpopulation at once, same argument as clip_outliers_grouped).

    strategy: 'median' (exact interpolated; approx=True -> t-digest) or
    'mean' (decimal-exact, engine-independent doubles).

    Plan mirrors clip_outliers_grouped: one groupBy pass for the tiny
    per-group stats table, broadcast-joined back — the fact table never
    re-shuffles. Groups whose statistic is NULL (all-null group) keep
    their NULLs: there is nothing to impute from.
    """
    from etl_hero_spark.profile import dec_avg

    group_cols = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if strategy == "median":
        stat = (
            F.percentile_approx(col, 0.5)
            if approx
            else F.percentile(col, F.lit(0.5))
        )
    elif strategy == "mean":
        stat = dec_avg(col)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    stats = df.groupBy(*group_cols).agg(stat.alias("_fill"))
    stats = stats.select(
        *[F.col(g).alias(f"_g_{g}") for g in group_cols], "_fill"
    )
    cond = None
    for g in group_cols:
        eq = F.col(g).eqNullSafe(F.col(f"_g_{g}"))
        cond = eq if cond is None else cond & eq
    # null-SAFE keys: rows whose group key is NULL still impute from
    # the NULL group's statistic (see clip_outliers_grouped)
    return (
        df.join(F.broadcast(stats), cond, "left")
        .withColumn(col, F.coalesce(F.col(col), F.col("_fill")))
        .drop("_fill", *[f"_g_{g}" for g in group_cols])
    )


def remove_outliers_iqr(
    df: DataFrame, col: str, k: float = 1.5, approx: bool = False
) -> DataFrame:
    """R1a under the Tukey rule (the reference's declared-but-unshipped
    IQR alternative, app.py:397): drop rows outside [Q1-k*IQR,
    Q3+k*IQR]; NULLs survive (not outliers), matching remove_outliers'
    z-score semantics. Fences are plan literals — a pushable filter,
    no stats join."""
    from etl_hero_spark.detect import iqr_bounds

    lo, hi = iqr_bounds(df, col, k, approx)
    if lo is None:
        return df
    keep = F.col(col).isNull() | (
        (F.col(col) >= lo) & (F.col(col) <= hi)
    )
    return df.filter(keep)
