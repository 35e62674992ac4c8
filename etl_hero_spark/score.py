"""Quality score / insights / report-sample operators (M1-M3, app.py:83-92,362-379)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_hero_spark.profile import null_counts

# reference weights, app.py:88-91
_BASE, _W_NULL, _W_DUP = 50.0, 0.5, 1.0


def quality_score(before: DataFrame, after: DataFrame) -> float:
    """M1 (compute_quality_score, app.py:83-92):
    clamp(50 + 0.5*max(0, d_nulls) + 1.0*max(0, d_dups), 0, 100), 2dp.
    One action over the lazy ``quality_score_df`` plan (scores are
    multiples of 0.5, so Spark's HALF_UP round equals Python's)."""
    return float(quality_score_df(before, after).first()["quality_score"])


def quality_score_df(before: DataFrame, after: DataFrame) -> DataFrame:
    """Lazy single-row variant: (nulls_before, dups_before, nulls_after,
    dups_after, quality_score) — oracle-checkable as one SQL expression.

    Each table's two counts come from the one groupBy-all-columns that
    duplicate_count runs: n_duplicates = sum(cnt - 1) and nulls =
    sum(cnt * nulls in the group key). NULL keys group together, so the
    second sum equals null_counts' n_null_total."""

    def one(df: DataFrame, tag: str) -> DataFrame:
        cols = df.columns
        key_nulls = sum(F.col(c).isNull().cast("bigint") for c in cols)
        groups = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_cnt"))
        return groups.agg(
            F.coalesce(F.sum(F.col("_cnt") * key_nulls), F.lit(0))
            .cast("bigint")
            .alias(f"nulls_{tag}"),
            F.coalesce(F.sum(F.col("_cnt") - 1), F.lit(0))
            .cast("bigint")
            .alias(f"dups_{tag}"),
        )

    joined = one(before, "before").crossJoin(one(after, "after"))
    raw = (
        F.lit(_BASE)
        + F.lit(_W_NULL)
        * F.greatest(F.lit(0), F.col("nulls_before") - F.col("nulls_after"))
        + F.lit(_W_DUP)
        * F.greatest(F.lit(0), F.col("dups_before") - F.col("dups_after"))
    )
    return joined.withColumn(
        "quality_score",
        F.round(F.least(F.lit(100.0), F.greatest(F.lit(0.0), raw)), 2),
    )


def insights(df_before: DataFrame, df_after: DataFrame) -> dict:
    """M2 (app.py:372-376): rows before/after, columns, nulls remaining."""
    after = null_counts(df_after).first()
    return {
        "rows_before": df_before.count(),
        "rows_after": after["n_rows"],
        "columns": df_after.columns,
        "nulls_after": int(after["n_null_total"]),
    }


def head_sample(df: DataFrame, order_by: list[str], n: int = 10) -> DataFrame:
    """M3 (app.py:368-370): deterministic head — pandas head(10) is
    first-10-in-order; Spark limit without order is not, so an explicit
    natural-key ordering is required for reproducible reports."""
    return df.orderBy(*order_by).limit(n)
