"""Quality score / insights / report-sample operators (M1-M3, app.py:83-92,362-379)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_hero_spark.profile import null_counts, sql_ident

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

    One query: each table is grouped by its own columns (the one shuffle
    duplicate_count runs) into partials (tag, _cnt * key NULLs, _cnt - 1),
    the two partials are unioned (their schemas may differ; the partials'
    do not), and one conditional aggregate sums them per tag — no join.
    NULL keys group together, so the NULL sum equals null_counts'
    n_null_total; an empty table contributes no partial and reads 0."""

    def partial(df: DataFrame, tag: str) -> DataFrame:
        key_nulls = " + ".join(
            f"CAST({sql_ident(c)} IS NULL AS BIGINT)" for c in df.columns
        )
        return (
            df.groupBy(*[F.col(sql_ident(c)) for c in df.columns])
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .selectExpr(
                f"'{tag}' AS _tag",
                f"_cnt * ({key_nulls or '0'}) AS _nulls",
                "_cnt - 1 AS _dups",
            )
        )

    sums = [
        f"CAST(coalesce(sum(CASE WHEN _tag = '{tag}' THEN _{kind} END), 0) "
        f"AS BIGINT) AS {kind}_{tag}"
        for tag in ("before", "after")
        for kind in ("nulls", "dups")
    ]
    raw = (
        f"{_BASE}D + {_W_NULL}D * greatest(0, nulls_before - nulls_after)"
        f" + {_W_DUP}D * greatest(0, dups_before - dups_after)"
    )
    return (
        partial(before, "before")
        .unionByName(partial(after, "after"))
        .selectExpr(*sums)
        .selectExpr(
            "*", f"round(least(100.0D, greatest(0.0D, {raw})), 2) AS quality_score"
        )
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
