"""Remediation operator tests (R1-R4) incl. the reference's subtleties:
median-of-non-outliers, mode tie-break, clip null passthrough."""

import pyspark.sql.functions as F
import pytest

from etl_hero_spark import clean, detect
from etl_hero_spark.profile import dec_avg


def _outlier_df(spark):
    rows = [(i, 50.0 + (i % 5)) for i in range(100)] + [(100, 5000.0)]
    return spark.createDataFrame(rows, "id long, x double")


def test_remove_outliers(spark):
    out = clean.remove_outliers(_outlier_df(spark), "x")
    assert out.count() == 100
    assert out.agg(F.max("x")).first()[0] < 100


def test_replace_outliers_median_of_non_outliers(spark):
    df = _outlier_df(spark)
    out = clean.replace_outliers(df, "x", "median")
    assert out.count() == 101
    replaced = out.filter(F.col("id") == 100).first()["x"]
    # median of the 100 non-outlier rows (50..54 pattern), NOT of full column
    assert 50.0 <= replaced <= 54.0


def _replace_outliers_broadcast_form(df, col, strategy):
    """replace_outliers over the with_outlier_flags formulation, written
    out: the stats row is broadcast-joined into the plan and the flag
    reads its columns. The reference for the literal form."""
    stats = detect.zscore_stats(df, [col])
    mu, sigma = F.col(f"mu_{col}"), F.col(f"sigma_{col}")
    is_out = F.when(sigma.isNull() | (sigma == 0), F.lit(False)).otherwise(
        F.abs((F.col(col) - mu) / sigma) > detect.DEFAULT_ZSCORE_THRESHOLD
    )
    flagged = df.crossJoin(F.broadcast(stats)).withColumn(
        f"is_outlier_{col}", F.coalesce(is_out, F.lit(False))
    ).drop(f"mu_{col}", f"sigma_{col}")
    flag = F.col(f"is_outlier_{col}")
    keep = flagged.filter(~flag)
    if strategy == "median":
        stat = keep.agg(F.percentile(col, 0.5).alias("v")).first()["v"]
    else:
        stat = keep.agg(dec_avg(col, "v")).first()["v"]
    return flagged.withColumn(
        col, F.when(flag, F.lit(stat)).otherwise(F.col(col))
    ).drop(f"is_outlier_{col}")


def _by_id(df):
    return sorted(df.collect(), key=lambda r: r["id"])


_PLANTED = [(i, 50.0 + (i % 5)) for i in range(100)] + [(100, 5000.0)]
_OUTLIER_CASES = {
    "planted": (_PLANTED, "id long, x double"),
    "constant": ([(i, 7.25) for i in range(30)], "id long, x double"),
    "all_null": ([(i, None) for i in range(10)], "id long, x double"),
    "mixed_null": (
        _PLANTED + [(i, None) for i in range(101, 120)], "id long, x double"
    ),
    "integer": (
        [(i, 10 + (i % 3)) for i in range(100)] + [(100, -9000)],
        "id long, x int",
    ),
}


@pytest.mark.parametrize("strategy", ["median", "mean"])
@pytest.mark.parametrize("case", sorted(_OUTLIER_CASES))
def test_replace_outliers_matches_broadcast_form(spark, case, strategy):
    rows, schema = _OUTLIER_CASES[case]
    df = spark.createDataFrame(rows, schema)
    got = clean.replace_outliers(df, "x", strategy)
    want = _replace_outliers_broadcast_form(df, "x", strategy)
    assert got.schema == want.schema
    assert _by_id(got) == _by_id(want)
    if case in ("planted", "mixed_null", "integer"):
        assert _by_id(got) != _by_id(df)  # the planted outlier was replaced


def test_clip_outliers_preserves_null(spark):
    rows = [(float(i),) for i in range(1, 101)] + [(None,)]
    df = spark.createDataFrame(rows, "x double")
    out = clean.clip_outliers(df, "x", 0.1, 0.9)
    assert out.filter(F.col("x").isNull()).count() == 1
    mx = out.agg(F.max("x"), F.min("x")).first()
    assert mx[0] <= 91 and mx[1] >= 10


def test_impute_mode_tiebreak(spark):
    df = spark.createDataFrame(
        [("b",), ("b",), ("a",), ("a",), (None,)], "x string"
    )
    out = clean.impute(df, "x", "mode")
    assert out.filter(F.col("x") == "a").count() == 3  # smallest wins tie


def test_impute_constant_default(spark):
    df = spark.createDataFrame([("v",), (None,)], "x string")
    out = clean.impute(df, "x", "constant")
    assert out.filter(F.col("x") == "Unknown").count() == 1


def test_drop_duplicate_rows_multiset(spark):
    df = spark.createDataFrame([(1, "a")] * 3 + [(2, "b")], "k long, v string")
    assert clean.drop_duplicate_rows(df).count() == 2


def test_drop_duplicates_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "x", "late"), (1, "x", "early"), (2, "y", "only")],
        "id long, key string, tag string",
    )
    out = clean.drop_duplicate_rows(df, subset=["key"], keep_first_by=["id"])
    got = {r["key"]: r["tag"] for r in out.collect()}
    assert got == {"x": "early", "y": "only"}


def test_normalize_dates_formats_and_null(spark):
    df = spark.createDataFrame(
        [("2024-01-05",), ("05/01/2024",), ("2024/13/01",)], "d string"
    )
    vals = [r["d"] for r in clean.normalize_dates(df, "d").collect()]
    assert vals.count("2024-01-05") == 2
    assert vals.count(None) == 1


def test_force_date_format_strict(spark):
    df = spark.createDataFrame([("05/01/2024",), ("2024-01-05",)], "d string")
    vals = [r["d"] for r in clean.force_date_format(df, "d", "dd/MM/yyyy").collect()]
    assert sorted(vals, key=str) == ["2024-01-05", None][::-1] or set(vals) == {
        "2024-01-05",
        None,
    }


def test_messy_orders_round_trip(spark):
    """SURVEY §5 test 2: detect -> remediate -> re-detect -> zero missions."""
    from etl_hero_spark.io import messy_orders
    from etl_hero_spark.score import quality_score

    df = messy_orders(spark)
    cleaned = clean.drop_duplicate_rows(df)
    cleaned = clean.impute(cleaned, "category", "mode")
    cleaned = clean.normalize_dates(cleaned, "date")
    cleaned = clean.drop_null_rows(cleaned, ["date"])  # unparseable -> NULL -> drop
    # The app's interactive loop re-detects after each apply (app.py:210-240);
    # z-score detection on a tightened distribution can flag new tail points,
    # so remediate to quiescence like a user would.
    for _ in range(5):
        n_out = (
            detect.detect_outliers(cleaned, ["price"]).first()["n_outliers"]
        )
        if n_out == 0:
            break
        cleaned = clean.replace_outliers(cleaned, "price", "median")
        cleaned = cleaned.localCheckpoint()  # truncate the growing loop plan
    leftover = detect.detect_missions(cleaned).collect()
    assert leftover == []
    score = quality_score(df, cleaned)
    assert 50.0 < score <= 100.0


def test_normalize_dates_exact_mode_matches_dateutil(spark):
    """exact=True must reproduce the reference's per-element
    dateutil.parser.parse(dayfirst=False) -> '%Y-%m-%d' / NaT semantics
    (app.py:322-327), including the divergences from format-list mode:
    dateutil reads '01/02/2024' month-first and parses spelled-out months.
    Full dates only — partial dates are current-date-dependent in dateutil
    and deliberately untestable."""
    from etl_hero_spark.clean import normalize_dates

    rows = [
        (1, "2024-01-15"),
        (2, "15/01/2024"),   # 15 can't be a month -> dateutil flips to day
        (3, "01/02/2024"),   # dayfirst=False -> Jan 2 (format-list: Feb 1)
        (4, "Jan 3, 2024"),  # spelled-out month: only dateutil parses
        (5, "not-a-date"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, d string")
    got = {
        r["id"]: r["d"]
        for r in normalize_dates(df, "d", exact=True).collect()
    }
    assert got == {
        1: "2024-01-15",
        2: "2024-01-15",
        3: "2024-01-02",
        4: "2024-01-03",
        5: None,
        6: None,
    }


def test_normalize_dates_exact_mode_is_arrow_batched(spark):
    """The exact path must cross into Python via Arrow (ArrowEvalPython),
    never row-at-a-time pickling (BatchEvalPython)."""
    import contextlib
    import io

    from etl_hero_spark.clean import normalize_dates

    df = spark.createDataFrame([(1, "2024-01-15")], "id long, d string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        normalize_dates(df, "d", exact=True).explain("simple")
    plan = buf.getvalue()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_clip_grouped_semantics(spark):
    from etl_hero_spark.clean import clip_outliers_grouped

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)]
        + [("b", 1000.0), ("b", 2000.0), ("b", 3000.0)]
        + [("c", None)],
        "g string, x double",
    )
    rows = clip_outliers_grouped(
        df, "x", "g", lower_q=0.1, upper_q=0.9, round_bounds=None
    ).collect()
    import pytest

    a_vals = sorted(r["x"] for r in rows if r["g"] == "a")
    # group a clips to its own [10.9, 90.1] (approx: interpolation
    # arithmetic carries float ulps); group b's huge values are judged
    # only against b's bounds; null passes through
    assert a_vals[0] == pytest.approx(10.9) and a_vals[-1] == pytest.approx(90.1)
    b_vals = sorted(r["x"] for r in rows if r["g"] == "b")
    assert b_vals == pytest.approx([1200.0, 2000.0, 2800.0])
    assert [r["x"] for r in rows if r["g"] == "c"] == [None]


def test_clip_grouped_matches_duckdb(spark, sf_dir):
    """Cross-engine oracle for the rows-only registered query."""
    import duckdb

    from etl_hero_spark.registry_ext import q_clean_outliers_clip_grouped

    got = {
        (r["l_orderkey"], r["l_linenumber"]): r["l_extendedprice"]
        for r in q_clean_outliers_clip_grouped(spark, sf_dir).collect()
    }
    want = {
        (k, ln): v
        for k, ln, v in duckdb.sql(
            "WITH b AS (SELECT l_returnflag, "
            "quantile_cont(l_extendedprice, 0.01) AS lo, "
            "quantile_cont(l_extendedprice, 0.99) AS hi "
            f"FROM '{sf_dir}/lineitem.parquet' GROUP BY 1) "
            "SELECT l_orderkey, l_linenumber, "
            "CASE WHEN l_extendedprice < lo THEN lo "
            "WHEN l_extendedprice > hi THEN hi "
            "ELSE l_extendedprice END "
            f"FROM '{sf_dir}/lineitem.parquet' JOIN b USING (l_returnflag)"
        ).fetchall()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_clip_grouped_broadcasts_bounds(spark, sf_dir):
    """The bounds join must be a broadcast — the fact table must not
    re-shuffle on the group key."""
    from etl_hero_spark.registry_ext import q_clean_outliers_clip_grouped

    plan = (
        q_clean_outliers_clip_grouped(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_impute_grouped_semantics(spark):
    from etl_hero_spark.clean import impute_grouped

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None),
         ("b", 100.0), ("b", None),
         ("c", None)],
        "g string, x double",
    )
    med = {
        r["g"]: [rr["x"] for rr in impute_grouped(df, "x", "g").collect()
                 if rr["g"] == r["g"]]
        for r in df.collect()
    }
    assert sorted(med["a"]) == [1.0, 2.0, 3.0]  # null -> group median 2
    assert sorted(med["b"]) == [100.0, 100.0]
    assert med["c"] == [None]  # all-null group keeps its nulls
    mean = impute_grouped(df, "x", "g", "mean").collect()
    assert sorted(r["x"] for r in mean if r["g"] == "a") == [1.0, 2.0, 3.0]


def test_impute_grouped_matches_duckdb(spark, sf_dir):
    """Cross-engine oracle for the rows-only registered query."""
    import duckdb

    from etl_hero_spark.registry_ext import q_clean_nulls_impute_grouped

    got = {
        (r["l_orderkey"], r["l_linenumber"]): r["price_n"]
        for r in q_clean_nulls_impute_grouped(spark, sf_dir).collect()
    }
    want = {
        (k, ln): v
        for k, ln, v in duckdb.sql(
            "WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag, "
            "CASE WHEN l_orderkey % 97 = 0 THEN NULL ELSE l_extendedprice END "
            f"AS price_n FROM '{sf_dir}/lineitem.parquet'), "
            "m AS (SELECT l_returnflag, quantile_cont(price_n, 0.5) AS v "
            "FROM t GROUP BY 1) "
            "SELECT l_orderkey, l_linenumber, coalesce(price_n, m.v) "
            "FROM t LEFT JOIN m USING (l_returnflag)"
        ).fetchall()
    }
    assert len(got) == len(want) > 0 and got == want


def test_grouped_ops_treat_null_group_as_a_group(spark):
    """Rows with a NULL group key are a real subpopulation: grouped
    clip and grouped impute must apply that group's own stats instead
    of silently skipping (null-unsafe equi-join would leave them
    untouched)."""
    from etl_hero_spark.clean import clip_outliers_grouped, impute_grouped

    df = spark.createDataFrame(
        [(None, float(v)) for v in range(1, 101)] + [(None, None)],
        "g string, x double",
    )
    clipped = clip_outliers_grouped(
        df, "x", "g", lower_q=0.1, upper_q=0.9, round_bounds=None
    )
    vals = sorted(r["x"] for r in clipped.collect() if r["x"] is not None)
    assert vals[0] > 1.0 and vals[-1] < 100.0  # bounds applied
    imputed = impute_grouped(df, "x", "g")
    assert imputed.filter(F.col("x").isNull()).count() == 0
