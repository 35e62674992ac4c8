"""Detection operator tests (P2-P5) — edge cases from FIXTURES.md §C."""

import pyspark.sql.functions as F
import pytest

from etl_hero_spark import detect
from etl_hero_spark.io import messy_orders


def test_zscore_zero_variance_no_outliers(spark):
    """sigma == 0 -> the column is undetectable: absent from the result
    (matches the oracle's WHERE sigma <> 0 and the reference's no-mission
    outcome for constant columns, app.py:68-69,240)."""
    df = spark.createDataFrame([(5.0,)] * 10, "x double")
    assert detect.detect_outliers(df, ["x"]).count() == 0


def test_zscore_nulls_never_outliers(spark):
    rows = [(float(i),) for i in range(20)] + [(None,), (1000.0,)]
    df = spark.createDataFrame(rows, "x double")
    flagged = detect.with_outlier_flags(df, ["x"])
    nulls = flagged.filter(F.col("x").isNull()).collect()
    assert all(not r["is_outlier_x"] for r in nulls)
    assert flagged.filter(F.col("is_outlier_x")).count() == 1


def test_zscore_detects_injected_outlier(spark):
    rows = [(50.0 + (i % 7),) for i in range(100)] + [(5000.0,)]
    df = spark.createDataFrame(rows, "x double")
    out = detect.detect_outliers(df, ["x"]).first()
    assert out["n_outliers"] == 1


def test_detect_missing_filters_clean_columns(spark):
    df = spark.createDataFrame([(1, None), (2, "a")], "k long, v string")
    rows = detect.detect_missing(df).collect()
    assert len(rows) == 1
    assert rows[0]["column"] == "v" and rows[0]["n_null"] == 1


def test_date_likeness_mixed(spark):
    df = spark.createDataFrame(
        [("2024-01-01",), ("05/01/2024",), ("garbage",), (None,)], "d string"
    )
    row = detect.date_likeness(df, ["d"]).first()
    assert row["n_total"] == 3  # nulls excluded, matching count(col)
    assert row["n_parsed"] == 2
    assert row["is_date_like"]  # 2/3 > 0.6
    assert row["is_mixed"]


def test_date_likeness_non_date_column(spark):
    df = spark.createDataFrame([("abc",), ("def",)], "d string")
    row = detect.date_likeness(df, ["d"]).first()
    assert not row["is_date_like"] and not row["is_mixed"]


def test_detect_missions_clean_table_empty(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "2024-01-01"), (2, 11.0, "2024-01-02")],
        "k long, v double, d string",
    )
    missions = detect.detect_missions(df).collect()
    assert missions == []


def test_detect_missions_messy_orders(spark):
    df = messy_orders(spark)
    rows = {(r["mission"], r["column"]): r["metric"] for r in detect.detect_missions(df).collect()}
    # FIXTURES.md §B expectations: price outlier mission, category nulls,
    # 2 duplicate rows, 1 unparseable date
    assert ("outliers", "price") in rows
    assert ("missing", "category") in rows
    assert rows[("duplicates", "*")] == 2
    assert rows[("date_mixed", "date")] == 1


def _missions_union(df, zscore_threshold=detect.DEFAULT_ZSCORE_THRESHOLD, date_formats=None):
    """The four per-class detectors, unioned in mission order — the rows
    (and their order) detect_missions' single query must reproduce."""
    parts = [
        detect.detect_outliers(df, threshold=zscore_threshold)
        .filter("n_outliers > 0")
        .selectExpr("'outliers'", "column", "n_outliers"),
        detect.detect_missing(df).selectExpr("'missing'", "column", "n_null"),
        detect.detect_duplicates(df)
        .filter("n_duplicates > 0")
        .selectExpr("'duplicates'", "'*'", "n_duplicates"),
        detect.date_likeness(df, formats=date_formats)
        .filter("is_mixed")
        .selectExpr("'date_mixed'", "column", "n_total - n_parsed"),
    ]
    return [tuple(r) for part in parts for r in part.collect()]


_MISSION_FRAMES = {
    "messy_orders": messy_orders,
    "constant_numeric": lambda s: s.createDataFrame(
        [(5.0, "a")] * 6 + [(5.0, None)], "x double, s string"
    ),
    "all_null_numeric": lambda s: s.createDataFrame(
        [(None, 1.0), (None, 2.0), (None, 2.0)], "x double, y double"
    ),
    "nan_value": lambda s: s.createDataFrame(
        [(float(i),) for i in range(30)] + [(float("nan"),), (None,)], "x double"
    ),
    "duplicates_with_nulls": lambda s: s.createDataFrame(
        [(1, None, "2024-01-01")] * 2 + [(None, None, None)] * 3 + [(2, 3.5, "x")],
        "a long, b double, c string",
    ),
    "no_numeric": lambda s: s.createDataFrame(
        [("a", "2024-01-01"), (None, "x"), ("a", "2024-01-01")], "s string, d string"
    ),
    "no_string": lambda s: s.createDataFrame(
        [(i, float(i)) for i in range(40)] + [(1, 1.0), (1000, 1e6), (None, 3.0)],
        "a long, b double",
    ),
    "empty": lambda s: s.createDataFrame([], "a long, b double, c string"),
}


@pytest.mark.parametrize(
    "frame, kwargs",
    [pytest.param(name, {}, id=name) for name in _MISSION_FRAMES]
    + [
        pytest.param(
            "messy_orders",
            {"zscore_threshold": 1.5, "date_formats": ["MM-dd-yyyy", "dd/MM/yyyy"]},
            id="messy_orders-custom",
        ),
        pytest.param("nan_value", {"zscore_threshold": 1.5}, id="nan_value-custom"),
    ],
)
def test_detect_missions_equals_per_class_union(spark, frame, kwargs):
    df = _MISSION_FRAMES[frame](spark)
    got = detect.detect_missions(df, **kwargs)
    assert got.schema.simpleString() == "struct<mission:string,column:string,metric:bigint>"
    assert [tuple(r) for r in got.collect()] == _missions_union(df, **kwargs)


def test_detectors_quote_column_names(spark):
    """Uploaded CSV headers carry spaces and quotes; every detector must
    treat them as names, not SQL text."""
    rows = [(50.0 + i % 5, f"2024-01-0{1 + i % 9}") for i in range(40)]
    rows += [(5000.0, "05/01/2024"), (None, "garbage"), (None, None)]
    df = spark.createDataFrame(rows, "`unit price` double, `o'date` string")
    assert [tuple(r) for r in detect.detect_outliers(df).collect()] == [("unit price", 1)]
    assert [tuple(r) for r in detect.detect_missing(df).collect()] == [
        ("unit price", 2),
        ("o'date", 1),
    ]
    dates = detect.date_likeness(df).first()
    assert (dates["column"], dates["n_total"], dates["n_parsed"]) == ("o'date", 42, 41)
    assert [tuple(r) for r in detect.detect_missions(df).collect()] == [
        ("outliers", "unit price", 1),
        ("missing", "unit price", 2),
        ("missing", "o'date", 1),
        ("date_mixed", "o'date", 1),
    ]


def test_mad_anomalies_semantics(spark):
    from etl_hero_spark.detect import detect_anomalies_mad

    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4, 5, 1000]]
        + [("b", 7.0), ("b", 7.0), ("b", 7.0), ("b", 9999.0)]
        + [("c", None)],
        "g string, x double",
    )
    rows = {r["g"]: r for r in detect_anomalies_mad(df, "x", "g").collect()}
    # a: med 3.5, MAD 1.5 -> only 1000 exceeds 3.5*1.5
    assert rows["a"]["n"] == 6 and rows["a"]["n_anomalies"] == 1
    assert rows["a"]["med"] == 3.5 and rows["a"]["mad"] == 1.5
    # b: med 7, MAD 0 -> constant-ish group flags NOTHING (sigma=0 guard)
    assert rows["b"]["n_anomalies"] == 0 and rows["b"]["mad"] == 0.0
    # c: only nulls -> no median exists; the group is dropped
    assert "c" not in rows


def test_mad_anomalies_match_duckdb(spark, sf_dir):
    """Cross-engine oracle for the rows-only registered query."""
    import duckdb

    from etl_hero_spark.registry_stream import q_events_anomaly_mad

    got = {
        r["event_type"]: (r["n"], r["n_anomalies"], r["med"], r["mad"])
        for r in q_events_anomaly_mad(spark, sf_dir).collect()
    }
    want = {
        t: (n, a, m, d)
        for t, n, a, m, d in duckdb.sql(
            f"WITH ev AS (SELECT event_type, value FROM '{sf_dir}/events.parquet'), "
            "med AS (SELECT event_type, median(value) AS m FROM ev "
            "WHERE value IS NOT NULL GROUP BY 1), "
            "dev AS (SELECT ev.event_type, ev.value, abs(ev.value - med.m) AS ad, med.m "
            "FROM ev JOIN med USING (event_type)), "
            "mad AS (SELECT event_type, median(ad) AS md FROM dev "
            "WHERE value IS NOT NULL GROUP BY 1) "
            "SELECT dev.event_type, count(dev.value), "
            "sum(CASE WHEN mad.md > 0 AND dev.ad > 3.5 * mad.md THEN 1 ELSE 0 END), "
            "any_value(dev.m), any_value(mad.md) "
            "FROM dev JOIN mad USING (event_type) GROUP BY dev.event_type"
        ).fetchall()
    }
    assert set(got) == set(want) and len(got) > 0
    for t in got:
        assert got[t] == want[t], (t, got[t], want[t])


def test_mad_anomalies_null_group_key_is_a_group(spark):
    from etl_hero_spark.detect import detect_anomalies_mad

    df = spark.createDataFrame(
        [(None, float(v)) for v in [1, 2, 3, 4, 5, 1000]],
        "g string, x double",
    )
    rows = detect_anomalies_mad(df, "x", "g").collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 6 and rows[0]["n_anomalies"] == 1


def test_iqr_outliers_match_duckdb(spark, lineitem):
    """Tukey-fence counts must agree with DuckDB quantile_cont fences
    (the reference's declared-but-unshipped IQR mode, app.py:397)."""
    import duckdb

    from etl_hero_spark.detect import detect_outliers_iqr

    got = {
        r["column"]: (r["n_outliers"], r["lo"], r["hi"])
        for r in detect_outliers_iqr(
            lineitem, ["l_quantity", "l_extendedprice"]
        ).collect()
    }
    for c in ["l_quantity", "l_extendedprice"]:
        q1, q3 = duckdb.sql(
            f"SELECT quantile_cont({c}, 0.25), quantile_cont({c}, 0.75) "
            f"FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
        ).fetchone()
        lo = round(q1 - 1.5 * (q3 - q1), 2)
        hi = round(q3 + 1.5 * (q3 - q1), 2)
        n = duckdb.sql(
            f"SELECT count(*) FROM "
            f"read_parquet('/root/testdata/sf0.001/lineitem.parquet') "
            f"WHERE {c} < {lo} OR {c} > {hi}"
        ).fetchone()[0]
        assert got[c] == (n, lo, hi)


def test_iqr_constant_and_null_columns(spark):
    from etl_hero_spark.detect import detect_outliers_iqr

    df = spark.createDataFrame(
        [(7.0, None), (7.0, None), (7.0, None)], "c double, d double"
    )
    got = {
        r["column"]: r["n_outliers"]
        for r in detect_outliers_iqr(df, ["c", "d"]).collect()
    }
    assert got.get("c") == 0  # collapsed fences, no outliers
    assert "d" not in got  # all-null column excluded


def test_remove_outliers_iqr_keeps_nulls(spark):
    from etl_hero_spark.clean import remove_outliers_iqr

    rows = [(float(v),) for v in [1, 2, 3, 4, 5, 100]] + [(None,)]
    df = spark.createDataFrame(rows, "x double")
    out = [r["x"] for r in remove_outliers_iqr(df, "x").collect()]
    assert None in out
    assert 100.0 not in out
    assert sorted(v for v in out if v is not None) == [1, 2, 3, 4, 5]


def test_iqr_outliers_no_numeric_columns(spark):
    """Zero numeric columns must return the empty result frame, not
    raise ValueError from ThreadPoolExecutor(max_workers=0) (ADVICE r3)."""
    from etl_hero_spark.detect import detect_outliers_iqr

    df = spark.createDataFrame([("a",), ("b",)], "s string")
    out = detect_outliers_iqr(df)
    assert out.collect() == []
    assert out.columns == ["column", "n_outliers", "lo", "hi"]


# ---------------------------------------------------------------------------
# seasonal (hour-of-day) anomaly screen (round 4)
# ---------------------------------------------------------------------------


def test_seasonal_anomaly_matches_duckdb(spark, sf_dir):
    """Bucket counts, per-hour decimal-exact mu/sigma (ddof=0), rounded
    z — the whole pipeline mirrored in DuckDB over the same parquet."""
    import duckdb

    from etl_hero_spark.detect import seasonal_anomaly_buckets
    from etl_hero_spark.registry import _events

    got = sorted(
        map(tuple, seasonal_anomaly_buckets(_events(spark, sf_dir)).collect())
    )
    dec = "cast(n_events as decimal(18,2))"
    mu = f"cast(sum({dec}) as double) / cast(count(*) as double)"
    sig = (
        f"sqrt(cast(sum({dec} * {dec}) as double) / cast(count(*) as double)"
        f" - ({mu}) * ({mu}))"
    )
    want = sorted(
        duckdb.sql(
            f"""
            WITH b AS (
              SELECT strftime(ts, '%Y-%m-%d') AS day,
                     CAST(extract(hour FROM ts) AS INT) AS hour,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM read_parquet('{sf_dir}/events.parquet')
              GROUP BY 1, 2
            ), base AS (
              SELECT hour, round({mu}, 6) AS mu, round({sig}, 6) AS sigma
              FROM b GROUP BY hour
            )
            SELECT b.day, b.hour, b.n_events,
              CASE WHEN sigma IS NOT NULL AND sigma <> 0
                   THEN round((n_events - mu) / sigma, 6) END AS z,
              CAST(coalesce(abs(
                CASE WHEN sigma IS NOT NULL AND sigma <> 0
                     THEN round((n_events - mu) / sigma, 6) END) > 3.0,
                false) AS INT) AS is_anomalous
            FROM b JOIN base USING (hour)
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_seasonal_anomaly_constant_hour_never_anomalous(spark):
    """An hour whose counts never vary has sigma 0 -> z NULL ->
    is_anomalous 0 (matching detect_outliers' sigma guard), and a
    single-day hour (n=1, sigma 0) likewise."""
    from etl_hero_spark.detect import seasonal_anomaly_buckets

    rows = []
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        rows += [(f"{day} 05:30:00",)] * 4  # constant: 4 events at 5am
    rows += [("2024-01-01 09:00:00",)]  # hour 9 appears once
    ev = spark.createDataFrame(rows, "s string").select(
        F.to_timestamp("s").alias("ts")
    )
    got = seasonal_anomaly_buckets(ev).collect()
    assert all(r["z"] is None and r["is_anomalous"] == 0 for r in got)
