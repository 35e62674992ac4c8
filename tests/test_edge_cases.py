"""Degenerate-input hardening (SURVEY §5.3): empty tables, all-null
columns, all-duplicate tables. Every operator must return a well-formed
(often empty) result, never raise."""

import pyspark.sql.functions as F
import pytest


@pytest.fixture()
def empty(spark):
    return spark.createDataFrame([], "a long, b double, c string")


@pytest.fixture()
def all_null(spark):
    return spark.createDataFrame(
        [(None, None)] * 5, "x double, s string"
    )


def test_profile_table_empty(empty):
    from etl_hero_spark.profile import profile_table

    rows = {r["column"]: r for r in profile_table(empty).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert all(r["n_null"] == 0 and r["n_unique"] == 0 for r in rows.values())


def test_null_counts_all_null(all_null):
    from etl_hero_spark.profile import null_counts

    row = null_counts(all_null).first()
    assert row["n_null_x"] == 5 and row["n_null_total"] == 10


def test_detect_missions_empty_table(empty):
    from etl_hero_spark.detect import detect_missions

    assert detect_missions(empty).count() == 0


def test_detect_outliers_all_null_column(all_null):
    from etl_hero_spark.detect import detect_outliers

    # sigma undefined on an all-null column -> column undetectable
    assert detect_outliers(all_null, ["x"]).count() == 0


def test_drop_duplicates_all_identical(spark):
    from etl_hero_spark.clean import drop_duplicate_rows

    df = spark.createDataFrame([(1, "x")] * 7, "a long, b string")
    assert drop_duplicate_rows(df).count() == 1


def test_impute_median_all_null_is_noop(all_null):
    from etl_hero_spark.clean import impute

    out = impute(all_null, "x", strategy="median")
    assert out.filter(F.col("x").isNull()).count() == 5


def test_mode_all_null_returns_empty_string(all_null):
    from etl_hero_spark.profile import mode_value

    assert mode_value(all_null, "s") == ""


def test_quality_score_no_change_is_50(spark):
    from etl_hero_spark.io import messy_orders
    from etl_hero_spark.score import quality_score

    df = messy_orders(spark, n=40)
    assert quality_score(df, df) == 50.0


def _quality_score_crossjoin(before, after):
    """quality_score_df's earlier formula — two two-stage aggregates
    cross-joined — as the reference for the one-union form."""

    def one(df, tag):
        key_nulls = sum(F.col(c).isNull().cast("bigint") for c in df.columns)
        groups = df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("_cnt"))
        return groups.agg(
            F.coalesce(F.sum(F.col("_cnt") * key_nulls), F.lit(0))
            .cast("bigint")
            .alias(f"nulls_{tag}"),
            F.coalesce(F.sum(F.col("_cnt") - 1), F.lit(0))
            .cast("bigint")
            .alias(f"dups_{tag}"),
        )

    raw = (
        F.lit(50.0)
        + F.lit(0.5) * F.greatest(F.lit(0), F.col("nulls_before") - F.col("nulls_after"))
        + F.lit(1.0) * F.greatest(F.lit(0), F.col("dups_before") - F.col("dups_after"))
    )
    return (
        one(before, "before")
        .crossJoin(one(after, "after"))
        .withColumn(
            "quality_score",
            F.round(F.least(F.lit(100.0), F.greatest(F.lit(0.0), raw)), 2),
        )
    )


@pytest.mark.parametrize(
    "case", ["after_drops_column", "after_adds_column", "before_empty", "after_empty"]
)
def test_quality_score_df_matches_crossjoin_formula(spark, case):
    from etl_hero_spark.score import quality_score_df

    df = spark.createDataFrame(
        [(1, None, "a")] * 3 + [(None, None, None)] * 2 + [(2, 3.5, "b")],
        "a long, b double, c string",
    )
    before, after = {
        "after_drops_column": (df, df.drop("b")),
        "after_adds_column": (df, df.withColumn("z", F.lit(None).cast("int"))),
        "before_empty": (df.limit(0), df),
        "after_empty": (df, df.limit(0)),
    }[case]
    got, want = quality_score_df(before, after), _quality_score_crossjoin(before, after)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_detectors_without_numeric_or_string_columns(spark):
    """A table with no numeric (or no string) column has nothing to
    z-score (or date-parse): those detectors return an empty result."""
    from etl_hero_spark.detect import date_likeness, detect_missions, detect_outliers

    text = spark.createDataFrame([("a", "2024-01-01"), ("a", "x")], "s string, d string")
    nums = spark.createDataFrame([(1, 2.0), (1, 2.0)], "a long, b double")
    assert detect_outliers(text).collect() == []
    assert date_likeness(nums).collect() == []
    assert [tuple(r) for r in detect_missions(text).collect()] == [("date_mixed", "d", 1)]
    assert [tuple(r) for r in detect_missions(nums).collect()] == [("duplicates", "*", 1)]


def test_sessionize_empty_events(spark):
    from etl_hero_spark.streaming import sessionize_batch

    df = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, value double"
    )
    assert sessionize_batch(df).count() == 0


def test_minhash_empty_documents(spark):
    from etl_hero_spark.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_lsh_pairs(df).count() == 0


def test_dedup_exact_blank_and_whitespace_docs(spark):
    """Blank and whitespace-only docs normalize to the same fingerprint:
    keep-first collapses them to the smallest id."""
    from etl_hero_spark.dedup import dedup_exact_content

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text")], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in dedup_exact_content(df).collect())
    assert kept == [1, 3]


def test_asof_join_empty_right(spark):
    from etl_hero_spark.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 1)], "event_id long, user_id long"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    right = spark.createDataFrame(
        [], "user_id long, ts timestamp, value double"
    )
    rows = asof_join(left, right, "user_id").collect()
    assert len(rows) == 1 and rows[0]["value_asof"] is None


def test_new_ops_on_empty_and_degenerate_inputs(spark):
    """Chunking, TF-IDF, histogram, repetition, global rank, fuzzy pairs
    on empty / single-row / all-null inputs: no rows is fine, an
    exception is not."""
    import pyspark.sql.functions as F

    from etl_hero_spark.er import fuzzy_pairs
    from etl_hero_spark.packing import global_rank
    from etl_hero_spark.profile import histogram
    from etl_hero_spark.textops import (
        chunk_documents,
        tfidf_top_terms,
        top_ngram_repetition,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert chunk_documents(empty).count() == 0
    assert tfidf_top_terms(empty).count() == 0
    assert top_ngram_repetition(empty).count() == 0
    assert fuzzy_pairs(empty, "doc_id", "text").count() == 0
    assert global_rank(
        empty.withColumn("m", F.lit(1.0)), "m", "doc_id"
    ).count() == 0

    nulls = spark.createDataFrame([(1, None), (2, None)], "doc_id bigint, text string")
    # null text tokenizes to null -> filtered / empty everywhere
    assert chunk_documents(nulls).count() == 0
    assert tfidf_top_terms(nulls).count() == 0

    allnull = spark.createDataFrame([(None,), (None,)], "x double")
    assert histogram(allnull, "x").count() == 0

    one = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id bigint, text string")
    assert chunk_documents(one, chunk_tokens=2, overlap=1).count() == 2
    assert tfidf_top_terms(one, k=5).count() == 3  # every term idf=0, still ranked


def test_sql_entry_point_matches_duckdb_same_text(spark, sf_dir):
    """The pure-SQL registered query must produce what DuckDB produces
    for the SAME SQL text (modulo view names) — proving the SQL surface
    reaches the identical semantics as the DataFrame API."""
    import duckdb

    from etl_hero_spark.registry_stream import (
        SQL_REVENUE_BY_NATION,
        q_sql_revenue_by_nation,
    )

    got = [
        (r["nation"], r["n_orders"], r["revenue"])
        for r in q_sql_revenue_by_nation(spark, sf_dir).collect()
    ]
    sql = SQL_REVENUE_BY_NATION
    for t in ("customer", "orders", "lineitem", "nation"):
        sql = sql.replace(
            f"ehs_{t}", f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = [tuple(r) for r in duckdb.sql(sql).fetchall()]
    assert got == want and len(got) > 0


def test_round3_operators_handle_empty_inputs(spark):
    """Empty frames flow through every new operator without errors —
    the degenerate case a driver/compositor hits first."""
    import pyspark.sql.functions as F

    from etl_hero_spark.cdc import scd2_history, snapshot_diff
    from etl_hero_spark.streaming.windows import latest_state_batch
    from etl_hero_spark.temporal import (
        interval_overlap_join,
        resample_forward_fill,
        rolling_features,
    )

    empty_ts = spark.createDataFrame(
        [], "k bigint, ts timestamp, value double"
    )
    assert resample_forward_fill(empty_ts, "k", "ts", ["value"]).count() == 0
    assert rolling_features(
        empty_ts, "k", "ts", "value", window_seconds=60
    ).count() == 0
    empty_iv = spark.createDataFrame(
        [], "k bigint, start timestamp, end timestamp"
    )
    one_iv = spark.createDataFrame(
        [(1,)], "k bigint"
    ).select(
        "k",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("start"),
        F.to_timestamp(F.lit("2024-01-01 01:00:00")).alias("end"),
    )
    assert interval_overlap_join(one_iv, empty_iv, "k").count() == 0
    assert interval_overlap_join(empty_iv, one_iv, "k").count() == 0
    empty_log = spark.createDataFrame(
        [], "id bigint, state string, ts timestamp"
    )
    assert scd2_history(empty_log, "id", "ts", ["state"]).count() == 0
    empty_snap = spark.createDataFrame([], "id bigint, v double")
    one_snap = spark.createDataFrame([(1, 2.0)], "id bigint, v double")
    d = {r["diff_status"] for r in snapshot_diff(empty_snap, one_snap, "id").collect()}
    assert d == {"added"}
    empty_ev = spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
    )
    assert latest_state_batch(empty_ev).count() == 0


def test_quantile_sketch_empty_and_profile_empty(spark):
    from etl_hero_spark.profile import (
        benford_profile,
        quantile_sketch,
        quantiles_from_sketch,
    )

    empty = spark.createDataFrame([], "x double")
    sk = quantile_sketch(empty, "x", 0.0, 10.0, 8)
    assert sk.count() == 0
    est = quantiles_from_sketch(sk, 0.0, 10.0, 8, [0.5])
    assert est[0.5] == 10.0  # documented: no data -> hi clamp
    assert benford_profile(empty, "x").count() == 0


def test_sql_shipping_priority_matches_duckdb_same_text(spark, sf_dir):
    """Second pure-SQL entry point (TPC-H Q3 shape): the identical SQL
    string in DuckDB must produce the identical top-10."""
    import duckdb

    from etl_hero_spark.registry_ext import (
        SQL_SHIPPING_PRIORITY,
        q_sql_shipping_priority,
    )

    got = [
        (r["orderkey"], r["orderdate"], r["revenue"])
        for r in q_sql_shipping_priority(spark, sf_dir).collect()
    ]
    sql = SQL_SHIPPING_PRIORITY
    for t in ("customer", "orders", "lineitem"):
        sql = sql.replace(
            f"ehs_{t}", f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = [tuple(r) for r in duckdb.sql(sql).fetchall()]
    assert got == want and len(got) == 10


def test_fk_orphans_matches_duckdb(spark, sf_dir):
    import duckdb

    from etl_hero_spark.registry import all_queries

    got = sorted(
        map(tuple, all_queries()["quality_fk_orphans"](spark, sf_dir).collect())
    )
    want = sorted(
        duckdb.sql(
            f"""
            WITH li AS (SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')),
                 o AS (SELECT * FROM read_parquet('{sf_dir}/orders.parquet')),
                 c AS (SELECT * FROM read_parquet('{sf_dir}/customer.parquet')),
                 n AS (SELECT * FROM read_parquet('{sf_dir}/nation.parquet'))
            SELECT 'l_orderkey->o_orderkey',
              (SELECT count(*) FROM li),
              (SELECT count(*) FROM li WHERE l_orderkey IS NULL),
              (SELECT count(*) FROM li WHERE l_orderkey IS NOT NULL
                 AND l_orderkey NOT IN
                 (SELECT o_orderkey FROM o WHERE o_orderkey % 13 <> 0))
            UNION ALL
            SELECT 'o_custkey->c_custkey',
              (SELECT count(*) FROM o),
              (SELECT count(*) FROM o WHERE o_custkey IS NULL),
              (SELECT count(*) FROM o WHERE o_custkey IS NOT NULL
                 AND o_custkey NOT IN (SELECT c_custkey FROM c))
            UNION ALL
            SELECT 'c_nationkey->n_nationkey',
              (SELECT count(*) FROM c),
              (SELECT count(*) FROM c WHERE c_nationkey IS NULL),
              (SELECT count(*) FROM c WHERE c_nationkey IS NOT NULL
                 AND c_nationkey NOT IN (SELECT n_nationkey FROM n))
            """
        ).fetchall()
    )
    assert got == want
    by_rel = {r[0]: r for r in got}
    assert by_rel["l_orderkey->o_orderkey"][3] > 0  # planted orphans found
    assert by_rel["o_custkey->c_custkey"][3] == 0  # clean FK stays clean


def test_fk_null_is_not_orphan(spark):
    from etl_hero_spark.contracts import referential_integrity

    child = spark.createDataFrame(
        [(1, 10), (2, None), (3, 99)], "id bigint, fk bigint"
    )
    parent = spark.createDataFrame([(10,)], "pk bigint")
    row = referential_integrity([(child, "fk", parent, "pk")]).first()
    assert (row["n_child"], row["n_null_fk"], row["n_orphans"]) == (3, 1, 1)


def test_round4_operators_handle_empty_inputs(spark):
    """Every round-4 operator must degrade to an empty/identity result
    on empty or degenerate input — never throw (the same sweep the
    earlier rounds' operators get)."""
    import pyspark.sql.functions as F

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_keys = spark.createDataFrame([], "k bigint")
    empty_ev = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, "
        "ts timestamp, value double"
    )

    from etl_hero_spark.profile import (
        countmin_sketch,
        estimate_counts,
        json_schema_profile,
    )

    sk = countmin_sketch(empty_keys, "k", width=8, depth=2)
    assert sk.count() == 0
    probe = spark.createDataFrame([(1,)], "k bigint")
    assert estimate_counts(sk, probe, "k", width=8, depth=2).first()[
        "est_count"
    ] == 0
    assert json_schema_profile(empty_docs.select(
        F.col("text").alias("props")
    ), "props").count() == 0
    all_null = spark.createDataFrame([(None,), (None,)], "props string")
    assert json_schema_profile(all_null, "props").count() == 0

    from etl_hero_spark.sampling import reservoir_per_key

    assert reservoir_per_key(empty_docs, "text", n=3, id_col="doc_id").count() == 0

    from etl_hero_spark.detect import seasonal_anomaly_buckets

    assert seasonal_anomaly_buckets(empty_ev).count() == 0

    from etl_hero_spark.er import trigram_block_pairs

    assert trigram_block_pairs(empty_docs, "doc_id", "text").count() == 0
    null_text = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id bigint, text string"
    )
    assert trigram_block_pairs(null_text, "doc_id", "text").count() == 0

    from etl_hero_spark.packing import pack_sequences, sequence_manifest

    packed = pack_sequences(empty_docs, context_len=8)
    assert packed.count() == 0
    assert sequence_manifest(packed, context_len=8).count() == 0

    from etl_hero_spark.textops import bm25_top_terms, train_bpe

    assert bm25_top_terms(empty_docs, persist=False).count() == 0
    model = train_bpe(empty_docs)
    assert model["merges"] == [] and model["vocab_words"] == 0

    from etl_hero_spark.contracts import (
        in_range,
        quarantine_split,
        referential_integrity,
    )

    clean, bad = quarantine_split(
        empty_docs, [in_range("doc_id", 0, 10)]
    )
    assert clean.count() == 0 and bad.count() == 0
    row = referential_integrity(
        [(empty_keys, "k", probe, "k")]
    ).first()
    assert (row["n_child"], row["n_orphans"]) == (0, 0)

    from etl_hero_spark.cdc import agg_partials, retractable_agg_refresh

    mat = agg_partials(empty_docs, "text", ["doc_id"])
    out = retractable_agg_refresh(
        mat, empty_docs, empty_docs, "text", ["doc_id"]
    )
    assert out.count() == 0

    from etl_hero_spark.temporal import point_in_time_join

    empty_hist = spark.createDataFrame(
        [], "k bigint, effective_from timestamp, effective_to timestamp, "
        "state string"
    )
    facts = spark.createDataFrame(
        [(1, 1)], "fid bigint, k bigint"
    ).withColumn("ts", F.current_timestamp())
    pit = point_in_time_join(facts, empty_hist, "k")
    assert pit.count() == 1 and pit.first()["state"] is None

    from etl_hero_spark.simsearch import kmeans_lloyd

    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    m = kmeans_lloyd(tiny, k=5, iters=2)  # k > n: model shrinks to n
    assert 1 <= len(m["centroids"]) <= 2


def test_sql_promo_revenue_matches_duckdb_same_text(spark, sf_dir):
    """Third pure-SQL entry point (TPC-H Q14 shape): identical string,
    identical monthly promo shares (AS STRING -> AS VARCHAR is the one
    dialect tweak DuckDB needs)."""
    import duckdb

    from etl_hero_spark.registry_ext import (
        SQL_PROMO_REVENUE,
        q_sql_promo_revenue,
    )

    got = [
        (r["ship_month"], r["promo_pct"])
        for r in q_sql_promo_revenue(spark, sf_dir).collect()
    ]
    sql = SQL_PROMO_REVENUE.replace(" AS STRING", " AS VARCHAR")
    for t in ("lineitem", "part"):
        sql = sql.replace(
            f"ehs_{t}", f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = [tuple(r) for r in duckdb.sql(sql).fetchall()]
    assert got == want and len(got) > 12


def test_sql_large_volume_customers_matches_duckdb_same_text(spark, sf_dir):
    """Fourth pure-SQL entry point (TPC-H Q18 shape, IN-subquery
    decorrelated to a semi-join): identical string, identical rows."""
    import duckdb

    from etl_hero_spark.registry_ext import (
        SQL_LARGE_VOLUME_CUSTOMERS,
        q_sql_large_volume_customers,
    )

    got = [
        tuple(r)
        for r in q_sql_large_volume_customers(spark, sf_dir).collect()
    ]
    sql = SQL_LARGE_VOLUME_CUSTOMERS
    for t in ("customer", "orders", "lineitem"):
        sql = sql.replace(
            f"ehs_{t}", f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    want = [tuple(r) for r in duckdb.sql(sql).fetchall()]
    assert got == want and len(got) == 20
