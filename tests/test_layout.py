"""Physical layout operators: z-order clustering must demonstrably
shrink per-file spans (= enable stats pruning) on BOTH clustered
columns vs a time-sorted layout; compaction must reduce file count
without changing data."""

import pyspark.sql.functions as F
import pytest

from etl_hero_spark.layout import (
    compact_files,
    file_stats,
    pruning_fraction,
    zorder_write,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from etl_hero_spark.registry import _events

    return _events(spark, sf_dir).select("event_id", "ts", "user_id", "value")


def test_zorder_prunes_both_dims_vs_time_layout(spark, events, tmp_path):
    lin = str(tmp_path / "linear")
    zo = str(tmp_path / "zorder")
    # append-order layout: range-partitioned + sorted by ts (what a
    # naive ingest produces)
    (
        events.repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.parquet(lin)
    )
    zorder_write(events, zo, ["user_id", "value"], n_files=8, bits_per_col=6)

    mid = events.selectExpr(
        "percentile(user_id, 0.5) AS u", "percentile(value, 0.5) AS v"
    ).first()
    lin_stats = file_stats(spark, lin, ["user_id", "value"]).collect()
    zo_stats = file_stats(spark, zo, ["user_id", "value"]).collect()
    assert len(zo_stats) == 8
    for col, val in [("user_id", mid["u"]), ("value", mid["v"])]:
        lin_frac = pruning_fraction(lin_stats, col, val)
        zo_frac = pruning_fraction(zo_stats, col, val)
        # the time layout cannot prune on either dimension
        assert lin_frac == 1.0
        assert zo_frac < lin_frac
        assert zo_frac <= 0.75
    # and the data round-trips exactly
    a = events.agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("user_id")
    ).first()
    b = spark.read.parquet(zo).agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("user_id")
    ).first()
    assert tuple(a) == tuple(b)


def test_zorder_handles_low_cardinality_column(spark, tmp_path):
    # constant column -> all boundaries equal -> dedupe must not emit an
    # empty/broken CASE
    df = spark.range(1000).select(
        F.col("id"), F.lit(7.0).alias("c"), (F.col("id") % 50).alias("d")
    )
    path = str(tmp_path / "lowcard")
    zorder_write(df, path, ["c", "d"], n_files=4, bits_per_col=4)
    assert spark.read.parquet(path).count() == 1000


def test_compact_files(spark, events, tmp_path):
    small = str(tmp_path / "small")
    big = str(tmp_path / "big")
    events.repartition(40).write.parquet(small)
    out = compact_files(spark, small, big, target_bytes=1 << 40)
    assert out["files_in"] == 40
    assert out["files_out"] == 1
    assert (
        spark.read.parquet(big).count()
        == spark.read.parquet(small).count()
    )


def test_optimize_table_compacts_and_clusters(spark, events, tmp_path):
    from etl_hero_spark.layout import optimize_table

    small = str(tmp_path / "ingest")
    opt = str(tmp_path / "optimized")
    events.repartition(32).write.parquet(small)
    out = optimize_table(
        spark, small, opt, ["user_id", "value"], target_bytes=1 << 13
    )
    assert out["files_in"] == 32
    n_out = (
        spark.read.parquet(opt)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    assert n_out <= out["files_out"]  # empty z-ranges may drop
    assert n_out < 32
    # data intact and clustered: a point predicate prunes
    assert spark.read.parquet(opt).count() == events.count()
    mid = events.selectExpr("percentile(user_id, 0.5) AS u").first()["u"]
    st = file_stats(spark, opt, ["user_id"]).collect()
    assert pruning_fraction(st, "user_id", mid) < 1.0


# ---------------------------------------------------------------------------
# bucketed tables — shuffle-free joins (round 4)
# ---------------------------------------------------------------------------


def test_bucketed_join_has_no_exchange_and_matches_plain_join(spark, sf_dir):
    """Two tables bucketed+sorted on the join key must sort-merge join
    with NO Exchange and NO Sort on either side (the one-time write
    pre-paid the shuffle), and produce exactly the plain join's rows."""
    from etl_hero_spark.layout import write_bucketed_table

    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumnRenamed("o_custkey", "custkey")
    )
    c = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "custkey")
    )
    write_bucketed_table(o, "t_bkt_orders", "custkey", n_buckets=4)
    write_bucketed_table(c, "t_bkt_cust", "custkey", n_buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Spark 3+ bucketed scans report output PARTITIONING (Exchange
    # elision) by default, but output ORDERING (Sort elision) only under
    # the legacy conf — which is safe exactly in our one-file-per-bucket
    # layout, the reason write_bucketed_table pre-repartitions.
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    try:
        j = spark.table("t_bkt_orders").join(spark.table("t_bkt_cust"), "custkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Sort [" not in plan
        got = sorted(map(tuple, j.collect()))
        want = sorted(map(tuple, o.join(c, "custkey").collect()))
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")


def test_bucketed_write_one_file_per_bucket(spark, sf_dir):
    """The pre-write repartition on the bucket hash keeps the layout at
    one file per bucket — the property that lets Spark trust per-bucket
    sortedness (Sort elision) and prevents task x bucket small files."""
    import glob

    from etl_hero_spark.layout import write_bucketed_table

    df = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    write_bucketed_table(df, "t_bkt_onefile", "c_custkey", n_buckets=4)
    loc = (
        spark.sql("DESCRIBE TABLE EXTENDED t_bkt_onefile")
        .filter("col_name = 'Location'")
        .first()["data_type"]
    )
    files = glob.glob(loc.replace("file:", "") + "/part-*")
    assert len(files) == 4


def test_bucketed_write_memoizes_by_key(spark, sf_dir):
    """Same memo_key -> the rewrite is skipped; changed key -> rewrite."""
    from etl_hero_spark import layout as L

    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    L.write_bucketed_table(df, "t_bkt_memo", "r_regionkey", memo_key=("a", 1))
    before = spark.table("t_bkt_memo").count()
    # drop a row from the source; same memo key must NOT rewrite
    L.write_bucketed_table(
        df.limit(1), "t_bkt_memo", "r_regionkey", memo_key=("a", 1)
    )
    assert spark.table("t_bkt_memo").count() == before
    L.write_bucketed_table(
        df.limit(1), "t_bkt_memo", "r_regionkey", memo_key=("a", 2)
    )
    assert spark.table("t_bkt_memo").count() == 1


# ---------------------------------------------------------------------------
# dynamic partition overwrite (round 4)
# ---------------------------------------------------------------------------


def test_partition_overwrite_rewrites_only_touched(spark, events, tmp_path):
    from etl_hero_spark.layout import (
        overwrite_audit,
        overwrite_changed_partitions,
        partition_file_index,
        write_partitioned,
    )

    ev = events.select(
        "event_id", "value", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    path = str(tmp_path / "ptable")
    write_partitioned(ev, path, "day")
    before = partition_file_index(spark, path)
    assert len(before) > 3
    last_day = ev.agg(F.max("day")).first()[0]
    delta = ev.filter(F.col("day") == last_day).withColumn(
        "value", F.col("value") * 2
    )
    overwrite_changed_partitions(delta, path, "day")
    after = partition_file_index(spark, path)
    audit = overwrite_audit(before, after, {last_day})
    assert audit["n_rewritten"] == 1
    assert audit["n_preserved"] == len(before) - 1
    # table content: touched day doubled, everything else untouched
    # (partition-column inference reads `day` back as DATE — normalize)
    got = spark.read.parquet(path).withColumn(
        "day", F.col("day").cast("string")
    )
    want = ev.withColumn(
        "value",
        F.when(F.col("day") == last_day, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    key = lambda df: sorted(
        (r["event_id"], r["day"], r["value"]) for r in df.collect()
    )
    assert key(got) == key(want)


def test_overwrite_audit_raises_on_unexpected_rewrite(spark, events, tmp_path):
    """The audit fails loudly: claiming a rewritten partition was
    untouched (or vice versa) raises instead of under-reporting."""
    import pytest as _pytest

    from etl_hero_spark.layout import (
        overwrite_audit,
        overwrite_changed_partitions,
        partition_file_index,
        write_partitioned,
    )

    ev = events.select(
        "event_id", "value", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    path = str(tmp_path / "ptable2")
    write_partitioned(ev, path, "day")
    before = partition_file_index(spark, path)
    last_day = ev.agg(F.max("day")).first()[0]
    overwrite_changed_partitions(
        ev.filter(F.col("day") == last_day), path, "day"
    )
    after = partition_file_index(spark, path)
    with _pytest.raises(AssertionError, match="untouched partition"):
        overwrite_audit(before, after, set())  # lie: nothing touched
    untouched = next(p for p in before if p != last_day)
    with _pytest.raises(AssertionError, match="NOT rewritten"):
        overwrite_audit(before, after, {last_day, untouched})


def test_partition_overwrite_leaves_session_conf_alone(
    spark, events, tmp_path, monkeypatch
):
    """Dynamic overwrite is a per-write option: the function never
    writes the session conf (a conf.set that raises would surface), and
    still replaces only the touched partition."""
    from etl_hero_spark.layout import (
        overwrite_audit,
        overwrite_changed_partitions,
        partition_file_index,
        write_partitioned,
    )

    ev = events.select(
        "event_id", "value", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    path = str(tmp_path / "ptable3")
    write_partitioned(ev, path, "day")
    before = partition_file_index(spark, path)
    last_day = ev.agg(F.max("day")).first()[0]
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)

    def _no_set(*_a, **_k):
        raise AssertionError("session conf written")

    monkeypatch.setattr(spark.conf, "set", _no_set)
    overwrite_changed_partitions(
        ev.filter(F.col("day") == last_day), path, "day"
    )
    monkeypatch.undo()
    after = partition_file_index(spark, path)
    audit = overwrite_audit(before, after, {last_day})
    assert audit["n_rewritten"] == 1
    assert audit["n_preserved"] == len(before) - 1
    assert spark.conf.get(key) == prior


def test_bucketed_memo_revalidates_against_catalog(spark, sf_dir):
    """A memo hit is only honored while the current session's catalog
    still knows the table — after a drop (stand-in for a session
    restart emptying the in-memory catalog) the write re-runs instead
    of returning a dangling name."""
    from etl_hero_spark import layout as L

    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    L.write_bucketed_table(df, "t_bkt_stale", "r_regionkey", memo_key=("m", 1))
    assert spark.table("t_bkt_stale").count() == df.count()
    spark.sql("DROP TABLE t_bkt_stale")
    # memo still holds ("m", 1); the call must detect the missing table
    L.write_bucketed_table(df, "t_bkt_stale", "r_regionkey", memo_key=("m", 1))
    assert spark.table("t_bkt_stale").count() == df.count()


def test_dpp_join_prunes_partitions_at_runtime(spark, sf_dir):
    """The registered star-join over the day-partitioned fact must carry
    a dynamicpruningexpression in the fact scan's PartitionFilters (the
    runtime subquery that turns a full-table star join into a
    few-partition read), and produce exactly the plain filtered
    aggregate."""
    from etl_hero_spark.registry import _events, all_queries

    df = all_queries()["layout_dpp_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    got = sorted(
        (str(r["day"]), r["n_events"], r["sum_value"]) for r in df.collect()
    )
    ev = _events(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    )
    want = sorted(
        (r["day"], r["n_events"], r["sum_value"])
        for r in ev.filter(F.dayofweek(F.col("day").cast("date")) == 2)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .collect()
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# parquet footer audit + manifest versioning (round 4)
# ---------------------------------------------------------------------------


def test_parquet_audit_reflects_footers(spark, sf_dir):
    """Column set matches the schema, byte totals reconcile with the
    file, and a multi-file directory aggregates row groups across
    files."""
    import os

    from etl_hero_spark.layout import parquet_column_audit

    p = f"{sf_dir}/lineitem.parquet"
    rows = {r["column"]: r for r in parquet_column_audit(spark, p).collect()}
    assert set(rows) == set(spark.read.parquet(p).columns)
    total_comp = sum(r["compressed_bytes"] for r in rows.values())
    assert 0 < total_comp <= os.path.getsize(p)
    assert all(r["codecs"] for r in rows.values())
    # multi-file dir: row groups sum across files
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "multi")
        spark.read.parquet(p).repartition(4).write.parquet(out)
        multi = {
            r["column"]: r
            for r in parquet_column_audit(spark, out).collect()
        }
        assert all(r["n_row_groups"] >= 4 for r in multi.values())


def test_versioning_time_travel_and_isolation(spark, tmp_path):
    """Version 1's exact rows survive version 2's commit; latest tracks;
    reading a missing table raises."""
    import pytest as _pytest

    from etl_hero_spark.versioning import (
        commit_version,
        latest_version,
        read_version,
    )

    tdir = str(tmp_path / "vt")
    df1 = spark.range(10).selectExpr("id", "id * 2 AS v")
    assert commit_version(df1, tdir) == 1
    df2 = spark.range(5).selectExpr("id", "id * 3 AS v")
    assert commit_version(df2, tdir) == 2
    assert latest_version(tdir) == 2
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(read_version(spark, tdir, 1)) == key(df1)
    assert key(read_version(spark, tdir, 2)) == key(df2)
    assert key(read_version(spark, tdir)) == key(df2)  # default latest
    with _pytest.raises(ValueError, match="no versions"):
        read_version(spark, str(tmp_path / "nope"))


def test_versioning_vacuum_keeps_retained_versions_readable(spark, tmp_path):
    from etl_hero_spark.versioning import (
        commit_version,
        read_version,
        vacuum,
    )

    tdir = str(tmp_path / "vac")
    for i in range(1, 5):
        commit_version(spark.range(i * 10), tdir)
    removed = vacuum(tdir, keep_last=2)
    assert removed > 0
    # retained versions read fine, dropped ones are gone
    assert read_version(spark, tdir, 4).count() == 40
    assert read_version(spark, tdir, 3).count() == 30
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_version(spark, tdir, 1)


def test_versioning_optimistic_commit_and_merge(spark, tmp_path):
    """commit_version_if refuses a stale base; commit_merge composes
    read-latest -> latest-wins upsert -> commit, leaving every prior
    version readable (UPSERT + time travel)."""
    import pytest as _pytest

    from etl_hero_spark.versioning import (
        CommitConflictError,
        commit_merge,
        commit_version_if,
        read_version,
    )

    tdir = str(tmp_path / "occ")
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01")],
        "k bigint, v string, ts string",
    )
    assert commit_version_if(base, tdir, None) == 1
    with _pytest.raises(CommitConflictError, match="expected None"):
        commit_version_if(base, tdir, None)  # stale base
    changes = spark.createDataFrame(
        [(2, "b2", "2024-01-02"), (3, "c", "2024-01-02")],
        "k bigint, v string, ts string",
    )
    assert commit_merge(tdir, changes, "k") == 2
    got = {
        r["k"]: r["v"] for r in read_version(spark, tdir, 2).collect()
    }
    assert got == {1: "a", 2: "b2", 3: "c"}
    # v1 untouched by the merge commit
    assert {
        r["k"]: r["v"] for r in read_version(spark, tdir, 1).collect()
    } == {1: "a", 2: "b"}


def test_file_provenance_matches_duckdb(spark, sf_dir):
    from etl_hero_spark.layout import file_provenance

    got = [
        (r["file"], r["n_rows"], r["n_distinct_keys"],
         r["checksum"] % (1 << 64))
        for r in file_provenance(
            spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
            ["l_orderkey", "l_linenumber"],
        ).collect()
    ]
    import duckdb

    # the key is the FULL (scheme-stripped) path — a basename key would
    # merge hive-partition files sharing a name; duckdb's filename is
    # already the plain path
    want = [
        (f, n, d, int(ck) % (1 << 64))
        for f, n, d, ck in duckdb.sql(
            f"""
            SELECT filename f, count(*) n,
                   count(DISTINCT (l_orderkey, l_linenumber)) d,
                   sum(CAST(CAST('0x' ||
                     substring(md5(l_orderkey || '|' || l_linenumber), 1, 15)
                     AS UBIGINT) AS HUGEINT)) ck
            FROM read_parquet('{sf_dir}/lineitem.parquet', filename=true)
            GROUP BY 1 ORDER BY 1
            """
        ).fetchall()
    ]
    # spark's bigint sum wraps mod 2^64 (by design: a checksum);
    # duckdb's hugeint doesn't — compare in the wrapped domain
    assert got == want and len(got) >= 1


def test_file_provenance_detects_file_content_change(spark, tmp_path):
    from etl_hero_spark.layout import file_provenance

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").coalesce(
        1
    ).write.parquet(p1)
    spark.range(0, 100).selectExpr(
        "CASE WHEN id = 50 THEN 999 ELSE id END AS id", "id * 2 AS v"
    ).coalesce(1).write.parquet(p2)
    c1 = file_provenance(spark.read.parquet(p1), ["id"]).collect()[0]
    c2 = file_provenance(spark.read.parquet(p2), ["id"]).collect()[0]
    assert c1["n_rows"] == c2["n_rows"]  # counts can't see the edit
    assert c1["checksum"] != c2["checksum"]  # the checksum can
