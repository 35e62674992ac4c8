"""Plan-quality invariants, asserted from .explain output.

The 100 TB design point is a property of the PLAN, not the result:
filters must reach the parquet scan (PushedFilters), projections must
prune the read schema, 1-row stats sides must broadcast, hot paths must
stay inside WholeStageCodegen, and nothing may fall back to
row-at-a-time Python (BatchEvalPython). These tests freeze those
properties so a refactor that silently de-optimizes a plan fails CI.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_hero_spark.session import ensure_oracle_safe_conf


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# ---------------------------------------------------------------------------
# engine-wide invariant: no row-at-a-time Python in ANY registered query
# ---------------------------------------------------------------------------

# queries whose callable executes work eagerly (streaming run) — plan
# inspection would re-run them; their plan shape is covered by their own tests
_SKIP = {
    "stream_window_tumbling",
    "stream_session_window",
    "stream_dedup",
    "stream_user_gaps",
    "stream_funnel",
    "stream_contract_monitor",
    "stream_latest_state",
    "stream_quantile_sketch",
    "stream_scd2_history",
    # ADVICE r10: the remaining eager streaming twins — each drains a
    # full stream when its callable runs, so the plan explained
    # afterwards is just the memory-sink table scan (a vacuous
    # BatchEvalPython assertion at substantial test cost); their
    # pre-drain projections are covered by tests/test_streaming.py
    "stream_ab_monitor",
    "stream_ann_maintain",
    "stream_ann_probe",
    "stream_cms_heavy_hitters",
    "stream_dedup_best",
    "stream_ewma_state",
    "stream_join_attribution",
    "stream_join_enrichment",
    "stream_media_triage",
    "stream_psi_monitor",
    "stream_quality_score",
    "stream_transition_matrix",
}


def test_no_row_python_udfs_anywhere(spark, sf_dir):
    """BatchEvalPython (pickled row-at-a-time Python UDF) must appear in no
    registered query plan. The only sanctioned Python crossing is the
    Arrow-batched mapInPandas in multimodal_decode (MapInPandas node)."""
    ensure_oracle_safe_conf(spark)
    from etl_hero_spark.registry import REGISTRY, _load_extensions

    _load_extensions()
    offenders = []
    for name, spec in list(REGISTRY.items()):
        if name in _SKIP:
            continue
        plan = plan_str(spec.spark(spark, sf_dir), "simple")
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert offenders == []


# ---------------------------------------------------------------------------
# predicate pushdown & column pruning
# ---------------------------------------------------------------------------


def test_null_drop_filter_pushes_to_parquet_scan(lineitem):
    from etl_hero_spark.clean import drop_null_rows

    plan = plan_str(drop_null_rows(lineitem, "l_returnflag"))
    assert "PushedFilters: [IsNotNull(l_returnflag)]" in plan


def test_market_share_date_range_pushes_to_orders_scan(spark, sf_dir):
    """TPC-H Q8's two-year window must reach the orders parquet scan —
    at 100 TB the fact read is two years of orders, not all of them
    (VERDICT r5 #4)."""
    from etl_hero_spark.registry import REGISTRY, _load_extensions

    _load_extensions()
    plan = plan_str(REGISTRY["sql_market_share"].spark(spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate,1995-01-01" in plan
    assert "LessThan(o_orderdate,1997-01-01" in plan


def test_projection_prunes_parquet_read_schema(spark, sf_dir):
    from etl_hero_spark.textops import with_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = with_token_counts(docs).select("doc_id", "n_tokens")
    plan = plan_str(out)
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "text" in read_schema and "doc_id" in read_schema
    # untouched wide columns must NOT be read
    assert "lang" not in read_schema and "source" not in read_schema


# ---------------------------------------------------------------------------
# join strategies
# ---------------------------------------------------------------------------


def test_outlier_stats_join_is_broadcast_not_shuffle(lineitem):
    from etl_hero_spark.detect import with_outlier_flags

    plan = plan_str(with_outlier_flags(lineitem, ["l_extendedprice"]))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_detect_missions_is_one_lazy_query(spark):
    """Building detect_missions runs no job (its z-score stats are a
    broadcast 1-row subquery, not an eager collect); its one shuffle is
    the groupBy over all columns, and a collect stays a handful of jobs."""
    from etl_hero_spark.detect import detect_missions
    from etl_hero_spark.io import messy_orders

    df = messy_orders(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    missions = detect_missions(df)
    j1 = dag.nextJobId()
    assert j1 == j0
    plan = plan_str(missions, "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in plan
    missions.collect()
    assert dag.nextJobId() - j1 <= 5


def test_quality_score_df_is_one_union_without_join(spark):
    """Both tables' partials meet in one union and one aggregate: no
    nested-loop join of two aggregates, at most 4 jobs per collect."""
    from etl_hero_spark.io import messy_orders
    from etl_hero_spark.score import quality_score_df

    df = messy_orders(spark)
    score = quality_score_df(df, df.dropDuplicates())
    assert "BroadcastNestedLoopJoin" not in plan_str(score)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    score.collect()
    assert dag.nextJobId() - j0 <= 4


def test_replace_outliers_plan_has_no_join(lineitem):
    """replace_outliers puts its z-score stats into the plan as literals:
    later scans of the cleaned table re-run no stats aggregate."""
    from etl_hero_spark.clean import replace_outliers

    plan = plan_str(replace_outliers(lineitem, "l_extendedprice"))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_topk_cosine_broadcasts_query_side(spark, sf_dir):
    """Brute-force top-k must broadcast the (small) query side — the corpus
    never shuffles on content; only scored rows move through the tiny
    per-query window shuffle."""
    from pyspark.sql import functions as F

    from etl_hero_spark.simsearch import topk_cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = plan_str(topk_cosine(emb, queries, k=5), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cluster_assignment_join_is_not_mandatory_broadcast(spark):
    """The components side of assign_dedup_clusters is O(corpus) at
    web-crawl dup rates (30-50% of docs carry a near-dup pair), so the
    assignment join must not FORCE a broadcast — with the auto-broadcast
    threshold disabled, a hinted join would still plan
    BroadcastHashJoin; an un-hinted one falls back to a shuffled join,
    proving AQE retains the choice."""
    from etl_hero_spark.dedup import assign_dedup_clusters

    docs = spark.createDataFrame(
        [(f"d{i}",) for i in range(8)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [("d0", "d1"), ("d2", "d3")], ["id_a", "id_b"]
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = assign_dedup_clusters(docs, pairs)
        plan = plan_str(out, "simple")
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# ---------------------------------------------------------------------------
# shuffle counts & codegen
# ---------------------------------------------------------------------------


def test_exact_dedup_is_single_shuffle(lineitem):
    from etl_hero_spark.clean import drop_duplicate_rows

    plan = plan_str(drop_duplicate_rows(lineitem), "simple")
    assert plan.count("Exchange") == 1


def test_grouped_agg_is_single_shuffle_with_partial_agg(lineitem):
    """groupBy aggs must plan partial (map-side) + final HashAggregate
    around exactly one exchange."""
    from pyspark.sql import functions as F

    out = lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty")
    )
    plan = plan_str(out, "simple")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


def test_hot_path_stays_in_whole_stage_codegen(lineitem):
    from etl_hero_spark.clean import clip_outliers

    # simple mode marks whole-stage-codegen'd operators with "*(n)"
    plan = plan_str(clip_outliers(lineitem, "l_extendedprice"), "simple")
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan


def test_multimodal_is_arrow_batched_not_row_python(spark, sf_dir):
    from etl_hero_spark.multimodal import decode_media_stub, with_media_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_str(decode_media_stub(with_media_column(docs)))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_queries_survive_ansi_on_session(spark, sf_dir):
    """Spark 4 drivers ship ANSI mode on; registered queries must keep
    try-parse semantics (NULL on failure, not runtime error) regardless
    of the session they receive."""
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        from etl_hero_spark.registry import REGISTRY

        out = REGISTRY["dates_normalize"].spark(spark, sf_dir)
        assert out.count() > 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-bucketed tables on the join key must sort-merge join with ZERO
    Exchange operators — the bucketing IS the shuffle, paid once at
    write. Broadcast is disabled for the probe: at test scale the dim
    side is broadcast-small, which would bypass the bucketed path this
    test exists to verify (at 100 TB both sides exceed the threshold)."""
    from pyspark.sql import functions as F

    from etl_hero_spark.io import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(orders, "b_orders", "o_custkey", 8)
    write_bucketed(customer, "b_customer", "c_custkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            spark.table("b_orders")
            .join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select("o_orderkey", "c_mktsegment")
        )
        plan = plan_str(j, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """A filter on the partition column must prune at planning time:
    PartitionFilters populated, and only the matching hive directory is
    scanned (zero data read from other partitions)."""
    from pyspark.sql import functions as F

    from etl_hero_spark.io import messy_orders, write_parquet

    df = messy_orders(spark, n=60).na.fill("X", ["category"])
    path = str(tmp_path / "part")
    write_parquet(df, path, partition_by=["category"])
    back = spark.read.parquet(path).filter(F.col("category") == "A")
    plan = plan_str(back)
    assert "PartitionFilters" in plan
    # the partition predicate must appear in PartitionFilters, not as a
    # post-scan data filter
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "category" in pf_line
    assert back.count() > 0


def test_waiting_suppliers_plans_semi_anti_no_cartesian(spark, sf_dir):
    """TPC-H Q21's EXISTS / NOT EXISTS must plan as hash-partitioned
    LeftSemi / LeftAnti joins on the orderkey — never a cartesian or
    nested-loop over the fact table. (sql_waiting_suppliers was absorbed
    into sql_shipmode_priority as part='q21' rows in r10; the Q21 body
    lives on as q_sql_waiting_suppliers, which the absorber calls.)"""
    from etl_hero_spark.registry_ext2 import q_sql_waiting_suppliers

    plan = plan_str(q_sql_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_classifier_apply_stays_jvm_side(spark, sf_dir):
    """The capstone's serving pass (hashed features + literal sigmoid)
    must contain no row-Python: scoring is codegen'd expressions over
    the staged feature table."""
    from etl_hero_spark.registry import REGISTRY, _load_extensions

    _load_extensions()
    plan = plan_str(
        REGISTRY["pipeline_quality_classifier"].spark(spark, sf_dir)
    )
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_pricing_summary_cutoff_pushes_to_scan(spark, sf_dir):
    """TPC-H Q1's shipdate cutoff must reach the lineitem parquet scan."""
    from etl_hero_spark.registry import REGISTRY, _load_extensions

    _load_extensions()
    plan = plan_str(REGISTRY["sql_pricing_summary"].spark(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan
