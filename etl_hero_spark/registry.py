"""Query/oracle registry — the contract surface for __spark_entry__.py.

Every implemented operator from SURVEY.md §2 (+ extensions) appears here
as a QuerySpec: a PySpark callable (spark, sf_dir) -> DataFrame and, when
SQL-expressible, the equivalent DuckDB oracle SQL over the same parquet
tables. The driver hash-compares them (row count + schema + order-
insensitive values), so every numeric output is made ENGINE-EXACT:

* sums/means/stddevs aggregate in DECIMAL (exact, order-independent),
  then do final arithmetic in float64 with the identical expression tree
  in both engines -> bit-identical doubles;
* modes/top-k carry explicit deterministic tie-breaks (SURVEY §2.4 A9);
* date parsing uses an unambiguous explicit format list (SURVEY §2.5);
* null-remediation demos inject NULLs deterministically (the driver
  tables have none) via keyed modular predicates, identically in both.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_hero_spark.profile import sql_dec_avg, sql_dec_std, sql_dec_sum
from etl_hero_spark.session import ensure_oracle_safe_conf

# Numeric lineitem columns used by the profiling pack (l_linenumber is int,
# rest double — both decimal-castable).
LINEITEM_NUM = [
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_linenumber",
]
LINEITEM_ALL = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    note: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, note: str = ""):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_oracle_safe_conf(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(wrapped, oracle, note)
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_QC_MODEL_MEMO: dict = {}


def _quality_model(spark: SparkSession, sf_dir: str, dim: int = 16) -> dict:
    """Session-memoized quality-classifier fit over the documents
    fixture (target = the src0 domain) — the trained-model sibling of
    the codebook/index memos: the IRLS fit is a BUILD-ONCE artifact
    over an immutable input, so the capstone report query and its
    streaming twin share one fit per process instead of re-training.
    Keyed by fixture path+mtime+dim (a regenerated fixture refits)."""
    import os

    from pyspark.sql import functions as F

    p = os.path.realpath(f"{sf_dir}/documents.parquet")
    key = (p, os.path.getmtime(p), dim)
    model = _QC_MODEL_MEMO.get(key)
    if model is None:
        from etl_hero_spark.features import quality_classifier_report

        _report, model = quality_classifier_report(
            _t(spark, sf_dir, "documents"),
            F.col("source") == "src0",
            dim=dim,
        )
        _QC_MODEL_MEMO[key] = model
    return model


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events scan with `ts` normalized to TimestampType (UTC session).

    The fixture's physical ts type has varied across driver generations:
    TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so read
    nanos as long (runtime conf) and truncate to µs (matches DuckDB's
    cast semantics down to sub-µs epsilon) — or TIMESTAMP(MICROS)
    without UTC adjustment, which Spark reads as TIMESTAMP_NTZ and we
    cast (wall-clock-preserving under the UTC session tz DuckDB also
    assumes). Adapt to whichever the footer declares."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":  # legacy nanos fixture
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":  # timestamp_ntz fixture
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ===========================================================================
# Profiling pack (P1, A1-A3, A5-A6, A10) — reference app.py:43-60
# ===========================================================================


@register(
    "profile_nulls_distinct",
    oracle=(
        "SELECT n.*, d.* FROM ("
        "SELECT "
        + ", ".join(
            f"count(*) - count({c}) AS n_null_{c}" for c in LINEITEM_ALL
        )
        + ", count(*) AS n_rows, "
        + " + ".join(f"(count(*) - count({c}))" for c in LINEITEM_ALL)
        + " AS n_null_total FROM lineitem) n, ("
        "SELECT "
        + ", ".join(
            f"cast(count(DISTINCT {c}) as bigint) AS n_unique_{c}"
            for c in LINEITEM_ALL
        )
        + " FROM lineitem) d"
    ),
    note="A1+A2+A3+A10 one-row profile (app.py:55-56,84-85,152): null pack in one agg pass + exact per-column COUNT DISTINCT (concurrent pruned-scan jobs); HLL++ variant is profile_distinct_approx (rows-only). Merged so both land in the driver's verified-query window",
)
def q_profile_nulls_distinct(spark, sf_dir):
    from etl_hero_spark.profile import distinct_counts, null_counts

    li = _t(spark, sf_dir, "lineitem")
    return null_counts(li).crossJoin(distinct_counts(li))


@register(
    "profile_distinct_approx",
    oracle=None,
    note="A2 at 100 TB: HLL++ approx_count_distinct — no DuckDB bit-parity, rows-only check",
)
def q_profile_distinct_approx(spark, sf_dir):
    from etl_hero_spark.profile import distinct_counts

    return distinct_counts(_t(spark, sf_dir, "lineitem"), approx=True)


_QPROBS = [0.01, 0.25, 0.50, 0.75, 0.99]
_QNAMES = ["q01", "q25", "q50", "q75", "q99"]


_WEIGHTED_QUANTILE_SQL = (
        "WITH v AS (SELECT l_extendedprice AS v, "
        "sum(CAST(l_quantity AS DECIMAL(38,6))) AS w "
        "FROM lineitem "
        "WHERE l_extendedprice IS NOT NULL AND l_quantity > 0 "
        "GROUP BY 1), "
        "c AS (SELECT v, w, "
        "sum(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS incl, "
        "sum(w) OVER () AS tot FROM v) "
        "SELECT cast(count(*) as bigint) AS n_values, "
        "round(CAST(max(tot) AS DOUBLE), 6) AS total_weight, "
        "round(min(CASE WHEN CAST(incl AS DOUBLE) "
        ">= 0.25 * CAST(tot AS DOUBLE) THEN CAST(v AS DOUBLE) END), 6) "
        "AS wq_0_25, "
        "round(min(CASE WHEN CAST(incl AS DOUBLE) "
        ">= 0.5 * CAST(tot AS DOUBLE) THEN CAST(v AS DOUBLE) END), 6) "
        "AS wq_0_5, "
        "round(min(CASE WHEN CAST(incl AS DOUBLE) "
        ">= 0.9 * CAST(tot AS DOUBLE) THEN CAST(v AS DOUBLE) END), 6) "
        "AS wq_0_9 FROM c"
)


@register(
    "profile_stats",
    oracle=(
        "SELECT * FROM ("
        "WITH s AS (SELECT "
        + ", ".join(
            f"{sql_dec_avg(c)} AS mean_{c}, {sql_dec_std(c)} AS std_{c}, "
            + (
                f"cast(min({c}) as bigint) AS min_{c}, "
                f"cast(max({c}) as bigint) AS max_{c}"
                if c == "l_linenumber"
                else f"min({c}) AS min_{c}, max({c}) AS max_{c}"
            )
            for c in LINEITEM_NUM
        )
        + ", "
        + ", ".join(
            f"round(quantile_cont(l_extendedprice, {p}), 6) AS {n}"
            for p, n in zip(_QPROBS, _QNAMES)
        )
        + ", cast(count(*) as double) AS n, "
        "cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sx, "
        "cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sy, "
        "cast(sum(cast(l_quantity as decimal(18,2)) * "
        "cast(l_extendedprice as decimal(18,2))) as double) AS sxy, "
        "cast(sum(cast(l_quantity as decimal(18,2)) * "
        "cast(l_quantity as decimal(18,2))) as double) AS sxx, "
        "cast(sum(cast(l_extendedprice as decimal(18,2)) * "
        "cast(l_extendedprice as decimal(18,2))) as double) AS syy "
        "FROM lineitem) "
        "SELECT "
        + ", ".join(
            f"mean_{c}, std_{c}, min_{c}, max_{c}" for c in LINEITEM_NUM
        )
        + ", " + ", ".join(_QNAMES)
        + ", round((n*sxy - sx*sy) / "
        "(sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6) AS corr_qty_price "
        "FROM s"
        # absorbed profile_weighted_quantile (r8 merge, oracle SQL
        # byte-unchanged inside the 1x1 cross-join wrapper)
        f") CROSS JOIN ({_WEIGHTED_QUANTILE_SQL}" + ")"
    ),
    note=(
        "A5/A6 (population stddev ddof=0, app.py:66-67) + min/max + "
        "A7/A8 exact interpolated percentiles (quantile_cont semantics, "
        "the clip bounds of R1d; t-digest variant: "
        "profile_quantiles_approx) + Pearson correlation from exact "
        "DECIMAL moment sums (order-independent; native corr() is "
        "partition-order dependent) — formerly the separate "
        "profile_quantiles / profile_correlation queries, merged into "
        "ONE aggregation pass: one scan instead of three, and frees "
        "driver-window slots for new oracle-backed operators. ALSO "
        "absorbed r8 (oracle SQL byte-unchanged inside the 1x1 "
        "cross-join wrapper): the former profile_weighted_quantile "
        "query — exact weighted quantiles (lower-tail: smallest value "
        "whose inclusive cumulative weight reaches p*W), quantity-"
        "weighted lineitem price quartiles over the distinct-value "
        "weight table with the mann_whitney two-phase prefix scan, "
        "appended as five columns (n_values, total_weight, wq_*) of "
        "the same one-row panel — driver-window slot policy"
    ),
)
def q_profile_stats(spark, sf_dir):
    from etl_hero_spark.profile import dec_avg, dec_stddev_pop

    df = _t(spark, sf_dir, "lineitem")
    dec = "decimal(18,2)"
    x = F.col("l_quantity").cast(dec)
    y = F.col("l_extendedprice").cast(dec)
    exprs = []
    for c in LINEITEM_NUM:
        exprs += [
            dec_avg(c, f"mean_{c}"),
            dec_stddev_pop(c, f"std_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    exprs += [
        F.percentile("l_extendedprice", F.lit(_QPROBS)).alias("_q"),
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(x).cast("double").alias("_sx"),
        F.sum(y).cast("double").alias("_sy"),
        F.sum(x * y).cast("double").alias("_sxy"),
        F.sum(x * x).cast("double").alias("_sxx"),
        F.sum(y * y).cast("double").alias("_syy"),
    ]
    agg = df.agg(*exprs)
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    sxy, sxx, syy = F.col("_sxy"), F.col("_sxx"), F.col("_syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    out_cols = []
    for c in LINEITEM_NUM:
        # l_linenumber min/max are int32 in parquet; normalize to bigint
        # for cross-engine schema stability
        for p in ("mean", "std", "min", "max"):
            col = F.col(f"{p}_{c}")
            if c == "l_linenumber" and p in ("min", "max"):
                col = col.cast("bigint").alias(f"{p}_{c}")
            out_cols.append(col)
    out_cols += [
        F.round(F.col("_q")[i], 6).alias(nme) for i, nme in enumerate(_QNAMES)
    ]
    out_cols.append(F.round(corr, 6).alias("corr_qty_price"))
    # absorbed profile_weighted_quantile (r8): its one-row panel joins
    # the stats row via a 1x1 cross join — zero row growth
    from etl_hero_spark.registry_ext2 import q_profile_weighted_quantile

    return agg.select(*out_cols).crossJoin(
        q_profile_weighted_quantile(spark, sf_dir)
    )


_P1_DTYPES = {  # Spark dtypes for lineitem, used as literals in the oracle
    "l_orderkey": "bigint",
    "l_partkey": "bigint",
    "l_suppkey": "bigint",
    "l_linenumber": "int",
    "l_quantity": "double",
    "l_extendedprice": "double",
    "l_discount": "double",
    "l_tax": "double",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipdate": "timestamp",
}


@register(
    "profile_table",
    oracle=(
        "SELECT p.column, p.dtype, s.n_null, s.n_unique FROM (VALUES "
        + ", ".join(f"('{c}', '{t}')" for c, t in _P1_DTYPES.items())
        + ") AS p(\"column\", dtype) JOIN ("
        + " UNION ALL ".join(
            f"SELECT '{c}' AS col, count(*) - count({c}) AS n_null, "
            f"cast(count(DISTINCT {c}) as bigint) AS n_unique FROM lineitem"
            for c in LINEITEM_ALL
        )
        + ") AS s ON p.\"column\" = s.col"
    ),
    note="P1 profile_dataframe (app.py:43-60) minus nondeterministic sample_values",
)
def q_profile_table(spark, sf_dir):
    from etl_hero_spark.profile import profile_table

    out = profile_table(_t(spark, sf_dir, "lineitem"))
    # Spark 4 reads parquet naive timestamps as timestamp_ntz; report the
    # logical type so the profile is stable across reader configs.
    return out.withColumn(
        "dtype",
        F.when(F.col("dtype") == "timestamp_ntz", "timestamp").otherwise(
            F.col("dtype")
        ),
    )


# ===========================================================================
# Duplicates (A4, P4, R3) — app.py:86-87,230-232,308-315
# ===========================================================================


# The driver tables are dup-free, so full-row dup detection is demonstrated
# on a deterministically dup-injected view of documents (doc_id%50==0 rows
# appended once more).
_DOCS_DUPED_SQL = (
    "SELECT * FROM documents UNION ALL SELECT * FROM documents WHERE doc_id % 50 = 0"
)


def _docs_duped(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.unionByName(d.filter(F.col("doc_id") % 50 == 0))


@register(
    "dup_counts",
    oracle=(
        f"WITH t AS ({_DOCS_DUPED_SQL}) "
        "SELECT 'full_row' AS scope, cast(count(*) as bigint) - "
        "(SELECT cast(count(*) as bigint) FROM (SELECT DISTINCT * FROM t)) "
        "AS n_duplicates FROM t "
        "UNION ALL "
        "SELECT 'subset' AS scope, cast(count(*) as bigint) - "
        "(SELECT cast(count(*) as bigint) "
        "FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)) "
        "AS n_duplicates FROM orders"
    ),
    note="A4/P4 duplicate counts, tagged per scope: full-row (app.py:86-87, dup-injected documents) + subset-key generalization (orders) — one verified query covering both code paths",
)
def q_dup_counts(spark, sf_dir):
    from etl_hero_spark.profile import duplicate_count

    full = duplicate_count(_docs_duped(spark, sf_dir)).select(
        F.lit("full_row").alias("scope"), "n_duplicates"
    )
    sub = duplicate_count(
        _t(spark, sf_dir, "orders"), subset=["o_orderstatus", "o_orderpriority"]
    ).select(F.lit("subset").alias("scope"), "n_duplicates")
    return full.unionByName(sub)


@register(
    "dedup_rows",
    oracle=(
        f"WITH t AS ({_DOCS_DUPED_SQL}), "
        "u AS (SELECT * FROM documents UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
        "FROM documents WHERE doc_id % 20 = 0), "
        "r AS (SELECT *, row_number() OVER "
        "(PARTITION BY text ORDER BY doc_id ASC) AS rn FROM u) "
        "SELECT 'distinct' AS mode, doc_id, text, lang, source, n_chars FROM "
        "(SELECT DISTINCT doc_id, text, lang, source, n_chars FROM t) "
        "UNION ALL "
        "SELECT 'keep_first' AS mode, doc_id, text, lang, source, n_chars "
        "FROM r WHERE rn = 1"
    ),
    note="R3 both forms, tagged: full-row drop_duplicates (app.py:308-315; multiset-identical to keep='first' for full-row dups) + subset-key deterministic keep-first via row_number (SURVEY §2.8 scale generalization)",
)
def q_dedup_rows(spark, sf_dir):
    from etl_hero_spark.clean import drop_duplicate_rows

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    full = drop_duplicate_rows(_docs_duped(spark, sf_dir)).select(
        F.lit("distinct").alias("mode"), *cols
    )
    d = _t(spark, sf_dir, "documents")
    clones = d.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    kf = drop_duplicate_rows(
        d.unionByName(clones), subset=["text"], keep_first_by=["doc_id"]
    ).select(F.lit("keep_first").alias("mode"), *cols)
    return full.unionByName(kf)


# ===========================================================================
# Outliers (P2, R1) — app.py:62-71,248-273
# ===========================================================================

_ZCOLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _sql_zstats(c: str, table: str = "lineitem") -> str:
    """CTE body computing the engine's mu/sigma for column c."""
    return (
        f"SELECT {sql_dec_avg(c)} AS mu, {sql_dec_std(c)} AS sigma FROM {table}"
    )


@register(
    "outliers_detect",
    oracle=(
        " UNION ALL ".join(
            f"SELECT 'zscore' AS method, 'lineitem' AS src, "
            f"'{c}' AS \"column\", "
            f"cast(sum(CASE WHEN "
            f"abs(({c} - s.mu) / s.sigma) > 3.0 THEN 1 ELSE 0 END) as bigint)"
            f" AS n_outliers, cast(NULL as double) AS lo, "
            f"cast(NULL as double) AS hi "
            f"FROM lineitem, ({_sql_zstats(c)}) s "
            f"WHERE s.sigma IS NOT NULL AND s.sigma <> 0"
            for c in _ZCOLS
        )
        + " UNION ALL "
        "SELECT 'zscore' AS method, 'events' AS src, 'value' AS \"column\", "
        "cast(sum(CASE WHEN "
        "abs((value - s.mu) / s.sigma) > 3.0 THEN 1 ELSE 0 END) as bigint)"
        " AS n_outliers, cast(NULL as double) AS lo, "
        "cast(NULL as double) AS hi "
        f"FROM events, ({_sql_zstats('value', 'events')}) s "
        "WHERE s.sigma IS NOT NULL AND s.sigma <> 0"
        + " UNION ALL "
        + " UNION ALL ".join(
            f"SELECT 'iqr' AS method, 'lineitem' AS src, '{c}' AS \"column\", "
            "cast(sum(CASE WHEN "
            f"{c} < s.lo OR {c} > s.hi THEN 1 ELSE 0 END) as bigint) "
            "AS n_outliers, s.lo, s.hi FROM lineitem, "
            "(SELECT q1 - 1.5*(q3 - q1) AS lo, q3 + 1.5*(q3 - q1) AS hi "
            f"FROM (SELECT quantile_cont({c}, 0.25) AS q1, "
            f"quantile_cont({c}, 0.75) AS q3 FROM lineitem)) s "
            "GROUP BY s.lo, s.hi"
            for c in LINEITEM_NUM
        )
    ),
    note=(
        "P2 z-score outlier counts per column (app.py:62-71,218-223), "
        "population sigma — lineitem columns + events.value (the column "
        "with genuine z>3 outliers), tagged per source table. Absorbed "
        "in r5: the method='iqr' rows carry the Tukey-fence detection "
        "that was the separate outliers_iqr query (reference future "
        "work app.py:397 SHIPPED; RAW IEEE fences so the hash check "
        "holds; 2dp/null/constant edges stay pinned in "
        "tests/test_detect.py; approx=True t-digest flag is the 100 TB "
        "path) — driver-window slot policy: merge mature tagged "
        "entries instead of registering more"
    ),
)
def q_outliers_detect(spark, sf_dir):
    from etl_hero_spark.detect import detect_outliers, detect_outliers_iqr

    null_d = F.lit(None).cast("double")
    li = detect_outliers(_t(spark, sf_dir, "lineitem"), _ZCOLS).select(
        F.lit("zscore").alias("method"),
        F.lit("lineitem").alias("src"),
        "column",
        "n_outliers",
        null_d.alias("lo"),
        null_d.alias("hi"),
    )
    ev = detect_outliers(_events(spark, sf_dir), ["value"]).select(
        F.lit("zscore").alias("method"),
        F.lit("events").alias("src"),
        "column",
        "n_outliers",
        null_d.alias("lo"),
        null_d.alias("hi"),
    )
    iqr = detect_outliers_iqr(
        _t(spark, sf_dir, "lineitem"), LINEITEM_NUM, round_bounds=None
    ).select(
        F.lit("iqr").alias("method"),
        F.lit("lineitem").alias("src"),
        "column",
        "n_outliers",
        "lo",
        "hi",
    )
    return li.unionByName(ev).unionByName(iqr)


@register(
    "clean_outliers_remove",
    oracle=(
        f"WITH s AS ({_sql_zstats('value', 'events')}), "
        "f AS (SELECT event_id, value, "
        "(s.sigma IS NOT NULL AND s.sigma <> 0 AND "
        "abs((value - s.mu) / s.sigma) > 3.0) AS is_out FROM events, s) "
        "SELECT CASE WHEN is_out THEN 'outlier' ELSE 'kept' END AS part, "
        "event_id, value FROM f"
    ),
    note=(
        "R1a remove outlier rows (app.py:251-254) MERGED with the "
        "materialized P2 mask rows (formerly the separate outlier_rows "
        "query, app.py:220-222): the tagged kept/outlier PARTITION of "
        "events — 'kept' is exactly remove_outliers' survivors, "
        "'outlier' the rows the mask indexes; per-row hash coverage of "
        "both sides in one driver slot"
    ),
)
def q_clean_outliers_remove(spark, sf_dir):
    from etl_hero_spark.clean import remove_outliers
    from etl_hero_spark.detect import with_outlier_flags

    ev = _events(spark, sf_dir)
    kept = remove_outliers(ev, "value").select(
        F.lit("kept").alias("part"), "event_id", "value"
    )
    mask = (
        with_outlier_flags(ev, ["value"])
        .filter(F.col("is_outlier_value"))
        .select(F.lit("outlier").alias("part"), "event_id", "value")
    )
    return kept.unionByName(mask)


@register(
    "clean_outliers_replace",
    oracle=(
        f"WITH s AS ({_sql_zstats('value', 'events')}), "
        "flagged AS (SELECT e.*, (s.sigma IS NOT NULL AND s.sigma <> 0 AND "
        "abs((value - s.mu) / s.sigma) > 3.0) AS is_out "
        "FROM events e, s), "
        "med AS (SELECT quantile_cont(value, 0.5) AS m "
        "FROM flagged WHERE NOT is_out), "
        "mn AS (SELECT round(cast(sum(cast(value as decimal(18,2))) as double)"
        " / cast(count(value) as double), 6) AS m "
        "FROM flagged WHERE NOT is_out) "
        "SELECT 'median' AS strategy, event_id, "
        "CASE WHEN is_out THEN med.m ELSE value END AS value_clean "
        "FROM flagged, med "
        "UNION ALL "
        "SELECT 'mean' AS strategy, event_id, "
        "CASE WHEN is_out THEN mn.m ELSE value END AS value_clean "
        "FROM flagged, mn"
    ),
    note="R1b+R1c replace outliers with median / decimal-exact mean of NON-outlier rows (app.py:255-266), tagged per strategy — one verified query covering both remediation paths",
)
def q_clean_outliers_replace(spark, sf_dir):
    from etl_hero_spark.clean import replace_outliers

    ev = _events(spark, sf_dir)
    med = replace_outliers(ev, "value", strategy="median").select(
        F.lit("median").alias("strategy"),
        "event_id",
        F.col("value").alias("value_clean"),
    )
    mn = replace_outliers(ev, "value", strategy="mean").select(
        F.lit("mean").alias("strategy"),
        "event_id",
        F.col("value").alias("value_clean"),
    )
    return med.unionByName(mn)


@register(
    "clean_outliers_clip",
    oracle=(
        "WITH q AS (SELECT round(quantile_cont(l_extendedprice, 0.01), 2) AS lo, "
        "round(quantile_cont(l_extendedprice, 0.99), 2) AS hi FROM lineitem) "
        "SELECT l_orderkey, l_linenumber, "
        "CASE WHEN l_extendedprice < q.lo THEN q.lo "
        "WHEN l_extendedprice > q.hi THEN q.hi "
        "ELSE l_extendedprice END AS price_clip FROM lineitem, q"
    ),
    note="R1d clip to [p01,p99] over the FULL column incl. outliers (app.py:267-273); bounds pinned to 2dp grid",
)
def q_clean_outliers_clip(spark, sf_dir):
    from etl_hero_spark.clean import clip_outliers

    out = clip_outliers(_t(spark, sf_dir, "lineitem"), "l_extendedprice")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price_clip"),
    )


# ===========================================================================
# Missing values (P3, R2) — app.py:225-228,277-306
# The driver tables are null-free; NULLs are injected with keyed modular
# predicates so detection/imputation have real work, identically per engine.
# ===========================================================================


def _li_with_nulls(spark, sf_dir):
    """lineitem with l_extendedprice nulled on l_orderkey%97==0 (~1%)."""
    return _t(spark, sf_dir, "lineitem").withColumn(
        "price_n",
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(None).cast("double")).otherwise(
            F.col("l_extendedprice")
        ),
    )


_LI_NULLS_SQL = (
    "SELECT l.*, CASE WHEN l_orderkey % 97 = 0 THEN NULL "
    "ELSE l_extendedprice END AS price_n FROM lineitem l"
)


@register(
    "detect_missing_drop",
    oracle=(
        f"WITH t AS ({_LI_NULLS_SQL}), "
        "d AS (SELECT 'price_n' AS \"column\", "
        "count(*) - count(price_n) AS n_null FROM t), "
        "k AS (SELECT cast(count(*) as bigint) AS n_rows, "
        f"{sql_dec_sum('price_n')} AS sum_price "
        "FROM t WHERE price_n IS NOT NULL) "
        "SELECT d.*, k.* FROM d, k"
    ),
    note="P3 missing-value mission (app.py:225-228) + its R2a remediation (drop rows with NULL, app.py:281-286) on null-injected lineitem: detect count and post-drop summary in one verified row",
)
def q_detect_missing_drop(spark, sf_dir):
    from etl_hero_spark.clean import drop_null_rows
    from etl_hero_spark.detect import detect_missing
    from etl_hero_spark.profile import dec_sum

    det = detect_missing(_li_with_nulls(spark, sf_dir), ["price_n"])
    dropped = drop_null_rows(_li_with_nulls(spark, sf_dir), "price_n").agg(
        F.count(F.lit(1)).alias("n_rows"), dec_sum("price_n", "sum_price")
    )
    return det.crossJoin(dropped)


@register(
    "clean_nulls_impute_cat",
    oracle=(
        "WITH t AS (SELECT o.*, CASE WHEN o_orderkey % 89 = 0 THEN NULL "
        "ELSE o_orderpriority END AS prio_n FROM orders o), "
        "m AS (SELECT prio_n AS v FROM t WHERE prio_n IS NOT NULL "
        "GROUP BY prio_n ORDER BY count(*) DESC, prio_n ASC LIMIT 1), "
        f"li AS ({_LI_NULLS_SQL}), "
        "lm AS (SELECT quantile_cont(price_n, 0.5) AS v FROM li) "
        "SELECT 'mode' AS strategy, o_orderkey AS row_key, "
        "cast(NULL as bigint) AS line_key, "
        "coalesce(prio_n, m.v) AS prio_filled, "
        "cast(NULL as double) AS price_filled FROM t, m "
        "UNION ALL "
        "SELECT 'constant' AS strategy, o_orderkey AS row_key, "
        "cast(NULL as bigint) AS line_key, "
        "coalesce(prio_n, 'Unknown') AS prio_filled, "
        "cast(NULL as double) AS price_filled FROM t "
        "UNION ALL "
        "SELECT 'median' AS strategy, l_orderkey AS row_key, "
        "cast(l_linenumber as bigint) AS line_key, "
        "cast(NULL as varchar) AS prio_filled, "
        "coalesce(price_n, lm.v) AS price_filled FROM li, lm"
    ),
    note=(
        "R2b+R2c+R2d imputation, tagged per strategy: mode with the "
        "reference tie-break (most frequent, smallest wins — "
        "app.py:293-298, SURVEY A9) + constant fill 'Unknown' "
        "(app.py:299-304) + (absorbed in r5, was the separate "
        "clean_nulls_impute_median query) numeric median impute "
        "(app.py:287-292; median skips NULLs in both engines) — "
        "driver-window slot policy: merge mature tagged entries "
        "instead of registering more"
    ),
)
def q_clean_nulls_impute_cat(spark, sf_dir):
    from etl_hero_spark.clean import impute

    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("bigint")
    null_d = F.lit(None).cast("double")
    df = _t(spark, sf_dir, "orders").withColumn(
        "prio_n",
        F.when(F.col("o_orderkey") % 89 == 0, F.lit(None).cast("string")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    mode = impute(df, "prio_n", "mode").select(
        F.lit("mode").alias("strategy"),
        F.col("o_orderkey").alias("row_key"),
        null_l.alias("line_key"),
        F.col("prio_n").alias("prio_filled"),
        null_d.alias("price_filled"),
    )
    const = impute(df, "prio_n", "constant", fill_value="Unknown").select(
        F.lit("constant").alias("strategy"),
        F.col("o_orderkey").alias("row_key"),
        null_l.alias("line_key"),
        F.col("prio_n").alias("prio_filled"),
        null_d.alias("price_filled"),
    )
    med = impute(_li_with_nulls(spark, sf_dir), "price_n", "median").select(
        F.lit("median").alias("strategy"),
        F.col("l_orderkey").alias("row_key"),
        F.col("l_linenumber").cast("bigint").alias("line_key"),
        null_s.alias("prio_filled"),
        F.col("price_n").alias("price_filled"),
    )
    return mode.unionByName(const).unionByName(med)


# ===========================================================================
# Dates (P5, R4) — app.py:73-81,317-352
# Mixed-format strings are synthesized deterministically from o_orderdate:
# orderkey%3==0 -> 'yyyy-MM-dd', ==1 -> 'dd/MM/yyyy', ==2 -> unparseable.
# Formats chosen to be mutually unambiguous across engines (SURVEY §2.5).
# ===========================================================================

_DATES_MIXED_SQL = (
    "SELECT o_orderkey, CASE "
    "WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d') "
    "WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%d/%m/%Y') "
    "ELSE 'not-a-date' END AS date_str FROM orders"
)


def _dates_mixed(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.date_format("o_orderdate", "dd/MM/yyyy"),
        )
        .otherwise(F.lit("not-a-date"))
        .alias("date_str"),
    )


_FMTS = ["yyyy-MM-dd", "dd/MM/yyyy"]


# dates_detect was absorbed into dates_normalize (mode='detect' tagged
# row, oracle SQL byte-unchanged inside the wrapper) in r8 — driver-
# window slot policy: the detect (P5) + remediate (R4) pairing follows
# the detect_missing_drop precedent. The body stays as an unregistered
# helper the merged entry calls.
_DATES_DETECT_SQL = (
        "SELECT 'date_str' AS \"column\", count(date_str) AS n_total, "
        "count(coalesce(try_strptime(date_str, '%Y-%m-%d'), "
        "try_strptime(date_str, '%d/%m/%Y'))) AS n_parsed, "
        "round(count(coalesce(try_strptime(date_str, '%Y-%m-%d'), "
        "try_strptime(date_str, '%d/%m/%Y'))) * 1.0 / count(date_str), 6) "
        "AS parse_ratio, "
        "(round(count(coalesce(try_strptime(date_str, '%Y-%m-%d'), "
        "try_strptime(date_str, '%d/%m/%Y'))) * 1.0 / count(date_str), 6) > 0.6) "
        "AS is_date_like, "
        "(count(coalesce(try_strptime(date_str, '%Y-%m-%d'), "
        "try_strptime(date_str, '%d/%m/%Y'))) > 0 AND "
        "count(coalesce(try_strptime(date_str, '%Y-%m-%d'), "
        "try_strptime(date_str, '%d/%m/%Y'))) < count(date_str)) AS is_mixed "
        "FROM t"
)


def q_dates_detect(spark, sf_dir):
    from etl_hero_spark.detect import date_likeness

    return date_likeness(_dates_mixed(spark, sf_dir), ["date_str"], _FMTS)


_DATES_NULLS = (
    "cast(NULL as bigint) AS n_total, cast(NULL as bigint) AS n_parsed, "
    "cast(NULL as double) AS parse_ratio, "
    "cast(NULL as boolean) AS is_date_like, "
    "cast(NULL as boolean) AS is_mixed"
)


@register(
    "dates_normalize",
    oracle=(
        f"WITH t AS ({_DATES_MIXED_SQL}) "
        "SELECT 'auto' AS mode, o_orderkey, strftime(coalesce("
        "try_strptime(date_str, '%Y-%m-%d'), "
        "try_strptime(date_str, '%d/%m/%Y')), '%Y-%m-%d') AS date_norm, "
        f"{_DATES_NULLS} FROM t "
        "UNION ALL "
        "SELECT 'forced' AS mode, o_orderkey, "
        "strftime(try_strptime(date_str, '%d/%m/%Y'), "
        f"'%Y-%m-%d') AS date_norm, {_DATES_NULLS} FROM t "
        "UNION ALL "
        "SELECT 'detect' AS mode, cast(NULL as bigint) AS o_orderkey, "
        "cast(NULL as varchar) AS date_norm, "
        "n_total, n_parsed, parse_ratio, is_date_like, is_mixed "
        f"FROM (WITH t AS ({_DATES_MIXED_SQL}) {_DATES_DETECT_SQL})"
    ),
    note=(
        "R4a+R4b date normalization, tagged per mode: format-list "
        "auto-normalize -> 'yyyy-MM-dd', unparseable -> NULL "
        "(app.py:321-330) + strict single-format 'dd/MM/yyyy' parse, "
        "NULL on mismatch (app.py:331-340). R4c (force yyyy-MM-dd) is "
        "the same op with a different format param, pinned in tests. "
        "mode='detect' (absorbed r8, was the separate dates_detect "
        "query — oracle SQL byte-unchanged inside the wrapper; the "
        "detect+remediate pairing follows the detect_missing_drop "
        "precedent) is the P5 date-likeness summary with the explicit "
        "format list (ratio>0.6, app.py:205; mixed flag app.py:236) — "
        "n_total/n_parsed/parse_ratio/is_date_like/is_mixed carry it, "
        "NULL on the per-row modes"
    ),
)
def q_dates_normalize(spark, sf_dir):
    from etl_hero_spark.clean import force_date_format, normalize_dates

    mixed = _dates_mixed(spark, sf_dir)
    nulls = [
        F.lit(None).cast("bigint").alias("n_total"),
        F.lit(None).cast("bigint").alias("n_parsed"),
        F.lit(None).cast("double").alias("parse_ratio"),
        F.lit(None).cast("boolean").alias("is_date_like"),
        F.lit(None).cast("boolean").alias("is_mixed"),
    ]
    auto = normalize_dates(mixed, "date_str", _FMTS).select(
        F.lit("auto").alias("mode"),
        "o_orderkey",
        F.col("date_str").alias("date_norm"),
        *nulls,
    )
    forced = force_date_format(mixed, "date_str", "dd/MM/yyyy").select(
        F.lit("forced").alias("mode"),
        "o_orderkey",
        F.col("date_str").alias("date_norm"),
        *nulls,
    )
    detect = q_dates_detect(spark, sf_dir).select(
        F.lit("detect").alias("mode"),
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("string").alias("date_norm"),
        "n_total",
        "n_parsed",
        "parse_ratio",
        "is_date_like",
        "is_mixed",
    )
    return auto.unionByName(forced).unionByName(detect)


# ===========================================================================
# Score & report (M1-M3) — app.py:83-92,362-379
# ===========================================================================


@register(
    "quality_score",
    oracle=(
        f"WITH before_t AS ({_LI_NULLS_SQL}), "
        "nb AS (SELECT count(*) - count(price_n) AS nulls_before FROM before_t), "
        "db AS (SELECT cast(count(*) as bigint) - (SELECT cast(count(*) as bigint) FROM "
        "(SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)) "
        "AS dups_before FROM orders) "
        "SELECT nb.nulls_before, db.dups_before, "
        "cast(0 as bigint) AS nulls_after, cast(0 as bigint) AS dups_after, "
        "round(least(100.0, greatest(0.0, 50.0 + 0.5 * greatest(0, nb.nulls_before - 0) "
        "+ 1.0 * greatest(0, db.dups_before - 0))), 2) AS quality_score "
        "FROM nb, db"
    ),
    note="M1 clamp(50 + 0.5*dNulls + 1.0*dDups, 0, 100) (app.py:83-92); before=dirty, after=fully clean",
)
def q_quality_score(spark, sf_dir):
    # before: null-injected lineitem prices + duplicated orders subset;
    # after: fully remediated (0 nulls, 0 dups). Mirrors the app's
    # before/after scoring with deterministic dirt.
    nb = (
        _li_with_nulls(spark, sf_dir)
        .agg((F.count(F.lit(1)) - F.count("price_n")).alias("nulls_before"))
    )
    from etl_hero_spark.profile import duplicate_count

    db = duplicate_count(
        _t(spark, sf_dir, "orders"), ["o_orderstatus", "o_orderpriority"]
    ).select(F.col("n_duplicates").alias("dups_before"))
    joined = nb.crossJoin(db).withColumns(
        {
            "nulls_after": F.lit(0).cast("bigint"),
            "dups_after": F.lit(0).cast("bigint"),
        }
    )
    raw = (
        F.lit(50.0)
        + F.lit(0.5) * F.greatest(F.lit(0), F.col("nulls_before") - F.col("nulls_after"))
        + F.lit(1.0) * F.greatest(F.lit(0), F.col("dups_before") - F.col("dups_after"))
    )
    return joined.withColumn(
        "quality_score",
        F.round(F.least(F.lit(100.0), F.greatest(F.lit(0.0), raw)), 2),
    ).select(
        "nulls_before", "dups_before", "nulls_after", "dups_after", "quality_score"
    )


@register(
    "head_sample",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_returnflag FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber LIMIT 10"
    ),
    note="M3 deterministic head(10) — explicit natural-key order (app.py:368-370, SURVEY M3 trap)",
)
def q_head_sample(spark, sf_dir):
    from etl_hero_spark.score import head_sample

    return head_sample(
        _t(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"], 10
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )


# ===========================================================================
# Headline aggregate (bench anchor): TPC-H Q1-shaped pricing summary.
# Not in the reference (it has no GROUP BY surface — SURVEY §2.4) but the
# canonical one-pass grouped aggregate the profiling pack scales into.
# ===========================================================================


# agg_pricing_summary (the plain one-pass grouped multi-aggregate) was
# absorbed into agg_pricing_grouping_sets: the rollup's finest grouping
# level IS the plain GROUP BY l_returnflag, l_linestatus aggregate, now
# carrying the full measure set (sum/avg of qty+price, count).


@register(
    "profile_quantiles_approx",
    oracle=None,
    note="A7/A8 at 100 TB: percentile_approx (t-digest, one pass, bounded memory) — no cross-engine bit parity by construction, rows-only",
)
def q_profile_quantiles_approx(spark, sf_dir):
    probs = [0.01, 0.25, 0.50, 0.75, 0.99]
    names = ["q01", "q25", "q50", "q75", "q99"]
    q = F.percentile_approx("l_extendedprice", F.lit(probs), F.lit(10000))
    df = _t(spark, sf_dir, "lineitem").agg(q.alias("q"))
    return df.select(
        *[F.col("q")[i].alias(n) for i, n in enumerate(names)]
    )


@register(
    "agg_pricing_grouping_sets",
    oracle=(
        "SELECT 'rollup' AS gset, coalesce(l_returnflag, '<all>') AS returnflag, "
        "coalesce(l_linestatus, '<all>') AS linestatus, "
        f"{sql_dec_sum('l_quantity')} AS sum_qty, "
        f"{sql_dec_sum('l_extendedprice')} AS sum_price, "
        f"{sql_dec_avg('l_quantity')} AS avg_qty, "
        f"{sql_dec_avg('l_extendedprice')} AS avg_price, "
        "cast(count(*) as bigint) AS n_rows "
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus) "
        "UNION ALL "
        "SELECT 'cube' AS gset, coalesce(l_returnflag, '<all>') AS returnflag, "
        "coalesce(l_linestatus, '<all>') AS linestatus, "
        f"{sql_dec_sum('l_quantity')} AS sum_qty, "
        f"{sql_dec_sum('l_extendedprice')} AS sum_price, "
        f"{sql_dec_avg('l_quantity')} AS avg_qty, "
        f"{sql_dec_avg('l_extendedprice')} AS avg_price, "
        "cast(count(*) as bigint) AS n_rows "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
    ),
    note="grouped-agg + grouping-sets capability (NOT PRESENT in reference, SURVEY §2.4), tagged per set: ONE GROUPING SETS pass (single scan, single Expand) computes the union of the ROLLUP and CUBE lattices; grouping_id() identifies each set and a tiny post-agg explode fans each set out to its rollup/cube tag rows ((f,s),(f),() belong to both, (s) to cube only). '<all>' marks grouping levels so the NULL sentinel survives hash compare",
)
def q_agg_pricing_grouping_sets(spark, sf_dir):
    from etl_hero_spark.profile import dec_avg, dec_sum

    li = _t(spark, sf_dir, "lineitem")
    # cube's 4 sets ⊇ rollup's 3: aggregate every set once, tag after.
    # grouping_id bits (returnflag, linestatus): 0=(f,s) 1=(f) 2=(s) 3=()
    g = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"],
         ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        dec_sum("l_quantity", "sum_qty"),
        dec_sum("l_extendedprice", "sum_price"),
        dec_avg("l_quantity", "avg_qty"),
        dec_avg("l_extendedprice", "avg_price"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping_id().alias("_gid"),
    )
    tags = F.when(
        F.col("_gid") == 2, F.array(F.lit("cube"))
    ).otherwise(F.array(F.lit("rollup"), F.lit("cube")))
    return g.select(
        F.explode(tags).alias("gset"),
        F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
        "sum_qty",
        "sum_price",
        "avg_qty",
        "avg_price",
        "n_rows",
    )


@register(
    "window_topk_orders_per_segment",
    oracle=(
        "WITH j AS (SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY c_mktsegment "
        "ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk FROM j) "
        "SELECT c_mktsegment, o_orderkey, o_totalprice, "
        "cast(rnk as int) AS rnk FROM r WHERE rnk <= 3"
    ),
    note="window-function capability (NOT PRESENT in reference, SURVEY §2.8): top-3 orders by price per market segment — broadcast dim join + rank window, deterministic (price DESC, orderkey ASC) tie-break",
)
def q_window_topk_orders_per_segment(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).select("c_mktsegment", "o_orderkey", "o_totalprice")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    )


# set_urgent_not_low_customers was absorbed into
# distinct_customers_per_priority (part='urgent_not_low' rows) —
# driver-window slot policy: merge mature tagged entries instead of
# registering more.


def _ordered_registry() -> list[tuple[str, QuerySpec]]:
    """All registered queries, ORACLE-BACKED FIRST (stable registration
    order within each group). The driver's correctness harness verifies a
    bounded window of queries() entries in iteration order; oracle-backed
    queries are the hard cross-engine signal, so every one of them must
    land inside that window — rows-only queries (whose semantics are
    pinned by unit tests instead) trail. tests/test_registry_order.py
    pins the oracle-backed count under the window size."""
    _load_extensions()
    return sorted(REGISTRY.items(), key=lambda kv: kv[1].oracle is None)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: v.spark for k, v in _ordered_registry()}


def all_oracles() -> dict[str, str]:
    return {
        k: v.oracle for k, v in _ordered_registry() if v.oracle is not None
    }


def _load_extensions() -> None:
    """Import side-effect registrars (split for readability). No silent
    except: a broken registrar must fail loudly, not shrink the surface."""
    import etl_hero_spark.registry_ext  # noqa: F401
    import etl_hero_spark.registry_ext2  # noqa: F401
    import etl_hero_spark.registry_stream  # noqa: F401


# profile_quantiles and profile_correlation were absorbed into
# profile_stats (one aggregation pass over lineitem), and
# profile_grouped_median into profile_histogram's tagged rows — see
# their notes. (Driver-window slot policy: merge mature near-redundant
# queries instead of registering more.)


@register(
    "profile_histogram",
    oracle=(
        "WITH b AS (SELECT cast(min(l_extendedprice) as double) AS _lo, "
        "cast(max(l_extendedprice) as double) AS _hi FROM lineitem), "
        "x AS (SELECT CASE WHEN _hi > _lo THEN least(9, cast(floor("
        "(cast(l_extendedprice as double) - _lo) * 10 / (_hi - _lo)"
        ") as bigint)) ELSE 0 END AS bucket, _lo, _hi "
        "FROM lineitem, b WHERE l_extendedprice IS NOT NULL) "
        "SELECT 'hist' AS part, cast(bucket as varchar) AS key, "
        "round(_lo + bucket * ((_hi - _lo) / 10), 6) AS x, "
        "round(_lo + (bucket + 1) * ((_hi - _lo) / 10), 6) AS y, "
        "cast(count(*) as bigint) AS n "
        "FROM x GROUP BY bucket, _lo, _hi "
        "UNION ALL "
        "SELECT 'median_by_returnflag' AS part, l_returnflag AS key, "
        "round(quantile_cont(l_extendedprice, 0.5), 6) AS x, "
        "round(quantile_cont(l_quantity, 0.5), 6) AS y, "
        "cast(count(*) as bigint) AS n "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    note=(
        "distribution profile, tagged per part: equal-width histogram "
        "(two-phase — min/max bounds agg broadcast onto the scan, "
        "codegen'd floor bucketing, one <=bins-group shuffle; identical "
        "float expression order in both engines) MERGED with per-group "
        "exact interpolated medians (formerly the separate "
        "profile_grouped_median query — A7 per key, the grouped "
        "percentile shape the whole-table A7 builds toward); canonical "
        "(part, key, x, y, n) rows"
    ),
)
def q_profile_histogram(spark, sf_dir):
    from etl_hero_spark.profile import histogram

    li = _t(spark, sf_dir, "lineitem")
    hist = histogram(li, "l_extendedprice", bins=10).select(
        F.lit("hist").alias("part"),
        F.col("bucket").cast("string").alias("key"),
        F.col("lo_edge").alias("x"),
        F.col("hi_edge").alias("y"),
        "n",
    )
    med = li.groupBy(F.col("l_returnflag").alias("key")).agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("x"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("y"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.lit("median_by_returnflag").alias("part"), "key", "x", "y", "n")
    return hist.unionByName(med)
