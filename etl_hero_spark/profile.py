"""Profiling operators (reference P1, A1-A11 — /root/reference/app.py:43-60,83-92).

The reference profiles with one pandas pass per column per statistic
(app.py:46-58). Here every statistic for every column is folded into ONE
``df.agg(...)`` — a single scan, map-side partial aggregation, one tiny
shuffle of partial states. That is the shape that survives 100 TB.

Exact vs approximate: ``approx=True`` swaps COUNT(DISTINCT) for HLL++
(``approx_count_distinct``) and exact interpolated percentiles for
t-digest (``percentile_approx``) — the 100 TB path. Exact variants are
kept for oracle-checked correctness at test scale.

Decimal-exact aggregates: double summation order differs across engines
(and across partitionings!), so hash-compared results use
``dec_sum``/``dec_avg``/``dec_stddev_pop`` — sums in DECIMAL (exact,
order-independent), final arithmetic in float64. The same formula in
DuckDB produces bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# column classification (reference: pd.api.types.is_numeric_dtype, app.py:63)
# ---------------------------------------------------------------------------


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)]


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


# ---------------------------------------------------------------------------
# decimal-exact aggregate expressions (order-independent across partitions)
# ---------------------------------------------------------------------------

_DEC = "decimal(18,2)"  # plenty for price-like doubles with 2dp


def dec_sum(col: str | Column, alias: str | None = None, scale: int = 2) -> Column:
    """SUM with exact decimal accumulation, returned as float64.

    round() pins the (already exact) value to a stable grid so the
    decimal->double cast is identical in Spark and DuckDB.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(F.sum(c.cast(_DEC)).cast("double"), scale)
    return out.alias(alias) if alias else out


def dec_avg(col: str | Column, alias: str | None = None, scale: int = 6) -> Column:
    """AVG as exact-decimal SUM / COUNT, computed in float64.

    Identical doubles in, identical IEEE ops -> identical doubles out,
    regardless of engine or parallelism.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(
        F.sum(c.cast(_DEC)).cast("double") / F.count(c).cast("double"), scale
    )
    return out.alias(alias) if alias else out


def dec_stddev_pop(col: str | Column, alias: str | None = None, scale: int = 6) -> Column:
    """Population stddev (ddof=0 — the reference's app.py:67 trap) via exact
    decimal sums: sqrt(E[x^2] - E[x]^2) with float64 final arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    sx = F.sum(c.cast(_DEC)).cast("double")
    sx2 = F.sum((c.cast(_DEC) * c.cast(_DEC))).cast("double")
    out = F.round(F.sqrt(sx2 / n - (sx / n) * (sx / n)), scale)
    return out.alias(alias) if alias else out


# ---------------------------------------------------------------------------
# SQL text fragments: one F.expr/selectExpr string costs one py4j call where
# the Column API costs one per node. sql_dec_* mirror dec_* above (keep in
# lockstep); ``c`` is SQL text, so pass a column NAME through sql_ident.
# ---------------------------------------------------------------------------


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier (spaces, quotes,
    dots and backticks in uploaded headers all survive)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """A Python string as an escaped single-quoted SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_dec_sum(c: str, scale: int = 2) -> str:
    return f"round(cast(sum(cast({c} as decimal(18,2))) as double), {scale})"


def sql_dec_avg(c: str, scale: int = 6) -> str:
    return (
        f"round(cast(sum(cast({c} as decimal(18,2))) as double)"
        f" / cast(count({c}) as double), {scale})"
    )


def sql_dec_std(c: str, scale: int = 6) -> str:
    sx = f"cast(sum(cast({c} as decimal(18,2))) as double)"
    sx2 = f"cast(sum(cast({c} as decimal(18,2)) * cast({c} as decimal(18,2))) as double)"
    n = f"cast(count({c}) as double)"
    return f"round(sqrt({sx2}/{n} - ({sx}/{n})*({sx}/{n})), {scale})"


# ---------------------------------------------------------------------------
# A1/A3 null counts — one pass for all columns
# ---------------------------------------------------------------------------


def null_count_expr(col: str) -> Column:
    # count(*) - count(c): JVM-side, no conditional branch per row
    return (F.count(F.lit(1)) - F.count(F.col(col))).alias(f"n_null_{col}")


def null_counts(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row: n_null_<c> per column + n_null_total (A1+A3) + n_rows (A10)."""
    cols = cols or df.columns
    exprs = [null_count_expr(c) for c in cols]
    out = df.agg(*exprs, F.count(F.lit(1)).alias("n_rows"))
    total = None
    for c in cols:
        e = F.col(f"n_null_{c}")
        total = e if total is None else total + e
    return out.withColumn("n_null_total", total)


# ---------------------------------------------------------------------------
# A2 distinct counts — exact or HLL++
# ---------------------------------------------------------------------------


def distinct_counts_map(df: DataFrame, cols: list[str] | None = None) -> dict[str, int]:
    """Exact COUNT(DISTINCT c) per column as CONCURRENT per-column jobs.

    Multiple exact distincts in one agg plan through an Expand operator
    (row count x n_cols before the shuffle). One pruned job per column
    instead reads the same total bytes from columnar storage (each scan
    reads only its column), dedups map-side, and the jobs overlap on the
    cluster — measured 2.5-4x faster on local[32] at sf0.1, and the
    per-job shuffle is per-column-cardinality, not n_rows x n_cols.
    """
    from concurrent.futures import ThreadPoolExecutor

    cols = cols or df.columns

    def one(c: str) -> int:
        return df.agg(F.countDistinct(c).alias("n")).first()[0]

    with ThreadPoolExecutor(max_workers=min(len(cols), 16)) as ex:
        futs = {c: ex.submit(one, c) for c in cols}
        return {c: f.result() for c, f in futs.items()}


def distinct_counts(
    df: DataFrame,
    cols: list[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    """One row of n_unique_<c>. approx=True -> HLL++ in ONE pass (no Expand,
    no per-value shuffle — the 100 TB default). Exact path (oracle-checked)
    uses concurrent per-column jobs (see distinct_counts_map)."""
    cols = cols or df.columns
    if approx:
        return df.agg(
            *[F.approx_count_distinct(c).alias(f"n_unique_{c}") for c in cols]
        )
    counts = distinct_counts_map(df, cols)
    return df.sparkSession.createDataFrame(
        [tuple(counts[c] for c in cols)],
        ", ".join(f"n_unique_{c} bigint" for c in cols),
    )


# ---------------------------------------------------------------------------
# A4 duplicate-row count  (reference df.duplicated().sum(), app.py:86-87)
# ---------------------------------------------------------------------------


def duplicate_count(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Rows minus distinct rows == occurrences after the first per identical
    row. groupBy-all-cols + sum(cnt-1): ONE shuffle, and AQE coalesces the
    post-shuffle partitions; also the exact plan dedup (R3) reuses."""
    cols = subset or df.columns
    grouped = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_cnt"))
    return grouped.agg(
        F.coalesce(F.sum(F.col("_cnt") - 1), F.lit(0)).cast("bigint").alias("n_duplicates")
    )


# ---------------------------------------------------------------------------
# A5-A8 numeric stats — one pass, all columns
# ---------------------------------------------------------------------------


def numeric_stats(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row with mean_/std_/min_/max_ per numeric column, the mean and
    std from exact decimal sums (order-independent, oracle-parity)."""
    cols = cols or numeric_columns(df)
    exprs: list[Column] = []
    for c in cols:
        exprs += [
            dec_avg(c, f"mean_{c}"),
            dec_stddev_pop(c, f"std_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return df.agg(*exprs)


def quantiles(
    df: DataFrame, col: str, probs: list[float], approx: bool = False
) -> list[float]:
    """A7/A8: exact interpolated percentiles (pandas/DuckDB-compatible
    `quantile_cont` semantics) or t-digest approx for the 100 TB path."""
    if approx:
        row = df.agg(F.percentile_approx(col, probs).alias("q")).first()
    else:
        row = df.agg(F.percentile(col, probs).alias("q")).first()
    return list(row["q"]) if row["q"] is not None else []


def mode_value(df: DataFrame, col: str):
    """A9 with the reference's tie-break: most frequent, smallest wins
    (pandas mode() returns ties sorted ascending, app.py:294). Returns ''
    on an all-null/empty column, matching the reference guard."""
    row = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc(col))
        .first()
    )
    return row[0] if row is not None else ""


# ---------------------------------------------------------------------------
# P1 table profile — long format, one aggregate pass + schema metadata
# ---------------------------------------------------------------------------


def profile_table(df: DataFrame, approx: bool = False) -> DataFrame:
    """Per-column profile rows: (column, dtype, n_null, n_unique)
    (reference profile_dataframe, app.py:43-60, minus the nondeterministic
    sample_values — those are available via ``sample_values``).

    All counts come from ONE df.agg pass; the wide row is then unpivoted
    driver-side into a tiny literal DataFrame (n_cols rows — negligible).
    """
    cols = df.columns
    if approx:
        wide = df.agg(
            *[null_count_expr(c) for c in cols],
            *[F.approx_count_distinct(c).alias(f"n_unique_{c}") for c in cols],
        ).first()
        uniques = {c: wide[f"n_unique_{c}"] for c in cols}
    else:
        # run the narrow null-count agg and the per-column distinct jobs
        # concurrently — they read disjoint work from the same cached scan
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            nulls_fut = ex.submit(
                lambda: df.agg(*[null_count_expr(c) for c in cols]).first()
            )
            uniq_fut = ex.submit(distinct_counts_map, df, cols)
            wide, uniques = nulls_fut.result(), uniq_fut.result()
    dtypes = dict(df.dtypes)
    rows = [(c, dtypes[c], wide[f"n_null_{c}"], uniques[c]) for c in cols]
    return df.sparkSession.createDataFrame(
        rows, "column string, dtype string, n_null bigint, n_unique bigint"
    )


def sample_values(df: DataFrame, col: str, n: int = 3) -> list:
    """<=n non-null sample values (reference app.py:49 uses .sample() —
    nondeterministic; excluded from hash checks, same as the reference's)."""
    return [r[0] for r in df.select(col).na.drop().limit(n).collect()]


# ---------------------------------------------------------------------------
# equal-width histogram — two-phase (bounds agg, then bucketed count)
# ---------------------------------------------------------------------------


def histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Equal-width histogram: (bucket, lo_edge, hi_edge, n) with `bins`
    buckets spanning [min, max]. A profiling primitive the reference
    lacks (its profile stops at null/unique counts, app.py:43-60) but
    every distribution-aware cleaning decision wants.

    Two phases, both distributed: (1) one min/max agg -> a 1-row bounds
    DataFrame broadcast-cross-joined onto the scan (no driver round-trip
    baked into the plan); (2) bucket index as a codegen'd floor
    expression -> groupBy(bucket) count [the only shuffle, <= bins+1
    groups]. The max value lands in the last bucket (least() clamp);
    NULLs are excluded by the isNotNull filter (nulls are A1's business,
    not the histogram's). Degenerate min == max collapses to bucket 0.

    Float parity: bucket = floor((x - lo) * bins / (hi - lo)) and the
    edges lo + b*(hi-lo)/bins are evaluated with this exact operand
    order in the DuckDB oracle -> bit-identical doubles.
    """
    bounds = df.agg(
        F.min(col).cast("double").alias("_lo"),
        F.max(col).cast("double").alias("_hi"),
    )
    x = F.col(col).cast("double")
    width_gt0 = F.col("_hi") > F.col("_lo")
    bucket = F.when(
        width_gt0,
        F.least(
            F.lit(bins - 1),
            F.floor((x - F.col("_lo")) * bins / (F.col("_hi") - F.col("_lo"))),
        ),
    ).otherwise(F.lit(0))
    step = (F.col("_hi") - F.col("_lo")) / bins
    return (
        df.filter(F.col(col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(bucket.cast("int").alias("bucket"), "_lo", "_hi")
        .groupBy("bucket", "_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            F.round(F.col("_lo") + F.col("bucket") * step, 6).alias("lo_edge"),
            F.round(F.col("_lo") + (F.col("bucket") + 1) * step, 6).alias(
                "hi_edge"
            ),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# distribution drift between snapshots (PSI)
# ---------------------------------------------------------------------------


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cols: list[str],
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per column between two snapshots:
    (column, psi, n_a, n_b). PSI = sum over buckets of
    (pa - pb) * ln(pa / pb) with shares clamped to >= eps (the standard
    zero-bucket smoothing); buckets are `bins` equal widths over the
    UNION's min/max so both sides share edges. Rule of thumb read:
    psi < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted.

    The monitoring primitive for corpus snapshots: yesterday's crawl vs
    today's, pre- vs post-dedup, one source vs another.

    Plan: ONE union scan -> one bounds agg (all columns, broadcast) ->
    per-row explode to (column, bucket) pairs -> one (col, bucket, side)
    count -> tiny-table arithmetic. Per-bucket PSI terms are rounded to
    9dp and summed as DECIMAL — a plain double sum over buckets is
    partition-order dependent and would make the result flap run to run.
    NULLs are excluded per column (they are A1's business).
    """
    a = df_a.select(*cols).withColumn("_src", F.lit("a"))
    b = df_b.select(*cols).withColumn("_src", F.lit("b"))
    u = a.unionByName(b)
    bounds = u.agg(
        *[F.min(c).cast("double").alias(f"_lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_hi_{c}") for c in cols],
    )

    def bucket_expr(c: str):
        x = F.col(c).cast("double")
        lo, hi = F.col(f"_lo_{c}"), F.col(f"_hi_{c}")
        return F.when(
            x.isNull(), F.lit(None).cast("int")
        ).otherwise(
            F.when(
                hi > lo,
                F.least(
                    F.lit(bins - 1), F.floor((x - lo) * bins / (hi - lo))
                ),
            )
            .otherwise(F.lit(0))
            .cast("int")
        )

    ex = (
        u.crossJoin(F.broadcast(bounds))
        .select(
            "_src",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            bucket_expr(c).alias("bucket"),
                        )
                        for c in cols
                    ]
                )
            ).alias("cb"),
        )
        .select("_src", "cb.column", "cb.bucket")
        .filter(F.col("bucket").isNotNull())
    )
    cnt = ex.groupBy("column", "bucket", "_src").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("column", "_src").agg(F.sum("n").alias("tot"))
    shares = (
        cnt.join(tot, ["column", "_src"])
        .withColumn("p", F.col("n").cast("double") / F.col("tot").cast("double"))
        .groupBy("column", "bucket")
        .agg(
            F.max(F.when(F.col("_src") == "a", F.col("p"))).alias("pa"),
            F.max(F.when(F.col("_src") == "b", F.col("p"))).alias("pb"),
            F.max(F.when(F.col("_src") == "a", F.col("tot"))).alias("n_a"),
            F.max(F.when(F.col("_src") == "b", F.col("tot"))).alias("n_b"),
        )
    )
    pa = F.greatest(F.coalesce(F.col("pa"), F.lit(0.0)), F.lit(eps))
    pb = F.greatest(F.coalesce(F.col("pb"), F.lit(0.0)), F.lit(eps))
    term = F.round((pa - pb) * F.log(pa / pb), 9).cast("decimal(18,9)")
    return (
        shares.withColumn("_term", term)
        .groupBy("column")
        .agg(
            F.round(F.sum("_term").cast("double"), 6).alias("psi"),
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
        )
    )


# ---------------------------------------------------------------------------
# mergeable stats snapshots — incremental profile maintenance
# ---------------------------------------------------------------------------

_DEC_SUM = "decimal(38,2)"
_DEC_SUMSQ = "decimal(38,4)"


def stats_snapshot(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-row MERGEABLE statistics state for incremental profiling:
    per column, (n non-null, exact decimal sum, exact decimal sum of
    squares, min, max). Persist the row per batch/partition-of-arrival;
    combine any set of snapshots with merge_stats_snapshots and derive
    the final profile with finalize_stats — mean/std over the whole
    corpus WITHOUT rescanning it (the incremental-ETL pattern; at
    100 TB you snapshot per ingest batch and fold).

    Decimal accumulation makes the merge EXACT and order-independent:
    finalize over merged snapshots is bit-identical to numeric_stats
    over the union of the batches (asserted in tests). decimal(38,_)
    bounds overflow at ~1e34 total — far past 100 TB of 2dp values.
    """
    cols = cols or numeric_columns(df)
    exprs: list[Column] = []
    for c in cols:
        x = F.col(c)
        exprs += [
            F.count(x).alias(f"n_{c}"),
            F.sum(x.cast(_DEC_SUM)).cast(_DEC_SUM).alias(f"sum_{c}"),
            F.sum((x.cast(_DEC) * x.cast(_DEC)).cast(_DEC_SUMSQ))
            .cast(_DEC_SUMSQ)
            .alias(f"sumsq_{c}"),
            F.min(x).alias(f"min_{c}"),
            F.max(x).alias(f"max_{c}"),
        ]
    return df.agg(*exprs)


def merge_stats_snapshots(snapshots: DataFrame, cols: list[str]) -> DataFrame:
    """Fold any number of snapshot rows into one: counts and decimal
    sums add exactly; min/max take the extremes. Associative and
    commutative, so snapshots merge in any order or tree shape."""
    exprs: list[Column] = []
    for c in cols:
        exprs += [
            F.sum(f"n_{c}").alias(f"n_{c}"),
            F.sum(f"sum_{c}").cast(_DEC_SUM).alias(f"sum_{c}"),
            F.sum(f"sumsq_{c}").cast(_DEC_SUMSQ).alias(f"sumsq_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
        ]
    return snapshots.agg(*exprs)


def finalize_stats(merged: DataFrame, cols: list[str]) -> DataFrame:
    """Derive the numeric_stats row (mean_/std_/min_/max_ per column)
    from a merged snapshot — identical float64 expression order to
    dec_avg/dec_stddev_pop, so the result is bit-identical to a full
    rescan."""
    exprs: list[Column] = []
    for c in cols:
        n = F.col(f"n_{c}").cast("double")
        sx = F.col(f"sum_{c}").cast("double")
        sx2 = F.col(f"sumsq_{c}").cast("double")
        exprs += [
            F.round(sx / n, 6).alias(f"mean_{c}"),
            F.round(F.sqrt(sx2 / n - (sx / n) * (sx / n)), 6).alias(f"std_{c}"),
            F.col(f"min_{c}"),
            F.col(f"max_{c}"),
        ]
    return merged.select(*exprs)


def topk_values(
    df: DataFrame,
    cols: list[str] | None = None,
    k: int = 5,
) -> DataFrame:
    """Categorical value profile: the k most frequent values per string
    column as (column, value, n, rnk) rows — the string-column
    complement to histogram() (pandas-profiling's 'top values' pane);
    NULL is profiled as a real value (rendered '<null>') since its
    share is usually the decision-relevant number.

    Plan: unpivot the selected columns with stack() (narrow — rows x
    n_cols, same expansion every long-format profiler pays), ONE
    groupBy (column, value) count, then a rank window PARTITIONED BY
    column — never a global window; ties break by value ascending so
    results are deterministic and engine-comparable.
    """
    from pyspark.sql import Window as W

    cols = cols or string_columns(df)
    if not cols:
        raise ValueError("topk_values: no string columns to profile")
    stack_expr = ", ".join(
        f"'{c}', coalesce(cast(`{c}` as string), '<null>')" for c in cols
    )
    long = df.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (column, value)"
    )
    counts = long.groupBy("column", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = W.partitionBy("column").orderBy(F.desc("n"), F.asc("value"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def quantile_sketch(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """MERGEABLE quantile state: fixed equi-width histogram over
    [lo, hi] — (bin, n) rows via one width_bucket groupBy. The
    incremental complement to stats_snapshot: persist one sketch per
    ingest batch and fold with merge_quantile_sketches; quantile
    estimates never rescan the corpus. (lo, hi, n_bins) are the sketch
    identity — take lo/hi from a prior stats_snapshot's min/max; values
    outside land in the under/overflow bins 0 and n_bins+1, so a batch
    that exceeds the assumed range is VISIBLE (re-bin when those fill),
    not silently wrong. Bin counts add exactly, so merging is exact and
    order-independent — unlike t-digest, whose merge is approximate and
    order-dependent.
    """
    b = F.width_bucket(
        F.col(col).cast("double"), F.lit(float(lo)), F.lit(float(hi)),
        F.lit(n_bins),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(b.cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def merge_quantile_sketches(sketches: DataFrame) -> DataFrame:
    """Fold sketch rows (same identity) by adding bin counts — exact,
    associative, commutative."""
    return sketches.groupBy("bin").agg(
        F.sum("n").cast("bigint").alias("n")
    )


def quantiles_from_sketch(
    sketch: DataFrame,
    lo: float,
    hi: float,
    n_bins: int,
    ps: list[float],
) -> dict:
    """Quantile estimates from a (merged) sketch: cumulative counts +
    linear interpolation inside the containing bin. The sketch is
    model-sized (<= n_bins+2 rows) — collecting it is O(bins), like
    reading back any other persisted model. Error bound: one bin width
    (hi-lo)/n_bins for in-range data (asserted in tests); under/
    overflow bins clamp to lo/hi."""
    width = (float(hi) - float(lo)) / n_bins
    rows = sorted(
        (r["bin"], r["n"]) for r in sketch.collect() if r["n"]
    )
    total = sum(n for _, n in rows)
    out = {}
    for p in ps:
        target = p * total
        acc = 0
        est = float(lo)
        for b, n in rows:
            if acc + n >= target and n > 0:
                if b <= 0:
                    est = float(lo)
                elif b > n_bins:
                    est = float(hi)
                else:
                    frac = (target - acc) / n
                    est = float(lo) + (b - 1 + frac) * width
                break
            acc += n
        else:
            est = float(hi)
        out[p] = round(est, 9)
    return out


def distinct_sketch(
    df: DataFrame, cols: list[str], lg_k: int = 12
) -> DataFrame:
    """MERGEABLE distinct-count state (Apache DataSketches HLL via
    hll_sketch_agg): one row with a binary sketch per column. The third
    leg of the incremental profile triad — stats_snapshot (moments),
    quantile_sketch (quantiles), this (distincts): persist one sketch
    per ingest batch, fold with merge_distinct_sketches, estimate
    without rescanning. HLL registers combine by MAX, so the merge is
    associative/commutative and a merged sketch estimates EXACTLY like
    a whole-corpus sketch (asserted in tests). lg_k=12 -> ~1.6% rse,
    4 KB per column per batch."""
    return df.agg(
        *[
            F.hll_sketch_agg(F.col(c).cast("string"), F.lit(lg_k)).alias(
                f"sk_{c}"
            )
            for c in cols
        ]
    )


def merge_distinct_sketches(
    sketches: DataFrame, cols: list[str]
) -> DataFrame:
    """Fold sketch rows into one via hll_union_agg (register-wise max —
    any merge order or tree shape gives the identical sketch)."""
    return sketches.agg(
        *[F.hll_union_agg(f"sk_{c}").alias(f"sk_{c}") for c in cols]
    )


def estimate_distincts(merged: DataFrame, cols: list[str]) -> DataFrame:
    """Distinct-count estimates from (merged) sketches, one bigint per
    column."""
    return merged.select(
        *[
            F.hll_sketch_estimate(f"sk_{c}")
            .cast("bigint")
            .alias(f"n_distinct_{c}")
            for c in cols
        ]
    )


def correlation_matrix(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Pairwise Pearson correlations in long format (col_a, col_b,
    corr, n_pairs) for every unordered column pair — the profiling
    pane the single-pair corr in profile_stats builds toward. ONE
    multi-aggregate pass: n*(n-1)/2 F.corr aggregates + pairwise
    complete-observation counts, all in a single scan/codegen stage;
    no shuffle beyond the global agg. corr is double-accumulated
    (Spark's Pearson state), so values are engine-close (1e-9), not
    hash-exact — this is a diagnostics surface, checked with tolerance
    against DuckDB in tests."""
    cols = cols or numeric_columns(df)
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    if not pairs:
        raise ValueError("correlation_matrix: need >= 2 numeric columns")
    aggs = []
    for a, b in pairs:
        aggs.append(F.corr(a, b).alias(f"c_{a}__{b}"))
        aggs.append(
            F.count(
                F.when(
                    F.col(a).isNotNull() & F.col(b).isNotNull(), F.lit(1)
                )
            ).alias(f"n_{a}__{b}")
        )
    row = df.agg(*aggs).first()
    out = [
        (a, b, row[f"c_{a}__{b}"], row[f"n_{a}__{b}"]) for a, b in pairs
    ]
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, corr double, n_pairs bigint"
    )


def benford_profile(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic anomaly/fabrication screen for naturally-occurring numeric
    columns (amounts, populations; NOT uniform ids or bounded scores).
    One row per digit 1-9: observed count/share, expected Benford
    share log10(1 + 1/d), and the signed deviation. Expression-only
    single groupBy (digit = floor(|x| / 10^floor(log10 |x|)); zeros
    and NULLs excluded); reading the deviations is the caller's
    judgment call — flag columns whose mean |deviation| is large.
    """
    x = F.abs(F.col(col))
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast(
        "int"
    )
    counts = (
        df.filter(F.col(col).isNotNull() & (x > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_t"))
    import math

    expected = F.element_at(
        F.array(
            *[F.lit(round(math.log10(1 + 1 / d), 6)) for d in range(1, 10)]
        ),
        F.col("digit"),
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("_t"), 6).alias("observed_p"),
            expected.alias("expected_p"),
        )
        .withColumn(
            "deviation", F.round(F.col("observed_p") - F.col("expected_p"), 6)
        )
    )


def histogram2d(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bins: int = 10,
    bounds: tuple | None = None,
) -> DataFrame:
    """Joint distribution profile: counts over a bins x bins grid of two
    numeric columns (the heatmap behind correlation numbers — corr says
    HOW MUCH two columns co-move, this shows WHERE). One min/max pass
    (or caller-supplied bounds) + one width_bucket groupBy; rows with a
    NULL in either column are excluded; max values land in the top bin
    (width_bucket's overflow bin folds down). Output: (bx, by, n) for
    non-empty cells, 1-indexed bins."""
    if bounds is None:
        r = df.agg(
            F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
        ).first()
        bounds = (
            float(r[0]), float(r[1]), float(r[2]), float(r[3])
        )
    x_lo, x_hi, y_lo, y_hi = bounds

    def bucket(c, lo, hi):
        b = F.width_bucket(
            F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(bins)
        )
        return F.least(b, F.lit(bins))  # fold max/overflow into top bin

    return (
        df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull())
        .groupBy(
            bucket(col_x, x_lo, x_hi).cast("int").alias("bx"),
            bucket(col_y, y_lo, y_hi).cast("int").alias("by"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# count-min sketch — the MERGEABLE heavy-hitter structure (freqItems is the
# single-pass in-session sketch; this one persists, merges across shards /
# days, and answers point queries after the fact)
# ---------------------------------------------------------------------------


def countmin_sketch(
    df: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Count-min sketch of a key column as a (j, b, cnt) table: depth
    independent xxhash64 rows of ``width`` counters. <= depth*width rows
    regardless of corpus size — persist it like any index. Estimates
    OVERCOUNT only (min over rows caps collision inflation at ~n/width
    per row with probability 1 - 2^-depth).

    Build is one explode (depth rows per input row, all codegen) + one
    bounded groupBy — a single shuffle whose key space is depth*width.
    Merging sketches of disjoint shards = summing cells (see
    merge_countmin_sketches); the same property makes it maintainable
    incrementally from per-batch sketches.
    """
    c = F.col(col).cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.pmod(F.xxhash64(c, F.lit(seed + j)), F.lit(width))
                .cast("int")
                .alias("b"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.filter(c.isNotNull())
        .select(F.explode(cells).alias("cell"))
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_countmin_sketches(sketches: DataFrame) -> DataFrame:
    """Merge sketches built with IDENTICAL (width, depth, seed) by
    summing cells — count-min's defining property: sketch(A ∪ B) ==
    sketch(A) + sketch(B) cell-wise, so shards/days/sources sketch
    independently and fold without rescanning anything."""
    return sketches.groupBy("j", "b").agg(F.sum("cnt").alias("cnt"))


def estimate_counts(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Point-query the sketch for each distinct key in ``keys[col]``:
    estimate = min over the depth rows of the addressed cells (missing
    cell == 0 — the key was never seen). Output: (col, est_count).
    The keys side explodes to depth probe rows and equi-joins the
    bounded sketch — no scan of the original data."""
    c = F.col(col).cast("string")
    probes = keys.select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(F.xxhash64(c, F.lit(seed + j)), F.lit(width))
                        .cast("int")
                        .alias("b"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(col, F.col("cell.j").alias("j"), F.col("cell.b").alias("b"))
    joined = probes.join(sketch, ["j", "b"], "left").select(
        col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy(col).agg(F.min("cnt").alias("est_count"))


# ---------------------------------------------------------------------------
# JSON schema profiling — type/fill inference over a semi-structured
# column (the lake's "what is actually IN this props blob" question)
# ---------------------------------------------------------------------------


def json_schema_profile(df: DataFrame, col: str = "props") -> DataFrame:
    """Per-key schema report for a JSON-string column: presence count,
    fill rate, distinct values, and the TIGHTEST type that admits every
    observed value (bigint ⊂ double ⊂ string; boolean ⊂ string) — the
    evidence behind a typed extraction schema, discovered from the data
    instead of guessed (from_json with schema inference samples; this
    measures the whole corpus).

    Plan: one parse to map<string,string> + explode (linear), one
    groupBy(key) folding per-value type-match flags min-wise, a 1-row
    total broadcast for fill rates. NULL JSON / nulls inside objects
    contribute no entries. Output: (key, n_present, fill_rate,
    n_distinct, inferred_type), one row per key ever seen."""
    total = df.agg(F.count(F.lit(1)).alias("_n_rows"))
    entries = df.select(
        F.explode(F.from_json(F.col(col), "map<string,string>")).alias(
            "key", "value"
        )
    ).filter(F.col("value").isNotNull())
    is_int = F.col("value").rlike(r"^-?\d+$")
    is_num = F.col("value").rlike(
        r"^-?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$"
    )
    is_bool = F.col("value").isin("true", "false")
    per_key = entries.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.countDistinct("value").alias("n_distinct"),
        F.min(is_int.cast("int")).alias("_all_int"),
        F.min(is_num.cast("int")).alias("_all_num"),
        F.min(is_bool.cast("int")).alias("_all_bool"),
    )
    inferred = (
        F.when(F.col("_all_bool") == 1, "boolean")
        .when(F.col("_all_int") == 1, "bigint")
        .when(F.col("_all_num") == 1, "double")
        .otherwise("string")
    )
    return per_key.crossJoin(F.broadcast(total)).select(
        "key",
        "n_present",
        F.round(F.col("n_present") / F.col("_n_rows"), 6).alias("fill_rate"),
        "n_distinct",
        inferred.alias("inferred_type"),
    )


def mutual_information(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bins: int = 10,
    bounds: tuple | None = None,
) -> float:
    """Mutual information (nats) between two numeric columns from their
    joint histogram — the dependence screen correlation is blind to
    (corr sees only LINEAR association; MI sees any): MI = Σ p_xy ·
    ln(p_xy / (p_x · p_y)) over the bins x bins grid. One histogram2d
    scan (bounds from one min/max agg when not given), the grid folds
    driver-side (≤ bins² rows). Zero for independent columns, larger
    for any deterministic relationship, linear or not."""
    import math

    if bounds is None:
        b = df.agg(
            F.min(F.col(col_x).cast("double")),
            F.max(F.col(col_x).cast("double")),
            F.min(F.col(col_y).cast("double")),
            F.max(F.col(col_y).cast("double")),
        ).first()
        bounds = (b[0], b[1], b[2], b[3])
    rows = histogram2d(df, col_x, col_y, bins=bins, bounds=bounds).collect()
    total = sum(r["n"] for r in rows)
    if not total:
        return 0.0
    px: dict = {}
    py: dict = {}
    for r in rows:
        px[r["bx"]] = px.get(r["bx"], 0) + r["n"]
        py[r["by"]] = py.get(r["by"], 0) + r["n"]
    mi = 0.0
    for r in rows:
        pxy = r["n"] / total
        mi += pxy * math.log(
            pxy / ((px[r["bx"]] / total) * (py[r["by"]] / total))
        )
    return max(0.0, mi)


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the CATEGORICAL sibling of mutual_information's numeric
    screen (and the classic A/B-test contingency check):

        chi2      = Σ_cells (observed - expected)² / expected,
                    expected = row_total · col_total / N
        dof       = (|a| - 1) · (|b| - 1)
        cramers_v = sqrt(chi2 / (N · min(|a|-1, |b|-1)))  — effect size
                    on [0, 1], comparable across table shapes.

    One row: (col_a, col_b, n, levels_a, levels_b, chi2, dof,
    cramers_v). Plan: one groupBy folds the corpus to the OBSERVED
    |a|·|b| contingency cells; row/col marginals come from PARTITIONED
    window sums over the bounded cell table (no second corpus scan, and
    no partition-less window — the globals fold algebraically into the
    final one-row aggregate via chi2 = N·(Σ_obs n²/(ra·cb) − 1): a
    zero cell contributes exactly its expected count e to Σ(n−e)²/e,
    and Σ_all e = N, so the unobserved cells' mass is N − Σ_obs e —
    folding to the closed form with NO zero-cell enumeration; matches
    scipy/pearson over the FULL table, zero cells included). Nulls in
    either column are excluded (a null level is absence, not a
    category).
    Marginal products go through double (a 10^12-row cell would
    overflow bigint at n²). chi2 rounded 6dp for cross-engine parity;
    DuckDB/crosstab parity in tests/test_timeseries.py."""
    from pyspark.sql import Window as W

    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(
            F.col(col_a).cast("string").alias("a"),
            F.col(col_b).cast("string").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nd = F.col("n").cast("double")
    ex = cells.select(
        "a",
        "b",
        "n",
        (
            nd * nd
            / (
                F.sum("n").over(W.partitionBy("a")).cast("double")
                * F.sum("n").over(W.partitionBy("b")).cast("double")
            )
        ).alias("u"),
    )
    tot = F.sum("n").cast("double")
    ka = F.countDistinct("a")
    kb = F.countDistinct("b")
    # clamp: algebraic cancellation can land a hair below 0 on
    # perfectly independent tables (sqrt would NaN)
    chi2 = F.greatest(F.lit(0.0), tot * (F.sum("u") - 1.0))
    return ex.agg(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.sum("n").alias("n"),
        ka.cast("int").alias("levels_a"),
        kb.cast("int").alias("levels_b"),
        F.round(chi2, 6).alias("chi2"),
        ((ka - 1) * (kb - 1)).cast("int").alias("dof"),
        F.round(
            F.when(
                F.least(ka - 1, kb - 1) > 0,
                F.sqrt(chi2 / (tot * F.least(ka - 1, kb - 1))),
            ),
            6,
        ).alias("cramers_v"),
    )


def approx_set_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str | None = None,
    rsd: float = 0.02,
) -> DataFrame:
    """Sketch-based overlap of two key sets by inclusion-exclusion over
    HyperLogLog++ cardinalities: |A∩B| ≈ |A| + |B| - |A∪B|, jaccard ≈
    intersect / union — the constant-memory way to answer "how much do
    these two corpora share?" at 100 TB, where an exact distinct-join
    would shuffle both sides (the exact twin is a one-line semi-join;
    tests pin the estimate against it at fixture scale).

    One row: (n_a, n_b, n_union, n_intersect, jaccard) — all estimates
    at the given relative standard deviation. Three approx-distinct
    aggregates; the union side unions the (column-pruned) scans rather
    than merging sketch registers because Spark exposes no
    HLL-merge-across-DataFrames surface, so each input is scanned
    twice — still narrow-column streaming scans with no shuffle beyond
    the partial-agg trees. Intersection clamps at >= 0 (inclusion-
    exclusion on independent sketch noise can dip negative)."""
    cb = col_b or col_a
    a = df_a.select(F.col(col_a).alias("k"))
    b = df_b.select(F.col(cb).alias("k"))
    n_a = a.agg(F.approx_count_distinct("k", rsd).alias("n"))
    n_b = b.agg(F.approx_count_distinct("k", rsd).alias("n"))
    n_u = a.unionByName(b).agg(F.approx_count_distinct("k", rsd).alias("n"))
    joined = (
        n_a.select(F.col("n").alias("n_a"))
        .crossJoin(n_b.select(F.col("n").alias("n_b")))
        .crossJoin(n_u.select(F.col("n").alias("n_union")))
    )
    inter = F.greatest(
        F.lit(0), F.col("n_a") + F.col("n_b") - F.col("n_union")
    )
    return joined.select(
        "n_a",
        "n_b",
        "n_union",
        inter.alias("n_intersect"),
        F.round(
            inter.cast("double") / F.col("n_union").cast("double"), 6
        ).alias("jaccard"),
    )


def kmv_sketch(
    df: DataFrame, key_col: str, k: int = 1024
) -> DataFrame:
    """K-minimum-values (theta) sketch of a key set: the k smallest
    normalized xxhash64 values of the DISTINCT keys — a bounded
    (<= k rows) mergeable summary whose k-th value estimates density
    (est distinct ~ (k-1)/theta). Unlike HLL, two KMV sketches
    intersect DIRECTLY (common hashes below the joint theta), so small
    intersections don't drown in inclusion-exclusion noise.

    Plan: distinct on the RAW 64-bit long hash (one partial-agged
    shuffle; casting to double first would space values ~1024 apart
    near +/-2^63 and collide distinct keys), THEN normalize to double,
    then a global ascending limit k — Spark executes orderBy().limit()
    as TakeOrdered (per-partition heads, k rows to the driver merge),
    never a full sort materialization. Output: one column ``h`` in
    [0, 1)."""
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(F.xxhash64(F.col(key_col)).alias("_h64"))
        .distinct()
        .select(
            (
                F.col("_h64").cast("double") / F.lit(float(1 << 64))
                + 0.5
            ).alias("h")
        )
        .orderBy("h")
        .limit(int(k))
    )


def kmv_set_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    col_a: str,
    col_b: str | None = None,
    k: int = 1024,
) -> DataFrame:
    """Theta-sketch set overlap: KMV sketches of both key sets combine
    under the JOINT theta = min(theta_a, theta_b) (each sketch's theta
    is its k-th smallest hash when saturated, else 1.0 == the sketch
    is exact), and every estimate is a scaled count of surviving
    hashes: est(S) = |{h in S : h < theta}| / theta. The intersection
    is estimated DIRECTLY from common surviving hashes — the
    better-conditioned sibling of approx_set_overlap's HLL
    inclusion-exclusion when |A∩B| << |A∪B|; jaccard = common /
    surviving-union is a ratio of counts under one theta, so sketch
    scale cancels.

    Everything after the two TakeOrdered sketches is arithmetic over
    <= 2k bounded rows (broadcast thetas, one tiny join). One row:
    (n_a_est, n_b_est, n_intersect_est, n_union_est, jaccard_est,
    theta). Accuracy vs the exact twin pinned in
    tests/test_privacy.py."""
    cb = col_b or col_a
    sa = kmv_sketch(df_a, col_a, k)
    sb = kmv_sketch(df_b, cb, k)

    def theta_of(s):
        return s.agg(
            F.when(F.count("h") >= k, F.max("h"))
            .otherwise(F.lit(1.0))
            .alias("th"),
            F.count("h").alias("cnt"),
        )

    th = (
        theta_of(sa)
        .select(F.col("th").alias("_ta"))
        .crossJoin(theta_of(sb).select(F.col("th").alias("_tb")))
        .select(F.least("_ta", "_tb").alias("theta"))
    )
    a_surv = sa.crossJoin(F.broadcast(th)).filter(
        F.col("h") < F.col("theta")
    )
    b_surv = sb.crossJoin(F.broadcast(th)).filter(
        F.col("h") < F.col("theta")
    )
    common = a_surv.select("h").join(b_surv.select("h"), "h")
    stats = (
        a_surv.agg(F.count("h").alias("_na"))
        .crossJoin(b_surv.agg(F.count("h").alias("_nb")))
        .crossJoin(common.agg(F.count("h").alias("_nc")))
        .crossJoin(F.broadcast(th))
    )
    est = lambda c: F.round(  # noqa: E731
        c.cast("double") / F.col("theta"), 2
    )
    return stats.select(
        est(F.col("_na")).alias("n_a_est"),
        est(F.col("_nb")).alias("n_b_est"),
        est(F.col("_nc")).alias("n_intersect_est"),
        est(F.col("_na") + F.col("_nb") - F.col("_nc")).alias(
            "n_union_est"
        ),
        F.round(
            F.col("_nc")
            / F.greatest(
                (F.col("_na") + F.col("_nb") - F.col("_nc")).cast(
                    "double"
                ),
                F.lit(1.0),
            ),
            6,
        ).alias("jaccard_est"),
        F.round(F.col("theta"), 9).alias("theta"),
    )


def column_entropy(
    df: DataFrame, cols: list[str], base: float = 2.0, scale: int = 9
) -> DataFrame:
    """Shannon entropy (and its 0..1 normalized form) per categorical
    column — the profiling primitive between null-rate and mutual
    information: H = -Σ p ln p / ln(base) over value frequencies,
    normalized by log(k) (0 = constant column, 1 = uniform). NULL is
    counted as a category of its own (a 99%-NULL column is very
    low-entropy — exactly the signal).

    Plan: one groupBy per column over (column, value) — executed as a
    single unpivot scan (stack: rows x n_cols narrow rows, one
    shuffle), then the entropy fold per column over the bounded
    frequency tables. Counts exact; one log per distinct value.

    Output: (column, n_distinct, entropy, entropy_norm), column-sorted.
    """
    stack_expr = ", ".join(
        f"'{c}', cast(`{c}` as string)" for c in cols
    )
    long = df.selectExpr(
        f"stack({len(cols)}, {stack_expr}) as (column, value)"
    )
    freq = long.groupBy("column", "value").agg(
        F.count(F.lit(1)).alias("_n")
    )
    tot = freq.groupBy("column").agg(
        F.sum("_n").alias("_tot"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    ln_base = float(__import__("math").log(base))
    ent = (
        freq.join(tot, "column")
        .select(
            "column",
            "n_distinct",
            (
                -(F.col("_n") / F.col("_tot"))
                * F.log(F.col("_n") / F.col("_tot"))
                / F.lit(ln_base)
            ).alias("_h"),
        )
        .groupBy("column", "n_distinct")
        .agg(F.round(F.sum("_h"), scale).alias("entropy"))
    )
    return ent.select(
        "column",
        "n_distinct",
        "entropy",
        F.round(
            F.when(
                F.col("n_distinct") > 1,
                F.col("entropy")
                / (F.log(F.col("n_distinct").cast("double")) / F.lit(ln_base)),
            ).otherwise(F.lit(0.0)),
            scale,
        ).alias("entropy_norm"),
    ).orderBy("column")


def nullity_correlation(
    df: DataFrame, cols: list[str], scale: int = 6
) -> DataFrame:
    """Pairwise Pearson correlation of NULL-indicator columns — the
    missingno-style "which columns go missing TOGETHER" screen that a
    per-column null count can't see (sensor A and B failing jointly vs
    independently changes the imputation story entirely).

    ONE aggregation pass computes all indicator moments (n, per-column
    null counts, pairwise co-null counts — integers, exact); the
    correlation arithmetic is driver-visible scalar expressions over
    that one row. Columns that are never or always NULL have zero
    variance: their pairs emit NULL correlation (undefined), not 0 —
    absence of signal, not absence of association.

    Output: (col_a, col_b, n_null_a, n_null_b, n_null_both, corr),
    one row per unordered pair, name-ordered.
    """
    flags = {c: F.col(c).isNull().cast("long") for c in cols}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(flags[c]).alias(f"_s_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum(flags[a] * flags[b]).alias(f"_p_{a}_{b}"))
    m = df.agg(*aggs)
    # ONE consumer of the one-row aggregate: every pair becomes a struct
    # in an exploded array (a union of per-pair selects would re-execute
    # the corpus agg once per pair)
    structs = []
    for a, b in pairs:
        n = F.col("_n").cast("double")
        sa = F.col(f"_s_{a}").cast("double")
        sb = F.col(f"_s_{b}").cast("double")
        sab = F.col(f"_p_{a}_{b}").cast("double")
        # corr of 0/1 indicators:
        #   (n*sab - sa*sb) / sqrt((n*sa - sa^2)(n*sb - sb^2))
        den = F.sqrt((n * sa - sa * sa) * (n * sb - sb * sb))
        corr = F.when(den > 0.0, (n * sab - sa * sb) / den)
        structs.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"_s_{a}").alias("n_null_a"),
                F.col(f"_s_{b}").alias("n_null_b"),
                F.col(f"_p_{a}_{b}").alias("n_null_both"),
                F.round(corr, scale).alias("corr"),
            )
        )
    return (
        m.select(F.explode(F.array(*structs)).alias("_pair"))
        .select("_pair.*")
        .orderBy("col_a", "col_b")
    )


def psi_reference(
    df: DataFrame, col: str, bins: int = 10
) -> dict:
    """Fit the FIXED-EDGE side of a live PSI monitor from a reference
    snapshot: (lo, hi, per-bucket shares, n). A streaming monitor
    cannot re-derive union-wide edges per micro-batch — production
    drift monitors freeze the reference edges and score the live feed
    against them; this is that frozen artifact (a bounded dict, plan-
    literal material)."""
    b = df.agg(
        F.min(col).cast("double").alias("lo"),
        F.max(col).cast("double").alias("hi"),
        F.count(col).alias("n"),
    ).first()
    if not b["n"]:
        raise ValueError(f"psi_reference: no non-null rows in {col!r}")
    lo, hi = float(b["lo"]), float(b["hi"])
    if hi == lo:
        # a constant reference cannot anchor a drift monitor: every
        # live value would collapse into bucket 0 and PSI would read 0
        # for ANY feed, masking genuine drift — fail loudly instead
        raise ValueError(
            f"psi_reference: {col!r} is constant in the reference "
            f"(min == max == {lo}) — degenerate edges cannot detect "
            "drift; pick a varying column or widen the snapshot"
        )
    counts = {
        r["bucket"]: r["cnt"]
        for r in psi_bucket_counts(df, col, lo, hi, bins).collect()
    }
    n = int(b["n"])
    return {
        "col": col,
        "lo": lo,
        "hi": hi,
        "bins": int(bins),
        "n": n,
        "shares": [counts.get(i, 0) / n for i in range(bins)],
    }


def psi_bucket_counts(
    df: DataFrame, col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """(bucket, cnt) over the non-null ``col`` values on fixed edges —
    the count aggregate psi_reference fits the reference shares from and
    the streaming PSI monitor keeps as its state."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(_psi_bucket_expr(col, lo, hi, bins).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _psi_bucket_expr(col: str, lo: float, hi: float, bins: int):
    """Fixed-edge bucket id (literal bounds — streaming-safe); values
    outside [lo, hi] clamp to the edge buckets so a drifted live feed
    lands in the tails instead of vanishing."""
    x = F.col(col).cast("double")
    if hi > lo:
        raw = F.floor((x - F.lit(lo)) * bins / F.lit(hi - lo))
        return F.greatest(
            F.lit(0), F.least(F.lit(bins - 1), raw)
        ).cast("int")
    return F.lit(0)


def psi_from_counts(
    live_counts: DataFrame, ref: dict, eps: float = 1e-6
) -> DataFrame:
    """PSI of a live per-bucket count table against a frozen
    reference (psi_reference): the bounded-table arithmetic shared by
    the batch twin and the streaming monitor's drained state — one
    expression, so stream == batch is a statement about inputs. Same
    eps clamp and 9dp DECIMAL term fold as psi_drift."""
    bins = ref["bins"]
    spark = live_counts.sparkSession
    ref_rows = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(ref["shares"])],
        "bucket int, p_ref double",
    )
    full = ref_rows.join(
        live_counts.select("bucket", "cnt"), "bucket", "left"
    )
    tot = full.agg(F.sum("cnt").alias("_t")).first()["_t"] or 0
    if tot == 0:
        raise ValueError("psi_from_counts: live side is empty")
    p_live = F.coalesce(F.col("cnt"), F.lit(0)).cast("double") / float(
        tot
    )
    pa = F.greatest(F.col("p_ref"), F.lit(eps))
    pb = F.greatest(p_live, F.lit(eps))
    term = F.round((pa - pb) * F.log(pa / pb), 9).cast("decimal(18,9)")
    return full.withColumn("_term", term).agg(
        F.lit(ref["col"]).alias("column"),
        F.round(F.sum("_term").cast("double"), 6).alias("psi"),
        F.lit(ref["n"]).cast("bigint").alias("n_ref"),
        F.sum("cnt").cast("bigint").alias("n_live"),
    )
