"""Physical data layout operators: multi-dimensional (z-order)
clustering for scan pruning, small-file compaction, and a distributed
per-file statistics audit.

At 100 TB the dominant cost of most queries is the scan, and the scan's
cost is decided at WRITE time: parquet row-group/file min-max stats only
prune when the layout clusters the filter columns. These operators are
the write-side half of the predicate-pushdown story the plan tests
freeze on the read side:

* ``zorder_write`` — interleave the bits of per-column quantile-bucket
  ranks into a single z-value, range-partition + sort by it, write.
  Point/range predicates on ANY prefix-free subset of the z-columns then
  touch a small fraction of files (the Delta/Iceberg OPTIMIZE ZORDER
  construction, built from stock DataFrame ops: quantile boundaries as
  plan literals, one codegen'd CASE chain per column — no UDFs).
* ``compact_files`` — rewrite a directory of many small files into
  ~target-sized ones (coalesce, no shuffle, order preserved). The
  small-file problem is a real cluster killer: 100k tiny files = 100k
  scheduler tasks + footer reads.
* ``file_stats`` — per-file min/max/rows via one distributed
  ``input_file_name()`` aggregation (the audit that proves a layout
  prunes: narrow per-file spans == skippable files).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _bucket_case_sql(col: str, boundaries: list[float]) -> str:
    """SQL CASE chain mapping a value to its quantile bucket: the count
    of boundaries <= value (NULLs -> bucket 0). One codegen'd expression
    built driver-side as a single string (a py4j Column tree this deep
    would cost ms per node)."""
    branches = " ".join(
        f"WHEN {col} >= {b!r} THEN {i + 1}"
        for i, b in reversed(list(enumerate(boundaries)))
    )
    return f"(CASE {branches} ELSE 0 END)"


def zorder_expr(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int = 8,
    rel_err: float = 0.001,
) -> "F.Column":
    """The z-value column: per column, rank into 2**bits quantile
    buckets (approxQuantile boundaries become plan literals — config,
    like IVF centroids); then interleave the bucket bits so nearby
    z-values are nearby in EVERY dimension. Pure integer arithmetic in
    one whole-stage-codegen expression."""
    n_buckets = 1 << bits_per_col
    qs = [i / n_buckets for i in range(1, n_buckets)]
    terms = []
    for j, c in enumerate(cols):
        bounds = df.selectExpr(f"CAST({c} AS double) AS v").approxQuantile(
            "v", qs, rel_err
        )
        # dedupe equal boundaries (low-cardinality cols) keeping order
        uniq: list[float] = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        raw = _bucket_case_sql(f"CAST({c} AS double)", uniq)
        # a low-cardinality column yields < n_buckets distinct bucket
        # ids, which would occupy only the LOW bits — the interleave's
        # high bits would be constant and the dimension would never
        # cluster. Rescale ids to span the full bit range (order-
        # preserving integer multiply) so each column's MOST significant
        # information lands in the z-value's most significant bits.
        m = len(uniq) + 1  # distinct bucket ids actually produced
        if m < n_buckets:
            bucket = f"(({raw}) * {n_buckets} DIV {m})"
        else:
            bucket = raw
        bit_terms = [
            f"(((({bucket}) >> {i}) & 1) << {i * len(cols) + j})"
            for i in range(bits_per_col)
        ]
        terms.append(" + ".join(bit_terms))
    return F.expr("CAST(" + " + ".join(terms) + " AS bigint)")


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits_per_col: int = 8,
) -> None:
    """Write ``df`` as parquet clustered by the z-order of ``cols``:
    range-partition on the z-value (so each file owns a contiguous
    z-range) and sort within partitions (so row groups inside a file are
    clustered too). File count is exactly ``n_files`` non-empty ranges;
    the z column itself is not persisted."""
    z = zorder_expr(df, cols, bits_per_col)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """Per-file (rows, min, max per requested column) — one distributed
    scan grouped by input_file_name(). The spans this reports are
    exactly what the parquet reader's file-level stats pruning sees: a
    predicate outside a file's [min, max] never opens it."""
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        df.withColumn("_file", F.input_file_name())
        .groupBy("_file")
        .agg(*aggs)
    )


def pruning_fraction(
    stats: list[dict], col: str, value: float
) -> float:
    """Fraction of files a point predicate col == value must open,
    given ``file_stats`` rows collected to the driver (audit helper)."""
    hit = sum(
        1
        for r in stats
        if r[f"min_{col}"] is not None
        and r[f"min_{col}"] <= value <= r[f"max_{col}"]
    )
    return hit / max(1, len(stats))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite ``in_path``'s parquet files into ~``target_bytes`` files
    at ``out_path``. Uses coalesce (narrow, no shuffle, preserves the
    existing order — and therefore any clustering) sized from the
    actual input bytes. Returns {files_in, files_out, bytes_in}.

    This is maintenance-job shaped: on a cluster you run it per
    partition directory after ingest; compaction never changes results,
    only task counts and footer overhead."""
    df = spark.read.parquet(in_path)
    files_in = df.select(F.input_file_name()).distinct().count()
    size = dir_bytes(in_path)
    n = max(1, math.ceil(size / target_bytes))
    df.coalesce(n).write.mode("overwrite").parquet(out_path)
    files_out = (
        spark.read.parquet(out_path)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    return {"files_in": files_in, "files_out": files_out, "bytes_in": size}


def optimize_table(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    zorder_cols: list[str],
    target_bytes: int = 128 * 1024 * 1024,
    bits_per_col: int = 8,
) -> dict:
    """The one-call maintenance job (Delta ``OPTIMIZE ... ZORDER BY``
    shape): rewrite a table directory into ~target-sized files
    clustered by the z-order of ``zorder_cols`` — compaction and
    clustering are the same rewrite, so doing them together costs one
    pass. Returns {files_in, files_out, bytes_in}. Run per partition
    directory after ingest; results never change, only scan pruning
    and task counts do."""
    import math

    df = spark.read.parquet(in_path)
    files_in = df.select(F.input_file_name()).distinct().count()
    size = dir_bytes(in_path)
    n = max(1, math.ceil(size / target_bytes))
    zorder_write(
        df, out_path, zorder_cols, n_files=n, bits_per_col=bits_per_col
    )
    return {"files_in": files_in, "files_out": n, "bytes_in": size}


# ---------------------------------------------------------------------------
# bucketed tables — the SHUFFLE-FREE join layout (z-order prunes scans;
# bucketing co-locates join keys so repeated joins on the same key never
# exchange either side again)
# ---------------------------------------------------------------------------

_BUCKETED_TABLES: dict = {}


def write_bucketed_table(
    df,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    memo_key=None,
) -> str:
    """Persist ``df`` as a bucketed+sorted parquet table (saveAsTable —
    bucket metadata lives in the session catalog): every row lands in
    bucket hash(key) % n_buckets, sorted by the key inside each file.
    A later join of two tables bucketed the SAME way on their join keys
    needs NO exchange and NO sort on either side — the one-time write
    pre-pays the shuffle every subsequent join would repeat. This is the
    batch-lake answer to 'this join runs nightly at 100 TB': bucket both
    fact and dimension once, join forever.

    ``memo_key`` (e.g. (fixture path, mtime)): skip the rewrite when the
    same input was already bucketed this session.
    """
    spark = df.sparkSession
    # the memo outlives a SparkSession (module-global); a hit is only
    # valid while the CURRENT session's catalog still knows the table —
    # after a session restart the catalog is empty and the write must
    # re-run (same guard shape as memo'd parquet checkpoints).
    if (
        memo_key is not None
        and _BUCKETED_TABLES.get(table) == memo_key
        and spark.catalog.tableExists(table)
    ):
        return table
    # The in-memory catalog dies with the session but the warehouse dir
    # does not: a fresh session's saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS. If the catalog doesn't know the table,
    # clear its orphaned default location first.
    if not spark.catalog.tableExists(table):
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir")
        for prefix in ("file://", "file:"):
            if wh.startswith(prefix):
                wh = wh[len(prefix):]
                break
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
    # repartition on the SAME hash the bucketizer uses (Murmur3 % n), so
    # every bucket's rows sit in exactly one task -> ONE file per bucket.
    # Without this, every writing task emits a file per bucket it touches
    # (tasks x buckets small files at scale), and Spark only elides the
    # join-side Sort when a bucket is a single sorted file.
    (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )
    if memo_key is not None:
        _BUCKETED_TABLES[table] = memo_key
    return table


# ---------------------------------------------------------------------------
# dynamic partition overwrite — the lake's incremental-refresh primitive
# (rewrite ONLY the partitions a late batch touches; everything else
# keeps its files, byte for byte)
# ---------------------------------------------------------------------------


def write_partitioned(df: DataFrame, path: str, part_col: str) -> None:
    """Initial partitioned layout: one directory per ``part_col`` value.
    Pair with overwrite_changed_partitions for incremental refreshes."""
    df.write.mode("overwrite").partitionBy(part_col).parquet(path)


def partition_file_index(spark: SparkSession, path: str) -> dict:
    """{partition_value: {relative_file: (size, mtime_ns)}} — the
    physical fingerprint an overwrite audit compares. Driver-side
    listing of the partition directories (metadata-only, no data read)."""
    out: dict = {}
    for entry in os.scandir(path):
        if not entry.is_dir() or "=" not in entry.name:
            continue
        val = entry.name.split("=", 1)[1]
        files = {}
        for f in os.scandir(entry.path):
            if f.name.startswith(("part-", "part_")) or f.name.endswith(
                ".parquet"
            ):
                st = f.stat()
                files[f.name] = (st.st_size, st.st_mtime_ns)
        out[val] = files
    return out


def overwrite_changed_partitions(
    delta: DataFrame, path: str, part_col: str
) -> None:
    """Apply a late/corrected batch by rewriting ONLY the partitions
    present in ``delta`` (partitionOverwriteMode=dynamic): at 100 TB a
    day's correction rewrites one day's directory, not the table — the
    difference between an hourly refresh and an impossible one. Static
    overwrite mode (the default) would TRUNCATE the whole table first;
    the mode is a per-write option, so the session conf is untouched."""
    (
        delta.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


def overwrite_audit(before: dict, after: dict, touched: set) -> dict:
    """Compare two partition_file_index snapshots: partitions NOT in
    ``touched`` must be byte-identical (same files, sizes, mtimes);
    touched ones must have been rewritten. Returns counts; raises
    AssertionError naming the first violating partition — an audit that
    fails loudly, per the no-silent-caps policy."""
    preserved = 0
    for part, files in before.items():
        if part in touched:
            continue
        if after.get(part) != files:
            raise AssertionError(
                f"untouched partition rewritten: {part!r}"
            )
        preserved += 1
    rewritten = 0
    for part in touched:
        if after.get(part) == before.get(part):
            raise AssertionError(
                f"touched partition NOT rewritten: {part!r}"
            )
        rewritten += 1
    return {
        "n_preserved": preserved,
        "n_rewritten": rewritten,
        "n_partitions_after": len(after),
    }


_PARTITIONED_TABLES: dict = {}


def ensure_partitioned_copy(
    df: DataFrame, path: str, part_col: str, memo_key=None
) -> str:
    """Write (once per memo_key) a partitioned copy of ``df`` — the
    layout dynamic partition pruning and partition-wise reads need.
    Same memo contract as write_bucketed_table, revalidated against the
    filesystem (the memo outlives sessions)."""
    if (
        memo_key is not None
        and _PARTITIONED_TABLES.get(path) == memo_key
        and os.path.isdir(path)
    ):
        return path
    write_partitioned(df, path, part_col)
    if memo_key is not None:
        _PARTITIONED_TABLES[path] = memo_key
    return path


def parquet_column_audit(spark: SparkSession, path: str) -> DataFrame:
    """Per-column PHYSICAL layout report straight from the parquet
    footers: encodings, compressed/uncompressed bytes, compression
    ratio, row-group count — the observability the "scan cost is
    decided at write time" story needs numbers for (a column stuck on
    PLAIN when it should dictionary-encode, or a 1.0x ratio on a
    supposedly compressible column, is a write-side bug you find HERE).

    Footer reads are metadata-only (no data pages touched). The file
    list fans out over the cluster via a parallelized RDD of paths —
    at 100 TB the table has tens of thousands of footers, all read
    concurrently; per-file dicts fold in one reduceByKey-free groupBy.
    """
    import os as _os

    if _os.path.isfile(path):
        files = [path]
    else:
        files = []
        for root, _dirs, names in _os.walk(path):
            for n in names:
                if n.endswith(".parquet") or n.startswith("part-"):
                    if not n.startswith(("_", ".")):
                        files.append(_os.path.join(root, n))

    def read_footer(p):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(p).metadata
        out = []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                out.append(
                    (
                        c.path_in_schema,
                        c.total_compressed_size,
                        c.total_uncompressed_size,
                        str(c.compression),
                        ",".join(sorted({str(e) for e in c.encodings})),
                        1,
                    )
                )
        return out

    rows = (
        spark.sparkContext.parallelize(files, max(1, min(len(files), 64)))
        .flatMap(read_footer)
        .collect()
    )
    agg: dict = {}
    for col, comp, uncomp, codec, encs, ngroups in rows:
        cur = agg.setdefault(col, [0, 0, set(), set(), 0])
        cur[0] += comp
        cur[1] += uncomp
        cur[2].add(codec)
        cur[3].update(encs.split(","))
        cur[4] += ngroups
    out = [
        (
            col,
            comp,
            uncomp,
            round(uncomp / comp, 3) if comp else None,
            "|".join(sorted(codecs)),
            "|".join(sorted(encs)),
            ngroups,
        )
        for col, (comp, uncomp, codecs, encs, ngroups) in sorted(agg.items())
    ]
    return spark.createDataFrame(
        out,
        "column string, compressed_bytes bigint, uncompressed_bytes bigint, "
        "ratio double, codecs string, encodings string, n_row_groups bigint",
    )


def file_provenance(
    df: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Per-input-file provenance: which physical file every row came
    from (``input_file_name()``), with row count, distinct-key count,
    and an ORDER-INDEPENDENT content checksum — sum of md5-derived
    64-bit words over the canonical '|'-joined key string, so two
    engines (or two reads under different parallelism) agree without
    sorting anything. The audit behind "which file introduced these
    rows" / "did the rewrite preserve every file's content" questions
    that row-level lineage needs at the storage layer.

    One scan, one per-file groupBy (file count is bounded). md5, not
    xxhash64, so DuckDB reproduces the checksum from the same parquet
    (parity in tests/test_layout.py). Checksums wrap mod 2^64 by
    design — a checksum, not a cryptographic digest.
    """
    key = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in key_cols]
    )
    word = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
    return (
        df.withColumn(
            # FULL path with the scheme stripped — a basename-only key
            # would merge hive-partition files that share a name
            # (date=A/part-00000 + date=B/part-00000)
            "_file",
            F.regexp_replace(F.input_file_name(), "^[a-z][a-z0-9+.-]*://", ""),
        )
        .groupBy(F.col("_file").alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(*key_cols).alias("n_distinct_keys"),
            F.sum(word).alias("checksum"),
        )
        .orderBy("file")
    )
