"""Disk-backed stage boundaries (SURVEY §4(c) checkpoint policy).

Spark's ``persist()`` has no plan-scoped release point: a registered
query returns a LAZY DataFrame, so the function that called ``cache()``
can never ``unpersist()`` — the blocks outlive the query for the whole
session and accumulate executor memory across a long run (the bench
executes 30+ queries in one session). ``parquet_checkpoint`` replaces
those caches with a write-once/read-many parquet stage boundary:

- executor memory is never held — the data lives in session-scoped
  temp files, removed at process exit (atexit);
- every downstream consumer gets an independent columnar scan WITH
  column pruning, so a consumer that needs 3 narrow columns of a
  wide checkpoint reads only those (a memory cache always replays
  full cached rows);
- lineage is truncated exactly like ``checkpoint()``, so iterative or
  many-consumer plans stay small.

On a real cluster, point ``ETL_HERO_CHECKPOINT_DIR`` at durable shared
storage (HDFS/S3) — the default tempdir is correct only for local mode,
where driver and executors share a filesystem.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame

_lock = threading.Lock()
_base: str | None = None
_counter = itertools.count()


def _base_dir() -> str:
    global _base
    with _lock:
        if _base is None:
            _base = os.environ.get("ETL_HERO_CHECKPOINT_DIR") or tempfile.mkdtemp(
                prefix="etl_hero_ckpt_"
            )
            atexit.register(shutil.rmtree, _base, ignore_errors=True)
        return _base


def session_tmpdir(prefix: str = "stage") -> str:
    """A fresh directory under the session checkpoint root, removed with
    it at process exit. Shared by parquet_checkpoint and the streaming
    file-source staging (streaming/windows._file_stream_source)."""
    d = os.path.join(_base_dir(), f"{prefix}{next(_counter)}")
    os.makedirs(d, exist_ok=True)
    return d


def parquet_checkpoint(df: DataFrame, name: str = "stage") -> DataFrame:
    """Write ``df`` once to session-scoped temp parquet and return a
    DataFrame reading it back. Use where a subtree has several downstream
    consumers (broadcast subqueries launch concurrently and would each
    recompute the subtree before a lazy cache fills) but the query's
    result outlives the function — i.e. everywhere ``persist()`` would
    leak for the session lifetime."""
    path = os.path.join(_base_dir(), f"{name}-{next(_counter)}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


_memo_paths: dict = {}


def memo_parquet_checkpoint(df: DataFrame, key, name: str = "stage") -> DataFrame:
    """parquet_checkpoint that a BUILD-ONCE artifact (minhash signature
    table, IVF assignment lists — an index over an immutable input) can
    reuse across calls in one session: the stage is written the first
    time ``key`` is seen and read back on every later call, so repeated
    queries probe the index instead of re-deriving it (exactly how a
    stored ANN/LSH index behaves in production). ``key`` must capture
    the input's identity AND freshness — e.g. (path, mtime, params);
    callers with mutable/arbitrary inputs use parquet_checkpoint."""
    with _lock:
        path = _memo_paths.get(key)
    if path is None or not os.path.exists(path):
        path = os.path.join(_base_dir(), f"{name}-{next(_counter)}")
        df.write.mode("overwrite").parquet(path)
        with _lock:
            _memo_paths[key] = path
    return df.sparkSession.read.parquet(path)


def memo_parquet_get(spark, key):
    """Probe the memo WITHOUT building the producer DataFrame: returns
    the read-back stage for ``key`` if it was already written this
    session, else None. Pair with memo_parquet_checkpoint when even
    CONSTRUCTING the producer is expensive (eager cap-guard actions,
    thousand-node py4j expression trees) — the build-once pattern's
    fast path."""
    with _lock:
        path = _memo_paths.get(key)
    if path is not None and os.path.exists(path):
        return spark.read.parquet(path)
    return None
