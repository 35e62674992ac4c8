"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed, writes its input with pyarrow (the library only ever receives the
written files) and returns the counts it injected, so the output checks
can compare the library's findings against ground truth.

Injected defects are placed so that their counts are exact by
construction: base values stay far inside the z-score threshold,
outliers sit tens of sigmas out, duplicate rows copy only clean rows and
every row carries a unique ``order_id``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# dirty table (clean_table, clean_session)
# ---------------------------------------------------------------------------


def table_defects(n: int) -> dict[str, int]:
    """Defect counts injected into an n-row table (before duplicates)."""
    return {
        "outliers": max(3, n // 2000),
        "null_price": max(2, n // 500),
        "null_quantity": max(2, n // 600),
        "null_category": max(2, n // 700),
        "malformed_dates": max(2, n // 1000),
        "duplicate_rows": max(2, n // 1000),
    }


def make_table(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict[str, int]]:
    """An orders table of n unique rows plus appended duplicate rows.

    Columns: order_id, date (yyyy-MM-dd string), price, quantity,
    category. Returns the table and the injected counts."""
    counts = table_defects(n)
    order_id = np.arange(1, n + 1, dtype=np.int64)
    days = np.datetime64("2024-01-01") + (order_id % 730).astype("timedelta64[D]")
    date = days.astype(str).astype(object)
    price = np.round(rng.uniform(10.0, 90.0, n), 2)
    quantity = rng.integers(1, 10, n).astype(np.int64)
    category = rng.choice(np.array(["A", "B", "C", "D"], dtype=object), n)

    # disjoint row sets per defect; the rest are clean duplicate sources
    perm = rng.permutation(n)
    cuts = np.cumsum([counts[k] for k in counts])
    out_rows, np_rows, nq_rows, nc_rows, mal_rows, dup_src = np.split(perm[: cuts[-1]], cuts[:-1])

    sign = rng.choice([-1.0, 1.0], len(out_rows))
    price[out_rows] = np.round(sign * rng.uniform(3000.0, 6000.0, len(out_rows)), 2)
    price_mask = np.zeros(n, dtype=bool)
    price_mask[np_rows] = True
    qty_mask = np.zeros(n, dtype=bool)
    qty_mask[nq_rows] = True
    category[nc_rows] = None
    # year-first with slashes: no default date format parses these
    date[mal_rows] = [f"{2024 + i % 2}/{13 + i % 5}/{1 + i % 28:02d}" for i in range(len(mal_rows))]

    table = pa.table(
        {
            "order_id": pa.array(order_id),
            "date": pa.array(date, pa.string()),
            "price": pa.array(price, mask=price_mask),
            "quantity": pa.array(quantity, mask=qty_mask),
            "category": pa.array(category, pa.string()),
        }
    )
    dups = table.take(pa.array(np.sort(dup_src)))
    return pa.concat_tables([table, dups]), counts


def expected_missions(counts: dict[str, int]) -> dict[tuple[str, str], int]:
    """detect_missions' (mission, column) -> metric on the raw table."""
    return {
        ("outliers", "price"): counts["outliers"],
        ("missing", "price"): counts["null_price"],
        ("missing", "quantity"): counts["null_quantity"],
        ("missing", "category"): counts["null_category"],
        ("duplicates", "*"): counts["duplicate_rows"],
        ("date_mixed", "date"): counts["malformed_dates"],
    }


def write_parts(table: pa.Table, path: str, n_parts: int) -> int:
    """Write ``table`` as n_parts parquet files under directory ``path``
    (one scan task per file). Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_parts)
    for i in range(n_parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"))
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``; links count as links."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.lstat(os.path.join(root, f)).st_size for f in files)
    return total


# ---------------------------------------------------------------------------
# document corpus + embeddings (curate_corpus)
# ---------------------------------------------------------------------------

_REQUIRED = ["the", "and"]  # two Gopher stop-words per document


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words), dtype=object)


def make_corpus(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    """n Gopher-passing documents plus injected low-quality documents,
    exact copies and near duplicates (two word substitutions each).

    Returns the (doc_id, text) table and the ground truth: the injected
    counts, the ids that the Gopher filter and exact dedup must remove,
    and the (source_id, near_dup_id) pairs."""
    vocab = _vocab(rng, 4000)
    n_low, n_copy, n_near = max(2, n // 50), max(2, n // 50), max(2, n // 40)

    def doc(n_words: int) -> list[str]:
        words = list(rng.choice(vocab, n_words))
        for w, pos in zip(_REQUIRED, rng.choice(n_words, len(_REQUIRED), replace=False)):
            words[int(pos)] = w
        return words

    docs = [doc(int(k)) for k in rng.integers(60, 140, n)]
    texts = [" ".join(w) for w in docs]
    texts += [" ".join(doc(int(k))) for k in rng.integers(10, 40, n_low)]
    removed = set(range(n + 1, n + n_low + n_copy + 1))  # ids of low-quality docs, then copies
    src = rng.permutation(n)[: n_copy + n_near]
    copy_src, near_src = np.sort(src[:n_copy]), np.sort(src[n_copy:])
    texts += [texts[i] for i in copy_src]
    pairs = []
    for i in near_src:
        words = list(docs[i])
        free = [p for p in range(3, len(words) - 3) if words[p] not in _REQUIRED]
        for pos in rng.choice(free, 2, replace=False):
            words[int(pos)] = str(rng.choice(vocab))
        texts.append(" ".join(words))
        pairs.append((int(i) + 1, len(texts)))
    ids = np.arange(1, len(texts) + 1, dtype=np.int64)
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())})
    truth = {
        "docs": len(texts),
        "low_quality": n_low,
        "exact_copies": n_copy,
        "removed_ids": removed,
        "near_dup_pairs": pairs,
    }
    return table, truth


def make_embeddings(
    rng: np.random.Generator, n: int, dim: int, n_queries: int
) -> tuple[pa.Table, pa.Table, dict[int, int]]:
    """Clustered unit-scale vectors and queries that are small
    perturbations of chosen corpus vectors, so each query's exact
    nearest neighbour is known. Returns corpus, queries and
    {query_id: nearest vec_id}."""
    centers = rng.standard_normal((16, dim))
    vecs = centers[rng.integers(0, 16, n)] + 0.35 * rng.standard_normal((n, dim))
    src = np.sort(rng.choice(n, n_queries, replace=False))
    qvecs = vecs[src] + 0.002 * rng.standard_normal((n_queries, dim))

    def emb(m: np.ndarray) -> pa.Array:
        offsets = pa.array(np.arange(0, m.size + 1, dim, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(np.round(m, 4).ravel()))

    corpus = pa.table({"vec_id": pa.array(np.arange(1, n + 1, dtype=np.int64)), "embedding": emb(vecs)})
    qids = np.arange(1, n_queries + 1, dtype=np.int64)
    queries = pa.table({"query_id": pa.array(qids), "embedding": emb(qvecs)})
    return corpus, queries, {int(q): int(s) + 1 for q, s in zip(qids, src)}


# ---------------------------------------------------------------------------
# event stream (stream_drain)
# ---------------------------------------------------------------------------

EVENT_TYPES = ["view", "click", "purchase", "signup", "logout"]


def make_events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """n events of n_users users over three days, unique event_id."""
    start = np.datetime64("2024-03-01T00:00:00", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 3 * 86_400_000_000, n))
    etype = rng.choice(np.array(EVENT_TYPES, dtype=object), n, p=[0.5, 0.25, 0.1, 0.1, 0.05])
    return pa.table(
        {
            "event_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(1, n_users + 1, n).astype(np.int64)),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(np.round(rng.uniform(0.0, 100.0, n), 2)),
            "props": pa.array([f'{{"k": "{k}"}}' for k in rng.choice(list("abc"), n)], pa.string()),
        }
    )
