"""Similarity-search tests: exact top-k sanity + ANN recall vs exact."""

import pyspark.sql.functions as F
import pytest

from etl_hero_spark import simsearch


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_topk_self_is_rank_one(emb, queries):
    out = simsearch.topk_cosine(emb, queries, k=5).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_query.items():
        top = min(rows, key=lambda r: r["rank"])
        assert top["corpus_id"] == qid  # self-similarity = 1.0 wins
        assert abs(top["score"] - 1.0) < 1e-6
        assert len(rows) == 5
        scores = [r["score"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)


def test_topk_scores_bounded(emb, queries):
    out = simsearch.topk_cosine(emb, queries, k=5)
    assert out.filter((F.col("score") > 1.000001) | (F.col("score") < -1.000001)).count() == 0


def test_lsh_topk_recall(emb, queries):
    """Single-probe LSH top-k: every returned hit must be in the exact
    ranking's top-20 (no garbage hits), and rank-1 self-hit must survive
    (query shares its own bucket by construction)."""
    exact = simsearch.topk_cosine(emb, queries, k=20).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["corpus_id"])
    approx = simsearch.topk_cosine_lsh(emb, queries, k=5).collect()
    assert approx, "LSH must return hits"
    for r in approx:
        if r["rank"] == 1:
            assert r["corpus_id"] == r["query_id"]


def test_embedding_near_dup_finds_scaled_clones(spark, emb):
    clones = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000)
        .withColumn("embedding", F.transform("embedding", lambda x: x * F.lit(2.0)))
    )
    pairs = simsearch.embedding_near_dup_pairs(
        emb.unionByName(clones), threshold=0.95
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    expected = {
        (r["vec_id"], r["vec_id"] + 1000000)
        for r in emb.filter(F.col("vec_id") % 100 == 0).select("vec_id").collect()
    }
    # scaled clone has identical signature and cosine ~1.0 -> must be found
    assert expected <= found


def test_ivf_full_probe_equals_brute_force(emb, queries):
    """nprobe == n_centroids probes every inverted list -> exhaustive
    search; result must be IDENTICAL to the exact brute-force top-k."""
    exact = sorted(
        map(tuple, simsearch.topk_cosine(emb, queries, k=5).collect())
    )
    cents = simsearch.train_centroids(emb, n_centroids=8)
    full = sorted(
        map(
            tuple,
            simsearch.topk_cosine_ivf(
                emb, queries, k=5, centroids=cents, nprobe=8
            ).collect(),
        )
    )
    assert full == exact


def test_ivf_partial_probe_recall(emb, queries):
    """nprobe=2/8: self-hit must survive (the query's own vector shares
    its nearest list) and every hit must come from the exact top-50."""
    cents = simsearch.train_centroids(emb, n_centroids=8)
    approx = simsearch.topk_cosine_ivf(
        emb, queries, k=5, centroids=cents, nprobe=2
    ).collect()
    assert approx, "IVF must return hits"
    exact50 = {
        (r["query_id"], r["corpus_id"])
        for r in simsearch.topk_cosine(emb, queries, k=50).collect()
    }
    for r in approx:
        if r["rank"] == 1:
            assert r["corpus_id"] == r["query_id"]
        assert (r["query_id"], r["corpus_id"]) in exact50


def _recall_at_k(exact_rows, approx_rows, k=5):
    """Mean per-query |approx∩exact_topk| / k."""
    exact_sets, approx_sets = {}, {}
    for r in exact_rows:
        exact_sets.setdefault(r["query_id"], set()).add(r["corpus_id"])
    for r in approx_rows:
        approx_sets.setdefault(r["query_id"], set()).add(r["corpus_id"])
    recalls = [
        len(approx_sets.get(q, set()) & hits) / min(k, len(hits))
        for q, hits in exact_sets.items()
    ]
    return sum(recalls) / len(recalls)


@pytest.fixture(scope="module")
def queries10(emb):
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_lsh_multiprobe_recall_knob(emb, queries10):
    """Multi-probe (Hamming-1 bit flips) is the LSH recall knob: probing
    more buckets must never lose candidates, and the full Hamming-1 ball
    must reach a usable recall@5 against the exact top-5. n_planes=4 (16
    buckets over the 500-vector sf0.001 corpus) so bucket occupancy is
    high enough for recall numbers to be meaningful; the synthetic
    embeddings are mostly random, which bounds absolute recall (all
    inputs seeded -> measured recalls are deterministic: 0.32 -> 0.52)."""
    exact = simsearch.topk_cosine(emb, queries10, k=5).collect()
    r1 = _recall_at_k(
        exact,
        simsearch.topk_cosine_lsh(
            emb, queries10, k=5, n_planes=4, n_probes=1
        ).collect(),
    )
    r5 = _recall_at_k(
        exact,
        simsearch.topk_cosine_lsh(
            emb, queries10, k=5, n_planes=4, n_probes=5
        ).collect(),
    )
    assert r5 >= r1, f"multi-probe lost recall: {r5} < {r1}"
    assert r5 >= 0.5, f"Hamming-1 ball recall@5 too low: {r5}"


def test_ivf_nprobe_sweep_recall(emb, queries10):
    """IVF recall@5 vs exact must be non-decreasing in nprobe and reach
    1.0 at full probe (nprobe == n_centroids == exhaustive search)."""
    exact = simsearch.topk_cosine(emb, queries10, k=5).collect()
    cents = simsearch.train_centroids(emb, n_centroids=8)
    recalls = {}
    for nprobe in (1, 2, 4, 8):
        approx = simsearch.topk_cosine_ivf(
            emb, queries10, k=5, centroids=cents, nprobe=nprobe
        ).collect()
        recalls[nprobe] = _recall_at_k(exact, approx)
    assert recalls[8] == 1.0, f"full probe must be exact: {recalls}"
    vals = [recalls[n] for n in (1, 2, 4, 8)]
    assert vals == sorted(vals), f"recall not monotone in nprobe: {recalls}"
    assert recalls[2] >= 0.5, f"nprobe=2 recall too low: {recalls}"


def test_label_centroids_match_duckdb(spark, sf_dir):
    """Cross-engine oracle for the rows-only registered query: identical
    decimal-exact accumulation in DuckDB."""
    import duckdb

    from etl_hero_spark.simsearch import label_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["label"], r["pos"], r["mean_val"], r["n_vecs"])
        for r in label_centroids(emb).collect()
    }
    want = set(
        duckdb.sql(
            "WITH x AS (SELECT label, "
            "unnest(generate_series(1, len(embedding))) AS i, embedding "
            f"FROM '{sf_dir}/embeddings.parquet') "
            "SELECT label, cast(i - 1 as int) AS pos, "
            "round(cast(sum(cast(embedding[i] as decimal(27,9))) as double) "
            "/ cast(count(*) as double), 6) AS mean_val, "
            "cast(count(*) as bigint) AS n_vecs "
            "FROM x GROUP BY label, pos"
        ).fetchall()
    )
    assert got == want
    # 10 labels x 64 dims
    assert len(got) == 640


def test_label_centroids_deterministic_across_runs(spark, sf_dir):
    from etl_hero_spark.simsearch import label_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(map(tuple, label_centroids(emb).collect()))
    b = sorted(
        map(tuple, label_centroids(emb.repartition(7)).collect())
    )
    assert a == b  # decimal accumulation: partition layout can't change it


def test_ivf_persisted_index_equals_in_memory(spark, tmp_path, emb, queries):
    """The persisted-index probe must return exactly what the in-memory
    form returns for the same centroid model."""
    from etl_hero_spark.simsearch import (
        topk_cosine_ivf,
        topk_cosine_ivf_indexed,
        train_centroids,
        write_ivf_index,
    )

    cents = train_centroids(emb, n_centroids=8)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, centroids=cents)
    direct = {
        tuple(r)
        for r in topk_cosine_ivf(
            emb, queries, k=5, nprobe=3, centroids=cents
        ).collect()
    }
    indexed = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, path, k=5, nprobe=3
        ).collect()
    }
    assert indexed == direct and len(indexed) > 0


def test_ivf_index_probe_prunes_partitions(spark, tmp_path, emb, queries):
    """The stored lists are partitioned by list_id; a probe scan must
    carry a partition filter (dynamic or static), not read all lists."""
    from etl_hero_spark.simsearch import topk_cosine_ivf_indexed, write_ivf_index

    path = str(tmp_path / "ivf_index_p")
    write_ivf_index(emb, path, n_centroids=8)
    plan = (
        topk_cosine_ivf_indexed(spark, queries, path, k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan or "dynamicpruning" in plan.lower()


def test_semantic_dedup_groups_and_representatives(spark):
    from etl_hero_spark.simsearch import semantic_dedup

    # two duplicate pairs along distinct axes + two singletons; 64-dim
    def vec(axis, scale):
        v = [0.0] * 64
        v[axis] = scale
        return v

    rows = [
        (1, vec(0, 1.0)), (2, vec(0, 2.0)),      # dup group {1,2}
        (10, vec(1, 1.0)), (11, vec(1, 0.5)),    # dup group {10,11}
        (20, vec(2, 1.0)),                       # singleton
        (21, vec(3, 1.0)),                       # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["component"], r["keep"])
        for r in semantic_dedup(df, threshold=0.99, n_centroids=2).collect()
    }
    assert got[1] == (1, 1) and got[2] == (1, 0)
    assert got[10] == (10, 1) and got[11] == (10, 0)
    assert got[20] == (20, 1) and got[21] == (21, 1)
    assert len(got) == 6


def test_semantic_dedup_single_cluster_is_exact(spark, sf_dir):
    """With one cluster the pair search is exhaustive, so the result
    must equal brute-force all-pairs components at the same threshold
    (multi-cluster runs may only MISS cross-cluster pairs — the
    documented SemDeDup recall trade-off)."""
    import pyspark.sql.functions as SF

    from etl_hero_spark.dedup import connected_components
    from etl_hero_spark.simsearch import (
        cosine_expr,
        quantized_vec,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clones = (
        emb.filter(SF.col("vec_id") % 50 == 0)
        .withColumn("vec_id", SF.col("vec_id") + 1000000)
        .withColumn("embedding", SF.transform("embedding", lambda x: x * SF.lit(2.0)))
    )
    corpus = emb.unionByName(clones)
    got = {
        (r["vec_id"], r["component"], r["keep"])
        for r in semantic_dedup(corpus, threshold=0.95, n_centroids=1).collect()
    }
    base = corpus.select(
        SF.col("vec_id").alias("id"), quantized_vec("embedding", 3).alias("v")
    )
    pairs = (
        base.alias("a")
        .join(base.alias("b"), SF.col("a.id") < SF.col("b.id"))
        .withColumn(
            "cos",
            SF.round(cosine_expr(SF.col("a.v"), SF.col("b.v")), 6),
        )
        .filter(SF.col("cos") >= 0.95)
        .select(SF.col("a.id").alias("id_a"), SF.col("b.id").alias("id_b"))
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    want = {
        (r["id"], comp.get(r["id"], r["id"]), int(comp.get(r["id"], r["id"]) == r["id"]))
        for r in base.collect()
    }
    assert got == want
    # the injected clones actually form duplicate groups
    assert any(k == 0 for _, _, k in got)


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pq_books(emb):
    return simsearch.train_pq_codebooks(emb, m=8, k_sub=16)


def test_pq_codes_shape_and_range(emb, pq_books):
    codes = emb.select(
        simsearch.pq_codes_expr("embedding", pq_books).alias("c")
    ).collect()
    for r in codes:
        assert len(r["c"]) == 8
        assert all(0 <= v < 16 for v in r["c"])


def test_pq_full_rerank_equals_bruteforce(emb, queries, pq_books):
    """Reranking every ADC candidate exactly == brute force: PQ only
    prunes the candidate ORDER, the exact stage decides."""
    n = emb.count()
    exact = sorted(
        map(tuple, simsearch.topk_cosine(emb, queries, k=5).collect())
    )
    pq = sorted(
        map(
            tuple,
            simsearch.topk_cosine_pq(
                emb, queries, k=5, rerank_factor=n, codebooks=pq_books
            ).collect(),
        )
    )
    assert pq == exact


def test_pq_recall_with_modest_rerank(emb, queries, pq_books):
    """rerank_factor=4: the 64x-compressed ADC ordering must put most
    true top-5 neighbors inside its top-20, and the self-hit must be
    rank 1 (its ADC score is near-maximal by construction)."""
    exact = simsearch.topk_cosine(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["corpus_id"])
    got = simsearch.topk_cosine_pq(
        emb, queries, k=5, rerank_factor=4, codebooks=pq_books
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["corpus_id"])
        if r["rank"] == 1:
            assert r["corpus_id"] == r["query_id"]
    recalls = [
        len(by_q.get(q, set()) & hits) / len(hits)
        for q, hits in truth.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_pq_index_roundtrip(spark, emb, queries, pq_books, tmp_path):
    path = str(tmp_path / "pq")
    books = simsearch.write_pq_index(
        emb, path, m=8, k_sub=16, codebooks=pq_books
    )
    assert books == pq_books
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == emb.count()
    stored_books = spark.read.parquet(f"{path}/codebooks")
    assert stored_books.count() == 8 * 16
    # stored codes match a fresh encode of the same corpus
    fresh = emb.select(
        F.col("vec_id").alias("corpus_id"),
        simsearch.pq_codes_expr("embedding", pq_books).alias("codes"),
    )
    assert (
        codes.select("corpus_id", "codes")
        .exceptAll(fresh)
        .count()
        == 0
    )


def test_pq_adc_no_vectors_through_topk_shuffle(emb, queries, pq_books):
    """The ADC candidate stage must not ship raw embedding arrays
    through the window exchange — codes+norm only (the compression is
    the point). The cv column may only appear in the rerank join."""
    df = simsearch.topk_cosine_pq(
        emb, queries, k=5, rerank_factor=4, codebooks=pq_books
    )
    lines = (
        df._jdf.queryExecution().executedPlan().toString().splitlines()
    )
    # locate the ADC ordering window (it sorts on the adc column), then
    # the first Project under its exchange: that is the row layout
    # shuffled for candidate selection
    widx = next(
        i for i, l in enumerate(lines) if "Window" in l and "adc#" in l
    )
    eidx = next(
        i
        for i in range(widx, len(lines))
        if "Exchange hashpartitioning(query_id" in lines[i]
    )
    pidx = next(
        i for i in range(eidx, len(lines)) if "Project [" in lines[i]
    )
    assert "cv#" not in lines[pidx]
    assert "embedding#" not in lines[pidx]
    # and the top-k is pushed into the shuffle as a group-limit
    assert any("WindowGroupLimit" in l for l in lines[widx:pidx])


# ---------------------------------------------------------------------------
# IVF-PQ combined index
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivfpq_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ann") / "ivfpq")
    simsearch.write_ivfpq_index(
        emb, path, n_centroids=8, m=8, k_sub=16
    )
    return path


def test_ivfpq_full_probe_full_rerank_equals_bruteforce(
    spark, emb, queries, ivfpq_path
):
    n = emb.count()
    exact = sorted(
        map(tuple, simsearch.topk_cosine(emb, queries, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            simsearch.topk_cosine_ivfpq_indexed(
                spark, queries, ivfpq_path, k=5, nprobe=8, rerank_factor=n
            ).collect(),
        )
    )
    assert got == exact


def test_ivfpq_partial_probe_recall(spark, emb, queries, ivfpq_path):
    exact = simsearch.topk_cosine(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["corpus_id"])
    got = simsearch.topk_cosine_ivfpq_indexed(
        spark, queries, ivfpq_path, k=5, nprobe=4, rerank_factor=8
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["corpus_id"])
        if r["rank"] == 1:
            assert r["corpus_id"] == r["query_id"]  # self-hit survives
    recalls = [
        len(by_q.get(q, set()) & hits) / len(hits)
        for q, hits in truth.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_ivfpq_probe_scan_is_partition_pruned(spark, queries, ivfpq_path):
    """nprobe=1: the codes scan must touch ONLY the probed list
    partitions — static pruning from the driver-collected probe set,
    provable via inputFiles, not hoped for via runtime DPP."""
    import pyspark.sql.functions as F

    all_files = set(spark.read.parquet(f"{ivfpq_path}/codes").inputFiles())
    cent_rows = sorted(
        spark.read.parquet(f"{ivfpq_path}/centroids").collect(),
        key=lambda r: r["list_id"],
    )
    cents = [list(r["centroid"]) for r in cent_rows]
    probed = {
        r["p"]
        for r in queries.select(
            simsearch.nearest_lists_expr("embedding", cents, 1)[0].alias("p")
        ).collect()
    }
    filtered = spark.read.parquet(f"{ivfpq_path}/codes").filter(
        F.col("list_id").isin(sorted(probed))
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the probe set lands in PartitionFilters -> the scan's file listing
    # drops non-probed list directories at PLANNING time
    pf = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "list_id" in pf and "IN" in pf.upper()
    # and the filtered scan reads a strict subset of the rows
    total = spark.read.parquet(f"{ivfpq_path}/codes").count()
    assert 0 < filtered.count() < total
    assert len(probed) < 8  # the probe really is partial
    assert len(all_files) > 8  # partitioned layout materialized


def test_pq_adc_dp_rounding_path_still_exact_under_full_rerank(
    emb, queries, pq_books
):
    """adc_dp only perturbs the CANDIDATE ordering — with full rerank
    the exact stage decides, so the result must equal brute force for
    any adc_dp."""
    n = emb.count()
    exact = sorted(
        map(tuple, simsearch.topk_cosine(emb, queries, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            simsearch.topk_cosine_pq(
                emb, queries, k=5, rerank_factor=n,
                codebooks=pq_books, adc_dp=3,
            ).collect(),
        )
    )
    assert got == exact


def test_ivfpq_index_accepts_string_query_ids(spark, tmp_path):
    """write_ivfpq_index accepts any id type, so the indexed search must
    derive the query-id type from the caller's schema instead of
    hardcoding long (ADVICE r3)."""
    import random

    from pyspark.sql import functions as F

    from etl_hero_spark.simsearch import (
        topk_cosine_ivfpq_indexed,
        write_ivfpq_index,
    )

    rng = random.Random(7)
    rows = [
        (f"doc-{i}", [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(64)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    )
    path = str(tmp_path / "ivfpq_str")
    write_ivfpq_index(corpus, path, n_centroids=4, m=4, k_sub=4)
    queries = corpus.filter(F.col("vec_id").isin("doc-0", "doc-1")).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = topk_cosine_ivfpq_indexed(
        spark, queries, path, k=3, nprobe=4, rerank_factor=4
    ).collect()
    assert {r["query_id"] for r in got} == {"doc-0", "doc-1"}
    assert all(isinstance(r["query_id"], str) for r in got)
    # self-match comes back first at full probe
    for qid in ("doc-0", "doc-1"):
        top = min(
            (r for r in got if r["query_id"] == qid),
            key=lambda r: r["rank"],
        )
        assert top["corpus_id"] == qid


# ---------------------------------------------------------------------------
# distributed Lloyd k-means (round 4)
# ---------------------------------------------------------------------------


def test_kmeans_lloyd_matches_numpy_trajectory(spark, sf_dir):
    """The distributed iteration reproduces a numpy reference running
    the same algorithm from the same seeded init: assignment by nearest
    centroid, means per cluster, same early-stop rule. Decimal-summed
    distributed means vs numpy float64 means agree to ~1e-9, so after a
    few iterations centroids match to loose tolerance."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k, iters, seed, tol = 4, 3, 7, 1e-6
    model = simsearch.kmeans_lloyd(emb, k=k, iters=iters, seed=seed, tol=tol)

    x = np.asarray(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    cents = np.asarray(
        simsearch.kmeans_init(emb, k, seed=seed), dtype=np.float64
    )
    done = 0
    converged = False
    for done in range(1, iters + 1):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        new = cents.copy()
        for c in range(k):
            m = assign == c
            if m.any():
                new[c] = x[m].mean(0)
        move = ((cents - new) ** 2).sum(1).max()
        cents = new
        if move <= tol:
            converged = True
            break
    assert model["iterations"] == done
    assert model["converged"] == converged
    assert np.allclose(np.asarray(model["centroids"]), cents, atol=1e-6)


def test_kmeans_lloyd_is_deterministic(spark, sf_dir):
    """Decimal accumulation makes the training trajectory independent of
    partition order: two runs (different partitioning) give bit-equal
    centroids."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    m1 = simsearch.kmeans_lloyd(emb, k=3, iters=2, seed=11)
    m2 = simsearch.kmeans_lloyd(
        emb.repartition(7, "vec_id"), k=3, iters=2, seed=11
    )
    assert m1["centroids"] == m2["centroids"]


def test_cluster_sizes_lloyd_partitions_corpus(spark, sf_dir):
    """Every vector lands in exactly one cluster; inertia is
    non-negative and finite."""
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = simsearch.kmeans_lloyd(emb, k=4, iters=2, seed=7)
    rows = simsearch.cluster_sizes_lloyd(emb, model["centroids"]).collect()
    assert sum(r["n"] for r in rows) == emb.count()
    assert all(
        r["inertia"] >= 0 and math.isfinite(r["inertia"]) for r in rows
    )


def test_diverse_sample_caps_clusters_and_is_deterministic(spark, sf_dir):
    """Per-cluster cap respected (min(n, cluster size) rows each), the
    sample is a subset of the corpus, and repartitioning the corpus
    changes nothing (md5 reservoir + literal-expression assignment)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = simsearch.kmeans_lloyd(emb, k=4, iters=2, seed=7)
    sizes = {
        r["cluster"]: r["n"]
        for r in simsearch.cluster_sizes_lloyd(
            emb, model["centroids"]
        ).collect()
    }
    n = 25
    s1 = simsearch.diverse_sample_by_cluster(emb, model["centroids"], n)
    got = {
        r["cluster"]: r["cnt"]
        for r in s1.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == {c: min(n, sz) for c, sz in sizes.items()}
    ids1 = sorted(r["vec_id"] for r in s1.select("vec_id").collect())
    s2 = simsearch.diverse_sample_by_cluster(
        emb.repartition(13, "vec_id"), model["centroids"], n
    )
    assert ids1 == sorted(r["vec_id"] for r in s2.select("vec_id").collect())
    corpus_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert set(ids1) <= corpus_ids


def test_rank_bounded_matches_sorted_order(spark):
    from etl_hero_spark.simsearch import rank_bounded

    df = spark.createDataFrame(
        [(1, 0.9), (2, 0.7), (3, 0.9), (4, 0.1)], "id long, score double"
    )
    got = {
        r["id"]: r["rank"]
        for r in rank_bounded(df, "score", "id").collect()
    }
    # (score DESC, id ASC): 1 -> 1, 3 -> 2, 2 -> 3, 4 -> 4
    assert got == {1: 1, 3: 2, 2: 3, 4: 4}


def test_rank_bounded_null_scores_rank_last(spark):
    """A NULL score must sort BELOW every real score — without the
    -inf coalesce the 'better' predicate null-propagates and a
    NULL-score row silently ties with the true top item at rank 1."""
    from etl_hero_spark.simsearch import rank_bounded

    df = spark.createDataFrame(
        [(1, 0.9), (2, None), (3, 0.1), (4, None)],
        "id long, score double",
    )
    got = {
        r["id"]: r["rank"]
        for r in rank_bounded(df, "score", "id").collect()
    }
    # reals first by score desc, then NULLs by id asc
    assert got == {1: 1, 3: 2, 2: 3, 4: 4}


def test_rrf_fuse_matches_python_reference(spark):
    from etl_hero_spark.simsearch import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "id long, rank int"
    )
    den = spark.createDataFrame(
        [(12, 1), (13, 2), (10, 3)], "id long, rank int"
    )
    got = {
        r["id"]: (r["rrf_score"], r["n_lists"], r["lex_rank"], r["dense_rank"])
        for r in rrf_fuse(lex, den, k=10).collect()
    }
    K = 60.0
    want_scores = {
        10: round(1 / (K + 1) + 1 / (K + 3), 6),
        11: round(1 / (K + 2), 6),
        12: round(1 / (K + 3) + 1 / (K + 1), 6),
        13: round(1 / (K + 2), 6),
    }
    assert {k: v[0] for k, v in got.items()} == want_scores
    assert got[10][1] == 2 and got[11][1] == 1
    assert got[10][2] == 1 and got[10][3] == 3
    assert got[13][2] is None and got[13][3] == 2


def test_registered_hybrid_query_properties(spark, sf_dir):
    """Fused top-10: every hit appears in at least one source list;
    docs in BOTH lists outrank equal-rank single-list docs."""
    from etl_hero_spark.registry import all_queries

    rows = all_queries()["sim_hybrid_rrf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    assert rows == sorted(
        rows, key=lambda r: (-r["rrf_score"], r["doc_id"])
    )
    for r in rows:
        assert r["lex_rank"] is not None or r["dense_rank"] is not None
        if r["n_lists"] == 2:
            assert r["lex_rank"] is not None and r["dense_rank"] is not None
    # the dense query vector is vec_id 7's own embedding -> doc 7 is
    # dense rank 1 and must surface in the fused list
    assert any(r["doc_id"] == 7 and r["dense_rank"] == 1 for r in rows)


def test_sq8_full_rerank_equals_brute_force(spark, sf_dir):
    """Rerank over (virtually) the whole corpus must reproduce the
    exact brute-force top-k bit-for-bit — the PQ posture."""
    from etl_hero_spark.simsearch import topk_cosine, topk_cosine_sq8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sorted(
        map(tuple, topk_cosine(emb, queries, k=5).collect())
    )
    sq8 = sorted(
        map(
            tuple,
            topk_cosine_sq8(
                emb, queries, k=5, rerank_factor=10**6
            ).collect(),
        )
    )
    assert sq8 == exact and len(exact) == 15


def test_sq8_recall_measured_at_default_rerank(spark, sf_dir):
    """Measured (not assumed) recall@5 of the int8 rung at the default
    rerank budget — int8 with exact rerank should be near-exact."""
    from etl_hero_spark.simsearch import topk_cosine, topk_cosine_sq8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in topk_cosine(emb, queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["corpus_id"])
        for r in topk_cosine_sq8(emb, queries, k=5).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, recall


def test_sq8_zero_vector_and_empty_queries(spark):
    from etl_hero_spark.simsearch import topk_cosine_sq8

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 2.0]),
            (2, [0.0, 0.0, 0.0]),  # zero vector: no cosine, excluded
            (3, [1.0, 0.1, 2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = topk_cosine_sq8(emb, q, k=3).collect()
    assert [r["corpus_id"] for r in got] == [1, 3]
    import pytest

    with pytest.raises(ValueError, match="empty"):
        topk_cosine_sq8(emb, q.filter(F.lit(False)), k=3)
    # a zero-norm QUERY fails loudly (mirrors the corpus-side guard) —
    # silently reranking against a zero vector would return arbitrary
    # candidates
    zq = emb.filter(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="zero norm"):
        topk_cosine_sq8(emb, zq, k=3)


def test_ivfpq_indexed_rejects_empty_queries(spark, queries, ivfpq_path):
    """Both IVF-PQ searches share the SQ8 rule: an empty query set
    raises instead of returning an empty frame."""
    with pytest.raises(ValueError, match="empty"):
        simsearch.topk_cosine_ivfpq_indexed(
            spark, queries.filter(F.lit(False)), ivfpq_path, k=3
        )


def test_sq8_codes_within_int8_range(spark):
    """sq_scale derives from the QUANTIZED cv, so codes are guaranteed
    in [-127, 127] — persisting them as tinyint cannot overflow. The
    regression case: a raw max like 0.10049 quantizes (3dp) to 0.1 but
    a raw 0.1004 also quantizes to 0.1; with scale from the RAW max a
    coordinate could round above 127."""
    from etl_hero_spark.simsearch import sq8_encode

    emb = spark.createDataFrame(
        [(1, [0.1004999, 0.1004, -0.0001]), (2, [5.0, -5.0, 2.5])],
        "vec_id long, embedding array<float>",
    )
    rows = sq8_encode(emb).collect()
    for r in rows:
        assert all(-127 <= c <= 127 for c in r["sq_codes"]), r


def test_sq8_persisted_index_round_trip(spark, sf_dir, tmp_path):
    """A read-back SQ8 index must answer identically to the in-session
    encode — persistence is sound because the encode is a pure
    function of (vector, quantize)."""
    from etl_hero_spark.simsearch import (
        read_sq8_index,
        topk_cosine_sq8,
        write_sq8_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    p = str(tmp_path / "sq8idx")
    write_sq8_index(emb, p)
    via_index = sorted(
        map(
            tuple,
            topk_cosine_sq8(
                emb, queries, k=5, encoded=read_sq8_index(spark, p)
            ).collect(),
        )
    )
    direct = sorted(
        map(tuple, topk_cosine_sq8(emb, queries, k=5).collect())
    )
    assert via_index == direct and len(direct) == 15


# ---------------------------------------------------------------------------
# IVF-SQ8 combined index (r7)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivfsq8_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ann") / "ivfsq8")
    simsearch.write_ivfsq8_index(emb, path, n_centroids=8)
    return path


def test_ivfsq8_full_probe_full_rerank_equals_bruteforce(
    spark, emb, queries, ivfsq8_path
):
    n = emb.count()
    exact = sorted(
        map(tuple, simsearch.topk_cosine(emb, queries, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            simsearch.topk_cosine_ivfsq8_indexed(
                spark, queries, ivfsq8_path, k=5, nprobe=8,
                rerank_factor=n,
            ).collect(),
        )
    )
    assert got == exact


def test_ivfsq8_partial_probe_recall_and_pruning(
    spark, emb, queries, ivfsq8_path
):
    """Partial probe keeps useful recall AND provably prunes the codes
    scan to the probed list partitions (static PartitionFilters)."""
    exact = simsearch.topk_cosine(emb, queries, k=5).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["corpus_id"])
    got = simsearch.topk_cosine_ivfsq8_indexed(
        spark, queries, ivfsq8_path, k=5, nprobe=4, rerank_factor=8
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["corpus_id"])
        if r["rank"] == 1:
            assert r["corpus_id"] == r["query_id"]  # self-hit survives
    recalls = [
        len(by_q.get(q, set()) & hits) / len(hits)
        for q, hits in truth.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls
    # pruning: a single-list filter lands in PartitionFilters
    filtered = spark.read.parquet(f"{ivfsq8_path}/codes").filter(
        F.col("list_id").isin([0])
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pf = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "list_id" in pf and "IN" in pf.upper()
    assert 0 < filtered.count() < spark.read.parquet(
        f"{ivfsq8_path}/codes"
    ).count()


def test_ivfsq8_zero_query_fails_loudly(spark, emb, ivfsq8_path):
    zq = spark.createDataFrame(
        [(0, [0.0] * len(emb.first()["embedding"]))],
        "query_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="zero norm"):
        simsearch.topk_cosine_ivfsq8_indexed(
            spark, zq, ivfsq8_path, k=3
        )


# ---------------------------------------------------------------------------
# residual IVF-PQ (r7 — the upgrade path the plain writer documents)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """A corpus with REAL coarse structure: 4 well-separated cluster
    centers plus small deterministic offsets — the regime where
    residual coding must beat raw-vector coding (within-cluster
    variance << between-cluster variance)."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16)) * 10.0
    rows = []
    for i in range(400):
        c = i % 4
        v = centers[c] + rng.normal(size=16) * 0.3
        rows.append((i, [float(x) for x in np.round(v, 3)]))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_ivfpq_residual_full_probe_equals_bruteforce(
    spark, clustered_emb, tmp_path_factory
):
    path = str(tmp_path_factory.mktemp("ann") / "ivfpq_res")
    simsearch.write_ivfpq_residual_index(
        clustered_emb, path, n_centroids=4, m=4, k_sub=8
    )
    queries = clustered_emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = clustered_emb.count()
    exact = sorted(
        map(
            tuple,
            simsearch.topk_cosine(clustered_emb, queries, k=5).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            simsearch.topk_cosine_ivfpq_residual_indexed(
                spark, queries, path, k=5, nprobe=4, rerank_factor=n
            ).collect(),
        )
    )
    assert got == exact


def test_ivfpq_residual_beats_plain_reconstruction(
    spark, clustered_emb, tmp_path_factory
):
    """On clustered data the residual codebooks reconstruct strictly
    better than raw-vector codebooks at the SAME bit budget — the
    entire point of the classical IVF-ADC form."""
    import numpy as np

    # MORE clusters than k_sub codes can cover per subspace: plain PQ
    # must spend its 4 codes describing 16 coarse centers and fails;
    # residual PQ only describes the 0.3-scale within-cluster noise
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 16)) * 10.0
    rows16 = []
    for i in range(480):
        v = centers[i % 16] + rng.normal(size=16) * 0.3
        rows16.append((i, [float(x) for x in np.round(v, 3)]))
    emb16 = clustered_emb.sparkSession.createDataFrame(
        rows16, "vec_id bigint, embedding array<double>"
    )
    path = str(tmp_path_factory.mktemp("ann") / "ivfpq_res2")
    cents, res_books = simsearch.write_ivfpq_residual_index(
        emb16, path, n_centroids=16, m=4, k_sub=4
    )
    plain_books = simsearch.train_pq_codebooks(emb16, m=4, k_sub=4)
    cents = np.asarray(cents)
    rows = emb16.select("vec_id", "embedding").collect()
    x = np.asarray(
        [np.round(np.asarray(r["embedding"]), 3) for r in rows]
    )

    def decode(v, books):
        sub = len(books[0][0])
        out = []
        for j, book in enumerate(books):
            b = np.asarray(book)
            seg = v[j * sub : (j + 1) * sub]
            d2 = ((b - seg) ** 2).sum(axis=1)
            out.append(b[int(d2.argmin())])
        return np.concatenate(out)

    err_plain, err_res = 0.0, 0.0
    for v in x:
        d2 = ((cents - v) ** 2).sum(axis=1)
        c = cents[int(d2.argmin())]
        err_plain += float(((v - decode(v, plain_books)) ** 2).sum())
        err_res += float(
            ((v - (c + decode(v - c, res_books))) ** 2).sum()
        )
    # strictly better, by a wide margin on strongly clustered data
    assert err_res < 0.5 * err_plain, (err_res, err_plain)


# ---------------------------------------------------------------------------
# incremental index maintenance: append a batch under the frozen model
# ---------------------------------------------------------------------------


def _split_corpus(emb):
    """Deterministic 3:1 split: the index builds on A, B arrives later."""
    a = emb.filter(F.col("vec_id") % 4 != 0)
    b = emb.filter(F.col("vec_id") % 4 == 0)
    return a, b


def test_append_ivf_batch_equals_rebuild(spark, emb, queries, tmp_path):
    """Probe over (index built on A) + append(B) == probe over an index
    built on A ∪ B under the SAME frozen centroids — the batch pays one
    assignment pass, the corpus is never rescanned."""
    from etl_hero_spark.simsearch import (
        append_ivf_batch,
        topk_cosine_ivf_indexed,
        write_ivf_index,
    )

    a, b = _split_corpus(emb)
    inc = str(tmp_path / "ivf_inc")
    cents = write_ivf_index(a, inc, n_centroids=8)
    append_ivf_batch(b, inc)
    full = str(tmp_path / "ivf_full")
    write_ivf_index(emb, full, centroids=cents)
    got = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, inc, k=5, nprobe=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, full, k=5, nprobe=3
        ).collect()
    }
    assert got == want and got
    # the appended rows genuinely landed (B members findable)
    n_inc = spark.read.parquet(f"{inc}/lists").count()
    assert n_inc == emb.count()


def test_append_sq8_batch_equals_rebuild(spark, emb, queries, tmp_path):
    from etl_hero_spark.simsearch import (
        append_sq8_batch,
        read_sq8_index,
        topk_cosine_sq8,
        write_sq8_index,
    )

    a, b = _split_corpus(emb)
    inc = str(tmp_path / "sq8_inc")
    write_sq8_index(a, inc)
    append_sq8_batch(b, inc)
    full = str(tmp_path / "sq8_full")
    write_sq8_index(emb, full)
    got = {
        tuple(r)
        for r in topk_cosine_sq8(
            emb, queries, k=5, encoded=read_sq8_index(spark, inc)
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_sq8(
            emb, queries, k=5, encoded=read_sq8_index(spark, full)
        ).collect()
    }
    assert got == want and got


def test_append_ivfsq8_batch_equals_rebuild(spark, emb, queries, tmp_path):
    from etl_hero_spark.simsearch import (
        append_ivfsq8_batch,
        topk_cosine_ivfsq8_indexed,
        write_ivfsq8_index,
    )

    a, b = _split_corpus(emb)
    inc = str(tmp_path / "ivfsq8_inc")
    cents = write_ivfsq8_index(a, inc, n_centroids=8)
    append_ivfsq8_batch(b, inc)
    full = str(tmp_path / "ivfsq8_full")
    write_ivfsq8_index(emb, full, centroids=cents)
    got = {
        tuple(r)
        for r in topk_cosine_ivfsq8_indexed(
            spark, queries, inc, k=5, nprobe=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_ivfsq8_indexed(
            spark, queries, full, k=5, nprobe=3
        ).collect()
    }
    assert got == want and got


def test_append_ivfpq_batch_equals_rebuild(spark, emb, queries, tmp_path):
    from etl_hero_spark.simsearch import (
        append_ivfpq_batch,
        topk_cosine_ivfpq_indexed,
        write_ivfpq_index,
    )

    a, b = _split_corpus(emb)
    inc = str(tmp_path / "ivfpq_inc")
    cents, books = write_ivfpq_index(a, inc, n_centroids=4, m=4, k_sub=8)
    append_ivfpq_batch(b, inc)
    full = str(tmp_path / "ivfpq_full")
    write_ivfpq_index(
        emb, full, n_centroids=4, m=4, k_sub=8,
        centroids=cents, codebooks=books,
    )
    got = {
        tuple(r)
        for r in topk_cosine_ivfpq_indexed(
            spark, queries, inc, k=5, nprobe=2
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_ivfpq_indexed(
            spark, queries, full, k=5, nprobe=2
        ).collect()
    }
    assert got == want and got


def test_append_ivfpq_residual_batch_equals_rebuild(
    spark, clustered_emb, tmp_path
):
    from etl_hero_spark.simsearch import (
        append_ivfpq_residual_batch,
        topk_cosine_ivfpq_residual_indexed,
        write_ivfpq_residual_index,
    )

    a, b = _split_corpus(clustered_emb)
    inc = str(tmp_path / "ivfpqr_inc")
    cents, books = write_ivfpq_residual_index(
        a, inc, n_centroids=4, m=4, k_sub=8
    )
    append_ivfpq_residual_batch(b, inc)
    full = str(tmp_path / "ivfpqr_full")
    write_ivfpq_residual_index(
        clustered_emb, full, n_centroids=4, m=4, k_sub=8,
        centroids=cents, codebooks=books,
    )
    qs = clustered_emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        tuple(r)
        for r in topk_cosine_ivfpq_residual_indexed(
            spark, qs, inc, k=5, nprobe=2
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_ivfpq_residual_indexed(
            spark, qs, full, k=5, nprobe=2
        ).collect()
    }
    assert got == want and got

def test_index_meta_sidecar_written_and_read(spark, emb, tmp_path):
    """ADVICE r8: every writer persists the encode-time identity
    (kind, quantize, adc_dp) the table layouts themselves don't
    record; read_index_meta round-trips it, and a missing sidecar
    (pre-sidecar index) reads as None."""
    from etl_hero_spark.simsearch import (
        read_index_meta,
        write_ivf_index,
        write_ivfpq_index,
        write_sq8_index,
    )

    ivf = str(tmp_path / "m_ivf")
    write_ivf_index(emb, ivf, n_centroids=4, quantize=3)
    assert read_index_meta(spark, ivf) == {
        "kind": "ivf", "quantize": 3, "adc_dp": None,
    }
    sq8 = str(tmp_path / "m_sq8")
    write_sq8_index(emb, sq8, quantize=2)
    assert read_index_meta(spark, sq8, flat=True) == {
        "kind": "sq8", "quantize": 2, "adc_dp": None,
    }
    # the flat sidecar is a SIBLING — the data dir itself stays a
    # plain readable parquet directory
    assert spark.read.parquet(sq8).count() == emb.count()
    pq = str(tmp_path / "m_ivfpq")
    write_ivfpq_index(
        emb, pq, n_centroids=4, m=4, k_sub=8, quantize=3, adc_dp=4
    )
    assert read_index_meta(spark, pq) == {
        "kind": "ivfpq", "quantize": 3, "adc_dp": 4,
    }
    # no sidecar at an arbitrary path -> None (back-compat contract)
    assert read_index_meta(spark, str(tmp_path / "nothing")) is None


def test_append_sq8_quantize_mismatch_raises(spark, emb, tmp_path):
    """ADVICE r8: appending with a different quantize than the build
    must fail LOUDLY instead of silently mixing rows reranked on a
    different grid."""
    import pytest

    from etl_hero_spark.simsearch import append_sq8_batch, write_sq8_index

    a, b = _split_corpus(emb)
    path = str(tmp_path / "sq8_mismatch")
    write_sq8_index(a, path, quantize=3)
    with pytest.raises(ValueError, match="quantize mismatch"):
        append_sq8_batch(b, path, quantize=2)
    with pytest.raises(ValueError, match="quantize mismatch"):
        append_sq8_batch(b, path, quantize=None)
    # matching quantize still appends
    append_sq8_batch(b, path, quantize=3)
    assert spark.read.parquet(path).count() == emb.count()


def test_append_ivfpq_adc_dp_mismatch_raises(spark, emb, tmp_path):
    """ADVICE r8: adc_dp is encode-time identity — a mismatched append
    raises; appending to an index of a DIFFERENT KIND raises too."""
    import pytest

    from etl_hero_spark.simsearch import (
        append_ivf_batch,
        append_ivfpq_batch,
        write_ivfpq_index,
    )

    a, b = _split_corpus(emb)
    path = str(tmp_path / "ivfpq_mismatch")
    write_ivfpq_index(a, path, n_centroids=4, m=4, k_sub=8, adc_dp=4)
    with pytest.raises(ValueError, match="adc_dp mismatch"):
        append_ivfpq_batch(b, path, adc_dp=None)
    with pytest.raises(ValueError, match="adc_dp mismatch"):
        append_ivfpq_batch(b, path, adc_dp=6)
    # wrong-kind append against the same path is equally loud
    with pytest.raises(ValueError, match="kind"):
        append_ivf_batch(b, path)
    # the matching append works
    append_ivfpq_batch(b, path, adc_dp=4)
    assert (
        spark.read.parquet(f"{path}/codes").count() == emb.count()
    )


def test_append_with_preread_model_equals_per_call_read(
    spark, emb, queries, tmp_path
):
    """VERDICT r8 #6: a steady-state append loop reads the bounded
    model ONCE (read_index_model) and threads it through model= —
    probe results are identical to the per-call-read form."""
    from etl_hero_spark.simsearch import (
        append_ivf_batch,
        read_index_model,
        topk_cosine_ivf_indexed,
        write_ivf_index,
    )

    a, b = _split_corpus(emb)
    memo = str(tmp_path / "ivf_memo")
    plain = str(tmp_path / "ivf_plain")
    cents = write_ivf_index(a, memo, n_centroids=8)
    write_ivf_index(a, plain, centroids=cents)
    model = read_index_model(spark, memo)
    # two batches through the memoized-model path
    b1 = b.filter(F.col("vec_id") % 2 == 0)
    b2 = b.filter(F.col("vec_id") % 2 == 1)
    append_ivf_batch(b1, memo, model=model)
    append_ivf_batch(b2, memo, model=model)
    append_ivf_batch(b, plain)
    got = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, memo, k=5, nprobe=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, plain, k=5, nprobe=3
        ).collect()
    }
    assert got == want and got


def test_append_empty_batch_is_a_noop(spark, emb, queries, tmp_path):
    """ADVICE-surface edge (r9): appending an EMPTY batch must leave
    the index byte-equivalent for probes — no crash, no phantom
    partitions."""
    from etl_hero_spark.simsearch import (
        append_ivf_batch,
        append_sq8_batch,
        topk_cosine_ivf_indexed,
        write_ivf_index,
        write_sq8_index,
    )

    path = str(tmp_path / "ivf_empty")
    write_ivf_index(emb, path, n_centroids=4)
    before = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, path, k=5, nprobe=2
        ).collect()
    }
    append_ivf_batch(emb.filter(F.col("vec_id") < 0), path)
    after = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, path, k=5, nprobe=2
        ).collect()
    }
    assert before == after and before
    # flat SQ8 layout too
    sq8 = str(tmp_path / "sq8_empty")
    write_sq8_index(emb, sq8)
    n0 = spark.read.parquet(sq8).count()
    append_sq8_batch(emb.filter(F.col("vec_id") < 0), sq8)
    assert spark.read.parquet(sq8).count() == n0 == emb.count()
    # and the two-select IVF-SQ8 append (its dim probe must not crash)
    from etl_hero_spark.simsearch import (
        append_ivfsq8_batch,
        write_ivfsq8_index,
    )

    ivfsq8 = str(tmp_path / "ivfsq8_empty")
    cents = write_ivfsq8_index(emb, ivfsq8, n_centroids=4)
    m0 = spark.read.parquet(f"{ivfsq8}/codes").count()
    append_ivfsq8_batch(emb.filter(F.col("vec_id") < 0), ivfsq8)
    assert spark.read.parquet(f"{ivfsq8}/codes").count() == m0
    # an EMPTY CORPUS under a given model writes for every layout (the
    # shared encoders take the empty-frame path the appends take), and
    # the IVF-SQ8 index it leaves grows by append into the full build
    none = emb.filter(F.col("vec_id") < 0)
    books = simsearch.train_pq_codebooks(emb, m=4, k_sub=4)
    simsearch.write_ivf_index(none, str(tmp_path / "e_ivf"), centroids=cents)
    simsearch.write_ivfpq_index(
        none, str(tmp_path / "e_ivfpq"), centroids=cents, codebooks=books
    )
    simsearch.write_ivfpq_residual_index(
        none, str(tmp_path / "e_res"), centroids=cents, codebooks=books
    )
    grown = str(tmp_path / "e_ivfsq8")
    write_ivfsq8_index(none, grown, centroids=cents)
    # each empty layout searches to an empty result with the usual columns
    for search, p in (
        (topk_cosine_ivf_indexed, "e_ivf"),
        (simsearch.topk_cosine_ivfpq_indexed, "e_ivfpq"),
        (simsearch.topk_cosine_ivfpq_residual_indexed, "e_res"),
        (simsearch.topk_cosine_ivfsq8_indexed, "e_ivfsq8"),
    ):
        found = search(spark, queries, str(tmp_path / p), k=5, nprobe=2)
        assert found.columns == ["query_id", "corpus_id", "score", "rank"]
        assert found.collect() == [], p
    append_ivfsq8_batch(emb, grown)

    def probe(p):
        return {
            tuple(r)
            for r in simsearch.topk_cosine_ivfsq8_indexed(
                spark, queries, p, k=5, nprobe=2
            ).collect()
        }

    want = probe(ivfsq8)
    assert probe(grown) == want and want


def test_read_index_meta_corrupt_sidecar_raises(spark, emb, tmp_path):
    """ADVICE r9: a CORRUPT (not missing) meta sidecar must propagate,
    not read as None — None silently disables the append identity
    validation the sidecar exists to provide. Only a genuinely
    missing path means 'pre-sidecar index'."""
    import os

    import pytest

    from etl_hero_spark.simsearch import read_index_meta, write_ivf_index

    path = str(tmp_path / "corrupt_meta")
    write_ivf_index(emb, path, n_centroids=4, quantize=3)
    assert read_index_meta(spark, path)["kind"] == "ivf"
    # trash the sidecar: replace its parquet files with garbage bytes
    meta_dir = f"{path}/meta"
    for f in os.listdir(meta_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(meta_dir, f), "wb") as fh:
                fh.write(b"this is not parquet at all \x00\x01\x02")
    with pytest.raises(Exception):
        read_index_meta(spark, path)
    # missing path still reads as None (back-compat contract intact)
    assert read_index_meta(spark, str(tmp_path / "absent")) is None


def test_persisted_layouts_are_pinned(spark, tmp_path):
    """The on-disk layout of every persisted index kind: each sub-table's
    parquet columns and types, the list_id partitioning of the probed
    tables, the flat SQ8 directory with its sibling sidecar, and the
    meta row. Indexes written by one version must stay readable and
    appendable by the next."""
    import os

    import pyarrow.parquet as pq

    corpus = spark.createDataFrame(
        [(i, [((i * 7 + j * 3) % 11 - 5) / 4.0 for j in range(4)]) for i in range(16)],
        "vec_id bigint, embedding array<double>",
    )
    d = str(tmp_path)
    simsearch.write_ivf_index(corpus, f"{d}/ivf", n_centroids=2)
    simsearch.write_sq8_index(corpus, f"{d}/sq8")
    simsearch.write_ivfsq8_index(corpus, f"{d}/ivfsq8", n_centroids=2)
    simsearch.write_ivfpq_index(
        corpus, f"{d}/ivfpq", n_centroids=2, m=2, k_sub=2, adc_dp=4
    )
    simsearch.write_ivfpq_residual_index(
        corpus, f"{d}/res", n_centroids=2, m=2, k_sub=2
    )
    simsearch.write_pq_index(corpus, f"{d}/pq", m=2, k_sub=2)

    def columns(table, partitioned=False):
        entries = [e for e in os.listdir(table) if not e.startswith((".", "_"))]
        if partitioned:
            assert entries and all(e.startswith("list_id=") for e in entries)
            assert sorted(int(e.split("=")[1]) for e in entries) == [0, 1]
            table = os.path.join(table, entries[0])
            entries = [e for e in os.listdir(table) if not e.startswith((".", "_"))]
        assert entries and all(e.endswith(".parquet") for e in entries)
        schema = pq.read_schema(os.path.join(table, entries[0]))
        return {f.name: str(f.type) for f in schema}

    def meta(table):
        return pq.read_table(table).to_pylist()

    vec = "list<element: double>"
    codes = "list<element: int32>"
    cents = {"list_id": "int32", "centroid": vec, "quantize": "int32"}
    books = {"subspace": "int32", "code": "int32", "centroid": vec}
    sq8 = {
        "corpus_id": "int64",
        "cv": vec,
        "sq_scale": "double",
        "sq_codes": codes,
        "cnorm": "double",
    }
    pq_codes = {"corpus_id": "int64", "codes": codes, "cnorm": "double", "cv": vec}

    assert columns(f"{d}/ivf/centroids") == cents
    assert columns(f"{d}/ivf/lists", True) == {"corpus_id": "int64", "cv": vec}
    assert meta(f"{d}/ivf/meta") == [{"kind": "ivf", "quantize": 3, "adc_dp": -1}]

    assert columns(f"{d}/sq8") == sq8
    assert meta(f"{d}/sq8_meta") == [{"kind": "sq8", "quantize": 3, "adc_dp": -1}]

    assert columns(f"{d}/ivfsq8/centroids") == cents
    assert columns(f"{d}/ivfsq8/codes", True) == sq8
    assert meta(f"{d}/ivfsq8/meta") == [
        {"kind": "ivfsq8", "quantize": 3, "adc_dp": -1}
    ]

    for kind, path, adc_dp in (("ivfpq", "ivfpq", 4), ("ivfpq_residual", "res", -1)):
        assert columns(f"{d}/{path}/centroids") == cents
        assert columns(f"{d}/{path}/codebooks") == books
        assert columns(f"{d}/{path}/codes", True) == pq_codes
        assert meta(f"{d}/{path}/meta") == [
            {"kind": kind, "quantize": 3, "adc_dp": adc_dp}
        ]

    assert columns(f"{d}/pq/codebooks") == {**books, "quantize": "int32"}
    assert columns(f"{d}/pq/codes") == pq_codes
    assert sorted(os.listdir(f"{d}/pq")) == ["codebooks", "codes"]
