"""Self-tests of the benchmark harness: BENCHMARK.json agrees with the
metric names the code emits, the result line has the contracted schema,
and the seeded generators and ground-truth bookkeeping are exact. No
Spark session is started.

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, parse_event_log, stream_stats  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_benchmark_json_keys_and_limits():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["command"] == ["python3", "perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    assert isinstance(BENCH["run_seconds"], int) and 1 <= BENCH["run_seconds"] <= 60
    assert 2 <= len(BENCH["workloads"]) <= 8
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]] + [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert os.path.getsize(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) <= 64 * 1024


def test_declared_workloads_exist():
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)


def test_end_to_end_metrics_match_code():
    declared = {m["name"]: m for m in BENCH["end_to_end"]}
    assert {k: m["unit"] for k, m in declared.items()} == run.END_TO_END
    for m in declared.values():
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] == "lower" and 0 < m["bound"] <= 0.25
    assert declared["setup_s"]["bound"] == max(m["bound"] for m in declared.values())


def test_per_layer_metrics_match_code():
    declared = {m["name"]: m for m in BENCH["per_layer"]}
    assert {k: m["unit"] for k, m in declared.items()} == run.PER_LAYER
    for m in declared.values():
        assert set(m) == {"name", "unit", "better"} and m["better"] in ("higher", "lower")
    for layer in run.LAYERS:
        for stat in ("calls", "busy_s", "self_s", "build_s", "jobs"):
            assert f"{layer}.{stat}" in declared


def _passes(n: int, traced: bool = False) -> list[dict]:
    return [
        {
            "pass": i,
            "traced": traced and i % 2 == 1,
            "pass_s": 1.0 + i,
            "jobs": 7,
            "job_window": (7 * i, 7 * i + 7),
            "steps": [0.1, 0.2, 0.3],
            "write_amp": 0.9,
            "cpu_s": 2.0,
        }
        for i in range(n)
    ]


def test_end_to_end_result_schema():
    metrics = run.end_to_end_metrics(_passes(3), [0.5, 0.4, 6.0])
    assert set(metrics) == set(run.END_TO_END)
    for name, m in metrics.items():
        assert set(m) == {"value", "unit"} and m["unit"] == run.END_TO_END[name]
        assert isinstance(m["value"], float) and m["value"] > 0
    assert metrics["setup_s"]["value"] == 0.5
    assert metrics["pass_s"]["value"] == 2.0
    assert metrics["spark_jobs"]["value"] == 7.0


def test_layer_result_schema(tmp_path):
    passes = _passes(4, traced=True)
    for p in passes:
        if p["traced"]:
            p["layers"] = {}
    app_id = "local-1"
    (tmp_path / app_id).write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                {"Event": "SparkListenerJobStart", "Job ID": 7, "Stage IDs": [0]},
                {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
                {
                    "Event": "SparkListenerTaskEnd",
                    "Stage ID": 0,
                    "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 250},
                },
            ]
        )
    )
    metrics = run.layer_metrics(passes, str(tmp_path), app_id, 1200.0)
    assert set(metrics) == set(run.PER_LAYER)
    assert metrics["spark.task_s"]["value"] == pytest.approx(0.75)  # median of 1.5 and 0
    assert metrics["trace.overhead_s"]["value"] == pytest.approx(1.0)
    assert metrics["spark.peak_rss_mb"]["value"] == 1200.0


def test_event_log_attributes_tasks_to_passes(tmp_path):
    log = tmp_path / "log"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [5, 6]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 5}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 6,
            "Task Metrics": {
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 2**20},
                "Shuffle Read Metrics": {"Remote Bytes Read": 2**20, "Local Bytes Read": 2**20},
                "Memory Bytes Spilled": 2**20,
            },
        },
    ]
    log.write_text("\n".join(json.dumps(e) for e in events))
    out = parse_event_log(str(log), {0: (0, 3), 1: (3, 4)})
    assert out[0]["tasks"] == 0
    assert out[1] == {
        "stages": 1, "tasks": 1, "shuffle_write_mb": 2.0, "shuffle_read_mb": 2.0,
        "spill_mb": 1.0, "gc_s": 0.0, "task_s": 0.0,
    }


def test_self_time_subtracts_overlapping_children():
    parent = Span(0, "pipeline.current", "pipeline", 0, None, 0.0, end=10.0, jobs=5)
    parent.children = [
        Span(1, "clean.impute", "clean", 0, 0, 1.0, end=4.0, jobs=2),
        Span(2, "clean.impute", "clean", 0, 0, 3.0, end=5.0, jobs=1),
    ]
    assert parent.self_time() == pytest.approx(6.0)
    assert parent.self_jobs() == 2


def test_stream_stats_keeps_last_state_per_query():
    progress = [("q1", 0, 100, 10), ("q1", 1, 50, 12), ("q2", 0, 30, 4)]
    assert stream_stats(progress) == {
        "streaming.batches": 3.0, "streaming.batch_ms": 60.0, "streaming.state_rows": 16.0,
    }


def test_percentile():
    assert run.percentile([3.0], 90) == 3.0
    assert run.percentile([float(i) for i in range(11)], 90) == pytest.approx(9.0)


def test_table_generator_is_seeded_and_counts_are_exact():
    a, counts = inputs.make_table(np.random.default_rng(5), 5000)
    b, _ = inputs.make_table(np.random.default_rng(5), 5000)
    assert a.equals(b)
    df = a.to_pandas()
    assert len(df) == 5000 + counts["duplicate_rows"]
    assert int(df.duplicated().sum()) == counts["duplicate_rows"]
    assert int(df["price"].isna().sum()) == counts["null_price"]
    assert int(df["quantity"].isna().sum()) == counts["null_quantity"]
    assert int(df["category"].isna().sum()) == counts["null_category"]
    assert int(df["date"].str.contains("/").sum()) == counts["malformed_dates"]
    price = df["price"].dropna()
    z = (price - price.mean()).abs() / price.std(ddof=0)
    assert int((z > 3).sum()) == counts["outliers"]


def test_corpus_truth():
    table, truth = inputs.make_corpus(np.random.default_rng(1), 500)
    texts = table.column("text").to_pylist()
    ids = table.column("doc_id").to_pylist()
    assert len(texts) == truth["docs"] == len(set(ids))
    assert len(truth["removed_ids"]) == truth["low_quality"] + truth["exact_copies"]
    by_id = dict(zip(ids, texts))
    for a, b in truth["near_dup_pairs"]:
        wa, wb = by_id[a].split(), by_id[b].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) <= 2
    kept = [t for i, t in by_id.items() if i not in truth["removed_ids"]]
    assert len(kept) == len(set(kept)) and all(len(t.split()) >= 50 for t in kept)


def test_embedding_queries_have_known_nearest():
    corpus, queries, nearest = inputs.make_embeddings(np.random.default_rng(2), 300, 8, 5)
    c = np.array(corpus.column("embedding").to_pylist())
    q = np.array(queries.column("embedding").to_pylist())
    cos = (q @ c.T) / np.linalg.norm(q, axis=1)[:, None] / np.linalg.norm(c, axis=1)[None, :]
    assert {i + 1: int(j) + 1 for i, j in enumerate(cos.argmax(axis=1))} == nearest


def test_expected_missions_follow_remediations():
    counts = inputs.table_defects(20_000)
    missions, score = workloads._expected_after(counts, workloads.REMEDIATIONS)
    assert missions == {("missing", "date"): counts["malformed_dates"]}
    assert score == 100.0
    missions, score = workloads._expected_after(counts, workloads.SESSION_CLICKS[:1])
    assert ("missing", "price") not in missions and ("outliers", "price") in missions
    assert score == 50.0 + 0.5 * counts["null_price"]
