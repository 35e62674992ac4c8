"""Streaming-extension tests: batch/stream equivalence, sessionization
semantics, JSON extraction."""

import pyspark.sql.functions as F
import pytest

from etl_hero_spark.registry import _events
from etl_hero_spark.streaming import (
    sessionize_batch,
    stream_tumbling_agg,
    tumbling_agg,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return _events(spark, sf_dir).cache()


def test_tumbling_covers_all_events(events):
    agg = tumbling_agg(events)
    assert agg.agg(F.sum("n_events")).first()[0] == events.count()


def test_stream_equals_batch(spark, sf_dir, events):
    """The same tumbling agg through readStream/writeStream must produce
    exactly the batch result (finite source, complete mode)."""
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_agg(events).collect()
    }
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in stream_tumbling_agg(spark, f"{sf_dir}/events.parquet").collect()
    }
    assert stream == batch


def test_sessionize_gap_semantics(spark):
    rows = [
        # user 1: two sessions (40-min gap)
        (1, 1, "2024-01-01 00:00:00", 1.0),
        (2, 1, "2024-01-01 00:10:00", 1.0),
        (3, 1, "2024-01-01 00:50:01", 1.0),
        # user 2: one session, boundary gap exactly 30:00 -> NOT a break
        (4, 2, "2024-01-01 00:00:00", 1.0),
        (5, 2, "2024-01-01 00:30:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, value double"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    out = sessionize_batch(df).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r)
    assert len(per_user[1]) == 2
    assert len(per_user[2]) == 1
    first = min(per_user[1], key=lambda r: r["session_no"])
    assert first["n_events"] == 2


def test_sessionize_counts_consistent(events):
    sess = sessionize_batch(events)
    assert sess.agg(F.sum("n_events")).first()[0] == events.count()
    # session numbering is dense per user starting at 1
    mx = sess.groupBy("user_id").agg(
        F.max("session_no").alias("mx"), F.count("*").alias("n")
    )
    assert mx.filter(F.col("mx") != F.col("n")).count() == 0


def test_json_props(spark):
    from etl_hero_spark.streaming import json_props_agg

    df = spark.createDataFrame(
        [
            (1, "a", '{"k": 5}'),
            (2, "a", '{"k": 7}'),
            (3, "a", "not json"),
            (4, "b", '{"other": 1}'),
        ],
        "event_id long, event_type string, props string",
    )
    got = {r["event_type"]: r for r in json_props_agg(df).collect()}
    assert got["a"]["sum_k"] == 12 and got["a"]["n_with_k"] == 2
    assert got["b"]["n_with_k"] == 0 and got["b"]["sum_k"] is None


def test_multimodal_decode_stub(spark):
    from etl_hero_spark.multimodal import decode_media_stub, with_media_column

    df = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in decode_media_stub(with_media_column(df)).collect()}
    assert out[1]["n_bytes"] == 5
    assert out[1]["content_md5"] == "5d41402abc4b2a76b9719d911017c592"
    assert out[1]["width"] == 5 + 64
    assert out[2]["n_bytes"] == 0


def test_multimodal_frame_sampling(spark):
    from etl_hero_spark.multimodal import sample_frames, with_media_column

    df = spark.createDataFrame([(1, "x" * 10000)], "doc_id long, text string")
    row = sample_frames(with_media_column(df), every_n_bytes=4096).first()
    assert len(row["frames"]) == 3  # offsets 1, 4097, 8193


def test_session_window_native_agrees_with_gaps_and_islands(events):
    """Two independent sessionization implementations (F.session_window
    vs lag/sum gaps-and-islands) must produce identical session sets."""
    from etl_hero_spark.streaming import session_agg_native

    native = sorted(
        map(
            tuple,
            session_agg_native(events)
            .select("user_id", "session_start", "session_end", "n_events", "sum_value")
            .collect(),
        )
    )
    gai = sorted(
        map(
            tuple,
            sessionize_batch(events)
            .select("user_id", "session_start", "session_end", "n_events", "sum_value")
            .collect(),
        )
    )
    assert native == gai


def test_stream_sessions_equal_closed_batch_sessions(spark, sf_dir, events):
    """Append-mode streaming emits exactly the sessions the watermark has
    closed (last event + gap <= max event time); in-flight tail sessions
    stay in state. Emitted set must equal the batch result restricted to
    closed sessions."""
    from etl_hero_spark.streaming import session_agg_native, stream_session_agg

    max_ts = events.agg(F.max("ts")).first()[0]
    cutoff = (max_ts - __import__("datetime").timedelta(minutes=30)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    batch_closed = sorted(
        map(
            tuple,
            session_agg_native(events)
            .filter(F.col("session_end") <= F.lit(cutoff))
            .collect(),
        )
    )
    stream = sorted(
        map(
            tuple,
            stream_session_agg(spark, f"{sf_dir}/events.parquet").collect(),
        )
    )
    assert stream == batch_closed


def test_stream_dedup_drops_doubled_events(spark, sf_dir, events):
    """The stream sees every event twice (doubled source); the watermarked
    dedup must emit each event exactly once == the batch distinct set."""
    from etl_hero_spark.streaming import stream_dedup

    out = stream_dedup(spark, f"{sf_dir}/events.parquet")
    assert out.count() == events.count()
    assert out.select("event_id").distinct().count() == events.count()


def test_stateful_gap_stats_stream_equals_batch(spark, sf_dir, events):
    """The applyInPandasWithState operator's final per-user state must
    equal the batch lag-window computation exactly."""
    from etl_hero_spark.streaming import stream_user_gap_stats, user_gap_stats_batch

    batch = sorted(map(tuple, user_gap_stats_batch(events).collect()))
    stream = sorted(
        map(tuple, stream_user_gap_stats(spark, f"{sf_dir}/events.parquet").collect())
    )
    assert stream == batch


def test_funnel_order_matters(spark):
    """A purchase BEFORE the click must not count as converted; equal
    timestamps do not advance the funnel (strictly-after semantics)."""
    from etl_hero_spark.streaming import funnel_counts

    rows = [
        # user 1: full ordered funnel
        (1, 1, "view", "2024-01-01 00:00:00"),
        (2, 1, "click", "2024-01-01 00:01:00"),
        (3, 1, "purchase", "2024-01-01 00:02:00"),
        # user 2: purchase precedes click -> stops at click
        (4, 2, "view", "2024-01-01 00:00:00"),
        (5, 2, "purchase", "2024-01-01 00:00:30"),
        (6, 2, "click", "2024-01-01 00:01:00"),
        # user 3: click at the SAME instant as view -> not strictly after
        (7, 3, "view", "2024-01-01 00:00:00"),
        (8, 3, "click", "2024-01-01 00:00:00"),
        # user 4: never views
        (9, 4, "click", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    row = funnel_counts(df, ["view", "click", "purchase"]).first()
    assert row["n_step1_view"] == 3  # users 1, 2, 3
    assert row["n_step2_click"] == 2  # users 1, 2 (user 3 tie fails)
    assert row["n_step3_purchase"] == 1  # user 1 only


def test_funnel_prefilters_step_types_and_bounds_hot_keys(spark):
    """Non-step events must be filtered BEFORE the per-key collect (bounded
    state under hot keys), visible in the plan; a dominant key with a flood
    of non-step events changes nothing, and the max_events_per_key cap
    keeps the result exact when completions happen early."""
    from etl_hero_spark.streaming import funnel_counts

    rows = [(1, 1, "view", "2024-01-01 00:00:00"),
            (2, 1, "click", "2024-01-01 00:01:00"),
            (3, 1, "purchase", "2024-01-01 00:02:00")]
    # user 2: completes the funnel in its first 3 events, then 500 noise
    # "scroll" events plus 50 late step-typed events (a bot tail)
    rows += [(10, 2, "view", "2024-01-01 00:00:00"),
             (11, 2, "click", "2024-01-01 00:00:10"),
             (12, 2, "purchase", "2024-01-01 00:00:20")]
    rows += [(100 + i, 2, "scroll", "2024-01-01 01:00:00") for i in range(500)]
    rows += [(700 + i, 2, "view", "2024-01-01 02:00:00") for i in range(50)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")

    out = funnel_counts(df, ["view", "click", "purchase"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the isin() step filter must sit below the aggregate
    assert "event_type" in plan and ("IN (" in plan or "INSET" in plan.upper())
    row = out.first()
    assert (row["n_step1_view"], row["n_step2_click"], row["n_step3_purchase"]) == (2, 2, 2)

    capped = funnel_counts(
        df, ["view", "click", "purchase"], max_events_per_key=10
    ).first()
    assert tuple(capped) == tuple(row)


def test_registered_funnel_query_has_cap_on_by_default(spark, sf_dir):
    """The REGISTERED events_funnel query must pass the hot-key cap
    (default-on at a value no fixture user reaches), visible in the plan
    as the row_number cap window under the fold aggregate."""
    from etl_hero_spark.registry_stream import q_events_funnel

    out = q_events_funnel(spark, sf_dir)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan and "100000" in plan
    # the fixture's counts are unaffected by the far-away cap
    from etl_hero_spark.registry_stream import _events
    from etl_hero_spark.streaming import funnel_counts

    uncapped = funnel_counts(
        _events(spark, sf_dir), ["view", "click", "purchase"]
    ).first()
    # registered entry is merged/tagged since r5: the part='funnel'
    # rows carry the step counts in key order
    got = {
        r["key"]: r["n"] for r in out.collect() if r["part"] == "funnel"
    }
    assert got == {
        "1_view": uncapped["n_step1_view"],
        "2_click": uncapped["n_step2_click"],
        "3_purchase": uncapped["n_step3_purchase"],
    }


def test_stream_funnel_equals_batch(spark, sf_dir, events):
    """The stateful streaming funnel must reproduce the batch fold's
    counts exactly (same greedy earliest-completion semantics)."""
    from etl_hero_spark.streaming import funnel_counts, stream_funnel_counts

    steps = ["view", "click", "purchase"]
    batch = funnel_counts(events, steps).first().asDict()
    stream = (
        stream_funnel_counts(
            spark, f"{sf_dir}/events.parquet", steps,
            query_name="t_stream_funnel_eq",
        )
        .first()
        .asDict()
    )
    assert stream == batch
    assert batch["n_step1_view"] > 0


def test_contract_monitor_stream_equals_batch(spark, sf_dir, events):
    from etl_hero_spark.registry_stream import _monitor_rules
    from etl_hero_spark.streaming.windows import (
        contract_monitor_batch,
        stream_contract_monitor,
    )

    batch = {
        (r["window_start"], r["rule"]): r["n_violations"]
        for r in contract_monitor_batch(events, _monitor_rules()).collect()
    }
    stream = {
        (r["window_start"], r["rule"]): r["n_violations"]
        for r in stream_contract_monitor(
            spark, f"{sf_dir}/events.parquet", _monitor_rules()
        ).collect()
    }
    assert batch == stream and len(batch) > 0
    # the defect-injected fixture actually violates something somewhere
    assert any(v > 0 for v in batch.values())


def test_contract_monitor_matches_duckdb(spark, sf_dir, events):
    import duckdb

    from etl_hero_spark.registry_stream import q_events_contract_monitor

    got = {
        (r["window_start"], r["rule"]): r["n_violations"]
        for r in q_events_contract_monitor(spark, sf_dir).collect()
    }
    want = {}
    for ws, a, b, c in duckdb.sql(
        "SELECT strftime(time_bucket(INTERVAL 1 HOUR, "
        "coalesce(ts, TIMESTAMP '1970-01-01')), '%Y-%m-%d %H:%M:%S'), "
        "sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), "
        "sum(CASE WHEN value IS NOT NULL AND value NOT BETWEEN 0 AND 250 "
        "THEN 1 ELSE 0 END), "
        "sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN "
        "('view', 'click', 'purchase', 'signup') THEN 1 ELSE 0 END) "
        f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
    ).fetchall():
        want[(ws, "not_null:value")] = a
        want[(ws, "range:value")] = b
        want[(ws, "accepted_values:event_type")] = c
    assert got == want and len(got) > 0


def test_events_readers_adapt_to_legacy_nanos_fixture(spark, tmp_path, events):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (round 1)
    and TIMESTAMP(MICROS) (round 2). Both the batch scan and the stream
    source must normalize either to the same TimestampType values, so a
    future flip back cannot break every events query again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_hero_spark.registry import _events
    from etl_hero_spark.streaming.windows import _events_stream_source

    # rebuild a nanos-typed copy of the fixture's first rows
    rows = events.orderBy("event_id").limit(50).collect()
    tbl = pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in rows], pa.int64()),
            "ts": pa.array(
                [r["ts"] for r in rows], pa.timestamp("ns")
            ),
            "user_id": pa.array([r["user_id"] for r in rows], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in rows]),
            "value": pa.array([r["value"] for r in rows], pa.float64()),
            "props": pa.array([r["props"] for r in rows]),
        }
    )
    d = tmp_path / "legacy"
    d.mkdir()
    pq.write_table(tbl, str(d / "events.parquet"), store_schema=False)
    legacy = {
        (r["event_id"], r["ts"])
        for r in _events(spark, str(d)).select("event_id", "ts").collect()
    }
    want = {(r["event_id"], r["ts"]) for r in rows}
    assert legacy == want
    # stream source over the same legacy file: drain into a memory
    # sink and compare VALUES (a dtype check alone would not catch a
    # wrong ns->us divisor)
    src = _events_stream_source(spark, str(d / "events.parquet")).select(
        "event_id", "ts"
    )
    assert dict(src.dtypes)["ts"] == "timestamp"
    q = (
        src.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_legacy_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_vals = {
        (r["event_id"], r["ts"])
        for r in spark.table("t_legacy_sink").collect()
    }
    assert stream_vals == want


def test_stream_stager_memoizes_per_path_and_links(
    spark, tmp_path, monkeypatch
):
    """Every twin stages its file through one memo keyed by (realpath,
    n_links): a second source over the same path reuses the staging dir,
    and n_links=2 gets its own dir with two links. A relative path
    stages a link that resolves, so the stream drains every row."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_hero_spark.streaming.windows import (
        _STREAM_SRC_DIRS,
        _drain,
        _file_stream_source,
    )

    p = str(tmp_path / "rows.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), p)
    n_before = len(_STREAM_SRC_DIRS)
    monkeypatch.chdir(tmp_path)
    rel = _file_stream_source(spark, "rows.parquet")
    one = _STREAM_SRC_DIRS[(os.path.realpath(p), 1)]
    assert _drain(rel, "append", "t_stager_rel").count() == 3
    assert dict(_file_stream_source(spark, p).dtypes) == {"id": "bigint"}
    assert _STREAM_SRC_DIRS[(os.path.realpath(p), 1)] == one
    _file_stream_source(spark, p, n_links=2)
    two = _STREAM_SRC_DIRS[(os.path.realpath(p), 2)]
    assert two != one
    assert len(_STREAM_SRC_DIRS) == n_before + 2
    assert sorted(os.listdir(one)) == ["0_rows.parquet"]
    assert sorted(os.listdir(two)) == ["0_rows.parquet", "1_rows.parquet"]


def test_drain_no_data_flip_is_scoped_to_start(spark, tmp_path):
    """_drain(no_data_batches=False) sets the conf false only around
    start(): the query keeps that setting (Spark snapshots the conf when
    it builds the query), so a watermarked append-mode window
    aggregation drains NO rows — its final windows need the no-data
    batch. The session conf reads its prior value afterwards, and a
    default drain started next emits its closed windows."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_hero_spark.streaming.windows import (
        _drain,
        _events_stream_source,
    )

    base = dt.datetime(2024, 1, 1, 0, 10)
    ts = [base + dt.timedelta(hours=h) for h in range(5)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": pa.array(["view"] * 5),
            "value": pa.array([1.0] * 5, pa.float64()),
            "props": pa.array(["{}"] * 5),
        }
    )
    p = str(tmp_path / "events.parquet")
    pq.write_table(tbl, p)

    def windows():
        src = _events_stream_source(spark, p).withWatermark("ts", "0 seconds")
        return src.groupBy(F.window("ts", "1 hour")).agg(
            F.count(F.lit(1)).alias("n")
        )

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prior = spark.conf.get(key)
    off = _drain(windows(), "append", "t_drain_nodata_off", no_data_batches=False)
    assert off.count() == 0
    assert spark.conf.get(key) == prior
    on = _drain(windows(), "append", "t_drain_nodata_on")
    assert on.count() == 4


def test_contract_monitor_counts_null_ts_events(spark):
    """A producer emitting NULL timestamps must show up in the
    epoch-zero sentinel window, not vanish from the monitor."""
    from etl_hero_spark.registry_stream import _monitor_rules
    from etl_hero_spark.streaming.windows import contract_monitor_batch

    df = spark.createDataFrame(
        [(1, None, 1, "view", None, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["window_start"], r["rule"]): r["n_violations"]
        for r in contract_monitor_batch(df, _monitor_rules()).collect()
    }
    assert got[("1970-01-01 00:00:00", "not_null:value")] == 1


def test_latest_state_stream_equals_batch(spark, sf_dir, events):
    """The update-mode max_by view's final state must equal the batch
    per-key argmax exactly — the materialized-upsert-view maintenance
    contract."""
    from etl_hero_spark.streaming import latest_state_batch, stream_latest_state

    batch = sorted(map(tuple, latest_state_batch(events).collect()))
    stream = sorted(
        map(
            tuple,
            stream_latest_state(spark, f"{sf_dir}/events.parquet").collect(),
        )
    )
    assert stream == batch
    # one row per user, and it is that user's newest event
    assert len(batch) == events.select("user_id").distinct().count()


def test_latest_state_matches_duckdb(spark, sf_dir):
    import duckdb

    from etl_hero_spark.streaming import latest_state_batch

    got = sorted(
        map(tuple, latest_state_batch(_events(spark, sf_dir)).collect())
    )
    want = sorted(
        (u, str(t), e, v)
        for u, t, e, v in duckdb.sql(
            f"""
            SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S'),
                   event_type, value
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
              ) AS rn
              FROM read_parquet('{sf_dir}/events.parquet')
            ) WHERE rn = 1
            """
        ).fetchall()
    )
    assert got == want


def test_wav_metadata_matches_stdlib_writer(spark):
    """The expression-only RIFF parser must read back exactly what the
    stdlib wave module wrote: real binary parsing, no codec library."""
    import io as _io
    import wave

    from etl_hero_spark.multimodal import wav_metadata

    def make_wav(rate, channels, bits, n_frames):
        buf = _io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(channels)
        w.setsampwidth(bits // 8)
        w.setframerate(rate)
        w.writeframes(b"\x00" * (n_frames * channels * (bits // 8)))
        w.close()
        return buf.getvalue()

    rows = [
        (1, make_wav(16000, 1, 16, 16000)),   # 1.0 s mono 16k
        (2, make_wav(44100, 2, 16, 22050)),   # 0.5 s stereo cd
        (3, make_wav(8000, 1, 8, 2000)),      # 0.25 s 8-bit telephony
        (4, b"RIFFxxxxWAVEbroken"),           # RIFF but not canonical
        (5, b"\x89PNG\r\n\x1a\nnotaudio" * 4),  # wrong container
        (6, None),                             # missing payload
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, media binary")
    out = {r["doc_id"]: r for r in wav_metadata(df).collect()}
    for i, (rate, ch, bits, frames, dur) in {
        1: (16000, 1, 16, 16000, 1.0),
        2: (44100, 2, 16, 22050, 0.5),
        3: (8000, 1, 8, 2000, 0.25),
    }.items():
        r = out[i]
        assert r["is_wav"] == 1
        assert r["wav_rate_hz"] == rate
        assert r["wav_channels"] == ch
        assert r["wav_bits"] == bits
        assert r["wav_data_bytes"] == frames * ch * (bits // 8)
        assert r["wav_duration_s"] == dur
    for i in (4, 5, 6):
        assert out[i]["is_wav"] in (0, None) or out[i]["is_wav"] == 0
        assert out[i]["wav_rate_hz"] is None
    # pure-expression plan: no Python eval of any kind
    plan = wav_metadata(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_stream_quantile_sketch_equals_batch(spark, sf_dir, events):
    """The complete-mode streaming sketch's final state must equal the
    batch width_bucket sketch EXACTLY — bin counts add, order-free."""
    from etl_hero_spark.profile import quantile_sketch
    from etl_hero_spark.streaming import stream_quantile_sketch

    batch = sorted(
        map(tuple, quantile_sketch(events, "value", 0.0, 100.0, 64).collect())
    )
    stream = sorted(
        map(
            tuple,
            stream_quantile_sketch(
                spark, f"{sf_dir}/events.parquet", "value", 0.0, 100.0, 64
            ).collect(),
        )
    )
    assert stream == batch


def test_stream_scd2_equals_batch_closed_versions(spark, sf_dir, events):
    """The stream's emitted rows must equal the batch SCD2 history's
    CLOSED versions exactly (the open version per user stays in state),
    mirroring the session-window closed-vs-in-flight contract."""
    from etl_hero_spark.cdc import scd2_history
    from etl_hero_spark.streaming import stream_scd2_history

    batch = sorted(
        (r["user_id"], r["event_type"],
         r["effective_from"].strftime("%Y-%m-%d %H:%M:%S"),
         r["effective_to"].strftime("%Y-%m-%d %H:%M:%S"))
        for r in scd2_history(
            events.select("user_id", "ts", "event_type"),
            "user_id", "ts", ["event_type"],
        ).filter(F.col("effective_to").isNotNull()).collect()
    )
    stream = sorted(
        map(
            tuple,
            stream_scd2_history(
                spark, f"{sf_dir}/events.parquet"
            ).collect(),
        )
    )
    assert stream == batch


def test_deterministic_samplers_identical_under_streaming(spark, sf_dir, events):
    """weighted_hash_sample and with_split are pure row functions of
    (salt, id) — the SAME rows must pass on a stream as in batch (the
    reproducibility contract their docstrings promise)."""
    from etl_hero_spark.sampling import weighted_hash_sample, with_split

    batch_ids = {
        r["event_id"]
        for r in weighted_hash_sample(
            events.withColumn("w", F.lit(0.3)), "w", "event_id"
        ).select("event_id").collect()
    }
    batch_split = {
        r["event_id"]: r["split"]
        for r in with_split(events, "event_id").collect()
    }
    from etl_hero_spark.streaming.windows import _events_stream_source

    src = _events_stream_source(spark, f"{sf_dir}/events.parquet")
    out = with_split(
        weighted_hash_sample(src.withColumn("w", F.lit(0.3)), "w", "event_id"),
        "event_id",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("etl_hero_stream_samp")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream = {
        r["event_id"]: r["split"]
        for r in spark.table("etl_hero_stream_samp").collect()
    }
    assert set(stream) == batch_ids
    assert all(batch_split[i] == s for i, s in stream.items())


def test_pii_redaction_identical_under_streaming(spark, sf_dir, events):
    """redact_pii is a stateless narrow map — the streamed result must
    be row-identical to batch (every curation expression in the engine
    shares this property; PII is the one with compliance stakes)."""
    from etl_hero_spark.pii import redact_pii

    with_pii = events.withColumn(
        "text",
        F.concat(
            F.lit("contact a@b.io or 123-45-6789 ref "),
            F.col("event_id").cast("string"),
        ),
    )
    batch = {
        r["event_id"]: (r["text"], r["n_emails"], r["n_ssns"])
        for r in redact_pii(with_pii).collect()
    }
    from etl_hero_spark.streaming.windows import _events_stream_source

    src = _events_stream_source(spark, f"{sf_dir}/events.parquet").withColumn(
        "text",
        F.concat(
            F.lit("contact a@b.io or 123-45-6789 ref "),
            F.col("event_id").cast("string"),
        ),
    )
    q = (
        redact_pii(src)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("etl_hero_stream_pii")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream = {
        r["event_id"]: (r["text"], r["n_emails"], r["n_ssns"])
        for r in spark.table("etl_hero_stream_pii").collect()
    }
    assert stream == batch
    assert all("[EMAIL]" in t for t, _, _ in stream.values())


# ---------------------------------------------------------------------------
# incremental hourly-rollup maintenance (round 4)
# ---------------------------------------------------------------------------


def _hourly_key(df):
    return sorted(
        (r["w"]["start"], r["event_type"], r["n_events"], r["_sum_dec"])
        for r in df.collect()
    )


def test_merge_hourly_delta_bit_identical_to_rebuild(spark, sf_dir):
    """The mergeability contract: fold(delta) over the maintained tier
    equals rebuilding the tier from ALL raw events — exactly, including
    the unrounded decimal partials. Split mid-corpus so at least one
    hour window spans both sides (partials must combine IN-window)."""
    ev = _events(spark, sf_dir)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    hist = ev.filter(F.col("ts") < F.lit(mid))
    delta = ev.filter(F.col("ts") >= F.lit(mid))
    assert hist.count() > 0 and delta.count() > 0
    from etl_hero_spark.streaming import hourly_rollup, merge_hourly_delta

    merged = merge_hourly_delta(hourly_rollup(hist), delta)
    full = hourly_rollup(ev)
    assert _hourly_key(merged) == _hourly_key(full)


def test_merge_hourly_delta_empty_delta_is_identity(spark, sf_dir):
    from etl_hero_spark.streaming import hourly_rollup, merge_hourly_delta

    ev = _events(spark, sf_dir)
    base = hourly_rollup(ev)
    merged = merge_hourly_delta(base, ev.filter(F.lit(False)))
    assert _hourly_key(merged) == _hourly_key(base)


def test_registered_rollup_incremental_serves_daily_tier(spark, sf_dir):
    """The registered query's daily summary equals aggregating raw
    events by day directly (tier maintenance is invisible downstream)."""
    from etl_hero_spark.registry_ext import q_events_rollup_incremental

    got = sorted(
        map(tuple, q_events_rollup_incremental(spark, sf_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            _events(spark, sf_dir)
            .groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(
                    F.sum(F.col("value").cast("decimal(28,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("sum_value"),
            )
            .collect(),
        )
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# stream-stream join (round 4)
# ---------------------------------------------------------------------------


def test_stream_attribution_equals_batch(spark, sf_dir):
    """The TRUE stream-stream inner join drained over the finite fixture
    must equal the batch join exactly — inner joins emit on match (the
    watermark bounds state, not emission), so nothing is lost at the
    stream's end."""
    from etl_hero_spark.streaming import (
        attribution_join_batch,
        stream_attribution_join,
    )

    batch = sorted(
        map(tuple, attribution_join_batch(_events(spark, sf_dir)).collect())
    )
    stream = sorted(
        map(
            tuple,
            stream_attribution_join(
                spark, f"{sf_dir}/events.parquet"
            ).collect(),
        )
    )
    assert stream == batch and len(batch) > 0


def test_attribution_join_batch_semantics(spark):
    """Window edges: purchase at view_ts and at view_ts+horizon both
    attribute (closed interval); one tick later does not; other users'
    purchases never match."""
    rows = [
        (1, 10, "view", "2024-01-01 10:00:00", 0.0),
        (2, 10, "purchase", "2024-01-01 10:00:00", 5.0),   # same instant
        (3, 10, "purchase", "2024-01-01 11:00:00", 7.0),   # exactly +1h
        (4, 10, "purchase", "2024-01-01 11:00:01", 9.0),   # 1s too late
        (5, 20, "purchase", "2024-01-01 10:30:00", 11.0),  # other user
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, s string, value double"
    ).select(
        "event_id", "user_id", "event_type",
        F.to_timestamp("s").alias("ts"), "value",
    )
    from etl_hero_spark.streaming import attribution_join_batch

    got = sorted(
        (r["view_id"], r["purchase_id"])
        for r in attribution_join_batch(ev, horizon="1 hour").collect()
    )
    assert got == [(1, 2), (1, 3)]


# ---------------------------------------------------------------------------
# stream-static enrichment join (round 4)
# ---------------------------------------------------------------------------


def test_stream_enrichment_equals_batch(spark, sf_dir):
    """The stream-static join drained over the finite source equals the
    batch enrichment exactly (stateless join, nothing to evict or
    wait for)."""
    from etl_hero_spark.streaming import (
        enrich_events_batch,
        stream_enriched_events,
        user_baselines,
    )

    ev = _events(spark, sf_dir)
    base = user_baselines(ev)
    batch = sorted(map(tuple, enrich_events_batch(ev, base).collect()))
    stream = sorted(
        map(
            tuple,
            stream_enriched_events(
                spark, f"{sf_dir}/events.parquet", base
            ).collect(),
        )
    )
    assert stream == batch and len(batch) > 0


def test_enrich_events_batch_semantics(spark):
    """Above-baseline flag: strictly over factor x the user's own mean;
    users absent from the dimension enrich to NULL baseline, never
    flagged."""
    ev = spark.createDataFrame(
        [
            (1, 10, "a", 30.0),  # baseline 20 -> 30 > 40? no
            (2, 10, "a", 50.0),  # 50 > 40 -> yes... but changes mean
            (3, 99, "b", 5.0),   # user missing from dim
        ],
        "event_id long, user_id long, event_type string, value double",
    ).withColumn("ts", F.current_timestamp())
    from etl_hero_spark.streaming import enrich_events_batch

    dim = spark.createDataFrame([(10, 20.0)], "user_id long, baseline double")
    got = {
        r["event_id"]: (r["baseline"], r["is_above"])
        for r in enrich_events_batch(ev, dim, factor=2.0).collect()
    }
    assert got[1] == (20.0, 0)
    assert got[2] == (20.0, 1)
    assert got[3] == (None, 0)


def test_stream_cms_equals_batch_and_bounds(spark, sf_dir, events):
    """The complete-mode streaming count-min sketch's final state must
    equal the batch sketch CELL-FOR-CELL (cell adds are exact and
    mergeable across micro-batches), and point estimates must never
    undercount."""
    from etl_hero_spark.profile import countmin_sketch, estimate_counts
    from etl_hero_spark.streaming import stream_countmin_sketch

    batch = sorted(
        map(tuple, countmin_sketch(events, "event_type").collect())
    )
    sketch = stream_countmin_sketch(
        spark, f"{sf_dir}/events.parquet", "event_type"
    )
    stream = sorted(map(tuple, sketch.collect()))
    assert stream == batch and len(stream) > 0
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    keys = events.select("event_type").distinct()
    est = {
        r["event_type"]: r["est_count"]
        for r in estimate_counts(sketch, keys, "event_type").collect()
    }
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert est[k] >= v  # CMS overcounts only
        assert est[k] == v  # width 1024 >> 5 distinct types: exact


def test_stream_ewma_equals_batch_final_state(spark, sf_dir, events):
    """The stateful streaming EWMA's final per-key state must equal the
    batch F.aggregate fold's last smoothed value per key exactly — the
    same recurrence, carried across micro-batches instead of an array."""
    from pyspark.sql import Window as W

    from etl_hero_spark.streaming import stream_ewma
    from etl_hero_spark.timeseries import ewma

    batch = ewma(
        events, ["user_id", "event_type"], "ts", "value", alpha=0.3
    )
    w = W.partitionBy("user_id", "event_type").orderBy(F.desc("ts"))
    batch_final = {
        (r["user_id"], r["event_type"]): (r["_n"], r["ewma"])
        for r in batch.withColumn(
            "_n",
            F.count(F.lit(1)).over(
                W.partitionBy("user_id", "event_type")
            ),
        )
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .collect()
    }
    got = {
        (r["user_id"], r["event_type"]): (r["n_points"], r["ewma"])
        for r in stream_ewma(spark, f"{sf_dir}/events.parquet").collect()
    }
    assert set(got) == set(batch_final)
    import math

    for k, (n, v) in batch_final.items():
        gn, gv = got[k]
        assert gn == n, k
        if v is None:
            assert gv is None, k
        else:
            assert math.isclose(gv, v, rel_tol=1e-12), k


def test_stream_transition_matrix_equals_batch(spark, sf_dir, events):
    """Twin #14: the streaming per-user last-event state reproduces the
    batch window-lead transition matrix exactly (counts AND row-
    normalized probabilities)."""
    from etl_hero_spark.analytics import transition_matrix
    from etl_hero_spark.streaming import stream_transition_matrix

    batch = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in transition_matrix(events).collect()
    }
    got = {
        (r["from_state"], r["to_state"]): (r["n"], r["p"])
        for r in stream_transition_matrix(
            spark, f"{sf_dir}/events.parquet"
        ).collect()
    }
    assert got == batch
    assert got, "fixture produced no transitions"


def test_stream_ab_monitor_equals_batch_welch(spark, sf_dir, events):
    """Twin #15: the complete-mode moment state reproduces the batch
    Welch t-test exactly (same decimal sums, same scalar arithmetic)."""
    from etl_hero_spark.stattests import welch_ttest
    from etl_hero_spark.streaming import stream_ab_monitor

    batch = welch_ttest(
        events, "value", "event_type", "click", "purchase"
    ).first()
    got = stream_ab_monitor(spark, f"{sf_dir}/events.parquet").first()
    assert got.asDict() == batch.asDict()


def test_stream_keep_best_equals_batch(spark, sf_dir):
    """16th twin: the streaming quality-aware survivor view drains to
    EXACTLY the batch keep table (same shared aggregate, same
    fingerprint groups, same arg-max)."""
    from etl_hero_spark.dedup import keep_best_ids
    from etl_hero_spark.streaming import stream_keep_best

    quality = (
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = {
        (r["_fp"], r["keep_id"], r["keep_quality"])
        for r in keep_best_ids(docs, quality).collect()
    }
    streamed = {
        (r["_fp"], r["keep_id"], r["keep_quality"])
        for r in stream_keep_best(
            spark, f"{sf_dir}/documents.parquet", quality,
            query_name="etl_hero_stream_keepbest_t",
        ).collect()
    }
    assert streamed == batch and batch


def test_stream_media_triage_equals_batch(spark, sf_dir):
    """17th twin: the drained streaming triage counts == the batch
    aggregate over the same synthesized payloads (shared synthesis and
    parse expressions)."""
    from etl_hero_spark.multimodal import (
        gif_webp_format_counts,
        synth_gif_webp_media,
    )
    from etl_hero_spark.streaming import stream_media_triage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", synth_gif_webp_media("doc_id").alias("media")
    )
    batch = {
        (r["format"], r["n_rows"], r["n_parsed"])
        for r in gif_webp_format_counts(docs, "doc_id").collect()
    }
    streamed = {
        (r["format"], r["n_rows"], r["n_parsed"])
        for r in stream_media_triage(
            spark,
            f"{sf_dir}/documents.parquet",
            query_name="etl_hero_stream_mediatriage_t",
        ).collect()
    }
    assert streamed == batch and len(batch) == 3
    # every recognized-format row parses (the synthesis plants no
    # boundary structures), foreign rows parse nothing
    d = {f: (n, p) for f, n, p in batch}
    assert d["gif"][0] == d["gif"][1] > 0
    assert d["webp"][0] == d["webp"][1] > 0
    assert d["other"][1] == 0


def test_stream_quality_score_equals_batch(spark, sf_dir):
    """18th twin (train batch / serve streaming): the drained per-doc
    streaming quality scores — per-row serving features + literal
    sigmoid, a stateless append-mode projection — equal the batch
    apply over the relational training features, bit-for-bit at the
    pinned 9dp rounding."""
    from pyspark.sql import functions as F

    from etl_hero_spark.features import (
        hashed_token_features,
        logreg_apply,
        quality_classifier_report,
    )
    from etl_hero_spark.streaming import stream_quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _report, model = quality_classifier_report(
        docs, F.col("source") == "src0", dim=16
    )
    batch = {
        r["doc_id"]: (r["source"], r["quality_p"])
        for r in logreg_apply(
            hashed_token_features(docs, dim=16), model, "quality_p"
        )
        .select(
            "doc_id", "source", F.round("quality_p", 9).alias("quality_p")
        )
        .collect()
    }
    streamed = {
        r["doc_id"]: (r["source"], r["quality_p"])
        for r in stream_quality_score(
            spark,
            f"{sf_dir}/documents.parquet",
            model,
            query_name="etl_hero_stream_quality_t",
        ).collect()
    }
    assert streamed == batch and len(batch) > 0
    # scores are genuine probabilities, not a constant column
    ps = [p for _, p in batch.values()]
    assert all(0.0 <= p <= 1.0 for p in ps)
    assert max(ps) > min(ps)


def test_stream_psi_monitor_equals_batch_and_detects_drift(spark, sf_dir):
    """19th twin: the drained streaming PSI == the batch fixed-edge
    PSI over the same frozen reference; a same-distribution live feed
    reads stable, a shifted one reads drifted."""
    from pyspark.sql import functions as F

    from etl_hero_spark.profile import (
        _psi_bucket_expr,
        psi_from_counts,
        psi_reference,
    )
    from etl_hero_spark.registry import _events
    from etl_hero_spark.streaming import stream_psi_monitor

    ev = _events(spark, sf_dir)
    ref = psi_reference(ev.filter(F.col("event_id") % 2 == 0), "value")
    live = ev.filter(
        (F.col("event_id") % 2 == 1) & F.col("value").isNotNull()
    )
    batch_counts = live.groupBy(
        _psi_bucket_expr("value", ref["lo"], ref["hi"], ref["bins"]).alias(
            "bucket"
        )
    ).agg(F.count(F.lit(1)).alias("cnt"))
    batch = psi_from_counts(batch_counts, ref).first()
    streamed = stream_psi_monitor(
        spark,
        f"{sf_dir}/events.parquet",
        ref,
        live_pred=F.col("event_id") % 2 == 1,
        query_name="etl_hero_stream_psi_t",
    ).first()
    assert tuple(streamed) == tuple(batch)
    # even/odd halves share a distribution: stable reading
    assert batch["psi"] < 0.1
    # a planted shift (values scaled 3x) must read as real drift
    shifted = live.withColumn("value", F.col("value") * 3.0)
    drift_counts = shifted.groupBy(
        _psi_bucket_expr("value", ref["lo"], ref["hi"], ref["bins"]).alias(
            "bucket"
        )
    ).agg(F.count(F.lit(1)).alias("cnt"))
    drifted = psi_from_counts(drift_counts, ref).first()
    assert drifted["psi"] > 0.25


def test_psi_reference_rejects_constant_column(spark):
    """A constant reference column (min == max) cannot anchor a drift
    monitor — every live value would collapse into bucket 0 and PSI
    would read 0 for ANY feed. psi_reference must refuse loudly."""
    import pytest

    from etl_hero_spark.profile import psi_reference

    df = spark.createDataFrame(
        [(i, 7.5) for i in range(20)], "id bigint, v double"
    )
    with pytest.raises(ValueError, match="constant in the reference"):
        psi_reference(df, "v")


def test_stream_ann_probe_equals_batch_indexed(spark, sf_dir, tmp_path):
    """20th twin: the streaming serve path over the persisted IVF
    index returns EXACTLY the batch indexed probe's top-k — including
    after an incremental append (the stream serves the maintained
    index without rebuild)."""
    from pyspark.sql import functions as F

    from etl_hero_spark.simsearch import (
        append_ivf_batch,
        topk_cosine_ivf_indexed,
        write_ivf_index,
    )
    from etl_hero_spark.streaming import stream_ann_probe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "stream_ann_ivf")
    # build on 3/4 of the corpus, append the rest incrementally —
    # the stream must serve the maintained index as-is
    write_ivf_index(emb.filter(F.col("vec_id") % 4 != 0), path,
                    n_centroids=8)
    append_ivf_batch(emb.filter(F.col("vec_id") % 4 == 0), path)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, path, k=5, nprobe=3
        ).collect()
    }
    streamed = {
        tuple(r)
        for r in stream_ann_probe(
            spark,
            f"{sf_dir}/embeddings.parquet",
            path,
            k=5,
            nprobe=3,
            query_pred=F.col("vec_id") < 3,
            query_name="etl_hero_stream_ann_t",
        ).collect()
    }
    assert streamed == batch and len(streamed) == 15  # 3 queries x k


def test_stream_ann_maintain_equals_batch_append(spark, sf_dir, tmp_path):
    """21st twin: stream-driven incremental maintenance == batch
    append under the same frozen model — both the per-list counts and
    the end-to-end probe over the maintained index, bit-for-bit."""
    from pyspark.sql import functions as F

    from etl_hero_spark.simsearch import (
        append_ivf_batch,
        topk_cosine_ivf_indexed,
        write_ivf_index,
    )
    from etl_hero_spark.streaming import stream_ann_maintain

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.filter(F.col("vec_id") % 4 != 0)
    b = emb.filter(F.col("vec_id") % 4 == 0)
    p_stream = str(tmp_path / "maint_stream")
    p_batch = str(tmp_path / "maint_batch")
    cents = write_ivf_index(a, p_stream, n_centroids=8)
    write_ivf_index(a, p_batch, centroids=cents)
    report = {
        tuple(r)
        for r in stream_ann_maintain(
            spark,
            f"{sf_dir}/embeddings.parquet",
            p_stream,
            new_pred=F.col("vec_id") % 4 == 0,
            query_name="etl_hero_stream_ann_maint_t",
        ).collect()
    }
    append_ivf_batch(b, p_batch)
    batch_report = {
        tuple(r)
        for r in spark.read.parquet(f"{p_batch}/lists")
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .collect()
    }
    assert report == batch_report
    assert sum(n for _, n in report) == emb.count()
    # the full loop: probing the stream-maintained index == probing
    # the batch-maintained index
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, p_stream, k=5, nprobe=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, p_batch, k=5, nprobe=3
        ).collect()
    }
    assert got == want and len(got) == 15


def test_stream_ann_maintain_retry_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a retried micro-batch — or one
    whose first attempt died mid-write leaving PARTIAL part-files —
    must not double-append (VERDICT r9 #2). Simulates both: the same
    batch delivered twice through the maintain path's dedup_ids
    append, and a retry on top of a half-landed first attempt. Pins
    per-list counts AND end-to-end probe equality to a single clean
    append."""
    from pyspark.sql import functions as F

    from etl_hero_spark.simsearch import (
        append_ivf_batch,
        read_index_model,
        topk_cosine_ivf_indexed,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = emb.filter(F.col("vec_id") % 4 != 0)
    b = emb.filter(F.col("vec_id") % 4 == 0)
    p_retry = str(tmp_path / "maint_retry")
    p_clean = str(tmp_path / "maint_clean")
    cents = write_ivf_index(a, p_retry, n_centroids=8)
    write_ivf_index(a, p_clean, centroids=cents)
    model = read_index_model(spark, p_retry)

    # attempt 1 dies mid-write: only half the batch's part-files land
    append_ivf_batch(
        b.filter(F.col("vec_id") % 8 == 0), p_retry, model=model
    )
    # the retry re-delivers the FULL batch through the maintain path
    append_ivf_batch(b, p_retry, model=model, dedup_ids=True)
    # and Spark retries once more (double delivery of the same batch)
    append_ivf_batch(b, p_retry, model=model, dedup_ids=True)

    append_ivf_batch(b, p_clean, model=model)

    def report(p):
        return {
            tuple(r)
            for r in spark.read.parquet(f"{p}/lists")
            .groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("n_vecs"))
            .collect()
        }

    assert report(p_retry) == report(p_clean)
    assert (
        spark.read.parquet(f"{p_retry}/lists").count() == emb.count()
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, p_retry, k=5, nprobe=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in topk_cosine_ivf_indexed(
            spark, queries, p_clean, k=5, nprobe=3
        ).collect()
    }
    assert got == want and len(got) == 15
