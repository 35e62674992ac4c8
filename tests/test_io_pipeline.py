"""Sources/sinks (S1, S4, S5) and the pipeline/lineage object (M4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_csv_round_trip(spark, tmp_path):
    from etl_hero_spark.io import messy_orders, read_csv, write_csv

    df = messy_orders(spark, n=50)
    path = str(tmp_path / "out_csv")
    write_csv(df, path, single_file=True)
    back = read_csv(spark, path)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)
    # inferSchema must recover numeric types from the text round-trip (S1)
    assert dict(back.dtypes)["price"] == "double"
    assert os.path.isdir(path)


def test_write_parquet_partitioned(spark, tmp_path):
    from etl_hero_spark.io import messy_orders, write_parquet

    df = messy_orders(spark, n=50).na.fill("X", ["category"])
    path = str(tmp_path / "out_parquet")
    write_parquet(df, path, partition_by=["category"])
    # hive-style partition dirs exist -> partition pruning is available
    assert any(d.startswith("category=") for d in os.listdir(path))
    back = spark.read.parquet(path)
    assert back.count() == df.count()


def test_html_report_contains_sections(spark):
    from etl_hero_spark.io import messy_orders, to_html_report

    before = messy_orders(spark, n=30)
    after = before.dropDuplicates()
    html = to_html_report(
        before,
        after,
        log=["drop_duplicates"],
        insights={"rows_before": 30, "rows_after": after.count()},
        order_by=["order_id"],
    )
    for needle in (
        "Data cleaning report",
        "Insights",
        "Actions applied",
        "drop_duplicates",
        "rows_before",
        "Before (sample)",
        "After (sample)",
    ):
        assert needle in html


def test_pipeline_replay_undo_log(spark):
    from etl_hero_spark.clean import drop_null_rows, replace_where
    from etl_hero_spark.io import messy_orders
    from etl_hero_spark.pipeline import Pipeline

    base = messy_orders(spark, n=60)
    p = Pipeline(base)
    p.apply("drop_null_category", lambda df: drop_null_rows(df, "category"))
    p.apply(
        "zero_negative_prices",
        lambda df: replace_where(df, "price", F.col("price") < 0, 0.0),
    )
    assert p.log == ["drop_null_category", "zero_negative_prices"]
    # the original is immutable; current reflects both steps
    assert base.filter(F.col("category").isNull()).count() > 0
    assert p.current.filter(F.col("category").isNull()).count() == 0
    assert p.current.filter(F.col("price") < 0).count() == 0
    # step-wise undo: replay(1) has step 1 applied but not step 2
    undo = p.replay(1)
    assert undo.filter(F.col("category").isNull()).count() == 0
    assert undo.filter(F.col("price") < 0).count() > 0
    # reset clears the log and restores the original plan
    p.reset()
    assert p.log == [] and p.current is base


def _add_step(k):
    """A step that adds k to column v (the raw transform, uncounted)."""
    return lambda df: df.withColumn("v", F.col("v") + k)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pipeline_builds_each_step_once(spark):
    """Each step's function runs once however often current is read:
    a click applies only its own step to the memoized frame before it."""
    from collections import Counter

    from etl_hero_spark.pipeline import Pipeline, Step

    calls = Counter()

    def counted(name, k):
        def fn(df):
            calls[name] += 1
            return _add_step(k)(df)

        return fn

    base = spark.range(6).withColumn("v", F.col("id") * 10)
    p = Pipeline(base)
    ks = [1, 2, 4, 8]
    for j, k in enumerate(ks, start=1):
        p.apply(f"s{k}", counted(f"s{k}", k))
        assert calls[f"s{k}"] == 0  # apply stays lazy
        p.current
        assert calls == Counter({f"s{x}": 1 for x in ks[:j]})
    # replay(j) equals a fresh composition of the first j steps, from memo
    for j in range(len(ks) + 1):
        fresh = base
        for k in ks[:j]:
            fresh = _add_step(k)(fresh)
        assert _rows(p.replay(j)) == _rows(fresh)
    assert p.replay(0) is base and p.replay(2) is p.replay(2)
    assert calls == Counter({f"s{x}": 1 for x in ks})

    # undo by pop: the next current is the memoized frame before it
    undo = p.replay(3)
    p.steps.pop()
    assert p.current is undo
    p.apply("s16", counted("s16", 16))
    assert _rows(p.current) == _rows(base.withColumn("v", F.col("v") + 23))
    assert calls == Counter({"s1": 1, "s2": 1, "s4": 1, "s8": 1, "s16": 1})

    # replacing a step rebuilds from that step on, not before it
    p.steps[1] = Step("s32", counted("s32", 32))
    assert _rows(p.current) == _rows(base.withColumn("v", F.col("v") + 53))
    assert calls == Counter(
        {"s1": 1, "s2": 1, "s4": 2, "s8": 1, "s16": 2, "s32": 1}
    )

    # a new original rebuilds every step over it
    p.original = base.withColumn("v", F.col("v") + 100)
    assert _rows(p.current) == _rows(base.withColumn("v", F.col("v") + 153))
    assert calls == Counter(
        {"s1": 2, "s2": 1, "s4": 3, "s8": 1, "s16": 3, "s32": 2}
    )
    p.original = base

    # reset clears the memo: the same step function runs again
    p.reset()
    assert p.current is base
    p.apply("s1", counted("s1", 1))
    assert _rows(p.current) == _rows(base.withColumn("v", F.col("v") + 1))
    assert calls["s1"] == 3


def test_excel_ingest_gated(spark, tmp_path):
    """S2: Excel is edge ingest via driver-side pandas. With openpyxl
    present it round-trips; without it, a clean NotImplementedError."""
    import pandas as pd

    from etl_hero_spark.io import read_excel

    path = str(tmp_path / "t.xlsx")
    try:
        pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_excel(path, index=False)
    except (ImportError, ModuleNotFoundError):
        import pytest

        with pytest.raises((NotImplementedError, FileNotFoundError, ImportError)):
            read_excel(spark, path)
        return
    back = read_excel(spark, path)
    assert back.count() == 2 and set(back.columns) == {"a", "b"}


def test_insights_m2(spark):
    from etl_hero_spark.io import messy_orders
    from etl_hero_spark.score import insights

    before = messy_orders(spark, n=40)
    after = before.dropDuplicates()
    ins = insights(before, after)
    assert ins["rows_before"] == 40 and ins["rows_after"] == 38
    assert "order_id" in ins["columns"]
    assert ins["nulls_after"] >= 0


try:
    import PIL  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


@pytest.mark.skipif(_HAS_PIL, reason="PIL present: the real path runs instead")
def test_decode_image_gated_without_pil(spark):
    """Without PIL the real decoder must raise a clean
    NotImplementedError, never a half-working path."""
    from etl_hero_spark.multimodal import decode_image, with_media_column

    df = with_media_column(
        spark.createDataFrame([(1, "x")], "doc_id long, text string")
    )
    with pytest.raises(NotImplementedError):
        decode_image(df)


def test_decode_image_real_matches_stub_schema(spark):
    """decode_image driving a REAL decode end-to-end must produce
    decode_media_stub's exact output schema, real dimensions for a real
    PNG encode, and NULL dims (not a task failure) for corrupt bytes.
    Runs unconditionally: the bytes come from the vendored real encoder
    (tests/miniimg.py) and the decode is the package's pure-stdlib
    png_decode_dims when PIL is absent (PIL's own path when present)."""
    from miniimg import encode_png

    from etl_hero_spark.multimodal import (
        decode_image,
        decode_media_stub,
        png_decode_dims,
    )

    png = encode_png(12, 7)
    if _HAS_PIL:
        import io as _io

        from PIL import Image

        # cross-validate the vendored encoder against a real codec
        assert Image.open(_io.BytesIO(png)).size == (12, 7)
    df = spark.createDataFrame(
        [(1, png), (2, b"definitely not an image")],
        "doc_id long, media binary",
    )
    real = decode_image(
        df, decoder=None if _HAS_PIL else png_decode_dims
    )
    stub = decode_media_stub(df)
    assert real.schema == stub.schema
    got = {r["doc_id"]: r for r in real.collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_frames"]) == (12, 7, 1)
    assert got[1]["n_bytes"] == len(png)
    assert got[2]["width"] is None and got[2]["height"] is None
    assert got[2]["n_bytes"] == len(b"definitely not an image")


def test_permissive_csv_quarantines_corrupt_rows(spark, tmp_path):
    """S1 hardened: malformed rows survive the read with their raw text
    in the corrupt column; clean rows parse; the report counts both."""
    import pyspark.sql.functions as F

    from etl_hero_spark.io import csv_ingest_report, read_csv_permissive

    p = tmp_path / "messy.csv"
    p.write_text(
        "id,price,day\n"
        "1,9.50,2024-01-01\n"
        "2,notanumber,2024-01-02\n"   # price fails the double cast
        "3,3.25,2024-01-03\n"
    )
    df = read_csv_permissive(
        spark, str(p), "id int, price double, day date"
    ).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert {r["id"] for r in clean.collect()} == {1, 3}
    assert len(bad) == 1 and "notanumber" in bad[0]["_corrupt_record"]
    rep = csv_ingest_report(df).first()
    assert rep["n_rows"] == 3 and rep["n_corrupt"] == 1
    assert rep["corrupt_ratio"] == round(1 / 3, 6)


def test_resize_media_stub_shapes(spark, sf_dir):
    """Resize plumbing: every payload lands at exactly target bytes,
    deterministically, whether shrunk or grown."""
    from etl_hero_spark.multimodal import resize_media_stub, with_media_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = resize_media_stub(
        with_media_column(docs), target_w=16, target_h=8
    ).cache()
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["n_bytes"] == 128 and len(r["media"]) == 128 for r in rows)
    assert all(r["width"] == 16 and r["height"] == 8 for r in rows)
    # deterministic: same input -> same bytes
    again = {r["doc_id"]: bytes(r["media"]) for r in resize_media_stub(
        with_media_column(docs), target_w=16, target_h=8).collect()}
    assert all(bytes(r["media"]) == again[r["doc_id"]] for r in rows)
    # growth path: tiny payload cycles up to target
    tiny = spark.createDataFrame([(1, "ab")], "doc_id bigint, text string")
    t = resize_media_stub(with_media_column(tiny), 4, 2).first()
    assert bytes(t["media"]) == b"abababab" and t["orig_n_bytes"] == 2


def test_validate_media_semantics(spark):
    from etl_hero_spark.multimodal import validate_media

    rows = [
        (1, bytes.fromhex("FFD8FFE0") + b"x" * 20, "image/jpeg"),   # ok
        (2, bytes.fromhex("89504E470D0A1A0A") + b"y" * 20, "image/jpeg"),  # mismatch
        (3, b"plain bytes and then some", "application/octet-stream"),  # generic ok
        (4, bytes.fromhex("FFD8FF"), "image/jpeg"),                 # truncated
        (5, bytes.fromhex("494433") + b"z" * 30, "audio/mpeg"),     # mp3 ok
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary, declared_mime string")
    got = {r["doc_id"]: r for r in validate_media(df).collect()}
    assert got[1]["sniffed_mime"] == "image/jpeg" and got[1]["mime_ok"] == 1
    assert got[2]["sniffed_mime"] == "image/png" and got[2]["mime_ok"] == 0
    assert got[3]["sniffed_mime"] == "application/octet-stream"
    assert got[3]["mime_ok"] == 1
    assert got[4]["is_truncated"] == 1
    assert got[5]["sniffed_mime"] == "audio/mpeg" and got[5]["mime_ok"] == 1


def test_validate_media_null_payload_is_quarantined(spark):
    """A NULL payload must not slip past the quarantine filter:
    octet_length(NULL) is NULL, so without the coalesce n_bytes and
    is_truncated come out NULL and a missing payload declared as
    octet-stream would get mime_ok=1 and escape."""
    from etl_hero_spark.multimodal import validate_media

    df = spark.createDataFrame(
        [(1, None, "application/octet-stream"), (2, None, "image/jpeg")],
        "doc_id long, media binary, declared_mime string",
    )
    got = {r["doc_id"]: r for r in validate_media(df).collect()}
    for d in (1, 2):
        assert got[d]["n_bytes"] == 0
        assert got[d]["is_truncated"] == 1  # lands in quarantine


def test_validate_media_matches_duckdb(spark, sf_dir):
    """Cross-engine oracle for the rows-only registered query: DuckDB
    rebuilds the same synthetic payloads (hex-then-substring sniff —
    2 hex chars per byte, so substring(hex(b),1,16) == hex of the first
    8 bytes) and must agree on every flag."""
    import duckdb

    from etl_hero_spark.registry_stream import q_multimodal_validate

    got = {
        r["doc_id"]: (
            r["declared_mime"], r["sniffed_mime"], r["n_bytes"],
            r["is_truncated"], r["mime_ok"],
        )
        for r in q_multimodal_validate(spark, sf_dir).collect()
    }
    want = {
        d: tuple(rest)
        for d, *rest in duckdb.sql(
            "WITH src AS (SELECT doc_id, "
            "CASE doc_id % 4 WHEN 0 THEN from_hex('FFD8FFE0') || encode(text) "
            "WHEN 1 THEN from_hex('89504E470D0A1A0A') || encode(text) "
            "WHEN 2 THEN encode(text) "
            "ELSE from_hex('89504E470D0A1A0A') || encode(text) END AS media, "
            "CASE doc_id % 4 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png' "
            "WHEN 2 THEN 'application/octet-stream' ELSE 'image/jpeg' END AS declared "
            f"FROM '{sf_dir}/documents.parquet'), "
            "s AS (SELECT doc_id, declared, substring(hex(media), 1, 16) AS h, "
            "octet_length(media) AS n FROM src), "
            "t AS (SELECT doc_id, declared, n, "
            "CASE WHEN h LIKE 'FFD8FF%' THEN 'image/jpeg' "
            "WHEN h LIKE '89504E470D0A1A0A%' THEN 'image/png' "
            "WHEN h LIKE '47494638%' THEN 'image/gif' "
            "WHEN h LIKE '52494646%' THEN 'audio/wav' "
            "WHEN h LIKE '494433%' THEN 'audio/mpeg' "
            "WHEN h LIKE '25504446%' THEN 'application/pdf' "
            "ELSE 'application/octet-stream' END AS sniffed FROM s) "
            "SELECT doc_id, declared, sniffed, n, "
            "CASE WHEN n < 16 THEN 1 ELSE 0 END, "
            "CASE WHEN declared = sniffed OR declared = 'application/octet-stream' "
            "THEN 1 ELSE 0 END FROM t"
        ).fetchall()
    }
    assert got == want and len(got) > 0
    # the %4==3 class is the deliberate mismatch; everything else passes
    assert all(v[4] == 0 for d, v in got.items() if d % 4 == 3)
    assert all(v[4] == 1 for d, v in got.items() if d % 4 != 3)


def test_orc_round_trip_with_pushdown(spark, tmp_path, lineitem):
    """ORC round-trips exactly, and filters push to the ORC scan the
    same way they do for parquet."""
    from etl_hero_spark.io import read_orc, write_orc

    path = str(tmp_path / "li.orc")
    src = lineitem.select("l_orderkey", "l_quantity", "l_returnflag")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.count() == src.count()
    assert sorted(back.columns) == sorted(src.columns)
    got = back.filter(F.col("l_quantity") > 25)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split(
        "PushedFilters"
    )[1][:120]
    want = src.filter(F.col("l_quantity") > 25).count()
    assert got.count() == want


def test_resize_media_null_payload_survives(spark):
    """NULL payloads (the corrupt class) must resize to a zero canvas,
    not kill the task with bytes(None)."""
    from etl_hero_spark.multimodal import resize_media_stub

    df = spark.createDataFrame(
        [(1, b"abc"), (2, None)], "doc_id long, media binary"
    )
    rows = {r["doc_id"]: r for r in resize_media_stub(df, 4, 4).collect()}
    assert rows[2]["n_bytes"] == 16 and rows[2]["orig_n_bytes"] == 0
    assert bytes(rows[2]["media"]) == bytes(16)
    assert rows[1]["n_bytes"] == 16


def test_avro_gated(spark, tmp_path, lineitem):
    """Avro is edge ingest behind the spark-avro package: with it on
    the classpath the round-trip works; without it, a clean
    NotImplementedError (never an opaque ClassNotFound)."""
    from etl_hero_spark.io import read_avro, write_avro

    path = str(tmp_path / "li_avro")
    src = lineitem.select("l_orderkey", "l_quantity").limit(10)
    try:
        write_avro(src, path)
    except NotImplementedError:
        import pytest

        with pytest.raises(NotImplementedError):
            read_avro(spark, path)
        return
    back = read_avro(spark, path)
    assert back.count() == 10


def test_permissive_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    """JSONL twin of the permissive CSV posture: a truncated/garbage
    line lands in the corrupt column, clean lines parse, and the same
    ingest report counts both."""
    import pyspark.sql.functions as F

    from etl_hero_spark.io import csv_ingest_report, read_jsonl_permissive

    p = tmp_path / "shard.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok one"}\n'
        '{"doc_id": 2, "text": "truncat\n'  # truncated mid-record
        "not json at all\n"
        '{"doc_id": 3, "text": "ok three"}\n'
    )
    df = read_jsonl_permissive(
        spark, str(p), "doc_id long, text string"
    ).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r["doc_id"] for r in clean.collect()} == {1, 3}
    assert bad.count() == 2
    rep = csv_ingest_report(df).first()
    assert rep["n_rows"] == 4 and rep["n_corrupt"] == 2


def test_binary_file_ingest_to_wav_parse_end_to_end(spark, tmp_path):
    """The real multimodal loop with zero codec libraries: write actual
    WAV files with the stdlib, ingest them via the binaryFile source,
    validate magic bytes, and parse their headers — all in the JVM."""
    import io as _io
    import wave

    import pyspark.sql.functions as F

    from etl_hero_spark.io import read_binary_files
    from etl_hero_spark.multimodal import validate_media, wav_metadata

    def make_wav(rate, ch):
        buf = _io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(ch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00" * (rate * ch * 2))  # 1 second
        w.close()
        return buf.getvalue()

    (tmp_path / "a.wav").write_bytes(make_wav(8000, 1))
    (tmp_path / "b.wav").write_bytes(make_wav(16000, 2))
    (tmp_path / "junk.txt").write_bytes(b"not audio")
    df = read_binary_files(spark, str(tmp_path), "*.wav").withColumnRenamed(
        "content", "media"
    )
    assert df.count() == 2  # glob filter excluded junk.txt at listing
    out = {
        r["path"].rsplit("/", 1)[-1]: r
        for r in wav_metadata(
            validate_media(
                df.withColumn("declared_mime", F.lit("audio/wav"))
            )
        ).collect()
    }
    for name, rate, ch in [("a.wav", 8000, 1), ("b.wav", 16000, 2)]:
        r = out[name]
        assert r["sniffed_mime"] == "audio/wav" and r["mime_ok"] == 1
        assert r["is_wav"] == 1
        assert r["wav_rate_hz"] == rate and r["wav_channels"] == ch
        assert r["wav_duration_s"] == 1.0


# ---------------------------------------------------------------------------
# PNG header parse (round 4) — the WAV parse's image sibling
# ---------------------------------------------------------------------------


def test_png_metadata_parses_spec_exact_header(spark):
    """A byte-exact spec-assembled IHDR parses to the planted
    dimensions; truncated and wrong-magic rows gate to NULL."""
    import struct

    def png_header(w, h, depth=8, color=2):
        return (
            bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", w, h)
            + bytes([depth, color, 0, 0, 0])
            + b"\xde\xad\xbe\xef"
        )

    from etl_hero_spark.multimodal import png_metadata

    rows = [
        (1, bytearray(png_header(640, 480))),
        (2, bytearray(png_header(70000, 3, depth=16, color=6))),  # >2 bytes wide
        (3, bytearray(png_header(1, 1)[:20])),  # truncated
        (4, bytearray(b"\xff\xd8\xff\xe0" * 10)),  # JPEG magic
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    got = {r["id"]: r for r in png_metadata(df).collect()}
    assert (got[1]["png_width"], got[1]["png_height"]) == (640, 480)
    assert got[1]["png_bit_depth"] == 8 and got[1]["png_color_type"] == 2
    assert (got[2]["png_width"], got[2]["png_height"]) == (70000, 3)
    assert got[2]["png_bit_depth"] == 16 and got[2]["png_color_type"] == 6
    for i in (3, 4):
        assert got[i]["is_png"] == 0 and got[i]["png_width"] is None


def test_png_metadata_matches_real_encoder(spark):
    """Dimensions parsed from a REAL PNG encode must match what the
    encoder was asked for. Runs unconditionally on the vendored real
    encoder (valid zlib IDAT, CRC'd chunks — round-tripped through the
    vendored real decode as a self-check); cross-validated against PIL
    when present."""
    from miniimg import decode_png, encode_png

    from etl_hero_spark.multimodal import png_metadata

    png = encode_png(123, 45)
    assert decode_png(png) == (123, 45)  # a real decode accepts it
    if _HAS_PIL:
        import io as _io

        from PIL import Image

        assert Image.open(_io.BytesIO(png)).size == (123, 45)
    df = spark.createDataFrame(
        [(1, bytearray(png))], "id long, media binary"
    )
    row = png_metadata(df).first()
    assert (row["png_width"], row["png_height"]) == (123, 45)
    assert row["is_png"] == 1


def test_registered_png_query_matches_duckdb(spark, sf_dir):
    """The registered query's BE reads mirror DuckDB arithmetic over
    the same synthesized key-derived dimensions."""
    import duckdb

    from etl_hero_spark.registry import all_queries

    got = sorted(
        map(
            tuple,
            all_queries()["multimodal_png_metadata"](spark, sf_dir).collect(),
        )
    )
    want = sorted(
        duckdb.sql(
            f"""
            SELECT p_partkey,
              CASE WHEN p_partkey % 5 = 0 THEN 0 ELSE 1 END,
              CASE WHEN p_partkey % 5 = 0 THEN NULL
                   ELSE CAST(p_partkey % 1000 + 1 AS INT) END,
              CASE WHEN p_partkey % 5 = 0 THEN NULL
                   ELSE CAST((p_partkey * 7) % 800 + 1 AS INT) END,
              CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE 8 END,
              CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE 2 END
            FROM read_parquet('{sf_dir}/part.parquet')
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_jpeg_metadata_parses_spec_exact_headers(spark):
    """Hand-assembled spec JPEGs: SOF0 behind APP0+COM+DQT parses to
    the planted dimensions; SOF2 reports 'progressive'; SOS before any
    SOF, truncation mid-walk, and non-JPEG magic all gate to NULL
    dimensions instead of mis-reading."""
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(payload) + 2
        ) + payload

    def sof(marker, w, h, comps=3):
        return seg(
            marker,
            bytes([8])
            + struct.pack(">HH", h, w)
            + bytes([comps])
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"[: comps * 3],
        )

    soi = b"\xff\xd8"
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    com = seg(0xFE, b"made by hand")
    dqt = seg(0xDB, bytes(5))
    rows = [
        (1, bytearray(soi + app0 + com + dqt + sof(0xC0, 640, 480))),
        (2, bytearray(soi + app0 + sof(0xC2, 70, 9, comps=1))),
        (3, bytearray(soi + app0 + seg(0xDA, b"\x01\x01\x00"))),  # SOS first
        (4, bytearray((soi + app0 + com)[:9])),  # truncated mid-segment
        (5, bytearray(b"\x89PNG\r\n\x1a\n")),  # not a JPEG
    ]
    from etl_hero_spark.multimodal import jpeg_metadata

    got = {r["id"]: r for r in jpeg_metadata(
        spark.createDataFrame(rows, "id long, media binary")
    ).collect()}
    assert (got[1]["jpeg_width"], got[1]["jpeg_height"]) == (640, 480)
    assert got[1]["jpeg_sof"] == "baseline"
    assert got[1]["jpeg_components"] == 3
    assert (got[2]["jpeg_width"], got[2]["jpeg_height"]) == (70, 9)
    assert got[2]["jpeg_sof"] == "progressive"
    assert got[2]["jpeg_components"] == 1
    for i in (3, 4):
        assert got[i]["is_jpeg"] == 1 and got[i]["jpeg_width"] is None
    assert got[5]["is_jpeg"] == 0 and got[5]["jpeg_width"] is None


def test_jpeg_metadata_matches_real_encoder(spark):
    """Dimensions parsed from REAL baseline AND progressive encodes
    must match what the encoder was asked for. Runs unconditionally on
    the vendored real encoder (complete T.81 streams: DQT + SOF +
    one-symbol DHTs + valid per-block entropy scans); cross-validated
    against PIL's decoder when present."""
    from miniimg import encode_jpeg

    from etl_hero_spark.multimodal import jpeg_metadata

    base = encode_jpeg(123, 45)
    prog = encode_jpeg(32, 64, progressive=True)
    if _HAS_PIL:
        import io as _io

        from PIL import Image

        assert Image.open(_io.BytesIO(base)).size == (123, 45)
        assert Image.open(_io.BytesIO(prog)).size == (32, 64)
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(prog))],
        "id long, media binary",
    )
    got = {r["id"]: r for r in jpeg_metadata(df).collect()}
    assert (got[1]["jpeg_width"], got[1]["jpeg_height"]) == (123, 45)
    assert got[1]["jpeg_sof"] == "baseline"
    assert got[1]["jpeg_components"] == 1
    assert (got[2]["jpeg_width"], got[2]["jpeg_height"]) == (32, 64)
    assert got[2]["jpeg_sof"] == "progressive"


def test_registered_jpeg_query_matches_planted_arithmetic(spark, sf_dir):
    """The registered triage query's parsed dimensions reproduce the
    key arithmetic its synthesis used, row for row."""
    from etl_hero_spark.registry import all_queries

    rows = all_queries()["multimodal_jpeg_metadata"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        k = r["p_partkey"]
        if k % 5 == 0:
            assert r["is_jpeg"] == 0 and r["jpeg_width"] is None
        else:
            assert r["is_jpeg"] == 1
            assert r["jpeg_width"] == k % 1000 + 1
            assert r["jpeg_height"] == (k * 7) % 800 + 1
            assert r["jpeg_components"] == 3
            want = "progressive" if k % 7 == 0 else "baseline"
            assert r["jpeg_sof"] == want


def _maven_reachable(timeout=4):
    # NOTE: never socket.setdefaulttimeout here — it is PROCESS-GLOBAL
    # and breaks py4j's gateway sockets for every later Spark fixture
    import urllib.request

    try:
        urllib.request.urlopen(
            "https://repo1.maven.org/maven2/", timeout=timeout
        )
        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not _maven_reachable(),
    reason="Maven Central unreachable: spark-avro jar cannot resolve offline",
)
def test_avro_round_trip_when_jar_resolves(tmp_path):
    """VERDICT r4 #9: prove the Avro reader/writer happy path, not just
    its NotImplementedError gate. spark.jars.packages only applies at
    JVM launch, so the round-trip runs in a FRESH subprocess session
    with the package configured; offline environments skip above."""
    import subprocess
    import sys as _sys
    import textwrap

    import pyspark

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        from etl_hero_spark.io import read_avro, write_avro

        spark = (
            SparkSession.builder.master("local[2]")
            .appName("avro-roundtrip")
            .config(
                "spark.jars.packages",
                "org.apache.spark:spark-avro_2.13:{pyspark.__version__}",
            )
            .config("spark.sql.shuffle.partitions", "2")
            .getOrCreate()
        )
        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", None)], "id long, s string, v double"
        )
        write_avro(df, "{tmp_path}/avro_rt")
        back = read_avro(spark, "{tmp_path}/avro_rt")
        rows = sorted(tuple(r) for r in back.collect())
        assert rows == [(1, "a", 1.5), (2, "b", None)], rows
        assert dict(back.dtypes) == dict(df.dtypes), back.dtypes
        print("AVRO_RT_OK")
        spark.stop()
        """
    )
    proc = subprocess.run(
        [_sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "AVRO_RT_OK" in proc.stdout


def _box(typ, payload):
    import struct

    return struct.pack(">I", len(payload) + 8) + typ + payload


def _mvhd(version, timescale, duration):
    import struct

    if version == 0:
        body = (
            bytes([0, 0, 0, 0])
            + struct.pack(">II", 0, 0)  # ctime, mtime
            + struct.pack(">II", timescale, duration)
            + bytes(80)
        )
    else:
        body = (
            bytes([1, 0, 0, 0])
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">I", timescale)
            + struct.pack(">Q", duration)
            + bytes(80)
        )
    return _box(b"mvhd", body)


def test_mp4_metadata_parses_spec_boxes(spark):
    """Hand-assembled ISO-BMFF: ftyp + free + moov(mvhd + traks) parses
    brand/timescale/duration/track-count for BOTH mvhd versions;
    largesize boxes, missing moov, and non-MP4 magic gate to NULL."""
    import struct

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200))
    free = _box(b"free", b"")
    trak = _box(b"trak", b"")
    rows = [
        (1, bytearray(
            ftyp + free + _box(b"moov", _mvhd(0, 600, 1800) + trak + trak)
        )),
        (2, bytearray(ftyp + _box(b"moov", _mvhd(1, 90000, 450000) + trak))),
        (3, bytearray(ftyp + free)),  # no moov within the walk
        # largesize (size==1) stops the top-level walk before moov
        (4, bytearray(
            ftyp
            + struct.pack(">I", 1) + b"free" + struct.pack(">Q", 16)
            + _box(b"moov", _mvhd(0, 10, 50))
        )),
        (5, bytearray(b"RIFF\x24\x00\x00\x00WAVE")),  # not an MP4
    ]
    from etl_hero_spark.multimodal import mp4_metadata

    got = {r["id"]: r for r in mp4_metadata(
        spark.createDataFrame(rows, "id long, media binary")
    ).collect()}
    assert got[1]["is_mp4"] == 1 and got[1]["mp4_brand"] == "isom"
    assert got[1]["mp4_timescale"] == 600
    assert got[1]["mp4_duration_s"] == 3.0
    assert got[1]["mp4_n_tracks"] == 2
    assert got[2]["mp4_timescale"] == 90000
    assert got[2]["mp4_duration_s"] == 5.0
    assert got[2]["mp4_n_tracks"] == 1
    for i in (3, 4):
        assert got[i]["is_mp4"] == 1 and got[i]["mp4_timescale"] is None
    assert got[5]["is_mp4"] == 0 and got[5]["mp4_brand"] is None


def test_registered_mp4_query_matches_planted_arithmetic(spark, sf_dir):
    from etl_hero_spark.registry import all_queries

    rows = all_queries()["multimodal_mp4_metadata"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        k = r["p_partkey"]
        if k % 5 == 0:
            assert r["is_mp4"] == 0 and r["mp4_timescale"] is None
        else:
            ts = k % 9 + 1
            dur = (k * 3) % 1000 + 10
            assert r["is_mp4"] == 1 and r["mp4_brand"] == "isom"
            assert r["mp4_timescale"] == ts
            assert r["mp4_duration_s"] == round(dur / ts, 6)
            assert r["mp4_n_tracks"] == (2 if k % 2 == 0 else 1)


def test_triage_routed_counts_boundary_structures(spark, sf_dir):
    """The routing summary must COUNT the NULL path: the planted
    boundary rows (SOS-before-SOF/truncated JPEGs, largesize/to-EOF
    MP4s) land in n_routed, the synthesized fixture rows all parse,
    and n_format == n_parsed + n_routed per format."""
    from etl_hero_spark.registry import all_queries

    rows = {
        r["format"]: r
        for r in all_queries()["multimodal_triage_routed"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"jpeg", "mp4", "png"}
    for fmt, r in rows.items():
        assert r["n_format"] == r["n_parsed"] + r["n_routed"], fmt
        assert r["n_rows"] == r["n_format"] + r["n_foreign"], fmt
    # both planted JPEG boundary rows are recognized as JPEG yet route
    assert rows["jpeg"]["n_routed"] == 2
    # the largesize MP4 routes; the to-EOF moov stops the walk too
    assert rows["mp4"]["n_routed"] == 2
    # every synthesized PNG fixture row parses (no boundary plants)
    assert rows["png"]["n_routed"] == 0
    assert rows["png"]["n_parsed"] > 0


def test_gif_metadata_parses_spec_headers(spark):
    """Hand-assembled spec GIFs: 87a/89a logical screen descriptors
    parse to the planted dims; wrong version bytes and truncation gate
    to is_gif=0."""
    from etl_hero_spark.multimodal import gif_metadata

    def gif(version, w, h, packed):
        return (
            b"GIF" + version
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([packed, 0, 0])
        )

    rows = [
        (1, gif(b"89a", 12, 7, 0x91)),    # GCT, exp 1 -> 4 colors
        (2, gif(b"87a", 640, 480, 0x00)),  # no GCT
        (3, b"GIF90a" + b"\x00" * 7),      # bad version
        (4, b"GIF89a"),                    # truncated
        (5, b"\x89PNG\r\n\x1a\n"),         # foreign magic
    ]
    got = {
        r["id"]: r
        for r in gif_metadata(
            spark.createDataFrame(rows, "id long, media binary")
        ).collect()
    }
    assert (got[1]["gif_width"], got[1]["gif_height"]) == (12, 7)
    assert got[1]["gif_version"] == "89a"
    assert got[1]["gif_has_gct"] == 1 and got[1]["gif_gct_colors"] == 4
    assert (got[2]["gif_width"], got[2]["gif_height"]) == (640, 480)
    assert got[2]["gif_has_gct"] == 0 and got[2]["gif_gct_colors"] is None
    for i in (3, 4, 5):
        assert got[i]["is_gif"] == 0 and got[i]["gif_width"] is None


def test_webp_metadata_parses_all_three_layouts(spark):
    """Spec-exact VP8 (lossy), VP8L (lossless) and VP8X (extended)
    first chunks parse to the planted dims; a bad VP8 sync code and an
    unknown first chunk keep is_webp=1 with NULL dims (route to a real
    decoder); non-RIFF gates to 0."""
    import struct

    from etl_hero_spark.multimodal import webp_metadata

    def riff(fourcc, payload):
        body = b"WEBP" + fourcc + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", len(body)) + body

    lossy = riff(
        b"VP8 ",
        b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + struct.pack("<H", 123) + struct.pack("<H", 45) + b"\x00" * 8,
    )
    badsync = riff(
        b"VP8 ",
        b"\x00\x00\x00" + b"\x9d\x01\x2b"
        + struct.pack("<H", 123) + struct.pack("<H", 45) + b"\x00" * 8,
    )
    v = (33 - 1) | ((17 - 1) << 14)
    lossless = riff(
        b"VP8L", b"\x2f" + struct.pack("<I", v) + b"\x00" * 10
    )
    extended = riff(
        b"VP8X",
        b"\x00" + b"\x00" * 3
        + (2047).to_bytes(3, "little") + (1023).to_bytes(3, "little")
        + b"\x00" * 6,
    )
    unknown = riff(b"ICCP", b"\x00" * 20)
    rows = [
        (1, lossy), (2, lossless), (3, extended),
        (4, badsync), (5, unknown), (6, b"RIFX" + b"\x00" * 30),
    ]
    got = {
        r["id"]: r
        for r in webp_metadata(
            spark.createDataFrame(rows, "id long, media binary")
        ).collect()
    }
    assert (got[1]["webp_format"], got[1]["webp_width"],
            got[1]["webp_height"]) == ("lossy", 123, 45)
    assert (got[2]["webp_format"], got[2]["webp_width"],
            got[2]["webp_height"]) == ("lossless", 33, 17)
    assert (got[3]["webp_format"], got[3]["webp_width"],
            got[3]["webp_height"]) == ("extended", 2048, 1024)
    for i in (4, 5):
        assert got[i]["is_webp"] == 1 and got[i]["webp_width"] is None
    assert got[6]["is_webp"] == 0


def test_registered_gif_webp_query_matches_planted_arithmetic(spark, sf_dir):
    """The registered triage query's parsed dimensions reproduce the
    key arithmetic its synthesis used, row for row, and foreign-magic
    rows match neither format."""
    from etl_hero_spark.registry import all_queries

    rows = all_queries()["multimodal_gif_webp_metadata"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        k = r["p_partkey"]
        if k % 5 == 0:
            assert r["is_gif"] == 0 and r["is_webp"] == 0
        elif k % 2 == 0:
            assert r["is_gif"] == 1 and r["is_webp"] == 0
            assert r["gif_width"] == k % 1000 + 1
            assert r["gif_height"] == (k * 7) % 800 + 1
        else:
            assert r["is_webp"] == 1 and r["is_gif"] == 0
            assert r["webp_format"] == "lossy"
            assert r["webp_width"] == k % 1000 + 1
            assert r["webp_height"] == (k * 7) % 800 + 1


# ---------------------------------------------------------------------------
# image perceptual-hash near-dup rung (r10, VERDICT r9 #3)
# ---------------------------------------------------------------------------


def test_image_dhash_matches_python_reference(spark):
    """The Spark dHash (mapInPandas) is bit-identical to the driver-
    side pure-Python reference over real decoded pixels, and the
    decode is the REAL stdlib PNG path (png_decode_rgb round-trips
    synth_png_media's CRC'd output)."""
    import pyspark.sql.functions as F

    from etl_hero_spark.multimodal import (
        dhash64_rgb,
        png_decode_dims,
        png_decode_rgb,
        synth_png_media,
        with_image_dhash,
    )

    ids = spark.range(0, 24).select(F.col("id").alias("doc_id"))
    media = synth_png_media(ids)
    rows = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    got = {
        r["doc_id"]: r["dhash"]
        for r in with_image_dhash(media).collect()
    }
    assert len(got) == 24
    for did, png in rows.items():
        w, h, rgb = png_decode_rgb(png)
        assert (w, h) == (9, 8) and len(rgb) == w * h * 3
        assert png_decode_dims(png) == (9, 8, 1)
        assert got[did] == dhash64_rgb(w, h, rgb)


def test_image_neardup_banding_equals_bruteforce(spark):
    """Banded Hamming candidates == the all-pairs popcount truth at
    max_hamming=3 (pigeonhole exactness, not just recall), planted
    couples all found, unrelated images not paired, and an
    undecodable payload is excluded rather than crashing."""
    import pyspark.sql.functions as F

    from etl_hero_spark.multimodal import (
        image_neardup_pairs,
        synth_png_media,
        with_image_dhash,
    )

    ids = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    media = synth_png_media(ids).unionByName(
        spark.createDataFrame(
            [(999, bytearray(b"not a png at all"))],
            "doc_id long, media binary",
        )
    )
    sh = {
        r["doc_id"]: r["dhash"]
        for r in with_image_dhash(media).collect()
    }
    assert sh[999] is None  # undecodable -> NULL, not a crash
    truth = set()
    keys = [k for k in sh if sh[k] is not None]
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            lo, hi = min(a, b), max(a, b)
            if bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1") <= 3:
                truth.add((lo, hi))
    got = {
        (r["id_a"], r["id_b"])
        for r in image_neardup_pairs(media).collect()
    }
    assert got == truth
    for k in range(30):
        assert (2 * k, 2 * k + 1) in got  # every planted couple
    assert all(b != 999 and a != 999 for a, b in got)


def test_hash64_banding_guards(spark):
    """Pigeonhole preconditions fail loudly: n_bands must exceed
    max_hamming and divide 64."""
    import pytest

    from etl_hero_spark.dedup import hash64_candidate_pairs

    sh = spark.createDataFrame([(1, 5), (2, 7)], "id long, h long")
    with pytest.raises(ValueError, match="must exceed"):
        hash64_candidate_pairs(sh, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        hash64_candidate_pairs(sh, max_hamming=4, n_bands=5)


def test_registered_image_neardup_report(spark, sf_dir):
    """The registered report finds EVERY planted couple (one per
    consecutive-id pair), no unplanted pairs on the fixture, and the
    triage rows account for the whole corpus."""
    from etl_hero_spark.registry_stream import q_multimodal_image_neardup

    rows = q_multimodal_image_neardup(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    planted = sum(
        r["n_pairs"] for r in rows
        if r["part"] == "pairs" and r["is_planted"] == 1
    )
    unplanted = sum(
        r["n_pairs"] for r in rows
        if r["part"] == "pairs" and r["is_planted"] == 0
    )
    assert planted == n_docs // 2
    assert unplanted == 0
    triage = {r["part"]: r["n_pairs"] for r in rows if r["part"].startswith("triage")}
    assert triage == {"triage_decoded": n_docs, "triage_total": n_docs}
