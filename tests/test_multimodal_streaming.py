"""Multimodal binary-column plumbing and batch/stream parity."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
    attach_fake_blobs,
    decode_images,
    extract_features,
    sample_frames,
)
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import load
from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import (
    run_available_now,
    sessionized,
    stream_events,
    tumbling_counts,
)


def test_multimodal_decode_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "spark")], "id int, text string")
    blobs = attach_fake_blobs(docs, "text")
    assert dict(blobs.dtypes)["content"] == "binary"
    decoded = decode_images(blobs)
    rows = decoded.orderBy("id").collect()
    assert {r["id"] for r in rows} == {1, 2}
    for r in rows:
        assert 64 <= r["width"] <= 255 and 64 <= r["height"] <= 255
        assert r["media_meta"]["size_bytes"] == len(bytes(r["content"]))
    # deterministic: same bytes -> same dims on rerun
    again = decode_images(blobs).orderBy("id").collect()
    assert [(r["width"], r["height"]) for r in rows] == [
        (r["width"], r["height"]) for r in again
    ]


def test_multimodal_features_shape(spark):
    docs = spark.createDataFrame([(1, "abc")], "id int, text string")
    out = extract_features(attach_fake_blobs(docs, "text"), dim=8).first()
    assert len(out["features"]) == 8
    assert all(-1.0 <= f <= 1.0 for f in out["features"])


def test_sample_frames(spark):
    docs = spark.createDataFrame([(1, "x" * 100)], "id int, text string")
    frames = sample_frames(
        attach_fake_blobs(docs, "text"), frame_bytes=16, every_n=2
    ).collect()
    # 100 bytes -> 6 frames (0..5), every 2nd -> indices 0,2,4
    assert [r["frame_index"] for r in frames] == [0, 2, 4]
    assert all(len(bytes(r["frame"])) == 16 for r in frames[:2])


def test_stream_batch_parity_tumbling(spark):
    batch = load(spark, "/root/testdata/sf0.001", "events")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        batch.write.parquet(src)
        sdf = stream_events(spark, src)
        assert sdf.isStreaming
        stream_result = run_available_now(
            tumbling_counts(sdf, watermark="1 hour"), "tumbling_parity"
        )
        batch_result = tumbling_counts(batch)
        assert sorted(map(tuple, stream_result.collect())) == sorted(
            map(tuple, batch_result.collect())
        )


def test_stream_batch_parity_sessions(spark):
    batch = load(spark, "/root/testdata/sf0.001", "events")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        batch.write.parquet(src)
        sdf = stream_events(spark, src)
        stream_result = run_available_now(
            sessionized(sdf, watermark="1 hour"), "session_parity"
        )
        batch_result = sessionized(batch)
        assert sorted(map(tuple, stream_result.collect())) == sorted(
            map(tuple, batch_result.collect())
        )


def test_stateful_running_totals(spark):
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import (
        running_user_totals,
    )

    batch = load(spark, "/root/testdata/sf0.001", "events")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        batch.write.parquet(src)
        sdf = stream_events(spark, src)
        got = run_available_now(
            running_user_totals(sdf), "stateful_totals", output_mode="update"
        ).collect()
    expected = {
        r["user_id"]: (r["n"], r["t"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("t")
        )
        .collect()
    }
    assert {r["user_id"]: (r["n_events"], r["total_value"]) for r in got} == expected


def test_stream_dedup_exactly_once(spark):
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        dedup_events,
    )

    batch = load(spark, "/root/testdata/sf0.001", "events")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        # simulate at-least-once delivery: every event lands twice
        batch.write.parquet(src)
        batch.write.mode("append").parquet(src)
        sdf = stream_events(spark, src)
        got = run_available_now(
            dedup_events(sdf, ("event_id",), watermark="1 hour"),
            "stream_dedup_t",
            output_mode="append",
        )
        assert got.count() == batch.count()
        # batch path: same builder, same answer
        doubled = spark.read.parquet(src)
        assert dedup_events(doubled, ("event_id",)).count() == batch.count()


def test_resize_and_audio_stubs(spark):
    import hashlib

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        attach_fake_blobs,
        decode_audio,
        resize_images,
    )

    df = spark.createDataFrame([(1, "hello world"), (2, None)], "id int, text string")
    blobs = attach_fake_blobs(df, "text")
    r = {x["id"]: x for x in resize_images(blobs, target_w=32, target_h=16).collect()}
    assert r[1]["width"] == 32 and r[1]["height"] == 16
    assert bytes(r[1]["resized"]) == hashlib.sha256(b"hello world" + b"32x16").digest()
    a = {x["id"]: x for x in decode_audio(blobs).collect()}
    h = hashlib.sha256(b"hello world").digest()
    rate = (16000, 22050, 44100, 48000)[h[0] % 4]
    ch = 1 + h[1] % 2
    assert a[1]["sample_rate"] == rate and a[1]["n_channels"] == ch
    assert a[1]["duration_seconds"] == 11 / (rate * 2 * ch)
    # null payload -> empty bytes, duration 0
    assert a[2]["duration_seconds"] == 0.0


def test_real_bmp_decode_and_resize(spark):
    """The REAL pure-Python codec tier on genuine bytes, in this
    container: a 24-bpp BMP round-trips through decode (true header
    parse) and resize (true nearest-neighbor resample emitting a valid
    BMP), distinguishing real outputs from the sha256 stub."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        decode_images,
        encode_bmp,
        resize_images,
    )

    # 4x2 image, distinct pixel per column so resampling is observable
    px = bytes(
        [
            255, 0, 0,   0, 255, 0,   0, 0, 255,   255, 255, 0,   # row 0
            10, 10, 10,  20, 20, 20,  30, 30, 30,  40, 40, 40,    # row 1
        ]
    )
    bmp = encode_bmp(4, 2, px)
    df = spark.createDataFrame(
        [(1, bmp), (2, b"not a bitmap")], "id int, content binary"
    )
    d = {r["id"]: r for r in decode_images(df).collect()}
    assert (d[1]["width"], d[1]["height"], d[1]["channels"]) == (4, 2, 3)
    # non-BMP falls to the deterministic fake tier (dims in 64..255)
    assert 64 <= d[2]["width"] <= 255

    r = {r["id"]: r for r in resize_images(df, target_w=2, target_h=1).collect()}
    out = bytes(r[1]["resized"])
    # output is itself a decodable 2x1 24-bpp BMP...
    rd = decode_images(
        spark.createDataFrame([(9, out)], "id int, content binary")
    ).collect()[0]
    assert (rd["width"], rd["height"], rd["channels"]) == (2, 1, 3)
    # ...whose pixels are true nearest-neighbor picks from the source
    # (top-down sy = ty*h//th = 0 -> row 0; sx = 0,2 -> red, blue).
    # encode_bmp stores STANDARD BI_RGB sample order (B,G,R), so red
    # lands as (0,0,255) and blue as (255,0,0) in the raw row.
    data_off = out[10] | (out[11] << 8) | (out[12] << 16) | (out[13] << 24)
    row = out[data_off : data_off + 6]
    assert row == bytes([0, 0, 255, 255, 0, 0])


def test_bmp_bgr_storage_matches_png_hash(spark):
    """A STANDARD externally-produced BMP (B,G,R samples, bottom-up
    rows — built by hand here, not via encode_bmp) of a color image
    decodes to the same RGB pixels as its PNG re-encode and therefore
    perceptual-hashes identically; a channel-order defect would give a
    saturated red image blue's luma weight and break the pair."""
    import struct as st

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _decode_bmp,
        encode_bmp,
        encode_png,
        image_perceptual_hash,
    )

    # 8x8: left half red, right half green (distinct R/G/B weights)
    rgb = bytes(
        v
        for y in range(8)
        for x in range(8)
        for v in ((255, 0, 0) if x < 4 else (0, 200, 0))
    )
    # hand-rolled standard BMP: BGR samples, bottom-up rows
    row_raw = 8 * 3
    rows = []
    for y in range(7, -1, -1):
        r = bytearray(rgb[y * row_raw : (y + 1) * row_raw])
        r[0::3], r[2::3] = r[2::3], r[0::3]
        rows.append(bytes(r))
    data = b"".join(rows)
    off = 54
    hand_bmp = (
        st.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
        + st.pack("<IiiHHIIiiII", 40, 8, 8, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )
    # the decoder must give back the ORIGINAL RGB buffer
    assert _decode_bmp(hand_bmp) == (8, 8, 3, rgb)
    # and our own encoder must produce the identical standard file
    assert encode_bmp(8, 8, rgb) == hand_bmp
    df = spark.createDataFrame(
        [(1, hand_bmp), (2, encode_png(8, 8, rgb, 3))],
        "doc_id long, content binary",
    )
    hs = {r["doc_id"]: r["phash"] for r in image_perceptual_hash(df).collect()}
    assert hs[1] is not None and hs[1] == hs[2]


def test_real_wav_decode(spark):
    """The REAL RIFF/PCM tier (stdlib wave): sample rate, channels and
    duration come from the actual header, not the sha256 fake."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        decode_audio,
        encode_wav,
    )

    # 8000 Hz mono, 4000 frames of silence = 0.5 s
    wav = encode_wav(8000, 1, b"\x00\x00" * 4000)
    stereo = encode_wav(44100, 2, b"\x01\x02\x03\x04" * 441)  # 441 frames
    df = spark.createDataFrame(
        [(1, wav), (2, stereo), (3, b"mp3-ish garbage")],
        "id int, content binary",
    )
    a = {r["id"]: r for r in decode_audio(df).collect()}
    assert (a[1]["sample_rate"], a[1]["n_channels"]) == (8000, 1)
    assert a[1]["duration_seconds"] == 0.5
    assert (a[2]["sample_rate"], a[2]["n_channels"]) == (44100, 2)
    assert abs(a[2]["duration_seconds"] - 0.01) < 1e-9
    # non-WAV falls to the deterministic fake tier
    assert a[3]["sample_rate"] in (16000, 22050, 44100, 48000)


def test_stream_static_join_parity(spark):
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_static_join,
    )

    batch = load(spark, "/root/testdata/sf0.001", "events")
    dim = load(spark, "/root/testdata/sf0.001", "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cond = F.col("c_custkey") == F.col("user_id")

    def agg(df):
        return df.groupBy("c_mktsegment").agg(F.count("*").alias("n"))

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        batch.write.parquet(src)
        sdf = stream_events(spark, src)
        joined = stream_static_join(sdf, dim, cond)
        assert joined.isStreaming
        stream_result = run_available_now(agg(joined), "enrich_parity")
        batch_result = agg(stream_static_join(batch, dim, cond))
        assert sorted(map(tuple, stream_result.collect())) == sorted(
            map(tuple, batch_result.collect())
        )


def test_real_png_decode_dependency_free(spark):
    """Exercises the REAL PNG tier (stdlib zlib, no PIL) end-to-end:
    encode a known pixel buffer, decode through the Spark path, and
    pin both header dims and the exact unfiltered pixel bytes."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _decode_png,
        decode_images,
        encode_png,
        resize_images,
    )

    w, h = 37, 21
    rgb = bytes((x * 7 + y * 13 + c * 29) % 256
                for y in range(h) for x in range(w) for c in range(3))
    png = encode_png(w, h, rgb, channels=3)
    # local roundtrip is pixel-exact (zlib deflate is lossless)
    assert _decode_png(png) == (w, h, 3, rgb)
    # RGBA too
    rgba = bytes((x + y + c) % 256
                 for y in range(4) for x in range(5) for c in range(4))
    assert _decode_png(encode_png(5, 4, rgba, channels=4)) == (5, 4, 4, rgba)

    df = spark.createDataFrame(
        [(1, png), (2, b"not a png")], "id int, content binary"
    )
    rows = {r["id"]: r for r in decode_images(df).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (
        w, h, 3,
    )
    # real nearest-neighbor PNG resize: output is itself a decodable PNG
    out = {r["id"]: r for r in
           resize_images(df, target_w=8, target_h=6).collect()}
    rw, rh, rch, rpx = _decode_png(bytes(out[1]["resized"]))
    assert (rw, rh, rch) == (8, 6, 3)
    # corner pixel survives nearest-neighbor exactly
    assert rpx[:3] == rgb[:3]
    # non-PNG payload fell through to the sha256 stand-in
    assert len(bytes(out[2]["resized"])) == 32


def test_real_jpeg_decode_dependency_free(spark):
    """Exercises the REAL baseline-JPEG tier (pure Python, no PIL):
    encode known pixel buffers, decode through both the local codec
    and the Spark path, and pin dims exactly + pixels within a
    quantization tolerance (JPEG is lossy — tolerance, not bytes)."""
    import math

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_header,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        decode_images,
        resize_images,
    )

    w, h = 37, 29  # not multiples of 8 or 16: exercises edge blocks
    gray = bytes(
        int(127 + 120 * math.sin(x / 6) * math.cos(y / 5))
        for y in range(h) for x in range(w)
    )
    rgb = bytes(
        int(127 + 120 * math.sin((x + 40 * c) / 7) * math.cos(y / 6))
        for y in range(h) for x in range(w) for c in range(3)
    )
    jg = encode_jpeg(w, h, gray, channels=1, quality=92)
    jc = encode_jpeg(w, h, rgb, channels=3, quality=92)
    assert parse_jpeg_header(jg) == (w, h, 1)
    assert parse_jpeg_header(jc) == (w, h, 3)
    for blob, src, ch in ((jg, gray, 1), (jc, rgb, 3)):
        dw, dh, dc, px = decode_jpeg(blob)
        assert (dw, dh, dc) == (w, h, ch)
        errs = [abs(a - b) for a, b in zip(px, src)]
        assert max(errs) <= 12 and sum(errs) / len(errs) <= 3.0
    # 4:2:0 (the dominant real-world layout) and restart markers both
    # roundtrip through the same decoder
    for kw in (
        {"subsampling": "420"},
        {"restart_interval": 3},
        {"subsampling": "420", "restart_interval": 2},
    ):
        blob = encode_jpeg(w, h, rgb, channels=3, quality=92, **kw)
        dw, dh, dc, px = decode_jpeg(blob)
        assert (dw, dh, dc) == (w, h, 3)
        errs = [abs(a - b) for a, b in zip(px, rgb)]
        assert max(errs) <= 40 and sum(errs) / len(errs) <= 4.0, kw
    # progressive-ish / truncated payloads fall through, never crash
    assert decode_jpeg(b"\xff\xd8\xff\xc2" + bytes(20)) is None
    assert decode_jpeg(jc[:40]) is None
    # spec-legal variants other encoders emit must NOT fall through to
    # the stub tier: (a) 0xFF fill bytes before a marker (T.81 B.1.1.2)
    filled = jg[:2] + b"\xff\xff" + jg[2:]
    assert parse_jpeg_header(filled) == (w, h, 1)
    df2 = decode_jpeg(filled)
    assert df2 is not None and df2[:3] == (w, h, 1)
    # (b) single-component SOF declaring 2x2 sampling: non-interleaved
    # scan, factors are ratios only — block grid stays ceil(w/8)xceil(h/8)
    import struct as _struct  # noqa: F401

    sof = jg.index(b"\xff\xc0")
    hv_off = sof + 4 + 6 + 1  # len(2) prec(1) h(2) w(2) nc(1) cid(1)
    patched = bytearray(jg)
    assert patched[hv_off] == 0x11
    patched[hv_off] = 0x22
    dp = decode_jpeg(bytes(patched))
    assert dp is not None and dp[:3] == (w, h, 1)
    assert max(abs(a - b) for a, b in zip(dp[3], gray)) <= 12

    # Spark path: dims through decode_images, real resize output is
    # itself a decodable baseline JPEG
    df = spark.createDataFrame(
        [(1, jc), (2, jg)], "id int, content binary"
    )
    rows = {r["id"]: r for r in decode_images(df).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["channels"]) == (w, h, 3)
    assert (rows[2]["width"], rows[2]["height"], rows[2]["channels"]) == (w, h, 1)
    out = {r["id"]: r for r in resize_images(df, target_w=8, target_h=6).collect()}
    rw, rh, rc, _ = decode_jpeg(bytes(out[1]["resized"]))
    assert (rw, rh, rc) == (8, 6, 3)


def test_png_decode_rejects_decompression_bombs():
    """Untrusted-blob hardening: a forged huge-IHDR header is rejected
    before any inflate, and a tiny IDAT that expands far past the
    IHDR-promised size is cut off at the bound (unconsumed_tail) and
    rejected — never materialized executor-side. A well-formed PNG
    still decodes."""
    import struct
    import zlib

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _decode_png,
        encode_png,
    )

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # (a) forged huge IHDR (2^15 x 2^15 = 1 Gpx) over a tiny IDAT:
    # rejected by the pixel cap before any inflate happens
    ihdr_huge = chunk(
        b"IHDR", struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 2, 0, 0, 0)
    )
    tiny = chunk(b"IDAT", zlib.compress(b"\x00" * 100))
    assert _decode_png(sig + ihdr_huge + tiny + chunk(b"IEND", b"")) is None
    # (b) honest small IHDR (4x4 gray) but an IDAT that inflates to
    # ~50 MB: must be rejected WITHOUT materializing the 50 MB (the
    # bounded inflate stops at the promised 4*(1+4)=20 bytes)
    ihdr_small = chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    )
    bomb = chunk(b"IDAT", zlib.compress(b"\x00" * (50 << 20)))
    assert len(bomb) < 70000  # the blob itself is tiny
    assert _decode_png(sig + ihdr_small + bomb + chunk(b"IEND", b"")) is None
    # (c) truncated stream (inflates SHORT of the promise): rejected
    short = chunk(b"IDAT", zlib.compress(b"\x00" * 7))
    assert _decode_png(sig + ihdr_small + short + chunk(b"IEND", b"")) is None
    # (d) a well-formed PNG still decodes exactly
    px = bytes(range(16))
    assert _decode_png(encode_png(4, 4, px, channels=1)) == (4, 4, 1, px)


def test_jpeg_tier_guard_and_pil_cross_validation(spark):
    """Baseline (round 9) AND progressive (round 10) JPEG decode for
    real without PIL, so the guard passes unconditionally for both;
    only the residual arithmetic-coded tier still demands PIL. With
    PIL, a PIL-written PNG must decode to the same dims through our
    pure tier."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _HAVE_PIL,
        decode_images,
        require_real_decode,
    )

    require_real_decode()  # baseline JPEG is dependency-free now
    require_real_decode(progressive_jpeg=True)  # so is progressive now
    if not _HAVE_PIL:
        with pytest.raises(NotImplementedError, match="arithmetic"):
            require_real_decode(arithmetic_jpeg=True)
        return
    import io as _io

    from PIL import Image as PIL

    require_real_decode()  # must not raise when PIL importable
    buf = _io.BytesIO()
    PIL.new("RGB", (37, 21)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([(1, png)], "id int, content binary")
    row = decode_images(df).collect()[0]
    assert (row["width"], row["height"], row["channels"]) == (37, 21, 3)


def test_stream_to_warehouse_foreachbatch(spark):
    """Streaming tumbling agg landed in the warehouse via foreachBatch
    must equal the batch aggregation — the streaming twin of the
    reference's gold->Snowflake write, through the same WarehouseSink."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        WarehouseSink,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import (
        stream_to_warehouse,
        tumbling_counts,
    )

    batch = load(spark, "/root/testdata/sf0.001", "events")
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        ck = os.path.join(d, "ck")
        batch.write.parquet(src)
        sdf = stream_events(spark, src)
        stream_to_warehouse(
            tumbling_counts(sdf, watermark="1 hour"),
            WarehouseSink(),
            "wh_stream_tumbling",
            ck,
        )
        got = spark.table("wh_stream_tumbling")
        want = tumbling_counts(batch)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_stream_batch_parity_interval_join(spark):
    """Stream-stream interval join (symmetric stateful join, watermarks
    on both sides) must equal the identical batch join — including when
    matches span micro-batches: each side streams one file per trigger,
    so click/purchase pairs form across triggers from buffered state."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        interval_join,
    )

    batch = load(spark, "/root/testdata/sf0.001", "events")

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return clicks, purchases

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        # two files so maxFilesPerTrigger=1 forces cross-batch matches
        batch.filter(F.col("event_id") % 2 == 0).write.parquet(src + "/f1")
        batch.filter(F.col("event_id") % 2 == 1).write.parquet(src + "/f2")
        sdf = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        sc, sp = sides(sdf)
        joined = interval_join(
            sc, sp, "user_id", "click_ts", "purchase_ts", "6 hours",
            watermark="30 days",
        )
        stream_result = run_available_now(
            joined, "interval_parity", output_mode="append"
        )
        bc, bp = sides(batch)
        batch_result = interval_join(
            bc, bp, "user_id", "click_ts", "purchase_ts", "6 hours"
        )
        assert sorted(map(tuple, stream_result.collect())) == sorted(
            map(tuple, batch_result.collect())
        )
        assert len(batch_result.collect()) > 0


def test_interval_join_lower_bound_and_left_outer(spark):
    """Contract pins: the lower bound excludes matches before
    left_ts+lower, and how='left' keeps unmatched left rows with NULL
    right columns."""
    import datetime as dt

    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        interval_join,
    )

    T = dt.datetime
    left = spark.createDataFrame(
        [(1, 10, T(2020, 1, 1, 12, 0)), (2, 11, T(2020, 1, 1, 12, 0))],
        "user_id int, click_id int, click_ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, 20, T(2020, 1, 1, 12, 0, 30)),   # 30s after: below lower
            (1, 21, T(2020, 1, 1, 12, 2)),       # 2min after: in [1m, 5m]
            (1, 22, T(2020, 1, 1, 12, 10)),      # 10min after: above upper
        ],
        "user_id int, purchase_id int, purchase_ts timestamp",
    )
    inner = interval_join(
        left, right, "user_id", "click_ts", "purchase_ts",
        upper="5 minutes", lower="1 minute",
    )
    assert [(r["click_id"], r["purchase_id"]) for r in inner.collect()] == [(10, 21)]

    outer = interval_join(
        left, right, "user_id", "click_ts", "purchase_ts",
        upper="5 minutes", lower="1 minute", how="left",
    )
    got = {(r["click_id"], r["purchase_id"]) for r in outer.collect()}
    assert got == {(10, 21), (11, None)}  # user 2 survives unmatched


def test_interval_join_rejects_right_and_full(spark):
    """Right/full joins would surface right-only rows with a NULL key
    (the right key column is dropped) — rejected with guidance."""
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        interval_join,
    )

    df = spark.createDataFrame([(1, None)], "user_id int, a_ts timestamp")
    df2 = spark.createDataFrame([(1, None)], "user_id int, b_ts timestamp")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="swap the sides"):
            interval_join(df, df2, "user_id", "a_ts", "b_ts", "1 hour", how=how)


def test_interval_join_watermark_drops_late_right_rows(spark):
    """Watermark EVICTION under genuinely late data, micro-batch by
    micro-batch (availableNow, one file per trigger). Stream-stream
    join semantics: a left click is evicted once
    ``watermark > click_ts + upper``, and a right purchase arriving
    with ``purchase_ts < watermark - upper`` is dropped because every
    left row it could match is provably gone. Batch 1 advances the
    watermark to 12:50 (both sides); batch 2 runs WITH that watermark,
    so at its end the 11:00 click is evicted (11:00 + 1h < 12:50 —
    eviction is lazy: it uses the watermark current DURING a batch,
    which trails the data by one batch). Batch 3's 11:40 purchase —
    inside that click's interval, and a real match in batch mode
    (asserted) — must produce nothing, while a 12:55 purchase still
    matches the 12:45 click buffered since batch 1."""
    import datetime as dt
    import os as _os

    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        interval_join,
    )

    T = dt.datetime
    schema = "user_id int, event_id int, event_type string, ts timestamp"
    f1_rows = [
        (1, 100, "click", T(2020, 1, 1, 11, 0)),
        (1, 200, "purchase", T(2020, 1, 1, 11, 30)),  # in-batch match
        (2, 101, "click", T(2020, 1, 1, 12, 45)),
        # driver rows push BOTH sides' max event time to 13:00, so the
        # query watermark after batch 1 is 12:50 (min over both sides)
        (8, 102, "click", T(2020, 1, 1, 13, 0)),
        (9, 201, "purchase", T(2020, 1, 1, 13, 0)),
    ]
    f2_rows = [
        # filler batch: runs under watermark 12:50 so its END evicts
        # click 100 from state; adds no matches and no new max event
        (7, 103, "click", T(2020, 1, 1, 12, 55)),
    ]
    f3_rows = [
        # 11:40 < watermark - upper = 11:50: its only possible match
        # (click 100 at 11:00, interval [11:00, 12:00]) was evicted at
        # the end of batch 2 — the row must produce nothing
        (1, 202, "purchase", T(2020, 1, 1, 11, 40)),
        # 12:55: inside [12:45, 13:45] of the still-buffered click 101
        (2, 203, "purchase", T(2020, 1, 1, 12, 55)),
    ]

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return clicks, purchases

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "stream-src")
        spark.createDataFrame(f1_rows, schema).coalesce(1).write.parquet(src + "/f1")
        spark.createDataFrame(f2_rows, schema).coalesce(1).write.parquet(src + "/f2")
        spark.createDataFrame(f3_rows, schema).coalesce(1).write.parquet(src + "/f3")
        # file source processes oldest-mtime first: pin the order so f1
        # is batch 1 regardless of write timing granularity
        now = dt.datetime.now().timestamp()
        for sub, mtime in (("f1", now - 180), ("f2", now - 120), ("f3", now - 60)):
            for fname in _os.listdir(f"{src}/{sub}"):
                _os.utime(f"{src}/{sub}/{fname}", (mtime, mtime))
        sdf = (
            spark.readStream.schema(
                spark.createDataFrame(f1_rows, schema).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        sc, sp = sides(sdf)
        joined = interval_join(
            sc, sp, "user_id", "click_ts", "purchase_ts",
            upper="1 hour", watermark="10 minutes",
        )
        got = {
            (r["click_id"], r["purchase_id"])
            for r in run_available_now(
                joined, "interval_late_drop", output_mode="append"
            ).collect()
        }
        # batch mode on the union of both files DOES match (100, 202):
        # the streaming miss below is watermark eviction, not the
        # interval predicate
        all_rows = spark.createDataFrame(f1_rows + f2_rows + f3_rows, schema)
        bc, bp = sides(all_rows)
        batch_pairs = {
            (r["click_id"], r["purchase_id"])
            for r in interval_join(
                bc, bp, "user_id", "click_ts", "purchase_ts", upper="1 hour"
            ).collect()
        }
        assert (100, 202) in batch_pairs
    assert (100, 202) not in got          # beyond-watermark row dropped
    assert (100, 200) in got              # in-batch match
    assert (101, 203) in got              # in-window cross-batch match


def test_multimodal_features_feed_embedding_dedup(spark):
    """Cross-tier composition: blobs → deterministic feature vectors →
    the embedding-cosine dedup tier. Byte-identical blobs produce
    identical features (cos = 1.0), so image-level exact dups fall out
    of the SAME dedup operators the text tier uses — the
    image-dedup-by-embedding pipeline with the encoder stubbed."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        embedding_cosine_dedup,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        attach_fake_blobs,
        extract_features,
    )

    df = spark.createDataFrame(
        [(1, "photo of a cat"), (2, "photo of a cat"), (3, "diagram of spark")],
        "doc_id bigint, text string",
    )
    feats = extract_features(attach_fake_blobs(df, "text"), dim=16)
    kept = embedding_cosine_dedup(
        feats.select("doc_id", F.col("features").alias("embedding")),
        "doc_id",
        "embedding",
        threshold=0.9999,
        impl="exact",
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3]


def test_stream_corpus_dedup_appends_survivors_across_batches(spark, tmp_path):
    """Streaming near-dup curation against the persisted MinHash index:
    batch 2's near-dup of a batch-1 SURVIVOR must be dropped (the index
    accreted batch 1), and genuinely new documents must append."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        minhash_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_corpus_dedup,
    )

    base_text = " ".join(f"tok{i}" for i in range(40))
    other_text = " ".join(f"zz{i} qq{i}" for i in range(40))
    third_text = " ".join(f"new{i} doc{i}" for i in range(40))
    corpus = spark.createDataFrame([(1, base_text)], "doc_id long, text string")
    spark.sql("DROP TABLE IF EXISTS stream_mh_idx")
    minhash_build_index(corpus, "stream_mh_idx")

    feed = str(tmp_path / "feed")
    schema = "doc_id long, text string"
    # batch 1: near-dup of the corpus (dropped) + a new doc (survives)
    spark.createDataFrame(
        [(10, base_text + " extra"), (11, other_text)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    # batch 2: near-dup of batch 1's SURVIVOR + a brand-new doc
    spark.createDataFrame(
        [(20, other_text + " tail"), (21, third_text)], schema
    ).coalesce(1).write.mode("append").parquet(feed)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_corpus_dedup(
        sdf, "stream_mh_idx", checkpoint_dir=str(tmp_path / "ck"),
        threshold=0.5,
    )
    indexed = {
        r.doc_id
        for r in spark.table("stream_mh_idx").select("doc_id").distinct().collect()
    }
    # 10 dropped vs corpus; 20 dropped vs 11 (works only if batch 1's
    # survivors were appended before batch 2 probed); 11 and 21 accreted
    assert indexed == {1, 11, 21}


def test_stream_frequency_sketch_merges_batches_into_table(spark, tmp_path):
    """Streaming CMS state: the persisted sketch after two micro-batches
    must equal the sketch of the concatenated stream (merge losslessness
    end-to-end), and lookups over it must upper-bound the true counts."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        cms_lookup,
        cms_sketch,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_frequency_sketch,
    )

    spark.sql("DROP TABLE IF EXISTS stream_cms")
    feed = str(tmp_path / "cms_feed")
    schema = "user_id long"
    b1 = [(i % 5,) for i in range(40)]          # users 0-4, 8 each
    b2 = [(3,)] * 30 + [(9,)] * 10              # user 3 goes hot
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(feed)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(feed)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_frequency_sketch(
        sdf, "stream_cms", checkpoint_dir=str(tmp_path / "cms_ck"),
        keys=[], value_col="user_id", depth=4, width=256,
    )

    whole = spark.createDataFrame(b1 + b2, schema)
    direct = cms_sketch(whole, [], "user_id", depth=4, width=256)
    # _applied_batch is state metadata (the crash-replay stamp), not
    # sketch content
    streamed = spark.table("stream_cms").drop("_applied_batch")
    assert streamed.exceptAll(direct).count() == 0
    assert direct.exceptAll(streamed).count() == 0

    probes = whole.select("user_id").distinct()
    est = {
        r.user_id: r.est_count
        for r in cms_lookup(streamed, probes, "user_id", depth=4, width=256).collect()
    }
    true = {r.user_id: r.t for r in whole.groupBy("user_id").agg(F.count("*").alias("t")).collect()}
    assert all(est[u] >= true[u] for u in true)
    assert est[3] >= 38  # the hot key's history survived the merge


def test_stream_distinct_sketch_merges_batches_into_table(spark, tmp_path):
    """Streaming HLL register state: the persisted registers after two
    micro-batches must equal the registers of the concatenated stream
    (max-merge losslessness end-to-end), and the estimate over them
    must land near the true distinct count. A third, redelivered-batch
    merge must be a no-op (max-merge idempotence + the replay guard)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hll_register_estimate,
        hll_register_sketch,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_distinct_sketch,
    )

    spark.sql("DROP TABLE IF EXISTS stream_hll")
    feed = str(tmp_path / "hll_feed")
    schema = "user_id long"
    b1 = [(i,) for i in range(300)]            # users 0-299
    b2 = [(i,) for i in range(200, 500)]       # overlap 200-299, new to 499
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(feed)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(feed)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_distinct_sketch(
        sdf, "stream_hll", checkpoint_dir=str(tmp_path / "hll_ck"),
        keys=[], value_col="user_id",
    )

    whole = spark.createDataFrame(b1 + b2, schema)
    direct = hll_register_sketch(whole, [], "user_id")
    streamed = spark.table("stream_hll").drop("_applied_batch")
    assert streamed.exceptAll(direct).count() == 0
    assert direct.exceptAll(streamed).count() == 0

    est = hll_register_estimate(streamed, []).collect()[0]["approx_distinct"]
    assert abs(est - 500) / 500 < 0.15

    # replay the same feed against the SAME state table from a fresh
    # checkpoint (new stream id -> stamps differ -> the guard admits
    # the batches): registers must not change — max-merge idempotence
    sdf2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_distinct_sketch(
        sdf2, "stream_hll", checkpoint_dir=str(tmp_path / "hll_ck2"),
        keys=[], value_col="user_id",
    )
    # the swap ran in foreachBatch's cloned session; this session's
    # file-listing cache still points at the pre-replay files
    spark.catalog.refreshTable("stream_hll")
    replayed = spark.table("stream_hll").drop("_applied_batch")
    assert replayed.exceptAll(direct).count() == 0
    assert direct.exceptAll(replayed).count() == 0


@pytest.mark.slow
def test_stream_ivf_append_accretes_and_replays_idempotently(spark, tmp_path):
    """Streaming ANN ingest: after two appended micro-batches the
    standing grid index must equal the index built over the whole
    corpus with the SAME (first-half-trained) centroids — grid appends
    assign through the exact build path — and a full redelivery from a
    fresh checkpoint must be a no-op (id anti-join idempotence)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        grid_assign_cells,
        ivf_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_ivf_append,
    )

    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    base = df.filter(F.col("vec_id") < 30)
    arriving = df.filter(F.col("vec_id") >= 30)

    spark.sql("DROP TABLE IF EXISTS stream_ivf")
    cents = ivf_build_index(base, "stream_ivf", n_clusters=4, impl="grid")

    feed = str(tmp_path / "ivf_feed")
    arriving.filter(F.col("vec_id") < 45).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    arriving.filter(F.col("vec_id") >= 45).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    schema = "vec_id bigint, embedding array<float>"
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_ivf_append(
        sdf, "stream_ivf", cents, checkpoint_dir=str(tmp_path / "ivf_ck")
    )

    got = {
        r["vec_id"]: r["_cell"]
        for r in spark.table("stream_ivf").select("vec_id", "_cell").collect()
    }
    want = {
        r["vec_id"]: r["cell"]
        for r in grid_assign_cells(df, "vec_id", "embedding", cents).collect()
    }
    assert got == want  # every vector present, exact build-path cells

    # full redelivery from a fresh checkpoint: ids already indexed, so
    # the re-append must change nothing
    sdf2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_ivf_append(
        sdf2, "stream_ivf", cents, checkpoint_dir=str(tmp_path / "ivf_ck2")
    )
    again = {
        r["vec_id"]: r["_cell"]
        for r in spark.table("stream_ivf").select("vec_id", "_cell").collect()
    }
    assert again == want


def test_stream_ivf_replay_probe_does_not_reshuffle_index_side(spark):
    """stream_ivf_append's replay guard (the id anti-join) must read
    the IVF index WITHOUT an exchange on the index side: the table is
    id-bucketed as well as cell-partitioned, so only the (small)
    micro-batch shuffles into the bucket layout — per-batch probe cost
    tracks the batch, not the growing index (the flat-probe claim
    SCALE.md's streaming-ANN row makes, mirroring the exact seen-set
    and ER index probes)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
    )

    rows = [(i, [float(i % 5), float((i * 3) % 7)]) for i in range(50)]
    base = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    spark.sql("DROP TABLE IF EXISTS ivf_plan_idx")
    spark.sql("DROP TABLE IF EXISTS ivf_plan_idx_drift_stats")
    ivf_build_index(base, "ivf_plan_idx", n_clusters=4, impl="grid")
    batch = spark.createDataFrame(
        [(100, [1.0, 1.0]), (101, [2.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = batch.join(
            spark.table("ivf_plan_idx").select("vec_id"),
            on="vec_id",
            how="left_anti",
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # exactly one hash exchange: the batch side; the bucketed scan
        # of the index feeds the SMJ directly
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_stream_span_dedup_masks_across_microbatches(spark, tmp_path):
    """Batch 2's copy of a batch-1 document must be emptied (the index
    accreted batch 1's spans before batch 2 probed), and the masked
    stream lands in the sink table."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        span_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_span_dedup,
    )

    spark.sql("DROP TABLE IF EXISTS stream_span_idx")
    spark.sql("DROP TABLE IF EXISTS stream_span_sink")
    base = " ".join(f"tok{i}" for i in range(12))
    novel = " ".join(f"new{i}" for i in range(12))
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    span_build_index(corpus, "stream_span_idx", k=4)

    feed = str(tmp_path / "span_feed")
    schema = "doc_id long, text string"
    # batch 1: repeats the standard (masked) + a novel doc (kept intact)
    spark.createDataFrame(
        [(10, base), (11, novel)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    # batch 2: copies batch 1's NOVEL doc -> must be masked via append
    spark.createDataFrame([(20, novel)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_span_dedup(
        sdf, "stream_span_idx", "stream_span_sink",
        checkpoint_dir=str(tmp_path / "span_ck"),
    )
    got = {
        r.doc_id: (r.deduped_text, r.n_tokens_removed)
        for r in spark.table("stream_span_sink").collect()
    }
    assert got[10] == ("", 12)      # the standard's copy is fully masked
    assert got[11] == (novel, 0)    # first sighting survives...
    assert got[20] == ("", 12)      # ...and later copies don't


def test_hist_stream_registry_entry_equals_batch_twin(spark):
    """The registered x1_hist_stream (streamed per-batch bins merged
    into a sketch table, then quantiles over the whole history) must be
    ROW-IDENTICAL to the batch a1_hist_quantile on the same testdata —
    histogram merge is lossless, so the incremental and one-shot plans
    are the same function. This is the same exactness pin x1_cms_stream
    carries, on the actual driver-facing entries."""
    import __spark_entry__ as ent

    qs = ent.queries()
    sf = "/root/testdata/sf0.001"
    streamed = sorted(map(tuple, qs["x1_hist_stream"](spark, sf).collect()))
    batch = sorted(map(tuple, qs["a1_hist_quantile"](spark, sf).collect()))
    assert streamed == batch and len(streamed) > 0


def test_stream_histogram_sketch_merges_batches_into_table(spark, tmp_path):
    """Two streamed micro-batches of values produce bin counts
    identical to a direct sketch of the concatenation (lossless merge),
    and quantiles over the merged table match the batch form."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hist_quantile,
        hist_sketch,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_histogram_sketch,
    )

    rows = [(i % 2, float((i * 13) % 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "grp int, value double")
    src = str(tmp_path / "hist-src")
    df.filter(F.col("grp") == 0).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("grp") == 1).coalesce(1).write.mode("append").parquet(src)
    spark.sql("DROP TABLE IF EXISTS hist_stream_t")
    sdf = (
        spark.readStream.schema("grp int, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_histogram_sketch(
        sdf, "hist_stream_t", str(tmp_path / "ck"), keys=["grp"],
        value_col="value", lo=0.0, hi=100.0, n_bins=50,
    )
    direct = hist_sketch(df, ["grp"], "value", 0.0, 100.0, 50)
    # drop the crash-replay stamp: state metadata, not sketch content
    assert sorted(
        map(tuple, spark.table("hist_stream_t").drop("_applied_batch").collect())
    ) == sorted(map(tuple, direct.collect()))
    qs = {
        (r.grp, r.q): r.quantile_est
        for r in hist_quantile(
            spark.table("hist_stream_t"), ["grp"], [0.5], 0.0, 100.0, 50
        ).collect()
    }
    qd = {
        (r.grp, r.q): r.quantile_est
        for r in hist_quantile(direct, ["grp"], [0.5], 0.0, 100.0, 50).collect()
    }
    assert qs == qd


def test_compact_batch_partitions_folds_and_preserves_rows(spark):
    """Folding all but the newest batch partitions into the archive
    must preserve the exact row multiset, keep the newest id intact
    (the replay window), and be idempotent — a second compact with
    nothing to fold is a no-op; later batches fold into the SAME
    archive without losing earlier archived rows."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _land_batch_partition,
        compact_batch_partitions,
    )

    t = "compact_sink_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    mk = lambda rows: spark.createDataFrame(rows, "event_id long, v long")
    _land_batch_partition(mk([(1, 10), (2, 20)]), t, 0)
    _land_batch_partition(mk([(3, 30)]), t, 1)
    _land_batch_partition(mk([(4, 40)]), t, 2)
    before = sorted((r.event_id, r.v) for r in spark.table(t).collect())

    res = compact_batch_partitions(spark, t, keep_last=1)
    assert res == {"folded_partitions": 2, "archived_rows": 3, "archive_id": -1}
    after = spark.table(t)
    assert sorted((r.event_id, r.v) for r in after.collect()) == before
    ids = {r[0] for r in after.select("_batch_id").distinct().collect()}
    assert ids == {-1, 2}  # archive + the newest (replay-window) id
    # idempotent when nothing left to fold
    assert compact_batch_partitions(spark, t, keep_last=1) == {
        "folded_partitions": 0, "archived_rows": 0, "archive_id": None,
    }
    # a later compaction writes a NEW archive of only the newly folded
    # rows — O(fold), never O(archived history); old archives untouched
    _land_batch_partition(mk([(5, 50)]), t, 3)
    res2 = compact_batch_partitions(spark, t, keep_last=1)
    assert res2 == {"folded_partitions": 1, "archived_rows": 1, "archive_id": -2}
    final = sorted((r.event_id, r.v) for r in spark.table(t).collect())
    assert final == sorted(before + [(5, 50)])
    ids2 = {r[0] for r in spark.table(t).select("_batch_id").distinct().collect()}
    assert ids2 == {-2, -1, 3}
    # replay-window guard: folding the newest partition is refused
    with pytest.raises(ValueError, match="keep_last"):
        compact_batch_partitions(spark, t, keep_last=0)
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sketch_state_replay_guard_skips_applied_batch(spark):
    """Additive sketch state must not re-add a crash-redelivered batch:
    the whole-table _applied_batch stamp (atomic with the staged swap)
    makes the second merge of the same batch id a no-op."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.sketches import (
        hist_sketch,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        write_table,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _replay_guarded_state,
    )

    t = "sketch_replay_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.createDataFrame([(float(v),) for v in range(20)], "value double")
    sk = hist_sketch(df, [], "value", 0.0, 100.0, 10)
    write_table(sk.withColumn("_applied_batch", F.lit(7)), t)
    # same batch id -> skip signal (None)
    assert _replay_guarded_state(spark, t, 7) is None
    # different batch id -> state handed back without the stamp
    state = _replay_guarded_state(spark, t, 8)
    assert state is not None and "_applied_batch" not in state.columns
    assert state.count() == sk.count()
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_sessionize_order_insensitive_equals_batch(spark, tmp_path):
    """Events split ADVERSARIALLY across micro-batches (interleaved,
    with a later batch delivering events that fall INSIDE and BETWEEN
    earlier sessions) must fuse into exactly the sessions batch
    sessionization computes over the union — session partition of a
    point set is unique, and interval fusion reconstructs it."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.windows import (
        session_stats,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        session_table_stats,
        stream_sessionize,
    )

    gap = 100  # seconds
    # user 1: batch1 sees minutes 0 and 500 (two sessions); batch2
    # delivers 240 and 330 — 240 bridges nothing (gap 240>100 to 0,
    # 90<=100 to 330, 170>100 to 500)... final: {0}, {240,330,500}? no:
    # 330->500 gap 170>100. Expect {0}, {240,330}, {500}.
    # user 2: batch2's 50 fuses batch1's 0 and 120 into one session.
    rows_b1 = [(1, 0), (1, 500), (2, 0), (2, 120)]
    rows_b2 = [(1, 240), (1, 330), (2, 50)]
    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, sec long"
    ).selectExpr("user_id", "to_timestamp(from_unixtime(sec)) AS ts")
    feed = str(tmp_path / "sess-feed")
    mk(rows_b1).coalesce(1).write.mode("append").parquet(feed)
    mk(rows_b2).coalesce(1).write.mode("append").parquet(feed)

    spark.sql("DROP TABLE IF EXISTS sess_stream_t")
    sdf = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_sessionize(
        sdf, "sess_stream_t", str(tmp_path / "sess-ck"),
        key_col="user_id", ts_col="ts", gap_seconds=gap,
    )
    got = sorted(
        map(tuple, session_table_stats(spark, "sess_stream_t").collect())
    )
    want = sorted(
        map(
            tuple,
            session_stats(mk(rows_b1 + rows_b2), "user_id", "ts", gap)
            .select(
                "user_id", "session_index", "n_events",
                "session_start", "session_end", "duration_seconds",
            )
            .collect(),
        )
    )
    assert got == want
    # user 1 ended with 3 sessions, user 2 fused into 1
    per_user = {}
    for u, *_ in got:
        per_user[u] = per_user.get(u, 0) + 1
    assert per_user == {1: 3, 2: 1}


def _snap(spark, table):
    return sorted(map(tuple, spark.table(table).collect()))


def test_incremental_distinct_state_is_bucketed_no_state_exchange(
    spark, tmp_path
):
    """The distinct-pairs state table is hash-bucketed on the tuple
    key, so the per-batch anti-join reads it pre-partitioned: the only
    exchange in the steady-state plan is the (small) batch side — the
    ever-growing state never re-shuffles."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_incremental_distinct,
    )

    t = "inc_distinct_bucketed_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    feed = str(tmp_path / "pairs-feed")
    mk = lambda rows: spark.createDataFrame(rows, "user_id long, period long")
    mk([(1, 0), (1, 1), (2, 0)]).coalesce(1).write.mode("append").parquet(feed)
    mk([(1, 1), (2, 2), (3, 0)]).coalesce(1).write.mode("append").parquet(feed)
    sdf = (
        spark.readStream.schema("user_id long, period long")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_incremental_distinct(
        sdf, t, str(tmp_path / "ck"), ["user_id", "period"], state_buckets=8
    )
    # tuple-level state: exactly the distinct pairs, appended across
    # batches with redelivered tuples absorbed
    assert _snap(spark, t) == [(1, 0), (1, 1), (2, 0), (2, 2), (3, 0)]
    # the catalog records the bucket spec
    ddl = spark.sql(f"SHOW CREATE TABLE {t}").first()[0]
    assert "CLUSTERED BY" in ddl and "8 BUCKETS" in ddl
    # steady-state anti-join plan: with broadcast disabled (scale
    # shape), the state-side scan is bucketed and contributes NO
    # exchange — exactly one exchange total (the batch side)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        batch = mk([(9, 9), (1, 0)]).select("user_id", "period")
        plan = (
            batch.join(spark.table(t), ["user_id", "period"], "left_anti")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_sessionize_replay_same_batch_id_is_noop(spark):
    """Crash-replay contract: foreachBatch redelivers the SAME batch id
    after a crash between the sink write and the checkpoint commit.
    Re-firing a batch id must leave the state byte-identical — interval
    bounds AND n_events (which used to double-count on replay)."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _sessionize_merge_batch,
    )

    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, sec long"
    ).selectExpr("user_id", "to_timestamp(from_unixtime(sec)) AS ts")
    t = "sess_replay_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    _sessionize_merge_batch(mk([(1, 0), (1, 50), (2, 0)]), 0, t, "user_id", "ts", 100)
    _sessionize_merge_batch(mk([(1, 120), (2, 500)]), 1, t, "user_id", "ts", 100)
    after_b1 = _snap(spark, t)
    # replay batch 1 (same id): state must not change — especially not
    # n_events, which a naive re-fuse would re-add
    _sessionize_merge_batch(mk([(1, 120), (2, 500)]), 1, t, "user_id", "ts", 100)
    assert _snap(spark, t) == after_b1
    n_events = {
        r.user_id: r.n_events
        for r in spark.table(t).groupBy("user_id").agg(
            F.sum("n_events").alias("n_events")
        ).collect()
    }
    assert n_events == {1: 3, 2: 2}
    # a genuinely NEW batch id still applies
    _sessionize_merge_batch(mk([(3, 7)]), 2, t, "user_id", "ts", 100)
    assert len(_snap(spark, t)) == len(after_b1) + 1
    # partition-scoped rewrite: batch 2 touched only user 3's hash
    # partition — any user in a DIFFERENT partition must still carry
    # its pre-batch-2 stamp (proof the partition was not rewritten)
    from pyspark.sql import functions as F

    kb3 = spark.createDataFrame([(3,)], "user_id long").select(
        F.pmod(F.xxhash64("user_id"), F.lit(64))
    ).first()[0]
    others = (
        spark.table(t)
        .filter(F.col("_kb") != kb3)
        .select("_applied_batch")
        .distinct()
        .collect()
    )
    assert others and all(r[0] <= 1 for r in others)
    # read side: filtering the state on _kb prunes at the partition
    # level (the scan the merge's touched-bucket probe runs)
    plan = (
        spark.table(t)
        .filter(F.col("_kb").isin([int(kb3)]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "_kb" in plan.split("PartitionFilters")[1][:200]
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_exact_dedup_frontier(spark, tmp_path):
    """Streaming URL-frontier dedup against the persisted exact
    seen-set: a batch-2 repeat of a batch-1 SURVIVOR must drop (the
    index accreted batch 1), within-batch dups keep the min order row,
    and the sink holds exactly the survivors."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
        exact_build_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_exact_dedup,
    )

    idx, sink = "stream_exact_idx", "stream_exact_sink"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    spark.sql(f"DROP TABLE IF EXISTS {sink}")
    exact_build_index(
        spark.createDataFrame([(0, "http://a/seed")], "doc_id long, url string"),
        idx,
        ["url"],
    )
    feed = str(tmp_path / "feed")
    schema = "doc_id long, url string"
    # batch 1: indexed repeat (drop), within-batch dup pair (min id
    # survives), one new URL
    spark.createDataFrame(
        [(10, "http://a/seed"), (11, "http://a/x"),
         (12, "http://a/x"), (13, "http://a/y")], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    # batch 2: repeat of batch 1's survivor (drop) + a new URL
    spark.createDataFrame(
        [(20, "http://a/y"), (21, "http://a/z")], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_exact_dedup(
        sdf, idx, sink, checkpoint_dir=str(tmp_path / "ck"),
        content_cols=["url"], order_col="doc_id",
    )
    landed = {
        (r["doc_id"], r["url"])
        for r in spark.table(sink).select("doc_id", "url").collect()
    }
    assert landed == {
        (11, "http://a/x"), (13, "http://a/y"), (21, "http://a/z"),
    }
    # the index accreted exactly the survivor fingerprints
    assert spark.table(idx).count() == 4  # seed + x + y + z
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    spark.sql(f"DROP TABLE IF EXISTS {sink}")


@pytest.mark.slow
def test_stream_frontier_schedule_continuity_and_replay(spark, tmp_path):
    """Streaming politeness scheduling: batch-2 slots CONTINUE the
    per-domain counters batch 1 left (offsets keep multiplying the
    domain's crawl delay), unknown domains use the default delay, the
    end-to-end wrapper drains a real file stream, and the merge batch
    is replay-exact — re-firing the same stamp leaves sink AND state
    byte-identical, including the crash window where the state
    partition advanced but the checkpoint didn't (slots recompute from
    the PRE-batch base)."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        robots_directives,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _frontier_schedule_merge_batch,
        stream_frontier_schedule,
    )

    dirs = robots_directives(
        spark.createDataFrame(
            [("a.com", "User-agent: *\nCrawl-delay: 10\n")],
            "domain string, robots_txt string",
        )
    )
    st, sk = "frontier_state_t", "frontier_sink_t"
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    spark.sql(f"DROP TABLE IF EXISTS {sk}")
    feed = str(tmp_path / "feed")
    schema = "doc_id long, url string"
    spark.createDataFrame(
        [(1, "http://a.com/x"), (2, "http://a.com/y"), (3, "http://b.com/1")],
        schema,
    ).coalesce(1).write.mode("append").parquet(feed)
    spark.createDataFrame(
        [(4, "http://a.com/z"), (5, "http://b.com/2")], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    stream_frontier_schedule(
        sdf, st, sk, checkpoint_dir=str(tmp_path / "ck"),
        directives=dirs, order_col="doc_id",
    )
    got = {
        r["doc_id"]: (r["fetch_domain"], r["fetch_slot"],
                      r["fetch_offset_seconds"])
        for r in spark.table(sk).collect()
    }
    assert got == {
        1: ("a.com", 0, 0.0), 2: ("a.com", 1, 10.0),
        3: ("b.com", 0, 0.0),
        4: ("a.com", 2, 20.0),           # continues after batch 1
        5: ("b.com", 1, 1.0),            # default delay domain
    }
    state = {
        r["fetch_domain"]: r["next_slot"] for r in spark.table(st).collect()
    }
    assert state == {"a.com": 3, "b.com": 2}
    # replay-exactness: re-fire a batch with its original stamp — the
    # state partitions are already stamped, so slots recompute from
    # the PRE-batch base and both tables stay byte-identical (this IS
    # the advanced-state crash window: state committed, checkpoint
    # not)
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _checkpoint_stream_id,
        _stream_stamp,
    )

    sid = _checkpoint_stream_id(spark, str(tmp_path / "ck"))
    sink_before, state_before = _snap(spark, sk), _snap(spark, st)
    _frontier_schedule_merge_batch(
        spark.createDataFrame(
            [(4, "http://a.com/z"), (5, "http://b.com/2")], schema
        ),
        1, st, sk, dirs, "url", 1.0, "doc_id",
        stamp=_stream_stamp(sid, 1), stream_id=sid,
    )
    assert _snap(spark, sk) == sink_before
    assert _snap(spark, st) == state_before
    # PARTIAL-advance crash window: rewrite b.com's state row back to
    # its pre-batch value (counter rolled back, stamp cleared) while
    # a.com's partition stays stamped — the exact state a crash in the
    # middle of the partition-scoped overwrite leaves. Re-firing the
    # batch must land the IDENTICAL sink rows (a.com recomputes its
    # base as next_slot − batch count, b.com from its unadvanced
    # counter) and re-advance only b.com's partition.
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _dynamic_partition_overwrite,
    )

    kb = {
        r["fetch_domain"]: r["_kb"] for r in spark.table(st).collect()
    }
    assert kb["a.com"] != kb["b.com"]  # precondition: separate buckets
    pre_b1 = spark.table(st).filter(
        (F.col("fetch_domain") == "b.com")
    ).select(
        "fetch_domain", F.lit(1).cast("bigint").alias("next_slot"),
        F.lit(0).cast("bigint").alias("_applied_batch"), "_kb",
    ).localCheckpoint(eager=True)
    _dynamic_partition_overwrite(pre_b1, st, "_kb")
    _frontier_schedule_merge_batch(
        spark.createDataFrame(
            [(4, "http://a.com/z"), (5, "http://b.com/2")], schema
        ),
        1, st, sk, dirs, "url", 1.0, "doc_id",
        stamp=_stream_stamp(sid, 1), stream_id=sid,
    )
    assert _snap(spark, sk) == sink_before
    assert {
        r["fetch_domain"]: r["next_slot"]
        for r in spark.table(st).collect()
    } == {"a.com": 3, "b.com": 2}
    # reserved caller columns are refused loudly
    import pytest

    with pytest.raises(ValueError, match="reserves"):
        _frontier_schedule_merge_batch(
            spark.createDataFrame(
                [(1, "http://a.com/x", 5)],
                "doc_id long, url string, fetch_slot int",
            ),
            9, st, sk, None, "url", 1.0, "doc_id",
        )
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    spark.sql(f"DROP TABLE IF EXISTS {sk}")


def test_stream_frontier_schedule_duplicate_rows_replay_identical(spark):
    """Round-14 fix (ADVICE r13): rows duplicated on BOTH explicit rank
    keys (order_col AND url) used to get nondeterministic row_number
    assignment, so a crash-replay recomputation could emit a
    differently-permuted sink partition. The all-columns hash
    tie-break makes slot assignment deterministic for arbitrary
    batches: re-firing a duplicate-bearing batch with its original
    stamp must land the byte-identical sink partition, on a stamped
    state (pure recompute) AND from the pre-batch state (full redo).

    The batch carries both duplicate flavors on a.com: two rows
    differing only in a non-key column (tag x/y — hash orders them
    deterministically) and two FULLY identical rows (interchangeable,
    so any assignment is the same row set)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _frontier_schedule_merge_batch,
        _stream_stamp,
    )

    st, sk = "frontier_state_dup", "frontier_sink_dup"
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    spark.sql(f"DROP TABLE IF EXISTS {sk}")
    schema = "doc_id long, url string, tag string"
    rows = [
        (1, "http://a.com/x", "x"),   # dup pair 1: same (doc_id, url),
        (1, "http://a.com/x", "y"),   #   different tag
        (2, "http://a.com/z", "z"),   # dup pair 2: fully identical
        (2, "http://a.com/z", "z"),
        (3, "http://b.com/1", "q"),
    ]
    batch = spark.createDataFrame(rows, schema)
    sid = "dup-stream"
    _frontier_schedule_merge_batch(
        batch, 0, st, sk, None, "url", 1.0, "doc_id",
        stamp=_stream_stamp(sid, 0), stream_id=sid,
    )
    sink_before, state_before = _snap(spark, sk), _snap(spark, st)
    # the tag-x row must rank before or after tag-y CONSISTENTLY; both
    # a.com/z copies occupy the remaining two slots either way
    slots = {
        (r["doc_id"], r["url"], r["tag"]): r["fetch_slot"]
        for r in spark.table(sk).collect()
    }
    assert sorted(
        s for (d, u, t), s in slots.items() if u == "http://a.com/x"
    ) == [0, 1]
    assert {r["next_slot"] for r in spark.table(st).collect()} == {4, 1}
    # replay 1: stamped state (the recompute path) — 3 independent
    # re-fires to catch nondeterministic permutations, not luck
    for _ in range(3):
        _frontier_schedule_merge_batch(
            spark.createDataFrame(rows, schema), 0, st, sk, None,
            "url", 1.0, "doc_id",
            stamp=_stream_stamp(sid, 0), stream_id=sid,
        )
        assert _snap(spark, sk) == sink_before
        assert _snap(spark, st) == state_before
    # replay 2: drop the state entirely (pre-batch crash: sink partition
    # half-written, state not committed) — the full redo must also land
    # the identical partition
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    _frontier_schedule_merge_batch(
        spark.createDataFrame(rows, schema), 0, st, sk, None,
        "url", 1.0, "doc_id",
        stamp=_stream_stamp(sid, 0), stream_id=sid,
    )
    assert _snap(spark, sk) == sink_before
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    spark.sql(f"DROP TABLE IF EXISTS {sk}")


def test_stream_sessionize_legacy_stamp_window_closes(spark):
    """A sessionize partition skips a batch only on that batch's exact
    stamp. Partitions stamped with bare batch ids (what a direct call
    writes) do NOT skip a hashed-stamp batch whose bare id equals the
    stored stamp: the batch is applied, never silently dropped, and
    only its own crash-refire (same hashed stamp) is a no-op."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _sessionize_merge_batch,
        _stream_stamp,
    )

    mk = lambda rows: spark.createDataFrame(
        rows, "user_id long, sec long"
    ).selectExpr("user_id", "to_timestamp(from_unixtime(sec)) AS ts")
    # precondition: the three users hash to three distinct partitions
    kb = {
        r["user_id"]: r["kb"]
        for r in spark.createDataFrame([(1,), (2,), (3,)], "user_id long")
        .select("user_id", F.pmod(F.xxhash64("user_id"), F.lit(64)).alias("kb"))
        .collect()
    }
    assert len(set(kb.values())) == 3
    t = "sess_stamp_window_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    # bare stamps: batch ids 0 (user 1) and 1 (user 2)
    _sessionize_merge_batch(mk([(1, 0)]), 0, t, "user_id", "ts", 100)
    _sessionize_merge_batch(mk([(2, 0)]), 1, t, "user_id", "ts", 100)
    ev = lambda u: (
        spark.table(t).filter(F.col("user_id") == u)
        .agg(F.sum("n_events")).first()[0]
    )
    # hashed-stamp batch 0 lands in user 1's partition, stamped bare 0:
    # applied
    _sessionize_merge_batch(
        mk([(1, 500)]), 0, t, "user_id", "ts", 100,
        stamp=_stream_stamp("ckpt-a", 0),
    )
    assert ev(1) == 2
    # crash-refire of that batch: skipped via its hashed stamp
    _sessionize_merge_batch(
        mk([(1, 500)]), 0, t, "user_id", "ts", 100,
        stamp=_stream_stamp("ckpt-a", 0),
    )
    assert ev(1) == 2
    # hashed-stamp batch 1 over user 2's bare stamp 1: applied
    _sessionize_merge_batch(
        mk([(2, 500)]), 1, t, "user_id", "ts", 100,
        stamp=_stream_stamp("ckpt-a", 1),
    )
    assert ev(2) == 2
    # genuinely new keys apply
    _sessionize_merge_batch(
        mk([(3, 0)]), 7, t, "user_id", "ts", 100,
        stamp=_stream_stamp("ckpt-a", 7),
    )
    assert ev(3) == 1
    # hashed-stamp replay (same stamp) is a no-op
    before = _snap(spark, t)
    _sessionize_merge_batch(
        mk([(2, 500)]), 1, t, "user_id", "ts", 100,
        stamp=_stream_stamp("ckpt-a", 1),
    )
    assert _snap(spark, t) == before
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_quarantine_replay_same_batch_id_is_noop(spark):
    """Re-firing a quarantine batch id must leave BOTH sinks unchanged:
    each batch lands in its own _batch_id partition via dynamic
    overwrite, so a replay replaces its partition with identical rows
    instead of appending a duplicate copy."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.plans.dq import DQRule
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _quarantine_route_batch,
    )

    rules = [DQRule("v_small", "predicate", predicate=F.col("v") < 50)]
    mk = lambda rows: spark.createDataFrame(rows, "event_id long, v long")
    gt, qt = "dq_replay_good", "dq_replay_bad"
    spark.sql(f"DROP TABLE IF EXISTS {gt}")
    spark.sql(f"DROP TABLE IF EXISTS {qt}")
    _quarantine_route_batch(mk([(1, 10), (2, 99)]), 0, gt, qt, rules)
    _quarantine_route_batch(mk([(3, 20), (4, 80)]), 1, gt, qt, rules)
    good1, bad1 = _snap(spark, gt), _snap(spark, qt)
    assert len(good1) == 2 and len(bad1) == 2
    # replay batch 1: both sinks byte-stable
    _quarantine_route_batch(mk([(3, 20), (4, 80)]), 1, gt, qt, rules)
    assert _snap(spark, gt) == good1
    assert _snap(spark, qt) == bad1
    # a new batch id appends a new partition
    _quarantine_route_batch(mk([(5, 5)]), 2, gt, qt, rules)
    assert len(_snap(spark, gt)) == 3
    spark.sql(f"DROP TABLE IF EXISTS {gt}")
    spark.sql(f"DROP TABLE IF EXISTS {qt}")


def test_media_decoders_never_crash_on_fuzzed_bytes():
    """Untrusted-blob contract: arbitrary byte soup — including inputs
    that start with valid magic numbers and then go wrong — must come
    back as None (fall through a tier) or a well-formed tuple, never an
    exception. Deterministic fuzz: seeded RNG + structured prefixes."""
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_header,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _audio_fp_int,
        _decode_png,
        _parse_bmp,
        _parse_wav,
        encode_png,
    )

    rng = random.Random(1234)
    magics = [
        b"", b"\xff\xd8", b"\xff\xd8\xff\xe0", b"\x89PNG\r\n\x1a\n",
        b"BM", b"RIFF....WAVE",
    ]
    real_jpeg = encode_jpeg(9, 7, bytes(range(63)), channels=1)
    real_png = encode_png(5, 3, bytes(45), channels=3)
    for trial in range(300):
        prefix = rng.choice(magics)
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
        blob = prefix + body
        for fn in (decode_jpeg, parse_jpeg_header, _decode_png, _parse_bmp, _parse_wav):
            out = fn(blob)
            assert out is None or isinstance(out, tuple)
        fp = _audio_fp_int(blob)
        assert fp is None or isinstance(fp, int)
    # truncations and single-byte corruptions of REAL payloads — every
    # decode tier, not just the compressed ones
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_wav,
    )

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    real_bmp = encode_bmp(6, 4, bytes(72))
    real_wav = encode_wav(8000, 1, b"\x01\x02" * 40)
    real_prog = encode_jpeg_progressive(9, 7, bytes(range(63)), channels=1)
    for real, fns in (
        (real_jpeg, (decode_jpeg, parse_jpeg_header)),
        (real_prog, (decode_jpeg, parse_jpeg_header)),
        (real_png, (_decode_png,)),
        (real_bmp, (_parse_bmp,)),
        (real_wav, (_parse_wav, _audio_fp_int)),
    ):
        for cut in range(0, len(real), 7):
            for fn in fns:
                out = fn(real[:cut])
                assert out is None or isinstance(out, (tuple, int))
        for _ in range(150):
            i = rng.randrange(len(real))
            mut = real[:i] + bytes([rng.randrange(256)]) + real[i + 1:]
            for fn in fns:
                out = fn(mut)
                assert out is None or isinstance(out, (tuple, int))


def test_compact_batch_partitions_resumes_crashed_fold(spark):
    """The fold is manifest-first: a crash in ANY window (after manifest,
    after archive, mid-drops) resumes exactly on the next call — even
    when NEW batches landed in between — never duplicating rows. This
    simulates each crash window by driving the internal phases."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _execute_fold,
        _land_batch_partition,
        _next_archive_id,
        _set_pending_fold,
        compact_batch_partitions,
    )

    mk = lambda rows: spark.createDataFrame(rows, "event_id long, v long")

    # crash window 1: manifest written (phase=staged), nothing else ran;
    # a NEW batch lands before the resume — it must NOT join the fold
    t = "compact_crash_staged_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    for bid, rows in [(0, [(1, 10)]), (1, [(2, 20)]), (2, [(3, 30)])]:
        _land_batch_partition(mk(rows), t, bid)
    _set_pending_fold(spark, t, max_fold=1, archive_id=-1, phase="staged")
    _land_batch_partition(mk([(4, 40)]), t, 3)  # lands mid-crash
    res = compact_batch_partitions(spark, t, keep_last=2)
    # resume folded ids {0,1} into the MANIFESTED archive -1; the new
    # top-level fold then had nothing to do (ids {2,3} minus keep 2)
    assert res["resumed"] == {
        "folded_partitions": 2, "archived_rows": 2, "archive_id": -1,
    }
    assert res["folded_partitions"] == 0
    rows = sorted((r.event_id, r.v) for r in spark.table(t).collect())
    assert rows == [(1, 10), (2, 20), (3, 30), (4, 40)]  # no dup, no loss
    ids = {r[0] for r in spark.table(t).select("_batch_id").distinct().collect()}
    assert ids == {-1, 2, 3}
    spark.sql(f"DROP TABLE IF EXISTS {t}")

    # crash window 2: archive committed, manifest advanced to
    # phase=archived, but the source drops never ran — resume must ONLY
    # finish the drops (re-archiving would duplicate rows beside the
    # completed archive)
    t = "compact_crash_archived_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    for bid, rows in [(0, [(1, 10)]), (1, [(2, 20)]), (2, [(3, 30)])]:
        _land_batch_partition(mk(rows), t, bid)
    aid = _next_archive_id(spark, t)
    _set_pending_fold(spark, t, max_fold=1, archive_id=aid, phase="staged")
    _execute_fold(spark, t, 1, aid, "staged")  # completes fully...
    # ...then simulate the crash having happened between the archive
    # commit and the drops: re-land the sources and restore the manifest
    _land_batch_partition(mk([(1, 10)]), t, 0)
    _land_batch_partition(mk([(2, 20)]), t, 1)
    _set_pending_fold(spark, t, max_fold=1, archive_id=aid, phase="archived")
    res = compact_batch_partitions(spark, t, keep_last=1)
    assert res["resumed"]["folded_partitions"] == 2
    assert res["resumed"]["archived_rows"] is None  # drops only
    rows = sorted((r.event_id, r.v) for r in spark.table(t).collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]  # exactly once
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_land_batch_partition_rebases_on_new_stream_id(spark):
    """A sink reused under a FRESH checkpoint (batch ids restart at 0)
    must not let the new stream's batch 0 overwrite the old stream's
    partition 0: the recorded stream id mismatch folds all existing
    batch partitions into an archive first, then lands the new batch."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _land_batch_partition,
    )

    t = "rebase_sink_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    mk = lambda rows: spark.createDataFrame(rows, "event_id long, v long")
    _land_batch_partition(mk([(1, 10)]), t, 0, stream_id="stream-A")
    _land_batch_partition(mk([(2, 20)]), t, 1, stream_id="stream-A")
    # same stream replay: overwrites its own partition (idempotent)
    _land_batch_partition(mk([(2, 20)]), t, 1, stream_id="stream-A")
    assert spark.table(t).count() == 2
    # new checkpoint: ids restart at 0 — old batch-0 rows must survive
    _land_batch_partition(mk([(9, 90)]), t, 0, stream_id="stream-B")
    rows = sorted((r.event_id, r.v) for r in spark.table(t).collect())
    assert rows == [(1, 10), (2, 20), (9, 90)]
    ids = {r[0] for r in spark.table(t).select("_batch_id").distinct().collect()}
    assert ids == {-1, 0}  # old stream archived, new batch 0 live
    # second stream-B batch does not re-fold
    _land_batch_partition(mk([(10, 100)]), t, 1, stream_id="stream-B")
    assert spark.table(t).count() == 4
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sessionize_state_partitions_mismatch_raises(spark):
    """The sessionize state table's partition modulus is physical: a
    batch probing with a different state_partitions would silently miss
    existing state rows and duplicate sessions — it must raise."""
    import pytest as _pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _sessionize_merge_batch,
    )

    t = "sess_modulus_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    mk = lambda rows: spark.createDataFrame(rows, "user_id long, ts timestamp")
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    _sessionize_merge_batch(
        mk([(1, t0)]), 0, t, "user_id", "ts", 1800, state_partitions=16
    )
    with _pytest.raises(ValueError, match="state_partitions"):
        _sessionize_merge_batch(
            mk([(1, t0)]), 1, t, "user_id", "ts", 1800, state_partitions=32
        )
    # matching modulus proceeds
    _sessionize_merge_batch(
        mk([(2, t0)]), 1, t, "user_id", "ts", 1800, state_partitions=16
    )
    assert spark.table(t).count() == 2
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sessionize_fresh_checkpoint_stamp_never_false_skips(spark):
    """Bare batch ids restart at 0 under a new checkpoint: with the
    checkpoint-scoped stamp, a reused state table must still APPLY the
    new stream's batch 0 instead of silently skipping it because an old
    partition happens to carry stamp 0."""
    import datetime as dt

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _sessionize_merge_batch,
        _stream_stamp,
    )

    t = "sess_fresh_ckpt_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    mk = lambda rows: spark.createDataFrame(rows, "user_id long, ts timestamp")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # old stream, batch 0
    _sessionize_merge_batch(
        mk([(1, t0)]), 0, t, "user_id", "ts", 1800,
        stamp=_stream_stamp("ckpt-old", 0),
    )
    # new checkpoint, ALSO batch 0, same key partition — must apply
    _sessionize_merge_batch(
        mk([(1, t0 + dt.timedelta(hours=6))]), 0, t, "user_id", "ts", 1800,
        stamp=_stream_stamp("ckpt-new", 0),
    )
    assert spark.table(t).count() == 2  # two sessions, nothing dropped
    # true replay under the SAME checkpoint still skips
    _sessionize_merge_batch(
        mk([(1, t0 + dt.timedelta(hours=6))]), 0, t, "user_id", "ts", 1800,
        stamp=_stream_stamp("ckpt-new", 0),
    )
    assert spark.table(t).count() == 2
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_distinct_reuses_recorded_bucket_count(spark, tmp_path):
    """Appends to an existing distinct-state table must reuse the bucket
    count recorded at creation, ignoring the caller's state_buckets — a
    restart with a different value otherwise fails every batch with a
    bucket-spec AnalysisException."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_incremental_distinct,
    )

    t = "distinct_bucket_reuse_t"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    feed = str(tmp_path / "feed")
    mk = lambda rows: spark.createDataFrame(rows, "user_id long")
    mk([(1,), (2,)]).coalesce(1).write.mode("append").parquet(feed)
    sdf = spark.readStream.schema("user_id long").parquet(feed)
    stream_incremental_distinct(
        sdf, t, str(tmp_path / "ck1"), ["user_id"], state_buckets=8
    )
    # restart with a DIFFERENT state_buckets: must append under the
    # recorded 8, not fail on a 32-vs-8 bucket mismatch
    mk([(2,), (3,)]).coalesce(1).write.mode("append").parquet(feed)
    sdf2 = spark.readStream.schema("user_id long").parquet(feed)
    stream_incremental_distinct(
        sdf2, t, str(tmp_path / "ck1"), ["user_id"], state_buckets=32
    )
    got = sorted(r[0] for r in spark.table(t).collect())
    assert got == [1, 2, 3]
    ddl = spark.sql(f"SHOW CREATE TABLE {t}").first()[0]
    assert "INTO 8 BUCKETS" in ddl
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_jpeg_rgb_coded_baseline_falls_through():
    """Tier-1 only implements the YCbCr convention: a spec-legal
    RGB-coded baseline JPEG (Adobe APP14 transform=0, or component ids
    'R','G','B') must return None — falling through to the PIL tier —
    instead of decoding with silently wrong colors."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    w, h = 8, 8
    rgb = bytes((x * 3 + c) % 256 for x in range(w * h) for c in range(3))
    blob = encode_jpeg(w, h, rgb, channels=3, quality=92)
    assert decode_jpeg(blob) is not None  # sanity: plain YCbCr decodes

    # inject an Adobe APP14 segment (transform=0 = RGB-coded) after SOI
    app14 = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 0])  # transform byte=0
    seg = b"\xff\xee" + (len(app14) + 2).to_bytes(2, "big") + app14
    adobe_rgb = blob[:2] + seg + blob[2:]
    assert decode_jpeg(adobe_rgb) is None

    # transform=1 (YCbCr) stays decodable
    app14_y = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, 1])
    seg_y = b"\xff\xee" + (len(app14_y) + 2).to_bytes(2, "big") + app14_y
    assert decode_jpeg(blob[:2] + seg_y + blob[2:]) is not None

    # component-id convention 'R','G','B': patch SOF0 + SOS ids 1,2,3
    patched = bytearray(blob)
    sof = patched.find(b"\xff\xc0")
    assert sof >= 0
    for i, cid in enumerate(b"RGB"):
        patched[sof + 4 + 6 + 3 * i] = cid  # SOF0 component ids
    sos = patched.find(b"\xff\xda")
    assert sos >= 0
    for i, cid in enumerate(b"RGB"):
        patched[sos + 5 + 2 * i] = cid  # SOS component selectors
    assert decode_jpeg(bytes(patched)) is None


def test_image_perceptual_hash_pairs_re_encodes(spark):
    """The multimodal MinHash twin: visually-identical images pair at
    tiny Hamming distance regardless of container (BMP vs PNG vs a
    LOSSY JPEG re-encode) or a global brightness shift, while a
    different image stays far away; NULL hash for undecodable blobs."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        image_hash_pairs,
        image_perceptual_hash,
    )

    w = h = 16
    grad = [2 * x + y for y in range(h) for x in range(w)]
    bright = [v + 9 for v in grad]
    other = [3 * y + (x % 5) * 7 for y in range(h) for x in range(w)]
    rgb = lambda vals: bytes(v for v in vals for _ in range(3))
    rows = [
        (1, encode_bmp(w, h, rgb(grad))),           # BMP, RGB
        (2, encode_png(w, h, bytes(grad), 1)),      # PNG, gray
        (3, encode_jpeg(w, h, bytes(grad), channels=1, quality=95)),  # lossy
        (4, encode_bmp(w, h, rgb(bright))),         # brightness shift
        (5, encode_bmp(w, h, rgb(other))),          # genuinely different
        (6, b"not an image at all"),                # undecodable -> NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    for method in ("ahash", "dhash"):
        hashed = image_perceptual_hash(df, "content", method=method)
        hs = {r.doc_id: r.phash for r in hashed.collect()}
        assert hs[6] is None
        assert hs[1] == hs[2] == hs[4]  # container + brightness invariant
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in image_hash_pairs(hashed, max_hamming=6).collect()
        }
        # every pair among the four same-image encodings found
        for a in (1, 2, 3, 4):
            for b in (1, 2, 3, 4):
                if a < b:
                    assert (a, b) in pairs, (method, a, b)
                    assert pairs[(a, b)] <= 6
        # the JPEG re-encode is lossy but lands within the threshold
        assert pairs[(1, 3)] >= 0
        # the different image never pairs with the gradient family
        assert not any(5 in p for p in pairs)


def test_progressive_jpeg_roundtrip_matches_baseline(spark):
    """Progressive (SOF2) JPEG decodes for REAL, dependency-free: both
    encoders quantize through the same pipeline, so the progressive
    encode of an image must decode to the EXACT pixels of the baseline
    encode at the same quality — across gray/RGB, 4:4:4/4:2:0, odd
    dims, and content from flat to pure noise. Also: the decode_images
    tier reports progressive dims, the perceptual hash pipeline treats
    a progressive re-encode as the same image, and require_real_decode
    passes for the progressive tier without PIL."""
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_header,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg_progressive import (
        encode_jpeg_progressive,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        decode_images,
        image_hash_pairs,
        image_perceptual_hash,
    )

    rng = random.Random(99)
    for q in (40, 85):
        for (w, h, ch, sub) in [
            (16, 16, 3, "444"), (24, 16, 3, "420"), (17, 13, 3, "444"),
            (33, 9, 1, "444"), (8, 8, 1, "444"),
        ]:
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
            base = encode_jpeg(w, h, px, channels=ch, quality=q, subsampling=sub)
            prog = encode_jpeg_progressive(
                w, h, px, channels=ch, quality=q, subsampling=sub
            )
            db, dp = decode_jpeg(base), decode_jpeg(prog)
            assert dp is not None and db == dp, (q, w, h, ch, sub)
            assert parse_jpeg_header(prog) == (w, h, ch)
            # restart markers in every scan: resync path stays exact
            rst = encode_jpeg_progressive(
                w, h, px, channels=ch, quality=q, subsampling=sub,
                restart_interval=2,
            )
            assert decode_jpeg(rst) == db, ("restart", q, w, h, ch, sub)

    # the Spark decode tier reports progressive dims (no fake fallback)
    grad = bytes((2 * x + y) % 200 for y in range(16) for x in range(16))
    pj = encode_jpeg_progressive(16, 16, grad, channels=1, quality=92)
    bj = encode_jpeg(16, 16, grad, channels=1, quality=92)
    df = spark.createDataFrame(
        [(1, bj), (2, pj)], "doc_id long, content binary"
    )
    dims = {r.doc_id: (r.width, r.height, r.channels)
            for r in decode_images(df).collect()}
    assert dims == {1: (16, 16, 1), 2: (16, 16, 1)}
    # and the perceptual near-dup layer pairs the two encodings
    hashed = image_perceptual_hash(df, "content")
    pairs = image_hash_pairs(hashed, max_hamming=6).collect()
    assert len(pairs) == 1 and pairs[0]["id_a"] == 1 and pairs[0]["id_b"] == 2


def test_perceptual_hash_numpy_and_pure_paths_agree():
    """The vectorized hash path must be bit-identical to the pure
    rational path (the SQL oracle's closed-form replay must never
    depend on which ran) — both methods, grid-divisible and ragged
    dims."""
    import random

    import rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal as mm

    rng = random.Random(17)
    for w, h in [(16, 16), (24, 32), (8, 8), (17, 13), (18, 16), (27, 24)]:
        vals = [rng.randrange(256) for _ in range(w * h)]
        blob = mm.encode_bmp(w, h, bytes(v for v in vals for _ in range(3)))
        for method in ("ahash", "dhash"):
            fast = mm._perceptual_hash_int(blob, method)
            orig = mm._phash_numpy
            mm._phash_numpy = lambda *a, **k: None
            try:
                pure = mm._perceptual_hash_int(blob, method)
            finally:
                mm._phash_numpy = orig
            assert fast == pure, (w, h, method)


def test_image_hash_pairs_hot_bucket_cap(spark):
    """max_bucket_size excludes flooded (band, value) buckets from
    candidate generation — a lake's blank-thumbnail flood (identical
    hashes, every band hot) contributes ZERO pairs under the cap,
    while a genuine near-dup pair sharing a COLD band still surfaces;
    uncapped recall is total (the oracle-checked default)."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        image_hash_pairs,
    )

    flood = [(i, 0) for i in range(40)]  # 40 blank images, hash 0
    # a near-dup pair: differs only inside band 0 (hamming 2) — bands
    # 1-3 are cold buckets shared by exactly these two rows
    pair = [(100, 0x7777_0001), (101, 0x7777_0002)]
    df = spark.createDataFrame(flood + pair, "doc_id long, phash long")

    uncapped = image_hash_pairs(df, max_hamming=2)
    assert uncapped.count() == 40 * 39 // 2 + 1  # flood all-pairs + ours

    capped = image_hash_pairs(df, max_hamming=2, max_bucket_size=8)
    rows = [(r.id_a, r.id_b) for r in capped.collect()]
    assert rows == [(100, 101)]  # flood gone, cold-band pair survives


def test_image_hash_pairs_cap_counts_raw_rows(spark):
    """Bucket sizing under the cap counts RAW rows, not distinct
    (id, hash) pairs — the id-grain join's semantics, preserved by the
    r17 value-grain rewrite: 5 ids x2 duplicate rows occupy 10 bucket
    slots, so a cap of 8 floods them out while a cap of 12 keeps all
    C(5,2) hamming-0 pairs (duplicate rows never duplicate a pair)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        image_hash_pairs,
    )

    rows = [(i, 0) for i in range(5)] * 2 + [(100, 0x7777_0001), (101, 0x7777_0002)]
    df = spark.createDataFrame(rows, "doc_id long, phash long")

    tight = [(r.id_a, r.id_b) for r in image_hash_pairs(
        df, max_hamming=2, max_bucket_size=8).collect()]
    assert tight == [(100, 101)]  # 10 raw rows > 8: group capped out

    loose = sorted((r.id_a, r.id_b) for r in image_hash_pairs(
        df, max_hamming=2, max_bucket_size=12).collect())
    expect = sorted([(a, b) for a in range(5) for b in range(a + 1, 5)]
                    + [(100, 101)])
    assert loose == expect  # 10 <= 12: all within-group pairs, once each


def _tone_wav(sr, n_windows, win_len, amps_by_window, bin_freqs, volume=1.0):
    """Fixture WAV: per window a sum of bin-aligned sines (zero
    spectral leakage), amplitude table amps_by_window[w][m] at
    bin_freqs[m] Hz. Bin alignment: f * win_len / sr must be integer."""
    import math
    import struct as st

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        encode_wav,
    )

    samples = []
    for w in range(n_windows):
        for n in range(win_len):
            v = 0.0
            for amp, f in zip(amps_by_window[w], bin_freqs):
                v += volume * amp * math.sin(2 * math.pi * f * n / sr)
            samples.append(int(round(v)))
    return encode_wav(sr, 1, st.pack(f"<{len(samples)}h", *samples))


def _contour_amps(seed):
    """9-band amplitude contour per window with no adjacent ties
    (multiplier 1 + (seed + 2w + 3m) % 4; 3 is coprime to 4)."""
    return [
        [600 * (1 + (seed + 2 * w + 3 * m) % 4) for m in range(9)]
        for w in range(8)
    ]


_AUDIO_BINS = [16 * (28 + 19 * m) for m in range(9)]  # 448+304m Hz, sr 8192


def test_audio_spectral_hash_volume_invariant_pairs(spark):
    """A volume re-encode (x0.35) of a clip fingerprints IDENTICALLY
    (adjacent-band compares cancel gain) and surfaces as a Hamming-0
    pair through the banded join; an unrelated contour does not pair."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        audio_hash_pairs,
        audio_spectral_hash,
    )

    a = _tone_wav(8192, 8, 512, _contour_amps(0), _AUDIO_BINS)
    a_quiet = _tone_wav(8192, 8, 512, _contour_amps(0), _AUDIO_BINS, volume=0.35)
    other = _tone_wav(8192, 8, 512, _contour_amps(2), _AUDIO_BINS)
    df = spark.createDataFrame(
        [(1, a), (2, a_quiet), (3, other), (4, b"not audio")],
        "doc_id long, content binary",
    )
    hashed = audio_spectral_hash(df)
    rows = {r["doc_id"]: r["afp"] for r in hashed.collect()}
    assert rows[1] is not None and rows[1] == rows[2]
    assert rows[3] is not None and rows[3] != rows[1]
    assert rows[4] is None
    pairs = audio_hash_pairs(hashed).collect()
    assert {(p["id_a"], p["id_b"], p["hamming"]) for p in pairs} >= {(1, 2, 0)}
    assert all({p["id_a"], p["id_b"]} != {1, 3} for p in pairs)


def test_audio_fp_pure_matches_numpy(spark):
    """The dependency-free direct-DFT fallback computes the same bits
    as the numpy rfft path on real fixture signals."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _AUDIO_BAND_EDGES_HZ,
        _audio_fp_numpy,
        _audio_fp_pure,
        _pcm16_mono,
    )

    for seed in (0, 1, 3):
        wav = _tone_wav(8192, 8, 128, _contour_amps(seed), _AUDIO_BINS)
        sr, x = _pcm16_mono(wav)
        fast = _audio_fp_numpy(sr, x, 8, _AUDIO_BAND_EDGES_HZ)
        pure = _audio_fp_pure(sr, x, 8, _AUDIO_BAND_EDGES_HZ)
        assert fast is not None and fast == pure


def test_audio_fp_stereo_and_short_clips(spark):
    """Stereo with duplicated channels hashes like its mono mixdown;
    clips too short for the window grid and non-16-bit payloads are
    NULL, never a crash."""
    import struct as st

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _audio_fp_int,
        encode_wav,
    )

    amps = _contour_amps(1)
    mono = _tone_wav(8192, 8, 512, amps, _AUDIO_BINS)
    # interleave the identical mono PCM into two channels
    import wave as _w
    import io as _io

    with _w.open(_io.BytesIO(mono)) as wf:
        pcm = wf.readframes(wf.getnframes())
    vals = st.unpack(f"<{len(pcm) // 2}h", pcm)
    stereo_pcm = st.pack(
        f"<{2 * len(vals)}h", *[v for x in vals for v in (x, x)]
    )
    stereo = encode_wav(8192, 2, stereo_pcm)
    assert _audio_fp_int(stereo) == _audio_fp_int(mono)
    assert _audio_fp_int(encode_wav(8000, 1, b"\x01\x00" * 4)) is None
    assert _audio_fp_int(b"RIFFxxxxWAVEgarbage") is None
    # decodable but too short for the window grid (no band maps to any
    # rfft bin): NULL, not the degenerate all-zero hash — two unrelated
    # 16-sample clips must never pair at hamming 0
    for seed in (b"\x11\x22", b"\x33\x44"):
        assert _audio_fp_int(encode_wav(8192, 1, seed * 16)) is None
    # and a clip JUST long enough (windows cover band bins again)
    # fingerprints normally
    long_enough = _tone_wav(8192, 8, 64, _contour_amps(0), _AUDIO_BINS)
    assert _audio_fp_int(long_enough) is not None


def _fp_df(spark, rows):
    """(doc_id, phash) fixture frame; phash may be None."""
    return spark.createDataFrame(rows, "doc_id long, phash long")


def test_hamming_index_build_probe_incremental(spark):
    """The standing fingerprint index: batch 2 drops docs within
    max_hamming of the indexed corpus OR of an earlier doc in its own
    batch; NULL hashes survive but are never indexed; survivor
    fingerprints extend the index for the next batch."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
        hamming_index_probe,
    )

    spark.sql("DROP TABLE IF EXISTS fp_idx_t1")
    # corpus: two distinct fingerprints
    hamming_index_build(
        _fp_df(spark, [(1, 0x1111), (2, 0x7777_0000_0000)]), "fp_idx_t1"
    )
    # probe: 3 is hamming-1 from doc 1; 4 shares no band value
    probe = hamming_index_probe(
        spark, "fp_idx_t1", _fp_df(spark, [(3, 0x1110), (4, 0x2222)])
    )
    assert {(r["new_id"], r["corpus_id"], r["hamming"]) for r in probe.collect()} == {
        (3, 1, 1)
    }
    # incremental batch: 10 dups corpus doc 2; 11 is new; 12 dups 11
    # within-batch (earlier smaller id wins); 13 has NULL hash
    batch = _fp_df(
        spark,
        [(10, 0x7777_0000_0001), (11, 0x0F0F), (12, 0x0F0E), (13, None)],
    )
    surv = hamming_incremental_dedup(spark, "fp_idx_t1", batch)
    assert {r["doc_id"] for r in surv.collect()} == {11, 13}
    idx_ids = {
        r["doc_id"]
        for r in spark.table("fp_idx_t1").select("doc_id").distinct().collect()
    }
    assert idx_ids == {1, 2, 11}  # 13's NULL hash is NOT indexed
    # next batch dedups against the appended survivor 11
    surv2 = hamming_incremental_dedup(
        spark, "fp_idx_t1", _fp_df(spark, [(20, 0x0F0F), (21, 0xF0F0_0000)])
    )
    assert {r["doc_id"] for r in surv2.collect()} == {21}


def test_hamming_incremental_hot_bucket_cap(spark):
    """A flooded (band, val) bucket is excluded from candidate
    generation under max_bucket_size: the flood batch survives intact
    (no quadratic self-join), while a pair that ALSO shares a cold
    band still dedups."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
    )

    spark.sql("DROP TABLE IF EXISTS fp_idx_t2")
    hamming_index_build(_fp_df(spark, [(1, 0x0123_4567_89AB_CDEF)]), "fp_idx_t2")
    # 40 docs share band 0 (val 0xAAAA) but carry unique vals in bands
    # 1-3; docs 100/101 additionally agree on cold bands 2+3 at
    # hamming 1 (band-1 single-bit flip)
    rows = [
        (
            100 + i,
            0xAAAA
            | ((i + 1) << 16)
            | ((2 * i + 1) << 32)
            | ((3 * i + 1) << 48),
        )
        for i in range(40)
    ]
    rows[1] = (101, rows[0][1] ^ (1 << 16))  # cold-band near-dup of 100
    surv = hamming_incremental_dedup(
        spark,
        "fp_idx_t2",
        _fp_df(spark, rows),
        max_hamming=3,
        max_bucket_size=8,
    )
    ids = {r["doc_id"] for r in surv.collect()}
    assert 100 in ids and 101 not in ids  # cold band still caught
    assert len(ids) == 39  # nothing else dropped by the flooded band


def test_hamming_reband_matches_direct_build(spark):
    """Re-banding a standing Hamming index from its STORED fingerprints
    must be indistinguishable from building at the new band width
    directly — banding is a pure function of (fingerprint, band_bits)
    and the full 64-bit fingerprint rides on every index row. Probes
    after the reband read the UPDATED meta, the rotation bumps
    skew_epoch, and the skew log is cleared like a rebuild."""
    import pytest as _pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_index_build,
        hamming_index_probe,
        hamming_reband_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        check_table_meta,
        get_table_meta,
    )

    t_re, t_direct = "fp_reband_t", "fp_reband_direct"
    for s in (t_re, f"{t_re}_skew_log", t_direct):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    rows = [(i, (i % 17) * 0x0101_0101_0101_0101 ^ (i << 3)) for i in range(60)]
    hamming_index_build(_fp_df(spark, rows), t_re, band_bits=16)
    hamming_index_build(_fp_df(spark, rows), t_direct, band_bits=8)

    # simulate accrued telemetry: the rotation must clear it
    spark.createDataFrame(
        [(1, 1, 1, 1, 0, 8)],
        "n_hit_buckets bigint, max_bucket_rows bigint, "
        "sum_sq_bucket_rows bigint, n_capped_buckets bigint, "
        "n_capped_batch_buckets bigint, cap bigint",
    ).write.saveAsTable(f"{t_re}_skew_log")
    epoch0 = int(get_table_meta(spark, t_re)["skew_epoch"])

    hamming_reband_index(spark, t_re, band_bits=8)

    meta = get_table_meta(spark, t_re)
    assert int(meta["band_bits"]) == 8
    assert int(meta["skew_epoch"]) == epoch0 + 1
    assert not spark.catalog.tableExists(f"{t_re}_skew_log")
    cols = ["doc_id", "band", "val"]
    got = {tuple(r) for r in spark.table(t_re).select(*cols).collect()}
    want = {tuple(r) for r in spark.table(t_direct).select(*cols).collect()}
    assert got == want and len(got) == 60 * 8  # 8 bands at 8 bits

    # probes agree with the direct 8-bit build; at 8 bands the
    # pigeonhole recall guarantee now covers max_hamming up to 7
    batch = _fp_df(spark, [(100, rows[3][1] ^ 0b11)])  # hamming-2 kin of 3
    hits_re = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in hamming_index_probe(
            spark, t_re, batch, max_hamming=5
        ).collect()
    }
    hits_direct = {
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in hamming_index_probe(
            spark, t_direct, batch, max_hamming=5
        ).collect()
    }
    assert hits_re == hits_direct and (100, 3, 2) in hits_re

    # the contract no longer records the OLD width
    with _pytest.raises(ValueError):
        check_table_meta(spark, t_re, kind="hamming_fp", band_bits=16)
    # validation: non-divisors of 64 and non-hamming tables refused
    with _pytest.raises(ValueError, match="must divide"):
        hamming_reband_index(spark, t_re, band_bits=12)
    for s in (t_re, t_direct):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


@pytest.mark.slow
def test_stream_media_dedup_matches_batch_incremental(spark, tmp_path):
    """Two deterministic micro-batches through stream_media_dedup land
    the same survivor index as two direct hamming_incremental_dedup
    calls — the stream is just the batch operator under foreachBatch."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_media_dedup,
    )

    b1 = [(1, 0x1234), (2, 0x1235), (3, 0xFF00_0000)]  # 2 dups 1
    b2 = [(4, 0x1236), (5, 0xABCD_0000_0000)]  # 4 dups survivor 1
    for t in ("fp_idx_s_batch", "fp_idx_s_stream"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        hamming_index_build(_fp_df(spark, []), t)
    for rows in (b1, b2):
        hamming_incremental_dedup(spark, "fp_idx_s_batch", _fp_df(spark, rows))

    feed = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    schema = "doc_id long, phash long"
    # two-run availableNow drain: file 2 written only after run 1
    # finishes, so the batch split is exact and deterministic
    for rows in (b1, b2):
        _fp_df(spark, rows).coalesce(1).write.mode("append").parquet(feed)
        sdf = spark.readStream.schema(schema).parquet(feed)
        stream_media_dedup(sdf, "fp_idx_s_stream", ck)

    batch_idx = {
        tuple(r) for r in spark.table("fp_idx_s_batch").collect()
    }
    stream_idx = {
        tuple(r) for r in spark.table("fp_idx_s_stream").collect()
    }
    assert batch_idx == stream_idx
    surv_ids = {r["doc_id"] for r in spark.table("fp_idx_s_stream").select("doc_id").distinct().collect()}
    assert surv_ids == {1, 3, 5}


def test_checkpoint_stream_id_tracks_recreated_metadata(spark, tmp_path):
    """A cleared + recreated checkpoint dir gets a NEW id immediately
    (no stale process-lifetime cache): stamps from the old stream can
    never be reproduced by the new one."""
    import json

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _checkpoint_stream_id,
    )

    ck = tmp_path / "ck"
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "stream-A"}))
    assert _checkpoint_stream_id(spark, str(ck)) == "stream-A"
    (ck / "metadata").write_text(json.dumps({"id": "stream-B"}))
    assert _checkpoint_stream_id(spark, str(ck)) == "stream-B"
    # pre-start probing (no metadata yet) falls back to the path and
    # the REAL id takes over the moment the file exists
    ck2 = tmp_path / "ck2"
    ck2.mkdir()
    assert _checkpoint_stream_id(spark, str(ck2)) == str(ck2)
    (ck2 / "metadata").write_text(json.dumps({"id": "stream-C"}))
    assert _checkpoint_stream_id(spark, str(ck2)) == "stream-C"


def test_replay_guard_honors_legacy_bare_id_stamp(spark, tmp_path):
    """The whole-table sketch guard skips a batch only on its exact
    stamp. A sketch table whose stored stamp is a bare batch id does
    NOT skip a streamed batch whose bare id equals it: a fresh
    checkpoint's batch 0 over that table is applied, not silently
    dropped."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import (
        read_contract,
        write_table,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_histogram_sketch,
    )

    t = "bare_stamp_sketch_state"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(float(v),) for v in range(10)], "value double"
    ).coalesce(1).write.parquet(src)

    def run(ck):
        stream_histogram_sketch(
            spark.readStream.schema("value double").parquet(src), t,
            str(tmp_path / ck), lo=0.0, hi=100.0, n_bins=10,
        )

    spark.sql(f"DROP TABLE IF EXISTS {t}")
    run("ck1")
    # restamp with the bare id 0, as a direct call with no stamp writes
    bare = spark.table(t).withColumn(
        "_applied_batch", F.lit(0).cast("bigint")
    ).localCheckpoint(eager=True)
    write_table(bare, t, properties=read_contract(spark, t, "hist"))
    run("ck2")  # a fresh checkpoint: its batch 0 again
    assert spark.table(t).agg(F.sum("cnt")).first()[0] == 20
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_hamming_incremental_replay_after_append_is_idempotent(spark):
    """The stream_media_dedup crash-replay contract: a batch
    redelivered AFTER its survivors were appended finds each survivor
    at hamming 0 against its own indexed fingerprint and appends
    nothing — the index is byte-identical across the replay (the same
    self-match idempotency the MinHash twin relies on)."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        hamming_incremental_dedup,
        hamming_index_build,
    )

    t = "fp_idx_replay"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    hamming_index_build(_fp_df(spark, [(1, 0xBEEF)]), t)
    batch = _fp_df(spark, [(10, 0xBEEE), (11, 0xCAFE_0000)])  # 10 dups 1
    surv = hamming_incremental_dedup(spark, t, batch)
    assert {r["doc_id"] for r in surv.collect()} == {11}
    before = sorted(tuple(r) for r in spark.table(t).collect())
    # crash-before-checkpoint: the SAME batch is delivered again
    surv2 = hamming_incremental_dedup(spark, t, batch)
    assert surv2.count() == 0  # every doc now matches the index
    after = sorted(tuple(r) for r in spark.table(t).collect())
    assert before == after
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_resample_audio_preserves_spectral_fingerprint(spark):
    """16 kHz normalization (resample_audio) through the real PCM tier:
    the output is a decodable WAV at the target rate with ~2x the
    samples, and the spectral-contour fingerprint is INVARIANT under
    the resample (band energies live at fixed Hz, which linear
    interpolation of band-limited content preserves) — so a pipeline
    may hash before or after normalization interchangeably."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        _audio_fp_int,
        _pcm16_mono,
        resample_audio,
    )

    wav = _tone_wav(8192, 8, 512, _contour_amps(3), _AUDIO_BINS)
    df = spark.createDataFrame(
        [(1, wav), (2, b"not audio")], "doc_id long, content binary"
    )
    rows = {r["doc_id"]: r["resampled"] for r in resample_audio(df, target_sr=16384).collect()}
    assert rows[2] is None
    out = bytes(rows[1])
    sr, x = _pcm16_mono(out)
    assert sr == 16384
    assert abs(len(x) - 2 * 8 * 512) <= 2
    assert _audio_fp_int(out) == _audio_fp_int(wav)


def test_audio_quality_stats_gates(spark):
    """Speech-corpus quality gates: exact clipping counts, silence
    runs, and peaks on constructed PCM; NULLs for undecodable blobs;
    all-zero clips report full-length silence both ways."""
    import struct as st

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        audio_quality_stats,
        encode_wav,
    )

    def wav(vals):
        return encode_wav(8000, 1, st.pack(f"<{len(vals)}h", *vals))

    clips = {
        1: wav([0, 0, 100, -200, 32767, -32768, 300, 0]),  # 2 clipped
        2: wav([0] * 10),                                  # pure silence
        3: wav([5] * 4),                                   # no silence
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in clips.items()] + [(4, b"mp3 junk")],
        "doc_id long, content binary",
    )
    r = {x["doc_id"]: x for x in audio_quality_stats(df).collect()}
    assert r[1]["n_samples"] == 8 and r[1]["peak_abs"] == 32768
    assert r[1]["clipping_ratio"] == 0.25
    assert (r[1]["leading_silence"], r[1]["trailing_silence"]) == (2, 1)
    assert r[2]["peak_abs"] == 0 and r[2]["clipping_ratio"] == 0.0
    assert (r[2]["leading_silence"], r[2]["trailing_silence"]) == (10, 10)
    assert (r[3]["leading_silence"], r[3]["trailing_silence"]) == (0, 0)
    assert r[4]["n_samples"] is None and r[4]["clipping_ratio"] is None


def test_exif_extraction_both_endians(spark):
    """EXIF provenance through the Spark tier: orientation/timestamp/
    camera/GPS flag from real APP1 TIFF blocks in BOTH byte orders;
    DateTimeOriginal (sub-IFD) wins over IFD0 DateTime; images without
    EXIF are all-NULL with has_gps False; GPS coordinates are never
    decoded, only flagged."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_exif_app1,
        extract_image_metadata,
    )

    base = encode_jpeg(8, 8, bytes(range(64)), channels=1)

    def with_exif(bo, **kw):
        return base[:2] + build_exif_app1(byte_order=bo, **kw) + base[2:]

    df = spark.createDataFrame(
        [
            (1, with_exif("<", orientation=6, taken_at="2024:03:01 10:20:30",
                          make="CamCo", model="X9", gps=True)),
            (2, with_exif(">", orientation=3, make="M")),
            (3, base),
            (4, b"not an image"),
        ],
        "doc_id long, content binary",
    )
    r = {x["doc_id"]: x for x in extract_image_metadata(df).collect()}
    assert r[1]["orientation"] == 6 and r[1]["has_gps"] is True
    assert r[1]["taken_at"] == "2024:03:01 10:20:30"
    assert r[1]["camera"] == "CamCo X9"
    assert r[2]["orientation"] == 3 and r[2]["camera"] == "M"
    assert r[2]["has_gps"] is False and r[2]["taken_at"] is None
    assert r[3]["orientation"] is None and r[3]["has_gps"] is False
    assert r[4]["orientation"] is None


def test_parse_exif_never_crashes_on_fuzz():
    """Untrusted-blob contract for the EXIF walker: byte soup,
    truncations, and single-byte mutations of a REAL EXIF JPEG come
    back as dict or None, never an exception."""
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_exif_app1,
        parse_exif,
    )

    rng = random.Random(99)
    base = encode_jpeg(6, 4, bytes(range(72))[:72], channels=3)
    real = base[:2] + build_exif_app1(
        orientation=1, taken_at="2020:01:01 00:00:00", make="A", gps=True
    ) + base[2:]
    for _ in range(200):
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        out = parse_exif(b"\xff\xd8" + body)
        assert out is None or isinstance(out, dict)
    for cut in range(0, len(real), 5):
        out = parse_exif(real[:cut])
        assert out is None or isinstance(out, dict)
    for _ in range(200):
        i = rng.randrange(len(real))
        mut = real[:i] + bytes([rng.randrange(256)]) + real[i + 1:]
        out = parse_exif(mut)
        assert out is None or isinstance(out, dict)


def test_parse_exif_type_confusion_and_fill_bytes():
    """EVERY byte of a real APP1 flipped one at a time: parse_exif must
    return dict-or-None with type-valid fields (a bit-flipped TIFF type
    field must degrade, never crash or smuggle an int into a string
    column); JPEG fill bytes (0xFF padding before markers, B.1.1.2)
    must not hide the EXIF."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_exif_app1,
        parse_exif,
    )

    base = encode_jpeg(8, 8, bytes(range(64)), channels=1)
    app1 = build_exif_app1(
        orientation=6, taken_at="2024:01:01 00:00:00", make="A", gps=True
    )
    blob = base[:2] + app1 + base[2:]
    for i in range(2, 2 + len(app1)):
        out = parse_exif(blob[:i] + bytes([blob[i] ^ 0xFF]) + blob[i + 1:])
        assert out is None or isinstance(out, dict)
        if out is not None:
            o = out.get("orientation")
            assert o is None or (isinstance(o, int) and 1 <= o <= 8)
            assert out.get("taken_at") is None or isinstance(out["taken_at"], str)
            assert out.get("camera") is None or isinstance(out["camera"], str)
    padded = base[:2] + b"\xff\xff\xff" + app1 + base[2:]
    assert parse_exif(padded)["orientation"] == 6


def test_explode_warc_end_to_end_chain(spark):
    """The crawl-to-corpus chain: WARC blobs explode to HTTP response
    records (requests/metadata skipped), bodies decode, and the chain
    composes with html_to_text + canonicalize_url; malformed blobs
    yield zero rows, never a crash."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.functions.text import (
        canonicalize_url,
        html_to_text,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        explode_warc,
    )
    from pyspark.sql import functions as F

    def http(html):
        body = html.encode()
        return (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        )

    w1 = build_warc(
        [
            ("request", "http://A.com/p/?utm_s=1", b"GET /p HTTP/1.1\r\n\r\n"),
            ("response", "http://A.com/p/?utm_source=1", http("<p>alpha</p>")),
            ("response", "http://b.com/q", http("<h1>T</h1><p>beta</p>")),
        ]
    )
    df = spark.createDataFrame(
        [(1, w1), (2, b"garbage bytes")], "file_id long, content binary"
    )
    out = explode_warc(df)
    rows = out.collect()
    assert {(r["file_id"], r["record_index"]) for r in rows} == {(1, 1), (1, 2)}
    chain = out.select(
        "file_id",
        canonicalize_url("target_uri").alias("url"),
        html_to_text("body_text").alias("text"),
    ).collect()
    got = {r["url"]: r["text"] for r in chain}
    assert got["http://a.com/p"] == "alpha"
    assert got["http://b.com/q"] == "T\nbeta"


def test_parse_warc_never_crashes_on_fuzz():
    """Untrusted-container contract: byte soup, truncations, and
    single-byte mutations of a REAL WARC come back as a (possibly
    shorter) record list, never an exception or an over-read."""
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        parse_warc,
    )

    rng = random.Random(7)
    real = build_warc(
        [
            ("request", "http://a.com/", b"GET / HTTP/1.1\r\n\r\n"),
            ("response", "http://a.com/",
             b"HTTP/1.1 200 OK\r\nX: y\r\n\r\n<p>body</p>"),
            ("metadata", None, b"k: v"),
        ]
    )
    for _ in range(200):
        soup = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 150)))
        assert isinstance(parse_warc(b"WARC/1.0\r\n" + soup), list)
        assert isinstance(parse_warc(soup), list)
    for cut in range(0, len(real), 3):
        assert isinstance(parse_warc(real[:cut]), list)
    for _ in range(300):
        i = rng.randrange(len(real))
        mut = real[:i] + bytes([rng.randrange(256)]) + real[i + 1:]
        out = parse_warc(mut)
        assert isinstance(out, list)
        for rec in out:
            assert rec["target_uri"] is None or isinstance(rec["target_uri"], str)
            assert rec["http_status"] is None or isinstance(rec["http_status"], int)


def test_warc_edge_shapes(spark):
    """Seventh-review regressions: a content-only frame explodes
    without a schema error; sloppy multi-space HTTP status lines still
    parse; non-ASCII target URIs round-trip build->parse."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        explode_warc,
        parse_warc,
    )

    w = build_warc(
        [
            ("response", "http://a.com/café",
             b"HTTP/1.1  200 OK\r\n\r\nbody"),
        ]
    )
    recs = parse_warc(w)
    assert recs[0]["target_uri"] == "http://a.com/café"
    assert recs[0]["http_status"] == 200
    df = spark.createDataFrame([(w,)], "content binary")  # no passthrough
    rows = explode_warc(df).collect()
    assert len(rows) == 1 and rows[0]["body_text"] == "body"


def test_parse_warc_gz_parity_and_guards(spark):
    """Real Common Crawl container (.warc.gz, one gzip member per
    record): the gzipped walk agrees record-for-record with the plain
    walk; a whole-file single member also parses; truncated members,
    corrupt CRCs, bomb-cap overruns, and nested-gzip members stop at
    the last GOOD record instead of crashing; and explode_warc runs
    the gzipped container through the same Spark chain unchanged."""
    import gzip

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        explode_warc,
        parse_warc,
    )

    recs = [
        ("warcinfo", None, b"software: fixture"),
        ("response", "http://a.example.com/x",
         b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>alpha</p>"),
        ("request", "http://a.example.com/x", b"GET /x HTTP/1.1\r\n\r\n"),
        ("response", "http://b.example.com/café",
         b"HTTP/1.1 404 NF\r\n\r\nmissing"),
    ]
    plain, gz = build_warc(recs), build_warc(recs, gzip_records=True)
    assert gz[:2] == b"\x1f\x8b" and parse_warc(gz) == parse_warc(plain)
    # a single whole-file member (the other layout in the wild)
    assert parse_warc(gzip.compress(plain, mtime=0)) == parse_warc(plain)

    one = build_warc(recs[1:2], gzip_records=True)  # single gzip member
    # truncation mid-member 2: member-1 records survive
    assert parse_warc((one + one)[: len(one) + 10]) == parse_warc(one)
    # corrupt CRC in member 2: member-1 records survive
    two = bytearray(one + one)
    two[-3] ^= 0xFF
    assert parse_warc(bytes(two)) == parse_warc(one)
    # bomb cap: an over-cap member yields nothing, under-cap passes
    bomb = gzip.compress(b"\x00" * 10_000, mtime=0)
    assert parse_warc(bomb, max_member_bytes=100) == []
    # nested gzip is malformed-not-recursed (nesting-bomb guard)
    nested = gzip.compress(gz, mtime=0)
    assert parse_warc(nested) == []
    # same Spark-side chain, zero changes for the gz container
    df = spark.createDataFrame(
        [(1, gz), (2, plain)], "file_id long, content binary"
    )
    rows = explode_warc(df).collect()
    assert {(r["file_id"], r["record_index"], r["body_text"]) for r in rows} == {
        (1, 1, "<p>alpha</p>"), (1, 3, "missing"),
        (2, 1, "<p>alpha</p>"), (2, 3, "missing"),
    }


def test_parse_warc_gz_many_members_linear_walk():
    """Round-12 fix: the gzip record walk is linear in member count
    (offset over a memoryview, bounded chunks per decompressobj) — a
    many-member container parses completely and fast, a member whose
    COMPRESSED size spans multiple 128 KiB chunks round-trips, and
    max_records stops the walk mid-container."""
    import gzip
    import random
    import time

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        parse_warc,
    )

    # 4_000 tiny members: the round-11 quadratic walk took seconds
    # here; the linear walk is well under a second — assert a loose
    # wall bound so a quadratic regression fails loudly
    recs = [
        ("metadata", f"http://m.com/{i}", f"k: {i}".encode())
        for i in range(4_000)
    ]
    blob = build_warc(recs, gzip_records=True)
    t0 = time.monotonic()
    out = parse_warc(blob, max_records=10_000)
    assert time.monotonic() - t0 < 5.0
    assert len(out) == 4_000
    assert out[1234]["target_uri"] == "http://m.com/1234"
    # max_records stops mid-container
    assert len(parse_warc(blob, max_records=17)) == 17
    # one member whose compressed size spans several 128 KiB chunks
    # (incompressible body), followed by a normal member: both parse
    rng = random.Random(7)
    big_body = bytes(rng.randrange(256) for _ in range(600_000))
    big = build_warc(
        [("resource", "http://big.com/", big_body)], gzip_records=True
    )
    assert len(gzip.compress(big_body)) > 3 * 128 * 1024  # spans chunks
    tail = build_warc([("metadata", "http://t.com/", b"k: v")],
                      gzip_records=True)
    got = parse_warc(big + tail, max_member_bytes=2_000_000)
    assert [r["target_uri"] for r in got] == [
        "http://big.com/", "http://t.com/",
    ]
    assert got[0]["body"] == big_body


def test_parse_warc_gz_fuzz():
    """Gzip-container fuzz leg of the untrusted-input contract:
    truncations at every offset and 300 single-byte mutations of a
    real .warc.gz come back as a record list, never an exception."""
    import random

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
        build_warc,
        parse_warc,
    )

    rng = random.Random(11)
    real = build_warc(
        [
            ("response", "http://a.com/",
             b"HTTP/1.1 200 OK\r\nX: y\r\n\r\n<p>body</p>"),
            ("metadata", None, b"k: v"),
        ],
        gzip_records=True,
    )
    for cut in range(0, len(real)):
        assert isinstance(parse_warc(real[:cut]), list)
    for _ in range(300):
        i = rng.randrange(len(real))
        mut = real[:i] + bytes([rng.randrange(256)]) + real[i + 1:]
        out = parse_warc(mut)
        assert isinstance(out, list)
        for rec in out:
            assert rec["target_uri"] is None or isinstance(rec["target_uri"], str)


@pytest.mark.slow
def test_stream_crawl_tick_matches_batch_composition(spark, tmp_path):
    """Round 14: the streaming crawl tick drained over three
    micro-batches produces the BYTE-IDENTICAL fetched table as three
    batch crawl_tick calls on the same splits — seen-set dedup,
    robots blocks, per-domain counter continuation, fetch-sim columns
    and batch partitioning all included. One checkpoint drives the
    whole chain, so the equality also pins the stamp threading across
    BOTH state tables."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.curation import (
        crawl_tick,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_crawl_tick,
    )

    tables = ("sctm_seen", "sctm_state", "sctm_fetched",
              "bctm_seen", "bctm_state", "bctm_fetched")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    robots = spark.createDataFrame(
        [
            ("d0.example.com", "User-agent: *\nDisallow: /p1\nCrawl-delay: 2\n"),
            ("d1.example.com", "User-agent: *\n"),
        ],
        "domain string, robots_txt string",
    )

    def xml(k, leaf):
        return (
            f"<urlset><url><loc>HTTP://D{k}.example.com/p{leaf}"
            f"?a=1&amp;b=2#f</loc></url></urlset>"
        )

    ticks = [
        [(1, xml(0, 0)), (2, xml(0, 1)), (3, xml(1, 0))],
        [(5, xml(0, 0)), (6, xml(0, 2)), (7, xml(1, 0)), (8, xml(1, 1))],
        [(10, xml(1, 2)), (9, xml(1, 2))],
    ]
    schema = "doc_id long, sitemap_xml string"
    for i, b in enumerate(ticks):
        crawl_tick(
            spark, spark.createDataFrame(b, schema), i,
            seen_table="bctm_seen", frontier_state_table="bctm_state",
            fetched_table="bctm_fetched", robots_df=robots,
        )
    feed = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    for b in ticks:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        sdf = spark.readStream.schema(schema).parquet(feed)
        stream_crawl_tick(
            sdf, "sctm_seen", "sctm_state", "sctm_fetched", ck,
            robots_df=robots,
        )
    cols = [
        "doc_id", "url", "fetch_domain", "fetch_slot",
        "fetch_offset_seconds", "sim_fp", "sim_status", "_batch_id",
    ]
    batch_rows = sorted(
        map(str, spark.table("bctm_fetched").select(*cols).collect())
    )
    stream_rows = sorted(
        map(str, spark.table("sctm_fetched").select(*cols).collect())
    )
    assert batch_rows == stream_rows and len(batch_rows) == 5
    # the streaming seen-set matches the batch one's fingerprints
    assert (
        spark.table("sctm_seen").select("fp").exceptAll(
            spark.table("bctm_seen").select("fp")
        ).isEmpty()
    )
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_frontier_schedule_priority_within_batch(spark, tmp_path):
    """Round 14: priority_col ranks higher-priority URLs first WITHIN
    a micro-batch (matching the batch scheduler's order), while
    counters still continue across batches — a later batch's
    high-priority row cannot steal a slot an earlier batch committed."""
    from pyspark.sql import functions as F

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_frontier_schedule,
    )

    st, sk = "frontier_state_prio", "frontier_sink_prio"
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    spark.sql(f"DROP TABLE IF EXISTS {sk}")
    schema = "doc_id long, url string, prio int"
    feed = str(tmp_path / "feed")
    # batch 1: low doc_id has LOW priority -> must rank after
    spark.createDataFrame(
        [(1, "http://a.com/x", 1), (2, "http://a.com/y", 5)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(feed)
    stream_frontier_schedule(
        sdf, st, sk, checkpoint_dir=str(tmp_path / "ck"),
        order_col="doc_id", priority_col="prio",
    )
    # batch 2: highest priority yet — still slots AFTER batch 1
    spark.createDataFrame(
        [(3, "http://a.com/z", 9)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(feed)
    stream_frontier_schedule(
        sdf, st, sk, checkpoint_dir=str(tmp_path / "ck"),
        order_col="doc_id", priority_col="prio",
    )
    got = {
        r["doc_id"]: r["fetch_slot"] for r in spark.table(sk).collect()
    }
    assert got == {2: 0, 1: 1, 3: 2}
    spark.sql(f"DROP TABLE IF EXISTS {st}")
    spark.sql(f"DROP TABLE IF EXISTS {sk}")


@pytest.mark.slow
def test_stream_ivf_append_resyncs_after_midstream_rotation(spark, tmp_path):
    """Round 16: a maintenance retrain that rotates the centroid matrix
    between micro-batches must NOT kill the ingest — the next batch
    detects the rotated fingerprint (constant-time meta read), reloads
    the companion, and bins against the NEW cells. Simulated exactly as
    a running stream sees it: same checkpoint, stale caller-held
    matrix, new feed file after the rotation."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        _centroid_fingerprint,
        grid_assign_cells,
        ivf_build_index,
        ivf_load_centroids,
        ivf_retrain_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_ivf_append,
    )

    import random

    rng = random.Random(17)
    t = "stream_ivf_resync"
    for s in (t, f"{t}_drift_stats", f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    base = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1), rng.uniform(-1, 1)]) for i in range(30)],
        "vec_id bigint, embedding array<float>",
    )
    cents0 = ivf_build_index(base, t, n_clusters=2, impl="grid")

    feed = str(tmp_path / "resync_feed")
    ck = str(tmp_path / "resync_ck")
    schema = "vec_id bigint, embedding array<float>"
    # batch 1: a far blob — shifts the subsequent refit so the retrain
    # genuinely rotates the matrix
    spark.createDataFrame(
        [(100 + i, [8.0 + rng.uniform(-0.2, 0.2), 8.0]) for i in range(10)],
        schema,
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    stream_ivf_append(sdf, t, cents0, checkpoint_dir=ck)
    assert spark.table(t).count() == 40

    # maintenance rotates the matrix while the ingest is "running"
    cents1 = ivf_retrain_index(spark, t)
    assert _centroid_fingerprint(cents1) != _centroid_fingerprint(cents0)

    # batch 2 arrives; the ingest still holds the PRE-rotation matrix.
    # Same checkpoint -> only the new file is processed; the per-batch
    # fingerprint check reloads the companion instead of raising.
    spark.createDataFrame(
        [(200 + i, [rng.uniform(-1, 1), 8.0]) for i in range(10)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    stream_ivf_append(sdf2, t, cents0, checkpoint_dir=ck)  # stale handle

    got = {
        r["vec_id"]: r["_cell"]
        for r in spark.table(t).filter(F.col("vec_id") >= 200).collect()
    }
    assert len(got) == 10  # the batch appended, the stream survived
    # and every row was binned by the NEW matrix (no mis-binning)
    want = {
        r["vec_id"]: r["cell"]
        for r in grid_assign_cells(
            spark.table(t).filter(F.col("vec_id") >= 200).select(
                "vec_id", "embedding"
            ),
            "vec_id",
            "embedding",
            cents1,
        ).collect()
    }
    assert got == want
    assert ivf_load_centroids(spark, t) == cents1


def test_stream_ivf_append_pq_codebook_resolved_once(spark, tmp_path):
    """Streaming onto a PQ-coded index resolves the persisted codebook
    companion ONCE at stream start (never per batch) and appended rows
    carry codes identical to a direct pq_encode with the original
    codebook; a PQ index with no companion fails at stream start with
    a pointed error."""
    import numpy as np
    import pytest

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        ivf_build_index,
        pq_encode,
        pq_train,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_ivf_append,
    )

    t = "stream_ivf_pq"
    for s in (
        t, f"{t}_drift_stats", f"{t}_drift_log", f"{t}_centroids",
        f"{t}_pq_codebook",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    rng = np.random.default_rng(29)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cb = pq_train(df, m=4, n_codes=16)
    cents = ivf_build_index(df, t, n_clusters=2, pq_codebook=cb)

    feed = str(tmp_path / "pq_feed")
    schema = "vec_id bigint, embedding array<double>"
    batch = spark.createDataFrame(
        [(100 + i, rng.standard_normal(16).tolist()) for i in range(8)], schema
    ).localCheckpoint(eager=True)
    batch.coalesce(1).write.mode("append").parquet(feed)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    stream_ivf_append(sdf, t, cents, checkpoint_dir=str(tmp_path / "pq_ck"))

    got = {
        r["vec_id"]: r["pq_code"]
        for r in spark.table(t).filter(F.col("vec_id") >= 100).collect()
    }
    want = {
        r["vec_id"]: r["pq_code"] for r in pq_encode(batch, cb).collect()
    }
    assert got == want and len(got) == 8

    # legacy PQ index (no companion): the stream fails FAST and loudly
    spark.sql(f"DROP TABLE IF EXISTS {t}_pq_codebook")
    sdf2 = spark.readStream.schema(schema).parquet(feed)
    with pytest.raises(ValueError, match="persisted codebook"):
        stream_ivf_append(sdf2, t, cents, checkpoint_dir=str(tmp_path / "pq_ck2"))


@pytest.mark.slow
def test_stream_ivf_append_resyncs_after_midstream_merge(spark, tmp_path):
    """Round 17 (VERDICT r16 backlog #4): the merge is the DANGEROUS
    rotation direction for a held matrix — it SHRINKS k and renumbers
    cell ids (retrain/split only move or append cells), so a stale
    handle that kept binning would write rows into retired/renamed
    partitions. Same shape as the retrain resync test: batch 1 lands,
    ivf_merge_cold_cells rotates mid-stream, batch 2 arrives with the
    PRE-merge handle and must bin by the renumbered matrix."""
    import random

    import numpy as np

    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        _centroid_fingerprint,
        ivf_build_index,
        ivf_load_centroids,
        ivf_merge_cold_cells,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        stream_ivf_append,
    )

    t = "stream_ivf_merge_resync"
    for s in (
        t, f"{t}_drift_stats", f"{t}_drift_log", f"{t}_centroids",
        f"{t}_merge_manifest",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    rng = random.Random(47)
    rows, vid = [], 0
    for cx, cy in ((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (10.0, 10.0)):
        for _ in range(40):
            rows.append(
                (vid, [cx + rng.uniform(-0.2, 0.2), cy + rng.uniform(-0.2, 0.2)])
            )
            vid += 1
    base = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents0 = ivf_build_index(base, t, n_clusters=4, seed=19)
    # thin _cell=0 to two rows: a deterministic sliver whichever blob
    # the fit put there (see the merge crash tests)
    keep = (
        spark.table(t).filter(F.col("_cell") == 0).orderBy("vec_id").limit(2)
        .select("vec_id", "embedding", "_cell").localCheckpoint(eager=True)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        keep.write.mode("overwrite").insertInto(t)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    spark.catalog.refreshTable(t)

    feed = str(tmp_path / "merge_resync_feed")
    ck = str(tmp_path / "merge_resync_ck")
    schema = "vec_id bigint, embedding array<double>"
    spark.createDataFrame(
        [(500 + i, [20.0 + rng.uniform(-0.1, 0.1), 20.0]) for i in range(5)],
        schema,
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    stream_ivf_append(sdf, t, cents0, checkpoint_dir=ck)
    assert spark.table(t).count() == 127

    # maintenance merges the sliver while the ingest is "running":
    # k shrinks 4 -> 3 and the top cell renumbers into hole 0
    merged = ivf_merge_cold_cells(spark, t, min_cell_fraction=0.1)
    assert len(merged) == 3
    assert _centroid_fingerprint(merged) != _centroid_fingerprint(cents0)

    spark.createDataFrame(
        [(600 + i, [-10.0 + rng.uniform(-0.1, 0.1), -10.0]) for i in range(8)],
        schema,
    ).coalesce(1).write.mode("append").parquet(feed)
    sdf2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    stream_ivf_append(sdf2, t, cents0, checkpoint_dir=ck)  # stale handle

    got = {
        r["vec_id"]: r["_cell"]
        for r in spark.table(t).filter(F.col("vec_id") >= 600).collect()
    }
    assert len(got) == 8  # the batch appended, the stream survived
    C = np.asarray(merged)
    emb = {
        r["vec_id"]: np.asarray(r["embedding"])
        for r in spark.table(t).filter(F.col("vec_id") >= 600).collect()
    }
    want = {
        v: int(np.argmin(((C - e) ** 2).sum(axis=1))) for v, e in emb.items()
    }
    assert got == want  # binned by the RENUMBERED matrix, no mis-bins
    assert ivf_load_centroids(spark, t) == merged
    for s in (t, f"{t}_drift_stats", f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")


def test_post_drain_flush_drops_stale_drift_reports(spark):
    """Round 17 (ADVICE r16): the post-drain drift-log flush re-checks
    the table's centroid fingerprint — a rotation landing between the
    last micro-batch and the flush would otherwise write reports
    measured against the retired matrix into the freshly cleared log,
    re-arming retrain_recommended with stale cell ids."""
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
        _centroid_fingerprint,
        ivf_build_index,
        ivf_retrain_index,
    )
    from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming.events import (
        _flush_ivf_drift_reports,
    )

    t = "flush_guard_ivf"
    for s in (t, f"{t}_drift_stats", f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
    base = spark.createDataFrame(
        [(i, [float(i % 2) * 10 + 0.01 * i, 0.0]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    cents0 = ivf_build_index(base, t, n_clusters=2, seed=5)
    report = {
        "n_appended": 1, "n_dropped": 0, "batch_mean_dist": 9.0,
        "batch_p95_dist": 9.0, "drift_ratio": 9.0,
        "rebuild_recommended": True, "batch_top_cell": 0,
        "batch_top_cell_fraction": 1.0, "batch_n_cells": 1,
    }
    fp0 = _centroid_fingerprint(cents0)
    _flush_ivf_drift_reports(spark, t, fp0, [dict(report)])
    assert spark.table(f"{t}_drift_log").count() == 1  # matching fp: kept

    # retrain at a different k: a same-k refit of unchanged,
    # well-separated blobs converges to the SAME centroids (same
    # fingerprint), which would not exercise the guard
    cents1 = ivf_retrain_index(spark, t, n_clusters=3)
    assert _centroid_fingerprint(cents1) != fp0
    _flush_ivf_drift_reports(spark, t, fp0, [dict(report)])  # stale buffer
    assert (
        not spark.catalog.tableExists(f"{t}_drift_log")
        or spark.table(f"{t}_drift_log").count() == 0
    )
    for s in (t, f"{t}_drift_stats", f"{t}_drift_log", f"{t}_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {s}")
