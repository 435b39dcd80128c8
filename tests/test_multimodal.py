"""Multimodal plumbing: binary blob schema, mapInPandas decode batch
shape, metadata correctness, and column pruning of the blob."""

from __future__ import annotations

from web_analytics_visits_re_processing_spark.operators.multimodal import (
    decode_image_meta,
    resize_images,
    with_synthetic_image_blob,
)
from web_analytics_visits_re_processing_spark.sources.tables import load_table


def test_decode_image_meta_roundtrip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    blobs = with_synthetic_image_blob(docs)
    assert dict(blobs.dtypes)["image"] == "binary"

    meta = decode_image_meta(blobs).collect()
    assert len(meta) == 50
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in meta:
        payload = src[r["doc_id"]].encode("utf-8")
        assert r["format"] == "img"
        assert r["n_bytes"] == len(payload) + 8  # 4 magic + 2w + 2h
        assert r["width"] == len(payload) % 640 + 16
        assert r["height"] == len(payload) % 480 + 9


def test_decode_image_meta_truncated_headers_are_unknown(spark):
    """A blob carrying a format signature but truncated before the
    fixed-offset header fields must classify as 'unknown' with -1 dims
    (the repo-wide undecodable convention), not decode zero-filled
    0×0 dimensions."""
    from web_analytics_visits_re_processing_spark.operators.imagecodec import (
        PNG_SIG,
    )

    rows = [
        (1, PNG_SIG),  # signature only
        (2, PNG_SIG + b"\x00" * 10),  # dies inside IHDR fields (< 24)
        (3, b"\x89IMG" + b"\x00"),  # synthetic magic, no dims (< 8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, image binary")
    out = {r["doc_id"]: r for r in decode_image_meta(df).collect()}
    for did in (1, 2, 3):
        assert out[did]["format"] == "unknown", did
        assert out[did]["width"] == -1 and out[did]["height"] == -1, did


def test_resize_images_real_roundtrip(spark):
    """resize_images does a FULL pixel round trip (decode → nearest
    resample → re-encode): output blobs are valid PNGs whose pixels
    equal the numpy-side nearest-neighbor reference; bad blobs yield
    null image / -1 dims instead of failing the batch."""
    import numpy as np

    from web_analytics_visits_re_processing_spark.operators.imagecodec import (
        decode_png,
        encode_png,
        resize_nearest,
    )

    rng = np.random.RandomState(7)
    imgs = {
        1: rng.randint(0, 256, (20, 31, 3), dtype=np.uint8),
        2: rng.randint(0, 256, (5, 4, 3), dtype=np.uint8),  # upscale
    }
    rows = [(k, encode_png(v)) for k, v in imgs.items()] + [
        (3, b"garbage"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, image binary")
    out = {r["doc_id"]: r for r in resize_images(df, 8, 8).collect()}
    for did, img in imgs.items():
        r = out[did]
        assert (r["width"], r["height"]) == (8, 8)
        got = decode_png(bytes(r["image"]))
        assert (got == resize_nearest(img, 8, 8)).all()
    assert out[3]["image"] is None and out[3]["width"] == -1
    assert out[4]["image"] is None and out[4]["width"] == -1


def test_sample_frames_spark(spark):
    """sample_frames over real APNG containers: every 2nd frame comes
    back as a standalone decodable PNG with the right pixels; a plain
    PNG yields one frame; garbage yields the -1 sentinel row."""
    import numpy as np

    from web_analytics_visits_re_processing_spark.operators.imagecodec import (
        decode_png,
        encode_apng,
        encode_png,
    )
    from web_analytics_visits_re_processing_spark.operators.multimodal import (
        sample_frames,
    )

    rng = np.random.RandomState(11)
    frames = [rng.randint(0, 256, (6, 7, 3), dtype=np.uint8) for _ in range(5)]
    single = rng.randint(0, 256, (3, 3, 3), dtype=np.uint8)
    rows = [
        (1, encode_apng(frames)),
        (2, encode_png(single)),
        (3, b"nope"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, video binary")
    out = sample_frames(df, every_n=2).collect()
    by_key = {(r["doc_id"], r["frame_index"]): r for r in out}
    assert sorted(k for k in by_key if k[0] == 1) == [(1, 0), (1, 2), (1, 4)]
    for idx in (0, 2, 4):
        r = by_key[(1, idx)]
        assert (r["width"], r["height"]) == (7, 6)
        assert (decode_png(bytes(r["frame"])) == frames[idx]).all()
    assert (decode_png(bytes(by_key[(2, 0)]["frame"])) == single).all()
    assert by_key[(3, -1)]["frame"] is None and by_key[(3, -1)]["width"] == -1


def test_metadata_query_prunes_blob_column(spark, sf_dir, tmp_path):
    """Reading only metadata from a parquet with a blob column must not
    scan the blob (ReadSchema excludes it)."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    p = str(tmp_path / "blobs")
    with_synthetic_image_blob(docs).write.parquet(p)
    back = spark.read.parquet(p).select("doc_id", "n_chars")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "image" not in plan
    assert back.count() == 20


def _make_png(width: int, height: int, rgb=(200, 10, 10)) -> bytes:
    """Fully valid PNG built with stdlib only (zlib IDAT + correct
    CRCs) — proves the decoder handles REAL image bytes, not just our
    own header construction."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width  # filter 0 + truecolor pixels
    idat = zlib.compress(row * height)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def test_decode_real_png_bytes(spark):
    """IHDR parse on fully valid PNGs (correct zlib IDAT and CRCs),
    mixed with synthetic blobs, garbage, and NULL in one batch."""
    rows = [
        (1, _make_png(320, 200)),
        (2, _make_png(16, 9)),
        (3, b"\x89IMG" + (42).to_bytes(2, "big") + (7).to_bytes(2, "big") + b"payload"),
        (4, b"not an image at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, image binary")
    meta = {r["doc_id"]: r for r in decode_image_meta(df).collect()}
    assert (meta[1]["width"], meta[1]["height"], meta[1]["format"]) == (320, 200, "png")
    assert (meta[2]["width"], meta[2]["height"], meta[2]["format"]) == (16, 9, "png")
    assert meta[1]["n_bytes"] == len(rows[0][1])
    assert (meta[3]["width"], meta[3]["height"], meta[3]["format"]) == (42, 7, "img")
    assert (meta[4]["width"], meta[4]["format"]) == (-1, "unknown")
    assert (meta[5]["width"], meta[5]["n_bytes"], meta[5]["format"]) == (-1, 0, "unknown")


def test_png_blob_query_construction(spark, sf_dir):
    """with_png_blob builds a well-formed container: signature, IHDR
    length/type at spec offsets, dimensions recoverable by the real
    byte-offset parse."""
    from web_analytics_visits_re_processing_spark.operators.multimodal import (
        with_png_blob,
    )

    docs = load_table(spark, sf_dir, "documents").limit(10)
    blobs = {r["doc_id"]: bytes(r["image"]) for r in with_png_blob(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, b in blobs.items():
        n = len(texts[did].encode("utf-8"))
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        assert b[8:12] == (13).to_bytes(4, "big")  # IHDR length
        assert b[12:16] == b"IHDR"
        assert int.from_bytes(b[16:20], "big") == n % 640 + 16
        assert int.from_bytes(b[20:24], "big") == n % 480 + 9
        assert len(b) == n + 33


def test_decode_real_wav_bytes(spark, tmp_path):
    """RIFF header parse on genuine WAV files written by the stdlib
    `wave` module (real encoder, not our own construction)."""
    import io
    import wave

    from web_analytics_visits_re_processing_spark.operators.multimodal import (
        decode_audio_meta,
    )

    def make_wav(channels, rate, n_frames=100):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(b"\x01\x02" * channels * n_frames)
        return buf.getvalue()

    rows = [
        (1, make_wav(1, 44100)),
        (2, make_wav(2, 16000)),
        (3, b"RIFFxxxxNOPE not a wave"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, audio binary")
    meta = {r["doc_id"]: r for r in decode_audio_meta(df).collect()}
    assert (meta[1]["channels"], meta[1]["sample_rate"], meta[1]["bits_per_sample"]) == (1, 44100, 16)
    assert (meta[2]["channels"], meta[2]["sample_rate"]) == (2, 16000)
    assert meta[1]["n_bytes"] == len(rows[0][1])
    assert meta[3]["format"] == "unknown" and meta[3]["channels"] == -1
    assert meta[4]["format"] == "unknown" and meta[4]["n_bytes"] == 0


def test_wav_blob_query_construction(spark, sf_dir):
    """with_wav_blob writes a canonical 44-byte PCM header the stdlib
    `wave` reader itself accepts."""
    import io
    import wave

    from web_analytics_visits_re_processing_spark.operators.multimodal import (
        with_wav_blob,
    )

    docs = load_table(spark, sf_dir, "documents").limit(5)
    blobs = {r["doc_id"]: bytes(r["audio"]) for r in with_wav_blob(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, b in blobs.items():
        n = len(texts[did].encode("utf-8"))
        with wave.open(io.BytesIO(b), "rb") as w:
            assert w.getnchannels() == n % 2 + 1
            assert w.getframerate() == 8000 + (n % 8) * 4000
            assert w.getsampwidth() == 2


def test_png_files_are_staged_under_the_checkouts_tmp(spark, sf_dir):
    """``binaryfile_png_ingest``'s PNG fixture lands in the checkout's
    own ``.tmp/`` (gitignored), not beside the checkout."""
    import os

    from web_analytics_visits_re_processing_spark.plans.llmdata import _staged_png_dir

    tmp_root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
    out = _staged_png_dir(spark, sf_dir)
    assert os.path.commonpath([out, tmp_root]) == tmp_root
    assert out == os.path.join(tmp_root, "png_files", os.path.basename(sf_dir), "imgs")
    assert any(name.endswith(".png") for name in os.listdir(out))
