"""Multimodal binary-column plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_engineering_rag_spark.operators.multimodal import (
    DecodeStub,
    FEATURE_DIM,
    extract_media_features,
    synthetic_media,
)
from data_engineering_rag_spark.plans import load


def test_decode_stub_contract():
    stub = DecodeStub(deterministic_fake=True)
    f1 = stub.features(b"payload")
    f2 = stub.features(b"payload")
    assert (f1 == f2).all() and len(f1) == FEATURE_DIM
    assert ((0 <= f1) & (f1 < 1)).all()
    with pytest.raises(NotImplementedError):
        DecodeStub(deterministic_fake=False).features(b"x")


def test_media_features_roundtrip(spark, sf_dir):
    media = synthetic_media(spark, load(spark, sf_dir, "documents")).where(
        F.col("media_id") < 10
    )
    rows = {r.media_id: r for r in extract_media_features(media, fake=True).collect()}
    src = {r.media_id: r for r in media.collect()}
    stub = DecodeStub(deterministic_fake=True)
    for mid, r in rows.items():
        payload = bytes(src[mid].payload)
        assert r.n_bytes == len(payload)
        assert r.payload_sha == hashlib.sha256(payload).hexdigest()
        assert len(r.features) == FEATURE_DIM
        expected = stub.features(payload)
        assert all(abs(a - b) < 1e-7 for a, b in zip(r.features, expected))
        assert r.kind in ("image", "audio", "video")


def test_synthetic_payload_closed_forms_hypothesis():
    """Property pin for every closed form the media oracles recompute
    in SQL: PNG size constant, WAV size/duration linear in n_chars,
    digest-derived pixel/sample content, and the windowed-slice mean
    formula (periodic digest bytes, phase 0 at 1 s hops). Pure Python —
    no Spark session — so hypothesis can explore many texts."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_engineering_rag_spark.operators import codecs
    from data_engineering_rag_spark.operators.multimodal import (
        SYN_PNG_BYTES,
        SYN_WAV_RATE,
        _synthetic_payload,
    )

    @settings(max_examples=30, deadline=None)
    @given(text=st.text(min_size=1, max_size=300))
    def check(text):
        n_chars = len(text)
        digest = np.frombuffer(
            hashlib.sha256(text.encode("utf-8")).digest(), dtype=np.uint8
        )

        img = _synthetic_payload("image", text, n_chars)
        assert len(img) == SYN_PNG_BYTES
        assert np.array_equal(
            codecs.decode_png(img).reshape(-1), np.tile(digest, 2)
        )

        aud = _synthetic_payload("audio", text, n_chars)
        n = n_chars * 80
        assert len(aud) == 44 + 2 * n
        assert codecs.wav_duration_ms(aud) == n_chars * 10
        pcm, rate = codecs.decode_wav(aud)
        assert rate == SYN_WAV_RATE
        assert np.array_equal(pcm.reshape(-1), np.tile(digest, (n + 31) // 32)[:n])

        # windowed-slice mean == the oracle's weighted digest-byte sum
        dur = n_chars * 10
        i = 0
        while i * 1000 < dur:
            start, end = i * 1000, min(i * 1000 + 2000, dur)
            win = codecs.slice_wav_ms(aud, start, end)
            wn = (end - start) * 8
            assert len(win) == 44 + 2 * wn
            wpcm, _ = codecs.decode_wav(win)
            expected = (
                sum(
                    int(digest[j]) * (wn // 32 + (1 if j < wn % 32 else 0))
                    for j in range(32)
                )
                / wn
            )
            assert float(wpcm.mean()) == expected
            i += 1

        assert _synthetic_payload("video", text, n_chars) == text.encode("utf-8")

    check()


def test_media_features_sample_real_values(spark, sf_dir):
    """The registered rows-only query (fake=False, on_unknown='null'):
    real decoded histograms for PNG/WAV rows, NULL features for video
    (the undecodable-format path), real n_bytes/sha for all three."""
    import numpy as np

    from data_engineering_rag_spark.operators import codecs
    from data_engineering_rag_spark.plans import REGISTRY

    got = {r.media_id: r for r in REGISTRY["media_features_sample"].spark(spark, sf_dir).collect()}
    media = synthetic_media(spark, load(spark, sf_dir, "documents")).where(
        F.col("media_id") < 20
    )
    src = {r.media_id: r for r in media.collect()}
    assert set(got) == set(src) and len(got) == 20
    for mid, r in got.items():
        payload = bytes(src[mid].payload)
        assert r.n_bytes == len(payload)
        assert r.payload_sha == hashlib.sha256(payload).hexdigest()
        if r.kind == "video":
            assert r.features is None
        else:
            exp = (
                codecs.image_features(payload, FEATURE_DIM)
                if r.kind == "image"
                else codecs.audio_features(payload, FEATURE_DIM)
            )
            assert np.allclose(np.array(r.features, dtype=np.float32), exp)
            assert abs(sum(r.features) - 1.0) < 1e-5


def test_resize_and_frame_sample_plumbing(spark):
    import pandas as pd

    from data_engineering_rag_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synthetic_media,
    )

    docs = spark.createDataFrame(
        [(0, "an image doc", 12), (2, "a video doc!", 12), (5, "video two xy", 12)],
        ["doc_id", "text", "n_chars"],
    )
    media = synthetic_media(spark, docs)
    resized = resize_images(media, width=64, height=32).collect()
    assert [(r.media_id, r.width, r.height) for r in resized] == [(0, 64, 32)]
    assert len(resized[0].payload) == 32  # sha256 digest stands in for pixels

    frames = sample_frames(media, every_ms=40).collect()
    # videos: doc_id 2 and 5, duration 120ms -> frames at 0,40,80,120
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(by_media) == {2, 5}
    for mid, rows in by_media.items():
        assert [r.frame_idx for r in sorted(rows, key=lambda x: x.frame_idx)] == [0, 1, 2, 3]
        assert {r.t_ms for r in rows} == {0, 40, 80, 120}
        assert len({r.frame_sha for r in rows}) == 4  # distinct per frame


def test_real_codec_path_on_synthetic_media(spark):
    """Since round 11 synthetic payloads are REAL PNG/WAV, so the
    fake=False resize path WORKS on them; video frame extraction stays
    the honest ffmpeg seam and still raises."""
    import pytest as _pytest

    from data_engineering_rag_spark.operators import codecs
    from data_engineering_rag_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synthetic_media,
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    docs = spark.createDataFrame([(0, "img", 3), (2, "vid", 3)], ["doc_id", "text", "n_chars"])
    media = synthetic_media(spark, docs)
    out = resize_images(media, width=16, height=16, fake=False).collect()
    assert [(r.media_id, r.width, r.height) for r in out] == [(0, 16, 16)]
    px = codecs.decode_png(bytes(out[0].payload))
    assert px.shape == (16, 16, 1)
    with _pytest.raises((PythonException, Py4JJavaError), match="NotImplementedError"):
        sample_frames(media, fake=False).collect()


def test_synthetic_media_payload_scheme(spark):
    """Pins the round-11 payload closed forms the oracles rely on:
    level-0 PNG of 8x8 gray = 140 bytes with digest-tiled pixels; WAV =
    44 + 160*n_chars bytes, duration n_chars*10 ms, digest-periodic
    samples; video = UTF-8 text; identical text -> identical payload."""
    import numpy as np

    from data_engineering_rag_spark.operators import codecs
    from data_engineering_rag_spark.operators.multimodal import (
        SYN_PNG_BYTES,
        SYN_WAV_RATE,
        synthetic_media,
    )

    docs = spark.createDataFrame(
        [
            (0, "same text!!!", 12),   # image
            (1, "audio doc txt", 13),  # audio
            (2, "video doc txt", 13),  # video
            (3, "same text!!!", 12),   # image, duplicate text of doc 0
        ],
        ["doc_id", "text", "n_chars"],
    )
    rows = {r.media_id: r for r in synthetic_media(spark, docs).collect()}

    img = rows[0]
    assert img.kind == "image" and img.mime == "image/png"
    assert (img.width, img.height, img.duration_ms) == (8, 8, None)
    assert len(img.payload) == SYN_PNG_BYTES
    digest = np.frombuffer(hashlib.sha256(b"same text!!!").digest(), dtype=np.uint8)
    px = codecs.decode_png(bytes(img.payload))
    assert np.array_equal(px.reshape(-1), np.tile(digest, 2))
    assert bytes(rows[3].payload) == bytes(img.payload)  # injective in text

    aud = rows[1]
    assert aud.kind == "audio" and aud.mime == "audio/wav"
    assert aud.duration_ms == 130
    assert len(aud.payload) == 44 + 160 * 13
    pcm, rate = codecs.decode_wav(bytes(aud.payload))
    assert rate == SYN_WAV_RATE and pcm.shape == (13 * 80, 1)
    dig_a = np.frombuffer(hashlib.sha256(b"audio doc txt").digest(), dtype=np.uint8)
    assert np.array_equal(pcm.reshape(-1), np.tile(dig_a, (13 * 80 + 31) // 32)[: 13 * 80])
    assert codecs.wav_duration_ms(bytes(aud.payload)) == 130

    vid = rows[2]
    assert vid.kind == "video" and bytes(vid.payload) == b"video doc txt"
    assert vid.duration_ms == 130


def test_chunked_frames_byte_bound_and_order():
    """Unit guard for the ~32 MB Arrow flush (VERDICT r11 item 4): an
    output-amplifying producer routed through _ChunkedFrames must (a)
    never yield a frame whose payload bytes exceed the bound by more
    than the single row that crossed it, (b) preserve row order and
    content exactly vs the unchunked result, and (c) drain tail()
    idempotently — a regression here otherwise only shows up as a
    direct-memory OOM at sf10."""
    from data_engineering_rag_spark.operators.multimodal import _ChunkedFrames

    bound = 1 << 10  # 1 KiB for the test; the policy is bound-relative
    buf = _ChunkedFrames(("rid", "payload"), chunk_bytes=bound)
    rows = [(i, bytes([i % 251]) * (200 + 37 * (i % 7))) for i in range(100)]

    frames = []
    for rid, payload in rows:
        out = buf.add((rid, payload), len(payload))
        if out is not None:
            frames.append(out)
    tail = buf.tail()
    if tail is not None:
        frames.append(tail)

    assert len(frames) > 1  # the bound actually forced chunking
    for f in frames:
        payload_bytes = int(sum(len(p) for p in f["payload"]))
        # per-row check: only the row that crossed the line may overshoot
        assert payload_bytes <= bound + max(len(p) for _, p in rows) + 128 * len(f)
    # order + content survive chunking exactly
    flat = [(int(r.rid), bytes(r.payload)) for f in frames for r in f.itertuples()]
    assert flat == rows
    # tail() drained the buffer — a second call must not double-emit
    assert buf.tail() is None
    assert buf.nbytes == 0


def test_ml_lsh_probe_batch_bound(spark):
    """The forced probe-side broadcast is guarded: a probe batch above
    MAX_PROBE_BATCH must be rejected before any job runs (ADVICE r11)."""
    from data_engineering_rag_spark.operators.lsh_ml import (
        MAX_PROBE_BATCH,
        ml_minhash_candidates,
    )

    docs = spark.createDataFrame([(0, "alpha beta gamma")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="MAX_PROBE_BATCH"):
        ml_minhash_candidates(docs, probe_ids=list(range(MAX_PROBE_BATCH + 1)))
