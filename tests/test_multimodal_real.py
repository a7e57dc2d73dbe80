"""Real-codec multimodal tests (VERDICT r9 item 4): the ``fake=False``
seams in ``operators/multimodal.py`` now run actual PNG/WAV decodes
(``operators/codecs.py``, pure stdlib) over real fixture bytes checked
into ``tests/fixtures/`` — no network, no PIL/ffmpeg.

The PNG fixture is written by an INDEPENDENT forward-filtering encoder
(``tests/fixtures/mediagen.py``, one scanline per filter type 0–4), so
recovering ``known_pixels()`` proves the production decoder's inverse
filters, not a self-referential round-trip. Since round 11 the
registered ``media_*`` queries ALSO run this real path end-to-end
(synthetic payloads are real PNG/WAV; see test_multimodal_io.py).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from data_engineering_rag_spark.operators import codecs
from data_engineering_rag_spark.operators.multimodal import (
    FEATURE_DIM,
    DecodeStub,
    extract_media_features,
    resize_images,
    sample_frames,
    window_audio,
)
from tests.fixtures import mediagen

_FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
PNG = open(os.path.join(_FIX, "tiny.png"), "rb").read()
WAV = open(os.path.join(_FIX, "tiny.wav"), "rb").read()
AVI = open(os.path.join(_FIX, "tiny.avi"), "rb").read()


# ---------------------------------------------------------------- codecs


def test_fixtures_match_generator():
    """The checked-in bytes ARE what the generator emits — a stale or
    hand-edited fixture fails here before confusing the codec tests."""
    assert PNG == mediagen.write_png_all_filters(mediagen.known_pixels())
    assert WAV == mediagen.write_wav(mediagen.known_samples())


def test_png_decoder_inverts_all_filters():
    """One scanline per filter type (None/Sub/Up/Average/Paeth) —
    decode must invert each of them exactly."""
    got = codecs.decode_png(PNG)
    assert got.shape == (mediagen.H, mediagen.W, 3)
    assert np.array_equal(got, mediagen.known_pixels())


def test_png_encode_decode_roundtrip():
    px = mediagen.known_pixels()
    assert np.array_equal(codecs.decode_png(codecs.encode_png(px)), px)


def test_resize_nearest_dims_and_corners():
    px = mediagen.known_pixels()
    big = codecs.resize_nearest(px, 224, 224)
    assert big.shape == (224, 224, 3)
    # nearest-neighbor keeps the corner pixels exactly
    assert np.array_equal(big[0, 0], px[0, 0])
    assert np.array_equal(big[-1, -1], px[-1, -1])
    # and introduces no new colors
    assert set(map(tuple, big.reshape(-1, 3))) <= set(map(tuple, px.reshape(-1, 3)))


def test_wav_decode_matches_known_samples():
    pcm, rate = codecs.decode_wav(WAV)
    assert rate == mediagen.WAV_RATE
    assert np.array_equal(pcm, mediagen.known_samples())
    assert codecs.wav_duration_ms(WAV) == mediagen.WAV_MS


def test_wav_slice_is_exact_pcm_range():
    sliced = codecs.slice_wav_ms(WAV, 1000, 2500)
    pcm, rate = codecs.decode_wav(sliced)
    full = mediagen.known_samples()
    lo, hi = 1000 * mediagen.WAV_RATE // 1000, 2500 * mediagen.WAV_RATE // 1000
    assert rate == mediagen.WAV_RATE
    assert np.array_equal(pcm, full[lo:hi])


def test_real_features_are_normalized_histograms():
    img = DecodeStub(deterministic_fake=False).features(PNG)
    aud = DecodeStub(deterministic_fake=False).features(WAV)
    for f in (img, aud):
        assert f.shape == (FEATURE_DIM,)
        assert f.dtype == np.float32
        assert abs(float(f.sum()) - 1.0) < 1e-5
        assert (f >= 0).all()
    # real features are content-derived, not hash-derived: the fake
    # path on the same payload gives a different vector
    fake = DecodeStub(deterministic_fake=True).features(PNG)
    assert not np.allclose(img, fake)


def test_unsupported_format_still_raises_at_the_seam():
    with pytest.raises(NotImplementedError):
        DecodeStub(deterministic_fake=False).features(b"\xff\xd8\xff\xe0 not-a-png")


# ------------------------------------------------- Spark-side (fake=False)


def _media_df(spark):
    rows = [
        (1, "image", bytearray(PNG), "image/png", mediagen.W, mediagen.H, None),
        (2, "audio", bytearray(WAV), "audio/wav", None, None, mediagen.WAV_MS),
    ]
    return spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, mime string, "
        "width bigint, height bigint, duration_ms bigint",
    )


def test_extract_features_real_path(spark):
    got = {r.media_id: r for r in extract_media_features(_media_df(spark), fake=False).collect()}
    assert set(got) == {1, 2}
    assert got[1].payload_sha == hashlib.sha256(PNG).hexdigest()
    exp_img = codecs.image_features(PNG, FEATURE_DIM)
    assert np.allclose(np.array(got[1].features, dtype=np.float32), exp_img)
    exp_aud = codecs.audio_features(WAV, FEATURE_DIM)
    assert np.allclose(np.array(got[2].features, dtype=np.float32), exp_aud)


def test_resize_images_real_path(spark):
    out = resize_images(_media_df(spark), width=224, height=224, fake=False).collect()
    assert len(out) == 1  # audio row filtered out
    r = out[0]
    assert (r.media_id, r.width, r.height) == (1, 224, 224)
    px = codecs.decode_png(bytes(r.payload))
    assert px.shape == (224, 224, 3)
    assert np.array_equal(px, codecs.resize_nearest(mediagen.known_pixels(), 224, 224))
    assert r.resized_sha == hashlib.sha256(bytes(r.payload)).hexdigest()
    assert r.mean_px == pytest.approx(float(px.mean()), abs=0)


def test_window_audio_real_path(spark):
    out = sorted(
        window_audio(_media_df(spark), win_ms=2000, hop_ms=1000, fake=False).collect(),
        key=lambda r: r.win_idx,
    )
    # 2.5 s at 2000/1000 -> starts 0, 1000, 2000
    assert [(r.start_ms, r.end_ms) for r in out] == [(0, 2000), (1000, 2500), (2000, 2500)]
    full = mediagen.known_samples()
    for r in out:
        pcm, rate = codecs.decode_wav(bytes(r.window_payload))
        lo = r.start_ms * mediagen.WAV_RATE // 1000
        hi = r.end_ms * mediagen.WAV_RATE // 1000
        assert rate == mediagen.WAV_RATE
        assert np.array_equal(pcm, full[lo:hi]), r.win_idx
        assert r.window_sha == hashlib.sha256(bytes(r.window_payload)).hexdigest()
        assert r.window_mean_amp == pytest.approx(float(pcm.mean()), abs=0)


def test_avi_fixture_matches_generator():
    assert AVI == mediagen.write_avi(mediagen.known_frames())


def test_avi_decoder_inverts_independent_writer():
    """tiny.avi is assembled by mediagen's own byte-level writer, so
    recovering known_frames() (including the bottom-up row flip and the
    4-byte stride padding on the odd width) tests the parser, not a
    self-referential round-trip."""
    frames, fps = codecs.decode_avi(AVI)
    assert fps == mediagen.AVI_FPS
    assert frames.shape == (mediagen.AVI_FRAMES, mediagen.AVI_H, mediagen.AVI_W)
    assert np.array_equal(frames, mediagen.known_frames())
    assert codecs.sniff_kind(AVI) == "video"


def test_avi_encode_decode_roundtrip_and_seek():
    rng = np.random.default_rng(99)
    fr = rng.integers(0, 256, size=(4, 3, 7), dtype=np.uint8)  # w=7 -> stride 8
    payload = codecs.encode_avi(fr, fps=2)
    got, fps = codecs.decode_avi(payload)
    assert fps == 2 and np.array_equal(got, fr)
    # seek: frame covering t_ms = t_ms*fps//1000, clamped to the last
    assert np.array_equal(codecs.avi_frame_at_ms(payload, 0), fr[0])
    assert np.array_equal(codecs.avi_frame_at_ms(payload, 1500), fr[3])
    assert np.array_equal(codecs.avi_frame_at_ms(payload, 99000), fr[3])


def test_avi_compressed_stream_is_the_ffmpeg_seam():
    """biCompression != 0 (or non-8-bit frames) must raise the explicit
    ffmpeg NotImplementedError — the drop-in seam is now per-frame
    decode, not the whole video modality."""
    payload = bytearray(codecs.encode_avi(np.zeros((1, 2, 2), dtype=np.uint8)))
    at = payload.index(b"strf") + 8 + 16  # biCompression field offset
    payload[at:at + 4] = (0x34363248).to_bytes(4, "little")  # 'H264'
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        codecs.decode_avi(bytes(payload))


def test_sample_frames_real_path_decodes_avi(spark):
    """fake=False really decodes: duration from the container, one row
    per sampled second, each frame payload a PNG of the sought frame."""
    rows = [
        (3, "video", bytearray(AVI), "video/avi", None, None, None),
        (1, "image", bytearray(PNG), "image/png", mediagen.W, mediagen.H, None),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id bigint, kind string, payload binary, mime string, "
        "width bigint, height bigint, duration_ms bigint",
    )
    out = sorted(
        sample_frames(df, every_ms=1000, fake=False).collect(),
        key=lambda r: r.frame_idx,
    )
    # 5 frames at 2 fps = 2500 ms -> samples at 0, 1000, 2000
    assert [(r.media_id, r.frame_idx, r.t_ms) for r in out] == [
        (3, 0, 0), (3, 1, 1000), (3, 2, 2000)
    ]
    known = mediagen.known_frames()
    for r, src_idx in zip(out, (0, 2, 4)):  # t_ms*fps//1000
        px = codecs.decode_png(bytes(r.frame_payload))
        assert np.array_equal(px[..., 0], known[src_idx]), r.frame_idx
        assert r.frame_sha == hashlib.sha256(bytes(r.frame_payload)).hexdigest()


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(channels):
    """encode→decode identity for every supported color type
    (grayscale / gray+alpha / RGB / RGBA) — the decoder's channel
    handling, not just the RGB fixture path."""
    rng = np.random.default_rng(42 + channels)
    px = rng.integers(0, 256, size=(7, 9, channels), dtype=np.uint8)
    got = codecs.decode_png(codecs.encode_png(px))
    assert got.shape == (7, 9, channels)
    assert np.array_equal(got, px)


def test_png_grayscale_features_use_the_channel_itself():
    px = np.full((4, 4, 1), 128, dtype=np.uint8)
    f = codecs.image_features(codecs.encode_png(px), FEATURE_DIM)
    # all mass lands in the bin containing 128 (bin 8 of 16 over [0,256))
    assert f[8] == pytest.approx(1.0)
    assert abs(float(f.sum()) - 1.0) < 1e-6


def test_png_unsupported_depth_raises_not_garbage():
    """16-bit PNG must raise the explicit PIL-seam error, not decode
    wrong pixels silently."""
    import struct
    import zlib as _z

    w = h = 2
    raw = b"".join(b"\x00" + b"\x00\x01" * w for _ in range(h))  # 16-bit gray

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        codecs.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="PIL"):
        codecs.decode_png(payload)


def test_wav_stereo_roundtrip_and_features():
    rng = np.random.default_rng(7)
    pcm = rng.integers(-32768, 32767, size=(800, 2), dtype=np.int16)
    wav = codecs.encode_wav(pcm, 8000)
    got, rate = codecs.decode_wav(wav)
    assert rate == 8000 and np.array_equal(got, pcm)
    f = codecs.audio_features(wav, FEATURE_DIM)
    assert abs(float(f.sum()) - 1.0) < 1e-5


def test_truncated_png_raises_valueerror_not_struct_error():
    """ADVICE r10: a payload that passes the magic check but is cut off
    mid-chunk must surface as the decoder's ValueError taxonomy (clear
    task error in mapInPandas), not a bare struct.error."""
    full = codecs.encode_png(np.zeros((4, 4, 1), dtype=np.uint8))
    # cuts land inside the IHDR header, IHDR data, IDAT header, and
    # IDAT data — a cut inside a trailing CRC or a missing IEND is NOT
    # an error by design (the decoder never validates CRCs).
    for cut in (10, 20, 35, 45):
        with pytest.raises(ValueError, match="truncated PNG"):
            codecs.decode_png(full[:cut])


def test_wav_duration_ceils_so_no_trailing_samples_drop():
    """ADVICE r10: 4001 samples @ 4000 Hz must report 1001 ms (ceil),
    so window_audio's real path puts the final sub-ms samples inside a
    window instead of silently dropping them."""
    pcm = np.arange(4001, dtype=np.int16).reshape(-1, 1)
    wav = codecs.encode_wav(pcm, 4000)
    assert codecs.wav_duration_ms(wav) == 1001
    # the last window [1000, 1001) exists and holds exactly sample 4000
    sliced = codecs.slice_wav_ms(wav, 1000, 1001)
    got, _ = codecs.decode_wav(sliced)
    assert np.array_equal(got.reshape(-1), np.array([4000], dtype=np.int16))


def test_window_audio_real_covers_full_signal_with_ceil_duration(spark):
    """End-to-end over mapInPandas: a WAV whose length does not divide
    the rate evenly still has every sample inside some window — the
    union of decoded window slices reconstructs the full signal."""
    pcm = np.arange(4001, dtype=np.int16).reshape(-1, 1)
    wav = codecs.encode_wav(pcm, 4000)
    df = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "audio/wav", None, None, None)],
        "media_id bigint, kind string, payload binary, mime string, "
        "width bigint, height bigint, duration_ms bigint",
    )
    out = sorted(
        window_audio(df, win_ms=2000, hop_ms=1000, fake=False).collect(),
        key=lambda r: r.win_idx,
    )
    assert [(r.start_ms, r.end_ms) for r in out] == [(0, 1001), (1000, 1001)]
    covered = np.concatenate(
        [codecs.decode_wav(bytes(out[0].window_payload))[0].reshape(-1)]
    )
    assert np.array_equal(covered, pcm.reshape(-1))  # window 0 spans all
    last, _ = codecs.decode_wav(bytes(out[1].window_payload))
    assert np.array_equal(last.reshape(-1), pcm.reshape(-1)[4000:])


def test_real_video_features_are_normalized_frame_histograms():
    """r14: video joins the real feature path — FEATURE_DIM-bin
    normalized luminance histogram over ALL decoded frames, matching
    the image/audio histogram contract (sums to 1, recomputable from
    the known frames)."""
    got = DecodeStub(deterministic_fake=False).features(AVI)
    assert got.shape == (FEATURE_DIM,)
    assert got.sum() == pytest.approx(1.0, abs=1e-6)
    frames = mediagen.known_frames()
    exp, _ = np.histogram(frames.astype(np.float64), bins=FEATURE_DIM, range=(0.0, 256.0))
    assert np.allclose(got, exp / frames.size)


def test_extract_features_real_path_covers_video(spark):
    df = spark.createDataFrame(
        [(9, "video", bytearray(AVI), "video/avi", None, None, None)],
        "media_id bigint, kind string, payload binary, mime string, "
        "width bigint, height bigint, duration_ms bigint",
    )
    rows = extract_media_features(df, fake=False).collect()
    assert len(rows) == 1 and rows[0].media_id == 9
    assert rows[0].payload_sha == hashlib.sha256(AVI).hexdigest()
    assert np.allclose(
        np.array(rows[0].features, dtype=np.float32),
        codecs.video_features(AVI, FEATURE_DIM),
    )


def test_real_video_frames_decode_once_and_inclusive_endpoint(monkeypatch):
    """_real_video_frames decodes the clip ONCE regardless of sample
    count (ADVICE r15 — the r14 path re-ran the whole-clip decode per
    timestamp) and samples the exact-multiple endpoint INCLUSIVELY,
    matching the fake path's int(dur)//every_ms + 1 convention and the
    documented '… <= duration_ms' contract."""
    from data_engineering_rag_spark.operators import multimodal

    fr = np.arange(4 * 2 * 2, dtype=np.uint8).reshape(4, 2, 2)
    payload = codecs.encode_avi(fr, fps=2)  # 4 frames @ 2 fps = 2000 ms
    calls = {"n": 0}
    real_decode = codecs.decode_avi

    def counting(p):
        calls["n"] += 1
        return real_decode(p)

    monkeypatch.setattr(codecs, "decode_avi", counting)
    out = list(multimodal._real_video_frames(payload, every_ms=500))
    assert calls["n"] == 1
    assert [(i, t) for i, t, _ in out] == [
        (0, 0), (1, 500), (2, 1000), (3, 1500), (4, 2000)
    ]
    # covering frame t*fps//1000, clamped to the last at the endpoint
    for (_, t, png), src in zip(out, (0, 1, 2, 3, 3)):
        assert np.array_equal(codecs.decode_png(png)[..., 0], fr[src]), t
    # fake-path parity at the same exact-multiple duration: same count
    assert len(out) == 2000 // 500 + 1
