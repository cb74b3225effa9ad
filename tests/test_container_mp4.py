"""ISO-BMFF (MP4) demuxer/muxer + native VP8-in-MP4 ('vp08') decode.

Same evidence pattern as test_container_webm: the container layer's
oracle is the byte-exact mux→demux round-trip (no mp4 tooling exists
in this environment) — including the multi-chunk stsc/stco walk, the
stss sync table and an odd trailing chunk — while every frame payload
is a libwebp-encoded VP8 stream whose decode is interop-pinned.
"""
from __future__ import annotations

import struct

import numpy as np
import pytest

from org_revue_de_presse_trends_spark.functions import codecs
from org_revue_de_presse_trends_spark.functions import container_mp4 as cm
from org_revue_de_presse_trends_spark.functions.codec_vp8 import (
    decode_vp8_rgba,
)

from test_codec_vp8 import _LIB, _lw_encode_rgb, _lw_decode_rgba, _vp8_chunk

needs_libwebp = pytest.mark.skipif(_LIB is None,
                                   reason="system libwebp not available")

W, H = 64, 48


@pytest.fixture(scope="module")
def vp8_frames():
    if _LIB is None:
        pytest.skip("system libwebp not available")
    out = []
    for i in range(7):
        xx, yy = np.meshgrid(np.arange(W), np.arange(H))
        img = np.stack([(xx * 3 + i * 8) % 256, (yy * 5 + i * 3) % 256,
                        (xx + yy + i * 11) % 256],
                       axis=-1).astype(np.uint8)
        data = _lw_encode_rgb(img, 75.0)
        out.append((_vp8_chunk(data), _lw_decode_rgba(data)))
    return out


@needs_libwebp
def test_mux_parse_round_trip(vp8_frames):
    payloads = [p for p, _ in vp8_frames]
    mp4 = cm.mux_mp4_vp8(payloads, W, H, frame_duration=100)
    assert codecs.sniff_format(mp4) == "mp4"
    doc = cm.parse_mp4(mp4)
    assert doc["brand"] == "isom"
    t = doc["tracks"][0]
    assert (t["handler"], t["codec"], t["width"], t["height"],
            t["timescale"], t["n_samples"]) == (
        "vide", "vp08", W, H, 1000, 7)
    track, samples = cm.extract_samples(mp4)
    assert [s[0] for s in samples] == [100 * i for i in range(7)]
    assert all(s[1] for s in samples)
    assert [s[2] for s in samples] == payloads     # byte-exact


@needs_libwebp
def test_samples_decode_bit_exact(vp8_frames):
    payloads = [p for p, _ in vp8_frames]
    mp4 = cm.mux_mp4_vp8(payloads, W, H)
    _, samples = cm.extract_samples(mp4)
    for i, (ts, sync, data) in enumerate(samples):
        assert np.array_equal(decode_vp8_rgba(data), vp8_frames[i][1]), i


@needs_libwebp
def test_odd_count_multi_chunk_and_sync_table(vp8_frames):
    """5 frames = two 2-sample chunks + a 1-sample tail chunk: the
    stsc run-length walk and the stss sparse sync table both real."""
    payloads = [p for p, _ in vp8_frames[:5]]
    keys = [True, False, False, True, False]
    mp4 = cm.mux_mp4_vp8(payloads, W, H, frame_duration=100,
                         keyframes=keys)
    _, samples = cm.extract_samples(mp4)
    assert [s[2] for s in samples] == payloads
    assert [s[1] for s in samples] == keys
    out = codecs.extract_video_frames(mp4, every_ms=100, duration_ms=500)
    assert [t for t, _ in out] == [0, 100, 200, 300, 400]
    # ts 400 seeks back to the keyframe at 300 (frame 3)
    assert np.array_equal(codecs.decode_image(out[4][1]),
                          vp8_frames[3][1])


@needs_libwebp
def test_native_sampling_matches_libwebp(vp8_frames):
    payloads = [p for p, _ in vp8_frames]
    mp4 = cm.mux_mp4_vp8(payloads, W, H, frame_duration=100)
    out = codecs.extract_video_frames(mp4, every_ms=200, duration_ms=700)
    assert [t for t, _ in out] == [0, 200, 400, 600]
    for ts, png in out:
        assert np.array_equal(codecs.decode_image(png),
                              vp8_frames[ts // 100][1]), ts


@needs_libwebp
def test_non_vp8_codec_stays_at_the_boundary(vp8_frames):
    mp4 = cm.mux_mp4_vp8([p for p, _ in vp8_frames[:2]], W, H)
    avc = mp4.replace(b"vp08", b"avc1")
    if codecs.FFMPEG_BIN is None:
        with pytest.raises(NotImplementedError, match="vp08"):
            codecs.extract_video_frames(avc, 100, 200)
    with pytest.raises(NotImplementedError, match="fragmented"):
        cm.parse_mp4(mp4 + struct.pack(">I", 8) + b"moof")


def test_malformed_inputs_raise():
    with pytest.raises(ValueError, match="ftyp"):
        cm.parse_mp4(b"\x00" * 20)
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 512)
    with pytest.raises(ValueError, match="moov"):
        cm.parse_mp4(ftyp)
    # box overrunning the file
    bad = ftyp + struct.pack(">I", 100) + b"moov" + b"\x00" * 8
    with pytest.raises(ValueError, match="overruns"):
        cm.parse_mp4(bad)


@needs_libwebp
def test_sample_overrun_is_an_error(vp8_frames):
    payloads = [p for p, _ in vp8_frames[:2]]
    mp4 = bytearray(cm.mux_mp4_vp8(payloads, W, H))
    # inflate the first stsz entry far past the file end
    i = mp4.index(b"stsz")
    struct.pack_into(">I", mp4, i + 4 + 4 + 8, 10 ** 7)
    with pytest.raises(ValueError, match="overruns"):
        cm.extract_samples(bytes(mp4))


@needs_libwebp
def test_mutated_mp4_raises_value_error_or_decodes(vp8_frames):
    """Seeded mutation fuzz: same robustness contract as webp/webm."""
    rng = np.random.default_rng(77)
    base = bytearray(cm.mux_mp4_vp8(
        [p for p, _ in vp8_frames[:3]], W, H, frame_duration=100))
    for _ in range(80):
        data = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            if rng.integers(0, 2) == 0:
                data[int(rng.integers(0, len(data)))] = int(
                    rng.integers(0, 256))
            else:
                data = data[:int(rng.integers(8, len(data)))]
        try:
            out = codecs.extract_video_frames(bytes(data), 100, 300)
            assert all(isinstance(ts, int) for ts, _ in out)
        except (ValueError, NotImplementedError):
            pass


@needs_libwebp
def test_sample_video_frames_operator_on_mp4(spark, vp8_frames):
    from pyspark.sql import Row

    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_video_frames,
    )

    payloads = [p for p, _ in vp8_frames[:4]]
    mp4 = cm.mux_mp4_vp8(payloads, W, H, frame_duration=100)
    df = spark.createDataFrame([
        Row(media_id=9, kind="video", payload=mp4,
            meta=Row(mime="video/mp4", width=W, height=H,
                     duration_ms=400)),
    ], MEDIA_SCHEMA)
    out = sample_video_frames(df, every_ms=200, decoder="auto").collect()
    assert sorted((r.media_id, r.frame_ts_ms) for r in out) == [
        (9, 0), (9, 200)]


@needs_libwebp
def test_corrupted_tables_raise_value_error_only(vp8_frames):
    """Review-caught repro set: stsc chunk indices out of range /
    zero, corrupted stsz count, and a huge stts run length must all
    raise ValueError (the codec contract) — never IndexError,
    struct.error, silent wrong bytes, or a multi-GB allocation."""
    payloads = [p for p, _ in vp8_frames[:4]]
    base = cm.mux_mp4_vp8(payloads, W, H)

    def corrupt(tag, rel_off, fmt, value):
        buf = bytearray(base)
        i = buf.index(tag)
        struct.pack_into(fmt, buf, i + 4 + rel_off, value)
        return bytes(buf)

    # stsc: first_chunk = 0 (would negative-index stco)
    with pytest.raises(ValueError):
        cm.extract_samples(corrupt(b"stsc", 8, ">I", 0))
    # stsc: first_chunk far past the chunk table
    with pytest.raises(ValueError):
        cm.extract_samples(corrupt(b"stsc", 8, ">I", 0xFFFFFF))
    # stsz: entry count far past the box
    with pytest.raises(ValueError):
        cm.extract_samples(corrupt(b"stsz", 8, ">I", 0x00FFFFFF))
    # stts: entry count overrunning its box
    with pytest.raises(ValueError):
        cm.extract_samples(corrupt(b"stts", 4, ">I", 0x00FFFFFF))
    # stts: a huge run length must not build a huge stamps list —
    # the cap stops at the stsz count, and extraction still succeeds
    import time as _t
    t0 = _t.perf_counter()
    _, samples = cm.extract_samples(corrupt(b"stts", 8, ">I", 2 ** 31))
    assert _t.perf_counter() - t0 < 1.0
    assert [s[2] for s in samples] == payloads


@needs_libwebp
def test_stz2_sixteen_bit_sizes(vp8_frames):
    """Spec-valid compact size table: swap stsz for a same-total-size
    (stz2 + free) pair so parent box sizes stay valid."""
    payloads = [p for p, _ in vp8_frames[:4]]
    base = bytearray(cm.mux_mp4_vp8(payloads, W, H))
    n = len(payloads)
    i = base.index(b"stsz") - 4
    old_total = struct.unpack_from(">I", base, i)[0]
    assert old_total == 20 + 4 * n
    stz2 = (struct.pack(">I", 20 + 2 * n) + b"stz2"
            + struct.pack(">I", 0)                    # fullbox vf
            + struct.pack(">I", 16)                   # field_size
            + struct.pack(">I", n)
            + b"".join(struct.pack(">H", len(p)) for p in payloads))
    free = struct.pack(">I", old_total - len(stz2)) + b"free" \
        + b"\x00" * (old_total - len(stz2) - 8)
    assert len(stz2) + len(free) == old_total
    patched = bytes(base[:i]) + stz2 + free + bytes(base[i + old_total:])
    _, samples = cm.extract_samples(patched)
    assert [s[2] for s in samples] == payloads


def test_stz2_four_bit_packing():
    """Direct 4-bit stz2 unpack: two sizes per byte, high nibble
    first (tiny synthetic stbl blob)."""
    entries = [3, 7, 1, 15, 2]
    packed = bytes([(3 << 4) | 7, (1 << 4) | 15, (2 << 4)])
    stz2 = (struct.pack(">I", 20 + len(packed)) + b"stz2"
            + struct.pack(">I", 0) + struct.pack(">I", 4)
            + struct.pack(">I", len(entries)) + packed)
    stbl = struct.pack(">I", 8 + len(stz2)) + b"stbl" + stz2
    sizes = cm._read_sizes(stbl, (8, len(stbl)))
    assert sizes == entries
