"""Real-codec tests: stdlib PNG/WAV decode is REAL (bytes → pixels/
samples), not a fake — pinned by round-trips, a hand-built known
vector, an externally-generated PNG literal, and the Spark-side
decoder='auto' paths end-to-end.  PIL/ffmpeg-only paths are skip-gated
on availability."""

from __future__ import annotations

import base64
import struct
import zlib

import numpy as np
import pytest

from org_revue_de_presse_trends_spark.functions import codecs

# A 1x1 PNG produced by an external encoder (ubiquitous web tracking-
# pixel literal): validates our decoder against bytes we did not write.
ONE_PX_PNG_B64 = (
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJ"
    "AAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
)


def test_png_roundtrip_all_channel_counts():
    rng = np.random.default_rng(7)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(13, 17, ch), dtype=np.uint8)
        out = codecs.decode_png(codecs.encode_png(img))
        assert out.shape == (13, 17, ch)
        assert np.array_equal(out, img)


def test_png_known_vector_hand_built():
    """Decode a PNG assembled chunk-by-chunk in the test (independent
    of encode_png): 2x2 RGB with filter type 0 rows."""
    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    # rows: filter 0 + RGB pixels (red, green / blue, white)
    raw = (
        b"\x00" + bytes([255, 0, 0, 0, 255, 0])
        + b"\x00" + bytes([0, 0, 255, 255, 255, 255])
    )
    png = (
        sig + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    img = codecs.decode_png(png)
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[0, 1].tolist() == [0, 255, 0]
    assert img[1, 0].tolist() == [0, 0, 255]
    assert img[1, 1].tolist() == [255, 255, 255]


def test_png_external_literal_decodes():
    img = codecs.decode_png(base64.b64decode(ONE_PX_PNG_B64))
    assert img.shape[0] == 1 and img.shape[1] == 1
    assert img.dtype == np.uint8


def test_png_filter_types_sub_up_average_paeth():
    """Hand-filter scanlines with each filter type and check the
    decoder reconstructs the original pixels."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int32)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y, ftype in enumerate([1, 2, 3, 4]):
        row = flat[y]
        raw.append(ftype)
        for x in range(stride):
            a = int(row[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if ftype == 1:
                v = row[x] - a
            elif ftype == 2:
                v = row[x] - b
            elif ftype == 3:
                v = row[x] - ((a + b) >> 1)
            else:
                v = row[x] - paeth(a, b, c)
            raw.append(int(v) & 0xFF)
        prev = row

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png = (
        codecs.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(png), img)


def test_png_palette_decodes_to_rgb():
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    plte = bytes([10, 20, 30, 200, 100, 50])  # two palette entries
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([1, 0])
    png = (
        codecs.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    img = codecs.decode_png(png)
    assert img.shape == (2, 2, 3)
    assert img[0, 0].tolist() == [10, 20, 30]
    assert img[0, 1].tolist() == [200, 100, 50]


def test_png_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError, match="signature"):
        codecs.decode_png(b"not a png at all")
    # 16-bit depth: honest NotImplementedError, not silent corruption
    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png16 = (
        codecs.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" + b"\x00" * 6))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        codecs.decode_png(png16)


def test_wav_roundtrip_and_bit_depths():
    rng = np.random.default_rng(11)
    samples = rng.uniform(-0.9, 0.9, size=(480, 2)).astype(np.float32)
    wav = codecs.encode_wav(samples, 16000)
    assert codecs.sniff_format(wav) == "wav"
    out, rate = codecs.decode_wav(wav)
    assert rate == 16000 and out.shape == (480, 2)
    # 16-bit quantization error bound: half-step rounding + the
    # 32767-encode/32768-decode scale mismatch
    assert float(np.abs(out - samples).max()) < 2.0 / 32768


def test_wav_8bit_via_stdlib_writer():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))
    out, rate = codecs.decode_wav(buf.getvalue())
    assert rate == 8000
    assert np.allclose(out[:, 0], [(0 - 128) / 128, 0.0, 127 / 128])


def test_sniff_format():
    assert codecs.sniff_format(b"\xff\xd8\xffrest") == "jpeg"
    assert codecs.sniff_format(b"GIF89a") == "gif"
    assert codecs.sniff_format(b"\x00\x00\x00\x18ftypmp42") == "mp4"
    assert codecs.sniff_format(b"\x1a\x45\xdf\xa3xxx") == "webm"
    assert codecs.sniff_format(b"whatever") == "unknown"


@pytest.mark.skipif(codecs.HAVE_PIL, reason="PIL installed: real path")
def test_undecodable_format_raises_without_pil():
    # only PNG/JPEG decode natively; every other sniffed format reaches
    # the PIL boundary and the error names it.  Malformed JPEG raises
    # ValueError instead.
    for payload, fmt in [
        (b"\x1a\x45\xdf\xa3 fake webm", "webm"),
        (b"GIF89a fake gif", "gif"),
        (b"BM" + b"\x00" * 60, "bmp"),
        (b"RIFF\x00\x00\x00\x00WEBPVP8 fake webp", "webp"),
    ]:
        assert codecs.sniff_format(payload) == fmt
        with pytest.raises(NotImplementedError, match=f"'{fmt}'.*PIL"):
            codecs.decode_image(payload)
    with pytest.raises(ValueError, match="JPEG"):
        codecs.decode_image(b"\xff\xd8\xff fake jpeg")


@pytest.mark.skipif(not codecs.HAVE_PIL, reason="PIL not installed")
def test_pil_fallback_decodes_jpeg():  # pragma: no cover - needs PIL
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (3, 2), (200, 10, 30)).save(buf, format="JPEG")
    img = codecs.decode_image(buf.getvalue())
    assert img.shape == (2, 3, 3)


@pytest.mark.skipif(
    codecs.FFMPEG_BIN is None, reason="ffmpeg not installed"
)
def test_ffmpeg_frame_extraction():  # pragma: no cover - needs ffmpeg
    frames = codecs.extract_video_frames(b"", 1000, 0)
    assert frames == []


def test_extract_video_frames_raises_without_ffmpeg():
    if codecs.FFMPEG_BIN is not None:
        pytest.skip("ffmpeg installed")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        codecs.extract_video_frames(b"payload", 1000, 3000)


# A 16x16 baseline JPEG produced by an external encoder (the CPython
# test suite's imghdrdata/python.jpg — PSF-licensed test vector):
# validates the JPEG decoder against bytes we did not write.
PYTHON_JPG_B64 = (
    "/9j/4AAQSkZJRgABAQEAAQABAAD/2wBDAAMCAgICAgMCAgIDAwMDBAYEBAQEBAgG"
    "BgUGCQgKCgkICQkKDA8MCgsOCwkJDRENDg8QEBEQCgwSExIQEw8QEBD/2wBDAQMD"
    "AwQDBAgEBAgQCwkLEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQEBAQ"
    "EBAQEBAQEBAQEBAQEBD/wAARCAAQABADASIAAhEBAxEB/8QAFgABAQEAAAAAAAAA"
    "AAAAAAAABwQF/8QAJBAAAQQBBAICAwAAAAAAAAAAAQIDBAYFBwgSExEiABQJMTL/"
    "xAAVAQEBAAAAAAAAAAAAAAAAAAAABv/EACMRAAECBQMFAAAAAAAAAAAAAAECEQME"
    "BQYhABIxFRZhgeH/2gAMAwEAAhEDEQA/ABSm0mobc8HmExLUlRzzEWPkJWW+ulrs"
    "aUVAseUgslSlH9LKuPryIKuWPZdskzXmm3fX5m2nF4GlVxx/HOpx4ks51+MiU/Ia"
    "ad7UcUo4tILoS4kqcWkezS0hO/HvuRp0rO6hWnWO1UisZVuFi4GFeyEpmGepa5S5"
    "SWVPuciFKRFLgSrwetnyPIB+Vb4N9mKhQMzo5po9XLdDs9d6ZVix2VEhiL9kuNPx"
    "w2gEKcDQ/rs8AuA8VAe0vdl7VOYn+27flGAUgmITjbhSmCg3BYlyeWDkMolvw4KO"
    "p1KM6iCNvngZHwetf//Z"
)


def test_jpeg_external_literal_decodes():
    """Decode a real externally-encoded baseline JPEG and check pinned
    pixel statistics (values obtained from this decoder once and
    frozen — drift means a decode regression)."""
    payload = base64.b64decode(PYTHON_JPG_B64)
    assert codecs.sniff_format(payload) == "jpeg"
    img = codecs.decode_jpeg(payload)
    assert img.shape == (16, 16, 3)
    mean = img.astype(np.float64).mean(axis=(0, 1))
    assert np.allclose(mean, [97.89, 102.29, 76.36], atol=0.01), mean
    assert img[0, 0].tolist() == [0, 2, 7]
    assert img[15, 15].tolist() == [0, 1, 6]
    # and through the auto dispatcher
    assert np.array_equal(codecs.decode_image(payload), img)


def test_jpeg_roundtrip_solid_color_exact():
    """A solid color survives DCT quantization exactly (only the DC
    coefficient is nonzero and the DC quant step divides evenly at
    high quality)."""
    img = np.zeros((16, 24, 3), dtype=np.uint8)
    img[:, :, 0], img[:, :, 1], img[:, :, 2] = 200, 100, 50
    dec = codecs.decode_jpeg(codecs.encode_jpeg(img, quality=90))
    assert dec.shape == img.shape
    assert int(np.max(np.abs(dec.astype(int) - img.astype(int)))) <= 1


def test_jpeg_roundtrip_gradients_all_modes():
    """Smooth content round-trips within tight error bounds across
    4:4:4, 4:2:0, grayscale, odd dimensions, and restart intervals."""
    y, x = np.mgrid[0:48, 0:80]
    img = np.stack(
        [(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], axis=2
    ).astype(np.uint8)

    def err(decoded, reference):
        return float(
            np.mean(
                np.abs(
                    decoded.astype(np.float64)
                    - reference.astype(np.float64)
                )
            )
        )

    assert err(codecs.decode_jpeg(codecs.encode_jpeg(img, 95)), img) < 3
    assert (
        err(
            codecs.decode_jpeg(
                codecs.encode_jpeg(img, 95, subsample=True)
            ),
            img,
        )
        < 6
    )
    odd = img[:37, :45]
    assert (
        err(
            codecs.decode_jpeg(
                codecs.encode_jpeg(odd, 90, subsample=True)
            ),
            odd,
        )
        < 6
    )
    gray = ((x + y) * 2 % 256).astype(np.uint8)
    gdec = codecs.decode_jpeg(codecs.encode_jpeg(gray, 95))
    assert gdec.shape == (48, 80, 1)
    assert err(gdec[:, :, 0], gray) < 2
    for ri in (1, 3):
        rdec = codecs.decode_jpeg(
            codecs.encode_jpeg(img, 90, subsample=True,
                               restart_interval=ri)
        )
        assert err(rdec, img) < 6, f"restart_interval={ri}"


def test_jpeg_relabeled_sof2_fails_scan_validation():
    """A baseline stream merely relabeled SOF2 carries an illegal
    progressive scan header (Ss=0, Se=63) — it must raise, never
    silently misdecode."""
    img = np.full((8, 8), 128, dtype=np.uint8)
    payload = bytearray(codecs.encode_jpeg(img))
    i = payload.index(b"\xff\xc0")
    payload[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        codecs.decode_jpeg(bytes(payload))


def test_jpeg_arithmetic_sof_raises_boundary_error():
    """SOF9 (arithmetic coding) stays past the native boundary."""
    img = np.full((8, 8), 128, dtype=np.uint8)
    payload = bytearray(codecs.encode_jpeg(img))
    i = payload.index(b"\xff\xc0")
    payload[i + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="SOF9"):
        codecs.decode_jpeg(bytes(payload))


def test_jpeg_progressive_equals_baseline_decode():
    """decode(progressive(x)) must EQUAL decode(baseline(x)) exactly:
    both carry the same quantized coefficients into the shared
    dequantize+IDCT stage, so any Annex-G entropy bug (spectral
    selection, successive approximation, EOB runs, ZRL-with-correction
    interleaving) breaks the equality."""
    y, x = np.mgrid[0:48, 0:80]
    cases = [
        np.stack(
            [(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], axis=2
        ).astype(np.uint8),
        np.stack([((x * y) % 256)] * 3, axis=2).astype(np.uint8),
        np.random.default_rng(5).integers(
            0, 256, (48, 80, 3)
        ).astype(np.uint8),
    ]
    for img in cases:
        for sub in (False, True):
            for q in (50, 85, 95):
                dp = codecs.decode_jpeg(
                    codecs.encode_jpeg_progressive(img, q, subsample=sub)
                )
                db = codecs.decode_jpeg(
                    codecs.encode_jpeg(img, q, subsample=sub)
                )
                assert np.array_equal(dp, db), (sub, q)
        gray = img[:, :, 0]
        assert np.array_equal(
            codecs.decode_jpeg(codecs.encode_jpeg_progressive(gray, 85)),
            codecs.decode_jpeg(codecs.encode_jpeg(gray, 85)),
        )
    odd = cases[1][:37, :45]
    assert np.array_equal(
        codecs.decode_jpeg(
            codecs.encode_jpeg_progressive(odd, 85, subsample=True)
        ),
        codecs.decode_jpeg(codecs.encode_jpeg(odd, 85, subsample=True)),
    )


F3_JPG = (
    "/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
    "doc/rust/html/embedded-book/assets/f3.jpg"
)


@pytest.mark.skipif(
    not __import__("os").path.exists(F3_JPG),
    reason="external progressive sample not on this host",
)
def test_jpeg_external_progressive_decodes():
    """A real libjpeg-produced progressive file (the classic 10-scan
    script: interleaved DC Al=1, spectral-selection AC firsts,
    successive-approximation refinements Ah 2->1->0, DC refinement)
    decodes to its SOF dimensions with pinned pixel statistics; every
    scan's entropy stream is consumed to within the <8-bit padding
    (verified once while pinning — a desync anywhere would blow the
    tallies)."""
    img = codecs.decode_jpeg(open(F3_JPG, "rb").read())
    assert img.shape == (477, 720, 3)
    mean = img.astype(np.float64).mean(axis=(0, 1))
    assert np.allclose(mean, [84.297, 138.536, 100.747], atol=0.01), mean
    assert img[0, 0].tolist() == [236, 240, 235]
    assert img[250, 400].tolist() == [20, 21, 19]
    # photographic smoothness: random noise would measure ~85
    grad = np.abs(np.diff(img.mean(axis=2), axis=1)).mean()
    assert grad < 20, grad


def test_jpeg_encoder_output_is_parseable_structure():
    """Marker-level sanity: SOI/JFIF/DQT/SOF0/DHT/SOS/EOI all present,
    and the entropy stream is 0xFF-stuffed (no bare 0xFF before a
    non-marker byte inside the scan)."""
    y, x = np.mgrid[0:16, 0:16]
    img = ((x * y) % 256).astype(np.uint8)
    b = codecs.encode_jpeg(img, quality=50)
    assert b.startswith(b"\xff\xd8\xff\xe0") and b.endswith(b"\xff\xd9")
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in b
