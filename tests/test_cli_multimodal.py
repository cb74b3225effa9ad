"""CLI end-to-end + multimodal plumbing tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from fixtures.gen import DEPRECATED_LIST, TARGET_LIST, generate

from org_revue_de_presse_trends_spark.cli import main
from org_revue_de_presse_trends_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def domain_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("cli_domain")
    generate(str(out))
    return str(out)


def test_cli_writes_document_store(spark, domain_dir, tmp_path):
    sink = str(tmp_path / "store")
    rc = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--deprecated-list-id", DEPRECATED_LIST,
            "--since-date", "2024-03-02",
            "--source-dir", domain_dir,
            "--sink-dir", sink,
        ],
        spark=spark,
    )
    assert rc == 0
    status_dir = os.path.join(
        sink, "highlights", TARGET_LIST, "2024-03-02", "status"
    )
    files = os.listdir(status_dir)
    assert 0 < len(files) <= 10
    rec = json.load(open(os.path.join(status_dir, files[0])))
    assert set(rec) >= {"id", "twitterId", "username", "url",
                        "totalRetweets", "isRetweet"}


def test_cli_distinct_only_and_dry_mode(spark, domain_dir, tmp_path, capsys):
    rc = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--since-date", "2024-03-02",
            "--source-dir", domain_dir,
            "--distinct-sources-only",
            "--dry-mode",
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "statusFromDistinctSources" in out
    assert "status" in out and "-- variant: status\n" not in out
    assert "Physical Plan" in out


def test_cli_count_log_line(spark, domain_dir, capsys):
    rc = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--deprecated-list-id", DEPRECATED_LIST,
            "--since-date", "2024-03-02",
            "--source-dir", domain_dir,
            "--dry-mode",
            "--no-quiet",
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "matching highlights on 2024-03-02" in out


@pytest.fixture
def media_df(spark):
    rows = [
        Row(media_id=1, kind="image", payload=bytes(range(256)) * 4,
            meta=Row(mime="image/png", width=16, height=16,
                     duration_ms=None)),
        Row(media_id=2, kind="video", payload=b"\x00\x01" * 500,
            meta=Row(mime="video/mp4", width=64, height=48,
                     duration_ms=3500)),
        Row(media_id=3, kind="audio", payload=b"", meta=None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_video_frame_sampling(spark, media_df):
    frames = sample_video_frames(media_df, every_ms=1000).collect()
    assert {r["media_id"] for r in frames} == {2}
    assert sorted(r["frame_ts_ms"] for r in frames) == [0, 1000, 2000]
    assert len({r["frame_hash"] for r in frames}) >= 1


def test_cli_since_last_week_prints_window(spark, domain_dir, capsys):
    """Corrected -since-last-week mode: statuses whose shifted creation
    time falls in the 7 days before --since-date."""
    rc = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--since-date", "2024-03-05",
            "--source-dir", domain_dir,
            "--since-last-week",
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "ust_created_at" in out  # rows printed
    # a run anchored before the fixture window prints nothing
    rc2 = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--since-date", "2024-02-01",
            "--source-dir", domain_dir,
            "--since-last-week",
        ],
        spark=spark,
    )
    assert rc2 == 0
    assert "ust_created_at" not in capsys.readouterr().out


def test_cli_since_last_week_lake_partitioned_by_day(
    spark, domain_dir, tmp_path
):
    lake = str(tmp_path / "lake")
    rc = main(
        [
            "--publishers-list-id", TARGET_LIST,
            "--since-date", "2024-03-05",
            "--source-dir", domain_dir,
            "--since-last-week",
            "--lake-dir", lake,
        ],
        spark=spark,
    )
    assert rc == 0
    days = sorted(d for d in os.listdir(lake) if d.startswith("day="))
    assert days  # one partition dir per civil day in the window
    assert all(d.split("=")[1].startswith("2024-0") for d in days)


def test_cli_config_file_routes_firebase_sink(spark, domain_dir, tmp_path):
    """Dist-style config.json + config.firebase.json drive the full
    OAuth2 sink path: list id from config, token minted from the fake
    token endpoint, writes carry ?access_token=."""
    import http.server
    import threading

    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    requests = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _h(self, body=b"{}"):
            n = int(self.headers.get("Content-Length") or 0)
            payload = self.rfile.read(n) if n else b""
            requests.append((self.command, self.path, payload))
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # the OAuth token endpoint
            self._h(b'{"access_token": "cli-tok", "expires_in": 3600}')

        do_PATCH = do_DELETE = do_PUT = _h

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
        pem = key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        ).decode()
        cfg_path = str(tmp_path / "config.json")
        fb_path = str(tmp_path / "config.firebase.json")
        with open(cfg_path, "w") as f:
            json.dump(
                {
                    "List_Id": TARGET_LIST,
                    "Firebase_url": base,
                    "Read_user": "reader",
                    "Read_password": "secret",
                    "Read_database": "trends",
                    "Read_protocol_host_port": "db.internal:5432",
                },
                f,
            )
        with open(fb_path, "w") as f:
            json.dump(
                {
                    "type": "service_account",
                    "client_email": "sink@example.iam.gserviceaccount.com",
                    "private_key": pem,
                    "token_uri": f"{base}/token",
                },
                f,
            )
        rc = main(
            [
                "--since-date", "2024-03-02",
                "--source-dir", domain_dir,
                "--config", cfg_path,
                "--firebase-config", fb_path,
            ],
            spark=spark,
        )
    finally:
        srv.shutdown()
        srv.server_close()
    assert rc == 0
    token_posts = [r for r in requests if r[0] == "POST"]
    assert token_posts and all("/token" in p for _, p, _ in token_posts)
    patches = [p for (m, p, _) in requests if m == "PATCH"]
    assert patches and all("access_token=cli-tok" in p for p in patches)
    # the whole day is one PATCH of the day path, nothing else mutates
    assert [p.split("?")[0] for p in patches] == [
        f"/highlights/{TARGET_LIST}/2024-03-02.json"
    ]
    assert not [m for (m, _, _) in requests if m in ("DELETE", "PUT")]
    day = json.loads(next(b for (m, _, b) in requests if m == "PATCH"))
    assert set(day) == {"status", "statusFromDistinctSources",
                        "retweetFromDistinctSources"}


@pytest.mark.parametrize(
    "day", ["2024-3-2", "2024-03-02 10:00", "2024-03-02T99"]
)
def test_cli_rejects_loose_since_date(spark, tmp_path, day):
    """Spark's CAST(:day AS DATE) reads each of these as 2024-03-02,
    but the sink and lake key the day by the raw string: the CLI must
    refuse anything but YYYY-MM-DD before touching any table."""
    with pytest.raises(SystemExit):
        main(
            [
                "--publishers-list-id", TARGET_LIST,
                "--since-date", day,
                "--source-dir", str(tmp_path),
                "--dry-mode",
            ],
            spark=spark,
        )


def test_cli_since_last_week_rejects_sink_dir(spark, domain_dir, tmp_path):
    with pytest.raises(SystemExit):
        main(
            [
                "--publishers-list-id", TARGET_LIST,
                "--since-date", "2024-03-05",
                "--source-dir", domain_dir,
                "--since-last-week",
                "--sink-dir", str(tmp_path / "s"),
            ],
            spark=spark,
        )


def test_cli_firebase_config_requires_config(spark, domain_dir, tmp_path):
    """The refusal comes before any Spark work: the --lake-dir write
    that the same run asks for never happens."""
    fb = tmp_path / "fb.json"
    fb.write_text("{}")
    lake = tmp_path / "lake"
    with pytest.raises(SystemExit):
        main(
            [
                "--publishers-list-id", TARGET_LIST,
                "--since-date", "2024-03-02",
                "--source-dir", domain_dir,
                "--firebase-config", str(fb),
                "--lake-dir", str(lake),
            ],
            spark=spark,
        )
    assert not lake.exists()


@pytest.mark.parametrize(
    "flag, value", [("--limit", "-5"), ("--page", "-1"), ("--limit", "x")]
)
def test_cli_rejects_negative_limit_and_page(spark, domain_dir, flag, value):
    """The plan drops LIMIT/OFFSET for values <= 0, so a negative
    --limit would publish the whole day; the reference's Postgres
    rejects a negative LIMIT, and so does the CLI."""
    with pytest.raises(SystemExit):
        main(
            [
                "--publishers-list-id", TARGET_LIST,
                "--since-date", "2024-03-02",
                "--source-dir", domain_dir,
                flag, value,
                "--dry-mode",
            ],
            spark=spark,
        )


def test_cli_since_last_week_rejects_firebase_sink(spark, domain_dir, tmp_path):
    """--since-last-week must refuse a configured Firebase sink as
    loudly as it refuses --sink-dir (not silently print to stdout)."""
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps({
        "List_Id": TARGET_LIST,
        "Firebase_url": "http://127.0.0.1:9",
        "Read_user": "reader",
        "Read_password": "secret",
        "Read_database": "trends",
        "Read_protocol_host_port": "db.internal:5432",
    }))
    fb = tmp_path / "config.firebase.json"
    fb.write_text("{}")
    with pytest.raises(SystemExit):
        main(
            [
                "--since-date", "2024-03-05",
                "--source-dir", domain_dir,
                "--since-last-week",
                "--config", str(cfg),
                "--firebase-config", str(fb),
            ],
            spark=spark,
        )


def test_phash_identical_images_match_and_noise_stays_close(spark):
    """pHash invariants on REAL decoded PNGs: identical images hash
    identically; a lightly-noised copy stays within a small hamming
    distance; a structurally different image is far."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        phash_images,
    )

    rng = np.random.RandomState(11)
    base = (rng.rand(48, 48, 3) * 255).astype(np.uint8)
    # smooth gradient structure so the DCT signature is non-trivial
    grad = np.linspace(0, 255, 48, dtype=np.uint8)
    base[:, :, 0] = grad[None, :]
    noised = base.copy()
    noised[::7, ::7, 1] ^= 4  # sparse low-amplitude perturbation
    other = (rng.rand(48, 48, 3) * 255).astype(np.uint8)
    rows = [
        (1, "image", bytearray(codecs.encode_png(base)), None),
        (2, "image", bytearray(codecs.encode_png(base)), None),
        (3, "image", bytearray(codecs.encode_png(noised)), None),
        (4, "image", bytearray(codecs.encode_png(other)), None),
    ]
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["id"]: r["phash"]
        for r in phash_images(media, decoder="auto").collect()
    }
    assert got[1] == got[2]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(got[1], got[3]) <= 3
    assert ham(got[1], got[4]) > 10


def test_image_near_dup_pairs_finds_planted_copy(spark):
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_near_dup_pairs,
    )

    rng = np.random.RandomState(5)
    imgs = []
    for i in range(6):
        img = (rng.rand(32, 32, 3) * 255).astype(np.uint8)
        img[:, :, 2] = np.linspace(0, 255, 32, dtype=np.uint8)[None, :]
        imgs.append(img)
    dup = imgs[0].copy()
    dup[::9, ::9, 0] ^= 2
    rows = [
        (i, "image", bytearray(codecs.encode_png(img)), None)
        for i, img in enumerate(imgs)
    ] + [(100, "image", bytearray(codecs.encode_png(dup)), None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(
            media, decoder="auto", max_hamming=3
        ).collect()
    }
    assert (0, 100) in pairs, f"planted near-dup missed: {pairs}"
    # no spurious pairs among the 6 independent random images
    assert all(a == 0 and b == 100 for a, b in pairs), pairs


def test_audio_fingerprint_identity_noise_and_pairs(spark):
    """Audio twin of the pHash tests on REAL stdlib WAVs: identical
    clips fingerprint identically, a lightly-noised copy stays within
    hamming 3, an unrelated clip is far, and the blocked hamming join
    finds exactly the planted pair."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprints,
        audio_near_dup_pairs,
    )

    rng = np.random.RandomState(3)
    t = np.linspace(0, 1, 8000)
    base = (
        0.5 * np.sin(2 * np.pi * 440 * t)
        + 0.3 * np.sin(2 * np.pi * 880 * t * (1 + 0.3 * t))
    )
    noised = base + rng.randn(len(t)) * 0.003
    other = 0.6 * np.sign(np.sin(2 * np.pi * 123 * t)) * (1 - t)
    clips = {1: base, 2: base, 3: noised, 4: other}
    rows = [
        (i, "audio", bytearray(codecs.encode_wav(
            np.clip(c, -1, 1).astype("float64"), 8000)), None)
        for i, c in clips.items()
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["id"]: r["afp"]
        for r in audio_fingerprints(media, decoder="auto").collect()
    }
    assert got[1] == got[2]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(got[1], got[3]) <= 3
    assert ham(got[1], got[4]) > 8
    pairs = {
        (r["id_a"], r["id_b"])
        for r in audio_near_dup_pairs(
            media, decoder="auto", max_hamming=3
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_video_near_dup_pairs_clipped_copy(spark):
    """Fake-decoder path: a video and its CLIPPED copy (same payload
    prefix, proportional duration → identical slice boundaries) pair
    with high overlap; unrelated payloads never pair; contentless
    videos never pair with anything (their empty-slice hash is
    excluded).  The payload is seeded-random, so every frame slice is
    DISTINCT — each video's frame set is genuinely multi-element."""
    import numpy as np

    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        video_near_dup_pairs,
    )

    rng = np.random.RandomState(17)
    full = bytes(rng.randint(0, 256, 10240, dtype=np.uint8))
    clipped = full[: len(full) * 3 // 4]
    other = bytes(rng.randint(0, 256, 10240, dtype=np.uint8))
    rows = [
        (1, "video", bytearray(full), (None, None, None, 8000)),
        (2, "video", bytearray(full), (None, None, None, 8000)),
        (3, "video", bytearray(clipped), (None, None, None, 6000)),
        (4, "video", bytearray(other), (None, None, None, 8000)),
        (5, "video", None, (None, None, None, 8000)),
        (6, "video", bytearray(b""), (None, None, None, 8000)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r["id_a"], r["id_b"]): (r["n_shared"], r["overlap"])
        for r in video_near_dup_pairs(
            media, every_ms=1000, threshold=0.5, decoder="fake"
        ).collect()
    }
    # identical videos share all 8 distinct frames
    assert pairs[(1, 2)] == (8, 1.0)
    # clipped copy: 6 frames, all shared with the full video
    assert pairs[(1, 3)] == (6, 1.0)
    for bad in (4, 5, 6):
        assert not any(bad in p for p in pairs), (bad, pairs)


def test_audio_fingerprint_rejects_non_64_bit_geometry():
    """(n_frames-1) * n_bands != 64 would set bits above position 63
    and overflow the signed fold — must raise, mirroring the explicit
    guards in hamming_pairs and _ngram_hashes."""
    import pytest as _pytest

    from org_revue_de_presse_trends_spark.operators.multimodal import (
        _audio_fingerprint64,
    )

    with _pytest.raises(ValueError, match="must equal 64"):
        _audio_fingerprint64([0.0] * 256, n_frames=18, n_bands=4)
    with _pytest.raises(ValueError, match="must equal 64"):
        _audio_fingerprint64([0.0] * 256, n_frames=17, n_bands=8)


def test_video_near_dup_ubiquitous_frame_capped(spark):
    """max_frame_df mirrors max_shingle_df: a frame shared by many
    videos (channel intro / black frame) must not drive the frame-hash
    self-join — with the cap on, only the planted clipped-copy pair
    survives; with the cap off the intro frame pairs every video with
    every other (the Σm² blow-up the guard exists for)."""
    import numpy as np

    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        video_near_dup_pairs,
    )

    rng = np.random.RandomState(23)
    intro = bytes(rng.randint(0, 256, 128, dtype=np.uint8))
    rows = []
    # 40 unrelated videos sharing ONLY the 128-byte intro frame
    # (1024-byte payload / 8 frames -> 128-byte slices, intro = frame 0)
    for vid in range(40):
        body = bytes(rng.randint(0, 256, 896, dtype=np.uint8))
        rows.append(
            (vid, "video", bytearray(intro + body), (None, None, None, 8000))
        )
    # planted near-dup pair with its own distinct content
    full = bytes(rng.randint(0, 256, 1024, dtype=np.uint8))
    rows.append((100, "video", bytearray(full), (None, None, None, 8000)))
    rows.append(
        (101, "video", bytearray(full[:768]), (None, None, None, 6000))
    )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    capped = {
        (r["id_a"], r["id_b"])
        for r in video_near_dup_pairs(
            media, every_ms=1000, threshold=0.1, decoder="fake",
            max_frame_df=10,
        ).collect()
    }
    assert capped == {(100, 101)}, capped
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in video_near_dup_pairs(
            media, every_ms=1000, threshold=0.1, decoder="fake",
            max_frame_df=None,
        ).collect()
    }
    assert len(uncapped) == 40 * 39 // 2 + 1, len(uncapped)


def test_phash_auto_path_real_jpeg(spark):
    """decoder='auto' covers baseline JPEG natively: identical JPEGs
    phash identically, and a JPEG copy of a PNG image phashes within a
    small hamming distance of the PNG original (same pixels, different
    container)."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        phash_images,
    )

    rng = np.random.RandomState(29)
    base = (rng.rand(48, 48, 3) * 255).astype(np.uint8)
    grad = np.linspace(0, 255, 48, dtype=np.uint8)
    base[:, :, 0] = grad[None, :]
    rows = [
        (1, "image", bytearray(codecs.encode_jpeg(base, 95)), None),
        (2, "image", bytearray(codecs.encode_jpeg(base, 95)), None),
        (3, "image", bytearray(codecs.encode_png(base)), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["id"]: r["phash"]
        for r in phash_images(media, decoder="auto").collect()
    }
    assert got[1] == got[2]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(got[1], got[3]) <= 3, "JPEG vs PNG of same pixels drifted"


def test_phash_progressive_jpeg_equals_baseline(spark):
    """The operator layer is container-agnostic: progressive and
    baseline JPEG encodings of the same image must produce the SAME
    pHash through decoder='auto' (both decode to identical pixels)."""
    import numpy as np

    from org_revue_de_presse_trends_spark.functions import codecs
    from org_revue_de_presse_trends_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        phash_images,
    )

    rng = np.random.RandomState(31)
    base = (rng.rand(48, 48, 3) * 255).astype(np.uint8)
    base[:, :, 0] = np.linspace(0, 255, 48, dtype=np.uint8)[None, :]
    rows = [
        (1, "image", bytearray(codecs.encode_jpeg(base, 95)), None),
        (2, "image",
         bytearray(codecs.encode_jpeg_progressive(base, 95)), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["id"]: r["phash"]
        for r in phash_images(media, decoder="auto").collect()
    }
    assert got[1] == got[2]


def test_phash_dct_bit_pinned_across_hosts():
    """pHash's 32×32 DCT runs over a FROZEN literal basis through an
    order-pinned matmul (no BLAS, no libm at import) — the same
    host-FP hazard class root-caused in codec_vp8_enc (r11): BLAS
    reassociation/FMA and np.cos SIMD dispatch differ per CPU
    microarchitecture, and a pHash bit is a coefficient-vs-median
    comparison one ulp can flip.  These exact doubles and hashes must
    reproduce on EVERY host; drift here means a reassociating kernel
    was reintroduced."""
    import numpy as np

    from org_revue_de_presse_trends_spark.operators.multimodal import (
        _dct_basis,
        _mm_pinned,
        _phash64,
    )

    d = _dct_basis(32)
    assert d[0, 0] == 1.0
    assert d[1, 0] == 0.9987954562051724
    assert d[17, 5] == -0.9700312531945436
    assert d[31, 31] == -0.049067674327421214

    a = np.array([[1.5, -2.25], [0.125, 3.0]])
    b = np.array([[4.0, 0.5], [-1.0, 2.0]])
    assert _mm_pinned(a, b).tolist() == [[8.25, -3.75], [-2.5, 6.0625]]

    img = np.array(
        [[((3 * r + 7 * c) * (r + c + 1)) % 256 for c in range(40)]
         for r in range(37)],
        dtype="uint8",
    )
    assert _phash64(img) == -1895349290837965367
    rgb = np.stack([img, (img * 2) % 256, (img + 91) % 256], axis=2)
    assert _phash64(rgb) == -4849509161153508147
