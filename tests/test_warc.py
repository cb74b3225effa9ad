"""WARC/WET ingestion (sources/warc.py): round-trip through the
spec-valid writer, multi-member gzip, HTTP response splitting,
damage quarantine, and the Spark end-to-end including the chained
HTML-extraction convenience."""

from __future__ import annotations

import gzip

import pytest

from org_revue_de_presse_trends_spark.sources import warc as W


def _rec(i: int, rtype: str = "resource", payload: bytes = b"hello") -> tuple:
    return (
        {
            "WARC-Type": rtype,
            "WARC-Record-ID": f"<urn:uuid:{i}>",
            "WARC-Target-URI": f"http://ex.org/{i}",
            "WARC-Date": "2025-01-01T00:00:00Z",
            "Content-Type": "text/plain",
        },
        payload,
    )


def test_roundtrip_plain_and_gzip():
    recs = [_rec(i, payload=f"payload {i}".encode()) for i in range(4)]
    for gz in (False, True):
        data = W.build_warc(recs, gzip_members=gz)
        got = list(W.iter_warc_records(data))
        assert len(got) == 4
        for i, (h, p) in enumerate(got):
            assert h["warc-record-id"] == f"<urn:uuid:{i}>"
            assert p == f"payload {i}".encode()


def test_external_gzip_whole_file():
    # a .warc.gz compressed as ONE member (tools do this too) and by
    # a foreign gzip implementation
    data = gzip.compress(W.build_warc([_rec(1), _rec(2)]))
    assert len(list(W.iter_warc_records(data))) == 2


def test_http_response_split():
    body = "<html><body><p>Sentence one.</p></body></html>".encode()
    payload = W.build_http_response(
        200, {"Content-Type": "text/html; charset=utf-8"}, body
    )
    status, headers, got = W.parse_http_response(payload)
    assert status == 200 and got == body
    assert headers["content-type"].startswith("text/html")


@pytest.mark.parametrize(
    "mutate,err",
    [
        (lambda d: d[: len(d) - 20], "truncated payload"),
        (lambda d: b"GARBAGE\r\n" + d, "expected WARC version"),
        (lambda d: d.replace(b"Content-Length", b"X-Nope"), "Content-Length"),
    ],
)
def test_damage_raises_value_error_only(mutate, err):
    data = mutate(W.build_warc([_rec(1, payload=b"x" * 50)]))
    with pytest.raises(ValueError, match=err):
        list(W.iter_warc_records(data))


def test_damaged_file_keeps_parsed_prefix():
    good = W.build_warc([_rec(1), _rec(2)])
    rows = W._record_rows("f.warc", good + b"WARC/1.0\r\ntrunc")
    assert [r["parse_error"] is None for r in rows] == [True, True, False]
    assert rows[0]["target_uri"] == "http://ex.org/1"


def test_spark_end_to_end(spark, tmp_path):
    html_body = (
        "<html><head><title>T</title></head>"
        "<body><p>Alpha beta.</p><p>Gamma delta!</p></body></html>"
    ).encode()
    wet_text = "already extracted text\nsecond line"
    f1 = [
        (
            {
                "WARC-Type": "response",
                "WARC-Record-ID": "<urn:uuid:a>",
                "WARC-Target-URI": "http://ex.org/a",
                "WARC-Date": "2025-01-01T00:00:00Z",
                "Content-Type": "application/http; msgtype=response",
            },
            W.build_http_response(
                200, {"Content-Type": "text/html"}, html_body
            ),
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Record-ID": "<urn:uuid:b>",
                "WARC-Target-URI": "http://ex.org/b",
                "WARC-Date": "2025-01-01T00:00:00Z",
                "Content-Type": "application/http; msgtype=response",
            },
            W.build_http_response(404, {"Content-Type": "text/html"}, b"gone"),
        ),
    ]
    f2 = [
        (
            {
                "WARC-Type": "conversion",
                "WARC-Record-ID": "<urn:uuid:c>",
                "WARC-Target-URI": "http://ex.org/c",
                "WARC-Date": "2025-01-02T00:00:00Z",
                "Content-Type": "text/plain",
            },
            wet_text.encode(),
        ),
    ]
    (tmp_path / "a.warc").write_bytes(W.build_warc(f1))
    (tmp_path / "b.warc.gz").write_bytes(W.build_warc(f2, gzip_members=True))
    (tmp_path / "c.warc").write_bytes(b"not a warc at all")

    records = W.read_warc(spark, str(tmp_path))
    rows = {r["record_id"]: r for r in records.collect() if r["record_id"]}
    assert set(rows) == {"<urn:uuid:a>", "<urn:uuid:b>", "<urn:uuid:c>"}
    a = rows["<urn:uuid:a>"]
    assert a["http_status"] == 200
    assert a["content_type"] == "text/html"
    assert bytes(a["payload"]) == html_body
    assert a["payload_text"] == html_body.decode()
    assert rows["<urn:uuid:b>"]["http_status"] == 404
    errs = [r for r in records.collect() if r["parse_error"]]
    assert len(errs) == 1 and errs[0]["path"].endswith("c.warc")

    wet = {r["target_uri"]: r["text"] for r in W.wet_documents(records).collect()}
    assert wet == {"http://ex.org/c": wet_text}

    docs = {
        r["target_uri"]: r["text"]
        for r in W.warc_html_documents(records).collect()
    }
    # 404 excluded; html extracted through functions/htmltext.py
    assert docs == {"http://ex.org/a": "T\nAlpha beta.\nGamma delta!"}


@pytest.mark.parametrize(
    "body,ctype,want",
    [
        ("café".encode("utf-8"), "text/html", "café"),
        ("café".encode("latin-1"), "text/html; charset=ISO-8859-1", "café"),
        # undeclared cp1252 smart quotes (latin-1 would give C1 controls)
        (b"\x93quoted\x94", "text/html", "“quoted”"),
        ("bom".encode("utf-16"), "text/plain", "bom"),  # BOM-prefixed
        (b"\xef\xbb\xbfplain", "text/plain", "plain"),
        # unknown charset name falls through to the ladder
        ("ok".encode(), 'text/html; charset="x-not-a-codec"', "ok"),
        # truly arbitrary bytes still decode (latin-1 total fallback)
        (bytes(range(256)), "text/plain", bytes(range(256)).decode("latin-1")),
    ],
)
def test_decode_text_ladder(body, ctype, want):
    got = W.decode_text(body, ctype)
    if want is not None:
        assert got == want


def test_write_wet_roundtrip_and_determinism(spark, tmp_path):
    """write_wet: the curated corpus goes out as sharded .warc.gz WET
    and re-ingests losslessly; the emitted bytes are deterministic
    across reruns AND input layouts (md5 shard coin + in-shard sort +
    MTIME=0 gzip)."""
    docs = spark.range(57).selectExpr(
        "id AS doc_id",
        "concat('http://ex.org/', id) AS target_uri",
        "'2025-03-01T00:00:00Z' AS warc_date",
        "concat('text body ', id, ' with café — lines\nand more.') AS text",
    )
    out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    m1 = W.write_wet(docs, out1, n_shards=4)
    m2 = W.write_wet(docs.repartition(7), out2, n_shards=4)
    assert sum(m["n_records"] for m in m1) == 57
    assert [m["shard_id"] for m in m1] == sorted(
        {m["shard_id"] for m in m1}
    )
    # byte-determinism across layout
    import os

    for a, b in zip(m1, m2):
        assert a["n_records"] == b["n_records"]
        ab = open(a["path"], "rb").read()
        bb = open(b["path"], "rb").read()
        assert ab == bb and len(ab) == a["n_bytes"]
    assert sorted(os.listdir(out1)) == sorted(
        f"wet-{m['shard_id']:05d}.warc.gz" for m in m1
    )
    # lossless re-ingestion through the reader
    back = W.wet_documents(W.read_warc(spark, out1))
    got = {r["target_uri"]: r["text"] for r in back.collect()}
    want = {
        r["target_uri"]: r["text"] for r in docs.collect()
    }
    assert got == want


def test_payload_digest_rides_through_reader(spark, tmp_path):
    """WARC-Payload-Digest rides through the reader; a record without
    one (or without a WARC-Date) reads that column as NULL."""

    def rec(i, digest, date="2025-01-01T00:00:00Z"):
        h = {
            "WARC-Type": "resource",
            "WARC-Record-ID": f"<urn:d{i}>",
            "WARC-Target-URI": f"http://ex.org/{i}",
            "Content-Type": "text/plain",
        }
        if date:
            h["WARC-Date"] = date
        if digest:
            h["WARC-Payload-Digest"] = digest
        return (h, f"body {i}".encode())

    recs = [rec(0, "sha1:AAA"), rec(1, None), rec(2, "sha1:BBB", date=None)]
    (tmp_path / "d.warc").write_bytes(W.build_warc(recs))
    records = W.read_warc(spark, str(tmp_path))
    by_id = {r["record_id"]: r for r in records.collect()}
    assert by_id["<urn:d0>"]["payload_digest"] == "sha1:AAA"
    assert by_id["<urn:d1>"]["payload_digest"] is None
    assert by_id["<urn:d2>"]["payload_digest"] == "sha1:BBB"
    assert by_id["<urn:d2>"]["warc_date"] is None


def test_uppercase_content_type_promoted(spark, tmp_path):
    """Media types are case-insensitive (RFC 9110): Text/HTML pages
    must still decode and flow into warc_html_documents."""
    recs = [(
        {
            "WARC-Type": "response",
            "WARC-Record-ID": "<urn:up>",
            "WARC-Target-URI": "http://ex.org/up",
            "WARC-Date": "2025-01-01T00:00:00Z",
            "Content-Type": "application/http; msgtype=response",
        },
        W.build_http_response(
            200, {"Content-Type": "Text/HTML; Charset=UTF-8"},
            b"<p>Upper case type.</p>",
        ),
    )]
    (tmp_path / "u.warc").write_bytes(W.build_warc(recs))
    records = W.read_warc(spark, str(tmp_path))
    row = records.collect()[0]
    assert row["payload_text"] == "<p>Upper case type.</p>"
    docs = W.warc_html_documents(records).collect()
    assert len(docs) == 1 and docs[0]["text"] == "Upper case type."


def test_roundtrip_fuzz_adversarial_payloads():
    """Hypothesis-free seeded fuzz: payloads containing WARC version
    lines, CRLF soup, gzip magic and arbitrary bytes must round-trip
    exactly — Content-Length discipline means payload content can
    never desync the walker."""
    import random

    rng = random.Random(1138)
    for trial in range(50):
        recs = []
        for i in range(rng.randrange(1, 6)):
            payload = bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 120))
            )
            if rng.random() < 0.5:  # plant adversarial structure
                payload += rng.choice(
                    [b"\r\nWARC/1.0\r\n", b"\x1f\x8b", b"\r\n\r\n",
                     b"Content-Length: 0\r\n"]
                )
            recs.append(
                (
                    {
                        "WARC-Type": "resource",
                        "WARC-Record-ID": f"<urn:f{trial}-{i}>",
                        "WARC-Target-URI": f"http://f.org/{i}",
                        "Content-Type": "application/octet-stream",
                    },
                    payload,
                )
            )
        gz = rng.random() < 0.5
        data = W.build_warc(recs, gzip_members=gz)
        got = list(W.iter_warc_records(data))
        assert len(got) == len(recs)
        for (h, p), (_, want) in zip(got, recs):
            assert p == want


def test_mutation_fuzz_never_crashes():
    """Seeded mutation fuzz over valid WARC bytes (plain and gzip):
    truncations, bit flips and splices must yield rows (possibly with
    parse_error), NEVER an uncaught exception — the quarantine
    contract under arbitrary damage."""
    import random

    rng = random.Random(4079)
    base_plain = W.build_warc([_rec(i, payload=b"pay" * 9) for i in range(3)])
    base_gz = W.build_warc(
        [_rec(i, payload=b"load" * 7) for i in range(3)], gzip_members=True
    )
    for base in (base_plain, base_gz):
        for trial in range(120):
            data = bytearray(base)
            op = rng.randrange(3)
            if op == 0 and len(data) > 1:  # truncate
                data = data[: rng.randrange(1, len(data))]
            elif op == 1:  # flip bytes
                for _ in range(rng.randrange(1, 6)):
                    data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
            else:  # splice a chunk elsewhere
                a, b = sorted(rng.randrange(len(data)) for _ in range(2))
                data = data[:a] + data[b:] + data[a:b]
            rows = W._record_rows("fuzz.warc", bytes(data))
            for r in rows:
                assert r["parse_error"] is None or isinstance(
                    r["parse_error"], str
                )
