"""WARC / WET ingestion — the Common Crawl front door (ISO 28500,
public spec; the format every web-scale corpus build starts from:
C4 and FineWeb read WET, RefinedWeb reads WARC).

Format recap (what the parser implements):

- a WARC file is a concatenation of records; each record is a version
  line (``WARC/1.0`` or ``WARC/1.1``), header lines (``Name: value``)
  up to a blank line, exactly ``Content-Length`` payload bytes, then a
  blank-line record separator.
- ``.warc.gz`` files are MULTI-MEMBER gzip — one member per record by
  convention — decompressed with a stdlib ``zlib`` member loop.
- ``response`` records carry an HTTP message as payload (status line,
  headers, blank line, body); ``conversion`` records (WET) carry
  already-extracted plain text.

Spark shape: WARC is NOT arbitrarily splittable (record boundaries
are only discoverable by walking lengths from the file start), so the
unit of parallelism is the FILE — exactly how Common Crawl ships
(~1 GB segment files, tens of thousands per crawl; one task per file
saturates any cluster).  ``spark.read.format("binaryFile")`` loads
each file as one row and an Arrow-batched ``mapInPandas`` walks its
records; a 100 TB crawl is ~10⁵ such tasks with zero shuffle.  For
many-small-file layouts apply ``operators.skew.spread_for_cpu``
upstream as usual.

Malformed-input contract (the container-mp4 precedent): a damaged
file yields its successfully-parsed prefix of records plus ONE error
row naming the file and the parse failure — never a crashed job,
never silent loss; truncated payloads are detected against
Content-Length.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession

#: output schema of read_warc
WARC_SCHEMA = (
    "path STRING, warc_type STRING, record_id STRING, target_uri STRING, "
    "warc_date STRING, content_type STRING, http_status INT, "
    "payload_digest STRING, payload BINARY, payload_text STRING, "
    "parse_error STRING"
)


def gunzip_members(data: bytes) -> bytes:
    """Decompress multi-member gzip (the .warc.gz convention) with a
    stdlib decompressobj loop; raises ValueError on damage."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            # memoryview slice: zero-copy — data[pos:] would memcpy
            # the whole compressed tail once PER MEMBER (quadratic at
            # the one-member-per-record convention; review-caught)
            out.append(d.decompress(memoryview(data)[pos:]))
            out.append(d.flush())
        except zlib.error as exc:
            raise ValueError(f"bad gzip member at offset {pos}: {exc}")
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # defensive: no progress means no termination
            raise ValueError(f"empty gzip member at offset {pos}")
        pos += consumed
    return b"".join(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    """Case-insensitive header map from CRLF (or LF — lenient, the
    spec says CRLF) separated ``Name: value`` lines."""
    headers: dict[str, str] = {}
    for line in block.split(b"\n"):
        line = line.rstrip(b"\r")
        if not line:
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed header line: {line[:80]!r}")
        headers[name.strip().lower().decode("latin-1")] = (
            value.strip().decode("latin-1")
        )
    return headers


def iter_warc_records(data: bytes):
    """Yield ``(headers: dict, payload: bytes)`` per record.  Accepts
    plain or multi-member-gzip bytes.  Raises ValueError (only) on
    structural damage; records already yielded stay yielded."""
    if data[:2] == b"\x1f\x8b":
        data = gunzip_members(data)
    pos = 0
    n = len(data)
    while True:
        # skip inter-record separator newlines
        while pos < n and data[pos] in (0x0D, 0x0A):
            pos += 1
        if pos >= n:
            return
        eol = data.find(b"\n", pos)
        if eol < 0:
            raise ValueError("truncated version line")
        version = data[pos:eol].rstrip(b"\r")
        if not version.startswith(b"WARC/"):
            raise ValueError(f"expected WARC version line, got "
                             f"{version[:40]!r} at offset {pos}")
        # header block ends at the first blank line
        hdr_end = data.find(b"\r\n\r\n", eol)
        lf_end = data.find(b"\n\n", eol)
        if hdr_end < 0 or (0 <= lf_end < hdr_end):
            hdr_end, skip = lf_end, 2
        else:
            skip = 4
        if hdr_end < 0:
            raise ValueError("truncated header block")
        headers = _parse_headers(data[eol + 1 : hdr_end])
        try:
            length = int(headers["content-length"])
        except KeyError:
            raise ValueError("record without Content-Length")
        except ValueError:
            raise ValueError(
                f"bad Content-Length: {headers['content-length']!r}"
            )
        body_start = hdr_end + skip
        if body_start + length > n:
            raise ValueError(
                f"truncated payload: need {length} bytes at offset "
                f"{body_start}, have {n - body_start}"
            )
        yield headers, data[body_start : body_start + length]
        pos = body_start + length


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """(status, headers, body) of an HTTP message payload."""
    head_end = payload.find(b"\r\n\r\n")
    skip = 4
    lf = payload.find(b"\n\n")
    if head_end < 0 or (0 <= lf < head_end):
        head_end, skip = lf, 2
    if head_end < 0:
        raise ValueError("no HTTP header terminator")
    head = payload[:head_end]
    status_line, _, rest = head.partition(b"\n")
    parts = status_line.rstrip(b"\r").split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"bad HTTP status line: {status_line[:60]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"bad HTTP status code: {parts[1]!r}")
    return status, _parse_headers(rest), payload[head_end + skip :]


def decode_text(body: bytes, content_type: str | None) -> str:
    """Charset-aware text decode for crawled payloads — deterministic
    fallback ladder, never raises:

    1. a BOM wins (UTF-8 / UTF-16 LE/BE),
    2. a ``charset=`` parameter on the Content-Type is honored when
       Python knows the codec (``errors='replace'`` — the page said so),
    3. strict UTF-8 (the overwhelming majority of modern crawl),
    4. strict cp1252 (the de-facto meaning of undeclared 8-bit web
       text; latin-1's C1 range is almost always cp1252 punctuation),
    5. latin-1 (total — every byte string decodes).
    """
    if body.startswith(b"\xef\xbb\xbf"):
        return body[3:].decode("utf-8", errors="replace")
    if body.startswith(b"\xff\xfe"):
        return body[2:].decode("utf-16-le", errors="replace")
    if body.startswith(b"\xfe\xff"):
        return body[2:].decode("utf-16-be", errors="replace")
    if content_type:
        for part in content_type.split(";")[1:]:
            k, _, v = part.partition("=")
            if k.strip().lower() == "charset":
                try:
                    return body.decode(
                        v.strip().strip('"').strip("'"), errors="replace"
                    )
                except LookupError:
                    break  # unknown codec name: fall through
    for codec in ("utf-8", "cp1252"):
        try:
            return body.decode(codec)
        except UnicodeDecodeError:
            continue
    return body.decode("latin-1")


def _record_rows(path: str, content: bytes) -> list[dict]:
    """All rows for one file: parsed records + at most one trailing
    error row."""
    rows: list[dict] = []

    def row(**kw):
        base = {
            "path": path, "warc_type": None, "record_id": None,
            "target_uri": None, "warc_date": None, "content_type": None,
            "http_status": None, "payload_digest": None, "payload": None,
            "payload_text": None, "parse_error": None,
        }
        base.update(kw)
        return base

    try:
        for headers, payload in iter_warc_records(content):
            rtype = headers.get("warc-type")
            ctype = headers.get("content-type")
            status = None
            body = payload
            text = None
            if rtype == "response" and payload[:5] == b"HTTP/":
                try:
                    status, http_headers, body = parse_http_response(payload)
                    ctype = http_headers.get("content-type", ctype)
                except ValueError:
                    # keep the raw payload; the record itself is intact
                    status, body = None, payload
            # media types are case-insensitive (RFC 9110)
            if ctype is not None and ctype.split(";")[0].strip().lower() in (
                "text/plain", "text/html"
            ):
                text = decode_text(body, ctype)
            rows.append(
                row(
                    warc_type=rtype,
                    record_id=headers.get("warc-record-id"),
                    target_uri=headers.get("warc-target-uri"),
                    warc_date=headers.get("warc-date"),
                    content_type=ctype,
                    http_status=status,
                    # Common Crawl stamps sha1:BASE32 of the HTTP
                    # payload — exact dedup downstream can group on
                    # this without ever decoding text
                    payload_digest=headers.get("warc-payload-digest"),
                    payload=bytes(body),
                    payload_text=text,
                )
            )
    except ValueError as exc:
        rows.append(row(parse_error=str(exc)))
    return rows


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """One row per WARC record under ``path`` (glob / directory /
    file; plain or .gz), schema :data:`WARC_SCHEMA`.  ``payload`` is
    the record body (HTTP headers already stripped for response
    records, with the HTTP Content-Type promoted), ``payload_text``
    its UTF-8 decode for text/plain and text/html content,
    ``http_status`` the response status.  Damaged files keep their
    parsed prefix and add one ``parse_error`` row."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for path_, raw in zip(pdf["path"], pdf["content"]):
                out.extend(_record_rows(str(path_), bytes(raw)))
            yield pd.DataFrame(
                out,
                columns=[
                    "path", "warc_type", "record_id", "target_uri",
                    "warc_date", "content_type", "http_status",
                    "payload_digest", "payload", "payload_text",
                    "parse_error",
                ],
            )

    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    return files.mapInPandas(run, WARC_SCHEMA)


def wet_documents(records: DataFrame) -> DataFrame:
    """WET convenience: conversion records as (target_uri, warc_date,
    text) — the plain-text corpus C4-style pipelines start from."""
    return (
        records.where(
            (records.warc_type == "conversion")
            & records.payload_text.isNotNull()
        )
        .select(
            "target_uri",
            "warc_date",
            records.payload_text.alias("text"),
        )
    )


def warc_html_documents(records: DataFrame) -> DataFrame:
    """WARC response convenience: successful text/html responses with
    the plain text extracted by ``functions/htmltext.py`` — chains the
    two front-door stages into (target_uri, warc_date, text)."""
    from pyspark.sql import functions as F

    from ..functions.htmltext import html_text_col

    html = records.where(
        (records.warc_type == "response")
        & (records.http_status == 200)
        & records.payload_text.isNotNull()
        # the promise is HTML responses: a text/plain 200 (robots.txt,
        # ads.txt) is not a document — plain text enters via WET
        # conversion records only.  lower(): media types are
        # case-insensitive (RFC 9110)
        & F.lower(F.split(records.content_type, ";")[0]).startswith(
            "text/html"
        )
    ).select("target_uri", "warc_date",
             records.payload_text.alias("html"))
    return html.select(
        "target_uri",
        "warc_date",
        html_text_col("html").alias("text"),
    )


# ---------------------------------------------------------------------------
# writer (tests + fixture builder; also a valid minimal WARC muxer)
# ---------------------------------------------------------------------------


def build_warc(
    records: list[tuple[dict, bytes]],
    gzip_members: bool = False,
) -> bytes:
    """Serialize ``(headers, payload)`` records to spec-valid WARC
    bytes (CRLF discipline, Content-Length computed here); with
    ``gzip_members`` each record becomes its own gzip member (the
    .warc.gz convention)."""
    out = []
    for headers, payload in records:
        lines = [b"WARC/1.0\r\n"]
        for k, v in headers.items():
            if k.lower() == "content-length":
                continue
            lines.append(f"{k}: {v}\r\n".encode("latin-1"))
        lines.append(f"Content-Length: {len(payload)}\r\n".encode())
        lines.append(b"\r\n")
        rec = b"".join(lines) + payload + b"\r\n\r\n"
        if gzip_members:
            c = zlib.compressobj(wbits=31)
            rec = c.compress(rec) + c.flush()
        out.append(rec)
    return b"".join(out)


def build_http_response(
    status: int,
    headers: dict[str, str],
    body: bytes,
) -> bytes:
    """Serialize an HTTP response payload for a WARC response record."""
    head = [f"HTTP/1.1 {status} X\r\n".encode()]
    for k, v in headers.items():
        head.append(f"{k}: {v}\r\n".encode("latin-1"))
    head.append(b"\r\n")
    return b"".join(head) + body


def write_wet(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
    text_col: str = "text",
) -> list[dict]:
    """Deterministic sharded WET export — the interchange twin of
    :func:`read_warc`: a curated corpus goes back out as spec-valid
    ``.warc.gz`` conversion records another pipeline (or this one) can
    re-ingest.

    Shard assignment is the export family's md5 coin
    (``operators/export.shard_id_sql`` — layout-independent), records
    are sorted by ``id_col`` within a shard, and zlib's gzip header
    carries MTIME=0 — so the emitted FILES are byte-deterministic
    across reruns and input layouts, the same replay-stability
    contract as the parquet shard export.  Each shard group writes
    ``wet-{shard:05d}.warc.gz`` via temp-file + atomic rename (a
    crashed task never leaves a half-written visible file).

    Returns the manifest: one dict per shard (shard_id, n_records,
    n_bytes, path), computed from the written bytes.  ``out_dir``
    must be storage every executor can reach (local/NFS here; object
    storage via a mounted path at cluster scale)."""
    import os

    from pyspark.sql import functions as F

    from ..operators.export import shard_id_sql

    os.makedirs(out_dir, exist_ok=True)
    sharded = df.selectExpr(
        f"{id_col} AS _id",
        f"{uri_col} AS _uri",
        f"coalesce({date_col}, '') AS _date",
        f"coalesce({text_col}, '') AS _text",
    ).selectExpr("*", shard_id_sql("spark", "_id", n_shards) + " AS _shard")

    def write_shard(key, pdf):
        import pandas as pd

        shard = int(key[0])
        p = pdf.sort_values("_id").reset_index(drop=True)
        recs = []
        for _, r in p.iterrows():
            payload = str(r["_text"]).encode("utf-8")
            recs.append(
                (
                    {
                        "WARC-Type": "conversion",
                        "WARC-Record-ID": f"<urn:doc:{int(r['_id'])}>",
                        "WARC-Target-URI": str(r["_uri"]),
                        "WARC-Date": str(r["_date"]),
                        "Content-Type": "text/plain",
                    },
                    payload,
                )
            )
        data = build_warc(recs, gzip_members=True)
        path = os.path.join(out_dir, f"wet-{shard:05d}.warc.gz")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        return pd.DataFrame(
            [
                {
                    "shard_id": shard,
                    "n_records": len(recs),
                    "n_bytes": len(data),
                    "path": path,
                }
            ]
        )

    # REPARTITION_BY_NUM before groupBy+applyInPandas: per-shard
    # sort+gzip+write is CPU/IO-heavy while the rows are bytes-small,
    # exactly the shape AQE coalescing folds into too few tasks (the
    # r7 embedding_near_dup lesson; the groupBy reuses this exchange)
    manifest_df = (
        sharded.repartition(n_shards, F.col("_shard"))
        .groupBy("_shard")
        .applyInPandas(
            write_shard,
            "shard_id INT, n_records LONG, n_bytes LONG, path STRING",
        )
    )
    manifest = {r["shard_id"]: r.asDict() for r in manifest_df.collect()}
    # a shard with no documents still gets its (empty, valid) file so
    # the emitted file SET is exactly n_shards for any input — readers
    # enumerate shards, not directory listings
    for shard in range(n_shards):
        if shard not in manifest:
            path = os.path.join(out_dir, f"wet-{shard:05d}.warc.gz")
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                pass
            os.replace(tmp, path)
            manifest[shard] = {
                "shard_id": shard, "n_records": 0, "n_bytes": 0,
                "path": path,
            }
    return [manifest[s] for s in range(n_shards)]
