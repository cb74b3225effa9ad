"""ISO-BMFF (MP4) container demuxer + minimal muxer — pure stdlib,
written from the public ISO/IEC 14496-12 specification and the VP
Codec ISO Media File Format Binding (the 'vp08' sample entry).

Scope mirrors ``container_webm``: enumerate tracks (handler, codec
fourcc, dimensions, timescale), and extract every sample of a chosen
track — (timestamp_ms, is_sync, payload) — by walking the sample
tables: stts (decode deltas), stss (sync samples; absent = all sync),
stsc (sample→chunk), stsz/stz2 (sizes, incl. 4-bit packed),
stco/co64 (chunk offsets).  Every table read is bounds-checked so
malformed input raises ValueError only (the repo's codec contract).
Sample extraction is codec-agnostic plumbing; VP8 ('vp08') samples
additionally decode NATIVELY through ``codec_vp8``, making MP4/VP8 a
fully native video path like WebM/VP8.  Fragmented MP4 (moof) and
other codecs (avc1/hev1/mp4a …) raise NotImplementedError — the
honest boundary is CODECS now, not containers.

The minimal muxer writes ftyp + mdat + moov (one video track, 'vp08'
sample entries, explicit stts/stsc/stsz/stco/stss) and exists to
synthesize fixtures in an environment with no mp4 tooling; the
demuxer's oracle is the byte-exact round-trip plus libwebp-verified
frame payloads (the test_container_webm evidence pattern).
"""

from __future__ import annotations

import struct

__all__ = ["parse_mp4", "extract_samples", "mux_mp4_vp8"]

def _iter_boxes(buf: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", buf, pos)[0]
        typ = buf[pos + 4:pos + 8]
        header = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("MP4: truncated largesize box")
            size = struct.unpack_from(">Q", buf, pos + 8)[0]
            header = 16
        elif size == 0:
            size = end - pos
        if size < header or pos + size > end:
            raise ValueError("MP4: box overruns container")
        yield typ, pos + header, pos + size
        pos += size


def _find(buf: bytes, start: int, end: int, typ: bytes):
    for t, s, e in _iter_boxes(buf, start, end):
        if t == typ:
            return s, e
    return None


def _full(buf: bytes, s: int):
    """FullBox header: (version, flags, body_start)."""
    vf = _u(">I", buf, s)[0]
    return vf >> 24, vf & 0xFFFFFF, s + 4


def parse_mp4(payload: bytes) -> dict:
    """MP4 bytes → ``{"brand", "tracks": [...]}`` with per-track
    id / handler / codec / width / height / timescale / duration_ms /
    n_samples."""
    return _parse(payload)[0]


def _u(fmt: str, buf: bytes, off: int):
    """struct.unpack_from that raises ValueError on truncation (the
    malformed-input contract: ValueError only, never struct.error)."""
    try:
        return struct.unpack_from(fmt, buf, off)
    except struct.error as e:
        raise ValueError(f"MP4: truncated field ({e})") from None


def _parse(payload: bytes):
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("MP4: missing ftyp")
    brand = payload[8:12].decode("ascii", "replace")
    moov = _find(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("MP4: no moov box")
    if _find(payload, 0, len(payload), b"moof") is not None:
        raise NotImplementedError("fragmented MP4 (moof) not supported")
    tracks = []
    stbls = []
    for t, s, e in _iter_boxes(payload, *moov):
        if t != b"trak":
            continue
        info: dict = {"id": None, "handler": None, "codec": None,
                      "width": None, "height": None, "timescale": None,
                      "duration_ms": None, "n_samples": None}
        tkhd = _find(payload, s, e, b"tkhd")
        if tkhd:
            ver, _, b = _full(payload, tkhd[0])
            off = b + (8 if ver == 0 else 16)        # times
            info["id"] = _u(">I", payload, off)[0]
            # width/height are the LAST two 16.16 values of the box
            w, h = _u(">II", payload, max(tkhd[1] - 8, tkhd[0]))
            info["width"], info["height"] = w >> 16, h >> 16
        mdia = _find(payload, s, e, b"mdia")
        if not mdia:
            continue
        mdhd = _find(payload, *mdia, b"mdhd")
        if mdhd:
            ver, _, b = _full(payload, mdhd[0])
            if ver == 0:
                ts, dur = _u(">II", payload, b + 8)
            else:
                ts = _u(">I", payload, b + 16)[0]
                dur = _u(">Q", payload, b + 20)[0]
            info["timescale"] = ts
            info["duration_ms"] = dur * 1000 // max(ts, 1)
        hdlr = _find(payload, *mdia, b"hdlr")
        if hdlr:
            info["handler"] = payload[hdlr[0] + 8:hdlr[0] + 12].decode(
                "ascii", "replace")
        minf = _find(payload, *mdia, b"minf")
        stbl = _find(payload, *minf, b"stbl") if minf else None
        if stbl:
            stsd = _find(payload, *stbl, b"stsd")
            if stsd:
                _, _, b = _full(payload, stsd[0])
                n = _u(">I", payload, b)[0]
                if n >= 1:
                    info["codec"] = payload[b + 8:b + 12].decode(
                        "ascii", "replace")
            stsz = _find(payload, *stbl, b"stsz")
            if stsz:
                _, _, b = _full(payload, stsz[0])
                fixed, count = _u(">II", payload, b)
                info["n_samples"] = count
        tracks.append(info)
        stbls.append(stbl)
    return {"brand": brand, "tracks": tracks}, stbls


def _read_table(payload, stbl, typ, entry_size, unpack_entry):
    box = _find(payload, *stbl, typ)
    if box is None:
        return None
    _, _, b = _full(payload, box[0])
    n = _u(">I", payload, b)[0]
    if b + 4 + n * entry_size > box[1]:
        raise ValueError(f"MP4: {typ.decode()} table overruns its box")
    return [unpack_entry(payload, b + 4, i) for i in range(n)]


def extract_samples(payload: bytes, track_id: int | None = None):
    """Samples of one track (default: the first video track):
    ``(track_info, [(ts_ms, is_sync, sample_bytes)])`` in decode
    order.  Timestamps come from stts in the track timescale."""
    doc, stbls = _parse(payload)
    track = stbl = None
    for t, sb in zip(doc["tracks"], stbls):
        if track_id is not None:
            if t["id"] == track_id:
                track, stbl = t, sb
                break
        elif t["handler"] == "vide":
            track, stbl = t, sb
            break
    if track is None:
        raise ValueError("MP4: requested track not found")
    if stbl is None:
        raise ValueError("MP4: track has no sample table")

    stts = _read_table(
        payload, stbl, b"stts", 8,
        lambda p, b, i: _u(">II", p, b + 8 * i))
    stsc = _read_table(
        payload, stbl, b"stsc", 12,
        lambda p, b, i: _u(">III", p, b + 12 * i))
    stco = _read_table(
        payload, stbl, b"stco", 4,
        lambda p, b, i: _u(">I", p, b + 4 * i)[0])
    if stco is None:
        stco = _read_table(
            payload, stbl, b"co64", 8,
            lambda p, b, i: _u(">Q", p, b + 8 * i)[0])
    stss_box = _find(payload, *stbl, b"stss")
    stss = None
    if stss_box is not None:
        _, _, b = _full(payload, stss_box[0])
        n = _u(">I", payload, b)[0]
        if b + 4 + 4 * n > stss_box[1]:
            raise ValueError("MP4: stss table overruns its box")
        stss = {_u(">I", payload, b + 4 + 4 * i)[0] for i in range(n)}
    sizes = _read_sizes(payload, stbl)
    if stts is None or stsc is None or stco is None or sizes is None:
        raise ValueError("MP4: incomplete sample tables")
    count = len(sizes)

    # decode timestamps from stts run lengths, capped at the sample
    # count (a corrupted run length must not build a multi-GB list)
    ts_scale = max(track["timescale"] or 1000, 1)
    stamps = []
    t = 0
    for n, delta in stts:
        for _ in range(min(n, count - len(stamps))):
            stamps.append(t * 1000 // ts_scale)
            t += delta
        if len(stamps) >= count:
            break
    if len(stamps) < count:
        raise ValueError("MP4: stts covers fewer samples than stsz")

    # walk sample-to-chunk: stsc entries are (first_chunk,
    # samples_per_chunk, desc_index), 1-based, run-length to next entry
    samples = []
    si = 0
    prev_first = 0
    for ei, (first, per, _desc) in enumerate(stsc):
        if first <= prev_first:
            raise ValueError("MP4: stsc first_chunk not increasing")
        prev_first = first
        last = (stsc[ei + 1][0] - 1) if ei + 1 < len(stsc) else len(stco)
        if first < 1 or last > len(stco):
            raise ValueError("MP4: stsc chunk index out of range")
        for chunk in range(first, last + 1):
            if si >= count:
                break
            off = stco[chunk - 1]
            for _ in range(per):
                if si >= count:
                    break
                size = sizes[si]
                if off + size > len(payload):
                    raise ValueError("MP4: sample overruns file")
                sync = (si + 1 in stss) if stss is not None else True
                samples.append((stamps[si], sync,
                                payload[off:off + size]))
                off += size
                si += 1
    if si != count:
        raise ValueError("MP4: chunk tables cover fewer samples than stsz")
    return track, samples


def _read_sizes(payload: bytes, stbl):
    """Sample sizes from stsz, or the compact stz2 (4/8/16-bit
    entries, 4-bit packed two per byte, high nibble first)."""
    box = _find(payload, *stbl, b"stsz")
    if box is not None:
        _, _, b = _full(payload, box[0])
        fixed, count = _u(">II", payload, b)
        if fixed:
            return [fixed] * count
        if b + 8 + 4 * count > box[1]:
            raise ValueError("MP4: stsz table overruns its box")
        return [_u(">I", payload, b + 8 + 4 * i)[0] for i in range(count)]
    box = _find(payload, *stbl, b"stz2")
    if box is None:
        return None
    _, _, b = _full(payload, box[0])
    field_size = _u(">I", payload, b)[0] & 0xFF
    count = _u(">I", payload, b + 4)[0]
    data_start = b + 8
    if field_size == 4:
        need = (count + 1) // 2
    elif field_size in (8, 16):
        need = count * (field_size // 8)
    else:
        raise ValueError(f"MP4: bad stz2 field size {field_size}")
    if data_start + need > box[1]:
        raise ValueError("MP4: stz2 table overruns its box")
    if field_size == 16:
        return [_u(">H", payload, data_start + 2 * i)[0]
                for i in range(count)]
    if field_size == 8:
        return list(payload[data_start:data_start + count])
    out = []
    for i in range(count):
        byte = payload[data_start + (i >> 1)]
        out.append((byte >> 4) if i % 2 == 0 else (byte & 0x0F))
    return out


# ---------------------------------------------------------------------------
# minimal muxer ('vp08' video track)
# ---------------------------------------------------------------------------

def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _fullbox(typ: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(typ, struct.pack(">I", (version << 24) | flags) + body)


def mux_mp4_vp8(frames, width: int, height: int, timescale: int = 1000,
                frame_duration: int = 40, keyframes=None) -> bytes:
    """Mux VP8 key-frame payloads into a minimal valid MP4 with a
    'vp08' video track (VP Codec ISO binding).  ``frames`` are raw VP8
    bitstreams; one chunk per TWO samples (so stsc/stco walking is a
    real multi-chunk path, not a degenerate single chunk)."""
    if keyframes is None:
        keyframes = [True] * len(frames)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512)
                + b"isomiso2mp41")
    # mdat follows ftyp; sample offsets are known once we lay it out
    mdat_body = b"".join(frames)
    mdat_start = len(ftyp) + 8
    offsets = []
    off = mdat_start
    for i, f in enumerate(frames):
        if i % 2 == 0:
            offsets.append(off)
        off += len(f)
    mdat = _box(b"mdat", mdat_body)

    n = len(frames)
    vpcc = _fullbox(b"vpcC", 1, 0, bytes([
        0,          # profile
        10,         # level
        (8 << 4) | (1 << 1) | 0,   # bitdepth 8, chroma 4:2:0 colocated
        2, 2, 2,    # colour primaries / transfer / matrix (unspecified)
        0, 0,       # codecInitializationDataSize = 0
    ]))
    sample_entry = _box(b"vp08", bytes(6) + struct.pack(">H", 1)
                        + bytes(16)
                        + struct.pack(">HH", width, height)
                        + struct.pack(">II", 0x480000, 0x480000)
                        + bytes(4) + struct.pack(">H", 1)
                        + bytes(32)
                        + struct.pack(">Hh", 24, -1)
                        + vpcc)
    stsd = _fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _fullbox(b"stts", 0, 0, struct.pack(">III", 1, n,
                                               frame_duration))
    # one chunk per two samples; trailing odd sample forms its own run
    if n % 2 == 0:
        stsc_entries = [(1, 2, 1)]
    else:
        stsc_entries = [(1, 2, 1), (len(offsets), 1, 1)] if n > 1 else \
            [(1, 1, 1)]
    stsc = _fullbox(b"stsc", 0, 0, struct.pack(">I", len(stsc_entries))
                    + b"".join(struct.pack(">III", *e)
                               for e in stsc_entries))
    stsz = _fullbox(b"stsz", 0, 0, struct.pack(">II", 0, n)
                    + b"".join(struct.pack(">I", len(f)) for f in frames))
    stco = _fullbox(b"stco", 0, 0, struct.pack(">I", len(offsets))
                    + b"".join(struct.pack(">I", o) for o in offsets))
    sync = [i + 1 for i, k in enumerate(keyframes) if k]
    stss = _fullbox(b"stss", 0, 0, struct.pack(">I", len(sync))
                    + b"".join(struct.pack(">I", s) for s in sync))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
    vmhd = _fullbox(b"vmhd", 0, 1, bytes(8))
    dref = _fullbox(b"dref", 0, 0, struct.pack(">I", 1)
                    + _fullbox(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    minf = _box(b"minf", vmhd + dinf + stbl)
    dur = n * frame_duration
    mdhd = _fullbox(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0,
                                               timescale, dur, 0x55C4, 0))
    hdlr = _fullbox(b"hdlr", 0, 0, bytes(4) + b"vide" + bytes(12)
                    + b"VideoHandler\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _fullbox(b"tkhd", 0, 7, struct.pack(">IIII", 0, 0, 1, 0)
                    + struct.pack(">I", dur) + bytes(8)
                    + struct.pack(">hhhh", 0, 0, 0, 0)
                    + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0,
                                  0, 0, 0x40000000)
                    + struct.pack(">II", width << 16, height << 16))
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _fullbox(b"mvhd", 0, 0, struct.pack(">IIII", 0, 0,
                                               timescale, dur)
                    + struct.pack(">IH", 0x00010000, 0x0100) + bytes(10)
                    + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0,
                                  0, 0, 0x40000000)
                    + bytes(24) + struct.pack(">I", 2))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
