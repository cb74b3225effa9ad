"""WebM (Matroska/EBML subset) container demuxer + minimal muxer —
pure stdlib, written from the public EBML (RFC 8794) and Matroska /
WebM container specifications.

Scope: the still-video slice a training-data pipeline needs —
enumerate tracks, walk Clusters (including unknown-size streamed
clusters, which end at their first non-child element), and extract
(track, timestamp_ms, keyframe, payload) for every SimpleBlock /
BlockGroup Block.  Laced blocks (legal Matroska, typical for audio)
are counted per track, never fatal: ``demux_video_frames`` raises
NotImplementedError only when the VIDEO track itself is laced.
Composed with ``codec_vp8`` this gives NATIVE decode of V_VP8 key
frames, so ``codecs.extract_video_frames`` no longer needs ffmpeg for
WebM/VP8 input (inter frames and other codecs remain the boundary).

The muxer writes a minimal valid WebM (EBML header → Segment → Info →
Tracks → Clusters of SimpleBlocks, no lacing) and exists for two
reasons: synthesizing deterministic test/video fixtures in an
environment with no ffmpeg, and pinning the demuxer with byte-exact
round-trips.  Frame payload correctness is interop-verified separately
(each VP8 frame decodes bit-exact against the system libwebp in
tests/test_codec_vp8.py / test_container_webm.py).

Reference parity note: the reference repo (trends.go) has no media
path at all; this extends SURVEY.md's multimodal boundary.
"""

from __future__ import annotations

import struct
from typing import Iterator

__all__ = [
    "parse_webm",
    "demux_video_frames",
    "mux_webm_vp8",
]

_EBML_HEADER = 0x1A45DFA3
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_DURATION = 0x4489
_MUXING_APP = 0x4D80
_WRITING_APP = 0x5741
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUMBER = 0xD7
_TRACK_UID = 0x73C5
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_WIDTH = 0xB0
_PIXEL_HEIGHT = 0xBA
_CLUSTER = 0x1F43B675
_CLUSTER_TIMESTAMP = 0xE7
_SIMPLE_BLOCK = 0xA3
_BLOCK_GROUP = 0xA0
_BLOCK = 0xA1
_REFERENCE_BLOCK = 0xFB
_DOCTYPE = 0x4282
_VOID = 0xEC
_CRC32 = 0xBF


# ---------------------------------------------------------------------------
# EBML primitives
# ---------------------------------------------------------------------------

def _read_id(buf: bytes, pos: int) -> tuple[int, int]:
    """Element ID: length-prefixed varint, marker bits KEPT."""
    if pos >= len(buf):
        raise ValueError("EBML: truncated element id")
    first = buf[pos]
    if first == 0:
        raise ValueError("EBML: invalid element id")
    n = 8 - first.bit_length()
    if pos + 1 + n > len(buf):
        raise ValueError("EBML: truncated element id")
    v = first
    for k in range(n):
        v = (v << 8) | buf[pos + 1 + k]
    return v, pos + 1 + n


def _read_size(buf: bytes, pos: int) -> tuple[int, int]:
    """Element size: length-prefixed varint, marker bit STRIPPED.
    The all-ones pattern means 'unknown size' (returned as -1)."""
    if pos >= len(buf):
        raise ValueError("EBML: truncated element size")
    first = buf[pos]
    if first == 0:
        raise ValueError("EBML: invalid element size")
    n = 8 - first.bit_length()
    if pos + 1 + n > len(buf):
        raise ValueError("EBML: truncated element size")
    v = first & ((1 << (7 - n)) - 1)
    all_ones = v == (1 << (7 - n)) - 1
    for k in range(n):
        b = buf[pos + 1 + k]
        v = (v << 8) | b
        all_ones = all_ones and b == 0xFF
    return (-1 if all_ones else v), pos + 1 + n


def _read_vint(buf: bytes, pos: int) -> tuple[int, int]:
    """Plain EBML varint (block track numbers): marker stripped, NO
    unknown-size reservation — 0xFF is simply the value 127."""
    if pos >= len(buf):
        raise ValueError("EBML: truncated varint")
    first = buf[pos]
    if first == 0:
        raise ValueError("EBML: invalid varint")
    n = 8 - first.bit_length()
    if pos + 1 + n > len(buf):
        raise ValueError("EBML: truncated varint")
    v = first & ((1 << (7 - n)) - 1)
    for k in range(n):
        v = (v << 8) | buf[pos + 1 + k]
    return v, pos + 1 + n


# elements that may legally appear inside a Cluster — anything else
# terminates an unknown-size Cluster (Matroska: an unknown-size
# element ends at the first element that is not one of its children)
_CLUSTER_CHILD_IDS = frozenset({
    _CLUSTER_TIMESTAMP, _SIMPLE_BLOCK, _BLOCK_GROUP, _VOID, _CRC32,
    0xA7,   # Position
    0xAB,   # PrevSize
    0x5854,  # SilentTracks
})


def _unknown_cluster_end(buf: bytes, start: int, end: int) -> int:
    """Find where an unknown-size Cluster ends: at the first child ID
    that is not a Cluster child, or the parent end."""
    pos = start
    while pos < end:
        eid, after_id = _read_id(buf, pos)
        if eid not in _CLUSTER_CHILD_IDS:
            return pos
        size, body = _read_size(buf, after_id)
        if size == -1 or body + size > end:
            return end
        pos = body + size
    return end


def _iter_children(buf: bytes, start: int, end: int) -> Iterator[
        tuple[int, int, int]]:
    """Yield (element_id, body_start, body_end) inside [start, end).
    Unknown-size elements (streamed files): a Cluster ends at its
    first non-child element; anything else extends to the parent end
    (correct for the common case, a streamed Segment)."""
    pos = start
    while pos < end:
        eid, pos = _read_id(buf, pos)
        size, pos = _read_size(buf, pos)
        if size == -1:
            body_end = (_unknown_cluster_end(buf, pos, end)
                        if eid == _CLUSTER else end)
        else:
            body_end = pos + size
        if body_end > end:
            raise ValueError("EBML: element overruns its parent")
        yield eid, pos, body_end
        pos = body_end


def _uint(buf: bytes, start: int, end: int) -> int:
    v = 0
    for b in buf[start:end]:
        v = (v << 8) | b
    return v


# ---------------------------------------------------------------------------
# demuxer
# ---------------------------------------------------------------------------

def parse_webm(payload: bytes) -> dict:
    """Parse a WebM byte string into
    ``{"doctype", "timestamp_scale", "tracks": [...], "frames": [...]}``
    where each frame is ``(track_number, timestamp_ms, keyframe,
    payload_bytes)`` in storage order.

    timestamp_ms is the block timestamp in TimestampScale ticks
    converted to milliseconds (exact for the default 1 ms scale).
    """
    if not payload.startswith(b"\x1a\x45\xdf\xa3"):
        raise ValueError("WebM: missing EBML header magic")
    doctype = None
    segment = None
    for eid, s, e in _iter_children(payload, 0, len(payload)):
        if eid == _EBML_HEADER:
            for cid, cs, ce in _iter_children(payload, s, e):
                if cid == _DOCTYPE:
                    doctype = payload[cs:ce].split(b"\x00")[0].decode(
                        "ascii", "replace")
        elif eid == _SEGMENT:
            segment = (s, e)
            break
    if doctype not in ("webm", "matroska"):
        raise ValueError(f"WebM: unsupported doctype {doctype!r}")
    if segment is None:
        raise ValueError("WebM: no Segment element")

    scale = 1_000_000  # ns per tick (default: 1 ms ticks)
    tracks: list[dict] = []
    frames: list[tuple[int, int, bool, bytes]] = []
    laced: dict[int, int] = {}   # track number -> laced-block count

    for eid, s, e in _iter_children(payload, *segment):
        if eid == _INFO:
            for cid, cs, ce in _iter_children(payload, s, e):
                if cid == _TIMESTAMP_SCALE:
                    scale = _uint(payload, cs, ce)
        elif eid == _TRACKS:
            for cid, cs, ce in _iter_children(payload, s, e):
                if cid != _TRACK_ENTRY:
                    continue
                t: dict = {"number": None, "type": None, "codec_id": None,
                           "width": None, "height": None}
                for tid, ts_, te in _iter_children(payload, cs, ce):
                    if tid == _TRACK_NUMBER:
                        t["number"] = _uint(payload, ts_, te)
                    elif tid == _TRACK_TYPE:
                        t["type"] = _uint(payload, ts_, te)
                    elif tid == _CODEC_ID:
                        t["codec_id"] = payload[ts_:te].split(b"\x00")[0] \
                            .decode("ascii", "replace")
                    elif tid == _VIDEO:
                        for vid, vs, ve in _iter_children(payload, ts_, te):
                            if vid == _PIXEL_WIDTH:
                                t["width"] = _uint(payload, vs, ve)
                            elif vid == _PIXEL_HEIGHT:
                                t["height"] = _uint(payload, vs, ve)
                tracks.append(t)
        elif eid == _CLUSTER:
            cluster_ts = 0
            for cid, cs, ce in _iter_children(payload, s, e):
                if cid == _CLUSTER_TIMESTAMP:
                    cluster_ts = _uint(payload, cs, ce)
                elif cid == _SIMPLE_BLOCK:
                    f = _parse_block(payload, cs, ce, cluster_ts, scale,
                                     None)
                    if f[0] == "laced":
                        laced[f[1]] = laced.get(f[1], 0) + 1
                    else:
                        frames.append(f)
                elif cid == _BLOCK_GROUP:
                    block = None
                    has_ref = False
                    for gid, gs, ge in _iter_children(payload, cs, ce):
                        if gid == _BLOCK:
                            block = (gs, ge)
                        elif gid == _REFERENCE_BLOCK:
                            has_ref = True
                    if block is not None:
                        # a Block with no ReferenceBlock is a keyframe
                        f = _parse_block(payload, block[0], block[1],
                                         cluster_ts, scale, not has_ref)
                        if f[0] == "laced":
                            laced[f[1]] = laced.get(f[1], 0) + 1
                        else:
                            frames.append(f)
    return {"doctype": doctype, "timestamp_scale": scale,
            "tracks": tracks, "frames": frames, "laced_blocks": laced}


def _parse_block(buf: bytes, s: int, e: int, cluster_ts: int, scale: int,
                 keyframe_override: bool | None):
    """Returns (track, ts_ms, keyframe, payload) or, for a laced block
    (legal Matroska, typical for audio), ('laced', track) — the caller
    decides whether the affected track matters."""
    track, pos = _read_vint(buf, s)
    if pos + 3 > e:
        raise ValueError("WebM: malformed block header")
    rel = struct.unpack_from(">h", buf, pos)[0]
    flags = buf[pos + 2]
    if (flags >> 1) & 0x03:
        return ("laced", track)
    keyframe = bool(flags & 0x80) if keyframe_override is None \
        else keyframe_override
    ts_ms = (cluster_ts + rel) * scale // 1_000_000
    return track, ts_ms, keyframe, buf[pos + 3:e]


def demux_video_frames(payload: bytes) -> tuple[dict, list]:
    """First video track (+ its frames) of a WebM byte string.
    Returns ``(track_info, [(timestamp_ms, keyframe, frame_bytes)])``.
    """
    doc = parse_webm(payload)
    video = next((t for t in doc["tracks"] if t["type"] == 1), None)
    if video is None:
        raise ValueError("WebM: no video track")
    if doc["laced_blocks"].get(video["number"]):
        # laced blocks on OTHER tracks (typically audio) are ignored;
        # lacing on the track we must decode is a real capability gap
        raise NotImplementedError(
            "WebM: laced video blocks are not supported"
        )
    frames = [(ts, kf, data) for (tn, ts, kf, data) in doc["frames"]
              if tn == video["number"]]
    return video, frames


# ---------------------------------------------------------------------------
# muxer (minimal valid WebM, SimpleBlocks, no lacing)
# ---------------------------------------------------------------------------

def _enc_size(v: int) -> bytes:
    """Known-size EBML varint, minimal length."""
    for n in range(1, 9):
        if v < (1 << (7 * n)) - 1:      # reserve the all-ones pattern
            out = v | (1 << (7 * n))
            return out.to_bytes(n, "big")
    raise ValueError("EBML: size too large")


def _enc_id(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _elem(eid: int, body: bytes) -> bytes:
    return _enc_id(eid) + _enc_size(len(body)) + body


def _elem_uint(eid: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _elem(eid, v.to_bytes(n, "big"))


def mux_webm_vp8(frames, width: int, height: int,
                 frame_duration_ms: int = 40,
                 cluster_ms: int = 1000,
                 keyframes=None) -> bytes:
    """Mux VP8 key-frame payloads into a minimal WebM.

    ``frames`` is a list of raw VP8 bitstreams (e.g. the 'VP8 ' chunk
    payload of a libwebp encode); frame i gets timestamp
    ``i * frame_duration_ms``.  Clusters roll over every ``cluster_ms``
    (relative block timestamps are int16-bounded).  ``keyframes`` is an
    optional per-frame bool list for the SimpleBlock keyframe flag
    (default: every frame keyed — true for WebP-sourced payloads)."""
    if keyframes is None:
        keyframes = [True] * len(frames)
    ebml = _elem(_EBML_HEADER, b"".join([
        _elem_uint(0x4286, 1),          # EBMLVersion
        _elem_uint(0x42F7, 1),          # EBMLReadVersion
        _elem_uint(0x42F2, 4),          # EBMLMaxIDLength
        _elem_uint(0x42F3, 8),          # EBMLMaxSizeLength
        _elem(_DOCTYPE, b"webm"),
        _elem_uint(0x4287, 2),          # DocTypeVersion
        _elem_uint(0x4285, 2),          # DocTypeReadVersion
    ]))
    info = _elem(_INFO, b"".join([
        _elem_uint(_TIMESTAMP_SCALE, 1_000_000),   # 1 ms ticks
        _elem(_DURATION, struct.pack(
            ">d", max(len(frames), 1) * float(frame_duration_ms))),
        _elem(_MUXING_APP, b"org_revue_de_presse_trends_spark"),
        _elem(_WRITING_APP, b"org_revue_de_presse_trends_spark"),
    ]))
    track = _elem(_TRACKS, _elem(_TRACK_ENTRY, b"".join([
        _elem_uint(_TRACK_NUMBER, 1),
        _elem_uint(_TRACK_UID, 1),
        _elem_uint(_TRACK_TYPE, 1),                # video
        _elem_uint(0x9C, 0),                       # FlagLacing = 0
        _elem(_CODEC_ID, b"V_VP8"),
        _elem(_VIDEO, b"".join([
            _elem_uint(_PIXEL_WIDTH, width),
            _elem_uint(_PIXEL_HEIGHT, height),
        ])),
    ])))
    clusters = []
    cur: list[bytes] = []
    cur_base = 0
    for i, data in enumerate(frames):
        ts = i * frame_duration_ms
        if ts - cur_base >= cluster_ms and cur:
            clusters.append(_elem(_CLUSTER, b"".join(cur)))
            cur = []
            cur_base = ts
        if not cur:
            cur_base = ts
            cur.append(_elem_uint(_CLUSTER_TIMESTAMP, ts))
        flags = 0x80 if keyframes[i] else 0x00      # no lacing either way
        block = (_enc_size(1)                       # track number 1
                 + struct.pack(">h", ts - cur_base)
                 + bytes([flags])
                 + bytes(data))
        cur.append(_elem(_SIMPLE_BLOCK, block))
    if cur:
        clusters.append(_elem(_CLUSTER, b"".join(cur)))
    segment_body = info + track + b"".join(clusters)
    return ebml + _elem(_SEGMENT, segment_body)
