"""Lossy WebP (VP8 intra/key-frame) decoder — pure Python + numpy,
written from the public RFC 6386 specification ("VP8 Data Format and
Decoding Guide").  No code is taken from any decoder implementation;
the large static spec tables (quantizer lookups, default/update
coefficient probabilities, key-frame B-mode probabilities) are lifted
from the system ``libwebp.so.7`` data section at verified-unique
offsets, and ``tests/test_codec_vp8.py`` re-extracts them from the .so
at run time and asserts byte equality.

Scope: key frames only (a WebP 'VP8 ' chunk is always a key frame).
Covers the full still-image feature surface: boolean arithmetic
decoder, segmentation (quant + loop-filter features), all intra
prediction modes (16x16 DC/V/H/TM, B_PRED with all ten 4x4 modes,
chroma 8x8), the Y2/WHT DC transform, per-segment dequantization,
multiple token partitions, and both loop filters (normal + simple).

Output is the decoder-exact YUV 4:2:0 reconstruction —
``decode_vp8_planes`` is interop-tested bit-exact against the system
libwebp's ``WebPDecodeYUV`` — plus an RGBA path (``decode_vp8_rgba``)
that reproduces libwebp's "fancy" 2x2 chroma upsampler and its
fixed-point YUV→RGB conversion, interop-tested byte-exact against
``WebPDecodeRGBA``.

Reference parity note: the reference repo has no media decoding at
all (its only source is trends.go); this module extends the engine's
multimodal boundary (SURVEY.md LLM-pipeline section) from
PNG/JPEG/WAV to the VP8 bitstream that WebM/MP4 video carries.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_vp8_planes", "decode_vp8_rgba"]


# ---------------------------------------------------------------------------
# small spec tables (RFC 6386 sections 8, 11, 13)
# ---------------------------------------------------------------------------

# 16x16 luma modes (RFC 11.2); 4 = B_PRED (per-4x4 submodes)
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = range(5)
# 4x4 submodes (RFC 11.4), order = tree enum order
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

# key-frame 16x16 mode tree probabilities (RFC 11.2)
_KF_YMODE_PROBS = (145, 156, 163, 128)
# key-frame chroma mode tree probabilities (RFC 11.2)
_KF_UVMODE_PROBS = (142, 114, 183)
# 16x16 mode -> implied uniform submode for B-mode context (RFC 11.3)
_MODE_TO_SUBMODE = (B_DC, B_VE, B_HE, B_TM)

# coefficient bands per zigzag position (RFC 13.3)
_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
# zigzag scan (RFC 14.1)
_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
# large-value category base values and extra-bit probabilities (RFC 13.2)
_CAT_BASE = (5, 7, 11, 19, 35, 67)
_CAT_PROBS = (
    (159,),
    (165, 145),
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)


# ---------------------------------------------------------------------------
# boolean arithmetic decoder (RFC 6386 section 7)
# ---------------------------------------------------------------------------

class _Bool:
    """RFC 6386 boolean decoder.  Reads past the end of the buffer
    yield zero bytes (the spec's decoder prefetches beyond the last
    meaningful bit of every partition)."""

    __slots__ = ("data", "pos", "n", "value", "range", "bit_count")

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        b0 = data[0] if self.n > 0 else 0
        b1 = data[1] if self.n > 1 else 0
        self.pos = 2
        self.value = (b0 << 8) | b1
        self.range = 255
        self.bit_count = 0

    def bool(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        # renormalize
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < self.n:
                    self.value |= self.data[self.pos]
                self.pos += 1
        return ret

    def literal(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            v = (v << 1) | self.bool(128)
        return v

    def signed_literal(self, bits: int) -> int:
        v = self.literal(bits)
        return -v if self.bool(128) else v


# ---------------------------------------------------------------------------
# frame header (RFC 6386 sections 9, 19.2)
# ---------------------------------------------------------------------------

def _clip127(v: int) -> int:
    return 0 if v < 0 else (127 if v > 127 else v)


def _parse_frame_header(data: bytes):
    if len(data) < 10:
        raise ValueError("VP8: truncated frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise ValueError("VP8: not a key frame (WebP stills are key frames)")
    part0_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8: bad key-frame start code")
    w16 = struct.unpack_from("<H", data, 6)[0]
    h16 = struct.unpack_from("<H", data, 8)[0]
    width, height = w16 & 0x3FFF, h16 & 0x3FFF
    if width == 0 or height == 0:
        raise ValueError("VP8: zero dimension")
    if 10 + part0_size > len(data):
        raise ValueError("VP8: first partition overruns frame")
    bd = _Bool(data[10:10 + part0_size])

    hdr: dict = {"width": width, "height": height}
    bd.literal(1)  # color_space (must be 0 for valid streams)
    bd.literal(1)  # clamping_type (reconstruction clamps either way)

    # --- segmentation (RFC 9.3)
    seg_enabled = bd.bool(128)
    seg_update_map = 0
    seg_abs = 0
    seg_quant = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    seg_tree_probs = [255, 255, 255]
    if seg_enabled:
        seg_update_map = bd.bool(128)
        update_data = bd.bool(128)
        if update_data:
            seg_abs = bd.bool(128)
            for i in range(4):
                if bd.bool(128):
                    seg_quant[i] = bd.signed_literal(7)
            for i in range(4):
                if bd.bool(128):
                    seg_lf[i] = bd.signed_literal(6)
        if seg_update_map:
            for i in range(3):
                if bd.bool(128):
                    seg_tree_probs[i] = bd.literal(8)
    hdr["seg_enabled"] = seg_enabled
    hdr["seg_update_map"] = seg_update_map
    hdr["seg_abs"] = seg_abs
    hdr["seg_quant"] = seg_quant
    hdr["seg_lf"] = seg_lf
    hdr["seg_tree_probs"] = seg_tree_probs

    # --- loop filter (RFC 9.4)
    hdr["filter_simple"] = bd.literal(1)
    hdr["filter_level"] = bd.literal(6)
    hdr["filter_sharpness"] = bd.literal(3)
    ref_lf_delta = [0, 0, 0, 0]
    mode_lf_delta = [0, 0, 0, 0]
    lf_delta_enabled = bd.bool(128)
    if lf_delta_enabled:
        if bd.bool(128):  # mode_ref_lf_delta_update
            for i in range(4):
                if bd.bool(128):
                    ref_lf_delta[i] = bd.signed_literal(6)
            for i in range(4):
                if bd.bool(128):
                    mode_lf_delta[i] = bd.signed_literal(6)
    hdr["lf_delta_enabled"] = lf_delta_enabled
    hdr["ref_lf_delta"] = ref_lf_delta
    hdr["mode_lf_delta"] = mode_lf_delta

    # --- token partitions (RFC 9.5)
    n_parts = 1 << bd.literal(2)
    part_area = data[10 + part0_size:]
    sizes = []
    off = (n_parts - 1) * 3
    if off > len(part_area):
        raise ValueError("VP8: partition size table overruns frame")
    for i in range(n_parts - 1):
        sizes.append(part_area[3 * i] | (part_area[3 * i + 1] << 8)
                     | (part_area[3 * i + 2] << 16))
    parts = []
    for i, sz in enumerate(sizes):
        if off + sz > len(part_area):
            raise ValueError("VP8: token partition overruns frame")
        parts.append(_Bool(part_area[off:off + sz]))
        off += sz
    parts.append(_Bool(part_area[off:]))

    # --- dequantization indices (RFC 9.6)
    y_ac_qi = bd.literal(7)
    deltas = [bd.signed_literal(4) if bd.bool(128) else 0 for _ in range(5)]
    y1dc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = deltas
    dequant = []
    for s in range(4):
        if seg_enabled:
            q = seg_quant[s] if seg_abs else y_ac_qi + seg_quant[s]
        else:
            q = y_ac_qi
        q = _clip127(q)
        y2ac = AC_QLOOKUP[_clip127(q + y2ac_d)] * 155 // 100
        dequant.append((
            DC_QLOOKUP[_clip127(q + y1dc_d)],          # y1 dc
            AC_QLOOKUP[q],                             # y1 ac
            DC_QLOOKUP[_clip127(q + y2dc_d)] * 2,      # y2 dc
            y2ac if y2ac >= 8 else 8,                  # y2 ac
            DC_QLOOKUP[min(_clip127(q + uvdc_d), 117)],  # uv dc
            AC_QLOOKUP[_clip127(q + uvac_d)],          # uv ac
        ))
    hdr["dequant"] = dequant

    bd.literal(1)  # refresh_entropy_probs (meaningless for stills)

    # --- coefficient probability updates (RFC 13.4)
    cp = [[[list(COEFF_PROBS[t][b][c]) for c in range(3)]
           for b in range(8)] for t in range(4)]
    upd = COEFF_UPDATE_PROBS
    for t in range(4):
        for b in range(8):
            for c in range(3):
                row_u = upd[t][b][c]
                row = cp[t][b][c]
                for p in range(11):
                    if bd.bool(row_u[p]):
                        row[p] = bd.literal(8)
    hdr["coeff_probs"] = [
        [[tuple(cp[t][b][c]) for c in range(3)] for b in range(8)]
        for t in range(4)
    ]

    hdr["use_skip"] = bd.bool(128)
    hdr["prob_skip"] = bd.literal(8) if hdr["use_skip"] else 0

    return hdr, bd, parts


# ---------------------------------------------------------------------------
# per-macroblock modes (RFC 6386 sections 10, 11)
# ---------------------------------------------------------------------------

def _parse_modes(bd: _Bool, hdr: dict, mb_w: int, mb_h: int):
    """Parse segment ids, skip flags and intra modes for every MB from
    the first partition (they precede nothing else there on key
    frames — the partition is wholly mode data after the header)."""
    seg_probs = hdr["seg_tree_probs"]
    use_seg = hdr["seg_update_map"]
    use_skip = hdr["use_skip"]
    prob_skip = hdr["prob_skip"]

    above_sub = [B_DC] * (4 * mb_w)   # bottom submode row per MB column
    segs = np.zeros((mb_h, mb_w), dtype=np.uint8)
    skips = np.zeros((mb_h, mb_w), dtype=bool)
    ymodes = np.zeros((mb_h, mb_w), dtype=np.uint8)
    uvmodes = np.zeros((mb_h, mb_w), dtype=np.uint8)
    submodes = [[None] * mb_w for _ in range(mb_h)]

    for y in range(mb_h):
        left_sub = [B_DC] * 4
        for x in range(mb_w):
            if use_seg:
                # tree {2, 4, -0, -1, -2, -3}
                if bd.bool(seg_probs[0]):
                    seg = 2 + bd.bool(seg_probs[2])
                else:
                    seg = bd.bool(seg_probs[1])
                segs[y, x] = seg
            if use_skip:
                skips[y, x] = bool(bd.bool(prob_skip))
            # key-frame ymode tree {-B_PRED, 2, 4, 6, -DC, -V, -H, -TM}
            if not bd.bool(_KF_YMODE_PROBS[0]):
                ymode = B_PRED
            elif not bd.bool(_KF_YMODE_PROBS[1]):
                ymode = DC_PRED if not bd.bool(_KF_YMODE_PROBS[2]) else V_PRED
            else:
                ymode = H_PRED if not bd.bool(_KF_YMODE_PROBS[3]) else TM_PRED
            ymodes[y, x] = ymode
            if ymode == B_PRED:
                subs = [0] * 16
                for n in range(16):
                    r, c = n >> 2, n & 3
                    above = (above_sub[4 * x + c] if r == 0
                             else subs[n - 4])
                    left = left_sub[r] if c == 0 else subs[n - 1]
                    probs = KF_BMODE_PROBS[above][left]
                    # bmode tree (RFC 11.4)
                    if not bd.bool(probs[0]):
                        m = B_DC
                    elif not bd.bool(probs[1]):
                        m = B_TM
                    elif not bd.bool(probs[2]):
                        m = B_VE
                    elif not bd.bool(probs[3]):
                        if not bd.bool(probs[4]):
                            m = B_HE
                        else:
                            m = B_RD if not bd.bool(probs[5]) else B_VR
                    elif not bd.bool(probs[6]):
                        m = B_LD
                    elif not bd.bool(probs[7]):
                        m = B_VL
                    else:
                        m = B_HD if not bd.bool(probs[8]) else B_HU
                    subs[n] = m
                submodes[y][x] = subs
                for c in range(4):
                    above_sub[4 * x + c] = subs[12 + c]
                for r in range(4):
                    left_sub[r] = subs[4 * r + 3]
            else:
                uni = _MODE_TO_SUBMODE[ymode]
                for c in range(4):
                    above_sub[4 * x + c] = uni
                left_sub[0] = left_sub[1] = left_sub[2] = left_sub[3] = uni
            # chroma mode tree {-DC, 2, -V, 4, -H, -TM}
            if not bd.bool(_KF_UVMODE_PROBS[0]):
                uv = DC_PRED
            elif not bd.bool(_KF_UVMODE_PROBS[1]):
                uv = V_PRED
            else:
                uv = H_PRED if not bd.bool(_KF_UVMODE_PROBS[2]) else TM_PRED
            uvmodes[y, x] = uv
    return segs, skips, ymodes, uvmodes, submodes


# ---------------------------------------------------------------------------
# coefficient tokens (RFC 6386 section 13)
# ---------------------------------------------------------------------------

def _decode_coeffs(bd: _Bool, tprobs, i: int, ctx: int):
    """Decode one 4x4 block's coefficients starting at zigzag position
    ``i`` with initial context ``ctx``.  Returns (coeffs[16] in raster
    order, any_nonzero)."""
    coeffs = [0] * 16
    nz = False
    get = bd.bool
    p = tprobs[_BANDS[i]][ctx]
    while True:
        if not get(p[0]):          # DCT_EOB
            break
        # zero run: EOB is not allowed immediately after a ZERO token
        while not get(p[1]):
            i += 1
            if i == 16:
                return coeffs, nz
            p = tprobs[_BANDS[i]][0]
        if not get(p[2]):          # ONE
            v = 1
            nctx = 1
        else:
            nctx = 2
            if not get(p[3]):      # 2, 3, 4
                if not get(p[4]):
                    v = 2
                else:
                    v = 3 if not get(p[5]) else 4
            else:
                if not get(p[6]):
                    cat = 0 if not get(p[7]) else 1
                elif not get(p[8]):
                    cat = 2 if not get(p[9]) else 3
                else:
                    cat = 4 if not get(p[10]) else 5
                v = _CAT_BASE[cat]
                extra = 0
                for pp in _CAT_PROBS[cat]:
                    extra = (extra << 1) | get(pp)
                v += extra
        if get(128):               # sign
            v = -v
        coeffs[_ZIGZAG[i]] = v
        nz = True
        i += 1
        if i == 16:
            break
        p = tprobs[_BANDS[i]][nctx]
    return coeffs, nz


# ---------------------------------------------------------------------------
# inverse transforms (RFC 6386 section 14), exact integer forms
# ---------------------------------------------------------------------------

_C1 = 20091   # cos(pi/8)*sqrt(2) - 1, Q16
_C2 = 35468   # sin(pi/8)*sqrt(2), Q16


def _idct4x4(b):
    """RFC 14.3 exact inverse DCT. ``b`` is a 16-list (raster); returns
    a 16-list (raster) of residuals."""
    t = [0] * 16
    for i in range(4):
        i0, i4, i8, i12 = b[i], b[i + 4], b[i + 8], b[i + 12]
        a1 = i0 + i8
        b1 = i0 - i8
        c1 = ((i4 * _C2) >> 16) - (i12 + ((i12 * _C1) >> 16))
        d1 = (i4 + ((i4 * _C1) >> 16)) + ((i12 * _C2) >> 16)
        t[i] = a1 + d1
        t[i + 12] = a1 - d1
        t[i + 4] = b1 + c1
        t[i + 8] = b1 - c1
    out = [0] * 16
    for r in range(4):
        j = 4 * r
        i0, i1, i2, i3 = t[j], t[j + 1], t[j + 2], t[j + 3]
        a1 = i0 + i2
        b1 = i0 - i2
        c1 = ((i1 * _C2) >> 16) - (i3 + ((i3 * _C1) >> 16))
        d1 = (i1 + ((i1 * _C1) >> 16)) + ((i3 * _C2) >> 16)
        out[j] = (a1 + d1 + 4) >> 3
        out[j + 3] = (a1 - d1 + 4) >> 3
        out[j + 1] = (b1 + c1 + 4) >> 3
        out[j + 2] = (b1 - c1 + 4) >> 3
    return out


def _iwht4x4(b):
    """RFC 14.3 inverse Walsh-Hadamard (Y2 DC block)."""
    t = [0] * 16
    for i in range(4):
        a1 = b[i] + b[i + 12]
        b1 = b[i + 4] + b[i + 8]
        c1 = b[i + 4] - b[i + 8]
        d1 = b[i] - b[i + 12]
        t[i] = a1 + b1
        t[i + 4] = c1 + d1
        t[i + 8] = a1 - b1
        t[i + 12] = d1 - c1
    out = [0] * 16
    for r in range(4):
        j = 4 * r
        a1 = t[j] + t[j + 3]
        b1 = t[j + 1] + t[j + 2]
        c1 = t[j + 1] - t[j + 2]
        d1 = t[j] - t[j + 3]
        out[j] = (a1 + b1 + 3) >> 3
        out[j + 1] = (c1 + d1 + 3) >> 3
        out[j + 2] = (a1 - b1 + 3) >> 3
        out[j + 3] = (d1 - c1 + 3) >> 3
    return out


# ---------------------------------------------------------------------------
# intra prediction (RFC 6386 sections 11.5, 12)
# ---------------------------------------------------------------------------

def _pred_whole(plane, r0, c0, size, mode, have_above, have_left):
    """16x16 / 8x8 whole-block prediction into an int array.  ``plane``
    is the padded buffer (virtual row 0 / col 0); (r0, c0) are padded
    coords of the block's top-left pixel."""
    above = plane[r0 - 1, c0:c0 + size].astype(np.int32)
    left = plane[r0:r0 + size, c0 - 1].astype(np.int32)
    if mode == DC_PRED:
        if have_above and have_left:
            dc = (int(above.sum()) + int(left.sum()) + size) >> _DC_SHIFT[size]
        elif have_above:
            dc = (int(above.sum()) + (size >> 1)) >> _DC_SHIFT_1[size]
        elif have_left:
            dc = (int(left.sum()) + (size >> 1)) >> _DC_SHIFT_1[size]
        else:
            dc = 128
        return np.full((size, size), dc, dtype=np.int32)
    if mode == V_PRED:
        return np.tile(above, (size, 1))
    if mode == H_PRED:
        return np.tile(left[:, None], (1, size))
    # TM_PRED
    corner = int(plane[r0 - 1, c0 - 1])
    return np.clip(left[:, None] + above[None, :] - corner, 0, 255)


_DC_SHIFT = {16: 5, 8: 4}
_DC_SHIFT_1 = {16: 4, 8: 3}


def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _pred4(mode, A, L, P):
    """4x4 submode prediction.  A = 8 above pixels (incl. above-right),
    L = 4 left pixels, P = above-left corner.  Returns 4x4 row-major
    list-of-lists (RFC 6386 section 12.3)."""
    A0, A1, A2, A3, A4, A5, A6, A7 = A
    L0, L1, L2, L3 = L
    if mode == B_DC:
        dc = (A0 + A1 + A2 + A3 + L0 + L1 + L2 + L3 + 4) >> 3
        return [[dc] * 4 for _ in range(4)]
    if mode == B_TM:
        return [[_cl255(L[r] + A[c] - P) for c in range(4)] for r in range(4)]
    if mode == B_VE:
        row = [_avg3(P, A0, A1), _avg3(A0, A1, A2),
               _avg3(A1, A2, A3), _avg3(A2, A3, A4)]
        return [row[:] for _ in range(4)]
    if mode == B_HE:
        vals = [_avg3(P, L0, L1), _avg3(L0, L1, L2),
                _avg3(L1, L2, L3), _avg3(L2, L3, L3)]
        return [[v] * 4 for v in vals]
    if mode == B_LD:
        e = [A0, A1, A2, A3, A4, A5, A6, A7]
        out = [[0] * 4 for _ in range(4)]
        for r in range(4):
            for c in range(4):
                i = r + c
                out[r][c] = (_avg3(e[6], e[7], e[7]) if i == 6
                             else _avg3(e[i], e[i + 1], e[i + 2]))
        return out
    if mode == B_RD:
        e = [L3, L2, L1, L0, P, A0, A1, A2, A3]
        out = [[0] * 4 for _ in range(4)]
        for r in range(4):
            for c in range(4):
                i = 4 + c - r
                out[r][c] = _avg3(e[i - 1], e[i], e[i + 1])
        return out
    if mode == B_VR:
        out = [[0] * 4 for _ in range(4)]
        out[0][0] = out[2][1] = _avg2(P, A0)
        out[0][1] = out[2][2] = _avg2(A0, A1)
        out[0][2] = out[2][3] = _avg2(A1, A2)
        out[0][3] = _avg2(A2, A3)
        out[3][0] = _avg3(L2, L1, L0)
        out[2][0] = _avg3(L1, L0, P)
        out[1][0] = out[3][1] = _avg3(L0, P, A0)
        out[1][1] = out[3][2] = _avg3(P, A0, A1)
        out[1][2] = out[3][3] = _avg3(A0, A1, A2)
        out[1][3] = _avg3(A1, A2, A3)
        return out
    if mode == B_VL:
        out = [[0] * 4 for _ in range(4)]
        out[0][0] = _avg2(A0, A1)
        out[0][1] = out[2][0] = _avg2(A1, A2)
        out[0][2] = out[2][1] = _avg2(A2, A3)
        out[0][3] = out[2][2] = _avg2(A3, A4)
        out[1][0] = _avg3(A0, A1, A2)
        out[1][1] = out[3][0] = _avg3(A1, A2, A3)
        out[1][2] = out[3][1] = _avg3(A2, A3, A4)
        out[1][3] = out[3][2] = _avg3(A3, A4, A5)
        out[2][3] = _avg3(A4, A5, A6)
        out[3][3] = _avg3(A5, A6, A7)
        return out
    if mode == B_HD:
        out = [[0] * 4 for _ in range(4)]
        out[0][0] = out[1][2] = _avg2(L0, P)
        out[1][0] = out[2][2] = _avg2(L1, L0)
        out[2][0] = out[3][2] = _avg2(L2, L1)
        out[3][0] = _avg2(L3, L2)
        out[0][3] = _avg3(A0, A1, A2)
        out[0][2] = _avg3(P, A0, A1)
        out[0][1] = out[1][3] = _avg3(L0, P, A0)
        out[1][1] = out[2][3] = _avg3(P, L0, L1)
        out[2][1] = out[3][3] = _avg3(L0, L1, L2)
        out[3][1] = _avg3(L1, L2, L3)
        return out
    if mode == B_HU:
        out = [[0] * 4 for _ in range(4)]
        out[0][0] = _avg2(L0, L1)
        out[0][1] = _avg3(L0, L1, L2)
        out[0][2] = out[1][0] = _avg2(L1, L2)
        out[0][3] = out[1][1] = _avg3(L1, L2, L3)
        out[1][2] = out[2][0] = _avg2(L2, L3)
        out[1][3] = out[2][1] = _avg3(L2, L3, L3)
        out[2][2] = out[2][3] = L3
        out[3][0] = out[3][1] = out[3][2] = out[3][3] = L3
        return out
    raise ValueError(f"VP8: bad submode {mode}")


def _cl255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


# ---------------------------------------------------------------------------
# frame reconstruction
# ---------------------------------------------------------------------------

def decode_vp8_planes(data: bytes):
    """Decode a VP8 key-frame bitstream (the payload of a WebP 'VP8 '
    chunk) to its exact YUV 4:2:0 reconstruction.

    Returns ``(y, u, v)`` uint8 arrays of shapes (h, w),
    (ceil(h/2), ceil(w/2)) x2 — bit-identical to libwebp's
    ``WebPDecodeYUV`` (interop-pinned in tests/test_codec_vp8.py).
    """
    hdr, bd, parts = _parse_frame_header(data)
    W, H = hdr["width"], hdr["height"]
    mb_w, mb_h = (W + 15) >> 4, (H + 15) >> 4

    segs, skips, ymodes, uvmodes, submodes = _parse_modes(bd, hdr, mb_w, mb_h)

    # padded planes: virtual row 0 (value 127) and col 0 (129);
    # luma gets a 4-px above-right extension on every row.
    yw, yh = mb_w * 16, mb_h * 16
    cw, ch = mb_w * 8, mb_h * 8
    Y = np.empty((yh + 1, yw + 5), dtype=np.int32)
    U = np.empty((ch + 1, cw + 1), dtype=np.int32)
    V = np.empty((ch + 1, cw + 1), dtype=np.int32)
    for pl in (Y, U, V):
        pl[0, :] = 127
        pl[1:, 0] = 129

    coeff_probs = hdr["coeff_probs"]
    dequant = hdr["dequant"]

    # nz contexts: per-MB-column above arrays, per-row left arrays
    above_y_nz = np.zeros((mb_w, 4), dtype=np.int8)
    above_u_nz = np.zeros((mb_w, 2), dtype=np.int8)
    above_v_nz = np.zeros((mb_w, 2), dtype=np.int8)
    above_y2_nz = np.zeros(mb_w, dtype=np.int8)

    has_coeffs = np.zeros((mb_h, mb_w), dtype=bool)

    for mby in range(mb_h):
        tbd = parts[mby % len(parts)]
        left_y_nz = [0, 0, 0, 0]
        left_u_nz = [0, 0]
        left_v_nz = [0, 0]
        left_y2_nz = 0
        # luma above-right replication for the rightmost MB (rows > 0):
        # the 4 extension pixels of the MB-above boundary row take the
        # last real pixel's value (libwebp replicates top_yuv.y[15]).
        if mby > 0:
            r = 16 * mby
            Y[r, yw + 1:yw + 5] = Y[r, yw]
        for mbx in range(mb_w):
            seg = int(segs[mby, mbx])
            ymode = int(ymodes[mby, mbx])
            has_y2 = ymode != B_PRED
            q = dequant[seg]
            tp = coeff_probs

            blocks_y = None
            blocks_uv = None
            mb_nz = False
            if skips[mby, mbx]:
                # no tokens: zero contexts (Y2 context only if present)
                above_y_nz[mbx, :] = 0
                above_u_nz[mbx, :] = 0
                above_v_nz[mbx, :] = 0
                left_y_nz[0] = left_y_nz[1] = left_y_nz[2] = left_y_nz[3] = 0
                left_u_nz[0] = left_u_nz[1] = 0
                left_v_nz[0] = left_v_nz[1] = 0
                if has_y2:
                    above_y2_nz[mbx] = 0
                    left_y2_nz = 0
            else:
                y_first = 0
                dc_from_y2 = None
                if has_y2:
                    ctx = int(above_y2_nz[mbx]) + left_y2_nz
                    c2, nz2 = _decode_coeffs(tbd, tp[1], 0, ctx)
                    above_y2_nz[mbx] = left_y2_nz = int(nz2)
                    mb_nz |= nz2
                    dq = [c2[k] * (q[2] if k == 0 else q[3])
                          for k in range(16)]
                    dc_from_y2 = _iwht4x4(dq)
                    y_first = 1
                    ytype = 0
                else:
                    ytype = 3
                # 16 luma blocks
                blocks_y = []
                ydc, yac = q[0], q[1]
                local_nz = [[0] * 4 for _ in range(4)]
                for n in range(16):
                    r, c = n >> 2, n & 3
                    ctx = ((int(above_y_nz[mbx, c]) if r == 0
                            else local_nz[r - 1][c])
                           + (left_y_nz[r] if c == 0 else local_nz[r][c - 1]))
                    coeffs, nzb = _decode_coeffs(tbd, tp[ytype], y_first, ctx)
                    local_nz[r][c] = int(nzb)
                    mb_nz |= nzb
                    dq = [coeffs[k] * (ydc if k == 0 else yac)
                          for k in range(16)]
                    if dc_from_y2 is not None:
                        dq[0] = dc_from_y2[n]
                    blocks_y.append(dq)
                for c in range(4):
                    above_y_nz[mbx, c] = local_nz[3][c]
                for r in range(4):
                    left_y_nz[r] = local_nz[r][3]
                # 4 U + 4 V blocks
                blocks_uv = []
                uvdc, uvac = q[4], q[5]
                for plane_i, (above_nz, left_nz) in enumerate(
                        ((above_u_nz, left_u_nz), (above_v_nz, left_v_nz))):
                    loc = [[0, 0], [0, 0]]
                    for n in range(4):
                        r, c = n >> 1, n & 1
                        ctx = ((int(above_nz[mbx, c]) if r == 0
                                else loc[r - 1][c])
                               + (left_nz[r] if c == 0 else loc[r][c - 1]))
                        coeffs, nzb = _decode_coeffs(tbd, tp[2], 0, ctx)
                        loc[r][c] = int(nzb)
                        mb_nz |= nzb
                        blocks_uv.append(
                            [coeffs[k] * (uvdc if k == 0 else uvac)
                             for k in range(16)])
                    above_nz[mbx, 0] = loc[1][0]
                    above_nz[mbx, 1] = loc[1][1]
                    left_nz[0] = loc[0][1]
                    left_nz[1] = loc[1][1]
                if has_y2 and dc_from_y2 is not None and any(dc_from_y2):
                    mb_nz = True
            has_coeffs[mby, mbx] = mb_nz

            _reconstruct_mb(
                Y, U, V, mbx, mby, ymode, int(uvmodes[mby, mbx]),
                submodes[mby][mbx], blocks_y, blocks_uv, yw,
                mb_w,
            )

    _loop_filter(Y, U, V, hdr, segs, skips, ymodes, has_coeffs,
                 mb_w, mb_h)

    y = Y[1:H + 1, 1:W + 1].astype(np.uint8)
    u = U[1:(H + 1) // 2 + 1, 1:(W + 1) // 2 + 1].astype(np.uint8)
    v = V[1:(H + 1) // 2 + 1, 1:(W + 1) // 2 + 1].astype(np.uint8)
    return y, u, v


def _reconstruct_mb(Y, U, V, mbx, mby, ymode, uvmode, subs,
                    blocks_y, blocks_uv, yw, mb_w):
    """Predict + add residuals for one MB (padded-plane coords)."""
    r0, c0 = 16 * mby + 1, 16 * mbx + 1
    have_above, have_left = mby > 0, mbx > 0
    if ymode == B_PRED:
        # MB-level above-right four pixels (used by every right-column
        # subblock, per the spec's quirk)
        ar_row = Y[r0 - 1]
        mb_ar = [int(ar_row[c0 + 16]), int(ar_row[c0 + 17]),
                 int(ar_row[c0 + 18]), int(ar_row[c0 + 19])]
        for n in range(16):
            sr, sc = (n >> 2) * 4, (n & 3) * 4
            rr, cc = r0 + sr, c0 + sc
            row_above = Y[rr - 1]
            if (n & 3) == 3:
                A = [int(row_above[cc]), int(row_above[cc + 1]),
                     int(row_above[cc + 2]), int(row_above[cc + 3])] + mb_ar
            else:
                A = [int(row_above[cc + k]) for k in range(8)]
            L = [int(Y[rr + k, cc - 1]) for k in range(4)]
            P = int(row_above[cc - 1])
            pred = _pred4(subs[n], A, L, P)
            res = _idct4x4(blocks_y[n]) if blocks_y is not None else None
            for r in range(4):
                prow = pred[r]
                if res is None:
                    Y[rr + r, cc:cc + 4] = prow
                else:
                    j = 4 * r
                    Y[rr + r, cc] = _cl255(prow[0] + res[j])
                    Y[rr + r, cc + 1] = _cl255(prow[1] + res[j + 1])
                    Y[rr + r, cc + 2] = _cl255(prow[2] + res[j + 2])
                    Y[rr + r, cc + 3] = _cl255(prow[3] + res[j + 3])
    else:
        pred = _pred_whole(Y, r0, c0, 16, ymode, have_above, have_left)
        if blocks_y is not None:
            for n in range(16):
                sr, sc = (n >> 2) * 4, (n & 3) * 4
                res = _idct4x4(blocks_y[n])
                blk = pred[sr:sr + 4, sc:sc + 4]
                blk += np.asarray(res, dtype=np.int32).reshape(4, 4)
            np.clip(pred, 0, 255, out=pred)
        Y[r0:r0 + 16, c0:c0 + 16] = pred

    # chroma
    r0, c0 = 8 * mby + 1, 8 * mbx + 1
    for pi, PL in enumerate((U, V)):
        pred = _pred_whole(PL, r0, c0, 8, uvmode, have_above, have_left)
        if blocks_uv is not None:
            for n in range(4):
                sr, sc = (n >> 1) * 4, (n & 1) * 4
                res = _idct4x4(blocks_uv[4 * pi + n])
                blk = pred[sr:sr + 4, sc:sc + 4]
                blk += np.asarray(res, dtype=np.int32).reshape(4, 4)
            np.clip(pred, 0, 255, out=pred)
        PL[r0:r0 + 8, c0:c0 + 8] = pred


# ---------------------------------------------------------------------------
# loop filter (RFC 6386 section 15)
# ---------------------------------------------------------------------------

def _s8(v):
    return np.clip(v, -128, 127)


def _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim):
    return ((np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= elim)
            & (np.abs(p3 - p2) <= ilim) & (np.abs(p2 - p1) <= ilim)
            & (np.abs(p1 - p0) <= ilim) & (np.abs(q1 - q0) <= ilim)
            & (np.abs(q2 - q1) <= ilim) & (np.abs(q3 - q2) <= ilim))


def _common_adjust(use_outer, p1, p0, q0, q1):
    """RFC 15.3 common adjustment on signed (-128..127) values; mutates
    p0/q0 in place via returned arrays.  Returns (new_p0, new_q0, F)."""
    a = _s8(np.where(use_outer, _s8(p1 - q1), 0) + 3 * (q0 - p0))
    F = _s8(a + 4) >> 3
    E = _s8(a + 3) >> 3
    return _s8(p0 + E), _s8(q0 - F), F


def _filter_edge(plane, span, pos, horizontal, ilim, elim,
                 hev_t, mb_edge):
    """Filter one edge: 8 pixel positions across, vectorized along the
    edge.  ``span`` = (lo, hi) along the edge; ``pos`` = the crossing
    coordinate (first q row/column); values are adjusted in the signed
    domain then written back."""
    # gather p3..p0, q0..q3
    if horizontal:
        seg = plane[pos - 4:pos + 4, span[0]:span[1]]
        px = [seg[k].astype(np.int32) - 128 for k in range(8)]
    else:
        seg = plane[span[0]:span[1], pos - 4:pos + 4]
        px = [seg[:, k].astype(np.int32) - 128 for k in range(8)]
    p3, p2, p1, p0, q0, q1, q2, q3 = px
    mask = _filter_mask(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim)
    if not mask.any():
        return
    hev = (np.abs(p1 - p0) > hev_t) | (np.abs(q1 - q0) > hev_t)
    if mb_edge:
        # macroblock edge filter (RFC 15.3): wide adjustment when !hev
        w = _s8(_s8(p1 - q1) + 3 * (q0 - p0))
        a27 = _s8((27 * w + 63) >> 7)
        a18 = _s8((18 * w + 63) >> 7)
        a9 = _s8((9 * w + 63) >> 7)
        np0, nq0, _ = _common_adjust(True, p1, p0, q0, q1)
        wide = mask & ~hev
        narrow = mask & hev
        p0n = np.where(narrow, np0, np.where(wide, _s8(p0 + a27), p0))
        q0n = np.where(narrow, nq0, np.where(wide, _s8(q0 - a27), q0))
        p1n = np.where(wide, _s8(p1 + a18), p1)
        q1n = np.where(wide, _s8(q1 - a18), q1)
        p2n = np.where(wide, _s8(p2 + a9), p2)
        q2n = np.where(wide, _s8(q2 - a9), q2)
        out = (p2n, p1n, p0n, q0n, q1n, q2n)
        idx = (1, 2, 3, 4, 5, 6)
    else:
        np0, nq0, F = _common_adjust(hev, p1, p0, q0, q1)
        # hev taps only p0/q0 via outer form; non-hev also nudges p1/q1
        a = _s8(F + 1) >> 1
        p1n = np.where(mask & ~hev, _s8(p1 + a), p1)
        q1n = np.where(mask & ~hev, _s8(q1 - a), q1)
        p0n = np.where(mask, np0, p0)
        q0n = np.where(mask, nq0, q0)
        out = (p1n, p0n, q0n, q1n)
        idx = (2, 3, 4, 5)
    if horizontal:
        for k, arr in zip(idx, out):
            plane[pos - 4 + k, span[0]:span[1]] = arr + 128
    else:
        for k, arr in zip(idx, out):
            plane[span[0]:span[1], pos - 4 + k] = arr + 128


def _filter_edge_simple(plane, rows, col_or_row, horizontal, elim):
    """Simple loop filter (RFC 15.1): luma only, p1..q1 taps."""
    if horizontal:
        seg = plane[col_or_row - 2:col_or_row + 2, rows[0]:rows[1]]
        px = [seg[k].astype(np.int32) - 128 for k in range(4)]
    else:
        seg = plane[rows[0]:rows[1], col_or_row - 2:col_or_row + 2]
        px = [seg[:, k].astype(np.int32) - 128 for k in range(4)]
    p1, p0, q0, q1 = px
    mask = (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1)) <= elim
    if not mask.any():
        return
    np0, nq0, _ = _common_adjust(True, p1, p0, q0, q1)
    p0n = np.where(mask, np0, p0)
    q0n = np.where(mask, nq0, q0)
    if horizontal:
        plane[col_or_row - 1, rows[0]:rows[1]] = p0n + 128
        plane[col_or_row, rows[0]:rows[1]] = q0n + 128
    else:
        plane[rows[0]:rows[1], col_or_row - 1] = p0n + 128
        plane[rows[0]:rows[1], col_or_row] = q0n + 128


def _loop_filter(Y, U, V, hdr, segs, skips, ymodes, has_coeffs,
                 mb_w, mb_h):
    base = hdr["filter_level"]
    if base == 0:
        return
    sharp = hdr["filter_sharpness"]
    simple = hdr["filter_simple"]

    # per-segment base levels
    seg_levels = []
    for s in range(4):
        lv = base
        if hdr["seg_enabled"]:
            lv = hdr["seg_lf"][s] if hdr["seg_abs"] else base + hdr["seg_lf"][s]
        seg_levels.append(max(0, min(63, lv)))

    ref_d = hdr["ref_lf_delta"][0] if hdr["lf_delta_enabled"] else 0
    mode_d = hdr["mode_lf_delta"][0] if hdr["lf_delta_enabled"] else 0

    for mby in range(mb_h):
        for mbx in range(mb_w):
            lv = seg_levels[int(segs[mby, mbx])]
            is_b = int(ymodes[mby, mbx]) == B_PRED
            if hdr["lf_delta_enabled"]:
                lv += ref_d          # all WebP-still MBs are INTRA_FRAME
                if is_b:
                    lv += mode_d
                lv = max(0, min(63, lv))
            if lv == 0:
                continue
            ilim = lv
            if sharp:
                ilim >>= 2 if sharp > 4 else 1
                if ilim > 9 - sharp:
                    ilim = 9 - sharp
            if ilim < 1:
                ilim = 1
            hev_t = 2 if lv >= 40 else (1 if lv >= 15 else 0)
            mb_lim = ((lv + 2) * 2) + ilim
            sb_lim = (lv * 2) + ilim
            inner = bool(has_coeffs[mby, mbx]) or is_b

            yr0, yc0 = 16 * mby + 1, 16 * mbx + 1
            cr0, cc0 = 8 * mby + 1, 8 * mbx + 1
            if simple:
                if mbx > 0:
                    _filter_edge_simple(Y, (yr0, yr0 + 16), yc0, False, mb_lim)
                if inner:
                    for k in (4, 8, 12):
                        _filter_edge_simple(Y, (yr0, yr0 + 16), yc0 + k,
                                            False, sb_lim)
                if mby > 0:
                    _filter_edge_simple(Y, (yc0, yc0 + 16), yr0, True, mb_lim)
                if inner:
                    for k in (4, 8, 12):
                        _filter_edge_simple(Y, (yc0, yc0 + 16), yr0 + k,
                                            True, sb_lim)
                continue
            if mbx > 0:
                _filter_edge(Y, (yr0, yr0 + 16), yc0, False,
                             ilim, mb_lim, hev_t, True)
                _filter_edge(U, (cr0, cr0 + 8), cc0, False,
                             ilim, mb_lim, hev_t, True)
                _filter_edge(V, (cr0, cr0 + 8), cc0, False,
                             ilim, mb_lim, hev_t, True)
            if inner:
                for k in (4, 8, 12):
                    _filter_edge(Y, (yr0, yr0 + 16), yc0 + k, False,
                                 ilim, sb_lim, hev_t, False)
                _filter_edge(U, (cr0, cr0 + 8), cc0 + 4, False,
                             ilim, sb_lim, hev_t, False)
                _filter_edge(V, (cr0, cr0 + 8), cc0 + 4, False,
                             ilim, sb_lim, hev_t, False)
            if mby > 0:
                _filter_edge(Y, (yc0, yc0 + 16), yr0, True,
                             ilim, mb_lim, hev_t, True)
                _filter_edge(U, (cc0, cc0 + 8), cr0, True,
                             ilim, mb_lim, hev_t, True)
                _filter_edge(V, (cc0, cc0 + 8), cr0, True,
                             ilim, mb_lim, hev_t, True)
            if inner:
                for k in (4, 8, 12):
                    _filter_edge(Y, (yc0, yc0 + 16), yr0 + k, True,
                                 ilim, sb_lim, hev_t, False)
                _filter_edge(U, (cc0, cc0 + 8), cr0 + 4, True,
                             ilim, sb_lim, hev_t, False)
                _filter_edge(V, (cc0, cc0 + 8), cr0 + 4, True,
                             ilim, sb_lim, hev_t, False)


# ---------------------------------------------------------------------------
# YUV 4:2:0 -> RGBA (libwebp-compatible fancy upsampler + conversion)
# ---------------------------------------------------------------------------

def _yuv_to_rgb(y, u, v):
    """libwebp's fixed-point YUV->RGB (dsp/yuv.h semantics): scaled
    multiplies >> 8, bias, final >> 6 with clamp."""
    y = y.astype(np.int32)
    u = u.astype(np.int32)
    v = v.astype(np.int32)
    yy = (y * 19077) >> 8
    r = yy + ((v * 26149) >> 8) - 14234
    g = yy - ((u * 6419) >> 8) - ((v * 13320) >> 8) + 8708
    b = yy + ((u * 33050) >> 8) - 17685
    out = np.stack([r, g, b], axis=-1) >> 6
    return np.clip(out, 0, 255).astype(np.uint8)


def _upsample_row_pair(cj, cj1, w):
    """Fancy-upsample one chroma row pair to two full-width rows, per
    channel (libwebp upsampling.c integer semantics)."""
    cj = cj.astype(np.int32)
    cj1 = cj1.astype(np.int32)
    top = np.empty(w, dtype=np.int32)
    bot = np.empty(w, dtype=np.int32)
    top[0] = (3 * cj[0] + cj1[0] + 2) >> 2
    bot[0] = (3 * cj1[0] + cj[0] + 2) >> 2
    if w > 1:
        tl, t = cj[:-1], cj[1:]
        l, cur = cj1[:-1], cj1[1:]
        avg = tl + t + l + cur + 8
        diag12 = (avg + 2 * (t + l)) >> 3
        diag03 = (avg + 2 * (tl + cur)) >> 3
        n = len(t)                      # number of pixel pairs
        top_pairs_a = (diag12 + tl) >> 1
        top_pairs_b = (diag03 + t) >> 1
        bot_pairs_a = (diag03 + l) >> 1
        bot_pairs_b = (diag12 + cur) >> 1
        end = min(1 + 2 * n, w)
        top[1:end:2] = top_pairs_a[:(end - 1 + 1) // 2]
        bot[1:end:2] = bot_pairs_a[:(end - 1 + 1) // 2]
        if end > 2:
            top[2:end:2] = top_pairs_b[:(end - 2) // 2 + (end % 2 == 1)]
            bot[2:end:2] = bot_pairs_b[:(end - 2) // 2 + (end % 2 == 1)]
        if w % 2 == 0:
            top[w - 1] = (3 * cj[-1] + cj1[-1] + 2) >> 2
            bot[w - 1] = (3 * cj1[-1] + cj[-1] + 2) >> 2
    return top, bot


def _fancy_upsample(c, w, h):
    """Upsample a chroma plane ((h+1)//2, (w+1)//2) to (h, w) with
    libwebp's fancy upsampler."""
    uv_h = (h + 1) >> 1
    out = np.empty((h, w), dtype=np.int32)
    # row 0: duplicated chroma row pair -> pure horizontal blend
    top, _ = _upsample_row_pair(c[0], c[0], w)
    out[0] = top
    for j in range(uv_h - 1):
        top, bot = _upsample_row_pair(c[j], c[j + 1], w)
        if 2 * j + 1 < h:
            out[2 * j + 1] = top
        if 2 * j + 2 < h:
            out[2 * j + 2] = bot
    if h % 2 == 0 and h >= 2:
        # last row: duplicated final chroma row
        _, bot = _upsample_row_pair(c[uv_h - 1], c[uv_h - 1], w)
        out[h - 1] = bot
    return out


def decode_vp8_rgba(data: bytes) -> np.ndarray:
    """Decode a VP8 key frame to uint8 (H, W, 4) RGBA, matching
    libwebp's default RGBA output (fancy upsampling) byte-exactly."""
    y, u, v = decode_vp8_planes(data)
    h, w = y.shape
    uf = _fancy_upsample(u, w, h)
    vf = _fancy_upsample(v, w, h)
    rgb = _yuv_to_rgb(y, uf, vf)
    out = np.empty((h, w, 4), dtype=np.uint8)
    out[:, :, :3] = rgb
    out[:, :, 3] = 255
    return out

# ---------------------------------------------------------------------------
# large spec tables, lifted from the system libwebp.so.7 data section
# (verified-unique offsets; tests re-extract and assert equality):
#   dc/ac quantizer lookups (RFC 6386 14.1), default coefficient
#   probabilities (13.5), coefficient update probabilities (13.4),
#   key-frame B-mode probabilities (11.4)
# ---------------------------------------------------------------------------

DC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17,
    18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28,
    29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43,
    44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58,
    59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74,
    75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89,
    91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114, 116, 118,
    122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143, 145, 148, 151, 154, 157,
)

AC_QLOOKUP = (
    4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19,
    20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35,
    36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 47, 48, 49, 50, 51,
    52, 53, 54, 55, 56, 57, 58, 60, 62, 64, 66, 68, 70, 72, 74, 76,
    78, 80, 82, 84, 86, 88, 90, 92, 94, 96, 98, 100, 102, 104, 106, 108,
    110, 112, 114, 116, 119, 122, 125, 128, 131, 134, 137, 140, 143, 146, 149, 152,
    155, 158, 161, 164, 167, 170, 173, 177, 181, 185, 189, 193, 197, 201, 205, 209,
    213, 217, 221, 225, 229, 234, 239, 245, 249, 254, 259, 264, 269, 274, 279, 284,
)

COEFF_PROBS = (
    (  # block type 0
        ((128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((253, 136, 254, 255, 228, 219, 128, 128, 128, 128, 128),
         (189, 129, 242, 255, 227, 213, 255, 219, 128, 128, 128),
         (106, 126, 227, 252, 214, 209, 255, 255, 128, 128, 128)),
        ((1, 98, 248, 255, 236, 226, 255, 255, 128, 128, 128),
         (181, 133, 238, 254, 221, 234, 255, 154, 128, 128, 128),
         (78, 134, 202, 247, 198, 180, 255, 219, 128, 128, 128)),
        ((1, 185, 249, 255, 243, 255, 128, 128, 128, 128, 128),
         (184, 150, 247, 255, 236, 224, 128, 128, 128, 128, 128),
         (77, 110, 216, 255, 236, 230, 128, 128, 128, 128, 128)),
        ((1, 101, 251, 255, 241, 255, 128, 128, 128, 128, 128),
         (170, 139, 241, 252, 236, 209, 255, 255, 128, 128, 128),
         (37, 116, 196, 243, 228, 255, 255, 255, 128, 128, 128)),
        ((1, 204, 254, 255, 245, 255, 128, 128, 128, 128, 128),
         (207, 160, 250, 255, 238, 128, 128, 128, 128, 128, 128),
         (102, 103, 231, 255, 211, 171, 128, 128, 128, 128, 128)),
        ((1, 152, 252, 255, 240, 255, 128, 128, 128, 128, 128),
         (177, 135, 243, 255, 234, 225, 128, 128, 128, 128, 128),
         (80, 129, 211, 255, 194, 224, 128, 128, 128, 128, 128)),
        ((1, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (246, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (255, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128)),
    ),
    (  # block type 1
        ((198, 35, 237, 223, 193, 187, 162, 160, 145, 155, 62),
         (131, 45, 198, 221, 172, 176, 220, 157, 252, 221, 1),
         (68, 47, 146, 208, 149, 167, 221, 162, 255, 223, 128)),
        ((1, 149, 241, 255, 221, 224, 255, 255, 128, 128, 128),
         (184, 141, 234, 253, 222, 220, 255, 199, 128, 128, 128),
         (81, 99, 181, 242, 176, 190, 249, 202, 255, 255, 128)),
        ((1, 129, 232, 253, 214, 197, 242, 196, 255, 255, 128),
         (99, 121, 210, 250, 201, 198, 255, 202, 128, 128, 128),
         (23, 91, 163, 242, 170, 187, 247, 210, 255, 255, 128)),
        ((1, 200, 246, 255, 234, 255, 128, 128, 128, 128, 128),
         (109, 178, 241, 255, 231, 245, 255, 255, 128, 128, 128),
         (44, 130, 201, 253, 205, 192, 255, 255, 128, 128, 128)),
        ((1, 132, 239, 251, 219, 209, 255, 165, 128, 128, 128),
         (94, 136, 225, 251, 218, 190, 255, 255, 128, 128, 128),
         (22, 100, 174, 245, 186, 161, 255, 199, 128, 128, 128)),
        ((1, 182, 249, 255, 232, 235, 128, 128, 128, 128, 128),
         (124, 143, 241, 255, 227, 234, 128, 128, 128, 128, 128),
         (35, 77, 181, 251, 193, 211, 255, 205, 128, 128, 128)),
        ((1, 157, 247, 255, 236, 231, 255, 255, 128, 128, 128),
         (121, 141, 235, 255, 225, 227, 255, 255, 128, 128, 128),
         (45, 99, 188, 251, 195, 217, 255, 224, 128, 128, 128)),
        ((1, 1, 251, 255, 213, 255, 128, 128, 128, 128, 128),
         (203, 1, 248, 255, 255, 128, 128, 128, 128, 128, 128),
         (137, 1, 177, 255, 224, 255, 128, 128, 128, 128, 128)),
    ),
    (  # block type 2
        ((253, 9, 248, 251, 207, 208, 255, 192, 128, 128, 128),
         (175, 13, 224, 243, 193, 185, 249, 198, 255, 255, 128),
         (73, 17, 171, 221, 161, 179, 236, 167, 255, 234, 128)),
        ((1, 95, 247, 253, 212, 183, 255, 255, 128, 128, 128),
         (239, 90, 244, 250, 211, 209, 255, 255, 128, 128, 128),
         (155, 77, 195, 248, 188, 195, 255, 255, 128, 128, 128)),
        ((1, 24, 239, 251, 218, 219, 255, 205, 128, 128, 128),
         (201, 51, 219, 255, 196, 186, 128, 128, 128, 128, 128),
         (69, 46, 190, 239, 201, 218, 255, 228, 128, 128, 128)),
        ((1, 191, 251, 255, 255, 128, 128, 128, 128, 128, 128),
         (223, 165, 249, 255, 213, 255, 128, 128, 128, 128, 128),
         (141, 124, 248, 255, 255, 128, 128, 128, 128, 128, 128)),
        ((1, 16, 248, 255, 255, 128, 128, 128, 128, 128, 128),
         (190, 36, 230, 255, 236, 255, 128, 128, 128, 128, 128),
         (149, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((1, 226, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (247, 192, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (240, 128, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((1, 134, 252, 255, 255, 128, 128, 128, 128, 128, 128),
         (213, 62, 250, 255, 255, 128, 128, 128, 128, 128, 128),
         (55, 93, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
        ((128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128),
         (128, 128, 128, 128, 128, 128, 128, 128, 128, 128, 128)),
    ),
    (  # block type 3
        ((202, 24, 213, 235, 186, 191, 220, 160, 240, 175, 255),
         (126, 38, 182, 232, 169, 184, 228, 174, 255, 187, 128),
         (61, 46, 138, 219, 151, 178, 240, 170, 255, 216, 128)),
        ((1, 112, 230, 250, 199, 191, 247, 159, 255, 255, 128),
         (166, 109, 228, 252, 211, 215, 255, 174, 128, 128, 128),
         (39, 77, 162, 232, 172, 180, 245, 178, 255, 255, 128)),
        ((1, 52, 220, 246, 198, 199, 249, 220, 255, 255, 128),
         (124, 74, 191, 243, 183, 193, 250, 221, 255, 255, 128),
         (24, 71, 130, 219, 154, 170, 243, 182, 255, 255, 128)),
        ((1, 182, 225, 249, 219, 240, 255, 224, 128, 128, 128),
         (149, 150, 226, 252, 216, 205, 255, 171, 128, 128, 128),
         (28, 108, 170, 242, 183, 194, 254, 223, 255, 255, 128)),
        ((1, 81, 230, 252, 204, 203, 255, 192, 128, 128, 128),
         (123, 102, 209, 247, 188, 196, 255, 233, 128, 128, 128),
         (20, 95, 153, 243, 164, 173, 255, 203, 128, 128, 128)),
        ((1, 222, 248, 255, 216, 213, 128, 128, 128, 128, 128),
         (168, 175, 246, 252, 235, 205, 255, 255, 128, 128, 128),
         (47, 116, 215, 255, 211, 212, 255, 255, 128, 128, 128)),
        ((1, 121, 236, 253, 212, 214, 255, 255, 128, 128, 128),
         (141, 84, 213, 252, 201, 202, 255, 219, 128, 128, 128),
         (42, 80, 160, 240, 162, 185, 255, 205, 128, 128, 128)),
        ((1, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (244, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128),
         (238, 1, 255, 128, 128, 128, 128, 128, 128, 128, 128)),
    ),
)

# Key-frame B-mode probabilities, indexed [above_mode][left_mode] in
# RFC 6386 enum order (B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL,
# B_HD, B_HU).  libwebp stores the same table with its own enum order
# (B_RD=4, B_VR=5, B_LD=6); the lift permutes both axes through
# (0,1,2,3,6,4,5,7,8,9) to convert.  The 9 per-row probabilities line
# up with the (shape-identical) RFC bmode tree nodes unchanged.
KF_BMODE_PROBS = (
    (
        (231, 120, 48, 89, 115, 113, 120, 152, 112),
        (152, 179, 64, 126, 170, 118, 46, 70, 95),
        (175, 69, 143, 80, 85, 82, 72, 155, 103),
        (56, 58, 10, 171, 218, 189, 17, 13, 152),
        (144, 71, 10, 38, 171, 213, 144, 34, 26),
        (114, 26, 17, 163, 44, 195, 21, 10, 173),
        (121, 24, 80, 195, 26, 62, 44, 64, 85),
        (170, 46, 55, 19, 136, 160, 33, 206, 71),
        (63, 20, 8, 114, 114, 208, 12, 9, 226),
        (81, 40, 11, 96, 182, 84, 29, 16, 36),
    ),
    (
        (134, 183, 89, 137, 98, 101, 106, 165, 148),
        (72, 187, 100, 130, 157, 111, 32, 75, 80),
        (66, 102, 167, 99, 74, 62, 40, 234, 128),
        (41, 53, 9, 178, 241, 141, 26, 8, 107),
        (104, 79, 12, 27, 217, 255, 87, 17, 7),
        (74, 43, 26, 146, 73, 166, 49, 23, 157),
        (65, 38, 105, 160, 51, 52, 31, 115, 128),
        (87, 68, 71, 44, 114, 51, 15, 186, 23),
        (47, 41, 14, 110, 182, 183, 21, 17, 194),
        (66, 45, 25, 102, 197, 189, 23, 18, 22),
    ),
    (
        (88, 88, 147, 150, 42, 46, 45, 196, 205),
        (43, 97, 183, 117, 85, 38, 35, 179, 61),
        (39, 53, 200, 87, 26, 21, 43, 232, 171),
        (56, 34, 51, 104, 114, 102, 29, 93, 77),
        (107, 54, 32, 26, 51, 1, 81, 43, 31),
        (39, 28, 85, 171, 58, 165, 90, 98, 64),
        (34, 22, 116, 206, 23, 34, 43, 166, 73),
        (68, 25, 106, 22, 64, 171, 36, 225, 114),
        (34, 19, 21, 102, 132, 188, 16, 76, 124),
        (62, 18, 78, 95, 85, 57, 50, 48, 51),
    ),
    (
        (193, 101, 35, 159, 215, 111, 89, 46, 111),
        (60, 148, 31, 172, 219, 228, 21, 18, 111),
        (112, 113, 77, 85, 179, 255, 38, 120, 114),
        (40, 42, 1, 196, 245, 209, 10, 25, 109),
        (100, 80, 8, 43, 154, 1, 51, 26, 71),
        (88, 43, 29, 140, 166, 213, 37, 43, 154),
        (61, 63, 30, 155, 67, 45, 68, 1, 209),
        (142, 78, 78, 16, 255, 128, 34, 197, 171),
        (41, 40, 5, 102, 211, 183, 4, 1, 221),
        (51, 50, 17, 168, 209, 192, 23, 25, 82),
    ),
    (
        (125, 98, 42, 88, 104, 85, 117, 175, 82),
        (95, 84, 53, 89, 128, 100, 113, 101, 45),
        (75, 79, 123, 47, 51, 128, 81, 171, 1),
        (57, 17, 5, 71, 102, 57, 53, 41, 49),
        (115, 21, 2, 10, 102, 255, 166, 23, 6),
        (38, 33, 13, 121, 57, 73, 26, 1, 85),
        (41, 10, 67, 138, 77, 110, 90, 47, 114),
        (101, 29, 16, 10, 85, 128, 101, 196, 26),
        (57, 18, 10, 102, 102, 213, 34, 20, 43),
        (117, 20, 15, 36, 163, 128, 68, 1, 26),
    ),
    (
        (138, 31, 36, 171, 27, 166, 38, 44, 229),
        (67, 87, 58, 169, 82, 115, 26, 59, 179),
        (63, 59, 90, 180, 59, 166, 93, 73, 154),
        (40, 40, 21, 116, 143, 209, 34, 39, 175),
        (57, 46, 22, 24, 128, 1, 54, 17, 37),
        (47, 15, 16, 183, 34, 223, 49, 45, 183),
        (46, 17, 33, 183, 6, 98, 15, 32, 183),
        (65, 32, 73, 115, 28, 128, 23, 128, 205),
        (40, 3, 9, 115, 51, 192, 18, 6, 223),
        (87, 37, 9, 115, 59, 77, 64, 21, 47),
    ),
    (
        (104, 55, 44, 218, 9, 54, 53, 130, 226),
        (64, 90, 70, 205, 40, 41, 23, 26, 57),
        (54, 57, 112, 184, 5, 41, 38, 166, 213),
        (30, 34, 26, 133, 152, 116, 10, 32, 134),
        (75, 32, 12, 51, 192, 255, 160, 43, 51),
        (39, 19, 53, 221, 26, 114, 32, 73, 255),
        (31, 9, 65, 234, 2, 15, 1, 118, 73),
        (88, 31, 35, 67, 102, 85, 55, 186, 85),
        (56, 21, 23, 111, 59, 205, 45, 37, 192),
        (55, 38, 70, 124, 73, 102, 1, 34, 98),
    ),
    (
        (102, 61, 71, 37, 34, 53, 31, 243, 192),
        (69, 60, 71, 38, 73, 119, 28, 222, 37),
        (68, 45, 128, 34, 1, 47, 11, 245, 171),
        (62, 17, 19, 70, 146, 85, 55, 62, 70),
        (75, 15, 9, 9, 64, 255, 184, 119, 16),
        (37, 43, 37, 154, 100, 163, 85, 160, 1),
        (63, 9, 92, 136, 28, 64, 32, 201, 85),
        (86, 6, 28, 5, 64, 255, 25, 248, 1),
        (56, 8, 17, 132, 137, 255, 55, 116, 128),
        (58, 15, 20, 82, 135, 57, 26, 121, 40),
    ),
    (
        (164, 50, 31, 137, 154, 133, 25, 35, 218),
        (51, 103, 44, 131, 131, 123, 31, 6, 158),
        (86, 40, 64, 135, 148, 224, 45, 183, 128),
        (22, 26, 17, 131, 240, 154, 14, 1, 209),
        (83, 12, 13, 54, 192, 255, 68, 47, 28),
        (45, 16, 21, 91, 64, 222, 7, 1, 197),
        (56, 21, 39, 155, 60, 138, 23, 102, 213),
        (85, 26, 85, 85, 128, 128, 32, 146, 171),
        (18, 11, 7, 63, 144, 171, 4, 4, 246),
        (35, 27, 10, 146, 174, 171, 12, 26, 128),
    ),
    (
        (190, 80, 35, 99, 180, 80, 126, 54, 45),
        (85, 126, 47, 87, 176, 51, 41, 20, 32),
        (101, 75, 128, 139, 118, 146, 116, 128, 85),
        (56, 41, 15, 176, 236, 85, 37, 9, 62),
        (146, 36, 19, 30, 171, 255, 97, 27, 20),
        (71, 30, 17, 119, 118, 255, 17, 18, 138),
        (101, 38, 60, 138, 55, 70, 43, 26, 142),
        (138, 45, 61, 62, 219, 1, 81, 188, 64),
        (32, 41, 20, 117, 151, 142, 20, 21, 163),
        (112, 19, 12, 61, 195, 128, 48, 4, 24),
    ),
)

COEFF_UPDATE_PROBS = (
    (
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((176, 246, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (223, 241, 252, 255, 255, 255, 255, 255, 255, 255, 255),
         (249, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 244, 252, 255, 255, 255, 255, 255, 255, 255, 255),
         (234, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (253, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 246, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (239, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 248, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (251, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (251, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 254, 253, 255, 254, 255, 255, 255, 255, 255, 255),
         (250, 255, 254, 255, 254, 255, 255, 255, 255, 255, 255),
         (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
    ),
    (
        ((217, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (225, 252, 241, 253, 255, 255, 254, 255, 255, 255, 255),
         (234, 250, 241, 250, 253, 255, 253, 254, 255, 255, 255)),
        ((255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (223, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (238, 253, 254, 254, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 248, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (249, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 253, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (247, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (252, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (253, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 254, 253, 255, 255, 255, 255, 255, 255, 255, 255),
         (250, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
    ),
    (
        ((186, 251, 250, 255, 255, 255, 255, 255, 255, 255, 255),
         (234, 251, 244, 254, 255, 255, 255, 255, 255, 255, 255),
         (251, 251, 243, 253, 254, 255, 254, 255, 255, 255, 255)),
        ((255, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (236, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (251, 253, 253, 254, 254, 255, 255, 255, 255, 255, 255)),
        ((255, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 254, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
    ),
    (
        ((248, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (250, 254, 252, 254, 255, 255, 255, 255, 255, 255, 255),
         (248, 254, 249, 253, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255),
         (246, 253, 253, 255, 255, 255, 255, 255, 255, 255, 255),
         (252, 254, 251, 254, 254, 255, 255, 255, 255, 255, 255)),
        ((255, 254, 252, 255, 255, 255, 255, 255, 255, 255, 255),
         (248, 254, 253, 255, 255, 255, 255, 255, 255, 255, 255),
         (253, 255, 254, 254, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 251, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (245, 251, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (253, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 251, 253, 255, 255, 255, 255, 255, 255, 255, 255),
         (252, 253, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 254, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 252, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (249, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 254, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 253, 255, 255, 255, 255, 255, 255, 255, 255),
         (250, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
        ((255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (254, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255),
         (255, 255, 255, 255, 255, 255, 255, 255, 255, 255, 255)),
    ),
)
