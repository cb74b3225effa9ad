"""Minimal spec-valid VP8 intra (key-frame) ENCODER — pure
Python/numpy, written from the public RFC 6386 specification.  It
produces real, decodable lossy-WebP/WebM payloads inside an environment
with no media libraries, so video/image pipelines can be exercised
end-to-end with REAL bitstreams.

Deliberately minimal, spec-valid, and decoder-honest:

- every macroblock is DC_PRED luma + DC_PRED chroma (so the full
  Y2/WHT path is exercised), one token partition, no segmentation,
  loop filter level 0, default coefficient probabilities;
- ``mb_no_coeff_skip`` is enabled, so all-zero macroblocks become
  skip MBs (the decoder's skip path is real output of this encoder);
- quality is a quantizer index ``qi`` (0 = finest).  The forward DCT
  is float and the quantizer rounds to nearest — reconstruction
  fidelity is bounded by the dequantization step, which tests pin as
  a PSNR floor.

Interop: tests decode our streams with BOTH the system libwebp and
``codec_vp8`` and require bit-identical output from the two decoders
(plus the PSNR floor vs the source).  See tests/test_codec_vp8_enc.py.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_vp8 import (
    AC_QLOOKUP,
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    _BANDS,
    _CAT_BASE,
    _CAT_PROBS,
    _idct4x4,
    _iwht4x4,
    _KF_UVMODE_PROBS,
    _KF_YMODE_PROBS,
    _ZIGZAG,
)

__all__ = ["encode_vp8", "encode_webp_lossy", "rgb_to_yuv420"]


# ---------------------------------------------------------------------------
# boolean arithmetic encoder (RFC 6386 sections 7/8)
# ---------------------------------------------------------------------------

class _BoolEnc:
    def __init__(self):
        self.out = bytearray()
        self.range = 255
        self.bottom = 0
        self.bit_count = 24

    def put(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.bottom += split
            self.range -= split
        else:
            self.range = split
        while self.range < 128:
            if self.bottom & (1 << 31):          # carry into written bytes
                i = len(self.out) - 1
                while self.out[i] == 0xFF:
                    self.out[i] = 0
                    i -= 1
                self.out[i] += 1
                self.bottom &= (1 << 31) - 1
            self.range <<= 1
            self.bottom <<= 1
            self.bit_count -= 1
            if self.bit_count == 0:
                self.out.append((self.bottom >> 24) & 0xFF)
                self.bottom &= 0xFFFFFF
                self.bit_count = 8

    def literal(self, value: int, bits: int) -> None:
        for k in range(bits - 1, -1, -1):
            self.put(128, (value >> k) & 1)

    def flush(self) -> bytes:
        for _ in range(32):
            self.put(128, 0)
        return bytes(self.out)


# ---------------------------------------------------------------------------
# forward transforms
# ---------------------------------------------------------------------------

_WHT_M = np.array([[1, 1, 1, 1],
                   [1, 1, -1, -1],
                   [1, -1, -1, 1],
                   [1, -1, 1, -1]], dtype=np.float64)

# orthonormal DCT-II basis; the spec's integer inverse approximates the
# mathematical IDCT with gains folded into its fixed-point constants,
# so the float forward below quantizes into the right lattice.
#
# HOST-FP DETERMINISM (the r11 video-golden root cause): the entries
# are FROZEN double literals (repr of cos((2x+1)u*pi/8)*sqrt(1/4 or
# 1/2)), never recomputed via np.cos/np.sqrt — elementwise libm
# dispatch differs by CPU feature level, so a recomputed table can be
# one ulp off between hosts.  Likewise the 4x4 matmuls below run
# through _mm4 / _mm4t (a FIXED elementwise add/mul tree, no BLAS):
# dgemm's reassociation/FMA choices differ per microarchitecture, and
# the quantizer rounds coefficients that sit on EXACT .5 ties (133 of
# 288 fixture blocks at qac 10..80) — the golden digest flipped
# between two values purely with the round's sandbox host until r11
# pinned this.  IEEE mul/add in a fixed tree is bit-identical on every
# host; do not "simplify" these back to @.
_DCT_C = np.array([
    [0.5, 0.5, 0.5, 0.5],
    [0.6532814824381883, 0.27059805007309845,
     -0.27059805007309845, -0.6532814824381883],
    [0.5, -0.5, -0.5, 0.5],
    [0.27059805007309845, -0.6532814824381883,
     0.6532814824381883, -0.27059805007309845],
], dtype=np.float64)


def _mm4(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """4x4 (a @ b) as a pinned expression tree: row_i = ((a[i,0]*b[0]
    + a[i,1]*b[1]) + a[i,2]*b[2]) + a[i,3]*b[3] — elementwise IEEE
    ops in fixed order, host-independent."""
    return np.stack([
        ((a[i, 0] * b[0] + a[i, 1] * b[1]) + a[i, 2] * b[2])
        + a[i, 3] * b[3]
        for i in range(4)
    ])


def _mm4t(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """4x4 (a @ b.T) with the same pinned tree (column-major form)."""
    return np.stack([
        ((a[:, 0] * b[j, 0] + a[:, 1] * b[j, 1]) + a[:, 2] * b[j, 2])
        + a[:, 3] * b[j, 3]
        for j in range(4)
    ], axis=1)


def _fdct4x4(block: np.ndarray) -> np.ndarray:
    # scaled so the RFC integer IDCT (which divides by 8 overall)
    # inverts it: IDCT(F) ~= block when F = 2 * C B C^T
    return 2.0 * _mm4t(_mm4(_DCT_C, block), _DCT_C)


def _fwht4x4(dc: np.ndarray) -> np.ndarray:
    # inverse WHT computes (M X M^T + 3)>>3 with M M^T = 4I, so the
    # exact forward is (M X M^T) / 2.  Inputs are fDCT DC floats, so
    # the ±1 sums DO round — same pinned-tree discipline as _fdct4x4
    return _mm4t(_mm4(_WHT_M, dc), _WHT_M) / 2.0


# ---------------------------------------------------------------------------
# token writing (mirrors codec_vp8._decode_coeffs)
# ---------------------------------------------------------------------------

def _put_tree_token(be: _BoolEnc, p, v: int) -> None:
    """Emit one nonzero-coefficient token (magnitude |v| >= 1) starting
    at tree node 2's probability p[2] (ZERO was already ruled out)."""
    a = abs(v)
    if a == 1:
        be.put(p[2], 0)
    else:
        be.put(p[2], 1)
        if a <= 4:
            be.put(p[3], 0)
            if a == 2:
                be.put(p[4], 0)
            else:
                be.put(p[4], 1)
                be.put(p[5], a - 3)
        else:
            be.put(p[3], 1)
            cat = next(c for c in range(5, -1, -1)
                       if c >= 0 and a >= _CAT_BASE[c])
            if cat <= 1:
                be.put(p[6], 0)
                be.put(p[7], cat)
            elif cat <= 3:
                be.put(p[6], 1)
                be.put(p[8], 0)
                be.put(p[9], cat - 2)
            else:
                be.put(p[6], 1)
                be.put(p[8], 1)
                be.put(p[10], cat - 4)
            extra = a - _CAT_BASE[cat]
            probs = _CAT_PROBS[cat]
            for k, pp in enumerate(probs):
                be.put(pp, (extra >> (len(probs) - 1 - k)) & 1)
    be.put(128, 1 if v < 0 else 0)


def _write_coeffs(be: _BoolEnc, tprobs, levels, first: int, ctx: int) -> int:
    """Write one block's quantized levels (raster order).  Returns 1 if
    the block has any nonzero coefficient (the nz context value)."""
    zz = [levels[_ZIGZAG[i]] for i in range(16)]
    last = -1
    for i in range(15, first - 1, -1):
        if zz[i]:
            last = i
            break
    if last < 0:
        # empty block: a lone EOB at the first position
        be.put(tprobs[_BANDS[first]][ctx][0], 0)
        return 0
    i = first
    after_zero = False
    while i <= last:
        p = tprobs[_BANDS[i]][ctx]
        if not after_zero:
            be.put(p[0], 1)                  # not EOB yet
        v = zz[i]
        if v == 0:
            be.put(p[1], 0)
            ctx = 0
            after_zero = True
        else:
            be.put(p[1], 1)
            _put_tree_token(be, p, v)
            ctx = 1 if abs(v) == 1 else 2
            after_zero = False
        i += 1
    if i < 16:
        be.put(tprobs[_BANDS[i]][ctx][0], 0)  # EOB
    return 1


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------

def rgb_to_yuv420(img: np.ndarray):
    """RGB(A) uint8 → (y, u, v) planes, BT.601 full-swing→studio-swing
    (the conventional WebP/JPEG-family mapping, rounded to nearest)."""
    rgb = np.asarray(img, dtype=np.float64)[:, :, :3]
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.257 * r + 0.504 * g + 0.098 * b + 16.0
    u = -0.148 * r - 0.291 * g + 0.439 * b + 128.0
    v = 0.439 * r - 0.368 * g - 0.071 * b + 128.0
    h, w = y.shape
    uw, uh = (w + 1) // 2, (h + 1) // 2
    # pad to even then 2x2-average the chroma
    up = np.pad(u, ((0, 2 * uh - h), (0, 2 * uw - w)), mode="edge")
    vp = np.pad(v, ((0, 2 * uh - h), (0, 2 * uw - w)), mode="edge")
    u2 = (up[0::2, 0::2] + up[0::2, 1::2] + up[1::2, 0::2]
          + up[1::2, 1::2]) / 4.0
    v2 = (vp[0::2, 0::2] + vp[0::2, 1::2] + vp[1::2, 0::2]
          + vp[1::2, 1::2]) / 4.0
    clip = lambda a: np.clip(np.rint(a), 0, 255).astype(np.uint8)  # noqa: E731
    return clip(y), clip(u2), clip(v2)


def _quantize(fblock: np.ndarray, qdc: int, qac: int) -> list:
    lv = np.rint(fblock / qac).astype(np.int64)
    lv[0, 0] = int(round(fblock[0, 0] / qdc))
    # RFC coefficient range: categories top out at 67 + 2^11 - 1
    return list(np.clip(lv, -2047, 2047).reshape(-1))


def encode_vp8(y: np.ndarray, u: np.ndarray, v: np.ndarray,
               qi: int = 4) -> bytes:
    """Encode YUV 4:2:0 planes as a VP8 key-frame bitstream (the
    payload of a WebP 'VP8 ' chunk / a WebM SimpleBlock)."""
    if not 0 <= qi <= 127:
        raise ValueError(f"qi must be in 0..127, got {qi}")
    H, W = y.shape
    if u.shape != ((H + 1) // 2, (W + 1) // 2) or u.shape != v.shape:
        raise ValueError("chroma planes must be ceil(half) of luma")
    if not (0 < W < 16384 and 0 < H < 16384):
        raise ValueError("dimensions out of range")
    mb_w, mb_h = (W + 15) >> 4, (H + 15) >> 4

    # edge-replicated padded planes (encoder choice for partial MBs)
    yp = np.pad(y.astype(np.int64), ((0, mb_h * 16 - H), (0, mb_w * 16 - W)),
                mode="edge")
    up = np.pad(u.astype(np.int64),
                ((0, mb_h * 8 - u.shape[0]), (0, mb_w * 8 - u.shape[1])),
                mode="edge")
    vp = np.pad(v.astype(np.int64),
                ((0, mb_h * 8 - v.shape[0]), (0, mb_w * 8 - v.shape[1])),
                mode="edge")

    y1dc, y1ac = DC_QLOOKUP[qi], AC_QLOOKUP[qi]
    y2dc, y2ac = DC_QLOOKUP[qi] * 2, max(AC_QLOOKUP[qi] * 155 // 100, 8)
    uvdc, uvac = DC_QLOOKUP[min(qi, 117)], AC_QLOOKUP[qi]

    # ---- first pass: transform/quantize every MB against the
    # reconstructed DC prediction (reconstruction tracked exactly as
    # the decoder will rebuild it)
    recon_y = np.empty((mb_h * 16 + 1, mb_w * 16 + 1), dtype=np.int64)
    recon_u = np.empty((mb_h * 8 + 1, mb_w * 8 + 1), dtype=np.int64)
    recon_v = np.empty_like(recon_u)
    for pl in (recon_y, recon_u, recon_v):
        pl[0, :] = 127
        pl[1:, 0] = 129

    prob_skip = 128
    mb_tokens = []            # per MB: None (skip) or (y2, ys, uvs)
    for mby in range(mb_h):
        for mbx in range(mb_w):
            out_blocks_y = []
            # --- luma: DC16 prediction from reconstruction
            r0, c0 = 16 * mby + 1, 16 * mbx + 1
            if mby > 0 and mbx > 0:
                dc = (int(recon_y[r0 - 1, c0:c0 + 16].sum())
                      + int(recon_y[r0:r0 + 16, c0 - 1].sum()) + 16) >> 5
            elif mby > 0:
                dc = (int(recon_y[r0 - 1, c0:c0 + 16].sum()) + 8) >> 4
            elif mbx > 0:
                dc = (int(recon_y[r0:r0 + 16, c0 - 1].sum()) + 8) >> 4
            else:
                dc = 128
            res = yp[16 * mby:16 * mby + 16,
                     16 * mbx:16 * mbx + 16].astype(np.float64) - dc
            dcs = np.empty((4, 4))
            fblocks = []
            for n in range(16):
                sr, sc = (n >> 2) * 4, (n & 3) * 4
                f = _fdct4x4(res[sr:sr + 4, sc:sc + 4])
                dcs[n >> 2, n & 3] = f[0, 0]
                fblocks.append(f)
            y2 = _fwht4x4(dcs)
            y2_levels = _quantize(y2, y2dc, y2ac)
            # reconstruct the DCs the way the decoder will
            y2_deq = [y2_levels[k] * (y2dc if k == 0 else y2ac)
                      for k in range(16)]
            dc_rec = _iwht4x4(y2_deq)
            for n in range(16):
                lv = _quantize(fblocks[n], 10 ** 9, y1ac)  # DC unused
                lv[0] = 0
                out_blocks_y.append(lv)
            # --- chroma
            r0c, c0c = 8 * mby + 1, 8 * mbx + 1
            uv_levels = []
            uv_deq = []
            for pl_src, pl_rec in ((up, recon_u), (vp, recon_v)):
                if mby > 0 and mbx > 0:
                    dcc = (int(pl_rec[r0c - 1, c0c:c0c + 8].sum())
                           + int(pl_rec[r0c:r0c + 8, c0c - 1].sum()) + 8) >> 4
                elif mby > 0:
                    dcc = (int(pl_rec[r0c - 1, c0c:c0c + 8].sum()) + 4) >> 3
                elif mbx > 0:
                    dcc = (int(pl_rec[r0c:r0c + 8, c0c - 1].sum()) + 4) >> 3
                else:
                    dcc = 128
                resc = pl_src[8 * mby:8 * mby + 8,
                              8 * mbx:8 * mbx + 8].astype(np.float64) - dcc
                for n in range(4):
                    sr, sc = (n >> 1) * 4, (n & 1) * 4
                    f = _fdct4x4(resc[sr:sr + 4, sc:sc + 4])
                    lv = _quantize(f, uvdc, uvac)
                    uv_levels.append(lv)
                    uv_deq.append((dcc, lv))
            # --- decide skip, then reconstruct exactly like the decoder
            any_nz = (any(y2_levels) or any(any(b) for b in out_blocks_y)
                      or any(any(lv) for lv in uv_levels))
            if any_nz:
                mb_tokens.append((y2_levels, out_blocks_y, uv_levels))
            else:
                mb_tokens.append(None)
            # luma reconstruction
            for n in range(16):
                sr, sc = (n >> 2) * 4, (n & 3) * 4
                if any_nz:
                    deq = [out_blocks_y[n][k] * y1ac for k in range(16)]
                    deq[0] = dc_rec[n]
                    resid = _idct4x4(deq)
                else:
                    resid = [0] * 16
                blk = np.asarray(resid, dtype=np.int64).reshape(4, 4) + dc
                recon_y[r0 + sr:r0 + sr + 4, c0 + sc:c0 + sc + 4] = \
                    np.clip(blk, 0, 255)
            for pi, pl_rec in enumerate((recon_u, recon_v)):
                for n in range(4):
                    sr, sc = (n >> 1) * 4, (n & 1) * 4
                    dcc, lv = uv_deq[4 * pi + n]
                    if any_nz:
                        deq = [lv[k] * (uvdc if k == 0 else uvac)
                               for k in range(16)]
                        resid = _idct4x4(deq)
                    else:
                        resid = [0] * 16
                    blk = np.asarray(resid, dtype=np.int64).reshape(4, 4) + dcc
                    pl_rec[r0c + sr:r0c + sr + 4, c0c + sc:c0c + sc + 4] = \
                        np.clip(blk, 0, 255)

    # ---- partition 0: header + modes
    be = _BoolEnc()
    be.literal(0, 1)          # color space
    be.literal(0, 1)          # clamping
    be.put(128, 0)            # segmentation_enabled = 0
    be.literal(0, 1)          # filter type (value irrelevant at level 0)
    be.literal(0, 6)          # loop filter level 0
    be.literal(0, 3)          # sharpness
    be.put(128, 0)            # lf delta disabled
    be.literal(0, 2)          # log2 partitions = 0 -> 1 partition
    be.literal(qi, 7)         # y_ac_qi
    for _ in range(5):        # no quantizer deltas
        be.put(128, 0)
    be.literal(0, 1)          # refresh entropy probs (still image)
    for t in range(4):        # no coefficient prob updates
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    be.put(COEFF_UPDATE_PROBS[t][b][c][p], 0)
    be.put(128, 1)            # mb_no_coeff_skip enabled
    be.literal(prob_skip, 8)
    for mb in mb_tokens:
        be.put(prob_skip, 1 if mb is None else 0)   # skip flag
        # ymode DC_PRED: tree path 1,0,0
        be.put(_KF_YMODE_PROBS[0], 1)
        be.put(_KF_YMODE_PROBS[1], 0)
        be.put(_KF_YMODE_PROBS[2], 0)
        # uv DC_PRED: single 0
        be.put(_KF_UVMODE_PROBS[0], 0)
    part0 = be.flush()

    # ---- token partition
    te = _BoolEnc()
    above_y = np.zeros((mb_w, 4), dtype=np.int8)
    above_u = np.zeros((mb_w, 2), dtype=np.int8)
    above_v = np.zeros((mb_w, 2), dtype=np.int8)
    above_y2 = np.zeros(mb_w, dtype=np.int8)
    tp = COEFF_PROBS
    k = 0
    for mby in range(mb_h):
        left_y = [0] * 4
        left_u = [0] * 2
        left_v = [0] * 2
        left_y2 = 0
        for mbx in range(mb_w):
            mb = mb_tokens[k]
            k += 1
            if mb is None:
                above_y[mbx, :] = 0
                above_u[mbx, :] = 0
                above_v[mbx, :] = 0
                left_y = [0] * 4
                left_u = [0] * 2
                left_v = [0] * 2
                above_y2[mbx] = left_y2 = 0   # DC_PRED MBs have Y2
                continue
            y2_levels, ys, uvs = mb
            ctx = int(above_y2[mbx]) + left_y2
            nz = _write_coeffs(te, tp[1], y2_levels, 0, ctx)
            above_y2[mbx] = left_y2 = nz
            loc = [[0] * 4 for _ in range(4)]
            for n in range(16):
                r, c = n >> 2, n & 3
                ctx = ((int(above_y[mbx, c]) if r == 0 else loc[r - 1][c])
                       + (left_y[r] if c == 0 else loc[r][c - 1]))
                loc[r][c] = _write_coeffs(te, tp[0], ys[n], 1, ctx)
            above_y[mbx, :] = loc[3]
            left_y = [loc[r][3] for r in range(4)]
            for pi, (above_c, left_c) in enumerate(
                    ((above_u, left_u), (above_v, left_v))):
                lc = [[0, 0], [0, 0]]
                for n in range(4):
                    r, c = n >> 1, n & 1
                    ctx = ((int(above_c[mbx, c]) if r == 0 else lc[r - 1][c])
                           + (left_c[r] if c == 0 else lc[r][c - 1]))
                    lc[r][c] = _write_coeffs(te, tp[2], uvs[4 * pi + n],
                                             0, ctx)
                above_c[mbx, 0], above_c[mbx, 1] = lc[1][0], lc[1][1]
                left_c[0], left_c[1] = lc[0][1], lc[1][1]
    tokens = te.flush()

    if len(part0) >= (1 << 19):
        # the frame tag holds the first-partition size in 19 bits
        raise ValueError(
            f"VP8: first partition {len(part0)} bytes exceeds the "
            "19-bit header field (image too large for this encoder)"
        )
    tag = (len(part0) << 5) | (1 << 4) | (0 << 1) | 0   # keyframe, show
    return (tag.to_bytes(3, "little") + b"\x9d\x01\x2a"
            + struct.pack("<HH", W, H) + part0 + tokens)


def encode_webp_lossy(img: np.ndarray, qi: int = 4) -> bytes:
    """RGB(A) uint8 image → lossy WebP bytes (RIFF/'VP8 ' container)."""
    y, u, v = rgb_to_yuv420(img)
    vp8 = encode_vp8(y, u, v, qi=qi)
    chunk = b"VP8 " + struct.pack("<I", len(vp8)) + vp8 \
        + (b"\x00" if len(vp8) & 1 else b"")
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
