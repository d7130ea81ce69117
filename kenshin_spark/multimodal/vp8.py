"""Native lossy-VP8 keyframe (intra-frame) decoder — RFC 6386.

The last image profile the engine routed to the PIL seam: a lossy WebP
file is exactly one VP8 keyframe (RIFF "VP8 " chunk), so a still-image
decoder needs the intra half of the codec only — boolean arithmetic
decoding (§7), keyframe header parsing (§9), intra prediction modes
(§11-12), token/coefficient decoding with the default/updated
probability tables (§13), dequantization + inverse DCT/WHT (§14), and
the in-loop deblocking filter (§15), which is REQUIRED for bit-exact
output (prediction uses unfiltered neighbors; the displayed frame is
filtered).

Pure Python + numpy like the other native codecs (`codecs.py`,
`webp.py`); per-macroblock work is plain integer arithmetic on small
blocks — acceptable for kernel-sized images, and verified bit-exact in
YUV space against libwebp (`tests/test_vp8.py` drives the system
libwebp through ctypes as the independent oracle, the same role
javax.imageio plays for PNG/JPEG).

Constant tables (quantizer lookups, token probabilities, keyframe
b-mode probabilities) are RFC 6386 §13-14 public data, generated into
``vp8_tables.py`` by ``tools/extract_vp8_tables.py``.
"""

from __future__ import annotations

import numpy as np

from kenshin_spark.multimodal.vp8_tables import (
    AC_QLOOKUP,
    COEFF_BANDS,
    COEFF_PROBS_DEFAULT,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
)

_BANDS17 = list(COEFF_BANDS) + [0]  # band of the (n+1)-th lookahead

ZIGZAG = [0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15]

# keyframe mode trees + probabilities (RFC 6386 §11.2-11.4; tree format
# per §8.2: decode walks i = tree[i + bit], negatives are leaves)
_KF_YMODE_TREE = (-4, 2, 4, 6, -0, -1, -2, -3)  # B_PRED=4, DC/V/H/TM=0..3
_KF_YMODE_PROBS = (145, 156, 163, 128)
_UV_MODE_TREE = (-0, 2, -1, 4, -2, -3)  # DC, V, H, TM
_UV_MODE_PROBS = (142, 114, 183)
_BMODE_TREE = (
    -0, 2,      # B_DC_PRED
    -1, 4,      # B_TM_PRED
    -2, 6,      # B_VE_PRED
    8, 12,
    -3, 10,     # B_HE_PRED
    -5, -6,     # B_RD_PRED, B_VR_PRED
    -4, 14,     # B_LD_PRED
    -7, 16,     # B_VL_PRED
    -8, -9,     # B_HD_PRED, B_HU_PRED
)
# 16x16 mode -> the b-mode used as prediction context (§11.3)
_YMODE_TO_BMODE = (0, 2, 3, 1)  # DC->B_DC, V->B_VE, H->B_HE, TM->B_TM

# DCT value categories (§13.2): extra-bit probabilities; base = 3+(8<<cat)
_CAT3456 = (
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)


class VP8Error(ValueError):
    pass


#: poison guard: a corrupt/adversarial header can claim up to
#: 16383x16383 (268 Mpx), which this pure-Python decoder would chew on
#: for ~30 minutes — far past any batch budget. 4 Mpx (2048^2, ~35 s
#: worst case) covers every kernel-sized fixture and thumbnail; callers
#: doing deliberate full-resolution decode pass a bigger ``max_pixels``
#: (and should really be on a native-codec deployment at that point).
MAX_PIXELS_DEFAULT = 1 << 22


class _Bool:
    """Boolean arithmetic decoder, RFC 6386 §7.3."""

    __slots__ = ("d", "pos", "range", "value", "bitcount")

    def __init__(self, data: bytes):
        self.d = data
        b0 = data[0] if len(data) > 0 else 0
        b1 = data[1] if len(data) > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.range = 255
        self.bitcount = 0

    def bit(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bitcount += 1
            if self.bitcount == 8:
                self.bitcount = 0
                if self.pos < len(self.d):
                    self.value |= self.d[self.pos]
                self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit(128)
        return v

    def signed(self, n: int) -> int:
        """Magnitude-then-sign: L(n) then sign bit (§9.3)."""
        v = self.literal(n)
        return -v if self.bit(128) else v

    def tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.bit(probs[i >> 1])]
            if i <= 0:
                return -i


def _clip127(v: int) -> int:
    return 0 if v < 0 else (127 if v > 127 else v)


class _Header:
    pass


def parse_header(data: bytes) -> _Header:
    """The 3-byte frame tag + keyframe start code + dims (§9.1)."""
    if len(data) < 10:
        raise VP8Error("vp8: truncated frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    h = _Header()
    h.keyframe = (tag & 1) == 0
    h.version = (tag >> 1) & 7
    h.show = (tag >> 4) & 1
    h.part1_size = tag >> 5
    if not h.keyframe:
        raise VP8Error("vp8: not a keyframe (still images always are)")
    if data[3:6] != b"\x9d\x01\x2a":
        raise VP8Error("vp8: bad keyframe start code")
    w16 = data[6] | (data[7] << 8)
    h16 = data[8] | (data[9] << 8)
    h.width = w16 & 0x3FFF
    h.height = h16 & 0x3FFF
    if h.width == 0 or h.height == 0:
        raise VP8Error("vp8: zero dimension")
    return h


def decode_frame(data: bytes, max_pixels: int = MAX_PIXELS_DEFAULT):
    """Decode one VP8 keyframe → (Y, U, V) uint8 planes, Y at
    (height, width), U/V at ((height+1)//2, (width+1)//2) — the frame
    cropped from macroblock padding. Bit-exact vs libwebp's
    WebPDecodeYUV (tests/test_vp8.py). ``max_pixels`` fences
    adversarially-huge headers (see MAX_PIXELS_DEFAULT)."""
    hd = parse_header(data)
    w, h = hd.width, hd.height
    if w * h > max_pixels:
        raise VP8Error(
            f"vp8: {w}x{h} exceeds max_pixels={max_pixels} "
            "(pure-Python decode guard; raise it for deliberate "
            "full-resolution decode)"
        )
    mb_w = (w + 15) >> 4
    mb_h = (h + 15) >> 4

    if hd.part1_size == 0:
        raise VP8Error("vp8: empty first partition")
    part0 = data[10:10 + hd.part1_size]
    if len(part0) < hd.part1_size:
        raise VP8Error("vp8: truncated first partition")
    bd = _Bool(part0)

    bd.bit(128)  # color space (must be 0 for spec-defined YUV)
    bd.bit(128)  # clamping type

    # --- segmentation (§9.3) ---
    seg_enabled = bd.bit(128)
    seg_update_map = 0
    seg_abs = 0
    seg_q = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    seg_tree_probs = [255, 255, 255]
    if seg_enabled:
        seg_update_map = bd.bit(128)
        update_data = bd.bit(128)
        if update_data:
            seg_abs = bd.bit(128)
            for i in range(4):
                if bd.bit(128):
                    seg_q[i] = bd.signed(7)
            for i in range(4):
                if bd.bit(128):
                    seg_lf[i] = bd.signed(6)
        if seg_update_map:
            for i in range(3):
                if bd.bit(128):
                    seg_tree_probs[i] = bd.literal(8)

    # --- loop filter (§9.4) ---
    filter_type = bd.bit(128)  # 1 = simple
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    lf_delta_enabled = bd.bit(128)
    ref_lf_delta = [0, 0, 0, 0]
    mode_lf_delta = [0, 0, 0, 0]
    if lf_delta_enabled:
        if bd.bit(128):  # mode_ref_lf_delta_update
            for i in range(4):
                if bd.bit(128):
                    ref_lf_delta[i] = bd.signed(6)
            for i in range(4):
                if bd.bit(128):
                    mode_lf_delta[i] = bd.signed(6)

    # --- token partitions (§9.5) ---
    nparts = 1 << bd.literal(2)
    part_area = data[10 + hd.part1_size:]
    sizes_bytes = 3 * (nparts - 1)
    if len(part_area) < sizes_bytes:
        raise VP8Error("vp8: truncated partition size table")
    parts = []
    off = sizes_bytes
    for i in range(nparts):
        if i < nparts - 1:
            sz = (
                part_area[3 * i]
                | (part_area[3 * i + 1] << 8)
                | (part_area[3 * i + 2] << 16)
            )
        else:
            sz = len(part_area) - off
        if off + sz > len(part_area) or sz < 0:
            raise VP8Error("vp8: partition overruns frame")
        parts.append(_Bool(part_area[off:off + sz]))
        off += sz

    # --- quantizers (§9.6) ---
    y_ac_qi = bd.literal(7)
    dq_y_dc = bd.signed(4) if bd.bit(128) else 0
    dq_y2_dc = bd.signed(4) if bd.bit(128) else 0
    dq_y2_ac = bd.signed(4) if bd.bit(128) else 0
    dq_uv_dc = bd.signed(4) if bd.bit(128) else 0
    dq_uv_ac = bd.signed(4) if bd.bit(128) else 0

    bd.bit(128)  # refresh entropy probs (keyframe: informational)

    # --- token probability updates (§13.4) ---
    probs = [
        [[row[:] for row in ctx] for ctx in t] for t in COEFF_PROBS_DEFAULT
    ]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    if bd.bit(COEFF_UPDATE_PROBS[t][b][c][p]):
                        probs[t][b][c][p] = bd.literal(8)

    mb_no_skip = bd.bit(128)
    prob_skip_false = bd.literal(8) if mb_no_skip else 0

    # per-segment dequant factors: (y1dc, y1ac, y2dc, y2ac, uvdc, uvac)
    def _quants(seg: int):
        if seg_enabled:
            base = seg_q[seg] if seg_abs else y_ac_qi + seg_q[seg]
        else:
            base = y_ac_qi
        base = _clip127(base)
        y1dc = DC_QLOOKUP[_clip127(base + dq_y_dc)]
        y1ac = AC_QLOOKUP[base]
        y2dc = DC_QLOOKUP[_clip127(base + dq_y2_dc)] * 2
        y2ac = (AC_QLOOKUP[_clip127(base + dq_y2_ac)] * 101581) >> 16
        if y2ac < 8:
            y2ac = 8
        uvdc = DC_QLOOKUP[min(_clip127(base + dq_uv_dc), 117)]
        uvac = AC_QLOOKUP[_clip127(base + dq_uv_ac)]
        return (y1dc, y1ac, y2dc, y2ac, uvdc, uvac)

    seg_quants = [_quants(s) for s in range(4)]

    # per-segment loop-filter strength, [segment][is_b_pred]
    def _fstrength(seg: int, i4x4: int):
        if seg_enabled:
            level = seg_lf[seg] if seg_abs else filter_level + seg_lf[seg]
        else:
            level = filter_level
        if lf_delta_enabled:
            level += ref_lf_delta[0]  # keyframe MBs reference INTRA
            if i4x4:
                level += mode_lf_delta[0]
        level = 0 if level < 0 else (63 if level > 63 else level)
        if level == 0:
            return None
        ilevel = level
        if sharpness > 0:
            ilevel >>= 2 if sharpness > 4 else 1
            if ilevel > 9 - sharpness:
                ilevel = 9 - sharpness
        if ilevel < 1:
            ilevel = 1
        hev = 2 if level >= 40 else (1 if level >= 15 else 0)
        return (2 * level + ilevel, ilevel, hev)

    fstrengths = [
        [_fstrength(s, 0), _fstrength(s, 1)] for s in range(4)
    ]

    # --- per-MB mode parse (first partition, raster order, §11) ---
    mb_info = []  # (segment, skip, ymode, uvmode, bmodes[16])
    above_bmode = [[0] * 4 for _ in range(mb_w)]
    for mb_y in range(mb_h):
        left_bmode = [0] * 4
        for mb_x in range(mb_w):
            seg = 0
            if seg_enabled and seg_update_map:
                if bd.bit(seg_tree_probs[0]):
                    seg = 2 + bd.bit(seg_tree_probs[2])
                else:
                    seg = bd.bit(seg_tree_probs[1])
            skip = bd.bit(prob_skip_false) if mb_no_skip else 0
            ymode = bd.tree(_KF_YMODE_TREE, _KF_YMODE_PROBS)
            if ymode == 4:  # B_PRED: 16 sub-modes with A/L context
                bmodes = [0] * 16
                for sy in range(4):
                    for sx in range(4):
                        a = (
                            above_bmode[mb_x][sx]
                            if sy == 0 else bmodes[(sy - 1) * 4 + sx]
                        )
                        lft = (
                            left_bmode[sy]
                            if sx == 0 else bmodes[sy * 4 + sx - 1]
                        )
                        bmodes[sy * 4 + sx] = bd.tree(
                            _BMODE_TREE, KF_BMODE_PROBS[a][lft]
                        )
            else:
                bmodes = [_YMODE_TO_BMODE[ymode]] * 16
            above_bmode[mb_x] = bmodes[12:16]
            left_bmode = [bmodes[3], bmodes[7], bmodes[11], bmodes[15]]
            uvmode = bd.tree(_UV_MODE_TREE, _UV_MODE_PROBS)
            mb_info.append((seg, skip, ymode, uvmode, bmodes))

    # --- residuals + reconstruction ---
    from kenshin_spark.multimodal import vp8_recon as R

    frame = R.Reconstructor(w, h, mb_w, mb_h)

    # nonzero contexts: above per MB column, left per row
    above_nz = [[0] * 9 for _ in range(mb_w)]  # 4 Y, 2 U, 2 V, 1 Y2
    coeffs = np.zeros(400, dtype=np.int64)  # 25 blocks x 16
    for mb_y in range(mb_h):
        left_nz = [0] * 9
        td = parts[mb_y % nparts]
        for mb_x in range(mb_w):
            seg, skip, ymode, uvmode, bmodes = mb_info[mb_y * mb_w + mb_x]
            q = seg_quants[seg]
            has_y2 = ymode != 4
            coeffs[:] = 0
            nnz_block = [0] * 25  # per-block "has coefficients"
            mb_nz = 0  # any context-level nonzero in this MB
            if not skip:
                if has_y2:
                    ctx = above_nz[mb_x][8] + left_nz[8]
                    n = _get_coeffs(
                        td, probs[1], ctx, (q[2], q[3]), 0, coeffs, 384
                    )
                    above_nz[mb_x][8] = left_nz[8] = int(n > 0)
                    mb_nz |= int(n > 0)
                    nnz_block[24] = n
                    first = 1
                    ptype = 0
                else:
                    first = 0
                    ptype = 3
                for sy in range(4):
                    lnz = left_nz[sy]
                    for sx in range(4):
                        ctx = lnz + above_nz[mb_x][sx]
                        bi = sy * 4 + sx
                        n = _get_coeffs(
                            td, probs[ptype], ctx, (q[0], q[1]),
                            first, coeffs, bi * 16,
                        )
                        lnz = int(n > first)
                        mb_nz |= lnz
                        above_nz[mb_x][sx] = lnz
                        nnz_block[bi] = n
                    left_nz[sy] = lnz
                for pl in range(2):  # U then V
                    for sy in range(2):
                        lnz = left_nz[4 + 2 * pl + sy]
                        for sx in range(2):
                            ctx = lnz + above_nz[mb_x][4 + 2 * pl + sx]
                            bi = 16 + pl * 4 + sy * 2 + sx
                            n = _get_coeffs(
                                td, probs[2], ctx, (q[4], q[5]),
                                0, coeffs, bi * 16,
                            )
                            lnz = int(n > 0)
                            mb_nz |= lnz
                            above_nz[mb_x][4 + 2 * pl + sx] = lnz
                            nnz_block[bi] = n
                        left_nz[4 + 2 * pl + sy] = lnz
            else:
                for i in range(8):
                    above_nz[mb_x][i] = left_nz[i] = 0
                if has_y2:
                    above_nz[mb_x][8] = left_nz[8] = 0
                # B_PRED MBs carry no Y2 block: their column keeps the
                # previous Y2 context (libwebp nz_dc semantics)

            fs = fstrengths[seg][0 if has_y2 else 1]
            # inner-edge filtering: always for B_PRED (subblock
            # boundaries are real prediction boundaries); otherwise
            # only when the MB decoded ANY nonzero coefficient — the
            # spec keys this on actual emptiness, not the skip flag
            # (a non-skip MB whose blocks all EOB immediately also
            # skips inner filtering)
            inner = (not has_y2) or bool(mb_nz)
            frame.macroblock(
                mb_x, mb_y, ymode, uvmode, bmodes, coeffs, nnz_block,
                has_y2, fs, inner,
            )

    if filter_level > 0:
        frame.filter_frame(filter_type)
    return frame.crop()


def _get_coeffs(bd, prob_t, ctx, dq, first, out, base) -> int:
    """Token-decode one 4x4 block (§13.2-13.3), writing dequantized
    values at zigzag positions into out[base:base+16]. Returns the
    index where decoding stopped (EOB position); callers derive the
    nonzero context as (ret > first) — libwebp's GetCoeffs contract."""
    n = first
    p = prob_t[_BANDS17[n]][ctx]
    while n < 16:
        if not bd.bit(p[0]):
            return n  # EOB
        while not bd.bit(p[1]):  # run of explicit zeros
            n += 1
            if n == 16:
                return 16
            p = prob_t[_BANDS17[n]][0]
        if not bd.bit(p[2]):
            v = 1
            nctx = 1
        else:
            v = _large_value(bd, p)
            nctx = 2
        if bd.bit(128):
            v = -v
        out[base + ZIGZAG[n]] = v * (dq[1] if n > 0 else dq[0])
        n += 1
        if n == 16:
            return 16
        p = prob_t[_BANDS17[n]][nctx]
    return 16


def _large_value(bd, p) -> int:
    """Token magnitudes ≥ 2 (§13.2): small values from the tree,
    categories 3-6 via extra bits (base 3 + (8 << cat))."""
    if not bd.bit(p[3]):
        if not bd.bit(p[4]):
            return 2
        return 3 + bd.bit(p[5])
    if not bd.bit(p[6]):
        if not bd.bit(p[7]):
            return 5 + bd.bit(159)
        return 7 + 2 * bd.bit(165) + bd.bit(145)
    bit1 = bd.bit(p[8])
    bit0 = bd.bit(p[9 + bit1])
    cat = 2 * bit1 + bit0
    v = 0
    for prob in _CAT3456[cat]:
        v += v + bd.bit(prob)
    return v + 3 + (8 << cat)


# -- display-space conversion (libwebp-compatible) --------------------------

def yuv_to_rgb(Y, U, V):
    """Full-size Y + FULL-SIZE (already upsampled) U/V → HxWx3 uint8,
    libwebp's fixed-point BT.601 constants (dsp/yuv.h): bit-compatible
    with its per-pixel conversion."""
    y = Y.astype(np.int32)
    u = U.astype(np.int32)
    v = V.astype(np.int32)
    mh = lambda a, c: (a * c) >> 8
    r = np.clip((mh(y, 19077) + mh(v, 26149) - 14234) >> 6, 0, 255)
    g = np.clip(
        (mh(y, 19077) - mh(u, 6419) - mh(v, 13320) + 8708) >> 6, 0, 255
    )
    b = np.clip((mh(y, 19077) + mh(u, 33050) - 17685) >> 6, 0, 255)
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def fancy_upsample(P, w, h):
    """libwebp's 'fancy' 4:2:0 chroma upsampler (dsp/upsampling.c):
    chroma samples sit between luma pairs; each output pixel blends
    the 4 nearest chroma samples with 9/3/3/1 weights, edges
    replicated. Returns an (h, w) plane from the ((h+1)//2,(w+1)//2)
    subsampled one, integer-exact to the reference implementation."""
    cw = (w + 1) // 2
    C = P.astype(np.int64)
    # horizontal positions: out x even -> between samples (x/2 -1?,)
    # Build via the reference pair formulas, vectorized per row pair.
    out = np.empty((h, w), dtype=np.int64)

    def _row(top_c, cur_c):
        """One output row from two chroma rows (len w), packed exact
        arithmetic of the C loop."""
        tl = top_c[:-1]
        t = top_c[1:]
        l = cur_c[:-1]
        c = cur_c[1:]
        avg = tl + t + l + c + 8
        diag12 = (avg + 2 * (t + l)) >> 3
        diag03 = (avg + 2 * (tl + c)) >> 3
        r = np.empty(w, dtype=np.int64)
        r[0] = (3 * top_c[0] + cur_c[0] + 2) >> 2
        odd = (diag12 + tl) >> 1
        even = (diag03 + t) >> 1
        upto = min(cw - 1, (w - 1) >> 1)
        r[1:2 * upto:2] = odd[:upto]
        r[2:2 * upto + 1:2] = even[:upto]
        if w % 2 == 0:
            r[w - 1] = (3 * top_c[-1] + cur_c[-1] + 2) >> 2
        return r

    for j in range(h):
        # chroma row indices around luma row j (chroma centered at
        # luma rows 2k+0.5): top = (j-1)//2 clamped, cur = (j+1)//2
        if j == 0:
            a = b = 0
        elif j % 2 == 1:
            a, b = (j - 1) // 2, min((j + 1) // 2, C.shape[0] - 1)
        else:
            a, b = min((j + 1) // 2, C.shape[0] - 1), (j - 1) // 2
        out[j] = _row(C[a], C[b])
    return out.astype(np.uint8)
