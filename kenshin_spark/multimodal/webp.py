"""Pure-numpy WebP **VP8L lossless** codec (RFC 9649 / the public WebP
Lossless Bitstream Specification) — the decode half of the remaining
codec gap, with a spec-conformant encoder as the test vehicle.

Decoder coverage is the full VP8L feature set:

- LSB-first bitstream, canonical (DEFLATE-ordered) Huffman codes,
  "simple" 1/2-symbol codes and the code-length-code machinery
  (symbols 16/17/18 repeats, optional max_symbol cap);
- all four transforms, inverted in reverse read order: PREDICTOR (all
  14 modes, contiguous-buffer top-right rule on the rightmost column),
  COLOR (3.5 fixed-point channel deltas), SUBTRACT_GREEN, and
  COLOR_INDEXING (delta-coded palette, 1/2/4/8-bit pixel packing);
- color cache (0x1e35a7bd multiplicative hash, insert on every emitted
  pixel), LZ77 backward references with the 120-entry 2D distance map,
  and meta-Huffman groups via a recursively decoded entropy image.

The encoder emits literals, horizontal/vertical RLE backrefs (coded
via the 2D distance map whenever an entry lands on the distance, so
roundtrips exercise it), color-cache hits, a real two-group
meta-Huffman split, and each fixed transform (stackable) — every
decoder path above is pinned by lossless roundtrips rather than
fixtures. Lossy VP8 is a whole video codec (boolean arithmetic decoder
+ loop filter) and stays routed to the PIL seam. Animated WebP parses
natively (``webp_frames``: ANMF timeline, dims, durations) and VP8L
frame pixels decode natively too — ``transforms.sample_frames`` rides
it for real frame sampling; only lossy frame PIXELS fall through.
The 120-entry distance map is DERIVED at import from the
spec's inverse plane-to-code LUT with a permutation check — the r9
review caught a corrupted hand transcription of the flat list, and no
real VP8L file exists in-container to cross-check against (javax.imageio
cannot decode WebP), so deriving from the independent representation is
the strongest available pin; structural tests cover the rest.

Scale posture matches codecs.py: per-payload kernels invoked from
Arrow ``mapInPandas`` batches — decode cost rides in the executors.
"""

from __future__ import annotations

import struct

import numpy as np

from kenshin_spark.multimodal.codecs import _coerce_codec_errors

#: code-length-code transmission order (spec §5.2.2)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

#: the spec's plane-to-code LUT (spec §5.2.3 / libwebp
#: backward_references): row = dy (0..7), column = 8 - dx (dx in
#: -7..8), value = dist_code - 1 (255 = no code: dy == 0 with dx <= 0
#: would reference undecoded pixels). The r9 review caught a corrupted
#: hand transcription of the derived 120-entry list (122 entries, tail
#: order shifted — real-file codes >= 106 would have decoded wrong), so
#: the list is now DERIVED from this independent representation and
#: permutation-checked at import.
_PLANE_TO_CODE = [
    96, 73, 55, 39, 23, 13, 5, 1, 255, 255, 255, 255, 255, 255, 255, 255,
    101, 78, 58, 42, 26, 16, 8, 2, 0, 3, 9, 17, 27, 43, 59, 79,
    102, 86, 62, 46, 32, 20, 10, 6, 4, 7, 11, 21, 33, 47, 63, 87,
    105, 90, 70, 52, 37, 28, 18, 14, 12, 15, 19, 29, 38, 53, 71, 91,
    110, 99, 82, 66, 48, 35, 30, 24, 22, 25, 31, 36, 49, 67, 83, 100,
    115, 108, 94, 76, 64, 50, 44, 40, 34, 41, 45, 51, 65, 77, 95, 109,
    118, 113, 103, 92, 80, 68, 60, 56, 54, 57, 61, 69, 81, 93, 104, 114,
    119, 116, 111, 106, 97, 88, 84, 74, 72, 75, 85, 89, 98, 107, 112, 117,
]


def _build_dist_map() -> list[tuple[int, int]]:
    # unconditional (not an assert: -O must not strip the integrity
    # check the r9 transcription bug motivated)
    if sorted(v for v in _PLANE_TO_CODE if v != 255) != list(range(120)):
        raise ValueError("webp: plane-to-code LUT is not a 120-permutation")
    table: list = [None] * 120
    for dy in range(8):
        for col in range(16):
            v = _PLANE_TO_CODE[dy * 16 + col]
            if v != 255:
                table[v] = (8 - col, dy)
    if any(t is None for t in table):
        raise ValueError("webp: plane-to-code LUT left distance-map holes")
    return table


#: dist_code 1..120 -> (dx, dy) 2D offsets; the pixel distance is
#: dx + dy * xsize, clamped to >= 1
_DIST_MAP = _build_dist_map()


# -- bit IO (LSB-first, per VP8L) --------------------------------------------


class _LsbReader:
    def __init__(self, data: bytes, byte_pos: int = 0):
        self.data = data
        self.pos = byte_pos * 8

    def bits(self, n: int) -> int:
        v = 0
        d = self.data
        p = self.pos
        if (p + n + 7) >> 3 > len(d):
            raise ValueError("webp: truncated bitstream")
        for i in range(n):
            v |= ((d[p >> 3] >> (p & 7)) & 1) << i
            p += 1
        self.pos = p
        return v

    def bit(self) -> int:
        return self.bits(1)

    def peek8(self) -> tuple[int, int]:
        """Up to 8 lookahead bits (LSB-first) WITHOUT consuming —
        the Huffman fast path's window; no byte stuffing in VP8L, so
        the window is two byte fetches, not a per-bit loop (this sits
        on the per-symbol hot path, 4-5 calls per literal pixel)."""
        d = self.data
        p = self.pos
        nbits = min(8, len(d) * 8 - p)
        if nbits <= 0:
            return 0, 0
        b = p >> 3
        chunk = d[b] | ((d[b + 1] << 8) if b + 1 < len(d) else 0)
        return (chunk >> (p & 7)) & ((1 << nbits) - 1), nbits


class _LsbWriter:
    def __init__(self):
        self.out = bytearray()
        self.bitpos = 0

    def bits(self, v: int, n: int) -> None:
        if v >> n:
            raise ValueError(
                f"webp writer: value {v} does not fit in {n} bits"
            )
        for i in range(n):
            if self.bitpos == 0:
                self.out.append(0)
            if (v >> i) & 1:
                self.out[-1] |= 1 << self.bitpos
            self.bitpos = (self.bitpos + 1) & 7

    def code(self, code: int, length: int) -> None:
        """Huffman codes are walked MSB-first by the decoder."""
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)


# -- canonical Huffman (DEFLATE ordering: by length, then symbol) ------------


class _Vp8lHuff:
    """Canonical code table plus an 8-bit primary LUT (indexed by the
    RAW LSB-first lookahead window: a code's stream bits arrive
    MSB-of-the-code first, so LUT index bit i is code bit len-1-i) —
    codes <= 8 bits decode with one indexed lookup."""

    __slots__ = ("codes", "lut")

    def __init__(self, codes: dict):
        self.codes = codes
        lut: list = [None] * 256
        for (ln, code), sym in codes.items():
            if ln <= 8:
                base = 0
                for i in range(ln):
                    base |= ((code >> (ln - 1 - i)) & 1) << i
                for filler in range(1 << (8 - ln)):
                    lut[base | (filler << ln)] = (sym, ln)
        self.lut = lut


def _canon_table(lengths: list[int]):
    """(('single', sym)) for a one-symbol code (reads 0 bits), else a
    complete :class:`_Vp8lHuff`; ValueError on over/under-full."""
    used = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
    if not used:
        raise ValueError("webp: empty huffman code")
    if len(used) == 1:
        return ("single", used[0][1])
    table = {}
    code = 0
    maxlen = max(ln for ln, _ in used)
    if maxlen > 15:
        raise ValueError("webp: huffman length > 15")
    kraft = 0
    for ln in range(1, maxlen + 1):
        for lsym, sym in sorted(u for u in used if u[0] == ln):
            table[(ln, code)] = sym
            code += 1
            kraft += 1 << (maxlen - ln)
        code <<= 1
    if kraft != 1 << maxlen:
        raise ValueError("webp: incomplete huffman code")
    return _Vp8lHuff(table)


def _canon_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """Encoder side: {sym: (length, code)} with the same ordering."""
    out = {}
    code = 0
    maxlen = max(lengths) if lengths else 0
    for ln in range(1, maxlen + 1):
        for sym, l in enumerate(lengths):
            if l == ln:
                out[sym] = (ln, code)
                code += 1
        code <<= 1
    return out


def _hdecode(r: _LsbReader, table) -> int:
    if isinstance(table, tuple):  # ('single', sym)
        return table[1]
    window, avail = r.peek8()
    if avail == 8:
        ent = table.lut[window]
        if ent is not None:
            sym, ln = ent
            r.pos += ln
            return sym
    codes = table.codes
    code = 0
    ln = 0
    while ln < 15:
        code = (code << 1) | r.bit()
        ln += 1
        sym = codes.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("webp: bad huffman code")


def _limited_lengths(freqs: list[int], limit: int) -> list[int]:
    """Complete (Kraft == 1) canonical code lengths <= limit. Standard
    heap Huffman, then clamp + integer-Kraft fixup (zlib-style)."""
    import heapq

    n = len(freqs)
    used = [i for i in range(n) if freqs[i] > 0]
    lengths = [0] * n
    if not used:
        return lengths
    if len(used) == 1:
        lengths[used[0]] = 1  # callers special-case single-symbol codes
        return lengths
    heap = [(freqs[i], i, (i,)) for i in used]
    heapq.heapify(heap)
    depth = {i: 0 for i in used}
    while len(heap) > 1:
        fa, _, sa = heapq.heappop(heap)
        fb, _, sb = heapq.heappop(heap)
        for s in sa + sb:
            depth[s] += 1
        heapq.heappush(heap, (fa + fb, min(sa + sb), sa + sb))
    for i in used:
        lengths[i] = min(depth[i], limit)
    unit = 1 << limit
    kraft = sum(unit >> lengths[i] for i in used)
    order = sorted(used, key=lambda i: freqs[i])  # rare symbols first
    while kraft > unit:  # over-subscribed: push rare symbols deeper
        for i in order:
            if lengths[i] < limit:
                kraft -= (unit >> lengths[i]) - (unit >> (lengths[i] + 1))
                lengths[i] += 1
                break
        else:
            raise ValueError("webp: cannot limit code lengths")
        if kraft <= unit:
            break
    for i in sorted(used, key=lambda i: -lengths[i]):  # re-complete
        while lengths[i] > 1 and kraft + (unit >> lengths[i]) <= unit:
            kraft += unit >> lengths[i]
            lengths[i] -= 1
    if kraft != unit:
        raise ValueError("webp: kraft fixup failed")
    return lengths


# -- code transmission (spec §5.2.2) -----------------------------------------


def _read_code_lengths(r: _LsbReader, alphabet_size: int) -> list[int]:
    num_codes = 4 + r.bits(4)
    clc = [0] * 19
    for i in range(num_codes):
        clc[_CLC_ORDER[i]] = r.bits(3)
    clc_table = _canon_table(clc)
    if r.bit():  # max_symbol cap: bound on DECODE OPERATIONS
        length_nbits = 2 + 2 * r.bits(3)
        max_ops = 2 + r.bits(length_nbits)
    else:
        max_ops = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size:
        if max_ops <= 0:
            break
        max_ops -= 1
        sym = _hdecode(r, clc_table)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev = sym
        else:
            if sym == 16:
                rep, fill = 3 + r.bits(2), prev
            elif sym == 17:
                rep, fill = 3 + r.bits(3), 0
            else:
                rep, fill = 11 + r.bits(7), 0
            if i + rep > alphabet_size:
                raise ValueError("webp: code length repeat overflow")
            for _ in range(rep):
                lengths[i] = fill
                i += 1
    return lengths


def _read_code(r: _LsbReader, alphabet_size: int):
    if r.bit():  # simple code: 1 or 2 symbols, each <= 8 bits
        num_symbols = r.bit() + 1
        first = r.bits(8) if r.bit() else r.bit()
        lengths = [0] * alphabet_size
        if num_symbols == 1:
            if first >= alphabet_size:
                raise ValueError("webp: simple code symbol out of range")
            return ("single", first)
        second = r.bits(8)
        if first >= alphabet_size or second >= alphabet_size:
            raise ValueError("webp: simple code symbol out of range")
        lengths[first] = lengths[second] = 1
        return _canon_table(lengths)
    return _canon_table(_read_code_lengths(r, alphabet_size))


def _write_code(w: _LsbWriter, lengths: list[int]) -> None:
    used = [s for s, ln in enumerate(lengths) if ln]
    if len(used) <= 2 and all(s < 256 for s in used) and used:
        w.bits(1, 1)  # simple
        w.bits(len(used) - 1, 1)
        if used[0] < 2:
            w.bits(0, 1)
            w.bits(used[0], 1)
        else:
            w.bits(1, 1)
            w.bits(used[0], 8)
        if len(used) == 2:
            w.bits(used[1], 8)
        return
    w.bits(0, 1)
    # tokenize lengths: literals 0..15 plus zero-run codes 17/18
    ops: list[tuple[int, int, int]] = []
    i = 0
    n = len(lengths)
    while i < n:
        if lengths[i] == 0:
            run = 0
            while i < n and lengths[i] == 0:
                run += 1
                i += 1
            while run >= 11:
                take = min(run, 138)
                ops.append((18, take - 11, 7))
                run -= take
            if run >= 3:
                ops.append((17, run - 3, 3))
                run = 0
            ops.extend((0, 0, 0) for _ in range(run))
        else:
            ops.append((lengths[i], 0, 0))
            i += 1
    freqs = [0] * 19
    for sym, _, _ in ops:
        freqs[sym] += 1
    clc = _limited_lengths(freqs, 7)
    if sum(1 for ln in clc if ln) == 1:  # single op kind: give it a mate
        clc[[i for i, ln in enumerate(clc) if ln][0]] = 1
        clc[0 if clc[0] == 0 else 1] = 1
    num_codes = max(
        4, 1 + max(j for j, sym in enumerate(_CLC_ORDER) if clc[sym])
    )
    w.bits(num_codes - 4, 4)
    for j in range(num_codes):
        w.bits(clc[_CLC_ORDER[j]], 3)
    w.bits(0, 1)  # no max_symbol cap
    codes = _canon_codes(clc)
    for sym, extra, ebits in ops:
        ln, code = codes[sym]
        w.code(code, ln)
        if ebits:
            w.bits(extra, ebits)


# -- LZ77 prefix coding (spec §5.2.3) ----------------------------------------


def _prefix_val(r: _LsbReader, prefix: int) -> int:
    if prefix < 4:
        return prefix + 1
    eb = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << eb
    return offset + r.bits(eb) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value >= 1 -> (prefix_code, extra_value, extra_bits)."""
    v = value - 1
    if v < 4:
        return v, 0, 0
    hb = v.bit_length() - 1
    b = (v >> (hb - 1)) & 1
    eb = hb - 1
    offset = (2 + b) << eb
    return 2 * hb + b, v - offset, eb


# -- color cache --------------------------------------------------------------


def _cache_key(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


def _argb(a: int, r: int, g: int, b: int) -> int:
    return (a << 24) | (r << 16) | (g << 8) | b


# -- spatially-coded image decode (recursive for meta/transform images) ------


def _decode_pixels(r: _LsbReader, w: int, h: int, level0: bool) -> np.ndarray:
    """(h*w, 4) int32 array, columns [a, r, g, b]."""
    cache_bits = 0
    cache = None
    if r.bit():
        cache_bits = r.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("webp: bad color cache size")
        cache = [0] * (1 << cache_bits)
    meta_bits = 0
    meta_idx = None
    ngroups = 1
    if level0 and r.bit():  # meta-Huffman entropy image
        meta_bits = r.bits(3) + 2
        mw = -(-w // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        mimg = _decode_pixels(r, mw, mh, False)
        meta_idx = ((mimg[:, 1].astype(np.int64) << 8) | mimg[:, 2]).reshape(
            mh, mw
        )
        ngroups = int(meta_idx.max()) + 1
    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(ngroups):
        groups.append((
            _read_code(r, green_size),
            _read_code(r, 256),
            _read_code(r, 256),
            _read_code(r, 256),
            _read_code(r, 40),
        ))
    n = w * h
    px = np.zeros((n, 4), dtype=np.int32)
    pos = 0
    grp = groups[0]
    while pos < n:
        if meta_idx is not None:
            x, y = pos % w, pos // w
            grp = groups[int(meta_idx[y >> meta_bits, x >> meta_bits])]
        s = _hdecode(r, grp[0])
        if s < 256:  # literal
            red = _hdecode(r, grp[1])
            blue = _hdecode(r, grp[2])
            alpha = _hdecode(r, grp[3])
            px[pos] = (alpha, red, s, blue)
            if cache is not None:
                v = _argb(alpha, red, s, blue)
                cache[_cache_key(v, cache_bits)] = v
            pos += 1
        elif s < 280:  # LZ77 backward reference
            length = _prefix_val(r, s - 256)
            dist_code = _prefix_val(r, _hdecode(r, grp[4]))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = max(dx + dy * w, 1)
            if dist > pos or pos + length > n:
                raise ValueError("webp: backref out of range")
            for _ in range(length):
                px[pos] = px[pos - dist]
                if cache is not None:
                    a_, r_, g_, b_ = (int(v) for v in px[pos])
                    v = _argb(a_, r_, g_, b_)
                    cache[_cache_key(v, cache_bits)] = v
                pos += 1
        else:  # color cache hit
            if cache is None:
                raise ValueError("webp: cache hit without cache")
            v = cache[s - 280]
            px[pos] = (v >> 24, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF)
            pos += 1
    return px


# -- transforms (inverse; spec §4) -------------------------------------------


def _avg2(a, b):
    return [(x + y) >> 1 for x, y in zip(a, b)]


def _clip(v):
    return 0 if v < 0 else (255 if v > 255 else v)


def _pred_value(mode, L, T, TL, TR):
    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2(_avg2(L, TR), T)
    if mode == 6:
        return _avg2(L, TL)
    if mode == 7:
        return _avg2(L, T)
    if mode == 8:
        return _avg2(TL, T)
    if mode == 9:
        return _avg2(T, TR)
    if mode == 10:
        return _avg2(_avg2(L, TL), _avg2(T, TR))
    if mode == 11:  # Select
        d = sum(abs(l - tl) - abs(t - tl) for l, t, tl in zip(L, T, TL))
        return T if d <= 0 else L
    if mode == 12:  # ClampAddSubtractFull
        return [_clip(l + t - tl) for l, t, tl in zip(L, T, TL)]
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(L, T)
        return [_clip(a + int((a - tl) / 2)) for a, tl in zip(ave, TL)]
    raise ValueError(f"webp: bad predictor mode {mode}")


def _predictor_neighbors(out, x, y, w):
    L = out[y, x - 1]
    T = out[y - 1, x]
    TL = out[y - 1, x - 1]
    # rightmost column: TR addresses the NEXT pixel in the contiguous
    # buffer, i.e. the leftmost, already-decoded pixel of the CURRENT row
    TR = out[y - 1, x + 1] if x + 1 < w else out[y, 0]
    return L, T, TL, TR


def _inv_predictor(px2d: np.ndarray, size_bits: int, timg: np.ndarray,
                   tw: int) -> np.ndarray:
    h, w = px2d.shape[:2]
    modes = timg[:, 2].reshape(-1, tw)  # green channel holds the mode
    out = np.zeros_like(px2d)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = out[0, x - 1]
            elif x == 0:
                pred = out[y - 1, 0]
            else:
                L, T, TL, TR = _predictor_neighbors(out, x, y, w)
                pred = _pred_value(
                    int(modes[y >> size_bits, x >> size_bits]),
                    [int(v) for v in L], [int(v) for v in T],
                    [int(v) for v in TL], [int(v) for v in TR],
                )
            for c in range(4):
                out[y, x, c] = (int(px2d[y, x, c]) + int(pred[c])) & 0xFF
    return out


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _cdelta(t: int, c: int) -> int:
    return (_s8(t) * _s8(c)) >> 5  # 3.5 fixed point, arithmetic shift


def _inv_color_transform(px2d, size_bits, timg, tw):
    h, w = px2d.shape[:2]
    g2r = timg[:, 3].reshape(-1, tw)  # blue channel
    g2b = timg[:, 2].reshape(-1, tw)  # green channel
    r2b = timg[:, 1].reshape(-1, tw)  # red channel
    out = px2d.copy()
    for y in range(h):
        ty = y >> size_bits
        for x in range(w):
            tx = x >> size_bits
            g = int(out[y, x, 2])
            red = (int(out[y, x, 1]) + _cdelta(int(g2r[ty, tx]), g)) & 0xFF
            blue = (
                int(out[y, x, 3])
                + _cdelta(int(g2b[ty, tx]), g)
                + _cdelta(int(r2b[ty, tx]), red)
            ) & 0xFF
            out[y, x, 1] = red
            out[y, x, 3] = blue
    return out


def _inv_subtract_green(px2d):
    out = px2d.copy()
    g = out[:, :, 2]
    out[:, :, 1] = (out[:, :, 1] + g) & 0xFF
    out[:, :, 3] = (out[:, :, 3] + g) & 0xFF
    return out


def _inv_color_index(px2d, packbits, palette, orig_w):
    h = px2d.shape[0]
    bitdepth = 8 >> packbits
    mask = (1 << bitdepth) - 1
    out = np.zeros((h, orig_w, 4), dtype=np.int32)
    green = px2d[:, :, 2]
    for y in range(h):
        for x in range(orig_w):
            b = int(green[y, x >> packbits])
            idx = (b >> ((x & ((1 << packbits) - 1)) * bitdepth)) & mask
            if idx >= len(palette):
                raise ValueError("webp: palette index out of range")
            out[y, x] = palette[idx]
    return out


# -- VP8L top-level -----------------------------------------------------------


def _decode_vp8l(data: bytes) -> np.ndarray:
    if not data or data[0] != 0x2F:
        raise ValueError("webp: bad VP8L signature")
    r = _LsbReader(data, 1)
    w = r.bits(14) + 1
    h = r.bits(14) + 1
    r.bit()  # alpha hint
    if r.bits(3) != 0:
        raise ValueError("webp: unsupported VP8L version")
    px = _decode_lossless_body(r, w, h)
    # ARGB columns -> HxWx4 RGBA
    return px[:, :, [1, 2, 3, 0]].astype(np.uint8)


def _decode_lossless_body(r: _LsbReader, w: int, h: int) -> np.ndarray:
    """Transforms + entropy-coded pixels (everything after the VP8L
    header) → HxWx4 int32 ARGB. Shared by the VP8L image path and the
    ALPH chunk's headerless lossless alpha stream (container spec
    'Alpha' §: compression method 1)."""
    transforms = []
    seen = set()
    xsize = w
    while r.bit():
        ttype = r.bits(2)
        if ttype in seen:
            raise ValueError("webp: duplicate transform")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / color transform
            size_bits = r.bits(3) + 2
            tw = -(-xsize // (1 << size_bits))
            th = -(-h // (1 << size_bits))
            timg = _decode_pixels(r, tw, th, False)
            transforms.append((ttype, size_bits, timg, tw))
        elif ttype == 2:
            transforms.append((2, None, None, None))
        else:  # color indexing
            psize = r.bits(8) + 1
            pimg = _decode_pixels(r, psize, 1, False)
            palette = np.cumsum(pimg, axis=0) & 0xFF  # delta-coded
            if psize <= 2:
                packbits = 3
            elif psize <= 4:
                packbits = 2
            elif psize <= 16:
                packbits = 1
            else:
                packbits = 0
            orig = xsize
            xsize = -(-xsize // (1 << packbits))
            transforms.append((3, packbits, palette, orig))
    px = _decode_pixels(r, xsize, h, True).reshape(h, xsize, 4)
    for t in reversed(transforms):
        ttype = t[0]
        if ttype == 0:
            px = _inv_predictor(px, t[1], t[2], t[3])
        elif ttype == 1:
            px = _inv_color_transform(px, t[1], t[2], t[3])
        elif ttype == 2:
            px = _inv_subtract_green(px)
        else:
            px = _inv_color_index(px, t[1], t[2], t[3])
    return px


def _decode_alpha(data: bytes, w: int, h: int) -> np.ndarray:
    """ALPH chunk → (h, w) uint8 alpha plane (container spec 'Alpha
    chunk'): 1 header byte — compression (0 raw / 1 lossless), filter
    (none/horizontal/vertical/gradient), pre-processing (encode-side
    level reduction; nothing to undo) — then either raw bytes or a
    HEADERLESS lossless stream whose green channel carries alpha."""
    if not data:
        raise ValueError("webp: empty ALPH chunk")
    head = data[0]
    method = head & 3
    filt = (head >> 2) & 3
    if method == 0:
        if len(data) < 1 + w * h:
            raise ValueError("webp: short raw alpha")
        plane = np.frombuffer(
            data[1:1 + w * h], dtype=np.uint8
        ).reshape(h, w).astype(np.int32)
    elif method == 1:
        r = _LsbReader(data, 1)
        px = _decode_lossless_body(r, w, h)
        plane = px[:, :, 2].astype(np.int32)  # green carries alpha
    else:
        raise ValueError(f"webp: bad alpha compression {method}")
    if filt:
        out = np.zeros((h, w), dtype=np.int32)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0
                elif filt == 1:  # horizontal
                    pred = out[y, x - 1] if x > 0 else out[y - 1, x]
                elif filt == 2:  # vertical
                    pred = out[y - 1, x] if y > 0 else out[y, x - 1]
                else:  # gradient
                    if y == 0:
                        pred = out[y, x - 1]
                    elif x == 0:
                        pred = out[y - 1, x]
                    else:
                        g = (
                            out[y, x - 1] + out[y - 1, x]
                            - out[y - 1, x - 1]
                        )
                        pred = 0 if g < 0 else (255 if g > 255 else g)
                out[y, x] = (plane[y, x] + pred) & 0xFF
        plane = out
    return plane.astype(np.uint8)


def _riff_chunks(payload: bytes):
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("webp: not a RIFF WEBP container")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        yield tag, payload[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are even-padded


@_coerce_codec_errors
def decode_webp(payload: bytes) -> np.ndarray:
    """HxWx4 uint8 RGBA from a still WebP — lossless (VP8L) or lossy
    (VP8 keyframe + optional ALPH alpha), both decoded natively. The
    lossy path runs the RFC 6386 intra decoder (`vp8.py`), libwebp's
    fancy 4:2:0 upsampler and its fixed-point BT.601 conversion —
    bit-exact against WebPDecodeRGBA (tests/test_vp8.py). Animations
    go through webp_frames/decode_webp_frame instead."""
    lossy = alph = None
    for tag, data in _riff_chunks(payload):
        if tag == b"VP8L":
            return _decode_vp8l(data)
        if tag == b"VP8 " and lossy is None:
            lossy = data
        elif tag == b"ALPH":
            alph = data
    if lossy is None:
        raise ValueError("webp: no VP8L/VP8 image chunk")
    from kenshin_spark.multimodal import vp8

    Y, U, V = vp8.decode_frame(lossy)
    h, w = Y.shape
    rgb = vp8.yuv_to_rgb(
        Y, vp8.fancy_upsample(U, w, h), vp8.fancy_upsample(V, w, h)
    )
    if alph is not None:
        a = _decode_alpha(alph, w, h)
    else:
        a = np.full((h, w), 255, dtype=np.uint8)
    return np.concatenate([rgb, a[:, :, None]], axis=2)


@_coerce_codec_errors
def webp_info(payload: bytes) -> tuple[int, int]:
    """(width, height) from VP8L, VP8X, or lossy-VP8 headers — no
    pixel decode, so info works even for containers routed to PIL."""
    for tag, data in _riff_chunks(payload):
        if tag == b"VP8L":
            if not data or data[0] != 0x2F:
                raise ValueError("webp: bad VP8L signature")
            r = _LsbReader(data, 1)
            return r.bits(14) + 1, r.bits(14) + 1
        if tag == b"VP8X":
            w = 1 + int.from_bytes(data[4:7], "little")
            h = 1 + int.from_bytes(data[7:10], "little")
            return w, h
        if tag == b"VP8 ":
            if data[3:6] != b"\x9d\x01\x2a":
                raise ValueError("webp: bad VP8 keyframe")
            w = struct.unpack("<H", data[6:8])[0] & 0x3FFF
            h = struct.unpack("<H", data[8:10])[0] & 0x3FFF
            return w, h
    raise ValueError("webp: no image chunk")

# -- encoder (test vehicle: literals + optional RLE/cache/transforms) ---------


def _to_argb_array(arr: np.ndarray) -> np.ndarray:
    """HxW / HxWx{1,3,4} uint8 -> (h, w, 4) int32 [a, r, g, b]."""
    arr = np.asarray(arr)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    out = np.zeros((h, w, 4), dtype=np.int32)
    if ch == 1:
        out[:, :, 1] = out[:, :, 2] = out[:, :, 3] = arr[:, :, 0]
        out[:, :, 0] = 255
    elif ch == 2:  # gray+alpha (PNG color type 4 decodes to HxWx2)
        out[:, :, 1] = out[:, :, 2] = out[:, :, 3] = arr[:, :, 0]
        out[:, :, 0] = arr[:, :, 1]
    elif ch == 3:
        out[:, :, 1:4] = arr
        out[:, :, 0] = 255
    elif ch == 4:
        out[:, :, 1:4] = arr[:, :, :3]
        out[:, :, 0] = arr[:, :, 3]
    else:
        raise ValueError(f"webp: unsupported channel count {ch}")
    return out


def _fwd_subtract_green(px2d):
    out = px2d.copy()
    g = out[:, :, 2]
    out[:, :, 1] = (out[:, :, 1] - g) & 0xFF
    out[:, :, 3] = (out[:, :, 3] - g) & 0xFF
    return out


def _fwd_predictor(px2d, mode: int):
    """Residuals for ONE fixed predictor mode over a single tile
    (size_bits sized to cover the whole image) — the exact mirror of
    ``_inv_predictor``'s edge rules, so roundtrips pin every mode."""
    h, w = px2d.shape[:2]
    res = np.zeros_like(px2d)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = px2d[0, x - 1]
            elif x == 0:
                pred = px2d[y - 1, 0]
            else:
                L, T, TL, TR = _predictor_neighbors(px2d, x, y, w)
                pred = _pred_value(
                    mode,
                    [int(v) for v in L], [int(v) for v in T],
                    [int(v) for v in TL], [int(v) for v in TR],
                )
            for c in range(4):
                res[y, x, c] = (int(px2d[y, x, c]) - int(pred[c])) & 0xFF
    return res


def _fwd_color_transform(px2d, g2r: int, g2b: int, r2b: int):
    out = px2d.copy()
    h, w = out.shape[:2]
    for y in range(h):
        for x in range(w):
            g = int(out[y, x, 2])
            red = int(out[y, x, 1])
            blue = int(out[y, x, 3])
            new_red = (red - _cdelta(g2r, g)) & 0xFF
            new_blue = (blue - _cdelta(g2b, g) - _cdelta(r2b, red)) & 0xFF
            out[y, x, 1] = new_red
            out[y, x, 3] = new_blue
    return out


def _write_subimage_all_zero(w: _LsbWriter) -> None:
    """Entropy sub-image whose every pixel is ARGB 0 — five
    single-symbol codes, then 0 bits per pixel (meta group 0)."""
    w.bits(0, 1)  # no color cache
    for _ in range(5):
        w.bits(1, 1)  # simple
        w.bits(0, 1)  # 1 symbol
        w.bits(0, 1)  # 1-bit first symbol
        w.bits(0, 1)  # symbol 0


def _write_subimage_split(w: _LsbWriter, mw: int, mh: int,
                          split_at: int) -> None:
    """Entropy sub-image assigning meta group 0 to tile columns left of
    ``split_at`` and group 1 to the rest (red=0, green=group): one
    2-symbol simple code for green, single-symbol codes elsewhere, then
    one green bit per tile."""
    w.bits(0, 1)  # no color cache
    # green: simple 2-symbol code {0, 1}
    w.bits(1, 1)
    w.bits(1, 1)  # 2 symbols
    w.bits(0, 1)  # 1-bit first symbol
    w.bits(0, 1)  # symbol 0
    w.bits(1, 8)  # symbol 1
    for _ in range(4):  # red / blue / alpha / distance: single symbol 0
        w.bits(1, 1)
        w.bits(0, 1)
        w.bits(0, 1)
        w.bits(0, 1)
    for _ in range(mh):
        for tx in range(mw):
            # canonical: symbol 0 -> code 0, symbol 1 -> code 1
            w.code(1 if tx >= split_at else 0, 1)


def _dist_code_for(distance: int, width: int) -> int:
    """Smallest dist_code for ``distance``: a 2D neighbor code (1..120)
    when some map entry lands on it at this width, else the plain form
    ``distance + 120`` — mirrors the decoder's mapping exactly, and
    makes roundtrips exercise the 2D table."""
    for idx, (dx, dy) in enumerate(_DIST_MAP):
        if max(dx + dy * width, 1) == distance:
            return idx + 1
    return distance + 120


def _emit_spatial(w: _LsbWriter, px: np.ndarray, width: int,
                  use_cache: int, use_rle: bool, use_meta,
                  level0: bool) -> None:
    """Tokenize (cache-aware) then emit one spatially-coded image.
    ``use_meta``: falsy = no entropy image; True = all-zero 1-group
    image; ``"split"`` = two REAL groups (left/right tile halves, each
    with its own five codes) so the decoder's per-pixel group selection
    is exercised with genuinely different tables."""
    n = px.shape[0]
    height = n // width
    split = use_meta == "split"
    mw = -(-width // 4)
    mh = -(-height // 4)
    split_at = mw // 2 if split else mw  # tiles >= split_at -> group 1
    ngroups = 2 if split and split_at < mw else 1

    def group_of(pos: int) -> int:
        if ngroups == 1:
            return 0
        return 1 if ((pos % width) >> 2) >= split_at else 0

    cache = [None] * (1 << use_cache) if use_cache else None
    # the RLE distances are a two-element set; map each to its dist
    # code once instead of scanning _DIST_MAP per copy token
    dist_codes = {d: _dist_code_for(d, width) for d in {1, width}}
    tokens = []  # (group, token); copy tokens carry the DIST CODE
    pos = 0
    while pos < n:
        a, red, g, b = (int(v) for v in px[pos])
        grp = group_of(pos)
        # RLE: prefer the longer of a horizontal (distance 1) and a
        # vertical (distance == width) run; vertical backrefs exercise
        # the 2D distance map's (0, 1) entry
        best_run, best_dist = 0, 1
        if use_rle:
            for dist in (1, width):
                if pos < dist:
                    continue
                run = 0
                while (pos + run < n
                       and (px[pos + run] == px[pos + run - dist]).all()
                       and run < 4096):
                    run += 1
                if run > best_run:
                    best_run, best_dist = run, dist
        if best_run >= 2:
            tokens.append((grp, ("copy", best_run, dist_codes[best_dist])))
            if cache is not None:
                for i in range(best_run):
                    aa, rr, gg, bb = (int(v) for v in px[pos + i])
                    v32 = _argb(aa, rr, gg, bb)
                    cache[_cache_key(v32, use_cache)] = v32
            pos += best_run
            continue
        v32 = _argb(a, red, g, b)
        if cache is not None:
            key = _cache_key(v32, use_cache)
            if cache[key] == v32:
                tokens.append((grp, ("cache", key)))
                pos += 1
                continue
            cache[key] = v32
        tokens.append((grp, ("lit", a, red, g, b)))
        pos += 1
    # histograms over the 5 alphabets, per meta group
    green_size = 256 + 24 + ((1 << use_cache) if use_cache else 0)
    hists = [
        [[0] * green_size, [0] * 256, [0] * 256, [0] * 256, [0] * 40]
        for _ in range(ngroups)
    ]
    for grp, t in tokens:
        fg, fr, fb, fa, fd = hists[grp]
        if t[0] == "lit":
            _, a, red, g, b = t
            fg[g] += 1
            fr[red] += 1
            fb[b] += 1
            fa[a] += 1
        elif t[0] == "copy":
            lp, _, _ = _prefix_encode(t[1])
            fg[256 + lp] += 1
            dp, _, _ = _prefix_encode(t[2])  # token carries the dist code
            fd[dp] += 1
        else:
            fg[280 + t[1]] += 1
    # header bits for this image
    if use_cache:
        w.bits(1, 1)
        w.bits(use_cache, 4)
    else:
        w.bits(0, 1)
    if level0:
        if use_meta:
            w.bits(1, 1)
            w.bits(0, 3)  # huffman_bits = 2 -> 4px tiles
            if ngroups == 2:
                _write_subimage_split(w, mw, mh, split_at)
            else:
                _write_subimage_all_zero(w)
        else:
            w.bits(0, 1)
    group_codes = []
    for grp in range(ngroups):
        codes = []
        for freqs, size in zip(hists[grp],
                               (green_size, 256, 256, 256, 40)):
            if not any(freqs):
                freqs = list(freqs)
                freqs[0] = 1  # unused alphabet: 1-symbol placeholder
            lengths = _limited_lengths(freqs, 15)
            used = [s for s, ln in enumerate(lengths) if ln]
            if len(used) == 1 and used[0] >= 256:
                # simple codes carry <=8-bit symbols only; add a mate
                lengths[0] = 1
                lengths[used[0]] = 1
            _write_code(w, lengths)
            codes.append(_canon_codes(lengths) if len(
                [s for s, ln in enumerate(lengths) if ln]) > 1 else
                {[s for s, ln in enumerate(lengths) if ln][0]: (0, 0)})
        group_codes.append(codes)
    for grp, t in tokens:
        cg, cr, cb, ca, cd = group_codes[grp]
        if t[0] == "lit":
            _, a, red, g, b = t
            for sym, tbl in ((g, cg), (red, cr), (b, cb), (a, ca)):
                ln, code = tbl[sym]
                w.code(code, ln)
        elif t[0] == "copy":
            lp, lev, lbits = _prefix_encode(t[1])
            ln, code = cg[256 + lp]
            w.code(code, ln)
            if lbits:
                w.bits(lev, lbits)
            dp, dev, dbits = _prefix_encode(t[2])
            ln, code = cd[dp]
            w.code(code, ln)
            if dbits:
                w.bits(dev, dbits)
        else:
            ln, code = cg[280 + t[1]]
            w.code(code, ln)


def encode_webp_lossless(arr, use_cache: int = 0, use_rle: bool = True,
                         predictor: int | None = None,
                         color_transform: tuple[int, int, int] | None = None,
                         subtract_green: bool = False,
                         use_meta=False,
                         palette: bool = False) -> bytes:
    """Lossless WebP (VP8L) writer. Transforms are single-tile /
    fixed-parameter — enough to make every decoder transform path a
    lossless roundtrip. ``use_cache`` is the color-cache bit width
    (0 = off); ``use_rle`` emits distance-1 backward references for
    pixel runs; ``palette`` color-indexes (<=256 distinct colors, with
    1/2/4-bit pixel packing for small palettes); ``use_meta`` emits a
    meta-Huffman entropy image (True = trivial 1-group, ``"split"`` =
    two real groups split at the middle tile column)."""
    px2d = _to_argb_array(arr)
    h, width = px2d.shape[:2]
    if width > 1 << 14 or h > 1 << 14:
        raise ValueError("webp: image too large for VP8L header")
    w = _LsbWriter()
    w.bits(width - 1, 14)
    w.bits(h - 1, 14)
    w.bits(int((px2d[:, :, 0] != 255).any()), 1)  # alpha hint
    w.bits(0, 3)  # version
    # transforms, in read order; decode inverts in reverse order, so
    # the forward pipeline below applies them in the SAME order
    # the 3-bit wire field caps size_bits at 9 (512-px tiles); wider
    # images emit a genuinely multi-tile transform image (constant
    # mode replicated per tile) instead of silently truncating the
    # field (ADVICE r9: _LsbWriter.bits used to drop the high bits)
    size_bits = min(9, max(2, max(width - 1, h - 1).bit_length()))
    tile_w = -(-width // (1 << size_bits))
    tile_h = -(-h // (1 << size_bits))

    def _tile_image(argb_row: list[int]) -> np.ndarray:
        tiles = np.zeros((tile_w * tile_h, 4), dtype=np.int32)
        tiles[:, :] = argb_row
        return tiles

    if predictor is not None:
        w.bits(1, 1)
        w.bits(0, 2)
        w.bits(size_bits - 2, 3)
        # green channel carries the mode
        _emit_spatial(w, _tile_image([0, 0, predictor, 0]), tile_w,
                      0, False, False, level0=False)
        px2d = _fwd_predictor(px2d, predictor)
    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        w.bits(1, 1)
        w.bits(1, 2)
        w.bits(size_bits - 2, 3)
        # channels: [alpha, red, green, blue] = [0, r2b, g2b, g2r]
        _emit_spatial(w, _tile_image([0, r2b, g2b, g2r]), tile_w,
                      0, False, False, level0=False)
        px2d = _fwd_color_transform(px2d, g2r, g2b, r2b)
    if subtract_green:
        w.bits(1, 1)
        w.bits(2, 2)
        px2d = _fwd_subtract_green(px2d)
    coded_w = width
    if palette:
        colors: list[tuple[int, int, int, int]] = []
        index = {}
        idx2d = np.zeros((h, width), dtype=np.int32)
        for y in range(h):
            for x in range(width):
                c = tuple(int(v) for v in px2d[y, x])
                if c not in index:
                    index[c] = len(colors)
                    colors.append(c)
                idx2d[y, x] = index[c]
        psize = len(colors)
        if psize > 256:
            raise ValueError("webp: palette needs <= 256 distinct colors")
        w.bits(1, 1)
        w.bits(3, 2)
        w.bits(psize - 1, 8)
        deltas = np.zeros((psize, 4), dtype=np.int32)
        prev = (0, 0, 0, 0)
        for i, c in enumerate(colors):  # delta-coded palette entries
            deltas[i] = [(a - b) & 0xFF for a, b in zip(c, prev)]
            prev = c
        _emit_spatial(w, deltas, psize, 0, False, False, level0=False)
        if psize <= 2:
            packbits = 3
        elif psize <= 4:
            packbits = 2
        elif psize <= 16:
            packbits = 1
        else:
            packbits = 0
        bitdepth = 8 >> packbits
        ppb = 1 << packbits
        coded_w = -(-width // ppb)
        packed = np.zeros((h, coded_w, 4), dtype=np.int32)
        for y in range(h):
            for x in range(width):
                packed[y, x >> packbits, 2] |= idx2d[y, x] << (
                    (x & (ppb - 1)) * bitdepth
                )
        px2d = packed
    w.bits(0, 1)  # end of transforms
    _emit_spatial(
        w, px2d.reshape(-1, 4), coded_w, use_cache, use_rle, use_meta,
        level0=True,
    )
    data = bytes([0x2F]) + bytes(w.out)
    chunk = b"VP8L" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

# -- animated WebP (VP8X + ANIM/ANMF container) -------------------------------
#
# Frame-level parsing is header work (offsets/dims/durations from ANMF
# chunk headers), and frames whose payload is VP8L decode natively via
# the codec above — which makes video-style frame sampling REAL for
# animated lossless WebP instead of the deterministic fake the other
# video containers get. Lossy (VP8) frames still parse (metadata) but
# their pixels route to the PIL seam like any lossy payload.


def _chunk_bytes(tag: bytes, body: bytes) -> bytes:
    out = tag + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        out += b"\x00"
    return out


@_coerce_codec_errors
def webp_frames(payload: bytes) -> list[dict]:
    """ANMF frame table of an animated WebP: one dict per frame with
    ``x, y, w, h, duration_ms, kind`` ('vp8l' | 'vp8') and the frame's
    raw image-chunk ``data`` (the VP8L/VP8 chunk payload). Empty list
    for a non-animated container."""
    frames = []
    for tag, data in _riff_chunks(payload):
        if tag != b"ANMF":
            continue
        if len(data) < 16:
            raise ValueError("webp: truncated ANMF header")
        x2 = int.from_bytes(data[0:3], "little")
        y2 = int.from_bytes(data[3:6], "little")
        w = 1 + int.from_bytes(data[6:9], "little")
        h = 1 + int.from_bytes(data[9:12], "little")
        dur = int.from_bytes(data[12:15], "little")
        sub = data[16:]
        pos = 0
        kind, img, alph = None, None, None
        while pos + 8 <= len(sub):
            t = sub[pos:pos + 4]
            (size,) = struct.unpack("<I", sub[pos + 4:pos + 8])
            body = sub[pos + 8:pos + 8 + size]
            if t == b"VP8L":
                kind, img = "vp8l", body
                break
            if t == b"VP8 ":
                kind, img = "vp8", body
                break
            if t == b"ALPH":
                alph = body  # precedes the lossy image chunk
            pos += 8 + size + (size & 1)
        if kind is None:
            raise ValueError("webp: ANMF frame without image chunk")
        frames.append({
            "x": 2 * x2, "y": 2 * y2, "w": w, "h": h,
            "duration_ms": dur, "kind": kind, "data": img,
            "alpha": alph,
        })
    return frames


@_coerce_codec_errors
def decode_webp_frame(frame: dict) -> np.ndarray:
    """HxWx4 RGBA pixels of one ``webp_frames`` entry — VP8L and
    lossy VP8 (with per-frame ALPH alpha) both decode natively."""
    if frame["kind"] == "vp8l":
        return _decode_vp8l(frame["data"])
    from kenshin_spark.multimodal import vp8

    Y, U, V = vp8.decode_frame(frame["data"])
    h, w = Y.shape
    rgb = vp8.yuv_to_rgb(
        Y, vp8.fancy_upsample(U, w, h), vp8.fancy_upsample(V, w, h)
    )
    if frame.get("alpha") is not None:
        a = _decode_alpha(frame["alpha"], w, h)
    else:
        a = np.full((h, w), 255, dtype=np.uint8)
    return np.concatenate([rgb, a[:, :, None]], axis=2)


def encode_webp_animation(frames, loop: int = 0) -> bytes:
    """Animated WebP writer (test vehicle for the frame parser):
    ``frames`` is a list of ``(array, duration_ms)``; every frame is
    VP8L-coded full-canvas at (0, 0)."""
    if not frames:
        raise ValueError("webp: animation needs at least one frame")
    first = _to_argb_array(frames[0][0])
    h, w = first.shape[:2]
    vp8x = bytes([0x02]) + bytes(3)  # animation flag + reserved
    vp8x += (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    body = _chunk_bytes(b"VP8X", vp8x)
    body += _chunk_bytes(b"ANIM", bytes(4) + struct.pack("<H", loop))
    for arr, dur in frames:
        px = _to_argb_array(arr)
        fh, fw = px.shape[:2]
        riff = encode_webp_lossless(arr)
        vp8l_len = struct.unpack("<I", riff[16:20])[0]
        vp8l = riff[20:20 + vp8l_len]
        anmf = (
            bytes(3) + bytes(3)  # x/2, y/2 = 0
            + (fw - 1).to_bytes(3, "little")
            + (fh - 1).to_bytes(3, "little")
            + int(dur).to_bytes(3, "little")
            + bytes([0])  # no blend, dispose-to-none
            + _chunk_bytes(b"VP8L", vp8l)
        )
        body += _chunk_bytes(b"ANMF", anmf)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body
