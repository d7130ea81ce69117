"""VP8 keyframe reconstruction: intra prediction (RFC 6386 §12),
inverse transforms (§14.3-14.4), and the in-loop deblocking filter
(§15) — the pixel half of ``vp8.py``.

Prediction reads UNFILTERED neighbor pixels (saved top-line/left-column
buffers), while the displayed frame is loop-filtered afterwards — the
same split every conformant decoder makes. Edge conventions: a missing
above row predicts as 127 (including above-left and above-right), a
missing left column as 129 (and the above-left corner is 129 when only
the left is missing). The famous B_PRED quirk is kept: right-column
subblocks always take their above-right pixels from the macroblock's
OWN top row (replicated down the 4-row bands), never from the
neighbor's reconstruction.
"""

from __future__ import annotations

import numpy as np


def _mul1(a: int) -> int:
    return ((a * 20091) >> 16) + a


def _mul2(a: int) -> int:
    return (a * 35468) >> 16


def idct4x4_add(coeffs, base, dst, dy, dx) -> None:
    """§14.3 inverse DCT of one 4x4 block, added into dst at
    (dy, dx) with clipping (libwebp TransformOne ordering)."""
    tmp = [0] * 16
    for i in range(4):
        a = int(coeffs[base + i]) + int(coeffs[base + 8 + i])
        b = int(coeffs[base + i]) - int(coeffs[base + 8 + i])
        c = _mul2(int(coeffs[base + 4 + i])) - _mul1(
            int(coeffs[base + 12 + i]))
        d = _mul1(int(coeffs[base + 4 + i])) + _mul2(
            int(coeffs[base + 12 + i]))
        tmp[4 * i + 0] = a + d
        tmp[4 * i + 1] = b + c
        tmp[4 * i + 2] = b - c
        tmp[4 * i + 3] = a - d
    for i in range(4):
        dc = tmp[i] + 4
        a = dc + tmp[8 + i]
        b = dc - tmp[8 + i]
        c = _mul2(tmp[4 + i]) - _mul1(tmp[12 + i])
        d = _mul1(tmp[4 + i]) + _mul2(tmp[12 + i])
        row = dst[dy + i]
        for x, v in ((0, a + d), (1, b + c), (2, b - c), (3, a - d)):
            px = int(row[dx + x]) + (v >> 3)
            row[dx + x] = 0 if px < 0 else (255 if px > 255 else px)


def iwht4x4(coeffs, base, out, stride16=16) -> None:
    """§14.4 inverse Walsh-Hadamard: scatters the 16 luma DC values
    into out[b * 16] for b = 0..15 (libwebp TransformWHT)."""
    tmp = [0] * 16
    for i in range(4):
        a0 = int(coeffs[base + i]) + int(coeffs[base + 12 + i])
        a1 = int(coeffs[base + 4 + i]) + int(coeffs[base + 8 + i])
        a2 = int(coeffs[base + 4 + i]) - int(coeffs[base + 8 + i])
        a3 = int(coeffs[base + i]) - int(coeffs[base + 12 + i])
        tmp[0 + i] = a0 + a1
        tmp[8 + i] = a0 - a1
        tmp[4 + i] = a3 + a2
        tmp[12 + i] = a3 - a2
    for i in range(4):
        dc = tmp[0 + i * 4] + 3
        a0 = dc + tmp[3 + i * 4]
        a1 = tmp[1 + i * 4] + tmp[2 + i * 4]
        a2 = tmp[1 + i * 4] - tmp[2 + i * 4]
        a3 = dc - tmp[3 + i * 4]
        out[(4 * i + 0) * stride16] = (a0 + a1) >> 3
        out[(4 * i + 1) * stride16] = (a3 + a2) >> 3
        out[(4 * i + 2) * stride16] = (a0 - a1) >> 3
        out[(4 * i + 3) * stride16] = (a3 - a2) >> 3


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _pred_dc(S, y0, x0, n, has_above, has_left):
    if has_above and has_left:
        s = int(sum(S[y0 - 1, x0:x0 + n])) + int(sum(S[y0:y0 + n, x0 - 1]))
        dc = (s + n) >> _log2(2 * n)
    elif has_above:
        dc = (int(sum(S[y0 - 1, x0:x0 + n])) + (n >> 1)) >> _log2(n)
    elif has_left:
        dc = (int(sum(S[y0:y0 + n, x0 - 1])) + (n >> 1)) >> _log2(n)
    else:
        dc = 128
    S[y0:y0 + n, x0:x0 + n] = dc


def _log2(n):
    return {4: 2, 8: 3, 16: 4, 32: 5}[n]


def _pred_tm(S, y0, x0, n):
    tl = int(S[y0 - 1, x0 - 1])
    above = S[y0 - 1, x0:x0 + n].astype(np.int32)
    left = S[y0:y0 + n, x0 - 1].astype(np.int32)
    blk = left[:, None] + above[None, :] - tl
    S[y0:y0 + n, x0:x0 + n] = np.clip(blk, 0, 255).astype(np.uint8)


def _pred_block(S, y0, x0, n, mode, has_above, has_left):
    """16x16 / 8x8 whole-block modes: 0 DC, 1 V, 2 H, 3 TM."""
    if mode == 0:
        _pred_dc(S, y0, x0, n, has_above, has_left)
    elif mode == 1:
        S[y0:y0 + n, x0:x0 + n] = S[y0 - 1, x0:x0 + n][None, :]
    elif mode == 2:
        S[y0:y0 + n, x0:x0 + n] = S[y0:y0 + n, x0 - 1][:, None]
    else:
        _pred_tm(S, y0, x0, n)


def _pred_b(S, y0, x0, mode):
    """The ten 4x4 B_PRED modes (§12.3, libwebp dsp/dec.c naming).
    Neighbors: X=above-left, A..D=above, E..H=above-right, I..L=left."""
    X = int(S[y0 - 1, x0 - 1])
    A, B, C, D = (int(v) for v in S[y0 - 1, x0:x0 + 4])
    E, F, G, H = (int(v) for v in S[y0 - 1, x0 + 4:x0 + 8])
    I, J, K, L = (int(v) for v in S[y0:y0 + 4, x0 - 1])
    o = np.empty((4, 4), dtype=np.int32)
    if mode == 0:  # B_DC
        o[:] = (A + B + C + D + I + J + K + L + 4) >> 3
    elif mode == 1:  # B_TM
        av = np.array([A, B, C, D], dtype=np.int32)
        lf = np.array([I, J, K, L], dtype=np.int32)
        o[:] = np.clip(lf[:, None] + av[None, :] - X, 0, 255)
    elif mode == 2:  # B_VE
        row = [_avg3(X, A, B), _avg3(A, B, C), _avg3(B, C, D),
               _avg3(C, D, E)]
        o[:] = np.array(row, dtype=np.int32)[None, :]
    elif mode == 3:  # B_HE
        col = [_avg3(X, I, J), _avg3(I, J, K), _avg3(J, K, L),
               _avg3(K, L, L)]
        o[:] = np.array(col, dtype=np.int32)[:, None]
    elif mode == 4:  # B_LD (down-left)
        o[0, 0] = _avg3(A, B, C)
        o[0, 1] = o[1, 0] = _avg3(B, C, D)
        o[0, 2] = o[1, 1] = o[2, 0] = _avg3(C, D, E)
        o[0, 3] = o[1, 2] = o[2, 1] = o[3, 0] = _avg3(D, E, F)
        o[1, 3] = o[2, 2] = o[3, 1] = _avg3(E, F, G)
        o[2, 3] = o[3, 2] = _avg3(F, G, H)
        o[3, 3] = _avg3(G, H, H)
    elif mode == 5:  # B_RD (down-right)
        o[3, 0] = _avg3(J, K, L)
        o[2, 0] = o[3, 1] = _avg3(I, J, K)
        o[1, 0] = o[2, 1] = o[3, 2] = _avg3(X, I, J)
        o[0, 0] = o[1, 1] = o[2, 2] = o[3, 3] = _avg3(A, X, I)
        o[0, 1] = o[1, 2] = o[2, 3] = _avg3(B, A, X)
        o[0, 2] = o[1, 3] = _avg3(C, B, A)
        o[0, 3] = _avg3(D, C, B)
    elif mode == 6:  # B_VR (vertical-right)
        o[0, 0] = o[2, 1] = _avg2(X, A)
        o[0, 1] = o[2, 2] = _avg2(A, B)
        o[0, 2] = o[2, 3] = _avg2(B, C)
        o[0, 3] = _avg2(C, D)
        o[3, 0] = _avg3(K, J, I)
        o[2, 0] = _avg3(J, I, X)
        o[1, 0] = o[3, 1] = _avg3(I, X, A)
        o[1, 1] = o[3, 2] = _avg3(X, A, B)
        o[1, 2] = o[3, 3] = _avg3(A, B, C)
        o[1, 3] = _avg3(B, C, D)
    elif mode == 7:  # B_VL (vertical-left)
        o[0, 0] = _avg2(A, B)
        o[0, 1] = o[2, 0] = _avg2(B, C)
        o[0, 2] = o[2, 1] = _avg2(C, D)
        o[0, 3] = o[2, 2] = _avg2(D, E)
        o[1, 0] = _avg3(A, B, C)
        o[1, 1] = o[3, 0] = _avg3(B, C, D)
        o[1, 2] = o[3, 1] = _avg3(C, D, E)
        o[1, 3] = o[3, 2] = _avg3(D, E, F)
        o[2, 3] = _avg3(E, F, G)
        o[3, 3] = _avg3(F, G, H)
    elif mode == 8:  # B_HD (horizontal-down)
        o[0, 0] = o[1, 2] = _avg2(I, X)
        o[1, 0] = o[2, 2] = _avg2(J, I)
        o[2, 0] = o[3, 2] = _avg2(K, J)
        o[3, 0] = _avg2(L, K)
        o[0, 3] = _avg3(A, B, C)
        o[0, 2] = _avg3(X, A, B)
        o[0, 1] = o[1, 3] = _avg3(I, X, A)
        o[1, 1] = o[2, 3] = _avg3(X, I, J)
        o[2, 1] = o[3, 3] = _avg3(I, J, K)
        o[3, 1] = _avg3(J, K, L)
    else:  # B_HU (horizontal-up)
        o[0, 0] = _avg2(I, J)
        o[0, 1] = _avg3(I, J, K)
        o[0, 2] = o[1, 0] = _avg2(J, K)
        o[0, 3] = o[1, 1] = _avg3(J, K, L)
        o[1, 2] = o[2, 0] = _avg2(K, L)
        o[1, 3] = o[2, 1] = _avg3(K, L, L)
        o[2, 2] = o[2, 3] = o[3, 0] = o[3, 1] = o[3, 2] = o[3, 3] = L
    S[y0:y0 + 4, x0:x0 + 4] = o.astype(np.uint8)


class Reconstructor:
    """Frame assembly: per-MB predict + add residuals into padded
    planes, keeping unfiltered top/left neighbor buffers, then the
    deblocking pass in libwebp's exact per-MB edge order."""

    def __init__(self, w, h, mb_w, mb_h):
        self.w, self.h = w, h
        self.mb_w, self.mb_h = mb_w, mb_h
        self.Y = np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8)
        self.U = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
        self.V = np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
        # unfiltered neighbor lines (prediction must not see filtering)
        self.top_y = np.full(mb_w * 16, 127, dtype=np.uint8)
        self.top_u = np.full(mb_w * 8, 127, dtype=np.uint8)
        self.top_v = np.full(mb_w * 8, 127, dtype=np.uint8)
        self._filter_args = []  # (mb_x, mb_y, fs, inner)

    def new_row(self):
        self.left_y = np.full(16, 129, dtype=np.uint8)
        self.left_u = np.full(8, 129, dtype=np.uint8)
        self.left_v = np.full(8, 129, dtype=np.uint8)
        # above-left corners (129 when only the left is missing,
        # 127 when the above row is missing)
        self.tl_y = self.tl_u = self.tl_v = 129

    def macroblock(self, mb_x, mb_y, ymode, uvmode, bmodes, coeffs,
                   nnz, has_y2, fs, inner) -> None:
        if mb_x == 0:
            self.new_row()
        top_row = mb_y == 0

        if has_y2:
            iwht4x4(coeffs, 384, coeffs)

        # ---- luma scratch: rows -1..15, cols -1..19 ----
        S = np.empty((17, 21), dtype=np.uint8)
        x0 = mb_x * 16
        if top_row:
            S[0, :] = 127  # whole above row incl corner + above-right
        else:
            S[0, 1:17] = self.top_y[x0:x0 + 16]
            S[0, 0] = self.tl_y if mb_x > 0 else 129
            if mb_x < self.mb_w - 1:
                S[0, 17:21] = self.top_y[x0 + 16:x0 + 20]
            else:
                S[0, 17:21] = self.top_y[x0 + 15]  # replicate last
        S[1:17, 0] = self.left_y if mb_x > 0 else 129

        if ymode == 4:  # B_PRED: 16 4x4 blocks, the right-column quirk
            tr = S[0, 17:21].copy()
            for sy in range(4):
                for sx in range(4):
                    bi = sy * 4 + sx
                    yy, xx = 1 + 4 * sy, 1 + 4 * sx
                    if sx == 3 and sy > 0:
                        S[yy - 1, 17:21] = tr  # MB-level above-right
                    _pred_b(S, yy, xx, bmodes[bi])
                    if nnz[bi]:
                        idct4x4_add(coeffs, bi * 16, S, yy, xx)
        else:
            _pred_block(S, 1, 1, 16, ymode, not top_row, mb_x > 0)
            for sy in range(4):
                for sx in range(4):
                    bi = sy * 4 + sx
                    if nnz[bi] or coeffs[bi * 16]:
                        idct4x4_add(
                            coeffs, bi * 16, S, 1 + 4 * sy, 1 + 4 * sx
                        )

        y0 = mb_y * 16
        self.Y[y0:y0 + 16, x0:x0 + 16] = S[1:17, 1:17]
        self.tl_y = int(self.top_y[min(x0 + 15, self.top_y.size - 1)])
        self.top_y[x0:x0 + 16] = S[16, 1:17]
        self.left_y = S[1:17, 16].copy()

        # ---- chroma ----
        for plane, top, left_attr, tl_attr, coff in (
            (self.U, self.top_u, "left_u", "tl_u", 16),
            (self.V, self.top_v, "left_v", "tl_v", 20),
        ):
            C = np.empty((9, 9), dtype=np.uint8)
            cx0 = mb_x * 8
            if top_row:
                C[0, :] = 127
            else:
                C[0, 1:9] = top[cx0:cx0 + 8]
                C[0, 0] = getattr(self, tl_attr) if mb_x > 0 else 129
            C[1:9, 0] = getattr(self, left_attr) if mb_x > 0 else 129
            _pred_block(C, 1, 1, 8, uvmode, not top_row, mb_x > 0)
            for sy in range(2):
                for sx in range(2):
                    bi = coff + sy * 2 + sx
                    if nnz[bi]:
                        idct4x4_add(
                            coeffs, bi * 16, C, 1 + 4 * sy, 1 + 4 * sx
                        )
            cy0 = mb_y * 8
            plane[cy0:cy0 + 8, cx0:cx0 + 8] = C[1:9, 1:9]
            setattr(self, tl_attr, int(top[min(cx0 + 7, top.size - 1)]))
            top[cx0:cx0 + 8] = C[8, 1:9]
            setattr(self, left_attr, C[1:9, 8].copy())

        if fs is not None:
            self._filter_args.append((mb_x, mb_y, fs, inner))

    # ---- the loop filter (§15) ----

    def filter_frame(self, filter_type: int) -> None:
        for mb_x, mb_y, fs, inner in self._filter_args:
            limit, ilevel, hev_t = fs
            if filter_type == 1:  # simple: luma only
                self._simple_mb(mb_x, mb_y, limit, inner)
            else:
                self._normal_mb(mb_x, mb_y, limit, ilevel, hev_t, inner)

    def _simple_mb(self, mb_x, mb_y, limit, inner):
        Y = self.Y
        x0, y0 = mb_x * 16, mb_y * 16
        if mb_x > 0:
            _edge(Y, y0, x0, 16, True, 2 * (limit + 4) + 1, None, None, 2)
        if inner:
            for dx in (4, 8, 12):
                _edge(Y, y0, x0 + dx, 16, True, 2 * limit + 1,
                      None, None, 2)
        if mb_y > 0:
            _edge(Y, y0, x0, 16, False, 2 * (limit + 4) + 1, None, None, 2)
        if inner:
            for dy in (4, 8, 12):
                _edge(Y, y0 + dy, x0, 16, False, 2 * limit + 1,
                      None, None, 2)

    def _normal_mb(self, mb_x, mb_y, limit, ilevel, hev_t, inner):
        Y, U, V = self.Y, self.U, self.V
        x0, y0 = mb_x * 16, mb_y * 16
        cx0, cy0 = mb_x * 8, mb_y * 8
        t_edge = 2 * (limit + 4) + 1
        t_in = 2 * limit + 1
        if mb_x > 0:
            _edge(Y, y0, x0, 16, True, t_edge, ilevel, hev_t, 6)
            _edge(U, cy0, cx0, 8, True, t_edge, ilevel, hev_t, 6)
            _edge(V, cy0, cx0, 8, True, t_edge, ilevel, hev_t, 6)
        if inner:
            for dx in (4, 8, 12):
                _edge(Y, y0, x0 + dx, 16, True, t_in, ilevel, hev_t, 4)
            _edge(U, cy0, cx0 + 4, 8, True, t_in, ilevel, hev_t, 4)
            _edge(V, cy0, cx0 + 4, 8, True, t_in, ilevel, hev_t, 4)
        if mb_y > 0:
            _edge(Y, y0, x0, 16, False, t_edge, ilevel, hev_t, 6)
            _edge(U, cy0, cx0, 8, False, t_edge, ilevel, hev_t, 6)
            _edge(V, cy0, cx0, 8, False, t_edge, ilevel, hev_t, 6)
        if inner:
            for dy in (4, 8, 12):
                _edge(Y, y0 + dy, x0, 16, False, t_in, ilevel, hev_t, 4)
            _edge(U, cy0 + 4, cx0, 8, False, t_in, ilevel, hev_t, 4)
            _edge(V, cy0 + 4, cx0, 8, False, t_in, ilevel, hev_t, 4)

    def crop(self):
        cw, ch = (self.w + 1) // 2, (self.h + 1) // 2
        return (
            self.Y[: self.h, : self.w].copy(),
            self.U[:ch, :cw].copy(),
            self.V[:ch, :cw].copy(),
        )


def _edge(P, y, x, n, across_x, thresh2, ilimit, hev_t, kind) -> None:
    """Filter one n-lane edge of plane P. ``across_x`` True filters the
    vertical boundary at column x (lanes run down); False the
    horizontal boundary at row y (lanes run across). kind: 2 = simple/
    hev two-tap, 4 = inner four-tap, 6 = macroblock six-tap."""
    if across_x:
        sl = lambda off: P[y:y + n, x + off].astype(np.int32)
        def st(off, v):
            P[y:y + n, x + off] = v.astype(np.uint8)
    else:
        sl = lambda off: P[y + off, x:x + n].astype(np.int32)
        def st(off, v):
            P[y + off, x:x + n] = v.astype(np.uint8)
    p1, p0, q0, q1 = sl(-2), sl(-1), sl(0), sl(1)
    mask = (4 * np.abs(p0 - q0) + np.abs(p1 - q1)) <= thresh2
    if kind == 2:
        if not mask.any():
            return
        _do2(mask, p1, p0, q0, q1, st)
        return
    p3, p2, q2, q3 = sl(-4), sl(-3), sl(2), sl(3)
    for a, b in ((p3, p2), (p2, p1), (p1, p0),
                 (q3, q2), (q2, q1), (q1, q0)):
        mask &= np.abs(a - b) <= ilimit
    if not mask.any():
        return
    hev = (np.abs(p1 - p0) > hev_t) | (np.abs(q1 - q0) > hev_t)
    _do2(mask & hev, p1, p0, q0, q1, st)
    m = mask & ~hev
    if not m.any():
        return
    if kind == 4:
        a = 3 * (q0 - p0)
        a1 = np.clip((a + 4) >> 3, -16, 15)
        a2 = np.clip((a + 3) >> 3, -16, 15)
        a3 = (a1 + 1) >> 1
        st(-2, np.where(m, np.clip(p1 + a3, 0, 255), sl(-2)))
        st(-1, np.where(m, np.clip(p0 + a2, 0, 255), sl(-1)))
        st(0, np.where(m, np.clip(q0 - a1, 0, 255), sl(0)))
        st(1, np.where(m, np.clip(q1 - a3, 0, 255), sl(1)))
    else:
        a = np.clip(3 * (q0 - p0) + np.clip(p1 - q1, -128, 127),
                    -128, 127)
        a1 = (27 * a + 63) >> 7
        a2 = (18 * a + 63) >> 7
        a3 = (9 * a + 63) >> 7
        st(-3, np.where(m, np.clip(p2 + a3, 0, 255), sl(-3)))
        st(-2, np.where(m, np.clip(p1 + a2, 0, 255), sl(-2)))
        st(-1, np.where(m, np.clip(p0 + a1, 0, 255), sl(-1)))
        st(0, np.where(m, np.clip(q0 - a1, 0, 255), sl(0)))
        st(1, np.where(m, np.clip(q1 - a2, 0, 255), sl(1)))
        st(2, np.where(m, np.clip(q2 - a3, 0, 255), sl(2)))


def _do2(m, p1, p0, q0, q1, st) -> None:
    """Two-tap filter (DoFilter2): the hev path of the normal filter
    and the whole of the simple filter."""
    if not m.any():
        return
    a = 3 * (q0 - p0) + np.clip(p1 - q1, -128, 127)
    a1 = np.clip((a + 4) >> 3, -16, 15)
    a2 = np.clip((a + 3) >> 3, -16, 15)
    st(-1, np.where(m, np.clip(p0 + a2, 0, 255), p0))
    st(0, np.where(m, np.clip(q0 - a1, 0, 255), q0))
