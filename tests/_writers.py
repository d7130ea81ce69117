"""Test-side writers for the binary formats the engine reads.

The engine decodes Whisper (.wsp) and Kenshin (.hs) files and PNG
payloads, and reads store roots written in the retired copy-on-write
layout, but never writes any of these from a product path, so the
writers that build their fixtures live here, next to the tests that use
them.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from kenshin_spark.multimodal.codecs import PNG_SIG
from kenshin_spark.sources import kenshin_hs, whisper


def write_whisper(
    path: str,
    archives: list[tuple[int, int]],
    points_per_archive: list[list[tuple[int, float]]],
    agg_method: str = "average",
    xff: float = 0.5,
) -> None:
    """Minimal .wsp writer: packs the same public format the reader
    decodes. ``archives`` = [(sec_per_point, count)]."""
    agg_id = {v: k for k, v in whisper.WHISPER_AGG.items()}[agg_method]
    meta_size = struct.calcsize(whisper.METADATA_FMT)
    info_size = struct.calcsize(whisper.ARCHIVE_INFO_FMT)
    point_size = struct.calcsize(whisper.POINT_FMT)
    header_size = meta_size + info_size * len(archives)
    max_ret = max(spp * cnt for spp, cnt in archives)
    out = bytearray()
    out += struct.pack(whisper.METADATA_FMT, agg_id, max_ret, xff, len(archives))
    offset = header_size
    for spp, cnt in archives:
        out += struct.pack(whisper.ARCHIVE_INFO_FMT, offset, spp, cnt)
        offset += cnt * point_size
    for (spp, cnt), pts in zip(archives, points_per_archive):
        ring = bytearray(cnt * point_size)
        for j, (ts, val) in enumerate(pts[:cnt]):
            struct.pack_into(whisper.POINT_FMT, ring, j * point_size, ts, val)
        out += ring
    with open(path, "wb") as f:
        f.write(bytes(out))


def write_kenshin_hs(
    path: str,
    metrics: list[str],
    archives: list[tuple[int, int]],
    points_per_archive: list[list[tuple[int, list[float | None]]]],
    agg_method: str = "average",
    xff: float = 0.5,
) -> None:
    """Minimal .hs writer: packs the documented layout the reader
    decodes — metadata + TAB-joined tags (with the trailing reserved
    element) + archive infos + point rings, exactly as
    ``Storage.pack_header`` lays it out (kenshin/storage.py:281-311).
    ``points_per_archive`` values are per-metric lists; None packs the
    NULL sentinel."""
    agg_id = kenshin_hs.KENSHIN_AGG.index(agg_method)
    inter_tag = "\t".join(list(metrics) + [""])  # trailing reserved space
    tag_bytes = inter_tag.encode("utf-8")
    point_fmt = f"!L{len(metrics)}d"
    point_size = struct.calcsize(point_fmt)
    meta_size = struct.calcsize(kenshin_hs.METADATA_FMT)
    info_size = struct.calcsize(kenshin_hs.ARCHIVE_INFO_FMT)
    max_ret = max(spp * cnt for spp, cnt in archives)
    out = bytearray()
    out += struct.pack(
        kenshin_hs.METADATA_FMT,
        agg_id,
        max_ret,
        xff,
        len(archives),
        len(tag_bytes),
        point_size,
    )
    out += tag_bytes
    offset = meta_size + len(tag_bytes) + info_size * len(archives)
    for spp, cnt in archives:
        out += struct.pack(kenshin_hs.ARCHIVE_INFO_FMT, offset, spp, cnt)
        offset += cnt * point_size
    for (spp, cnt), pts in zip(archives, points_per_archive):
        ring = bytearray(cnt * point_size)
        for j, (ts, vals) in enumerate(pts[:cnt]):
            packed_vals = [
                kenshin_hs.NULL_VALUE if v is None else float(v) for v in vals
            ]
            struct.pack_into(point_fmt, ring, j * point_size, ts, *packed_vals)
        out += ring
    with open(path, "wb") as f:
        f.write(bytes(out))


def png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png16(arr: np.ndarray) -> bytes:
    """16-bit PNG (filter 0 rows, big-endian samples per spec 7.1):
    HxW or HxWx1 uint16 → grayscale (color type 0), HxWx3 → RGB
    (color type 2) — the write half of decode_png's depth-16 branch,
    for test fixtures (scientific/scanner imagery is where
    16-bit PNG ships in real corpora)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint16)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3):
        raise ValueError("encode_png16: expects HxW[x1|x3] uint16")
    h, w, ch = arr.shape
    ctype = 0 if ch == 1 else 2
    be = arr.astype(">u2")
    raw = b"".join(b"\x00" + be[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
    return (
        PNG_SIG + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(raw))
        + png_chunk(b"IEND", b"")
    )


def encode_png_paletted(arr: np.ndarray) -> bytes:
    """8-bit paletted PNG (color type 3): palette = the image's unique
    RGB colors (≤256, else ValueError), IDAT = filter-0 index rows.
    Together with decode_png's PLTE expansion this closes the
    'paletted containers route to the PIL seam' gap — index maps,
    sprites, and quantized thumbnails are the common real-corpus case
    (W3C PNG §4.1.2 / §11.2.3)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_png_paletted: expects HxWx3 uint8")
    h, w, _ = arr.shape
    flat = arr.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if palette.shape[0] > 256:
        raise ValueError(
            f"encode_png_paletted: {palette.shape[0]} colors > 256"
        )
    idx = inverse.astype(np.uint8).reshape(h, w)
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        PNG_SIG + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"PLTE", palette.tobytes())
        + png_chunk(b"IDAT", zlib.compress(raw))
        + png_chunk(b"IEND", b"")
    )


def write_cow_layout(store, tiers: dict) -> int:
    """Commit ``tiers`` (tier index -> ``(metric, ts, value)`` frame, one
    row per slot) to ``store`` as the retired copy-on-write layout
    stored them: day-partitioned parquet files without a ``_seq``
    column, adopted and published in one manifest commit. Returns the
    commit's seq."""
    adds = []
    for i, df in tiers.items():
        adds += store.commit.adopt(store._with_day(df, i), store.tier_path(i))
    with store.commit.txn(op="upsert") as tx:
        for rel, size in adds:
            tx.add(rel, size)
    return store.commit.epoch()
