"""S6 — Whisper (.wsp) import connector.

Reference: kenshin imports Whisper databases by unpacking the public
Whisper on-disk format — header ``"!2LfL"`` (aggregationType,
maxRetention, xFilesFactor, archiveCount), per-archive info ``"!3L"``
(offset, secondsPerPoint, points), point ``"!Ld"`` (timestamp, float64) —
see kenshin/tools/whisper_tool.py:40-64 and bin/kenshin-rehash.py:253-279
(which fetches the same bytes over HTTP).

Spark-native: ``binaryFile`` source (whole-file rows, distributed across
executors — one task per file, which is the right granularity because a
.wsp file must be decoded as a unit) + an Arrow-batched ``mapInPandas``
unpacker. At 100 TB of .wsp files this is an embarrassingly parallel
one-off migration job; the output lands straight in the tiered store via
``ParquetTieredStore.overwrite``.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

#: Whisper aggregation ids → kenshin agg names
#: (kenshin/tools/whisper_tool.py:23-29: average/sum/last/max/min = 1..5)
WHISPER_AGG = {1: "average", 2: "sum", 3: "last", 4: "max", 5: "min"}

METADATA_FMT = "!2LfL"
ARCHIVE_INFO_FMT = "!3L"
POINT_FMT = "!Ld"

POINTS_SCHEMA = (
    "metric string, archive_idx int, sec_per_point long, retention long, "
    "ts long, value double"
)
HEADER_SCHEMA = (
    "metric string, agg_method string, max_retention long, xff double, "
    "archive_count int"
)


def metric_from_path(path: str, base: str | None = None) -> str:
    """Graphite path convention: ``a/b/c.wsp`` → ``a.b.c``
    (the reverse of kenshin/storage.py:272-285's metric→path)."""
    p = path
    if p.startswith("file:"):
        p = p[len("file:") :]
    if base:
        p = os.path.relpath(p, base)
    p = p[:-4] if p.endswith(".wsp") else p
    return p.strip("/").replace("/", ".")


def unpack_whisper(content: bytes) -> tuple[dict, list[dict]]:
    """Decode one .wsp blob → (header, [archive dicts with points]).

    Zero-timestamp slots are empty ring slots and are skipped, matching
    the reference's unpacking (kenshin/tools/whisper_tool.py:50-64).
    """
    meta_size = struct.calcsize(METADATA_FMT)
    agg_type, max_ret, xff, arch_count = struct.unpack(
        METADATA_FMT, content[:meta_size]
    )
    header = {
        "agg_method": WHISPER_AGG.get(agg_type, f"unknown:{agg_type}"),
        "max_retention": int(max_ret),
        "xff": float(xff),
        "archive_count": int(arch_count),
    }
    info_size = struct.calcsize(ARCHIVE_INFO_FMT)
    point_size = struct.calcsize(POINT_FMT)
    # a corrupt header can claim absurd archive/point counts; bound every
    # loop by what the blob could actually hold, so garbage raises
    # instead of spinning (struct.error on the short slice)
    if arch_count > (len(content) - meta_size) // info_size:
        raise struct.error(
            f"archive_count {arch_count} exceeds blob capacity"
        )
    archives = []
    for i in range(arch_count):
        off = meta_size + i * info_size
        offset, spp, count = struct.unpack(
            ARCHIVE_INFO_FMT, content[off : off + info_size]
        )
        if count > len(content) // point_size:
            raise struct.error(f"point count {count} exceeds blob size")
        pts = []
        for j in range(count):
            p_off = offset + j * point_size
            ts, val = struct.unpack(POINT_FMT, content[p_off : p_off + point_size])
            if ts != 0:  # empty ring slot
                pts.append((int(ts), float(val)))
        archives.append(
            {
                "archive_idx": i,
                "sec_per_point": int(spp),
                "retention": int(spp) * int(count),
                "points": pts,
            }
        )
    return header, archives


def _points_kernel(base: str | None, skip_corrupt: bool = False):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                metric = metric_from_path(str(path), base)
                try:
                    _, archives = unpack_whisper(bytes(content))
                except (struct.error, IndexError):
                    if skip_corrupt:
                        continue  # cost the file its rows, not the run
                    raise
                for a in archives:
                    rows.extend(
                        (
                            metric,
                            a["archive_idx"],
                            a["sec_per_point"],
                            a["retention"],
                            ts,
                            val,
                        )
                        for ts, val in a["points"]
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "metric",
                    "archive_idx",
                    "sec_per_point",
                    "retention",
                    "ts",
                    "value",
                ],
            )

    return kernel


def _header_kernel(base: str | None):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                h, _ = unpack_whisper(bytes(content))
                rows.append(
                    (
                        metric_from_path(str(path), base),
                        h["agg_method"],
                        h["max_retention"],
                        h["xff"],
                        h["archive_count"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "metric",
                    "agg_method",
                    "max_retention",
                    "xff",
                    "archive_count",
                ],
            )

    return kernel


def read_whisper_points(
    spark: SparkSession, path_glob: str, base: str | None = None,
    skip_corrupt: bool = False
) -> DataFrame:
    """All points of all archives of all matched .wsp files:
    ``(metric, archive_idx, sec_per_point, retention, ts, value)``.
    ``skip_corrupt=True`` drops undecodable files instead of failing the
    migration (same contract as read_kenshin_points)."""
    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return files.mapInPandas(_points_kernel(base, skip_corrupt), POINTS_SCHEMA)


def read_whisper_headers(
    spark: SparkSession, path_glob: str, base: str | None = None
) -> DataFrame:
    """Header rows per .wsp file (the R9 inspect for foreign files)."""
    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return files.mapInPandas(_header_kernel(base), HEADER_SCHEMA)


def export_whisper(
    tiers: list[DataFrame],
    archives: list[tuple[int, int]],
    out_dir: str,
    agg_method: str = "average",
    xff: float = 0.5,
) -> DataFrame:
    """Distributed EXPORT to Whisper .wsp — Graphite interop in the
    outbound direction (one metric per file, the Whisper model). The
    metric's dotted name becomes the ``a/b/c.wsp`` tree path exactly as
    ``metric_from_path`` inverts it, so a graphite-web pointed at
    ``out_dir`` serves the exported data unchanged.

    ``tiers[i]`` is the tier-i grid ``(metric, ts, value)`` matching
    ``archives[i]``; each metric's file packs every tier's ring with
    slots at the wraparound position ``(ts // spp) % count`` (gaps stay
    ts==0 — Whisper has no NULL sentinel, a missing slot IS the null).
    One ``applyInPandas`` group per metric; returns a manifest
    ``(metric, path, n_bytes)``."""
    import os

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    tagged = None
    for i, t in enumerate(tiers):
        part = t.where(F.col("value").isNotNull()).select(
            "metric", "ts", "value", F.lit(i).alias("tier")
        )
        tagged = part if tagged is None else tagged.unionByName(part)

    arch = list(archives)
    agg_id = {v: k for k, v in WHISPER_AGG.items()}[agg_method]
    x = xff
    out = out_dir

    def pack(key, pdf):
        metric = str(key[0])
        rel = os.path.join(*metric.split(".")) + ".wsp"
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        meta_size = struct.calcsize(METADATA_FMT)
        info_size = struct.calcsize(ARCHIVE_INFO_FMT)
        point_size = struct.calcsize(POINT_FMT)
        max_ret = max(spp * cnt for spp, cnt in arch)
        blob = bytearray()
        blob += struct.pack(METADATA_FMT, agg_id, max_ret, x, len(arch))
        offset = meta_size + info_size * len(arch)
        for spp, cnt in arch:
            blob += struct.pack(ARCHIVE_INFO_FMT, offset, spp, cnt)
            offset += cnt * point_size
        for t, (spp, cnt) in enumerate(arch):
            sub = pdf[pdf["tier"] == t]
            ring = bytearray(cnt * point_size)
            for ts, v in zip(sub["ts"], sub["value"]):
                ts = int(ts) - int(ts) % spp
                struct.pack_into(
                    POINT_FMT, ring, ((ts // spp) % cnt) * point_size,
                    ts, float(v),
                )
            blob += ring
        with open(path, "wb") as f:
            f.write(bytes(blob))
        return pd.DataFrame(
            [(metric, path, len(blob))],
            columns=["metric", "path", "n_bytes"],
        )

    return tagged.groupBy("metric").applyInPandas(
        pack, "metric string, path string, n_bytes long"
    )
