"""S7 — Kenshin (.hs) import connector: read the reference's OWN on-disk
format, so an existing deployment can migrate its data files directly.

Layout (kenshin/storage.py:30-33 comment block, pack/unpack at
kenshin/storage.py:281-348):

- metadata ``"!2Lf3L"`` — (agg_id, max_retention, x_files_factor,
  archive_count, tag_size, point_size);
- tag string of ``tag_size`` bytes — TAB-joined metric names, the LAST
  element being reserved space for future tag adds
  (``RESERVED_INDEX = -1``, kenshin/storage.py:62-64,335-336);
- ``archive_count`` × archive-info ``"!3L"`` — (offset, sec_per_point,
  count);
- per archive, ``count`` ring slots of ``"!L%dd" % n_tags`` — one u32
  timestamp followed by one f64 per metric packed in the file (the
  N-metrics-per-file design is the reference's core IOPS trick).

Decode notes: slot ts==0 is an empty ring slot; value
``NULL_VALUE = -4294967296.0`` is the null sentinel (kenshin/consts.py:4)
and maps to a real NULL here; agg ids are indices into
average/sum/last/max/min (kenshin/agg.py:10-23).

Spark-native mirror of sources/whisper.py: ``binaryFile`` source (one
task per file — a .hs file decodes as a unit) + an Arrow-batched
``mapInPandas`` unpacker; the wide per-file rows explode to the tall
``(metric, ts, value)`` model. A 100 TB migration is embarrassingly
parallel; output lands in the tiered store via
``operators.schema_change.import_kenshin_to_store``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

#: agg ids are list indices in the reference (kenshin/agg.py:10-23)
KENSHIN_AGG = ("average", "sum", "last", "max", "min")

#: the reference's NULL sentinel (kenshin/consts.py:4)
NULL_VALUE = -4294967296.0

METADATA_FMT = "!2Lf3L"
ARCHIVE_INFO_FMT = "!3L"

POINTS_SCHEMA = (
    "metric string, archive_idx int, sec_per_point long, retention long, "
    "ts long, value double"
)
HEADER_SCHEMA = (
    "path string, agg_method string, max_retention long, xff double, "
    "archive_count int, metrics array<string>, point_size int"
)


def unpack_kenshin(content: bytes) -> tuple[dict, list[dict]]:
    """Decode one .hs blob → (header, [archive dicts with wide points]).

    Mirrors ``Storage.header`` (kenshin/storage.py:312-348) + the point
    ring decode (kenshin/storage.py:55,661-668). Archive points are
    ``(ts, [v_per_metric])`` with empty slots (ts==0) skipped and the
    NULL sentinel preserved for the caller.
    """
    meta_size = struct.calcsize(METADATA_FMT)
    agg_id, max_ret, xff, arch_cnt, tag_size, point_size = struct.unpack(
        METADATA_FMT, content[:meta_size]
    )
    tag_str = content[meta_size : meta_size + tag_size].decode(
        "utf-8", errors="replace"
    )
    inter_tag_list = tag_str.split("\t")
    metrics = inter_tag_list[:-1]  # last element = reserved space
    header = {
        "agg_method": (
            KENSHIN_AGG[agg_id]
            if 0 <= agg_id < len(KENSHIN_AGG)
            else f"unknown:{agg_id}"
        ),
        "max_retention": int(max_ret),
        "xff": float(xff),
        "archive_count": int(arch_cnt),
        "metrics": metrics,
        "point_size": int(point_size),
    }
    info_size = struct.calcsize(ARCHIVE_INFO_FMT)
    point_fmt = f"!L{len(metrics)}d"
    assert struct.calcsize(point_fmt) == point_size, (
        f"point_size {point_size} != calcsize({point_fmt})"
    )
    # bound every loop by blob capacity so corrupt headers raise instead
    # of spinning on absurd claimed counts
    if arch_cnt > max(0, len(content) - meta_size - tag_size) // info_size:
        raise struct.error(f"archive_count {arch_cnt} exceeds blob capacity")
    archives = []
    for i in range(arch_cnt):
        off = meta_size + tag_size + i * info_size
        offset, spp, count = struct.unpack(
            ARCHIVE_INFO_FMT, content[off : off + info_size]
        )
        if count > len(content) // point_size:
            raise struct.error(f"point count {count} exceeds blob size")
        pts = []
        for j in range(count):
            p_off = offset + j * point_size
            unpacked = struct.unpack(
                point_fmt, content[p_off : p_off + point_size]
            )
            ts, vals = unpacked[0], unpacked[1:]
            if ts != 0:  # empty ring slot
                pts.append((int(ts), [float(v) for v in vals]))
        archives.append(
            {
                "archive_idx": i,
                "sec_per_point": int(spp),
                "retention": int(spp) * int(count),
                "points": pts,
            }
        )
    return header, archives


def _points_kernel(skip_corrupt: bool = False):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                try:
                    header, archives = unpack_kenshin(bytes(content))
                except (struct.error, AssertionError, IndexError,
                        UnicodeDecodeError):
                    if skip_corrupt:
                        continue  # one bad file must not kill a 100 TB run
                    raise
                metrics = header["metrics"]
                for a in archives:
                    for ts, vals in a["points"]:
                        for metric, val in zip(metrics, vals):
                            if not metric:
                                continue  # unused tag slot
                            rows.append(
                                (
                                    metric,
                                    a["archive_idx"],
                                    a["sec_per_point"],
                                    a["retention"],
                                    ts,
                                    None if val == NULL_VALUE else val,
                                )
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


def _header_kernel():
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                h, _ = unpack_kenshin(bytes(content))
                rows.append(
                    (
                        str(path),
                        h["agg_method"],
                        h["max_retention"],
                        h["xff"],
                        h["archive_count"],
                        h["metrics"],
                        h["point_size"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path",
                    "agg_method",
                    "max_retention",
                    "xff",
                    "archive_count",
                    "metrics",
                    "point_size",
                ],
            )

    return kernel


def read_kenshin_points(
    spark: SparkSession, path_glob: str, skip_corrupt: bool = False
) -> DataFrame:
    """All points of all archives of all matched .hs files, exploded to
    the tall model: ``(metric, archive_idx, sec_per_point, retention, ts,
    value)`` — NULL sentinels arrive as real NULLs.

    ``skip_corrupt=True`` drops undecodable files instead of failing the
    job — at migration scale a single truncated file should cost its own
    rows, not the run (count the gap by diffing file and header counts)."""
    files = (
        spark.read.format("binaryFile").load(path_glob).select("path", "content")
    )
    return files.mapInPandas(_points_kernel(skip_corrupt), POINTS_SCHEMA)


def read_kenshin_headers(spark: SparkSession, path_glob: str) -> DataFrame:
    """Header rows per .hs file (the R9 inspect for the reference's own
    files): agg/retention/xff plus the packed metric list."""
    files = (
        spark.read.format("binaryFile").load(path_glob).select("path", "content")
    )
    return files.mapInPandas(_header_kernel(), HEADER_SCHEMA)


def export_kenshin_hs(
    tiers: list[DataFrame],
    archives: list[tuple[int, int]],
    out_dir: str,
    n_files: int = 16,
    agg_method: str = "average",
    xff: float = 0.5,
) -> DataFrame:
    """Distributed EXPORT to the reference's .hs format — the reverse
    migration (spark → kenshin), closing the loop the import connector
    opened. A deployment can leave and come back.

    ``tiers[i]`` is the tier-i grid ``(metric, ts, value)`` matching
    ``archives[i] = (sec_per_point, count)``. Metrics are grouped
    ``n_files``-ways by the reference's OWN placement hash (fnv1a
    instance sharding, ``functions.hashing.shard_of``) so the exported
    layout matches what a kenshin fleet would have built; each group
    packs one .hs file executor-side (Arrow ``applyInPandas`` — the
    pack is row-local per file, embarrassingly parallel like the
    import). Ring slots are placed at ``(ts // spp) % count`` — the
    wraparound ring position — and empty slots stay ts==0.

    Writes ``bucket_<id>.hs`` under ``out_dir`` (executor-visible path:
    local dir in local mode, shared FS on a cluster) and returns a
    manifest ``(file_id, path, n_metrics, n_bytes)``.
    """
    import os

    from pyspark.sql import functions as F

    from kenshin_spark.functions.hashing import shard_of

    os.makedirs(out_dir, exist_ok=True)
    tagged = None
    for i, t in enumerate(tiers):
        part = t.select(
            "metric", "ts", "value", F.lit(i).alias("tier")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    tagged = tagged.withColumn("file_id", shard_of(F.col("metric"), n_files))

    arch = list(archives)
    agg = agg_method
    x = xff
    out = out_dir

    def pack(key, pdf):
        fid = int(key[0])
        metrics = sorted(pdf["metric"].unique())
        m_idx = {m: i for i, m in enumerate(metrics)}
        rings: list[list[tuple[int, list]]] = []
        for t, (spp, cnt) in enumerate(arch):
            sub = pdf[pdf["tier"] == t]
            slots: dict[int, list] = {}
            for m, ts, v in zip(sub["metric"], sub["ts"], sub["value"]):
                ts = int(ts)
                slot_ts = ts - ts % spp
                vals = slots.setdefault(slot_ts, [None] * len(metrics))
                vals[m_idx[m]] = None if pd.isna(v) else float(v)
            rings.append(sorted(slots.items()))
        path = os.path.join(out, f"bucket_{fid:05d}.hs")
        _write_rings(path, metrics, arch, rings, agg, x)
        return pd.DataFrame(
            [(fid, path, len(metrics), os.path.getsize(path))],
            columns=["file_id", "path", "n_metrics", "n_bytes"],
        )

    return tagged.groupBy("file_id").applyInPandas(
        pack,
        "file_id int, path string, n_metrics int, n_bytes long",
    )


def _write_rings(
    path: str,
    metrics: list[str],
    archives: list[tuple[int, int]],
    rings: list[list[tuple[int, list]]],
    agg_method: str,
    xff: float,
) -> None:
    """Pack one .hs file with ring-positioned slots: each point sits at
    its wraparound position ``(ts // spp) % count``."""
    agg_id = KENSHIN_AGG.index(agg_method)
    inter_tag = "\t".join(list(metrics) + [""])
    tag_bytes = inter_tag.encode("utf-8")
    point_fmt = f"!L{len(metrics)}d"
    point_size = struct.calcsize(point_fmt)
    meta_size = struct.calcsize(METADATA_FMT)
    info_size = struct.calcsize(ARCHIVE_INFO_FMT)
    max_ret = max(spp * cnt for spp, cnt in archives)
    out = bytearray()
    out += struct.pack(
        METADATA_FMT, agg_id, max_ret, xff, len(archives),
        len(tag_bytes), point_size,
    )
    out += tag_bytes
    offset = meta_size + len(tag_bytes) + info_size * len(archives)
    for spp, cnt in archives:
        out += struct.pack(ARCHIVE_INFO_FMT, offset, spp, cnt)
        offset += cnt * point_size
    for (spp, cnt), pts in zip(archives, rings):
        ring = bytearray(cnt * point_size)
        for ts, vals in pts:
            j = (ts // spp) % cnt
            packed = [NULL_VALUE if v is None else float(v) for v in vals]
            struct.pack_into(point_fmt, ring, j * point_size, ts, *packed)
        out += ring
    with open(path, "wb") as f:
        f.write(bytes(out))
