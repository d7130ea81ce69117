"""Sixth staged bank — ROUND 10: engine-path rows over the surfaces the
r8 bank didn't reach — the network serving layer (S3 wire protocols),
the Whisper migration loop (S6), ingest variants (skew salting,
dead-letter quality gate, W4 age routing), bucketed co-located joins,
real multimodal containers built by the engine's own encoders, and the
new Bloom membership pre-pass.

Gated by ``tests/test_queries_staged_r10.py`` (sf0.001 + sf0.01);
registered into ``QUERIES`` at the bottom of ``kenshin_spark/queries.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.queries import PTS, NOW_T, QuerySpec, _points
from kenshin_spark.bloom_oracle import _bloom_oracle  # noqa: F401
from kenshin_spark.queries_staged_r8_engine import (
    CUT,
    DAY1_END,
    DAY1_START,
    _W,
    _grid_sql,
    _week_slots,
    _workdir,
)
from kenshin_spark.store import ParquetTieredStore

STAGED_R10: dict[str, QuerySpec] = {}


def stage(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        STAGED_R10[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# S3 — the serving layer, driven over real sockets
# ---------------------------------------------------------------------------


@stage(
    "serving_tcp_cache_query",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "S3 — the reference's cache-query wire protocol end-to-end "
    "(rurouni/protocols.py:65-84): a CacheQueryServer on an ephemeral "
    "TCP port serves the week's hot grid through 4-byte length framing "
    "+ restricted pickle; one cache_query round-trip per metric "
    "reassembles exactly the LWW60 grid — the bytes cross a real "
    "socket, not a function call",
)
def q_serving_tcp_cache_query(spark, sf_dir):
    from kenshin_spark.serving import CacheQueryServer, cache_query

    slots = _week_slots(spark, sf_dir)
    hot: dict[str, list] = {}
    for r in slots.collect():  # bounded: one week of minute slots
        hot.setdefault(r["metric"], []).append((r["ts"], r["value"]))
    for v in hot.values():
        v.sort()
    server = CacheQueryServer(lambda m: hot.get(m, []))
    host, port = server.start()
    try:
        rows = [
            (m, int(ts), float(v))
            for m in sorted(hot)
            for ts, v in cache_query(host, port, m)
        ]
    finally:
        server.stop()
    return spark.createDataFrame(rows, "metric string, ts long, value double")


@stage(
    "serving_http_render",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0
             WHERE metric IN ('click', 'view')),
    g AS (WITH {_grid_sql("now - 21600", "now", 60,
                          "SELECT DISTINCT event_type AS metric FROM events "
                          "WHERE event_type IN ('click', 'view')")})
    SELECT metric, ts, abs(value) AS value FROM g
    """,
    "S3 — the HTTP /render endpoint over a persisted store: GET "
    "/render?target=absolute({click,view}) resolves the glob against "
    "the store, grid-fills the window, applies the render chain, and "
    "returns JSON rows — the graphite-web /render parity surface, "
    "exercised through a real HTTP request",
)
def q_serving_http_render(spark, sf_dir):
    import json
    from urllib.request import urlopen

    from kenshin_spark.serving import HttpFetchServer, store_render_fn

    schema = Schema.from_strings(
        "bank7", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = ParquetTieredStore(
        spark, schema,
        os.path.join(_workdir(sf_dir, "serving_http_render"), "store"),
    )
    st.upsert(0, _week_slots(spark, sf_dir))
    server = HttpFetchServer(
        fetch_fn=lambda ms, f, u, n: [],
        render_fn=store_render_fn(st),
    )
    host, port = server.start()
    try:
        url = (
            f"http://{host}:{port}/render?target=absolute(%7Bclick,view%7D)"
            f"&from={CUT - 21600}&until={CUT}&now={CUT}"
        )
        with urlopen(url) as resp:
            body = json.loads(resp.read())
    finally:
        server.stop()
    return spark.createDataFrame(
        [(m, int(ts), None if v is None else float(v))
         for m, ts, v in body["rows"]],
        "metric string, ts long, value double",
    )


# ---------------------------------------------------------------------------
# S6 — the Whisper migration loop (graphite interop, both directions)
# ---------------------------------------------------------------------------


@stage(
    "whisper_export_import_roundtrip",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0 WHERE ts < {DAY1_END}
    """,
    "S6 both ways — graphite interop: day 1's grid exported to Whisper "
    ".wsp (one metric per file, ring slots at (ts//spp) %% count, gaps "
    "stay ts==0 — Whisper has no NULL sentinel) by the distributed "
    "exporter, then decoded back by the import connector; unlike the "
    ".hs loop there is no wide-format padding, so the round-trip is "
    "exactly the tall grid",
)
def q_whisper_export_import_roundtrip(spark, sf_dir):
    from kenshin_spark.sources.whisper import (
        export_whisper,
        read_whisper_points,
    )

    out_dir = os.path.join(
        _workdir(sf_dir, "whisper_export_import_roundtrip"), "wsp"
    )
    day1 = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    export_whisper([day1], [(60, 1440)], out_dir, agg_method="max").collect()
    return read_whisper_points(
        spark, os.path.join(out_dir, "*.wsp"), base=out_dir
    ).select("metric", "ts", "value")


@stage(
    "whisper_rehash_to_store",
    f"""
    WITH {_W}
    SELECT metric, ts - ts % 300 AS ts, max(value) AS value
    FROM t0 WHERE ts < {DAY1_END} GROUP BY 1, 2
    """,
    "M7 — the rehash/import job (bin/kenshin-rehash.py:22-100): a "
    "Whisper tree read distributedly, re-aggregated into a tiered "
    "store's 300 s archive (finest-source re-agg, max), read back via "
    "the tier read path — the full migration composition as one row",
)
def q_whisper_rehash_to_store(spark, sf_dir):
    from kenshin_spark.operators.schema_change import import_whisper_to_store
    from kenshin_spark.sources.whisper import export_whisper

    root = _workdir(sf_dir, "whisper_rehash_to_store")
    out_dir = os.path.join(root, "wsp")
    day1 = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    export_whisper([day1], [(60, 1440)], out_dir, agg_method="max").collect()
    schema = Schema.from_strings(
        "rehash", ".*", "300s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = import_whisper_to_store(
        spark,
        os.path.join(out_dir, "*.wsp"),
        schema,
        os.path.join(root, "store"),
        now=DAY1_END,
        base=out_dir,
    )
    return st.read(0)


# ---------------------------------------------------------------------------
# Ingest variants: skew salting, dead-letter quality gate, W4 age routing
# ---------------------------------------------------------------------------


@stage(
    "ingest_salted_lww",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "SURVEY §7.3 skew wiring — the two-stage salted LWW align: "
    "process_batch with skew_salts=4 spreads each hot metric's "
    "reduction over 4 reducers (salted partial arg-max, then the "
    "per-slot final), and the stored tier must be bit-identical to the "
    "single-stage grid",
)
def q_ingest_salted_lww(spark, sf_dir):
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark,
        schemas,
        _workdir(sf_dir, "ingest_salted_lww"),
        clock=lambda: float(CUT),
        skew_salts=4,
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    ing.process_batch(pts, 0)
    return ing.store_for(schemas.schemas[0]).read(0)


@stage(
    "ingest_dead_letter_quality",
    f"""
    WITH pts AS ({PTS}), ptsw AS (SELECT * FROM pts WHERE ts < {CUT})
    SELECT 'dead' AS kind, CAST(count(*) AS BIGINT) AS n_rows
    FROM ptsw WHERE value NOT BETWEEN 0 AND 100
    UNION ALL
    SELECT 'stored', CAST(count(*) AS BIGINT)
    FROM (
      SELECT metric, ts - ts % 60 AS slot FROM ptsw
      WHERE value BETWEEN 0 AND 100
      GROUP BY 1, 2
    )
    """,
    "streaming quality gate + dead letter: process_batch with an "
    "in_range(value, 0, 100) check routes violating rows to the "
    "dead-letter parquet (replayable, unlike the reference's log line "
    "rurouni/protocols.py:40-42) and stores only the survivors' LWW "
    "slots; the row audits both sides of the split",
)
def q_ingest_dead_letter_quality(spark, sf_dir):
    from kenshin_spark.quality import in_range
    from kenshin_spark.streaming.ingest import StreamingIngest

    root = _workdir(sf_dir, "ingest_dead_letter_quality")
    dl = os.path.join(root, "dead")
    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, os.path.join(root, "store"),
        clock=lambda: float(CUT), dead_letter_path=dl,
        quality_checks=[in_range("value", 0, 100)],
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    ing.process_batch(pts, 0)
    dead = spark.read.parquet(dl).select(
        F.lit("dead").alias("kind"), F.lit(1).alias("_one")
    )
    stored = ing.store_for(schemas.schemas[0]).read(0).select(
        F.lit("stored").alias("kind"), F.lit(1).alias("_one")
    )
    return (
        dead.unionByName(stored)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@stage(
    "ingest_age_routing_tiers",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts, now_t WHERE now - ts <= 604800 GROUP BY 1, 2
    ),
    prop AS (
      SELECT metric, ts - ts % 300 AS ts, max(value) AS value
      FROM t0 GROUP BY 1, 2
    ),
    direct AS (
      SELECT metric, ts - ts % 300 AS ts, arg_max(value, arrival) AS value
      FROM pts, now_t
      WHERE now - ts > 604800 AND now - ts <= 7776000 GROUP BY 1, 2
    ),
    t1 AS (
      SELECT coalesce(d.metric, p.metric) AS metric,
             coalesce(d.ts, p.ts) AS ts,
             CASE WHEN d.metric IS NOT NULL THEN d.value
                  ELSE p.value END AS value
      FROM direct d
      FULL OUTER JOIN prop p ON p.metric = d.metric AND p.ts = d.ts
    )
    SELECT CAST(0 AS BIGINT) AS tier, metric, ts, value FROM t0
    UNION ALL
    SELECT CAST(1 AS BIGINT), metric, ts, value FROM t1
    """,
    "W4 + W7 composed — point-age archive routing through the full "
    "ingest path (kenshin/storage.py:384-425): the newest week lands in "
    "the 60 s tier and CASCADES into the 300 s tier (the write-time "
    "downsample every tier0 flush triggers), while older points route "
    "STRAIGHT into the 300 s tier at its own resolution, their direct "
    "write winning last-write-wins over any cascaded slot it collides "
    "with — the oracle replays the exact write order",
)
def q_ingest_age_routing_tiers(spark, sf_dir):
    from kenshin_spark.streaming.ingest import StreamingIngest

    pts = _points(spark, sf_dir)
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:7d,300s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_age_routing_tiers"),
        clock=lambda: float(now),
    )
    ing.process_batch(pts, 0)
    st = ing.store_for(schemas.schemas[0])
    return (
        st.read(0)
        .select(F.lit(0).cast("long").alias("tier"), "metric", "ts", "value")
        .unionByName(
            st.read(1).select(
                F.lit(1).cast("long").alias("tier"), "metric", "ts", "value"
            )
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join; glob fetch without a catalog
# ---------------------------------------------------------------------------


@stage(
    "store_bucketed_colocated_join",
    f"""
    WITH {_W},
    stats AS (SELECT metric, CAST(count(*) AS BIGINT) AS n_slots,
                     max(value) AS peak
              FROM t0 GROUP BY metric)
    SELECT t0.metric, t0.ts, t0.value, s.n_slots, s.peak
    FROM t0 JOIN stats s ON s.metric = t0.metric
    """,
    "SCALING §storage — bucketed co-location: both sides persisted "
    "bucketed-by-metric + sorted (write_bucketed), so the fact-to-stats "
    "join plans sort-merge with NO exchange on either side (pinned in "
    "tests/test_plans.py for the bucketing module); the row verifies "
    "the joined VALUES, the plan test verifies the shuffle-free shape",
)
def q_store_bucketed_colocated_join(spark, sf_dir):
    from kenshin_spark.bucketing import cobucketed_join, write_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    slots_t = f"r10_slots_{tag}"
    stats_t = f"r10_stats_{tag}"
    for t in (slots_t, stats_t):
        # drop catalog entry AND any orphaned warehouse dir from a prior
        # session (saveAsTable refuses a pre-existing location)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        import shutil as _shutil

        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        _shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    slots = _week_slots(spark, sf_dir)
    write_bucketed(slots, slots_t, n_buckets=8)
    write_bucketed(
        slots.groupBy("metric").agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.max("value").alias("peak"),
        ),
        stats_t,
        n_buckets=8,
        sort_cols=("metric",),
    )
    return cobucketed_join(spark, slots_t, stats_t, ["metric"]).select(
        "metric", "ts", "value", "n_slots", "peak"
    )


@stage(
    "store_fetch_glob_no_catalog",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0),
    {_grid_sql("now - 43200", "now", 60,
               "SELECT DISTINCT event_type AS metric FROM events "
               "WHERE event_type LIKE 'c%'")}
    """,
    "R8/M4 — glob resolution WITHOUT a catalog: fetch_glob falls back "
    "to the tier-0 metric namespace (the path a fresh store takes "
    "before any catalog_add), resolving 'c*' against the stored "
    "metrics and grid-filling the last 12 hours",
)
def q_store_fetch_glob_no_catalog(spark, sf_dir):
    schema = Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = ParquetTieredStore(
        spark, schema,
        os.path.join(_workdir(sf_dir, "store_fetch_glob_no_catalog"), "store"),
    )
    st.upsert(0, _week_slots(spark, sf_dir))
    return st.fetch_glob("c*", CUT - 43200, CUT, CUT)


# ---------------------------------------------------------------------------
# Multimodal: containers built by the engine's OWN encoders
# ---------------------------------------------------------------------------


# _doc_ids moved to bank_common (leaf module) so later banks can share
# it without a bank->bank import cycle on executors
from kenshin_spark.bank_common import _doc_ids  # noqa: E402


def _gradient(doc_id: int, h: int, w: int):
    import numpy as np

    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    return ((doc_id + 31 * y + 17 * x) % 256).astype(np.uint8)


@stage(
    "mm_bmp_container_dims",
    """
    SELECT doc_id,
           8 + doc_id % 24 AS width,
           8 + (doc_id * 7) % 16 AS height,
           'bmp' AS format,
           54 + (8 + (doc_id * 7) % 16)
              * (((8 + doc_id % 24) * 3 + 3) // 4 * 4) AS n_bytes
    FROM documents WHERE doc_id % 50 = 0
    """,
    "multimodal loop, write half verified by the read half: per-doc "
    "gradient arrays encoded to REAL 24-bit BMP containers by the "
    "engine's encode_bmp inside mapInPandas, then image_metadata "
    "decodes dims and the byte size follows the BI_RGB layout "
    "arithmetic (54-byte header + 4-aligned rows) exactly",
)
def q_mm_bmp_container_dims(spark, sf_dir):
    import pandas as pd

    from kenshin_spark.multimodal import image_metadata

    def kern(batches):
        from kenshin_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 24, 8 + (did * 7) % 16
                rows.append((did, codecs.encode_bmp(_gradient(did, h, w))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = _doc_ids(spark, sf_dir).mapInPandas(
        kern, "doc_id long, payload binary"
    )
    return image_metadata(payloads).select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "format",
        "n_bytes",
    )


@stage(
    "mm_jpeg_container_dims",
    """
    SELECT doc_id,
           8 + doc_id % 24 AS width,
           8 + (doc_id * 7) % 16 AS height,
           'jpeg' AS format
    FROM documents WHERE doc_id % 50 = 0
    """,
    "the JPEG write/read loop as a driver row: per-doc gradients "
    "encoded to REAL baseline-JPEG containers by the engine's "
    "encode_jpeg (T.81 FDCT + canonical Huffman), then image_metadata "
    "parses the frame header natively — no PIL anywhere in the path",
)
def q_mm_jpeg_container_dims(spark, sf_dir):
    import pandas as pd

    from kenshin_spark.multimodal import image_metadata

    def kern(batches):
        from kenshin_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 24, 8 + (did * 7) % 16
                rows.append((did, codecs.encode_jpeg(_gradient(did, h, w))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = _doc_ids(spark, sf_dir).mapInPandas(
        kern, "doc_id long, payload binary"
    )
    return image_metadata(payloads).select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "format",
    )


@stage(
    "mm_resize_pixel_sum",
    """
    WITH ij AS (
      SELECT a.i, b.j
      FROM (SELECT unnest(generate_series(0, 3)) AS i) a
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) b
    )
    SELECT d.doc_id,
           CAST(3 * sum((d.doc_id + 124 * ij.i + 68 * ij.j) % 256)
                AS BIGINT) AS pixel_sum
    FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 0) d
    CROSS JOIN ij
    GROUP BY d.doc_id
    """,
    "resize correctness down to the PIXEL VALUES: 16x16 engine-built "
    "BMP gradients through resize_images (nearest-neighbor -> 4x4 BMP "
    "re-encode), decoded back and summed — nearest-neighbor is exact "
    "index math (ys = 4i, xs = 4j), so the oracle replays the selected "
    "pixels with integer arithmetic alone",
)
def q_mm_resize_pixel_sum(spark, sf_dir):
    import pandas as pd

    from kenshin_spark.multimodal.transforms import resize_images

    def kern(batches):
        from kenshin_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rows.append((did, codecs.encode_bmp(_gradient(did, 16, 16))))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = _doc_ids(spark, sf_dir).mapInPandas(
        kern, "doc_id long, payload binary"
    )
    resized = resize_images(payloads, width=4, height=4)

    def sum_kern(batches):
        from kenshin_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for did, blob in zip(pdf["doc_id"], pdf["resized"]):
                arr = codecs.decode_bmp(bytes(blob))
                rows.append((int(did), int(arr.astype("int64").sum())))
            yield pd.DataFrame(rows, columns=["doc_id", "pixel_sum"])

    return resized.select("doc_id", "resized").mapInPandas(
        sum_kern, "doc_id long, pixel_sum long"
    )


@stage(
    "mm_wav_square_rms",
    """
    SELECT doc_id,
           (800 + (doc_id % 5) * 80) / 8 AS duration_ms,
           CAST(8000 AS INT) AS sample_rate,
           CAST(8192 * (1 + doc_id % 3) AS DOUBLE) / 32768.0 AS rms,
           800 + (doc_id % 5) * 80 AS n_samples
    FROM documents WHERE doc_id % 50 = 0
    """,
    "audio features from REAL PCM WAV bytes the row itself synthesizes "
    "(stdlib wave writer, per-doc square waves): a square wave's RMS "
    "is exactly its amplitude, and amplitude/rate/length are integer "
    "functions of doc_id — so duration, rate, and RMS verify exactly, "
    "not approximately",
)
def q_mm_wav_square_rms(spark, sf_dir):
    import pandas as pd

    from kenshin_spark.multimodal.transforms import audio_features

    def kern(batches):
        import io
        import wave

        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 800 + (did % 5) * 80
                amp = 8192 * (1 + did % 3)
                samples = np.where(
                    np.arange(n) % 2 == 0, amp, -amp
                ).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(samples.tobytes())
                rows.append((did, buf.getvalue()))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = _doc_ids(spark, sf_dir).mapInPandas(
        kern, "doc_id long, payload binary"
    )
    return audio_features(payloads).select(
        "doc_id",
        F.col("duration_ms").cast("long").alias("duration_ms"),
        "sample_rate",
        "rms",
        F.col("n_samples").cast("long").alias("n_samples"),
    )


# ---------------------------------------------------------------------------
# Bloom membership pre-pass (incremental exact dedup at 100 TB)
# ---------------------------------------------------------------------------

@stage(
    "dedup_bloom_prefilter",
    _bloom_oracle(64, 4),
    "incremental exact dedup's membership pre-pass at 100 TB: the "
    "corpus fingerprint set folds into a FIXED 64-word relational "
    "Bloom bitmap (bit_or of seeded-md5 positions — broadcasts for "
    "free at any corpus size), each batch doc probes all k bits "
    "map-side, and only bloom hits reach the exact md5 join; corpus "
    "members always hit (no false negatives — pinned by exact_dup => "
    "bloom_hit on every row), novel texts hit only at the "
    "false-positive rate, replayed bit-for-bit by the oracle",
)
def q_dedup_bloom_prefilter(spark, sf_dir):
    from kenshin_spark.dedup.exact import bloom_bitmap, bloom_probe
    from kenshin_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0).select(
        F.md5("text").alias("fp")
    )
    batch = docs.where((F.col("doc_id") % 10).isin(0, 1)).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" novel"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    bitmap = bloom_bitmap(corpus.distinct(), fp_col="fp", m_words=64, k=4)
    probed = bloom_probe(batch, bitmap, fp_col="fp", m_words=64, k=4)
    exact = corpus.distinct().withColumn("_dup", F.lit(True))
    return (
        batch.join(probed, "fp")
        .join(exact, "fp", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("exact_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Config parsing (M11), line-protocol dead letters, corrupt-file skip,
# whisper header inspect, HTTP /fetch
# ---------------------------------------------------------------------------

_CONF_EXAMPLE = """
[metric_test]
pattern = .*metric_test.*
retentions = 1s:1h,6s:2h
xFilesFactor = 1.0
aggregationMethod = average
cacheRetention = 10s
metricsPerFile = 2

[rurouni_stats]
pattern = ^rurouni\\.
retentions = 60s:2d,300s:7d
xFilesFactor = 20.0
aggregationMethod = sum
cacheRetention = 600s

[everything_else]
pattern = .*
retentions = 10s:12h,60s:2d,300s:7d
cacheRetention = 620s
"""


@stage(
    "config_parse_storage_schemas",
    """
    SELECT * FROM (VALUES
      ('metric_test', '.*metric_test.*', CAST(2 AS BIGINT), 'average',
       CAST(7200 AS BIGINT), CAST(10 AS BIGINT)),
      ('rurouni_stats', '^rurouni\\.', CAST(2 AS BIGINT), 'sum',
       CAST(604800 AS BIGINT), CAST(600 AS BIGINT)),
      ('everything_else', '.*', CAST(3 AS BIGINT), 'average',
       CAST(604800 AS BIGINT), CAST(620 AS BIGINT))
    ) AS t(name, pattern, n_archives, agg_method, max_retention,
           cache_retention)
    """,
    "M11 — the config system as a driver row: the storage-schemas.conf "
    "INI dialect (ordered sections = match priority, retention strings, "
    "time-string cacheRetention, per-section agg/xff) parsed by the "
    "engine's loader (rurouni/storage.py:116-149 semantics), surfaced "
    "as the schema table",
)
def q_config_parse_storage_schemas(spark, sf_dir):
    from kenshin_spark.config import parse_storage_schemas

    ss = parse_storage_schemas(_CONF_EXAMPLE)
    return spark.createDataFrame(
        [
            (
                s.name,
                s.pattern,
                len(s.archives),
                s.agg_method,
                s.max_retention,
                s.cache_retention,
            )
            for s in ss.schemas
        ],
        "name string, pattern string, n_archives long, agg_method string, "
        "max_retention long, cache_retention long",
    )


@stage(
    "lp_corrupt_dead_letter",
    f"""
    WITH pts AS ({PTS}), ptsw AS (SELECT * FROM pts WHERE ts < {CUT})
    SELECT 'corrupt' AS kind, CAST(3 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'ok', CAST(count(*) AS BIGINT) FROM ptsw
    """,
    "S1 — line-protocol dead-letter accounting: the week's points "
    "rendered to wire lines plus three injected malformed lines "
    "(wrong field count, NaN-free garbage value, empty metric); the "
    "parser must route exactly the bad lines to the corrupt column "
    "(rurouni/protocols.py:40-42 logs them; the dead-letter column is "
    "the replayable upgrade) and parse every well-formed line",
)
def q_lp_corrupt_dead_letter(spark, sf_dir):
    from kenshin_spark.sources.line_protocol import parse_metric_lines

    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    lines = pts.select(
        F.concat_ws(
            " ", F.col("metric"), F.col("value").cast("string"),
            F.col("ts").cast("string"),
        ).alias("value")
    )
    bad = spark.createDataFrame(
        [("only_two_fields 1.0",), ("metric abc 123",), (" 1.0 2.0",)],
        ["value"],
    )
    parsed = parse_metric_lines(lines.unionByName(bad))
    return (
        parsed.select(
            F.when(F.col("corrupt").isNotNull(), "corrupt")
            .otherwise("ok")
            .alias("kind")
        )
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@stage(
    "hs_import_corrupt_skip",
    None,  # bound below: the wide-format replay restricted to shards 1-3
    "S6b resilience — skip_corrupt: one of the four exported .hs "
    "bucket files truncated to 40 bytes (a mid-copy crash); the import "
    "with skip_corrupt=True must decode the three intact files and "
    "drop the bad one without failing the job (at migration scale a "
    "single truncated file should cost its own rows, not the run)",
)
def q_hs_import_corrupt_skip(spark, sf_dir):
    from kenshin_spark.queries_staged_r8_engine import _export_day1
    from kenshin_spark.sources.kenshin_hs import read_kenshin_points

    out_dir = _export_day1(spark, sf_dir, "hs_import_corrupt_skip")
    victim = os.path.join(out_dir, "bucket_00000.hs")
    with open(victim, "rb") as f:
        head = f.read(40)
    with open(victim, "wb") as f:
        f.write(head)
    return read_kenshin_points(
        spark, os.path.join(out_dir, "*.hs"), skip_corrupt=True
    ).select("metric", "ts", "value")


@stage(
    "whisper_headers_inspect",
    f"""
    WITH {_W}
    SELECT metric, 'max' AS agg_method, CAST(86400 AS BIGINT) AS
           max_retention, CAST(0.5 AS DOUBLE) AS xff,
           CAST(1 AS BIGINT) AS archive_count
    FROM (SELECT DISTINCT metric FROM t0 WHERE ts < {DAY1_END})
    """,
    "R9/S6 — whisper header inspect: one row per exported .wsp with the "
    "unpacked metadata (agg id, retention, xff f32, archive count) and "
    "the metric name recovered from the file path exactly as "
    "metric_from_path inverts the export layout",
)
def q_whisper_headers_inspect(spark, sf_dir):
    from kenshin_spark.sources.whisper import (
        export_whisper,
        read_whisper_headers,
    )

    out_dir = os.path.join(
        _workdir(sf_dir, "whisper_headers_inspect"), "wsp"
    )
    day1 = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    export_whisper([day1], [(60, 1440)], out_dir, agg_method="max").collect()
    return read_whisper_headers(
        spark, os.path.join(out_dir, "*.wsp"), base=out_dir
    ).select(
        "metric",
        "agg_method",
        F.col("max_retention").cast("long").alias("max_retention"),
        F.col("xff").cast("double").alias("xff"),
        F.col("archive_count").cast("long").alias("archive_count"),
    )


@stage(
    "serving_http_fetch",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0),
    g AS (WITH {_grid_sql("now - 10800", "now", 60)})
    SELECT metric, ts, value FROM g
    """,
    "S3 — the HTTP /fetch endpoint: GET /fetch?metric=...x5&from&until&"
    "now against a store-backed fetch_fn returns the clamped, "
    "tier-selected, NULL-filled JSON grid for the requested metrics — "
    "the thin-API surface SURVEY §3.3 sketches, over a real HTTP "
    "round-trip",
)
def q_serving_http_fetch(spark, sf_dir):
    import json
    from urllib.request import urlopen

    from kenshin_spark.serving import HttpFetchServer

    schema = Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = ParquetTieredStore(
        spark, schema,
        os.path.join(_workdir(sf_dir, "serving_http_fetch"), "store"),
    )
    st.upsert(0, _week_slots(spark, sf_dir))

    def fetch_fn(metrics, frm, until, now):
        grid = st.fetch(list(metrics), frm, until, now)
        if grid is None:
            return []
        return [
            (r["metric"], r["ts"], r["value"])
            for r in grid.collect()
        ]

    server = HttpFetchServer(fetch_fn=fetch_fn)
    host, port = server.start()
    try:
        ms = "&".join(
            f"metric={m}" for m in ("click", "error", "purchase",
                                    "signup", "view")
        )
        url = (
            f"http://{host}:{port}/fetch?{ms}"
            f"&from={CUT - 10800}&until={CUT}&now={CUT}"
        )
        with urlopen(url) as resp:
            body = json.loads(resp.read())
    finally:
        server.stop()
    return spark.createDataFrame(
        [(m, int(ts), None if v is None else float(v))
         for m, ts, v in body["rows"]],
        "metric string, ts long, value double",
    )


# bind the corrupt-skip oracle: the wide-format .hs replay restricted
# to the three intact shards (shard 0's file was truncated)
_spec = STAGED_R10["hs_import_corrupt_skip"]
from kenshin_spark.queries_staged_r8_engine import (  # noqa: E402
    _HS_ROUNDTRIP_SQL,
    _fnv_shard_sql,
)

STAGED_R10["hs_import_corrupt_skip"] = QuerySpec(
    fn=_spec.fn,
    oracle=(
        f"WITH RECURSIVE {_W},\n{_fnv_shard_sql(4)},\n"
        + _HS_ROUNDTRIP_SQL.format(value_expr="value", day1_end=DAY1_END)
        .replace(
            "FROM sharded m JOIN slots sl ON sl.shard = m.shard",
            "FROM (SELECT * FROM sharded WHERE shard <> 0) m "
            "JOIN slots sl ON sl.shard = m.shard",
        )
    ),
    doc=_spec.doc,
)
del _spec


# --------------------------------------------------------------------------
# Round-6 session additions: ingest replay/associativity invariants, the
# instrumentation counter set as self-metric points, delete+compact
# composition, Bloom sizing curve, and KMV daily-merge equivalence.
# --------------------------------------------------------------------------

from kenshin_spark.queries_staged_r8_engine import _BANK, _store  # noqa: E402


@stage(
    "ingest_replay_idempotent",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "exactly-once under at-least-once delivery: the SAME week batch "
    "pushed through process_batch twice (a retried micro-batch after a "
    "lost ack — the streaming failure mode); the LWW align keys by "
    "(metric, slot, arrival) so the replay upsert resolves to the "
    "identical tier content, not doubled rows — the store reads back "
    "the one-pass grid bit-for-bit",
)
def q_ingest_replay_idempotent(spark, sf_dir):
    from kenshin_spark.config import Schema, SchemaSet
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_replay_idem"),
        clock=lambda: float(CUT),
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    pts = pts.localCheckpoint(eager=True)  # scanned by both deliveries
    ing.process_batch(pts, 0)
    ing.process_batch(pts, 1)  # the redelivery
    return ing.store_for(schemas.schemas[0]).read(0)


@stage(
    "ingest_batch_split_merge",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "micro-batch associativity: the week split into two batches at an "
    "arrival watermark (every arrival in batch 2 is newer than batch 1 "
    "— exactly how a real stream micro-batches) and ingested "
    "separately; cross-batch slot conflicts resolve last-batch-wins, "
    "which under arrival-ordered batching IS max-arrival-wins, so the "
    "two-batch store converges to the one-pass LWW grid bit-for-bit — "
    "the property that makes backfill and live ingestion "
    "interchangeable",
)
def q_ingest_batch_split_merge(spark, sf_dir):
    from kenshin_spark.config import Schema, SchemaSet
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_split_merge"),
        clock=lambda: float(CUT),
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    pts = pts.localCheckpoint(eager=True)
    mid = pts.agg(
        ((F.min("arrival") + F.max("arrival")) / 2).cast("long")
    ).collect()[0][0]
    ing.process_batch(pts.where(F.col("arrival") <= mid), 0)
    ing.process_batch(pts.where(F.col("arrival") > mid), 1)
    return ing.store_for(schemas.schemas[0]).read(0)


@stage(
    "ingest_self_metrics",
    f"""
    WITH {_W}
    SELECT 'rurouni.metrics_received' AS metric,
           CAST({CUT} AS BIGINT) AS ts,
           CAST(count(*) AS DOUBLE) AS value FROM ptsw
    UNION ALL
    SELECT 'rurouni.committed_points', {CUT},
           CAST(count(*) AS DOUBLE) FROM t0
    UNION ALL
    SELECT 'rurouni.creates', {CUT},
           CAST(count(DISTINCT metric) AS DOUBLE) FROM ptsw
    UNION ALL SELECT 'rurouni.dropped_creates', {CUT}, 0.0
    UNION ALL SELECT 'rurouni.corrupt_lines', {CUT}, 0.0
    UNION ALL SELECT 'rurouni.update_operations', {CUT}, 1.0
    """,
    "S8 — the instrumentation counter set as self-metric points "
    "(rurouni/state/instrumentation.py:24-38 mirrored names): after one "
    "week batch, metrics_received = raw points, committed_points = "
    "aligned LWW slots, creates = new catalog entries, zero dropped/"
    "corrupt, one update operation — IngestStats.as_points emits them "
    "as rurouni.* points ready to feed back into the store, and every "
    "counter is independently recomputed by the oracle",
)
def q_ingest_self_metrics(spark, sf_dir):
    from kenshin_spark.config import Schema, SchemaSet
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_self_metrics"),
        clock=lambda: float(CUT),
    )
    ing.process_batch(_points(spark, sf_dir).where(F.col("ts") < CUT), 0)
    return spark.createDataFrame(
        ing.stats.as_points(CUT), "metric string, ts long, value double"
    )


@stage(
    "store_delete_then_compact",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0 WHERE metric <> 'click'
    """,
    "maintenance composition: metric delete (tier rewrite + .bak swap) "
    "followed by full compaction (one file per day partition) — the "
    "two maintenance passes must compose without resurrecting deleted "
    "rows (the .bak from the delete must not leak back into the "
    "compaction's read) and survivors stay bit-identical",
)
def q_store_delete_then_compact(spark, sf_dir):
    st = _store(spark, sf_dir, "store_delete_then_compact")
    st.upsert(0, _week_slots(spark, sf_dir))
    st.delete_metrics(["click"])
    st.compact(0)
    return st.read(0)


# --------------------------------------------------------------------------
# Sketch sizing/merge rows, burstiness, quality-mix, sample-rate
# estimation, recency bands, native PNG write/read loop.
# --------------------------------------------------------------------------

from kenshin_spark.io import load_table  # noqa: E402
from kenshin_spark.queries import _STOP_RE  # noqa: E402


def _fpr_at(m_words: int) -> str:
    return f"""
    SELECT CAST({m_words} AS BIGINT) AS m_words,
           sum(CASE WHEN NOT exact_dup THEN 1 ELSE 0 END) AS n_novel,
           sum(CASE WHEN NOT exact_dup AND bloom_hit THEN 1 ELSE 0 END)
             AS n_false_pos
    FROM ({_bloom_oracle(m_words, 4)})
    """


@stage(
    "sketch_bloom_sizing_curve",
    " UNION ALL ".join(_fpr_at(m) for m in (16, 64, 256)),
    "the Bloom sizing decision as data: the SAME corpus fingerprint "
    "set folded into 16-, 64- and 256-word bitmaps (k=4), probed by "
    "the same novel batch — the measured false-positive count per "
    "size, i.e. the exact curve an ingest planner trades broadcast "
    "bytes against md5-join fallthrough with; replayed bit-for-bit at "
    "every size",
)
def q_sketch_bloom_sizing_curve(spark, sf_dir):
    from kenshin_spark.dedup.exact import bloom_bitmap, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0).select(
        F.md5("text").alias("fp")
    ).distinct().localCheckpoint(eager=True)
    batch = docs.where((F.col("doc_id") % 10).isin(0, 1)).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(F.col("text"), F.lit(" novel")),
            ).otherwise(F.col("text"))
        ).alias("fp"),
    ).localCheckpoint(eager=True)
    exact = corpus.withColumn("_dup", F.lit(True))
    out = None
    for m in (16, 64, 256):
        bm = bloom_bitmap(corpus, fp_col="fp", m_words=m, k=4)
        pr = bloom_probe(batch, bm, fp_col="fp", m_words=m, k=4)
        per = (
            batch.join(pr, "fp")
            .join(exact, "fp", "left")
            .select(
                "bloom_hit",
                F.coalesce(F.col("_dup"), F.lit(False)).alias("exact_dup"),
            )
        )
        agg = per.agg(
            F.lit(m).cast("long").alias("m_words"),
            F.sum((~F.col("exact_dup")).cast("long")).alias("n_novel"),
            F.sum((~F.col("exact_dup") & F.col("bloom_hit")).cast("long"))
              .alias("n_false_pos"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


@stage(
    "sketch_kmv_merge_daily",
    """
    WITH h AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             CAST(('0x' || substr(md5('ksp|' ||
               CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events
    ),
    daily AS (
      SELECT day, h, row_number() OVER (
        PARTITION BY day ORDER BY h) AS rn
      FROM h
    ),
    merged AS (
      SELECT DISTINCT h FROM daily WHERE rn <= 256
      ORDER BY h LIMIT 256
    ),
    g AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('ksp|' ||
               CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events ORDER BY h LIMIT 256
    ),
    me AS (
      SELECT CAST(floor(CASE WHEN count(*) < 256
               THEN CAST(count(*) AS DOUBLE)
               ELSE 255.0 * 1152921504606846976.0 / max(h) END)
             AS BIGINT) AS est FROM merged
    ),
    ge AS (
      SELECT CAST(floor(CASE WHEN count(*) < 256
               THEN CAST(count(*) AS DOUBLE)
               ELSE 255.0 * 1152921504606846976.0 / max(h) END)
             AS BIGINT) AS est FROM g
    )
    SELECT me.est AS merged_est, ge.est AS global_est FROM me, ge
    """,
    "KMV mergeability — the sketch-rollup contract: per-day bottom-256 "
    "distinct user-hash sets, unioned and re-bottomed to 256, estimate "
    "exactly what one global pass estimates (bottom-k of a union == "
    "bottom-k of per-part bottom-ks), so daily cardinality state rolls "
    "up without rescanning raw events; both paths replay bit-for-bit",
)
def q_sketch_kmv_merge_daily(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.functions.sampling import hash60
    from kenshin_spark.functions.sketches import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    k = 256
    h = (
        ev.select(F.to_date("ts").alias("day"), hash60("user_id").alias("h"))
        .distinct()
    )
    daily = h.withColumn(
        "rn", F.row_number().over(Window.partitionBy("day").orderBy("h"))
    ).where(F.col("rn") <= k)
    merged = daily.select("h").distinct().orderBy("h").limit(k)
    m = merged.agg(F.count(F.lit(1)).alias("_n"), F.max("h").alias("_hk"))
    m_est = m.select(
        F.floor(
            F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
                F.lit(float(k - 1)) * F.lit(float(2**60)) / F.col("_hk")
            )
        ).cast("long").alias("merged_est")
    )
    g_est = kmv_distinct(ev, "user_id", k=k).select(
        F.floor("approx_distinct").cast("long").alias("global_est")
    )
    return m_est.crossJoin(g_est)


@stage(
    "q_events_burstiness",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events
    ),
    w AS (
      SELECT user_id,
             count(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
             ) AS in_window
      FROM e
    )
    SELECT user_id, max(in_window) AS peak_10m, count(*) AS n_events
    FROM w GROUP BY 1
    """,
    "per-user burstiness: the maximum number of events inside any "
    "trailing 10-minute window (a RANGE frame over epoch seconds — "
    "the value-based window Spark and DuckDB define identically), the "
    "rate-limiter sizing statistic; integer counts end to end",
)
def q_q_events_burstiness(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(-600, Window.currentRow)
    )
    e = ev.withColumn("in_window", F.count(F.lit(1)).over(w))
    return e.groupBy("user_id").agg(
        F.max("in_window").alias("peak_10m"),
        F.count(F.lit(1)).alias("n_events"),
    )


@stage(
    "text_quality_reason_mix",
    rf"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             len(regexp_extract_all(lower(text), '{_STOP_RE}')) AS n_stopwords,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             n_tokens >= 25 AND n_tokens <= 100000 AS len_ok,
             n_chars >= 3 * n_tokens AND n_chars <= 10 * n_tokens
               AS mean_token_ok,
             n_stopwords >= 2 AS stopword_ok,
             n_alpha * 50 >= n_chars * 41 AS alpha_ok
      FROM f
    )
    SELECT count(*) AS n_docs,
           sum(CASE WHEN len_ok AND mean_token_ok AND stopword_ok
                     AND alpha_ok THEN 1 ELSE 0 END) AS n_keep,
           sum(CASE WHEN NOT len_ok THEN 1 ELSE 0 END) AS n_len_fail,
           sum(CASE WHEN NOT mean_token_ok THEN 1 ELSE 0 END)
             AS n_mean_fail,
           sum(CASE WHEN NOT stopword_ok THEN 1 ELSE 0 END)
             AS n_stop_fail,
           sum(CASE WHEN NOT alpha_ok THEN 1 ELSE 0 END) AS n_alpha_fail
    FROM r
    """,
    "the quality-gate dashboard number: per-rule failure counts for "
    "the Gopher-style verdict (quality_verdict — every rule an "
    "integer cross-multiplication, no float division anywhere), the "
    "mix a corpus curator reads before retuning thresholds",
)
def q_text_quality_reason_mix(spark, sf_dir):
    from kenshin_spark.functions.text import quality_verdict

    docs = load_table(spark, sf_dir, "documents")
    v = quality_verdict("text")
    d = docs.select(
        v["len_ok"].alias("len_ok"),
        v["mean_token_ok"].alias("mean_token_ok"),
        v["stopword_ok"].alias("stopword_ok"),
        v["alpha_ok"].alias("alpha_ok"),
        v["keep"].alias("keep"),
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("len_ok")).cast("long")).alias("n_len_fail"),
        F.sum((~F.col("mean_token_ok")).cast("long")).alias("n_mean_fail"),
        F.sum((~F.col("stopword_ok")).cast("long")).alias("n_stop_fail"),
        F.sum((~F.col("alpha_ok")).cast("long")).alias("n_alpha_fail"),
    )


@stage(
    "ts_sample_rate_estimate",
    f"""
    WITH pts AS ({PTS}),
    g AS (
      SELECT metric,
             ts - lag(ts) OVER (PARTITION BY metric ORDER BY ts, arrival)
               AS gap
      FROM pts
    )
    SELECT metric,
           round(median(gap), 6) AS median_gap_s,
           count(*) AS n_gaps
    FROM g WHERE gap IS NOT NULL GROUP BY 1
    """,
    "native sample-rate estimation — what a schema advisor runs before "
    "proposing retention definitions: the exact median inter-point gap "
    "per metric (lag over (ts, arrival) so duplicate timestamps order "
    "deterministically), the number the 60s tier0 step should "
    "approximate; exact interpolated median like the render layer's",
)
def q_ts_sample_rate_estimate(spark, sf_dir):
    from pyspark.sql import Window

    pts = _points(spark, sf_dir)
    w = Window.partitionBy("metric").orderBy("ts", "arrival")
    g = pts.withColumn("gap", F.col("ts") - F.lag("ts").over(w)).where(
        F.col("gap").isNotNull()
    )
    return g.groupBy("metric").agg(
        F.round(F.expr("percentile(gap, 0.5)"), 6).alias("median_gap_s"),
        F.count(F.lit(1)).alias("n_gaps"),
    )


@stage(
    "q_customer_recency_bands",
    """
    WITH mx AS (SELECT max(o_orderdate) AS now FROM orders),
    last_o AS (
      SELECT o_custkey, max(o_orderdate) AS last_order FROM orders
      GROUP BY 1
    )
    SELECT CASE WHEN datediff('day', last_order, now) <= 90 THEN '0-90'
                WHEN datediff('day', last_order, now) <= 365 THEN '91-365'
                ELSE '365+' END AS band,
           count(*) AS n_customers
    FROM last_o, mx GROUP BY 1
    """,
    "customer recency banding off the order stream's own high-water "
    "date: days since each customer's last order, banded into the "
    "retention cohorts a CRM pipeline feeds; integer day arithmetic "
    "on both engines",
)
def q_q_customer_recency_bands(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    now = orders.agg(F.max("o_orderdate").alias("now"))
    last_o = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order")
    )
    d = F.datediff("now", "last_order")
    band = (
        F.when(d <= 90, "0-90").when(d <= 365, "91-365").otherwise("365+")
    )
    return (
        last_o.crossJoin(F.broadcast(now))
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@stage(
    "mm_png_pixel_sum",
    """
    SELECT d.doc_id, d.width, d.height,
           sum((d.doc_id + 31 * y.v + 17 * x.v) % 256) AS pixel_sum
    FROM (
      SELECT doc_id, 8 + doc_id % 24 AS width,
             8 + (doc_id * 7) % 16 AS height
      FROM documents WHERE doc_id % 50 = 0
    ) d
    CROSS JOIN generate_series(0, 30) x(v)
    CROSS JOIN generate_series(0, 22) y(v)
    WHERE x.v < d.width AND y.v < d.height
    GROUP BY 1, 2, 3
    """,
    "the PNG write/read loop, pixels verified to the sum: per-doc "
    "gradient arrays zlib-packed into minimal spec-conformant PNGs "
    "(IHDR + filter-0 scanlines + IEND) inside mapInPandas, decoded "
    "back by the engine's pure-stdlib decode_png, and the decoded "
    "pixel sum must equal the closed-form gradient sum the oracle "
    "computes from doc_id arithmetic alone",
)
def q_mm_png_pixel_sum(spark, sf_dir):
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 50 = 0")
        .select("doc_id")
    )

    def kern(batches):
        import struct
        import zlib

        import numpy as np

        from kenshin_spark.multimodal import codecs

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 24, 8 + (did * 7) % 16
                y = np.arange(h)[:, None]
                x = np.arange(w)[None, :]
                arr = ((did + 31 * y + 17 * x) % 256).astype(np.uint8)
                raw = b"".join(
                    b"\x00" + arr[r].tobytes() for r in range(h)
                )
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
                payload = (
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw))
                    + chunk(b"IEND", b"")
                )
                dec = codecs.decode_png(payload)
                rows.append(
                    (did, dec.shape[1], dec.shape[0], int(dec.sum()))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "pixel_sum"]
            )

    return docs.mapInPandas(
        kern, "doc_id long, width long, height long, pixel_sum long"
    )


# --------------------------------------------------------------------------
# Fingerprint bucket profile, token degree profile, flap rate, and
# three catalog-analytics rows.
# --------------------------------------------------------------------------

from kenshin_spark.queries import QUERIES as _REG  # noqa: E402


@stage(
    "text_fp_bucket_profile",
    f"""
    SELECT fingerprint % 64 AS bucket, count(*) AS n_docs
    FROM ({_REG["text_rolling_fingerprint"].oracle}) GROUP BY 1
    """,
    "hash-distribution audit of the rolling fingerprint: the min-"
    "pooled shingle signature bucketed mod 64 with per-bucket counts — "
    "the uniformity check a fingerprint-partitioned dedup index relies "
    "on before choosing its shuffle key; derived from the SAME engine "
    "path and oracle as text_rolling_fingerprint so the bucket "
    "distribution is hash-checked end to end",
)
def q_text_fp_bucket_profile(spark, sf_dir):
    from kenshin_spark.functions.text import rolling_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            (rolling_fingerprint("text") % 64).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@stage(
    "graph_token_degree_profile",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok,
             generate_subscripts(
               string_split_regex(trim(lower(text)), '\s+'), 1) AS pos
      FROM documents
    ),
    edges AS (
      SELECT DISTINCT a.tok AS src, b.tok AS dst
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.tok <> b.tok
    ),
    und AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ),
    deg AS (SELECT src, count(DISTINCT dst) AS degree FROM und GROUP BY 1)
    SELECT degree, count(*) AS n_tokens
    FROM deg GROUP BY 1
    """,
    "token co-occurrence degree distribution: the adjacency-bigram "
    "graph (the same graph token_pagerank walks), undirected distinct "
    "neighbor counts per token, folded into a degree histogram — the "
    "connectivity profile that decides whether pagerank needs "
    "teleport-heavy damping; integer counts, posexplode + one "
    "self-join, replayed via generate_subscripts",
)
def q_graph_token_degree_profile(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower("text")), r"\s+")
        ).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a, b = toks.alias("a"), toks.alias("b")
    edges = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .where(F.col("a.tok") != F.col("b.tok"))
        .select(F.col("a.tok").alias("src"), F.col("b.tok").alias("dst"))
        .distinct()
    )
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = und.groupBy("src").agg(
        F.countDistinct("dst").alias("degree")
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_tokens"))


@stage(
    "ts_flap_rate",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    ch AS (
      SELECT metric, CAST(ts // 86400 AS BIGINT) AS day,
             CASE WHEN lag(ts) OVER w IS NULL THEN 0
                  WHEN value = lag(value) OVER w THEN 0 ELSE 1 END AS flip
      FROM t0 WINDOW w AS (PARTITION BY metric ORDER BY ts)
    )
    SELECT metric, day,
           CAST(sum(flip) AS BIGINT) AS n_flips,
           count(*) AS n_slots
    FROM ch GROUP BY 1, 2
    """,
    "alert flap rate: per metric-day, how many tier0 slots CHANGED "
    "value vs the previous slot (the graphite changed() primitive "
    "aggregated into the flappiness number an alert-tuning pass "
    "thresholds); the first slot of a series never counts, day "
    "boundaries use the same epoch floor-division on both engines",
)
def q_ts_flap_rate(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.functions.render import changed

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    ch = changed(t0)
    # changed() emits 1.0/0.0 flip flags on the grid; aggregate per day
    return (
        ch.groupBy(
            "metric", (F.col("ts") / 86400).cast("long").alias("day")
        )
        .agg(
            F.sum("value").cast("long").alias("n_flips"),
            F.count(F.lit(1)).alias("n_slots"),
        )
    )


@stage(
    "q_top_parts_by_margin",
    """
    WITH m AS (
      SELECT l_partkey,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))))
                   AS DOUBLE), 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT p.p_type, p.p_partkey, m.revenue, m.n_lines,
             row_number() OVER (
               PARTITION BY p.p_type
               ORDER BY m.revenue DESC, p.p_partkey) AS rnk
      FROM m JOIN part p ON p.p_partkey = m.l_partkey
    )
    SELECT p_type, p_partkey, revenue, n_lines FROM r WHERE rnk <= 3
    """,
    "top-3 revenue parts per type: DECIMAL-exact discounted revenue "
    "per part (the TPC-H money-math discipline), broadcast-joined to "
    "the part dimension and ranked per type with a partkey tie-break",
)
def q_q_top_parts_by_margin(spark, sf_dir):
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    m = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    j = m.join(
        F.broadcast(part), m.l_partkey == part.p_partkey
    )
    w = Window.partitionBy("p_type").orderBy(
        F.col("revenue").desc(), F.col("p_partkey")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("p_type", "p_partkey", "revenue", "n_lines")
    )


@stage(
    "q_orders_status_timeline",
    """
    SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
           o_orderstatus,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_value
    FROM orders GROUP BY 1, 2
    """,
    "order status timeline: monthly order counts and DECIMAL-exact "
    "value per status — the fulfilment monitoring rollup, one "
    "map-side-combined aggregate",
)
def q_q_orders_status_timeline(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("total_value"),
    )


@stage(
    "q_supplier_regional_coverage",
    """
    SELECT r.r_name,
           count(*) AS n_suppliers,
           count(DISTINCT s.s_nationkey) AS n_nations,
           round(CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_balance
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1
    """,
    "supplier coverage per region: the supplier->nation->region "
    "dimension chain (both dims broadcast — no shuffle beyond the "
    "final aggregate), nation breadth and DECIMAL-exact balances",
)
def q_q_supplier_regional_coverage(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.countDistinct("s_nationkey").alias("n_nations"),
        F.round(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total_balance"),
    )


# --------------------------------------------------------------------------
# Tagged line-protocol, store glob + render rollup, IVF recall audit,
# error budget burn, retention cost model, 4:2:0 JPEG dims, cascade
# associativity.
# --------------------------------------------------------------------------


@stage(
    "lp_parse_tagged_lines",
    f"""
    WITH pts AS ({PTS}),
    lines AS (
      SELECT metric || ';dc=d' || CAST(arrival % 2 AS VARCHAR)
               || ';host=h' || CAST(arrival % 3 AS VARCHAR)
               || ' ' || CAST(value AS VARCHAR)
               || ' ' || CAST(ts AS VARCHAR) AS line
      FROM pts WHERE value IS NOT NULL
    ),
    parsed AS (
      SELECT string_split(string_split(line, ' ')[1], ';')[1] AS name,
             string_split(string_split(
               string_split(line, ' ')[1], ';')[3], '=')[2] AS host
      FROM lines
    )
    SELECT name, host, count(*) AS n_points
    FROM parsed GROUP BY 1, 2
    """,
    "tagged series through the wire format: line-protocol rows whose "
    "metric field carries graphite 1.1 tags (no spaces, so the "
    "3-field parse is unchanged), parsed by parse_metric_lines and "
    "projected through series_name/series_tags — the relay-to-catalog "
    "path for tagged fleets; counts per (name, host) replayed via "
    "string ops",
)
def q_lp_parse_tagged_lines(spark, sf_dir):
    from kenshin_spark.functions.tags import series_name, series_tags
    from kenshin_spark.sources.line_protocol import parse_metric_lines

    pts = _points(spark, sf_dir).where(F.col("value").isNotNull())
    lines = pts.select(
        F.concat_ws(
            " ",
            F.concat(
                F.col("metric"),
                F.lit(";dc=d"), (F.col("arrival") % 2).cast("string"),
                F.lit(";host=h"), (F.col("arrival") % 3).cast("string"),
            ),
            F.col("value").cast("string"),
            F.col("ts").cast("string"),
        ).alias("value")
    )
    parsed = parse_metric_lines(lines).where(F.col("corrupt").isNull())
    return (
        parsed.select(
            series_name("metric").alias("name"),
            series_tags("metric")["host"].alias("host"),
        )
        .groupBy("name", "host")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@stage(
    "store_glob_group_rollup",
    f"""
    SELECT 'maxSeries' AS metric, ts, max(value) AS value FROM (
      WITH {_W}, now_t AS (SELECT {CUT} AS now),
      tier AS (SELECT metric, ts, value FROM t0),
      {_grid_sql("now - 86400", "now", 60)}
    ) sub GROUP BY ts
    """,
    "the serving-side rollup over a persisted store: fetch_glob('*') "
    "resolves the namespace from tier0 (no catalog), grids the last "
    "day NULL-filled, and maxSeries folds the five series into the "
    "per-slot envelope (exact comparisons — the NULL-ignoring, "
    "all-NULL-stays-NULL semantics both engines share); glob resolve, "
    "grid fill and rollup all replay",
)
def q_store_glob_group_rollup(spark, sf_dir):
    from kenshin_spark.functions.render import max_series

    st = _store(spark, sf_dir, "store_glob_rollup")
    st.upsert(0, _week_slots(spark, sf_dir))
    grid = st.fetch_glob("*", CUT - 86400, CUT, CUT)
    return max_series(grid)


@stage(
    "sim_ivf_recall_audit",
    f"""
    SELECT ex.query_id,
           CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(ap.neighbor_id) * 10 AS BIGINT) AS recall_pct
    FROM (SELECT query_id, neighbor_id FROM
            ({_REG["sim_topk_ivf_fullprobe"].oracle}) f) ex
    LEFT JOIN (SELECT query_id, neighbor_id FROM
            ({_REG["sim_topk_ivf"].oracle}) p) ap
      ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY 1
    """,
    "IVF probe-budget audit: recall@10 of the n_probe=3 IVF against "
    "its own full-probe (exhaustive-cell) variant per query — the "
    "number that justifies the partition-pruned probe at 100 TB; both "
    "sides are the registry's pinned-quantizer paths, so the recall "
    "itself replays bit-for-bit",
)
def q_sim_ivf_recall_audit(spark, sf_dir):
    ex = (
        _REG["sim_topk_ivf_fullprobe"].fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    ap = (
        _REG["sim_topk_ivf"].fn(spark, sf_dir)
        .select(
            F.col("query_id").alias("aq"),
            F.col("neighbor_id").alias("an"),
        )
    )
    joined = ex.join(
        ap,
        (F.col("aq") == F.col("query_id"))
        & (F.col("an") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("an").alias("n_hits"),
        (F.count("an") * 10).alias("recall_pct"),
    )


@stage(
    "q_events_error_budget_burn",
    """
    WITH d AS (
      SELECT CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS BIGINT)
               AS day,
             count(*) AS n_events,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS n_errors
      FROM events GROUP BY 1
    )
    SELECT day, n_events, n_errors,
           n_errors * 100 > n_events AS over_budget,
           sum(greatest(n_errors * 100 - n_events, 0))
             OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS burn_scaled
    FROM d
    """,
    "SRE error-budget burn-down: daily error counts against a 1% "
    "budget in scaled-integer arithmetic (errors*100 vs events — no "
    "float ratios anywhere), with the running burn of over-budget "
    "excess — the page-the-oncall timeline; one aggregate + one "
    "ordered window",
)
def q_q_events_error_budget_burn(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            (F.unix_timestamp("ts").cast("long") / 86400)
            .cast("long")
            .alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long")).alias(
                "n_errors"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    excess = F.greatest(
        F.col("n_errors") * 100 - F.col("n_events"), F.lit(0)
    )
    return d.select(
        "day", "n_events", "n_errors",
        (F.col("n_errors") * 100 > F.col("n_events")).alias("over_budget"),
        F.sum(excess).over(w).alias("burn_scaled"),
    )


@stage(
    "ts_retention_cost_model",
    """
    WITH m AS (SELECT count(DISTINCT event_type) AS n_metrics FROM events)
    SELECT t.sec_per_point, t.points, m.n_metrics,
           t.points * m.n_metrics AS est_rows
    FROM (VALUES
      (CAST(60 AS BIGINT),   CAST(129600 AS BIGINT)),
      (CAST(300 AS BIGINT),  CAST(51840 AS BIGINT)),
      (CAST(3600 AS BIGINT), CAST(8784 AS BIGINT))
    ) t(sec_per_point, points), m
    """,
    "retention cost model: the bank schema's archive list "
    "('60s:90d,300s:180d,3600s:366d') parsed by RetentionParser into "
    "(step, capacity) and priced against the live metric cardinality — "
    "worst-case stored rows per archive, the number a capacity planner "
    "multiplies by bytes/point; parser output is pinned against the "
    "hand-computed grammar answers times the replayed catalog count",
)
def q_ts_retention_cost_model(spark, sf_dir):
    from kenshin_spark.config import RetentionParser

    archives = [
        RetentionParser.parse_retention_def(s)
        for s in ("60s:90d", "300s:180d", "3600s:366d")
    ]
    arch_df = spark.createDataFrame(
        archives, "sec_per_point long, points long"
    )
    m = (
        _points(spark, sf_dir)
        .agg(F.countDistinct("metric").alias("n_metrics"))
    )
    return arch_df.crossJoin(F.broadcast(m)).select(
        "sec_per_point", "points", "n_metrics",
        (F.col("points") * F.col("n_metrics")).alias("est_rows"),
    )


@stage(
    "mm_jpeg_subsample_dims",
    """
    SELECT doc_id,
           16 * (1 + doc_id % 2) AS width,
           16 AS height,
           'jpeg' AS format
    FROM documents WHERE doc_id % 50 = 0
    """,
    "the 4:2:0 chroma path of the JPEG loop: per-doc RGB gradients "
    "encoded with subsample='420' (half-resolution chroma planes — "
    "the television-lineage layout most real corpora carry), frame "
    "headers parsed back natively by image_metadata; dims are "
    "doc_id arithmetic so the subsampled-component bookkeeping "
    "verifies exactly",
)
def q_mm_jpeg_subsample_dims(spark, sf_dir):
    import pandas as pd

    from kenshin_spark.multimodal import image_metadata

    docs = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 50 = 0")
        .select("doc_id")
    )

    def kern(batches):
        import numpy as np

        from kenshin_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 16 * (1 + did % 2), 16
                y = np.arange(h)[:, None, None]
                x = np.arange(w)[None, :, None]
                c = np.arange(3)[None, None, :]
                arr = ((did + 31 * y + 17 * x + 5 * c) % 256).astype(
                    np.uint8
                )
                rows.append((did, codecs.encode_jpeg(arr, subsample="420")))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = docs.mapInPandas(kern, "doc_id long, payload binary")
    return image_metadata(payloads).select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "format",
    )


@stage(
    "ts_cascade_associativity",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    )
    SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
    FROM t0 GROUP BY 1, 2
    """,
    "W7 cascade associativity: the 60s->300s->3600s propagation chain "
    "(operators/downsample.cascade — each tier downsampled from the "
    "PREVIOUS tier, never from raw) must equal the direct "
    "60s->3600s aggregate because max is associative — the invariant "
    "that lets the reference propagate tier-to-tier without error "
    "accumulation; the oracle computes the direct form",
)
def q_ts_cascade_associativity(spark, sf_dir):
    from kenshin_spark.config import Archive
    from kenshin_spark.operators.downsample import cascade

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    archives = [
        Archive(sec_per_point=60, count=129600),
        Archive(sec_per_point=300, count=51840),
        Archive(sec_per_point=3600, count=8784),
    ]
    return cascade(t0, archives, agg_method="max")[2]


# --------------------------------------------------------------------------
# Final bank rows: gap-fill over the store grid, the full target-string
# serving path over a persisted store, kNN label purity, weekday money
# profile, conversion rate, brand/type matrix, CMS daily-merge.
# --------------------------------------------------------------------------


@stage(
    "store_fetch_keep_last",
    f"""
    SELECT metric, ts,
           CASE WHEN value IS NOT NULL THEN value
                WHEN ts - last_ts <= 180 THEN lastv END AS value
    FROM (
      SELECT metric, ts, value,
             max(CASE WHEN value IS NOT NULL THEN ts END) OVER w AS last_ts,
             last_value(value IGNORE NULLS) OVER w AS lastv
      FROM (
        WITH {_W}, now_t AS (SELECT {CUT} AS now),
        tier AS (SELECT metric, ts, value FROM t0),
        {_grid_sql("now - 86400", "now", 60)}
      ) g
      WINDOW w AS (PARTITION BY metric ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ) x
    """,
    "graphite keepLastValue(series, 3) over the persisted store's "
    "NULL-filled fetch grid: empty minutes forward-fill from the last "
    "real sample but only across gaps of <= 3 slots (the dashboard "
    "gap-smoothing rule that must NOT bridge real outages); the "
    "oracle replays the grid fill and the bounded forward-fill with "
    "an IGNORE NULLS window",
)
def q_store_fetch_keep_last(spark, sf_dir):
    from kenshin_spark.functions.render import keep_last_value
    from kenshin_spark.queries_staged_r8_engine import _METRICS5

    st = _store(spark, sf_dir, "store_fetch_keep_last")
    st.upsert(0, _week_slots(spark, sf_dir))
    grid = st.fetch(_METRICS5, CUT - 86400, CUT, CUT)
    return keep_last_value(grid, limit=3)


@stage(
    "render_chain_over_store",
    f"""
    SELECT metric, ts,
           round(avg(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) * 2.0 * 1000000) / 1000000 AS value
    FROM (
      WITH {_W}, now_t AS (SELECT {CUT} AS now),
      tier AS (SELECT metric, ts, value FROM t0),
      {_grid_sql("now - 86400", "now", 60,
                 "SELECT DISTINCT event_type AS metric FROM events "
                 "WHERE event_type LIKE 'c%' OR event_type LIKE 'e%'")}
    ) g
    """,
    "the COMPLETE dashboard serving path minus the socket: the target "
    "string 'scale(movingAverage({{c*,e*}},3),2)' parsed by "
    "parse_target, its brace-alternation glob resolved against the "
    "persisted store's namespace by fetch_glob, the NULL-filled grid "
    "pushed through apply_chain — one query string to one Catalyst "
    "plan over parquet tiers; NULL-ignoring trailing mean and exact "
    "x2 scale, replayed with the rounding guard",
)
def q_render_chain_over_store(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain
    from kenshin_spark.functions.targets import parse_target

    st = _store(spark, sf_dir, "render_chain_store")
    st.upsert(0, _week_slots(spark, sf_dir))
    glob, chain = parse_target("scale(movingAverage({c*,e*},3),2)")
    grid = st.fetch_glob(glob, CUT - 86400, CUT, CUT)
    out = apply_chain(grid, chain)
    return out.select(
        "metric", "ts",
        (F.round(F.col("value") * 1000000) / 1000000).alias("value"),
    )


@stage(
    "emb_knn_label_purity",
    f"""
    WITH nn AS (
      SELECT query_id, neighbor_id FROM
        ({_REG["sim_topk_bruteforce"].oracle}) t
    )
    SELECT nn.query_id, q.label AS query_label,
           CAST(sum(CASE WHEN c.label = q.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_label,
           count(*) AS k
    FROM nn
    JOIN embeddings q ON q.vec_id = nn.query_id
    JOIN embeddings c ON c.vec_id = nn.neighbor_id
    GROUP BY 1, 2
    """,
    "kNN label purity — the embedding-quality number a labeling "
    "pipeline gates on: for each brute-force query, how many of its "
    "exact cosine top-10 share the query's label; derived from the "
    "registry's own replayable top-k so the purity count itself "
    "hash-matches",
)
def q_emb_knn_label_purity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    nn = _REG["sim_topk_bruteforce"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_nl")
    )
    return (
        nn.join(F.broadcast(q), "query_id")
        .join(F.broadcast(c), "neighbor_id")
        .groupBy("query_id", "query_label")
        .agg(
            F.sum((F.col("_nl") == F.col("query_label")).cast("long"))
            .alias("n_same_label"),
            F.count(F.lit(1)).alias("k"),
        )
    )


@stage(
    "q_order_weekday_value_profile",
    """
    SELECT CAST((datediff('day', DATE '1970-01-01', o_orderdate) + 4) % 7 AS BIGINT)
             AS dow,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_value
    FROM orders GROUP BY 1
    """,
    "order volume and DECIMAL-exact value by day of week — computed "
    "via Thursday-anchored epoch-day arithmetic ((days+4) %% 7) "
    "because dayofweek() conventions differ across engines: the "
    "cross-engine determinism rule this row pins",
)
def q_q_order_weekday_value_profile(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    dow = (
        (F.datediff("o_orderdate", F.lit("1970-01-01")) + 4) % 7
    ).cast("long")
    return orders.groupBy(dow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("total_value"),
    )


@stage(
    "q_nation_conversion_rate",
    """
    WITH c AS (
      SELECT n.n_name, count(*) AS n_customers
      FROM customer cu JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1
    ),
    o AS (
      SELECT n.n_name, count(DISTINCT o.o_custkey) AS n_buyers
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1
    )
    SELECT c.n_name, c.n_customers,
           coalesce(o.n_buyers, 0) AS n_buyers,
           coalesce(o.n_buyers, 0) * 10000 // c.n_customers
             AS conversion_bps
    FROM c LEFT JOIN o ON o.n_name = c.n_name
    """,
    "customer-to-buyer conversion per nation in scaled-integer basis "
    "points (floor division — no float ratio, no rounding trap): the "
    "funnel number a growth dashboard tracks, nation dim broadcast "
    "on both joins",
)
def q_q_nation_conversion_rate(spark, sf_dir):
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = (
        cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    b = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.countDistinct("o_custkey").alias("n_buyers"))
    )
    return c.join(b, "n_name", "left").select(
        "n_name", "n_customers",
        F.coalesce("n_buyers", F.lit(0)).alias("n_buyers"),
        F.floor(
            F.coalesce("n_buyers", F.lit(0)) * 10000 / F.col("n_customers")
        ).cast("long").alias("conversion_bps"),
    )


@stage(
    "q_part_brand_type_matrix",
    """
    SELECT p_brand, p_type, count(*) AS n_parts,
           min(p_size) AS min_size, max(p_size) AS max_size
    FROM part GROUP BY 1, 2
    """,
    "brand x type catalog matrix with size envelopes — the "
    "two-dimensional group-by whose partial aggregation collapses "
    "map-side; exact integers",
)
def q_q_part_brand_type_matrix(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


@stage(
    "sketch_cms_merge_days",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   event_type), 1, 15)) AS BIGINT) % 1024 AS bucket,
             count(*) AS c
      FROM events CROSS JOIN generate_series(0, 3) t(r)
      GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT row, bucket, sum(c) AS c FROM daily GROUP BY 1, 2
    ),
    whole AS (
      SELECT t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   event_type), 1, 15)) AS BIGINT) % 1024 AS bucket,
             count(*) AS c
      FROM events CROSS JOIN generate_series(0, 3) t(r)
      GROUP BY 1, 2
    )
    SELECT coalesce(m.row, w.row) AS row,
           coalesce(m.bucket, w.bucket) AS bucket,
           coalesce(m.c, 0) AS merged_c,
           coalesce(w.c, 0) AS whole_c
    FROM merged m FULL OUTER JOIN whole w
      ON w.row = m.row AND w.bucket = m.bucket
    """,
    "CMS mergeability cell-by-cell: daily depth-4 sketches rolled up "
    "by cms_merge must equal the one-pass whole-stream sketch in "
    "EVERY (row, bucket) cell — the property that lets 90 daily "
    "states answer any-range frequency queries without rescanning "
    "raw events; the full outer join pins that neither side has "
    "cells the other lacks",
)
def q_sketch_cms_merge_days(spark, sf_dir):
    from kenshin_spark.functions.sketches import cms_merge, cms_sketches

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = cms_sketches(ev, "event_type", "day")
    merged = cms_merge(daily).select(
        "row", "bucket", F.col("c").alias("merged_c")
    )
    whole = cms_sketches(ev, "event_type").select(
        "row", "bucket", F.col("c").alias("whole_c")
    )
    return (
        merged.join(whole, ["row", "bucket"], "full_outer")
        .select(
            "row", "bucket",
            F.coalesce("merged_c", F.lit(0)).alias("merged_c"),
            F.coalesce("whole_c", F.lit(0)).alias("whole_c"),
        )
    )

# --- oracle result-type normalization (VERDICT r8 "What's wrong" #1) ---
# DuckDB types uncast sum()/integer-// results HUGEINT, which its pandas
# conversion renders float64 while the Spark twin hands int64 — equal
# values, different driver hash. Columns below were flagged by
# tools/lint_oracles.py; cast_bigint_cols wraps each oracle in a
# SELECT * REPLACE (CAST(col AS BIGINT) AS col) shell (lossless: all are
# counts/ppm far below 2**63). The lint runs as tests/test_oracle_types.py
# so no new HUGEINT oracle can stage.
from kenshin_spark.oracle_types import apply_bigint_casts  # noqa: E402

_BIGINT_CASTS = {
    # DuckDB integer `/` returns DOUBLE; the Spark twin is long (the
    # division is exact — every n is a multiple of 8). Caught by the
    # registry gate's dtype-straddle check post-promotion (the r9
    # HUGEINT class's int-vs-float sibling).
    "mm_wav_square_rms": ("duration_ms",),
    "sketch_bloom_sizing_curve": ("n_novel", "n_false_pos",),
    "text_quality_reason_mix": ("n_keep", "n_len_fail", "n_mean_fail", "n_stop_fail", "n_alpha_fail",),
    "mm_png_pixel_sum": ("pixel_sum",),
    "q_events_error_budget_burn": ("n_errors", "burn_scaled",),
    "sketch_cms_merge_days": ("merged_c",),
}
apply_bigint_casts(STAGED_R10, _BIGINT_CASTS)
