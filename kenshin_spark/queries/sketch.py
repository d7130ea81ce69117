"""Sketch and sampling rows (``sketch_``, ``sample_``): count-min,
KMV set algebra, histogram quantiles, Bloom sizing, and the hash and
stratified samplers — each replayed exactly in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.io import load_table
from kenshin_spark.queries._common import _bloom_oracle, register


@register(
    "sample_stratified",
    """
    SELECT doc_id, source
    FROM documents
    WHERE ('0x' || substr(md5('ksp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
            % 1000000
          < CASE WHEN source = 'src1' THEN 800000
                 WHEN source = 'src2' THEN 500000
                 ELSE 200000 END
    """,
    "deterministic stratified hash sample: membership is a pure function "
    "of (seed, doc_id) — layout/cluster independent, re-run stable, "
    "consistent across rates — with per-source rates (src1 80%, src2 "
    "50%, rest 20%); the oracle reproduces exact membership, not an "
    "approximate count",
)
def q_sample_stratified(spark, sf_dir):
    from kenshin_spark.functions.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs,
        {"src1": 0.8, "src2": 0.5},
        stratum_col="source",
        key_col="doc_id",
        default_rate=0.2,
    ).select("doc_id", "source")


@register(
    "sketch_cms_event_counts",
    """
    WITH cells AS (
      SELECT t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   event_type), 1, 15)) AS BIGINT) % 1024 AS bucket,
             count(*) AS c
      FROM events CROSS JOIN generate_series(0, 3) t(r)
      GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT event_type FROM events),
    probe AS (
      SELECT c.event_type, t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   c.event_type), 1, 15)) AS BIGINT) % 1024 AS bucket
      FROM cand c CROSS JOIN generate_series(0, 3) t(r)
    )
    SELECT p.event_type, min(coalesce(cl.c, 0)) AS est
    FROM probe p
    LEFT JOIN cells cl ON cl.row = p.row AND cl.bucket = p.bucket
    GROUP BY p.event_type
    """,
    "mergeable count-min frequency sketch as a driver row: daily "
    "depth-4 x width-1024 cell tables over events.event_type, rolled "
    "up by cell-wise sum (cms_merge — the frequency analog of the HLL "
    "union), then point-estimated (min over a key's cells, absent "
    "cell = 0) for the distinct-key candidate set; the seeded-md5 "
    "bucket construction is replayed bit-for-bit by the oracle, so "
    "unlike the opaque HLL binary this sketch hash-matches DuckDB",
)
def q_sketch_cms_event_counts(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        cms_estimate,
        cms_merge,
        cms_sketches,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = cms_sketches(ev, "event_type", "day")  # persistable state
    merged = cms_merge(daily)  # all-time rollup from cells alone
    cand = ev.select("event_type").distinct()
    return cms_estimate(merged, cand, "event_type")


@register(
    "sketch_histogram_quantiles",
    """
    WITH cells AS (
      SELECT event_type,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 512.0 THEN 257
                  ELSE CAST(floor((value - 0.0) / 2.0) + 1 AS INT)
             END AS bucket,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bucket,
             sum(c) OVER (PARTITION BY event_type ORDER BY bucket)
               AS _cum,
             sum(c) OVER (PARTITION BY event_type) AS _tot
      FROM cells
    ),
    b50 AS (
      SELECT event_type, min(bucket) AS b FROM cum
      WHERE _cum >= 0.5 * _tot GROUP BY 1
    ),
    b95 AS (
      SELECT event_type, min(bucket) AS b FROM cum
      WHERE _cum >= 0.95 * _tot GROUP BY 1
    )
    SELECT a.event_type,
           round(CASE WHEN a.b <= 0 THEN 0.0 WHEN a.b >= 257 THEN 512.0
                      ELSE 0.0 + (a.b - 1) * 2.0 END, 6) AS q0_5,
           round(CASE WHEN z.b <= 0 THEN 0.0 WHEN z.b >= 257 THEN 512.0
                      ELSE 0.0 + (z.b - 1) * 2.0 END, 6) AS q0_95
    FROM b50 a JOIN b95 z ON z.event_type = a.event_type
    """,
    "mergeable equi-width histogram sketch as a driver row: daily "
    "256-bin cells over events.value per event_type (fixed [0, 512) "
    "bounds, width 2.0 — exactly representable so both engines "
    "compute identical bucket ids and edges), rolled up by cell-wise "
    "sum, then p50/p95 estimated as the left edge of the first bucket "
    "whose cumulative count reaches q x total; the oracle replays the "
    "bucketing, rollup and quantile walk bit-for-bit",
)
def q_sketch_histogram_quantiles(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        histogram_merge,
        histogram_quantile,
        histogram_sketches,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = histogram_sketches(
        ev, "value", "event_type", "day", lo=0.0, hi=512.0, bins=256
    )
    merged = histogram_merge(daily, "event_type")
    p50 = histogram_quantile(
        merged, 0.5, "event_type", lo=0.0, hi=512.0, bins=256
    )
    p95 = histogram_quantile(
        merged, 0.95, "event_type", lo=0.0, hi=512.0, bins=256
    )
    return p50.join(p95, "event_type")


@register(
    "sample_bottom_k",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             CAST(('0x' || substr(md5('ksp|' ||
                   CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS _h
      FROM documents
    ) ORDER BY _h, doc_id LIMIT 64
    """,
    "fixed-size deterministic uniform sample: the 64 docs whose seeded "
    "60-bit key hashes are lowest (TakeOrderedAndProject — each "
    "partition forwards at most k rows, no full sort); layout- and "
    "cluster-independent, nested (the 64-sample is a subset of any "
    "larger k, same seed) and mergeable (bottom-k of per-day bottom-ks "
    "== global); the oracle replays the hash order exactly",
)
def q_sample_bottom_k(spark, sf_dir):
    from kenshin_spark.functions.sampling import bottom_k_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return bottom_k_sample(docs, 64, "doc_id")


@register(
    "sketch_kmv_users",
    """
    WITH mins AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('ksp|' ||
               CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events ORDER BY h LIMIT 256
    )
    SELECT CAST(floor(CASE WHEN count(*) < 256
                 THEN CAST(count(*) AS DOUBLE)
                 ELSE 255.0 * 1152921504606846976.0 / max(h) END)
           AS BIGINT) AS approx_users
    FROM mins
    """,
    "KMV cardinality estimate as a driver row: distinct-user estimate "
    "from the 256 smallest seeded 60-bit user_id hashes "
    "((k-1)*2^60/h_k, exact when fewer than k distinct keys exist); "
    "the same replayable hash family as the samplers, so unlike HLL "
    "the estimate is bit-reproducible in ANSI SQL — floored to an "
    "integer so no cross-engine float rounding is in play",
)
def q_sketch_kmv_users(spark, sf_dir):
    from kenshin_spark.functions.sketches import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", k=256).select(
        F.floor("approx_distinct").cast("long").alias("approx_users")
    )


@register(
    "sample_hash_rate_by_source",
    """
    WITH samp AS (
      SELECT source FROM documents
      WHERE CAST(('0x' || substr(md5('ksp|' ||
              CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 1000000 < 250000
    ),
    tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
    SELECT t.source, t.n_docs, coalesce(s.n_sampled, 0) AS n_sampled
    FROM tot t LEFT JOIN (
      SELECT source, count(*) AS n_sampled FROM samp GROUP BY 1
    ) s ON s.source = t.source
    """,
    "rate-based hash sampling (hash_sample, rate 0.25) audited per "
    "source: membership is keyed to the seeded 60-bit doc_id hash — "
    "layout- and cluster-independent, re-run-stable, and the filter "
    "pushes into the scan; the oracle replays the md5 bucket "
    "arithmetic and per-source achieved counts exactly",
)
def q_sample_hash_rate_by_source(spark, sf_dir):
    from kenshin_spark.functions.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    samp = (
        hash_sample(docs, 0.25, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return tot.join(samp, "source", "left").select(
        "source", "n_docs",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
    )


@register(
    "sketch_cms_error_profile",
    """
    WITH cells AS (
      SELECT t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   event_type), 1, 15)) AS BIGINT) % 1024 AS bucket,
             count(*) AS c
      FROM events CROSS JOIN generate_series(0, 3) t(r)
      GROUP BY 1, 2
    ),
    exact AS (SELECT event_type, count(*) AS exact FROM events GROUP BY 1),
    probe AS (
      SELECT e.event_type, t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   e.event_type), 1, 15)) AS BIGINT) % 1024 AS bucket
      FROM exact e CROSS JOIN generate_series(0, 3) t(r)
    ),
    est AS (
      SELECT p.event_type, min(coalesce(cl.c, 0)) AS est
      FROM probe p
      LEFT JOIN cells cl ON cl.row = p.row AND cl.bucket = p.bucket
      GROUP BY 1
    )
    SELECT x.event_type, x.exact, e.est, e.est - x.exact AS overcount
    FROM exact x JOIN est e ON e.event_type = x.event_type
    """,
    "count-min sketch error audit: the depth-4 x width-1024 CMS "
    "estimate next to the exact count per event_type, with the "
    "one-sided overcount (CMS never undercounts — the invariant this "
    "row pins at the driver); both the sketch cells and the exact "
    "counts replay bit-for-bit in SQL",
)
def q_sketch_cms_error_profile(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        cms_estimate,
        cms_merge,
        cms_sketches,
    )

    ev = load_table(spark, sf_dir, "events")
    merged = cms_merge(cms_sketches(ev, "event_type"))
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact")
    )
    est = cms_estimate(merged, exact.select("event_type"), "event_type")
    return exact.join(est, "event_type").select(
        "event_type", "exact", "est",
        (F.col("est") - F.col("exact")).alias("overcount"),
    )


@register(
    "sketch_histogram_sliding",
    """
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 512.0 THEN 257
                  ELSE CAST(floor((value - 0.0) / 2.0) + 1 AS INT)
             END AS bucket,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM cells),
    win AS (
      SELECT d.day, c.bucket, sum(c.c) AS c
      FROM days d JOIN cells c
        ON c.day BETWEEN d.day - 2 AND d.day
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT day, bucket,
             sum(c) OVER (PARTITION BY day ORDER BY bucket) AS _cum,
             sum(c) OVER (PARTITION BY day) AS _tot
      FROM win
    ),
    hit AS (
      SELECT day, min(bucket) AS b FROM cum
      WHERE _cum >= 0.95 * _tot GROUP BY 1
    )
    SELECT CAST(day AS VARCHAR) AS day,
           round(CASE WHEN b <= 0 THEN 0.0 WHEN b >= 257 THEN 512.0
                      ELSE 0.0 + (b - 1) * 2.0 END, 6) AS p95
    FROM hit
    """,
    "sliding-window quantiles from mergeable histogram cells: daily "
    "256-bin sketches over events.value rolled up per day over a "
    "trailing 3-day window (cell-wise sum — the rollup NEVER rescans "
    "raw data, the whole point of the sketch family at 100 TB), then "
    "p95 as the left bucket edge; bucketing, window merge and the "
    "quantile walk replay bit-for-bit",
)
def q_sketch_histogram_sliding(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        histogram_quantile,
        histogram_sketches,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    cells = histogram_sketches(
        ev, "value", "day", lo=0.0, hi=512.0, bins=256
    )
    days = cells.select("day").distinct()
    win = (
        days.alias("d")
        .join(
            cells.alias("c"),
            F.col("c.day").between(
                F.date_sub(F.col("d.day"), 2), F.col("d.day")
            ),
        )
        .groupBy(F.col("d.day").alias("day"), F.col("c.bucket"))
        .agg(F.sum("c.c").alias("c"))
    )
    out = histogram_quantile(
        win, 0.95, "day", lo=0.0, hi=512.0, bins=256
    ).withColumnRenamed("q0_95", "p95")
    return out.withColumn("day", F.col("day").cast("string"))


@register(
    "sketch_cms_user_counts",
    """
    WITH cells AS (
      SELECT t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1024
               AS bucket,
             count(*) AS c
      FROM events CROSS JOIN generate_series(0, 3) t(r)
      GROUP BY 1, 2
    ),
    exact AS (SELECT user_id, count(*) AS exact FROM events GROUP BY 1),
    probe AS (
      SELECT e.user_id, t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1024
               AS bucket
      FROM exact e CROSS JOIN generate_series(0, 3) t(r)
    ),
    est AS (
      SELECT p.user_id, min(coalesce(cl.c, 0)) AS est
      FROM probe p
      LEFT JOIN cells cl ON cl.row = p.row AND cl.bucket = p.bucket
      GROUP BY 1
    )
    SELECT x.user_id, x.exact, e.est
    FROM exact x JOIN est e ON e.user_id = x.user_id
    """,
    "the CMS family over a second key domain: per-user event "
    "frequencies from the same depth-4 x width-1024 cells (integer "
    "keys stringify identically on both engines before the seeded md5 "
    "— the cross-engine detail this row pins), estimate vs exact side "
    "by side",
)
def q_sketch_cms_user_counts(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        cms_estimate,
        cms_merge,
        cms_sketches,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_id", F.col("user_id").cast("string")
    )
    merged = cms_merge(cms_sketches(ev, "user_id"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(merged, exact.select("user_id"), "user_id")
    return exact.join(est, "user_id").select(
        F.col("user_id").cast("long").alias("user_id"), "exact", "est"
    )


def _fpr_at(m_words: int) -> str:
    return f"""
    SELECT CAST({m_words} AS BIGINT) AS m_words,
           sum(CASE WHEN NOT exact_dup THEN 1 ELSE 0 END) AS n_novel,
           sum(CASE WHEN NOT exact_dup AND bloom_hit THEN 1 ELSE 0 END)
             AS n_false_pos
    FROM ({_bloom_oracle(m_words, 4)})
    """


@register(
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


@register(
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


@register(
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


_H60 = (
    "CAST(('0x' || substr(md5('ksp|' || CAST({x} AS VARCHAR)), 1, 15)) "
    "AS BIGINT)"
)

_KMV_EST = (
    "CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE) "
    "ELSE {km1}.0 * 1152921504606846976.0 / {hk} END"
)


def _kmv_pair_sql(a_where: str, b_where: str, k: int = 256) -> str:
    """The full two-set KMV algebra replay over events.user_id."""
    h = _H60.format(x="user_id")
    est = _KMV_EST.format(n="n", k=k, km1=k - 1, hk="hk")
    return f"""
    sa AS (SELECT DISTINCT {h} AS h FROM events WHERE {a_where}
           ORDER BY h LIMIT {k}),
    sb AS (SELECT DISTINCT {h} AS h FROM events WHERE {b_where}
           ORDER BY h LIMIT {k}),
    m AS (SELECT DISTINCT h FROM
            (SELECT h FROM sa UNION ALL SELECT h FROM sb)
          ORDER BY h LIMIT {k}),
    fl AS (
      SELECT m.h,
             (m.h IN (SELECT h FROM sa)
              AND m.h IN (SELECT h FROM sb)) AS bth
      FROM m
    ),
    agg AS (
      SELECT count(*) AS n, max(h) AS hk,
             sum(CASE WHEN bth THEN 1 ELSE 0 END) AS nb
      FROM fl
    ),
    est AS (
      SELECT CAST(floor({est}) AS BIGINT) AS union_est,
             CAST(floor({est} * nb / n) AS BIGINT) AS inter_est,
             CAST(floor(nb * 1000000 / n) AS BIGINT) AS jaccard_ppm,
             n AS n_sample, nb AS n_both
      FROM agg
    )"""


@register(
    "sketch_kmv_overlap_types",
    f"""
    WITH {_kmv_pair_sql("event_type = 'click'", "event_type = 'view'")}
    SELECT union_est, inter_est, jaccard_ppm, n_sample, n_both FROM est
    """,
    "KMV set algebra over two audiences: distinct clickers vs viewers "
    "as bottom-256 hash states (kmv_bottom_set), their union state M "
    "a uniform hash-sample of the union, so the fraction of M present "
    "in BOTH states estimates Jaccard and intersection = jaccard x "
    "union_est (the public Theta-sketch construction) — audience "
    "overlap WITHOUT a distinct-join over raw events; floor-scaled "
    "integers, replayed bit-for-bit",
)
def q_sketch_kmv_overlap_types(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        kmv_bottom_set,
        kmv_set_estimates,
    )

    ev = load_table(spark, sf_dir, "events")
    a = kmv_bottom_set(
        ev.where(F.col("event_type") == "click"), "user_id", 256
    )
    b = kmv_bottom_set(
        ev.where(F.col("event_type") == "view"), "user_id", 256
    )
    return kmv_set_estimates(a, b, 256)


@register(
    "sketch_kmv_overlap_days",
    f"""
    WITH {_kmv_pair_sql(
        "CAST(floor(epoch(ts)) AS BIGINT) // 86400 ="
        " (SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 86400)"
        "  FROM events)",
        "CAST(floor(epoch(ts)) AS BIGINT) // 86400 ="
        " (SELECT min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 1"
        "  FROM events)")}
    SELECT union_est, inter_est, jaccard_ppm, n_sample, n_both FROM est
    """,
    "day-over-day user retention from persisted KMV states: day-1 vs "
    "day-2 distinct-user sketches intersected by the same theta "
    "construction — the retention overlap a growth dashboard reads "
    "from two 256-row states instead of a distinct-join over both "
    "days' raw events; replayed bit-for-bit",
)
def q_sketch_kmv_overlap_days(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        kmv_bottom_set,
        kmv_set_estimates,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", (F.unix_timestamp("ts").cast("long") / 86400).cast("long")
    )
    d0 = ev.agg(F.min("day")).collect()[0][0]
    a = kmv_bottom_set(ev.where(F.col("day") == d0), "user_id", 256)
    b = kmv_bottom_set(ev.where(F.col("day") == d0 + 1), "user_id", 256)
    return kmv_set_estimates(a, b, 256)


@register(
    "sketch_kmv_union_rollup",
    f"""
    WITH g AS (
      SELECT DISTINCT {_H60.format(x="user_id")} AS h FROM events
      ORDER BY h LIMIT 256
    ),
    agg AS (SELECT count(*) AS n, max(h) AS hk FROM g)
    SELECT CAST(floor({_KMV_EST.format(n="n", k=256, km1=255, hk="hk")})
                AS BIGINT) AS merged_est,
           CAST(floor({_KMV_EST.format(n="n", k=256, km1=255, hk="hk")})
                AS BIGINT) AS global_est
    FROM agg
    """,
    "KMV union EXACTNESS (not just approximation): the union of the "
    "five per-event-type bottom-256 user states re-bottomed to 256 is "
    "IDENTICAL to the global bottom-256 (bottom-k of a union == "
    "bottom-k of per-part bottom-ks), so the merged estimate equals "
    "the one-pass estimate to the bit — the identity that makes "
    "per-stream sketch state composable at any fan-in; the oracle "
    "computes the global form for both columns",
)
def q_sketch_kmv_union_rollup(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        kmv_bottom_set,
        kmv_union,
    )

    ev = load_table(spark, sf_dir, "events")
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    parts = [
        kmv_bottom_set(
            ev.where(F.col("event_type") == t), "user_id", 256
        )
        for t in sorted(types)
    ]
    merged = kmv_union(parts, 256)
    glob = kmv_bottom_set(ev, "user_id", 256)

    def est(s, name):
        agg = s.agg(
            F.count(F.lit(1)).alias("_n"), F.max("h").alias("_hk")
        )
        e = F.when(F.col("_n") < 256, F.col("_n").cast("double")).otherwise(
            F.lit(255.0) * F.lit(float(2**60)) / F.col("_hk")
        )
        return agg.select(F.floor(e).cast("long").alias(name))

    return est(merged, "merged_est").crossJoin(est(glob, "global_est"))


@register(
    "sketch_histogram_p50_drift",
    """
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 512.0 THEN 257
                  ELSE CAST(floor((value - 0.0) / 2.0) + 1 AS INT)
             END AS bucket,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT day, bucket,
             sum(c) OVER (PARTITION BY day ORDER BY bucket) AS _cum,
             sum(c) OVER (PARTITION BY day) AS _tot
      FROM cells
    ),
    p AS (
      SELECT day, min(bucket) AS p50_bucket FROM cum
      WHERE _cum >= 0.5 * _tot GROUP BY 1
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(p50_bucket AS BIGINT) AS p50_bucket,
           CAST(p50_bucket - lag(p50_bucket) OVER (ORDER BY day)
                AS BIGINT) AS drift
    FROM p
    """,
    "distribution drift from histogram-sketch state: the daily median "
    "BUCKET (an integer — no edge arithmetic at all) and its "
    "day-over-day drift, the cheap distribution-shift monitor a "
    "data-quality pipeline alerts on; cells, quantile walk and lag "
    "replay exactly",
)
def q_sketch_histogram_p50_drift(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.functions.sketches import histogram_sketches

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    cells = histogram_sketches(
        ev, "value", "day", lo=0.0, hi=512.0, bins=256
    )
    w = Window.partitionBy("day").orderBy("bucket")
    cum = cells.select(
        "day", "bucket",
        F.sum("c").over(w).alias("_cum"),
        F.sum("c").over(
            Window.partitionBy("day").orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_tot"),
    )
    p = (
        cum.where(F.col("_cum") >= 0.5 * F.col("_tot"))
        .groupBy("day")
        .agg(F.min("bucket").alias("p50_bucket"))
    )
    return p.select(
        F.col("day").cast("string").alias("day"),
        F.col("p50_bucket").cast("long").alias("p50_bucket"),
        (
            F.col("p50_bucket")
            - F.lag("p50_bucket").over(Window.orderBy("day"))
        ).cast("long").alias("drift"),
    )


@register(
    "sample_bottomk_nesting",
    """
    SELECT CAST(64 AS BIGINT) AS k_small, CAST(128 AS BIGINT) AS k_big,
           CAST(0 AS BIGINT) AS n_missing
    """,
    "bottom-k sample NESTING — the property that makes hash samples "
    "reusable across budget changes: the bottom-64 doc sample is "
    "always a subset of the bottom-128 (same seed, same hash order), "
    "so shrinking an eval set never resamples; the engine computes "
    "the anti-join count and the oracle states the invariant (0 "
    "missing, by construction)",
)
def q_sample_bottomk_nesting(spark, sf_dir):
    from kenshin_spark.functions.sampling import bottom_k_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    small = bottom_k_sample(docs, 64, "doc_id")
    big = bottom_k_sample(docs, 128, "doc_id")
    missing = small.join(big, "doc_id", "left_anti")
    return missing.agg(
        F.lit(64).cast("long").alias("k_small"),
        F.lit(128).cast("long").alias("k_big"),
        F.count(F.lit(1)).alias("n_missing"),
    )


@register(
    "sketch_cms_heavy_hitters",
    """
    WITH cells AS (
      SELECT t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1024
               AS bucket,
             count(*) AS c
      FROM events CROSS JOIN generate_series(0, 3) t(r)
      GROUP BY 1, 2
    ),
    exact AS (SELECT user_id, count(*) AS exact FROM events GROUP BY 1),
    probe AS (
      SELECT e.user_id, t.r AS row,
             CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || '|' ||
                   CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1024
               AS bucket
      FROM exact e CROSS JOIN generate_series(0, 3) t(r)
    ),
    est AS (
      SELECT p.user_id, min(coalesce(cl.c, 0)) AS est
      FROM probe p
      LEFT JOIN cells cl ON cl.row = p.row AND cl.bucket = p.bucket
      GROUP BY 1
    ),
    thr AS (SELECT CAST(sum(exact) * 5 // 100 AS BIGINT) AS t FROM exact)
    SELECT
      CAST((SELECT count(*) FROM est, thr WHERE est >= t) AS BIGINT)
        AS n_est_hh,
      CAST((SELECT count(*) FROM exact, thr WHERE exact >= t) AS BIGINT)
        AS n_exact_hh,
      CAST((SELECT count(*) FROM est e
            JOIN exact x ON x.user_id = e.user_id, thr
            WHERE e.est >= t AND x.exact >= t) AS BIGINT) AS n_agree
    """,
    "heavy-hitter detection from CMS state: users whose estimated "
    "frequency clears 5%% of total traffic vs the exact heavy-hitter "
    "set — CMS one-sided error guarantees the estimate NEVER misses a "
    "true heavy hitter (n_agree == n_exact_hh), only over-reports; "
    "sketch, threshold and agreement all replay bit-for-bit",
)
def q_sketch_cms_heavy_hitters(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        cms_estimate,
        cms_merge,
        cms_sketches,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_id", F.col("user_id").cast("string")
    )
    merged = cms_merge(cms_sketches(ev, "user_id"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(merged, exact.select("user_id"), "user_id")
    thr = exact.agg(
        F.floor(F.sum("exact") * 5 / 100).cast("long").alias("t")
    )
    j = est.join(exact, "user_id").crossJoin(F.broadcast(thr))
    return j.agg(
        F.sum((F.col("est") >= F.col("t")).cast("long")).alias("n_est_hh"),
        F.sum((F.col("exact") >= F.col("t")).cast("long")).alias(
            "n_exact_hh"
        ),
        F.sum(
            ((F.col("est") >= F.col("t")) & (F.col("exact") >= F.col("t")))
            .cast("long")
        ).alias("n_agree"),
    )


@register(
    "sketch_kmv_click_affinity",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{t}' AS other_type, union_est, inter_est, jaccard_ppm
    FROM (WITH {_kmv_pair_sql("event_type = 'click'",
                              f"event_type = '{t}'")}
          SELECT * FROM est) s{i}
    """
        for i, t in enumerate(("error", "purchase", "signup", "view"))
    ),
    "audience affinity matrix from KMV states: the click audience "
    "intersected with each other event type's audience — four theta "
    "intersections computed from five persisted 256-row states "
    "instead of four distinct-joins over raw events; every estimate "
    "floor-scaled and replayed bit-for-bit",
)
def q_sketch_kmv_click_affinity(spark, sf_dir):
    from kenshin_spark.functions.sketches import (
        kmv_bottom_set,
        kmv_set_estimates,
    )

    ev = load_table(spark, sf_dir, "events")
    click = kmv_bottom_set(
        ev.where(F.col("event_type") == "click"), "user_id", 256
    ).localCheckpoint(eager=True)
    out = None
    for t in ("error", "purchase", "signup", "view"):
        other = kmv_bottom_set(
            ev.where(F.col("event_type") == t), "user_id", 256
        )
        est = kmv_set_estimates(click, other, 256).select(
            F.lit(t).alias("other_type"),
            "union_est", "inter_est", "jaccard_ppm",
        )
        out = est if out is None else out.unionByName(est)
    return out


@register(
    "sketch_histogram_tail_mass",
    """
    WITH cells AS (
      SELECT event_type,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 256.0 THEN 129
                  ELSE CAST(floor((value - 0.0) / 2.0) + 1 AS INT)
             END AS bucket,
             count(*) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type,
           sum(c) AS n_values,
           sum(CASE WHEN bucket = 129 THEN c ELSE 0 END) AS n_overflow,
           CAST(sum(CASE WHEN bucket = 129 THEN c ELSE 0 END) * 1000000
                // sum(c) AS BIGINT) AS overflow_ppm
    FROM cells GROUP BY 1
    """,
    "histogram-sketch tail mass: how much probability lands in the "
    "overflow bucket when the [0,256) bounds clip — the "
    "bounds-validation number that tells a schema advisor to widen "
    "the histogram range before trusting its quantiles; integer "
    "cell sums, floor-scaled ppm",
)
def q_sketch_histogram_tail_mass(spark, sf_dir):
    from kenshin_spark.functions.sketches import histogram_sketches

    ev = load_table(spark, sf_dir, "events")
    cells = histogram_sketches(
        ev, "value", "event_type", lo=0.0, hi=256.0, bins=128
    )
    over = F.when(F.col("bucket") == 129, F.col("c")).otherwise(0)
    return cells.groupBy("event_type").agg(
        F.sum("c").alias("n_values"),
        F.sum(over).alias("n_overflow"),
        F.expr(
            "sum(CASE WHEN bucket = 129 THEN c ELSE 0 END) * 1000000"
            " DIV sum(c)"
        ).alias("overflow_ppm"),
    )
