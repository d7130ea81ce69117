"""Fifth staged bank — ROUND 9: the composed corpus-ingest job as a
driver row (VERDICT r4 next-round item 5c, deferred while rounds 5-8's
windows were already full), plus the max_bucket guard's semantics.

``pipeline_ingest_triage`` drives the same decision chain
``StreamingCorpusIngest.ingest`` applies per micro-batch — quality gate
→ exact dedup (intra-batch min-id + against the corpus md5 set) →
near-dup against the corpus's persisted MinHash band index — and emits
the triage verdict for every batch document. The DuckDB oracle replays
the full chain (md5 fingerprints, seeded-md5 minhashes, band keys,
exact Jaccard) bit-for-bit.

Gated by ``tests/test_queries_staged_r9.py``; registered into
``QUERIES`` at the bottom of ``kenshin_spark/queries.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.io import load_table
from kenshin_spark.queries import (
    QuerySpec,
    _DH,
    _SHINGLES,
    _minhash_oracle,
)

STAGED_R9: dict[str, QuerySpec] = {}


def stage(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        STAGED_R9[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _incremental_pairs_sql(corpus_cap: int | None = None) -> str:
    """The seeded-md5 minhash → band → bucket-join → exact-Jaccard
    replay, batch (doc_id % 10 = 0) vs corpus, as a CTE body (the same
    math the registry's dedup_minhash_incremental oracle replays).
    ``corpus_cap`` replays the engine's ``max_bucket`` guard: candidate
    generation joins only through corpus band buckets of ≤ cap rows."""
    mins = ", ".join(
        f"min({_DH.format(x=chr(39) + str(s) + '|' + chr(39) + ' || shingle')}) AS h{s}"
        for s in range(8)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(CAST(h{2*b} AS VARCHAR) || ',' || "
        f"CAST(h{2*b+1} AS VARCHAR)) AS band_key FROM sig"
        for b in range(4)
    )
    kept = (
        f"""kept AS (
      SELECT band, band_key FROM bands WHERE doc_id % 10 <> 0
      GROUP BY band, band_key HAVING count(*) <= {corpus_cap}
    ),
    """
        if corpus_cap is not None
        else ""
    )
    cap_join = (
        "JOIN kept k ON a.band = k.band AND a.band_key = k.band_key"
        if corpus_cap is not None
        else ""
    )
    return f"""
    sh AS ({_SHINGLES}),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({bands}),
    {kept}cand AS (
      SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS new_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
      {cap_join}
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.corpus_id, c.new_id, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.corpus_id
      JOIN sh sb ON sb.doc_id = c.new_id AND sb.shingle = sa.shingle
      GROUP BY c.corpus_id, c.new_id
    ),
    near_pairs AS (
      SELECT i.corpus_id, i.new_id
      FROM inter i
      JOIN sizes za ON za.doc_id = i.corpus_id
      JOIN sizes zb ON zb.doc_id = i.new_id
      WHERE round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6)
            >= 0.5
    )"""


@stage(
    "pipeline_ingest_triage",
    f"""
    WITH {_incremental_pairs_sql()},
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    q AS (
      SELECT doc_id,
             (text IS NULL
              OR len(string_split_regex(trim(text), '\\s+')) < 5) AS _q
      FROM batch
    ),
    surv AS (
      SELECT b.doc_id, b.text FROM batch b
      JOIN q ON q.doc_id = b.doc_id WHERE NOT q._q
    ),
    fp AS (SELECT doc_id, md5(text) AS h FROM surv),
    cfp AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
    ),
    exact AS (
      SELECT f.doc_id FROM fp f JOIN cfp c ON f.h = c.h
      UNION
      SELECT f.doc_id FROM fp f
      JOIN fp g ON f.h = g.h AND g.doc_id < f.doc_id
    ),
    near AS (
      SELECT DISTINCT new_id AS doc_id FROM near_pairs
      WHERE new_id IN (SELECT doc_id FROM surv)
        AND new_id NOT IN (SELECT doc_id FROM exact)
    )
    SELECT b.doc_id,
           CASE WHEN q._q THEN 'quality_rejected'
                WHEN b.doc_id IN (SELECT doc_id FROM exact)
                  THEN 'exact_dup'
                WHEN b.doc_id IN (SELECT doc_id FROM near)
                  THEN 'near_dup'
                ELSE 'admitted' END AS reason
    FROM batch b JOIN q ON q.doc_id = b.doc_id
    """,
    "the composed corpus-ingest job as a driver row: the SAME decision "
    "chain StreamingCorpusIngest.ingest applies per micro-batch — "
    "quality gate (>= 5 tokens) -> exact dedup (intra-batch min-id + "
    "corpus md5 set) -> near-dup vs the corpus's persisted MinHash band "
    "index — emitting the triage verdict per batch doc (doc_id % 10 = "
    "0 is the batch, the rest the indexed corpus); the oracle replays "
    "md5 fingerprints, seeded-md5 minhashes, band keys and exact "
    "Jaccard bit-for-bit",
)
def q_pipeline_ingest_triage(spark, sf_dir):
    from kenshin_spark.dedup.minhash import (
        minhash_band_index,
        minhash_pairs_against_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where("doc_id % 10 = 0").select("doc_id", "text")
    corpus = docs.where("doc_id % 10 <> 0").select("doc_id", "text")

    qbad = F.col("text").isNull() | (
        F.size(F.split(F.trim(F.col("text")), r"\s+")) < 5
    )
    flagged = batch.withColumn("_q", qbad)
    surv = flagged.where(~F.col("_q")).select("doc_id", "text")

    # exact: intra-batch (smaller doc_id keeps) + against the corpus set
    fp = surv.select("doc_id", F.md5("text").alias("_h"))
    cfp = corpus.select(F.md5("text").alias("_h")).distinct()
    intra = (
        fp.alias("f")
        .join(
            fp.alias("g"),
            (F.col("f._h") == F.col("g._h"))
            & (F.col("g.doc_id") < F.col("f.doc_id")),
        )
        .select(F.col("f.doc_id").alias("doc_id"))
    )
    cross = fp.join(cfp, "_h", "left_semi").select("doc_id")
    exact = intra.unionByName(cross).distinct()

    # near-dup: survivors minus exact dups, against the corpus index —
    # exactly the ingest job's step 3 (pipeline.py)
    nd_in = surv.join(exact, "doc_id", "left_anti")
    pairs = minhash_pairs_against_index(
        nd_in, corpus, minhash_band_index(corpus), threshold=0.5
    )
    near = pairs.select(F.col("new_id").alias("doc_id")).distinct()

    return (
        flagged.select("doc_id", "_q")
        .join(exact.withColumn("_e", F.lit(True)), "doc_id", "left")
        .join(near.withColumn("_n", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_q"), "quality_rejected")
            .when(F.col("_e"), "exact_dup")
            .when(F.col("_n"), "near_dup")
            .otherwise("admitted")
            .alias("reason"),
        )
    )


@stage(
    "dedup_clusters_incremental",
    f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node
    """,
    "streaming cluster maintenance: the MinHash-LSH pair graph folded "
    "through incremental_components in two deterministic half-batches "
    "(split by (doc_a + doc_b) % 2) — per batch, CC runs only on the "
    "root graph of the new edges and the remap broadcasts against the "
    "assignment table, never re-running the full-graph fixpoint; the "
    "labelling is provably identical to one connected_components pass "
    "(property-tested), so the oracle is the same recursive "
    "reachability CTE as dedup_clusters",
)
def q_dedup_clusters_incremental(spark, sf_dir):
    from kenshin_spark.dedup.cluster import incremental_components
    from kenshin_spark.dedup.minhash import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    ).localCheckpoint(eager=True)  # split twice below — scan once
    asg = spark.createDataFrame([], "node long, cluster_id long")
    for parity in (0, 1):
        batch = pairs.where(
            (F.col("doc_a") + F.col("doc_b")) % 2 == parity
        )
        asg = incremental_components(asg, batch).localCheckpoint(
            eager=True
        )  # the persisted-state-table boundary between micro-batches
    return asg.select(F.col("node").alias("doc_id"), "cluster_id")


@stage(
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


@stage(
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


@stage(
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


@stage(
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


@stage(
    "pipeline_temperature_mixture",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
    ),
    w AS (
      SELECT lang, n_docs,
             CAST(floor(1000000 * sqrt(n_docs)) AS BIGINT) AS w_scaled
      FROM counts
    ),
    tot AS (SELECT sum(w_scaled) AS tot FROM w),
    plan AS (
      SELECT lang, n_docs, w_scaled,
             CAST(CAST(250 AS HUGEINT) * w_scaled // tot AS BIGINT)
               AS quota
      FROM w, tot
    ),
    plan2 AS (
      SELECT lang, n_docs, w_scaled, quota,
             CAST(least(1000000,
                  CAST(quota AS HUGEINT) * 1000000 // n_docs)
                  AS BIGINT) AS rate_ppm
      FROM plan
    ),
    samp AS (
      SELECT d.lang FROM documents d JOIN plan2 p ON p.lang = d.lang
      WHERE CAST(('0x' || substr(md5('mix|' ||
              CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 1000000 < p.rate_ppm
    ),
    ach AS (SELECT lang, count(*) AS sampled FROM samp GROUP BY 1)
    SELECT p.lang, p.n_docs, p.w_scaled, p.quota, p.rate_ppm,
           coalesce(a.sampled, 0) AS sampled
    FROM plan2 p LEFT JOIN ach a ON a.lang = p.lang
    """,
    "temperature-based source mixing (the mT5 examples-proportional "
    "recipe, alpha=0.5) as a driver row: per-language mixture plan for "
    "a 250-doc budget — w = floor(1e6*sqrt(n)) (IEEE sqrt is correctly "
    "rounded, so both engines produce the identical integer), integer "
    "quota and ppm rate, and the achieved hash-sampled count (seeded-"
    "md5 bucket < rate) — plan arithmetic and membership replay "
    "bit-for-bit",
)
def q_pipeline_temperature_mixture(spark, sf_dir):
    from kenshin_spark.pipeline import (
        temperature_mixture,
        temperature_mixture_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = temperature_mixture_plan(
        docs, 250, stratum_col="lang", alpha=0.5
    )
    ach = (
        temperature_mixture(docs, 250, stratum_col="lang", alpha=0.5)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("sampled"))
    )
    return plan.join(ach, "lang", "left").select(
        "lang", "n_docs", "w_scaled", "quota", "rate_ppm",
        F.coalesce("sampled", F.lit(0)).alias("sampled"),
    )


@stage(
    "dedup_minhash_capped",
    f"""
    WITH {_incremental_pairs_sql(corpus_cap=3)}
    SELECT corpus_id, new_id FROM near_pairs
    ORDER BY corpus_id, new_id
    """,
    "the max_bucket explosion guard's semantics as a driver row: "
    "incremental MinHash near-dup where corpus band buckets larger "
    "than 3 index rows are excluded from candidate generation (the "
    "Sigma-bucket-squared cap for corpus-wide boilerplate bands); "
    "the oracle replays the same HAVING count <= cap over the replayed "
    "band table",
)
def q_dedup_minhash_capped(spark, sf_dir):
    from kenshin_spark.dedup.minhash import (
        minhash_band_index,
        minhash_pairs_against_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where("doc_id % 10 = 0")
    corpus = docs.where("doc_id % 10 <> 0")
    return (
        minhash_pairs_against_index(
            new, corpus, minhash_band_index(corpus),
            threshold=0.5, max_bucket=3,
        )
        .select("corpus_id", "new_id")
        .orderBy("corpus_id", "new_id")
    )


# --------------------------------------------------------------------------
# Round-6 session additions: driver rows for the render-layer functions
# that had pytest coverage but no registry row yet (divide_series,
# sort_by_maxima, moving_min/max, square_root, remove_above/below_value,
# alias_sub + alias_by_metric, scale_to_seconds, time_slice,
# min/max/range series, highest/lowest_current), plus the fnv hash-ring
# rebalance delta.  Same tier0 grid (events week -> LWW60) and the same
# cross-engine float discipline as the live render rows.
# --------------------------------------------------------------------------

from kenshin_spark.operators.align import last_write_wins  # noqa: E402
from kenshin_spark.queries import PTS, LWW60, NOW_T, _points, _now  # noqa: E402


def _t0(spark, sf_dir):
    return last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")


@stage(
    "render_divide_series",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    ma AS (
      SELECT metric, ts,
             avg(value) OVER (
               PARTITION BY metric ORDER BY ts
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             ) AS mval
      FROM t0
    )
    SELECT a.metric, a.ts,
           CASE WHEN m.mval IS NOT NULL AND m.mval <> 0
                THEN round(a.value / m.mval * 1000000) / 1000000
           END AS value
    FROM t0 a LEFT JOIN ma m ON m.metric = a.metric AND m.ts = a.ts
    """,
    "graphite divideSeries(series, movingAverage(series, 3)) — each slot "
    "relative to its own trailing mean (the local-anomaly ratio); the "
    "slot-wise join is co-partitioned on (metric, ts) so Catalyst plans "
    "it without a second shuffle; divisor 0/missing -> NULL; explicit "
    "round(x*1e6)/1e6 on both engines (the shortest-decimal round(x, 6) "
    "trap)",
)
def q_render_divide_series(spark, sf_dir):
    from kenshin_spark.functions.render import divide_series, moving_average

    t0 = _t0(spark, sf_dir)
    out = divide_series(t0, moving_average(t0, 3))
    return out.select(
        "metric", "ts",
        (F.round(F.col("value") * 1000000) / 1000000).alias("value"),
    )


@stage(
    "render_sort_by_maxima",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    kept AS (
      SELECT metric FROM t0 GROUP BY metric
      ORDER BY max(value) DESC, metric LIMIT 3
    )
    SELECT a.metric, a.ts, a.value
    FROM t0 a JOIN kept k ON k.metric = a.metric
    """,
    "graphite sortByMaxima + limit(3): keep the 3 series with the "
    "highest peak — per-series max is a map-side-combined aggregate and "
    "the survivor set broadcasts back against the grid (no full-series "
    "shuffle); ties break on the metric name so both engines pick the "
    "same survivors",
)
def q_render_sort_by_maxima(spark, sf_dir):
    from kenshin_spark.functions.render import sort_by_maxima

    return sort_by_maxima(_t0(spark, sf_dir), 3)


@stage(
    "render_moving_minmax",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           min(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vmin,
           max(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vmax
    FROM t0
    """,
    "graphite movingMin/movingMax(series, 5) as one row: the trailing "
    "extrema envelope — two window aggregates over the SAME sort order, "
    "one shuffle + one sort in the plan (Catalyst collapses same-frame "
    "windows); comparisons only, no float arithmetic, so values match "
    "bit-for-bit",
)
def q_render_moving_minmax(spark, sf_dir):
    from kenshin_spark.functions.render import moving_max, moving_min

    t0 = _t0(spark, sf_dir)
    lo = moving_min(t0, 5).withColumnRenamed("value", "vmin")
    hi = moving_max(t0, 5).withColumnRenamed("value", "vmax")
    return lo.join(hi, ["metric", "ts"])


@stage(
    "render_square_root",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           CASE WHEN value >= 0 THEN sqrt(value) END AS value
    FROM t0
    """,
    "graphite squareRoot(series): negative slots go NULL (graphite "
    "emits None there); IEEE-754 sqrt is correctly rounded in both "
    "engines so the doubles agree bit-for-bit with no rounding guard",
)
def q_render_square_root(spark, sf_dir):
    from kenshin_spark.functions.render import square_root

    return square_root(_t0(spark, sf_dir))


@stage(
    "render_value_gate",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           CASE WHEN value <= 400.0 THEN value END AS v_capped,
           CASE WHEN value >= 100.0 THEN value END AS v_floored
    FROM t0
    """,
    "graphite removeAboveValue(series, 400) and removeBelowValue("
    "series, 100) side by side: out-of-gate slots become NULL while the "
    "grid shape survives (the alert-silencing primitives); pure "
    "comparisons, exact on both engines",
)
def q_render_value_gate(spark, sf_dir):
    from kenshin_spark.functions.render import (
        remove_above_value,
        remove_below_value,
    )

    t0 = _t0(spark, sf_dir)
    capped = remove_above_value(t0, 400.0).withColumnRenamed(
        "value", "v_capped"
    )
    floored = remove_below_value(t0, 100.0).withColumnRenamed(
        "value", "v_floored"
    )
    return capped.join(floored, ["metric", "ts"])


@stage(
    "render_alias_rewrite",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT regexp_replace(metric, '[aeiou]', '~', 'g') AS metric,
           ts, value
    FROM t0
    """,
    "graphite aliasSub + aliasByMetric composed: vowels rewritten to "
    "'~' (aliasSub replaces EVERY occurrence — the DuckDB oracle needs "
    "the 'g' flag where Spark's regexp_replace is global by default), "
    "then an 'app.' prefix is added and aliasByMetric strips back to "
    "the last dotted segment — the display-name pipeline as one row",
)
def q_render_alias_rewrite(spark, sf_dir):
    from kenshin_spark.functions.render import alias_by_metric, alias_sub

    out = alias_sub(_t0(spark, sf_dir), "[aeiou]", "~")
    out = alias_sub(out, "^", "app.")
    return alias_by_metric(out)


@stage(
    "render_scale_to_seconds",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts, value * 0.25 AS value FROM t0
    """,
    "graphite scaleToSeconds(series, 15) on a 60s grid: every slot "
    "normalized to a per-15s rate (factor 15/60 = 0.25, a binary-exact "
    "multiplier, so no rounding guard is needed)",
)
def q_render_scale_to_seconds(spark, sf_dir):
    from kenshin_spark.functions.render import scale_to_seconds

    return scale_to_seconds(_t0(spark, sf_dir), 15, 60)


@stage(
    "render_time_slice",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}), now_t AS ({NOW_T})
    SELECT metric, ts,
           CASE WHEN ts >= now - 172800 AND ts < now - 86400
                THEN value END AS value
    FROM t0, now_t
    """,
    "graphite timeSlice(series, now-2d, now-1d): slots outside the "
    "window become NULL while the grid shape stays (unlike a WHERE — "
    "downstream consumers keep their slot alignment); `now` is the "
    "newest raw event on both engines",
)
def q_render_time_slice(spark, sf_dir):
    from kenshin_spark.functions.render import time_slice

    pts = _points(spark, sf_dir)
    now = _now(pts)
    t0 = last_write_wins(pts, 60, arrival_col="arrival")
    return time_slice(t0, now - 172800, now - 86400)


@stage(
    "render_min_max_range",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT 'minSeries' AS metric, ts, min(value) AS value
    FROM t0 GROUP BY ts
    UNION ALL
    SELECT 'maxSeries', ts, max(value) FROM t0 GROUP BY ts
    UNION ALL
    SELECT 'rangeOfSeries', ts, max(value) - min(value) FROM t0 GROUP BY ts
    """,
    "graphite minSeries / maxSeries / rangeOfSeries as one row: the "
    "per-slot envelope across series — three synthetic series from the "
    "same one-shuffle per-ts aggregate; max-min subtraction of exact "
    "doubles, no rounding guard",
)
def q_render_min_max_range(spark, sf_dir):
    from kenshin_spark.functions.render import (
        max_series,
        min_series,
        range_of_series,
    )

    t0 = _t0(spark, sf_dir)
    return (
        min_series(t0)
        .unionByName(max_series(t0))
        .unionByName(range_of_series(t0))
    )


@stage(
    "render_highest_lowest_current",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    cur AS (
      SELECT metric, arg_max(value, ts) AS _cur FROM t0
      WHERE value IS NOT NULL GROUP BY metric
    ),
    hi AS (SELECT metric FROM cur ORDER BY _cur DESC, metric LIMIT 2),
    lo AS (SELECT metric FROM cur ORDER BY _cur ASC, metric LIMIT 2)
    SELECT 'highest' AS which, a.metric, a.ts, a.value
    FROM t0 a JOIN hi ON hi.metric = a.metric
    UNION ALL
    SELECT 'lowest', a.metric, a.ts, a.value
    FROM t0 a JOIN lo ON lo.metric = a.metric
    """,
    "graphite highestCurrent(2) and lowestCurrent(2) as one row: "
    "series selected by their freshest non-NULL reading (max_by/arg_max "
    "over ts), survivors broadcast back against the grid; ties break on "
    "the metric name on both engines",
)
def q_render_highest_lowest_current(spark, sf_dir):
    from kenshin_spark.functions.render import highest_current, lowest_current

    t0 = _t0(spark, sf_dir)
    hi = highest_current(t0, 2).select(
        F.lit("highest").alias("which"), "metric", "ts", "value"
    )
    lo = lowest_current(t0, 2).select(
        F.lit("lowest").alias("which"), "metric", "ts", "value"
    )
    return hi.unionByName(lo)


@stage(
    "ts_hashring_rebalance",
    """
    WITH RECURSIVE names AS (SELECT DISTINCT event_type AS metric FROM events),
    h AS (
      SELECT metric, 1 AS i, CAST(2166136261 AS BIGINT) AS hash FROM names
      UNION ALL
      SELECT metric, i + 1,
             (xor(hash, CAST(unicode(substr(metric, i, 1)) AS BIGINT))
              * 16777619) % 4294967296
      FROM h WHERE i <= length(metric)
    ),
    final AS (SELECT metric, hash FROM h WHERE i = length(metric) + 1),
    signed AS (
      SELECT metric,
             CASE WHEN hash >= 2147483648 THEN hash - 4294967296
                  ELSE hash END AS h32
      FROM final
    )
    SELECT metric,
           CAST(((h32 % 8) + 8) % 8 AS BIGINT) AS node_before,
           CAST(((h32 % 9) + 9) % 9 AS BIGINT) AS node_after,
           ((h32 % 8) + 8) % 8 <> ((h32 % 9) + 9) % 9 AS moved
    FROM signed
    """,
    "P3 hash-ring rebalance delta (kenshin/tools/hash.py:4-20): each "
    "metric's owning node under an 8-node ring vs after adding a 9th "
    "(nodes[fnv1a(key) %% n] — modulo placement, so most keys move: the "
    "motivation for keeping placement in the shuffle partitioner "
    "instead); the oracle recomputes fnv1a-32 in recursive SQL and both "
    "modulos bit-for-bit",
)
def q_ts_hashring_rebalance(spark, sf_dir):
    from kenshin_spark.functions.hashing import shard_of

    metrics = _points(spark, sf_dir).select("metric").distinct()
    before = shard_of("metric", 8).cast("long").alias("node_before")
    after = shard_of("metric", 9).cast("long").alias("node_after")
    return metrics.select(
        "metric", before, after,
        (before != after).alias("moved"),
    )


# --------------------------------------------------------------------------
# Engine-path rows part 2: the Deequ-lite constraint suite, the
# streaming sessions operators driven in their batch form, language-ID
# margins, normalized-text fingerprints, the hash samplers, and the
# density-scaled LSH banding law as a replayable plan row.
# --------------------------------------------------------------------------


@stage(
    "quality_suite_orders",
    """
    WITH n AS (SELECT count(*) AS n FROM orders),
    rl AS (
      SELECT
        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
        sum(CASE WHEN o_totalprice IS NOT NULL
                  AND NOT (o_totalprice BETWEEN 0 AND 600000)
                 THEN 1 ELSE 0 END) AS v_rng,
        sum(CASE WHEN o_orderstatus IS NOT NULL
                  AND NOT regexp_matches(o_orderstatus, '^[FOP]$')
                 THEN 1 ELSE 0 END) AS v_re,
        sum(CASE WHEN NOT coalesce(
                   o_orderdate IS NOT NULL AND o_totalprice > 0, FALSE)
                 THEN 1 ELSE 0 END) AS v_pred
      FROM orders
    ),
    uq AS (
      SELECT coalesce(sum(c), 0) AS v_uq FROM (
        SELECT count(*) AS c FROM orders GROUP BY o_orderkey
        HAVING count(*) > 1
      )
    )
    SELECT 'not_null(o_custkey)' AS "check", 'o_custkey' AS "column",
           v_nn = 0 AS passed, CAST(v_nn AS BIGINT) AS n_violations,
           n AS n_rows
    FROM rl, n
    UNION ALL
    SELECT 'in_range(o_totalprice,0,600000)', 'o_totalprice',
           v_rng = 0, CAST(v_rng AS BIGINT), n FROM rl, n
    UNION ALL
    SELECT 'matches(o_orderstatus,^[FOP]$)', 'o_orderstatus',
           v_re = 0, CAST(v_re AS BIGINT), n FROM rl, n
    UNION ALL
    SELECT 'positive_order', '', v_pred = 0, CAST(v_pred AS BIGINT), n
    FROM rl, n
    UNION ALL
    SELECT 'unique(o_orderkey)', 'o_orderkey', v_uq = 0,
           CAST(v_uq AS BIGINT), CAST(NULL AS BIGINT) FROM uq
    """,
    "the Deequ-lite constraint suite (quality.validate) as a driver "
    "row: not-null / range / regex / predicate checks fused into ONE "
    "scan (conditional sums, map-side combined — no row shuffle), plus "
    "the uniqueness check's key-only aggregate; the oracle recomputes "
    "every verdict and violation count from first principles, including "
    "the NULL-predicate-counts-as-violation and NULL n_rows for the "
    "key-scoped unique check",
)
def q_quality_suite_orders(spark, sf_dir):
    from kenshin_spark.quality import (
        in_range,
        matches,
        not_null,
        predicate,
        unique,
        validate,
    )

    orders = load_table(spark, sf_dir, "orders")
    return validate(
        orders,
        [
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 600000),
            matches("o_orderstatus", "^[FOP]$"),
            predicate(
                "o_orderdate IS NOT NULL AND o_totalprice > 0",
                name="positive_order",
            ),
            unique("o_orderkey"),
        ],
    )


@stage(
    "q_event_dedup_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "the at-least-once ingestion guard (dedup_within_watermark) driven "
    "in its batch form: on a bounded input the watermarked "
    "dropDuplicatesWithinWatermark degrades to plain dropDuplicates "
    "over the same keys — the batch/stream parity invariant the "
    "streaming suite asserts, here hash-checked against the distinct "
    "key set (only the keys are emitted: which physical row survives "
    "dedup is engine-internal)",
)
def q_event_dedup_watermark(spark, sf_dir):
    from kenshin_spark.streaming.sessions import dedup_within_watermark

    ev = load_table(spark, sf_dir, "events")
    return dedup_within_watermark(
        ev, ["user_id", "event_type"], ts_col="ts"
    ).select("user_id", "event_type")


@stage(
    "q_conversion_attribution",
    """
    WITH c AS (
      SELECT user_id, ts AS click_ts FROM events
      WHERE event_type IN ('click', 'view')
    ),
    v AS (
      SELECT user_id, ts AS conv_ts FROM events
      WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT v.user_id, c.click_ts, v.conv_ts,
             CAST(floor(epoch(v.conv_ts)) - floor(epoch(c.click_ts))
                  AS BIGINT) AS lag_s
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.click_ts <= v.conv_ts
       AND c.click_ts >= v.conv_ts - INTERVAL 30 MINUTE
    )
    SELECT user_id,
           CAST(floor(epoch(conv_ts)) AS BIGINT) AS conv_ts,
           min(lag_s) AS best_lag_s,
           count(*) AS n_candidate_clicks
    FROM pairs GROUP BY 1, 2
    """,
    "the stream-stream attribution primitive (attribute_conversions) "
    "driven in its batch form: every (purchase, prior click/view) pair "
    "within a 30-minute lookback per user — the watermarked interval "
    "join whose time range bounds streaming state — reduced to the "
    "most-recent-click lag and candidate count per conversion; the "
    "oracle replays the interval join and reduction exactly",
)
def q_conversion_attribution(spark, sf_dir):
    from kenshin_spark.streaming.sessions import attribute_conversions

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type").isin("click", "view"))
    convs = ev.where(F.col("event_type") == "purchase")
    pairs = attribute_conversions(clicks, convs, window="30 minutes")
    return (
        pairs.groupBy(
            "user_id", F.unix_timestamp("conv_ts").alias("conv_ts")
        )
        .agg(
            F.min("lag_s").alias("best_lag_s"),
            F.count(F.lit(1)).alias("n_candidate_clicks"),
        )
    )


def _lang_margin_oracle() -> str:
    from kenshin_spark.functions.text import LANG_MARKERS, marker_regex

    scores = ", ".join(
        f"len(regexp_extract_all(lower(text), '{marker_regex(w)}'))"
        for w in LANG_MARKERS.values()
    )
    whens = " ".join(
        f"WHEN len(regexp_extract_all(lower(text), "
        f"'{marker_regex(w)}')) = s[1] AND s[1] > 0 THEN '{lang}'"
        for lang, w in LANG_MARKERS.items()
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, text,
             list_sort([{scores}], 'DESC') AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(s[1] AS BIGINT) AS best_score,
           CAST(s[2] AS BIGINT) AS second_score,
           CAST(s[1] - s[2] AS BIGINT) AS margin,
           CASE {whens} ELSE 'und' END AS pred_lang
    FROM scored
    """


@stage(
    "text_lang_margin",
    _lang_margin_oracle(),
    "language-ID confidence margin: per doc the best and second-best "
    "marker-word scores (lang_scores), their gap — the reranker-style "
    "confidence a corpus router thresholds on — and the argmax "
    "prediction with the same fixed-order tie-break as text_language_id; "
    "integer hit counts, replayed via regexp_extract_all on both engines",
)
def q_text_lang_margin(spark, sf_dir):
    from kenshin_spark.functions.text import lang_scores, language_id

    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    arr = F.sort_array(
        F.array(*[c.cast("long") for c in scores.values()]), asc=False
    )
    return docs.select(
        "doc_id",
        arr[0].alias("best_score"),
        arr[1].alias("second_score"),
        (arr[0] - arr[1]).alias("margin"),
        language_id("text").alias("pred_lang"),
    )


@stage(
    "text_part_fingerprint",
    """
    SELECT p_partkey,
           md5(regexp_replace(lower(p_name), '[^a-z0-9]', '', 'g'))
             AS fp,
           length(regexp_replace(lower(p_name), '[^a-z0-9]', '', 'g'))
             AS n_norm_chars
    FROM part
    """,
    "content fingerprinting over the part catalog: normalized_text "
    "(lowercase, strip non-alphanumerics — the exact-dedup key) + md5 "
    "fingerprint per part name; Spark's regexp_replace is global while "
    "the DuckDB twin needs the explicit 'g' flag — the cross-engine "
    "trap this row pins",
)
def q_text_part_fingerprint(spark, sf_dir):
    from kenshin_spark.functions.text import fingerprint_md5, normalized_text

    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        fingerprint_md5("p_name").alias("fp"),
        F.length(normalized_text("p_name")).cast("long").alias(
            "n_norm_chars"
        ),
    )


@stage(
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


@stage(
    "emb_bottomk_per_label",
    """
    SELECT label, vec_id FROM (
      SELECT label, vec_id,
             row_number() OVER (
               PARTITION BY label
               ORDER BY CAST(('0x' || substr(md5('ksp|' ||
                       CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
                        vec_id
             ) AS rn
      FROM embeddings
    ) WHERE rn <= 4
    """,
    "fixed-size stratified sampling: the 4 vectors per label whose "
    "seeded 60-bit hashes are lowest (the per-stratum bottom-k — "
    "nested and mergeable like the global bottom_k_sample, so per-day "
    "strata roll up without rescanning raw data); ordering is (hash, "
    "key) so even a collision stays deterministic on both engines",
)
def q_emb_bottomk_per_label(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.functions.sampling import hash60

    emb = load_table(spark, sf_dir, "embeddings")
    w = (
        Window.partitionBy("label")
        .orderBy(hash60("vec_id"), F.col("vec_id"))
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4)
        .select("label", "vec_id")
    )


@stage(
    "dedup_banding_auto_plan",
    """
    WITH n0 AS (SELECT count(*) AS n FROM embeddings),
    lad AS (
      SELECT t.scale, n0.n * t.scale AS n_vectors
      FROM n0, (VALUES (1), (10), (100), (1000)) t(scale)
    ),
    need AS (
      SELECT l.scale, l.n_vectors,
             coalesce(min(g.k), 0) AS need
      FROM lad l LEFT JOIN generate_series(0, 40) g(k)
        ON 64 * CAST(power(2, g.k) AS BIGINT) >= l.n_vectors
      GROUP BY 1, 2
    ),
    rows_t AS (
      SELECT scale, n_vectors,
             least(greatest(4, need), 16) AS rows_per_band
      FROM need
    )
    SELECT scale, n_vectors,
           CAST(16 + (rows_per_band - 4) AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band
    FROM rows_t
    """,
    "the density-scaled LSH banding law (density_scaled_banding — the "
    "sf1 soak's fix for quadratic candidate growth) as a replayable "
    "plan row: for the live corpus size and its 10x/100x/1000x "
    "projections, the (bands, rows_per_band) the engine would pick to "
    "hold expected bucket occupancy at 64; the oracle derives "
    "ceil(log2(n/64)) by integer probe (min k with 64*2^k >= n) so no "
    "cross-engine libm is in play",
)
def q_dedup_banding_auto_plan(spark, sf_dir):
    from kenshin_spark.dedup.embedding import density_scaled_banding
    from kenshin_spark.io import load_table as _lt

    n = _lt(spark, sf_dir, "embeddings").count()
    rows = []
    for scale in (1, 10, 100, 1000):
        bands, rpb = density_scaled_banding(n * scale)
        rows.append((scale, n * scale, bands, rpb))
    return spark.createDataFrame(
        rows, "scale int, n_vectors long, bands long, rows_per_band long"
    )


# --------------------------------------------------------------------------
# Engine-path rows part 3: the graphite target-expression parser driving
# a real render chain, simhash hamming distances, CMS error audit,
# forward as-of join with tolerance, seeded correlation scoping, and the
# container sniffer over engine-built payloads.
# --------------------------------------------------------------------------


@stage(
    "render_target_expression",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    scoped AS (SELECT * FROM t0 WHERE regexp_matches(metric, '^c[^.]*$')),
    ma AS (
      SELECT metric, ts,
             avg(value) OVER (
               PARTITION BY metric ORDER BY ts
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             ) AS mval
      FROM scoped
    )
    SELECT metric, ts,
           round(mval * 2.0 * 1000000) / 1000000 AS value
    FROM ma
    """,
    "the graphite-web query language end-to-end: parse_target("
    "'scale(movingAverage(c*,3),2)') -> (glob, inside-out chain), the "
    "glob compiled to a regex scan filter (glob_to_regex) and the chain "
    "applied by apply_chain — the full serving-path translation from a "
    "dashboard string to a Catalyst plan; the oracle replays glob "
    "scope, trailing mean and scale with the explicit x*1e6 rounding "
    "guard",
)
def q_render_target_expression(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain
    from kenshin_spark.functions.targets import parse_target
    from kenshin_spark.operators.maintenance import glob_to_regex

    glob, chain = parse_target("scale(movingAverage(c*,3),2)")
    scoped = _t0(spark, sf_dir).where(
        F.col("metric").rlike(glob_to_regex(glob))
    )
    out = apply_chain(scoped, chain)
    return out.select(
        "metric", "ts",
        (F.round(F.col("value") * 1000000) / 1000000).alias("value"),
    )


from kenshin_spark.queries import _simhash_oracle  # noqa: E402


@stage(
    "dedup_simhash_hamming",
    f"""
    WITH sim AS ({_simhash_oracle()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON b.doc_id = a.doc_id + 1
    """,
    "simhash hamming distances between adjacent doc ids: the 60-bit "
    "fingerprints (one shuffle, 60 conditional-sum aggregates) compared "
    "by hamming_distance (bit_count of XOR — pure JVM bit ops); the "
    "oracle replays fingerprints AND distances bit-for-bit, pinning the "
    "distance kernel the simhash near-dup threshold runs on",
)
def q_dedup_simhash_hamming(spark, sf_dir):
    from kenshin_spark.dedup.simhash import (
        hamming_distance,
        simhash_fingerprints,
    )

    fps = simhash_fingerprints(load_table(spark, sf_dir, "documents"))
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming_distance(
                F.col("a.simhash"), F.col("b.simhash")
            ).cast("long").alias("hamming"),
        )
    )


@stage(
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


@stage(
    "ts_asof_forward_tolerance",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    slots AS (SELECT DISTINCT metric, ts - ts % 300 AS ts FROM t0),
    m AS (
      SELECT s.metric, s.ts, min(r.ts) AS ts_right
      FROM slots s LEFT JOIN t0 r
        ON r.metric = s.metric AND r.ts >= s.ts AND r.ts <= s.ts + 120
      GROUP BY 1, 2
    )
    SELECT m.metric, m.ts, m.ts_right, r.value
    FROM m LEFT JOIN t0 r
      ON r.metric = m.metric AND r.ts = m.ts_right
    """,
    "forward as-of join with tolerance: every 300s slot start matched "
    "to the EARLIEST tier0 sample at-or-after it, but only within 120s "
    "(two grid steps) — beyond that the slot keeps NULLs instead of a "
    "stale far-future sample; one union-sort pass per key like the "
    "backward direction (negated-timestamp trick), replayed in SQL via "
    "min-over-interval + equality join back",
)
def q_ts_asof_forward_tolerance(spark, sf_dir):
    from kenshin_spark.operators.asof import asof_join

    t0 = _t0(spark, sf_dir)
    slots = t0.select(
        "metric", (F.col("ts") - F.col("ts") % 300).alias("ts")
    ).distinct()
    out = asof_join(
        slots, t0, direction="forward", tolerance=120
    )
    return out.select("metric", "ts", "ts_right", "value")


@stage(
    "ts_corr_seeded",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    t1 AS (
      SELECT metric, ts - ts % 3600 AS ts, arg_max(value, ts) AS value
      FROM t0 GROUP BY 1, 2
    ),
    scoped AS (SELECT * FROM t1 WHERE regexp_matches(metric, '^.*e.*$')),
    seeds AS (SELECT * FROM t1 WHERE metric = 'click')
    SELECT a.metric AS metric_a, b.metric AS metric_b,
           round(corr(a.value, b.value), 6) AS r,
           count(*) AS n_slots
    FROM seeds a JOIN scoped b
      ON b.ts = a.ts AND a.metric <> b.metric
    WHERE a.value IS NOT NULL AND b.value IS NOT NULL
    GROUP BY 1, 2
    HAVING count(*) >= 8
    """,
    "seeded + glob-scoped metric correlation: Pearson r of the 'click' "
    "seed against every metric matching glob '*e*' (the pair-space "
    "bound a 100TB fleet needs — |seeds| x |scope| instead of "
    "|metrics|^2), with a min co-observed-slot floor; same "
    "one-self-join shape as ts_metric_correlation",
)
def q_ts_corr_seeded(spark, sf_dir):
    from kenshin_spark.operators.correlate import metric_correlation

    t1 = last_write_wins(_t0(spark, sf_dir), 3600)
    return metric_correlation(
        t1, glob="*e*", seeds=["click"], min_slots=8
    )


@stage(
    "mm_sniff_formats",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'jpeg'
                ELSE 'unknown' END AS format
    FROM documents WHERE doc_id % 50 = 0
    """,
    "container sniffing over engine-built payloads: docs carry real "
    "BMP (encode_bmp) or baseline-JPEG (encode_jpeg) bytes or garbage, "
    "and codecs.sniff classifies each by magic bytes inside "
    "mapInPandas (None -> 'unknown'); the oracle derives the expected "
    "class from the same doc_id arithmetic that picked the encoder",
)
def q_mm_sniff_formats(spark, sf_dir):
    import pandas as pd

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
                kind = did % 3
                if kind == 0:
                    arr = ((did + np.arange(64).reshape(8, 8)) % 256
                           ).astype(np.uint8)
                    payload = codecs.encode_bmp(arr)
                elif kind == 1:
                    arr = ((did + np.arange(256).reshape(16, 16)) % 256
                           ).astype(np.uint8)
                    payload = codecs.encode_jpeg(arr)
                else:
                    payload = b"not-a-container-%d" % did
                fmt = codecs.sniff(payload) or "unknown"
                rows.append((did, fmt))
            yield pd.DataFrame(rows, columns=["doc_id", "format"])

    return docs.mapInPandas(kern, "doc_id long, format string")


# --------------------------------------------------------------------------
# Engine-path rows part 4: Bloom false-positive audit, the dedup funnel,
# retention-spec parsing, sliding histogram-sketch quantiles, user value
# deciles, and a second funnel shape.
# --------------------------------------------------------------------------

from kenshin_spark.bloom_oracle import _bloom_oracle  # noqa: E402


@stage(
    "dedup_bloom_fpr_audit",
    f"""
    SELECT count(*) AS n_probes,
           sum(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS n_members,
           sum(CASE WHEN exact_dup AND bloom_hit THEN 1 ELSE 0 END)
             AS n_member_hits,
           sum(CASE WHEN NOT exact_dup THEN 1 ELSE 0 END) AS n_novel,
           sum(CASE WHEN NOT exact_dup AND bloom_hit THEN 1 ELSE 0 END)
             AS n_false_pos
    FROM ({_bloom_oracle(16, 4)})
    """,
    "Bloom membership pre-pass false-positive audit: the SAME "
    "16-word/k=4 relational bitmap + probe as dedup_bloom_prefilter, "
    "aggregated into the two numbers an ingest planner sizes the "
    "bitmap by — n_member_hits MUST equal n_members (no false "
    "negatives, the correctness invariant) while n_false_pos measures "
    "the saturated-bitmap FP rate that the exact md5 join then "
    "absorbs; replayed bit-for-bit",
)
def q_dedup_bloom_fpr_audit(spark, sf_dir):
    from kenshin_spark.dedup.exact import bloom_bitmap, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0).select(
        F.md5("text").alias("fp")
    )
    batch = docs.where((F.col("doc_id") % 10).isin(0, 1)).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(F.col("text"), F.lit(" novel")),
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    bitmap = bloom_bitmap(corpus.distinct(), fp_col="fp", m_words=16, k=4)
    probed = bloom_probe(batch, bitmap, fp_col="fp", m_words=16, k=4)
    exact = corpus.distinct().withColumn("_dup", F.lit(True))
    per_doc = (
        batch.join(probed, "fp")
        .join(exact, "fp", "left")
        .select(
            "bloom_hit",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("exact_dup"),
        )
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("exact_dup").cast("long")).alias("n_members"),
        F.sum((F.col("exact_dup") & F.col("bloom_hit")).cast("long"))
          .alias("n_member_hits"),
        F.sum((~F.col("exact_dup")).cast("long")).alias("n_novel"),
        F.sum((~F.col("exact_dup") & F.col("bloom_hit")).cast("long"))
          .alias("n_false_pos"),
    )


@stage(
    "pipeline_dedup_funnel",
    f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
    tot AS (SELECT count(*) AS n FROM documents),
    ex AS (
      SELECT count(*) - count(DISTINCT md5(regexp_replace(lower(text),
               '[^a-z0-9]', '', 'g'))) AS rm
      FROM documents
    ),
    mh AS (
      SELECT count(*) - count(DISTINCT cluster) AS rm FROM comp
    )
    SELECT 'exact' AS stage, ex.rm AS n_removed,
           tot.n - ex.rm AS n_remaining
    FROM ex, tot
    UNION ALL
    SELECT 'minhash', mh.rm, tot.n - ex.rm - mh.rm FROM mh, ex, tot
    """,
    "the dedup funnel a corpus-curation job reports: stage 1 exact "
    "dedup (normalized-md5 fingerprints, smallest-id survivor — "
    "exact_dedup) and stage 2 MinHash-LSH near-dup clusters "
    "(connected_components over the banded pair graph, min-id label), "
    "each with removed/remaining counts; the oracle replays "
    "fingerprints, the full LSH pair replay and recursive reachability",
)
def q_pipeline_dedup_funnel(spark, sf_dir):
    from kenshin_spark.dedup.cluster import connected_components
    from kenshin_spark.dedup.exact import exact_dedup
    from kenshin_spark.dedup.minhash import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    n_fp = exact_dedup(docs).count()
    comp = connected_components(
        minhash_lsh_pairs(docs, threshold=0.5)
    )
    n_nodes = comp.count()
    n_clusters = comp.select("cluster_id").distinct().count()
    rm_ex, rm_mh = n - n_fp, n_nodes - n_clusters
    return spark.createDataFrame(
        [
            ("exact", rm_ex, n - rm_ex),
            ("minhash", rm_mh, n - rm_ex - rm_mh),
        ],
        "stage string, n_removed long, n_remaining long",
    )


@stage(
    "config_retention_matrix",
    """
    SELECT * FROM (VALUES
      ('60s:1d',  CAST(60 AS BIGINT),    CAST(1440 AS BIGINT)),
      ('1m:7d',   CAST(60 AS BIGINT),    CAST(10080 AS BIGINT)),
      ('15m:5y',  CAST(900 AS BIGINT),   CAST(175200 AS BIGINT)),
      ('300:7200',CAST(300 AS BIGINT),   CAST(7200 AS BIGINT)),
      ('1h:30d',  CAST(3600 AS BIGINT),  CAST(720 AS BIGINT)),
      ('1d:1y',   CAST(86400 AS BIGINT), CAST(365 AS BIGINT))
    ) t(retention, sec_per_point, points)
    """,
    "M11 retention-definition parsing (kenshin/storage.py:130-181 "
    "grammar): '<precision>:<duration>' with s/m/h/d/w/y units, bare "
    "ints meaning seconds for precision and POINTS for duration — the "
    "six canonical spellings parsed by RetentionParser against the "
    "independently hand-computed spec table (a golden matrix, not a "
    "dual-run: the oracle states the grammar's answers)",
)
def q_config_retention_matrix(spark, sf_dir):
    from kenshin_spark.config import RetentionParser

    specs = ["60s:1d", "1m:7d", "15m:5y", "300:7200", "1h:30d", "1d:1y"]
    rows = []
    for s in specs:
        spp, pts = RetentionParser.parse_retention_def(s)
        rows.append((s, spp, pts))
    return spark.createDataFrame(
        rows, "retention string, sec_per_point long, points long"
    )


@stage(
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


@stage(
    "q_user_value_deciles",
    """
    WITH u AS (
      SELECT user_id,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS total_value
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    )
    SELECT user_id, total_value,
           ntile(4) OVER (ORDER BY total_value DESC, user_id)
             AS quartile
    FROM u
    """,
    "per-user lifetime value quartiles: DECIMAL-accumulated value sums "
    "(order-exact — the money-math discipline, no float association "
    "drift) ranked into ntile(4) with a user_id tie-break so both "
    "engines assign identical buckets",
)
def q_q_user_value_deciles(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("total_value")
        )
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id"))
    return u.select(
        "user_id", "total_value", F.ntile(4).over(w).alias("quartile")
    )


@stage(
    "q_event_funnel_daily",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts
      FROM events
    ),
    s1 AS (
      SELECT user_id, min(ts) AS t_signup FROM e
      WHERE event_type = 'signup' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view'
        AND e.ts >= s1.t_signup AND e.ts <= s1.t_signup + 86400
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= s2.t_view AND e.ts <= s2.t_view + 86400
      GROUP BY 1
    )
    SELECT s1.user_id, s1.t_signup, s2.t_view, s3.t_purchase
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
    "a second funnel shape through operators/funnel.py: first signup, "
    "first view within 24h of it, first purchase within 24h of that — "
    "per-step filtered user-keyed aggregates joined forward, NULLs "
    "from the first missed step on (activation funnel vs the "
    "registry's 7-day shopping funnel)",
)
def q_q_event_funnel_daily(spark, sf_dir):
    from kenshin_spark.operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("ts"),
    )
    out = funnel(ev, ["signup", "view", "purchase"], within=86400)
    return out.withColumnRenamed("user", "user_id")


# --------------------------------------------------------------------------
# Engine-path rows part 5: tagged-series roundtrip, stereo WAV metadata,
# summarize(max), watermark lateness audit, ship-latency bands, label
# sign-prototype agreement, and the LSH recall audit.
# --------------------------------------------------------------------------

from kenshin_spark.queries import _lsh_topk_oracle  # noqa: E402

_BF_TOPK_SQL = """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               6) AS cosine
      FROM embeddings c, q
      WHERE q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= 10
"""


@stage(
    "sim_lsh_recall_audit",
    f"""
    SELECT ex.query_id,
           CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(ap.neighbor_id) * 10 AS BIGINT) AS recall_pct
    FROM ({_BF_TOPK_SQL}) ex
    LEFT JOIN (SELECT query_id, neighbor_id FROM ({_lsh_topk_oracle(16, 4)}) z) ap
      ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY 1
    """,
    "the ANN quality audit a 100TB similarity service runs before "
    "switching from brute force to the LSH path: recall@10 of the "
    "banded hyperplane LSH (16x4, Hamming-1 multi-probe) against the "
    "exact cosine top-10, per query — both sides are the registry's "
    "own engine paths and both replay bit-for-bit, so the recall "
    "number itself is hash-checked",
)
def q_sim_lsh_recall_audit(spark, sf_dir):
    from kenshin_spark.similarity import brute_force_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    ex = brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ap = lsh_topk(emb, queries, k=10).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
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
    "ts_tag_roundtrip",
    f"""
    WITH pts AS ({PTS}),
    tagged AS (
      SELECT metric || ';dc=d' || CAST(arrival % 2 AS VARCHAR)
                    || ';host=h' || CAST(arrival % 3 AS VARCHAR) AS metric,
             ts, value
      FROM pts
    )
    SELECT metric,
           string_split(metric, ';')[1] AS name,
           string_split(string_split(metric, ';')[3], '=')[2] AS host,
           count(*) AS n_points
    FROM tagged
    WHERE string_split(string_split(metric, ';')[2], '=')[2] = 'd1'
    GROUP BY 1, 2, 3
    """,
    "graphite 1.1 tagged-series handling end-to-end: series names "
    "built by format_series (sorted-key canonical form, so equal "
    "series compare equal as strings), filtered by tag_predicate "
    "(dc=d1 — a pure JVM map lookup, stays inside codegen), and "
    "projected back through series_name/series_tags; the full tagged "
    "string stays the series identity like the reference's store "
    "layout expects",
)
def q_ts_tag_roundtrip(spark, sf_dir):
    from kenshin_spark.functions.tags import (
        format_series,
        series_tags,
        tag_predicate,
        with_tags,
    )

    pts = _points(spark, sf_dir)
    tags = F.map_from_arrays(
        F.array(F.lit("host"), F.lit("dc")),
        F.array(
            F.concat(F.lit("h"), (F.col("arrival") % 3).cast("string")),
            F.concat(F.lit("d"), (F.col("arrival") % 2).cast("string")),
        ),
    )
    tagged = pts.select(
        format_series(F.col("metric"), tags).alias("metric"), "ts", "value"
    )
    kept = tagged.where(tag_predicate({"dc": "d1"}))
    named = with_tags(kept)
    return (
        named.select(
            "metric", "name", series_tags("metric")["host"].alias("host")
        )
        .groupBy("metric", "name", "host")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@stage(
    "mm_wav_stereo_meta",
    """
    SELECT doc_id,
           CAST(400 * (1 + doc_id % 3) * 1000
                / (4000 * (1 + doc_id % 2)) AS BIGINT) AS duration_ms,
           CAST(4000 * (1 + doc_id % 2) AS BIGINT) AS sample_rate,
           CAST(2 AS BIGINT) AS n_channels,
           CAST(8192 * (1 + doc_id % 3) AS DOUBLE) / 32768.0 AS peak
    FROM documents WHERE doc_id % 50 = 0
    """,
    "stereo WAV metadata through the native RIFF decoder: per-doc "
    "2-channel square waves at data-dependent rates and lengths, "
    "decoded by codecs.wav_features inside mapInPandas — duration, "
    "rate, channel count and normalized peak are integer functions of "
    "doc_id so every field verifies exactly",
)
def q_mm_wav_stereo_meta(spark, sf_dir):
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 50 = 0")
        .select("doc_id")
    )

    def kern(batches):
        import io
        import wave

        import numpy as np

        from kenshin_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 400 * (1 + did % 3)
                rate = 4000 * (1 + did % 2)
                amp = 8192 * (1 + did % 3)
                mono = np.where(np.arange(n) % 2 == 0, amp, -amp)
                stereo = np.empty(n * 2, dtype="<i2")
                stereo[0::2] = mono
                stereo[1::2] = -mono
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(2)
                    wf.setsampwidth(2)
                    wf.setframerate(rate)
                    wf.writeframes(stereo.tobytes())
                ft = codecs.wav_features(buf.getvalue())
                rows.append((
                    did,
                    int(ft["duration_s"] * 1000),
                    int(ft["sample_rate"]),
                    int(ft["n_channels"]),
                    float(ft["peak"]),
                ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "duration_ms", "sample_rate",
                    "n_channels", "peak",
                ],
            )

    return docs.mapInPandas(
        kern,
        "doc_id long, duration_ms long, sample_rate long, "
        "n_channels long, peak double",
    )


@stage(
    "render_summarize_max",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
    FROM t0 GROUP BY 1, 2
    """,
    "graphite summarize(series, '1h', 'max'): tier0 re-bucketed into "
    "hour slots by per-slot maximum — the peak-preserving rollup ops "
    "dashboards use for alert lines; comparisons only, exact on both "
    "engines",
)
def q_render_summarize_max(spark, sf_dir):
    from kenshin_spark.functions.render import summarize

    return summarize(_t0(spark, sf_dir), 3600, "max")


@stage(
    "q_events_late_watermark_audit",
    """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts,
             max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS high_water
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           sum(CASE WHEN high_water - ts > 600 THEN 1 ELSE 0 END)
             AS late_10m,
           sum(CASE WHEN high_water - ts > 3600 THEN 1 ELSE 0 END)
             AS late_1h
    FROM e GROUP BY 1
    """,
    "watermark sizing audit — the question every streaming deployment "
    "answers before picking withWatermark bounds: replaying the stream "
    "in arrival order (event_id), how many events arrive more than "
    "10m/1h behind the running high-water mark and would be DROPPED at "
    "that delay; one running-max window pass, replayed exactly",
)
def q_q_events_late_watermark_audit(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("ts"),
    )
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = ev.withColumn("high_water", F.max("ts").over(w))
    late = F.col("high_water") - F.col("ts")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((late > 600).cast("long")).alias("late_10m"),
        F.sum((late > 3600).cast("long")).alias("late_1h"),
    )


@stage(
    "emb_sign_agreement_matrix",
    """
    WITH votes AS (
      SELECT label, t.dim,
             sum(CASE WHEN embedding[t.dim + 1] > 0 THEN 1 ELSE 0 END)
               AS pos,
             count(*) AS n
      FROM embeddings, range(64) t(dim)
      GROUP BY 1, 2
    ),
    proto AS (
      SELECT label, dim,
             CASE WHEN pos * 2 > n THEN 1 ELSE 0 END AS bit
      FROM votes
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                AS BIGINT) AS hamming
    FROM proto a JOIN proto b ON b.dim = a.dim AND a.label < b.label
    GROUP BY 1, 2
    """,
    "label sign-prototype agreement matrix: per (label, dim) the "
    "majority SIGN of the embedding coordinate (integer votes — no "
    "float mean, so no cross-engine accumulation drift) folds each "
    "label into a 64-bit prototype, and label pairs compare by "
    "prototype hamming distance — the cheap separability screen before "
    "spending on centroid math; integers end to end",
)
def q_emb_sign_agreement_matrix(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    votes = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.sum((F.col("v") > 0).cast("long")).alias("pos"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    proto = votes.select(
        "label", "dim",
        F.when(F.col("pos") * 2 > F.col("n"), 1).otherwise(0).alias("bit"),
    )
    a, b = proto.alias("a"), proto.alias("b")
    return (
        a.join(
            b,
            (F.col("b.dim") == F.col("a.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum((F.col("a.bit") != F.col("b.bit")).cast("long"))
            .alias("hamming")
        )
    )


# --------------------------------------------------------------------------
# Engine-path rows part 6 (bank complete at 50): CMS over a second key
# domain, exact-percentile parity, money-math segment profile, and ring
# slot utilization.
# --------------------------------------------------------------------------


@stage(
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


@stage(
    "q_events_value_quartiles_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           count(value) AS n
    FROM events GROUP BY 1
    """,
    "exact interpolated quartiles per event_type: Spark's percentile "
    "(exact, interpolating) against DuckDB's quantile_cont — the same "
    "a + (b-a)*frac arithmetic on the same sorted values, the "
    "discipline the render layer's median/percentile rows rely on",
)
def q_q_events_value_quartiles_by_type(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        F.count("value").alias("n"),
    )


@stage(
    "q_segment_balance_profile",
    """
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_balance,
           sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS n_negative
    FROM customer GROUP BY 1
    """,
    "market-segment balance profile: DECIMAL-accumulated account "
    "balances (order-exact money math — float association drift is the "
    "cross-engine trap), negative-balance counts, one map-side-combined "
    "aggregate",
)
def q_q_segment_balance_profile(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total_balance"),
        F.sum((F.col("c_acctbal") < 0).cast("long")).alias("n_negative"),
    )


@stage(
    "ts_ring_slot_utilization",
    f"""
    WITH pts AS ({PTS})
    SELECT metric,
           CAST(ts // 86400 AS BIGINT) AS day,
           count(DISTINCT ts // 3600) AS hours_covered,
           round(count(DISTINCT ts // 3600) / 24.0 * 1000000) / 1000000
             AS coverage
    FROM pts GROUP BY 1, 2
    """,
    "ring slot utilization (the reference's fixed-size ring files make "
    "this a header read; here it is one distinct-aggregate): per "
    "metric-day, how many of the 24 hour slots hold at least one "
    "point, and the coverage ratio a retention planner sizes archives "
    "by",
)
def q_ts_ring_slot_utilization(spark, sf_dir):
    pts = _points(spark, sf_dir)
    hours = F.countDistinct((F.col("ts") / 3600).cast("long"))
    return pts.groupBy(
        "metric", (F.col("ts") / 86400).cast("long").alias("day")
    ).agg(
        hours.alias("hours_covered"),
        (F.round(hours / 24.0 * 1000000) / 1000000).alias("coverage"),
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
    "dedup_bloom_fpr_audit": ("n_members", "n_member_hits", "n_novel", "n_false_pos",),
    "q_events_late_watermark_audit": ("late_10m", "late_1h",),
    "q_segment_balance_profile": ("n_negative",),
}
apply_bigint_casts(STAGED_R9, _BIGINT_CASTS)
