"""Registry core: ``QuerySpec``, the one ``QUERIES`` dict, the one
``register`` decorator, and the fixture and oracle fragments that rows of
more than one family share.

A row is a Spark implementation ``(spark, sf_dir) → DataFrame`` paired
with an ANSI-SQL oracle string DuckDB runs on the same parquet. Column
names AND value representations match exactly — the driver
hash-compares them.

Cross-engine float discipline:
- raw passthrough doubles are left untouched (bit-identical in parquet);
- money-style sums go through DECIMAL so the arithmetic is exact integer
  math in both engines, then CAST to DOUBLE (identical conversion);
- small-group avgs / cosines are rounded to 6dp (fp noise ≪ 1e-10);
- floor() before any bucketing division (DuckDB CASTs DOUBLE->BIGINT by
  rounding, Spark truncates), and round scale>2 DECIMALs before the
  DOUBLE cast;
- all hashing is the portable md5-prefix-as-BIGINT (verified bit-equal).

This module is a leaf of the registry: it imports no family module, and
every family module imports only from here.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.functions.text import STOPWORDS, marker_regex
from kenshin_spark.io import load_table
from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.oracle_types import cast_bigint_cols
from kenshin_spark.sources.line_protocol import events_as_points
from kenshin_spark.store import ParquetTieredStore


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver runs the weaker rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

# Oracle result-type normalization (VERDICT r8 "What's wrong" #1). DuckDB
# types uncast sum()/integer-// results HUGEINT, which its pandas
# conversion renders float64 while the Spark twin hands int64 — equal
# values, different driver hash. The columns below were flagged by
# tools/lint_oracles.py; ``register`` wraps each listed oracle in a
# SELECT * REPLACE (CAST(col AS BIGINT) AS col) shell (lossless: all are
# counts/ppm far below 2**63). The lint runs as tests/test_oracle_types.py
# so no new HUGEINT oracle can register.
_BIGINT_CASTS = {
    "q_zero_discount_share": ("n_zero", "zero_ppm",),
    "dedup_bloom_fpr_audit": ("n_members", "n_member_hits", "n_novel", "n_false_pos",),
    "q_events_late_watermark_audit": ("late_10m", "late_1h",),
    "q_segment_balance_profile": ("n_negative",),
    # DuckDB integer `/` returns DOUBLE; the Spark twin is long (the
    # division is exact — every n is a multiple of 8). Caught by the
    # registry gate's dtype-straddle check (the HUGEINT class's
    # int-vs-float sibling).
    "mm_wav_square_rms": ("duration_ms",),
    "sketch_bloom_sizing_curve": ("n_novel", "n_false_pos",),
    "text_quality_reason_mix": ("n_keep", "n_len_fail", "n_mean_fail", "n_stop_fail", "n_alpha_fail",),
    "mm_png_pixel_sum": ("pixel_sum",),
    "q_events_error_budget_burn": ("n_errors", "burn_scaled",),
    "sketch_cms_merge_days": ("merged_c",),
    "sketch_kmv_overlap_types": ("n_both",),
    "sketch_kmv_overlap_days": ("n_both",),
    "mm_resize_nearest_sum": ("pixel_sum",),
    "text_vocab_coverage_curve": ("n_occurrences",),
    "text_length_gini": ("total_chars",),
    "emb_dim_sign_profile": ("n_pos", "n_neg", "n_zero",),
    "q_supplier_balance_outliers": ("n_low_outliers", "n_high_outliers",),
    "q_region_revenue_share": ("share_ppm",),
    "ts_slot_alignment_audit": ("n_aligned", "n_unaligned",),
    "text_hapax_by_source": ("n_hapax",),
    "sketch_histogram_tail_mass": ("n_values", "n_overflow",),
}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator adding the row *name* to ``QUERIES``. A name that is
    already registered raises ``ValueError`` and keeps the existing row."""
    if name in _BIGINT_CASTS:
        oracle = cast_bigint_cols(oracle, _BIGINT_CASTS[name])

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _doc_ids(spark, sf_dir, modulo=50):
    return load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % modulo == 0
    )


#: DuckDB replay of the seeded 60-bit md5 position hash
_BLOOM_POS = (
    "CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || '|' || fp), 1, 15)) "
    "AS BIGINT) % {mbits}"
)


def _bloom_oracle(m_words: int, k: int) -> str:
    mbits = m_words * 62
    pos_union = "\nUNION ALL\n".join(
        f"SELECT fp, {_BLOOM_POS.format(i=i, mbits=mbits)} AS pos FROM fps"
        for i in range(k)
    )
    bpos_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, fp, {_BLOOM_POS.format(i=i, mbits=mbits)} AS pos "
        "FROM batch"
        for i in range(k)
    )
    return f"""
    WITH corpus AS (
      SELECT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0
    ),
    fps AS (SELECT DISTINCT fp FROM corpus),
    pos AS ({pos_union}),
    bitmap AS (
      SELECT pos // 62 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
      FROM pos GROUP BY 1
    ),
    batch AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 0 THEN text || ' novel'
                      ELSE text END) AS fp
      FROM documents WHERE doc_id % 10 IN (0, 1)
    ),
    bpos AS ({bpos_union}),
    probed AS (
      SELECT p.doc_id,
             count(*) = sum(CASE WHEN
               (bm.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 62 AS INT)))
               <> 0 THEN 1 ELSE 0 END) AS bloom_hit
      FROM bpos p LEFT JOIN bitmap bm ON bm.word = p.pos // 62
      GROUP BY p.doc_id
    ),
    cfps AS (SELECT DISTINCT fp FROM corpus)
    SELECT b.doc_id, pr.bloom_hit,
           b.fp IN (SELECT fp FROM cfps) AS exact_dup
    FROM batch b JOIN probed pr ON pr.doc_id = b.doc_id
    """


#: events → the engine's point model (FIXTURES.md §6), DuckDB side
PTS = """
  SELECT event_type AS metric,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts,
         value,
         event_id AS arrival
  FROM events
"""

#: scalar "now" = newest event, DuckDB side
NOW_T = "SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS now FROM events"

#: W5 aligned last-write-wins at 60 s, DuckDB side
LWW60 = """
  SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
  FROM pts GROUP BY 1, 2
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_as_points(load_table(spark, sf_dir, "events"))


def _now(points: DataFrame) -> int:
    return int(points.agg(F.max("ts")).collect()[0][0])


#: the engine schema the time-series rows (and `__spark_entry__.entry`) use
TS_SCHEMA = Schema.from_strings(
    "events", ".*", "60s:1d,300s:7d,3600s:90d", xff=20.0, agg_method="average",
    cache_retention=600,
)

ROUTING_SCHEMAS = SchemaSet(
    (
        Schema.from_strings("errors", "^error", "10s:12h,60s:2d", xff=20.0,
                            agg_method="sum"),
        Schema.from_strings("conversion", "^(purchase|signup)$", "60s:7d",
                            xff=20.0, agg_method="sum"),
        Schema.from_strings("traffic", "^(click|view)", "10s:1d,300s:30d",
                            xff=20.0, agg_method="average"),
    )
)


def _sql_query(sql: str, tables: tuple[str, ...]):
    """Build a queries() callable that registers the needed views and runs
    the SAME SQL text Catalyst and DuckDB both accept."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in tables:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        return spark.sql(sql)

    return fn


_STOP_RE = marker_regex(STOPWORDS)

#: DuckDB twin of the portable md5-prefix 60-bit hash
_DH = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

_SHINGLES = r"""
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> array_to_string(toks[i : i + 2], ' ')
             )) AS shingle
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
      )
    )
"""


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"min({_DH.format(x=chr(39) + str(s) + '|' + chr(39) + ' || shingle')}) AS h{s}"
        for s in range(8)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(CAST(h{2*b} AS VARCHAR) || ',' || "
        f"CAST(h{2*b+1} AS VARCHAR)) AS band_key FROM sig"
        for b in range(4)
    )
    return f"""
    WITH sh AS ({_SHINGLES}),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6)
             AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6) >= 0.5
    """


#: nearest-centroid assignment CTEs — shared by emb_nearest_centroid and
#: the SemDeDup oracle (dedup_semantic)
_NN_CTES = """
    c AS (
      SELECT label AS pred_label, t.dim,
             round(avg(embedding[t.dim + 1]), 6) AS cv
      FROM embeddings, range(64) t(dim) GROUP BY 1, 2
    ),
    carr AS (
      SELECT pred_label, list(cv ORDER BY dim) AS cvec
      FROM c GROUP BY pred_label
    ),
    scored AS (
      SELECT e.vec_id, e.label, ca.pred_label,
             list_dot_product(e.embedding::DOUBLE[], ca.cvec) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(ca.cvec, ca.cvec))) AS cos
      FROM embeddings e CROSS JOIN carr ca
    ),
    best AS (
      SELECT vec_id, label, pred_label, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, pred_label) AS rn
      FROM scored
    )
"""


def _duck_plane(p: list[float]) -> str:
    # %.17e keeps DuckDB literals DOUBLE-typed: plain decimals parse as
    # DECIMAL first, and DECIMAL -> DOUBLE is NOT value-preserving
    # (measured ~12% off-by-ULP). Exponent literals parse as DOUBLE.
    return "[" + ",".join(f"{x:.17e}" for x in p) + "]::DOUBLE[]"


def _duck_band_sigs(vec: str, bands: int, r: int, dim: int = 64) -> str:
    """DuckDB twin of similarity.band_signatures_udf: a list of ``bands``
    band signatures (list is 1-indexed in DuckDB)."""
    from kenshin_spark.similarity import _hyperplane

    planes = _hyperplane(dim, bands * r)
    exprs = []
    for b in range(bands):
        bits = [
            f"(CASE WHEN list_dot_product({vec}::DOUBLE[], "
            f"{_duck_plane(planes[b * r + i])}) >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(r)
        ]
        exprs.append(" + ".join(bits))
    return "[" + ", ".join(exprs) + "]"


#: hourly last-write-wins tier, DuckDB side (render queries' coarse grid)
LWW3600 = """
  SELECT metric, ts - ts % 3600 AS ts, arg_max(value, arrival) AS value
  FROM pts GROUP BY 1, 2
"""


def _grid60(spark, sf_dir):
    return last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")


def _grid3600(spark, sf_dir):
    return last_write_wins(_points(spark, sf_dir), 3600, arrival_col="arrival")


#: 2024-01-08 UTC — the one-week event window most store rows ingest
#: (bounds the scratch store at 7 day partitions at every scale factor)
CUT = 1704672000

#: shared oracle prefix: raw points, the week window, and its 60 s LWW
#: grid (t0 = exactly what the store rows upsert)
_W = f"""pts AS ({PTS}),
    ptsw AS (SELECT * FROM pts WHERE ts < {CUT}),
    t0 AS (SELECT metric, ts - ts % 60 AS ts,
                  arg_max(value, arrival) AS value
           FROM ptsw GROUP BY 1, 2)"""

#: all-tiers-daily schema, max agg (bit-exact across engines)
_BANK = Schema.from_strings(
    "bank", ".*", "60s:90d,300s:180d,3600s:366d", xff=20.0, agg_method="max",
    cache_retention=600,
)


def _workdir(sf_dir: str, name: str) -> str:
    base = os.path.join(
        tempfile.gettempdir(),
        "kenshin_spark_r8_rows",
        os.path.basename(os.path.normpath(sf_dir)),
        name,
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    return base


def _week_slots(spark, sf_dir):
    """The week's 60 s LWW grid — the store rows' canonical content."""
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    return last_write_wins(pts, 60, arrival_col="arrival")


def _store(spark, sf_dir, name, schema=_BANK):
    return ParquetTieredStore(
        spark, schema, os.path.join(_workdir(sf_dir, name), "store")
    )


#: DuckDB grid fragment: metrics x [roundup(f), roundup(u)) @ step,
#: left-joined against a tier CTE named `tier` — mirror of grid_fill
def _grid_sql(f_expr: str, u_expr: str, step: int,
              metrics_sql: str = "SELECT DISTINCT event_type AS metric "
                                 "FROM events") -> str:
    up = "CAST(floor(({x} + " + str(step - 1) + f") / {step}) AS BIGINT) * {step}"
    f_r, u_r = up.format(x=f_expr), up.format(x=u_expr)
    return f"""
    grid AS (
      SELECT m.metric, g.ts
      FROM ({metrics_sql}) m
      CROSS JOIN (
        SELECT unnest(generate_series({f_r}, {u_r} - {step}, {step})) AS ts
        FROM now_t
      ) g
    )
    SELECT grid.metric, grid.ts, tier.value
    FROM grid LEFT JOIN tier ON tier.metric = grid.metric
                            AND tier.ts = grid.ts"""


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


def _t0(spark, sf_dir):
    return last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
