"""Corpus-pipeline rows (``pipeline_``): curation, decontamination,
source and temperature mixtures, sequence packing, leakage-safe splits,
token budgets, and the composed ingest job's triage and dedup funnel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.dedup import minhash_lsh_pairs
from kenshin_spark.functions.text import token_count
from kenshin_spark.io import load_table
from kenshin_spark.queries._common import (
    _DH,
    _STOP_RE,
    _incremental_pairs_sql,
    _minhash_oracle,
    _sql_query,
    register,
)


def _curation_oracle() -> str:
    # the full pipeline, one SQL program: quality rules → MinHash pairs on
    # the kept set → connected components → drop non-canonical members →
    # deterministic hash sample → per-source stats
    mins = ", ".join(
        f"min({_DH.format(x=chr(39) + str(s) + '|' + chr(39) + ' || shingle')}) AS h{s}"
        for s in range(8)
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(CAST(h{2*b} AS VARCHAR) || ',' || "
        f"CAST(h{2*b+1} AS VARCHAR)) AS band_key FROM sig"
        for b in range(4)
    )
    ntok = r"len(string_split_regex(trim(text), '\s+'))"
    nalpha = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
    return rf"""
    WITH RECURSIVE kept AS (
      SELECT doc_id, text, source FROM documents
      WHERE {ntok} BETWEEN 25 AND 100000
        AND length(text) >= 3 * {ntok} AND length(text) <= 10 * {ntok}
        AND len(regexp_extract_all(lower(text), '{_STOP_RE}')) >= 2
        AND {nalpha} * 50 >= length(text) * 41
    ),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len(toks) - 2),
                 i -> array_to_string(toks[i : i + 2], ' ')
               )) AS shingle
        FROM (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM kept
        )
      )
    ),
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
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6)
            >= 0.5
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
    dropped AS (SELECT node AS doc_id FROM cc WHERE node <> cluster_id),
    curated AS (
      SELECT k.* FROM kept k
      WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)
        AND ('0x' || substr(md5('ksp|' || CAST(k.doc_id AS VARCHAR)), 1, 15))
              ::BIGINT % 1000000 < 500000
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum({ntok}) AS BIGINT) AS total_tokens
    FROM curated GROUP BY source
    """


@register(
    "pipeline_corpus_curation",
    _curation_oracle(),
    "the capstone training-data pipeline, END-TO-END in one plan: Gopher "
    "quality rules → MinHash-LSH pairs on the kept set → connected "
    "components → drop non-canonical cluster members → 50% deterministic "
    "hash sample → per-source doc/token stats. Every stage is the same "
    "oracled operator the standalone queries use — the oracle replays "
    "the whole program in SQL, recursion included",
)
def q_pipeline_corpus_curation(spark, sf_dir):
    from kenshin_spark.dedup import canonical_survivors, minhash_lsh_pairs
    from kenshin_spark.functions.sampling import hash_sample
    from kenshin_spark.functions.text import quality_verdict, token_count

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.where(quality_verdict("text")["keep"]).select(
        "doc_id", "text", "source"
    )
    pairs = minhash_lsh_pairs(kept, threshold=0.5)
    dropped = (
        canonical_survivors(pairs).where(~F.col("keep")).select("doc_id")
    )
    curated = hash_sample(
        kept.join(dropped, "doc_id", "left_anti"), 0.5, "doc_id"
    )
    return curated.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
    )


_BENCH_BUCKET = (
    "('0x' || substr(md5('bench|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    " % 1000000"
)


@register(
    "pipeline_decontaminate",
    rf"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len(toks) - 3),
                 i -> array_to_string(toks[i : i + 3], ' ')
               )) AS shingle
        FROM (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents
        )
      )
    ),
    bench_ids AS (
      SELECT doc_id FROM documents WHERE {_BENCH_BUCKET} < 50000
    ),
    bench_sh AS (
      SELECT DISTINCT shingle FROM sh JOIN bench_ids USING (doc_id)
    )
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
    FROM sh s JOIN bench_sh USING (shingle)
    WHERE s.doc_id NOT IN (SELECT doc_id FROM bench_ids)
    GROUP BY s.doc_id
    """,
    "benchmark decontamination (GPT-3 appendix-C style): flag corpus docs "
    "sharing any word 4-gram with a 5% held-out 'benchmark' split. The "
    "benchmark shingle set broadcasts; the corpus side is a map-side "
    "semi-join + doc-keyed count — no corpus shuffle",
)
def q_pipeline_decontaminate(spark, sf_dir):
    from kenshin_spark.functions.sampling import sample_bucket
    from kenshin_spark.pipeline import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    is_bench = sample_bucket("doc_id", "bench") < 50000
    return decontaminate(docs.where(~is_bench), docs.where(is_bench), n=4)


@register(
    "pipeline_source_mixture",
    """
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
    m AS (SELECT min(cnt) AS mn FROM c)
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
    FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
    WHERE (('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
             % 1000000) * c.cnt
          < m.mn * 1000000
    GROUP BY d.lang
    """,
    "corpus-mixture rebalancing: downsample every language to the "
    "smallest language's size (the corpus is ~3x en-heavy) with the "
    "exact-integer hash rule bucket*cnt < min*DEN — membership is a pure "
    "function of the row, the mixture aggregates broadcast, the corpus "
    "never shuffles",
)
def q_pipeline_source_mixture(spark, sf_dir):
    from kenshin_spark.pipeline import rebalance_to_min

    docs = load_table(spark, sf_dir, "documents")
    kept = rebalance_to_min(docs, "lang", "doc_id")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@register(
    "pipeline_sequence_packing",
    r"""
    WITH base AS (
      SELECT doc_id,
             ('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS h,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, h % 8 AS shard, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY h % 8 ORDER BY h, doc_id
               ROWS UNBOUNDED PRECEDING
             ) - n_tokens AS start_tok
      FROM base
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(start_tok // 2048 AS BIGINT) AS seq_in_shard,
           CAST(start_tok % 2048 AS BIGINT) AS seq_offset
    FROM c
    """,
    "training-sequence packing (concatenate-then-chunk): deterministic "
    "md5 shard + shuffle order, per-shard window cumsum → every doc's "
    "(sequence, offset) position in fixed 2048-token training sequences. "
    "Pure integer/md5 arithmetic, window co-partitioned with the shard "
    "(no global sort) — the oracle replays assignment exactly",
)
def q_pipeline_sequence_packing(spark, sf_dir):
    from kenshin_spark.pipeline import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=2048, n_shards=8)


@register(
    "pipeline_quality_report",
    rf"""
    WITH f AS (
      SELECT doc_id, source,
             length(text) AS n_chars,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             len(regexp_extract_all(lower(text), '{_STOP_RE}')) AS n_stopwords,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
      FROM documents
    ),
    r AS (
      SELECT source, n_tokens,
             (n_tokens >= 25 AND n_tokens <= 100000
              AND n_chars >= 3 * n_tokens AND n_chars <= 10 * n_tokens
              AND n_stopwords >= 2
              AND n_alpha * 50 >= n_chars * 41) AS keep
      FROM f
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           round(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS keep_rate
    FROM r GROUP BY source
    """,
    "the curation dashboard: per-source doc/token counts, Gopher-rule "
    "keep counts and keep rate — what a data-engineering team reviews "
    "before committing a training mix. Row-local rules + one "
    "partial-agg shuffle keyed by source; all-integer rule arithmetic",
)
def q_pipeline_quality_report(spark, sf_dir):
    from kenshin_spark.functions.text import quality_verdict, token_count

    docs = load_table(spark, sf_dir, "documents")
    keep = quality_verdict("text")["keep"]
    base = docs.select(
        "source",
        keep.alias("_keep"),
        token_count("text").cast("long").alias("_tok"),
    )
    kept1 = F.when(F.col("_keep"), 1).otherwise(0)
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept1).alias("n_kept"),
        F.sum("_tok").alias("n_tokens"),
        F.sum(F.when(F.col("_keep"), F.col("_tok")).otherwise(0)).alias(
            "kept_tokens"
        ),
        F.round(F.sum(kept1) * 1.0 / F.count(F.lit(1)), 6).alias("keep_rate"),
    )


def _leakage_split_oracle() -> str:
    # Replays the full chain in SQL: MinHash-LSH pairs -> connected
    # components (recursive reachability, min label = the component
    # minimum connected_components returns) -> md5 split bucket on the cluster
    # representative (the sampling module's SQL twin), unpaired docs
    # falling through to their own id.
    return f"""
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
    cc AS (SELECT node AS doc_id, min(lbl) AS rep FROM reach GROUP BY node)
    SELECT d.doc_id,
           CASE WHEN ('0x' || substr(md5('split|' ||
                  CAST(coalesce(cc.rep, d.doc_id) AS VARCHAR)), 1, 15))::BIGINT
                  % 1000000 < 100000
                THEN 'eval' ELSE 'train' END AS split
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    """


@register(
    "pipeline_leakage_split",
    _leakage_split_oracle(),
    "leakage-safe train/eval split: documents are bucketed by their "
    "duplicate-CLUSTER representative (connected components over the "
    "MinHash-LSH pair graph), so a near-dup can never straddle the "
    "boundary; unpaired docs hash on their own id. Only the label table "
    "(<= |paired docs|) shuffles — the corpus takes one AQE-sized left "
    "join. The oracle replays pairs, components, and the md5 bucket",
)
def q_pipeline_leakage_split(spark, sf_dir):
    from kenshin_spark.pipeline import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return leakage_safe_split(docs, pairs, eval_rate=0.1, seed="split").select(
        "doc_id", "split"
    )


TOKEN_BUDGET_SQL = r"""
WITH t AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
),
s AS (
  SELECT source, count(*) AS n_docs, sum(n_tok) AS toks
  FROM t GROUP BY source
),
tot AS (SELECT sum(toks) AS total, count(*) AS n_sources FROM s)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(toks AS BIGINT) AS n_tokens,
       round(CAST(toks AS DOUBLE) / total, 6) AS token_share,
       round(CAST(toks * n_sources AS DOUBLE) / total, 6)
         AS vs_uniform_target
FROM s, tot
"""

TOKEN_BUDGET_SPARK_SQL = r"""
WITH t AS (
  SELECT source,
         size(filter(split(trim(text), '\\s+'), x -> x <> '')) AS n_tok
  FROM documents
),
s AS (
  SELECT source, count(*) AS n_docs, sum(n_tok) AS toks
  FROM t GROUP BY source
),
tot AS (SELECT sum(toks) AS total, count(*) AS n_sources FROM s)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(toks AS BIGINT) AS n_tokens,
       round(CAST(toks AS DOUBLE) / total, 6) AS token_share,
       round(CAST(toks * n_sources AS DOUBLE) / total, 6)
         AS vs_uniform_target
FROM s, tot
"""


@register(
    "pipeline_token_budget",
    TOKEN_BUDGET_SQL,
    "token-budget allocation audit: whitespace-token counts per source, "
    "each source's share of the corpus, and its over/under-sampling "
    "factor against a uniform mixture target — integer-exact counts, "
    "the two ratios rounded 6dp; the report that drives source "
    "up/down-weighting before training",
)
def q_pipeline_token_budget(spark, sf_dir):
    return _sql_query(TOKEN_BUDGET_SPARK_SQL, ("documents",))(spark, sf_dir)


LENGTH_CUT_SQL = """
WITH cuts AS (
  SELECT 50 AS min_chars UNION ALL SELECT 100 UNION ALL
  SELECT 200 UNION ALL SELECT 400
)
SELECT CAST(min_chars AS BIGINT) AS min_chars,
       CAST(sum(CASE WHEN n_chars >= min_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS surviving_docs,
       CAST(sum(CASE WHEN n_chars >= min_chars THEN n_chars ELSE 0 END)
            AS BIGINT) AS surviving_chars,
       round(CAST(sum(CASE WHEN n_chars >= min_chars THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS doc_survival_rate
FROM documents, cuts
GROUP BY min_chars
"""


@register(
    "pipeline_length_cut_impact",
    LENGTH_CUT_SQL,
    "what-if audit for the minimum-length filter: surviving docs/chars "
    "and survival rate at four candidate cuts in one pass (the corpus "
    "crosses a 4-row literal cut table — broadcast, never the reverse) "
    "— how the cleaning stage picks its threshold",
)
def q_pipeline_length_cut_impact(spark, sf_dir):
    return _sql_query(LENGTH_CUT_SQL, ("documents",))(spark, sf_dir)


_SWEEP_SHINGLES = r"""
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

JACCARD_SWEEP_SQL = f"""
WITH sh AS ({_SWEEP_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sims AS (
  SELECT round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6) AS j
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
),
cuts AS (
  SELECT 0.2 AS t UNION ALL SELECT 0.4 UNION ALL
  SELECT 0.6 UNION ALL SELECT 0.8
)
SELECT CAST(round(t * 100) AS BIGINT) AS threshold_pct,
       CAST(sum(CASE WHEN j >= t THEN 1 ELSE 0 END) AS BIGINT)
         AS surviving_pairs
FROM sims, cuts GROUP BY 1
"""


@register(
    "pipeline_jaccard_sweep",
    JACCARD_SWEEP_SQL,
    "dedup-threshold what-if: candidate pairs surviving the n-gram "
    "Jaccard cut at 0.2/0.4/0.6/0.8 in one pass over the oracled "
    "dedup_ngram_jaccard pair machinery — 6dp-rounded similarities "
    "against exact-decimal cuts, the tuning table behind the "
    "production threshold choice; the inverted-index join stays "
    "bounded by shared-shingle frequency, never all-pairs",
)
def q_pipeline_jaccard_sweep(spark, sf_dir):
    from kenshin_spark.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.0
    )
    cuts = pairs.sparkSession.createDataFrame(
        [(0.2,), (0.4,), (0.6,), (0.8,)], "t DOUBLE"
    )
    return (
        pairs.crossJoin(F.broadcast(cuts))
        .groupBy(
            F.round(F.col("t") * 100).cast("bigint").alias("threshold_pct")
        )
        .agg(
            F.sum(F.when(F.col("jaccard") >= F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("surviving_pairs")
        )
    )


def _quality_length_sql() -> str:
    return rf"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(lower(text), '{_STOP_RE}')) AS n_stopwords,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
  FROM documents
),
r AS (
  SELECT doc_id, n_chars,
         n_tokens >= 25 AND n_tokens <= 100000
         AND n_chars >= 3 * n_tokens AND n_chars <= 10 * n_tokens
         AND n_stopwords >= 2
         AND n_alpha * 50 >= n_chars * 41 AS keep
  FROM f
)
SELECT CASE WHEN n_chars < 100 THEN 'a_under_100'
            WHEN n_chars < 200 THEN 'b_100_200'
            WHEN n_chars < 400 THEN 'c_200_400'
            ELSE 'd_over_400' END AS length_band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS keep_rate
FROM r GROUP BY 1
"""


@register(
    "pipeline_quality_vs_length",
    _quality_length_sql(),
    "filter-bias audit: the Gopher-style keep decision (the oracled "
    "text_quality_filter rules — all integer cross-multiplications) "
    "cross-tabbed against document length bands — does the quality "
    "gate systematically drop short docs; integer band edges and "
    "counts, one rounded division per band",
)
def q_pipeline_quality_vs_length(spark, sf_dir):
    from kenshin_spark.functions.text import quality_verdict

    docs = load_table(spark, sf_dir, "documents")
    cols = quality_verdict("text")
    keep = cols["keep"]
    band = (
        F.when(F.length("text") < 100, "a_under_100")
        .when(F.length("text") < 200, "b_100_200")
        .when(F.length("text") < 400, "c_200_400")
        .otherwise("d_over_400")
    )
    kept = F.when(keep, 1).otherwise(0)
    return (
        docs.select(band.alias("length_band"), kept.alias("kept"))
        .groupBy("length_band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.round(F.sum("kept").cast("double") / F.count("*"), 6)
            .alias("keep_rate"),
        )
    )


PACK_WASTE_SQL = r"""
WITH t AS (
  SELECT len(list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
),
sizes AS (
  SELECT 512 AS chunk UNION ALL SELECT 1024 UNION ALL SELECT 2048
)
SELECT CAST(chunk AS BIGINT) AS chunk_size,
       CAST(sum(CAST(floor((n_tok + chunk - 1) / chunk) AS BIGINT))
            AS BIGINT) AS n_chunks,
       CAST(sum(CAST(floor((n_tok + chunk - 1) / chunk) AS BIGINT) * chunk
                - n_tok) AS BIGINT) AS padding_tokens,
       round(CAST(sum(CAST(floor((n_tok + chunk - 1) / chunk) AS BIGINT)
                      * chunk - n_tok) AS DOUBLE)
             / sum(CAST(floor((n_tok + chunk - 1) / chunk) AS BIGINT)
                   * chunk), 6) AS waste_rate
FROM t, sizes GROUP BY chunk
"""

PACK_WASTE_SPARK_SQL = PACK_WASTE_SQL.replace(
    "len(list_filter(string_split_regex(trim(text), '\\s+'),\n"
    "                         x -> x <> ''))",
    "size(filter(split(trim(text), '\\\\s+'), x -> x <> ''))",
)


@register(
    "pipeline_packing_waste",
    PACK_WASTE_SQL,
    "padding-waste what-if for document-isolated packing: chunks and "
    "padding tokens at 512/1024/2048-token sequence lengths in one "
    "pass (ceil division floor()ed before the cast — the DuckDB "
    "rounding-cast trap) — the document-boundary-respecting "
    "counterfactual to pipeline_sequence_packing's concat-then-chunk",
)
def q_pipeline_packing_waste(spark, sf_dir):
    return _sql_query(PACK_WASTE_SPARK_SQL, ("documents",))(spark, sf_dir)


@register(
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


@register(
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


@register(
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
