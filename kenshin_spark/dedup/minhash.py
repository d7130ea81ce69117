"""MinHash + LSH near-duplicate detection — shingle → minhash → band →
bucket-join, expressed entirely with built-in JVM functions.

Pipeline (classic Broder/LSH, as used by every large-scale dedup system):

1. shingles: distinct word 3-grams per document;
2. k permutations approximated by seeded md5: ``h_s(x) = int(md5(s||x))``
   (portable — the DuckDB oracle computes the identical hash);
3. signature: ``sig[s] = min_x h_s(x)`` — a single groupBy with k ``min``
   aggregates (ONE shuffle for all k);
4. bands: b bands of r rows, band key = md5 of the slice; candidate pairs
   share a (band_idx, key) bucket — the self-join is on the bucket key, so
   its cost is Σ|bucket|², not n²;
5. verify: true Jaccard over shingle sets for candidates only.

At 100 TB: the shingle explode is map-local; the signature shuffle is keyed
by doc; the bucket join is the only quadratic-risk step and is bounded by
band selectivity (tune b, r against the similarity threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from kenshin_spark.session import pin

N_HASHES = 8
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def shingles(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingles per doc: ``(doc_id, shingle)``."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # array_distinct inside the row replaces a global distinct(): doc_id is
    # constant per row, so per-row dedup is equivalent — and one full
    # shuffle of the shingle stream disappears. Docs shorter than n tokens
    # have no shingles: the gram count is bounded by slicing the token
    # array to its first max(len-n+1, 0) elements (empty for short docs)
    # and shingling via the (element, index) transform lambda. NOT a CASE
    # around the whole expression — conditional branches are excluded
    # from Spark's runtime subexpression elimination, so a CASE
    # re-evaluates the regex split() per use (measured 4x slower).
    grams = F.array_distinct(
        F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            lambda x, j: F.concat_ws(" ", F.slice(toks, j + 1, n)),
        )
    )
    from kenshin_spark.dedup.fanout import fan_out

    return fan_out(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("shingle")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs ``(doc_a, doc_b, jaccard)`` with true Jaccard ≥
    threshold among LSH band candidates; jaccard rounded to 6dp.

    Each document is ONE row, so the shingle set, the k minhashes, and the
    band keys are all row-local expressions (``array_min(transform(...))``)
    — the explode → groupBy roundtrip that shuffles the whole shingle
    stream disappears. The band self-join shuffles only the narrow
    ``(doc_id, band, band_key)`` rows, and verification broadcasts the
    small candidate-pair set against the per-row shingle arrays
    (``array_intersect``), so the corpus itself is never shuffled at all.
    One templated spark.sql call keeps the wide expression tree to a
    single JVM parse (no per-Column Py4J round-trips).

    ``max_bucket`` is the Σ|bucket|² explosion guard: a bucket of B docs
    (a boilerplate band shared corpus-wide) emits B²/2 candidate pairs
    from that bucket alone — 10^10 pairs at B=10^5; AQE skew-split fixes
    the wall-clock of the join but not its quadratic OUTPUT. With a cap,
    over-cap buckets are excluded from candidate generation (the
    standard production relaxation, same spirit as ``max_df`` stop-
    shingle pruning). Recall note: a pair sharing ONLY over-cap buckets
    is missed — run exact dedup first (identical docs are its job) and
    size the cap at the boilerplate knee, not the tail. Default None =
    complete banding."""
    verify_sql = rf"""
    WITH sharr AS ({_sharr_sql('{d}', n, id_col, text_col)}),
    pa AS (
      SELECT /*+ BROADCAST(c) */ doc_a, doc_b, sh AS sh_a
      FROM sharr JOIN {{c}} c ON doc_id = doc_a
    ),
    pb AS (
      SELECT /*+ BROADCAST(c) */ doc_a, doc_b, sh AS sh_b
      FROM sharr JOIN {{c}} c ON doc_id = doc_b
    ),
    scored AS (
      SELECT pa.doc_a, pa.doc_b,
             round(size(array_intersect(sh_a, sh_b)) /
                   (size(sh_a) + size(sh_b)
                    - size(array_intersect(sh_a, sh_b))), 6) AS jaccard
      FROM pa JOIN pb ON pa.doc_a = pb.doc_a AND pa.doc_b = pb.doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {threshold!r}
    """
    from kenshin_spark.dedup.fanout import fan_out

    spark = docs.sparkSession
    # the candidate set feeds BOTH verify joins; a lazy local checkpoint
    # pins it so banding + the bucket self-join run once per execution
    # instead of once per reference (the broadcast build re-ran the whole
    # candidate generation for pa and pb). Lazy (eager=False) keeps the
    # function's build side effect-free; materialization happens inside
    # the caller's action, and a fresh call builds a fresh RDD (no state
    # carried across executions).
    cand = pin(
        _lsh_candidates(docs, n, k, bands, max_bucket, id_col, text_col),
        eager=False,
    )
    return spark.sql(verify_sql, d=fan_out(docs), c=cand)


def _lsh_candidates(
    docs: DataFrame,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    max_bucket: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs ``(doc_a, doc_b)`` — shingle → minhash → band
    → bucket self-join, BEFORE verification. Exposed separately so the
    bucket self-join's runtime behavior (AQE skew split) is inspectable
    on its own executed plan (tests/test_skew.py); ``minhash_lsh_pairs``
    checkpoints this result and verifies true Jaccard over it."""
    r = k // bands
    mins = ", ".join(
        f"array_min(transform(sh, x -> CAST(conv(substring("
        f"md5(concat('{s}|', x)), 1, 15), 16, 10) AS BIGINT))) AS h{s}"
        for s in range(k)
    )
    keys = ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"CAST(h{b * r + i} AS STRING)" for i in range(r))
        + "))"
        for b in range(bands)
    )
    sql = rf"""
    WITH sharr AS (
      SELECT {id_col} AS doc_id,
             array_distinct(transform(
               slice(split(trim(lower({text_col})), '\\s+'), 1,
                     greatest(
                       size(split(trim(lower({text_col})), '\\s+'))
                         - {n - 1}, 0)),
               (x, j) -> concat_ws(' ',
                 slice(split(trim(lower({text_col})), '\\s+'), j + 1, {n}))
             )) AS sh
      FROM {{d}}
    ),
    band_rows AS (
      -- shingle-less docs (< n tokens) are excluded from banding: their
      -- minhashes are all NULL → band_key = md5(''), which would put
      -- every one of them in a single shared bucket; they can never
      -- verify above threshold. Filtering the GENERATOR OUTPUT is key:
      -- a WHERE size(sh) > 0 on the inner projection inlines the whole
      -- shingle expression into the filter (no CSE across it; measured
      -- ~2x slower), while band_key here is already materialized.
      SELECT * FROM (
        SELECT doc_id, posexplode(array({keys})) AS (band, band_key)
        FROM (SELECT doc_id, {mins} FROM sharr)
      ) WHERE band_key <> md5('')
    ),
    {"kept_bands AS (SELECT band, band_key FROM band_rows "
     "GROUP BY band, band_key HAVING count(*) <= " + str(max_bucket) + "), "
     "banded AS (SELECT br.* FROM band_rows br JOIN kept_bands kb "
     "ON br.band = kb.band AND br.band_key = kb.band_key),"
     if max_bucket is not None else "banded AS (SELECT * FROM band_rows),"}
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b FROM cand
    """
    from kenshin_spark.dedup.fanout import fan_out

    return docs.sparkSession.sql(sql, d=fan_out(docs))


def _sharr_sql(src: str, n: int, id_col: str, text_col: str) -> str:
    """Row-local distinct word-n-gram shingle array (same slice-bounded
    form as minhash_lsh_pairs — empty for docs shorter than n tokens)."""
    return rf"""
      SELECT {id_col} AS doc_id,
             array_distinct(transform(
               slice(split(trim(lower({text_col})), '\\s+'), 1,
                     greatest(
                       size(split(trim(lower({text_col})), '\\s+'))
                         - {n - 1}, 0)),
               (x, j) -> concat_ws(' ',
                 slice(split(trim(lower({text_col})), '\\s+'), j + 1, {n}))
             )) AS sh
      FROM {src}"""


def _mins_sql(k: int) -> str:
    return ", ".join(
        f"array_min(transform(sh, x -> CAST(conv(substring("
        f"md5(concat('{s}|', x)), 1, 15), 16, 10) AS BIGINT))) AS h{s}"
        for s in range(k)
    )


def _keys_sql(k: int, bands: int) -> str:
    r = k // bands
    return ", ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"CAST(h{b * r + i} AS STRING)" for i in range(r))
        + "))"
        for b in range(bands)
    )


def minhash_band_index(
    docs: DataFrame,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, band, band_key)`` — the persistable dedup INDEX.

    At 100 TB you never re-shingle the corpus per batch: compute this
    once, write it partitioned by ``band_key`` prefix, and every
    incoming batch joins against it (``minhash_pairs_against_index``).
    Index size is |corpus| × bands narrow rows — a fraction of the text
    itself."""
    sql = f"""
    WITH sharr AS ({_sharr_sql('{d}', n, id_col, text_col)})
    SELECT * FROM (
      SELECT doc_id, posexplode(array({_keys_sql(k, bands)})) AS (band, band_key)
      FROM (SELECT doc_id, {_mins_sql(k)} FROM sharr)
    ) WHERE band_key <> md5('')
    """
    from kenshin_spark.dedup.fanout import fan_out

    return docs.sparkSession.sql(sql, d=fan_out(docs))


def minhash_pairs_against_index(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index: DataFrame,
    n: int = 3,
    k: int = N_HASHES,
    bands: int = N_BANDS,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental dedup: ``(corpus_id, new_id, jaccard)`` near-dup pairs
    between an incoming batch and an already-indexed corpus.

    The production daily-ingest shape: only the NEW batch is shingled
    and banded (row-local); the corpus contributes its precomputed band
    index to the bucket join, and its text is re-shingled only for the
    candidate docs that actually collide (semi-join bounded). Cost per
    batch: O(|new| + |collisions|), independent of corpus size outside
    the index join.

    ``max_bucket`` guards the index join the same way it guards the
    batch self-join in ``minhash_lsh_pairs``: a corpus-wide boilerplate
    band key accumulates millions of INDEX rows, and every batch doc
    hitting it fans out to all of them. Over-cap index keys are dropped
    from candidate generation (count computed over the index — one
    partial-agg pass on narrow rows)."""
    kept = (
        "kept AS (SELECT band, band_key FROM {ix} "
        f"GROUP BY band, band_key HAVING count(*) <= {max_bucket}), "
        "ib AS (SELECT i.* FROM {ix} i JOIN kept kb "
        "ON i.band = kb.band AND i.band_key = kb.band_key),"
        if max_bucket is not None
        else "ib AS (SELECT * FROM {ix}),"
    )
    cand_sql = f"""
    WITH nsh AS ({_sharr_sql('{nd}', n, id_col, text_col)}),
    nband AS (
      SELECT * FROM (
        SELECT doc_id, posexplode(array({_keys_sql(k, bands)})) AS (band, band_key)
        FROM (SELECT doc_id, {_mins_sql(k)} FROM nsh)
      ) WHERE band_key <> md5('')
    ),
    {kept}
    cand AS (
      SELECT DISTINCT i.doc_id AS corpus_id, nb.doc_id AS new_id
      FROM ib i JOIN nband nb
        ON i.band = nb.band AND i.band_key = nb.band_key
    )
    SELECT corpus_id, new_id FROM cand
    """
    verify_sql = f"""
    WITH nsh AS ({_sharr_sql('{nd}', n, id_col, text_col)}),
    csh AS (
      SELECT * FROM ({_sharr_sql('{cd}', n, id_col, text_col)})
      WHERE doc_id IN (SELECT corpus_id FROM {{c}})
    ),
    pa AS (
      SELECT /*+ BROADCAST(c) */ corpus_id, new_id, sh AS sh_a
      FROM csh JOIN {{c}} c ON doc_id = corpus_id
    ),
    pb AS (
      SELECT /*+ BROADCAST(c) */ corpus_id, new_id, sh AS sh_b
      FROM nsh JOIN {{c}} c ON doc_id = new_id
    ),
    scored AS (
      SELECT pa.corpus_id, pa.new_id,
             round(size(array_intersect(sh_a, sh_b)) /
                   (size(sh_a) + size(sh_b)
                    - size(array_intersect(sh_a, sh_b))), 6) AS jaccard
      FROM pa JOIN pb
        ON pa.corpus_id = pb.corpus_id AND pa.new_id = pb.new_id
    )
    SELECT corpus_id, new_id, jaccard FROM scored WHERE jaccard >= {threshold!r}
    """
    from kenshin_spark.dedup.fanout import fan_out

    spark = new_docs.sparkSession
    # candidate generation (batch shingle+banding x index bucket join) is
    # referenced THREE times downstream (the corpus semi-join, pa, pb) —
    # pin it with a lazy local checkpoint so it runs once per execution
    # (same rationale as minhash_lsh_pairs; candidates are id pairs, tiny
    # next to the text).
    cand = pin(
        spark.sql(cand_sql, nd=fan_out(new_docs), ix=index), eager=False
    )
    return spark.sql(
        verify_sql, nd=fan_out(new_docs), cd=corpus_docs, c=cand
    )
