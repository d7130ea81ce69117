"""Deduplication rows (``dedup_``): exact, MinHash-LSH, n-gram Jaccard,
SimHash, substring, containment, embedding and semantic near-dup pairs,
their clusters, incremental variants, the Bloom membership pre-pass, and
the cross-method agreement audits.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from kenshin_spark.dedup.simhash import N_BITS
from kenshin_spark.io import load_table
from kenshin_spark.queries._common import (
    _DH,
    _NN_CTES,
    _SHINGLES,
    _bloom_oracle,
    _doc_ids,
    _duck_band_sigs,
    _incremental_pairs_sql,
    _minhash_oracle,
    _sql_query,
    register,
)
from kenshin_spark.queries._common import QUERIES as _REG


@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
             AS fingerprint,
           min(doc_id) AS survivor_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    "exact dedup: hash-groupBy on normalized content, smallest id survives",
)
def q_dedup_exact(spark, sf_dir):
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    "MinHash+LSH near-dup: shingle → 8 seeded-md5 minhashes → 4 bands → "
    "bucket join → exact Jaccard verify ≥ 0.5; the oracle recomputes the "
    "identical hashes in SQL",
)
def q_dedup_minhash(spark, sf_dir):
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


def _minhash_incremental_oracle() -> str:
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
      SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS new_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.corpus_id, c.new_id, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.corpus_id
      JOIN sh sb ON sb.doc_id = c.new_id AND sb.shingle = sa.shingle
      GROUP BY c.corpus_id, c.new_id
    )
    SELECT i.corpus_id, i.new_id,
           round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6)
             AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.corpus_id
    JOIN sizes zb ON zb.doc_id = i.new_id
    WHERE round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6) >= 0.5
    """


@register(
    "dedup_minhash_incremental",
    _minhash_incremental_oracle(),
    "incremental dedup — the daily-ingest shape: the corpus (doc_id % 10 "
    "<> 0) contributes its PRECOMPUTED band index; only the new batch "
    "(doc_id % 10 = 0) is shingled and banded, and corpus text is "
    "re-shingled only for colliding candidates (semi-join bounded)",
)
def q_dedup_minhash_incremental(spark, sf_dir):
    from kenshin_spark.dedup.minhash import (
        minhash_band_index,
        minhash_pairs_against_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where("doc_id % 10 = 0")
    corpus = docs.where("doc_id % 10 <> 0")
    return minhash_pairs_against_index(
        new, corpus, minhash_band_index(corpus), threshold=0.5
    )


def _clusters_oracle() -> str:
    # The oracle recomputes the MinHash-LSH pair set, then resolves
    # connected components by recursive label reachability: (node, lbl)
    # holds every label reachable from node along pair edges, so
    # min(lbl) per node is the component minimum — exactly the
    # cluster_id connected_components returns on either of its paths.
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
    cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cc
    """


@register(
    "dedup_clusters",
    _clusters_oracle(),
    "Duplicate clusters: connected components over the MinHash-LSH pair "
    "graph — at every testdata scale that graph is under DRIVER_CC_GATE, "
    "so it is collected and solved by the driver union-find; "
    "cluster_id = min doc_id of the "
    "component. The oracle resolves the same components with a recursive "
    "reachability CTE.",
)
def q_dedup_clusters(spark, sf_dir):
    from kenshin_spark.dedup import duplicate_clusters

    pairs = minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)
    return duplicate_clusters(pairs)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS ({_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6)
             AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE round(i.n_inter * 1.0 / (za.n_sh + zb.n_sh - i.n_inter), 6) >= 0.4
    """,
    "n-gram Jaccard near-dup: exact pairwise Jaccard over word 3-gram "
    "sets via the inverted-index join",
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.4)


def _simhash_oracle() -> str:
    th = _DH.format(x="tok")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(N_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {j})"
        for j in range(N_BITS)
    )
    return rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    hashed AS (SELECT doc_id, {th} AS h FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM bits
    """


@register(
    "dedup_simhash",
    _simhash_oracle(),
    "SimHash 60-bit fingerprints over distinct word tokens — one shuffle, "
    "60 conditional-sum aggregates; oracle reproduces bit-for-bit",
)
def q_dedup_simhash(spark, sf_dir):
    return simhash_fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_embedding_neardup",
    """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) >= 0.4
    """,
    "embedding-cosine near-dup pairs (threshold 0.4 on unit-normalized "
    "synthetic vectors)",
)
def q_dedup_embedding(spark, sf_dir):
    return embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


@register(
    "dedup_semantic",
    f"""
    WITH {_NN_CTES.strip()},
    asg AS (SELECT vec_id, pred_label FROM best WHERE rn = 1),
    e AS (
      SELECT m.vec_id, m.embedding, g.pred_label
      FROM embeddings m JOIN asg g ON m.vec_id = g.vec_id
    )
    SELECT x.pred_label AS cluster, x.vec_id AS vec_a, y.vec_id AS vec_b,
           round(
             list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[])) *
              sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))),
             6) AS cosine
    FROM e x JOIN e y
      ON x.pred_label = y.pred_label AND x.vec_id < y.vec_id
    WHERE round(
             list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[])) *
              sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[]))),
             6) >= 0.4
    """,
    "SemDeDup-style blocked near-dup: nearest-centroid cells bound the "
    "pairwise verify to Σ|cell|² instead of n²; pairs are a strict subset "
    "of dedup_embedding_neardup (cross-cell pairs are the traded recall). "
    "Assignment + verify replay exactly in SQL — cells are deterministic "
    "per-label means, not an RNG k-means",
)
def q_dedup_semantic(spark, sf_dir):
    from kenshin_spark.dedup.semantic import semantic_neardup_pairs

    return semantic_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _lsh_neardup_oracle(bands: int, r: int, threshold: float) -> str:
    collide = " OR ".join(
        f"a.s[{j + 1}] = b.s[{j + 1}]" for j in range(bands)
    )
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {_duck_band_sigs('embedding', bands, r)} AS s
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.embedding AS ea, b.embedding AS eb
      FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
      WHERE {collide}
    )
    SELECT vec_a, vec_b,
           round(
             list_dot_product(ea::DOUBLE[], eb::DOUBLE[]) /
             (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[])) *
              sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[]))),
             6) AS cosine
    FROM cand
    WHERE round(
             list_dot_product(ea::DOUBLE[], eb::DOUBLE[]) /
             (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[])) *
              sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[]))),
             6) >= {threshold!r}
    """


@register(
    "dedup_embedding_lsh",
    _lsh_neardup_oracle(16, 4, 0.4),
    "embedding near-dup at scale: banded hyperplane LSH (16 bands x 4 "
    "planes, OR-amplified) bounds the pair space to Σ|bucket|² per band; "
    "exact cosine verify over candidates (~97% recall of the exact pairs "
    "at sf0.01, subset-of-exact by construction). Oracle recomputes the "
    "identical planes and sign tests in SQL",
)
def q_dedup_embedding_lsh(spark, sf_dir):
    from kenshin_spark.dedup.embedding import embedding_neardup_pairs_lsh

    return embedding_neardup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4,
        bands=16, rows_per_band=4,
    )


@register(
    "dedup_substring_ngram",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             ('0x' || substr(md5(array_to_string(toks[i + 1 : i + 8], ' ')),
                             1, 15))::BIGINT AS gh
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 8)) AS i
        FROM t WHERE len(toks) >= 8
      )
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
    per AS (
      SELECT g.doc_id, count(*) AS dup_grams
      FROM g JOIN dup USING (gh) GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.toks) - 7, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(per.dup_grams, 0) AS BIGINT) AS dup_grams,
           CASE WHEN len(t.toks) >= 8 THEN
             round(CAST(coalesce(per.dup_grams, 0) AS DOUBLE)
                   / (len(t.toks) - 7), 6)
           END AS dup_frac
    FROM t LEFT JOIN per USING (doc_id)
    """,
    "exact substring-level dedup profile (Lee et al. 2022 relaxed to "
    "fixed 8-token windows): per-doc fraction of windows whose exact "
    "text recurs corpus-wide. Windows are row-local JVM expressions "
    "reduced to 60-bit md5 hashes before any shuffle — only 8-byte keys "
    "move, cost linear in total tokens, NO pairwise step",
)
def q_dedup_substring_ngram(spark, sf_dir):
    from kenshin_spark.dedup.substring import duplicated_ngram_profile

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_ngram_profile(docs, w=8, min_count=2)


@register(
    "dedup_substring_top",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, array_to_string(toks[i + 1 : i + 8], ' ') AS gram_text
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 8)) AS i
        FROM t WHERE len(toks) >= 8
      )
    ),
    counts AS (
      SELECT ('0x' || substr(md5(gram_text), 1, 15))::BIGINT AS gh,
             min(gram_text) AS gram_text,
             count(*) AS occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY 1
    )
    SELECT gram_text, occurrences, n_docs
    FROM counts ORDER BY occurrences DESC, gh LIMIT 20
    """,
    "boilerplate audit: the 20 most-repeated exact 8-token windows with "
    "their text recovered — counting runs on hashes, text is pulled back "
    "only for the winners via a broadcast semi-join; ties broken by hash "
    "for cross-engine determinism",
)
def q_dedup_substring_top(spark, sf_dir):
    from kenshin_spark.dedup.substring import top_duplicated_grams

    docs = load_table(spark, sf_dir, "documents")
    return top_duplicated_grams(docs, w=8, k=20)


@register(
    "dedup_containment",
    f"""
    WITH sh AS ({_SHINGLES}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.n_inter * 1.0 / za.n_sh, 6) AS containment
    FROM inter i JOIN sizes za ON za.doc_id = i.doc_a
    WHERE round(i.n_inter * 1.0 / za.n_sh, 6) >= 0.5
    """,
    "directed containment near-dup (|A∩B|/|A| ≥ 0.5): the asymmetric "
    "companion to Jaccard — a copied article inside a longer page "
    "scores containment ≈ 1 where Jaccard dilutes; same inverted-index "
    "shingle join, Σ|bucket|² cost, never all-pairs",
)
def q_dedup_containment(spark, sf_dir):
    from kenshin_spark.dedup.ngram import containment_pairs

    return containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


@register(
    "dedup_substring_spans",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5(array_to_string(toks[i + 1 : i + 8], ' ')),
                             1, 15))::BIGINT AS gh
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 8)) AS i
        FROM t WHERE len(toks) >= 8
      )
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
    pos AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY pos
             ) AS grp
      FROM pos
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) + 7 AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, grp
    """,
    "the actionable output of substring dedup (Lee et al. remove SPANS, "
    "not documents): maximal runs of consecutive duplicated 8-token "
    "windows per doc via the pos - row_number() island trick; a "
    "duplicated region of L tokens yields span_tokens = L exactly",
)
def q_dedup_substring_spans(spark, sf_dir):
    from kenshin_spark.dedup.substring import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, w=8, min_count=2)


@register(
    "dedup_substring_incremental",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             ('0x' || substr(md5(array_to_string(toks[i + 1 : i + 8], ' ')),
                             1, 15))::BIGINT AS gh
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 8)) AS i
        FROM t WHERE len(toks) >= 8
      )
    ),
    idx AS (
      SELECT gh, count(*) AS occ FROM g WHERE doc_id % 10 <> 0 GROUP BY gh
    ),
    bg AS (SELECT * FROM g WHERE doc_id % 10 = 0),
    bocc AS (SELECT gh, count(*) AS bocc FROM bg GROUP BY gh),
    dup AS (
      SELECT gh FROM bocc LEFT JOIN idx USING (gh)
      WHERE bocc + coalesce(occ, 0) >= 2
    ),
    per AS (
      SELECT bg.doc_id, count(*) AS dup_grams
      FROM bg JOIN dup USING (gh) GROUP BY bg.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.toks) - 7, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(per.dup_grams, 0) AS BIGINT) AS dup_grams,
           CASE WHEN len(t.toks) >= 8 THEN
             round(CAST(coalesce(per.dup_grams, 0) AS DOUBLE)
                   / (len(t.toks) - 7), 6)
           END AS dup_frac
    FROM t LEFT JOIN per USING (doc_id)
    WHERE t.doc_id % 10 = 0
    """,
    "incremental substring dedup — the daily-ingest shape next to "
    "dedup_minhash_incremental: only the new batch (doc_id % 10 = 0) is "
    "tokenized; the corpus contributes its persisted (gram-hash, occ) "
    "index through one hash-keyed join. Per-batch cost is O(batch "
    "tokens + collisions); intra-batch repeats still count via "
    "batch_occ + corpus_occ >= 2",
)
def q_dedup_substring_incremental(spark, sf_dir):
    from kenshin_spark.dedup.substring import (
        duplicated_profile_against_index,
        substring_gram_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where("doc_id % 10 = 0")
    corpus = docs.where("doc_id % 10 <> 0")
    return duplicated_profile_against_index(
        new, substring_gram_index(corpus, w=8), w=8, min_count=2
    )


@register(
    "dedup_cluster_stats",
    f"""
    WITH base AS ({_clusters_oracle()}),
    sizes AS (
      SELECT cluster_id, count(*) AS sz FROM base GROUP BY cluster_id
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
    "the dedup dashboard: duplicate-cluster size distribution (how much "
    "of the corpus is 2x, 3x, Nx duplicated) over the same connected "
    "components as dedup_clusters; two tiny aggregations on top of the "
    "CC output — at scale run against the materialized cluster table, "
    "not a recompute",
)
def q_dedup_cluster_stats(spark, sf_dir):
    from kenshin_spark.dedup import duplicate_clusters

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
    cc = duplicate_clusters(pairs)
    return (
        cc.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("_sz"))
        .groupBy(F.col("_sz").cast("long").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


@register(
    "dedup_substring_scrub",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5(array_to_string(toks[i + 1 : i + 8], ' ')),
                             1, 15))::BIGINT AS gh
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(0, len(toks) - 8)) AS i
        FROM t WHERE len(toks) >= 8
      )
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT g.doc_id, g.pos + k AS i
      FROM g JOIN dup USING (gh), generate_series(0, 7) s(k)
    ),
    tokpos AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS i
      FROM t
    ),
    keptagg AS (
      SELECT tp.doc_id,
             count(*) AS kept,
             string_agg(tp.tok, ' ' ORDER BY tp.i) AS clean
      FROM tokpos tp
      LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.i = tp.i
      WHERE cov.i IS NULL
      GROUP BY tp.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(k.kept, 0) AS BIGINT)
             AS removed_tokens,
           CAST(coalesce(k.kept, 0) AS BIGINT) AS kept_tokens,
           md5(coalesce(k.clean, '')) AS clean_md5
    FROM t LEFT JOIN keptagg k USING (doc_id)
    """,
    "the REMOVAL step completing exact substring dedup (Lee et al. "
    "scrub duplicated spans, keep the rest): per doc, every token "
    "covered by a duplicated window is dropped and the survivors "
    "re-joined; the scrub itself is ONE row-local filter expression "
    "over the token array (span starts collected per doc — tiny), and "
    "clean_md5 verifies the edited text byte-exactly without shuffling "
    "text",
)
def q_dedup_substring_scrub(spark, sf_dir):
    from kenshin_spark.dedup.substring import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, w=8, min_count=2)


@register(
    "dedup_cross_neardup",
    """
    WITH bench AS (SELECT * FROM embeddings WHERE vec_id % 20 = 0),
    corpus AS (SELECT * FROM embeddings WHERE vec_id % 20 <> 0)
    SELECT c.vec_id AS left_id, b.vec_id AS right_id,
           round(
             list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) AS cosine
    FROM corpus c, bench b
    WHERE round(
             list_dot_product(c.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
             6) >= 0.4
    """,
    "bipartite embedding decontamination: corpus x benchmark cosine "
    "pairs >= 0.4 — the semantic twin of shingle decontamination "
    "(catches paraphrases n-gram overlap misses). The benchmark side "
    "broadcasts, the numpy fold kernel emits only pairs that may pass "
    "the threshold, and the corpus never shuffles — at 100 TB the only "
    "moving part is the small eval set",
)
def q_dedup_cross_neardup(spark, sf_dir):
    from kenshin_spark.dedup.embedding import cross_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 20 == 0)
    corpus = emb.where(F.col("vec_id") % 20 != 0)
    return cross_neardup_pairs(corpus, bench, threshold=0.4)


SHINGLE_DF_SQL = r"""
WITH sh AS (
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
),
df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle)
SELECT CAST(n_docs AS BIGINT) AS doc_frequency,
       CAST(count(*) AS BIGINT) AS n_shingles
FROM df GROUP BY n_docs
"""

SHINGLE_DF_SPARK_SQL = r"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           explode(transform(
             sequence(0, size(toks) - 3),
             i -> concat_ws(' ', slice(toks, i + 1, 3))
           )) AS shingle
    FROM (
      SELECT doc_id, split(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ) WHERE size(toks) >= 3
  )
),
df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle)
SELECT CAST(n_docs AS BIGINT) AS doc_frequency,
       CAST(count(*) AS BIGINT) AS n_shingles
FROM df GROUP BY n_docs
"""


@register(
    "dedup_shingle_df",
    SHINGLE_DF_SQL,
    "shingle document-frequency histogram: how many 3-gram shingles "
    "appear in exactly k docs — the tuning curve behind MinHash band "
    "thresholds and the decontamination false-positive rate; grams "
    "collapse map-side, the final histogram is domain-sized",
)
def q_dedup_shingle_df(spark, sf_dir):
    return _sql_query(SHINGLE_DF_SPARK_SQL, ("documents",))(spark, sf_dir)


def _incremental_lsh_oracle(bands: int, r: int, threshold: float) -> str:
    collide = " OR ".join(
        f"a.s[{j + 1}] = b.s[{j + 1}]" for j in range(bands)
    )
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding,
             {_duck_band_sigs('embedding', bands, r)} AS s
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS corpus_id, b.vec_id AS new_id,
             a.embedding AS ea, b.embedding AS eb
      FROM sigs a JOIN sigs b
        ON a.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
       AND a.vec_id <> b.vec_id
      WHERE {collide}
    )
    SELECT corpus_id, new_id,
           round(
             list_dot_product(ea::DOUBLE[], eb::DOUBLE[]) /
             (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[])) *
              sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[]))),
             6) AS cosine
    FROM cand
    WHERE round(
             list_dot_product(ea::DOUBLE[], eb::DOUBLE[]) /
             (sqrt(list_dot_product(ea::DOUBLE[], ea::DOUBLE[])) *
              sqrt(list_dot_product(eb::DOUBLE[], eb::DOUBLE[]))),
             6) >= {threshold!r}
    """


@register(
    "dedup_embedding_incremental",
    _incremental_lsh_oracle(16, 4, 0.4),
    "incremental embedding near-dup — the daily-ingest shape for the "
    "vector corpus (mirrors dedup_minhash_incremental): only the new "
    "batch (vec_id % 10 = 0) is hyperplane-signed; the corpus "
    "contributes its persisted (vec_id, band, sig) index through the "
    "bucket join and its vectors only for colliding ids. The oracle "
    "recomputes the identical seeded planes and sign tests in SQL",
)
def q_dedup_embedding_incremental(spark, sf_dir):
    from kenshin_spark.dedup.embedding import (
        cross_neardup_against_index,
        hyperplane_band_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    new = emb.where("vec_id % 10 = 0")
    corpus = emb.where("vec_id % 10 <> 0")
    return cross_neardup_against_index(
        new, corpus, hyperplane_band_index(corpus), threshold=0.4
    )


def _source_dup_oracle() -> str:
    return f"""
    WITH pairs AS ({_minhash_oracle()}),
    dup_docs AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION
      SELECT doc_b FROM pairs
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dd.doc_id) AS BIGINT) AS n_dup_docs
    FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
    GROUP BY d.source
    """


@register(
    "dedup_rate_by_source",
    _source_dup_oracle(),
    "near-duplication rate per source (which crawls are redundant — "
    "the mixture-weighting input): docs appearing in any MinHash-LSH "
    "pair, counted per source; the pair set is the oracled "
    "dedup_minhash_lsh machinery, the rollup is source-domain-sized",
)
def q_dedup_rate_by_source(spark, sf_dir):
    from kenshin_spark.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    # explode BOTH endpoints of each pair in one pass: the former
    # union-of-two-selects referenced the `pairs` subtree twice, so the
    # whole MinHash-LSH pipeline executed twice in one plan (26 scans /
    # 62 exchanges); explode(array(a, b)) + distinct is the same doc-id
    # set from a single evaluation (guide §2.4).
    dup = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        docs.join(dup, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_dup").alias("n_dup_docs"),
        )
    )


PREFIX_DUP_SQL = """
WITH p AS (
  SELECT doc_id, source,
         md5(array_to_string(string_split(trim(lower(text)), ' ')[1:8],
                             ' ')) AS prefix_h
  FROM documents
)
SELECT prefix_h,
       CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM p GROUP BY prefix_h HAVING count(*) > 1
"""

PREFIX_DUP_SPARK_SQL = """
WITH p AS (
  SELECT doc_id, source,
         md5(array_join(slice(split(trim(lower(text)), ' '), 1, 8), ' '))
           AS prefix_h
  FROM documents
)
SELECT prefix_h,
       CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM p GROUP BY prefix_h HAVING count(*) > 1
"""


@register(
    "dedup_prefix_groups",
    PREFIX_DUP_SQL,
    "templated-opening detector: docs sharing their first 8 tokens "
    "(md5 of the joined prefix — only 16-byte keys shuffle), with "
    "source spread per group — catches boilerplate headers that "
    "full-document and windowed dedup both under-weight; the corpus "
    "has no exact duplicates but ~2 dozen shared openings",
)
def q_dedup_prefix_groups(spark, sf_dir):
    return _sql_query(PREFIX_DUP_SPARK_SQL, ("documents",))(spark, sf_dir)


@register(
    "dedup_clusters_star_distributed",
    _clusters_oracle(),
    "DISTRIBUTED connected components: the same MinHash-LSH pair graph "
    "as dedup_clusters, but solved by the alternating "
    "large-star/small-star iteration (Kiveris et al. SoCC'14, "
    "dedup/cluster.py:_star_components; each step one window pass) — "
    "algorithm='star' bypasses the DRIVER_CC_GATE union-find entirely, "
    "so the hash-matched answer is produced by the O(log n)-round "
    "iteration that runs over the gate, not the driver path. Oracle: "
    "the same recursive reachability CTE as dedup_clusters.",
)
def q_dedup_clusters_star_distributed(spark, sf_dir):
    from kenshin_spark.dedup import minhash_lsh_pairs
    from kenshin_spark.dedup.cluster import connected_components

    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )
    cc = connected_components(pairs, algorithm="star")
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        sizes, "cluster_id"
    )


@register(
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


@register(
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


@register(
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


@register(
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


@register(
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


@register(
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


@register(
    "dedup_method_agreement",
    f"""
    WITH mh AS (
      SELECT doc_a, doc_b FROM ({_REG["dedup_minhash_lsh"].oracle}) x
    ),
    ng AS (
      SELECT doc_a, doc_b FROM ({_REG["dedup_ngram_jaccard"].oracle}) y
    )
    SELECT
      CAST((SELECT count(*) FROM mh) AS BIGINT) AS n_minhash,
      CAST((SELECT count(*) FROM ng) AS BIGINT) AS n_ngram,
      CAST((SELECT count(*) FROM mh JOIN ng
            ON ng.doc_a = mh.doc_a AND ng.doc_b = mh.doc_b) AS BIGINT)
        AS n_both
    """,
    "cross-method dedup agreement: the MinHash-LSH near-dup pair set "
    "against the exact n-gram Jaccard pair set — pair counts and the "
    "overlap, the validation number that justifies shipping the "
    "banded approximation at 100 TB; both sides are the registry's "
    "own replayable paths so the agreement itself hash-checks",
)
def q_dedup_method_agreement(spark, sf_dir):
    # one FULL OUTER join on the pair key computes all three counts in a
    # single linear plan: the previous three-aggregate crossJoin embedded
    # the minhash subtree twice and the ngram subtree twice (50 parquet
    # scans / 150 exchanges in the physical plan — each detector pipeline
    # executed twice end-to-end). Both pair sets are key-unique (DISTINCT
    # candidates scored once per pair), so the outer join preserves row
    # multiplicity exactly: count(mh key) = |mh|, count(ng key) = |ng|,
    # count(matched) = |mh ∩ ng| — identical values, one evaluation per
    # detector (guide §2.4: remove duplicated subtrees before tuning).
    mh = _REG["dedup_minhash_lsh"].fn(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    ng = _REG["dedup_ngram_jaccard"].fn(spark, sf_dir).select(
        F.col("doc_a").alias("na"), F.col("doc_b").alias("nb")
    )
    j = mh.join(
        ng,
        (F.col("na") == F.col("doc_a")) & (F.col("nb") == F.col("doc_b")),
        "full_outer",
    )
    return j.agg(
        F.count("doc_a").alias("n_minhash"),
        F.count("na").alias("n_ngram"),
        F.count(
            F.when(F.col("doc_a").isNotNull() & F.col("na").isNotNull(), 1)
        ).alias("n_both"),
    )


@register(
    "dedup_semantic_cosine_agreement",
    f"""
    WITH se AS (
      SELECT vec_a, vec_b FROM ({_REG["dedup_semantic"].oracle}) x
    ),
    co AS (
      SELECT vec_a, vec_b FROM ({_REG["dedup_embedding_neardup"].oracle}) y
    )
    SELECT
      CAST((SELECT count(*) FROM se) AS BIGINT) AS n_semantic,
      CAST((SELECT count(*) FROM co) AS BIGINT) AS n_cosine,
      CAST((SELECT count(*) FROM se JOIN co
            ON co.vec_a = se.vec_a AND co.vec_b = se.vec_b) AS BIGINT)
        AS n_both
    """,
    "SemDeDup-vs-global agreement: the centroid-bucketed semantic "
    "near-dup pair set against the all-pairs cosine set — how much "
    "of the exact answer the cluster-scoped scan keeps (the recall "
    "side of SemDeDup's quadratic-cost dodge); derived from two "
    "replayable registry paths",
)
def q_dedup_semantic_cosine_agreement(spark, sf_dir):
    # same restructure as dedup_method_agreement: one FULL OUTER join on
    # the (unique) pair key + a single aggregate evaluates each pair
    # pipeline ONCE — the three-aggregate crossJoin ran the SemDeDup and
    # the all-pairs cosine subtrees twice each (32 scans / 54 exchanges).
    se = _REG["dedup_semantic"].fn(spark, sf_dir).select("vec_a", "vec_b")
    co = _REG["dedup_embedding_neardup"].fn(spark, sf_dir).select(
        F.col("vec_a").alias("ca"), F.col("vec_b").alias("cb")
    )
    j = se.join(
        co,
        (F.col("ca") == F.col("vec_a")) & (F.col("cb") == F.col("vec_b")),
        "full_outer",
    )
    return j.agg(
        F.count("vec_a").alias("n_semantic"),
        F.count("ca").alias("n_cosine"),
        F.count(
            F.when(F.col("vec_a").isNotNull() & F.col("ca").isNotNull(), 1)
        ).alias("n_both"),
    )


@register(
    "dedup_containment_bands",
    f"""
    SELECT CAST(floor(containment * 10) AS BIGINT) AS band,
           count(*) AS n_pairs
    FROM ({_REG["dedup_containment"].oracle}) c
    GROUP BY 1
    """,
    "containment-score distribution: the asymmetric-overlap pairs "
    "(subset detection — a short doc wholly inside a long one) banded "
    "by score decile — the threshold-tuning histogram; derived from "
    "the registry's replayable containment path so the bands "
    "hash-check",
)
def q_dedup_containment_bands(spark, sf_dir):
    c = _REG["dedup_containment"].fn(spark, sf_dir)
    return (
        c.select(
            F.floor(F.col("containment") * 10).cast("long").alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "dedup_clusters_hybrid_escalation",
    """
    SELECT CAST(doc_id AS BIGINT) AS node,
           CAST((SELECT min(doc_id) FROM documents
                 WHERE doc_id % 10 = 0 AND doc_id < 320)
                AS BIGINT) AS cluster_id
    FROM documents WHERE doc_id % 10 = 0 AND doc_id < 320
    UNION ALL
    SELECT CAST(10000000 + d.doc_id * 10 + u.k AS BIGINT) AS node,
           CAST(10000000 + d.doc_id * 10 AS BIGINT) AS cluster_id
    FROM (SELECT doc_id FROM documents WHERE doc_id % 70 = 0) d,
         unnest(generate_series(0, 3)) AS u(k)
    """,
    "distributed CC on a long chain: a mixed graph (a 32-node chain — "
    "fixed size, so the adversarial diameter is SF-independent — plus "
    "4-cliques on synthetic ids per 70th doc, scaling with the data) "
    "forced through the large-star/small-star iteration "
    "(algorithm='star', dedup/cluster.py), which converges on the "
    "chain in O(log n) rounds; the labelling must equal the component "
    "minima the oracle derives from the construction (chain -> min "
    "chain id, clique -> its block min). The name is kept from the "
    "deleted label->star escalation this row once exercised",
)
def q_dedup_clusters_hybrid_escalation(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.dedup.cluster import connected_components

    chain_nodes = _doc_ids(spark, sf_dir, modulo=10).where(
        F.col("doc_id") < 320
    )
    w = Window.orderBy("doc_id")
    chain = (
        chain_nodes.select(
            F.col("doc_id").alias("doc_a"),
            F.lead("doc_id").over(w).alias("doc_b"),
        )
        .where(F.col("doc_b").isNotNull())
    )
    clique_base = _doc_ids(spark, sf_dir, modulo=70).select(
        (F.lit(10_000_000) + F.col("doc_id") * 10).alias("base")
    )
    ks = spark.range(4).select(F.col("id").alias("k"))
    members = clique_base.crossJoin(ks).select(
        "base", (F.col("base") + F.col("k")).alias("node")
    )
    cliques = (
        members.alias("x")
        .join(members.alias("y"), "base")
        .where(F.col("x.node") < F.col("y.node"))
        .select(
            F.col("x.node").alias("doc_a"), F.col("y.node").alias("doc_b")
        )
    )
    pairs = chain.unionByName(cliques)
    return connected_components(pairs, algorithm="star").select(
        F.col("node").cast("long").alias("node"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
