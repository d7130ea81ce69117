"""Text-layer rows (``text_``, ``bpe_``, ``quality_``, ``graph_``) on
``documents``: tokenization, language ID, fingerprints, quality
filters and models, vocabulary and n-gram statistics, BPE, and the
token-transition graph. Where the regex functions differ per engine, the
row keeps two parallel dialect texts that are op-for-op identical
everywhere else.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.functions.text import (
    LANG_MARKERS,
    fingerprint_md5,
    language_id,
    marker_regex,
    quality_columns,
    token_count,
)
from kenshin_spark.io import load_table
from kenshin_spark.queries._common import _STOP_RE, _sql_query, register
from kenshin_spark.queries._common import QUERIES as _REG


@register(
    "text_token_count",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
    FROM documents
    """,
    "token counting (whitespace tokens), pure column expressions",
)
def q_text_token_count(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").cast("long").alias("n_tokens"))


@register(
    "text_quality",
    rf"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             len(regexp_extract_all(lower(text), '{_STOP_RE}')) AS n_stopwords,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_stopwords AS BIGINT) AS n_stopwords,
           round(n_stopwords * 1.0 / n_tokens, 6) AS stopword_ratio,
           round(n_alpha * 1.0 / n_chars, 6) AS alpha_ratio,
           round(n_chars * 1.0 / n_tokens, 6) AS mean_token_len
    FROM f
    """,
    "quality scoring: length / stopword / alpha ratios",
)
def q_text_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cols = quality_columns("text")
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


@register(
    "text_quality_filter",
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
    SELECT doc_id, len_ok, mean_token_ok, stopword_ok, alpha_ok,
           len_ok AND mean_token_ok AND stopword_ok AND alpha_ok AS keep
    FROM r
    """,
    "Gopher-style quality filter verdict: every rule an integer "
    "cross-multiplication on raw counts (no float division), so the "
    "keep/drop decision is bit-identical across engines",
)
def q_text_quality_filter(spark, sf_dir):
    from kenshin_spark.functions.text import quality_verdict

    docs = load_table(spark, sf_dir, "documents")
    cols = quality_verdict("text")
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def _lang_oracle() -> str:
    score = {
        lang: f"len(regexp_extract_all(lower(text), '{marker_regex(w)}'))"
        for lang, w in LANG_MARKERS.items()
    }
    greatest = "greatest(" + ", ".join(score.values()) + ")"
    # earlier languages win ties — same order as the Spark CASE
    whens = " ".join(
        f"WHEN {score[lang]} = {greatest} AND {greatest} > 0 THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    return f"SELECT doc_id, CASE {whens} ELSE 'und' END AS pred_lang FROM documents"


@register(
    "text_language_id",
    _lang_oracle(),
    "language-ID n-gram/stopword heuristic (argmax of marker-word counts)",
)
def q_text_language_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("pred_lang"))


@register(
    "text_token_count_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]'))
                AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
    "BPE-ish token counting: word runs + single symbols via one "
    "regexp_count — the tokenizer-budget estimator, fully JVM-side",
)
def q_text_token_count_bpe(spark, sf_dir):
    from kenshin_spark.functions.text import bpe_ish_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens")
    )


@register(
    "text_rolling_fingerprint",
    """
    SELECT doc_id,
           list_min(list_transform(
             regexp_extract_all(
               regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), '.{8}'),
             c -> CAST(('0x' || substr(md5(c), 1, 15)) AS BIGINT)
           )) AS fingerprint
    FROM documents
    """,
    "rolling-hash document fingerprint: min over md5 hashes of 8-char "
    "chunks of the normalized text (a min-pooled shingle signature)",
)
def q_text_rolling_fingerprint(spark, sf_dir):
    from kenshin_spark.functions.text import rolling_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint("text").alias("fingerprint")
    )


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
             AS fingerprint
    FROM documents
    """,
    "document fingerprinting: md5 over normalized content",
)
def q_text_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


@register(
    "text_vocab_topk",
    r"""
    WITH tok AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    df_counts AS (
      SELECT tok, count(*) AS doc_freq FROM tok GROUP BY tok
    )
    SELECT tok, doc_freq FROM df_counts
    ORDER BY doc_freq DESC, tok LIMIT 50
    """,
    "vocabulary statistics: top-50 tokens by document frequency "
    "(distinct per doc), deterministic tie-break by token — the "
    "corpus-profiling pass before tokenizer/filter decisions",
)
def q_text_vocab_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    return (
        tok.groupBy("tok")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "tok")
        .limit(50)
    )


@register(
    "text_oov_rate",
    r"""
    WITH occ AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    tokd AS (SELECT DISTINCT doc_id, tok FROM occ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS doc_freq FROM tokd GROUP BY tok
      ) ORDER BY doc_freq DESC, tok LIMIT 100
    )
    SELECT o.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_rate
    FROM occ o LEFT JOIN vocab v USING (tok)
    GROUP BY o.doc_id
    """,
    "tokenizer-coverage check: per-doc out-of-vocabulary rate against "
    "the corpus' own top-100 doc-frequency vocabulary (deterministic "
    "tie-break) — the tiny vocab broadcasts, the occurrence stream "
    "map-side-joins it, and the only exchange carries per-doc partial "
    "counts",
)
def q_text_oov_rate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tokd = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    vocab = (
        tokd.groupBy("tok")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "tok")
        .limit(100)
        .select("tok", F.lit(1).alias("_in"))
    )
    occ = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    return (
        occ.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov") * F.lit(1.0) / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "text_collocations",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
      FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(
               generate_series(1, len(ts) - 1),
               i -> ts[i] || ' ' || ts[i + 1]
             )) AS bigram
      FROM toks
    ),
    uni AS (
      SELECT unnest(ts) AS tok FROM toks
    ),
    nb AS (SELECT count(*) AS n_bigrams FROM bg),
    uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    bc AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram)
    SELECT bc.bigram, bc.c AS pair_count,
           round(bc.c * 1.0 * (SELECT n_bigrams FROM nb) /
                 (ua.c * ub.c), 6) AS lift
    FROM bc
    JOIN uc ua ON ua.tok = string_split(bc.bigram, ' ')[1]
    JOIN uc ub ON ub.tok = string_split(bc.bigram, ' ')[2]
    WHERE bc.c >= 20
    """,
    "collocation mining: bigram lift = P(ab) / (P(a)P(b)) computed as an "
    "exact integer-derived rational (no log PMI — libm last-ulp differs "
    "across engines), min support 20",
)
def q_text_collocations(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.split(F.trim(F.lower("text")), r"\s+").alias("ts")
    )
    bg = toks.select(
        F.explode(
            F.transform(
                F.slice(
                    F.col("ts"), 1, F.greatest(F.size("ts") - 1, F.lit(0))
                ),
                lambda x, i: F.concat_ws(
                    " ", F.slice(F.col("ts"), i + 1, 2)
                ),
            )
        ).alias("bigram")
    )
    uni = toks.select(F.explode("ts").alias("tok"))
    n_bigrams = bg.count()
    uc = uni.groupBy("tok").agg(F.count("*").alias("c"))
    bc = (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("pair_count"))
        .where(F.col("pair_count") >= 20)
    )
    a = F.split(F.col("bigram"), " ")[0]
    b = F.split(F.col("bigram"), " ")[1]
    ua, ub = uc.alias("ua"), uc.alias("ub")
    return (
        bc.join(ua, a == F.col("ua.tok"))
        .join(ub, b == F.col("ub.tok"))
        .select(
            "bigram",
            "pair_count",
            F.round(
                F.col("pair_count") * F.lit(float(n_bigrams)) /
                (F.col("ua.c") * F.col("ub.c")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "text_repetition_filter",
    r"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> array_to_string(toks[i : i + 1], ' ')
             )) AS gram
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents
      )
    ),
    per AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
    s AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_grams,
             CAST(max(cnt) AS BIGINT) AS top_gram_count,
             CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT)
               AS dup_gram_count
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_grams, top_gram_count, dup_gram_count,
           (top_gram_count * 8 <= n_grams
            AND dup_gram_count * 10 <= n_grams * 3) AS rep_ok
    FROM s
    """,
    "Gopher-style repetition filter on token 2-grams (the corpus has no "
    "lines/paragraphs): top-gram slot share <= 1/8 AND duplicated-gram "
    "slot share <= 3/10, both as integer cross-multiplications. "
    "Row-local Arrow Counter kernel — zero shuffles; the oracle replays "
    "the multiset via explode + two grouped aggs",
)
def q_text_repetition_filter(spark, sf_dir):
    from kenshin_spark.pipeline import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_chunking",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents
    ),
    ex AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0, greatest(len(toks) - 1, 0), 48))
               AS start_tok,
             generate_subscripts(
               generate_series(0, greatest(len(toks) - 1, 0), 48), 1
             ) - 1 AS chunk_idx
      FROM t
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(least(64, n - start_tok) AS BIGINT) AS chunk_tokens,
           array_to_string(toks[start_tok + 1 : start_tok + 64], ' ')
             AS chunk_text
    FROM ex
    """,
    "RAG-style overlapping chunking: 64-token windows advancing by 48 "
    "(16-token overlap), row-local JVM expressions (sequence + "
    "posexplode + slice) — zero shuffles, chunk text re-joined from the "
    "token slice",
)
def q_text_chunking(spark, sf_dir):
    from kenshin_spark.pipeline import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk=64, step=48)


@register(
    "text_tfidf_topk",
    r"""
    WITH toks AS (
      SELECT doc_id, tok AS term FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, count(*) AS doc_freq
      FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
             (tf.tf * n.n_docs) / dfreq.doc_freq AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, doc_freq, score, CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term
      ) AS rnk FROM scored
    ) t WHERE rnk <= 5
    """,
    "per-doc top-5 terms by tf-idf with LINEAR idf (tf*N/doc_freq): one "
    "exact integer product + one division keeps the score bit-identical "
    "across engines (libm ln is not correctly rounded — a log-idf rank "
    "could flip at a tie); same ranking as log idf when doc_freq "
    "differs. Two partial-agg shuffles + one AQE vocab join + one "
    "per-doc window",
)
def q_text_tfidf_topk(spark, sf_dir):
    from kenshin_spark.pipeline import tfidf_topk

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, k=5)


@register(
    "text_pii_scrub",
    r"""
    WITH decorated AS (
      SELECT doc_id, source,
             text
             || (CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.com now' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                      || CAST(doc_id % 100 AS VARCHAR) ELSE '' END) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
             AS scrubbed_fp
    FROM decorated
    """,
    "PII scrubbing: redact emails + IPv4s with fixed tags. The corpus is "
    "synthetic, so deterministic PII is injected per doc_id first; the "
    "oracle hashes the scrubbed text — redaction is verified byte-exact",
)
def q_text_pii_scrub(spark, sf_dir):
    from kenshin_spark.pipeline import pii_counts, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    d = docs.select("doc_id", t.alias("t"))
    c = pii_counts("t")
    return d.select(
        "doc_id",
        c["n_emails"].alias("n_emails"),
        c["n_ips"].alias("n_ips"),
        F.md5(scrub_pii("t")).alias("scrubbed_fp"),
    )


@register(
    "text_quality_model",
    r"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(len(regexp_extract_all(lower(text),
               '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS BIGINT)
               AS n_stopwords,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
               AS n_digits,
             CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
               AS BIGINT) AS n_punct
      FROM documents
    )
    SELECT doc_id, n_tokens, n_stopwords, n_digits, n_punct,
           30 * n_stopwords + 2 * least(n_tokens, 500)
             - 5 * n_punct - 2 * n_digits AS score,
           (30 * n_stopwords + 2 * least(n_tokens, 500)
             - 5 * n_punct - 2 * n_digits >= 100
            AND n_tokens >= 25) AS keep
    FROM feat
    """,
    "model-based quality filter: a pinned-INTEGER-weight linear scorer "
    "over count features (fasttext-style classifier distilled to exact "
    "arithmetic — a monotone sigmoid never changes the keep decision, "
    "so the logit threshold is evaluated in integer space and is "
    "bit-identical across engines). Row-local, zero shuffles",
)
def q_text_quality_model(spark, sf_dir):
    from kenshin_spark.functions.text import quality_model_score

    docs = load_table(spark, sf_dir, "documents")
    return quality_model_score(docs)


@register(
    "text_bigram_lm",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (
        SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2
      )
    ),
    big AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
    uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    sc AS (
      SELECT bg.doc_id, (big.c2 * 1000000) // uni.c1 AS s
      FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1)
    ),
    per AS (
      SELECT doc_id, count(*) AS n_bigrams, sum(s) AS tot
      FROM sc GROUP BY 1
    )
    SELECT toks.doc_id,
           CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CASE WHEN per.n_bigrams > 0 THEN
             round(CAST(per.tot AS DOUBLE) / per.n_bigrams, 6)
           END AS mean_scaled_prob
    FROM toks LEFT JOIN per USING (doc_id)
    """,
    "bigram-LM coherence: mean corpus-conditional transition probability "
    "per document (the perplexity stand-in next to the unigram LM score) "
    "— every probability is the integer (c2*1e6) DIV c1, per-doc sums "
    "are exact, one final division; libm-free and bit-replayable",
)
def q_text_bigram_lm(spark, sf_dir):
    from kenshin_spark.pipeline import bigram_coherence

    docs = load_table(spark, sf_dir, "documents")
    return bigram_coherence(docs)


@register(
    "text_token_diversity",
    r"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS distinct_tokens,
           round(1.0 - CAST(sum(tf * tf) AS DOUBLE)
                       / (sum(tf) * sum(tf)), 6) AS simpson
    FROM tf GROUP BY doc_id
    """,
    "token-level Simpson diversity (1 - Σtf²/n²): the numeric "
    "concentration score next to the rule-based repetition filter — "
    "degenerate repeated-token text scores near 0, diverse text near "
    "1. Exact integer sums, one division; two partial-agg shuffles",
)
def q_text_token_diversity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
        F.round(
            1.0
            - F.sum(F.col("tf") * F.col("tf")).cast("double")
            / (F.sum("tf") * F.sum("tf")),
            6,
        ).alias("simpson"),
    )


def _pagerank_iter(prev: str) -> str:
    return f"""
  SELECT n.tok, 150000 + (85 * coalesce(s.contrib, 0)) // 100 AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.w2 AS tok, sum((p.pr * e.c) // o.tot) AS contrib
    FROM e JOIN {prev} p ON p.tok = e.w1 JOIN outd o ON o.w1 = e.w1
    GROUP BY e.w2) s ON s.tok = n.tok
"""


@register(
    "text_token_pagerank",
    rf"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS ts
      FROM documents
    ),
    bg AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
            FROM toks)
    ),
    e AS (
      SELECT w1, w2, count(*) AS c FROM bg
      GROUP BY 1, 2 HAVING count(*) >= 10
    ),
    outd AS (SELECT w1, sum(c) AS tot FROM e GROUP BY w1),
    nodes AS (
      SELECT DISTINCT tok FROM (
        SELECT w1 AS tok FROM e UNION ALL SELECT w2 FROM e)
    ),
    p0 AS (SELECT tok, CAST(1000000 AS BIGINT) AS pr FROM nodes),
    it1 AS ({_pagerank_iter('p0')}),
    it2 AS ({_pagerank_iter('it1')}),
    it3 AS ({_pagerank_iter('it2')})
    SELECT tok, CAST(pr AS BIGINT) AS pagerank
    FROM it3 ORDER BY pr DESC, tok LIMIT 50
    """,
    "weighted PageRank over the token-transition graph (3 power "
    "iterations, edges = bigrams with support ≥ 10) — an ITERATIVE "
    "numeric graph algorithm with a bit-exact oracle: ranks are "
    "integer-scaled (×1e6), damping is ×85//100, contributions are "
    "integer floor divisions, so sums are order-free and the SQL "
    "oracle unrolls the identical iterations. Pregel step = 2 hash "
    "joins + 1 partial-agg shuffle per round, vocab-sized state",
)
def q_text_token_pagerank(spark, sf_dir):
    from kenshin_spark.functions.graph import token_pagerank

    docs = load_table(spark, sf_dir, "documents")
    return token_pagerank(docs, min_support=10, iters=3, k=50)


@register(
    "text_token_drift",
    r"""
    WITH old_c AS (
      SELECT tok AS token, count(*) AS old_count FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents WHERE CAST(substr(source, 4, 10) AS INT) < 10
      ) WHERE tok <> '' GROUP BY 1
    ),
    new_c AS (
      SELECT tok AS token, count(*) AS new_count FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents WHERE CAST(substr(source, 4, 10) AS INT) >= 10
      ) WHERE tok <> '' GROUP BY 1
    ),
    j AS (
      SELECT coalesce(o.token, n.token) AS token,
             coalesce(o.old_count, 0) AS old_count,
             coalesce(n.new_count, 0) AS new_count
      FROM old_c o FULL OUTER JOIN new_c n ON o.token = n.token
    ),
    tot AS (SELECT sum(old_count) AS t_o, sum(new_count) AS t_n FROM j)
    SELECT token, old_count, new_count,
           round(old_count * 1e6 / t_o, 3) AS old_ppm,
           round(new_count * 1e6 / t_n, 3) AS new_ppm,
           round(power(old_count - (old_count + new_count) / (t_o + t_n) * t_o, 2)
                   / ((old_count + new_count) / (t_o + t_n) * t_o)
                 + power(new_count - (old_count + new_count) / (t_o + t_n) * t_n, 2)
                   / ((old_count + new_count) / (t_o + t_n) * t_n),
                 6) AS chi2
    FROM j, tot
    ORDER BY chi2 DESC, token LIMIT 50
    """,
    "token-distribution drift between two corpus snapshots (sources "
    "src0-9 vs src10-19): per-token chi-square contribution against the "
    "pooled distribution, top-50 movers. One explode + vocab-sized "
    "count per side, a vocab x vocab full-outer join, totals broadcast "
    "— corpus bytes are read exactly once per side",
)
def q_text_token_drift(spark, sf_dir):
    from kenshin_spark.pipeline import token_drift

    docs = load_table(spark, sf_dir, "documents")
    snap = F.expr("CAST(substring(source, 4, 10) AS INT)")
    return token_drift(docs.where(snap < 10), docs.where(snap >= 10), top_k=50)


HAPAX_SQL = r"""
WITH tok AS (
  SELECT tok FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
tf AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
       CAST(sum(c) AS BIGINT) AS total_tokens,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS hapax_rate
FROM tf
"""

#: Spark variant: literal ``1.0`` is DECIMAL(2,1) in Spark (DOUBLE in
#: DuckDB), which would make the rate a decimal-typed column and break
#: the cross-engine dtype match — CAST the numerator explicitly.
HAPAX_SPARK_SQL = r"""
WITH tok AS (
  SELECT tok FROM (
    SELECT explode(split(trim(lower(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
),
tf AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
       CAST(sum(c) AS BIGINT) AS total_tokens,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_rate
FROM tf
"""


@register(
    "text_hapax_rate",
    HAPAX_SQL,
    "vocabulary concentration: hapax-legomena fraction of the corpus "
    "vocabulary (the classic Zipf-tail health check before tokenizer "
    "training) — one explode + one vocab-sized count, then a scalar "
    "aggregate; the rate divides exact integers once",
)
def q_text_hapax_rate(spark, sf_dir):
    return _sql_query(HAPAX_SPARK_SQL, ("documents",))(spark, sf_dir)


NOVELTY_SQL = r"""
WITH g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i : i + 2], ' ')
           )) AS gram
    FROM (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    )
  )
),
firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty_rate
FROM g JOIN firsts f ON f.gram = g.gram
GROUP BY g.doc_id
"""

NOVELTY_SPARK_SQL = r"""
WITH g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           explode(transform(
             sequence(0, size(toks) - 3),
             i -> concat_ws(' ', slice(toks, i + 1, 3))
           )) AS gram
    FROM (
      SELECT doc_id, split(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ) WHERE size(toks) >= 3
  )
),
firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty_rate
FROM g JOIN firsts f ON f.gram = g.gram
GROUP BY g.doc_id
"""


@register(
    "text_ngram_novelty",
    NOVELTY_SQL,
    "corpus novelty curve: per doc, the fraction of its distinct "
    "3-grams whose FIRST corpus occurrence (by doc_id) is this doc — "
    "the ingest-ordering diagnostic behind 'is the new crawl adding "
    "anything'. Grams reduce to a gram-keyed min + one join back; "
    "text shuffles as 3-token grams only",
)
def q_text_ngram_novelty(spark, sf_dir):
    return _sql_query(NOVELTY_SPARK_SQL, ("documents",))(spark, sf_dir)


LENGTH_HIST_SQL = """
SELECT CAST(n_chars // 100 AS BIGINT) AS bucket_100chars,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY n_chars // 100
"""

LENGTH_HIST_SPARK_SQL = """
SELECT CAST(n_chars DIV 100 AS BIGINT) AS bucket_100chars,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY n_chars DIV 100
"""


@register(
    "text_length_histogram",
    LENGTH_HIST_SQL,
    "document-length histogram in 100-char buckets (the length-filter "
    "tuning view): one integer floor-division, one partial-agg shuffle "
    "onto the bucket domain",
)
def q_text_length_histogram(spark, sf_dir):
    return _sql_query(LENGTH_HIST_SPARK_SQL, ("documents",))(spark, sf_dir)


TRIANGLE_SQL = r"""
WITH big AS (
  SELECT t1 AS a, t2 AS b FROM (
    SELECT tok AS t1,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
    FROM (
      SELECT doc_id, tok, row_number() OVER (
               PARTITION BY doc_id ORDER BY pos
             ) AS pos
      FROM (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
                 AS tok,
               generate_subscripts(string_split_regex(trim(lower(text)),
                 '\s+'), 1) AS pos
        FROM documents
      ) WHERE tok <> ''
    )
  ) WHERE t2 IS NOT NULL AND t1 <> t2
),
edges AS (
  SELECT least(a, b) AS a, greatest(a, b) AS b
  FROM big GROUP BY 1, 2 HAVING count(*) >= 10
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
"""

TRIANGLE_SPARK_SQL = r"""
WITH big AS (
  SELECT t1 AS a, t2 AS b FROM (
    SELECT tok AS t1,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
    FROM (
      SELECT doc_id, posexplode(split(trim(lower(text)), '\\s+'))
               AS (pos, tok)
      FROM documents
    ) WHERE tok <> ''
  ) WHERE t2 IS NOT NULL AND t1 <> t2
),
edges AS (
  SELECT least(a, b) AS a, greatest(a, b) AS b
  FROM big GROUP BY 1, 2 HAVING count(*) >= 10
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
"""


@register(
    "graph_triangle_count",
    TRIANGLE_SQL,
    "triangle count on the token co-occurrence graph (support >= 10 "
    "bigram edges, canonical a<b orientation): the standard two-join "
    "wedge-closure shape — each wedge (e1, e2) around a shared low "
    "endpoint probes for its closing edge; the support threshold bounds "
    "the edge set so wedge fan-out stays small. Graph-analytics "
    "companion to the PageRank query",
)
def q_graph_triangle_count(spark, sf_dir):
    return _sql_query(TRIANGLE_SPARK_SQL, ("documents",))(spark, sf_dir)


WORDLEN_SQL = r"""
WITH w AS (
  SELECT doc_id, length(tok) AS wl FROM (
    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
             AS tok
    FROM documents
  ) WHERE tok <> ''
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wl) AS BIGINT) AS total_chars,
       CAST(max(wl) AS BIGINT) AS max_word_len,
       round(CAST(sum(wl) AS DOUBLE) / count(*), 6) AS mean_word_len
FROM w GROUP BY doc_id
"""

WORDLEN_SPARK_SQL = r"""
WITH w AS (
  SELECT doc_id, length(tok) AS wl FROM (
    SELECT doc_id, explode(split(trim(lower(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wl) AS BIGINT) AS total_chars,
       CAST(max(wl) AS BIGINT) AS max_word_len,
       round(CAST(sum(wl) AS DOUBLE) / count(*), 6) AS mean_word_len
FROM w GROUP BY doc_id
"""


@register(
    "text_word_length_profile",
    WORDLEN_SQL,
    "per-doc word-length profile (a Gopher-family signal: machine-"
    "generated text skews word length): exact integer sums, one "
    "division at the end — one explode + one partial-agg shuffle",
)
def q_text_word_length_profile(spark, sf_dir):
    return _sql_query(WORDLEN_SPARK_SQL, ("documents",))(spark, sf_dir)


DIGIT_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
         AS n_digits,
       round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                  AS DOUBLE) / length(text), 6) AS digit_ratio
FROM documents WHERE length(text) > 0
"""

DIGIT_SPARK_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(regexp_replace(text, '[^0-9]', '')) AS BIGINT)
         AS n_digits,
       round(CAST(length(regexp_replace(text, '[^0-9]', ''))
                  AS DOUBLE) / length(text), 6) AS digit_ratio
FROM documents WHERE length(text) > 0
"""


@register(
    "text_digit_ratio",
    DIGIT_SQL,
    "per-doc digit density (a boilerplate/table-dump signal the "
    "quality rules consume): strip-and-measure via regexp_replace "
    "(global by default in Spark, 'g' flag in DuckDB) — exact integer "
    "counts, one division",
)
def q_text_digit_ratio(spark, sf_dir):
    return _sql_query(DIGIT_SPARK_SQL, ("documents",))(spark, sf_dir)


# DuckDB regexp_replace replaces the FIRST match unless the 'g' flag is
# passed; Spark replaces all matches. Both texts below are kept
# op-for-op identical everywhere else.
ARI_SQL = r"""
WITH m AS (
  SELECT doc_id, source,
         length(regexp_replace(text, '\s', '', 'g')) AS n_glyphs,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '')) AS n_words,
         len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS n_sentences
  FROM documents
)
SELECT doc_id,
       CAST(n_glyphs AS BIGINT) AS n_glyphs,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       round((CASE WHEN n_words > 0 AND n_sentences > 0 THEN
         CAST(4.71 AS DOUBLE) * n_glyphs / n_words
         + CAST(0.5 AS DOUBLE) * n_words / n_sentences
         - CAST(21.43 AS DOUBLE) END) * 1000000) / 1000000 AS ari
FROM m
"""

ARI_SPARK_SQL = r"""
WITH m AS (
  SELECT doc_id, source,
         length(regexp_replace(text, '\\s', '')) AS n_glyphs,
         size(filter(split(trim(lower(text)), '\\s+'),
                     x -> x <> '')) AS n_words,
         size(filter(split(text, '[.!?]+'),
                     x -> trim(x) <> '')) AS n_sentences
  FROM documents
)
SELECT doc_id,
       CAST(n_glyphs AS BIGINT) AS n_glyphs,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       round((CASE WHEN n_words > 0 AND n_sentences > 0 THEN
         CAST(4.71 AS DOUBLE) * n_glyphs / n_words
         + CAST(0.5 AS DOUBLE) * n_words / n_sentences
         - CAST(21.43 AS DOUBLE) END) * 1000000) / 1000000 AS ari
FROM m
"""


@register(
    "text_ari_readability",
    ARI_SQL,
    "automated readability index per doc: glyphs/words + words/"
    "sentences from exact integer counts, the closed form evaluated "
    "op-for-op identically (explicit DOUBLE literals — Spark parses "
    "bare 4.71 as DECIMAL) and rounded 6dp — a quality-gate signal "
    "next to the Gopher-style ratios",
)
def q_text_ari_readability(spark, sf_dir):
    return _sql_query(ARI_SPARK_SQL, ("documents",))(spark, sf_dir)


SENTENCE_STATS_SQL = r"""
WITH m AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '')) AS n_words,
         len(list_filter(string_split_regex(text, '[.!?]+'),
                         x -> trim(x) <> '')) AS n_sentences
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sentences) AS BIGINT) AS total_sentences,
       round(CAST(sum(n_sentences) AS DOUBLE) / count(*), 6)
         AS sentences_per_doc,
       round(CAST(sum(n_words) AS DOUBLE) / sum(n_sentences), 6)
         AS words_per_sentence
FROM m GROUP BY source
"""

SENTENCE_STATS_SPARK_SQL = r"""
WITH m AS (
  SELECT source,
         size(filter(split(trim(lower(text)), '\\s+'),
                     x -> x <> '')) AS n_words,
         size(filter(split(text, '[.!?]+'),
                     x -> trim(x) <> '')) AS n_sentences
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_sentences) AS BIGINT) AS total_sentences,
       round(CAST(sum(n_sentences) AS DOUBLE) / count(*), 6)
         AS sentences_per_doc,
       round(CAST(sum(n_words) AS DOUBLE) / sum(n_sentences), 6)
         AS words_per_sentence
FROM m GROUP BY source
"""


@register(
    "text_sentence_stats",
    SENTENCE_STATS_SQL,
    "per-source sentence structure: sentences/doc and words/sentence "
    "from integer-exact sentence and token counts — corpus-profiling "
    "signal for source mixture decisions",
)
def q_text_sentence_stats(spark, sf_dir):
    return _sql_query(SENTENCE_STATS_SPARK_SQL, ("documents",))(spark, sf_dir)


CHAR_CLASS_SQL = r"""
WITH m AS (
  SELECT lang,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
           AS n_alpha,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS n_digit,
         length(text) - length(regexp_replace(text, '\s', '', 'g'))
           AS n_space
  FROM documents
)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS total_chars,
       round(CAST(sum(n_alpha) AS DOUBLE) / sum(n), 6) AS alpha_ratio,
       round(CAST(sum(n_digit) AS DOUBLE) / sum(n), 6) AS digit_ratio,
       round(CAST(sum(n_space) AS DOUBLE) / sum(n), 6) AS space_ratio,
       round(CAST(sum(n - n_alpha - n_digit - n_space) AS DOUBLE) / sum(n),
             6) AS other_ratio
FROM m GROUP BY lang
"""

CHAR_CLASS_SPARK_SQL = r"""
WITH m AS (
  SELECT lang,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[A-Za-z]', ''))
           AS n_alpha,
         length(text) - length(regexp_replace(text, '[0-9]', ''))
           AS n_digit,
         length(text) - length(regexp_replace(text, '\\s', ''))
           AS n_space
  FROM documents
)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS total_chars,
       round(CAST(sum(n_alpha) AS DOUBLE) / sum(n), 6) AS alpha_ratio,
       round(CAST(sum(n_digit) AS DOUBLE) / sum(n), 6) AS digit_ratio,
       round(CAST(sum(n_space) AS DOUBLE) / sum(n), 6) AS space_ratio,
       round(CAST(sum(n - n_alpha - n_digit - n_space) AS DOUBLE) / sum(n),
             6) AS other_ratio
FROM m GROUP BY lang
"""


@register(
    "text_char_class_profile",
    CHAR_CLASS_SQL,
    "character-class composition per language: ASCII-letter / digit / "
    "whitespace / other shares from exact delete-and-diff counts "
    "(length minus length-after-removal, so no per-char explode) — "
    "non-Latin scripts legitimately show near-zero alpha_ratio",
)
def q_text_char_class_profile(spark, sf_dir):
    return _sql_query(CHAR_CLASS_SPARK_SQL, ("documents",))(spark, sf_dir)


BIGRAMS_SQL = r"""
WITH toks AS (
  SELECT lang,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT lang, unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i + 1]))
           AS bigram
  FROM toks WHERE len(t) >= 2
)
SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
FROM bg GROUP BY 1, 2 HAVING count(*) >= 3
"""

BIGRAMS_SPARK_SQL = r"""
WITH toks AS (
  SELECT lang,
         filter(split(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
bg AS (
  SELECT lang, explode(transform(sequence(1, size(t) - 1),
                 i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))
           AS bigram
  FROM toks WHERE size(t) >= 2
)
SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
FROM bg GROUP BY 1, 2 HAVING count(*) >= 3
"""


@register(
    "text_top_bigrams_per_lang",
    BIGRAMS_SQL,
    "frequent word bigrams per language (support >= 3): adjacent-token "
    "pairs built inside the token array (1-based element_at on both "
    "engines) so no positional self-join is needed — the n-gram "
    "collocation surface one step up from text_collocations' PMI",
)
def q_text_top_bigrams_per_lang(spark, sf_dir):
    return _sql_query(BIGRAMS_SPARK_SQL, ("documents",))(spark, sf_dir)


WHITESPACE_SQL = r"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN contains(text, '  ') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_double_space,
       CAST(sum(CASE WHEN regexp_matches(text, '[\t\n\r]') THEN 1 ELSE 0
                END) AS BIGINT) AS n_ctrl_ws,
       CAST(sum(CASE WHEN text <> trim(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_untrimmed
FROM documents GROUP BY source
"""

WHITESPACE_SPARK_SQL = r"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN contains(text, '  ') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_double_space,
       CAST(sum(CASE WHEN text RLIKE '[\t\n\r]' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ctrl_ws,
       CAST(sum(CASE WHEN text <> trim(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_untrimmed
FROM documents GROUP BY source
"""


@register(
    "text_whitespace_anomalies",
    WHITESPACE_SQL,
    "whitespace hygiene per source: docs with doubled spaces, control "
    "whitespace, or untrimmed edges — integer-only flags feeding the "
    "cleaning stage of the corpus pipeline",
)
def q_text_whitespace_anomalies(spark, sf_dir):
    return _sql_query(WHITESPACE_SPARK_SQL, ("documents",))(spark, sf_dir)


FIRST_TOKEN_SQL = """
WITH f AS (
  SELECT lower(split_part(trim(text), ' ', 1)) AS first_tok
  FROM documents WHERE trim(text) <> ''
)
SELECT first_tok, CAST(count(*) AS BIGINT) AS n_docs
FROM f GROUP BY 1 HAVING count(*) >= 3
"""


@register(
    "text_first_token_profile",
    FIRST_TOKEN_SQL,
    "document opener distribution: lowercased first token (split_part "
    "is 1-based in both engines) with support >= 3 — skewed openers "
    "flag templated/boilerplate sources",
)
def q_text_first_token_profile(spark, sf_dir):
    return _sql_query(FIRST_TOKEN_SQL, ("documents",))(spark, sf_dir)


NUMERIC_BANDS_SQL = r"""
WITH m AS (
  SELECT source,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS d
  FROM documents WHERE length(text) > 0
)
SELECT source,
       CASE WHEN d = 0 THEN 'a_none'
            WHEN d * 100 < n * 2 THEN 'b_under_2pct'
            WHEN d * 100 < n * 10 THEN 'c_2_10pct'
            ELSE 'd_over_10pct' END AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d) AS BIGINT) AS total_digits
FROM m GROUP BY 1, 2
"""

NUMERIC_BANDS_SPARK_SQL = r"""
WITH m AS (
  SELECT source,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[0-9]', ''))
           AS d
  FROM documents WHERE length(text) > 0
)
SELECT source,
       CASE WHEN d = 0 THEN 'a_none'
            WHEN d * 100 < n * 2 THEN 'b_under_2pct'
            WHEN d * 100 < n * 10 THEN 'c_2_10pct'
            ELSE 'd_over_10pct' END AS band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d) AS BIGINT) AS total_digits
FROM m GROUP BY 1, 2
"""


@register(
    "text_numeric_density_bands",
    NUMERIC_BANDS_SQL,
    "digit-density distribution per source: docs bucketed by digit "
    "share with cross-multiplied integer band edges (d*100 < n*2 — no "
    "float ratio ever decides a bucket), a table-heavy-content signal",
)
def q_text_numeric_density_bands(spark, sf_dir):
    return _sql_query(NUMERIC_BANDS_SPARK_SQL, ("documents",))(spark, sf_dir)


TOKEN_POS_SQL = r"""
WITH toks AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT unnest(t) AS tok,
         unnest(range(1, len(t) + 1)) AS p,
         len(t) AS n
  FROM toks WHERE len(t) >= 2
)
SELECT tok,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       round(CAST(sum(p - 1) AS DOUBLE) / sum(n - 1), 6) AS mean_rel_pos
FROM pos GROUP BY tok HAVING count(*) >= 20
"""

TOKEN_POS_SPARK_SQL = r"""
WITH toks AS (
  SELECT filter(split(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT posexplode(t) AS (p0, tok), size(t) AS n
  FROM toks WHERE size(t) >= 2
)
SELECT tok,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       round(CAST(sum(p0) AS DOUBLE) / sum(n - 1), 6) AS mean_rel_pos
FROM pos GROUP BY tok HAVING count(*) >= 20
"""


@register(
    "text_token_position_profile",
    TOKEN_POS_SQL,
    "positional bias per frequent token (support >= 20): mean relative "
    "position inside its documents (0 = always opens, 1 = always "
    "closes) — boilerplate headers/footers show up as extreme values; "
    "the ratio divides exact integer sums once (Spark posexplode is "
    "0-based, DuckDB's zipped range is shifted to match)",
)
def q_text_token_position_profile(spark, sf_dir):
    return _sql_query(TOKEN_POS_SPARK_SQL, ("documents",))(spark, sf_dir)


ZIPF_SQL = r"""
WITH tf AS (
  SELECT tok, count(*) AS f FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
  GROUP BY tok
),
rk AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r
  FROM tf
),
top AS (
  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
  FROM rk WHERE r <= 100
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM top
)
SELECT CAST(n AS BIGINT) AS n_ranks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
FROM s
"""

ZIPF_SPARK_SQL = r"""
WITH tf AS (
  SELECT tok, count(*) AS f FROM (
    SELECT explode(split(trim(lower(text)), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
  GROUP BY tok
),
rk AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r
  FROM tf
),
top AS (
  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
  FROM rk WHERE r <= 100
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM top
)
SELECT CAST(n AS BIGINT) AS n_ranks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
FROM s
"""


@register(
    "text_zipf_slope",
    ZIPF_SQL,
    "Zipf's-law fit: least-squares slope of log-frequency vs log-rank "
    "over the top-100 vocabulary (healthy natural text sits near -1; "
    "templated corpora flatten) — ranks are (freq DESC, token)-total-"
    "ordered, the 100-term log sums carry ~1e-14 noise against a "
    "4dp-rounded slope",
)
def q_text_zipf_slope(spark, sf_dir):
    return _sql_query(ZIPF_SPARK_SQL, ("documents",))(spark, sf_dir)


HEAPS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
firsts AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
),
bounds AS (
  SELECT max(doc_id) AS max_id FROM documents
),
buckets AS (
  SELECT CAST(least(floor(CAST(first_doc AS DOUBLE) * 10 / (max_id + 1)),
                    9) AS BIGINT) AS decile,
         count(*) AS new_types
  FROM firsts, bounds GROUP BY 1
)
SELECT decile,
       CAST(new_types AS BIGINT) AS new_types,
       CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT)
         AS cumulative_vocab
FROM buckets
"""

HEAPS_SPARK_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         explode(filter(split(trim(lower(text)), '\\s+'),
                        x -> x <> '')) AS tok
  FROM documents
),
firsts AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
),
bounds AS (
  SELECT max(doc_id) AS max_id FROM documents
),
buckets AS (
  SELECT CAST(least(floor(CAST(first_doc AS DOUBLE) * 10 / (max_id + 1)),
                    9) AS BIGINT) AS decile,
         count(*) AS new_types
  FROM firsts, bounds GROUP BY 1
)
SELECT decile,
       CAST(new_types AS BIGINT) AS new_types,
       CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT)
         AS cumulative_vocab
FROM buckets
"""


@register(
    "text_heaps_curve",
    HEAPS_SQL,
    "Heaps'-law vocabulary growth: new word types per doc-id decile "
    "and the cumulative vocabulary — the is-the-new-crawl-adding-"
    "anything curve (companion to text_zipf_slope and "
    "text_ngram_novelty); first-occurrence reduction is one "
    "token-keyed min, the decile edge is floor()ed before the cast "
    "(the DuckDB rounding-cast trap)",
)
def q_text_heaps_curve(spark, sf_dir):
    return _sql_query(HEAPS_SPARK_SQL, ("documents",))(spark, sf_dir)


STOPWORD_COVERAGE_SQL = r"""
WITH toks AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN tok IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stopwords,
       round(CAST(sum(CASE WHEN tok IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it') THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS stopword_rate
FROM toks GROUP BY lang
"""

STOPWORD_COVERAGE_SPARK_SQL = r"""
WITH toks AS (
  SELECT lang,
         explode(filter(split(trim(lower(text)), '\\s+'),
                        x -> x <> '')) AS tok
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN tok IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stopwords,
       round(CAST(sum(CASE WHEN tok IN ('the', 'a', 'an', 'and', 'or', 'of', 'to', 'in', 'is', 'it') THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS stopword_rate
FROM toks GROUP BY lang
"""


@register(
    "text_stopword_coverage",
    STOPWORD_COVERAGE_SQL,
    "stopword coverage per language: share of tokens in the language-"
    "ID marker list (functions.text.STOPWORDS materialized as SQL "
    "literals — the same words the lang-ID heuristic scores), the "
    "audit that explains lang-ID confidence per language; integer "
    "counts, one rounded division",
)
def q_text_stopword_coverage(spark, sf_dir):
    return _sql_query(STOPWORD_COVERAGE_SPARK_SQL, ("documents",))(
        spark, sf_dir
    )


BREVITY_SQL = r"""
WITH tf AS (
  SELECT tok, count(*) AS f FROM (
    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
  GROUP BY tok
),
xy AS (
  SELECT CAST(length(tok) AS DOUBLE) AS x, ln(CAST(f AS DOUBLE)) AS y
  FROM tf
),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       round((n * sxy - sx * sy) /
             sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
         AS len_freq_corr
FROM s
"""

BREVITY_SPARK_SQL = BREVITY_SQL.replace(
    "unnest(string_split_regex(trim(lower(text)), '\\s+'))",
    "explode(split(trim(lower(text)), '\\\\s+'))",
)


@register(
    "text_brevity_law",
    BREVITY_SQL,
    "Zipf's law of abbreviation: correlation between token length and "
    "log frequency over the vocabulary (natural language trends "
    "negative — frequent words are short) — closed-form Pearson from "
    "six aggregate sums, 4dp-rounded against ~1e-13 association noise; "
    "the companion diagnostic to text_zipf_slope and text_heaps_curve",
)
def q_text_brevity_law(spark, sf_dir):
    return _sql_query(BREVITY_SPARK_SQL, ("documents",))(spark, sf_dir)


SOURCE_VOCAB_SQL = r"""
WITH sv AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(trim(lower(text)),
                                                 '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
  )
),
sizes AS (SELECT source, count(*) AS n FROM sv GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b,
       CAST(n_common AS BIGINT) AS n_common,
       round(CAST(n_common AS DOUBLE)
             / (za.n + zb.n - n_common), 6) AS vocab_jaccard
FROM inter
JOIN sizes za ON za.source = src_a
JOIN sizes zb ON zb.source = src_b
"""

SOURCE_VOCAB_SPARK_SQL = SOURCE_VOCAB_SQL.replace(
    "unnest(list_filter(string_split_regex(trim(lower(text)),\n"
    "                                                 '\\s+'),\n"
    "                              x -> x <> ''))",
    "explode(filter(split(trim(lower(text)), '\\\\s+'), x -> x <> ''))",
)


@register(
    "text_source_vocab_jaccard",
    SOURCE_VOCAB_SQL,
    "source-level vocabulary overlap: distinct-token Jaccard for every "
    "source pair via the token inverted index (bounded by vocab x "
    "sources, never docs x docs) — near-identical vocabularies flag "
    "mirrored crawls one level above document dedup; exact integer "
    "set sizes, one rounded division per pair",
)
def q_text_source_vocab_jaccard(spark, sf_dir):
    return _sql_query(SOURCE_VOCAB_SPARK_SQL, ("documents",))(spark, sf_dir)


@register(
    "bpe_vocab_topk",
    r"""
    SELECT word, freq FROM (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents
      ) WHERE word <> ''
      GROUP BY word HAVING count(*) >= 2
    )
    ORDER BY freq DESC, word ASC LIMIT 100
    """,
    "the BPE trainer's bounded vocabulary scan (the r4->r5 scale fix): "
    "word frequencies with the JVM-side HAVING (min_count=2) and the "
    "deterministic top-K cap (max_words=100, freq desc then word asc — "
    "TakeOrderedAndProject, never an unbounded collect); the driver row "
    "pins exactly what reaches the trainer at any corpus size",
)
def q_bpe_vocab_topk(spark, sf_dir):
    from kenshin_spark.bpe import word_frequencies
    from kenshin_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    return word_frequencies(docs, min_count=2, max_words=100)


@register(
    "text_extreme_docs_by_lang",
    """
    SELECT lang,
           arg_min(doc_id, n_chars * 1000000 + doc_id) AS shortest_doc,
           min(n_chars) AS min_chars,
           arg_max(doc_id, n_chars * 1000000 - doc_id) AS longest_doc,
           max(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
    "extreme documents per language with deterministic attribution: "
    "shortest and longest docs via composite (length, key) arg_min/"
    "arg_max so length ties resolve identically on both engines",
)
def q_text_extreme_docs_by_lang(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.expr("min_by(doc_id, n_chars * 1000000 + doc_id)").alias(
            "shortest_doc"
        ),
        F.min("n_chars").alias("min_chars"),
        F.expr("max_by(doc_id, n_chars * 1000000 - doc_id)").alias(
            "longest_doc"
        ),
        F.max("n_chars").alias("max_chars"),
    )


@register(
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


@register(
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


@register(
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


@register(
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


@register(
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


@register(
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


@register(
    "text_vocab_coverage_curve",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM freq
    ),
    tot AS (SELECT sum(c) AS total, count(*) AS n_vocab FROM freq)
    SELECT t.n_top,
           CAST((SELECT coalesce(sum(c), 0) FROM ranked
                 WHERE rnk <= t.n_top) * 1000000 // tot.total
                AS BIGINT) AS covered_ppm,
           tot.total AS n_occurrences, tot.n_vocab
    FROM (VALUES (100), (1000)) t(n_top), tot
    """,
    "tokenizer vocabulary sizing curve: what fraction of all token "
    "occurrences the top-100 / top-1000 vocabulary covers (ranked by "
    "count with a token tie-break so both engines pick identical "
    "cutoffs) — the number that decides BPE vocab size; floor-scaled "
    "ppm, integers throughout",
)
def q_text_vocab_coverage_curve(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked = freq.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("tok"))),
    )
    tot = freq.agg(
        F.sum("c").alias("n_occurrences"), F.count(F.lit(1)).alias("n_vocab")
    )
    cuts = (
        load_table(spark, sf_dir, "documents")
        .sparkSession.createDataFrame([(100,), (1000,)], "n_top int")
    )
    cov = (
        cuts.crossJoin(F.broadcast(ranked))
        .where(F.col("rnk") <= F.col("n_top"))
        .groupBy("n_top")
        .agg(F.sum("c").alias("_cov"))
    )
    return (
        cuts.join(cov, "n_top", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_top",
            F.floor(
                F.coalesce("_cov", F.lit(0)) * 1000000 / F.col("n_occurrences")
            ).cast("long").alias("covered_ppm"),
            "n_occurrences", "n_vocab",
        )
    )


@register(
    "text_length_gini",
    """
    WITH r AS (
      SELECT n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) AS i
      FROM documents
    ),
    s AS (
      SELECT count(*) AS n, sum(n_chars) AS sx,
             sum(i * n_chars) AS six
      FROM r
    )
    SELECT n, sx AS total_chars,
           CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx)
                AS BIGINT) AS gini_ppm
    FROM s
    """,
    "document-length inequality as a scaled-integer Gini coefficient: "
    "rank-weighted sums over (n_chars, doc_id)-ordered docs — the "
    "corpus-balance number a packing/curriculum planner reads; every "
    "operation integer until the final floor division, so the "
    "coefficient hash-matches exactly",
)
def q_text_length_gini(spark, sf_dir):
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    r = docs.select(
        "n_chars",
        F.row_number().over(Window.orderBy("n_chars", "doc_id")).alias("i"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("i") * F.col("n_chars")).alias("six"),
    )
    return s.select(
        "n",
        F.col("sx").alias("total_chars"),
        F.floor(
            (2 * F.col("six") - (F.col("n") + 1) * F.col("sx"))
            * 1000000
            / (F.col("n") * F.col("sx"))
        ).cast("long").alias("gini_ppm"),
    )


@register(
    "text_hapax_by_source",
    r"""
    WITH toks AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1
    ),
    hapax AS (SELECT tok FROM freq WHERE c = 1)
    SELECT t.source,
           count(*) AS n_occurrences,
           sum(CASE WHEN h.tok IS NOT NULL THEN 1 ELSE 0 END) AS n_hapax
    FROM toks t LEFT JOIN hapax h ON h.tok = t.tok
    WHERE t.tok <> ''
    GROUP BY 1
    """,
    "corpus-hapax contribution per source: which sources carry the "
    "vocabulary's singleton tail (the OOV-risk profile a tokenizer "
    "trainer reads per provider); global hapax set broadcast back "
    "against the token stream, integer counts",
)
def q_text_hapax_by_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    hapax = freq.where(F.col("c") == 1).select("tok").withColumn(
        "_h", F.lit(True)
    )
    return (
        toks.join(F.broadcast(hapax), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sum(F.col("_h").isNotNull().cast("long")).alias("n_hapax"),
        )
    )


@register(
    "text_token_range_by_lang",
    r"""
    WITH t AS (
      SELECT lang,
             len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents
    )
    SELECT lang,
           min(n_tok) AS min_tokens,
           round(quantile_cont(n_tok, 0.5), 6) AS median_tokens,
           max(n_tok) AS max_tokens,
           count(*) AS n_docs
    FROM t GROUP BY 1
    """,
    "document length envelope per language: min/median/max whitespace "
    "token counts — the per-language sizing table a packing planner "
    "reads; integer counts with the exact interpolated median",
)
def q_text_token_range_by_lang(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
    )
    return t.groupBy("lang").agg(
        F.min("n_tok").cast("long").alias("min_tokens"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 6).alias(
            "median_tokens"
        ),
        F.max("n_tok").cast("long").alias("max_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "text_prefix_diversity",
    r"""
    WITH toks AS (
      SELECT lang,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents
    )
    SELECT lang,
           count(DISTINCT substr(tok, 1, 3)) AS n_prefixes,
           count(DISTINCT tok) AS n_vocab
    FROM toks WHERE tok <> '' GROUP BY 1
    """,
    "lexical prefix diversity per language: distinct 3-char token "
    "prefixes vs full vocabulary — the trie-width statistic that "
    "predicts prefix-compression wins in a token dictionary; integer "
    "distinct counts",
)
def q_text_prefix_diversity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    return toks.groupBy("lang").agg(
        F.countDistinct(F.substring("tok", 1, 3)).alias("n_prefixes"),
        F.countDistinct("tok").alias("n_vocab"),
    )
