"""Corpus-curation pipeline stages beyond per-document scoring.

The training-data preparation steps every large pipeline runs between raw
crawl and tokenizer, on top of the per-doc quality rules in
``functions.text`` and the dedup family in ``dedup/``:

- repetition filtering (Gopher-style, Rae et al. 2021 §A1.1): documents
  dominated by a few repeated n-grams are boilerplate/spam;
- benchmark decontamination (GPT-3 appendix C style): drop training docs
  that share long n-grams with an evaluation set;
- source-mixture rebalancing: downsample over-represented sources to a
  target mixture with a deterministic, layout-independent hash rule;
- PII scrubbing: regex redaction of emails / IPv4 addresses.

Everything is integer or md5 arithmetic over JVM expressions — no Python
in the row path — so a SQL oracle reproduces results exactly, and every
decision is a pure function of the data (re-run-stable at any
partitioning / cluster size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kenshin_spark.dedup.minhash import shingles
from kenshin_spark.session import pin
from kenshin_spark.functions.sampling import DEN, sample_bucket

# Repetition thresholds, adapted to token 2-grams (the corpus has no
# newlines, so Gopher's line/paragraph rules map to n-gram rules here):
# the most frequent 2-gram may cover at most 1/8 of all 2-gram slots, and
# 2-grams occurring >= 2 times may cover at most 3/10 of the slots. Both
# are integer cross-multiplications — no float ratio discipline needed.
TOP_GRAM_MAX = (1, 8)
DUP_GRAM_MAX = (3, 10)


def gram_stream(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional (multiset) word n-grams: ``(doc_id, gram)`` WITH
    repeats — unlike dedup's ``shingles()``, repetition measures need the
    duplicates. Same slice-bounded gram construction (empty for docs
    shorter than n tokens, no CASE guard — see shingles() for why)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda x, j: F.concat_ws(" ", F.slice(toks, j + 1, n)),
    )
    return docs.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram"))


def repetition_stats(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc repetition profile: ``(doc_id, n_grams, top_gram_count,
    dup_gram_count, rep_ok)``.

    Entirely ROW-LOCAL — zero shuffles: an Arrow ``mapInPandas`` kernel
    counts each document's gram multiset with a hash map (Counter) in
    one pass. The former explode → groupBy(doc, gram) → groupBy(doc)
    shape shuffled one row per gram OCCURRENCE — at 100 TB that is a
    corpus-sized exchange for a statistic each document can compute
    about itself; a JVM ``array_sort`` + ``aggregate`` fold is also
    row-local but higher-order functions are CodegenFallback
    (interpreted, one struct allocation per gram) and measured 6.4×
    slower than this kernel at sf0.1 (4.15 s vs 0.65 s). Tokenization is
    ``str.strip().lower().split()`` — identical to the oracle's
    ``\\s+`` regex split for ASCII corpora (exotic unicode whitespace
    classes differ between Python/Java/RE2; the oracle gate would
    surface it). Docs shorter than n tokens emit no grams and are
    absent from the result (nothing to measure).

    ``fan_out`` spreads the per-doc CPU across cores when the input
    arrives as fewer partitions than the session's parallelism (a
    shuffle-free plan otherwise runs the whole corpus in the scan's own
    task count — at 100 TB the scan is already wide and it's a no-op).
    """
    from collections import Counter

    import pandas as pd

    from kenshin_spark.dedup.fanout import fan_out

    def kern(it):
        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    continue  # NULL doc: nothing to measure (old explode
                    # plan silently skipped these too)
                toks = text.strip().lower().split()
                n_grams = len(toks) - (n - 1)
                if n_grams <= 0:
                    continue
                c = Counter(zip(*(toks[i:] for i in range(n))))
                rows.append(
                    (
                        did,
                        n_grams,
                        max(c.values()),
                        sum(v for v in c.values() if v >= 2),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_grams", "top_gram_count", "dup_gram_count",
                ],
            )

    stats = fan_out(docs.select(id_col, text_col)).mapInPandas(
        kern,
        "doc_id long, n_grams long, top_gram_count long, dup_gram_count long",
    )
    top_num, top_den = TOP_GRAM_MAX
    dup_num, dup_den = DUP_GRAM_MAX
    rep_ok = (
        F.col("top_gram_count") * top_den <= F.col("n_grams") * top_num
    ) & (F.col("dup_gram_count") * dup_den <= F.col("n_grams") * dup_num)
    return stats.select(
        "doc_id", "n_grams", "top_gram_count", "dup_gram_count", rep_ok.alias("rep_ok")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: ``(doc_id, n_overlap)`` for every corpus
    doc sharing at least one word ``n``-gram with the benchmark set
    (n_overlap = distinct contaminated shingles).

    The benchmark shingle set is tiny relative to the corpus (eval suites
    are thousands of docs, the corpus is billions) — AQE broadcasts it, so
    the corpus side is a map-side semi-join: no corpus shuffle at all
    before the per-doc count, which is keyed by doc.
    """
    bench_sh = shingles(benchmark, n, id_col, text_col).select("shingle").distinct()
    return (
        shingles(corpus, n, id_col, text_col)
        .join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def rebalance_to_min(
    df: DataFrame, stratum_col: str, key_col: str, seed: str = "mix"
) -> DataFrame:
    """Downsample every stratum to (approximately) the size of the
    smallest one — the mixture-flattening step of corpus assembly.

    Keep rule: ``bucket(key) * cnt_stratum < min_cnt * DEN`` — pure
    integer arithmetic, so membership is exact, layout-independent, and
    consistent (a doc kept at one mixture stays kept when the target
    grows). The per-stratum counts and the global min are tiny aggregates
    broadcast back; the big table is never shuffled.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_cnt"))
    floor_cnt = counts.agg(F.min("_cnt").alias("_min_cnt"))
    return (
        df.join(F.broadcast(counts), stratum_col)
        .crossJoin(F.broadcast(floor_cnt))
        .where(
            sample_bucket(key_col, seed) * F.col("_cnt")
            < F.col("_min_cnt") * F.lit(DEN)
        )
        .drop("_cnt", "_min_cnt")
    )


def temperature_mixture_plan(
    df: DataFrame,
    budget: int,
    stratum_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Examples-proportional mixing with a temperature exponent (the
    multilingual-T5 / mT5 recipe): stratum s gets mixture share
    ``n_s^alpha / Σ n_t^alpha`` of a ``budget``-doc corpus — alpha=1 is
    proportional (big sources dominate), alpha=0 is uniform, 0.5 the
    common compromise that upweights small sources without flattening.

    Returns the per-stratum plan ``(stratum, n_docs, w_scaled, quota,
    rate_ppm)``. All arithmetic after the one tiny aggregate is EXACT
    integer math computed driver-side (|strata| rows — the same bounded
    collect as every scalar agg here): ``w_scaled = floor(1e6·n^alpha)``
    (IEEE sqrt is correctly rounded, so for alpha=0.5 every engine
    produces the identical integer), ``quota = budget·w // Σw``,
    ``rate_ppm = min(1e6, quota·1e6 // n)`` — so the plan, and the
    hash-sampled membership it induces, replay bit-for-bit in ANSI SQL
    (HUGEINT ``//``). For other alphas the plan is still deterministic
    per engine, but ``pow`` is not correctly rounded, so cross-engine
    equality is only guaranteed for alpha ∈ {0.5, 1}."""
    import math

    rows = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    ).collect()
    def _pw(n: int) -> float:
        # alpha=0.5 via sqrt, the operation IEEE requires to be
        # correctly rounded — pow carries no such guarantee
        return math.sqrt(n) if alpha == 0.5 else math.pow(n, alpha)

    w = {r[stratum_col]: int(DEN * _pw(r["n_docs"])) for r in rows}
    tot = sum(w.values())
    plan = []
    for r in sorted(rows, key=lambda r: r[stratum_col]):
        s, n = r[stratum_col], r["n_docs"]
        quota = budget * w[s] // tot
        rate_ppm = min(DEN, quota * DEN // n)
        plan.append((s, n, w[s], quota, rate_ppm))
    return df.sparkSession.createDataFrame(
        plan,
        f"{stratum_col} string, n_docs long, w_scaled long, "
        "quota long, rate_ppm long",
    )


def temperature_mixture(
    df: DataFrame,
    budget: int,
    stratum_col: str = "source",
    key_col: str = "doc_id",
    alpha: float = 0.5,
    seed: str = "mix",
) -> DataFrame:
    """Apply a temperature mixture: keep a row iff its key's hash
    bucket clears the stratum's ``rate_ppm`` — the plan broadcasts,
    the corpus is never shuffled, and membership is layout-independent
    and consistent across budgets (a doc kept at budget B stays kept at
    any larger budget, same seed — the nesting property hash sampling
    gives for free)."""
    plan = temperature_mixture_plan(df, budget, stratum_col, alpha)
    return (
        df.join(
            F.broadcast(plan.select(stratum_col, "rate_ppm")),
            stratum_col,
        )
        .where(sample_bucket(key_col, seed) < F.col("rate_ppm"))
        .drop("rate_ppm")
    )


# PII patterns kept to syntax both Java regex (Spark) and RE2 (DuckDB)
# treat identically: character classes, bounded repeats, \b word bounds.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
CC_RE = r"\b\d{4}[- ]?\d{4}[- ]?\d{4}[- ]?\d{4}\b"
#: separator-required NANP form (555-123-4567 / 555.123.4567 /
#: 555 123 4567) — mandatory separators keep bare digit runs (ids,
#: timestamps) out, and both \b anchors sit against digits so the
#: pattern behaves identically in Java regex and RE2
PHONE_RE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"

#: name → (pattern, placeholder, count-column label). Patterns stay in
#: the syntax subset Java regex and RE2 treat identically (classes,
#: bounded repeats, \b) so any of them can back a dual-engine oracle.
PII_PATTERNS: dict[str, tuple[str, str, str]] = {
    "email": (EMAIL_RE, "<EMAIL>", "n_emails"),
    "ip": (IPV4_RE, "<IP>", "n_ips"),
    "ssn": (SSN_RE, "<SSN>", "n_ssns"),
    "credit_card": (CC_RE, "<CC>", "n_cards"),
    "phone": (PHONE_RE, "<PHONE>", "n_phones"),
}

#: default scope — the original email+IP behavior (the driver-verified
#: text_pii_scrub oracle depends on it staying byte-identical)
PII_DEFAULT = ("email", "ip")

#: the full sweep, ordered so broader digit patterns fire first (a
#: 16-digit card must be tagged before the phone pattern eats a
#: sub-span of it; SSN before phone for the same reason)
PII_ALL = ("email", "ssn", "credit_card", "phone", "ip")


def pii_counts(
    text: Column | str, include: tuple[str, ...] = PII_DEFAULT
) -> dict[str, Column]:
    t = F.col(text) if isinstance(text, str) else text
    return {
        PII_PATTERNS[name][2]: F.regexp_count(
            t, F.lit(PII_PATTERNS[name][0])
        ).cast("long")
        for name in include
    }


def scrub_pii(
    text: Column | str, include: tuple[str, ...] = PII_DEFAULT
) -> Column:
    """Redact the ``include``d PII classes with fixed placeholder tags,
    applied in order (order matters: see ``PII_ALL``). The default
    scope is emails then IPv4 — unchanged semantics; pass
    ``include=PII_ALL`` for the full sweep."""
    t = F.col(text) if isinstance(text, str) else text
    for name in include:
        pat, tag, _ = PII_PATTERNS[name]
        t = F.regexp_replace(t, pat, tag)
    return t


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    eval_rate: float = 0.1,
    id_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Train/eval split that can NEVER leak a near-duplicate across the
    boundary: documents are split by their duplicate-CLUSTER
    representative, not by their own id, so every member of a near-dup
    cluster lands on the same side (the decontamination failure mode a
    naive per-doc hash split reintroduces — a train doc whose near-twin
    sits in eval).

    ``pairs`` is any pair-detector output (MinHash-LSH, SimHash,
    embedding near-dup: columns doc_a/doc_b). Plan shape: connected
    components label the paired minority of the corpus; the label table
    (≤ |paired docs|, usually ≪ corpus) left-joins back and unpaired
    docs fall through to their own id — the big table is never shuffled
    beyond that one AQE-sized join. The split rule is the same
    deterministic md5 bucket as ``functions.sampling`` (layout- and
    rerun-stable).

    Returns ``df`` + ``split`` ('train' | 'eval')."""
    from kenshin_spark.dedup.cluster import connected_components
    from kenshin_spark.functions.sampling import DEN, sample_bucket

    labels = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("_rep")
    )
    rep = F.coalesce(F.col("_rep"), F.col(id_col))
    return (
        df.join(labels, id_col, "left")
        .withColumn(
            "split",
            F.when(
                sample_bucket(rep.cast("string"), seed)
                < F.lit(int(eval_rate * DEN)),
                F.lit("eval"),
            ).otherwise(F.lit("train")),
        )
        .drop("_rep")
    )


def token_drift(
    old_docs: DataFrame,
    new_docs: DataFrame,
    top_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    monitoring step between re-crawls (did the source mix shift under
    us?). For every token in either snapshot's vocabulary:

        ``(token, old_count, new_count, old_ppm, new_ppm, chi2)``

    where ppm is occurrences per million tokens and chi2 is the token's
    two-sample chi-square contribution ``Σ (o - e)² / e`` over both
    snapshots (expected counts from the pooled distribution). Ordered by
    chi2 descending, top_k rows — the tokens that moved most.

    Plan: each snapshot is one explode → token-keyed count (map-side
    partial agg collapses to |vocab| rows before the exchange), then a
    full outer join of two vocab-sized tables — corpus bytes are
    touched exactly once per side.
    """
    def counts(docs, name):
        return (
            docs.select(
                F.explode(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
                ).alias("token")
            )
            .where(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(name))
        )

    old_c = counts(old_docs, "old_count")
    new_c = counts(new_docs, "new_count")
    joined = old_c.join(new_c, "token", "full_outer").select(
        "token",
        F.coalesce("old_count", F.lit(0)).alias("old_count"),
        F.coalesce("new_count", F.lit(0)).alias("new_count"),
    )
    tot = joined.agg(
        F.sum("old_count").alias("_to"), F.sum("new_count").alias("_tn")
    )
    j = joined.crossJoin(F.broadcast(tot))
    pooled = (F.col("old_count") + F.col("new_count")) / (
        F.col("_to") + F.col("_tn")
    )
    e_old = pooled * F.col("_to")
    e_new = pooled * F.col("_tn")
    chi2 = (
        (F.col("old_count") - e_old) ** 2 / e_old
        + (F.col("new_count") - e_new) ** 2 / e_new
    )
    return (
        j.select(
            "token",
            "old_count",
            "new_count",
            F.round(F.col("old_count") * 1e6 / F.col("_to"), 3).alias(
                "old_ppm"
            ),
            F.round(F.col("new_count") * 1e6 / F.col("_tn"), 3).alias(
                "new_ppm"
            ),
            F.round(chi2, 6).alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), "token")
        .limit(top_k)
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "pack",
) -> DataFrame:
    """Training-sequence packing, concatenate-then-chunk form: assign
    every document a position in a fixed-length token-sequence stream —
    ``(doc_id, shard, n_tokens, start_tok, seq_in_shard, seq_offset)``.

    This is the layout step between curation and the trainer: documents
    are concatenated (in a deterministic shuffled order) and the stream
    is cut into ``seq_len``-token training sequences, docs spanning cut
    points. The whole assignment is a pure function of (seed, doc_id,
    token counts):

    - ``shard`` = portable md5-bucket of the id — the parallel unit, so
      the only window sort runs per shard, not globally (a global
      orderBy would serialize the corpus through one task at 100 TB);
    - order within a shard = (md5 hash, id) — the deterministic
      "shuffle" every trainer wants, layout/cluster independent;
    - ``start_tok`` = running token count before the doc (one window
      cumsum co-partitioned with the shard); ``seq_in_shard`` /
      ``seq_offset`` are integer div/mod by ``seq_len``.

    All integer/md5 arithmetic — the SQL oracle replays assignment
    exactly. Emitting (doc → position) rather than materialized token
    arrays keeps the operator metadata-sized; the trainer's loader joins
    positions back to text."""
    from kenshin_spark.functions.text import token_count

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        h.alias("_h"),
        token_count(text_col).cast("long").alias("n_tokens"),
    ).withColumn("shard", (F.col("_h") % n_shards).cast("long"))
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok")
    return base.select("doc_id", "shard", "n_tokens", start).select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_tok",
        F.expr(f"start_tok DIV {int(seq_len)}").alias("seq_in_shard"),
        (F.col("start_tok") % seq_len).alias("seq_offset"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk: int = 64,
    step: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style overlapping chunking: every document becomes
    ``ceil(n_tokens/step)``-ish windows of ``chunk`` tokens advancing by
    ``step`` (overlap = chunk - step) — ``(doc_id, chunk_idx, start_tok,
    chunk_tokens, chunk_text)``.

    Entirely row-local (sequence + posexplode + slice — JVM expressions,
    zero shuffles): scales as a map over the corpus, and the chunk count
    per doc is bounded by its own length. The chunk text is re-joined
    from the token slice so downstream embedding/indexing reads one
    column."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        n.alias("_n"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.least(F.lit(chunk), F.col("_n") - F.col("start_tok"))
        .cast("long")
        .alias("chunk_tokens"),
        F.array_join(
            F.slice(F.col("_toks"), F.col("start_tok") + 1, F.lit(chunk)), " "
        ).alias("chunk_text"),
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k terms by tf-idf with LINEAR idf (``tf * N /
    doc_freq``): ``(doc_id, term, tf, doc_freq, score, rank)``.

    Linear idf is chosen over log idf deliberately: the score is then one
    exact-integer product divided once (bit-identical across engines —
    ``ln`` is not correctly rounded in libm and could flip a 6-dp rank
    at a tie), and it induces the same per-document ranking order as
    log idf whenever doc_freq differs. Ties break by term.

    Plan shape: one explode + two partial-aggregated shuffles (tf by
    (doc, term), doc_freq by term), one AQE join tf↔doc_freq (vocab side
    small after aggregation), one per-doc window. N comes from a scalar
    count — no data collect."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "term"
        ),
    ).where(F.col("term") != "")
    n_docs = docs.count()  # scalar agg (the oracle's SELECT count(*))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.distinct().groupBy("term").agg(F.count("*").alias("doc_freq"))
    )
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        "doc_freq",
        ((F.col("tf") * n_docs) / F.col("doc_freq")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id", "term", "tf", "doc_freq", "score",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def bigram_coherence(
    docs: DataFrame,
    scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram-LM coherence score: the corpus' own bigram distribution is
    the LM; each document scores the mean conditional probability of its
    token transitions — ``(doc_id, n_bigrams, mean_scaled_prob)``.

    Shuffled/garbled text draws improbable transitions and scores low;
    degenerate repetition scores near ``scale`` — both tails are filter
    candidates (the arithmetic mean of probabilities stands in for
    perplexity).

    Cross-engine float discipline: each transition probability is the
    INTEGER ``(bigram_count * scale) DIV prefix_count`` (libm-free,
    order-independent), per-doc sums are exact integers, and only the
    final mean divides once — bit-replayable by any SQL engine.

    Plan: row-local bigram construction (transform + explode), two
    partial-aggregated vocab counts, two vocab joins (AQE sizes them;
    co-keyed on w1), one doc-keyed agg. The corpus text shuffles never —
    only (doc_id, w1, w2) triples and vocab-sized tables move."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_t"),
        F.size(toks).alias("_n"),
    )
    bg = (
        base.where(F.col("_n") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, _n - 1), i -> "
                    "struct(element_at(_t, i) AS w1, "
                    "element_at(_t, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
        # consumed THREE times (both vocab counts + the scoring join) —
        # pin the narrow triple stream so tokenize+explode runs once per
        # execution, not three times (lazy: materializes inside the
        # caller's action; local blocks, no shuffle)
    )
    bg = pin(bg, eager=False)
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    sc = (
        bg.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .select("doc_id", F.expr(f"c2 * {int(scale)} DIV c1").alias("s"))
    )
    per = sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("s").alias("_tot")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(F.col("_tot") / F.col("n_bigrams"), 6),
            ).alias("mean_scaled_prob"),
        )
    )


class StreamingCorpusIngest:
    """The components composed into ONE incremental corpus-ingest job:
    per micro-batch — quality gate → exact dedup (vs corpus + batch) →
    MinHash near-dup against the PERSISTED band index → BPE tokenize →
    append docs + tokens + index rows.

    This is the shape a training-data pipeline actually runs daily: the
    corpus is never rescanned (its contribution is the band index and an
    md5 set, both persisted parquet), each batch pays O(batch +
    collisions), and every stage is the same operator the standalone
    driver queries verify. State lives under ``root``:

    - ``docs/``    admitted documents (doc_id, text, source)
    - ``tokens/``  BPE encodings (doc_id, tokens, n_tokens)
    - ``index/``   MinHash band rows (doc_id, band, band_key)
    - ``md5/``     exact-dup fingerprints (doc_id, text_md5)
    - ``dead/``    rejected rows with a ``reason`` column
    - ``clusters/`` near-dup cluster deltas (``track_clusters=True``)

    The tables commit through the engine's one commit protocol, a
    manifest log rooted at ``root`` (``kenshin_spark.commit``, the
    same code ``ParquetTieredStore`` runs): each batch's files
    for every table land in ONE commit that also records the batch id,
    so the tables become visible together and a replayed batch id is a
    no-op (Structured Streaming's idempotent-sink contract). Readers
    plan from the committed file list only.

    Pass the ``ingest`` method to ``foreachBatch`` for streaming, or
    call it directly with a batch DataFrame (same code path, like
    ``StreamingIngest.process_batch``)."""

    #: the per-batch-appended state tables, smallest-file-prone first
    STATE_PARTS = ("md5", "index", "docs", "tokens", "dead", "clusters")

    def __init__(
        self,
        spark,
        root: str,
        merges: list[tuple[str, str]],
        quality_checks=None,
        neardup_threshold: float = 0.5,
        track_clusters: bool = False,
        maintenance_every: int | None = None,
        maintenance_min_frag: int = 16,
    ):
        from kenshin_spark.commit import ManifestCommitProtocol
        from kenshin_spark.fs import HadoopFS
        from kenshin_spark.quality import not_null, predicate

        self.spark = spark
        self.root = root.rstrip("/")
        self.merges = merges
        self.threshold = neardup_threshold
        self.checks = list(
            quality_checks
            if quality_checks is not None
            else [
                not_null("text"),
                predicate("length(trim(text)) > 0", name="non_empty"),
            ]
        )
        self.stats = {
            "received": 0, "quality_rejected": 0, "exact_dups": 0,
            "near_dups": 0, "admitted": 0,
        }
        self.track_clusters = track_clusters
        self.maintenance_every = maintenance_every
        self.maintenance_min_frag = maintenance_min_frag
        self._pending_dead: list[DataFrame] = []
        self.commit = ManifestCommitProtocol(
            HadoopFS(spark, self.root), self.root
        )
        if self.commit.epoch() == 0:
            self._refuse_marker_layout()

    def _refuse_marker_layout(self) -> None:
        """A root written by the retired batch-marker protocol has
        ``_batches/`` markers or ``batch=<id>`` table directories but
        no manifest. Read as a manifest root it would look empty: the
        next batch would re-admit its documents as new. Refuse it."""
        fs = self.commit.fs
        found = [
            f"{part}/{name}"
            for part in self.STATE_PARTS
            for name in fs.list_names(f"{self.root}/{part}")
            if name.startswith("batch=")
        ]
        if fs.exists(f"{self.root}/_batches") or found:
            raise RuntimeError(
                f"{self.root} holds a batch-marker corpus layout "
                f"(_batches/ markers or batch= directories: "
                f"{found[:3]}) but no _manifest; it cannot be read as "
                "a manifest root without re-admitting its documents"
            )

    def _read(self, part: str, schema: str | None = None) -> DataFrame:
        """Committed rows of a state table, planned from the manifest's
        live files — a crashed attempt's staged files and compaction's
        retired ones are never scanned. ``schema`` shapes the empty
        frame of a table with no committed files."""
        from kenshin_spark.store import _explicit_list_planning

        files = [
            f"{self.root}/{rel}" for rel, _ in self.commit.live_files(part)
        ]
        if not files:
            return self.spark.createDataFrame([], schema)
        with _explicit_list_planning(self.spark):
            return self.spark.read.parquet(*files)

    def _dead(self, df: DataFrame, reason: str, batch_id: int) -> None:
        n = df.count()
        if n:
            self.stats[reason] += n
            self._pending_dead.append(
                df.select(
                    F.to_json(F.struct("*")).alias("row"),
                    F.lit(reason).alias("reason"),
                    F.lit(batch_id).alias("batch_id"),
                )
            )

    def _lww_clusters(self, df: DataFrame) -> DataFrame:
        """Resolve the clusters delta log: the HIGHEST batch id holds a
        node's current assignment (``-1``, the compacted fold, is by
        construction the oldest)."""
        w = Window.partitionBy("node").orderBy(F.col("batch").desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "cluster_id")
        )

    def clusters(self) -> DataFrame:
        """Current ``(node, cluster_id)`` near-dup cluster assignment
        (``track_clusters=True``): every doc that ever collided —
        admitted corpus docs AND the rejected near-dups they absorbed —
        labelled by component minimum. The table is an append-only
        delta log (one ``incremental_component_deltas`` write per ingest
        batch, stamped with its batch id, in the same commit as the
        other tables) resolved last-writer-wins here; per batch only
        O(batch + merged clusters' members) rows are written, never the
        full table."""
        return self._lww_clusters(
            self._read("clusters", "node long, cluster_id long, batch long")
        )

    def file_report(self) -> dict[str, int]:
        """Live parquet file count per state table, read off the
        manifest — the ingest-side small-file audit. Every micro-batch
        adds ~one file per (table × task); after thousands of batches
        the md5/index scans each ingest performs degrade with file
        COUNT (per-file open + footer), the same IO-shape problem
        ``ParquetTieredStore`` audits per day partition."""
        from collections import Counter

        n = Counter(
            rel.split("/", 1)[0] for rel, _ in self.commit.live_files()
        )
        return {p: n[p] for p in self.STATE_PARTS if n[p]}

    def compact(
        self, target_files: int = 1, min_frag: int = 16
    ) -> dict[str, int]:
        """Fold each fragmented state table back to ``target_files``
        files: stage the rewrite invisibly, then ONE manifest commit
        per table drops its old files and adds the fold, so a crash
        before that commit leaves the previous snapshot intact and a
        reader never sees both. Contents are unchanged — appends are
        insert-only, so compaction is a pure rewrite. A table is only
        REWRITTEN once genuinely fragmented: ``n_files >
        max(target_files, min_frag)``. The floor matters because every
        micro-batch adds at least one file per table, so a bare
        ``n_files > target_files`` re-folds the ENTIRE docs/tokens
        tables after every single batch — O(corpus) IO per maintenance
        pass, quadratic over the stream's lifetime. With the floor, each
        full rewrite amortizes over ``min_frag`` batches of appends.
        Retired files stay on disk until ``vacuum``. Run off the hot
        path between batches (never concurrently with ``ingest``).
        Returns the pre-compaction file counts of the tables it
        rewrote."""
        done = {}
        threshold = max(target_files, min_frag)
        for part, n_files in self.file_report().items():
            if n_files <= threshold:
                continue
            planned = self.commit.epoch()
            df = self._read(part)
            if part == "clusters":
                # fold = LWW-resolve FIRST: collapsing delta batches
                # into one erases the version order the log depends
                # on, so only the resolved row may survive
                df = self._lww_clusters(df).withColumn(
                    "batch", F.lit(-1).cast("long")
                )
            adds = self.commit.adopt(
                df.repartition(target_files),
                f"{self.root}/{part}",
                partitioned=False,
            )
            with self.commit.txn(read_seq=planned, op="compact") as tx:
                tx.replace(part, adds)
            done[part] = n_files
        return done

    def maintenance(
        self, target_files: int = 1, min_frag: int = 16
    ) -> dict:
        """The off-hot-path maintenance pass as one call, mirroring
        ``StreamingIngest.maintenance``: fold fragmented state tables,
        then ``vacuum`` the files retired longer than the store's
        default grace ago and any crash-stranded staged files. Run
        between batches (from a scheduler / foreachBatch ``batch_id % k
        == 0`` hook), never concurrently with ``ingest``."""
        compacted = self.compact(target_files, min_frag=min_frag)
        removed = self.commit.vacuum(
            [f"{self.root}/{part}" for part in self.STATE_PARTS]
        )
        return {"compacted": compacted, "vacuumed": len(removed)}

    def ingest(self, batch: DataFrame, batch_id: int) -> None:
        from kenshin_spark.bpe import tokenize
        from kenshin_spark.dedup.minhash import (
            minhash_band_index,
            minhash_pairs_against_index,
        )

        # foreachBatch replays a batch after failures with the SAME id.
        # The commit below records the batch id with the batch's files
        # (Delta's SetTransaction), so a batch id at or below the
        # committed one has already landed: skip it. A crashed attempt
        # left only staged files no manifest references — invisible to
        # every reader, reclaimed by vacuum.
        last = self.commit.committed_batch()
        if last is not None and batch_id <= last:
            return
        self._pending_dead = []
        # keep the persisted handles: `batch`/`fresh` are rebound by the
        # filter chain below, and unpersisting a derived DataFrame does
        # not release the original's cache
        batch_c = batch = batch.persist()
        fresh_c = None
        try:
            self.stats["received"] += batch.count()
            # 1. quality gate (row-local, one filter expression);
            # skipped entirely when no checks are configured
            if self.checks:
                viol = None
                for c in self.checks:
                    e = c.violation_expr()
                    viol = e if viol is None else (viol | e)
                self._dead(batch.where(viol), "quality_rejected", batch_id)
                batch = batch.where(~F.coalesce(viol, F.lit(False)))

            # 2. exact dedup: batch-internal (keep min doc_id) then
            # against the persisted md5 set — 16-byte keys only
            fp = batch.withColumn("text_md5", F.md5("text"))
            w_min = fp.groupBy("text_md5").agg(
                F.min("doc_id").alias("_keep")
            )
            fp = fp.join(w_min, "text_md5")
            intra = fp.where(F.col("doc_id") != F.col("_keep"))
            fp = fp.where(F.col("doc_id") == F.col("_keep")).drop("_keep")
            seen = self._read("md5", "doc_id long, text_md5 string")
            cross = fp.join(
                seen.select("text_md5"), "text_md5", "left_semi"
            )
            self._dead(
                intra.drop("_keep").unionByName(cross),
                "exact_dups", batch_id,
            )
            fresh_c = fresh = fp.join(
                seen.select("text_md5"), "text_md5", "left_anti"
            ).drop("text_md5").persist()

            # 3. near-dup vs the persisted band index (only the batch is
            # shingled; corpus text read just for colliding candidates)
            corpus = self._read("docs", "doc_id long, text string, source string")
            index = self._read("index", "doc_id long, band int, band_key string")
            cl_delta = None
            if index.isEmpty():
                near_ids = None
            else:
                pairs = minhash_pairs_against_index(
                    fresh, corpus, index, threshold=self.threshold
                )
                if self.track_clusters:
                    # provenance: fold this batch's collision edges into
                    # the persisted assignment (delta rows only —
                    # O(batch + merged clusters), never the full table).
                    # Checkpoint both: pairs is read twice (here + the
                    # reject filter), and the delta's lineage reads the
                    # clusters/ table this batch is about to extend.
                    # The resolved assignment is referenced three times
                    # by the fold — persist so the LWW window over the
                    # log runs once, not per reference.
                    from kenshin_spark.dedup.cluster import (
                        incremental_component_deltas,
                    )

                    pairs = pin(pairs, eager=True)
                    assignments = self.clusters().persist()
                    try:
                        cl_delta = pin(
                            incremental_component_deltas(
                                assignments, pairs,
                                a="corpus_id", b="new_id",
                            ),
                            eager=True,
                        )
                    finally:
                        assignments.unpersist()
                near_ids = pairs.select(
                    F.col("new_id").alias("doc_id")
                ).distinct()
            if near_ids is not None:
                self._dead(
                    fresh.join(near_ids, "doc_id", "left_semi"),
                    "near_dups", batch_id,
                )
                fresh = fresh.join(near_ids, "doc_id", "left_anti")
            # the admitted set's lineage READS docs/ and index/ — the
            # tables the writes below extend. The manifest already pins
            # those reads to the committed files, but truncate anyway
            # so the plan doesn't re-run the whole dedup chain per write.
            fresh = pin(fresh, eager=True)

            # 4. stage this batch's output for every table, dead rows
            # included, then commit them all with the batch id at once
            adds: list[tuple[str, int]] = []

            def stage(part: str, df: DataFrame) -> None:
                adds.extend(self.commit.adopt(
                    df, f"{self.root}/{part}", partitioned=False
                ))

            if self._pending_dead:
                dead = self._pending_dead[0]
                for extra in self._pending_dead[1:]:
                    dead = dead.unionByName(extra)
                stage("dead", dead)
            if cl_delta is not None and not cl_delta.isEmpty():
                stage("clusters", cl_delta.withColumn(
                    "batch", F.lit(batch_id).cast("long")
                ))

            n_admit = fresh.count()
            if n_admit > 0:
                self.stats["admitted"] += n_admit
                stage("docs", fresh)
                stage("tokens", tokenize(fresh, self.merges))
                stage("md5", fresh.select(
                    "doc_id", F.md5("text").alias("text_md5")
                ))
                stage("index", minhash_band_index(fresh))
            # one commit for every table; a batch with no output still
            # commits its id, so its replay is a no-op too
            with self.commit.txn(op="ingest") as tx:
                tx.batch_id = batch_id
                for rel, size in adds:
                    tx.add(rel, size)
            # auto-maintenance: foreachBatch is serial, so right after
            # the commit IS "between batches" — the cadence the
            # docstrings tell operators to cron. Crash-safe: the batch
            # is already committed, and a crashed compaction commits
            # nothing.
            if (
                self.maintenance_every
                and batch_id >= 0
                and (batch_id + 1) % self.maintenance_every == 0
            ):
                self.maintenance(min_frag=self.maintenance_min_frag)
        finally:
            self._pending_dead = []
            if fresh_c is not None:
                fresh_c.unpersist()
            batch_c.unpersist()
