"""Learned byte-pair-encoding tokenizer over a Spark corpus.

The standard BPE training recipe (Sennrich 2016; GPT-2's tokenizer is
trained the same way) is two-phase, and the phases map cleanly onto
Spark's execution model:

1. **Word frequency table** — ONE distributed pass: split the corpus
   into words, count them. The corpus is touched exactly once; the
   result is vocabulary-sized (≪ corpus).
2. **Merge training** — a driver-side loop over that small table: at
   each step count adjacent symbol-pair frequencies (weighted by word
   count), merge the most frequent pair. This is how every production
   BPE trainer works — the iterative merge is inherently sequential, so
   it runs where the data is small, not over the corpus.
3. **Apply** — the learned merge list broadcasts (it's a few KB) and an
   Arrow-batched ``mapInPandas`` kernel encodes documents
   executor-side. The corpus is touched once more, never shuffled.

Determinism: ties in pair frequency break on the lexicographically
smallest pair, so the same corpus always learns the same merges —
re-runs and cross-cluster runs agree bit-for-bit.

This is a from-scratch implementation of the public algorithm (no
external tokenizer library); word splitting reuses the same whitespace
discipline as ``functions.text``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: end-of-word marker (Sennrich-style); a printable sentinel that cannot
#: appear inside a lowercase whitespace-split word
EOW = "</w>"


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """Phase 1: ``(word, freq)`` over the corpus — one explode + one
    map-side-combined count.

    ``min_count`` / ``max_words`` bound the table BEFORE it ever leaves
    the executors: the distinct-word count of a web-scale corpus is
    unbounded (typos, URLs, numbers run it to 10^8-10^9 rows), so the
    trainer must never collect the raw table. ``min_count`` is a
    JVM-side ``HAVING freq >= k``; ``max_words`` is a deterministic
    top-K (freq desc, then word asc — Spark plans it as
    TakeOrderedAndProject, no global sort materialization). Both prune
    only the long tail of hapax words, which standard BPE trainers
    ignore anyway."""
    wf = (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if min_count > 1:
        wf = wf.where(F.col("freq") >= min_count)
    if max_words is not None:
        wf = wf.orderBy(
            F.col("freq").desc(), F.col("word").asc()
        ).limit(max_words)
    return wf


def train_bpe_merges(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Phase 2 (driver-side, vocabulary-sized input): learn up to
    ``n_merges`` merges. Ties break on the smaller pair so training is
    order-independent and deterministic."""
    # each word as a tuple of symbols, char-split + end-of-word marker
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs:
        syms = tuple(list(w) + [EOW])
        vocab[syms] = vocab.get(syms, 0) + int(f)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + f
        if not pairs:
            break
        # max frequency, then lexicographically smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break  # nothing left worth merging
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return merges


def fit(
    docs: DataFrame,
    n_merges: int = 1000,
    text_col: str = "text",
    min_count: int = 1,
    max_words: int | None = 1_000_000,
) -> list[tuple[str, str]]:
    """Train BPE on a corpus: distributed word count, driver-side merge
    loop on the pruned vocab table.

    The collect is BOUNDED: at most ``max_words`` rows reach the driver
    (default 1M — ~10s of MB of short strings, far under any driver
    heap), however large the corpus. On a corpus whose distinct-word
    count is under the cap the pruning is a no-op and training is
    bit-identical to unbounded (pytest-pinned); on a 100 TB web corpus
    it drops only tail words whose frequency can never win a merge.
    Pass ``max_words=None`` to opt out explicitly."""
    wf = [
        (r["word"], r["freq"])
        for r in word_frequencies(
            docs, text_col, min_count=min_count, max_words=max_words
        ).collect()
    ]
    wf.sort()  # layout-independent driver state
    return train_bpe_merges(wf, n_merges)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with learned merges, greedy lowest-rank-first —
    the exact apply rule matching how training merged."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Phase 3: ``(doc_id, tokens array<string>, n_tokens)`` — the merge
    ranks ship in the Arrow kernel's closure (a few KB), documents are
    encoded executor-side in batches, nothing shuffles."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("tokens", ArrayType(StringType())),
            StructField("n_tokens", IntegerType()),
        ]
    )

    def kern(it):
        import pandas as pd

        cache: dict[str, list[str]] = {}
        for pdf in it:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(text, str):
                    rows.append((did, None, None))
                    continue
                toks: list[str] = []
                for w in text.strip().lower().split():
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w, ranks)
                        cache[w] = enc
                    toks.extend(enc)
                rows.append((did, toks, len(toks)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "tokens", "n_tokens"]
            )

    return docs.select(id_col, text_col).mapInPandas(kern, out_schema)
