"""Learned-BPE tokenizer: trainer semantics on a known corpus,
determinism, and the distributed apply path."""

import pytest

from kenshin_spark.bpe import (
    EOW,
    encode_word,
    fit,
    tokenize,
    train_bpe_merges,
    word_frequencies,
)


class TestTrainer:
    def test_known_corpus_learns_expected_first_merge(self):
        # classic Sennrich example: pair weights are ('e','s') = 6+3 =
        # 9, ('s','t') = 9, ('t',EOW) = 9, ('l','o') = 7; the three-way
        # 9 tie breaks lexicographically: ('e','s') < ('s','t') <
        # ('t','</w>')
        wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
        merges = train_bpe_merges(wf, 3)
        assert merges[0] == ("e", "s")
        assert merges[1] == ("es", "t")  # now 'est' freq 9
        assert merges[2] == ("est", EOW)

    def test_tie_break_is_deterministic(self):
        wf = [("ab", 3), ("cd", 3)]
        assert train_bpe_merges(wf, 1)[0] == ("a", "b")

    def test_stops_when_no_pair_repeats(self):
        wf = [("a", 1)]  # single symbol + EOW, pair freq 1 < 2
        assert train_bpe_merges(wf, 10) == []

    def test_encode_follows_merge_ranks(self):
        merges = [("e", "s"), ("es", "t"), ("est", EOW), ("l", "o"),
                  ("lo", "w")]
        ranks = {p: i for i, p in enumerate(merges)}
        assert encode_word("lowest", ranks) == ["low", "est" + EOW]
        # unseen word falls back to chars (+ any applicable merges)
        assert encode_word("te", ranks) == ["t", "e", EOW]


class TestDistributed:
    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "low low low low low lower lower"),
                (2, "newest newest newest newest newest newest"),
                (3, "widest widest widest"),
            ],
            "doc_id long, text string",
        )

    def test_word_frequencies(self, docs):
        wf = {r["word"]: r["freq"]
              for r in word_frequencies(docs).collect()}
        assert wf == {"low": 5, "lower": 2, "newest": 6, "widest": 3}

    def test_fit_matches_local_trainer(self, docs):
        wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
        assert fit(docs, n_merges=5) == train_bpe_merges(wf, 5)

    def test_vocab_cap_bounds_the_collect(self, docs):
        """max_words caps what reaches the driver: the frequency top-K
        (freq desc, word asc) with exactly max_words rows."""
        rows = word_frequencies(docs, max_words=2).collect()
        assert len(rows) == 2
        assert {r["word"] for r in rows} == {"newest", "low"}
        # min_count prunes the tail JVM-side
        rows = word_frequencies(docs, min_count=3).collect()
        assert {r["word"] for r in rows} == {"low", "newest", "widest"}

    def test_non_binding_cap_reproduces_unbounded_merges(self, docs):
        """A cap at or above |vocab| must train bit-identically to
        unbounded — pruning only ever drops words, never reorders the
        trainer's deterministic state."""
        unbounded = fit(docs, n_merges=8, max_words=None)
        capped = fit(docs, n_merges=8, max_words=4)       # == |vocab|
        roomy = fit(docs, n_merges=8, max_words=10_000)   # >> |vocab|
        assert capped == unbounded
        assert roomy == unbounded

    def test_binding_cap_still_trains(self, docs):
        """A binding cap trains on the frequency head only (the 100 TB
        posture: tail words can never win a merge anyway)."""
        merges = fit(docs, n_merges=4, max_words=1)
        # only 'newest' (freq 6) survives the cap
        assert merges == train_bpe_merges([("newest", 6)], 4)

    def test_tokenize_roundtrip_properties(self, docs):
        merges = fit(docs, n_merges=8)
        out = {r["doc_id"]: r for r in tokenize(docs, merges).collect()}
        # every doc tokenized, token count positive and consistent
        assert set(out) == {1, 2, 3}
        for r in out.values():
            assert r["n_tokens"] == len(r["tokens"]) > 0
        # detokenization recovers the original words: strip EOW, join,
        # compare against the normalized text
        toks = out[1]["tokens"]
        text = "".join(toks).replace(EOW, " ").strip()
        assert text == "low low low low low lower lower"

    def test_null_text_yields_null_row(self, spark):
        docs = spark.createDataFrame(
            [(1, "ok ok"), (2, None)], "doc_id long, text string"
        )
        merges = fit(docs.where("text IS NOT NULL"), 4)
        out = {r["doc_id"]: r for r in tokenize(docs, merges).collect()}
        assert out[2]["tokens"] is None and out[2]["n_tokens"] is None
        assert out[1]["n_tokens"] > 0

    def test_vocab_and_corpus_compression(self, spark):
        """On the synthetic documents corpus: more merges never increase
        the token count, and the learned vocab is deterministic across
        two fits (layout independence)."""
        from kenshin_spark.io import load_table

        docs = load_table(
            spark, "/root/testdata/sf0.001", "documents"
        ).limit(100)
        m1 = fit(docs, n_merges=50)
        m2 = fit(docs.repartition(7), n_merges=50)
        assert m1 == m2  # layout-independent training

        few = tokenize(docs, m1[:10]).agg({"n_tokens": "sum"}).first()[0]
        many = tokenize(docs, m1).agg({"n_tokens": "sum"}).first()[0]
        assert many <= few


class TestStreamingApply:
    def test_tokenize_runs_on_a_stream(self, spark, tmp_path):
        """The Arrow encoder is a row-local mapInPandas — the SAME call
        tokenizes a streaming DataFrame (the ingest-side use: encode
        documents as they arrive, merges trained offline)."""
        import json
        import os

        from kenshin_spark.bpe import fit, tokenize

        batch = spark.createDataFrame(
            [(1, "low low lower"), (2, "newest widest")],
            "doc_id long, text string",
        )
        merges = fit(batch, n_merges=6)

        in_dir = str(tmp_path / "in")
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "b.jsonl"), "w") as f:
            for i, t in [(10, "low newest"), (11, "widest lower")]:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .json(in_dir)
        )
        q = (
            tokenize(stream, merges)
            .writeStream.format("memory")
            .queryName("bpe_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {r["doc_id"]: r for r in spark.sql(
            "SELECT * FROM bpe_stream").collect()}
        assert set(rows) == {10, 11}
        # stream output matches the batch encoding of the same text
        batch_out = {
            r["doc_id"]: r["tokens"]
            for r in tokenize(
                spark.createDataFrame(
                    [(10, "low newest"), (11, "widest lower")],
                    "doc_id long, text string",
                ),
                merges,
            ).collect()
        }
        for did in (10, 11):
            assert rows[did]["tokens"] == batch_out[did]
