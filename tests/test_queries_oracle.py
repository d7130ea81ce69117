"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark AND its ``oracle_sql()`` twin on DuckDB over
the same parquet, then compare row count, column names, and
order-insensitive values (exact — floats included, since the engines are
meant to be bit-aligned by construction)."""

import math
import os

import duckdb
import pandas as pd
import pytest

from kenshin_spark.io import TABLES
from kenshin_spark.queries import QUERIES

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: rows whose result is legitimately empty at one testdata scale, so their
#: oracle check passes vacuously there (ROADMAP item 3): no sf0.001 line
#: ships between NATION_1 and NATION_2 in q7's 1996-97 window
EMPTY_AT = {"q7_nation_volume": "sf0.001"}

#: rank/threshold/mean outputs that pass through float aggregation — they
#: must be identical under different shuffle partition counts (different
#: summation orders) or the driver row would be flaky
FLOAT_SENSITIVE = [
    "ts_trend_slope",
    "emb_centroid_outliers",
    "render_most_deviant",
    "render_average_above",
    "render_summarize_avg",
    "render_stddev_series",
    "render_n_percentile",
    "emb_norm_by_label",
    "text_ari_readability",
    "q_quantity_price_corr",
    "q_abc_analysis",
    "ts_autocorr_lag1",
    "ts_mean_crossings",
    "emb_dim_variance_topk",
    "text_zipf_slope",
    "render_average_below",
    "q_event_session_depth",
    "text_brevity_law",
    "emb_distance_histogram",
    "render_series_envelope",
    "render_average_outside_percentile",
]


#: the bench scale (n=2,000 embeddings): the rows the exact-cosine
#: kernels reach are also gated here, where the all-pairs tiling and the
#: self-join's tile skip cover more than one tile per task, and the LSH
#: and SemDeDup verifies stream more than one batch of pairs
SF01_DIR = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.1")
KERNEL_ROWS = [
    "dedup_embedding_neardup",
    "dedup_cross_neardup",
    "sim_topk_bruteforce",
    "sim_knn_graph",
    "sim_lsh_recall_audit",
    "dedup_embedding_lsh",
    "dedup_semantic",
    "dedup_embedding_incremental",
    "emb_nearest_centroid",
    "emb_label_confusion",
    "sim_topk_lsh",
    "sim_topk_ivf",
    "sim_topk_ivf_fullprobe",
    "sim_topk_pq_rerank",
    "sim_range_search",
    "dedup_semantic_cosine_agreement",
]

#: the connected-components rows, gated at the same scale: the forced
#: rows run the distributed star iteration (the over-gate path) on the
#: bench-scale MinHash pair graph, not only on the sf0.001 one
CLUSTER_ROWS = [
    "dedup_clusters",
    "dedup_clusters_star_distributed",
    "dedup_clusters_hybrid_escalation",
    "dedup_clusters_incremental",
    "dedup_cluster_stats",
]


def _connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="module")
def duck():
    con = _connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def duck_sf01():
    if not os.path.isdir(SF01_DIR):
        pytest.skip(f"no testdata at {SF01_DIR}")
    con = _connect(SF01_DIR)
    yield con
    con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # normalize missing markers first: Spark hands None where
            # DuckDB hands NaN (seen with nullable booleans) — astype(str)
            # would sort 'None' and 'nan' differently and misalign rows
            df[c] = df[c].map(
                lambda v: None if v is None or v is pd.NA
                or (isinstance(v, float) and pd.isna(v)) else v
            ).astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


@pytest.mark.parametrize("name", [n for n, s in QUERIES.items() if s.oracle])
def test_query_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, name, SF_DIR)


@pytest.mark.parametrize("name", KERNEL_ROWS + CLUSTER_ROWS)
def test_kernel_rows_match_oracle_at_sf01(spark, duck_sf01, name):
    assert_matches_oracle(spark, duck_sf01, name, SF01_DIR)


def assert_matches_oracle(spark, duck, name, sf_dir):
    spec = QUERIES[name]
    got = spec.fn(spark, sf_dir).toPandas()
    want = duck.sql(spec.oracle).df()

    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rowcount {len(got)} vs {len(want)}"
    if EMPTY_AT.get(name) != os.path.basename(sf_dir.rstrip("/")):
        assert len(got) > 0, f"{name} returns no rows at {sf_dir}"

    # dtype-kind guard (VERDICT r8 item 1): the driver hashes serialized
    # values, so Spark int64 vs oracle float64 is a red row even when the
    # values compare equal below (int == float → True). A null-free column
    # pair may not straddle the int/float divide — that is exactly the
    # HUGEINT→float64 signature. (Columns WITH nulls are exempt: both
    # engines legitimately surface nullable ints as float64/object.)
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if got[c].isna().any() or want[c].isna().any():
            continue
        if (gk in "iu" and wk == "f") or (gk == "f" and wk in "iu"):
            raise AssertionError(
                f"{name}: column {c!r} dtype kind mismatch "
                f"spark={got[c].dtype} oracle={want[c].dtype} — "
                "the driver hash WILL flag this (HUGEINT class, "
                "VERDICT r8); CAST the oracle column AS BIGINT or "
                "align the Spark twin's type"
            )

    g, w = canon(got), canon(want)
    mism = []
    for i in range(len(g)):
        for c in g.columns:
            a, b = g.iloc[i][c], w.iloc[i][c]
            a = None if (a is pd.NA or (isinstance(a, float) and pd.isna(a))) else a
            b = None if (b is pd.NA or (isinstance(b, float) and pd.isna(b))) else b
            if not values_equal(a, b):
                mism.append((i, c, a, b))
                if len(mism) >= 5:
                    break
        if len(mism) >= 5:
            break
    assert not mism, f"{name}: value mismatches {mism}"


@pytest.mark.parametrize("name", [n for n, s in QUERIES.items() if not s.oracle])
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name].fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


@pytest.mark.parametrize("name", FLOAT_SENSITIVE)
def test_float_sensitive_queries_partition_stable(spark, name):
    spec = QUERIES[name]
    base = canon(spec.fn(spark, SF_DIR).toPandas())
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            again = canon(spec.fn(spark, SF_DIR).toPandas())
            assert base.equals(again), f"{name} unstable at {parts} parts"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_bloom_no_false_negatives(spark):
    """Corpus members MUST bloom-hit — exact_dup implies bloom_hit."""
    df = QUERIES["dedup_bloom_prefilter"].fn(spark, SF_DIR)
    rows = df.collect()
    assert any(r["exact_dup"] for r in rows)
    for r in rows:
        if r["exact_dup"]:
            assert r["bloom_hit"], f"false negative for doc {r['doc_id']}"


def test_triage_agrees_with_the_real_ingest_job(spark, tmp_path):
    """The triage row must be a faithful projection of the REAL
    composed job: run StreamingCorpusIngest on the same batch/corpus
    split and compare its per-reason doc sets against the query's
    verdicts (quality thresholds aligned via quality_checks)."""
    from kenshin_spark.bpe import fit
    from kenshin_spark.pipeline import StreamingCorpusIngest
    from kenshin_spark.quality import predicate

    docs = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta", "t"),
            (20, "short doc", "t"),                      # quality
            (30, "the corpus shares this exact sentence body here", "t"),
            (40, "common boilerplate text repeated almost verbatim okay", "t"),
            (1, "unrelated corpus material with plenty of words", "t"),
            (3, "the corpus shares this exact sentence body here", "t"),
            (7, "common boilerplate text repeated almost verbatim yes", "t"),
        ],
        "doc_id long, text string, source string",
    )
    # the registry row's split: batch = doc_id % 10 = 0
    import pyspark.sql.functions as F  # noqa: N812

    # load_table expects the testdata layout: one parquet FILE per table
    tmp = str(tmp_path / "t")
    os.makedirs(tmp)
    docs.toPandas().to_parquet(f"{tmp}/documents.parquet", index=False)
    verdicts = {
        r["doc_id"]: r["reason"]
        for r in QUERIES["pipeline_ingest_triage"]
        .fn(spark, tmp)
        .collect()
    }

    corpus = docs.where("doc_id % 10 <> 0").select(
        "doc_id", "text", "source"
    )
    batch = docs.where("doc_id % 10 = 0").select(
        "doc_id", "text", "source"
    )
    merges = fit(corpus, n_merges=10)
    ing = StreamingCorpusIngest(
        spark, str(tmp_path / "c"), merges,
        quality_checks=[
            predicate(
                r"size(split(trim(text), '\\s+')) >= 5", name="min_tokens"
            )
        ],
    )
    ing.ingest(corpus, 0)   # build the persisted state
    ing.ingest(batch, 1)    # triage the batch

    dead = ing._read("dead").where(
        F.col("batch_id") == 1
    ).withColumn(
        "doc_id", F.get_json_object("row", "$.doc_id").cast("long")
    )
    by_reason = {
        reason: {
            r["doc_id"]
            for r in dead.where(F.col("reason") == reason).collect()
        }
        for reason in ("quality_rejected", "exact_dups", "near_dups")
    }
    admitted = {
        r["doc_id"]
        for r in ing._read("docs").collect()
    } & {r["doc_id"] for r in batch.collect()}

    assert by_reason["quality_rejected"] == {
        d for d, v in verdicts.items() if v == "quality_rejected"
    }
    assert by_reason["exact_dups"] == {
        d for d, v in verdicts.items() if v == "exact_dup"
    }
    assert by_reason["near_dups"] == {
        d for d, v in verdicts.items() if v == "near_dup"
    }
    assert admitted == {
        d for d, v in verdicts.items() if v == "admitted"
    }
