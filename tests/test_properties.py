"""Property-based tests (hypothesis) — SURVEY §5's extension beyond the
reference's golden cases:

1. fetch(update(P)) ≡ grid(P): for random out-of-order / duplicate / late
   batches, the engine's fetch returns exactly the hand-computed grid.
2. tier i+1 ≡ re-agg of tier i: the downsample cascade commutes with a
   direct one-shot aggregation of the finer tier.
3. store upsert is idempotent and order-insensitive across replays of the
   same batch (the exactly-once claim of the streaming path).
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kenshin_spark.config import Schema
from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.operators.downsample import downsample
from kenshin_spark.operators.fetch import grid_fill
import pytest

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow

BASE_TS = 10_000

point = st.tuples(
    st.sampled_from(["m1", "m2"]),
    st.integers(min_value=BASE_TS, max_value=BASE_TS + 600),  # 10 min span
    st.one_of(st.none(), st.floats(min_value=-100, max_value=100,
                                   allow_nan=False)),
)

batches = st.lists(st.lists(point, min_size=1, max_size=20),
                   min_size=1, max_size=3)


def expected_lww(rows, step):
    """Hand-computed align + last-write-wins by arrival order."""
    out = {}
    for i, (m, ts, v) in enumerate(rows):
        out[(m, ts - ts % step)] = (i, v)
    return {k: v for k, (_, v) in out.items()}


def expected_agg(slots, step, fn):
    """Hand-computed downsample of aligned slots (NULL-ignoring)."""
    groups = {}
    for (m, ts), v in slots.items():
        groups.setdefault((m, ts - ts % step), []).append((ts, v))
    out = {}
    for k, pts in groups.items():
        vals = [v for _, v in sorted(pts) if v is not None]
        out[k] = fn(vals) if vals else None
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(batches=batches)
def test_fetch_equals_grid(spark, batches):
    step = 60
    rows = [p for b in batches for p in b]
    arrival = [(m, ts, v, i) for i, (m, ts, v) in enumerate(rows)]
    df = spark.createDataFrame(
        arrival, "metric string, ts long, value double, arrival long"
    )
    t0 = last_write_wins(df, step, arrival_col="arrival")

    want = expected_lww(rows, step)
    from_t, until_t = BASE_TS, BASE_TS + 660
    grid = grid_fill(t0, ["m1", "m2"], from_t, until_t, step)
    got = {(r["metric"], r["ts"]): r["value"] for r in grid.collect()}

    n_slots = (until_t - from_t) // step
    assert len(got) == 2 * n_slots
    for (m, ts), v in got.items():
        exp = want.get((m, ts))
        if exp is None:
            assert v is None, f"({m},{ts}): got {v}, want NULL"
        else:
            # abs_tol: values in [-100,100] can cancel to ~0, where
            # relative isclose fails on summation-order noise
            assert v is not None and math.isclose(v, exp, abs_tol=1e-9), (
                f"({m},{ts}): got {v}, want {exp}"
            )


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(batches=batches,
       agg=st.sampled_from(["average", "sum", "max", "min", "last"]))
def test_cascade_matches_hand_agg(spark, batches, agg):
    fine, coarse = 60, 300
    rows = [p for b in batches for p in b]
    arrival = [(m, ts, v, i) for i, (m, ts, v) in enumerate(rows)]
    df = spark.createDataFrame(
        arrival, "metric string, ts long, value double, arrival long"
    )
    t0 = last_write_wins(df, fine, arrival_col="arrival")
    t1 = downsample(t0, coarse, agg)

    slots = expected_lww(rows, fine)
    fns = {
        "average": lambda xs: sum(xs) / len(xs),
        "sum": sum,
        "max": max,
        "min": min,
        "last": lambda xs: xs[-1],
    }
    want = expected_agg(slots, coarse, fns[agg])
    want = {k: v for k, v in want.items() if v is not None}
    got = {
        (r["metric"], r["ts"]): r["value"]
        for r in t1.collect()
        if r["value"] is not None
    }
    assert got.keys() == want.keys()
    for k in want:
        assert math.isclose(got[k], want[k], abs_tol=1e-9), (k, got[k], want[k])


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(batch=st.lists(point, min_size=1, max_size=15))
def test_store_upsert_idempotent(spark, tmp_path_factory, batch):
    from kenshin_spark.store import ParquetTieredStore

    schema = Schema.from_strings("s", ".*", "60s:1d", xff=1.0)
    root = str(tmp_path_factory.mktemp("st"))
    store = ParquetTieredStore(spark, schema, root)
    aligned = [(m, ts - ts % 60, v) for m, ts, v in batch]
    # dedup within the batch (upsert expects slot-unique rows)
    slots = {}
    for m, ts, v in aligned:
        slots[(m, ts)] = v
    df = spark.createDataFrame(
        [(m, ts, v) for (m, ts), v in slots.items()],
        "metric string, ts long, value double",
    )
    store.upsert(0, df)
    once = sorted(tuple(r) for r in store.read(0).collect())
    store.upsert(0, df)  # replay the same micro-batch (checkpoint recovery)
    twice = sorted(tuple(r) for r in store.read(0).collect())
    assert once == twice


# -- 4. as-of join ≡ pandas merge_asof ---------------------------------------

asof_rows = st.tuples(
    st.sampled_from(["k1", "k2"]),
    st.integers(min_value=0, max_value=500),
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(asof_rows, min_size=1, max_size=25),
    right=st.lists(asof_rows, min_size=1, max_size=25),
    tolerance=st.one_of(st.none(), st.integers(min_value=0, max_value=100)),
)
def test_asof_matches_pandas_merge_asof(spark, left, right, tolerance):
    """operators/asof.py ≡ pandas.merge_asof (backward, inclusive, by-key,
    tolerance) for random inputs — an independent reference
    implementation of the same published semantics."""
    import pandas as pd

    from kenshin_spark.operators.asof import asof_join

    # merge_asof requires unique right (key, ts) rows for a well-defined
    # match; our operator picks the last row in sort order on duplicates,
    # so dedupe to keep the comparison exact.
    right = sorted(set(right))
    left = sorted(left)
    ldf = spark.createDataFrame(
        [(k, t, float(i)) for i, (k, t) in enumerate(left)],
        "metric string, ts long, lv double",
    )
    rdf = spark.createDataFrame(
        [(k, t, float(100 + i)) for i, (k, t) in enumerate(right)],
        "metric string, ts long, rv double",
    )
    got = {
        (r["metric"], r["ts"], r["lv"]): (r["ts_right"], r["rv"])
        for r in asof_join(ldf, rdf, tolerance=tolerance).collect()
    }

    lp = pd.DataFrame(left, columns=["metric", "ts"])
    lp["lv"] = [float(i) for i in range(len(left))]
    rp = pd.DataFrame(right, columns=["metric", "ts"])
    rp["rv"] = [float(100 + i) for i in range(len(right))]
    merged = pd.merge_asof(
        lp.sort_values("ts", kind="stable"),
        rp.sort_values("ts", kind="stable").rename(columns={"ts": "ts_r"}),
        left_on="ts",
        right_on="ts_r",
        by="metric",
        direction="backward",
        tolerance=tolerance,
    )
    want = {
        (r.metric, int(r.ts), r.lv): (
            None if pd.isna(r.ts_r) else int(r.ts_r),
            None if pd.isna(r.rv) else r.rv,
        )
        for r in merged.itertuples()
    }
    assert got == want


@given(
    series=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.one_of(
                st.none(),
                st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
            ),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ewma_bounded_by_running_extrema(spark, series):
    """EWMA is a convex combination of observed values: every non-NULL
    output lies within the [min, max] of the non-NULL prefix; NULL slots
    emit NULL and leave state untouched."""
    from kenshin_spark.functions.render import ewma

    grid = spark.createDataFrame(
        [("m", ts * 60, v) for ts, v in series],
        "metric string, ts long, value double",
    )
    out = {r["ts"]: r["value"]
           for r in ewma(grid, alpha=0.3).collect()}
    lo = hi = None
    for ts, v in sorted(series):
        if v is None:
            assert out[ts * 60] is None
            continue
        lo = v if lo is None else min(lo, v)
        hi = v if hi is None else max(hi, v)
        got = out[ts * 60]
        assert got is not None
        assert lo - 1e-9 <= got <= hi + 1e-9


@given(
    vals=st.lists(
        st.floats(min_value=-1e5, max_value=1e5,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=30,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_moving_stdev_nonnegative_and_null_rule(spark, vals):
    """Trailing stdev is >= 0 wherever defined, and NULL exactly on the
    first slot (window of one)."""
    from kenshin_spark.functions.render import moving_stdev

    grid = spark.createDataFrame(
        [("m", i * 60, v) for i, v in enumerate(vals)],
        "metric string, ts long, value double",
    )
    rows = sorted(
        moving_stdev(grid, 5).collect(), key=lambda r: r["ts"]
    )
    assert rows[0]["value"] is None
    for r in rows[1:]:
        assert r["value"] is not None and r["value"] >= 0.0


@given(
    vals=st.lists(
        st.floats(min_value=-1e5, max_value=1e5,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=30,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_holt_state_invariants(spark, vals):
    """Holt scan invariants on arbitrary series: deviation is always
    >= 0 and finite; forecast is NULL only on the seed slot; the flag is
    NULL exactly where forecast is."""
    from kenshin_spark.functions.render import holt_linear

    grid = spark.createDataFrame(
        [("m", i * 60, v) for i, v in enumerate(vals)],
        "metric string, ts long, value double",
    )
    rows = sorted(holt_linear(grid).collect(), key=lambda r: r["ts"])
    assert rows[0]["forecast"] is None and rows[0]["aberrant"] is None
    assert rows[0]["deviation"] == 0.0
    for r in rows[1:]:
        assert r["forecast"] is not None
        assert r["aberrant"] is not None
        assert r["deviation"] is not None
        assert r["deviation"] >= 0.0 and math.isfinite(r["deviation"])


# --- substring dedup vs a brute-force python reference ---------------------

_corpus = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=_corpus)
def test_substring_profile_matches_bruteforce(spark, texts):
    """duplicated_ngram_profile ≡ a direct python count of duplicated
    w-token windows, on random tiny-alphabet corpora (small alphabet →
    dup windows arise naturally)."""
    from collections import Counter

    from kenshin_spark.dedup.substring import duplicated_ngram_profile

    w = 3
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["dup_grams"])
        for r in duplicated_ngram_profile(docs, w=w).collect()
    }

    def toks(t):
        t = t.strip()
        return t.split() if t else [""]

    grams = Counter()
    per_doc = {}
    for i, t in enumerate(texts):
        tt = toks(t)
        gs = [tuple(tt[j : j + w]) for j in range(max(0, len(tt) - w + 1))]
        per_doc[i] = gs
        grams.update(gs)
    for i, gs in per_doc.items():
        want_n = len(gs)
        want_dup = sum(1 for g in gs if grams[g] >= 2)
        assert got[i] == (want_n, want_dup), (i, texts)


# --- line-protocol fuzz: arbitrary text never crashes the parser -----------

_line = st.one_of(
    st.text(alphabet=" .-_abc0123456789\t", min_size=0, max_size=30),
    st.builds(
        lambda m, v, t: f"{m} {v} {t}",
        st.sampled_from(["cpu.user", "mem", "a.b.c"]),
        st.floats(allow_nan=False, allow_infinity=False,
                  min_value=-1e6, max_value=1e6),
        st.integers(min_value=0, max_value=2**31),
    ),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lines=st.lists(_line, min_size=1, max_size=20))
def test_line_protocol_total_function(spark, lines):
    """Every input row lands in exactly one bucket (parsed XOR
    dead-letter) — the parser is total: no exception, no dropped rows,
    and well-formed rows always parse."""
    from kenshin_spark.sources.line_protocol import parse_metric_lines

    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    out = parse_metric_lines(df, line_col="line").collect()
    assert len(out) == len(lines)
    for r, raw in zip(out, lines):
        if r["corrupt"] is None:
            # accepted rows always carry a complete point...
            assert r["metric"] is not None
            assert r["ts"] is not None and r["value"] is not None
            # ...and only exactly-3-token lines are accepted
            assert len(raw.split()) == 3
        else:
            # dead letters preserve the raw line for replay
            assert r["corrupt"] == raw


# --- session windows ≡ pandas gap-merge reference --------------------------

_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=7200),       # seconds offset
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_events)
def test_sessionize_matches_gap_merge(spark, evs):
    import datetime as dt

    from kenshin_spark.streaming.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(seconds=s), 1.0) for u, s in evs
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, gap="10 minutes").collect()
    )

    # reference: sort per user, split where gap > 600 s (inclusive merge)
    want = []
    per = {}
    for u, s in sorted(evs):
        per.setdefault(u, []).append(s)
    for u, ss in per.items():
        ss.sort()
        start = prev = ss[0]
        n = 1
        for s in ss[1:]:
            if s - prev > 600:
                want.append((u, start, prev + 600, n))
                start, n = s, 0
            n += 1
            prev = s
        want.append((u, start, prev + 600, n))
    want = sorted(
        (u, t0 + dt.timedelta(seconds=a), t0 + dt.timedelta(seconds=b), n)
        for u, a, b, n in want
    )
    assert got == want, evs


# ---------------------------------------------------------------------------
# BPE trainer/encoder (pure functions — no Spark needed)
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcdef", min_size=1, max_size=8)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(_word, st.integers(1, 20)), min_size=1,
                max_size=20))
def test_bpe_encode_is_lossless(word_freqs):
    """Detokenization inverts encoding for EVERY vocabulary: merges only
    ever concatenate adjacent symbols of the same word, so joining the
    output symbols must reproduce word + EOW exactly."""
    from kenshin_spark.bpe import EOW, encode_word, train_bpe_merges

    merges = train_bpe_merges(word_freqs, n_merges=30)
    ranks = {p: i for i, p in enumerate(merges)}
    for w, _ in word_freqs:
        assert "".join(encode_word(w, ranks)) == w + EOW


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(_word, st.integers(1, 20)), min_size=1,
                max_size=20))
def test_bpe_training_input_order_invariant(word_freqs):
    """The learned merge list must not depend on the order the word
    table arrives in (the distributed collect has no defined order)."""
    from kenshin_spark.bpe import train_bpe_merges

    a = train_bpe_merges(sorted(word_freqs), 15)
    b = train_bpe_merges(list(reversed(sorted(word_freqs))), 15)
    assert a == b


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(_word, st.integers(1, 20)), min_size=1,
                max_size=15))
def test_bpe_more_merges_never_lengthen(word_freqs):
    from kenshin_spark.bpe import encode_word, train_bpe_merges

    merges = train_bpe_merges(word_freqs, 25)
    r_few = {p: i for i, p in enumerate(merges[:5])}
    r_all = {p: i for i, p in enumerate(merges)}
    for w, _ in word_freqs:
        assert len(encode_word(w, r_all)) <= len(encode_word(w, r_few))


# ---------------------------------------------------------------------------
# Connected components: driver union-find and star agree on arbitrary graphs
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=40))
def test_cc_unionfind_star_agree(spark, edges):
    from kenshin_spark.dedup.cluster import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    auto = {
        (r["node"], r["cluster_id"])
        for r in connected_components(df, algorithm="auto").collect()
    }
    star = {
        (r["node"], r["cluster_id"])
        for r in connected_components(df, algorithm="star").collect()
    }
    assert auto == star


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
             min_size=2, max_size=30),
    st.integers(1, 4),
)
def test_incremental_cc_equals_batch_cc(spark, edges, n_batches):
    """Folding any batch split of an edge list through
    incremental_components yields row-identical labels to one
    connected_components run over the whole list — the contract that
    makes per-micro-batch cluster maintenance safe."""
    from kenshin_spark.dedup.cluster import (
        connected_components,
        incremental_components,
    )

    df_all = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {
        (r["node"], r["cluster_id"])
        for r in connected_components(df_all).collect()
    }
    # split into n_batches contiguous chunks (some possibly empty)
    size = max(1, (len(edges) + n_batches - 1) // n_batches)
    chunks = [edges[i: i + size] for i in range(0, len(edges), size)]
    asg = spark.createDataFrame([], "node long, cluster_id long")
    for chunk in chunks:
        if not chunk:
            continue
        asg = incremental_components(
            asg, spark.createDataFrame(chunk, "doc_a long, doc_b long")
        ).localCheckpoint(eager=True)  # state table boundary per batch
    got = {(r["node"], r["cluster_id"]) for r in asg.collect()}
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(0, 20), st.integers(0, 20)),
             min_size=2, max_size=24),
    st.integers(2, 3),
)
def test_component_delta_log_lww_equals_batch_cc(spark, edges, n_batches):
    """The delta variant's contract: per-batch delta rows resolved
    last-writer-wins (highest batch id per node) reproduce the full
    batch-CC labelling — what makes StreamingCorpusIngest's append-only
    clusters log correct."""
    from kenshin_spark.dedup.cluster import (
        connected_components,
        incremental_component_deltas,
        incremental_components,
    )

    df_all = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {
        (r["node"], r["cluster_id"])
        for r in connected_components(df_all).collect()
    }
    size = max(1, (len(edges) + n_batches - 1) // n_batches)
    chunks = [edges[i: i + size] for i in range(0, len(edges), size)]
    asg = spark.createDataFrame([], "node long, cluster_id long")
    log: dict[int, int] = {}  # node -> cluster_id, LWW by batch order
    for chunk in chunks:
        if not chunk:
            continue
        cdf = spark.createDataFrame(chunk, "doc_a long, doc_b long")
        delta = incremental_component_deltas(asg, cdf)
        for r in delta.collect():
            log[r["node"]] = r["cluster_id"]
        asg = incremental_components(asg, cdf).localCheckpoint(eager=True)
    assert {(n, c) for n, c in log.items()} == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.floats(min_value=0.0, max_value=99.999,
                       allow_nan=False, allow_infinity=False),
             min_size=5, max_size=200),
    st.floats(min_value=0.05, max_value=0.95),
)
def test_histogram_quantile_within_one_bin_of_exact(spark, values, q):
    """For in-range data the histogram estimate is the left edge of the
    bucket holding the true q-quantile — within one bin width of the
    exact order statistic, for arbitrary data and q."""
    from kenshin_spark.functions.sketches import (
        histogram_quantile,
        histogram_sketches,
    )

    df = spark.createDataFrame([(v,) for v in values], "v double")
    cells = histogram_sketches(df, "v", lo=0.0, hi=100.0, bins=50)
    got = histogram_quantile(
        cells, q, lo=0.0, hi=100.0, bins=50
    ).first()[0]
    # exact q-quantile as the cumulative-count definition used
    srt = sorted(values)
    import math
    k = max(1, math.ceil(q * len(srt)))
    exact = srt[k - 1]
    assert got - 2.0 <= exact <= got + 2.0  # one 2.0-wide bin


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.dictionaries(st.sampled_from(["a", "b", "c", "d", "e"]),
                    st.integers(1, 5000), min_size=2, max_size=5),
    st.integers(10, 3000),
)
def test_temperature_plan_invariants(spark, sizes, budget):
    """Plan invariants for arbitrary stratum sizes and budgets:
    quotas never exceed the budget in total, every rate is a valid ppm,
    and a stratum's quota never exceeds what a full take could give."""
    from kenshin_spark.pipeline import temperature_mixture_plan

    rows = [(s, i) for s, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    plan = temperature_mixture_plan(df, budget, alpha=0.5).collect()
    assert sum(r["quota"] for r in plan) <= budget
    for r in plan:
        assert 0 <= r["rate_ppm"] <= 1_000_000
        assert r["quota"] <= budget
        if r["rate_ppm"] == 1_000_000:
            assert r["quota"] >= r["n_docs"]  # take-all iff quota covers


# ---------------------------------------------------------------------------
# Render target parser: totality + roundtrip (pure, no Spark)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=60))
def test_parse_target_total(s):
    """Arbitrary input either parses or raises TargetSyntaxError —
    never any other exception (the serving layer's 400 contract)."""
    from kenshin_spark.functions.targets import (
        TargetSyntaxError,
        parse_target,
    )

    try:
        glob, chain = parse_target(s)
    except TargetSyntaxError:
        return
    assert isinstance(glob, str)
    assert all(isinstance(c, tuple) and c for c in chain)


@settings(max_examples=100, deadline=None)
@given(
    st.from_regex(r"[a-z][a-z0-9.]{0,10}(\.\*)?", fullmatch=True),
    st.lists(
        st.sampled_from(
            [("scale", 2.0), ("movingAverage", 3), ("absolute",),
             ("derivative",), ("offset", 1.5), ("keepLastValue",),
             ("timeShift", 60), ("movingSum", 2), ("grep", "a"),
             ("hitcount", 120)]
        ),
        max_size=4,
    ),
)
def test_parse_target_roundtrip(glob, chain):
    """Formatting a (glob, chain) back to the nested-call string and
    re-parsing recovers the same structure."""
    from kenshin_spark.functions.targets import parse_target

    expr = glob
    for fn, *args in chain:
        rendered = ", ".join(
            repr(a) if isinstance(a, str) else str(a) for a in args
        )
        expr = f"{fn}({expr}{', ' if rendered else ''}{rendered})"
    g2, c2 = parse_target(expr)
    assert g2 == glob
    assert [c[0] for c in c2] == [c[0] for c in chain]
    for (_, *want), (_, *got) in zip(chain, c2):
        assert [float(w) if isinstance(w, (int, float)) else w
                for w in want] == [
            float(g) if isinstance(g, (int, float)) else g for g in got
        ]


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abc.*?[]{},-^$", min_size=0, max_size=24))
def test_glob_to_regex_total_and_compiles(pattern):
    """Any glob-ish input (balanced or not) yields a COMPILABLE regex —
    the ADVICE-r3 crash on unbalanced braces/brackets must stay fixed."""
    import re

    from kenshin_spark.operators.maintenance import glob_to_regex

    rx = glob_to_regex(pattern)
    re.compile(rx)  # must not raise


@settings(max_examples=100, deadline=None)
@given(st.from_regex(r"[a-z]{1,4}(\.([a-z]{1,4}|\*))*", fullmatch=True))
def test_glob_to_regex_matches_its_own_literal(g):
    """A glob with only literal segments and '*' wildcards matches the
    string produced by substituting any literal for each '*'."""
    import re

    from kenshin_spark.operators.maintenance import glob_to_regex

    concrete = g.replace("*", "xyz")
    assert re.fullmatch(glob_to_regex(g).rstrip("$").lstrip("^"), concrete)


# ---------------------------------------------------------------------------
# Retention-string parser (pure, no Spark)
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="0123456789smhdwy:,. ", min_size=0, max_size=30))
def test_retention_parser_total(s):
    """Arbitrary retention-ish input either parses to positive
    (sec_per_point, count) pairs or raises ValueError — never any other
    exception, never nonsense values (the config-validation contract)."""
    from kenshin_spark.config import RetentionParser

    try:
        out = RetentionParser.parse_retentions(s)
    except ValueError:
        return
    assert out, "parse succeeded but returned no archives"
    for spp, cnt in out:
        assert isinstance(spp, int) and spp > 0
        assert isinstance(cnt, int) and cnt > 0


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 999),
            st.sampled_from("smhdwy"),
            st.integers(1, 999),
            st.sampled_from("smhdwy"),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_retention_parser_roundtrip_units(specs):
    """Well-formed '<n><unit>:<n><unit>' strings parse with the exact
    unit multipliers (s/m/h/d/w/y), count = retention // precision."""
    from kenshin_spark.config import RetentionParser

    mult = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800,
            "y": 86400 * 365}
    text = ",".join(f"{a}{u1}:{b}{u2}" for a, u1, b, u2 in specs)
    try:
        out = RetentionParser.parse_retentions(text)
    except ValueError:
        # retention shorter than precision is legitimately rejected
        assert any(b * mult[u2] < a * mult[u1] for a, u1, b, u2 in specs)
        return
    assert len(out) == len(specs)
    for (a, u1, b, u2), (spp, cnt) in zip(specs, out):
        assert spp == a * mult[u1]
        assert cnt == (b * mult[u2]) // (a * mult[u1])


# ---------------------------------------------------------------------------
# Migration decoders: totality on arbitrary bytes (pure, no Spark)
# ---------------------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_unpack_whisper_total(blob):
    """Arbitrary bytes either decode or raise struct/Unicode errors
    QUICKLY — corrupt headers claiming huge ring counts must be bounded
    by the blob size, never spun on (the skip_corrupt contract)."""
    import struct as _struct

    from kenshin_spark.sources.whisper import unpack_whisper

    try:
        header, archives = unpack_whisper(blob)
    except (_struct.error, IndexError):
        return
    assert header["archive_count"] == len(archives)
    for a in archives:
        assert len(a["points"]) <= len(blob)


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_unpack_kenshin_total(blob):
    import struct as _struct

    from kenshin_spark.sources.kenshin_hs import unpack_kenshin

    try:
        header, archives = unpack_kenshin(blob)
    except (_struct.error, AssertionError, IndexError,
            UnicodeDecodeError):
        return
    assert header["archive_count"] == len(archives)


# -- per-day compaction is read-invariant -------------------------------------

mor_batches = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["m1", "m2"]),
            st.integers(min_value=0, max_value=4 * 86400 - 1),
            st.one_of(st.none(), st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False)),
        ),
        min_size=1, max_size=6,
    ),
    min_size=1, max_size=5,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(batches=mor_batches, days=st.sets(
    st.integers(min_value=0, max_value=3), min_size=1, max_size=4))
def test_targeted_day_compaction_is_read_invariant(
    spark, tmp_path_factory, batches, days
):
    """Any sequence of mor micro-batch upserts, then compacting ANY
    subset of day partitions, must leave read() exactly unchanged —
    last-write-wins resolution is per (metric, ts) slot and slots never
    span days, so folding one day's log is as correct as folding all."""
    from kenshin_spark.store import ParquetTieredStore

    schema = Schema.from_strings(
        "s", ".*", "60s:30d", xff=1.0, agg_method="last"
    )
    root = str(tmp_path_factory.mktemp("st"))
    store = ParquetTieredStore(spark, schema, root)
    for b in batches:
        slots = {}
        for m, ts, v in b:
            slots[(m, ts - ts % 60)] = v
        store.upsert(0, spark.createDataFrame(
            [(m, ts, v) for (m, ts), v in slots.items()],
            "metric string, ts long, value double",
        ))
    before = sorted(tuple(r) for r in store.read(0).collect())
    store.compact(0, days=sorted(days))
    after = sorted(tuple(r) for r in store.read(0).collect())
    assert after == before
    # compacted, existing days hold exactly one data file
    for r in store.file_report(0):
        if r["day"] in days:
            assert r["n_files"] == 1
