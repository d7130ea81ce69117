"""Golden end-to-end tests ported from the reference suite
(tests/test_storage.py, tests/test_agg.py), run on the shipped write
path: same inputs, same expected grids. Each golden feeds its points to
``StreamingIngest.process_batch`` on the golden's fixed clock, once on a
cow store and once on a mor store, and reads the grid through both
``ParquetTieredStore.fetch`` and ``ArrowReader.fetch``, which must agree.

The reference's ``update(..., mtime)`` argument has no counterpart: the
shipped store re-aggregates every coarse slot a batch touches.

Four goldens differ from the reference grid, and only in the slots that
two documented deviations name. Each keeps the reference grid verbatim
as a module constant and replaces those slots with the value the
engine's rule gives (the rules ``perfbench/oracle.py`` pins):

- W8 (PARITY W8): a batch propagates the still-open timeunit at once,
  where the reference defers it to a later update;
- W5 (PARITY W5): within one batch the later raw ts takes a slot, where
  the reference keeps the larger value.

Metric mapping: the reference packs N "tags" (metric names) per file with
value ``10*j + i`` for metric index j (tests/test_storage.py:33-35); here
each tag is a metric row in the tall model.
"""

import pytest

from kenshin_spark.config import Archive, Schema, SchemaSet
from kenshin_spark.operators.fetch import grid_fill, roundup
from kenshin_spark.store import ArrowReader
from kenshin_spark.streaming.ingest import StreamingIngest

NOW = 1411628779  # fixed `now` used by every reference golden
MODES = ("cow", "mor")
POINT_SCHEMA = "metric string, ts long, value double"
NULL = (None, None)

# the reference's expected grids of the four goldens that deviate
#: tests/test_storage.py:87-97
REF_UPDATE_PROPAGATE = [(5.0, 15.0), (2.0, 12.0), (None, None)]
#: tests/test_storage.py:99-113
REF_NULL_POINT = [(None, None), (2.0, 12.0), (None, None)]
#: tests/test_storage.py:115-125
REF_UPDATE_OLD_POINTS = [
    (12.0, 22.0),
    (10.0, 20.0),
    (7.0, 17.0),
    (None, None),
    (None, None),
]
#: tests/test_storage.py:167-186
REF_LOST_POINTS_UPDATE_PROPAGATE = [
    NULL, NULL, NULL, NULL, NULL,
    (44.0, 54.0), (41.0, 51.0), (38.0, 48.0), (35.0, 45.0), (32.0, 42.0),
    (30.0, 40.0),
    NULL, NULL, NULL, NULL,
    (14.0, 24.0), (11.0, 21.0), (8.0, 18.0), (5.0, 15.0),
    NULL, NULL,
]


def make_schema(archive_list, xff, agg="min"):
    return Schema(
        name="golden",
        pattern=".*",
        archives=tuple(Archive(s, c) for s, c in archive_list),
        xff=xff,
        agg_method=agg,
    )


#: archives (1s,6),(3s,6), xff=1.0, agg=min (tests/test_storage.py:46-52)
SMALL = make_schema([(1, 6), (3, 6)], 1.0)
#: archives (1s,60),(3s,60), xff=5 (tests/test_storage.py:159-165)
LOST = make_schema([(1, 60), (3, 60)], 5.0)


def value(i, j, null_seeds=()):
    """Metric j's value at seed i (tests/test_storage.py:33-35); seeds
    in ``null_seeds`` carry NULL (the reference's NULL_VALUE sentinel,
    tests/test_storage.py:99-113)."""
    return None if i in null_seeds else float(10 * j + i)


def points_df(spark, seeds, num_metrics=2, null_seeds=()):
    """Point i at ts NOW-i with ``value(i, j)`` per metric j."""
    rows = [
        (f"m{j}", NOW - i, value(i, j, null_seeds))
        for i in seeds
        for j in range(num_metrics)
    ]
    return spark.createDataFrame(rows, POINT_SCHEMA)


def ingest(spark, root, schema, mode, *batches):
    """Feed each point frame to ``process_batch`` on a clock fixed at
    NOW; return the schema's store."""
    ing = StreamingIngest(
        spark, SchemaSet((schema,)), str(root / mode), clock=lambda: NOW,
        store_mode=mode,
    )
    for batch_id, points in enumerate(batches):
        ing.process_batch(points, batch_id)
    return ing.store_for(schema)


def as_grid(rows, num_metrics):
    by_ts: dict[int, list] = {}
    for metric, ts, v in rows:
        by_ts.setdefault(ts, [None] * num_metrics)[int(metric[1:])] = v
    return {ts: tuple(v) for ts, v in by_ts.items()}


def run_fetch(store, from_ts, until_ts, now, num_metrics=2):
    """The fetched grid as ``{ts: (value per metric)}``, None outside
    retention; ``store.fetch`` and ``ArrowReader.fetch`` must agree."""
    metrics = [f"m{j}" for j in range(num_metrics)]
    df = store.fetch(metrics, from_ts, until_ts, now)
    served = ArrowReader(store).fetch(metrics, from_ts, until_ts, now)
    if df is None:
        assert served is None
        return None
    grid = as_grid(df.collect(), num_metrics)
    assert as_grid(served, num_metrics) == grid
    return grid


def grid_as_list(result, from_ts, until_ts, step):
    return [result[ts] for ts in range(from_ts, until_ts, step)]


def with_slots(grid, from_ts, step, slots):
    """``grid`` (one entry per ``step`` from ``from_ts``) with the entry
    of each slot in ``slots`` replaced by its value there."""
    out = list(grid)
    for ts, v in slots.items():
        k, rem = divmod(ts - from_ts, step)
        assert rem == 0 and 0 <= k < len(out)
        out[k] = v
    return out


def in_slot(seeds, slot, step):
    return [i for i in seeds if slot <= NOW - i < slot + step]


def propagated(seeds, slot, step, num_metrics=2, null_seeds=()):
    """W8 as shipped: a batch re-aggregates each coarse slot it touches,
    open timeunit included — the min (the goldens' agg) of the slot's
    non-NULL finer points, None when there are none."""
    live = [i for i in in_slot(seeds, slot, step) if i not in null_seeds]
    return tuple(
        min(value(i, j) for i in live) if live else None
        for j in range(num_metrics)
    )


def later_ts_wins(seeds, slot, step, num_metrics=2):
    """W5 as shipped: within one batch the point with the later raw ts
    takes the slot."""
    i = max(in_slot(seeds, slot, step), key=lambda i: NOW - i)
    return tuple(value(i, j) for j in range(num_metrics))


def test_basic_update_fetch(spark, tmp_path):
    # tests/test_storage.py:73-85
    for mode in MODES:
        store = ingest(spark, tmp_path, SMALL, mode, points_df(spark, range(1, 6)))
        res = run_fetch(store, NOW - 5, NOW, NOW)
        expected = [(float(i), float(10 + i)) for i in range(5, 0, -1)]
        assert grid_as_list(res, NOW - 5, NOW, 1) == expected, mode


def test_update_propagate(spark, tmp_path):
    # tests/test_storage.py:87-97; deviates in slot NOW-1 (PARITY W8):
    # the reference defers the open timeunit, the batch propagates it
    seeds = range(1, 7)
    want = with_slots(
        REF_UPDATE_PROPAGATE, NOW - 7, 3, {NOW - 1: propagated(seeds, NOW - 1, 3)}
    )
    for mode in MODES:
        store = ingest(spark, tmp_path, SMALL, mode, points_df(spark, seeds))
        res = run_fetch(store, NOW - 7, NOW, NOW)
        assert grid_as_list(res, NOW - 7, roundup(NOW, 3), 3) == want, mode


def test_null_point(spark, tmp_path):
    # tests/test_storage.py:99-113; deviates in slot NOW-1 (PARITY W8)
    seeds, nulls = range(1, 7), {5, 6}
    want = with_slots(
        REF_NULL_POINT, NOW - 7, 3,
        {NOW - 1: propagated(seeds, NOW - 1, 3, null_seeds=nulls)},
    )
    for mode in MODES:
        store = ingest(
            spark, tmp_path, SMALL, mode,
            points_df(spark, seeds, null_seeds=nulls),
        )
        res = run_fetch(store, NOW - 7, NOW, NOW)
        assert grid_as_list(res, NOW - 7, roundup(NOW, 3), 3) == want, mode


def test_update_old_points(spark, tmp_path):
    # tests/test_storage.py:115-125 — old points land directly in the
    # coarse tier (W4 age routing). Deviates in the first two slots
    # (PARITY W5): each holds two or three of the batch's points, and
    # the later raw ts wins where the reference keeps the larger value.
    seeds = range(7, 13)
    lo = roundup(NOW - 13, 3)
    want = with_slots(
        REF_UPDATE_OLD_POINTS, lo, 3,
        {slot: later_ts_wins(seeds, slot, 3) for slot in (lo, lo + 3)},
    )
    for mode in MODES:
        store = ingest(spark, tmp_path, SMALL, mode, points_df(spark, seeds))
        res = run_fetch(store, NOW - 13, NOW, NOW)
        assert grid_as_list(res, lo, roundup(NOW, 3), 3) == want, mode


def test_fetch_empty_metric(spark, tmp_path):
    # tests/test_storage.py:127-133 — empty series → all-null grid
    for mode in MODES:
        store = ingest(spark, tmp_path, SMALL, mode)
        res = run_fetch(store, NOW - 4, NOW, NOW)
        assert grid_as_list(res, NOW - 4, NOW, 1) == [NULL] * 4, mode


def test_lost_points_update_propagate(spark, tmp_path):
    # tests/test_storage.py:167-186 — gapped, out-of-order batches.
    # Deviates in the last two slots (PARITY W8): the second batch
    # propagates its open timeunit.
    seeds_list = [range(30, 45), range(15)]
    seeds = [i for s in seeds_list for i in s]
    lo, hi = roundup(NOW - 61, 3), roundup(NOW, 3)
    want = with_slots(
        REF_LOST_POINTS_UPDATE_PROPAGATE, lo, 3,
        {slot: propagated(seeds, slot, 3) for slot in (hi - 6, hi - 3)},
    )
    for mode in MODES:
        store = ingest(
            spark, tmp_path, LOST, mode,
            *(points_df(spark, s) for s in seeds_list),
        )
        res = run_fetch(store, NOW - 61, NOW, NOW)
        assert grid_as_list(res, lo, hi, 3) == want, mode


def test_lost_points_special_start_time(spark, tmp_path):
    # tests/test_storage.py:188-205 — batch start exactly on a timeunit
    # boundary must still propagate.
    from_ts = 1411628760
    until_ts = from_ts + 15
    for mode in MODES:
        store = ingest(
            spark, tmp_path, LOST, mode,
            points_df(spark, range(10, 20)), points_df(spark, range(1, 7)),
        )
        res = run_fetch(store, from_ts, until_ts, from_ts + 61)
        assert grid_as_list(res, from_ts, roundup(until_ts, 3), 3) == [
            (17.0, 27.0), (14.0, 24.0), (11.0, 21.0), (10.0, 20.0),
            (5.0, 15.0),
        ], mode


def test_lost_points_basic_update(spark, tmp_path):
    # tests/test_storage.py:207-218 — gap inside one batch
    for mode in MODES:
        store = ingest(spark, tmp_path, LOST, mode, points_df(spark, [1, 2, 4, 5]))
        res = run_fetch(store, NOW - 5, NOW, NOW)
        assert grid_as_list(res, NOW - 5, NOW, 1) == [
            (5.0, 15.0), (4.0, 14.0), NULL, (2.0, 12.0), (1.0, 11.0),
        ], mode


def test_multi_archive_time_range(spark, tmp_path):
    # tests/test_storage.py:221-257 — 3-tier cascade, fetch a sub-range
    # from the coarsest tier.
    schema = make_schema([(1, 60), (3, 60), (6, 60)], 5.0)
    from_ts = 1411628760 - 2 * 6
    until_ts = 1411628760
    for mode in MODES:
        store = ingest(
            spark, tmp_path, schema, mode,
            points_df(spark, range(19, 30), num_metrics=3),
        )
        res = run_fetch(store, from_ts, until_ts, from_ts + 181, num_metrics=3)
        assert grid_as_list(res, from_ts, roundup(until_ts, 6), 6) == [
            (26.0, 36.0, 46.0),
            (20.0, 30.0, 40.0),
        ], mode


def test_agg_goldens(spark, tmp_path):
    # tests/test_agg.py:21-39 — the five agg fns over values 0..9, through
    # the downsample operator and through the store's own propagation:
    # one schema per method, all ten points in one tier-1 slot
    from kenshin_spark.operators.downsample import downsample

    expected = {"average": 4.5, "sum": 45.0, "last": 9.0, "max": 9.0, "min": 0.0}
    rows = [(agg, 100 + i, float(i)) for agg in expected for i in range(10)]
    df = spark.createDataFrame(rows, POINT_SCHEMA)
    for agg, want in expected.items():
        got = downsample(df.where(df.metric == agg), 100, agg).collect()
        assert len(got) == 1 and got[0]["value"] == want, agg
    schemas = SchemaSet(tuple(
        Schema(agg, f"^{agg}$", (Archive(1, 60), Archive(10, 60)), xff=1.0,
               agg_method=agg)
        for agg in expected
    ))
    for mode in MODES:
        ing = StreamingIngest(
            spark, schemas, str(tmp_path / mode), clock=lambda: 110,
            store_mode=mode,
        )
        ing.process_batch(df, 0)
        for schema in schemas.schemas:
            tier1 = ing.store_for(schema).read(1).select("metric", "ts", "value")
            assert [tuple(r) for r in tier1.collect()] == [
                (schema.name, 100, expected[schema.name])
            ], mode


def test_fetch_outside_retention_returns_none(spark, tmp_path):
    # kenshin/storage.py:630-634 — window entirely older than retention
    for mode in MODES:
        store = ingest(spark, tmp_path, SMALL, mode)
        assert run_fetch(store, NOW - 100, NOW - 50, NOW) is None, mode


def test_fetch_inverted_range_raises(spark, tmp_path):
    for mode in MODES:
        store = ingest(spark, tmp_path, SMALL, mode)
        with pytest.raises(ValueError):
            store.fetch(["m0"], NOW, NOW - 5, NOW)
        with pytest.raises(ValueError):
            ArrowReader(store).fetch(["m0"], NOW, NOW - 5, NOW)


def test_fetch_zero_width_window_empty(spark, tmp_path):
    """A window narrower than the tier step containing no step boundary
    rounds to zero width — the reference returns an empty series
    (kenshin/storage.py:646-660); sequence() must not be asked for
    descending bounds (ADVICE r1: IllegalArgumentException)."""
    schema = make_schema([(60, 60), (300, 84)], 1.0)
    # last 30 s: from/until round to the same 60 s boundary
    from_ts = roundup(NOW, 60) - 59
    until_ts = from_ts + 30
    for mode in MODES:
        store = ingest(spark, tmp_path, schema, mode, points_df(spark, range(1, 6)))
        df = store.fetch(["m0"], from_ts, until_ts, NOW)
        assert df is not None and df.count() == 0, mode
        assert df.columns == ["metric", "ts", "value"]
        assert ArrowReader(store).fetch(["m0"], from_ts, until_ts, NOW) == []
        # direct grid_fill with an equal rounded window behaves the same
        assert grid_fill(store.read(0), ["m0"], 121, 130, 60).count() == 0
