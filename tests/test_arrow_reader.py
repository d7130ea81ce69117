"""The serving executor (``store.ArrowReader``) against the Spark
DataFrame API it replaces on the request path: every answer must equal
``store.fetch(...).collect()``, ``read(0).where(metric)`` and
``fetch_glob`` on the same store — a stamped append log and the same
rows in the retired copy-on-write layout, NULLs, NULL overwrites,
same-``_seq`` ties, tier selection, clamping and glob resolution."""

import math

import pytest
from pyspark.sql import functions as F

from _writers import write_cow_layout
from kenshin_spark.config import Schema
from kenshin_spark.serving import HttpFetchServer, store_render_fn
from kenshin_spark.store import ArrowReader, ParquetTieredStore

#: tier 0 keeps 1 day in hourly partitions, tier 1 7 days in daily ones
SCHEMA = Schema.from_strings(
    "s", ".*", "60s:1d,300s:7d", xff=1.0, agg_method="average"
)
DAY = 86400
NOW = 5 * DAY + 1800
METRICS = ["sys.cpu", "sys.mem", "sys.cpu.core0", "app.web", "app.api",
           "n1", "n2"]


def _rows(spark, rows):
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def _fill(spark, st):
    """Tier 0 holds the last 30 h at 60 s, tier 1 the last 6 days at
    300 s; every seventh point is NULL."""
    t0 = [
        (m, NOW - 60 * k, None if k % 7 == 0 else float(k + j))
        for j, m in enumerate(METRICS) for k in range(0, 30 * 60, 3)
    ]
    t1 = [
        (m, NOW - NOW % 300 - 300 * k, None if k % 7 == 0 else float(-k))
        for m in METRICS[:4] for k in range(0, 6 * 288, 5)
    ]
    st.upsert(0, _rows(spark, t0))
    st.upsert(1, _rows(spark, t1))


@pytest.fixture(scope="module", params=["cow", "mor"])
def store(request, spark, tmp_path_factory):
    """``mor``: the store's own stamped append log. ``cow``: the same
    resolved rows in the retired copy-on-write layout (unstamped, one
    row per slot), which every read must still answer identically."""
    tmp = tmp_path_factory.mktemp(request.param)
    st = ParquetTieredStore(spark, SCHEMA, str(tmp / "st"))
    _fill(spark, st)
    slot = NOW - 60 * 3
    # a NULL overwrite, then one batch holding a slot twice: the two
    # rows share a _seq, and the non-NULL one must win the tie
    st.upsert(0, _rows(spark, [("sys.cpu", slot, None)]))
    st.upsert(0, _rows(spark, [
        ("sys.mem", slot, None), ("sys.mem", slot, 4.0),
        ("n1", slot, 2.0), ("n1", slot, 3.0),
    ]))
    if request.param == "mor":
        return st
    cow = ParquetTieredStore(spark, SCHEMA, str(tmp / "cow"))
    write_cow_layout(cow, {0: st.read(0), 1: st.read(1)})
    return cow


@pytest.fixture(scope="module")
def catalog_store(spark, tmp_path_factory):
    st = ParquetTieredStore(
        spark, SCHEMA, str(tmp_path_factory.mktemp("cat") / "st")
    )
    _fill(spark, st)
    # the catalog names a metric with no points (an all-NULL grid) and
    # leaves out one that has points
    st.catalog_add(spark.createDataFrame(
        [(m, "s", 0) for m in METRICS if m != "n2"] + [("n3", "s", 0)],
        "metric string, schema_name string, created_ts long",
    ))
    return st


def _key(row):
    return tuple((v is None, 0 if v is None else v) for v in row)


def _spark_fetch(st, metrics, frm, until, now):
    df = st.fetch(metrics, frm, until, now)
    return None if df is None else sorted(map(tuple, df.collect()), key=_key)


def _arrow_fetch(st, metrics, frm, until, now):
    got = ArrowReader(st).fetch(metrics, frm, until, now)
    return None if got is None else sorted(got, key=_key)


class TestFetchEquality:
    @pytest.mark.parametrize("window", [
        (NOW - 3600, NOW),                 # tier 0
        (NOW - 2 * DAY, NOW - DAY),        # past tier 0's retention: tier 1
        (NOW - 30 * DAY, NOW),             # clamped to the 7 d retention
        (NOW - 3601, NOW - 17),            # bounds off the step
        (NOW + 10, NOW + 100),             # from after now: None
        (NOW - 30 * DAY, NOW - 20 * DAY),  # outside retention: None
        (NOW - 50, NOW - 10),              # zero-width after rounding
    ])
    def test_grid_equals_store_fetch(self, store, window):
        metrics = ["sys.cpu", "sys.mem", "n1", "app.web"]
        want = _spark_fetch(store, metrics, *window, NOW)
        assert _arrow_fetch(store, metrics, *window, NOW) == want

    @pytest.mark.parametrize("window", [
        (NOW - 3600, NOW),
        (NOW - 50, NOW - 10),              # zero-width after rounding
    ])
    def test_empty_metric_list_equals_store_fetch(self, store, window):
        want = _spark_fetch(store, [], *window, NOW)
        assert want == []
        assert _arrow_fetch(store, [], *window, NOW) == want

    def test_outside_retention_and_zero_width_shapes(self, store):
        assert _arrow_fetch(store, ["n1"], NOW + 10, NOW + 100, NOW) is None
        assert _arrow_fetch(store, ["n1"], NOW - 50, NOW - 10, NOW) == []

    def test_duplicate_and_unknown_metrics(self, store):
        metrics = ["n1", "n1", "ghost"]
        want = _spark_fetch(store, metrics, NOW - 3600, NOW, NOW)
        got = _arrow_fetch(store, metrics, NOW - 3600, NOW, NOW)
        assert got == want
        assert len(got) == 3 * 60
        assert all(v is None for m, _, v in got if m == "ghost")
        assert ArrowReader(store).fetch([], NOW - 3600, NOW, NOW) == []

    def test_nulls_overwrite_and_tie(self, store):
        slot = NOW - 60 * 3
        got = {
            (m, ts): v for m, ts, v in ArrowReader(store).fetch(
                ["sys.cpu", "sys.mem", "n1"], slot, slot + 60, NOW
            )
        }
        assert got == {
            ("sys.cpu", slot): None, ("sys.mem", slot): 4.0,
            ("n1", slot): 3.0,
        }

    def test_inverted_window_raises_and_answers_400(self, store):
        with pytest.raises(ValueError):
            ArrowReader(store).fetch(["n1"], NOW, NOW - 60, NOW)
        with pytest.raises(ValueError):
            store.fetch(["n1"], NOW, NOW - 60, NOW)
        import urllib.error
        import urllib.request

        from kenshin_spark.serving import store_serving_fns

        _, fetch_fn = store_serving_fns(store, reader=store)
        http = HttpFetchServer(fetch_fn)
        host, port = http.start()
        try:
            with pytest.raises(urllib.error.HTTPError) as err:
                urllib.request.urlopen(
                    f"http://{host}:{port}/fetch?metric=n1"
                    f"&from={NOW}&until={NOW - 60}&now={NOW}"
                )
            assert err.value.code == 400
        finally:
            http.stop()


class TestLookupEquality:
    @pytest.mark.parametrize("metric", ["sys.cpu", "sys.mem", "n1", "ghost"])
    def test_lookup_equals_tier0_read(self, store, metric):
        want = sorted(
            (r["ts"], r["value"])
            for r in store.read(0).where(F.col("metric") == metric).collect()
        )
        assert ArrowReader(store).lookup(metric) == want


GLOBS = ["sys.*", "sys.cpu.*", "n?", "app.{web,api}", "n[12]", "*.{cpu,x}",
         "nomatch.*"]


class TestGlobEquality:
    @staticmethod
    def _compare(st, glob, frm):
        arrow = ArrowReader(st)
        plan = st.fetch_plan(frm, NOW, NOW)
        got = sorted(arrow.grid(plan, arrow.glob(glob, plan.seq)), key=_key)
        want = sorted(
            map(tuple, st.fetch_glob(glob, frm, NOW, NOW).collect()), key=_key
        )
        assert got == want

    @pytest.mark.parametrize("glob", GLOBS)
    def test_tier0_fallback(self, store, glob):
        assert not store._has_catalog()
        self._compare(store, glob, NOW - 3600)

    @pytest.mark.parametrize("glob", GLOBS)
    def test_catalog(self, catalog_store, glob):
        assert catalog_store._has_catalog()
        self._compare(catalog_store, glob, NOW - 2 * DAY)

    def test_glob_reads_the_pinned_seq(self, spark, tmp_path):
        st = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "pin"))
        st.upsert(0, _rows(spark, [("a.x", NOW - 60, 1.0)]))
        seq = st.commit.epoch()
        st.upsert(0, _rows(spark, [("a.y", NOW - 60, 2.0)]))
        arrow = ArrowReader(st)
        assert arrow.glob("a.*", seq) == ["a.x"]
        assert arrow.glob("a.*", st.commit.epoch()) == ["a.x", "a.y"]


class TestRenderEquality:
    @pytest.mark.parametrize("target", [
        "app.{web,api}", "sumSeries(sys.*)", "absolute(scale(n?,-2))",
    ])
    def test_render_equals_fetch_glob_chain(self, store, target):
        from kenshin_spark.functions.render import apply_chain
        from kenshin_spark.functions.targets import parse_target

        glob, chain = parse_target(target)
        grid = store.fetch_glob(glob, NOW - 3600, NOW, NOW)
        want = [
            tuple(r) for r in apply_chain(grid, chain)
            .orderBy("metric", "ts").collect()
        ]
        got = store_render_fn(store, reader=store)(
            target, NOW - 3600, NOW, NOW
        )
        assert len(got) == len(want) > 0
        for (gm, gt, gv), (wm, wt, wv) in zip(got, want):
            assert (gm, gt) == (wm, wt)
            assert (gv is None and wv is None) or math.isclose(gv, wv)


def test_unopenable_root_raises_at_construction(spark, tmp_path):
    st = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "ok"))
    st.root = "nosuchscheme://bucket/st"
    with pytest.raises(ValueError, match="Unrecognized filesystem"):
        ArrowReader(st)
