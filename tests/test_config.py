"""Config-layer unit tests, porting the reference's parser/validator
semantics (kenshin/storage.py:130-270, rurouni/storage.py:185-210,
kenshin/agg.py)."""

import pytest

from kenshin_spark.config import (
    AGG_REGISTRY,
    Archive,
    RetentionParser,
    Schema,
    SchemaSet,
    agg_id,
    propagation_timeunit,
    validate_archive_list,
)


def test_parse_time_str():
    # doctest cases from kenshin/storage.py:154-160
    assert RetentionParser.parse_time_str("10s") == 10
    assert RetentionParser.parse_time_str("12h") == 43200
    assert RetentionParser.parse_time_str("2d") == 172800
    assert RetentionParser.parse_time_str("25w") == 25 * 7 * 86400
    assert RetentionParser.parse_time_str("5y") == 5 * 365 * 86400
    assert RetentionParser.parse_time_str("7") == 7  # bare int = seconds


def test_parse_retention_def():
    assert RetentionParser.parse_retention_def("10s:12h") == (10, 4320)
    assert RetentionParser.parse_retention_def("1s:6") == (1, 6)  # count form
    assert RetentionParser.parse_retentions("1s:1h,6s:2h") == [(1, 3600), (6, 1200)]


def test_agg_registry_ids():
    # kenshin/agg.py:9-36 — order defines ids
    assert AGG_REGISTRY == ("average", "sum", "last", "max", "min")
    assert agg_id("average") == 0 and agg_id("min") == 4


@pytest.mark.parametrize(
    "archives,xff,err",
    [
        ([], 1.0, "at least one"),
        ([Archive(10, 100), Archive(10, 200)], 1.0, "strictly increasing"),
        ([Archive(10, 100), Archive(25, 200)], 1.0, "not a multiple"),
        ([Archive(10, 100), Archive(20, 40)], 1.0, "longer interval"),
        ([Archive(1, 5), Archive(3, 100)], 5.0, "needs at least"),
    ],
)
def test_validate_archive_list_rejects(archives, xff, err):
    with pytest.raises(ValueError, match=err):
        validate_archive_list(archives, xff)


def test_validate_archive_list_accepts_reference_configs():
    validate_archive_list([Archive(1, 3600), Archive(6, 1200)], 1.0)
    validate_archive_list(
        [Archive(10, 4320), Archive(60, 2880), Archive(300, 2016),
         Archive(900, 16800), Archive(43200, 3650)],
        20.0,
    )


def test_schema_first_regex_wins():
    # the example production config (conf/storage-schemas.conf.example:22-44)
    ss = SchemaSet((
        Schema.from_strings("metric-test", r".*metric_test.*", "1s:1h,6s:2h",
                            xff=1.0),
        Schema.from_strings("rurouni-stats", r"^rurouni\.",
                            "60s:2d,300s:7d,15m:25w,12h:5y", xff=20.0),
        Schema.from_strings("default", r".*",
                            "10s:12h,60s:2d,300s:7d,15m:25w,12h:5y",
                            xff=20.0),
    ))
    assert ss.match("foo.metric_test.bar").name == "metric-test"
    assert ss.match("rurouni.cache.size").name == "rurouni-stats"
    assert ss.match("sys.cpu.user").name == "default"


def test_propagation_timeunit():
    # kenshin/storage.py:505-508: ceil(low/high * xff) * high
    assert propagation_timeunit(1.0, 1, 3) == 3
    assert propagation_timeunit(20.0, 10, 60) == 1200
    assert propagation_timeunit(5.0, 1, 3) == 15
    assert propagation_timeunit(20.0, 60, 300) == 100 * 60


def test_schema_from_strings_validates():
    with pytest.raises(ValueError):
        Schema.from_strings("bad", ".*", "10s:1h,25s:2h")
