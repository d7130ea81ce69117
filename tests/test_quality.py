"""Deequ-lite constraint checker: semantics + the single-pass plan
contract (every row-local check fuses into ONE scan/aggregate)."""

import pytest

from kenshin_spark.quality import (
    DOCUMENT_CHECKS,
    in_range,
    matches,
    min_distinct_ratio,
    not_null,
    predicate,
    unique,
    validate,
    violations,
)


@pytest.fixture()
def tbl(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", "en", 5),
            (2, None, "en", 4),       # null text
            (3, "gamma", "EN", 5),    # bad lang case
            (3, "delta", "fr", 500),  # dup id + out-of-range n_chars
            (5, "", "de", 0),         # empty text
        ],
        "doc_id long, text string, lang string, n_chars long",
    )


class TestRowLocalChecks:
    def test_not_null(self, spark, tbl):
        rep = {r["check"]: r for r in validate(tbl, [not_null("text")]).collect()}
        row = rep["not_null(text)"]
        assert row["passed"] is False
        assert row["n_violations"] == 1 and row["n_rows"] == 5

    def test_in_range_ignores_nulls(self, spark):
        t = spark.createDataFrame(
            [(1, None), (2, 10)], "id long, v long"
        )
        rep = validate(t, [in_range("v", 0, 100)]).first()
        assert rep["passed"] is True  # NULL does not violate a range

    def test_matches_and_predicate(self, tbl):
        rep = {
            r["check"]: r
            for r in validate(
                tbl,
                [
                    matches("lang", "^[a-z]{2}$"),
                    predicate("length(text) > 0", name="non_empty"),
                ],
            ).collect()
        }
        assert rep["matches(lang,^[a-z]{2}$)"]["n_violations"] == 1  # "EN"
        # empty string AND the NULL text both fail the predicate
        assert rep["non_empty"]["n_violations"] == 2

    def test_unique_counts_all_dup_rows(self, tbl):
        row = validate(tbl, [unique("doc_id")]).first()
        assert row["passed"] is False
        assert row["n_violations"] == 2  # both rows of the dup key

    def test_distinct_ratio_sketch(self, spark):
        t = spark.createDataFrame(
            [(i % 10,) for i in range(100)], "k long"
        )
        ok = validate(t, [min_distinct_ratio("k", 0.05)]).first()
        bad = validate(t, [min_distinct_ratio("k", 0.5)]).first()
        assert ok["passed"] is True
        assert bad["passed"] is False

    def test_suite_gate_and_document_defaults(self, spark, tbl):
        rep = validate(tbl, DOCUMENT_CHECKS)
        assert not all(r["passed"] for r in rep.collect())
        clean = spark.createDataFrame(
            [(1, "good text", "en", 9), (2, "more", "fr", 4)],
            "doc_id long, text string, lang string, n_chars long",
        )
        assert all(r["passed"] for r in validate(clean, DOCUMENT_CHECKS).collect())

    def test_violations_view(self, tbl):
        rows = violations(tbl, not_null("text")).collect()
        assert [r["doc_id"] for r in rows] == [2]
        dups = violations(tbl, unique("doc_id")).collect()
        assert sorted(r["text"] for r in dups) == ["delta", "gamma"]

    def test_empty_table(self, spark):
        t = spark.createDataFrame([], "id long, v long")
        rep = validate(
            t, [not_null("v"), unique("id"), min_distinct_ratio("v", 1.0)]
        )
        assert all(r["passed"] for r in rep.collect())


class TestSinglePassPlan:
    def test_row_local_checks_fuse_into_one_scan(self, spark, tbl):
        """The whole row-local suite (+ sketches) must compile to ONE
        aggregate over ONE scan — the property that makes the gate
        affordable at 100 TB. Asserted on the logical plan of the fused
        aggregation the way validate() builds it."""
        from pyspark.sql import functions as F

        checks = [
            not_null("text"),
            in_range("n_chars", 0, 10),
            matches("lang", "^[a-z]{2}$"),
            predicate("length(text) > 0"),
            min_distinct_ratio("doc_id", 0.5),
        ]
        aggs = [F.count(F.lit(1)).alias("_n")]
        for i, c in enumerate(checks[:-1]):
            aggs.append(F.sum(c.violation_expr().cast("long")).alias(f"_v{i}"))
        aggs.append(F.approx_count_distinct("doc_id").alias("_d0"))
        plan = (
            tbl.agg(*aggs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan") <= 1
        assert "Exchange" not in plan or plan.count("Exchange") <= 1


class TestCliValidate:
    def test_validate_verb_gate_semantics(self, spark, tmp_path, capsys):
        import json as _json

        import pytest as _pytest

        from kenshin_spark import cli

        good = str(tmp_path / "good.parquet")
        spark.createDataFrame(
            [(1, "text a", "en", 6), (2, "text b", "fr", 6)],
            "doc_id long, text string, lang string, n_chars long",
        ).write.parquet(good)
        cli.main(["--root", "/unused", "--cpus", "2",
                  "validate", "--table", good])
        out = capsys.readouterr().out
        rows = [_json.loads(line) for line in out.strip().splitlines()]
        assert all(r["passed"] for r in rows)

        bad = str(tmp_path / "bad.parquet")
        spark.createDataFrame(
            [(1, None, "en", 6), (1, "x", "EN", 6)],
            "doc_id long, text string, lang string, n_chars long",
        ).write.parquet(bad)
        with _pytest.raises(SystemExit) as ei:
            cli.main(["--root", "/unused", "--cpus", "2",
                      "validate", "--table", bad])
        assert ei.value.code == 1

    def test_validate_custom_checks_json(self, spark, tmp_path, capsys):
        import json as _json

        from kenshin_spark import cli

        t = str(tmp_path / "t.parquet")
        spark.createDataFrame(
            [(1, 5.0), (2, 50.0)], "id long, v double"
        ).write.parquet(t)
        checks = _json.dumps(
            [{"kind": "in_range", "column": "v", "lo": 0, "hi": 100},
             {"kind": "unique", "column": "id"}]
        )
        cli.main(["--root", "/unused", "--cpus", "2",
                  "validate", "--table", t, "--checks", checks])
        rows = [_json.loads(line)
                for line in capsys.readouterr().out.strip().splitlines()]
        assert {r["check"] for r in rows} == {
            "in_range(v,0,100)", "unique(id)"
        }
        assert all(r["passed"] for r in rows)
