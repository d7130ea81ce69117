"""Registry lint: no registered oracle may emit a DuckDB
HUGEINT/UHUGEINT column (VERDICT r8 "What's wrong" #1 — DuckDB's pandas
conversion renders HUGEINT as float64 while the Spark twin hands int64,
so the driver's value hash flags equal values as mismatched).

Runs the same check as ``tools/lint_oracles.py`` over ``QUERIES``, plus a
deliberately uncast fixture proving the lint actually bites.
"""

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from lint_oracles import BAD_TYPES, iter_specs  # noqa: E402

from kenshin_spark.io import TABLES  # noqa: E402
from kenshin_spark.oracle_types import cast_bigint_cols  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_no_oracle_emits_hugeint(duck):
    flagged = []
    for name, spec in iter_specs():
        if not spec.oracle:
            continue
        rel = duck.sql(spec.oracle)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).upper() in BAD_TYPES:
                flagged.append((name, col, str(typ)))
    assert not flagged, (
        "HUGEINT oracles (CAST AS BIGINT or add the columns to "
        f"queries._common._BIGINT_CASTS): {flagged}"
    )


def test_lint_bites_on_uncast_sum(duck):
    """A deliberately uncast sum() must be flagged by the same check."""
    rel = duck.sql("SELECT sum(r_regionkey) AS n FROM region")
    assert str(rel.types[0]).upper() in BAD_TYPES
    # pandas renders it float64 — the exact driver-hash hazard
    assert rel.df()["n"].dtype.kind == "f"
    # and the fix restores int64
    fixed = duck.sql(
        cast_bigint_cols("SELECT sum(r_regionkey) AS n FROM region", ["n"])
    )
    assert str(fixed.types[0]).upper() == "BIGINT"
    assert fixed.df()["n"].dtype.kind == "i"
