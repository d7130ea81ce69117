#!/usr/bin/env python
"""Lint every registry oracle for DuckDB result types that round-trip
wrongly through pandas into the driver's value hash.

The class (VERDICT r8, "What's wrong" #1): DuckDB types an uncast
``sum(CASE ...)`` or integer ``//`` division as HUGEINT, and DuckDB's
pandas conversion renders HUGEINT as float64 — so the oracle hands the
driver ``2941.0`` while the Spark twin hands LongType ``2941``. Equal
values, different serialized hash → a red ``hash_match`` row that the
loose ``int == float`` local comparison can never catch.

This lint runs ``duckdb.sql(oracle)`` against the sf0.01 views and flags
any HUGEINT/UHUGEINT output column. Fix = ``CAST(... AS BIGINT)`` in the
oracle (every flagged column is a count/ppm far below 2^63).

Exit status 1 if anything is flagged — wired into the tier-1 tests via
tests/test_oracle_types.py so the class stays dead.

Usage:  python tools/lint_oracles.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

from kenshin_spark.io import TABLES  # noqa: E402

BAD_TYPES = {"HUGEINT", "UHUGEINT"}


def iter_specs():
    from kenshin_spark.queries import QUERIES

    return QUERIES.items()


def main(argv: list[str]) -> int:
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.01"
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    flagged: list[tuple[str, str, str]] = []
    errors: list[tuple[str, str]] = []
    total = 0
    for name, spec in iter_specs():
        if not spec.oracle:
            continue
        total += 1
        try:
            rel = con.sql(spec.oracle)
            for col, typ in zip(rel.columns, rel.types):
                if str(typ).upper() in BAD_TYPES:
                    flagged.append((name, col, str(typ)))
        except Exception as exc:  # pragma: no cover - lint report path
            errors.append((name, str(exc).splitlines()[0]))
    con.close()

    for name, col, typ in flagged:
        print(f"HUGEINT  {name:40s} col={col} type={typ}")
    for name, err in errors:
        print(f"ERROR    {name:40s} {err}")
    print(
        f"-- linted {total} oracles: {len(flagged)} flagged columns, "
        f"{len(errors)} errors"
    )
    return 1 if flagged or errors else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
