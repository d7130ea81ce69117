"""Oracle result-type normalization.

The driver's correctness gate hashes the DuckDB oracle result and the
Spark result after a pandas round-trip. DuckDB types an uncast
``sum(<int expr>)`` — and any integer ``//`` division derived from one —
as HUGEINT, and DuckDB's pandas conversion renders HUGEINT as float64,
while the Spark twin hands int64. Equal values, different serialized
bytes → a red ``hash_match`` row (VERDICT r8 "What's wrong" #1:
``q_zero_discount_share``, plus 78 latent staged rows).

:func:`cast_bigint_cols` is the uniform fix: wrap the oracle in a
``SELECT * REPLACE (CAST(col AS BIGINT) AS col, ...)`` shell so the
flagged columns come back as int64. Every flagged column is a count /
ppm / pixel-sum far below 2**63, so the cast is lossless. Column order
and names are preserved (``* REPLACE`` keeps the projection).

Exactness note for the Spark twins: most ppm twins compute
``floor(sum * 1000000 / count)`` over doubles. Double floor-division is
exact whenever ``numerator < 2**52`` (the true quotient and the rounded
double can only disagree when ``b * v > 2**52``); our counts keep the
numerator below ~1e13 even at sf100, so no twin rewrite is needed —
except ``q_zero_discount_share`` which was switched to integer ``div``
as the belt-and-braces anchor of the family.

``queries._common.register`` applies it to the oracles listed in
``_BIGINT_CASTS``; ``tools/lint_oracles.py`` (also run as
``tests/test_oracle_types.py``) keeps the class dead: no registered
oracle may emit HUGEINT/UHUGEINT.
"""

from __future__ import annotations

from typing import Iterable


def cast_bigint_cols(sql: str, cols: Iterable[str]) -> str:
    """Wrap *sql* so each named output column is CAST to BIGINT."""
    replace = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
    return (
        f"SELECT * REPLACE ({replace})\n"
        f"FROM (\n{sql}\n) AS _bigint_norm"
    )
