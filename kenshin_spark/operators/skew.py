"""Skew handling: a deterministic salt for hot keys.

At 100 TB a handful of metrics can carry orders of magnitude more rows
than the median — one reducer drags the whole stage. ``with_salt`` is the
first half of the salt-and-merge pattern: ``last_write_wins(skew_salts=)``
groups by (key, salt) to spread a hot key over several reducers, then
merges the partial winners per key.

The salt is xxhash64 of the row's columns, not rand(), so replays and
retries produce identical partitions — the same discipline the engine
applies everywhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, n_salts): xxhash64 over all columns."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(n_salts))
    )
