"""P1/P2 — fnv1a-32 metric hashing and instance sharding.

Reference: a Cython fnv1a (rurouni/fnv1a.pyx:6-23) routes each metric to an
instance via ``fnv1a(metric) % NUM_ALL_INSTANCE`` (rurouni/utils.py:107-108);
golden vectors in tests/test_fnv1a.py:15-26. The hash returns the uint32
digest reinterpreted as *signed* int32, and Python's floor-mod of that
signed value picks the shard.

In Spark the shuffle IS the router — ``df.repartition(n, col)`` with any
hash. fnv1a only matters for byte-compatible placement parity with a live
reference fleet, so we provide it both as plain Python (driver-side,
golden-testable) and as an Arrow-vectorized pandas_udf (executor-side).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

FNV1A_OFFSET = 0x811C9DC5
FNV1A_PRIME = 0x01000193


def fnv1a_32(data: bytes | str) -> int:
    """fnv1a-32 digest as signed int32 (rurouni/fnv1a.pyx:6-23).

    >>> fnv1a_32("") == -2128831035  # 0x811c9dc5 as signed
    True
    """
    if isinstance(data, str):
        data = data.encode("utf-8")
    h = FNV1A_OFFSET
    for b in data:
        h ^= b
        h = (h * FNV1A_PRIME) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


@pandas_udf(IntegerType())
def fnv1a_udf(s: pd.Series) -> pd.Series:
    """Vectorized fnv1a-32 (signed) over a string column."""
    return s.map(lambda x: fnv1a_32(x) if x is not None else None).astype("Int32")


def shard_of(metric: Column | str, num_instances: int) -> Column:
    """Instance routing ``fnv1a(metric) % N`` with Python floor-mod
    semantics on the signed digest (rurouni/utils.py:107-108)."""
    col = F.col(metric) if isinstance(metric, str) else metric
    return F.pmod(fnv1a_udf(col), F.lit(num_instances)).alias("shard")
