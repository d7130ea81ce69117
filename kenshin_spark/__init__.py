"""kenshin_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of douban/Kenshin (a Graphite-ecosystem
fixed-size time-series store), re-expressed Spark-first.

The reference (at /root/reference, cited throughout as ``file:line``) is a
single-node file-format engine; this package keeps its *semantics* —
retention policies, write-time downsampling with five aggregation functions,
last-write-wins alignment, age-based resolution selection, regular-grid
fetch with NULL fill — but expresses every operator as a declarative
DataFrame plan so Catalyst/Tungsten/AQE pick the physical strategy and the
same code scales from local[32] to a 1000-executor cluster over 100 TB.

Data model: a tall/narrow points table ``(metric STRING, ts BIGINT
epoch-seconds, value DOUBLE)`` replaces the reference's N-metrics-per-file
packed rows (kenshin/storage.py:21-55); columnar Parquet + partition pruning
replace the co-location trick (README.md:63-71).
"""

from kenshin_spark.config import (
    AGG_REGISTRY,
    Archive,
    RetentionParser,
    Schema,
    SchemaSet,
    parse_storage_schemas,
    validate_archive_list,
)
from kenshin_spark.store import ParquetTieredStore

__version__ = "0.1.0"

__all__ = [
    "AGG_REGISTRY",
    "Archive",
    "RetentionParser",
    "Schema",
    "SchemaSet",
    "ParquetTieredStore",
    "parse_storage_schemas",
    "validate_archive_list",
    "__version__",
]
