from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.operators.asof import asof_join
from kenshin_spark.operators.downsample import cascade, downsample
from kenshin_spark.operators.fetch import fetch, grid_fill, select_archive
from kenshin_spark.operators.retention import apply_retention

__all__ = [
    "asof_join",
    "last_write_wins",
    "downsample",
    "cascade",
    "fetch",
    "grid_fill",
    "select_archive",
    "apply_retention",
]
