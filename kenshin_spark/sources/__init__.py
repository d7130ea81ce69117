from kenshin_spark.sources.kenshin_hs import (
    read_kenshin_headers,
    read_kenshin_points,
)
from kenshin_spark.sources.line_protocol import events_as_points, parse_metric_lines
from kenshin_spark.sources.pickle_batch import parse_pickle_batches
from kenshin_spark.sources.whisper import (
    read_whisper_headers,
    read_whisper_points,
)

__all__ = [
    "parse_metric_lines",
    "events_as_points",
    "parse_pickle_batches",
    "read_whisper_points",
    "read_whisper_headers",
    "read_kenshin_points",
    "read_kenshin_headers",
]
