"""Structured Streaming ingest — the rurouni daemon re-expressed.

- ``ingest.StreamingIngest``: the cache/writer pipeline (S1/S4, W1-W3, P4-P6)
"""

from kenshin_spark.streaming.ingest import IngestStats, StreamingIngest

__all__ = ["IngestStats", "StreamingIngest"]
