"""S2 — pickle batch source.

Reference: length-prefixed pickled ``[(metric, (ts, value)), ...]`` batches
on port 2004, max 2 MB per message (rurouni/protocols.py:45-62).

Spark mapping: a Kafka (or binary-file) source delivers each pickled batch
as one ``binary`` value; an Arrow-batched ``mapInPandas`` unpickles and
explodes it to point rows. Python is unavoidable here (pickle IS Python),
but it runs vectorized per Arrow batch, not per row, and only at the edge —
everything downstream is JVM-side.

Security note: the wire format is pure containers + scalars
(``[(str, (int, float)), ...]``), so deserialization uses a restricted
Unpickler that refuses ALL global lookups — a crafted payload cannot make
executors import or call anything (generic ``pickle.loads`` would). The
reference trusts its LAN peers (rurouni/protocols.py:45-62); we don't
have to.
"""

from __future__ import annotations

import io
import pickle
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

POINT_SCHEMA = "metric string, ts long, value double"


class _RestrictedUnpickler(pickle.Unpickler):
    """The point wire format needs no classes or functions: any GLOBAL /
    STACK_GLOBAL opcode (the arbitrary-code-execution vector) is refused
    and the batch is dropped as corrupt."""

    def find_class(self, module: str, name: str):  # noqa: ARG002
        raise pickle.UnpicklingError(
            f"global '{module}.{name}' forbidden by the point wire format"
        )


def _safe_loads(blob: bytes):
    return _RestrictedUnpickler(io.BytesIO(blob)).load()


def _unpickle_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list[tuple[str, int, float]] = []
        for blob in pdf["payload"]:
            if blob is None:
                continue
            try:
                datapoints = _safe_loads(bytes(blob))
            except Exception:
                continue  # corrupt/forbidden batch → dropped
            for metric, (ts, value) in datapoints:
                rows.append((str(metric), int(ts), None if value is None else float(value)))
        yield pd.DataFrame(rows, columns=["metric", "ts", "value"])


def parse_pickle_batches(blobs: DataFrame, payload_col: str = "payload") -> DataFrame:
    """``(payload: binary)`` → ``(metric, ts, value)`` points."""
    src = blobs.withColumnRenamed(payload_col, "payload") if payload_col != "payload" else blobs
    return src.select("payload").mapInPandas(_unpickle_batches, POINT_SCHEMA)


def pack_points_to_batches(points: DataFrame, batch_size: int = 500) -> DataFrame:
    """Producer side, distributed: pack a points frame into the wire
    format, ``batch_size`` points per pickled blob, one group per input
    partition (applyInPandas — packing never leaves the executors).

    The streaming senders in the reference do exactly this per connection
    (examples/metric_stresser.py pickle mode)."""
    import pickle as _pickle

    from pyspark.sql import functions as F

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = list(zip(pdf["metric"], pdf["ts"], pdf["value"]))
        blobs = []
        for i in range(0, len(rows), batch_size):
            batch = [
                (str(m), (int(t), None if pd.isna(v) else float(v)))
                for m, t, v in rows[i : i + batch_size]
            ]
            blobs.append(_pickle.dumps(batch, protocol=2))
        return pd.DataFrame({"payload": blobs})

    from kenshin_spark.dedup.fanout import fan_out

    return (
        # fan_out: a single-partition input would otherwise collapse into
        # ONE pack group (spark_partition_id is the group key) and pack
        # serially on one core
        fan_out(points.select("metric", "ts", "value"))
        .groupBy(F.spark_partition_id().alias("_p"))
        .applyInPandas(pack, "payload binary")
    )
