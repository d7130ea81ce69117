"""S8 — instrumentation via StreamingQueryListener + observe().

Reference: rurouni records counters (metricsReceived, committedPoints,
creates, errors, cpu/mem) every 60 s and re-ingests them as ``rurouni.*``
metrics (rurouni/state/instrumentation.py:66-113). Spark-native: the
ingest stream carries ``observe()`` aggregates (computed inside the
running query — no extra job), and this listener accumulates them from
every StreamingQueryProgress; ``as_points`` emits them in the same
re-ingestable shape.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener


class ObservedMetricsListener(StreamingQueryListener):
    """Accumulates the ``kenshin_ingest`` observation across batches, plus
    per-query row throughput from the standard progress fields."""

    def __init__(self, observation_name: str = "kenshin_ingest"):
        self.observation_name = observation_name
        self.totals: Counter = Counter()
        self.progress_events = 0

    # -- StreamingQueryListener interface ---------------------------------

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress_events += 1
        p = event.progress
        self.totals["input_rows"] += int(p.numInputRows or 0)
        for name, obs in (p.observedMetrics or {}).items():
            row = obs.asDict()
            if name == self.observation_name:
                self.totals["rows"] += int(row.get("rows") or 0)
                self.totals["corrupt"] += int(row.get("corrupt") or 0)
            else:
                # any other observe() riding the stream (e.g. the codec
                # degrade counters image_decode.images_degraded /
                # images_total, VERDICT r7 item 5) folds in namespaced,
                # so one listener re-ingests every instrumented seam
                for k, v in row.items():
                    if isinstance(v, (int, float)):
                        self.totals[f"{name}.{k}"] += v

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    # -- the re-ingestable shape (S8) -------------------------------------

    def as_points(self, now: int) -> list[tuple[str, int, float]]:
        return [
            (f"rurouni.observed.{k}", int(now), float(v))
            for k, v in sorted(self.totals.items())
        ]
