"""Seeded inputs for the benchmark.

Everything the engine sees comes from here: Graphite line-protocol text
for a fleet of dotted metric names, the read-request mix the serving
client sends, and an embedding corpus with planted labelled clusters.
Each generator takes a ``numpy.random.Generator`` built from the run's
seed and nothing else, so one seed always yields byte-identical inputs.

The traffic dimensions are explicit fields of :class:`Fleet`,
:class:`Mix` and :class:`Corpus`. ``README.md`` ("Traffic dimensions")
gives the source of each default, or says that it is a placeholder.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DAY = 86400
#: the fixed clock every workload runs at (2026-01-01T12:00:00Z), so age
#: routing and the fetch windows never depend on the wall clock
NOW = 1_767_268_800
LEAVES = ("cpu", "mem", "disk", "net")


@dataclass(frozen=True)
class Fleet:
    """A Graphite fleet writing at 60 s cadence.

    Metric names are ``svc<SS>.h<HHH>.<leaf>``. Batch ``b`` carries
    ``points_per_batch`` consecutive minutes of every metric, or
    ``last_points`` minutes when it is the last batch and that is set
    (a small batch, to measure what a batch costs beside its points);
    the last batch ends one minute before ``now``. The fleet grows by
    ``growth`` hosts per service with every batch, so every batch
    creates metrics. On top of that:

    - ``dup_share``: a second arrival for the same (metric, minute) with
      a later raw timestamp inside the minute (within-batch LWW);
    - ``resend_share``: a re-sent minute of an earlier batch with a new
      value (cross-batch LWW: the later batch wins);
    - ``aged_share``: points 120-127 days old, past tier 0's 90 d
      retention, which route straight to the 300 s tier;
    - ``ancient_share``: points past every tier's retention (dropped);
    - ``corrupt_share``: lines that do not parse.
    """

    services: int = 20
    hosts: int = 25
    growth: int = 1
    points_per_batch: int = 22
    batches: int = 6
    last_points: int | None = None
    dup_share: float = 0.05
    resend_share: float = 0.02
    aged_share: float = 0.02
    ancient_share: float = 0.002
    corrupt_share: float = 0.002
    now: int = NOW

    def metrics_at(self, b: int) -> list[str]:
        """The metrics writing in batch ``b``."""
        return [
            f"svc{s:02d}.h{h:03d}.{leaf}"
            for s in range(self.services)
            for h in range(self.hosts + b * self.growth)
            for leaf in LEAVES
        ]

    @property
    def metrics(self) -> list[str]:
        """Every metric the fleet ever writes."""
        return self.metrics_at(self.batches - 1)

    def points_in(self, b: int) -> int:
        """Minutes of every metric that batch ``b`` carries."""
        if b == self.batches - 1 and self.last_points is not None:
            return self.last_points
        return self.points_per_batch

    @property
    def start(self) -> int:
        """The first minute slot of batch 0."""
        minutes = sum(map(self.points_in, range(self.batches)))
        return self.now - (minutes + 1) * 60


@dataclass
class Batch:
    """One micro-batch: its text lines and what was planted in them."""

    lines: list[str]
    points: list[tuple[str, int, float]]  # the parseable lines' points
    corrupt: int


def _value(rng: np.random.Generator) -> float:
    return float(round(rng.uniform(0.0, 100.0), 3))


def fleet_batches(fleet: Fleet, rng: np.random.Generator) -> list[Batch]:
    """The fleet's ``fleet.batches`` micro-batches, in send order."""
    out = []
    for b in range(fleet.batches):
        metrics = fleet.metrics_at(b)
        n_m = len(metrics)
        pts: list[tuple[str, int, float]] = []
        for k in range(fleet.points_in(b)):
            slot = fleet.start + (b * fleet.points_per_batch + k) * 60
            offs = rng.integers(0, 30, n_m)
            dups = rng.random(n_m) < fleet.dup_share
            for j, m in enumerate(metrics):
                pts.append((m, slot + int(offs[j]), _value(rng)))
                if dups[j]:
                    # strictly later inside the same minute: it wins LWW
                    pts.append((m, slot + 30 + int(offs[j]), _value(rng)))
        n = len(pts)
        seen = {(m, ts) for m, ts, _ in pts}

        def extra(count: int, lo: int, hi: int) -> None:
            """``count`` points at ages in [lo, hi) seconds, never on a
            (metric, ts) this batch already holds: LWW ties between
            equal raw timestamps would have no defined winner."""
            while count:
                m = metrics[int(rng.integers(n_m))]
                ts = fleet.now - int(rng.integers(lo, hi))
                if (m, ts) not in seen:
                    seen.add((m, ts))
                    pts.append((m, ts, _value(rng)))
                    count -= 1

        if b:
            # re-sent minutes of earlier batches
            extra(
                int(n * fleet.resend_share),
                fleet.now - fleet.start - b * fleet.points_per_batch * 60,
                fleet.now - fleet.start,
            )
        extra(int(n * fleet.aged_share), 120 * DAY, 127 * DAY)
        extra(max(1, int(n * fleet.ancient_share)), 370 * DAY, 400 * DAY)
        entries: list[tuple[str, tuple | None]] = [
            (f"{m} {v!r} {ts}", (m, ts, v)) for m, ts, v in pts
        ]
        n_bad = max(1, int(n * fleet.corrupt_share))
        for i in range(n_bad):
            m = metrics[int(rng.integers(n_m))]
            bad = f"{m} not-a-number {fleet.now}" if i % 2 else f"{m} 1.5"
            entries.append((bad, None))
        entries = [entries[i] for i in rng.permutation(len(entries))]
        out.append(
            Batch(
                lines=[line for line, _ in entries],
                points=[p for _, p in entries if p is not None],
                corrupt=n_bad,
            )
        )
    return out


@dataclass(frozen=True)
class Mix:
    """The serving client's request mix: integer kind weights, and a Zipf
    skew over a seeded popularity order of the metrics.

    Kinds follow a fixed smooth weighted round-robin, so any run of the
    loop sends the same kind proportions whatever the seed; the seed
    picks the metrics."""

    recent: int = 1  # one metric, the last hour (tier 0)
    multi: int = 1  # ten metrics, the last 24 h (tier 0)
    coarse: int = 1  # one metric, a 3-day window 122-125 days back (tier 1)
    render: int = 3  # sumSeries over one host's four series, last 2 h
    lookup: int = 3  # tier-0 cache query of one metric
    zipf_s: float = 1.1
    requests: int = 400

    @property
    def kinds(self) -> dict[str, int]:
        return {
            "fetch_recent": self.recent,
            "fetch_multi": self.multi,
            "fetch_coarse": self.coarse,
            "render": self.render,
            "lookup": self.lookup,
        }

    def schedule(self) -> list[str]:
        """Smooth weighted round-robin over the kinds, ``requests`` long."""
        weights = self.kinds
        total = sum(weights.values())
        credit = dict.fromkeys(weights, 0)
        out = []
        for _ in range(self.requests):
            for k, w in weights.items():
                credit[k] += w
            pick = max(credit, key=credit.get)
            credit[pick] -= total
            out.append(pick)
        return out


def request_mix(
    fleet: Fleet, mix: Mix, rng: np.random.Generator, metrics: list[str]
) -> list[tuple[str, dict]]:
    """``mix.requests`` requests ``(kind, params)`` in send order, over
    ``metrics`` (the series the store holds by the time of the reads)."""
    popular = [metrics[i] for i in rng.permutation(len(metrics))]
    ranks = np.arange(1, len(popular) + 1, dtype=np.float64)
    p_metric = ranks**-mix.zipf_s
    p_metric /= p_metric.sum()
    now = fleet.now
    out = []
    for kind in mix.schedule():
        m = popular[int(rng.choice(len(popular), p=p_metric))]
        if kind == "fetch_recent":
            params = {"metrics": [m], "from": now - 3600, "until": now}
        elif kind == "fetch_multi":
            picks = rng.choice(len(popular), size=10, replace=False, p=p_metric)
            params = {
                "metrics": sorted(popular[int(i)] for i in picks),
                "from": now - DAY,
                "until": now,
            }
        elif kind == "fetch_coarse":
            params = {
                "metrics": [m],
                "from": now - 125 * DAY,
                "until": now - 122 * DAY,
            }
        elif kind == "render":
            host = m.rsplit(".", 1)[0]
            params = {
                "target": f"sumSeries({host}.*)",
                "from": now - 2 * 3600,
                "until": now,
            }
        else:
            params = {"metric": m}
        params["now"] = now
        out.append((kind, params))
    return out


@dataclass(frozen=True)
class Corpus:
    """``size`` vectors of ``dim`` dims in ``clusters`` labelled clusters.

    A vector is its cluster's unit centre plus Gaussian noise of total
    norm ≈ ``spread``, so two members of one cluster have cosine near
    ``1 / (1 + spread²)``: 0.4-0.5 at the default, which straddles the
    0.4 near-duplicate threshold like the registry's embedding tables.
    Every cluster holds the same number of vectors (give or take one),
    so the work of the label-keyed calls does not change with the seed.
    ``queries`` vectors form the top-k query subset.
    """

    size: int = 500
    dim: int = 64
    clusters: int = 20
    spread: float = 1.05
    queries: int = 20


def embedding_corpus(
    corpus: Corpus, rng: np.random.Generator
) -> tuple[np.ndarray, np.ndarray]:
    """``(vectors (size, dim) float64, labels (size,) int)``; values are
    rounded to 6 dp so their text and binary forms agree."""
    centres = rng.normal(size=(corpus.clusters, corpus.dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.permutation(np.arange(corpus.size) % corpus.clusters)
    noise = rng.normal(size=(corpus.size, corpus.dim))
    noise *= corpus.spread / np.sqrt(corpus.dim)
    vectors = np.round(centres[labels] + noise, 6)
    return vectors, labels
