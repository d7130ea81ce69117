"""Independent expected outputs, computed from the generated inputs in
plain Python and numpy (no Spark).

Time series: last-write-wins per (metric, slot) — within a batch the
later raw timestamp wins, across batches the later batch wins — then
average downsampling tier by tier, each coarser tier averaging the
finer tier's stored values, as Kenshin's write-time propagation does.
Points older than tier 0's retention go straight to the first tier
whose retention covers them; points older than every tier are dropped.

Embeddings: the numpy cosine of every pair. Pairs whose cosine lies
within ``BAND`` of the threshold are left out of every comparison, so a
different summation order can never flip a boundary pair.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

BAND = 1e-6
#: relative/absolute tolerance for averaged values (summation order)
TOL = 1e-9


@dataclass(frozen=True)
class Tiers:
    """Archive steps and retentions, finest first."""

    steps: tuple[int, ...] = (60, 300, 3600)
    retentions: tuple[int, ...] = (90 * 86400, 180 * 86400, 366 * 86400)

    def route(self, age: int) -> int | None:
        for i, r in enumerate(self.retentions):
            if age <= r:
                return i
        return None


class SeriesOracle:
    """The store's expected content after each prefix of a batch
    sequence."""

    def __init__(self, tiers: Tiers, now: int):
        self.tiers = tiers
        self.now = now
        #: per tier: {(metric, slot): [(batch, value), ...]} of the
        #: points written to that tier directly
        self.history: list[dict] = [{} for _ in tiers.steps]
        #: per batch: committed LWW slots (summed over tiers), dropped points
        self.committed: list[int] = []
        self.dropped: list[int] = []
        self._cache: dict = {}

    def add_batch(self, points) -> None:
        """Apply one micro-batch of ``(metric, ts, value)`` points."""
        b = len(self.committed)
        best: list[dict] = [{} for _ in self.tiers.steps]
        dropped = 0
        for m, ts, v in points:
            i = self.tiers.route(self.now - ts)
            if i is None:
                dropped += 1
                continue
            step = self.tiers.steps[i]
            key = (m, ts - ts % step)
            cur = best[i].get(key)
            if cur is None or ts > cur[0]:
                best[i][key] = (ts, v)
        for i, winners in enumerate(best):
            for key, (_, v) in winners.items():
                self.history[i].setdefault(key, []).append((b, v))
        self.committed.append(sum(len(w) for w in best))
        self.dropped.append(dropped)
        self._cache.clear()

    def tier_values(self, k: int | None = None) -> list[dict]:
        """``[{(metric, slot): value}]`` per tier after the first ``k``
        batches (all by default): tier 0 as written; each coarser tier
        is its direct writes plus the average of the finer tier's values
        in every coarse slot the finer tier holds."""
        k = len(self.committed) if k is None else k
        if k not in self._cache:
            if len(self._cache) > 2:
                self._cache.clear()
            self._cache[k] = self._values(k)
        return self._cache[k]

    def _values(self, k: int) -> list[dict]:
        direct = []
        for hist in self.history:
            tier = {}
            for key, writes in hist.items():
                vals = [v for b, v in writes if b < k]
                if vals:
                    tier[key] = vals[-1]
            direct.append(tier)
        out = [direct[0]]
        for i in range(1, len(self.tiers.steps)):
            step = self.tiers.steps[i]
            groups: dict = {}
            for (m, ts), v in out[i - 1].items():
                groups.setdefault((m, ts - ts % step), []).append(v)
            tier = dict(direct[i])
            for key, vs in groups.items():
                tier[key] = math.fsum(vs) / len(vs)
            out.append(tier)
        return out


def close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def roundup(ts: int, step: int) -> int:
    return ((ts + step - 1) // step) * step


def fetch_grid(tiers: Tiers, values: list[dict], metrics, frm, until, now):
    """Graphite ``fetch`` over the expected tiers: clamp to the longest
    retention, pick the finest tier whose retention covers the query's
    age, and emit ``{(metric, slot): value or None}`` over
    ``[roundup(from), roundup(until))``."""
    frm = max(frm, now - tiers.retentions[-1])
    until = min(until, now)
    i = tiers.route(now - frm)
    i = len(tiers.steps) - 1 if i is None else i
    step = tiers.steps[i]
    return {
        (m, ts): values[i].get((m, ts))
        for m in metrics
        for ts in range(roundup(frm, step), roundup(until, step), step)
    }


def sum_series(grid: dict) -> dict:
    """Graphite ``sumSeries``: per slot the sum of the non-NULL values,
    NULL where every series is NULL."""
    per_ts: dict = {}
    for (_, ts), v in grid.items():
        per_ts.setdefault(ts, [])
        if v is not None:
            per_ts[ts].append(v)
    return {
        ("sumSeries", ts): (math.fsum(vs) if vs else None)
        for ts, vs in per_ts.items()
    }


def grids_match(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        close(got[k], want[k]) for k in want
    )


# -- embeddings -----------------------------------------------------------


class CosineOracle:
    """All-pairs cosine of a corpus and the pair sets derived from it."""

    def __init__(self, vectors: np.ndarray, threshold: float = 0.4):
        norms = np.linalg.norm(vectors, axis=1, keepdims=True)
        unit = vectors / np.where(norms == 0, 1.0, norms)
        self.cos = unit @ unit.T
        self.threshold = threshold
        iu = np.triu_indices(len(vectors), 1)
        c = self.cos[iu]
        sure = c >= threshold + BAND
        self.pairs = set(zip(iu[0][sure].tolist(), iu[1][sure].tolist()))
        edge = np.abs(c - threshold) < BAND
        self.edge = set(zip(iu[0][edge].tolist(), iu[1][edge].tolist()))

    def check_pairs(self, got: set, cosines: dict) -> str | None:
        """None when ``got`` (``{(a, b)}``, a < b) is the exact pair set
        up to boundary pairs and every reported cosine agrees."""
        got = got - self.edge
        if got != self.pairs:
            return (
                f"pair set differs: {len(got - self.pairs)} extra, "
                f"{len(self.pairs - got)} missing"
            )
        return self._check_cosines(cosines)

    def check_subset(self, got: set, cosines: dict) -> str | None:
        """None when ``got`` ⊆ the exact pairs (approximate methods)."""
        extra = (got - self.edge) - self.pairs
        if extra:
            return f"{len(extra)} pairs not in the exact set"
        return self._check_cosines(cosines)

    def _check_cosines(self, cosines: dict) -> str | None:
        for (a, b), c in cosines.items():
            if abs(self.cos[a, b] - c) > BAND:
                return f"cosine({a}, {b}) = {c}, expected {self.cos[a, b]}"
        return None

    def check_topk(self, rows, queries, k: int) -> str | None:
        """``rows``: ``(query, neighbor, rank, cosine)``. Each query's
        reported cosines must be the k largest cosines to the other
        vectors, and each must be its pair's true cosine."""
        by_q: dict = {}
        for q, nb, _, c in rows:
            if q == nb or abs(self.cos[q, nb] - c) > BAND:
                return f"top-k row ({q}, {nb}, {c}) is wrong"
            by_q.setdefault(q, []).append(c)
        for q in queries:
            row = np.delete(self.cos[q], q)
            want = np.sort(row)[::-1][:k]
            got = np.sort(np.array(by_q.get(q, [])))[::-1]
            if len(got) != len(want) or np.max(np.abs(got - want)) > 2 * BAND:
                return f"top-{k} of query {q} differs"
        return None
