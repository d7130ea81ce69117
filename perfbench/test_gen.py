"""The benchmark's own checks of its inputs and oracle (no Spark).

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib

import numpy as np

from gen import (
    DAY,
    Corpus,
    Fleet,
    Mix,
    embedding_corpus,
    fleet_batches,
    request_mix,
)
from oracle import CosineOracle, SeriesOracle, Tiers, fetch_grid, sum_series

SMALL = Fleet(services=2, hosts=3, points_per_batch=4, batches=3)


def _digest(seed: int) -> str:
    """One hash over every input the benchmark generates from ``seed``."""
    h = hashlib.sha256()
    for fleet in (SMALL, Fleet(services=4, points_per_batch=10, batches=3, last_points=1)):
        for batch in fleet_batches(fleet, np.random.default_rng([seed, 1])):
            h.update("\n".join(batch.lines).encode())
        mix = request_mix(fleet, Mix(), np.random.default_rng([seed, 3]), fleet.metrics)
        h.update(repr(mix).encode())
    vectors, labels = embedding_corpus(Corpus(), np.random.default_rng([seed, 5]))
    h.update(vectors.tobytes())
    h.update(labels.tobytes())
    return h.hexdigest()


def test_same_seed_gives_identical_inputs():
    assert _digest(7) == _digest(7)


def test_other_seed_gives_other_inputs():
    assert _digest(7) != _digest(8)


def _parse(line: str):
    parts = line.split()
    if len(parts) != 3:
        return None
    try:
        return parts[0], int(float(parts[2])), float(parts[1])
    except ValueError:
        return None


def test_batches_plant_what_they_declare():
    for batch in fleet_batches(SMALL, np.random.default_rng(1)):
        parsed = [_parse(line) for line in batch.lines]
        assert sum(p is None for p in parsed) == batch.corrupt >= 1
        assert [p for p in parsed if p is not None] == batch.points
        ages = [SMALL.now - ts for _, ts, _ in batch.points]
        assert any(90 * DAY < a <= 180 * DAY for a in ages)  # aged
        assert any(a > 366 * DAY for a in ages)  # past every tier
        keys = [(m, ts) for m, ts, _ in batch.points]
        assert len(keys) == len(set(keys))  # no LWW ties


def test_small_last_batch_ends_the_minutes():
    fleet = Fleet(services=2, hosts=3, points_per_batch=4, batches=3, last_points=1)
    minutes = [  # each batch's own minutes, without re-sent ones
        sorted({ts - ts % 60 for _, ts, _ in b.points
                if ts >= fleet.start + 4 * 60 * i and fleet.now - ts < DAY})
        for i, b in enumerate(fleet_batches(fleet, np.random.default_rng(1)))
    ]
    assert [len(m) for m in minutes] == [4, 4, 1]
    assert minutes[-1][-1] == fleet.now - 120  # ends a minute before now
    assert fleet.start == minutes[0][0]


def test_series_oracle_lww_routing_and_downsampling():
    now = 500 * DAY
    o = SeriesOracle(Tiers(), now)
    o.add_batch([
        ("a", now - 600, 1.0),
        ("a", now - 590, 2.0),  # same minute, later raw ts: wins
        ("a", now - 480, 4.0),
        ("a", now - 100 * DAY, 5.0),  # past tier 0: straight to tier 1
        ("a", now - 400 * DAY, 6.0),  # past every tier: dropped
    ])
    o.add_batch([("a", now - 480, 8.0)])  # a later batch wins
    assert o.committed == [3, 1]  # two tier-0 minutes + one aged slot
    assert o.dropped == [1, 0]
    t0, t1, t2 = o.tier_values()
    assert t0 == {("a", now - 600): 2.0, ("a", now - 480): 8.0}
    assert t1[("a", now - 600)] == 5.0  # (2 + 8) / 2
    assert t1[("a", now - 100 * DAY)] == 5.0
    assert o.tier_values(1)[0][("a", now - 480)] == 4.0
    assert t2[("a", now - 3600)] == 5.0
    grid = fetch_grid(Tiers(), o.tier_values(), ["a", "b"], now - 660, now, now)
    assert grid[("a", now - 600)] == 2.0 and grid[("b", now - 600)] is None
    assert sum_series(grid)[("sumSeries", now - 480)] == 8.0
    assert sum_series(grid)[("sumSeries", now - 60)] is None


def test_cosine_oracle_pairs_and_topk():
    vectors, _ = embedding_corpus(Corpus(size=60), np.random.default_rng(2))
    o = CosineOracle(vectors, 0.4)
    assert o.pairs
    cos = {p: float(o.cos[p]) for p in o.pairs}
    assert o.check_pairs(set(o.pairs), cos) is None
    assert o.check_subset(set(list(o.pairs)[:3]), {}) is None
    assert o.check_pairs(set(list(o.pairs)[1:]), {}) is not None
    rows = []
    for q in range(3):
        order = [j for j in np.argsort(-o.cos[q]) if j != q][:5]
        rows += [(q, int(j), r + 1, float(o.cos[q, j])) for r, j in enumerate(order)]
    assert o.check_topk(rows, range(3), 5) is None
