"""The flagship query ``__spark_entry__.entry``: one
``StreamingIngest.process_batch`` into a temporary tiered store, then
``store.fetch`` of a 24 h window, pinned before the store is removed."""

import os
import tempfile
from collections import defaultdict

import __spark_entry__
from kenshin_spark.queries import TS_SCHEMA


def test_entry_returns_a_null_filled_grid_and_leaves_no_store(
    spark, tmp_path, monkeypatch
):
    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)

    grid = __spark_entry__.entry(spark)

    # the temporary store is gone, and the frame still reads: it scans
    # the pinned blocks, not the deleted files
    assert made and not any(os.path.exists(d) for d in made)
    assert os.listdir(tmp_path) == []
    rows = grid.collect()
    assert rows

    # a 24 h window on the finest tier: every metric carries the same
    # run of slots, one per 60 s step, NULL where no point landed
    step = TS_SCHEMA.archives[0].sec_per_point
    slots = defaultdict(list)
    for metric, ts, _ in rows:
        slots[metric].append(ts)
    runs = {tuple(sorted(v)) for v in slots.values()}
    assert len(runs) == 1
    (run,) = runs
    assert len(run) == 86400 // step
    assert all(b - a == step for a, b in zip(run, run[1:]))
    assert all(ts % step == 0 for ts in run)
    values = [r[2] for r in rows]
    assert any(v is None for v in values)
    assert any(v is not None for v in values)
