#!/usr/bin/env python
"""Regenerate QUERIES.md from the registry.

Usage:  python tools/gen_queries_md.py > QUERIES.md
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kenshin_spark.queries import DRIVER_VERIFIED, QUERIES, driver_order  # noqa: E402

HEADER = """\
# Query registry — every `queries()` entry, in driver evaluation order

Auto-generated from the `kenshin_spark/queries/` package by
`tools/gen_queries_md.py`. 'window' = inside the driver's 50-slot
evaluation prefix this round; 'verified' = has a green driver
CORRECTNESS row from an earlier round and is regression-guarded by
`tests/test_queries_oracle.py` (the local replica of the oracle gate).
'rows-only' = no SQL oracle (approximate/training-dependent operator),
driver records the weaker check.
"""


def status(name: str, idx: int) -> str:
    spec = QUERIES[name]
    if spec.oracle is None:
        return "rows-only"
    if name in DRIVER_VERIFIED and idx >= 50:
        return "verified"
    return "window" if idx < 50 else "verified"


def main() -> None:
    out = [HEADER]
    for i, name in enumerate(driver_order()):
        out.append(f"{i + 1}. **{name}** ({status(name, i)}) — "
                   f"{QUERIES[name].doc}")
    print("\n".join(out))


if __name__ == "__main__":
    main()
