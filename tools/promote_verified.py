#!/usr/bin/env python
"""Regenerate the DRIVER_VERIFIED frozenset in
kenshin_spark/queries/__init__.py from the driver's CORRECTNESS artifacts.

Run at the START of a round, after the driver writes CORRECTNESS_r{N}:

    python tools/promote_verified.py CORRECTNESS_r03.json [more.json ...]

Names with a fully green row (rows+schema+hash match, or a clean
rows-only check for oracle-less queries) join DRIVER_VERIFIED, yielding
their evaluation-window slots to whatever the new round adds. The
contract test (tests/test_contract.py) then re-checks that everything
not yet driver-verified still fits the 50-slot window.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
QUERIES_PY = REPO / "kenshin_spark" / "queries" / "__init__.py"


def green_names(path: str) -> set[str]:
    data = json.loads(Path(path).read_text())
    out = set()
    for name, row in data.items():
        if row.get("err"):
            continue
        if row.get("hash_match") or (
            row.get("rows_match") and "hash_match" not in row
        ):
            out.add(name)
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    promoted = set()
    for p in argv:
        promoted |= green_names(p)
    src = QUERIES_PY.read_text()
    m = re.search(r"DRIVER_VERIFIED = frozenset\(\{(.*?)\}\)", src, re.S)
    if not m:
        print("DRIVER_VERIFIED block not found", file=sys.stderr)
        return 1
    current = set(re.findall(r'"([^"]+)"', m.group(1)))
    union = sorted(current | promoted)
    body_lines, line = [], "    "
    for name in union:
        tok = f'"{name}", '
        if len(line) + len(tok) > 78:
            body_lines.append(line.rstrip())
            line = "    "
        line += tok
    body_lines.append(line.rstrip())
    new_block = "DRIVER_VERIFIED = frozenset({\n" + "\n".join(
        body_lines
    ) + "\n})"
    src = src[: m.start()] + new_block + src[m.end() :]
    QUERIES_PY.write_text(src)
    print(
        f"DRIVER_VERIFIED: {len(current)} -> {len(union)} "
        f"(+{len(union) - len(current)} promoted)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
