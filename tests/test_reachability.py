"""Every top-level def and class in ``kenshin_spark/`` outside
``queries/`` has a caller on a product path.

The product paths are the package itself (registry, CLI verbs, serving,
ingest), the benchmark under ``perfbench/``, ``bench.py`` and the entry
contract ``__spark_entry__.py``. A name counts as referenced when one of
those files loads it (a name, an attribute, or an identifier string such
as a registry key) outside its own definition; an import or an
``__all__`` entry alone does not count.
Tests and ``tools/`` do not count: code that only they reach belongs in
``tests/`` or goes.

The allowlist holds the few public operators whose caller is a
deployment's own streaming job or corpus build rather than a path in
this repository; each entry names the entry point it serves.

Pure ``ast``, no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "kenshin_spark"

ALLOWLIST = {
    "kenshin_spark/bpe.py:fit":
        "trains the merges `pipeline.StreamingCorpusIngest(merges=...)` "
        "tokenizes with",
    "kenshin_spark/quality.py:violations":
        "the offending rows of one failing check of `quality.validate`, "
        "the gate `cli validate` and `StreamingIngest(quality_checks=...)` "
        "run",
    "kenshin_spark/streaming/listener.py:ObservedMetricsListener":
        "collects the `observe()` metrics of `StreamingIngest.start_lines`; "
        "a deployment registers it with `spark.streams.addListener`",
    "kenshin_spark/streaming/stateful.py:with_counter_rate":
        "a streaming query over the points `StreamingIngest.start_lines` "
        "parses (the streaming twin of the `ts_counter_rate` row)",
    "kenshin_spark/streaming/holt.py:with_holt_aberration":
        "a streaming query over the points `StreamingIngest.start_lines` "
        "parses (the streaming twin of `holtWintersAberration` in "
        "`functions/render.py`)",
}


def _product_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py")) + sorted(
        (ROOT / "perfbench").rglob("*.py")
    )
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _all_spans(tree: ast.Module) -> list[tuple[int, int]]:
    """Lines of ``__all__`` lists: a re-export names, it does not call."""
    return [
        (n.lineno, n.end_lineno)
        for n in tree.body
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", "") == "__all__" for t in n.targets)
    ]


def _scan():
    """(definitions, references): ``{(rel, name): (first, last line)}``
    and ``{name: [(rel, line), ...]}``."""
    defs, refs = {}, {}
    for path in _product_files():
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        if rel.startswith("kenshin_spark/") and not rel.startswith(
            "kenshin_spark/queries/"
        ):
            for n in tree.body:
                if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    defs[(rel, n.name)] = (n.lineno, n.end_lineno)
        skip = _all_spans(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                name = n.value
                if not name.isidentifier():
                    continue
            else:
                continue
            if any(a <= n.lineno <= b for a, b in skip):
                continue
            refs.setdefault(name, []).append((rel, n.lineno))
    return defs, refs


def _unreached():
    defs, refs = _scan()
    return {
        f"{rel}:{name}"
        for (rel, name), (a, b) in defs.items()
        if not any(
            not (r == rel and a <= line <= b) for r, line in refs.get(name, ())
        )
    }


def test_every_definition_has_a_product_caller():
    orphans = sorted(_unreached() - ALLOWLIST.keys())
    assert not orphans, (
        "no product path reaches these definitions; delete them, move "
        "test fixtures to tests/, or allowlist them with the deployment "
        f"entry point they serve: {orphans}"
    )


def test_allowlist_is_current():
    unreached = _unreached()
    stale = sorted(k for k in ALLOWLIST if k not in unreached)
    assert not stale, f"now reached or gone, drop from ALLOWLIST: {stale}"
    assert all(reason.strip() for reason in ALLOWLIST.values())


def test_scan_sees_a_planted_orphan(tmp_path, monkeypatch):
    """The scan itself: a definition nothing loads is reported, one that
    is loaded elsewhere is not."""
    pkg = tmp_path / "kenshin_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text(
        "from kenshin_spark.m import orphan, used\n"
        "__all__ = ['orphan', 'used']\n"
    )
    (pkg / "m.py").write_text(
        "def orphan():\n    return orphan\n\n\ndef used():\n    pass\n"
    )
    (pkg / "cli.py").write_text("from kenshin_spark.m import used\nused()\n")
    (tmp_path / "bench.py").write_text("")
    (tmp_path / "__spark_entry__.py").write_text("")
    monkeypatch.setitem(globals(), "ROOT", tmp_path)
    monkeypatch.setitem(globals(), "PACKAGE", pkg)
    assert _unreached() == {"kenshin_spark/m.py:orphan"}
