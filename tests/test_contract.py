"""Driver-contract invariants (the things that silently cost a round if
they drift — see VERDICT r2: 37 queries fell out of the evaluated
window)."""

from kenshin_spark.queries import DRIVER_VERIFIED, QUERIES, driver_order

DRIVER_WINDOW = 50  # the driver evaluates this many queries() entries


def test_driver_order_is_a_permutation():
    o = driver_order()
    assert sorted(o) == sorted(QUERIES)
    assert DRIVER_VERIFIED <= set(QUERIES)


def test_unverified_queries_fill_the_window_front():
    o = driver_order()
    n_unverified = len(QUERIES) - len(DRIVER_VERIFIED)
    front = o[:n_unverified]
    assert all(n not in DRIVER_VERIFIED for n in front)
    # every query without a prior driver CORRECTNESS row must sit inside
    # the evaluated window — if this trips, either promote r3-green names
    # into DRIVER_VERIFIED or stop adding window-hungry queries
    assert n_unverified <= DRIVER_WINDOW, (
        f"{n_unverified} never-driver-verified queries exceed the "
        f"{DRIVER_WINDOW}-slot window; the newest would go unevaluated"
    )


def test_every_query_has_doc_and_callable():
    for name, spec in QUERIES.items():
        assert callable(spec.fn), name
        assert spec.doc, f"{name} has no doc string in the registry"


def test_no_duplicate_defs_in_package():
    """A later duplicate def silently shadows the earlier one (the r2
    time_shift defect, nearly repeated with offset in r3) — scan every
    module for repeated top-level def names."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "kenshin_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        tree = ast.parse(py.read_text())
        names = [n.name for n in tree.body
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        dups = {n for n in names if names.count(n) > 1}
        if dups:
            offenders.append((str(py), sorted(dups)))
    assert not offenders, f"duplicate top-level defs: {offenders}"


def test_driver_order_fronts_unverified():
    """The driver evaluates a 50-slot prefix: every not-yet-verified
    query must sit inside it (else it can never earn a CORRECTNESS row),
    with remaining slots backfilled by verified queries for
    re-verification coverage."""
    from kenshin_spark.queries import DRIVER_VERIFIED, QUERIES, driver_order

    order = driver_order()
    assert sorted(order) == sorted(QUERIES)  # permutation, no dupes/drops
    unverified = [n for n in order if n not in DRIVER_VERIFIED]
    assert len(unverified) <= 50, (
        f"{len(unverified)} unverified queries exceed the 50-slot window; "
        "promote driver-verified names before adding more"
    )
    assert order[: len(unverified)] == unverified  # all fronted


def test_every_staged_module_feeds_queries():
    """Every ``queries_staged*`` module on disk is a live bank: it
    defines at least one non-empty table of QuerySpec rows, and every
    row it defines is registered in QUERIES — a bank the registry never
    loads is dead code the oracle gate never runs."""
    import importlib
    import pathlib

    from kenshin_spark.queries import QuerySpec

    pkg = pathlib.Path(__file__).resolve().parents[1] / "kenshin_spark"
    modules = sorted(p.stem for p in pkg.glob("queries_staged*.py"))
    assert modules
    for name in modules:
        mod = importlib.import_module(f"kenshin_spark.{name}")
        tables = [
            v for v in vars(mod).values()
            if isinstance(v, dict) and v
            and all(isinstance(x, QuerySpec) for x in v.values())
        ]
        assert tables, f"{name} defines no QuerySpec table"
        for table in tables:
            missing = sorted(set(table) - set(QUERIES))
            assert not missing, f"{name} rows not in QUERIES: {missing}"


def test_lineage_pins_go_through_the_session_seam():
    """Every lineage truncation in the engine goes through
    ``session.pin``, which picks local, reliable or replicated per
    deployment — a direct ``localCheckpoint``/``checkpoint`` call keeps
    the unreplicated local primitive on a cluster too. The registry's
    ``queries*.py`` fixtures are exempt: they build test inputs."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "kenshin_spark"
    exempt = {"session.py"} | {p.name for p in pkg.glob("queries*.py")}
    offenders = [
        f"{py.relative_to(pkg)}:{node.lineno}"
        for py in sorted(pkg.rglob("*.py"))
        if str(py.relative_to(pkg)) not in exempt
        for node in ast.walk(ast.parse(py.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("localCheckpoint", "checkpoint")
    ]
    assert not offenders, f"lineage pins bypassing session.pin: {offenders}"
