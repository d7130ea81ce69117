"""M1/M4/M5/R9 — catalog & maintenance operators.

The reference maintains a text index ``metric schema fid pos`` per instance
(rurouni/storage.py:56-77) plus a symlink tree; ours is a metrics dimension
table derived from the points table — it can always be rebuilt (M1,
bin/kenshin-rebuild-index.py) and never drifts.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenshin_spark.config import SchemaSet


def index_rebuild(points: DataFrame, schemas: SchemaSet | None = None) -> DataFrame:
    """M1 — rebuild the metrics dim table from the points table
    (rurouni/storage.py:56-77): one row per metric with liveness stats and,
    when a SchemaSet is given, its matched retention policy (P5,
    rurouni/storage.py:196-210) — rendered as a declarative CASE chain so
    the regex match runs JVM-side, no Python UDF."""
    agg = points.groupBy("metric").agg(
        F.count("value").alias("point_count"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    if schemas is not None:
        agg = agg.withColumn("schema_name", F.expr(schemas.match_sql_case("metric")))
    return agg


def metric_search(points: DataFrame, patterns: list[str]) -> DataFrame:
    """M4 — regex metric search (bin/kenshin-get-metrics.py:8-30):
    ``SELECT DISTINCT metric WHERE metric RLIKE any pattern``."""
    cond = None
    for p in patterns:
        c = F.col("metric").rlike(p)
        cond = c if cond is None else (cond | c)
    return points.select("metric").where(cond).distinct()


def metric_delete(points: DataFrame, metrics: list[str]) -> DataFrame:
    """M5 — delete metrics (bin/kenshin-delete.py:39-96). The reference
    blanks header slots and keeps the data file; we return the surviving
    rows (a Delta/iceberg DELETE in production)."""
    return points.where(~F.col("metric").isin(metrics))


def info(points: DataFrame, schemas: SchemaSet | None = None) -> DataFrame:
    """R9 — header/metadata inspection (kenshin/storage.py:312-348,
    bin/kenshin-info.py): per-metric stats + policy, same plan as M1."""
    return index_rebuild(points, schemas)


def gc_candidates(catalog: DataFrame, points: DataFrame) -> DataFrame:
    """M8 — GC candidates (bin/kenshin-find-file.py:51-73): cataloged
    metrics with no live points left (everything expired) — the analog of
    "all but the last file id per schema". An anti-join, fully pruned."""
    live = points.select("metric").distinct()
    return catalog.join(live, "metric", "left_anti")


def keep_alive_points(
    catalog: DataFrame,
    points: DataFrame,
    now: int,
    dormant_after: int = 86400,
    value: float = 0.0,
) -> DataFrame:
    """M9 — keep-alive zero points (bin/kenshin-send-zero-metric.py:26-45):
    emit a 0-value point at ``now`` for every cataloged metric whose
    newest point is older than ``dormant_after`` seconds (or missing), so
    dormant metrics survive a migration window."""
    latest = points.groupBy("metric").agg(F.max("ts").alias("_last_ts"))
    dormant = (
        catalog.join(latest, "metric", "left")
        .where(
            F.col("_last_ts").isNull()
            | (F.col("_last_ts") < F.lit(now - dormant_after))
        )
        .select("metric")
    )
    return dormant.select(
        "metric",
        F.lit(now).cast("long").alias("ts"),
        F.lit(value).cast("double").alias("value"),
    )


def _glob_body(pattern: str) -> str:
    out, i = [], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            out.append(r"[^.]*")
        elif ch == "?":
            out.append(r"[^.]")
        elif ch == "{":
            j = pattern.find("}", i)
            if j == -1:  # unbalanced brace → literal, like graphite/fnmatch
                out.append(re.escape(ch))
            else:
                # alternatives may themselves contain globs ({web*,api?}):
                # translate each branch recursively, don't escape it
                out.append("(" + "|".join(
                    _glob_body(p) for p in pattern[i + 1 : j].split(",")
                ) + ")")
                i = j
        elif ch == "[":
            # fnmatch rule: a ']' in the FIRST class position is a
            # literal member, so the closing bracket is searched past it
            # — this also rejects the empty class '[]' (invalid regex)
            j = pattern.find("]", i + 2)
            cls = pattern[i : j + 1] if j != -1 else None
            if cls is not None:
                # escape inner '[' — semantics-preserving ('[' is a
                # literal inside a class either way) and kills the
                # "possible nested set" FutureWarning without touching
                # ranges. '-'/'&'/'|'/'~' are NOT rewritten: escaping
                # the second '-' of '--' silently breaks ranges whose
                # lower endpoint is '-' (e.g. '[--0]'), so ambiguous
                # set-op constructs ('[a--z]', '[a&&b]') are instead
                # caught by the probe below and degrade to literals —
                # exactly what they'll be once `re` makes the warning
                # an error.
                # (?<!\\) — a '[' the pattern already escaped must not
                # gain a second backslash: '[\[]' → '[\\[]' would turn
                # the escape into a literal backslash and leave the
                # inner '[' bare, tripping the probe and degrading a
                # perfectly valid class to literal text
                cls = "[" + re.sub(r"(?<!\\)\[", r"\\[", cls[1:-1]) + "]"
                try:
                    with warnings.catch_warnings():
                        warnings.simplefilter("error", FutureWarning)
                        re.compile(cls)
                except (re.error, FutureWarning):
                    cls = None  # malformed/ambiguous → literal bracket
            if cls is None:
                out.append(re.escape(ch))
            else:
                out.append(cls)
                i = j
        else:
            out.append(re.escape(ch))
        i += 1
    return "".join(out)


def glob_to_regex(pattern: str) -> str:
    """Graphite target glob → anchored regex: ``*`` matches within one
    dotted path segment, ``?`` one char, ``{a,b}`` alternation (branches
    may nest globs), ``[...]`` character class (graphite-web's
    node-matching rules — ``sys.cpu.*`` must NOT match
    ``sys.cpu.core0.user``). Unbalanced ``{``/``[`` are literals."""
    return "^" + _glob_body(pattern) + "$"

