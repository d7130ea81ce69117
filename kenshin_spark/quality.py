"""Declarative data-quality constraint checking (Deequ-lite).

A 100 TB training-data pipeline gates every ingest batch on invariants —
"doc_id unique", "text never NULL", "n_chars in [1, 1e7]", "lang matches
^[a-z]{2}$" — and a constraint checker that rescans the table once per
constraint cannot keep up. This module compiles a constraint suite into
as few passes as possible:

- all ROW-LOCAL constraints (not-null, range, regex, predicate, type)
  fuse into ONE aggregate over one scan — conditional sums, map-side
  combined, no shuffle of data rows at all (one exchange of a single
  aggregate row);
- each UNIQUENESS constraint needs its own keyed aggregate (a shuffle of
  the key columns only — never whole rows);
- APPROX constraints (distinctness ratio) ride the same single pass via
  ``approx_count_distinct`` sketches.

Results come back as a small DataFrame ``(check, column, passed,
n_violations, n_rows)`` — broadcastable into a gate decision, join, or
alerting sink. ``violations(df, check)`` retrieves offending rows for
debugging (a separate filtered scan, only run on demand).

This mirrors what Amazon Deequ / dbt tests do, re-expressed as plain
Catalyst aggregates (public pattern; no external library).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One constraint. ``kind`` picks the compiler:

    - ``not_null``: col has no NULLs
    - ``in_range``: col within [lo, hi] (NULLs don't violate — combine
      with not_null to forbid them)
    - ``matches``: string col fully matches ``pattern`` (rlike semantics:
      search — anchor with ^$ for full match)
    - ``predicate``: arbitrary boolean SQL over the row; rows where it is
      false OR NULL violate
    - ``unique``: no duplicate values of the column tuple
    - ``min_distinct_ratio``: approx distinct/count ≥ ``ratio`` (sketch)
    """

    kind: str
    column: str = ""  # comma-joined for tuple checks
    lo: float | None = None
    hi: float | None = None
    pattern: str = ""
    sql: str = ""
    ratio: float = 1.0
    name: str = ""

    def label(self) -> str:
        if self.name:
            return self.name
        base = {
            "not_null": f"not_null({self.column})",
            "in_range": f"in_range({self.column},{self.lo},{self.hi})",
            "matches": f"matches({self.column},{self.pattern})",
            "predicate": f"predicate({self.sql})",
            "unique": f"unique({self.column})",
            "min_distinct_ratio":
                f"min_distinct_ratio({self.column},{self.ratio})",
        }
        return base[self.kind]

    # -- row-local violation expression (None for non-row-local kinds) --
    def violation_expr(self) -> Column | None:
        c = F.col(self.column) if self.column else None
        if self.kind == "not_null":
            return c.isNull()
        if self.kind == "in_range":
            return c.isNotNull() & ~c.between(self.lo, self.hi)
        if self.kind == "matches":
            return c.isNotNull() & ~c.rlike(self.pattern)
        if self.kind == "predicate":
            return ~F.coalesce(F.expr(self.sql), F.lit(False))
        return None


def not_null(column: str, name: str = "") -> Check:
    return Check("not_null", column=column, name=name)


def in_range(column: str, lo: float, hi: float, name: str = "") -> Check:
    return Check("in_range", column=column, lo=lo, hi=hi, name=name)


def matches(column: str, pattern: str, name: str = "") -> Check:
    return Check("matches", column=column, pattern=pattern, name=name)


def predicate(sql: str, name: str = "") -> Check:
    return Check("predicate", sql=sql, name=name)


def unique(*columns: str, name: str = "") -> Check:
    return Check("unique", column=",".join(columns), name=name)


def min_distinct_ratio(column: str, ratio: float, name: str = "") -> Check:
    return Check("min_distinct_ratio", column=column, ratio=ratio, name=name)


def validate(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Run a constraint suite: ``(check, column, passed, n_violations,
    n_rows)`` — one fused scan for every row-local check (+ the
    distinctness sketches), one key-only aggregate per unique check."""
    spark = df.sparkSession
    row_local = [c for c in checks if c.violation_expr() is not None]
    sketches = [c for c in checks if c.kind == "min_distinct_ratio"]
    uniques = [c for c in checks if c.kind == "unique"]

    results = []

    if row_local or sketches:
        aggs = [F.count(F.lit(1)).alias("_n")]
        for i, c in enumerate(row_local):
            aggs.append(
                F.sum(c.violation_expr().cast("long")).alias(f"_v{i}")
            )
        for i, c in enumerate(sketches):
            aggs.append(
                F.approx_count_distinct(c.column).alias(f"_d{i}")
            )
        row = df.agg(*aggs).first()
        n = row["_n"]
        for i, c in enumerate(row_local):
            v = row[f"_v{i}"] or 0
            results.append((c.label(), c.column, v == 0, v, n))
        for i, c in enumerate(sketches):
            d = row[f"_d{i}"] or 0
            ok = n == 0 or d >= c.ratio * n
            # violations for a ratio check = shortfall in distincts
            results.append(
                (c.label(), c.column, ok, max(0, int(c.ratio * n) - d), n)
            )

    for c in uniques:
        cols = c.column.split(",")
        dup = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .where(F.col("_cnt") > 1)
            .agg(
                F.coalesce(F.sum("_cnt"), F.lit(0)).alias("_dup_rows"),
                F.count(F.lit(1)).alias("_dup_keys"),
            )
            .first()
        )
        v = dup["_dup_rows"]
        results.append((c.label(), c.column, v == 0, v, None))

    out = spark.createDataFrame(
        results,
        "check string, column string, passed boolean, "
        "n_violations long, n_rows long",
    )
    return out


def violations(df: DataFrame, check: Check, limit: int = 100) -> DataFrame:
    """Offending rows for a row-local or unique check — the on-demand
    debugging scan (never run as part of the gate)."""
    expr = check.violation_expr()
    if expr is not None:
        return df.where(expr).limit(limit)
    if check.kind == "unique":
        cols = check.column.split(",")
        dup_keys = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .where(F.col("_cnt") > 1)
            .select(*cols)
        )
        return df.join(F.broadcast(dup_keys), cols).limit(limit)
    raise ValueError(f"no violation view for kind {check.kind!r}")


#: the default gate for the documents corpus — what an ingest job runs
#: before admitting a batch into the training pool
DOCUMENT_CHECKS: list[Check] = [
    not_null("doc_id"),
    unique("doc_id"),
    not_null("text"),
    in_range("n_chars", 0, 10_000_000),
    matches("lang", "^[a-z]{2}$"),
    predicate("length(text) > 0", name="non_empty_text"),
]
