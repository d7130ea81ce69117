"""Retention-policy configuration layer.

Pure-Python (no Spark) port of the reference's schema system semantics:

- retention-string parsing ``'10s:12h'`` → (sec_per_point, count)
  (kenshin/storage.py:130-181, RetentionParser)
- archive-list validation rules (kenshin/storage.py:219-270)
- first-regex-wins schema matching (rurouni/storage.py:196-210) with the
  hard-coded default schema fallback (rurouni/storage.py:185-193)
- the aggregation-function registry (kenshin/agg.py:9-36)
- the non-standard xFilesFactor "propagation batching" arithmetic
  (kenshin/storage.py:505-521): xff is a batch factor (e.g. 20), NOT
  Whisper's min-known fraction.

These drive the Spark operators but are themselves engine-independent.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Aggregation registry — kenshin/agg.py:9-36. Order defines the agg id that
# the reference stores in file headers (kenshin/storage.py:293).
# ---------------------------------------------------------------------------

#: ordered agg names; index == reference agg id
AGG_REGISTRY: tuple[str, ...] = ("average", "sum", "last", "max", "min")

#: Spark SQL expression template per agg, applied to a NULL-bearing value
#: column. Spark built-ins ignore SQL NULLs natively, which exactly matches
#: the reference's sentinel-filtering semantics (kenshin/storage.py:599-615):
#: nulls are dropped before the fn, and an all-null window yields NULL.
#: ``last`` = value at the max timestamp among non-null values
#: (points are consumed in time order, kenshin/agg.py:13).
AGG_SQL: dict[str, str] = {
    "average": "avg({v})",
    "sum": "sum({v})",
    "last": "max_by({v}, CASE WHEN {v} IS NOT NULL THEN {t} END)",
    "max": "max({v})",
    "min": "min({v})",
}

#: DuckDB-oracle equivalents (for correctness harnesses).
AGG_DUCKDB_SQL: dict[str, str] = {
    "average": "avg({v})",
    "sum": "sum({v})",
    "last": "arg_max({v}, CASE WHEN {v} IS NOT NULL THEN {t} END)",
    "max": "max({v})",
    "min": "min({v})",
}


def agg_id(name: str) -> int:
    """Name → reference agg id (kenshin/agg.py:30-36)."""
    return AGG_REGISTRY.index(name)


# ---------------------------------------------------------------------------
# Retention parsing — kenshin/storage.py:130-181
# ---------------------------------------------------------------------------


class RetentionParser:
    """Parses ``'10s:12h'``-style retention definitions.

    Mirrors kenshin/storage.py:130-181: a retention is
    ``<precision>:<duration>``; each side is ``<int><unit>`` with units
    seconds/minutes/hours/days/weeks/years; a bare int means seconds for
    precision and *points* for duration.
    """

    UNIT_SECONDS = {
        "s": 1,
        "m": 60,
        "h": 3600,
        "d": 86400,
        "w": 86400 * 7,
        "y": 86400 * 365,
    }

    _TIME_RE = re.compile(r"^(\d+)([a-z]*)$")

    @classmethod
    def parse_time_str(cls, s: str) -> int:
        """``'12h'`` → 43200 seconds. Bare ints are seconds.

        >>> RetentionParser.parse_time_str('10s')
        10
        >>> RetentionParser.parse_time_str('12h')
        43200
        """
        m = cls._TIME_RE.match(s.strip().lower())
        if not m:
            raise ValueError(f"invalid time string: {s!r}")
        n, unit = int(m.group(1)), m.group(2) or "s"
        unit = unit[0]
        if unit not in cls.UNIT_SECONDS:
            raise ValueError(f"invalid unit in {s!r}")
        return n * cls.UNIT_SECONDS[unit]

    @classmethod
    def parse_retention_def(cls, s: str) -> tuple[int, int]:
        """``'10s:12h'`` → (10, 4320) = (sec_per_point, point count).

        If the duration part has no unit it is a point count
        (kenshin/storage.py:166-179).
        """
        prec_s, _, dur_s = s.partition(":")
        if not dur_s:
            raise ValueError(f"invalid retention def: {s!r}")
        precision = cls.parse_time_str(prec_s)
        if precision <= 0:  # '0s:...' would divide by zero below
            raise ValueError(f"zero precision in {s!r}")
        dur_s = dur_s.strip().lower()
        if dur_s.isdigit():
            count = int(dur_s)
        else:
            count = cls.parse_time_str(dur_s) // precision
        if count <= 0:  # retention shorter than one point
            raise ValueError(f"empty archive in {s!r}")
        return precision, count

    @classmethod
    def parse_retentions(cls, s: str) -> list[tuple[int, int]]:
        """``'10s:12h,60s:2d'`` → [(10, 4320), (60, 2880)]."""
        out = [cls.parse_retention_def(p) for p in s.split(",") if p.strip()]
        if not out:
            raise ValueError(f"no archives in retention string {s!r}")
        return out


# ---------------------------------------------------------------------------
# Archives
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Archive:
    """One retention tier: a resolution and how long it is kept.

    Reference: ArchiveInfo ``(offset, sec_per_point, count)``
    (kenshin/storage.py:29,306-309). The byte offset is a physical detail we
    drop; ``retention = sec_per_point * count`` seconds.
    """

    sec_per_point: int
    count: int

    @property
    def retention(self) -> int:
        return self.sec_per_point * self.count


def validate_archive_list(archives: list[Archive], xff: float) -> None:
    """Enforce the reference's archive-list invariants
    (kenshin/storage.py:219-270):

    1. at least one archive;
    2. strictly increasing precision values (no duplicate resolutions);
    3. each coarser step is an integer multiple of the next finer step;
    4. a coarser tier must cover a longer time interval than the finer;
    5. the finer tier must hold at least ``points_per_consolidation * xff``
       points, where points_per_consolidation = low_step // high_step.
    """
    if not archives:
        raise ValueError("A kenshin schema requires at least one archive")
    for i in range(len(archives) - 1):
        fine, coarse = archives[i], archives[i + 1]
        if fine.sec_per_point >= coarse.sec_per_point:
            raise ValueError(
                "archive precisions must be strictly increasing: "
                f"{fine.sec_per_point} !< {coarse.sec_per_point}"
            )
        if coarse.sec_per_point % fine.sec_per_point != 0:
            raise ValueError(
                f"coarser step {coarse.sec_per_point} is not a multiple of "
                f"finer step {fine.sec_per_point}"
            )
        if coarse.retention <= fine.retention:
            raise ValueError(
                f"coarser archive must cover a longer interval: "
                f"{coarse.retention} !> {fine.retention}"
            )
        ppc = coarse.sec_per_point // fine.sec_per_point
        if fine.count < ppc * xff:
            raise ValueError(
                f"finer archive holds {fine.count} points; needs at least "
                f"{ppc} * xff({xff}) = {ppc * xff}"
            )


def propagation_timeunit(xff: float, high_step: int, low_step: int) -> int:
    """The reference's repurposed xFilesFactor (kenshin/storage.py:505-508):

    ``timeunit = ceil((low_step / high_step) * xff) * high_step``

    Propagation from the fine archive (high precision, ``high_step``) to the
    coarse one (``low_step``) happens at most once per timeunit boundary —
    xff is a downsample-*batching* factor, not a known-fraction threshold.
    Integer math on epoch seconds, no calendar windows.
    """
    import math

    return int(math.ceil(float(low_step) / high_step * xff)) * high_step


# ---------------------------------------------------------------------------
# Schemas (retention policies) — rurouni/storage.py:116-210
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Schema:
    """A named retention policy matched to metrics by regex.

    Mirrors the storage-schemas.conf section model
    (rurouni/storage.py:116-149, conf/storage-schemas.conf.example:22-44):
    pattern → (xFilesFactor, aggregationMethod, retentions, cacheRetention,
    metricsPerFile). ``metrics_per_file`` is a physical co-location hint the
    Spark engine does not need but we keep for config parity.
    """

    name: str
    pattern: str
    archives: tuple[Archive, ...]
    xff: float = 20.0
    agg_method: str = "average"
    cache_retention: int = 600
    metrics_per_file: int = 8
    _compiled: re.Pattern = field(init=False, repr=False, compare=False, default=None)

    def __post_init__(self):
        validate_archive_list(list(self.archives), self.xff)
        if self.agg_method not in AGG_REGISTRY:
            raise ValueError(f"unknown agg method {self.agg_method!r}")
        object.__setattr__(self, "_compiled", re.compile(self.pattern))

    def matches(self, metric: str) -> bool:
        return bool(self._compiled.search(metric))

    @property
    def max_retention(self) -> int:
        return self.archives[-1].retention

    @classmethod
    def from_strings(
        cls,
        name: str,
        pattern: str,
        retentions: str,
        xff: float = 20.0,
        agg_method: str = "average",
        cache_retention: int = 600,
        metrics_per_file: int = 8,
    ) -> "Schema":
        archives = tuple(
            Archive(p, c) for p, c in RetentionParser.parse_retentions(retentions)
        )
        return cls(
            name=name,
            pattern=pattern,
            archives=archives,
            xff=xff,
            agg_method=agg_method,
            cache_retention=cache_retention,
            metrics_per_file=metrics_per_file,
        )


#: The reference's hard-coded fallback (rurouni/storage.py:185-193):
#: 7 days of minutely data, average, when no section matches.
DEFAULT_SCHEMA = Schema.from_strings(
    name="default",
    pattern=".*",
    retentions="60s:7d",
    xff=20.0,
    agg_method="average",
    cache_retention=620,
)


@dataclass(frozen=True)
class SchemaSet:
    """Ordered schema list with first-regex-wins matching
    (rurouni/storage.py:196-210, conf/storage-schemas.conf.example:1-3)."""

    schemas: tuple[Schema, ...]

    def match(self, metric: str) -> Schema:
        for s in self.schemas:
            if s.matches(metric):
                return s
        return DEFAULT_SCHEMA

    def match_sql_case(
        self, metric_col: str = "metric", regex_fn: str = "regexp_like"
    ) -> str:
        """Render first-regex-wins matching as a SQL CASE chain — a
        declarative (JVM-side) regex router. ``regex_fn``: ``regexp_like``
        for Spark SQL, ``regexp_matches`` for the DuckDB oracle."""
        whens = "\n".join(
            f"WHEN {regex_fn}({metric_col}, '{s.pattern}') THEN '{s.name}'"
            for s in self.schemas
        )
        return f"CASE {whens} ELSE '{DEFAULT_SCHEMA.name}' END"


# ---------------------------------------------------------------------------
# Config-file parsing (M11) — the reference's conf formats
# ---------------------------------------------------------------------------


def parse_storage_schemas(text: str) -> SchemaSet:
    """Parse the ``storage-schemas.conf`` format
    (conf/storage-schemas.conf.example, loader rurouni/storage.py:116-149):
    ordered INI sections, first-match-wins; ``cacheRetention`` accepts
    time strings ('620s'); xFilesFactor is the propagation-batching factor.

    Section order is preserved — it IS the matching priority.
    """
    import configparser

    cp = configparser.ConfigParser()
    cp.read_string(text)
    schemas = []
    for section in cp.sections():
        s = cp[section]
        if "pattern" not in s or "retentions" not in s:
            raise ValueError(f"schema [{section}] needs pattern and retentions")
        cache_ret = s.get("cacheRetention", "600")
        schemas.append(
            Schema.from_strings(
                name=section,
                pattern=s["pattern"],
                retentions=s["retentions"],
                xff=float(s.get("xFilesFactor", 20.0)),
                agg_method=s.get("aggregationMethod", "average"),
                cache_retention=RetentionParser.parse_time_str(cache_ret),
                metrics_per_file=int(s.get("metricsPerFile", 8)),
            )
        )
    return SchemaSet(tuple(schemas))
