"""The rurouni daemon as a Structured Streaming pipeline.

Reference write path (SURVEY §3.1, rurouni/):

    TCP line → parse → admit (shard, create-throttle, schema match)
    → hot ring-buffer cache → writer thread flushes whole-file batches
    → kenshin.update (align, dedup, ring write, propagate)

Spark mapping implemented here:

- **parse**: ``sources.line_protocol.parse_metric_lines`` on any text
  stream (socket / Kafka value / file source) — dead letters counted, not
  crashed on (rurouni/protocols.py:34-42 logs and drops).
- **admit** (P4-P6): unknown metrics are caught by an anti-join against
  the catalog, rate-limited by the TokenBucket
  (rurouni/cache.py:119-143), schema-routed first-regex-wins, and
  recorded in the catalog — the reference's "create the .hs file" becomes
  "insert the catalog row" (no preallocation needed).
- **buffer + flush** (W1-W3): two modes.
  ``start_lines`` = *direct* mode: every micro-batch is a flush —
  simplest, handles arbitrarily late data because the store upsert is an
  idempotent MERGE (the backfill path SURVEY §7.3 calls for).
  ``start_aggregated`` = *watermarked* mode: the reference's delayed
  flush. ``withWatermark(cache_retention)`` + append-mode window
  aggregation keeps the open windows in the state store (the hot ring
  buffer, rurouni/cache.py:219-338) and emits a window exactly once it
  closes (flush eligibility, rurouni/cache.py:259-262); state eviction
  past the watermark is the drain (rurouni/cache.py:288-338).
- **update** (W4-W8): one ``ParquetTieredStore.write_tiers`` per schema
  and batch — align/LWW, the stamped append, and the bounded write-time
  downsample of every coarser tier, in one staged write and one commit.
- **instrumentation** (S8, rurouni/state/instrumentation.py:66-113):
  per-batch counters; ``self_metrics_points`` re-emits them as
  ``rurouni.*`` metric points that can be fed back into ingest.

Exactly-once: the tier write is idempotent per (metric, slot) and the
checkpoint replays whole micro-batches, so replayed batches converge to
the same stored state (the reference gets only best-effort via locks); a
batch that dies before its commit leaves only invisible staged files.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.streaming import StreamingQuery

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.operators.align import align_ts, last_write_wins
from kenshin_spark.ratelimit import TokenBucket, creates_per_minute_bucket
from kenshin_spark.sources.line_protocol import parse_metric_lines
from kenshin_spark.store import ParquetTieredStore


@dataclass
class IngestStats:
    """The instrumentation counter set (rurouni/state/instrumentation.py:
    24-38): mirrored names where the concept carries over."""

    metrics_received: int = 0
    committed_points: int = 0
    creates: int = 0
    dropped_creates: int = 0
    corrupt_lines: int = 0
    dropped_old_points: int = 0
    update_operations: int = 0
    batches: int = 0
    quality_rejected: int = 0

    def as_points(self, now: int) -> list[tuple[str, int, float]]:
        """Counters as ``rurouni.*`` self-metric points (S8)."""
        return [
            (f"rurouni.{name}", now, float(getattr(self, name)))
            for name in (
                "metrics_received",
                "committed_points",
                "creates",
                "dropped_creates",
                "corrupt_lines",
                "update_operations",
            )
        ]


def _arch_cond(schema: Schema, i: int, age: Column) -> Column:
    """W4 age routing (kenshin/storage.py:384-425): archive ``i`` takes
    the points of ``age`` its retention covers and the one before it
    does not."""
    cond = age <= F.lit(schema.archives[i].retention)
    if i:
        cond = cond & (age > F.lit(schema.archives[i - 1].retention))
    return cond


class StreamingIngest:
    def __init__(
        self,
        spark: SparkSession,
        schemas: SchemaSet,
        root: str,
        max_creates_per_minute: int | None = None,
        clock=time.time,
        dead_letter_path: str | None = None,
        store_mode: str = "mor",
        skew_salts: int | None = None,
        quality_checks=None,
    ):
        self.spark = spark
        self.schemas = schemas
        self.root = root
        #: spread hot metrics' LWW align over N reducers (SURVEY §7.3);
        #: None = single-stage (map-side partials usually suffice)
        self.skew_salts = skew_salts
        #: corrupt lines land here as parquet (the reference only logs
        #: them, rurouni/protocols.py:40-42 — a dead-letter table is the
        #: replayable upgrade)
        self.dead_letter_path = dead_letter_path
        # ``store_mode`` names the store's one layout, merge-on-read: an
        # appended log resolved at read (O(batch) writes; run
        # store.compact() periodically). It takes no other value.
        if store_mode != "mor":
            raise ValueError(
                f"unknown store mode {store_mode!r}: the store has one "
                "layout, merge-on-read ('mor')"
            )
        #: optional row-local quality gate (quality.Check list): rows
        #: violating ANY check are routed to the dead-letter path instead
        #: of the store — one filter expression folded into the batch
        #: pass, no extra scan. Aggregate kinds (unique, distinct-ratio)
        #: are meaningless per-micro-batch and rejected up front.
        self.quality_checks = list(quality_checks or [])
        for c in self.quality_checks:
            if c.violation_expr() is None:
                raise ValueError(
                    f"streaming gate needs row-local checks; {c.label()} "
                    "is aggregate-scoped — run it in batch validate()"
                )
        self.stats = IngestStats()
        self.clock = clock  # injectable: age routing + tests (SURVEY §7.3)
        self.bucket: TokenBucket | None = (
            creates_per_minute_bucket(max_creates_per_minute, clock)
            if max_creates_per_minute
            else None
        )
        self._stores: dict[str, ParquetTieredStore] = {}

    # -- stores & catalog -------------------------------------------------

    def store_for(self, schema: Schema) -> ParquetTieredStore:
        if schema.name not in self._stores:
            self._stores[schema.name] = ParquetTieredStore(
                self.spark,
                schema,
                f"{self.root}/{schema.name}",
            )
        return self._stores[schema.name]

    @property
    def _catalog_store(self) -> ParquetTieredStore:
        """The catalog lives once, at the root (index files are per
        instance in the reference, rurouni/storage.py:56-77)."""
        any_schema = self.schemas.schemas[0]
        if "_root" not in self._stores:
            self._stores["_root"] = ParquetTieredStore(
                self.spark, any_schema, self.root
            )
        return self._stores["_root"]

    def catalog(self) -> DataFrame:
        return self._catalog_store.catalog()

    # -- admission (P4-P6) ------------------------------------------------

    def _admit(
        self, points: DataFrame, now: int, n_new: int | None = None
    ) -> DataFrame:
        """Returns points joined with ``schema_name``; unknown metrics are
        created (catalog insert) subject to the token bucket; points of
        denied metrics are dropped (rurouni/cache.py:119-143).

        Fully distributed: unknown metrics are found with a left-anti join
        against the catalog, counted with one aggregate, and admitted via
        a deterministic ``orderBy().limit(grant)`` whose size the token
        bucket bounds (≤ creates/min). Schema routing is the declarative
        CASE regex chain (P5), so the catalog insert never leaves the
        executors — the driver only ever sees two scalars. At the
        reference's own fleet scale (3M metrics) the former
        collect-all-batch-metrics version moved millions of strings
        through the driver per micro-batch.

        ``n_new``: the caller's precomputed count of unknown metrics
        (``process_batch`` folds it into its combined bookkeeping pass)
        — skips the dedicated count job here.
        """
        catalog = self._catalog_store.catalog().select("metric", "schema_name")
        new_df = (
            points.select("metric")
            .distinct()
            .join(catalog.select("metric"), "metric", "left_anti")
        )
        if n_new is None:
            n_new = new_df.count()
        if n_new:
            grant = min(
                self.bucket.drain(n_new) if self.bucket else n_new, n_new
            )
            self.stats.creates += grant
            self.stats.dropped_creates += n_new - grant
            if grant:
                # deterministic admission order (name order); denied
                # metrics simply stay out of the catalog and are dropped
                # by the inner routing join below
                admitted = new_df.orderBy("metric").limit(grant)
                self._catalog_store.catalog_add(
                    admitted.select(
                        "metric",
                        F.expr(self.schemas.match_sql_case()).alias(
                            "schema_name"
                        ),
                        F.lit(int(now)).alias("created_ts"),
                    )
                )
        catalog = self._catalog_store.catalog().select("metric", "schema_name")
        # catalog ≪ points in the common case; AQE picks broadcast when it
        # fits and falls back to shuffle join at fleet-scale catalogs
        return points.join(catalog, "metric")

    def _census(
        self,
        frame: DataFrame,
        schema_col: str,
        age: Column,
        clean: Column | None = None,
        counters: dict[str, Column] | None = None,
        new: Column | None = None,
    ) -> DataFrame:
        """The routing census of ``frame`` as a one-row frame. Each row
        where ``clean`` holds (default: every row) routes by
        ``schema_col`` and ``age`` (W4) to at most one archive of its
        schema, or past its last one. Columns, for each schema ``s`` and
        archive ``i``:

        - ``_c_s_i``: routed rows;
        - ``_n_s_i``: distinct (metric, aligned ts) slots, which is the
          row count of the last_write_wins output the upsert writes;
        - ``_lo_s_i``/``_hi_s_i``: the aligned-slot bounds propagate
          needs;
        - ``_d_s_i``: the touched partitions, ``slot // part_unit``, as
          the upsert's ``day`` column computes them;
        - ``_x_s``: rows older than every archive.

        Plus one column per ``counters`` entry (rows where its condition
        holds) and, with ``new``, ``_new``: distinct metrics with a row
        where ``new`` holds.

        Two levels over ``frame`` hash-partitioned by ``metric``:
        ``groupBy(metric, route, slot)`` first, so every per-archive slot
        count is a plain count of groups, and ``_new`` counts each
        metric once (a window per metric) — no distinct
        aggregate at all. The first level, the window and the second
        level's partial aggregate all run inside the metric partitions,
        so the census plans two shuffles: the repartition and the final
        single-partition merge. (A multi-distinct aggregate plans an
        Expand that multiplies each row by the route count, and its
        generated classes differ from batch to batch; a distinct
        ``_new`` would need a shuffle of its own.)"""
        if clean is None:
            clean = F.lit(True)
        #: (label, condition, step, partition unit); no step past the
        #: last archive
        routes: list[tuple[str, Column, int | None, int | None]] = []
        for schema in self.schemas.schemas:
            in_schema = clean & (F.col(schema_col) == schema.name)
            store = self.store_for(schema)
            for i, arch in enumerate(schema.archives):
                routes.append((
                    f"{schema.name}_{i}",
                    in_schema & _arch_cond(schema, i, age),
                    arch.sec_per_point,
                    store.part_unit(i),
                ))
            routes.append((
                f"x_{schema.name}",
                in_schema & (age > F.lit(schema.archives[-1].retention)),
                None,
                None,
            ))
        # routes[0] is an archive: every schema has at least one
        ts = F.col("ts").cast("long")
        route = F.when(routes[0][1], 0)
        slot = F.when(F.col("_route") == 0, align_ts(ts, routes[0][2]))
        for k, (_, cond, step, _) in enumerate(routes[1:], 1):
            route = route.when(cond, k)
            if step is not None:
                slot = slot.when(F.col("_route") == k, align_ts(ts, step))
        counters = counters or {}
        level1 = [F.count(F.lit(1)).alias("_rows")]
        level1 += [
            F.count(F.when(cond, 1)).alias(name)
            for name, cond in counters.items()
        ]
        level2 = [
            F.coalesce(F.sum(name), F.lit(0)).alias(name) for name in counters
        ]
        if new is not None:
            level1.append(F.max(new).alias("_new"))
            # a metric counts once, on its first group, which holds a
            # `new` row if any of its groups does; the window runs inside
            # the metric partitions, so it adds no shuffle
            first = F.row_number().over(
                Window.partitionBy("metric").orderBy(F.col("_new").desc())
            ) == 1
            level2.append(
                F.count(F.when(F.col("_new") & F.col("_first"), 1))
                .alias("_new")
            )
        for k, (label, _, step, unit) in enumerate(routes):
            on = F.col("_route") == k
            rows = F.coalesce(F.sum(F.when(on, F.col("_rows"))), F.lit(0))
            if step is None:
                level2.append(rows.alias(f"_{label}"))
                continue
            slot_k = F.when(on, F.col("_slot"))
            level2 += [
                rows.alias(f"_c_{label}"),
                F.count(F.when(on, 1)).alias(f"_n_{label}"),
                F.min(slot_k).alias(f"_lo_{label}"),
                F.max(slot_k).alias(f"_hi_{label}"),
                F.collect_set((slot_k / unit).cast("long")).alias(
                    f"_d_{label}"
                ),
            ]
        groups = (
            frame.repartition("metric")
            .withColumn("_route", route)
            .withColumn("_slot", slot)
            .groupBy("metric", "_route", "_slot")
            .agg(*level1)
        )
        if new is not None:
            groups = groups.withColumn("_first", first)
        return groups.agg(*level2)

    # -- the foreachBatch body (direct mode) ------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """One flush: admit → per-schema align/LWW → one tier write per
        schema. Works on any ``(metric, ts, value[, corrupt][,
        arrival])`` frame — streaming micro-batch or plain batch
        backfill (same code path, per SURVEY §7.3 late-data note).

        Job shape: three actions and two commits per batch (dead
        letters and a rate-limited census add their own).

        - The census: ONE aggregate over the batch left-joined with the
          catalog yields the bookkeeping counters, the new-metric count
          AND the routing census — each archive's row and slot counts,
          slot bounds and touched-day set. It is two levels over the
          batch hash-partitioned by metric (:meth:`_census`): no
          multi-distinct Expand, two shuffles, and the same generated
          classes every batch. It routes not-yet-admitted metrics
          through the same declarative regex CASE the admission insert
          writes, so it equals the post-admission routing join whenever
          every new metric is granted; under an active create-rate limit
          that denies some metrics (the only case where they can
          differ) it is recomputed over the post-admission join.
        - The admission: the catalog insert, one commit of the root's
          catalog store (only when the batch has new metrics).
        - Per schema, ONE ``ParquetTieredStore.write_tiers``: every
          archive's last-write-wins slots (W4 routing, W5) and the
          re-aggregate of every coarse slot they touch (W7), staged in
          one ``(tier, day)``-partitioned write and published in one
          commit of the schema store. The census supplies the bounds
          and touched days it would otherwise compute, so the write is
          the only action; a reader sees the whole cascade of a batch
          or none of it."""
        self.stats.batches += 1
        # the batch is scanned several times (dead-letter split, admission,
        # one pass per schema) — persist so the source parse runs once
        batch = batch.persist()
        try:
            has_corrupt = "corrupt" in batch.columns
            viol = None
            for c in self.quality_checks:
                e = c.violation_expr()
                viol = e if viol is None else (viol | e)
            clean = (
                F.col("corrupt").isNull() if has_corrupt else F.lit(True)
            )
            if viol is not None:
                clean = clean & ~F.coalesce(viol, F.lit(False))
            counters = {"_all": F.lit(True)}
            if has_corrupt:
                counters["_bad"] = F.col("corrupt").isNotNull()
            if viol is not None:
                v = F.coalesce(viol, F.lit(False))
                if has_corrupt:
                    v = F.col("corrupt").isNull() & v
                counters["_rej"] = v
            # ---- the combined pass: catalog left-join, then counters +
            # new-metric count + per-(schema, archive) census in ONE job.
            # `_schema` is exactly what the post-admission routing join
            # yields when every new metric is granted: catalog rows keep
            # their sticky assignment, new metrics take the CASE the
            # admission insert writes.
            catalog_pre = self._catalog_store.catalog().select(
                "metric", F.col("schema_name").alias("_cat_schema")
            )
            now = int(self.clock())
            age = F.lit(now) - F.col("ts")
            row = self._census(
                batch.join(catalog_pre, "metric", "left").withColumn(
                    "_schema",
                    F.coalesce(
                        F.col("_cat_schema"),
                        F.expr(self.schemas.match_sql_case()),
                    ),
                ),
                "_schema",
                age,
                clean=clean,
                counters=counters,
                new=clean & F.col("_cat_schema").isNull(),
            ).first()
            n_bad = int(row["_bad"]) if has_corrupt else 0
            n_rej = int(row["_rej"]) if viol is not None else 0
            if has_corrupt:
                self.stats.corrupt_lines += n_bad
                if n_bad and self.dead_letter_path:
                    batch.where(F.col("corrupt").isNotNull()).select(
                        F.col("corrupt").alias("line"),
                        F.lit(batch_id).alias("batch_id"),
                    ).write.mode("append").parquet(self.dead_letter_path)
                batch = batch.where(F.col("corrupt").isNull()).drop("corrupt")
            if viol is not None and n_rej:
                self.stats.quality_rejected += n_rej
                if self.dead_letter_path:
                    batch.where(viol).select(
                        F.to_json(F.struct("*")).alias("line"),
                        F.lit(batch_id).alias("batch_id"),
                    ).write.mode("append").parquet(self.dead_letter_path)
            if viol is not None:
                batch = batch.where(~F.coalesce(viol, F.lit(False)))
            n = int(row["_all"]) - n_bad - n_rej
            if n == 0:
                return
            self.stats.metrics_received += n
            dropped_before = self.stats.dropped_creates
            routed = self._admit(batch, now, n_new=int(row["_new"]))
            arrival = "arrival" if "arrival" in routed.columns else None

            census = row
            if self.stats.dropped_creates > dropped_before:
                # the token bucket denied some of THIS batch's creates —
                # their points are dropped by the routing join, so the
                # combined census (which routes unadmitted metrics
                # through the CASE) may overcount. Recompute over the
                # actual routed frame, on rate-limited batches only.
                census = self._census(routed, "schema_name", age).first()

            for schema in self.schemas.schemas:
                if all(
                    census[f"_c_{schema.name}_{i}"] == 0
                    for i in range(len(schema.archives))
                ) and census[f"_x_{schema.name}"] == 0:
                    continue
                group = routed.where(
                    F.col("schema_name") == schema.name
                ).drop("schema_name")
                store = self.store_for(schema)
                # W4 age routing (kenshin/storage.py:384-425): the FIRST
                # archive whose retention covers the point's age takes it;
                # older-than-everything points are dropped.
                slots, touched, days, bounds = {}, {}, {}, {}
                for i, arch in enumerate(schema.archives):
                    label = f"{schema.name}_{i}"
                    if census[f"_c_{label}"] == 0:
                        continue
                    sub = group.where(_arch_cond(schema, i, age))
                    touched[i] = sub.select("metric", "ts")
                    # NOT persisted: caching the LWW result here pins the
                    # write to the raw 32-partition shuffle output and
                    # skips AQE's small-partition coalescing — measured
                    # 189 → 2,880 files/batch and a 2x direct-path
                    # slowdown. The one write consumes it once: the
                    # cascade picks its touched coarse slots from the
                    # routed points instead (``touched``).
                    slots[i] = last_write_wins(
                        sub,
                        arch.sec_per_point,
                        arrival_col=arrival,
                        skew_salts=self.skew_salts,
                    )
                    # the committed-slot count, the propagation bounds
                    # AND the cascade's finer-partition set all come from
                    # the census pass — the write is the ONLY action.
                    # (r11 used an Observation on the write; inside a
                    # streaming foreachBatch a merge write never delivers
                    # CollectMetrics and obs.get blocks — the census
                    # columns are action-free and equivalent.)
                    days[i] = sorted(census[f"_d_{label}"])
                    bounds[i] = (census[f"_lo_{label}"], census[f"_hi_{label}"])
                if slots:
                    store.write_tiers(
                        slots, days=days, bounds=bounds, touched=touched,
                        op="ingest",
                    )
                for i in slots:
                    self.stats.update_operations += 1
                    self.stats.committed_points += int(
                        census[f"_n_{schema.name}_{i}"]
                    )
                self.stats.dropped_old_points += int(
                    census[f"_x_{schema.name}"]
                )
        finally:
            batch.unpersist()

    # -- stream entry points ----------------------------------------------

    def start_lines(
        self,
        lines: DataFrame,
        checkpoint: str,
        line_col: str = "value",
        trigger: dict | None = None,
    ) -> StreamingQuery:
        """Direct mode: text line stream → parse → flush every micro-batch.

        The parsed stream carries ``observe()`` metrics (rows / corrupt
        counts computed inside the engine, no extra job) which surface in
        every StreamingQueryProgress — attach ``ObservedMetricsListener``
        to collect them (S8)."""
        points = parse_metric_lines(lines, line_col=line_col).observe(
            "kenshin_ingest",
            F.count(F.lit(1)).alias("rows"),
            F.count("corrupt").alias("corrupt"),
        )
        writer = points.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    def start_aggregated(
        self,
        points: DataFrame,
        schema: Schema,
        checkpoint: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        """Watermarked mode (single schema): the reference's delayed flush.

        Open windows live in the state store (the hot cache W1); a window
        is emitted once the watermark (= cache_retention, the flush
        eligibility W2) passes its end; eviction is the drain (W3). Late
        points beyond the watermark are dropped here — route them through
        ``process_batch`` (the backfill MERGE) instead, which is exactly
        the reference's age-based direct-to-coarse path (W4).
        """
        step = schema.archives[0].sec_per_point
        store = self.store_for(schema)

        windowed = (
            points.withColumn("event_ts", F.timestamp_seconds(F.col("ts")))
            .withWatermark("event_ts", f"{schema.cache_retention} seconds")
            .groupBy(
                "metric", F.window("event_ts", f"{step} seconds").alias("w")
            )
            .agg(F.expr("max_by(value, ts)").alias("value"))
            .select(
                "metric",
                F.unix_timestamp("w.start").cast("long").alias("ts"),
                "value",
            )
        )

        def flush(batch: DataFrame, batch_id: int) -> None:
            self.stats.batches += 1
            # cache the emitted windows: a foreachBatch frame re-runs
            # its whole stateful plan (state-store reads included) on
            # EVERY action, and this handler takes several — the count,
            # the tier-0 write, and propagate's bounds/broadcast passes.
            # Uncached, that's ~4 redundant executions per micro-batch
            # (measured: the single biggest cost in the aggregated
            # ingest bench).
            batch = batch.persist()
            try:
                # ONE materializing job yields the batch size AND the
                # propagation bounds (the min/max ts propagate would
                # otherwise re-derive in its own job per batch)
                row = batch.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("ts").alias("lo"),
                    F.max("ts").alias("hi"),
                ).collect()[0]
                n = row["n"]
                if n == 0:
                    return
                # writing FROM the cache pins the state shuffle's raw
                # partitioning (AQE can't coalesce a cached frame), so
                # shape the append explicitly: ~500k rows per output
                # task keeps the mor log at a few files per batch
                # instead of one per state partition per day
                store.write_tiers(
                    {0: batch.coalesce(1 + n // 500_000)},
                    bounds={0: (row["lo"], row["hi"])},
                    op="ingest",
                )
                self.stats.update_operations += 1
                self.stats.committed_points += n
            finally:
                batch.unpersist()

        writer = (
            windowed.writeStream.outputMode("append")
            .foreachBatch(flush)
            .option("checkpointLocation", checkpoint)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    def hot_points(self, checkpoint: str) -> DataFrame:
        """S3 — the cache query: read the *unflushed* (open-window) points
        straight out of the aggregated-mode state store via the Spark 4
        state data source. These are exactly the points a fetch would miss
        in the cold store (rurouni/cache.py:161-169 serves the same rows
        over the pickle cache-query port).

        The max_by agg buffer field names (``valueWithExtremumOrdering`` /
        ``extremumOrdering``) are an internal layout of the state store,
        stable across Spark 4.x but not API-guaranteed — assert them up
        front so a future Spark bump fails loudly here instead of
        silently breaking the hot-read path and shutdown_flush."""
        state = self.spark.read.format("statestore").load(checkpoint)
        names = {f.name for f in state.schema}
        want_key = {"metric", "window"}
        value_fields = (
            {f.name for f in state.schema["value"].dataType}
            if "value" in names
            else set()
        )
        key_fields = (
            {f.name for f in state.schema["key"].dataType}
            if "key" in names
            else set()
        )
        if not (
            want_key <= key_fields
            and "valueWithExtremumOrdering" in value_fields
        ):
            raise RuntimeError(
                "statestore layout changed (expected key.{metric,window} and "
                "value.valueWithExtremumOrdering for the max_by buffer; got "
                f"key={sorted(key_fields)} value={sorted(value_fields)}). "
                "This build pins the Spark 4.x windowed-max_by state layout "
                "— update hot_points() for the new Spark version."
            )
        return state.select(
            F.col("key.metric").alias("metric"),
            F.unix_timestamp("key.window.start").cast("long").alias("ts"),
            F.col("value.valueWithExtremumOrdering").alias("value"),
        )

    def shutdown_flush(self, checkpoint: str, schema: Schema) -> None:
        """W11 — force-flush on shutdown (rurouni/writer.py:73-83,
        rurouni/cache.py:171-187): after stopping an *aggregated-mode*
        query, push the still-open windows straight from the state store
        into the cold tier, ignoring flush eligibility. Direct mode needs
        no equivalent (every micro-batch already flushed); on restart the
        checkpoint would re-deliver anyway — this just makes the data
        visible to cold-only readers immediately."""
        hot = self.hot_points(checkpoint)
        if hot.isEmpty():
            return
        self.store_for(schema).write_tiers({0: hot}, op="flush")
        self.stats.update_operations += 1

    # -- maintenance -------------------------------------------------------

    def maintenance(
        self,
        now: int | None = None,
        max_files_per_day: int = 8,
        min_file_bytes: int = 8 << 20,
        target_files_per_day: int = 1,
        vacuum_grace_s: float = 3600.0,
    ) -> dict:
        """The periodic maintenance pass the reference runs as cron'd
        bin/ scripts: for every store this ingest has touched, expire
        day partitions past retention (O4), then audit and compact the
        day partitions steady micro-batching fragmented, then vacuum
        the files both retired. Returns ``{schema_name: {"expired":
        {tier: [days]}, "compacted": {tier: [days]}, "vacuumed": n}}``
        — what actually happened, for the operator log. Run off the hot path (between batches / from a scheduler),
        never concurrently with an active flush into the same store."""
        now = int(now if now is not None else self.clock())
        out: dict = {}
        for name, store in self._stores.items():
            if name == "_root":
                continue  # catalog-only handle, no tiers
            expired = store.expire(now)
            # every degraded tier folds in one write and one commit
            degraded = {}
            for i in range(len(store.schema.archives)):
                days = store.needs_compaction(
                    i,
                    max_files_per_day=max_files_per_day,
                    min_file_bytes=min_file_bytes,
                )
                if days:
                    degraded[i] = days
            compacted = store.compact(
                degraded, target_files_per_day=target_files_per_day
            ) if degraded else {}
            # expiry and compaction retire files logically; maintenance
            # is where the physical reclaim belongs. The grace is the
            # VACUUM-retention contract: any scan planned more than
            # vacuum_grace_s ago must have finished.
            out[name] = {
                "expired": expired,
                "compacted": compacted,
                "vacuumed": len(store.vacuum(grace_s=vacuum_grace_s)),
            }
        return out

    # -- instrumentation (S8) ---------------------------------------------

    def self_metrics_points(self, now: int | None = None) -> DataFrame:
        now = int(now if now is not None else self.clock())
        return self.spark.createDataFrame(
            self.stats.as_points(now), ["metric", "ts", "value"]
        )

    def record_self_metrics(self, now: int | None = None) -> None:
        """Feed the counters back through ingest as ``rurouni.*`` metrics —
        the reference re-injects them every 60 s
        (rurouni/state/instrumentation.py:66-113)."""
        self.process_batch(self.self_metrics_points(now), batch_id=-1)
