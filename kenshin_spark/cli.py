"""CLI — the reference's bin/ tools over a tiered store.

Mirrors the operator surface of bin/kenshin-info.py, bin/kenshin-fetch.py,
bin/kenshin-get-metrics.py, bin/kenshin-delete.py, and
bin/kenshin-change-schema.py as subcommands over a ``ParquetTieredStore``
root. Usage::

    python -m kenshin_spark.cli info   --root /data/store --retentions 60s:1d,300s:7d
    python -m kenshin_spark.cli fetch  --root ... --metric sys.cpu --from 0 --until 3600
    python -m kenshin_spark.cli search --root ... --pattern '^sys\\.'
    python -m kenshin_spark.cli delete --root ... --metric sys.cpu.old
    python -m kenshin_spark.cli expire --root ... --now 1700000000
    python -m kenshin_spark.cli migrate --root ...   # adopt a legacy tree
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from kenshin_spark.config import Schema
from kenshin_spark.operators.maintenance import index_rebuild, metric_search
from kenshin_spark.session import get_spark
from kenshin_spark.store import ParquetTieredStore


def _spark_schema(args):
    spark = get_spark("kenshin-cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    schema = Schema.from_strings(
        "cli", ".*", args.retentions, xff=args.xff, agg_method=args.agg
    )
    return spark, schema


def _store(args) -> ParquetTieredStore:
    spark, schema = _spark_schema(args)
    return ParquetTieredStore(spark, schema, args.root)


def cmd_migrate(args) -> None:
    """Adopt a tree written outside the manifest log (the root every
    other verb refuses to open) into one commit, then report it."""
    spark, schema = _spark_schema(args)
    store = ParquetTieredStore.migrate(spark, schema, args.root)
    print(json.dumps({
        "committed_seq": store.commit.epoch(),
        "files": len(store.commit.live_files()),
    }))


def cmd_info(args) -> None:
    """bin/kenshin-info.py — per-metric stats from tier 0."""
    store = _store(args)
    for r in index_rebuild(store.read(0)).collect():
        print(json.dumps(r.asDict()))


def cmd_fetch(args) -> None:
    """bin/kenshin-fetch.py — grid fetch of one metric."""
    store = _store(args)
    now = args.now or int(time.time())
    grid = store.fetch([args.metric], args.from_ts, args.until_ts, now)
    if grid is None:
        print("null")  # window entirely outside retention
        return
    for r in grid.orderBy("ts").collect():
        print(f"{r['ts']}\t{r['value']}")


def cmd_render(args) -> None:
    """graphite-web /render — parse a nested target expression, resolve
    the glob, fetch the grid, apply the function chain."""
    from kenshin_spark.functions.render import apply_chain
    from kenshin_spark.functions.targets import parse_target

    store = _store(args)
    glob, chain = parse_target(args.target)
    now = args.now or int(time.time())
    grid = store.fetch_glob(glob, args.from_ts, args.until_ts, now)
    if grid is None:
        print("null")
        return
    out = apply_chain(grid, chain)
    for r in out.orderBy("metric", "ts").collect():
        print(f"{r['metric']}\t{r['ts']}\t{r['value']}")


def cmd_search(args) -> None:
    """bin/kenshin-get-metrics.py — regex search over stored metrics."""
    store = _store(args)
    for r in metric_search(store.read(0), [args.pattern]).collect():
        print(r["metric"])


def cmd_delete(args) -> None:
    """bin/kenshin-delete.py — remove a metric's rows from all tiers."""
    store = _store(args)
    store.delete_metrics([args.metric])
    print(f"deleted {args.metric}")


def cmd_expire(args) -> None:
    """The retention-expiry job (SURVEY O4) — partition drops."""
    store = _store(args)
    now = args.now or int(time.time())
    dropped = store.expire(now)
    print(json.dumps({str(k): v for k, v in dropped.items()}))


def cmd_backup(args) -> None:
    """Copy the whole store (tiers + catalog + manifest log) to another
    root — local, file:, hdfs: or s3a all take the same path."""
    store = _store(args)
    copied = store.backup_to(args.dest)
    print(json.dumps({"dest": args.dest, "copied": copied}))


def cmd_explain(args) -> None:
    """Print the formatted physical plan of a registry query at the
    given sf dir — the plan-audit tool the repo's own scale reviews use
    (pushed filters / broadcasts / exchanges at a glance)."""
    from kenshin_spark.queries import QUERIES
    from kenshin_spark.session import get_spark

    spark = get_spark("kenshin-explain", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[args.query].fn(spark, args.sf_dir)
    print(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    )


def cmd_validate(args) -> None:
    """Deequ-lite ingest gate: run a constraint suite against a parquet
    table and print the report (one fused scan for row-local checks).
    Default suite = the documents-corpus gate; --checks takes a JSON
    list of {kind, column, ...} objects for custom suites."""
    from kenshin_spark.quality import Check, DOCUMENT_CHECKS, validate

    spark = get_spark("kenshin-validate", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.table)
    if args.checks:
        checks = [Check(**c) for c in json.loads(args.checks)]
    else:
        checks = DOCUMENT_CHECKS
    report = validate(df, checks)
    failed = 0
    for r in report.collect():
        print(json.dumps(r.asDict()))
        failed += 0 if r["passed"] else 1
    if failed:
        sys.exit(1)  # gate semantics: nonzero on any violation


def cmd_recover(args) -> None:
    """Crash recovery after an interrupted whole-directory swap: restore
    any .bak whose live directory is missing (the change-schema .bak
    dance, bin/kenshin-change-schema.py:103-112). Run on store open
    after an unclean shutdown."""
    store = _store(args)
    print(json.dumps({"restored": store.recover()}))


def cmd_change_schema(args) -> None:
    """bin/kenshin-change-schema.py:25-125 — diff the live schema against
    the new retentions/agg/xff; CHANGE_META rewraps in place, REBUILD
    re-aggregates into a fresh store and swaps with a .bak."""
    from kenshin_spark.operators.schema_change import change_schema

    store = _store(args)
    new_schema = Schema.from_strings(
        "cli", ".*", args.new_retentions,
        xff=args.new_xff if args.new_xff is not None else args.xff,
        agg_method=args.new_agg or args.agg,
    )
    now = args.now or int(time.time())
    res = change_schema(store.spark, store, new_schema, now)
    print(json.dumps({"action": res.action, "root": res.store.root}))


def cmd_import(args) -> None:
    """bin/kenshin-rehash.py:22-100 — migrate a whisper (.wsp) or kenshin
    (.hs) tree into the tiered store: the shuffle IS the re-shard, each
    tier build is one distributed aggregation."""
    from kenshin_spark.operators.schema_change import (
        import_kenshin_to_store,
        import_whisper_to_store,
    )

    spark = get_spark("kenshin-cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    schema = Schema.from_strings(
        "cli", ".*", args.retentions, xff=args.xff, agg_method=args.agg
    )
    now = args.now or int(time.time())
    if args.format == "whisper":
        store = import_whisper_to_store(
            spark, args.source, schema, args.root, now, base=args.base
        )
    else:
        store = import_kenshin_to_store(spark, args.source, schema, args.root, now)
    n = store.read(0).count()
    print(json.dumps({"root": store.root, "tier0_rows": n}))


def cmd_export(args) -> None:
    """Reverse migration: dump the tiered store to kenshin .hs (fnv1a-
    grouped, N metrics/file) or whisper .wsp (one metric/file, graphite
    tree) — a deployment can leave this engine as easily as it arrived."""
    store = _store(args)
    schema = store.schema
    archives = [(a.sec_per_point, a.count) for a in schema.archives]
    tiers = [store.read(i) for i in range(len(archives))]
    if args.format == "whisper":
        from kenshin_spark.sources.whisper import export_whisper

        manifest = export_whisper(
            tiers, archives, args.dest,
            agg_method=schema.agg_method, xff=schema.xff,
        )
    else:
        from kenshin_spark.sources.kenshin_hs import export_kenshin_hs

        manifest = export_kenshin_hs(
            tiers, archives, args.dest, n_files=args.n_files,
            agg_method=schema.agg_method, xff=schema.xff,
        )
    rows = manifest.collect()
    print(json.dumps({
        "files": len(rows),
        "bytes": sum(r["n_bytes"] for r in rows),
    }))


def cmd_gc(args) -> None:
    """bin/kenshin-find-file.py:51-73 — cataloged metrics with no live
    points (everything expired): the delete candidates."""
    from kenshin_spark.operators.maintenance import gc_candidates

    store = _store(args)
    cands = gc_candidates(store.catalog(), store.read(0))
    for r in cands.select("metric").collect():
        print(r["metric"])


def cmd_vacuum(args) -> None:
    """Physically reclaim manifest-retired files older than --grace
    seconds (tombstone-aged — the VACUUM retention contract: a scan
    must finish within the grace window of the snapshot it planned)."""
    store = _store(args)
    removed = store.vacuum(grace_s=args.grace)
    print(json.dumps({"backend": "manifest", "removed": removed}))


def cmd_history(args) -> None:
    """Print the retained commit log newest-first, one JSON object per
    line: seq, ts, op, checkpoint, adds/drops counts — DESCRIBE HISTORY
    for the store."""
    store = _store(args)
    for rec in store.history(limit=args.limit):
        print(json.dumps(rec, sort_keys=True))


def cmd_restore(args) -> None:
    """Roll the live file set back to manifest seq --version (RESTORE
    TABLE): one metadata commit; fails loudly — changing nothing — when
    the snapshot's files are past the vacuum horizon."""
    store = _store(args)
    seq = store.restore(args.version)
    print(json.dumps({"restored_to": args.version, "committed_seq": seq}))


def cmd_keepalive(args) -> None:
    """bin/kenshin-send-zero-metric.py:26-45 — write a 0-value point at
    now for every cataloged metric dormant longer than --dormant-after,
    so it survives a migration window."""
    from kenshin_spark.operators.maintenance import keep_alive_points

    store = _store(args)
    now = args.now or int(time.time())
    pts = keep_alive_points(
        store.catalog(), store.read(0), now, dormant_after=args.dormant_after
    )
    n = pts.count()
    if n:
        store.upsert(0, pts)
    print(json.dumps({"kept_alive": n}))


def cmd_audit(args) -> None:
    """Small-file IO-shape audit: per-tier, per-day file counts/sizes
    plus the days needs_compaction would flag (the maintenance loop's
    read side — the reference's preallocated format can't fragment, a
    parquet store must watch for it)."""
    store = _store(args)
    for i in range(len(store.schema.archives)):
        # one listing per tier: the flag comes from the same report
        for r in store.file_report(i):
            print(json.dumps({
                "tier": i,
                **r,
                "flagged": store.day_degraded(
                    r,
                    max_files_per_day=args.max_files,
                    min_file_bytes=args.min_file_bytes,
                ),
            }))


def cmd_compact(args) -> None:
    """Targeted compaction: rewrite the flagged (or given) day
    partitions of each tier back to --target-files files. Run off the
    hot path, like the reference's maintenance scripts."""
    store = _store(args)
    out = {}
    for i in range(len(store.schema.archives)):
        if args.days is not None:
            days = [int(d) for d in args.days.split(",") if d != ""]
        else:
            days = store.needs_compaction(
                i,
                max_files_per_day=args.max_files,
                min_file_bytes=args.min_file_bytes,
            )
        done = []
        if days:
            # report what actually happened: requested days absent
            # from this tier are skipped by compact, not echoed back
            done = store.compact(
                i, target_files_per_day=args.target_files, days=days
            )
        out[str(i)] = done
    print(json.dumps({"compacted_days": out}))


def _corpus(args):
    from kenshin_spark.pipeline import StreamingCorpusIngest

    spark = get_spark("kenshin-cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # merges are only consulted by ingest(); the maintenance surface
    # (file_report / compact / vacuum) never tokenizes
    return StreamingCorpusIngest(spark, args.root, merges=[])


def cmd_corpus_audit(args) -> None:
    """Corpus-ingest counterpart of `audit`: live parquet files per
    state table and the manifest epoch (commits so far), both read off
    the committed manifest."""
    ing = _corpus(args)
    print(json.dumps({
        "files": ing.file_report(), "epoch": ing.commit.epoch(),
    }))


def cmd_corpus_maintain(args) -> None:
    """Corpus-ingest counterpart of `compact`: one-call maintenance
    pass (fold fragmented state tables -> vacuum retired files). Run
    off the hot path, never concurrently with an active ingest."""
    ing = _corpus(args)
    print(json.dumps(ing.maintenance(
        target_files=args.target_files, min_frag=args.min_frag,
    )))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="kenshin-spark")
    p.add_argument("--root", required=True)
    p.add_argument("--retentions", default="60s:1d,300s:7d,3600s:90d")
    p.add_argument("--agg", default="average")
    p.add_argument("--xff", type=float, default=20.0)
    p.add_argument("--cpus", type=int, default=4)
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("info")
    f = sub.add_parser("fetch")
    f.add_argument("--metric", required=True)
    f.add_argument("--from", dest="from_ts", type=int, required=True)
    f.add_argument("--until", dest="until_ts", type=int, required=True)
    f.add_argument("--now", type=int, default=None)
    r = sub.add_parser("render")
    r.add_argument("--target", required=True,
                   help="graphite target, e.g. scale(movingAverage(a.*,5),2)")
    r.add_argument("--from", dest="from_ts", type=int, required=True)
    r.add_argument("--until", dest="until_ts", type=int, required=True)
    r.add_argument("--now", type=int, default=None)
    s = sub.add_parser("search")
    s.add_argument("--pattern", required=True)
    d = sub.add_parser("delete")
    d.add_argument("--metric", required=True)
    e = sub.add_parser("expire")
    e.add_argument("--now", type=int, default=None)
    sub.add_parser("recover")
    sub.add_parser("migrate")
    bk = sub.add_parser("backup")
    bk.add_argument("--dest", required=True)
    ex = sub.add_parser("explain")
    ex.add_argument("--query", required=True)
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    c = sub.add_parser("change-schema")
    c.add_argument("--new-retentions", required=True)
    c.add_argument("--new-agg", default=None)
    c.add_argument("--new-xff", type=float, default=None)
    c.add_argument("--now", type=int, default=None)
    i = sub.add_parser("import")
    i.add_argument("--source", required=True, help="glob of .wsp/.hs files")
    i.add_argument("--format", choices=("whisper", "kenshin"), required=True)
    i.add_argument("--base", default=None, help="whisper tree root for metric names")
    i.add_argument("--now", type=int, default=None)
    sub.add_parser("gc")
    vc = sub.add_parser("vacuum")
    vc.add_argument("--grace", type=float, default=3600.0,
                    help="seconds a retired file survives after its "
                    "manifest tombstone (default 1h)")
    hi = sub.add_parser("history")
    hi.add_argument("--limit", type=int, default=None,
                    help="newest N commits (default: all retained)")
    rs = sub.add_parser("restore")
    rs.add_argument("--version", type=int, required=True,
                    help="manifest seq to roll the live file set back to")
    ka = sub.add_parser("keepalive")
    ka.add_argument("--dormant-after", type=int, default=86400)
    ka.add_argument("--now", type=int, default=None)
    v = sub.add_parser("validate")
    v.add_argument("--table", required=True, help="parquet path to gate")
    v.add_argument("--checks", default=None,
                   help='JSON list of {"kind": ..., "column": ...} checks')
    xp = sub.add_parser("export")
    xp.add_argument("--dest", required=True)
    xp.add_argument("--format", choices=("whisper", "kenshin"),
                    required=True)
    xp.add_argument("--n-files", type=int, default=16,
                    help="kenshin format: metrics are fnv1a-grouped "
                    "into this many .hs files")
    au = sub.add_parser("audit")
    au.add_argument("--max-files", type=int, default=8)
    au.add_argument("--min-file-bytes", type=int, default=8 << 20)
    co = sub.add_parser("compact")
    co.add_argument("--days", default=None,
                    help="comma-separated day partition values; default "
                    "= whatever the audit flags")
    co.add_argument("--target-files", type=int, default=1)
    co.add_argument("--max-files", type=int, default=8)
    co.add_argument("--min-file-bytes", type=int, default=8 << 20)
    sub.add_parser("corpus-audit",
                   help="--root is a StreamingCorpusIngest root")
    cm = sub.add_parser("corpus-maintain",
                        help="--root is a StreamingCorpusIngest root")
    cm.add_argument("--target-files", type=int, default=1)
    cm.add_argument("--min-frag", type=int, default=16,
                    help="only rewrite a table once it has more than "
                         "this many files (amortizes full rewrites)")

    args = p.parse_args(argv)
    {
        "info": cmd_info,
        "fetch": cmd_fetch,
        "render": cmd_render,
        "search": cmd_search,
        "delete": cmd_delete,
        "expire": cmd_expire,
        "recover": cmd_recover,
        "migrate": cmd_migrate,
        "backup": cmd_backup,
        "explain": cmd_explain,
        "change-schema": cmd_change_schema,
        "import": cmd_import,
        "gc": cmd_gc,
        "vacuum": cmd_vacuum,
        "history": cmd_history,
        "restore": cmd_restore,
        "keepalive": cmd_keepalive,
        "validate": cmd_validate,
        "export": cmd_export,
        "audit": cmd_audit,
        "compact": cmd_compact,
        "corpus-audit": cmd_corpus_audit,
        "corpus-maintain": cmd_corpus_maintain,
    }[args.cmd](args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
