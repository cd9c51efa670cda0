"""CLI entry points — the spark-submit surface.

Reference analogs: ``python -m src.clis.historical`` (args at
src/clis/historical.py:22-32) and ``python -m src.clis.realtime_ws``.
Ship the package with::

    spark-submit --py-files ethereum_etl_spark.zip -m ethereum_etl_spark.cli ...

Subcommands:
  gen       — synthesize a deterministic WAL        (walgen)
  apply     — historical replay: run all pending epochs  (§3.1 analog)
              (--audits file.json = write-audit-publish gate, exit 3 on
              violation with nothing committed)
  tail      — realtime: poll the WAL dir and apply new epochs (§3.2 analog)
  stream    — Structured Streaming front-end (readStream + foreachBatch)
  show      — table state / ledger summary (--snapshot = VERSION AS OF)
  lookup    — point read by key, manifest file-skipped
  since     — rows whose current version is newer than --ts, planned
              from per-file min/max stats
  changes   — snapshot-to-snapshot change feed (insert/update/delete)
  lineage   — per-epoch / per-file lineage rows
  compact   — collapse MoR delta stacks (+ optional snapshot expiry)
  vacuum    — delete orphan files of aborted publishes
  export    — CSV export of current state
  multi     — one WAL → pages + host_stats, atomic group commit
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _add_engine_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--wal", required=True, help="WAL parquet directory")
    p.add_argument("--table", required=True, help="SnapshotTable root directory")
    p.add_argument("--epoch-size", type=int, default=50_000)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--lww-method", default="auto", choices=["auto", "agg", "salted"])
    p.add_argument("--n-salt", type=int, default=16)
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--schema-changes", default=None, metavar="PATH",
                   help="JSON file with change-schema records driving "
                        "ADD/RENAME/DROP COLUMN evolution: a list of "
                        '{"schema_version": int, "effective_seq": int, '
                        '"change": {...}} objects (north rule: registry-'
                        "driven schema-update DDL)")
    p.add_argument("--tombstone-retention-seqs", type=int, default=None,
                   metavar="N",
                   help="drop tombstones older than N seqs below the high "
                        "watermark during compaction (deleted keys stop "
                        "accumulating forever). Default: 20x epoch size — "
                        "far beyond any replay/out-of-order horizon an "
                        "epoch-ordered WAL can deliver, and the documented "
                        "change-feed rule is retention > consumer polling "
                        "lag (a window-crossing expiry falls back to a "
                        "full diff). Pass -1 to retain tombstones forever")
    p.add_argument("--audits", default=None, metavar="PATH",
                   help="JSON file with write-audit-publish constraints "
                        "evaluated over each epoch's STAGED files before "
                        "commit: a list of {\"check\": max_rows|min_rows|"
                        "max_null_frac|not_null|max_tombstone_frac, "
                        "[\"column\": c,] [\"limit\": x]} objects; a "
                        "violating epoch publishes nothing (exit 3)")


def _load_registry(path: str | None):
    if path is None:
        return None
    from ethereum_etl_spark.schemas import PAGES_SCHEMA_V1, SchemaChange, SchemaRegistry

    with open(path) as f:
        records = json.load(f)
    reg = SchemaRegistry(base_schema=PAGES_SCHEMA_V1)
    for r in records:
        reg.add_change(SchemaChange(r["schema_version"], r["effective_seq"], r["change"]))
    return reg


def _build_engine(args):
    from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
    from ethereum_etl_spark.session import get_spark

    spark = get_spark(cores=args.cores)
    audits = []
    if getattr(args, "audits", None):
        with open(args.audits) as f:
            audits = json.load(f)
    retention = getattr(args, "tombstone_retention_seqs", None)
    if retention is None:
        retention = 20 * args.epoch_size  # default replay window
    elif retention < 0:
        retention = None  # -1: retain forever (the old conservative mode)
    cfg = EngineConfig(
        epoch_size=args.epoch_size,
        n_buckets=args.n_buckets,
        lww_method=args.lww_method,
        n_salt=args.n_salt,
        audits=audits,
        tombstone_retention_seqs=retention,
    )
    registry = _load_registry(args.schema_changes)
    if registry is not None:
        return CDCEngine(spark, args.wal, args.table, registry=registry, config=cfg)
    return CDCEngine(spark, args.wal, args.table, config=cfg)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ethereum_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a deterministic synthetic WAL")
    g.add_argument("--out", required=True)
    g.add_argument("--n-events", type=int, default=100_000)
    g.add_argument("--n-urls", type=int, default=20_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--hot-frac", type=float, default=0.0)
    g.add_argument("--ooo-frac", type=float, default=0.1)
    g.add_argument("--n-files", type=int, default=32)
    g.add_argument("--lang-effective-seq", type=int, default=None,
                   help="seq from which events carry a `lang` value "
                        "(pairs with apply --schema-changes add_column)")
    g.add_argument("--cores", type=int, default=None)

    a = sub.add_parser("apply", help="historical replay (all pending epochs)")
    _add_engine_args(a)

    t = sub.add_parser("tail", help="poll WAL dir, apply new epochs")
    _add_engine_args(t)
    t.add_argument("--poll-interval", type=float, default=1.0)
    t.add_argument("--max-polls", type=int, default=None)

    st = sub.add_parser("stream", help="Structured Streaming front-end: "
                        "readStream + foreachBatch drains the WAL into the "
                        "engine ledger (availableNow), exactly-once")
    _add_engine_args(st)
    st.add_argument("--checkpoint", required=True,
                    help="Spark streaming checkpoint dir (source progress; "
                         "sink exactly-once stays with the engine ledger)")
    st.add_argument("--max-files-per-trigger", type=int, default=None)

    ln = sub.add_parser("lineage", help="per-epoch, per-file lineage rows "
                        "(offsets, row counts, bytes, commit snapshot)")
    _add_engine_args(ln)
    ln.add_argument("--epoch", type=int, default=None,
                    help="only this epoch's rows (default: summary of all)")

    s = sub.add_parser("show", help="table / ledger summary")
    _add_engine_args(s)
    s.add_argument("--snapshot", default=None,
                   help="time-travel: show this committed snapshot id "
                        "(VERSION AS OF) instead of the current one")

    c = sub.add_parser("compact", help="collapse merge-on-read delta stacks into base files")
    _add_engine_args(c)
    c.add_argument("--expire-keep-last", type=int, default=None,
                   help="after compacting, expire snapshots keeping the last K")

    e = sub.add_parser("export", help="export current table state to CSV "
                       "(reference S9: COPY table TO path — "
                       "src/repositories/sqlite/base.py:177-185)")
    _add_engine_args(e)
    e.add_argument("--out", required=True)

    lk = sub.add_parser("lookup", help="point lookup by key with manifest "
                        "file-skipping: scans ~1/n_buckets of the table "
                        "regardless of its size")
    _add_engine_args(lk)
    lk.add_argument("--key", required=True)
    lk.add_argument("--snapshot", default=None,
                    help="time-travel lookup at this committed snapshot")

    bf = sub.add_parser("backfill", help="reprocess committed rows through a "
                        "transform and commit one new snapshot (extractor "
                        "upgrade); WAL bookkeeping untouched — apply stays "
                        "a no-op, time travel serves the old text")
    _add_engine_args(bf)
    bf.add_argument("--transform", default="reextract", choices=["reextract"],
                    help="reextract = re-run the html→text extractor over "
                         "every live row")

    v = sub.add_parser("vacuum", help="delete orphan data files (aborted "
                       "stages / failed audit gates) referenced by no "
                       "manifest; committed snapshots and time travel "
                       "are untouched")
    _add_engine_args(v)
    v.add_argument("--older-than-s", type=float, default=3600.0,
                   help="safety grace: only files older than this are "
                        "candidates (0 = everything; only safe with no "
                        "writer running)")

    si = sub.add_parser("since", help="pages whose CURRENT version is newer "
                        "than a timestamp, planned from manifest min/max "
                        "stats: only files whose footer ts_max reaches the "
                        "bound are read (Iceberg data-skipping analog)")
    _add_engine_args(si)
    si.add_argument("--ts", required=True,
                    help="ISO timestamp or integer epoch-microseconds lower "
                         "bound (inclusive) on the current version's warc_ts")
    si.add_argument("--snapshot", default=None,
                    help="evaluate at this committed snapshot (time travel)")
    si.add_argument("--out", default=None,
                    help="write matching rows as parquet here (default: summary only)")

    ch = sub.add_parser("changes", help="net row changes between two committed "
                        "snapshots (incremental read / change feed); work is "
                        "proportional to rows written in the window")
    _add_engine_args(ch)
    ch.add_argument("--from-snapshot", default=None,
                    help="exclusive lower snapshot id (default: table creation)")
    ch.add_argument("--to-snapshot", default=None,
                    help="inclusive upper snapshot id (default: current)")
    ch.add_argument("--out", default=None,
                    help="write the change rows as parquet here (default: summary only)")
    ch.add_argument("--preimage", action="store_true",
                    help="Delta-CDF shape: updates emit a preimage/postimage "
                         "pair, deletes carry the deleted payload (feeds "
                         "incremental view maintenance)")

    m = sub.add_parser("multi", help="multi-table apply: one WAL → pages + "
                       "host_stats under one atomic group commit "
                       "(reference: stream → 14 entity tables, src/tasks/dag.py:32-49)")
    m.add_argument("--wal", required=True)
    m.add_argument("--root", required=True, help="group root (pages/ + host_stats/ inside)")
    m.add_argument("--epoch-size", type=int, default=50_000)
    m.add_argument("--cores", type=int, default=None)

    mc = sub.add_parser("multi-changes", help="incremental change feeds of the "
                        "fan-out tables: pages via the manifest-diff LWW feed, "
                        "host_stats via the touched-bucket manifest diff — both "
                        "∝ window writes, not table size")
    mc.add_argument("--wal", required=True)
    mc.add_argument("--root", required=True)
    mc.add_argument("--table", default="pages", choices=["pages", "host_stats"])
    mc.add_argument("--from-epoch", type=int, required=True,
                    help="group-ledger epoch_id the consumer last saw; the "
                         "feed covers (that epoch's snapshots, current]")
    mc.add_argument("--cores", type=int, default=None)

    args = ap.parse_args(argv)

    if args.cmd == "multi":
        from ethereum_etl_spark.plans.multi import MultiTableEngine
        from ethereum_etl_spark.session import get_spark

        spark = get_spark(cores=args.cores)
        eng = MultiTableEngine(spark, args.wal, args.root, epoch_size=args.epoch_size)
        t0 = time.time()
        results = eng.run()
        dt = time.time() - t0
        n = sum(r.n_events for r in results)
        pages = eng.read_pages()
        hosts = eng.read_hosts()
        print(json.dumps({
            "epochs": len(results), "events": n,
            "events_per_sec": round(n / dt, 1) if dt > 0 else None,
            "high_watermark": eng.high_watermark(),
            "pages_rows": pages.count() if pages is not None else 0,
            "host_rows": hosts.count() if hosts is not None else 0,
        }))
        return 0

    if args.cmd == "multi-changes":
        from pyspark.sql import functions as F

        from ethereum_etl_spark.plans.multi import MultiTableEngine
        from ethereum_etl_spark.session import get_spark

        spark = get_spark(cores=args.cores)
        eng = MultiTableEngine(spark, args.wal, args.root)
        entry = next(
            (e for e in eng.group_entries() if e["epoch_id"] == args.from_epoch),
            None,
        )
        if entry is None:
            print(json.dumps({"error": "unknown_epoch", "epoch_id": args.from_epoch}))
            return 2
        from_sid = entry["tables"][args.table]
        stats: dict = {}
        if args.table == "pages":
            feed = eng.changes_pages(from_sid)
        else:
            feed = eng.changes_hosts(from_sid, stats_out=stats)
        counts = {
            r["change_type"]: r["n"]
            for r in feed.groupBy("change_type").agg(F.count("*").alias("n")).collect()
        }
        out = {
            "table": args.table,
            "from_snapshot": from_sid,
            "rows": int(sum(counts.values())),
            "by_type": counts,
        }
        out.update(stats)
        print(json.dumps(out))
        return 0

    if args.cmd == "gen":
        from ethereum_etl_spark.session import get_spark
        from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal

        spark = get_spark(cores=args.cores)
        cfg = WalConfig(
            n_events=args.n_events, n_urls=args.n_urls, seed=args.seed,
            hot_frac=args.hot_frac, ooo_frac=args.ooo_frac,
            lang_effective_seq=args.lang_effective_seq,
        )
        write_wal(gen_wal(spark, cfg), args.out, n_files=args.n_files)
        print(json.dumps({"written": args.out, "n_events": args.n_events}))
        return 0

    engine = _build_engine(args)

    if args.cmd == "apply":
        from ethereum_etl_spark.plans.engine import AuditError

        t0 = time.time()
        try:
            results = engine.run()
        except AuditError as exc:
            print(json.dumps({
                "error": "audit_failed",
                "epoch": exc.epoch_id,
                "failures": exc.failures,
                "high_watermark": engine.table.high_watermark(),
            }))
            return 3
        n = sum(r.n_events for r in results)
        dt = time.time() - t0
        print(json.dumps({
            "epochs": len(results), "events": n,
            "events_per_sec": round(n / dt, 1) if dt > 0 else None,
            "high_watermark": engine.table.high_watermark(),
        }))
        return 0

    if args.cmd == "tail":
        from ethereum_etl_spark.streaming.tailer import tail

        results = tail(
            engine, poll_interval_s=args.poll_interval, max_polls=args.max_polls,
            on_epoch=lambda r: print(
                json.dumps({"epoch": r.epoch_id, "events": r.n_events, "snapshot": r.snapshot_id})
            ),
        )
        print(json.dumps({"epochs": len(results)}))
        return 0

    if args.cmd == "stream":
        from ethereum_etl_spark.streaming.stream_apply import stream_apply

        results = stream_apply(
            engine, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        print(json.dumps({
            "epochs": len(results),
            "events": sum(r.n_events for r in results),
            "high_watermark": engine.table.high_watermark(),
        }))
        return 0

    if args.cmd == "lineage":
        from pyspark.sql import functions as F

        df = engine.read_lineage()
        if df is None:
            print(json.dumps({"epochs": 0, "rows": []}))
            return 0
        if args.epoch is not None:
            rows = [
                {k: (v.isoformat() if hasattr(v, "isoformat") else v)
                 for k, v in r.asDict().items()}
                for r in df.filter(F.col("epoch_id") == args.epoch)
                           .orderBy("start_seq").collect()
            ]
            print(json.dumps({"epoch": args.epoch, "rows": rows}))
            return 0
        summary = (
            df.groupBy("epoch_id")
            .agg(
                F.count("*").alias("files"),
                F.sum("row_count").alias("rows"),
                F.sum("bytes").alias("bytes"),
                F.min("start_seq").alias("start_seq"),
                F.max("end_seq").alias("end_seq"),
                F.first("snapshot_id").alias("snapshot"),
            )
            .orderBy("epoch_id")
            .collect()
        )
        print(json.dumps({"epochs": [r.asDict() for r in summary]}))
        return 0

    if args.cmd == "compact":
        depth_before = engine.table.delta_depth()
        sid = engine.table.compact_groups(
            tombstone_retention_seqs=engine.config.tombstone_retention_seqs
        )
        expired = (
            engine.table.expire_snapshots(keep_last=args.expire_keep_last)
            if args.expire_keep_last is not None
            else 0
        )
        print(json.dumps({
            "delta_layers_before": sum(depth_before.values()),
            "snapshot": sid,
            "files_expired": expired,
        }))
        return 0

    if args.cmd == "export":
        from pyspark.sql import functions as F

        df = engine.read_table()
        if df is None:
            print(json.dumps({"exported": 0}))
            return 0
        # binary html is not CSV-representable; export its hex and length
        out_df = df.withColumn("html_sha", F.sha2(F.col("html"), 256)).withColumn(
            "html_len", F.length("html")
        ).drop("html")
        out_df.write.mode("overwrite").option("header", True).csv(args.out)
        # summarize from the written artifact's metadata — the previous
        # out_df.count() here re-read the WHOLE table a second time (and
        # re-ran the MoR collapse) just for a log line
        import os

        shards = [
            os.path.join(args.out, fn)
            for fn in os.listdir(args.out)
            if fn.endswith(".csv")
        ]
        print(json.dumps({
            "path": args.out,
            "files": len(shards),
            "bytes": sum(os.path.getsize(p) for p in shards),
            "high_watermark": engine.table.high_watermark(),
        }))
        return 0

    if args.cmd == "lookup":
        df, scanned, total = engine.table.read_key(args.key, snapshot_id=args.snapshot)
        rows = [] if df is None else df.collect()
        out = {
            "key": args.key,
            "found": len(rows) > 0,
            "files_scanned": scanned,
            "files_total": total,
        }
        if rows:
            r = rows[0].asDict()
            r.pop("html", None)  # binary: not JSON-safe; text rides along
            r["warc_ts"] = str(r.get("warc_ts"))
            out["row"] = r
        print(json.dumps(out))
        return 0

    if args.cmd == "backfill":
        from pyspark.sql import functions as F

        from ethereum_etl_spark.functions.extract import extract_text_udf
        from ethereum_etl_spark.operators.snapshot_table import TOMBSTONE_COL

        def reextract(df):
            live = ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            return df.withColumn(
                "text",
                F.when(live, extract_text_udf(F.col("html"))).otherwise(
                    F.lit(None).cast("string")
                ),
            )

        sid = engine.backfill(reextract, note=args.transform)
        print(json.dumps({
            "snapshot": sid,
            "transform": args.transform,
            "high_watermark": engine.table.high_watermark(),
        }))
        return 0

    if args.cmd == "vacuum":
        n = engine.table.vacuum_orphans(older_than_s=args.older_than_s)
        print(json.dumps({
            "orphans_deleted": n,
            "high_watermark": engine.table.high_watermark(),
        }))
        return 0

    if args.cmd == "since":
        import datetime as _dt

        raw = args.ts
        ts_lo = int(raw) if raw.isdigit() else _dt.datetime.fromisoformat(raw)
        df, scanned, total = engine.table.read_updated_since(
            ts_lo, snapshot_id=args.snapshot
        )
        n = 0
        if df is not None:
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
                df = engine.spark.read.parquet(args.out)
            n = df.count()
        print(json.dumps({
            "ts": str(raw),
            "rows": n,
            "files_scanned": scanned,
            "files_total": total,
            **({"out": args.out} if args.out else {}),
        }))
        return 0

    if args.cmd == "changes":
        from pyspark.sql import functions as F

        try:
            df = engine.changes(
                args.from_snapshot, args.to_snapshot, preimage=args.preimage
            )
        except FileNotFoundError as exc:
            print(json.dumps({
                "error": f"unknown or expired snapshot: {exc}",
                "known": [e["snapshot_id"] for e in engine.table.read_ledger()
                          if "snapshot_id" in e],
            }))
            return 1
        if df is None:
            print(json.dumps({"changes": 0}))
            return 0
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            df = engine.spark.read.parquet(args.out)
        counts = {
            r["change_type"]: r["n"]
            for r in df.groupBy("change_type").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({
            "from": args.from_snapshot,
            "to": args.to_snapshot,
            "inserts": counts.get("insert", 0),
            "updates": counts.get("update_postimage", 0),
            "deletes": counts.get("delete", 0),
            **(
                {"preimages": counts.get("update_preimage", 0)}
                if args.preimage else {}
            ),
            "out": args.out,
        }))
        return 0

    if args.cmd == "show":
        if args.snapshot:
            try:
                snap = engine.table.read_snapshot_meta(args.snapshot)
            except FileNotFoundError:
                print(json.dumps({
                    "error": f"unknown or expired snapshot {args.snapshot!r}",
                    "known": [e["snapshot_id"] for e in engine.table.read_ledger()],
                }))
                return 1
        else:
            snap = engine.table.current_snapshot()
        df = engine.read_table(snapshot_id=args.snapshot)
        print(json.dumps({
            "snapshot": snap.snapshot_id if snap else None,
            "schema_version": snap.schema_version if snap else None,
            "files": len(snap.files) if snap else 0,
            "rows": df.count() if df is not None else 0,
            "high_watermark": engine.table.high_watermark(),
            "epochs_committed": len(engine.table.committed_epochs()),
        }))
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
