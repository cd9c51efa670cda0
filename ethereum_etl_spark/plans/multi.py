"""Multi-table apply: one WAL epoch stream fanning into several
SnapshotTables under ONE atomic commit.

Reference analog: one block stream feeds 14 dependent entity tables
through the task DAG (src/utils/enumeration.py:1-25, entity→task map
src/tasks/dag.py:32-49), and every sink commits per batch
(src/repositories/sqlite/base.py:173). Here the fan-out is N DataFrame
branches over one epoch slice, and exactly-once across ALL tables comes
from a single GROUP ledger:

1. every member table stages data files and writes its manifest —
   both invisible until referenced (the SnapshotTable write-ahead
   discipline);
2. ONE atomic fsync'd JSONL append to the group ledger commits every
   table's new snapshot at once (THE commit point — a two-phase
   catalog commit; same append-log format as the member ledgers);
3. member tables' own ledgers are appended afterwards, idempotently,
   and *reconciled* from the group ledger on startup — so a crash
   between (2) and (3) self-heals and the group entry stays the single
   source of truth.

The epoch body is the single-table engine's (plans/engine.py
``CDCEngine.run_epoch``): planning, the exactly-once skip, the light
count job, the pages write, crash points, lineage and compaction are
inherited. This subclass supplies only what differs: the commit log
(group ledger, its high watermark and committed epochs, ``reconcile``),
host_stats staging inside its commit step, and its read, change-feed and
vacuum helpers. Pages compaction snapshots live only in the pages
table's own ledger (a maintenance commit rewrites files, not logical
state); reconciliation tolerates member ledgers carrying such extra
entries.

Tables driven here:

- ``pages``    — the LWW-upsert page store (the single-table engine's
                 merge-on-read grouped deltas, 16 buckets, ``agg`` LWW).
                 Schema evolution is registry-driven per epoch, exactly
                 like the single-table engine: pass a ``pages_registry``
                 with change records and each epoch resolves
                 ``version_at(end_seq)`` — the reference's per-entity
                 extract layers evolve independently the same way
                 (src/tasks/extract/block.py:29-34).
- ``host_stats`` — an aggregated per-host dimension (additive counts +
                 max high-water columns), the analog of the reference's
                 enriched lookup dims (account/pool/token aggregates).
                 Additive deltas are exactly-once because epochs are:
                 each epoch's contribution is folded in exactly once.
                 The merge is TOUCHED-BUCKET copy-on-write: the epoch
                 delta (hosts seen this batch) picks the buckets it
                 lands in, only those buckets' current rows are read and
                 re-aggregated, and untouched bucket files carry over —
                 per-epoch dim cost ∝ batch's host spread, not dim size
                 (at 10^8 hosts a full-dim rescan per epoch would be the
                 same trap the pages table avoids via MoR deltas).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ethereum_etl_spark.operators.snapshot_table import (
    BUCKET_COL,
    TOMBSTONE_COL,
    AppendLog,
    Snapshot,
    SnapshotTable,
    bucket_expr,
)
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.plans.engine import InjectedCrash  # noqa: F401 (re-exported)
from ethereum_etl_spark.schemas import SchemaRegistry

#: per-host aggregate dimension (derived table #2)
HOST_STATS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("n_inserts", T.LongType(), False),
        T.StructField("n_updates", T.LongType(), False),
        T.StructField("n_deletes", T.LongType(), False),
        T.StructField("last_seq", T.LongType(), True),
        T.StructField("last_warc_ts", T.TimestampType(), True),
    ]
)

_HOST_COLS = [f.name for f in HOST_STATS_SCHEMA.fields]

#: host key of a url — anchored, NO trailing slash required, so
#: path-less urls (https://example.com) key by their real host instead
#: of silently aggregating under "" (and the key agrees with the
#: streaming surface, streaming/windows.py).
_HOST_RE = r"^https?://([^/]+)"


@dataclass
class MultiEpochResult:
    epoch_id: int
    start_seq: int
    end_seq: int
    n_events: int
    snapshots: dict = field(default_factory=dict)
    skipped: bool = False


class MultiTableEngine(CDCEngine):
    # The loop is CDCEngine's; binding it as this class's own attributes
    # lets per-class instrumentation (perfbench/spans.py wraps methods by
    # class attribute) see one multi.run_epoch span per epoch rather
    # than an engine.run_epoch span nested inside it.
    plan_epochs = CDCEngine.plan_epochs
    run_epoch = CDCEngine.run_epoch
    run = CDCEngine.run

    def __init__(
        self,
        spark: SparkSession,
        wal_path: str,
        root: str,
        epoch_size: int = 50_000,
        pages_registry: SchemaRegistry | None = None,
        crash_points: set | None = None,
    ):
        self.root = root
        os.makedirs(root, exist_ok=True)
        super().__init__(
            spark,
            wal_path,
            os.path.join(root, "pages"),
            registry=pages_registry,
            config=EngineConfig(
                epoch_size=epoch_size,
                n_buckets=16,
                lww_method="agg",
                crash_points=crash_points or set(),
            ),
        )
        self.pages = self.table
        self.hosts = SnapshotTable(
            spark,
            os.path.join(root, "host_stats"),
            registry=SchemaRegistry(base_schema=HOST_STATS_SCHEMA),
            key_col="host",
            n_buckets=16,
        )
        self._tables = {"pages": self.pages, "host_stats": self.hosts}
        self.reconcile()

    # -- group ledger (THE commit point) --------------------------------

    def _group_log(self) -> AppendLog:
        if getattr(self, "_group_log_obj", None) is None:
            self._group_log_obj = AppendLog(os.path.join(self.root, "group_ledger.jsonl"))
            entries = self._group_log_obj.entries()
            self._group_committed = {e["epoch_id"]: e for e in entries}
            self._group_hw = max((e["end_seq"] for e in entries), default=-1)
        return self._group_log_obj

    def group_entries(self) -> list[dict]:
        return self._group_log().entries()

    def _append_group(self, entry: dict) -> None:
        self._group_log().append(entry)  # atomic multi-table commit
        self._group_committed[entry["epoch_id"]] = entry
        self._group_hw = max(self._group_hw, entry["end_seq"])

    def reconcile(self) -> int:
        """Re-derive member-table ledgers from the group ledger: any group
        entry whose snapshot a member ledger has not recorded yet is
        appended (the manifest already exists — staged before the group
        commit). Heals a crash between group commit and member append;
        idempotent. Returns the number of member entries appended."""
        appended = 0
        member_seen = {
            name: {e["snapshot_id"] for e in t.read_ledger()}
            for name, t in self._tables.items()
        }
        for entry in self.group_entries():
            versions = entry.get("schema_versions", {})
            for name, table in self._tables.items():
                sid = entry["tables"][name]
                if sid not in member_seen[name]:
                    table._append_ledger(
                        {
                            "epoch_id": entry["epoch_id"],
                            "start_seq": entry["start_seq"],
                            "end_seq": entry["end_seq"],
                            "n_events": entry["n_events"],
                            "snapshot_id": sid,
                            "schema_version": versions.get(name, 1),
                            "committed_at": entry.get("committed_at"),
                        }
                    )
                    member_seen[name].add(sid)
                    appended += 1
        return appended

    def high_watermark(self) -> int:
        self._group_log()
        return self._group_hw

    # -- the commit step of CDCEngine.run_epoch ---------------------------

    def _committed(self, epoch_id: int) -> MultiEpochResult | None:
        self._group_log()
        e = self._group_committed.get(epoch_id)
        if e is None:
            return None
        self.reconcile()
        return MultiEpochResult(
            epoch_id, e["start_seq"], e["end_seq"], 0, dict(e["tables"]), skipped=True
        )

    def _prepare_commit(self, slice_df, snapshot_id: str, new_files: list, version: int) -> str:
        """Write the pages manifest (invisible until the group ledger
        references it) and stage host_stats; returns its snapshot id."""
        cur = self.pages.current_snapshot()
        self.pages._write_manifest(
            Snapshot(
                snapshot_id=snapshot_id,
                parent_id=cur.snapshot_id if cur else None,
                schema_version=version,
                files=(list(cur.files) if cur else []) + new_files,
                summary={"new_files": len(new_files)},
            )
        )
        return self._stage_hosts(slice_df)

    def _commit(
        self, entry: dict, snapshot_id: str, new_files: list, version: int, hosts_sid: str
    ) -> MultiEpochResult:
        snapshots = {"pages": snapshot_id, "host_stats": hosts_sid}
        self._append_group(
            {
                **{k: entry[k] for k in ("epoch_id", "start_seq", "end_seq", "n_events")},
                "tables": snapshots,
                "schema_versions": {"pages": version, "host_stats": 1},
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        self._maybe_crash("after_group_commit")
        self.reconcile()
        return MultiEpochResult(
            entry["epoch_id"], entry["start_seq"], entry["end_seq"], entry["n_events"], snapshots
        )

    def _stage_hosts(self, slice_df: DataFrame) -> str:
        """host_stats: additive per-host aggregate of the epoch slice,
        merged by TOUCHED-bucket copy-on-write (cost ∝ batch's host
        spread); stages files and manifest, returns the snapshot id."""
        host = F.regexp_extract(F.col("url"), _HOST_RE, 1)
        delta = (
            slice_df.groupBy(host.alias("host"))
            .agg(
                F.count("*").alias("n_events"),
                F.count(F.when(F.col("op") == "insert", 1)).alias("n_inserts"),
                F.count(F.when(F.col("op") == "update", 1)).alias("n_updates"),
                F.count(F.when(F.col("op") == "delete", 1)).alias("n_deletes"),
                F.max("seq").alias("last_seq"),
                F.max("warc_ts").alias("last_warc_ts"),
            )
            .withColumn(BUCKET_COL, bucket_expr("host", self.hosts.n_buckets))
            .persist()
        )
        touched = {r[0] for r in delta.select(BUCKET_COL).distinct().collect()}
        cur, hosts_carried, _ = self.hosts.read_buckets(touched, 1)
        merged = delta.select(*_HOST_COLS)
        if cur is not None:
            merged = (
                cur.select(*_HOST_COLS)
                .unionByName(merged)
                .groupBy("host")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("n_inserts").alias("n_inserts"),
                    F.sum("n_updates").alias("n_updates"),
                    F.sum("n_deletes").alias("n_deletes"),
                    F.max("last_seq").alias("last_seq"),
                    F.max("last_warc_ts").alias("last_warc_ts"),
                )
            )
        merged = merged.withColumn(BUCKET_COL, bucket_expr("host", self.hosts.n_buckets))
        hosts_sid = self.hosts.new_snapshot_id()
        hosts_files = self.hosts.stage(merged, hosts_sid, 1, _HOST_COLS)
        delta.unpersist()
        hosts_cur = self.hosts.current_snapshot()
        self.hosts._write_manifest(
            Snapshot(
                snapshot_id=hosts_sid,
                parent_id=hosts_cur.snapshot_id if hosts_cur else None,
                schema_version=1,
                files=hosts_carried + hosts_files,
                summary={
                    "new_files": len(hosts_files),
                    "carried_files": len(hosts_carried),
                },
            )
        )
        return hosts_sid

    def vacuum_orphans(self, older_than_s: float = 3600.0) -> int:
        """Vacuum every member table with the GROUP ledger's snapshot
        ids as additional liveness roots. The group ledger is the
        commit point: after a crash between the group commit and the
        member-ledger reconcile, a member's own ledger lacks the entry
        for a group-committed snapshot, and a direct
        SnapshotTable.vacuum_orphans on that member root would reclaim
        a committed manifest. (__init__'s reconcile() heals the gap for
        engine-mediated access; this method makes vacuum safe even
        against a group ledger written by a concurrent process after
        this engine's init.) Returns total data files deleted."""
        group_ids: dict[str, set[str]] = {name: set() for name in self._tables}
        for entry in self.group_entries():
            for name, sid in entry.get("tables", {}).items():
                if name in group_ids:
                    group_ids[name].add(sid)
        return sum(
            t.vacuum_orphans(older_than_s, extra_committed_ids=group_ids[name])
            for name, t in self._tables.items()
        )

    # -- read paths -----------------------------------------------------

    def read_pages(self) -> DataFrame | None:
        return self.read_table()

    def read_hosts(self) -> DataFrame | None:
        df = self.hosts.read()
        if df is None:
            return None
        return df.drop(BUCKET_COL, TOMBSTONE_COL)

    def changes_pages(
        self, from_snapshot: str | None, to_snapshot: str | None = None
    ) -> DataFrame | None:
        """Incremental change feed over the fan-out ``pages`` member —
        the single-table engine's manifest-diff path (work ∝ rows written
        in the window). Snapshot ids come from the group ledger's
        per-epoch ``tables["pages"]`` entries."""
        return self.changes(from_snapshot, to_snapshot)

    def changes_hosts(
        self,
        from_snapshot: str | None,
        to_snapshot: str | None = None,
        stats_out: dict | None = None,
    ) -> DataFrame | None:
        """Net changes of the ``host_stats`` dim between two snapshots,
        planned from the MANIFEST DIFF — work ∝ buckets touched in the
        window, not ∝ dim size.

        The dim's merge is touched-bucket copy-on-write, so every row
        that changed in the window lives in a file ADDED in the window
        (files of untouched buckets carry over verbatim). Candidates are
        therefore B's rows of exactly those buckets, and the A-side
        probe reads only the SAME buckets' files from snapshot A — at
        10^8 hosts a feed poll scans the window's buckets, never the
        dim. Each changed host's aggregate rows still compare on ALL
        value columns (``last_seq`` strictly advances whenever a host is
        touched, so the compare is equivalent to a version check; a row
        carried into a rewritten bucket unchanged emits nothing).

        ``stats_out`` (optional dict) receives ``files_scanned`` /
        ``files_total`` for observability and tests.
        """
        from ethereum_etl_spark.operators.changes import CHANGE_TYPE_COL, state_diff

        snap_b = (
            self.hosts.read_snapshot_meta(to_snapshot)
            if to_snapshot is not None
            else self.hosts.current_snapshot()
        )
        if snap_b is None:
            return None
        snap_a = (
            self.hosts.read_snapshot_meta(from_snapshot)
            if from_snapshot is not None
            else None
        )
        a_paths = {f.path for f in snap_a.files} if snap_a is not None else set()
        new_files = [f for f in snap_b.files if f.path not in a_paths]
        buckets = {f.bucket for f in new_files}
        a_files = (
            [f for f in snap_a.files if f.bucket in buckets]
            if snap_a is not None
            else []
        )
        if stats_out is not None:
            stats_out["files_scanned"] = len(new_files) + len(a_files)
            stats_out["files_total"] = len(snap_b.files) + (
                len(snap_a.files) if snap_a is not None else 0
            )
        value_cols = [c for c in _HOST_COLS if c != "host"]
        if not new_files:
            empty = T.StructType(
                [HOST_STATS_SCHEMA["host"], T.StructField(CHANGE_TYPE_COL, T.StringType())]
                + [HOST_STATS_SCHEMA[c] for c in value_cols]
            )
            return self.spark.createDataFrame([], empty)
        # read each side at ITS OWN snapshot's schema version (a literal
        # would silently read stale-schema files if host_stats ever gains
        # a v2 while the write path uses version_at)
        b_cand = self.hosts._read_files(
            new_files, snap_b.schema_version
        ).drop(BUCKET_COL, TOMBSTONE_COL)
        a_side = (
            self.hosts._read_files(a_files, snap_a.schema_version)
            if a_files
            else None
        )
        if a_side is not None:
            a_side = a_side.drop(BUCKET_COL, TOMBSTONE_COL)
        return state_diff(
            a_side,
            b_cand,
            key_cols=("host",),
            version_cols=value_cols,
            payload_cols=value_cols,
        )
