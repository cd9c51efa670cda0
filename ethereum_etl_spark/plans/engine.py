"""The epoch loop — the engine's query lifecycle.

Reference analog (SURVEY.md §3.1): the per-block-range micro-batch loop of
``python -m src.clis.historical`` (src/clis/historical.py:67-91) — plan a
batch, fetch, extract, enrich, export, commit, advance. Here the hand-
rolled DAG scheduler (src/tasks/dag.py, src/tasks/graph.py) is replaced by
lazy DataFrame lineage (Catalyst owns the task DAG) and the batch loop
survives as the epoch loop:

    for each epoch (lo, hi] above the ledger high-watermark:
        slice   = WAL WHERE seq > lo AND seq <= hi      (overlapping files)
        winners = LWW winner seq per url                (op rides along)
        text    = vectorized html→text UDF              (winners ONLY —
                                                         UDF cost ∝ keys,
                                                         not ∝ events)
        stage merge-on-read delta files (LWW collapse deferred to
        read/compaction) → write lineage → ATOMIC ledger append

Exactly-once: the ledger append is the single commit point. An epoch whose
epoch_id is already in the ledger is skipped verbatim on resume; a crash
anywhere before the append leaves only unreferenced files, so re-running
the epoch converges to the identical state (the reference gets the same
property from PK upserts — src/repositories/sqlite/base.py:159-171).

Planning runs no Spark job: the WAL file index (``_wal_files``) keeps
each immutable file's footer stats, and an epoch's scan and its lineage
rows come from one listing of it.

Skew: when an epoch's key histogram is degenerate (hot url prefixes), the
LWW stage switches to the salted two-phase plan (operators/lww.py), chosen
per-epoch by a cheap sampled heaviness probe or forced via config.

The same loop drives the multi-table fan-out (plans/multi.py): that
subclass supplies only its commit log (a group ledger over pages and
host_stats) and stages host_stats inside its commit step.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ethereum_etl_spark.functions.extract import extract_text_udf
from ethereum_etl_spark.operators.lww import lww_winner_seqs
from ethereum_etl_spark.operators.snapshot_table import (
    BUCKET_COL,
    TOMBSTONE_COL,
    SnapshotTable,
)
from ethereum_etl_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    PAGES_SCHEMA_V1,
    SchemaRegistry,
    conform_to_schema,
)

#: LWW plans a config may ask for; 'auto' resolves per epoch to one of
#: the other two, and the ledger records the plan that ran
LWW_METHODS = ("auto", "agg", "salted")
#: share of an epoch's events the 'auto' skew probe samples
SKEW_SAMPLE_FRAC = 0.05
#: sticky skew decision: the key distribution of a WAL drifts slowly, so
#: 'auto' probes the first epoch and re-probes only every this many epochs
SKEW_REPROBE_EVERY = 8
#: force the payload-fetch broadcast while the winner-seq list (~8 B/key)
#: has at most this many rows; past it a shuffle join on seq moves the
#: payload exactly once
BROADCAST_MERGE_MAX_ROWS = 2_000_000
#: at most this many compaction groups (deepest first) collapse after one
#: epoch — keeps per-epoch maintenance latency bounded; remaining deep
#: groups drain on later epochs
COMPACT_GROUPS_PER_EPOCH = 2


class AuditError(RuntimeError):
    """Write-audit-publish rejection: the staged epoch violated a
    declared data-quality constraint, so NOTHING was committed — the
    staged files exist but no manifest or ledger entry references them
    (invisible, same posture as a crash between stage and commit).
    Re-running after fixing the feed re-stages the epoch from the WAL."""

    def __init__(self, epoch_id: int, failures: list[dict]):
        self.epoch_id = epoch_id
        self.failures = failures
        super().__init__(f"epoch {epoch_id} failed audits: {failures}")


class InjectedCrash(RuntimeError):
    """Raised by test-configured crash points (fault injection)."""


class WalFileStatsError(RuntimeError):
    """A non-empty WAL file whose footer carries no seq min/max: no epoch
    can own it, so the engine refuses to plan or scan rather than skip
    the file's events."""


@dataclass
class EngineConfig:
    epoch_size: int = 50_000  # events per epoch (maxOffsetsPerTrigger analog)
    n_buckets: int = 32
    #: deltas are fanned map-side into this many compaction groups,
    #: so one compaction job rewrites ≈ table/n_delta_groups, not the
    #: whole table (persisted per-table; the table's value wins)
    n_delta_groups: int = 8
    #: compact a group once this many delta layers stack on it (0 = never)
    compact_max_deltas: int = 8
    #: replay window for tombstone expiry during compaction: a tombstone
    #: whose winning seq is ≤ high_watermark − this many seqs can no
    #: longer lose to ANY late event the stream might redeliver, so
    #: compaction drops it (deleted keys stop accumulating forever).
    #: None = retain tombstones indefinitely (the conservative default).
    tombstone_retention_seqs: int | None = None
    lww_method: str = "auto"  # one of LWW_METHODS
    n_salt: int = 16
    skew_threshold: float = 0.2  # key share above which 'auto' salts
    skew_min_events: int = 10_000  # don't bother probing tiny epochs
    #: write-audit-publish gates, evaluated over the STAGED files (what
    #: would be published, after extract) between stage and commit.
    #: Declarative dicts so the CLI can load them from JSON:
    #:   {"check": "max_rows"|"min_rows", "limit": n}
    #:   {"check": "max_null_frac", "column": c, "limit": f}   (live rows)
    #:   {"check": "not_null", "column": c}                    (shorthand)
    #:   {"check": "max_tombstone_frac", "limit": f}
    #: Any violation raises AuditError and the epoch publishes nothing —
    #: the Iceberg WAP workflow. Row counts come from footers (zero IO);
    #: null/tombstone fractions cost ONE pruned scan of the staged files
    #: over just the audited columns.
    audits: list = field(default_factory=list)
    crash_points: set = field(default_factory=set)  # {"after_stage", "after_lineage"}

    def __post_init__(self):
        if self.lww_method not in LWW_METHODS:
            raise ValueError(
                f"lww_method must be one of {LWW_METHODS}, got {self.lww_method!r}"
            )


@dataclass
class EpochResult:
    epoch_id: int
    start_seq: int  # exclusive
    end_seq: int  # inclusive
    n_events: int
    n_keys: int
    snapshot_id: str
    skipped: bool = False


class CDCEngine:
    def __init__(
        self,
        spark: SparkSession,
        wal_path: str,
        table_root: str,
        registry: SchemaRegistry | None = None,
        config: EngineConfig | None = None,
    ):
        self.spark = spark
        self.wal_path = wal_path
        self.config = config or EngineConfig()
        self.registry = registry or SchemaRegistry(base_schema=PAGES_SCHEMA_V1)
        self.table = SnapshotTable(
            spark,
            table_root,
            registry=self.registry,
            key_col="url",
            n_buckets=self.config.n_buckets,
            n_delta_groups=self.config.n_delta_groups,
        )
        self.lineage_root = os.path.join(table_root, "lineage")
        os.makedirs(self.lineage_root, exist_ok=True)
        self._footers: dict[str, dict] = {}  # WAL file index, see _wal_files
        self._skew_memo: bool | None = None  # see SKEW_REPROBE_EVERY
        self._epochs_since_probe = 0

    # -- commit log: the table's own ledger (MultiTableEngine overrides
    #    these four with its group ledger) ----------------------------

    def high_watermark(self) -> int:
        """Highest WAL seq applied (exclusive resume point); -1 if empty."""
        return self.table.high_watermark()

    def _committed(self, epoch_id: int) -> EpochResult | None:
        """The skip result of an already-committed epoch, else None."""
        e = self.table.committed_epochs().get(epoch_id)
        if e is None:
            return None
        return EpochResult(
            epoch_id, e["start_seq"], e["end_seq"], 0, 0, e["snapshot_id"], skipped=True
        )

    def _prepare_commit(self, slice_df, snapshot_id: str, new_files: list, version: int):
        """Stage, still invisible, whatever the commit publishes besides
        the pages files; runs before the ``after_stage`` crash point and
        returns what ``_commit`` needs. The single table has nothing to
        add: its manifest is written with its ledger line."""
        return None

    def _commit(
        self, entry: dict, snapshot_id: str, new_files: list, version: int, prepared
    ) -> EpochResult:
        """Publish the epoch: manifest + atomic ledger append."""
        cur = self.table.current_snapshot()
        self.table.commit(
            snapshot_id, new_files, list(cur.files) if cur else [], version, entry
        )
        return EpochResult(
            entry["epoch_id"], entry["start_seq"], entry["end_seq"],
            entry["n_events"], entry.get("n_keys", 0), snapshot_id,
        )

    # ------------------------------------------------------------------

    def _wal_files(self) -> list[dict]:
        """The WAL file index: a fresh listing of ``wal_path`` (the files
        Spark's directory reader would read), each with its footer stats
        (path, rows, seq min/max from column stats, html uncompressed
        bytes), 0-row files dropped. Published WAL files are immutable,
        so a footer is read once per engine and no listing is cached."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        paths = sorted(
            os.path.join(self.wal_path, fn)
            for fn in os.listdir(self.wal_path)
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        )

        def _one(path: str) -> dict:
            md = pq.read_metadata(path)
            names = md.schema.names
            seq_i, html_i = names.index("seq"), names.index("html")
            smin, smax, hbytes = None, None, 0
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                st = g.column(seq_i).statistics
                if st is not None and st.has_min_max:
                    smin = st.min if smin is None else min(smin, st.min)
                    smax = st.max if smax is None else max(smax, st.max)
                hbytes += g.column(html_i).total_uncompressed_size
            if md.num_rows and (smin is None or smax is None):
                raise WalFileStatsError(f"no seq min/max in the footer of {path}")
            return {
                "path": path,
                "rows": md.num_rows,
                "seq_min": smin,
                "seq_max": smax,
                "bytes": hbytes,
            }

        new = [p for p in paths if p not in self._footers]
        with ThreadPoolExecutor(max_workers=32) as ex:
            self._footers.update(zip(new, ex.map(_one, new)))
        return [self._footers[p] for p in paths if self._footers[p]["rows"] > 0]

    def plan_epochs(self, up_to_seq: int | None = None) -> list[tuple[int, int, int]]:
        """(epoch_id, start_seq_exclusive, end_seq_inclusive) above the
        ledger high-watermark. epoch_id = first seq in the epoch, so a
        resumed run re-plans IDENTICAL epochs (determinism under crash)
        and a later, longer WAL can never collide with a committed id."""
        hw = self.high_watermark()
        if up_to_seq is None:
            up_to_seq = max((f["seq_max"] for f in self._wal_files()), default=-1)
        size = self.config.epoch_size
        out = []
        lo = hw
        while lo < up_to_seq:
            hi = min(lo + size, up_to_seq)
            out.append((lo + 1, lo, hi))
            lo = hi
        return out

    # ------------------------------------------------------------------

    def _epoch_slice(self, lo: int, hi: int) -> tuple[DataFrame, list[dict]]:
        """The epoch's WAL slice (lo, hi], read from only the files it
        overlaps, and its lineage files, both from ONE listing. A file
        belongs to the epoch covering its first seq (attributed whole, so
        lineage rows+bytes tile the WAL exactly, like Iceberg manifests)."""
        files = self._wal_files()
        paths = [f["path"] for f in files if f["seq_min"] <= hi and f["seq_max"] > lo]
        if paths:
            wal = self.spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)
        else:
            wal = self.spark.createDataFrame([], CHANGE_EVENT_SCHEMA)
        slice_df = wal.filter((F.col("seq") > lo) & (F.col("seq") <= hi))
        return slice_df, [f for f in files if lo < f["seq_min"] <= hi]

    def _maybe_crash(self, point: str) -> None:
        if point in self.config.crash_points:
            raise InjectedCrash(point)

    def _lww_method(self, light: DataFrame, n_events: int) -> str:
        """The LWW plan for this epoch: the configured one, or for 'auto'
        'salted' when a sampled probe finds a key above skew_threshold."""
        cfg = self.config
        if cfg.lww_method != "auto":
            return cfg.lww_method
        if n_events < cfg.skew_min_events:
            return "agg"
        if self._skew_memo is None or self._epochs_since_probe >= SKEW_REPROBE_EVERY:
            top = (
                light.select("url")
                .sample(SKEW_SAMPLE_FRAC, seed=7)
                .groupBy("url")
                .count()
                .agg(F.max("count").alias("m"))
                .collect()[0]["m"]
            )
            sample_n = max(int(n_events * SKEW_SAMPLE_FRAC), 1)
            self._skew_memo = bool(top) and top / sample_n > cfg.skew_threshold
            self._epochs_since_probe = 0
        self._epochs_since_probe += 1
        return "salted" if self._skew_memo else "agg"

    def run_epoch(self, epoch_id: int, lo: int, hi: int) -> EpochResult:
        """One epoch in 2 Spark jobs (plus a sampled skew probe when
        'auto' re-probes), none of which shuffles html bytes:

        job 1 (light scan): exact event count + approximate key count
               over a payload-FREE projection (seq/url/warc_ts/op) of
               the files the epoch overlaps; per-file lineage stats come
               from the same listing's parquet footers — pure metadata,
               zero payload IO.
        job 2 (the write): winning seqs from ONE partial-agg shuffle of
               128-bit key fingerprints (operators/lww.py
               lww_winner_seqs), a broadcast seq equi-join against the
               WAL slice fetches payloads once, Arrow text-extract on
               winners only, then a grouped delta write fanned map-side
               into compaction groups (shuffle-free).

        The WAL's html column is read exactly once (the write job's scan)
        and never crosses a shuffle. LWW collapse against earlier epochs
        is deferred to read/compaction, so the epoch writes ~n_keys rows
        no matter how big the table is.
        """
        cfg = self.config
        done = self._committed(epoch_id)
        if done is not None:  # exactly-once resume: skip verbatim
            return done

        slice_df, lineage = self._epoch_slice(lo, hi)
        # -- job 1: payload-FREE projection (html is read exactly once per
        #    epoch, in the write job): one global agg gives the exact
        #    event count plus the approximate key count that feeds the
        #    broadcast decision. The projection is re-scanned by each job,
        #    not cached: a pinned A/B measured re-decoding 4 narrow columns
        #    cheaper than caching ~100 B/event (SURVEY.md, uncached light
        #    projection).
        light = slice_df.select("seq", "url", "warc_ts", "op")
        total = light.agg(
            F.count("*").alias("row_count"),
            F.approx_count_distinct("url").alias("n_keys_est"),
        ).collect()[0]
        n_events = int(total["row_count"])
        version = self.registry.version_at(hi)
        snapshot_id = self.table.new_snapshot_id()
        entry = {"epoch_id": epoch_id, "start_seq": lo, "end_seq": hi, "n_events": n_events}
        if n_events == 0:
            prepared = self._prepare_commit(slice_df, snapshot_id, [], version)
            return self._commit(entry, snapshot_id, [], version, prepared)

        # -- job 2: winner seqs → payload fetch (seq is unique → exact
        #    equi-join) → extract → grouped delta write -------------------
        method = self._lww_method(light, n_events)
        seqs = lww_winner_seqs(light, method=method, n_salt=cfg.n_salt)
        if int(total["n_keys_est"]) <= BROADCAST_MERGE_MAX_ROWS:
            seqs = F.broadcast(seqs)
        winners = slice_df.join(seqs, on="seq", how="inner").withColumn(
            "text",
            F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(
                extract_text_udf(F.col("html"))
            ),
        )
        # rename-aware ingestion + null-fill tolerance (the reference
        # .get() posture)
        physical_cols = [f.name for f in self.registry.schema_at(hi).fields] + [TOMBSTONE_COL]
        winners = (
            conform_to_schema(winners, self.registry, version)
            .withColumn(TOMBSTONE_COL, F.col("op") == "delete")
            .select(*physical_cols)
        )
        new_files = self.table.stage_delta_grouped(
            winners, snapshot_id, version, physical_cols
        )
        # exact key count from the delta file footers
        entry.update(n_keys=sum(f.rows for f in new_files), lww_method=method)

        # -- everything staged, lineage written, THEN the atomic commit ---
        prepared = self._prepare_commit(slice_df, snapshot_id, new_files, version)
        self._maybe_crash("after_stage")
        if cfg.audits:
            failures = self._run_audits(new_files, version, cfg.audits)
            if failures:
                raise AuditError(epoch_id, failures)
        self._write_lineage(epoch_id, lineage, snapshot_id, n_events)
        self._maybe_crash("after_lineage")
        result = self._commit(entry, snapshot_id, new_files, version, prepared)

        # -- amortized compaction: collapse the deepest delta groups, at
        #    most COMPACT_GROUPS_PER_EPOCH per epoch, so maintenance
        #    latency per epoch is bounded by ≈ table/n_delta_groups each
        #    (its own atomic snapshot; crash-safe, idempotent) -----------
        if cfg.compact_max_deltas:
            depth = self.table.delta_depth()
            deep = sorted(
                (g for g, d in depth.items() if d >= cfg.compact_max_deltas),
                key=lambda g: -depth[g],
            )[:COMPACT_GROUPS_PER_EPOCH]
            if deep:
                self.table.compact_groups(
                    set(deep),
                    tombstone_retention_seqs=cfg.tombstone_retention_seqs,
                )
        return result

    def _run_audits(self, new_files: list, version: int, audits: list) -> list[dict]:
        """Evaluate WAP constraints over the staged (not yet published)
        files. Count checks read manifests only; all column checks share
        ONE aggregation job over a column-pruned scan of the staged
        files (Catalyst pushes the ReadSchema down, so the audit reads
        the audited columns, not the payload)."""
        failures: list[dict] = []
        n_rows = sum(f.rows for f in new_files)
        col_checks: list[dict] = []
        for a in audits:
            check = a["check"]
            if check == "max_rows":
                if n_rows > a["limit"]:
                    failures.append({**a, "actual": n_rows})
            elif check == "min_rows":
                if n_rows < a["limit"]:
                    failures.append({**a, "actual": n_rows})
            elif check in ("max_null_frac", "not_null", "max_tombstone_frac"):
                col_checks.append(a)
            else:
                raise ValueError(f"unknown audit check: {check!r}")
        if not col_checks or n_rows == 0:
            return failures
        live = ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        aggs, metas = [], []
        for i, a in enumerate(col_checks):
            if a["check"] == "max_tombstone_frac":
                expr = F.avg((~live).cast("double"))
                limit = float(a["limit"])
            else:
                # null fraction among LIVE rows only: deletes carry null
                # payload by design and must not trip the gate
                expr = F.avg(
                    F.when(live, F.col(a["column"]).isNull().cast("double"))
                )
                limit = 0.0 if a["check"] == "not_null" else float(a["limit"])
            aggs.append(expr.alias(f"a{i}"))
            metas.append((a, limit))
        staged = self.table._read_files(new_files, version)
        row = staged.agg(*aggs).collect()[0]
        for i, (a, limit) in enumerate(metas):
            actual = row[f"a{i}"]
            if actual is not None and actual > limit:
                failures.append({**a, "actual": round(actual, 6)})
        return failures

    def _write_lineage(
        self, epoch_id: int, files: list, snapshot_id: str, n_events: int
    ) -> None:
        """Idempotent per-epoch lineage parquet (overwrite on re-run).

        One row per WAL file the epoch owns: (file, seq offsets, rows,
        payload bytes, commit snapshot). Files are attributed WHOLE to
        the epoch covering their first seq — rows/bytes tile the WAL
        exactly across epochs, but a boundary epoch's file rows can
        exceed the events it processed, so ``epoch_n_events`` (the exact
        processed count, same value as the ledger) rides on every row
        for consumers that need per-epoch event counts. Written
        driver-side with pyarrow: pushing ~100 metadata rows through a
        Spark job costs ~1s of scheduler latency per epoch for zero
        parallelism benefit.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "epoch_id": pa.array([epoch_id] * len(files), pa.int64()),
                "file": pa.array([os.path.basename(f["path"]) for f in files], pa.string()),
                "start_seq": pa.array([f["seq_min"] for f in files], pa.int64()),
                "end_seq": pa.array([f["seq_max"] for f in files], pa.int64()),
                "row_count": pa.array([f["rows"] for f in files], pa.int64()),
                "bytes": pa.array([f["bytes"] for f in files], pa.int64()),
                "snapshot_id": pa.array([snapshot_id] * len(files), pa.string()),
                "epoch_n_events": pa.array([n_events] * len(files), pa.int64()),
            }
        )
        out = os.path.join(self.lineage_root, f"epoch={epoch_id}")
        os.makedirs(out, exist_ok=True)
        pq.write_table(table, os.path.join(out, "lineage.parquet"))

    # ------------------------------------------------------------------

    def run(self, up_to_seq: int | None = None) -> list[EpochResult]:
        """Process all pending epochs (resume-safe)."""
        results = []
        for epoch_id, lo, hi in self.plan_epochs(up_to_seq):
            results.append(self.run_epoch(epoch_id, lo, hi))
        return results

    def read_table(
        self, include_tombstones: bool = False, snapshot_id: str | None = None
    ) -> DataFrame | None:
        df = self.table.read(snapshot_id=snapshot_id)
        if df is None:
            return None
        if not include_tombstones:
            df = df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        return df.drop(BUCKET_COL, TOMBSTONE_COL)

    def backfill(self, transform, note: str = "backfill") -> str | None:
        """Reprocess every committed row through ``transform`` and commit
        the result as one new snapshot — the extractor-upgrade workflow
        (new html→text logic must reach rows ingested under the old
        one; the reference's answer is re-running the whole ETL —
        src/clis/historical.py — ours rewrites in place).

        WAL bookkeeping is untouched: the ledger entry carries no
        epoch_id / end_seq, so exactly-once replay skips nothing it
        shouldn't, the high watermark is unchanged, and a subsequent
        ``apply`` is still a 0-epoch no-op. Time travel to the
        pre-backfill snapshot serves the OLD text — backfill is a new
        version, not a mutation.

        ``transform`` takes and returns a DataFrame over the physical
        columns (user columns + tombstone/bucket) and must preserve the
        column set — keys, versions, and bucketing are layout
        invariants. Tombstone rows pass through it; guard with
        ``~col('__deleted')`` when the transform should skip deletes.

        MoR delta overlays are compacted first (bounded per group, all
        groups) so the rewrite reads one layer. The rewrite itself is
        the honest full-table cost of a backfill — one bucket-
        partitioned rewrite, shuffle bounded by the bucket layout.

        Returns the new snapshot id, or None on an empty table.
        """
        snap = self.table.current_snapshot()
        if snap is None:
            return None
        if any(f.kind == "delta" for f in snap.files):
            self.table.compact_groups(
                tombstone_retention_seqs=self.config.tombstone_retention_seqs
            )
            snap = self.table.current_snapshot()
        version = snap.schema_version
        df = self.table.read()
        out = transform(df)
        if set(out.columns) != set(df.columns):
            raise ValueError(
                f"backfill transform must preserve the column set; "
                f"got {sorted(out.columns)} vs {sorted(df.columns)}"
            )
        physical_cols = [c for c in df.columns if c != BUCKET_COL]
        snapshot_id = self.table.new_snapshot_id()
        new_files = self.table.stage(out, snapshot_id, version, physical_cols)
        return self.table.commit(
            snapshot_id, new_files, [], version, {"op": "backfill", "note": note}
        )

    def changes(
        self,
        from_snapshot: str | None,
        to_snapshot: str | None = None,
        preimage: bool = False,
    ) -> DataFrame | None:
        """Net row changes between two committed snapshots (change feed).

        The incremental physical plan (operators/changes.py has the
        semantics contract): candidate keys come from the MANIFEST DIFF
        — only files added after ``from_snapshot`` are scanned — so
        candidate work is ∝ rows written in the window, not ∝ table
        size. Per candidate key the winner among new rows is compared
        against the key's live row at A; the A-side probe is one
        payload-LIGHT (3-column pruned) scan of snapshot A joined on the
        key. Post-image payloads are fetched by a ``seq`` equi-join
        against the new files only — payload bytes never shuffle and
        never leave the window's files. A compaction inside the window
        only ADDS already-filtered candidates (rewritten rows compare
        version-equal to their A row) — correct, just less pruned.

        ``from_snapshot=None`` = from table creation (all inserts).
        ``to_snapshot=None`` = current snapshot. Like time travel, both
        snapshots must not be expired. Returns None for an empty table.
        ``preimage=True`` = Delta-CDF shape (update pre/post pairs,
        deletes carry the deleted payload) for incremental view
        maintenance — see table_changes.
        """
        from ethereum_etl_spark.operators.changes import table_changes

        return table_changes(
            self.table, self.registry, from_snapshot, to_snapshot, preimage=preimage
        )

    def read_lineage(self) -> DataFrame | None:
        if not os.listdir(self.lineage_root):
            return None
        return self.spark.read.parquet(
            *[
                os.path.join(self.lineage_root, d)
                for d in sorted(os.listdir(self.lineage_root))
            ]
        )
