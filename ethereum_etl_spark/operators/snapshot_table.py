"""SnapshotTable — a minimal Iceberg-semantics table over plain parquet.

Why it exists: the reference's sinks are keyed-upsert stores with snapshot
backup/restore and retention (SQLite ``INSERT OR REPLACE`` + ``_backup/
_restore/free_space`` — src/repositories/sqlite/base.py:81-135,152-175,
210-238; ClickHouse ReplacingMergeTree — src/repositories/clickhouse/
event.py:58-80). The sandbox has no Iceberg/Delta jars, so we implement the
same *semantics* dependency-free:

- **Immutable data files**: base files hash-bucketed by key
  (``xxhash64(url) % n_buckets``) plus merge-on-read delta files fanned
  into compaction groups, so an epoch appends only its own rows and a
  compaction rewrites one group, never the whole table. Tables merged
  by touched-bucket copy-on-write (the multi-table host_stats dim)
  rewrite only the buckets their keys touch.
- **Manifests**: JSON per snapshot listing (file, bucket, schema_version,
  rows, bytes). A snapshot = carried-over files + newly written files.
- **Atomic ledger**: the ONLY commit point. ``ledger.jsonl`` is an
  append-only, fsync'd JSONL log: a commit is ONE ``write()`` of one
  ``\n``-terminated line, so per-epoch commit cost is O(1) — at the
  10^10-event posture (~200k epochs) the driver never re-serializes the
  history (the previous whole-file ``os.replace`` rewrite was O(n) per
  commit, O(n²) cumulative). A torn tail (crash mid-write) is detected
  on load — last line unterminated or undecodable — ignored, and
  truncated away by the next append; data/manifest files written before
  a crash are simply unreferenced (invisible). This is the write-ahead
  discipline that makes every epoch idempotent and the whole stream
  exactly-once. On a real cluster this log becomes an Iceberg catalog /
  metastore CAS swap; the protocol is identical.
- **Schema evolution**: each file records the schema version it was
  written under; reads group files by version and upgrade (add-column →
  null fill, rename → projection) to the current schema — the Iceberg
  field-mapping behavior, per-version instead of per-field-id.
- **Snapshot ops**: ``rollback`` (reference `_restore`), and
  ``expire_snapshots`` (reference `free_space` retention).

Single-writer (one driver) is assumed, as in the reference.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ethereum_etl_spark.schemas import SchemaRegistry, schema_for_version

BUCKET_COL = "__bucket"
TOMBSTONE_COL = "__deleted"
_BUCKET_DIR = "__bucket_dir"
_GROUP_DIR = "__group_dir"


def bucket_expr(key_col: str, n_buckets: int):
    """Identity-stable hash bucket for a key (same fn everywhere; its
    driver-side twin for a single key is ``bucket_of``)."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int (little-endian lanes)."""
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while off <= n - 32:
            a, b, c, d = struct.unpack_from("<4Q", data, off)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while off <= n - 8:
        (k,) = struct.unpack_from("<Q", data, off)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M64
        off += 8
    if off <= n - 4:
        (k,) = struct.unpack_from("<I", data, off)
        h = (_rotl(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64
        off += 4
    while off < n:
        h = _rotl(h ^ (data[off] * _P5 & _M64), 11) * _P1 & _M64
        off += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


def bucket_of(key: str, n_buckets: int) -> int:
    """The bucket ``bucket_expr`` assigns ``key``, computed on the driver.

    This is ``bucket_expr``'s driver-side twin and must stay
    bit-identical to it: Spark's ``xxhash64`` is XXH64 with seed 42 over
    the string's UTF-8 bytes, read as a signed long, and ``pmod`` takes
    the non-negative remainder (Python's ``%`` for a positive divisor).
    ``tests/test_lookup.py`` pins the parity against Spark.
    """
    h = _xxh64(key.encode("utf-8"), 42)
    if h >= 1 << 63:
        h -= 1 << 64
    return h % n_buckets


class AppendLog:
    """Append-only fsync'd JSONL commit log with torn-tail repair.

    The atomicity unit is one ``\\n``-terminated line written with a
    single ``write()``: either the line (and its newline) is durable, or
    the tail is partial — ``entries()`` stops at the first unterminated
    or undecodable line, and the next ``append()`` truncates the torn
    bytes before writing. Single-writer (one driver), like the rest of
    the table.
    """

    def __init__(self, jsonl_path: str):
        self.jsonl_path = jsonl_path
        self._entries: list[dict] | None = None
        self._valid_bytes = 0  # bytes of jsonl known to hold whole lines

    def _load(self) -> None:
        if self._entries is not None:
            return
        entries: list[dict] = []
        self._valid_bytes = 0
        if os.path.exists(self.jsonl_path):
            with open(self.jsonl_path, "rb") as f:
                data = f.read()
            off = 0
            while off < len(data):
                nl = data.find(b"\n", off)
                if nl < 0:
                    break  # torn tail: ignore; truncated by next append
                line = data[off:nl].strip()
                if line:
                    try:
                        entries.append(json.loads(line))
                    except ValueError:
                        break  # corrupt line: treat as torn tail
                off = nl + 1
                self._valid_bytes = off
        self._entries = entries

    def entries(self) -> list[dict]:
        self._load()
        return self._entries  # internal list; callers treat as read-only

    def append(self, entry: dict) -> None:
        self._load()
        line = (json.dumps(entry, separators=(",", ":")) + "\n").encode()
        fd = os.open(self.jsonl_path, os.O_WRONLY | os.O_CREAT, 0o644)
        try:
            os.ftruncate(fd, self._valid_bytes)  # drop any torn tail
            # a short write (ENOSPC, signal) must not advance the valid
            # offset past what is actually durable: loop until the whole
            # line is down, and raise — with _valid_bytes NOT advanced —
            # if the kernel won't take more bytes. A partial line left
            # behind is exactly the torn-tail case _load() repairs.
            written = 0
            while written < len(line):
                n = os.pwrite(fd, line[written:], self._valid_bytes + written)
                if n <= 0:
                    raise OSError(
                        f"commit log short write at {self.jsonl_path}: "
                        f"{written}/{len(line)} bytes"
                    )
                written += n
            os.fsync(fd)
        finally:
            os.close(fd)
        self._valid_bytes += len(line)
        self._entries.append(entry)


def _footer_ts_bounds(md, col: str = "warc_ts") -> tuple[int | None, int | None]:
    """(min, max) of a timestamp column in epoch microseconds, from an
    already-read parquet footer — zero extra IO. Returns (None, None)
    when the column is absent or any row group lacks min/max stats
    (absent stats mean "unknown", and an unknown row group makes the
    whole file unknown: stats must only ever WIDEN, never narrow)."""
    import datetime as _dt

    def _us(v) -> int:
        if isinstance(v, _dt.datetime):
            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            return (v - epoch) // _dt.timedelta(microseconds=1)
        return int(v)

    try:
        idx = md.schema.names.index(col)
    except ValueError:
        return None, None
    lo: int | None = None
    hi: int | None = None
    try:
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(idx).statistics
            if st is None or not st.has_min_max:
                return None, None
            mn, mx = _us(st.min), _us(st.max)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
    except (TypeError, ValueError, OverflowError):
        return None, None
    return lo, hi


def group_of_bucket(bucket: int, n_groups: int) -> int:
    """Compaction group a base bucket belongs to (modulo mapping)."""
    return bucket % n_groups


@dataclass
class DataFile:
    path: str  # relative to table root
    bucket: int
    schema_version: int
    rows: int
    bytes: int
    #: "base" = unique-per-key rows; "delta" = merge-on-read overlay
    #: (Iceberg v2 / Hudi MoR analog): newer rows for the same key live in
    #: later delta files and win the read-time LWW collapse.
    kind: str = "base"
    #: compaction group for delta files (bucket = -1 on those): deltas are
    #: partitioned MAP-SIDE into `n_delta_groups` groups by key hash, so
    #: compaction rewrites one group (≈ table/n_groups) at a time instead
    #: of the whole table. -1 = base file.
    group: int = -1
    #: version-column (warc_ts) bounds in epoch MICROSECONDS, lifted from
    #: the parquet footer at register time (the Iceberg per-file
    #: lower/upper-bounds analog). None = unknown (legacy manifest, or a
    #: table whose schema has no warc_ts) — readers must treat None as
    #: "could contain anything" and never skip such a file.
    ts_min: int | None = None
    ts_max: int | None = None

    def to_json(self) -> dict:
        return self.__dict__.copy()

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(**d)


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: str | None
    schema_version: int
    files: list[DataFile] = field(default_factory=list)
    summary: dict = field(default_factory=dict)


class SnapshotTable:
    """Bucketed parquet table (base files + merge-on-read deltas) with
    manifest/ledger commits."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        registry: SchemaRegistry,
        key_col: str = "url",
        n_buckets: int = 32,
        n_delta_groups: int = 8,
    ):
        self.spark = spark
        self.root = root
        self.registry = registry
        self.key_col = key_col
        self.n_buckets = n_buckets
        self.n_delta_groups = n_delta_groups
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        # bucketing params are a property of the TABLE, not the session:
        # a mismatched n_buckets would break bucket file pruning
        # (and a mismatched n_delta_groups would misalign delta files with
        # their compaction groups), so the persisted values always win.
        meta_path = os.path.join(root, "table_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            if meta["key_col"] != key_col:
                raise ValueError(
                    f"table at {root} is keyed by {meta['key_col']!r}, not {key_col!r}"
                )
            self.n_buckets = meta["n_buckets"]
            self.n_delta_groups = meta.get("n_delta_groups", n_delta_groups)
        else:
            tmp = meta_path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "key_col": key_col,
                        "n_buckets": n_buckets,
                        "n_delta_groups": n_delta_groups,
                    },
                    f,
                )
            os.replace(tmp, meta_path)

    # ------------------------------------------------------------------
    # Ledger (the atomic commit point)
    # ------------------------------------------------------------------
    # All derived views (committed-epoch index, high watermark) are
    # incremental caches over the AppendLog: per-epoch driver cost is
    # O(1), not O(n_epochs) — at ~200k epochs the old rescan-per-commit
    # pattern was the quadratic term in the soak.

    def _log(self) -> AppendLog:
        if getattr(self, "_ledger_log", None) is None:
            self._ledger_log = AppendLog(os.path.join(self.root, "ledger.jsonl"))
            entries = self._ledger_log.entries()
            self._committed = {e["epoch_id"]: e for e in entries if "epoch_id" in e}
            self._hw = max((e.get("end_seq", -1) for e in entries), default=-1)
        return self._ledger_log

    def read_ledger(self) -> list[dict]:
        return self._log().entries()

    def _append_ledger(self, entry: dict) -> None:
        self._log().append(entry)
        if "epoch_id" in entry:
            self._committed[entry["epoch_id"]] = entry
        self._hw = max(self._hw, entry.get("end_seq", -1))

    def committed_epochs(self) -> dict[int, dict]:
        self._log()
        return self._committed

    def high_watermark(self) -> int:
        """Highest WAL seq applied (exclusive resume point); -1 if empty."""
        self._log()
        return self._hw

    # ------------------------------------------------------------------
    # Manifests
    # ------------------------------------------------------------------

    def _manifest_path(self, snapshot_id: str) -> str:
        return os.path.join(self.root, "manifests", f"manifest-{snapshot_id}.json")

    def _write_manifest(self, snap: Snapshot) -> None:
        with open(self._manifest_path(snap.snapshot_id), "w") as f:
            json.dump(
                {
                    "snapshot_id": snap.snapshot_id,
                    "parent_id": snap.parent_id,
                    "schema_version": snap.schema_version,
                    "files": [df.to_json() for df in snap.files],
                    "summary": snap.summary,
                },
                f,
                indent=1,
            )
            f.flush()
            os.fsync(f.fileno())

    def read_snapshot_meta(self, snapshot_id: str) -> Snapshot:
        with open(self._manifest_path(snapshot_id)) as f:
            d = json.load(f)
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            schema_version=d["schema_version"],
            files=[DataFile.from_json(x) for x in d["files"]],
            summary=d.get("summary", {}),
        )

    def current_snapshot(self) -> Snapshot | None:
        entries = self.read_ledger()
        if not entries:
            return None
        return self.read_snapshot_meta(entries[-1]["snapshot_id"])

    # ------------------------------------------------------------------
    # Read path
    # ------------------------------------------------------------------

    def _read_files(
        self,
        files: Sequence[DataFile],
        to_version: int,
    ) -> DataFrame | None:
        """Read data files, upgrading each schema-version group to
        `to_version` (add-column → null, rename → projection)."""
        if not files:
            return None
        by_version: dict[int, list[DataFile]] = {}
        for df_ in files:
            by_version.setdefault(df_.schema_version, []).append(df_)
        out: DataFrame | None = None
        for version, group in sorted(by_version.items()):
            schema = self._physical_schema(version)
            paths = [os.path.join(self.root, g.path) for g in group]
            part = self.spark.read.schema(schema).parquet(*paths)
            part = _upgrade_df(part, version, to_version, self.registry)
            out = part if out is None else out.unionByName(part)
        return out

    def _physical_schema(self, version: int) -> T.StructType:
        base = schema_for_version(self.registry, version)
        return T.StructType(
            list(base.fields)
            + [
                T.StructField(TOMBSTONE_COL, T.BooleanType(), True),
                T.StructField(BUCKET_COL, T.IntegerType(), True),
            ]
        )

    def _collapse_payload_light(self, df: DataFrame) -> DataFrame:
        """LWW collapse that never shuffles or sorts the payload.

        Winner seqs are computed from a column-pruned projection (key,
        warc_ts, seq) — Catalyst pushes the 3-column ReadSchema down to
        the parquet scans, so the winner aggregation shuffles ~24-byte
        tuples with map-side partial aggregation. Payload rows are then
        fetched by an equi-join on ``seq`` (unique per WAL event, so the
        join is exact); AQE promotes it to broadcast when the winner set
        is small, and at worst the payload crosses the wire once,
        unsorted — never through a window sort. Versus ``lww_window``
        over full rows this removes the whole-table payload shuffle+sort
        every MoR read paid between compactions.
        """
        winners = (
            df.select(self.key_col, "warc_ts", "seq")
            .groupBy(self.key_col)
            .agg(F.max(F.struct("warc_ts", "seq")).alias("__v"))
            .select(F.col("__v.seq").alias("seq"))
        )
        return df.join(winners, on="seq", how="inner").select(*df.columns)

    def read(
        self, snapshot_id: str | None = None, assume_unique_seq: bool = True
    ) -> DataFrame | None:
        """Table state (user columns + __bucket), one row per key.

        ``assume_unique_seq`` is the WAL contract (seq is the unique total
        order), which lets the MoR collapse stay payload-light. For
        at-least-once WALs where one event can be redelivered into two
        files of an epoch, pass False: rows are first deduped on
        (key, seq) — one payload shuffle, the price of the weaker
        contract — so the seq equi-join cannot emit duplicate rows.

        Snapshots of base files only (fully compacted, or backfilled) are
        returned as-is; when delta files are present, the LWW collapse
        happens here — version order (warc_ts, seq) is total because seq is unique, so
        read-time merge is exactly the sink-time merge deferred.

        With ``snapshot_id`` this is a time-travel read of that committed
        snapshot (Iceberg ``VERSION AS OF``). Either way the file list is
        pinned from the chosen manifest at plan time, so a reader holds a
        consistent snapshot while writers commit — commits only ADD files
        and flip the ledger tail; files die only via ``expire_snapshots``,
        which bounds reader staleness exactly like Iceberg's
        retention-expiry contract.
        """
        snap = (
            self.read_snapshot_meta(snapshot_id)
            if snapshot_id is not None
            else self.current_snapshot()
        )
        if snap is None:
            return None
        df = self._read_files(snap.files, snap.schema_version)
        if df is not None and any(f.kind == "delta" for f in snap.files):
            if not assume_unique_seq:
                df = df.dropDuplicates([self.key_col, "seq"])
            df = self._collapse_payload_light(df)
        return df

    def delta_depth(self) -> dict[int, int]:
        """compaction group → number of delta LAYERS (distinct staging
        snapshots) stacked on it. Layers, not files: one epoch may emit
        many files but adds exactly one read-amplification layer, which
        is what compaction thresholds should count."""
        snap = self.current_snapshot()
        if snap is None:
            return {}
        layers: dict[int, set[str]] = {}
        for f in snap.files:
            if f.kind == "delta":
                snap_dir = f.path.split(os.sep)[1] if os.sep in f.path else f.path
                layers.setdefault(f.group, set()).add(snap_dir)
        return {g: len(s) for g, s in layers.items()}

    def read_key(
        self, key: str, snapshot_id: str | None = None
    ) -> tuple[DataFrame | None, int, int]:
        """Point lookup with manifest file-skipping.

        Returns (row DataFrame or None, files_scanned, files_total).
        The key's hash bucket — computed on the driver by ``bucket_of``,
        no Spark job — selects its base files and its compaction group
        selects the delta files that could hold newer versions;
        everything else is skipped at PLAN time from the manifest, so a
        lookup touches ~1/n_buckets of base bytes + ~1/n_delta_groups of
        delta bytes regardless of table size (the reference serves point
        reads from PK indexes — src/repositories/sqlite/base.py:92-101;
        here the bucket layout IS the index). The key's rows are reduced
        to its LWW winner by a top-1 in version order (warc_ts desc,
        nulls last, then seq desc — the order of ``max(struct(warc_ts,
        seq))``); a winning tombstone yields an empty result (key
        deleted), same contract as ``read``. Nothing runs until the
        caller collects, and the collect is one Spark job.

        Keys are strings (writers hash the string key column); any other
        type raises ``TypeError``.
        """
        if not isinstance(key, str):
            raise TypeError(f"read_key takes a str key, got {type(key).__name__}")
        snap = (
            self.read_snapshot_meta(snapshot_id)
            if snapshot_id is not None
            else self.current_snapshot()
        )
        if snap is None:
            return None, 0, 0
        b = bucket_of(key, self.n_buckets)
        g = group_of_bucket(b, self.n_delta_groups)
        files = [
            f
            for f in snap.files
            if (f.kind == "base" and f.bucket == b)
            or (f.kind == "delta" and f.group == g)
        ]
        if not files:
            return None, 0, len(snap.files)
        df = self._read_files(files, snap.schema_version)
        df = df.filter(F.col(self.key_col) == key)
        if any(f.kind == "delta" for f in files):
            df = df.orderBy(
                F.col("warc_ts").desc_nulls_last(), F.col("seq").desc()
            ).limit(1)
        df = df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        return df.drop(TOMBSTONE_COL, BUCKET_COL), len(files), len(snap.files)

    def read_updated_since(
        self, ts_lo, snapshot_id: str | None = None
    ) -> tuple[DataFrame | None, int, int]:
        """Final-state rows whose CURRENT version has ``warc_ts >= ts_lo``
        — "pages updated since T" — planned from only the files whose
        footer ``ts_max >= ts_lo`` (manifest min/max pruning, the Iceberg
        lower/upper-bounds data-skipping analog).

        Returns (rows or None, files_scanned, files_total).

        Correctness under LWW: a key's global winner is its max
        ``(warc_ts, seq)`` row. If that winner has ``warc_ts >= ts_lo``
        it physically lives in a file whose ``ts_max >= warc_ts >=
        ts_lo``, i.e. inside the pruned set — so the winner computed
        WITHIN the pruned set equals the global winner for every key the
        final filter keeps. A key whose pruned-set max is older than its
        true winner is harmless: its true winner then also sits in the
        pruned set (see above) unless it is ``< ts_lo``, in which case
        the final ``warc_ts >= ts_lo`` filter drops the key entirely.
        Skipped files can therefore never change the answer. Files with
        unknown bounds (None) are always read.

        On an ingest-ordered CDC table (warc_ts correlated with seq,
        the crawl-replay shape) cost is ∝ data written since ts_lo, not
        table size — the incremental-consumer read path, complementing
        ``changes()`` (which is epoch-addressed; this is time-addressed).
        """
        import datetime as _dt

        if isinstance(ts_lo, _dt.datetime):
            epoch = _dt.datetime(1970, 1, 1, tzinfo=ts_lo.tzinfo)
            ts_lo_us = (ts_lo - epoch) // _dt.timedelta(microseconds=1)
            ts_lo_lit = F.lit(ts_lo)
        else:
            ts_lo_us = int(ts_lo)
            ts_lo_lit = F.timestamp_micros(F.lit(ts_lo_us))
        snap = (
            self.read_snapshot_meta(snapshot_id)
            if snapshot_id is not None
            else self.current_snapshot()
        )
        if snap is None:
            return None, 0, 0
        files = [
            f for f in snap.files if f.ts_max is None or f.ts_max >= ts_lo_us
        ]
        if not files:
            return None, 0, len(snap.files)
        df = self._read_files(files, snap.schema_version)
        if any(f.kind == "delta" for f in files):
            df = self._collapse_payload_light(df)
        df = df.filter(F.col("warc_ts") >= ts_lo_lit)
        df = df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        return df.drop(TOMBSTONE_COL, BUCKET_COL), len(files), len(snap.files)

    def read_buckets(
        self, buckets: set[int], to_version: int
    ) -> tuple[DataFrame | None, list[DataFile], int]:
        """(rows of the given buckets upgraded to to_version,
        untouched carried-over files, touched row count per manifests)."""
        snap = self.current_snapshot()
        if snap is None:
            return None, [], 0
        if any(f.kind == "delta" for f in snap.files):
            raise ValueError(
                "table has merge-on-read delta files; run "
                "compact_groups() before copy-on-write operations"
            )
        touched = [f for f in snap.files if f.bucket in buckets]
        untouched = [f for f in snap.files if f.bucket not in buckets]
        return self._read_files(touched, to_version), untouched, sum(f.rows for f in touched)

    # ------------------------------------------------------------------
    # Write path
    # ------------------------------------------------------------------

    def new_snapshot_id(self) -> str:
        return f"s{len(self.read_ledger()):06d}-{uuid.uuid4().hex[:8]}"

    def stage(
        self,
        new_rows: DataFrame,
        snapshot_id: str,
        schema_version: int,
        expected_cols: Sequence[str],
    ) -> list[DataFile]:
        """Write base data files for a snapshot WITHOUT committing them.

        Files land in data/<snapshot_id>/; until the ledger references the
        manifest they are invisible — a crash here is harmless (orphans
        are GC'd by expire_snapshots).
        """
        out_dir = os.path.join(self.root, "data", snapshot_id)
        (
            new_rows.select(*expected_cols, BUCKET_COL)
            .withColumn(_BUCKET_DIR, F.col(BUCKET_COL))
            .repartition(self.n_buckets, BUCKET_COL)
            .write.partitionBy(_BUCKET_DIR)
            .mode("overwrite")
            .parquet(out_dir)
        )
        return self._scan_written(out_dir, schema_version, _BUCKET_DIR)

    def stage_delta_grouped(
        self,
        new_rows: DataFrame,
        snapshot_id: str,
        schema_version: int,
        expected_cols: Sequence[str],
    ) -> list[DataFile]:
        """Write delta files partitioned MAP-SIDE into compaction groups.

        The write is shuffle-free — the group id is a pure expression of
        the key hash computed in the producing stage, and ``partitionBy``
        fans rows into group subdirectories with no repartition, so
        payload bytes stream from scan straight to files. Compaction then
        rewrites ONE group (≈ table/n_delta_groups) at a time — the
        per-epoch maintenance job stays bounded no matter how big the
        table grows. Trade-off: each write task may emit up to
        n_delta_groups files, so keep n_delta_groups modest (8-16).
        """
        out_dir = os.path.join(self.root, "data", snapshot_id)
        group = F.pmod(bucket_expr(self.key_col, self.n_buckets), F.lit(self.n_delta_groups))
        (
            new_rows.select(*expected_cols)
            .withColumn(_GROUP_DIR, group)
            .write.partitionBy(_GROUP_DIR)
            .mode("overwrite")
            .parquet(out_dir)
        )
        return self._scan_written(out_dir, schema_version, _GROUP_DIR)

    def commit(
        self,
        snapshot_id: str,
        new_files: list[DataFile],
        carried: list[DataFile],
        schema_version: int,
        epoch_entry: dict,
    ) -> str:
        """Manifest write + atomic ledger append (THE commit point)."""
        parent = self.current_snapshot()
        snap = Snapshot(
            snapshot_id=snapshot_id,
            parent_id=parent.snapshot_id if parent else None,
            schema_version=schema_version,
            files=carried + new_files,
            summary={
                "new_files": len(new_files),
                "carried_files": len(carried),
                "new_rows": sum(f.rows for f in new_files),
                "new_bytes": sum(f.bytes for f in new_files),
            },
        )
        self._write_manifest(snap)
        entry = dict(epoch_entry)
        entry.update(
            snapshot_id=snapshot_id,
            schema_version=schema_version,
            committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
        self._append_ledger(entry)
        return snapshot_id

    def _scan_written(
        self, out_dir: str, schema_version: int, dir_prefix: str
    ) -> list[DataFile]:
        """DataFiles of a staged directory: base files under bucket
        partitions, delta files under compaction-group partitions."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        todo: list[tuple[str, int]] = []
        for dirent in sorted(os.listdir(out_dir)):
            if not dirent.startswith(f"{dir_prefix}="):
                continue
            val = int(dirent.split("=", 1)[1])
            subdir = os.path.join(out_dir, dirent)
            for fn in sorted(os.listdir(subdir)):
                if fn.endswith(".parquet"):
                    todo.append((os.path.join(subdir, fn), val))

        def _one(item: tuple[str, int]) -> DataFile:
            full, val = item
            md = pq.read_metadata(full)
            ts_min, ts_max = _footer_ts_bounds(md)
            return DataFile(
                path=os.path.relpath(full, self.root),
                bucket=val if dir_prefix == _BUCKET_DIR else -1,
                schema_version=schema_version,
                rows=md.num_rows,
                bytes=os.path.getsize(full),
                kind="base" if dir_prefix == _BUCKET_DIR else "delta",
                group=val if dir_prefix == _GROUP_DIR else -1,
                ts_min=ts_min,
                ts_max=ts_max,
            )

        # footer reads are tiny IO ops — a serial loop over hundreds of
        # files costs ~1s/epoch of pure driver latency; parallelize
        with ThreadPoolExecutor(max_workers=32) as ex:
            files = list(ex.map(_one, todo))
        # a task that saw no rows for a group still creates no file, but
        # empty parquet parts can appear at tiny scales — drop them
        return [f for f in files if f.rows > 0]

    # ------------------------------------------------------------------
    # Merge-on-read compaction
    # ------------------------------------------------------------------

    def compact_groups(
        self,
        groups: set[int] | None = None,
        tombstone_retention_seqs: int | None = None,
    ) -> str | None:
        """Collapse base+delta stacks of the given compaction groups into
        fresh base files and commit a compaction snapshot.

        A group holds every base bucket with ``bucket % n_delta_groups ==
        group`` plus the delta files written into that group, so all rows
        of any key in the group are covered — the LWW collapse is exact
        and the job reads/writes ≈ table/n_delta_groups, never the whole
        table. The collapse itself is payload-light: winner seqs
        from a pruned projection, payload fetched by equi-join.

        Tombstone rows are RETAINED in the compacted base by default: a
        late out-of-order event for a deleted key must still lose the
        version comparison on read (merge.py's resurrection argument).
        With ``tombstone_retention_seqs`` set, tombstones that fell out
        of the replay window — winning seq ≤ high_watermark − retention,
        i.e. any event that could still contend with them has already
        been applied — are dropped during compaction, so deleted keys
        stop accumulating forever at churny-key scale (the reference's
        retention leaves no delete residue either —
        src/repositories/sqlite/base.py:210-227). Tombstones still
        inside the window survive and keep winning against late events.
        The cutoff is recorded in the compaction's ledger entry so
        change-feed reads can detect a window-crossing expiry and fall
        back to a full diff (operators/changes.py retention coupling).
        Returns the new snapshot id, or None if nothing to do.
        """
        snap = self.current_snapshot()
        if snap is None:
            return None
        depth = self.delta_depth()
        todo = set(depth) if groups is None else {g for g in groups if g in depth}
        if not todo:
            return None

        def _is_touched(f: DataFile) -> bool:
            if f.kind == "delta":
                return f.group in todo
            return group_of_bucket(f.bucket, self.n_delta_groups) in todo

        touched = [f for f in snap.files if _is_touched(f)]
        untouched = [f for f in snap.files if not _is_touched(f)]
        df = self._read_files(touched, snap.schema_version)
        collapsed = self._collapse_payload_light(df)
        tombstone_cutoff: int | None = None
        if (
            tombstone_retention_seqs is not None
            and TOMBSTONE_COL in collapsed.columns
            and "seq" in collapsed.columns
        ):
            tombstone_cutoff = self.high_watermark() - tombstone_retention_seqs
            collapsed = collapsed.filter(
                ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
                | (F.col("seq") > tombstone_cutoff)
            )
        # delta rows carry no bucket (written shuffle-free); recompute
        # from the key so the compacted base is fully bucketed
        collapsed = collapsed.withColumn(
            BUCKET_COL, bucket_expr(self.key_col, self.n_buckets)
        )
        data_cols = [c for c in collapsed.columns if c != BUCKET_COL]
        snapshot_id = self.new_snapshot_id()
        new_files = self.stage(collapsed, snapshot_id, snap.schema_version, data_cols)
        # the cutoff is RECORDED in the ledger so change-feed reads can
        # detect a window-crossing expiry and fall back to a full diff
        # (the Delta CDF ↔ retention coupling — operators/changes.py)
        entry: dict = {"compaction": True, "groups": sorted(todo)}
        if tombstone_cutoff is not None:
            entry["tombstone_cutoff"] = tombstone_cutoff
        self.commit(snapshot_id, new_files, untouched, snap.schema_version, entry)
        return snapshot_id

    # ------------------------------------------------------------------
    # Snapshot management (reference backup/restore/retention analogs)
    # ------------------------------------------------------------------

    def rollback(self, snapshot_id: str) -> None:
        """Point the table back at an earlier snapshot (restore analog —
        reference src/repositories/sqlite/base.py:108-124)."""
        snap = self.read_snapshot_meta(snapshot_id)  # must exist
        self._append_ledger(
            {
                "rollback_to": snap.snapshot_id,
                "snapshot_id": snap.snapshot_id,
                "schema_version": snap.schema_version,
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )

    # ------------------------------------------------------------------
    # Consumer checkpoint registry (change-feed retention coupling)
    # ------------------------------------------------------------------

    def register_consumer(self, consumer_id: str, snapshot_id: str) -> None:
        """Record that a change-feed consumer has committed up to
        ``snapshot_id`` (atomic tmp+rename). ``expire_snapshots``
        keeps every registered consumer's pinned snapshot alive so a
        lagging consumer's next incremental poll never plans against a
        deleted manifest (ChangesStream.commit calls this)."""
        cdir = os.path.join(self.root, "consumers")
        os.makedirs(cdir, exist_ok=True)
        tmp = os.path.join(cdir, f".{consumer_id}.tmp")
        with open(tmp, "w") as f:
            json.dump({"consumer_id": consumer_id, "snapshot_id": snapshot_id}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(cdir, f"{consumer_id}.json"))

    def unregister_consumer(self, consumer_id: str) -> None:
        path = os.path.join(self.root, "consumers", f"{consumer_id}.json")
        if os.path.exists(path):
            os.remove(path)

    def consumer_snapshots(self) -> dict[str, str]:
        """snapshot_id each registered consumer has committed, by id."""
        cdir = os.path.join(self.root, "consumers")
        if not os.path.isdir(cdir):
            return {}
        out: dict[str, str] = {}
        for fn in sorted(os.listdir(cdir)):
            if fn.endswith(".json") and not fn.startswith("."):
                with open(os.path.join(cdir, fn)) as f:
                    d = json.load(f)
                out[d["consumer_id"]] = d["snapshot_id"]
        return out

    def vacuum_orphans(
        self,
        older_than_s: float = 3600.0,
        extra_committed_ids: set[str] | None = None,
    ) -> int:
        """Delete data files and manifests reachable from NO committed
        (ledger-referenced) snapshot — the residue of aborted publishes
        (crash between stage and commit, failed write-audit gates).
        Non-destructive: every committed snapshot keeps its files, so
        time travel is unaffected (contrast ``expire_snapshots``, which
        trades old snapshots for space).

        Liveness is computed from the LEDGER, not from the manifest
        directory: MultiTableEngine writes member manifests BEFORE the
        group-ledger commit, so an aborted multi-table publish leaves an
        orphan manifest referencing its staged files — treating any
        manifest as a liveness root would keep that residue forever.
        Orphan manifests past the grace period are deleted too, then
        their now-unreferenced data files. (Uncommitted manifests inside
        the grace window still protect their files: an in-flight publish
        is never vacuumed out from under the writer.)

        ``older_than_s`` is the safety grace: a staged-but-not-yet-
        committed epoch's files are also unreferenced for a moment, so
        only files/manifests older than the grace period are candidates
        — run vacuum with the default while a tailer is live, or with 0
        only when no writer is running. Iceberg's remove_orphan_files
        has the identical contract (default 3-day grace). Returns files
        deleted (manifests not counted).

        ``extra_committed_ids``: additional snapshot ids to treat as
        committed liveness roots. A MultiTableEngine member's commit
        point is the GROUP ledger: after a crash between the group
        commit and the member-ledger reconcile, the member's own ledger
        has no entry for a group-committed snapshot — vacuuming the
        member root directly would reclaim it. MultiTableEngine.
        vacuum_orphans passes the group-referenced ids here; when
        vacuuming a multi-table member directly, go through the engine
        (whose __init__ also reconciles, healing the gap).
        """
        committed_ids = {
            e["snapshot_id"] for e in self.read_ledger() if "snapshot_id" in e
        }
        if extra_committed_ids:
            committed_ids |= set(extra_committed_ids)
        cutoff = time.time() - older_than_s
        referenced: set[str] = set()
        man_dir = os.path.join(self.root, "manifests")
        for fn in os.listdir(man_dir):
            if not (fn.startswith("manifest-") and fn.endswith(".json")):
                continue
            sid = fn[len("manifest-"):-len(".json")]
            full = os.path.join(man_dir, fn)
            if sid in committed_ids:
                referenced.update(f.path for f in self.read_snapshot_meta(sid).files)
            elif os.path.getmtime(full) < cutoff:
                os.remove(full)  # aborted publish: manifest is residue too
            else:
                # in-flight (inside grace): its files stay protected
                referenced.update(f.path for f in self.read_snapshot_meta(sid).files)
        deleted = 0
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if (
                    fn.endswith(".parquet")
                    and rel not in referenced
                    and os.path.getmtime(full) < cutoff
                ):
                    os.remove(full)
                    deleted += 1
            if dirpath != data_root and not os.listdir(dirpath):
                os.rmdir(dirpath)
        return deleted

    def expire_snapshots(
        self, keep_last: int = 1, respect_consumers: bool = True
    ) -> int:
        """Delete data files referenced ONLY by expired snapshots
        (retention analog — reference free_space/reclaim_space,
        src/repositories/sqlite/base.py:210-238). Returns files deleted.

        Manifests of expired snapshots are deleted too, so a time-travel
        read of an expired snapshot fails FAST at the manifest lookup
        (clean "unknown or expired" error) instead of passing the
        manifest read and then blowing up mid-scan on missing data files.

        With ``respect_consumers`` (default), every snapshot a
        registered change-feed consumer has committed
        (``register_consumer`` / ChangesStream) stays alive — its
        manifest is the A-side of that consumer's next incremental
        window, and expiring it would force the consumer into the loud
        full-feed fallback. Pass False to expire regardless (consumers
        then rebuild via ChangesStream.poll's missing-manifest path).
        """
        entries = self.read_ledger()
        if len(entries) <= keep_last:
            return 0
        live_ids = {e["snapshot_id"] for e in entries[-keep_last:]}
        if respect_consumers:
            ledger_ids = {e.get("snapshot_id") for e in entries}
            live_ids |= {
                sid for sid in self.consumer_snapshots().values()
                if sid in ledger_ids
            }
        live_files: set[str] = set()
        for sid in live_ids:
            live_files.update(f.path for f in self.read_snapshot_meta(sid).files)
        deleted = 0
        data_root = os.path.join(self.root, "data")
        for dirpath, _dirnames, filenames in os.walk(data_root):
            for fn in filenames:
                rel = os.path.relpath(os.path.join(dirpath, fn), self.root)
                if fn.endswith(".parquet") and rel not in live_files:
                    os.remove(os.path.join(self.root, rel))
                    deleted += 1
        man_dir = os.path.join(self.root, "manifests")
        for fn in os.listdir(man_dir):
            if fn.startswith("manifest-") and fn.endswith(".json"):
                sid = fn[len("manifest-") : -len(".json")]
                if sid not in live_ids:
                    os.remove(os.path.join(man_dir, fn))
        return deleted


# ---------------------------------------------------------------------------
# Schema-version helpers (schema_for_version lives in schemas.py and is
# re-exported via the top-of-module import for compatibility)
# ---------------------------------------------------------------------------


def _upgrade_df(
    df: DataFrame, from_version: int, to_version: int, registry: SchemaRegistry | None
) -> DataFrame:
    """Apply add/rename/drop changes in (from_version, to_version] to a DataFrame."""
    if from_version == to_version or registry is None:
        return df
    from ethereum_etl_spark.schemas import _SPARK_TYPES

    for c in registry.changes:
        if from_version < c.schema_version <= to_version:
            if "add_column" in c.change:
                spec = c.change["add_column"]
                if spec["name"] not in df.columns:
                    df = df.withColumn(spec["name"], F.lit(None).cast(_SPARK_TYPES[spec["type"]]))
            elif "rename_column" in c.change:
                spec = c.change["rename_column"]
                df = df.withColumnRenamed(spec["from"], spec["to"])
            elif "drop_column" in c.change:
                spec = c.change["drop_column"]
                if spec["name"] in df.columns:
                    df = df.drop(spec["name"])
    return df
