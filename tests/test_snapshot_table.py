"""SnapshotTable mechanics: rollback, retention, tailer (SURVEY.md S10, S2)."""

import os

import pandas as pd

from ethereum_etl_spark.oracle import expected_final_state
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal
from ethereum_etl_spark.streaming.tailer import tail


def _mk_engine(spark, tmp_path, tmp_table, n_events=4_000, epoch=1_000, **cfg):
    p = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=n_events, n_urls=600)), p, n_files=4)
    return CDCEngine(
        spark, p, tmp_table, config=EngineConfig(epoch_size=epoch, n_buckets=4, **cfg)
    )


def test_rollback_restores_prior_state(spark, tmp_path, tmp_table):
    eng = _mk_engine(spark, tmp_path, tmp_table)
    results = eng.run()
    mid_snapshot = results[1].snapshot_id
    final_count = eng.read_table().count()
    eng.table.rollback(mid_snapshot)
    rolled_count = eng.read_table().count()
    assert eng.table.current_snapshot().snapshot_id == mid_snapshot
    assert rolled_count != final_count or rolled_count > 0


def test_expire_snapshots_frees_files_keeps_state(spark, tmp_path, tmp_table):
    # compaction after every second delta layer: later snapshots no
    # longer reference the collapsed delta files, so expiring the older
    # snapshots frees them
    eng = _mk_engine(spark, tmp_path, tmp_table, compact_max_deltas=2)
    eng.run()
    before = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    deleted = eng.table.expire_snapshots(keep_last=1)
    assert deleted > 0
    after = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert before.equals(after)


def test_mor_compaction_preserves_state_and_frees_deltas(spark, tmp_path, tmp_table):
    """MoR: deltas stack per epoch; compaction collapses them into base
    files without changing the logical table, after which expire frees
    the old delta files."""
    eng = _mk_engine(spark, tmp_path, tmp_table, compact_max_deltas=0)  # never auto-compact
    eng.run()
    depth = eng.table.delta_depth()
    assert depth and max(depth.values()) >= 2  # 4 epochs of deltas stacked
    before = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    eng.table.compact_groups()
    assert eng.table.delta_depth() == {}
    after = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert before.equals(after)
    assert eng.table.expire_snapshots(keep_last=1) > 0
    final = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert before.equals(final)


def test_grouped_delta_partial_compaction(spark, tmp_path, tmp_table):
    """MoR deltas are fanned into compaction groups map-side: compacting
    ONE group rewrites only that group's share of the table and leaves the
    other groups' delta stacks in place — the bounded-maintenance property
    that replaces whole-table compaction at scale."""
    eng = _mk_engine(
        spark, tmp_path, tmp_table, compact_max_deltas=0, n_delta_groups=4,
    )
    eng.run()
    depth = eng.table.delta_depth()
    assert depth and set(depth) <= set(range(4))
    before = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    g = min(depth)
    eng.table.compact_groups({g})
    d2 = eng.table.delta_depth()
    assert g not in d2 and set(d2) == set(depth) - {g}
    mid = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert before.equals(mid)
    eng.table.compact_groups()  # drain the rest
    assert eng.table.delta_depth() == {}
    after = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert before.equals(after)


def test_orphaned_staging_files_are_expired(spark, tmp_path, tmp_table):
    """Files staged by a crashed epoch are invisible and GC-able."""
    from ethereum_etl_spark.plans.engine import InjectedCrash
    import pytest

    p = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=2_000, n_urls=300)), p, n_files=2)
    cfg = EngineConfig(epoch_size=1_000, n_buckets=4, crash_points={"after_stage"})
    eng = CDCEngine(spark, p, tmp_table, config=cfg)
    with pytest.raises(InjectedCrash):
        eng.run()
    # orphan parquet exists on disk but no snapshot references it
    data_dir = os.path.join(tmp_table, "data")
    n_orphans = sum(len(fs) for _, _, fs in os.walk(data_dir))
    assert n_orphans > 0
    eng2 = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=4))
    eng2.run()
    eng2.table.expire_snapshots(keep_last=1)
    final = eng2.read_table().count()
    assert final > 0


def test_compaction_equilibrium_keeps_depth_bounded(spark, tmp_path, tmp_table):
    """Round-robin group compaction reaches a steady state: with G groups,
    a per-group threshold T and at most C groups compacted per epoch, the
    read amplification (delta layers per group) stays bounded over many
    epochs — the property that makes MoR maintenance viable at any table
    size (no whole-table rewrites, bounded work per epoch)."""
    eng = _mk_engine(
        spark, tmp_path, tmp_table, n_events=8_000, epoch=500,
        compact_max_deltas=2, n_delta_groups=4,
    )
    results = eng.run()  # 16 epochs
    assert len(results) == 16
    depth = eng.table.delta_depth()
    assert max(depth.values(), default=0) <= 4  # ≈ T + G/C, never unbounded
    ledger = eng.table.read_ledger()
    compactions = [e for e in ledger if e.get("compaction")]
    assert compactions, "compaction must have run during the epoch stream"
    assert all(len(e["groups"]) <= 2 for e in compactions)  # bounded per epoch
    # and the logical state is still exactly the replay oracle
    import pandas as pd

    from ethereum_etl_spark.oracle import expected_final_state

    got = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)
    exp = expected_final_state(
        spark.read.parquet(str(tmp_path / "wal")).toPandas()
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text"]], exp, check_dtype=False
    )


def test_snapshot_isolation_read_during_write(spark, tmp_path, tmp_table):
    """A reader bound before an epoch keeps seeing its snapshot while (and
    after) new epochs commit — reads bind to the manifest's file list, and
    data files are immutable until expire_snapshots. This is the
    read-while-write behavior the reference gets from ClickHouse MVs
    serving queries during NATS ingest (src/repositories/clickhouse/
    event.py:83-88)."""
    p = str(tmp_path / "wal")
    full = gen_wal(spark, WalConfig(n_events=3_000, n_urls=400))
    from pyspark.sql import functions as F

    write_wal(full.filter(F.col("seq") < 1_500), p, n_files=2)
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=1_500, n_buckets=4))
    eng.run()
    old_reader = eng.read_table()  # lazy: bound to snapshot 0's files
    old_before = old_reader.toPandas().sort_values("url").reset_index(drop=True)

    full.filter(F.col("seq") >= 1_500).repartitionByRange(2, "seq").write.mode(
        "append"
    ).parquet(p)
    eng.run()  # commits a second epoch while old_reader is still alive

    old_after = old_reader.toPandas().sort_values("url").reset_index(drop=True)
    assert old_before.equals(old_after)  # stable snapshot view
    new_count = eng.read_table().count()
    assert new_count != len(old_after) or eng.table.high_watermark() == 2_999


def test_tailer_applies_growing_wal(spark, tmp_path, tmp_table):
    """Tail mode: WAL grows between polls; engine catches up exactly-once.
    The third part is applied by ``run(up_to_seq=...)``, which must scan
    the files that landed since the last plan rather than commit
    0-event epochs past them."""
    p = str(tmp_path / "wal_tail")
    full = gen_wal(spark, WalConfig(n_events=4_500, n_urls=400))
    from pyspark.sql import functions as F

    write_wal(full.filter(F.col("seq") < 1_500), p, n_files=2)
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=500, n_buckets=4))
    r1 = tail(eng, max_polls=1)
    assert sum(x.n_events for x in r1) == 1_500
    # WAL grows (append-only: new files, old untouched)
    full.filter((F.col("seq") >= 1_500) & (F.col("seq") < 3_000)).repartitionByRange(
        2, "seq"
    ).write.mode("append").parquet(p)
    r2 = tail(eng, max_polls=1)
    assert sum(x.n_events for x in r2) == 1_500
    assert eng.table.high_watermark() == 2_999
    assert eng.read_table().count() == eng.read_table().select("url").distinct().count()
    full.filter(F.col("seq") >= 3_000).repartitionByRange(2, "seq").write.mode(
        "append"
    ).parquet(p)
    r3 = eng.run(up_to_seq=4_499)
    assert sum(x.n_events for x in r3) == 1_500
    got = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)
    exp = expected_final_state(spark.read.parquet(p).toPandas()).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text"]], exp, check_dtype=False
    )


def test_reader_snapshot_isolation_and_time_travel(spark, tmp_path, tmp_table):
    """A reader's plan pins the manifest file list at read() time: a
    writer committing further epochs (and new delta files) must not leak
    into it — commits only add files; nothing the pinned reader
    references is deleted until expire_snapshots. Time travel
    (read(snapshot_id=...)) reproduces the same pinned state later."""
    eng = _mk_engine(spark, tmp_path, tmp_table)
    plan = eng.plan_epochs()
    for e in plan[:2]:
        eng.run_epoch(*e)
    snap_mid = eng.table.current_snapshot().snapshot_id
    pinned = eng.read_table()  # lazy; file list resolved NOW
    before = pinned.toPandas().sort_values("url").reset_index(drop=True)

    for e in plan[2:]:  # concurrent writer advances the table
        eng.run_epoch(*e)

    after = pinned.toPandas().sort_values("url").reset_index(drop=True)
    assert before.equals(after)  # isolation: pinned reader unmoved

    cur = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert int(cur["seq"].max()) > int(after["seq"].max())  # fresh read advanced

    tt = (
        eng.read_table(snapshot_id=snap_mid)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert tt.equals(after)  # VERSION AS OF reproduces the mid state


def test_append_log_torn_tail_repair(tmp_path):
    """The JSONL ledger's crash contract: a torn (unterminated or
    undecodable) tail line is invisible on load and truncated by the
    next append — commits are all-or-nothing at line granularity."""
    from ethereum_etl_spark.operators.snapshot_table import AppendLog

    p = str(tmp_path / "ledger.jsonl")
    log = AppendLog(p)
    for i in range(5):
        log.append({"epoch_id": i, "end_seq": i * 10})
    assert [e["epoch_id"] for e in AppendLog(p).entries()] == list(range(5))

    # simulate a crash mid-write: partial last line, no newline
    with open(p, "ab") as f:
        f.write(b'{"epoch_id": 5, "end_se')
    log2 = AppendLog(p)
    assert [e["epoch_id"] for e in log2.entries()] == list(range(5))
    log2.append({"epoch_id": 6, "end_seq": 60})
    # torn bytes gone; clean history with the new entry appended
    reread = AppendLog(p).entries()
    assert [e["epoch_id"] for e in reread] == [0, 1, 2, 3, 4, 6]


def test_tombstone_retention_window(spark, tmp_path, tmp_table):
    """Compaction drops tombstones past the replay window and keeps those
    inside it; a late out-of-order event for a recently-deleted key still
    loses to the retained tombstone."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ethereum_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    def ts(s):
        return pd.Timestamp("2024-01-01", tz="UTC").to_pydatetime() + pd.Timedelta(seconds=s)

    rows = [(1, "insert", "https://a.example.com/x", ts(100), b"<html>a</html>", None),
            (2, "delete", "https://a.example.com/x", ts(200), None, None)]
    rows += [
        (3 + i, "insert", f"https://b.example.com/{i}", ts(300 + i), b"<html>b</html>", None)
        for i in range(60)
    ]
    wal = str(tmp_path / "wal_ts")
    spark.createDataFrame(rows, schema=CHANGE_EVENT_SCHEMA).write.parquet(wal)

    # retention window wider than the tombstone's age: KEPT, and a late
    # event (older warc_ts than the delete) still loses on read
    t1 = str(tmp_path / "t_keep")
    eng = CDCEngine(spark, wal, t1, config=EngineConfig(
        epoch_size=100, n_buckets=4))
    eng.run()
    eng.table.compact_groups(tombstone_retention_seqs=1_000)
    with_tomb = eng.read_table(include_tombstones=True)
    assert with_tomb.filter(F.col("url") == "https://a.example.com/x").count() == 1
    late = [(63, "update", "https://a.example.com/x", ts(150), b"<html>late</html>", None)]
    spark.createDataFrame(late, schema=CHANGE_EVENT_SCHEMA).write.mode("append").parquet(wal)
    eng2 = CDCEngine(spark, wal, t1, config=EngineConfig(
        epoch_size=100, n_buckets=4))
    eng2.run()
    assert eng2.read_table().filter(F.col("url") == "https://a.example.com/x").count() == 0

    # retention narrower than the tombstone's age: DROPPED at compaction,
    # live state unchanged
    t2 = str(tmp_path / "t_drop")
    wal2 = str(tmp_path / "wal_ts2")
    spark.createDataFrame(rows, schema=CHANGE_EVENT_SCHEMA).write.parquet(wal2)
    eng3 = CDCEngine(spark, wal2, t2, config=EngineConfig(
        epoch_size=100, n_buckets=4))
    eng3.run()
    live_before = eng3.read_table().count()
    eng3.table.compact_groups(tombstone_retention_seqs=10)  # cutoff = 62-10 = 52 > 2
    assert eng3.read_table(include_tombstones=True).filter(
        F.col("url") == "https://a.example.com/x"
    ).count() == 0
    assert eng3.read_table().count() == live_before


def test_append_log_short_write_loops_and_failure_keeps_offset(tmp_path, monkeypatch):
    """os.pwrite returning short counts must not lose committed bytes:
    the append loops until the whole line is durable, and a write that
    cannot proceed raises WITHOUT advancing the valid offset — the
    partial tail is repaired like any torn write."""
    from ethereum_etl_spark.operators.snapshot_table import AppendLog

    p = str(tmp_path / "ledger.jsonl")
    log = AppendLog(p)
    log.append({"epoch_id": 0, "end_seq": 9})

    real_pwrite = os.pwrite

    def dribble(fd, data, offset):  # at most 5 bytes per syscall
        return real_pwrite(fd, data[:5], offset)

    monkeypatch.setattr(os, "pwrite", dribble)
    log.append({"epoch_id": 1, "end_seq": 19})
    monkeypatch.undo()
    assert [e["epoch_id"] for e in AppendLog(p).entries()] == [0, 1]

    def broken(fd, data, offset):
        return 0

    monkeypatch.setattr(os, "pwrite", broken)
    import pytest as _pytest

    with _pytest.raises(OSError, match="short write"):
        log.append({"epoch_id": 2, "end_seq": 29})
    monkeypatch.undo()
    # offset not advanced: the failed entry is absent, the next append
    # truncates any partial bytes and commits cleanly
    log.append({"epoch_id": 3, "end_seq": 39})
    assert [e["epoch_id"] for e in AppendLog(p).entries()] == [0, 1, 3]
