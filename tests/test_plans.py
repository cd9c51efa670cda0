"""Physical-plan regression guards for the scale-critical paths.

These assert the *shape* of the plans (column pruning, no payload
window-sort), not results — so a refactor that silently reintroduces a
whole-payload shuffle or un-prunes a scan fails fast.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig, WalFileStatsError
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mor_read_plan_is_payload_light(spark, tmp_path, tmp_table):
    """The MoR read collapse must (a) compute winners from a scan pruned
    to (url, warc_ts, seq) and (b) contain NO window operator — the
    round-1 review found the read path window-sorting full payload rows
    between compactions."""
    p = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=3_000, n_urls=400)), p, n_files=2)
    eng = CDCEngine(
        spark, p, tmp_table,
        config=EngineConfig(epoch_size=1_000, n_buckets=4, compact_max_deltas=0),
    )
    eng.run()
    assert eng.table.delta_depth()  # deltas present → collapse path active
    plan = _executed_plan(eng.table.read())
    assert "Window" not in plan, "payload rows must not pass through a window sort"
    # the winner subtree scans exactly the 3 dedup columns
    pruned = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "html" not in line
    ]
    assert any(
        "url" in line and "warc_ts" in line and "seq" in line for line in pruned
    ), f"no 3-column pruned winner scan found:\n{plan}"


def test_lww_agg_winner_scan_prunes_payload(spark, tmp_path):
    """lww_agg's winner aggregation must push a payload-free ReadSchema
    down to parquet (winners travel as ~24-byte tuples)."""
    p = str(tmp_path / "wal_prune")
    write_wal(gen_wal(spark, WalConfig(n_events=2_000, n_urls=300)), p, n_files=2)
    from ethereum_etl_spark.operators.lww import lww_agg

    wal = spark.read.parquet(p)
    winners_only_keys = lww_agg(wal).select("url", "seq")
    plan = _executed_plan(winners_only_keys)
    # at least one scan must carry no html column (the agg side); the
    # payload side is fetched by join, so html appears at most once
    assert plan.count("html") <= 1, plan


def test_grouped_delta_write_plan_has_no_shuffle(spark, tmp_path, tmp_table):
    """The MoR epoch write's PAYLOAD path must stay shuffle-free: winner
    seqs broadcast into the payload scan (never a sort-merge join, which
    would shuffle+sort html bytes), group id computed map-side. The only
    exchanges allowed feed the winner aggregation over ~24-byte
    tuples."""
    p = str(tmp_path / "wal_nosh")
    write_wal(gen_wal(spark, WalConfig(n_events=3_000, n_urls=400)), p, n_files=2)
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=3_000, n_buckets=4))

    from ethereum_etl_spark.operators.snapshot_table import SnapshotTable

    captured: list[str] = []
    orig = SnapshotTable.stage_delta_grouped

    def spy(self, new_rows, *a, **kw):
        captured.append(_executed_plan(new_rows))
        return orig(self, new_rows, *a, **kw)

    SnapshotTable.stage_delta_grouped = spy
    try:
        eng.run()
    finally:
        SnapshotTable.stage_delta_grouped = orig
    assert captured
    # winner seqs are force-broadcast below the threshold, so the staged
    # rows' plan must contain a BroadcastHashJoin and no sort-merge join
    assert "BroadcastHashJoin" in captured[0]
    assert "SortMergeJoin" not in captured[0]


def test_multi_table_pages_write_plan_has_no_payload_shuffle(spark, tmp_path):
    """The multi-table pages branch must use the SAME winner-seqs +
    broadcast seq equi-join shape as the single-table MoR path: the
    staged rows' plan joins payload by BroadcastHashJoin on seq (never
    a sort-merge join, which would shuffle+sort html bytes)."""
    from ethereum_etl_spark.operators.snapshot_table import SnapshotTable
    from ethereum_etl_spark.plans.multi import MultiTableEngine

    p = str(tmp_path / "wal_multi_plan")
    write_wal(gen_wal(spark, WalConfig(n_events=3_000, n_urls=400)), p, n_files=2)

    captured: list[str] = []
    orig = SnapshotTable.stage_delta_grouped

    def spy(self, new_rows, *a, **kw):
        captured.append(_executed_plan(new_rows))
        return orig(self, new_rows, *a, **kw)

    SnapshotTable.stage_delta_grouped = spy
    try:
        MultiTableEngine(
            spark, p, str(tmp_path / "multi_plan"), epoch_size=3_000
        ).run()
    finally:
        SnapshotTable.stage_delta_grouped = orig
    assert captured
    assert "BroadcastHashJoin" in captured[0]
    assert "SortMergeJoin" not in captured[0]


def test_plan_epochs_runs_no_spark_job(spark, tmp_path, tmp_table):
    """Planning reads the WAL file index (a listing plus footers), never
    a Spark scan: a tailer polls it, so its cost must not be a job."""
    p = str(tmp_path / "wal_plan")
    write_wal(gen_wal(spark, WalConfig(n_events=3_000, n_urls=400)), p, n_files=2)
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=4))
    sc = spark.sparkContext
    group = f"plan-guard-{tmp_path.name}"
    sc.setJobGroup(group, "plan_epochs must launch no job")
    try:
        plan = eng.plan_epochs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert plan == [(0, -1, 999), (1_000, 999, 1_999), (2_000, 1_999, 2_999)]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_epoch_slice_reads_only_overlapping_files(spark, tmp_path, tmp_table):
    """Each epoch's reader opens only the WAL files its seq range
    overlaps, not every file of the WAL."""
    p = str(tmp_path / "wal_slices")
    full = gen_wal(spark, WalConfig(n_events=4_000, n_urls=400))
    for i in range(8):  # 8 files of exactly 500 seqs each
        full.filter((F.col("seq") >= i * 500) & (F.col("seq") < (i + 1) * 500)).coalesce(
            1
        ).write.mode("append").parquet(p)
    assert len(spark.read.parquet(p).inputFiles()) == 8
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=500, n_buckets=4))
    plan = eng.plan_epochs()
    assert len(plan) == 8
    total = 0
    for _, lo, hi in plan:
        slice_df, lineage = eng._epoch_slice(lo, hi)
        assert 1 <= len(slice_df.inputFiles()) <= 2
        assert [(f["seq_min"], f["seq_max"]) for f in lineage] == [(lo + 1, hi)]
        total += slice_df.count()
    assert total == 4_000


def test_second_run_reads_only_the_new_wal_footer(spark, tmp_path, tmp_table, monkeypatch):
    """WAL files are immutable, so the index reads each footer once per
    engine: after a file lands, the next run reads that file's footer
    and no other."""
    p = str(tmp_path / "wal_footers")
    full = gen_wal(spark, WalConfig(n_events=3_000, n_urls=400))
    write_wal(full.filter(F.col("seq") < 2_000), p, n_files=2)
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=4))
    assert sum(r.n_events for r in eng.run()) == 2_000

    before = set(os.listdir(p))
    full.filter(F.col("seq") >= 2_000).coalesce(1).write.mode("append").parquet(p)
    landed = [os.path.join(p, f) for f in set(os.listdir(p)) - before if f.endswith(".parquet")]
    assert len(landed) == 1

    reads: list[str] = []
    read_metadata = pq.read_metadata

    def counting(path, *a, **kw):
        reads.append(str(path))
        return read_metadata(path, *a, **kw)

    monkeypatch.setattr(pq, "read_metadata", counting)
    assert sum(r.n_events for r in eng.run()) == 1_000
    assert [r for r in reads if os.path.dirname(r) == p] == landed


def test_wal_file_without_seq_stats_is_refused(spark, tmp_path, tmp_table):
    """A non-empty WAL file whose footer has no seq min/max cannot be
    placed in any epoch: planning raises instead of skipping it."""
    p = str(tmp_path / "wal_nostats")
    os.makedirs(p)
    pq.write_table(
        pa.table({"seq": pa.array([0, 1], pa.int64()), "html": [b"<p>a</p>", b"<p>b</p>"]}),
        os.path.join(p, "part-0.parquet"),
        write_statistics=False,
    )
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(n_buckets=4))
    with pytest.raises(WalFileStatsError):
        eng.plan_epochs()
