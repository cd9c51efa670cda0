"""Multi-table fan-out: one WAL → pages + host_stats under ONE atomic
group-ledger commit (reference: one stream feeds 14 entity tables,
src/tasks/dag.py:32-49). Crash matrix proves all-or-nothing epochs."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.oracle import expected_final_state
from ethereum_etl_spark.plans.multi import InjectedCrash, MultiTableEngine
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal


def _mk_wal(spark, tmp_path, n_events=3_000, n_urls=400):
    p = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=n_events, n_urls=n_urls)), p, n_files=4)
    return p


def _expected_hosts(wal_pdf: pd.DataFrame) -> pd.DataFrame:
    d = wal_pdf.copy()
    d["host"] = d["url"].str.extract(r"https?://([^/]+)/")[0]
    g = d.groupby("host")
    out = pd.DataFrame(
        {
            "n_events": g.size(),
            "n_inserts": g.apply(lambda x: (x["op"] == "insert").sum(), include_groups=False),
            "n_updates": g.apply(lambda x: (x["op"] == "update").sum(), include_groups=False),
            "n_deletes": g.apply(lambda x: (x["op"] == "delete").sum(), include_groups=False),
            "last_seq": g["seq"].max(),
        }
    ).reset_index()
    return out.sort_values("host").reset_index(drop=True)


def _hosts_pdf(eng: MultiTableEngine) -> pd.DataFrame:
    return (
        eng.read_hosts()
        .select("host", "n_events", "n_inserts", "n_updates", "n_deletes", "last_seq")
        .toPandas()
        .sort_values("host")
        .reset_index(drop=True)
    )


def _pages_pdf(eng: MultiTableEngine) -> pd.DataFrame:
    pdf = eng.read_pages().toPandas().sort_values("url").reset_index(drop=True)
    pdf["html"] = pdf["html"].map(lambda b: bytes(b) if b is not None else None)
    return pdf


def test_multi_table_final_state_both_tables(spark, tmp_path):
    wal = _mk_wal(spark, tmp_path)
    eng = MultiTableEngine(spark, wal, str(tmp_path / "multi"), epoch_size=1_000)
    results = eng.run()
    assert len(results) == 3 and not any(r.skipped for r in results)
    wal_pdf = spark.read.parquet(wal).toPandas()

    exp_pages = expected_final_state(wal_pdf).reset_index(drop=True)
    got_pages = _pages_pdf(eng)[["url", "warc_ts", "seq", "html", "text"]]
    pd.testing.assert_frame_equal(got_pages, exp_pages, check_dtype=False)

    pd.testing.assert_frame_equal(
        _hosts_pdf(eng), _expected_hosts(wal_pdf), check_dtype=False
    )

    # re-run: every epoch is a group-ledger skip, state unchanged
    eng2 = MultiTableEngine(spark, wal, str(tmp_path / "multi"), epoch_size=1_000)
    assert all(r.skipped for r in eng2.run())
    pd.testing.assert_frame_equal(_hosts_pdf(eng2), _expected_hosts(wal_pdf), check_dtype=False)

    # pages maintenance (compaction) is a member-ledger-only commit the
    # group reconciliation tolerates; logical state is unchanged by it
    eng2.pages.compact_groups()
    assert eng2.pages.delta_depth() == {}
    after = _pages_pdf(eng2)[["url", "warc_ts", "seq", "html", "text"]]
    pd.testing.assert_frame_equal(after, exp_pages, check_dtype=False)
    assert all(r.skipped for r in MultiTableEngine(
        spark, wal, str(tmp_path / "multi"), epoch_size=1_000
    ).run())


def test_multi_table_crash_before_group_commit_is_invisible(spark, tmp_path):
    """Crash after BOTH tables staged but before the group commit: neither
    table may observe anything (all-or-nothing)."""
    wal = _mk_wal(spark, tmp_path)
    root = str(tmp_path / "multi")
    eng = MultiTableEngine(
        spark, wal, root, epoch_size=1_000, crash_points={"after_stage"}
    )
    with pytest.raises(InjectedCrash):
        eng.run()
    assert eng.high_watermark() == -1
    assert eng.pages.current_snapshot() is None
    assert eng.hosts.current_snapshot() is None

    eng2 = MultiTableEngine(spark, wal, root, epoch_size=1_000)
    results = eng2.run()
    assert len(results) == 3 and not any(r.skipped for r in results)
    wal_pdf = spark.read.parquet(wal).toPandas()
    pd.testing.assert_frame_equal(_hosts_pdf(eng2), _expected_hosts(wal_pdf), check_dtype=False)


def test_multi_table_crash_after_group_commit_reconciles(spark, tmp_path):
    """Crash after the group commit but before member-ledger append: the
    group entry is authoritative; a fresh engine reconciles member
    ledgers and the epoch is skipped (no re-apply, no loss)."""
    wal = _mk_wal(spark, tmp_path)
    root = str(tmp_path / "multi")
    eng = MultiTableEngine(
        spark, wal, root, epoch_size=1_000, crash_points={"after_group_commit"}
    )
    with pytest.raises(InjectedCrash):
        eng.run()
    # group ledger has epoch 0; member ledgers were NOT appended
    assert eng.high_watermark() == 999
    assert eng.pages.read_ledger() == [] and eng.hosts.read_ledger() == []

    eng2 = MultiTableEngine(spark, wal, root, epoch_size=1_000)  # reconciles on init
    assert len(eng2.pages.read_ledger()) == 1 and len(eng2.hosts.read_ledger()) == 1
    results = eng2.run()
    assert len(results) == 2 and not any(r.skipped for r in results)
    wal_pdf = spark.read.parquet(wal).toPandas()
    pd.testing.assert_frame_equal(_hosts_pdf(eng2), _expected_hosts(wal_pdf), check_dtype=False)
    exp_pages = expected_final_state(wal_pdf).reset_index(drop=True)
    got_pages = _pages_pdf(eng2)[["url", "warc_ts", "seq", "html", "text"]]
    pd.testing.assert_frame_equal(got_pages, exp_pages, check_dtype=False)


def test_multi_table_schema_evolution_pages_only(spark, tmp_path):
    """Registry-driven evolution through the multi-table engine: `lang`
    is added to pages mid-stream while host_stats keeps its own schema —
    per-entity schemas evolve independently (reference extract layers,
    src/tasks/extract/block.py:29-34)."""
    from ethereum_etl_spark.schemas import PAGES_SCHEMA_V1, SchemaChange, SchemaRegistry

    n, eff = 3_000, 1_500
    wal = str(tmp_path / "wal_evo")
    write_wal(
        gen_wal(spark, WalConfig(n_events=n, n_urls=400, lang_effective_seq=eff)),
        wal, n_files=4,
    )
    reg = SchemaRegistry(base_schema=PAGES_SCHEMA_V1)
    reg.add_change(SchemaChange(
        schema_version=2, effective_seq=eff,
        change={"add_column": {"name": "lang", "type": "string"}},
    ))
    eng = MultiTableEngine(
        spark, wal, str(tmp_path / "multi"), epoch_size=1_000, pages_registry=reg
    )
    eng.run()

    # group ledger records the per-table version step
    versions = [e["schema_versions"] for e in eng.group_entries()]
    assert [v["pages"] for v in versions] == [1, 2, 2]
    assert all(v["host_stats"] == 1 for v in versions)

    got = eng.read_pages().toPandas().sort_values("url").reset_index(drop=True)
    assert "lang" in got.columns
    assert got["lang"].isna().any() and got["lang"].notna().any()
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)
    wal_pdf = spark.read.parquet(wal).toPandas()
    exp = expected_final_state(wal_pdf, with_lang=True).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text", "lang"]], exp, check_dtype=False
    )
    # host_stats untouched by the pages evolution
    pd.testing.assert_frame_equal(_hosts_pdf(eng), _expected_hosts(wal_pdf), check_dtype=False)

    # crash matrix still holds under evolution: resume skips verbatim
    eng2 = MultiTableEngine(
        spark, wal, str(tmp_path / "multi"), epoch_size=1_000, pages_registry=reg
    )
    assert all(r.skipped for r in eng2.run())


def test_host_stats_touched_bucket_carryover(spark, tmp_path):
    """The dim merge is touched-bucket CoW: an epoch whose events hit one
    host reads/writes only that host's bucket; every other bucket's file
    carries over untouched (per-epoch dim cost ∝ batch, not dim size)."""
    from pyspark.sql import types as T

    from ethereum_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    wal = str(tmp_path / "wal_tb")
    write_wal(gen_wal(spark, WalConfig(n_events=2_000, n_urls=400)), wal, n_files=2)
    root = str(tmp_path / "multi")
    eng = MultiTableEngine(spark, wal, root, epoch_size=2_000)
    eng.run()
    files_before = {f.path for f in eng.hosts.current_snapshot().files}
    assert len(files_before) > 1  # dim spread over several buckets

    # epoch 2: a single-host batch appended to the WAL
    rows = [
        (2_000 + i, "update", "https://site-7.example.com/page/7",
         pd.Timestamp("2024-01-02", tz="UTC").to_pydatetime(), b"<html>x</html>", None)
        for i in range(5)
    ]
    spark.createDataFrame(rows, schema=CHANGE_EVENT_SCHEMA).write.mode("append").parquet(wal)
    eng2 = MultiTableEngine(spark, wal, root, epoch_size=2_000)
    eng2.run()

    snap = eng2.hosts.current_snapshot()
    carried = {f.path for f in snap.files} & files_before
    new = {f.path for f in snap.files} - files_before
    # most bucket files carried over; only the touched bucket was rewritten
    assert len(carried) >= len(files_before) - 1 and len(new) >= 1
    assert snap.summary["carried_files"] == len(carried)

    # and the merged dim is still exact
    wal_pdf = spark.read.parquet(wal).toPandas()
    pd.testing.assert_frame_equal(_hosts_pdf(eng2), _expected_hosts(wal_pdf), check_dtype=False)


def test_multi_table_change_feeds(spark, tmp_path):
    """pages: manifest-diff LWW feed equals the brute-force snapshot
    diff; host_stats: value-compare state_diff emits exactly the hosts
    whose aggregates moved in the window (touched-but-unchanged bucket
    rewrites emit nothing)."""
    wal = _mk_wal(spark, tmp_path)
    eng = MultiTableEngine(spark, wal, str(tmp_path / "multi"), epoch_size=1_000)
    results = eng.run()
    snaps_a, snaps_b = results[0].snapshots, results[-1].snapshots

    # --- pages (LWW feed) ---
    a = (
        eng.pages.read(snapshot_id=snaps_a["pages"])
        .filter(~F.coalesce(F.col("__deleted"), F.lit(False)))
        .toPandas().set_index("url")
    )
    b = eng.read_pages().toPandas().set_index("url")
    got = eng.changes_pages(snaps_a["pages"], snaps_b["pages"]).toPandas()
    exp = {}
    for url, row in b.iterrows():
        if url not in a.index:
            exp[url] = "insert"
        elif (a.loc[url, "warc_ts"], a.loc[url, "seq"]) != (row["warc_ts"], row["seq"]):
            exp[url] = "update_postimage"
    for url in set(a.index) - set(b.index):
        exp[url] = "delete"
    assert dict(zip(got["url"], got["change_type"])) == exp
    assert len(got) == len(exp)

    # --- host_stats (value-compare feed) ---
    ha = (
        eng.hosts.read(snapshot_id=snaps_a["host_stats"])
        .drop("__bucket", "__deleted").toPandas().set_index("host")
    )
    hb = eng.read_hosts().toPandas().set_index("host")
    hgot = eng.changes_hosts(snaps_a["host_stats"], snaps_b["host_stats"]).toPandas()
    hexp = {}
    cols = [c for c in hb.columns]
    for host, row in hb.iterrows():
        if host not in ha.index:
            hexp[host] = "insert"
        elif tuple(ha.loc[host, cols]) != tuple(row[cols]):
            hexp[host] = "update_postimage"
    assert dict(zip(hgot["host"], hgot["change_type"])) == hexp
    # feed must be non-vacuous and strictly smaller than the dim when
    # some host's counts were already final by the first epoch
    assert 0 < len(hgot) <= len(hb)


def test_vacuum_reclaims_aborted_multitable_publish(spark, tmp_path):
    """MultiTableEngine writes member manifests BEFORE the group commit,
    so an aborted publish leaves ORPHAN MANIFESTS referencing staged
    files. vacuum_orphans must treat only ledger-committed manifests as
    liveness roots: the orphan manifest and its files are reclaimed, and
    a committed re-run is untouched."""
    import glob

    from ethereum_etl_spark.plans.multi import InjectedCrash, MultiTableEngine

    wal = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=3_000, n_urls=400)), wal, n_files=2)
    root = str(tmp_path / "multi")
    eng = MultiTableEngine(
        spark, wal, root, epoch_size=3_000, crash_points={"after_stage"}
    )
    try:
        eng.run()
    except InjectedCrash:
        pass
    staged = glob.glob(os.path.join(root, "pages", "data", "**", "*.parquet"),
                       recursive=True)
    manifests = glob.glob(os.path.join(root, "pages", "manifests", "*.json"))
    assert staged and manifests, "aborted publish must leave staged residue"

    n = eng.pages.vacuum_orphans(older_than_s=0)
    assert n == len(staged)
    assert not glob.glob(os.path.join(root, "pages", "data", "**", "*.parquet"),
                         recursive=True)
    assert not glob.glob(os.path.join(root, "pages", "manifests", "*.json")), (
        "orphan manifest of the aborted publish must be reclaimed too"
    )
    eng.hosts.vacuum_orphans(older_than_s=0)

    # the epoch was never group-committed: a clean engine re-runs it
    eng2 = MultiTableEngine(spark, wal, root, epoch_size=3_000)
    results = eng2.run()
    assert results and not results[0].skipped
    assert eng2.read_pages().count() > 0
    # committed state survives a subsequent vacuum untouched
    assert eng2.pages.vacuum_orphans(older_than_s=0) == 0


def test_changes_hosts_plans_only_window_files(spark, tmp_path):
    """The hosts feed sources candidates from the manifest diff: a
    single-host window must plan only the touched bucket's files (A and
    B side), not the whole dim — with output identical to the value
    compare (exactly that host's update row)."""
    from ethereum_etl_spark.schemas import CHANGE_EVENT_SCHEMA

    wal = str(tmp_path / "wal_hf")
    write_wal(gen_wal(spark, WalConfig(n_events=2_000, n_urls=400)), wal, n_files=2)
    root = str(tmp_path / "multi_hf")
    eng = MultiTableEngine(spark, wal, root, epoch_size=2_000)
    eng.run()
    snap_a = eng.hosts.current_snapshot().snapshot_id

    rows = [
        (2_000 + i, "update", "https://site-7.example.com/page/7",
         pd.Timestamp("2024-01-02", tz="UTC").to_pydatetime(), b"<html>x</html>", None)
        for i in range(5)
    ]
    spark.createDataFrame(rows, schema=CHANGE_EVENT_SCHEMA).write.mode("append").parquet(wal)
    eng2 = MultiTableEngine(spark, wal, root, epoch_size=2_000)
    eng2.run()

    stats: dict = {}
    got = eng2.changes_hosts(snap_a, stats_out=stats).toPandas()
    assert stats["files_scanned"] < stats["files_total"], stats
    assert list(got["host"]) == ["site-7.example.com"]
    assert list(got["change_type"]) == ["update_postimage"]
    assert int(got["n_updates"].iloc[0]) == int(
        _expected_hosts(spark.read.parquet(wal).toPandas())
        .set_index("host").loc["site-7.example.com", "n_updates"]
    )

    # empty window: no files added, zero-row feed, zero files planned
    stats2: dict = {}
    snap_b = eng2.hosts.current_snapshot().snapshot_id
    empty = eng2.changes_hosts(snap_b, snap_b, stats_out=stats2)
    assert empty.count() == 0 and stats2["files_scanned"] == 0


def test_vacuum_group_committed_member_survives_before_reconcile(spark, tmp_path):
    """ADVICE r4: the group ledger is the commit point. After a crash
    between the group-ledger commit and the member-ledger reconcile, a
    member's own ledger has no entry for the group-committed snapshot —
    MultiTableEngine.vacuum_orphans must still treat it as committed
    (group-referenced ids are liveness roots) so the publish is never
    reclaimed, and a follow-up engine init reconciles and reads it."""
    import glob

    from ethereum_etl_spark.plans.multi import InjectedCrash, MultiTableEngine

    wal = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=3_000, n_urls=400)), wal, n_files=2)
    root = str(tmp_path / "multi")
    eng = MultiTableEngine(
        spark, wal, root, epoch_size=3_000, crash_points={"after_group_commit"}
    )
    try:
        eng.run()
    except InjectedCrash:
        pass
    # crash landed after the group commit, before reconcile: the group
    # ledger references snapshots the member ledgers don't record yet
    group = eng.group_entries()
    assert group, "group commit must have landed before the crash"
    sid = group[-1]["tables"]["pages"]
    assert sid not in {e.get("snapshot_id") for e in eng.pages.read_ledger()}

    # engine-mediated vacuum with zero grace: the group-committed
    # snapshot and all its files survive
    eng.vacuum_orphans(older_than_s=0)
    eng.pages.read_snapshot_meta(sid)  # manifest still present
    files = glob.glob(os.path.join(root, "pages", "data", "**", "*.parquet"),
                      recursive=True)
    assert files, "group-committed data files must survive the vacuum"

    # a fresh engine reconciles the member ledgers and serves the epoch
    eng2 = MultiTableEngine(spark, wal, root, epoch_size=3_000)
    assert sid in {e.get("snapshot_id") for e in eng2.pages.read_ledger()}
    assert eng2.read_pages().count() > 0
    assert eng2.run() == []  # exactly-once: nothing left to apply


def test_multi_table_empty_epoch_commits_through_group_ledger(spark, tmp_path):
    """An epoch range that holds no events still commits through the
    group ledger: both members get a snapshot, the group watermark
    advances, and neither table's contents change."""
    wal = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=2_000, n_urls=300)), wal, n_files=2)
    eng = MultiTableEngine(spark, wal, str(tmp_path / "multi"), epoch_size=2_000)
    eng.run()
    hosts_before = _hosts_pdf(eng)
    n_pages = eng.read_pages().count()

    r = eng.run_epoch(2_000, 1_999, 2_499)  # past the WAL's last seq
    assert r.n_events == 0 and not r.skipped
    assert eng.high_watermark() == 2_499
    assert eng.group_entries()[-1]["tables"] == r.snapshots
    assert eng.pages.read_ledger()[-1]["snapshot_id"] == r.snapshots["pages"]
    assert eng.hosts.read_ledger()[-1]["snapshot_id"] == r.snapshots["host_stats"]
    assert eng.read_pages().count() == n_pages
    pd.testing.assert_frame_equal(_hosts_pdf(eng), hosts_before)
