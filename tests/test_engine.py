"""Replay / final-state equivalence (SURVEY.md §5 tests 1, 4, 6).

The north rule's core contract: after consuming the WAL, the table state
must equal the single-threaded oracle's replay — on a full run, on a
resumed run, on a re-run of committed epochs, and under hot-key skew.
"""

import os

import pandas as pd
import pytest

from ethereum_etl_spark.oracle import expected_final_state
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig, InjectedCrash
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal


def _wal_pandas(spark, path) -> pd.DataFrame:
    return spark.read.parquet(path).toPandas()


def _table_pandas(engine: CDCEngine) -> pd.DataFrame:
    df = engine.read_table()
    assert df is not None
    pdf = df.toPandas().sort_values("url").reset_index(drop=True)
    pdf["html"] = pdf["html"].map(lambda b: bytes(b) if b is not None else None)
    return pdf


def _assert_state_equals_oracle(engine: CDCEngine, wal_pdf: pd.DataFrame):
    got = _table_pandas(engine)[["url", "warc_ts", "seq", "html", "text"]]
    exp = expected_final_state(wal_pdf).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.fixture()
def wal_path(spark, tmp_path):
    cfg = WalConfig(n_events=10_000, n_urls=2_000, ooo_frac=0.15)
    p = str(tmp_path / "wal")
    write_wal(gen_wal(spark, cfg), p, n_files=8)
    return p


def test_single_epoch_replay(spark, wal_path, tmp_table):
    eng = CDCEngine(spark, wal_path, tmp_table, config=EngineConfig(epoch_size=20_000, n_buckets=8))
    results = eng.run()
    assert len(results) == 1 and not results[0].skipped
    _assert_state_equals_oracle(eng, _wal_pandas(spark, wal_path))


def test_multi_epoch_replay(spark, wal_path, tmp_table):
    eng = CDCEngine(spark, wal_path, tmp_table, config=EngineConfig(epoch_size=2_500, n_buckets=8))
    results = eng.run()
    assert len(results) == 4
    _assert_state_equals_oracle(eng, _wal_pandas(spark, wal_path))
    # ledger epochs tile the WAL: no gaps, no overlaps
    entries = sorted(eng.table.committed_epochs().values(), key=lambda e: e["start_seq"])
    assert entries[0]["start_seq"] == -1
    for a, b in zip(entries, entries[1:]):
        assert a["end_seq"] == b["start_seq"]
    assert entries[-1]["end_seq"] == 9_999


def test_rerun_of_committed_epochs_is_noop(spark, wal_path, tmp_table):
    cfg = EngineConfig(epoch_size=2_500, n_buckets=8)
    eng = CDCEngine(spark, wal_path, tmp_table, config=cfg)
    eng.run()
    before = _table_pandas(eng)
    # fresh engine over same table: every epoch must be skipped verbatim
    eng2 = CDCEngine(spark, wal_path, tmp_table, config=cfg)
    results = [eng2.run_epoch(lo + 1, lo, min(lo + 2_500, 9_999)) for lo in (-1, 2_499, 4_999, 7_499)]
    assert all(r.skipped for r in results)
    pd.testing.assert_frame_equal(before, _table_pandas(eng2))


def test_crash_before_commit_then_resume(spark, wal_path, tmp_table):
    """Kill after data files staged but before ledger append (§5 test 4)."""
    cfg = EngineConfig(epoch_size=2_500, n_buckets=8, crash_points={"after_stage"})
    eng = CDCEngine(spark, wal_path, tmp_table, config=cfg)
    with pytest.raises(InjectedCrash):
        eng.run()
    assert eng.table.high_watermark() == -1  # nothing committed
    # resume with a healthy engine: exact oracle state, no dupes/gaps
    cfg2 = EngineConfig(epoch_size=2_500, n_buckets=8)
    eng2 = CDCEngine(spark, wal_path, tmp_table, config=cfg2)
    results = eng2.run()
    assert len(results) == 4 and not any(r.skipped for r in results)
    _assert_state_equals_oracle(eng2, _wal_pandas(spark, wal_path))


def test_crash_after_lineage_then_resume(spark, wal_path, tmp_table):
    cfg = EngineConfig(epoch_size=5_000, n_buckets=8, crash_points={"after_lineage"})
    eng = CDCEngine(spark, wal_path, tmp_table, config=cfg)
    with pytest.raises(InjectedCrash):
        eng.run()
    cfg2 = EngineConfig(epoch_size=5_000, n_buckets=8)
    eng2 = CDCEngine(spark, wal_path, tmp_table, config=cfg2)
    eng2.run()
    _assert_state_equals_oracle(eng2, _wal_pandas(spark, wal_path))
    # lineage rows for both epochs exist and tile the event count
    lin = eng2.read_lineage().toPandas()
    assert lin["row_count"].sum() == 10_000


def test_mid_stream_resume_equals_full_run(spark, wal_path, tmp_table):
    """Stop after 2 of 4 epochs; resume; state == one-shot run."""
    cfg = EngineConfig(epoch_size=2_500, n_buckets=8)
    eng = CDCEngine(spark, wal_path, tmp_table, config=cfg)
    plan = eng.plan_epochs()
    for e, lo, hi in plan[:2]:
        eng.run_epoch(e, lo, hi)
    assert eng.table.high_watermark() == 4_999
    eng2 = CDCEngine(spark, wal_path, tmp_table, config=cfg)
    results = eng2.run()
    assert len(results) == 2  # only the remaining epochs were planned
    _assert_state_equals_oracle(eng2, _wal_pandas(spark, wal_path))


def test_skewed_wal_salted_equals_oracle(spark, tmp_path, tmp_table):
    cfg = WalConfig(n_events=12_000, n_urls=1_000, hot_frac=0.35, n_hot_urls=1, ooo_frac=0.2)
    p = str(tmp_path / "wal_skew")
    write_wal(gen_wal(spark, cfg), p, n_files=8)
    eng = CDCEngine(
        spark, p, tmp_table,
        config=EngineConfig(
            epoch_size=6_000, n_buckets=8, lww_method="auto",
            skew_threshold=0.1, skew_min_events=1_000,
        ),
    )
    results = eng.run()
    assert any(
        e.get("lww_method") == "salted" for e in eng.table.committed_epochs().values()
    ), "auto skew detection should have picked the salted plan"
    _assert_state_equals_oracle(eng, _wal_pandas(spark, p))


def test_lww_method_is_validated_and_recorded(spark, tmp_path):
    """The ledger records the LWW plan that ran: a forced plan is written
    verbatim, and a method the engine has no plan for is rejected up
    front instead of silently running another one."""
    for bad in ("window", "salty"):
        with pytest.raises(ValueError, match="lww_method"):
            EngineConfig(lww_method=bad)
    p = str(tmp_path / "wal_m")
    write_wal(gen_wal(spark, WalConfig(n_events=2_000, n_urls=300)), p, n_files=2)
    for method in ("agg", "salted"):
        eng = CDCEngine(
            spark, p, str(tmp_path / f"t_{method}"),
            config=EngineConfig(epoch_size=1_000, n_buckets=4, lww_method=method),
        )
        eng.run()
        assert [e["lww_method"] for e in eng.table.read_ledger()] == [method, method]
        _assert_state_equals_oracle(eng, _wal_pandas(spark, p))


def test_deletes_remove_keys(spark, tmp_path, tmp_table):
    cfg = WalConfig(n_events=5_000, n_urls=300, insert_frac=0.4, update_frac=0.3)
    p = str(tmp_path / "wal_del")
    write_wal(gen_wal(spark, cfg), p, n_files=4)
    eng = CDCEngine(spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=8))
    eng.run()
    wal_pdf = _wal_pandas(spark, p)
    exp = expected_final_state(wal_pdf)
    got = _table_pandas(eng)
    assert set(got["url"]) == set(exp["url"])
    assert len(got) < 300  # some urls must have been deleted
