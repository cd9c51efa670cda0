"""Structured Streaming front-end: drains the WAL via readStream +
foreachBatch into the engine; state equals the replay oracle, and a
second stream run (fresh checkpoint, simulating redelivery) is a no-op
thanks to the engine ledger."""

import pandas as pd

from ethereum_etl_spark.oracle import expected_final_state
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal
from ethereum_etl_spark.streaming.stream_apply import stream_apply


def test_stream_apply_equals_oracle_and_redelivery_noop(spark, tmp_path, tmp_table):
    p = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=4_000, n_urls=600)), p, n_files=4)
    eng = CDCEngine(
        spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=4)
    )
    results = stream_apply(eng, str(tmp_path / "ckpt1"), max_files_per_trigger=2)
    assert sum(r.n_events for r in results) == 4_000
    assert len(results) >= 4 and not any(r.skipped for r in results)

    got = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)
    exp = expected_final_state(spark.read.parquet(p).toPandas()).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text"]], exp, check_dtype=False
    )

    # redelivery: fresh checkpoint re-streams every file; engine ledger
    # makes every epoch a committed-skip (exactly-once at the sink)
    eng2 = CDCEngine(
        spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=4)
    )
    results2 = stream_apply(eng2, str(tmp_path / "ckpt2"))
    # ledger high-watermark already covers the WAL: nothing is even
    # planned (run_epoch's committed-skip is covered in test_engine)
    assert results2 == []
    got2 = eng2.read_table().toPandas().sort_values("url").reset_index(drop=True)
    got2["html"] = got2["html"].map(lambda b: bytes(b) if b is not None else None)
    pd.testing.assert_frame_equal(got, got2)


def test_stream_apply_continuous_returns_live_handle(spark, tmp_path, tmp_table):
    """Continuous mode returns a StreamHandle exposing the running query
    and the epoch results applied so far; stop() ends the query."""
    import time

    from ethereum_etl_spark.streaming.stream_apply import StreamHandle

    p = str(tmp_path / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=2_000, n_urls=300)), p, n_files=2)
    eng = CDCEngine(
        spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=4)
    )
    handle = stream_apply(eng, str(tmp_path / "ckpt_cont"), available_now=False)
    assert isinstance(handle, StreamHandle)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and sum(r.n_events for r in handle.results) < 2_000:
            time.sleep(0.5)
        assert sum(r.n_events for r in handle.results) == 2_000
        assert handle.query.isActive
    finally:
        handle.stop()
    assert not handle.query.isActive
    assert eng.table.high_watermark() == 1_999


def test_stream_apply_sees_wal_files_appended_after_engine_cached_reader(
    spark, tmp_path, tmp_table
):
    """Regression: every epoch lists the WAL afresh, so a stream batch
    covering files that landed after an earlier ``run()`` reads them —
    a frozen listing would make the new epochs read 0 rows, still
    commit, and silently advance the high-watermark past unread events."""
    p = str(tmp_path / "wal")
    full = gen_wal(spark, WalConfig(n_events=4_000, n_urls=600))
    (
        full.filter("seq < 2500").repartitionByRange(2, "seq")
        .sortWithinPartitions("seq").write.mode("append").parquet(p)
    )
    eng = CDCEngine(
        spark, p, tmp_table, config=EngineConfig(epoch_size=1_000, n_buckets=4)
    )
    r1 = eng.run()  # sees only the files landed so far
    assert sum(r.n_events for r in r1) == 2_500

    (
        full.filter("seq >= 2500").repartitionByRange(2, "seq")
        .sortWithinPartitions("seq").write.mode("append").parquet(p)
    )
    r2 = stream_apply(eng, str(tmp_path / "ckpt"))
    assert sum(r.n_events for r in r2) == 1_500  # 0 here == the data-loss bug

    got = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)
    exp = expected_final_state(spark.read.parquet(p).toPandas()).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text"]], exp, check_dtype=False
    )
