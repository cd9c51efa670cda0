"""Schema evolution replay (SURVEY.md §5 test 5): a change-schema record
adds `lang` mid-stream; old epochs lack the column, new epochs fill it;
final state must show null for rows last-written before the change."""

import pandas as pd

from ethereum_etl_spark.oracle import expected_final_state
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.schemas import (
    PAGES_SCHEMA_V1,
    SchemaChange,
    SchemaRegistry,
)
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal


def _registry(effective_seq: int) -> SchemaRegistry:
    reg = SchemaRegistry(base_schema=PAGES_SCHEMA_V1)
    reg.add_change(
        SchemaChange(
            schema_version=2,
            effective_seq=effective_seq,
            change={"add_column": {"name": "lang", "type": "string"}},
        )
    )
    return reg


def test_add_column_mid_stream(spark, tmp_path, tmp_table):
    n, eff = 8_000, 4_000
    cfg = WalConfig(n_events=n, n_urls=1_500, ooo_frac=0.1, lang_effective_seq=eff)
    p = str(tmp_path / "wal_evo")
    write_wal(gen_wal(spark, cfg), p, n_files=4)

    eng = CDCEngine(
        spark, p, tmp_table,
        registry=_registry(eff),
        config=EngineConfig(epoch_size=2_000, n_buckets=8),
    )
    eng.run()

    # ledger records the version step: epochs before eff at v1, after at v2
    entries = sorted(eng.table.committed_epochs().values(), key=lambda e: e["start_seq"])
    assert [e["schema_version"] for e in entries] == [1, 1, 2, 2]

    got = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert "lang" in got.columns
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)

    wal_pdf = spark.read.parquet(p).toPandas()
    exp = expected_final_state(wal_pdf, with_lang=True).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text", "lang"]], exp, check_dtype=False
    )
    # the evolution actually matters: both null and non-null langs exist
    assert got["lang"].isna().any() and got["lang"].notna().any()

    # compaction across schema versions: v1 delta files upgrade to v2
    # during the rewrite and the logical state is unchanged
    eng.table.compact_groups()
    after = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    after["html"] = after["html"].map(lambda b: bytes(b) if b is not None else None)
    pd.testing.assert_frame_equal(
        after[["url", "warc_ts", "seq", "html", "text", "lang"]], exp, check_dtype=False
    )
    assert {f.schema_version for f in eng.table.current_snapshot().files} == {2}


def test_rename_column_round_trip(spark, tmp_path, tmp_table):
    """v2 adds `lang`, v3 renames it to `language`; v1/v2 files upgrade on read."""
    n, eff_add, eff_rename = 6_000, 2_000, 4_000
    cfg = WalConfig(n_events=n, n_urls=1_000, lang_effective_seq=eff_add)
    p = str(tmp_path / "wal_ren")
    write_wal(gen_wal(spark, cfg), p, n_files=4)

    reg = _registry(eff_add)
    reg.add_change(
        SchemaChange(
            schema_version=3,
            effective_seq=eff_rename,
            change={"rename_column": {"from": "lang", "to": "language"}},
        )
    )
    eng = CDCEngine(
        spark, p, tmp_table, registry=reg,
        config=EngineConfig(epoch_size=2_000, n_buckets=8),
    )
    # the WAL still carries the column as `lang`; the engine's schema
    # tolerance maps missing `language` to null only if not renamed —
    # rename applies to target schema, and the raw `lang` column no
    # longer matches, so rename-aware ingestion aliases it.
    eng.run()
    got = eng.read_table()
    assert "language" in got.columns and "lang" not in got.columns
    pdf = got.toPandas()
    assert pdf["language"].notna().any()


def test_drop_column_round_trip(spark, tmp_path, tmp_table):
    """v2 adds `lang` mid-stream, v3 DROPS it later (the full Iceberg DDL
    set: ADD / RENAME / DROP). Epochs written under v2 carry the column;
    reads at v3 project it away; compaction rewrites v1+v2 files to v3
    without changing the logical state."""
    n, eff_add, eff_drop = 6_000, 2_000, 4_000
    cfg = WalConfig(n_events=n, n_urls=1_000, lang_effective_seq=eff_add)
    p = str(tmp_path / "wal_drop")
    write_wal(gen_wal(spark, cfg), p, n_files=4)

    reg = _registry(eff_add)
    reg.add_change(
        SchemaChange(
            schema_version=3,
            effective_seq=eff_drop,
            change={"drop_column": {"name": "lang"}},
        )
    )
    eng = CDCEngine(
        spark, p, tmp_table,
        registry=reg,
        config=EngineConfig(epoch_size=1_500, n_buckets=8),
    )
    eng.run()

    entries = sorted(eng.table.committed_epochs().values(), key=lambda e: e["start_seq"])
    assert [e["schema_version"] for e in entries] == [1, 2, 3, 3]

    got = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert "lang" not in got.columns
    got["html"] = got["html"].map(lambda b: bytes(b) if b is not None else None)
    exp = expected_final_state(spark.read.parquet(p).toPandas()).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["url", "warc_ts", "seq", "html", "text"]], exp, check_dtype=False
    )

    # compaction across all three versions lands every file on v3
    eng.table.compact_groups()
    after = eng.read_table().toPandas().sort_values("url").reset_index(drop=True)
    assert "lang" not in after.columns
    after["html"] = after["html"].map(lambda b: bytes(b) if b is not None else None)
    pd.testing.assert_frame_equal(
        after[["url", "warc_ts", "seq", "html", "text"]], exp, check_dtype=False
    )
    assert {f.schema_version for f in eng.table.current_snapshot().files} == {3}
