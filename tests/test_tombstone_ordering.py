"""Cross-epoch out-of-order delete interplay (SURVEY.md §7 hard-parts:
"a delete with older warc_ts than a surviving insert must lose" and its
dual: a LATE insert with older warc_ts than an applied delete must NOT
resurrect the key — the reason deletes are tombstones, merge.py:12-20).
"""

import datetime as dt

from pyspark.sql import types as T

from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.schemas import CHANGE_EVENT_SCHEMA


def _wal(spark, rows, path):
    df = spark.createDataFrame(
        [
            (seq, op, url, dt.datetime(2024, 1, 1, 0, 0, ts), html, None)
            for seq, op, url, ts, html in rows
        ],
        schema=CHANGE_EVENT_SCHEMA,
    )
    df.repartitionByRange(2, "seq").sortWithinPartitions("seq").write.mode(
        "overwrite"
    ).parquet(path)


def _urls(engine):
    df = engine.read_table()
    return set() if df is None else {r["url"] for r in df.select("url").collect()}


def test_late_insert_cannot_resurrect_deleted_key(spark, tmp_path, tmp_table):
    p = str(tmp_path / "wal")
    _wal(
        spark,
        [
            # epoch 1 (seq 0-1): insert then delete at t=30
            (0, "insert", "u1", 10, b"<p>a</p>"),
            (1, "delete", "u1", 30, None),
            # epoch 2 (seq 2): LATE insert, event-time t=20 < delete's 30
            (2, "insert", "u1", 20, b"<p>b</p>"),
        ],
        p,
    )
    eng = CDCEngine(
        spark, p, str(tmp_path / "t1"), config=EngineConfig(epoch_size=2, n_buckets=2)
    )
    eng.run()
    assert _urls(eng) == set(), "late older insert resurrected a deleted key"


def test_late_delete_loses_to_newer_insert(spark, tmp_path, tmp_table):
    p = str(tmp_path / "wal")
    _wal(
        spark,
        [
            (0, "insert", "u2", 40, b"<p>live</p>"),
            # epoch 2: late delete with OLDER event time — must lose
            (1, "delete", "u2", 25, None),
        ],
        p,
    )
    eng = CDCEngine(
        spark, p, str(tmp_path / "t2"), config=EngineConfig(epoch_size=1, n_buckets=2)
    )
    eng.run()
    assert _urls(eng) == {"u2"}, "older delete removed a newer row"


def test_tombstone_survives_compaction_then_still_guards(spark, tmp_path, tmp_table):
    """delete in epoch 1 → compact → late older insert in epoch 2: the
    compacted base must still carry the tombstone's version."""
    p1 = str(tmp_path / "wal1")
    _wal(
        spark,
        [
            (0, "insert", "u3", 10, b"<p>x</p>"),
            (1, "delete", "u3", 30, None),
        ],
        p1,
    )
    table = str(tmp_path / "t3")
    eng = CDCEngine(
        spark, p1, table, config=EngineConfig(epoch_size=2, n_buckets=2)
    )
    eng.run()
    eng.table.compact_groups()
    assert _urls(eng) == set()
    # WAL grows with the late event
    _wal(
        spark,
        [
            (0, "insert", "u3", 10, b"<p>x</p>"),
            (1, "delete", "u3", 30, None),
            (2, "insert", "u3", 20, b"<p>late</p>"),
        ],
        p1,
    )
    eng2 = CDCEngine(
        spark, p1, table, config=EngineConfig(epoch_size=2, n_buckets=2)
    )
    eng2.run()
    assert _urls(eng2) == set()
