"""ethereum_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the semantic core of the reference
(`leson207/ethereum-etl`, studied at /root/reference): a stream of keyed
change records, deduplicated by key with last-writer-wins, applied
idempotently to a lake table whose final state must equal the replay of
all changes (reference semantics: SQLite ``INSERT OR REPLACE`` on primary
keys — src/repositories/sqlite/base.py:152-175 — and ClickHouse
``ReplacingMergeTree(updated_time)`` — src/repositories/clickhouse/
event.py:58-80).

Architecture (Spark-first, NOT a port):

- ``sources.walgen``   — deterministic synthetic WAL/binlog generator
- ``functions.extract``— vectorized Arrow/pandas html→text extractor with a
                         byte-identical pure-Python reference twin
- ``operators.lww``    — key-partitioned last-writer-wins dedup (window
                         ranking, agg-based, and salted two-phase variants)
- ``operators.snapshot_table`` — Iceberg-style bucketed parquet table
                         (merge-on-read deltas + compaction) with JSON
                         manifests + atomic ledger
- ``operators.merge``  — MERGE INTO semantics (upsert/delete) against a
                         SnapshotTable, version-aware
- ``plans.engine``     — the epoch loop: plan → read → dedup → extract →
                         delta write → lineage, with exactly-once resume
                         (``plans.multi`` runs the same loop over a group
                         commit of several tables)
- ``streaming.tailer`` — continuous tail of an append-only WAL directory
- ``functions.textstats / dedupe / similarity / multimodal`` — the
                         training-data-pipeline operator family
"""

__version__ = "0.1.0"
