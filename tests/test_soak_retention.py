"""Retention soak as a regression-guarded test (VERDICT r4 #8).

`scripts/soak_retention.py` evidences the 10^10 posture at 12M events;
this is the same protocol at pytest scale with the BOUNDS ASSERTED so a
regression in either claim fails CI instead of only drifting a script's
JSON line:

- per-epoch apply cost stays FLAT while the table grows (MoR deltas +
  bounded compaction: cost ∝ batch, not table) — asserted as a slope
  bound on the epoch walls;
- with a retention window, tombstone residue is BOUNDED by the window
  (long-dead keys' tombstones drop at compaction) — asserted exactly
  against a DuckDB replay census;
- the final live state is oracle-exact under retention.

Marked slow; deselect with -m "not slow".
"""

import statistics
import time

import duckdb
import pytest

from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal

N_EVENTS = 1_200_000
N_URLS = 150_000
EPOCH = 100_000
RETENTION = 2 * EPOCH


@pytest.mark.slow
def test_soak_flat_epoch_cost_and_bounded_tombstones(spark, tmp_path):
    wal = str(tmp_path / "wal")
    table = str(tmp_path / "table")
    write_wal(
        gen_wal(spark, WalConfig(n_events=N_EVENTS, n_urls=N_URLS, hot_frac=0.05)),
        wal,
        n_files=24,
    )
    eng = CDCEngine(
        spark, wal, table,
        config=EngineConfig(
            epoch_size=EPOCH, n_buckets=32,
            tombstone_retention_seqs=RETENTION,
        ),
    )
    per_epoch: list[float] = []
    for epoch_id, lo, hi in eng.plan_epochs():
        t0 = time.time()
        eng.run_epoch(epoch_id, lo, hi)
        per_epoch.append(time.time() - t0)
    assert len(per_epoch) == N_EVENTS // EPOCH
    # flat-cost bound: the table grows 12x over the run, so a cost term
    # ∝ table size would push late epochs to several-x the early ones.
    # Medians over 4-epoch windows absorb host stalls; 1.6x is generous
    # for noise yet far below any O(table) growth signature.
    early = statistics.median(per_epoch[2:6])
    late = statistics.median(per_epoch[-4:])
    assert late <= 1.6 * early, (
        f"per-epoch cost grows with table size: early median {early:.2f}s, "
        f"late median {late:.2f}s (walls: {[round(t, 2) for t in per_epoch]})"
    )

    # one final compaction so the tombstone census reads a single layer
    eng.table.compact_groups(tombstone_retention_seqs=RETENTION)
    live = eng.read_table().count()
    with_tomb = eng.read_table(include_tombstones=True).count()
    tombstones = with_tomb - live

    con = duckdb.connect()
    exp_live, exp_deleted, exp_expired = con.sql(
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
    assert live == exp_live  # oracle-exact final state under retention
    assert exp_expired > 0, "fixture must exercise out-of-window deletes"
    # residue bound: only tombstones whose winning seq is inside the
    # replay window may survive the final compaction
    assert tombstones <= exp_deleted - exp_expired, (
        f"tombstones {tombstones} exceed in-window deletes "
        f"{exp_deleted - exp_expired}"
    )
