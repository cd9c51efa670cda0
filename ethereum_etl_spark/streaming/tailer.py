"""Continuous WAL tail — the realtime ingest mode.

Reference analog (SURVEY.md §3.2): ``python -m src.clis.realtime_ws`` —
a WebSocket ``newHeads`` subscription that turns every pushed block into
a one-block DAG (src/clis/realtime_ws.py:37-84). There is no external
push source in the sandbox, so the tail is a poll loop over the
append-only WAL directory: plan from the engine's WAL file index (a
directory listing plus the footers of files not seen before — no Spark
job), run the pending epochs through the exact same engine code path as
historical replay (deliberately — one code path means replay and tail
provably agree), sleep, repeat. Backpressure = the epoch_size knob (the
``maxOffsetsPerTrigger`` analog; reference: ``pending_queue_size`` gates
at src/clis/historical.py:68-71).

Structured Streaming note: semantics here ARE Spark's micro-batch model
(epoch = trigger, ledger = checkpoint/commit log, skip-committed =
idempotent foreachBatch). We implement the loop directly instead of via
``readStream`` because the exactly-once sink (SnapshotTable MERGE) needs
the epoch-id-keyed ledger commit, which is exactly what foreachBatch
would delegate back to us anyway.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from ethereum_etl_spark.plans.engine import CDCEngine, EpochResult


def tail(
    engine: CDCEngine,
    poll_interval_s: float = 1.0,
    max_polls: int | None = None,
    on_epoch: Callable[[EpochResult], None] | None = None,
    stop_when_caught_up: bool = False,
) -> list[EpochResult]:
    """Poll the WAL dir; apply new epochs as they appear."""
    all_results: list[EpochResult] = []
    polls = 0
    while True:
        plan = engine.plan_epochs()
        for epoch_id, lo, hi in plan:
            r = engine.run_epoch(epoch_id, lo, hi)
            all_results.append(r)
            if on_epoch:
                on_epoch(r)
        if plan and stop_when_caught_up:
            break
        polls += 1
        if max_polls is not None and polls >= max_polls:
            break
        if not plan:
            time.sleep(poll_interval_s)
    return all_results
