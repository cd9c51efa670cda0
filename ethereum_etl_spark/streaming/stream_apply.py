"""Structured Streaming front-end for the CDC engine.

``readStream`` over the WAL parquet directory + ``foreachBatch`` that
advances the engine. Complements streaming/tailer.py (the poll loop):
here Spark's microbatch executor owns source discovery and scheduling,
while exactly-once stays with the ENGINE's ledger, not Spark's
checkpoint — the foreachBatch body derives the high-watermark from the
batch and runs the same seq-range epochs as historical replay, so a
batch redelivered after a crash (streaming foreachBatch is
at-least-once) hits the committed-epoch skip and becomes a no-op. This
is the standard idempotent-sink pattern the Structured Streaming guide
prescribes for exactly-once with foreachBatch.

Reference analog (SURVEY.md §2.9/S2): the WebSocket ``newHeads``
subscription (src/clis/realtime_ws.py:37-84) — a push source whose
every notification triggers the same per-range pipeline as backfill.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ethereum_etl_spark.plans.engine import CDCEngine, EpochResult
from ethereum_etl_spark.schemas import CHANGE_EVENT_SCHEMA


@dataclass
class StreamHandle:
    """Continuous-mode handle: the live StreamingQuery plus the epoch
    results applied so far (appended by the foreachBatch body as batches
    land). ``stop()`` stops the query; ``results`` stays readable."""

    query: object  # pyspark.sql.streaming.StreamingQuery
    results: list[EpochResult] = field(default_factory=list)

    def stop(self) -> None:
        self.query.stop()


def stream_apply(
    engine: CDCEngine,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> list[EpochResult] | StreamHandle:
    """Run the WAL through Structured Streaming into the engine.

    With ``available_now`` the query drains everything currently in the
    WAL and stops (the backfill-then-exit shape) and the epoch results
    are returned directly; otherwise the query keeps running and a
    :class:`StreamHandle` is returned so the caller can observe applied
    epochs (``handle.results``) and stop the query (``handle.stop()``).
    """
    spark = engine.spark
    results: list[EpochResult] = []

    reader = spark.readStream.schema(CHANGE_EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(engine.wal_path)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The batch tells us how far the WAL has advanced; the ENGINE
        # re-reads its own seq-pruned slices so epoch boundaries (and
        # therefore the exactly-once ledger) are identical to replay.
        row = batch_df.agg(F.max("seq").alias("m")).collect()[0]
        if row["m"] is None:
            return
        for epoch_id, lo, hi in engine.plan_epochs(up_to_seq=int(row["m"])):
            results.append(engine.run_epoch(epoch_id, lo, hi))

    writer = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return results
    return StreamHandle(query=writer.start(), results=results)
