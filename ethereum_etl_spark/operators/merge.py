"""MERGE INTO semantics against a SnapshotTable.

Reference analog (SURVEY.md S6/S8/J6): the sink-side key match of
``INSERT OR REPLACE`` (src/repositories/sqlite/base.py:152-175) and the
ReplacingMergeTree version collapse (src/repositories/clickhouse/
event.py:58-80). Expressed relationally:

    MERGE INTO pages t USING batch s ON t.url = s.url
    WHEN MATCHED AND s.version > t.version THEN UPDATE SET *   -- incl. tombstone
    WHEN NOT MATCHED THEN INSERT *

**Deletes are tombstones, not physical removals.** A delete is an upsert
of a row with ``__deleted = true`` carrying its LWW version; the read path
filters tombstones out. This is required for correctness across epochs: if
a delete physically removed the row, a later epoch delivering an *older*
out-of-order event for the same url would see "not matched" and resurrect
the key. With the tombstone's version in the table, the old event loses
the version comparison — LWW by rule (SURVEY.md §2.9). Iceberg/Delta
solve the same problem the same way (delete files / tombstones retained
until compaction past the replay window).

The version guard (``s.version > t.version``) also makes replay and
redelivery idempotent: a late or duplicate event with an older
``(warc_ts, seq)`` can never overwrite newer table state.

Physical strategy: the source batch is already deduped (unique urls), so
the join is target-bucket-rows ⋈ source on url, a plain equi-join that
AQE turns into a broadcast join when the batch is small (we also hint it
below the configured row bound). Only buckets whose keys appear in the
source are read at all (copy-on-write file pruning in SnapshotTable).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_resolve(
    target: DataFrame | None,
    source: DataFrame,
    key_col: str,
    version_cols: Sequence[str],
    data_cols: Sequence[str],
    broadcast_source: bool = False,
) -> DataFrame:
    """Return post-merge rows (data_cols, tombstones included) for the
    affected key space.

    `target`: current rows (data_cols), unique per key, or None (empty).
    `source`: deduped batch (data_cols), unique per key; tombstones carry
              ``__deleted = true`` inside data_cols.
    """
    source = source.select(*[F.col(c).alias(f"__s_{c}") for c in data_cols])
    if broadcast_source:
        source = F.broadcast(source)
    if target is None:
        return source.select(*[F.col(f"__s_{c}").alias(c) for c in data_cols])

    target = target.select(*[F.col(c).alias(f"__t_{c}") for c in data_cols])
    joined = target.join(
        source, F.col(f"__t_{key_col}") == F.col(f"__s_{key_col}"), "full_outer"
    )

    s_ver = F.struct(*[F.col(f"__s_{c}") for c in version_cols])
    t_ver = F.struct(*[F.col(f"__t_{c}") for c in version_cols])
    s_present = F.col(f"__s_{key_col}").isNotNull()
    t_present = F.col(f"__t_{key_col}").isNotNull()
    source_wins = s_present & (~t_present | (s_ver > t_ver))

    picked = F.when(
        source_wins, F.struct(*[F.col(f"__s_{c}").alias(c) for c in data_cols])
    ).otherwise(F.struct(*[F.col(f"__t_{c}").alias(c) for c in data_cols]))
    return joined.select(picked.alias("__row")).select(
        *[F.col(f"__row.{c}").alias(c) for c in data_cols]
    )
