"""Snapshot-to-snapshot change feed (incremental reads / CDF).

The reference's consumers poll whole tables and re-diff in the sink
(the SQLite repos re-upsert every batch — src/repositories/sqlite/
base.py:159-171, and the NATS sink re-publishes full rows per block
range — src/clis/historical.py:67-91). At web scale a downstream
(index builder, training-data refresher) must instead ask "what
changed between snapshot A and snapshot B" and receive rows
proportional to the CHANGE, not to the table. This module provides
that as two layers:

- ``state_diff`` — the logical operator: given two keyed states,
  emit per-key net changes (insert / update_postimage / delete).
  Pure DataFrame composition; the full-outer join shuffles both
  sides on the key, which is the honest lower bound when the inputs
  are arbitrary states.
- ``CDCEngine.changes`` (plans/engine.py) — the incremental physical
  path: candidate keys come from the MANIFEST DIFF (files added
  between the two snapshots), so the work is ∝ rows written in the
  window, not ∝ table size. The A-side is probed only for candidate
  keys. This is the Iceberg/Delta "changelog between versions" shape.

Change semantics are NET (state-compare), not event-replay: a key
that was upserted five times in the window emits ONE update with the
winning post-image; a key that was inserted and then deleted inside
the window emits NOTHING (it is absent from both states). Late data
that LOSES the LWW race to a pre-existing row emits nothing — state
B equals state A for that key.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from ethereum_etl_spark.operators.snapshot_table import SnapshotTable
    from ethereum_etl_spark.schemas import SchemaRegistry

CHANGE_TYPE_COL = "change_type"


def table_changes(
    table: "SnapshotTable",
    registry: "SchemaRegistry",
    from_snapshot: str | None,
    to_snapshot: str | None = None,
    preimage: bool = False,
) -> DataFrame | None:
    """Incremental change feed over an LWW SnapshotTable (version order
    (warc_ts, seq)). Candidate keys come from the MANIFEST DIFF — only
    files added after ``from_snapshot`` are scanned — so candidate work
    is ∝ rows written in the window, not ∝ table size. Per candidate
    key the winner among new rows races the key's winner at A (live row
    OR tombstone: a late upsert must lose to a higher-versioned
    pre-existing tombstone); the A-side probe is one payload-LIGHT
    (3-column pruned) scan of snapshot A joined on the key. Post-image
    payloads come from a ``seq`` equi-join against the window's files
    only — payload bytes never shuffle and never leave the window. A
    compaction inside the window only ADDS already-filtered candidates
    (rewritten rows compare version-equal to their A winner) — correct,
    just less pruned.

    With ``preimage=True`` the feed is the Delta-CDF shape consumed by
    incremental view maintenance (operators/ivm.py): each update also
    emits an ``update_preimage`` row, and deletes carry the DELETED
    payload. Pre-image payloads are fetched from snapshot A pruned to
    the changed keys' hash buckets (plus their delta groups) — the
    read_key file-skipping applied in bulk, so pre-image cost is ∝
    buckets touched by the change set, not ∝ table size.

    Retention coupling: a compaction inside the window that EXPIRED
    tombstones (``tombstone_retention_seqs``) can remove the only
    evidence of a delete from the window's files. Compactions record
    their expiry cutoff in the ledger; when any window-crossing cutoff
    exceeds snapshot A's high watermark, this function falls back to a
    full state diff (``_full_state_changes``) — correct, cost ∝ table
    size. Operate with retention longer than any consumer's polling lag
    and the fallback never triggers.
    """
    from ethereum_etl_spark.operators.snapshot_table import TOMBSTONE_COL
    from ethereum_etl_spark.schemas import schema_for_version

    snap_b = (
        table.read_snapshot_meta(to_snapshot)
        if to_snapshot is not None
        else table.current_snapshot()
    )
    if snap_b is None:
        return None
    snap_a = (
        table.read_snapshot_meta(from_snapshot)
        if from_snapshot is not None
        else None
    )
    key = table.key_col
    schema = schema_for_version(registry, snap_b.schema_version)
    payload_cols = [
        f for f in schema.fieldNames() if f not in (key, "warc_ts", "seq")
    ]
    payload_types = {f.name: f.dataType for f in schema.fields}

    # -- retention / change-feed coupling (the Delta CDF contract) ------
    # The manifest-diff path sources candidates from files added in the
    # window. If a compaction INSIDE the window expired a tombstone whose
    # key was live at A (cutoff > A's high watermark), that key is absent
    # from the new files and the incremental path would silently drop the
    # delete. Compactions record their cutoff in the ledger; when any
    # window-crossing cutoff exceeds A's watermark, fall back to a FULL
    # state diff of the two snapshots — correct at cost ∝ table size.
    # With retention configured longer than any consumer's polling lag
    # (the documented operating rule), cutoff ≤ A_hw always holds and
    # the fallback never triggers.
    if snap_a is not None:
        ledger = table.read_ledger()
        pos = {
            e["snapshot_id"]: i
            for i, e in enumerate(ledger)
            if "snapshot_id" in e
        }
        a_pos = pos.get(snap_a.snapshot_id, -1)
        b_pos = pos.get(snap_b.snapshot_id, len(ledger) - 1)
        a_hw = max(
            (e.get("end_seq", -1) for e in ledger[: a_pos + 1]), default=-1
        )
        expiry_crossed = any(
            e.get("compaction") and e.get("tombstone_cutoff", -1) > a_hw
            for e in ledger[a_pos + 1 : b_pos + 1]
        )
        if expiry_crossed:
            return _full_state_changes(
                table, snap_a, snap_b, payload_cols, preimage
            )

    a_paths = {f.path for f in snap_a.files} if snap_a is not None else set()
    new_files = [f for f in snap_b.files if f.path not in a_paths]
    out_cols = [key, CHANGE_TYPE_COL, "warc_ts", "seq", *payload_cols]
    if not new_files:
        return (
            table.spark.createDataFrame(
                [], table._physical_schema(snap_b.schema_version)
            )
            .withColumn(CHANGE_TYPE_COL, F.lit(""))
            .select(*out_cols)
            .limit(0)
        )

    new_df = table._read_files(new_files, snap_b.schema_version)
    light = new_df.select(
        key,
        "warc_ts",
        "seq",
        F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias("__del"),
    )
    # winner among the window's rows per key: map-side partial agg over
    # ~25-byte tuples (seq is unique, so the struct max is a total
    # order; __del rides along on the winning row)
    cand = (
        light.groupBy(key)
        .agg(F.max(F.struct("warc_ts", "seq", "__del")).alias("__v"))
        .select(
            key,
            F.col("__v.warc_ts").alias("warc_ts"),
            F.col("__v.seq").alias("seq"),
            F.col("__v.__del").alias("__del"),
        )
    )
    if snap_a is not None:
        a_state = table.read(snapshot_id=from_snapshot)
        a_all = a_state.select(
            key,
            F.col("warc_ts").alias("__a_warc_ts"),
            F.col("seq").alias("__a_seq"),
            F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias("__a_del"),
        )
        j = cand.join(a_all, on=key, how="left")
    else:
        j = (
            cand.withColumn("__a_warc_ts", F.lit(None).cast("timestamp"))
            .withColumn("__a_seq", F.lit(None).cast("long"))
            .withColumn("__a_del", F.lit(False))
        )
    in_a = F.col("__a_seq").isNotNull() & ~F.col("__a_del")
    cand_version = F.struct(F.col("warc_ts").alias("ts"), F.col("seq").alias("s"))
    a_version = F.struct(
        F.col("__a_warc_ts").alias("ts"), F.col("__a_seq").alias("s")
    )
    # a candidate changes state B only if it BEATS the key's A winner;
    # version-equal candidates are compaction rewrites (no change),
    # version-lower candidates are late data that lost the LWW race
    changed = j.filter(F.col("__a_seq").isNull() | (cand_version > a_version))
    upserts = (
        changed.filter(~F.col("__del"))
        .withColumn(
            CHANGE_TYPE_COL,
            F.when(in_a, F.lit("update_postimage")).otherwise(F.lit("insert")),
        )
        .select(key, CHANGE_TYPE_COL, "warc_ts", "seq")
        .join(new_df.select("seq", *payload_cols), on="seq", how="inner")
        .select(*out_cols)
    )
    if not preimage:
        deletes = changed.filter(F.col("__del") & in_a).select(
            key,
            F.lit("delete").alias(CHANGE_TYPE_COL),
            "warc_ts",
            "seq",
            *[F.lit(None).cast(payload_types[c]).alias(c) for c in payload_cols],
        )
        return upserts.unionByName(deletes)

    from ethereum_etl_spark.operators.snapshot_table import (
        bucket_expr,
        group_of_bucket,
    )

    # keys that HAD a live A row and changed: updates need a preimage
    # row, deletes need the deleted payload. Their A winner rows are
    # fetched from snapshot A pruned to the keys' hash buckets — one
    # small driver collect of ≤ n_buckets ints, then a seq equi-join.
    pre_meta = changed.filter(in_a).select(
        key,
        F.col("__del").alias("__was_delete"),
        F.col("__a_warc_ts").alias("warc_ts"),
        F.col("__a_seq").alias("seq"),
        bucket_expr(key, table.n_buckets).alias("__b"),
    )
    buckets = {r["__b"] for r in pre_meta.select("__b").distinct().collect()}
    if snap_a is not None and buckets:
        groups = {group_of_bucket(b, table.n_delta_groups) for b in buckets}
        a_files = [
            f
            for f in snap_a.files
            if (f.kind == "base" and f.bucket in buckets)
            or (f.kind == "delta" and f.group in groups)
        ]
        a_payload = table._read_files(a_files, snap_b.schema_version).select(
            "seq", *payload_cols
        )
        pre_rows = (
            pre_meta.join(a_payload, on="seq", how="inner")
            .select(
                key,
                F.when(F.col("__was_delete"), F.lit("delete"))
                .otherwise(F.lit("update_preimage"))
                .alias(CHANGE_TYPE_COL),
                "warc_ts",
                "seq",
                *payload_cols,
            )
        )
        return upserts.unionByName(pre_rows)
    return upserts


def _full_state_changes(
    table: "SnapshotTable",
    snap_a,
    snap_b,
    payload_cols: list[str],
    preimage: bool,
) -> DataFrame:
    """Correctness fallback for ``table_changes`` when a window-crossing
    compaction expired tombstones the incremental path relies on: a full
    outer join of the two collapsed snapshot states (tombstones
    included), cost ∝ |A| + |B|. Same output shape and semantics as the
    incremental path, with one honest exception: a delete whose
    tombstone was EXPIRED inside the window has no tombstone version
    anywhere, so its row carries the A-side (deleted row's) version —
    which is also what the preimage shape emits for every delete.
    """
    from ethereum_etl_spark.operators.snapshot_table import TOMBSTONE_COL

    key = table.key_col
    sel = [
        key,
        "warc_ts",
        "seq",
        *payload_cols,
        F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias("__del"),
    ]
    a_df = table.read(snapshot_id=snap_a.snapshot_id).select(*sel)
    b_df = table.read(snapshot_id=snap_b.snapshot_id).select(*sel)
    a_side = a_df.select(
        key,
        F.col("warc_ts").alias("__a_warc_ts"),
        F.col("seq").alias("__a_seq"),
        F.col("__del").alias("__a_del"),
        *[F.col(c).alias(f"__a_{c}") for c in payload_cols],
    )
    j = b_df.join(a_side, on=key, how="full_outer")
    a_live = F.col("__a_seq").isNotNull() & ~F.col("__a_del")
    b_live = F.col("seq").isNotNull() & ~F.coalesce(F.col("__del"), F.lit(False))
    same_ver = (F.col("__a_warc_ts") == F.col("warc_ts")) & (
        F.col("__a_seq") == F.col("seq")
    )
    out_cols = [key, CHANGE_TYPE_COL, "warc_ts", "seq", *payload_cols]
    upserts = j.filter(
        b_live & (~a_live | ~F.coalesce(same_ver, F.lit(False)))
    ).select(
        key,
        F.when(a_live, F.lit("update_postimage"))
        .otherwise(F.lit("insert"))
        .alias(CHANGE_TYPE_COL),
        "warc_ts",
        "seq",
        *payload_cols,
    )
    if not preimage:
        deletes = j.filter(a_live & ~b_live).select(
            key,
            F.lit("delete").alias(CHANGE_TYPE_COL),
            # tombstone version when it survived; the deleted row's
            # version when the tombstone itself was expired
            F.coalesce(F.col("warc_ts"), F.col("__a_warc_ts")).alias("warc_ts"),
            F.coalesce(F.col("seq"), F.col("__a_seq")).alias("seq"),
            *[F.lit(None).cast(dict(a_df.dtypes)[c]).alias(c) for c in payload_cols],
        )
        return upserts.unionByName(deletes).select(*out_cols)
    pre = j.filter(
        a_live & (~b_live | (b_live & ~F.coalesce(same_ver, F.lit(False))))
    ).select(
        key,
        F.when(~b_live, F.lit("delete"))
        .otherwise(F.lit("update_preimage"))
        .alias(CHANGE_TYPE_COL),
        F.col("__a_warc_ts").alias("warc_ts"),
        F.col("__a_seq").alias("seq"),
        *[F.col(f"__a_{c}").alias(c) for c in payload_cols],
    )
    return upserts.unionByName(pre).select(*out_cols)


def state_diff(
    a: DataFrame | None,
    b: DataFrame,
    key_cols: Sequence[str],
    version_cols: Sequence[str],
    payload_cols: Sequence[str],
    preimage: bool = False,
) -> DataFrame:
    """Net changes turning keyed state ``a`` into keyed state ``b``.

    Inputs are one-row-per-key (already LWW-collapsed, tombstones
    dropped). Default output: key_cols + change_type + payload_cols,
    where the payload is the POST-image from ``b`` (null on deletes):

    - key only in ``b``                      → insert
    - key in both, version columns differ    → update_postimage
    - key in both, version columns equal     → (no row — unchanged)
    - key only in ``a``                      → delete

    With ``preimage=True`` the feed is the Delta-Lake CDF shape —
    ``a`` must then also carry the payload columns: each update emits a
    PAIR (update_preimage with A's payload, update_postimage with B's),
    and deletes carry the DELETED row's payload instead of nulls. This
    is exactly what downstream incremental view maintenance needs: a
    sum is updatable from (+post, −pre) without ever rescanning state
    (operators/ivm.py builds on it).

    ``a`` may be None (empty initial state): every ``b`` row is an
    insert — no join is planned at all in that case.

    ``version_cols`` must be non-null (SQL struct equality with a null
    field is null, which would classify a genuinely-changed row as
    unchanged) — true for LWW version columns and aggregate values.
    """
    keys = list(key_cols)
    if a is None:
        return b.select(
            *keys,
            F.lit("insert").alias(CHANGE_TYPE_COL),
            *payload_cols,
        )
    a_payload = list(payload_cols) if preimage else []
    a_side = a.select(
        *keys,
        *[F.col(c).alias(f"__a_{c}") for c in version_cols],
        *[F.col(c).alias(f"__pre_{c}") for c in a_payload],
    )
    b_side = b.select(
        *keys, *[F.col(c).alias(f"__b_{c}") for c in version_cols], *payload_cols
    )
    joined = b_side.join(a_side, on=keys, how="full_outer")
    in_a = F.col(f"__a_{version_cols[0]}").isNotNull()
    in_b = F.col(f"__b_{version_cols[0]}").isNotNull()
    # identical field aliases on both sides: Spark struct comparison
    # requires matching struct types, field names included
    same_version = F.struct(
        *[F.col(f"__a_{c}").alias(c) for c in version_cols]
    ) == F.struct(*[F.col(f"__b_{c}").alias(c) for c in version_cols])
    classified = joined.withColumn(
        CHANGE_TYPE_COL,
        F.when(~in_a & in_b, F.lit("insert"))
        .when(in_a & in_b & ~same_version, F.lit("update_postimage"))
        .when(in_a & ~in_b, F.lit("delete")),
    ).filter(F.col(CHANGE_TYPE_COL).isNotNull())
    if not preimage:
        return classified.select(*keys, CHANGE_TYPE_COL, *payload_cols)
    post = classified.filter(
        F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
    ).select(*keys, CHANGE_TYPE_COL, *payload_cols)
    pre_updates = classified.filter(
        F.col(CHANGE_TYPE_COL) == "update_postimage"
    ).select(
        *keys,
        F.lit("update_preimage").alias(CHANGE_TYPE_COL),
        *[F.col(f"__pre_{c}").alias(c) for c in payload_cols],
    )
    deletes = classified.filter(F.col(CHANGE_TYPE_COL) == "delete").select(
        *keys,
        CHANGE_TYPE_COL,
        *[F.col(f"__pre_{c}").alias(c) for c in payload_cols],
    )
    return post.unionByName(pre_updates).unionByName(deletes)
