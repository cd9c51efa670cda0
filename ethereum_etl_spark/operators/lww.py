"""Last-writer-wins dedup — the engine's central aggregation.

Reference semantics being reproduced (SURVEY.md A6): ClickHouse
``ReplacingMergeTree(updated_time)`` keeps the max-version row per key
(src/repositories/clickhouse/event.py:76-78) and SQLite ``INSERT OR
REPLACE`` keeps the last insert per primary key
(src/repositories/sqlite/base.py:159-171). Our version order is
``(warc_ts, seq)`` — event time, ties broken by WAL offset for
determinism (the reference restores deterministic order the same way:
responses re-sorted by request id, src/clients/rpc_client.py:112).

Three physical strategies for one logical operator:

- ``lww_window``   — ``row_number() OVER (PARTITION BY key ORDER BY ver
                     DESC)``. Simple; shuffles FULL rows (html payload
                     included) and sorts per key. Fine for small rows.
- ``lww_agg``      — ``max(struct(ver..., op))`` per key, then a payload
                     re-join on ``(key, seq)``. The struct agg gets
                     map-side partial aggregation (a per-key running max
                     combines before the shuffle), so only tiny
                     (key, ver) tuples cross the wire — the html payload
                     is fetched back by a semi-join of winners against
                     the source, broadcast when winners are small. This
                     is the 100 TB path: payload bytes never shuffle.
- ``lww_salted``   — two-phase variant for hot keys: phase 1 aggregates
                     per ``(key, salt)`` where ``salt = xxhash64(seq) % k``
                     spreads one hot key over k reducers; phase 2
                     collapses the ≤k survivors per key. Equivalent by
                     construction (max is associative/commutative);
                     asserted in tests/test_lww.py.

All variants return one row per key with the WINNING event's columns
(including ``op`` — a winning delete must be visible to the merge stage
so it can drop the key; ranking happens BEFORE partitioning into
upserts vs deletes, per SURVEY.md §7 hard-parts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_KEYS = ("url",)
DEFAULT_VERSION = ("warc_ts", "seq")


def _version_struct(version_cols: Sequence[str]):
    return F.struct(*[F.col(c).alias(c) for c in version_cols])


def lww_window(
    df: DataFrame,
    key_cols: Sequence[str] = DEFAULT_KEYS,
    version_cols: Sequence[str] = DEFAULT_VERSION,
) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in version_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def lww_agg(
    df: DataFrame,
    key_cols: Sequence[str] = DEFAULT_KEYS,
    version_cols: Sequence[str] = DEFAULT_VERSION,
    broadcast_winners: bool = False,
) -> DataFrame:
    """Partial-agg winners, then payload semi-join. Payload never shuffles.

    ``broadcast_winners`` defaults to False: the winner set is one row
    per key, which at real key counts is a driver OOM if force-broadcast;
    AQE promotes the join to broadcast from runtime size stats when the
    winner side is genuinely small. Pass True only when the caller knows
    its key count is bounded."""
    winners = (
        df.groupBy(*key_cols)
        .agg(F.max(_version_struct(version_cols)).alias("__v"))
        .select(*key_cols, *[F.col(f"__v.{c}").alias(c) for c in version_cols])
    )
    if broadcast_winners:
        winners = F.broadcast(winners)
    return df.join(winners, on=[*key_cols, *version_cols], how="inner")


def lww_salted(
    df: DataFrame,
    key_cols: Sequence[str] = DEFAULT_KEYS,
    version_cols: Sequence[str] = DEFAULT_VERSION,
    n_salt: int = 16,
    broadcast_winners: bool = False,
) -> DataFrame:
    """Two-phase salted LWW for hot-key skew.

    A degenerate single-key epoch (every event the same url) turns the
    plain agg's reduce side into one task; AQE skew-join does not help a
    skewed *aggregation*. Salting by ``xxhash64(seq) % k`` makes phase 1
    k-way parallel per key; phase 2 reduces k rows per key. max() is
    associative + commutative, so two-phase == one-phase exactly.
    """
    vs = _version_struct(version_cols)
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(*version_cols), F.lit(n_salt)))
    phase1 = salted.groupBy(*key_cols, "__salt").agg(F.max(vs).alias("__v"))
    winners = (
        phase1.groupBy(*key_cols)
        .agg(F.max("__v").alias("__v"))
        .select(*key_cols, *[F.col(f"__v.{c}").alias(c) for c in version_cols])
    )
    if broadcast_winners:
        winners = F.broadcast(winners)
    return df.join(winners, on=[*key_cols, *version_cols], how="inner")


def lww_winner_seqs(
    df: DataFrame,
    key_cols: Sequence[str] = DEFAULT_KEYS,
    version_cols: Sequence[str] = DEFAULT_VERSION,
    method: str = "agg",
    n_salt: int = 16,
    fingerprint: bool = True,
) -> DataFrame:
    """Winning ``seq`` per key, WITHOUT the payload join-back.

    The MoR epoch write needs only the set of winning WAL offsets (the
    payload is fetched by a later ``seq`` equi-join), so the general
    ``lww_agg``'s join-back of winners against the event stream — a
    second full shuffle of the epoch — is pure waste there. This plan
    is ONE partial-aggregated shuffle:

        groupBy(key) → max(struct(version..., seq)) → project seq

    and the shuffled tuple is further shrunk by ``fingerprint``:
    grouping on a 128-bit key digest (two independently-seeded
    xxhash64s) instead of the key itself drops the url string (~60 B
    avg on web data) from every shuffle record — the winner decision
    needs key *identity*, not key *bytes*. Collision risk: two distinct
    urls sharing 128 bits within one epoch would merge their LWW
    lineages; at 10^10 keys that probability is ~1.5e-19 — the standard
    content-addressing posture (git/Iceberg treat digest equality the
    same way).

    Requires the last version column to be ``seq`` (or any column that
    is unique per event) so the struct max is a total order and the
    projected seq is exactly the join-back's winner.
    """
    vs = F.struct(*[F.col(c).alias(c) for c in version_cols])
    if fingerprint:
        keys = [
            F.xxhash64(*key_cols).alias("__k0"),
            F.xxhash64(F.lit(1), *key_cols).alias("__k1"),
        ]
    else:
        keys = [F.col(c) for c in key_cols]
    seq_col = version_cols[-1]
    base = df.select(*keys, vs.alias("__v"))
    if method == "salted":
        salted = base.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(f"__v.{seq_col}")), F.lit(n_salt))
        )
        names = ["__k0", "__k1"] if fingerprint else list(key_cols)
        phase1 = salted.groupBy(*names, "__salt").agg(F.max("__v").alias("__v"))
        winners = phase1.groupBy(*names).agg(F.max("__v").alias("__v"))
    else:
        names = ["__k0", "__k1"] if fingerprint else list(key_cols)
        winners = base.groupBy(*names).agg(F.max("__v").alias("__v"))
    return winners.select(F.col(f"__v.{seq_col}").alias(seq_col))

