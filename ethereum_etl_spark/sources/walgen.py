"""Deterministic synthetic WAL/binlog generator.

The reference's source is a block-range fetch loop (src/clis/historical.py:
67-91) plus a realtime WebSocket tail (src/clis/realtime_ws.py:37-84); in
the sandbox there is no external service, so the WAL is synthesized — but
*deterministically*: every column is a pure JVM-side expression of `seq`
(via ``xxhash64``), so the same (seed, knobs) produce byte-identical events
at any parallelism, partitioning, or scale. This is what makes replay /
final-state-equivalence tests meaningful, and it mirrors the reference's
retry-until-valid posture (src/tasks/fetch/raw_block.py:15-18): a source
read is repeatable and idempotent.

No Python runs per row — ``spark.range(n)`` + column expressions only, so
generation itself scales linearly with cores (measured in bench.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Base event-time epoch (2024-01-01T00:00:00Z), seconds.
BASE_TS = 1704067200

HOT_PREFIX = "https://hot.example.com/page/"
COLD_PREFIX = "https://site-"


@dataclass(frozen=True)
class WalConfig:
    """All knobs; every field participates in determinism."""

    n_events: int = 10_000
    n_urls: int = 2_000
    seed: int = 42
    insert_frac: float = 0.60
    update_frac: float = 0.30  # delete_frac = 1 - insert - update
    hot_frac: float = 0.0  # fraction of events on the hot prefix
    n_hot_urls: int = 1  # # of distinct urls behind the hot prefix
    ooo_frac: float = 0.10  # out-of-order event-time fraction
    html_repeat_max: int = 8  # page body size variability
    lang_effective_seq: int | None = None  # seq where `lang` starts existing


def _rnd(seed: int, salt: str) -> Column:
    """Uniform [0,1) pseudo-random as a pure function of (seq, seed, salt)."""
    return (
        F.pmod(F.xxhash64(F.col("seq"), F.lit(seed), F.lit(salt)), F.lit(1_000_000))
        / 1_000_000.0
    )


def _rint(seed: int, salt: str, n: int) -> Column:
    """Uniform integer [0, n) as a pure function of (seq, seed, salt)."""
    return F.pmod(F.xxhash64(F.col("seq"), F.lit(seed), F.lit(salt)), F.lit(n))


def gen_wal(spark: SparkSession, cfg: WalConfig) -> DataFrame:
    """Produce the change_events DataFrame (FIXTURES.md F1)."""
    s = cfg.seed
    df = spark.range(cfg.n_events).withColumnRenamed("id", "seq")

    # --- key assignment (with optional hot-prefix skew) ------------------
    is_hot = _rnd(s, "hot") < F.lit(float(cfg.hot_frac))
    hot_id = _rint(s, "hoturl", max(cfg.n_hot_urls, 1))
    cold_id = _rint(s, "coldurl", max(cfg.n_urls, 1))
    url = F.when(
        is_hot, F.concat(F.lit(HOT_PREFIX), hot_id.cast("string"))
    ).otherwise(
        F.concat(
            F.lit(COLD_PREFIX),
            F.pmod(cold_id, F.lit(500)).cast("string"),
            F.lit(".example.com/page/"),
            cold_id.cast("string"),
        )
    )
    df = df.withColumn("url", url)

    # --- op mix ----------------------------------------------------------
    r_op = _rnd(s, "op")
    df = df.withColumn(
        "op",
        F.when(r_op < cfg.insert_frac, F.lit("insert"))
        .when(r_op < cfg.insert_frac + cfg.update_frac, F.lit("update"))
        .otherwise(F.lit("delete")),
    )

    # --- event time: mostly seq-ordered, a fraction arrives late ---------
    late = _rnd(s, "ooo") < F.lit(float(cfg.ooo_frac))
    jitter = _rint(s, "jitter", 10_000)
    ts_secs = F.when(
        late, F.lit(BASE_TS) + F.col("seq") - jitter
    ).otherwise(F.lit(BASE_TS) + F.col("seq"))
    df = df.withColumn("warc_ts", F.timestamp_seconds(ts_secs))

    # --- html payload: deterministic page bytes (null for deletes) -------
    nrep = (_rint(s, "rep", max(cfg.html_repeat_max, 1)) + 1).cast("int")
    body_chunk = F.concat(
        F.lit("<p>Lorem ipsum &amp; dolor sit amet, consectetur "),
        F.lit("adipiscing elit — sed do eiusmod tempor #"),
        _rint(s, "chunk", 1_000_000).cast("string"),
        F.lit(".</p>\n"),
    )
    page = F.concat(
        F.lit("<html><head><title>Snapshot of "),
        F.col("url"),
        F.lit("</title>\n<style>body { color: #333; }</style>"),
        F.lit("<script>var x = 1 &lt; 2;</script></head>\n<body>\n<h1>Page "),
        F.col("url"),
        F.lit("</h1>\n<!-- rev "),
        F.col("seq").cast("string"),
        F.lit(" -->\n"),
        F.repeat(body_chunk, nrep),
        F.lit('<div class="footer">&copy; 2024 &nbsp; rev='),
        F.col("seq").cast("string"),
        F.lit(" &lt;generated&gt;</div>\n</body></html>"),
    )
    df = df.withColumn(
        "html",
        F.when(F.col("op") == "delete", F.lit(None).cast("binary")).otherwise(
            F.encode(page, "UTF-8")
        ),
    )

    # --- lang: only exists after the schema-change record ----------------
    langs = F.array(*[F.lit(x) for x in ["en", "de", "fr", "es", "vi"]])
    if cfg.lang_effective_seq is not None:
        lang = F.when(
            (F.col("seq") >= cfg.lang_effective_seq) & (F.col("op") != "delete"),
            F.element_at(langs, (_rint(s, "lang", 5) + 1).cast("int")),
        ).otherwise(F.lit(None).cast("string"))
    else:
        lang = F.lit(None).cast("string")
    df = df.withColumn("lang", lang)

    return df.select("seq", "op", "url", "warc_ts", "html", "lang")


def write_wal(df: DataFrame, path: str, n_files: int = 32) -> None:
    """Persist the WAL as seq-range-partitioned parquet.

    ``repartitionByRange(seq) + sortWithinPartitions(seq)`` gives each file
    a tight seq min/max in its footer. The engine's WAL file index
    (``CDCEngine._wal_files``) reads those footers, so an epoch slice
    (`seq BETWEEN lo AND hi`) opens only the files its range overlaps —
    the 100 TB path reads only the epoch's files, not the whole log.
    """
    (
        df.repartitionByRange(n_files, "seq")
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .parquet(path)
    )
