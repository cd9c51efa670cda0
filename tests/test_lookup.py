"""Point lookup (read_key): file-skipping + correctness vs full read.

The lookup must return exactly the key's row from the full MoR read
(LWW winner, tombstones respected) while planning only the key's hash
bucket's base files and its compaction group's delta files. The bucket
is hashed on the driver (``bucket_of``, pinned bit-identical to the
writers' ``bucket_expr``) and the whole lookup is one Spark job.
"""

import pytest
from pyspark.sql import functions as F

from ethereum_etl_spark.operators.snapshot_table import bucket_expr, bucket_of
from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig
from ethereum_etl_spark.sources.walgen import WalConfig, gen_wal, write_wal


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lookup")
    wal = str(root / "wal")
    write_wal(gen_wal(spark, WalConfig(n_events=6_000, n_urls=900, ooo_frac=0.1)), wal, n_files=6)
    eng = CDCEngine(
        spark, wal, str(root / "pages"),
        config=EngineConfig(epoch_size=1_500, n_buckets=8, n_delta_groups=4),
    )
    eng.run()
    return eng


def _version_cases(spark, engine) -> dict[str, set[str]]:
    """Fixture keys whose LWW winner a naive lookup would get wrong, by
    case, computed from the WAL events in version order (warc_ts, seq)."""
    events = spark.read.parquet(engine.wal_path).select("url", "op", "warc_ts", "seq")
    by_url: dict[str, list] = {}
    for r in events.collect():
        by_url.setdefault(r["url"], []).append(r)
    cases: dict[str, set[str]] = {"late": set(), "tombstone": set(), "reinserted": set()}
    for url, evs in by_url.items():
        evs.sort(key=lambda r: (r["warc_ts"], r["seq"]))
        winner = evs[-1]
        if winner["seq"] != max(r["seq"] for r in evs):
            cases["late"].add(url)  # a lower-seq event wins on warc_ts
        if winner["op"] == "delete":
            cases["tombstone"].add(url)
        elif any(r["op"] == "delete" for r in evs[:-1]):
            cases["reinserted"].add(url)
    return cases


def test_lookup_matches_full_read(spark, engine):
    full = {r["url"]: r for r in engine.read_table().collect()}

    def check(url):
        df, scanned, total = engine.table.read_key(url)
        rows = df.collect()
        assert 0 < scanned < total, "lookup must prune the manifest file list"
        if url not in full:
            assert rows == [], url
            return
        assert len(rows) == 1, url
        got, exp = rows[0], full[url]
        assert (got["seq"], got["warc_ts"], got["text"]) == (
            exp["seq"], exp["warc_ts"], exp["text"]
        ), url

    # live keys: lookup returns the exact winner row with fewer files
    for url in list(full)[:5]:
        check(url)
    # the top-1 must follow version order, not seq order, and respect
    # tombstones: every late-data and tombstoned key, and (to bound the
    # test's time) 60 of the ~330 re-inserted ones
    cases = _version_cases(spark, engine)
    for name, urls in cases.items():
        assert urls, f"fixture must contain {name} keys"
    assert not cases["tombstone"] & set(full)
    assert cases["reinserted"] <= set(full)
    reinserted = sorted(cases["reinserted"])[:60]
    for url in sorted(cases["late"] | cases["tombstone"] | set(reinserted)):
        check(url)


def test_lookup_deleted_and_absent_keys(spark, engine):
    live = {r["url"] for r in engine.read_table().collect()}
    dead = {r["url"] for r in engine.read_table(include_tombstones=True).collect()} - live
    assert dead, "fixture must contain deleted keys"
    df, _, _ = engine.table.read_key(next(iter(dead)))
    assert df.count() == 0
    df, _, _ = engine.table.read_key("https://never-seen.example/x")
    assert df.count() == 0
    with pytest.raises(TypeError):
        engine.table.read_key(123)


def test_lookup_time_travel(spark, engine):
    entries = [e for e in engine.table.read_ledger() if "snapshot_id" in e and "epoch_id" in e]
    first_snap = entries[0]["snapshot_id"]
    early = {r["url"]: r for r in engine.read_table(snapshot_id=first_snap).collect()}
    url, exp = next(iter(early.items()))
    df, _, _ = engine.table.read_key(url, snapshot_id=first_snap)
    got = df.collect()[0]
    assert (got["seq"], got["warc_ts"]) == (exp["seq"], exp["warc_ts"])


def test_lookup_scan_fraction(engine):
    """Files scanned ≈ bases/n_buckets + deltas/n_delta_groups — the
    manifest prune must beat 1/2 of the table comfortably at 8 buckets."""
    url = engine.read_table().select("url").first()["url"]
    _, scanned, total = engine.table.read_key(url)
    assert scanned <= total // 2


def _parity_keys() -> list[str]:
    ascii_keys = [
        "".join(chr(33 + (7 * i + n) % 94) for i in range(n)) for n in range(1, 71)
    ]
    urls = [
        f"https://h{j:04d}.example.org/u/{j}/p?x={j % 7}&y=ä" for j in range(200)
    ]
    return ["", "ä", "数据湖", "データ湖の点検索", "🦀", "ä🦀数"] + ascii_keys + urls


def test_bucket_of_matches_spark_bucket_expr(spark):
    """The driver-side hash must pick the bucket the writers pick, for
    every XXH64 branch (32-, 8-, 4- and 1-byte tails), multi-byte UTF-8
    and keys whose signed hash is negative (``pmod``)."""
    keys = _parity_keys()
    df = spark.createDataFrame([(k,) for k in keys], "url string")
    signed = [r[0] for r in df.select(F.xxhash64("url")).collect()]
    assert any(h < 0 for h in signed) and any(h > 0 for h in signed)
    for n in (4, 8, 16, 32):
        got = [r["b"] for r in df.select(bucket_expr("url", n).alias("b")).collect()]
        assert [bucket_of(k, n) for k in keys] == got, n


def _jobs(spark, tag: str, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"lookup-guard-{tag}"
    sc.setJobGroup(group, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def test_lookup_is_one_spark_job(spark, engine):
    """Planning a lookup launches no job (the bucket is hashed on the
    driver) and collecting it launches exactly one (no group-by or
    join for the LWW winner), for a live, a deleted and an absent key."""
    assert engine.table.delta_depth(), "fixture must have delta files"
    live = {r["url"] for r in engine.read_table().collect()}
    dead = {r["url"] for r in engine.read_table(include_tombstones=True).collect()} - live
    keys = {"live": min(live), "deleted": min(dead), "absent": "https://never-seen.example/y"}
    for name, key in keys.items():
        (df, _, _), planned = _jobs(spark, f"plan-{name}", lambda: engine.table.read_key(key))
        rows, collected = _jobs(spark, f"collect-{name}", df.collect)
        assert (planned, collected) == (0, 1), name
        assert len(rows) == (1 if name == "live" else 0), name
