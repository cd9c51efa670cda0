"""The benchmark's workloads: each drives the engine through its public
Python API, configured as the CLI configures it, times every operation
from outside, and checks every output against the oracle.

Work per run is fixed by ``--seconds`` (rounds = seconds / the nominal
length of one round on the reference 4-core host), never by the clock,
so every run with the same arguments attempts exactly the same
operations and the table ends in a state that depends on the seed alone.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from oracle import Oracle, check_ledger
from spans import jvm_gc_ms


def _md5(b: bytes | None) -> str | None:
    return None if b is None else hashlib.md5(b).hexdigest()


class Workload:
    """Skeleton shared by the three workloads. Subclasses set the input
    shape and implement ``build`` (engine + warmup) and ``drive`` (the
    timed rounds)."""

    name = ""
    preimage = True  # change feed shape the consumer asks for
    with_lang = False

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, 2])
        self.epochs: list[dict] = []  # events, secs, gc_ms
        self.lookups: list[dict] = []
        self.windows: list[dict] = []
        self.change_rows: list[tuple] = []
        self.scans: list[float] = []
        self.extract_probe: list[tuple[int, float]] = []  # rows, secs
        self.errors: list[str] = []

    # -- spans (no-ops untraced) -------------------------------------------

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def set_epoch(self, i: int | None) -> None:
        if self.tracer is not None:
            self.tracer.epoch = i

    # -- timed operations ----------------------------------------------------

    def timed_epoch(self, fn, n_events: int) -> None:
        gc0 = jvm_gc_ms(self.spark.sparkContext) if self.tracer is not None else 0
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        gc = jvm_gc_ms(self.spark.sparkContext) - gc0 if self.tracer is not None else 0
        self.epochs.append({"events": n_events, "secs": dt, "gc_ms": gc})

    def lookup(self, table, url: str, hw: int) -> None:
        with self.span("read.lookup"):
            t0 = time.perf_counter()
            df, scanned, _total = table.read_key(url)
            rows = df.collect() if df is not None else []
            dt = time.perf_counter() - t0
        r = rows[0] if rows else None
        self.lookups.append(
            {
                "id": len(self.lookups),
                "url": url,
                "hw": hw,
                "seq": r["seq"] if r else None,
                "html_md5": _md5(r["html"]) if r else None,
                "text_md5": _md5(r["text"].encode("utf-8")) if r and r["text"] is not None else None,
                "lang": r.asDict().get("lang") if r and self.with_lang else None,
                "n_rows": len(rows),
                "files_scanned": scanned,
                "secs": dt,
            }
        )

    def materialize_feed(self, feed, wid: int) -> None:
        from pyspark.sql import functions as F

        rows = feed.select(
            "url", "change_type", "seq", F.md5("html").alias("h"), F.md5("text").alias("t")
        ).collect()
        self.change_rows.extend((wid, *r) for r in rows)

    def record_window(self, hw_a: int, hw_b: int, secs: float, feed=None) -> None:
        w = {"wid": len(self.windows), "hw_a": hw_a, "hw_b": hw_b, "secs": secs}
        if self.tracer is not None and feed is not None:
            w["files_read"] = len(feed.inputFiles())
        self.windows.append(w)

    def scan(self, df) -> float:
        with self.span("read.scan"):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            self.scans.append(time.perf_counter() - t0)
        return self.scans[-1]

    def final_scans(self, read) -> None:
        """The run-end current-state scan, five times. The first two
        settle the read path's JIT (in 20 runs their mean was 1.2-1.7x
        the p50 of the last three); scan_s is the p50 of the last three."""
        self.scan_end = [self.scan(read()) for _ in range(5)][2:]

    def probe_extract(self, spans_before: int) -> None:
        """Traced runs only: re-run the extract UDF on its own over the
        html of the files the last epoch staged (noop sink), so its cost
        per row is known apart from the write it is fused into."""
        if self.tracer is None or len(self.extract_probe) >= 3:
            return
        from ethereum_etl_spark.functions.extract import extract_text_udf

        files = [
            p
            for s in self.tracer.spans[spans_before:]
            if s["name"] == "table.stage_delta"
            for p in s.get("paths", [])
        ]
        if not files:
            return
        rows = sum(s.get("rows", 0) for s in self.tracer.spans[spans_before:] if s["name"] == "table.stage_delta")
        with self.span("extract.probe"):
            t0 = time.perf_counter()
            (
                self.spark.read.parquet(*files)
                .select(extract_text_udf("html").alias("t"))
                .write.format("noop").mode("overwrite").save()
            )
            self.extract_probe.append((rows, time.perf_counter() - t0))

    # -- checks ----------------------------------------------------------------

    def state_table(self, df) -> pa.Table:
        from pyspark.sql import functions as F

        lang = F.col("lang") if self.with_lang else F.lit(None).cast("string")
        return df.select(
            "url", "seq", F.md5("html").alias("html_md5"), F.md5("text").alias("text_md5"),
            lang.alias("lang"),
        ).toArrow()

    def run_checks(self, oracle: Oracle, state: pa.Table, hw: int) -> None:
        self.errors += oracle.check_state(state, hw, self.with_lang)
        if self.lookups:
            cols = ["id", "url", "hw", "seq", "html_md5", "text_md5", "lang"]
            got = pa.table({c: [lk[c] for lk in self.lookups] for c in cols})
            self.errors += oracle.check_lookups(got, self.with_lang)
            multi = [lk["url"] for lk in self.lookups if lk["n_rows"] > 1]
            if multi:
                self.errors.append(f"lookups returned several rows for {multi[:3]}")
        if self.windows:
            wins = pa.table({c: [w[c] for w in self.windows] for c in ("wid", "hw_a", "hw_b")})
            cols = list(zip(*self.change_rows)) if self.change_rows else [[]] * 6
            got = pa.table(
                {
                    "wid": pa.array(cols[0], pa.int64()),
                    "url": pa.array(cols[1], pa.string()),
                    "change_type": pa.array(cols[2], pa.string()),
                    "seq": pa.array(cols[3], pa.int64()),
                    "html_md5": pa.array(cols[4], pa.string()),
                    "text_md5": pa.array(cols[5], pa.string()),
                }
            )
            self.errors += oracle.check_changes(wins, got, self.preimage)

    # -- results -----------------------------------------------------------

    def attempted(self) -> int:
        return len(self.epochs) + len(self.lookups) + len(self.windows) + len(self.scans)

    def end_to_end(self, table_bytes: int, live_rows: int) -> dict:
        ev = sum(e["events"] for e in self.epochs)
        secs = sum(e["secs"] for e in self.epochs)
        return {
            "apply_events_per_s": (ev / secs, "events/s"),
            "lookup_p50_s": (statistics.median(lk["secs"] for lk in self.lookups), "s"),
            "changes_p50_s": (statistics.median(w["secs"] for w in self.windows), "s"),
            "scan_s": (statistics.median(self.scan_end), "s"),
            "table_bytes_per_row": (table_bytes / max(live_rows, 1), "B/row"),
        }

    def raw(self) -> dict:
        return {
            "epochs": self.epochs,
            "lookups": [{k: lk[k] for k in ("url", "hw", "seq", "files_scanned", "secs")} for lk in self.lookups],
            "windows": self.windows,
            "scans": self.scans,
            "extract_probe": self.extract_probe,
        }

    def pick_urls(self, g: gen.WalGen, n: int, mix: tuple[float, float]) -> list[str]:
        """``n`` lookup keys chosen from the generator's own view of the
        stream: live urls, urls whose last event was a delete, and urls
        no event ever touched, in the proportions ``mix`` (live, deleted;
        the rest never seen)."""
        seen = np.zeros(g.shape.n_urls, dtype=bool)
        idx = {u: i for i, u in enumerate(g.urls)}
        for u in set(g.ev_url):
            i = idx.get(u)
            if i is not None:
                seen[i] = True
        live = np.flatnonzero(g.live)
        dead = np.flatnonzero(seen & ~g.live)
        fresh = np.flatnonzero(~seen)
        out = []
        for _ in range(n):
            r = self.rng.random()
            pool = live if r < mix[0] else dead if r < mix[0] + mix[1] else fresh
            if len(pool) == 0:
                pool = live
            out.append(g.urls[int(pool[self.rng.integers(len(pool))])])
        return out


# ---------------------------------------------------------------------------
# Single-table workloads (plans.engine)
# ---------------------------------------------------------------------------


def cli_engine(spark, wal: str, table: str, epoch_size: int):
    """A CDCEngine configured as ``cli apply`` / ``cli tail`` configure
    it: CLI defaults for buckets, LWW method and salt, tombstone
    retention of 20x the epoch size."""
    from ethereum_etl_spark.plans.engine import CDCEngine, EngineConfig

    cfg = EngineConfig(
        epoch_size=epoch_size,
        n_buckets=32,
        lww_method="auto",
        n_salt=16,
        tombstone_retention_seqs=20 * epoch_size,
    )
    return CDCEngine(spark, wal, table, config=cfg)


class _SingleTable(Workload):
    epoch_size = 0
    rows_per_file = 0
    shape: gen.Shape

    def build(self) -> None:
        self.wal = os.path.join(self.work, "wal")
        self.table_root = os.path.join(self.work, "table")
        self.warmup()
        self.engine = cli_engine(self.spark, self.wal, self.table_root, self.epoch_size)
        self.consumer = self.stream(self.engine, "consumer")

    def stream(self, engine, name: str):
        from ethereum_etl_spark.streaming.changes_stream import ChangesStream

        return ChangesStream(engine, os.path.join(self.work, f"{name}.consumer.json"))

    def change_window(self, stream, hw_a: int) -> int:
        """One poll of the change-feed consumer, materialised and
        committed; returns the watermark the window ends at."""
        hw_b = stream.engine.table.high_watermark()
        with self.span("read.changes"):
            t0 = time.perf_counter()
            batch = stream.poll()
            if batch is None:
                return hw_a
            _last, cur, feed = batch
            with self.span("changes.materialize"):
                self.materialize_feed(feed, len(self.windows))
            stream.commit(cur)
            dt = time.perf_counter() - t0
        self.record_window(hw_a, hw_b, dt, feed)
        return hw_b

    def warmup(self) -> None:
        """One untimed epoch on a throwaway table over a WAL of the
        workload's shape, plus one lookup and one change window, so JIT,
        codegen and the Python worker daemon are warm."""
        g = gen.WalGen(self.seed + 1_000_003, self.shape, url_tag="w")
        wal = os.path.join(self.work, "warmup-wal")
        gen.land(g.events(self.epoch_size), wal, self.rows_per_file)
        eng = cli_engine(self.spark, wal, os.path.join(self.work, "warmup-table"), self.epoch_size)
        eng.run()
        eng.table.read_key(g.ev_url[-1])[0].collect()
        batch = self.stream(eng, "warmup").poll()
        self.materialize_feed(batch[2], -1)
        self.change_rows.clear()

    def finish(self) -> dict:
        wal = self.wal
        hw = self.engine.table.high_watermark()
        self.final_scans(self.engine.read_table)
        state = self.state_table(self.engine.read_table())
        oracle = Oracle(wal, self.gen.known_table())
        try:
            self.run_checks(oracle, state, hw)
            lineage = sum(
                sum(pq.read_table(p, columns=["row_count"]).column(0).to_pylist())
                for p in glob.glob(os.path.join(self.table_root, "lineage", "epoch=*", "*.parquet"))
            )
            self.errors += check_ledger(
                self.engine.table.read_ledger(), oracle.n_events(), oracle.max_seq(), lineage
            )
        finally:
            oracle.close()
        snap = self.engine.table.current_snapshot()
        return {
            "table_bytes": sum(f.bytes for f in snap.files),
            "live_rows": state.num_rows,
            "table": self.engine.table,
        }


class ReplayBulk(_SingleTable):
    """Historical replay (``cli apply``): the WAL lands in full before
    timing; large epochs; one hot url above the skew threshold."""

    name = "replay_bulk"
    epoch_size = 60_000
    rows_per_file = 15_000
    round_s = 5.0  # one epoch plus its reads, reference host
    lookups_per_epoch = 2
    shape = gen.Shape(
        n_urls=150_000, n_hosts=400, hot_share=0.25, update_share=0.8,
        ghost_delete_share=0.01, late_share=0.05, max_lateness=20_000,
    )

    def drive(self) -> None:
        n_epochs = max(2, round(self.seconds / self.round_s))
        self.gen = gen.WalGen(self.seed, self.shape)
        gen.land(self.gen.events(n_epochs * self.epoch_size), self.wal, self.rows_per_file)
        urls = self.pick_urls(self.gen, n_epochs * self.lookups_per_epoch, (0.9, 0.05))
        hw_a = -1
        for i in range(n_epochs):
            self.set_epoch(i)
            hi = (i + 1) * self.epoch_size - 1
            mark = len(self.tracer.spans) if self.tracer else 0
            self.timed_epoch(lambda: self.engine.run(up_to_seq=hi), self.epoch_size)
            self.set_epoch(None)
            self.probe_extract(mark)
            for u in urls[i * self.lookups_per_epoch : (i + 1) * self.lookups_per_epoch]:
                self.lookup(self.engine.table, u, hi)
            hw_a = self.change_window(self.consumer, hw_a)


class TailSmall(_SingleTable):
    """Realtime tail (``cli tail``), closed loop: land one small WAL
    file, wait until the tailer has committed it, land the next. Two
    lookups follow every commit; the change-feed consumer polls after
    the first commit and then after every second one."""

    name = "tail_small"
    epoch_size = 10_000
    rows_per_file = 10_000
    round_s = 7.0  # one epoch, its two lookups, half a change window
    shape = gen.Shape(
        n_urls=200_000, n_hosts=400, update_share=0.75, ghost_delete_share=0.01,
        late_share=0.05, max_lateness=5_000,
    )

    def drive(self) -> None:
        from ethereum_etl_spark.streaming import tailer

        n_epochs = max(2, round(self.seconds / self.round_s))
        self.gen = gen.WalGen(self.seed, self.shape)
        hw_a = -1
        for i in range(n_epochs):
            gen.land(self.gen.events(self.epoch_size), self.wal, self.rows_per_file)
            self.set_epoch(i)
            mark = len(self.tracer.spans) if self.tracer else 0
            self.timed_epoch(
                lambda: tailer.tail(self.engine, poll_interval_s=1.0, stop_when_caught_up=True),
                self.epoch_size,
            )
            self.set_epoch(None)
            self.probe_extract(mark)
            hw = self.engine.table.high_watermark()
            for u in self.pick_urls(self.gen, 2, (0.9, 0.05)):
                self.lookup(self.engine.table, u, hw)
            if i % 2 == 0:
                hw_a = self.change_window(self.consumer, hw_a)


# ---------------------------------------------------------------------------
# Multi-table fan-out (plans.multi)
# ---------------------------------------------------------------------------


class FanoutReads(Workload):
    """Multi-table fan-out (``cli multi``) with readers: pages plus
    host_stats under one group commit, delete-heavy op mix with late
    events, ADD COLUMN ``lang`` taking effect mid-stream, and after each
    epoch one pages change window and several lookups; a full scan every
    few epochs."""

    name = "fanout_reads"
    preimage = False
    with_lang = True
    epoch_size = 15_000
    rows_per_file = 7_500
    round_s = 10.0  # one epoch, one change window, two lookups
    lookups_per_epoch = 2
    scan_every = 3
    shape = gen.Shape(
        n_urls=60_000, n_hosts=300, update_share=0.45, ghost_delete_share=0.04,
        late_share=0.08, max_lateness=10_000,
    )

    def _engine(self, wal: str, root: str, lang_from: int):
        from ethereum_etl_spark.plans.multi import MultiTableEngine
        from ethereum_etl_spark.schemas import PAGES_SCHEMA_V1, SchemaChange, SchemaRegistry

        reg = SchemaRegistry(base_schema=PAGES_SCHEMA_V1)
        reg.add_change(SchemaChange(2, lang_from, {"add_column": {"name": "lang", "type": "string"}}))
        return MultiTableEngine(self.spark, wal, root, epoch_size=self.epoch_size, pages_registry=reg)

    def build(self) -> None:
        import dataclasses

        self.wal = os.path.join(self.work, "wal")
        self.n_epochs = max(2, round(self.seconds / self.round_s))
        self.lang_from = (self.n_epochs // 2) * self.epoch_size
        self.shape = dataclasses.replace(self.shape, lang_from_seq=self.lang_from)
        # warmup: one epoch on a throwaway root, crossing the ADD COLUMN
        g = gen.WalGen(self.seed + 1_000_003, dataclasses.replace(self.shape, lang_from_seq=self.epoch_size // 2), url_tag="w")
        wal = os.path.join(self.work, "warmup-wal")
        gen.land(g.events(self.epoch_size), wal, self.rows_per_file)
        eng = self._engine(wal, os.path.join(self.work, "warmup-root"), self.epoch_size // 2)
        eng.run()
        eng.pages.read_key(g.ev_url[-1])[0].collect()
        self.materialize_feed(eng.changes_pages(None), -1)
        self.change_rows.clear()
        self.engine = self._engine(self.wal, os.path.join(self.work, "multi"), self.lang_from)

    def drive(self) -> None:
        eng = self.engine
        self.gen = gen.WalGen(self.seed, self.shape)
        last_sid, hw_a = None, -1
        for i in range(self.n_epochs):
            gen.land(self.gen.events(self.epoch_size), self.wal, self.rows_per_file)
            self.set_epoch(i)
            mark = len(self.tracer.spans) if self.tracer else 0
            self.timed_epoch(eng.run, self.epoch_size)
            self.set_epoch(None)
            self.probe_extract(mark)
            entry = eng.group_entries()[-1]
            hw_b, sid = entry["end_seq"], entry["tables"]["pages"]
            with self.span("read.changes"):
                t0 = time.perf_counter()
                feed = eng.changes_pages(last_sid, sid)
                with self.span("changes.materialize"):
                    self.materialize_feed(feed, len(self.windows))
                dt = time.perf_counter() - t0
            self.record_window(hw_a, hw_b, dt, feed)
            last_sid, hw_a = sid, hw_b
            for u in self.pick_urls(self.gen, self.lookups_per_epoch, (0.4, 0.3)):
                self.lookup(eng.pages, u, hw_b)
            if (i + 1) % self.scan_every == 0 and i + 1 < self.n_epochs:
                self.scan(eng.read_pages())

    def finish(self) -> dict:
        from pyspark.sql import functions as F

        eng = self.engine
        hw = eng.high_watermark()
        self.final_scans(eng.read_pages)
        state = self.state_table(eng.read_pages())
        hosts = eng.read_hosts().select(
            "host", "n_events", "n_inserts", "n_updates", "n_deletes", "last_seq",
            F.unix_micros("last_warc_ts").alias("last_ts_us"),
        ).toArrow()
        oracle = Oracle(self.wal, self.gen.known_table())
        try:
            self.run_checks(oracle, state, hw)
            self.errors += oracle.check_hosts(hosts, hw)
            self.errors += check_ledger(eng.group_entries(), oracle.n_events(), oracle.max_seq(), None)
        finally:
            oracle.close()
        snap = eng.pages.current_snapshot()
        return {
            "table_bytes": sum(f.bytes for f in snap.files),
            "live_rows": state.num_rows,
            "table": eng.pages,
        }


WORKLOADS = {w.name: w for w in (ReplayBulk, TailSmall, FanoutReads)}
