"""Expected results, computed by DuckDB apart from the engine.

The oracle reads the same WAL parquet files the engine reads and the
generator's own record of every event (``gen.WalGen.known_table``: url,
host, op, lang and the page's visible text). Last-writer-wins is the
window query "latest (warc_ts, seq) per url"; a url whose winner is a
delete is absent. Every check returns a list of error strings, empty
when the engine's output matches.

The engine's outputs reach the checks as small Arrow tables in which
html and text are md5 hex digests (the engine side hashes with Spark's
``md5``, the oracle with DuckDB's over the same bytes).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_WINNER = "QUALIFY row_number() OVER (PARTITION BY {part} ORDER BY w.warc_ts DESC, w.seq DESC) = 1"


def _errors(rows: list, what: str, limit: int = 3) -> list[str]:
    if not rows:
        return []
    return [f"{what}: {len(rows)} mismatches, e.g. {rows[:limit]}"]


class Oracle:
    def __init__(self, wal_dir: str, known: pa.Table, threads: int = 2):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.register("known", known)
        glob = wal_dir.rstrip("/") + "/*.parquet"
        self.con.execute(
            "CREATE VIEW wal AS SELECT seq, op, url, warc_ts, html, lang "
            f"FROM read_parquet('{glob}')"
        )

    def close(self) -> None:
        self.con.close()

    def _q(self, sql: str, **tables) -> list:
        for name, t in tables.items():
            self.con.register(name, t)
        try:
            return self.con.execute(sql).fetchall()
        finally:
            for name in tables:
                self.con.unregister(name)

    def max_seq(self) -> int:
        return self.con.execute("SELECT coalesce(max(seq), -1) FROM wal").fetchone()[0]

    def n_events(self) -> int:
        return self.con.execute("SELECT count(*) FROM wal").fetchone()[0]

    # -- (a) final state ---------------------------------------------------

    def check_state(self, got: pa.Table, hw: int, with_lang: bool) -> list[str]:
        """``got``: url, seq, html_md5, text_md5, lang — the live rows."""
        dups = self._q(
            "SELECT url, count(*) FROM got GROUP BY url HAVING count(*) > 1", got=got
        )
        lang_cmp = "OR e.lang IS DISTINCT FROM g.lang" if with_lang else ""
        bad = self._q(
            f"""
            WITH w AS (
                SELECT w.url, w.seq, w.op, w.html FROM wal w WHERE w.seq <= {int(hw)}
                {_WINNER.format(part="w.url")}
            ), e AS (
                SELECT w.url, w.seq, md5(decode(w.html)) AS html_md5,
                       md5(k.text) AS text_md5, k.lang
                FROM w JOIN known k ON k.seq = w.seq WHERE w.op <> 'delete'
            )
            SELECT coalesce(e.url, g.url), e.seq, g.seq
            FROM e FULL OUTER JOIN got g ON g.url = e.url
            WHERE e.url IS NULL OR g.url IS NULL
               OR e.seq IS DISTINCT FROM g.seq
               OR e.html_md5 IS DISTINCT FROM g.html_md5
               OR e.text_md5 IS DISTINCT FROM g.text_md5 {lang_cmp}
            ORDER BY 1
            """,
            got=got,
        )
        return _errors(dups, "duplicate live urls") + _errors(bad, "final state (url, want seq, got seq)")

    # -- (b) point lookups ---------------------------------------------------

    def check_lookups(self, got: pa.Table, with_lang: bool) -> list[str]:
        """``got``: id, url, hw, seq, html_md5, text_md5, lang — seq is
        null when the lookup returned no row. Each lookup is judged at
        the high watermark it ran at."""
        lang_cmp = "OR e.lang IS DISTINCT FROM g.lang" if with_lang else ""
        bad = self._q(
            f"""
            WITH x AS (
                SELECT g.id, w.seq, w.op, w.html FROM got g
                JOIN wal w ON w.url = g.url AND w.seq <= g.hw
                {_WINNER.format(part="g.id")}
            ), e AS (
                SELECT x.id, x.seq, md5(decode(x.html)) AS html_md5,
                       md5(k.text) AS text_md5, k.lang
                FROM x JOIN known k ON k.seq = x.seq WHERE x.op <> 'delete'
            )
            SELECT g.id, g.url, e.seq, g.seq FROM got g LEFT JOIN e ON e.id = g.id
            WHERE e.seq IS DISTINCT FROM g.seq
               OR e.html_md5 IS DISTINCT FROM g.html_md5
               OR e.text_md5 IS DISTINCT FROM g.text_md5 {lang_cmp}
            ORDER BY 1
            """,
            got=got,
        )
        return _errors(bad, "lookups (id, url, want seq, got seq)")

    # -- (c) change windows ------------------------------------------------

    def check_changes(self, windows: pa.Table, got: pa.Table, preimage: bool) -> list[str]:
        """``windows``: wid, hw_a, hw_b (hw_a = -1 for a feed from table
        creation). ``got``: wid, url, change_type, seq, html_md5,
        text_md5. Insert, update and delete key sets must equal the
        oracle's diff of the two states; inserts and update post-images
        carry the B-side winner; with ``preimage`` every update
        post-image pairs with one pre-image carrying the A-side winner."""
        state = """
            SELECT v.wid, w.url, w.seq, w.op, w.html FROM windows v
            JOIN wal w ON w.seq <= v.{hw}
            {winner}
        """
        win = _WINNER.format(part="v.wid, w.url")
        bad = self._q(
            f"""
            WITH a AS ({state.format(hw="hw_a", winner=win)}),
                 b AS ({state.format(hw="hw_b", winner=win)}),
            e AS (
                SELECT coalesce(a.wid, b.wid) AS wid, coalesce(a.url, b.url) AS url,
                    CASE
                      WHEN coalesce(b.op, 'delete') <> 'delete' AND coalesce(a.op, 'delete') = 'delete' THEN 'insert'
                      WHEN coalesce(b.op, 'delete') = 'delete' AND coalesce(a.op, 'delete') <> 'delete' THEN 'delete'
                      WHEN b.op <> 'delete' AND a.op <> 'delete' AND a.seq <> b.seq THEN 'update_postimage'
                    END AS change_type,
                    b.seq AS b_seq, md5(decode(b.html)) AS html_md5, md5(k.text) AS text_md5
                FROM a FULL OUTER JOIN b ON a.wid = b.wid AND a.url = b.url
                LEFT JOIN known k ON k.seq = b.seq
            ), ee AS (SELECT * FROM e WHERE change_type IS NOT NULL),
            gg AS (SELECT * FROM got WHERE change_type IN ('insert', 'update_postimage', 'delete'))
            SELECT coalesce(ee.wid, gg.wid), coalesce(ee.url, gg.url), ee.change_type, gg.change_type
            FROM ee FULL OUTER JOIN gg ON ee.wid = gg.wid AND ee.url = gg.url
            WHERE ee.url IS NULL OR gg.url IS NULL OR ee.change_type <> gg.change_type
               OR (ee.change_type <> 'delete' AND (
                    ee.b_seq IS DISTINCT FROM gg.seq OR ee.html_md5 IS DISTINCT FROM gg.html_md5
                    OR ee.text_md5 IS DISTINCT FROM gg.text_md5))
            ORDER BY 1, 2
            """,
            windows=windows,
            got=got,
        )
        if not preimage:
            return _errors(bad, "change windows (wid, url, want, got)")
        pre = self._q(
            f"""
            WITH a AS ({state.format(hw="hw_a", winner=win)}),
            post AS (SELECT wid, url FROM got WHERE change_type = 'update_postimage'),
            pre AS (SELECT wid, url, seq FROM got WHERE change_type = 'update_preimage')
            SELECT coalesce(post.wid, pre.wid), coalesce(post.url, pre.url), a.seq, pre.seq
            FROM pre FULL OUTER JOIN post ON pre.wid = post.wid AND pre.url = post.url
            LEFT JOIN a ON a.wid = pre.wid AND a.url = pre.url
            WHERE pre.url IS NULL OR post.url IS NULL OR a.seq IS DISTINCT FROM pre.seq
            ORDER BY 1, 2
            """,
            windows=windows,
            got=got,
        )
        return _errors(bad, "change windows (wid, url, want, got)") + _errors(
            pre, "update pre-images (wid, url, want seq, got seq)"
        )

    # -- (e) host dimension ------------------------------------------------

    def check_hosts(self, got: pa.Table, hw: int) -> list[str]:
        """``got``: host, n_events, n_inserts, n_updates, n_deletes,
        last_seq, last_ts_us. Hosts come from the generator; ops, seqs
        and times from the WAL files."""
        bad = self._q(
            f"""
            WITH e AS (
                SELECT k.host, count(*) AS n_events,
                       count(*) FILTER (WHERE w.op = 'insert') AS n_inserts,
                       count(*) FILTER (WHERE w.op = 'update') AS n_updates,
                       count(*) FILTER (WHERE w.op = 'delete') AS n_deletes,
                       max(w.seq) AS last_seq, epoch_us(max(w.warc_ts)) AS last_ts_us
                FROM wal w JOIN known k ON k.seq = w.seq
                WHERE w.seq <= {int(hw)} GROUP BY k.host
            )
            SELECT coalesce(e.host, g.host), e.n_events, g.n_events
            FROM e FULL OUTER JOIN got g ON g.host = e.host
            WHERE e.host IS NULL OR g.host IS NULL
               OR e.n_events <> g.n_events OR e.n_inserts <> g.n_inserts
               OR e.n_updates <> g.n_updates OR e.n_deletes <> g.n_deletes
               OR e.last_seq <> g.last_seq OR e.last_ts_us <> g.last_ts_us
            ORDER BY 1
            """,
            got=got,
        )
        total = self._q("SELECT coalesce(sum(n_events), 0) FROM got", got=got)[0][0]
        want = self._q(f"SELECT count(*) FROM wal WHERE seq <= {int(hw)}")[0][0]
        errs = _errors(bad, "host_stats (host, want n_events, got n_events)")
        if total != want:
            errs.append(f"host_stats n_events sum {total} != events {want}")
        return errs


# -- (d) bookkeeping -----------------------------------------------------------


def check_ledger(
    entries: list[dict], n_events: int, max_seq: int, lineage_rows: int | None
) -> list[str]:
    """Epoch entries of a ledger (compaction entries carry no epoch_id)
    must tile (-1, max_seq] and count every event once; lineage row
    counts, when given, must add up to the WAL's rows."""
    errs = []
    epochs = sorted((e for e in entries if "epoch_id" in e), key=lambda e: e["start_seq"])
    got_n = sum(e["n_events"] for e in epochs)
    if got_n != n_events:
        errs.append(f"ledger n_events sum {got_n} != generated {n_events}")
    hw = max((e["end_seq"] for e in epochs), default=-1)
    if hw != max_seq:
        errs.append(f"ledger high watermark {hw} != max seq {max_seq}")
    prev = -1
    for e in epochs:
        if e["start_seq"] != prev:
            errs.append(f"ledger gap/overlap at epoch {e['epoch_id']}: start {e['start_seq']} != {prev}")
            break
        prev = e["end_seq"]
    if lineage_rows is not None and lineage_rows != n_events:
        errs.append(f"lineage row_count sum {lineage_rows} != WAL rows {n_events}")
    return errs
