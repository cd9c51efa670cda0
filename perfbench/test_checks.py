"""Tests of the benchmark's own generator and checks (no Spark needed).

    python3 -m pytest perfbench -q

Each oracle check must pass on a correct result, built here by a plain
Python last-writer-wins replay, and fail on a perturbed one: a row
dropped, one text byte changed, a stale version kept, a count off by
one. The generator's text model must match the extraction rules on
hand-written pages and on every page it generates.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from oracle import Oracle, check_ledger  # noqa: E402


def md5s(s: str | bytes | None) -> str | None:
    if s is None:
        return None
    return hashlib.md5(s.encode("utf-8") if isinstance(s, str) else s).hexdigest()


# -- the generator's text model against the extraction rules -------------------

HAND_PAGES = [
    ("<p>Hello <b>big <i>world</i></b></p>", "Hello big world"),
    ("AT&amp;T&nbsp;and&nbsp;&quot;q&quot;", 'AT&T and "q"'),
    ("<script>var a = '<p>x</p>';</script>kept<!-- gone -->", "kept"),
    ("wo<!-- split -->rd <STYLE>p{}</STYLE > next", "word next"),
    ("<SCRIPT type=x>1 &lt; 2</SCRIPT >&amp;lt;kept&amp;gt;", "&lt;kept&gt;"),
    ("naïve Grüße 日本語\t\n&copy;2024", "naïve Grüße 日本語 ©2024"),
    ("<div><p>&hellip; it&#39;s</p></div>zero​width", "&hellip; it's zero​width"),
    ("<!--\nmulti\n-->&amp;nbsp;<br/>&amp;amp;", "&nbsp; &amp;"),
]


@pytest.mark.parametrize("html,text", HAND_PAGES)
def test_hand_pages_follow_extraction_rules(html, text):
    from ethereum_etl_spark.functions.extract import extract_text

    assert extract_text(html.encode("utf-8")) == text


def test_rendered_fragments_match_their_known_text():
    from ethereum_etl_spark.functions.extract import extract_text

    rng = np.random.default_rng(7)
    for _ in range(300):
        tokens = gen._pick_tokens(int(rng.integers(1, 60)), rng)
        html, text = gen.render_tokens(tokens, rng)
        assert extract_text(html.encode("utf-8")) == text


def test_generated_pages_match_known_text():
    from ethereum_etl_spark.functions.extract import extract_text

    g = gen.WalGen(3, gen.Shape(n_urls=300, n_hosts=20, n_bodies=64))
    t = g.events(800)
    for seq, html in enumerate(t.column("html").to_pylist()):
        assert extract_text(html) == g.expected_text(seq)


def test_generator_is_deterministic():
    a = gen.WalGen(11, gen.Shape(n_urls=200, n_hosts=10, n_bodies=16)).events(300)
    b = gen.WalGen(11, gen.Shape(n_urls=200, n_hosts=10, n_bodies=16)).events(300)
    assert a.equals(b)


# -- a small WAL and a plain-Python replay of it --------------------------------

SHAPE = gen.Shape(
    n_urls=400, n_hosts=12, hot_share=0.1, update_share=0.6, ghost_delete_share=0.05,
    late_share=0.2, max_lateness=50, n_bodies=32, lang_from_seq=600,
)


@pytest.fixture(scope="module")
def wal(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal"))
    g = gen.WalGen(5, SHAPE)
    t = g.events(1200)
    gen.land(t, d, 300)
    oracle = Oracle(d, g.known_table())
    yield g, t, oracle
    oracle.close()


def replay(g, t, hw):
    """url → winning event index among seq <= hw (python reference)."""
    ts = t.column("warc_ts").cast(pa.int64()).to_pylist()
    best = {}
    for s in range(hw + 1):
        u = g.ev_url[s]
        if u not in best or (ts[s], s) > (ts[best[u]], best[u]):
            best[u] = s
    return best


def state_rows(g, t, hw):
    html = t.column("html").to_pylist()
    return {
        u: s for u, s in replay(g, t, hw).items() if g.ev_op[s] != "delete"
    }, html


def state_table(g, t, hw, edit=None):
    live, html = state_rows(g, t, hw)
    rows = []
    for u, s in sorted(live.items()):
        r = {"url": u, "seq": s, "html_md5": md5s(html[s]), "text": g.expected_text(s),
             "lang": g.ev_lang[s]}
        rows.append(r)
    if edit:
        rows = edit(rows)
    return pa.table({
        "url": [r["url"] for r in rows],
        "seq": pa.array([r["seq"] for r in rows], pa.int64()),
        "html_md5": [r["html_md5"] for r in rows],
        "text_md5": [md5s(r["text"]) for r in rows],
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })


def test_state_check_passes_on_replay(wal):
    g, t, o = wal
    assert o.check_state(state_table(g, t, 1199), 1199, True) == []
    assert o.check_state(state_table(g, t, 700), 700, True) == []


def test_state_check_catches_dropped_row(wal):
    g, t, o = wal
    assert o.check_state(state_table(g, t, 1199, lambda rs: rs[1:]), 1199, True)


def test_state_check_catches_one_text_byte(wal):
    g, t, o = wal

    def flip(rs):
        r = rs[3]
        r["text"] = r["text"][:-1] + chr(ord(r["text"][-1]) ^ 1)
        return rs

    assert o.check_state(state_table(g, t, 1199, flip), 1199, True)


def test_state_check_catches_stale_version(wal):
    g, t, o = wal
    html = t.column("html").to_pylist()

    def stale(rs):
        for r in rs:
            older = [s for s in range(r["seq"]) if g.ev_url[s] == r["url"] and g.ev_op[s] != "delete"]
            if older:
                s = older[-1]
                r.update(seq=s, html_md5=md5s(html[s]), text=g.expected_text(s), lang=g.ev_lang[s])
                return rs
        raise AssertionError("no url with two versions")

    assert o.check_state(state_table(g, t, 1199, stale), 1199, True)


def test_state_check_catches_wrong_lang(wal):
    g, t, o = wal

    def relang(rs):
        r = next(r for r in rs if r["lang"] is not None)
        r["lang"] = "xx"
        return rs

    assert o.check_state(state_table(g, t, 1199, relang), 1199, True)
    assert o.check_state(state_table(g, t, 1199, relang), 1199, False) == []


def lookup_table(g, t, probes, edit=None):
    html = t.column("html").to_pylist()
    rows = []
    for i, (url, hw) in enumerate(probes):
        s = replay(g, t, hw).get(url)
        live = s is not None and g.ev_op[s] != "delete"
        rows.append({"id": i, "url": url, "hw": hw, "seq": s if live else None,
                     "html_md5": md5s(html[s]) if live else None,
                     "text_md5": md5s(g.expected_text(s)) if live else None,
                     "lang": g.ev_lang[s] if live else None})
    if edit:
        edit(rows)
    cols = ["id", "url", "hw", "seq", "html_md5", "text_md5", "lang"]
    return pa.table({c: pa.array([r[c] for r in rows], pa.int64() if c in ("id", "hw", "seq") else pa.string()) for c in cols})


def probes(g):
    deleted = next(u for u, s in replay_last(g).items() if g.ev_op[s] == "delete" and "ghost" not in u)
    return [(g.ev_url[10], 1199), (g.ev_url[900], 1199), (g.ev_url[900], 500),
            (deleted, 1199), ("https://never.example.com/x", 1199), (g.ev_url[1100], 1199)]


def replay_last(g):
    out = {}
    for s, u in enumerate(g.ev_url):
        out[u] = s
    return out


def test_lookup_check(wal):
    g, t, o = wal
    p = probes(g)
    assert o.check_lookups(lookup_table(g, t, p), True) == []

    def drop(rows):
        r = next(r for r in rows if r["seq"] is not None)
        r.update(seq=None, html_md5=None, text_md5=None, lang=None)

    def resurrect(rows):  # a deleted url answered with its last live version
        r = rows[3]
        s = max(s for s in range(1200) if g.ev_url[s] == r["url"] and g.ev_op[s] != "delete")
        r.update(seq=s, html_md5="x", text_md5=md5s(g.expected_text(s)))

    def byte(rows):
        rows[0]["text_md5"] = md5s(g.expected_text(rows[0]["seq"]) + "!")

    for edit in (drop, resurrect, byte):
        assert o.check_lookups(lookup_table(g, t, p, edit), True), edit.__name__


def changes_rows(g, t, wins, preimage):
    html = t.column("html").to_pylist()
    rows = []
    for wid, hw_a, hw_b in wins:
        a = {u: s for u, s in replay(g, t, hw_a).items() if g.ev_op[s] != "delete"} if hw_a >= 0 else {}
        b = {u: s for u, s in replay(g, t, hw_b).items() if g.ev_op[s] != "delete"}
        for u in sorted(set(a) | set(b)):
            if u in b and u not in a:
                kinds = [("insert", b[u])]
            elif u in a and u not in b:
                kinds = [("delete", a[u])]
            elif a[u] != b[u]:
                kinds = [("update_postimage", b[u])] + ([("update_preimage", a[u])] if preimage else [])
            else:
                continue
            for kind, s in kinds:
                rows.append([wid, u, kind, s, md5s(html[s]), md5s(g.expected_text(s))])
    return rows


def changes_tables(rows, wins):
    w = pa.table({"wid": [x[0] for x in wins], "hw_a": [x[1] for x in wins], "hw_b": [x[2] for x in wins]})
    cols = list(zip(*rows))
    got = pa.table({
        "wid": pa.array(cols[0], pa.int64()), "url": pa.array(cols[1], pa.string()),
        "change_type": pa.array(cols[2], pa.string()), "seq": pa.array(cols[3], pa.int64()),
        "html_md5": pa.array(cols[4], pa.string()), "text_md5": pa.array(cols[5], pa.string()),
    })
    return w, got


WINS = [(0, -1, 399), (1, 399, 799), (2, 799, 1199)]


@pytest.mark.parametrize("preimage", [True, False])
def test_changes_check(wal, preimage):
    g, t, o = wal
    rows = changes_rows(g, t, WINS, preimage)
    assert o.check_changes(*changes_tables(rows, WINS), preimage) == []
    kinds = {r[2] for r in rows}
    assert {"insert", "update_postimage", "delete"} <= kinds

    def drop_kind(kind):
        i = next(i for i, r in enumerate(rows) if r[2] == kind and r[0] == 2)
        return rows[:i] + rows[i + 1:]

    def retype():
        out = [list(r) for r in rows]
        next(r for r in out if r[2] == "insert")[2] = "update_postimage"
        return out

    def stale_post():
        out = [list(r) for r in rows]
        r = next(r for r in out if r[2] == "update_postimage")
        r[3] -= 1
        return out

    bad = [drop_kind("insert"), drop_kind("delete"), drop_kind("update_postimage"), retype(), stale_post()]
    if preimage:
        bad.append(drop_kind("update_preimage"))
    for b in bad:
        assert o.check_changes(*changes_tables(b, WINS), preimage)


def host_table(g, t, hw, edit=None):
    ts = t.column("warc_ts").cast(pa.int64()).to_pylist()
    agg = {}
    for s in range(hw + 1):
        h = g.ev_host[s]
        a = agg.setdefault(h, {"host": h, "n_events": 0, "n_inserts": 0, "n_updates": 0, "n_deletes": 0,
                               "last_seq": -1, "last_ts_us": 0})
        a["n_events"] += 1
        a["n_" + g.ev_op[s] + "s"] += 1
        a["last_seq"] = max(a["last_seq"], s)
        a["last_ts_us"] = max(a["last_ts_us"], ts[s])
    rows = sorted(agg.values(), key=lambda a: a["host"])
    if edit:
        edit(rows)
    return pa.table({k: [r[k] for r in rows] for k in rows[0]})


def test_host_check(wal):
    g, t, o = wal
    assert o.check_hosts(host_table(g, t, 1199), 1199) == []

    def off_by_one(rows):
        rows[2]["n_deletes"] += 1

    def moved(rows):  # one event counted under the wrong host: sum unchanged
        rows[0]["n_events"] += 1
        rows[1]["n_events"] -= 1

    def dropped(rows):
        del rows[-1]

    for edit in (off_by_one, moved, dropped):
        assert o.check_hosts(host_table(g, t, 1199, edit), 1199), edit.__name__


def test_ledger_check():
    entries = [
        {"epoch_id": 0, "start_seq": -1, "end_seq": 99, "n_events": 100},
        {"compaction": True, "groups": [1]},
        {"epoch_id": 100, "start_seq": 99, "end_seq": 199, "n_events": 100},
    ]
    assert check_ledger(entries, 200, 199, 200) == []
    assert check_ledger(entries, 201, 199, 200)  # an event not counted
    assert check_ledger(entries, 200, 200, 200)  # watermark short of the WAL
    assert check_ledger(entries, 200, 199, 199)  # lineage short by one row
    gap = [dict(entries[0]), dict(entries[2], start_seq=100)]
    assert check_ledger(gap, 200, 199, None)
