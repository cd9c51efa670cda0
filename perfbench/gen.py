"""Seeded WAL generator for the benchmark, independent of the engine.

It writes change events in the engine's WAL schema (seq, op, url,
warc_ts, html, lang) as plain pyarrow parquet files, single process, and
keeps for every event the visible text its page carries. That text is
known by construction: a page is rendered from tokens and separators
whose effect under the extraction rules (script/style blocks and
comments vanish, tags become a space, seven named entities decode with
``&amp;`` last, whitespace runs collapse, ends are stripped) is fixed, so
the expected text is the tokens joined by single spaces. Nothing here
calls the engine's extractor or its own WAL generator.

Everything is a pure function of the seed and the workload shape.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00Z in microseconds; event time advances 1 s per seq
BASE_TS_US = 1_704_067_200 * 1_000_000
SEQ_US = 1_000_000

WAL_SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("lang", pa.string()),
    ]
)

# -- page vocabulary ---------------------------------------------------------
# (html form, visible text form). Multibyte UTF-8, entities that decode,
# entities that must NOT decode twice, unknown entities kept literally, a
# zero-width space (not whitespace) inside a word.
_WORDS = [
    "data", "stream", "change", "table", "the", "and", "of", "crawl",
    "naïve", "Grüße", "façade", "mañana", "résumé", "日本語", "Ελληνικά",
    "Ткань", "😀ok", "zero​width", "über", "Ærø", "ĳssel", "中文字",
]
_ENTITY_TOKENS = [
    ("AT&amp;T", "AT&T"),
    ("1&lt;2", "1<2"),
    ("x&gt;y", "x>y"),
    ("&quot;q&quot;", '"q"'),
    ("it&#39;s", "it's"),
    ("&copy;2024", "©2024"),
    ("&amp;lt;kept&amp;gt;", "&lt;kept&gt;"),
    ("&amp;nbsp;", "&nbsp;"),
    ("&amp;amp;", "&amp;"),
    ("&hellip;", "&hellip;"),
    ("a&amp;b&lt;c", "a&b<c"),
]
# whitespace-producing separators (each yields exactly one space in the
# text once runs collapse): ASCII runs, tabs/CR/LF, raw NBSP and EM SPACE
# (str.isspace), the &nbsp; entity, and tags (replaced by a space)
_SEPS = [
    " ", "  ", "\n", "\t", "\r\n", " \n\t ", " ", " ", "&nbsp;",
    "<br>", "<br/>", "</span><span class=\"k\">", "<b>", "</b>", "<i>",
    "</i>", "<a href=\"/x?a=1&amp;b=2\">", "</a>", "<img src=\"p.png\" alt=\"\">",
    " &nbsp; ",
]
# blocks that vanish entirely (no space); only ever placed next to a
# separator so they never glue two tokens together
_VANISH = [
    "<script>var a = \"<p>not text</p>\"; if (a < b) {}</script>",
    "<SCRIPT type=\"text/javascript\">x = 1 &lt; 2;</SCRIPT >",
    "<style>p { color: red } /* <b> */</style>",
    "<Style media=\"all\">\n.a>.b { x: 1 }\n</STYLE>",
    "<!-- comment with <p>tags</p> and &amp; -->",
    "<!--\nmulti\nline\n-->",
    "<script></script>",
]


def render_tokens(tokens: list[tuple[str, str]], rng: np.random.Generator) -> tuple[str, str]:
    """(html fragment, expected text) for a token list. Every pair of
    tokens is separated by at least one space-producing separator;
    vanishing blocks and nested inline tags are mixed in. A few tokens
    are split by a comment (``wo<!-- -->rd`` reads ``word``)."""
    parts: list[str] = []
    for i, (h, _t) in enumerate(tokens):
        if i:
            parts.append(_SEPS[rng.integers(len(_SEPS))])
            if rng.random() < 0.08:
                parts.append(_VANISH[rng.integers(len(_VANISH))])
                parts.append(_SEPS[rng.integers(len(_SEPS))])
        if len(h) > 3 and "&" not in h and rng.random() < 0.03:
            cut = 1 + int(rng.integers(len(h) - 2))
            h = h[:cut] + "<!-- split -->" + h[cut:]
        parts.append(h)
    return "".join(parts), " ".join(t for _h, t in tokens)


def _pick_tokens(n: int, rng: np.random.Generator) -> list[tuple[str, str]]:
    out = []
    for _ in range(n):
        if rng.random() < 0.1:
            out.append(_ENTITY_TOKENS[rng.integers(len(_ENTITY_TOKENS))])
        else:
            w = _WORDS[rng.integers(len(_WORDS))]
            out.append((w, w))
    return out


def body_tokens(k: int, n_bodies: int) -> int:
    """Token count of body ``k`` of ``n_bodies``: the (k + 0.5)/n
    quantile of a Lomax distribution (shape 1.3) capped at 3000 tokens,
    so most pages are small and a few are large. Sizes are quantiles,
    not draws, so every seed has the same size mix and only contents
    and which page each event carries depend on the seed."""
    q = (k + 0.5) / n_bodies
    return int(min(8 + 16 * ((1 - q) ** (-1 / 1.3) - 1), 3000))


def make_body(n_tok: int, rng: np.random.Generator) -> tuple[str, str]:
    """One page body: nested block structure around ``n_tok`` tokens."""
    tokens = _pick_tokens(n_tok, rng)
    paras: list[str] = []
    texts: list[str] = []
    i = 0
    while i < len(tokens):
        k = int(rng.integers(4, 40))
        html, text = render_tokens(tokens[i : i + k], rng)
        depth = int(rng.integers(0, 3))
        open_ = "".join("<div class=\"d%d\">" % d for d in range(depth))
        close = "</div>" * depth
        paras.append(f"{open_}<p>{html}</p>{close}\n")
        texts.append(text)
        i += k
    if rng.random() < 0.5:
        paras.insert(int(rng.integers(len(paras) + 1)), _VANISH[rng.integers(len(_VANISH))] + "\n")
    return "".join(paras), " ".join(texts)


def page_head(url: str, seq: int) -> tuple[str, str]:
    """Per-event head: the url and the event's seq are visible text, so
    every version of a page has its own html and text."""
    esc = url.replace("&", "&amp;")
    html = (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
        f"<title>Snapshot&nbsp;of {esc}</title>\n"
        "<style>body { margin: 0 }</style>"
        "<script>var rev = \"</p>\";</script>\n</head>\n<body>\n"
        f"<h1 class=\"t\">rev&nbsp;{seq}</h1>\n"
    )
    return html, f"Snapshot of {url} rev {seq}"


PAGE_TAIL = "<footer>&copy; web <!-- end --> </footer>\n</body></html>\n"
PAGE_TAIL_TEXT = "© web"


@dataclass(frozen=True)
class Shape:
    """Workload input shape. Fractions are of events."""

    n_urls: int
    n_hosts: int
    hot_share: float = 0.0  # share of events on one hot url
    update_share: float = 0.55  # of events on a live url: update, else delete
    ghost_delete_share: float = 0.02  # deletes of urls never inserted
    late_share: float = 0.05  # events whose warc_ts lags their seq
    max_lateness: int = 1000  # seqs; must stay far inside tombstone retention
    n_bodies: int = 512
    lang_from_seq: int | None = None  # events at/after this seq carry `lang`


_LANGS = ["en", "de", "fr", "es", "vi"]


class WalGen:
    """Stateful, seeded event stream: ``events(n)`` continues where the
    previous call stopped (seq is contiguous from 0), so a closed-loop
    workload can land the WAL file by file."""

    def __init__(self, seed: int, shape: Shape, url_tag: str = "u"):
        self.seed = seed
        self.shape = shape
        self.rng = np.random.default_rng(seed)
        self.next_seq = 0
        # heavy-tailed host sizes: url i lives on host floor(H * u^2)
        hosts = [self._host(j) for j in range(shape.n_hosts)]
        u = self.rng.random(shape.n_urls)
        self.url_host = [hosts[int(shape.n_hosts * x * x)] for x in u]
        self.urls = [self._url(i, url_tag) for i in range(shape.n_urls)]
        self.hot_url = self.urls[0]
        body_rng = np.random.default_rng([seed, 1])
        bodies = [make_body(body_tokens(k, shape.n_bodies), body_rng) for k in range(shape.n_bodies)]
        self.body_html = [b[0].encode("utf-8") for b in bodies]
        self.body_text = [b[1] for b in bodies]
        self.live = np.zeros(shape.n_urls, dtype=bool)
        self.n_ghosts = 0
        #: per generated event (index = seq): url, host, op, body id
        self.ev_url: list[str] = []
        self.ev_host: list[str] = []
        self.ev_op: list[str] = []
        self.ev_body: list[int] = []
        self.ev_lang: list[str | None] = []

    def _host(self, j: int) -> str:
        # a few hosts carry a port or a plain-http scheme: the host key is
        # everything between "://" and the first "/"
        if j % 17 == 3:
            return f"h{j:04d}.example.org:8080"
        return f"h{j:04d}.example.org" if j % 5 else f"www.h{j:04d}.example.net"

    def _url(self, i: int, tag: str) -> str:
        host = self.url_host[i]
        scheme = "http" if i % 11 == 7 else "https"
        if i % 23 == 5:  # path-less url
            return f"{scheme}://{host}"
        return f"{scheme}://{host}/{tag}/{i}/p?x={i % 7}&y=ä"

    def events(self, n: int) -> pa.Table:
        sh = self.shape
        rng = self.rng
        seq0 = self.next_seq
        seqs = np.arange(seq0, seq0 + n, dtype=np.int64)
        r_key = rng.random(n)
        cold = rng.integers(1, sh.n_urls, n)
        r_op = rng.random(n)
        r_ghost = rng.random(n)
        r_late = rng.random(n)
        lag = rng.integers(1, sh.max_lateness + 1, n)
        jitter = rng.integers(0, SEQ_US, n)
        body = rng.integers(0, sh.n_bodies, n)
        r_lang = rng.integers(0, len(_LANGS), n)
        ops, urls, htmls, langs = [], [], [], []
        for k in range(n):
            seq = int(seqs[k])
            if r_ghost[k] < sh.ghost_delete_share:
                url = f"https://ghost.example.com/never/{self.seed}/{self.n_ghosts}"
                self.n_ghosts += 1
                op, host = "delete", "ghost.example.com"
            else:
                i = 0 if r_key[k] < sh.hot_share else int(cold[k])
                url, host = self.urls[i], self.url_host[i]
                if not self.live[i]:
                    op = "insert"
                    self.live[i] = True
                elif r_op[k] < sh.update_share:
                    op = "update"
                else:
                    op = "delete"
                    self.live[i] = False
            lang = None
            if op == "delete":
                html = None
            else:
                head, _ = page_head(url, seq)
                html = b"".join(
                    (head.encode("utf-8"), self.body_html[body[k]], PAGE_TAIL.encode("utf-8"))
                )
                if sh.lang_from_seq is not None and seq >= sh.lang_from_seq:
                    lang = _LANGS[r_lang[k]]
            ops.append(op)
            urls.append(url)
            htmls.append(html)
            langs.append(lang)
            self.ev_url.append(url)
            self.ev_host.append(host)
            self.ev_op.append(op)
            self.ev_body.append(int(body[k]))
            self.ev_lang.append(lang)
        late = r_late < sh.late_share
        ts = BASE_TS_US + np.where(late, seqs - lag, seqs) * SEQ_US + jitter
        self.next_seq += n
        return pa.table(
            {
                "seq": pa.array(seqs, pa.int64()),
                "op": pa.array(ops, pa.string()),
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(htmls, pa.binary()),
                "lang": pa.array(langs, pa.string()),
            },
            schema=WAL_SCHEMA,
        )

    def expected_text(self, seq: int) -> str | None:
        """The visible text of event ``seq``'s page (None for deletes)."""
        if self.ev_op[seq] == "delete":
            return None
        _, head = page_head(self.ev_url[seq], seq)
        return f"{head} {self.body_text[self.ev_body[seq]]} {PAGE_TAIL_TEXT}"

    def known_table(self) -> pa.Table:
        """The generator's own record of every event, for the oracle:
        seq, url, host, op, lang and the expected text."""
        n = self.next_seq
        return pa.table(
            {
                "seq": pa.array(np.arange(n, dtype=np.int64)),
                "url": pa.array(self.ev_url, pa.string()),
                "host": pa.array(self.ev_host, pa.string()),
                "op": pa.array(self.ev_op, pa.string()),
                "lang": pa.array(self.ev_lang, pa.string()),
                "text": pa.array([self.expected_text(s) for s in range(n)], pa.string()),
            }
        )


def land(table: pa.Table, wal_dir: str, rows_per_file: int) -> list[str]:
    """Write events as seq-ordered parquet files, each published by an
    atomic rename so a polling reader never sees a partial file."""
    os.makedirs(wal_dir, exist_ok=True)
    paths = []
    for off in range(0, table.num_rows, rows_per_file):
        part = table.slice(off, rows_per_file)
        seq0 = part.column("seq")[0].as_py()
        final = os.path.join(wal_dir, f"wal-{seq0:012d}.parquet")
        tmp = os.path.join(wal_dir, f".wal-{seq0:012d}.tmp")
        pq.write_table(part, tmp, compression="snappy")
        os.replace(tmp, final)
        paths.append(final)
    return paths
