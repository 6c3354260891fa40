"""Seeded inputs of the benchmark workloads.

Everything here is pure Python over ``random.Random`` and owns its page
shapes: the benchmark never renders its inputs with the engine's own
synthesis helpers, so a change to the engine cannot silently change what
it is measured on.

Page *content* is fixed by ``BASE_SEED``. The run seed (``--seed``) picks
the row order, and with it the file and partition each page lands in, the
WARC segment of each record and the HTTP coding of its envelope. Outputs
are therefore the same multiset for every seed, which is what lets one
pinned digest per workload check a run at any seed.
"""

from __future__ import annotations

import gzip
import os
import random
import zlib

BASE_SEED = 20261016

# The documents table follows the shape of the engine's sf0.1 test table:
# 5,000 rows of 10-99 words drawn uniformly from this 30-word vocabulary,
# 40% "en" and 15% each of four other languages, sources src0-src19 by
# doc_id, and 5% near-duplicates (another row's text plus " dup"), some of
# which coincide into exact duplicates.
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (40, 15, 15, 15, 15)
NEAR_DUP_SHARE = 0.05
N_DOCS = 5000

# entity soup: named, numeric, hex, unknown and malformed references
ENTITIES = ("&amp;", "&lt;", "&gt;", "&nbsp;", "&copy;", "&#169;", "&#x2014;",
            "&bogus;", "& ", "&#;", "&#xZZ;", "&quot;", "&eacute;", "&#8217;")


def _words(rng: random.Random, n: int) -> str:
    # Zipf-ish: low word indexes dominate, as in running text
    return " ".join(WORDS[min(int(rng.paretovariate(1.2)) - 1,
                              len(WORDS) - 1)] for _ in range(n))


def documents(n: int) -> list[dict]:
    """The ``documents`` table: doc_id, text, lang, source, n_chars."""
    rng = random.Random(BASE_SEED * 7919)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(10, 99)))
             for _ in range(n)]
    langs = rng.choices(LANGS, LANG_WEIGHTS, k=n)
    for d in rng.sample(range(n), int(n * NEAR_DUP_SHARE)):
        texts[d] = texts[rng.randrange(n)] + " dup"
    return [{"doc_id": d, "text": t, "lang": lang, "source": f"src{d % 20}",
             "n_chars": len(t)} for d, (t, lang) in enumerate(zip(texts, langs))]


def page_url(doc_id: int) -> str:
    return f"https://host{doc_id % 97}.example.org/articles/{doc_id}"


def template_page(doc_id: int, text: str) -> tuple[str, bytes]:
    """A small article page: sidebar nav, the text in three paragraphs,
    bare div text, a double <br>, a widget table, a relative image, a
    next-page link and a footer. Every 97th page is contentless and every
    20th ends in an unterminated <script>."""
    title = f"Article {doc_id}"
    if doc_id % 97 == 0:
        html = f"<html><head><title>{title}</title></head><body></body></html>"
        return page_url(doc_id), html.encode()
    nav = "".join(f'<a href="/nav/{k}">{w}</a>'
                  for k, w in enumerate(WORDS[:6], 1))
    html = (
        f"<html><head><title>{title} | Site {doc_id % 97}</title>"
        '<meta name="viewport" content="width=1000" />'
        "<style>.x{color:#000}</style>"
        '<script src="/app.js">var x=1;</script></head><body>'
        f'<div class="sidebar">{nav}</div>'
        f'<div id="main" class="article content"><h1>{title}</h1>'
        f"<p>{text}</p><p>{text[:220]}, {text[:120]}</p><p>{text[:64]}</p>"
        '<div>bare text inside a div<a href="/x">link</a>trailing text</div>'
        "intro line<br /><br />after the break"
        '<table class="widget"><tr><td><a href="/w1">w</a></td></tr></table>'
        f'<p><img src="img/{doc_id}.jpg" /></p>'
        f'<a href="/articles/{doc_id}?page=2">Next Page 2</a></div>'
        '<div class="footer comment">copyright junk links</div>'
        "</body></html>")
    if doc_id % 20 == 0:
        html = html[:len(html) * 2 // 3] + "<script>var broken = '"
    return page_url(doc_id), html.encode()


def small_pages(n: int) -> list[tuple[str, bytes]]:
    """Template pages of the first ``n`` rows of the documents table."""
    return [template_page(r["doc_id"], r["text"])
            for r in documents(N_DOCS)[:n]]


# --- heavy tag soup ----------------------------------------------------------

HEAVY_MIN_BYTES = 3_000
HEAVY_MAX_BYTES = 300_000
_HEAVY_ALPHA = 1.15


def heavy_sizes(n: int) -> list[int]:
    """Target sizes with a Pareto tail, taken at fixed quantiles so every
    corpus of ``n`` pages has exactly the same size profile."""
    sizes = [min(HEAVY_MAX_BYTES,
                 int(HEAVY_MIN_BYTES * (1 - (k + 0.5) / n) ** (-1 / _HEAVY_ALPHA)))
             for k in range(n)]
    random.Random(BASE_SEED).shuffle(sizes)
    return sizes


def _inline(rng: random.Random) -> str:
    t = _words(rng, rng.randint(6, 30))
    pick = rng.random()
    if pick < 0.2:
        return f"<b>{t}</b> {rng.choice(ENTITIES)} "
    if pick < 0.35:
        return f'<font size="2" face="arial" color="#{rng.randrange(16**6):06x}">{t}</font> '
    if pick < 0.5:
        return f"<i>{t}</i>{rng.choice(ENTITIES)}{rng.choice(ENTITIES)} "
    if pick < 0.6:
        return f'<a href="../p/{rng.randrange(10**4)}">{t}</a> '
    return t + " "


def _block(rng: random.Random) -> str:
    kind = rng.randrange(9)
    if kind <= 2:  # paragraph, sometimes left unclosed
        body = "".join(_inline(rng) for _ in range(rng.randint(2, 6)))
        return f"<p>{body}" + ("</p>" if rng.random() < 0.7 else "")
    if kind == 3:  # bare text in a div, with a stray <br> run
        return (f"<div>{_words(rng, rng.randint(10, 40))}"
                + "<br>" * rng.randint(2, 6)
                + f"{_words(rng, rng.randint(5, 20))}</div>")
    if kind == 4:  # unclosed table
        rows = "".join(
            "<tr>" + "".join(f"<td>{_words(rng, rng.randint(1, 8))}"
                             for _ in range(rng.randint(1, 4)))
            for _ in range(rng.randint(2, 6)))
        return f'<table class="layout">{rows}'
    if kind == 5:  # deep nesting, partly unclosed
        depth = rng.randint(10, 80)
        tags = [rng.choice(("div", "span", "section", "font", "b"))
                for _ in range(depth)]
        opened = "".join(f'<{t} class="n{i}">' for i, t in enumerate(tags))
        closed = "".join(f"</{t}>" for t in reversed(tags[depth // 3:]))
        return opened + _words(rng, rng.randint(10, 50)) + closed
    if kind == 6:  # comments and entity soup
        soup = " ".join(rng.choice(ENTITIES) for _ in range(rng.randint(5, 20)))
        return f"<!-- {_words(rng, 6)} --><p>{soup} {_words(rng, 20)}</p><!-- -->"
    if kind == 7:  # image with a relative src
        return f'<p><img src="img/{rng.randrange(10**5)}.jpg" alt="x"></p>'
    return (f"<h2>{_words(rng, rng.randint(2, 6))}</h2>"
            f"<p>{_words(rng, rng.randint(30, 90))}</p>")


def _nav(rng: random.Random, n_links: int, cls: str) -> str:
    items = "".join(f'<li><a href="/section/{rng.randrange(10**4)}">'
                    f"{_words(rng, rng.randint(1, 3))}</a></li>"
                    for _ in range(n_links))
    return f'<div class="{cls}"><ul>{items}</ul></div>'


def heavy_page(i: int, size: int) -> tuple[str, bytes]:
    """One tag-soup page of about ``size`` bytes. Every 12th page is thin
    (a line of text among navigation) and every 25th has no content, so
    the thin-content fallback runs on a fixed share of pages."""
    rng = random.Random(BASE_SEED * 104729 + i)
    url = f"https://soup{i % 31}.example.net/{i}/story.html"
    head = (f"<html><head><title>{_words(rng, 5)} | Soup {i % 31}</title>"
            "<style>p{margin:0}</style><script>var a=1;</script></head><body>")
    nav = _nav(rng, rng.randint(20, 80), "nav menu")
    foot = _nav(rng, rng.randint(10, 40), "footer comment")
    if i % 25 == 7:
        return url, (head + nav + foot + "</body></html>").encode()
    if i % 12 == 5:
        return url, (head + nav + f"<div><p>{_words(rng, 12)}</p></div>"
                     + foot + "</body></html>").encode()
    parts = [head, nav, '<div id="story" class="article">']
    n = len(head) + len(nav) + len(foot)
    while n < size:
        b = _block(rng)
        parts.append(b)
        n += len(b)
    nxt = f'<a href="/{i}/story.html?page=2">Next Page</a>'
    parts += [nxt, "</div>", foot, "</body></html>"]
    return url, "".join(parts).encode()


def heavy_pages(n: int) -> list[tuple[str, bytes]]:
    return [heavy_page(i, s) for i, s in enumerate(heavy_sizes(n))]


def permutation(n: int, seed: int) -> list[int]:
    order = list(range(n))
    random.Random(seed).shuffle(order)
    return order


# --- WARC -------------------------------------------------------------------

def _chunked(payload: bytes, size: int = 700) -> bytes:
    out = [b"%x\r\n" % len(payload[k:k + size]) + payload[k:k + size] + b"\r\n"
           for k in range(0, len(payload), size)]
    return b"".join(out) + b"0\r\n\r\n"


def _raw_deflate(payload: bytes) -> bytes:
    c = zlib.compressobj(wbits=-15)
    return c.compress(payload) + c.flush()


# (extra HTTP headers, body transform) per envelope coding
CODINGS = (
    (b"", lambda b: b),
    (b"Transfer-Encoding: chunked\r\n", _chunked),
    (b"Content-Encoding: gzip\r\n", lambda b: gzip.compress(b, mtime=0)),
    (b"Content-Encoding: deflate\r\n", zlib.compress),
    (b"Content-Encoding: deflate\r\n", _raw_deflate),
    (b"Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
     lambda b: _chunked(gzip.compress(b, mtime=0))),
)


def _warc_record(wtype: str, uri: str, payload: bytes) -> bytes:
    head = f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
    if uri:
        head += f"WARC-Target-URI: {uri}\r\n"
    head += ("WARC-Date: 2026-01-01T00:00:00Z\r\n"
             f"Content-Length: {len(payload)}\r\n\r\n")
    return head.encode() + payload + b"\r\n\r\n"


def write_warc(out_dir: str, pages: list[tuple[str, bytes]], seed: int,
               n_files: int) -> None:
    """Per-record-gzip WARC segments of ``pages`` (one gzip member per
    record, as Common Crawl ships them). The seed shuffles the records
    over the segments and rotates the HTTP codings; every 40th record is
    followed by a request record the reader must drop."""
    os.makedirs(out_dir, exist_ok=True)
    segs: list[list[bytes]] = [[] for _ in range(n_files)]
    segs[0].append(gzip.compress(
        _warc_record("warcinfo", "", b"software: perfbench\r\n"), mtime=0))
    for k, idx in enumerate(permutation(len(pages), seed)):
        url, html = pages[idx]
        extra, encode = CODINGS[(k + seed) % len(CODINGS)]
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
                + extra + b"\r\n" + encode(html))
        seg = segs[k % n_files]
        seg.append(gzip.compress(_warc_record("response", url, http), mtime=0))
        if k % 40 == 0:
            seg.append(gzip.compress(
                _warc_record("request", url, b"GET / HTTP/1.1\r\n\r\n"), mtime=0))
    for k, members in enumerate(segs):
        with open(os.path.join(out_dir, f"seg-{k:03d}.warc.gz"), "wb") as f:
            f.write(b"".join(members))
