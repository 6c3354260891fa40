"""Inputs of the in-repo kernel byte lock (tests/test_kernel_lock.py).

Three page sets, each a list of ``(key, url, html)``:

* ``golden_pages``: the three ``tests/golden`` pages fed back in as input,
  at the URL their canonical link names;
* ``template_pages``: the sf0.01 template pages the kernel oracles are
  pinned on (``nreadability_spark.spark.pages.template_html_py``);
* ``soup_pages``: a seeded adversarial tag-soup corpus generated here.
  Its shapes are the ones that make the kernel's scoring and cleanup
  expensive or fragile: chains of unclosed ``<table>``s, 10-80-deep
  unclosed nesting, ``<br>`` runs, ``<font>``, entity soup, Unicode
  whitespace, CDATA, comments, nested ``<a>``, navigation and footer link
  lists whose classes hit the negative/pagination regexes, next-page link
  candidates, and thin pages that take the unlikely-stripping fallback.

Everything is pure Python over ``random.Random(SOUP_SEED)``, so the corpus
is the same on every machine and run.
"""

from __future__ import annotations

import glob
import os
import random
import re

SOUP_SEED = 20261017
N_SOUP = 72

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "golden")

WORDS = ("alpha beta gamma delta story review market city river court "
         "winter budget school report season vote plan data line page "
         "night field table value").split()
ENTITIES = ("&amp;", "&lt;", "&gt;", "&nbsp;", "&copy;", "&#169;", "&#x2014;",
            "&bogus;", "& ", "&#;", "&#xZZ;", "&quot;", "&eacute;", "&#8217;",
            "&#44;", "&#x2c;")
# text whitespace that str.strip() and the \s{2,} collapse both treat as
# whitespace, beside the ASCII kinds
SPACES = (" ", "  ", "\t", "\r\n", "\n \n", "\xa0", "\x1c", "　",
          " ", " \xa0 ")
NAV_CLASSES = ("nav menu", "footer comment", "sidebar widget", "pagination",
               "paging", "page-nav", "related stories", "news list",
               "content pager", "tools", "post-meta")
LINK_TEXTS = ("Next", "next page", "Next story", "2", "3", "10", "1",
              "« prev", "older posts", "first", "last", "Continue reading",
              "more news", "print", "share", "weiter", "dalej »", "Page 4")


def _ws(rng: random.Random) -> str:
    return rng.choice(SPACES) if rng.random() < 0.3 else " "


def _words(rng: random.Random, n: int) -> str:
    out = []
    for _ in range(n):
        out.append(rng.choice(WORDS))
        r = rng.random()
        if r < 0.08:
            out.append(",")
        elif r < 0.12:
            out.append(".")
        out.append(_ws(rng))
    return "".join(out)


def _inline(rng: random.Random) -> str:
    t = _words(rng, rng.randint(3, 18))
    pick = rng.randrange(9)
    if pick == 0:
        return f"<b>{t}</b>{rng.choice(ENTITIES)}"
    if pick == 1:
        return f'<font size="2" color="#{rng.randrange(16**6):06x}">{t}</font>'
    if pick == 2:
        return f'<a href="/p/{rng.randrange(10**4)}">{t}</a>'
    if pick == 3:  # nested anchors, closed and unclosed
        return (f'<a href="/x/{rng.randrange(99)}">{t}<a href="/y">'
                f"{_words(rng, 3)}</a>{_words(rng, 2)}</a>")
    if pick == 4:
        return f"<![CDATA[{t}, raw <b> payload ]]>"
    if pick == 5:
        return f"<!-- {t} -->{_words(rng, 4)}"
    if pick == 6:
        return " ".join(rng.choice(ENTITIES) for _ in range(rng.randint(2, 8)))
    if pick == 7:
        return f"<i>{t}<span>{_ws(rng)}{_words(rng, 4)}</span></i>"
    return t


def _para(rng: random.Random) -> str:
    body = "".join(_inline(rng) for _ in range(rng.randint(1, 6)))
    return f"<p>{body}" + ("</p>" if rng.random() < 0.6 else "")


def _nav(rng: random.Random) -> str:
    cls = rng.choice(NAV_CLASSES)
    items = []
    for _ in range(rng.randint(3, 20)):
        href = rng.choice((
            f"/section/{rng.randrange(10**4)}", f"?page={rng.randint(1, 12)}",
            f"/page/{rng.randint(1, 9)}/", f"p{rng.randint(1, 30)}",
            f"/story-{rng.randint(1, 99)}.html#top", "mailto:x@example.org",
            "http://elsewhere.example.com/1", "", "#"))
        text = rng.choice(LINK_TEXTS) if rng.random() < 0.5 else \
            _words(rng, rng.randint(1, 3))
        attrs = ""
        if rng.random() < 0.3:
            attrs = f' class="{rng.choice(NAV_CLASSES)}"'
        inner = (f'<img src="i.png" alt="{rng.choice(LINK_TEXTS)}">'
                 if rng.random() < 0.15 else "")
        items.append(f'<li><a href="{href}"{attrs}>{inner}{text}</a>')
    tag = rng.choice(("div", "td", "span", "section"))
    close = "</ul>" if rng.random() < 0.7 else ""
    return f'<{tag} class="{cls}" id="n{rng.randrange(99)}"><ul>' \
        f"{''.join(items)}{close}</{tag}>"


def _table_chain(rng: random.Random) -> str:
    """Unclosed tables: each one swallows the rest into its last cell."""
    out = []
    for _ in range(rng.randint(3, 30)):
        cells = "".join(f"<td>{_words(rng, rng.randint(1, 6))}"
                        for _ in range(rng.randint(1, 3)))
        out.append(f'<table class="{rng.choice(("layout", "main", "ad"))}">'
                   f"<tr>{cells}<td>")
        if rng.random() < 0.5:
            out.append(_para(rng))
    return "".join(out)


def _deep(rng: random.Random) -> str:
    depth = rng.randint(10, 80)
    tags = [rng.choice(("div", "span", "section", "font", "b", "center",
                        "div", "div")) for _ in range(depth)]
    opened = "".join(
        f'<{t} class="{rng.choice(("n", "text", "para", "post", "meta"))}{i}">'
        + (_words(rng, rng.randint(0, 3)) if rng.random() < 0.3 else "")
        for i, t in enumerate(tags))
    closed = "".join(f"</{t}>" for t in reversed(tags[rng.randrange(depth):]))
    return opened + _para(rng) + _words(rng, rng.randint(5, 40)) + closed


def _block(rng: random.Random) -> str:
    kind = rng.randrange(12)
    if kind <= 2:
        return _para(rng)
    if kind == 3:  # bare text beside blocks, with a <br> run
        brs = "".join(rng.choice(("<br>", "<br/>", "<br />", "<br>&nbsp;",
                                  "<br>\n "))
                      for _ in range(rng.randint(2, 7)))
        return (f"<div>{_words(rng, rng.randint(5, 30))}{brs}"
                f"{_words(rng, rng.randint(3, 15))}<p>{_words(rng, 8)}</p>"
                f"{_words(rng, 4)}</div>")
    if kind == 4:
        return _table_chain(rng)
    if kind == 5:
        return _deep(rng)
    if kind == 6:
        return _nav(rng)
    if kind == 7:  # headers, some link-heavy
        h = rng.randint(1, 6)
        inner = (f'<a href="/h">{_words(rng, 3)}</a>' if rng.random() < 0.5
                 else _words(rng, rng.randint(1, 6)))
        return f"<h{h} class=\"{rng.choice(('', 'title', 'footer'))}\">" \
            f"{inner}</h{h}>"
    if kind == 8:  # media, forms and embeds for the cleanup rules
        return rng.choice((
            f'<div><img src="a{rng.randrange(99)}.jpg"><img src="b.jpg">'
            f"{_words(rng, 3)}</div>",
            '<div><form><input name=a><input name=b></form></div>',
            '<div><embed src="http://www.youtube.com/v/x"><embed src="e.swf">'
            f"{_words(rng, 10)}</div>",
            '<object data="http://vimeo.com/1"></object><iframe src="f">'
            "</iframe>",
            f"<ul>{''.join(f'<li>{_words(rng, 2)}' for _ in range(40))}</ul>"))
    if kind == 9:  # a likely-paragraph div wrapping one <p>
        return (f'<div class="{rng.choice(("text", "parbase", "para"))}">'
                f"<p>{_words(rng, rng.randint(10, 40))}</p></div>")
    if kind == 10:
        return f"<pre>{_words(rng, 10)}\n\n  {_words(rng, 5)}</pre>"
    return (f"<div class=\"{rng.choice(NAV_CLASSES)}\">"
            f"{_words(rng, rng.randint(20, 60))}</div>")


_TITLES = ("{w} | Soup {i}", "{w}: a report", "{w}",
           "{w} - {w} - {w} {w} {w} {w} {w} {w} {w} {w} {w} {w} {w} {w} {w}",
           "Short")


def soup_page(i: int) -> tuple[str, str, str]:
    rng = random.Random(SOUP_SEED * 1009 + i)
    host = ("www.theverge.com" if i % 17 == 3
            else f"soup{i % 13}.example.net")
    url = f"http://{host}/{i}/story-{i}.html"
    title = rng.choice(_TITLES).format(w=_words(rng, 3).strip(), i=i)
    head = (f"<html><head><title>{title}</title>"
            "<style>p{margin:0}</style><script>var a = 1 < 2;</script>"
            "</head><body>")
    if i % 9 == 4:  # thin page: the fallback re-runs without stripping
        return (f"soup{i:03d}", url,
                head + _nav(rng) + f'<div class="comment">{_words(rng, 12)}'
                f"</div>{_nav(rng)}</body></html>")
    parts = [head]
    if i % 17 == 3:
        parts.append("<article>")
    n_blocks = rng.randint(4, 28)
    for _ in range(n_blocks):
        parts.append(_block(rng))
    parts.append(f'<a href="/{i}/story-{i}.html?page=2" class="next">'
                 f"{rng.choice(LINK_TEXTS)}</a>")
    parts.append(_nav(rng))
    if rng.random() < 0.7:
        parts.append("</body></html>")
    return f"soup{i:03d}", url, "".join(parts)


def soup_pages() -> list[tuple[str, str, str]]:
    return [soup_page(i) for i in range(N_SOUP)]


_RX_CANONICAL = re.compile(r'rel="canonical" href="([^"]+)"')


def golden_pages() -> list[tuple[str, str, str]]:
    out = []
    for path in sorted(glob.glob(os.path.join(GOLDEN_DIR, "*.html"))):
        with open(path, encoding="utf-8", newline="") as f:
            html = f.read()
        m = _RX_CANONICAL.search(html)
        url = m.group(1) if m else "http://example.org/golden/article.html"
        out.append((os.path.basename(path), url, html))
    return out


def template_pages(sf_dir: str) -> list[tuple[str, str, str]]:
    import duckdb
    from nreadability_spark.spark.pages import (template_html_py,
                                                template_url_py)
    docs = duckdb.sql(f"select doc_id, text from '{sf_dir}/documents.parquet'"
                      " order by doc_id").fetchall()
    return [(str(d), template_url_py(d), template_html_py(d, t))
            for d, t in docs]
