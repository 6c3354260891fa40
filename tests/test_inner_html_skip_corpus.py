"""Corpus-wide equivalence of the no-op SetInnerHtml skip path.

The kernel's hottest optimization (_set_inner_html_if_changed,
transcoder.py) replicates the observable effects of the reference's
unconditional re-parse (attribute clear + adjacent-text merge +
whitespace-text drop) without paying the fragment re-parse when the
regex rewrite changed nothing. Its equivalence rests on global tree
invariants, so a single handcrafted example is not enough evidence: this
test forces the full re-parse at every call site and asserts the
transcoder output is byte-identical across the whole HTML fixture corpus
(all reference SampleInput + SampleWebInput pages, when present), the
kernel-lock corpus (tests/kernel_corpus.py: golden and tag-soup pages)
plus a slice of the synthetic template pages.
"""

import glob
import os

import kernel_corpus
import pytest

from nreadability_spark.readability import transcode
from nreadability_spark.readability import transcoder as T
from nreadability_spark.spark.pages import FIXTURE_DIR

REF_FIXTURES = sorted(
    glob.glob(os.path.join(FIXTURE_DIR, "SampleInput", "*.html"))
    + glob.glob(os.path.join(FIXTURE_DIR, "SampleWebInput", "*.html")))

# URL-hinted cases exercise the per-URL <article> shortcut too
SAMPLE_URLS = {
    "SampleInput_14.html":
        "http://www.theverge.com/2011/11/2/2532203/galaxy-nexus-review",
    "SampleInput_15.html":
        "http://www.theverge.com/2011/11/7/2541402/"
        "droid-razr-review",
}


def _result_tuple(html: str, url):
    r = transcode(html, url)
    return (r.content_extracted, r.title, r.content, r.content_text,
            r.next_page_url)


def _fixture_corpus():
    """(name, url, html) of the reference pages that are present and the
    kernel-lock corpus, which is always present."""
    pages = []
    for path in REF_FIXTURES:
        with open(path, "rb") as f:
            html = f.read().decode("utf-8", errors="replace")
        name = os.path.basename(path)
        pages.append((name, SAMPLE_URLS.get(name), html))
    return pages + kernel_corpus.golden_pages() + kernel_corpus.soup_pages()


def test_skip_path_equals_forced_reparse_on_fixture_corpus(monkeypatch):
    forced_calls = {"n": 0}

    def forced(element, old_html, new_html):
        forced_calls["n"] += 1
        T.set_inner_html(element, new_html)

    def result(html, url):
        try:
            return _result_tuple(html, url)
        except ValueError:
            return "ValueError"

    pages = _fixture_corpus()
    results_skip = {name: result(html, url) for name, url, html in pages}

    monkeypatch.setattr(T, "_set_inner_html_if_changed", forced)
    for name, url, html in pages:
        assert result(html, url) == results_skip[name], (
            f"skip path diverges from forced re-parse on {name}")
    assert forced_calls["n"] > 0  # the patch actually took


_frag = None
try:
    from hypothesis import given, settings, strategies as st
    # fragments biased toward the restructure-prone shapes: block tags
    # missing from _DivToPElementsRegex inside divs that the transcoder
    # may rename to <p>
    _frag = st.sampled_from([
        "<div class='x'>", "</div>", "<h2>head</h2>", "<hr>",
        "<form><input></form>", "<p>para with words, commas. " * 3,
        "<div>", "plain text run. ", "<span>inline</span>",
        "<h1>t</h1>", "<center>c</center>", "<br><br>",
        "<font size=2>f</font>", "<ul><li>item</li></ul>",
        "<blockquote>q</blockquote>", "<address>a</address>",
    ])
    _soup = st.lists(_frag, min_size=3, max_size=25).map("".join)

    @given(_soup)
    @settings(max_examples=60, deadline=None)
    def test_skip_path_equals_forced_reparse_fuzz(html):
        doc = "<html><body>" + html + "</body></html>"
        orig = T._set_inner_html_if_changed
        try:
            base = _result_tuple(doc, None)
        except ValueError:
            return
        def forced(element, old_html, new_html):
            T.set_inner_html(element, new_html)
        T._set_inner_html_if_changed = forced
        try:
            got = _result_tuple(doc, None)
        finally:
            T._set_inner_html_if_changed = orig
        assert got == base
except ImportError:  # hypothesis not installed: corpus tests still run
    pass


def test_skip_path_equals_forced_reparse_on_synthetic_pages(monkeypatch):
    """Template pages (incl. the truncated-script retry shape) through
    both paths."""
    import duckdb
    from nreadability_spark.spark.pages import (template_html_py,
                                                template_url_py)
    sf = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    docs = duckdb.sql(
        f"select doc_id, text from '{sf}/documents.parquet' "
        "order by doc_id limit 40").fetchall()
    pages = [(template_url_py(d), template_html_py(d, t)) for d, t in docs]

    base = {u: _result_tuple(h, u) for u, h in pages}

    def forced(element, old_html, new_html):
        T.set_inner_html(element, new_html)

    monkeypatch.setattr(T, "_set_inner_html_if_changed", forced)
    for u, h in pages:
        assert _result_tuple(h, u) == base[u], u
