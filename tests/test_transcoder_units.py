"""Unit-level assertions ported from the reference test suite
(Tests/NReadabilityTranscoderTests.cs — white-box operator tests)."""

import pytest

from nreadability_spark.readability import build_document, serialize_document
from nreadability_spark.readability.dom import Element, Text
from nreadability_spark.readability.transcoder import (
    Transcoder, get_user_style_class, get_body, OVERLAY_DIV_ID, INNER_DIV_ID,
)

LOREM_LONG = (
    "Praesent in arcu vitae erat sodales consequat. Nam tellus purus, "
    "volutpat ac elementum tempus, sagittis sed lacus. Sed lacus ligula, "
    "sodales id vehicula at, semper a turpis. Curabitur et augue odio, sed "
    "auctor massa. Ut odio massa, fringilla eu elementum sit amet, eleifend "
    "congue erat. Lorem ipsum dolor sit amet, consectetur adipiscing elit. "
    "Sed ultrices turpis dignissim metus porta id iaculis purus facilisis. "
    "Curabitur auctor purus eu nulla venenatis non ultrices nibh venenatis. "
    "Aenean dapibus pellentesque felis, ac malesuada nibh fringilla "
    "malesuada. In non mi vitae ipsum vehicula adipiscing. Sed a velit "
    "ipsum. Sed at velit magna, in euismod neque. Proin feugiat diam at "
    "lectus dapibus sed malesuada orci malesuada. Mauris sit amet orci "
    "tortor. Sed mollis, turpis in cursus elementum, sapien ante semper "
    "leo, nec venenatis velit sapien id elit. Praesent vel nulla mauris, "
    "nec tincidunt ipsum. Nulla at augue vestibulum est elementum sodales."
)
LOREM_LONGER = (
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit. Proin lacus "
    "ipsum, blandit sit amet cursus ut, posuere quis velit. Vivamus ut "
    "lectus quam, venenatis posuere erat. Sed pellentesque suscipit "
    "rhoncus. Vestibulum dictum est ut elit molestie vel facilisis dui "
    "tincidunt. Nulla adipiscing metus in nulla condimentum non mattis "
    "lacus tempus. Phasellus sed ipsum in felis molestie molestie. Sed "
    "sagittis massa orci, ut sagittis sem. Cras eget feugiat nulla. Nunc "
    "lacus turpis, porttitor eget congue quis, accumsan sed nunc. Vivamus "
    "imperdiet luctus molestie. Suspendisse eu est sed ligula pretium "
    "blandit. Proin eget metus nisl, at convallis metus. In commodo nibh a "
    "arcu pellentesque iaculis. Cras tincidunt vehicula malesuada. Duis "
    "tellus mi, ultrices sit amet dapibus sit amet, semper ac elit. Cras "
    "lobortis, urna eget consectetur consectetur, enim velit tempus neque, "
    "et tincidunt risus quam id mi. Morbi sit amet odio magna, vitae "
    "tempus sem. Lorem ipsum dolor sit amet, consectetur adipiscing elit. "
    "Curabitur at lectus sit amet augue tincidunt ornare sed vitae lorem. "
    "Cum sociis natoque penatibus et magnis dis parturient montes, "
    "nascetur ridiculus mus."
)


@pytest.fixture
def t():
    return Transcoder()


def count_tags(document, *tags):
    tags = {x.strip().lower() for x in tags}
    return sum(1 for e in document.descendants() if e.tag.lower() in tags)


def assert_html_content_is_empty(content):
    document = build_document(content.strip() if content else content)
    extra = [
        n for n in document.descendant_nodes()
        if (n.tag if isinstance(n, Element) else "")
        not in ("html", "head", "meta")
    ]
    assert len(extra) == 0, f"expected empty, found {extra}"


def assert_html_contents_equal(expected, actual):
    a = serialize_document(build_document(expected))
    b = serialize_document(build_document(actual))
    assert a == b


# --- StripUnlikelyCandidates -------------------------------------------------

def test_unlikely_candidates_removed(t):
    document = build_document('<div class="sidebar">Some content.</div>')
    t.strip_unlikely_candidates(document)
    assert_html_content_is_empty(serialize_document(document))


def test_maybe_candidates_not_removed(t):
    content = ('<div id="article" class="sidebar">'
               '<a href="#">Some widget</a></div>')
    document = build_document(content)
    t.strip_unlikely_candidates(document)
    assert_html_contents_equal(content, serialize_document(document))


def test_text_nodes_in_div_with_blocks_become_paragraphs(t):
    document = build_document(
        '<div>text node1<a href="#">Link</a>text node2</div>')
    t.strip_unlikely_candidates(document)
    assert count_tags(document, "p") == 2


def test_noop_inner_html_skip_matches_full_reparse(monkeypatch):
    """The fast path that skips a no-op set_inner_html must be observably
    identical to the reference's unconditional re-parse — including the
    text-node merge that re-parsing performs on adjacent runs left behind
    by script/style removals (a real page shape: text <script/> text)."""
    from nreadability_spark.readability import transcoder as tr

    body = ("<div id='main' class='article'>"
            "<p>Lorem ipsum dolor sit amet, consectetur adipiscing elit, "
            "sed do eiusmod tempor. Ut enim ad minim veniam, quis nostrud "
            "exercitation ullamco laboris nisi ut aliquip commodo.</p>"
            "<div>alpha words before the script, truly."
            "<script>var x = 1;</script>"
            "bar words after the script, indeed."
            "<p>inner block paragraph with plenty of prose to score, "
            "commas included, so the candidate machinery runs.</p></div>"
            "</div>")
    html = f"<html><head><title>T</title></head><body>{body}</body></html>"

    fast = tr.transcode(html, "http://example.org/articles/9")

    def always_reparse(element, old_html, new_html):
        tr.set_inner_html(element, new_html)

    monkeypatch.setattr(tr, "_set_inner_html_if_changed", always_reparse)
    slow = tr.transcode(html, "http://example.org/articles/9")
    assert fast.content == slow.content
    assert fast.content_text == slow.content_text
    assert fast.title == slow.title


def test_cdata_nodes_in_div_are_not_wrapped(t):
    # the reference wraps XmlNodeType.Text only: a recovered ASP block
    # (CDATA) inside a div must survive unwrapped, not become a styled <p>
    # that would re-parse its markup as HTML
    from nreadability_spark.readability.dom import Text

    document = build_document(
        '<div><% server code %><a href="#">Link</a>plain tail</div>')
    t.strip_unlikely_candidates(document)
    styled = [e for e in document.root.descendants()
              if e.get_class() == "readability-styled"]
    assert any("plain tail" in t.get_inner_text(e) for e in styled)
    assert not any("server code" in t.get_inner_text(e) for e in styled)
    cdatas = [n for n in document.root.descendant_nodes()
              if isinstance(n, Text) and n.is_cdata]
    assert len(cdatas) == 1


# --- CollapseRedundantParagraphDivs -----------------------------------------

def test_redundant_paragraph_divs_collapsed(t):
    paragraph = "<p>\n    Some paragraph.\n  </p>"
    content = f"<div>\n  {paragraph}\n</div>\n"
    document = build_document(content)
    t.collapse_redundant_paragraph_divs(document)
    assert_html_contents_equal(paragraph, serialize_document(document))


# --- GetLinksDensity ---------------------------------------------------------

def test_links_density_zero(t):
    document = build_document('<div id="container"></div>')
    el = document.get_element_by_id("container")
    assert t.get_links_density(el) == pytest.approx(0.0)


def test_links_density_one(t):
    document = build_document(
        '<div id="container"><a href="#">some link</a></div>')
    el = document.get_element_by_id("container")
    assert t.get_links_density(el) == pytest.approx(1.0)


def test_links_density_half(t):
    document = build_document(
        '<div id="container"><a href="#">some link</a>some link</div>')
    el = document.get_element_by_id("container")
    assert t.get_links_density(el) == pytest.approx(0.5)


# --- DetermineTopCandidateElement -------------------------------------------

def test_top_candidate_without_body(t):
    document = build_document("")
    candidates = t.find_candidates_for_article_content(document)
    assert len(candidates) == 0
    top = t.determine_top_candidate_element(document, candidates)
    assert top is not None


def test_top_candidate_fallback_to_body(t):
    document = build_document(
        "<body><p>Some paragraph.</p><p>Some paragraph.</p>some text</body>")
    candidates = t.find_candidates_for_article_content(document)
    assert len(candidates) == 0
    top = t.determine_top_candidate_element(document, candidates)
    assert top is not None
    nodes = top.nodes()
    assert len(nodes) == 3
    assert nodes[0].tag == "p"
    assert nodes[1].tag == "p"
    assert isinstance(nodes[2], Text)


def test_top_candidate_longer_paragraph_wins(t):
    content = (f'<div id="first-div"><p>{LOREM_LONG}</p></div>'
               f'<div id="second-div"><p>{LOREM_LONGER}</p></div>')
    document = build_document(content)
    candidates = t.find_candidates_for_article_content(document)
    assert len(candidates) == 2
    top = t.determine_top_candidate_element(document, candidates)
    assert top.get_id() == "second-div"


# --- CreateArticleContent ----------------------------------------------------

def test_create_article_content_empty_html(t):
    document = build_document("")
    candidates = t.find_candidates_for_article_content(document)
    top = t.determine_top_candidate_element(document, candidates)
    article = t.create_article_content_element(document, top)
    assert article.tag == "div"
    assert article.get_id()
    assert len(article.nodes()) == 1


def test_create_article_content_extracts_paragraph(t):
    content = (f'<div id="first-div"><p>{LOREM_LONG}</p></div>'
               '<div id="">some text</div>')
    document = build_document(content)
    candidates = t.find_candidates_for_article_content(document)
    top = t.determine_top_candidate_element(document, candidates)
    article = t.create_article_content_element(document, top)
    assert article.tag == "div"
    assert len(article.nodes()) == 1
    first = article.nodes()[0]
    assert first.get_id() == "first-div"
    assert len(first.nodes()) == 1
    assert first.nodes()[0].tag == "p"


# --- PrepareDocument ---------------------------------------------------------

def test_prepare_document_creates_body(t):
    document = build_document("")
    assert get_body(document) is None
    t.prepare_document(document)
    assert get_body(document) is not None


def test_prepare_document_removes_scripts_and_stylesheets(t):
    content = ('<html><head><link rel="StyleSheet" href="#" />'
               '<style></style><style /><style type="text/css"></style>'
               '</head><body><script type="text/javascript"></script>'
               '<script type="text/javascript" />'
               '<style type="text/css"></style>'
               '<link rel="styleSheet"></link><script></script>'
               '</body></html>')
    document = build_document(content)
    assert count_tags(document, "script", "style", "link") > 0
    t.prepare_document(document)
    assert count_tags(document, "script", "style", "link") == 0


@pytest.mark.parametrize("content", [
    "<html><head></head><noscript /><body>abc</body></html>",
    "<html><head></head><noscript>abc</noscript><body>abc</body></html>",
    "<html><head></head><body><noscript />abc</body></html>",
    "<html><head></head><body><noscript>abc</noscript>abc</body></html>",
])
def test_prepare_document_removes_noscript(t, content):
    document = build_document(content)
    assert count_tags(document, "noscript") > 0
    t.prepare_document(document)
    assert count_tags(document, "noscript") == 0


def test_prepare_document_keeps_readability_assets(t):
    content = ('<html><head>'
               '<link rel="stylesheet" href="http://domain.com/readability.css" />'
               '<script src="http://domain.com/readability.js"></script>'
               '</head><body>'
               '<script src="http://domain.com/readability.js"></script>'
               '<link rel="stylesheet" href="http://domain.com/readability.css" />'
               '</body></html>')
    document = build_document(content)
    before = count_tags(document, "script", "link")
    t.prepare_document(document)
    after = count_tags(document, "script", "link")
    assert before == after


def test_prepare_document_double_br_to_p(t):
    document = build_document(
        "<html><body>some text<br /><br />some other text</body></html>")
    assert count_tags(document, "p") == 0
    assert count_tags(document, "br") > 0
    t.prepare_document(document)
    assert count_tags(document, "br") == 0
    assert count_tags(document, "p") == 1


def test_prepare_document_font_to_span(t):
    document = build_document(
        "<html><body><font>some text</font></body></html>")
    assert count_tags(document, "span") == 0
    assert count_tags(document, "font") > 0
    t.prepare_document(document)
    assert count_tags(document, "font") == 0
    assert count_tags(document, "span") == 1


# --- GlueDocument ------------------------------------------------------------

def test_glue_document_adds_head(t):
    document = build_document("")
    body = t.prepare_document(document) or get_body(document) \
        or _ensure_body(document)
    document2 = build_document("")
    from nreadability_spark.readability.transcoder import get_or_create_body
    body2 = get_or_create_body(document2)
    assert count_tags(document2, "head") == 0
    t.glue_document(document2, None, body2)
    assert count_tags(document2, "head") == 1


def _ensure_body(document):
    from nreadability_spark.readability.transcoder import get_or_create_body
    return get_or_create_body(document)


def test_glue_document_includes_stylesheet(t):
    document = build_document("")
    body = _ensure_body(document)
    assert count_tags(document, "style") == 0
    t.glue_document(document, None, body)
    assert count_tags(document, "style") == 1


def test_glue_document_container_structure(t):
    document = build_document("")
    body = _ensure_body(document)
    t.glue_document(document, None, body)
    assert document.get_element_by_id(OVERLAY_DIV_ID) is not None
    assert document.get_element_by_id(INNER_DIV_ID) is not None


# --- GetUserStyleClass -------------------------------------------------------

def test_get_user_style_class():
    assert get_user_style_class("prefix", "") == "prefix"
    assert get_user_style_class("prefix", "abc") == "prefix-abc"
    assert get_user_style_class("prefix", "Abc") == "prefix-abc"
    assert get_user_style_class("prefix", "ABc") == "prefix-a-bc"
    assert get_user_style_class("prefix", "ABcD") == "prefix-a-bc-d"


# --- _inner_html_has_div_to_p fast path ---------------------------------------

def test_div_to_p_probe_matches_serialized_form_on_fixture_corpus():
    """The serialization-free RX_DIV_TO_P probe must agree with the
    serialized form (`RX_DIV_TO_P.search(get_inner_html())`) on every
    element of every fixture document and of the kernel-lock corpus —
    the A/B lock for the fast path."""
    import glob
    import os

    import kernel_corpus
    from nreadability_spark.readability.transcoder import (
        RX_DIV_TO_P, _inner_html_has_div_to_p, _traverse_elements)
    from nreadability_spark.spark.pages import FIXTURE_DIR

    files = sorted(glob.glob(os.path.join(
        FIXTURE_DIR, "SampleInput", "SampleInput_*.html")))
    pages = [(path, open(path, "rb").read().decode("utf-8", errors="replace"))
             for path in files]
    pages += [(key, html) for key, _, html in
              kernel_corpus.golden_pages() + kernel_corpus.soup_pages()]
    checked = 0
    for path, html in pages:
        document = build_document(html)
        if document.root is None:
            continue
        mismatches = []

        def probe(el):
            nonlocal checked
            fast = _inner_html_has_div_to_p(el)
            slow = RX_DIV_TO_P.search(el.get_inner_html()) is not None
            checked += 1
            if fast != slow:
                mismatches.append((path, el.tag, fast, slow))

        _traverse_elements(document.root, probe)
        assert not mismatches, mismatches[:5]
    assert checked > 1000


def test_div_to_p_probe_edge_nodes():
    """CDATA / comment / PI payloads are written raw, so block markers
    inside them must match exactly as the serialized form does; escaped
    text must NOT match."""
    from nreadability_spark.readability.transcoder import (
        _inner_html_has_div_to_p)
    from nreadability_spark.readability.dom import Comment

    el = Element("div")
    t = Text("<p> looks like a tag but serializes escaped")
    t.parent = el
    el.children.append(t)
    assert _inner_html_has_div_to_p(el) is False

    el2 = Element("div")
    c = Comment("hidden <table> marker")
    c.parent = el2
    el2.children.append(c)
    assert _inner_html_has_div_to_p(el2) is True

    el3 = Element("div")
    cd = Text("raw <img src=x>", is_cdata=True)
    cd.parent = el3
    el3.children.append(cd)
    assert _inner_html_has_div_to_p(el3) is True

    el4 = Element("div")
    addr = Element("address")  # '<address' matches the '<a' alternative
    addr.parent = el4
    el4.children.append(addr)
    assert _inner_html_has_div_to_p(el4) is True

def test_div_to_p_probe_pi_target_scanned():
    """A PI serializes as '<?{target} {data}?>' with BOTH parts raw: a
    tag-soup PI whose TARGET carries a block marker must match, and the
    probe must agree with the serialized form either way."""
    from nreadability_spark.readability.transcoder import (
        RX_DIV_TO_P, _inner_html_has_div_to_p)
    from nreadability_spark.readability.dom import ProcessingInstruction

    el = Element("div")
    pi = ProcessingInstruction("x<a", "y")
    pi.parent = el
    el.children.append(pi)
    assert _inner_html_has_div_to_p(el) is True
    assert RX_DIV_TO_P.search(el.get_inner_html()) is not None

    el2 = Element("div")
    pi2 = ProcessingInstruction("xml-stylesheet", "href='x.css'")
    pi2.parent = el2
    el2.children.append(pi2)
    assert _inner_html_has_div_to_p(el2) is False
    assert RX_DIV_TO_P.search(el2.get_inner_html()) is None
