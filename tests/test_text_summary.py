"""Invariants of the transcoder's inner-text summaries and next-page
ancestor flags.

The summaries replace subtree re-walks behind link density, candidate
scoring and conditional cleanup, so on every element they must give
exactly the figures the string functions give: the length and comma count
of ``get_inner_text(el)`` and the summed inner-text length of its ``<a>``
descendants, under both ``dont_normalize_spaces`` settings, whether read
through a phase's shared memo or a throwaway one. The memoized ancestor
flags must equal the per-link walk of ``find_next_page_link``.
"""

import random
from contextlib import nullcontext

from hypothesis import given, settings, strategies as st

from nreadability_spark.readability import build_document
from nreadability_spark.readability.dom import Comment, Element, Text
from nreadability_spark.readability.transcoder import (
    RX_NEG_LINK_PARENT, RX_NEGATIVE, RX_NEXT_LINK, RX_PAGE, RX_POSITIVE,
    Transcoder, _ancestor_flags)

# whitespace that strip() and \s both cover, beside plain text and commas
_PIECES = ["a", "bc", ",", ", ", " ", "  ", "\t", "\r\n", "\n", "\x1c",
           "\xa0", "　", " \xa0 ", ".", "x,y"]
_text = st.lists(st.sampled_from(_PIECES), max_size=6).map("".join)
_CLASSES = ["", "page", "pagination", "next", "footer", "sidebar",
            "stories", "content", "footer content", "news main", "x"]
_TAGS = ["a", "a", "div", "p", "span", "b"]

_leaf = st.one_of(
    _text.map(lambda s: ("text", s)),
    _text.map(lambda s: ("cdata", s)),
    _text.map(lambda s: ("comment", s)),
)
_tree = st.recursive(
    st.tuples(st.just("el"), st.sampled_from(_TAGS),
              st.sampled_from(_CLASSES), st.sampled_from(_CLASSES),
              st.lists(_leaf, max_size=4)),
    lambda kids: st.tuples(st.just("el"), st.sampled_from(_TAGS),
                           st.sampled_from(_CLASSES),
                           st.sampled_from(_CLASSES),
                           st.lists(st.one_of(_leaf, kids), max_size=5)),
    max_leaves=40)


def _build(spec) -> Element:
    kind = spec[0]
    if kind == "text":
        node = Text(spec[1])
    elif kind == "cdata":
        node = Text(spec[1], is_cdata=True)
    elif kind == "comment":
        node = Comment(spec[1])
    else:
        _, tag, cls, id_, kids = spec
        node = Element(tag)
        if cls:
            node.set_class(cls)
        if id_:
            node.set_id(id_)
        for kid in kids:
            child = _build(kid)
            child.parent = node
            node.children.append(child)
    return node


def _elements(root: Element) -> list[Element]:
    return [root] + list(root.descendants())


def _check_summaries(root: Element, seed: int) -> None:
    elements = _elements(root)
    for raw in (False, True):
        t = Transcoder(dont_normalize_spaces=raw)
        want = {}
        for el in elements:
            text = t.get_inner_text(el)
            links = sum(len(t.get_inner_text(a))
                        for a in el.get_elements_by_tag_name("a"))
            want[id(el)] = (len(text), text.count(","), links,
                            links / len(text) if text else 0.0)
        # throwaway memo per read, then one shared memo in a random order
        # (parents before, after and between their descendants)
        order = elements[:]
        random.Random(seed).shuffle(order)
        for shared in (False, True):
            with t._read_only_phase() if shared else nullcontext():
                for el in order:
                    summary = t._summary(el)
                    _, length, commas, _, _, links = summary
                    got = (length, commas, links, t.get_links_density(el))
                    assert got == want[id(el)], (raw, shared, el.tag)
                    assert summary[0] is el
                    assert all(type(v) is int for v in summary[1:])
                if shared:
                    assert len(t._summaries) == len(elements)


@given(_tree, st.integers(0, 2**16))
@settings(max_examples=300, deadline=None)
def test_summary_matches_inner_text_on_random_trees(spec, seed):
    _check_summaries(_build(spec), seed)


_frag = st.sampled_from([
    "<div>", "</div>", "<p>", "</p>", "<a href=x>", "</a>", "<table><tr><td>",
    "<![CDATA[ c, d ]]>", "<!-- c, -->", "<br>", "&nbsp;", "&#44;", "&#x1c;",
    "&#12288;", " ", "\r\n", "\xa0", "\x1c", "　", "words, more words. ",
    "<b>", "</b>", "<font size=2>", "<li>item", "x"])


@given(st.lists(_frag, max_size=40).map("".join), st.integers(0, 2**16))
@settings(max_examples=150, deadline=None)
def test_summary_matches_inner_text_on_parsed_soup(html, seed):
    document = build_document("<html><body>" + html + "</body></html>")
    _check_summaries(document.root, seed)


def _walked_flags(link: Element) -> tuple[bool, bool]:
    """The ancestor scan find_next_page_link ran per link."""
    positive = negative = False
    parent = link.parent
    while parent is not None:
        class_and_id = parent.get_class() + " " + parent.get_id()
        if RX_PAGE.search(class_and_id) or RX_NEXT_LINK.search(class_and_id):
            positive = True
        if ((RX_NEGATIVE.search(class_and_id)
             or RX_NEG_LINK_PARENT.search(class_and_id))
                and not RX_POSITIVE.search(class_and_id)):
            negative = True
        parent = parent.parent
    return positive, negative


@given(_tree, st.integers(0, 2**16))
@settings(max_examples=300, deadline=None)
def test_memoized_ancestor_flags_match_per_link_walk(spec, seed):
    root = _build(spec)
    links = [a for a in _elements(root) if a.tag == "a"]
    random.Random(seed).shuffle(links)
    memo: dict = {}
    for link in links:
        assert _ancestor_flags(link.parent, memo) == _walked_flags(link)
