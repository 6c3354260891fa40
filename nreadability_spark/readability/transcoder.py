"""Arc90 readability transcoder: main-content extraction for one document.

From-scratch Python implementation with behavior matched to the reference
transcoder (/root/reference Carbon.Readability/ReadabilityTranscoder.cs;
constants :79-100, regexes :106-136, pipeline :268-321). Notable matched
quirks:

* scores live in a per-run side map keyed by node identity; elements cloned
  into the article container therefore score 0 during cleanup;
* ``XElement.RemoveAll`` semantics wipe attributes in ``set_inner_html``,
  so e.g. the content div loses its id during KillBreaks -- as the
  reference does;
* grandparents get ``score // 2`` (integer division, :995);
* the fallback rerun re-parses the *original* html with unlikely-stripping
  disabled when extracted text is < 250 chars (:300-313).

Link density, candidate scoring and conditional cleanup read the length
and comma count of ``get_inner_text(el)`` for many nested elements. They
read them from integer summaries computed once per element, bottom-up
(``_summarize``), instead of re-walking each subtree -- a walk per read is
quadratic on tag soup, where candidates nest in long chains. A summary is
valid only while the tree is not mutated, so summaries live for one
read-only phase (``Transcoder._read_only_phase``: candidate scoring, each
``clean_conditionally`` / ``clean_headers`` call, the empty-paragraph
sweep) and are dropped at its end; those phases collect their removals
and apply them after the phase.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from typing import Callable, Optional

from . import dtd, parser, uri
from .css import READABILITY_CSS
from .dom import Comment, Document, Element, Node, Text

# --- algorithm constants (ReadabilityTranscoder.cs:79-100) -------------------

OVERLAY_DIV_ID = "readOverlay"
INNER_DIV_ID = "readInner"
CONTENT_DIV_ID = "readability-content"
READABILITY_STYLED_CLASS = "readability-styled"

MIN_PARAGRAPH_LENGTH = 25
MIN_INNER_TEXT_LENGTH = 25
PARAGRAPH_SEGMENT_LENGTH = 100
MAX_POINTS_FOR_SEGMENTS_COUNT = 3
MIN_SIBLING_PARAGRAPH_LENGTH = 80
MIN_COMMA_SEGMENTS = 10
LIS_COUNT_THRESHOLD = 100
MAX_IMAGES_IN_SHORT_SEGMENTS_COUNT = 2
MIN_INNER_TEXT_LENGTH_IN_ELEMENTS_WITH_EMBED = 75
CLASS_WEIGHT_THRESHOLD = 25
MAX_EMBEDS_COUNT = 1
MAX_ARTICLE_TITLE_LENGTH = 150
MIN_ARTICLE_TITLE_LENGTH = 15
MIN_ARTICLE_TITLE_WORDS_COUNT_1 = 3
MIN_ARTICLE_TITLE_WORDS_COUNT_2 = 4

SIBLING_SCORE_THRESHOLD_COEFFICIENT = 0.2
MAX_SIBLING_SCORE_THRESHOLD = 10.0
MAX_SIBLING_PARAGRAPH_LINKS_DENSITY = 0.25
MAX_HEADER_LINKS_DENSITY = 0.33
MAX_DENSITY_FOR_ELEMENTS_WITH_SMALLER_CLASS_WEIGHT = 0.2
MAX_DENSITY_FOR_ELEMENTS_WITH_GREATER_CLASS_WEIGHT = 0.5

# --- algorithm regexes (ReadabilityTranscoder.cs:106-136) --------------------

_I = re.IGNORECASE
RX_UNLIKELY = re.compile(
    "combx|comment|community|disqus|extra|foot|header|menu|remark|rss|"
    "shoutbox|sidebar|side|sponsor|ad-break|agegate|pagination|pager|popup|"
    "tweet|twitter", _I)
RX_TRAILING_HASH = re.compile("#.*$")
RX_TRAILING_SLASH = re.compile("/$")
RX_MAYBE = re.compile("and|article|body|column|main|shadow", _I)
RX_POSITIVE = re.compile(
    "article|body|content|entry|hentry|main|page|pagination|post|text|blog|"
    "story", _I)
RX_NEGATIVE = re.compile(
    "combx|comment|com-|contact|foot|footer|footnote|masthead|media|meta|"
    "outbrain|promo|related|scroll|shoutbox|sidebar|side|sponsor|shopping|"
    "tags|tool|widget", _I)
RX_NEG_LINK_PARENT = re.compile(
    "(stories|articles|news|documents|posts|notes|series|historie|artykuly|"
    "artykuły|wpisy|dokumenty|serie|geschichten|erzählungen|erzahlungen)", _I)
RX_EXTRANEOUS = re.compile(
    "print|archive|comment|discuss|e[-]?mail|share|reply|all|login|sign|"
    "single|also", _I)
RX_DIV_TO_P = re.compile("<(a|blockquote|dl|div|img|ol|p|pre|table|ul)", _I)
RX_END_OF_SENTENCE = re.compile(r"\.( |$)", re.MULTILINE)
RX_BREAK_BEFORE_P = re.compile(r"<br[^>]*>\s*<p")
RX_NORMALIZE_SPACES = re.compile(r"\s{2,}")
RX_KILL_BREAKS = re.compile(r"(<br\s*\/?>(\s|&nbsp;?)*){1,}")
RX_VIDEO = re.compile(r"http:\/\/(www\.)?(youtube|vimeo)\.com", _I)
RX_DOUBLE_BR = re.compile(r"(<br[^>]*>[ \n\r\t]*){2,}", _I)
RX_FONT = re.compile(r"<(\/?)font[^>]*>", _I)
RX_TITLE_DASH1 = re.compile(r" [\|\-] ")
RX_TITLE_DASH2 = re.compile(r"(.*)[\|\-] .*")
RX_TITLE_DASH3 = re.compile(r"[^\|\-]*[\|\-](.*)")
RX_TITLE_COLON1 = re.compile(r".*:(.*)")
RX_TITLE_COLON2 = re.compile(r"[^:]*[:](.*)")
RX_NEXT_LINK = re.compile(
    "(next|weiter|continue|dalej|następna|nastepna>([^\\|]|$)|"
    "�([^\\|]|$))", _I)
RX_NEXT_STORY_LINK = re.compile(
    "(story|article|news|document|post|note|series|historia|artykul|artykuł|"
    "wpis|dokument|seria|geschichte|erzählung|erzahlung|artikel|serie)", _I)
RX_PREV_LINK = re.compile("(prev|earl|[^b]old|new|wstecz|poprzednia|<|�)",
                          _I)
RX_PAGE = re.compile("pag(e|ing|inat)|([^a-z]|^)pag([^a-z]|$)", _I)
RX_LIKELY_PARAGRAPH_DIV = re.compile("text|para|parbase", _I)
RX_MAILTO = re.compile(r"^\s*mailto\s*:", _I)
RX_TITLE_WS = re.compile(r"\s+")
RX_FIRST_LAST = re.compile("(first|last)", _I)
RX_HAS_DIGIT = re.compile(r"\d")
RX_PAGINATION_HREF = re.compile(r"p(a|g|ag)?(e|ing|ination)?(=|\/)[0-9]{1,2}",
                                _I)
RX_PAGE_OR_PAGING = re.compile(r"(page|paging)", _I)
RX_SECTION = re.compile("section", _I)
RX_PAGE_NUM_SEGMENT = re.compile(r"((_|-)?p[a-z]*|(_|-))[0-9]{1,2}$", _I)
RX_PURE_NUMBER = re.compile(r"^[\d]{1,2}$")
RX_ANY_ALPHA = re.compile("[a-z]", _I)
RX_NON_ALPHA = re.compile("[^a-zA-Z]")

ARTICLE_CONTENT_HINTS = [
    (re.compile(r"^https?://(www|mobile)\.theverge.com", _I), "article"),
]


class LinkData:
    __slots__ = ("score", "link_text", "link_href")

    def __init__(self, score: float, link_text: str, link_href: str):
        self.score = score
        self.link_text = link_text
        self.link_href = link_href


class TranscodeResult:
    __slots__ = ("content_extracted", "content", "title", "next_page_url",
                 "content_text")

    def __init__(self, content_extracted: bool, content: Optional[str],
                 title: Optional[str], next_page_url: Optional[str],
                 content_text: Optional[str] = None):
        self.content_extracted = content_extracted
        self.content = content
        self.title = title
        self.next_page_url = next_page_url
        # normalized inner text of the article content element -- the
        # per-url byte-identity invariant checked at dataset scale
        self.content_text = content_text


# --- DOM helpers (DomExtensions parity) --------------------------------------

def get_body(document: Document) -> Optional[Element]:
    root = document.root
    if root is None:
        return None
    return root.find_first_by_tag_name("body")


def get_doc_title(document: Document) -> Optional[str]:
    root = document.root
    if root is None:
        return None
    head = root.find_first_by_tag_name("head")
    if head is None:
        return ""
    titles = head.get_children_by_tag_name("title")
    if not titles:
        return ""
    return titles[0].value.strip()


def set_inner_html(element: Element, html: str) -> None:
    """DomExtensions.SetInnerHtml: RemoveAll (nodes AND attributes) then
    re-parse ``html`` through the SGML builder and move the nodes in.

    Fast path: a fragment with no markup and no entities ('<'/'&' absent)
    parses to exactly one text node — NUL->space + newline normalization
    (P1), BOM strip (P20), whitespace-only drop (P19) — so the tokenizer
    round-trip is skipped. This covers the hot no-tag callers (bare-text
    wrapping in StripUnlikelyCandidates, the title <h1>, the glue CSS)."""
    element.remove_all()
    if "<" not in html and "&" not in html:
        value = html.lstrip("﻿")
        if "\x00" in value:
            value = value.replace("\x00", " ")
        if "\r" in value:
            value = value.replace("\r\n", "\n").replace("\r", "\n")
        if value.strip():
            element.add(Text(value))
        return
    tmp = parser.build_document(html)
    if tmp.root is None:
        return
    for node in list(tmp.root.children):
        node.parent = None
        element.add(node)


def _coalesce_text_like_reparse(element: Element) -> None:
    """Replicate what re-parsing serialize(subtree) does to text nodes:
    adjacent non-CDATA text nodes serialize into one contiguous raw span,
    so the tokenizer re-emits them as a SINGLE text event (merged), which
    is then dropped if whitespace-only (P19). Element removals leave
    exactly such adjacent text runs behind."""
    stack = [element]
    while stack:
        el = stack.pop()
        kids = el.children
        out: list[Node] = []
        buf: Optional[str] = None
        for ch in kids:
            if isinstance(ch, Text) and not ch.is_cdata:
                buf = ch.value if buf is None else buf + ch.value
                ch.parent = None
                continue
            if buf is not None:
                if buf.strip():
                    t = Text(buf)
                    t.parent = el
                    out.append(t)
                buf = None
            out.append(ch)
            if isinstance(ch, Element):
                stack.append(ch)
        if buf is not None and buf.strip():
            t = Text(buf)
            t.parent = el
            out.append(t)
        el.children = out


def _reparse_would_restructure(element: Element) -> bool:
    """True when re-parsing serialize(children) would NOT reproduce the
    child subtrees verbatim, i.e. some descendant element holds a known
    element child it cannot contain per the DTD while its own end tag is
    optional — exactly the condition under which the tokenizer's
    auto-close (P12, parser._auto_close) pops the parent open and
    re-homes the child. The transcoder DOES create such nesting: the
    div->p rename in StripUnlikelyCandidates checks children against
    _DivToPElementsRegex, whose block list omits h1-h6/hr/form/etc., so a
    div holding an <h2> becomes a <p> holding an <h2> — which the
    reference's unconditional SetInnerHtml re-parse then splits (observed
    on the theverge fixtures). Direct children are exempt: the fragment
    re-parse never pops its simulated root, so they cannot move."""
    stack = [c for c in element.children if isinstance(c, Element)]
    while stack:
        el = stack.pop()
        known_parent = dtd.is_known(el.tag)
        poppable = known_parent and dtd.end_tag_optional(el.tag)
        for ch in el.children:
            if isinstance(ch, Element):
                if (poppable and dtd.is_known(ch.tag)
                        and not dtd.can_contain(el.tag, ch.tag)):
                    return True
                stack.append(ch)
    return False


def _set_inner_html_if_changed(element: Element, old_html: str,
                               new_html: str) -> None:
    """The get-inner-html -> regex -> set-inner-html round-trips are the
    kernel's hottest path. When the regex changed nothing, the re-parse's
    observable effects are replicated directly instead of paying a full
    fragment re-parse:

    * XElement.RemoveAll clears the element's attributes unconditionally
      (reference DomExtensions.cs:180-195 — this is why e.g. the article
      div's id never survives PrepareArticleContentElement);
    * adjacent text nodes (left by script/style/nav removals) merge into
      one, and whitespace-only text disappears (P19) — see
      _coalesce_text_like_reparse.

    The tree otherwise re-parses to itself — it came from a parse, entity
    escaping round-trips, and CDATA sections re-scan to the same nodes —
    UNLESS a transcoder mutation created DTD-invalid nesting the
    re-parse's auto-close would restructure (div->p renames can, see
    _reparse_would_restructure): in that case the real re-parse runs so
    the output stays byte-identical to the reference's unconditional
    re-parse. tests/test_inner_html_skip_corpus.py locks the equivalence
    over the whole fixture corpus."""
    if new_html != old_html:
        set_inner_html(element, new_html)
    elif _reparse_would_restructure(element):
        set_inner_html(element, new_html)
    else:
        element.attrs = {}
        _coalesce_text_like_reparse(element)


def _inner_html_has_div_to_p(element: Element) -> bool:
    """Exact equivalent of ``RX_DIV_TO_P.search(element.get_inner_html())``
    (ReadabilityTranscoder.cs StripUnlikelyCandidates' divToPElementsRegex
    probe) without serializing the subtree: a literal ``<`` in the
    serialized inner HTML can only come from a descendant OPEN tag
    (``<`` + tag), or from the raw payload of a CDATA section, comment,
    or processing instruction — text nodes and attribute values escape
    ``<`` to ``&lt;``, and end tags (``</``) can never match the regex
    (it requires a letter after ``<``). Early-exits on the first block
    marker instead of rendering the whole subtree (~25% of kernel time
    on the fixture corpus). Falls back to the serialized check in the
    pathological case of an attribute NAME containing ``<`` (escape_attr
    only escapes values). A/B-locked against the serialized form across
    the fixture corpus by tests/test_transcoder_units.py."""
    stack = list(element.children)
    while stack:
        n = stack.pop()
        if isinstance(n, Element):
            if RX_DIV_TO_P.match("<" + n.tag):
                return True
            for k in n.attrs:
                if "<" in k:
                    return RX_DIV_TO_P.search(
                        element.get_inner_html()) is not None
            stack.extend(n.children)
        elif isinstance(n, Text):
            if n.is_cdata and RX_DIV_TO_P.search(n.value):
                return True
        elif isinstance(n, Comment):
            if RX_DIV_TO_P.search(n.value):
                return True
        else:  # ProcessingInstruction: serialized as '<?{target} {data}?>'
            # with BOTH parts raw — a tag-soup PI target can itself
            # contain '<' (e.g. '<?x<a y?>'), so scan the full serialized
            # payload, not just data ('<?' itself can never match: the
            # regex needs a letter after '<')
            data = getattr(n, "data", "")
            target = getattr(n, "target", "")
            if RX_DIV_TO_P.search(f"{target} {data}"):
                return True
    return False


def _traverse_elements(element: Element, visit: Callable[[Element], None]):
    """ElementsTraverser parity: visit first, then children via captured
    next-pointers (mutations by the visitor don't derail iteration)."""
    visit(element)
    child = element.first_node()
    while child is not None:
        nxt = child.next_node()
        if isinstance(child, Element):
            _traverse_elements(child, visit)
        child = nxt


def _traverse_child_nodes(element: Element, visit: Callable[[Node], None]):
    child = element.first_node()
    while child is not None:
        nxt = child.next_node()
        visit(child)
        child = nxt


_RX_INT32 = re.compile(r"[\t\n\v\f\r ]*([-+]?[0-9]+)[\t\n\v\f\r ]*\Z")


def _try_parse_int32(text: str) -> Optional[int]:
    """C# int.TryParse(NumberStyles.Integer) parity: ASCII digits only
    (no unicode digits / '_' separators), optional sign, leading/trailing
    whitespace limited to U+0009..U+000D and U+0020, int32 range."""
    m = _RX_INT32.match(text or "")
    if m is None:
        return None
    value = int(m.group(1))
    return value if -2**31 <= value < 2**31 else None


def _single_or_none(items: list):
    return items[0] if len(items) == 1 else None


def get_user_style_class(prefix: str, enum_str: str) -> str:
    out: list[str] = []
    seen_upper = False
    for ch in enum_str:
        if ch.isupper():
            if seen_upper:
                out.append("-")
            seen_upper = True
            out.append(ch.lower())
        else:
            out.append(ch)
    return f"{prefix}-{''.join(out)}".rstrip("-")


def _text_summary(s: str, normalize: bool) -> tuple[int, int, int, int]:
    """(length, commas, lead, trail) of one text node: the length
    get_inner_text gives it (after strip() and, with ``normalize``, the
    \\s{2,} -> " " collapse), its comma count, and the leading and
    trailing whitespace run lengths of the raw string. A whitespace-only
    string has length 0 and lead == trail == len(s)."""
    stripped = s.strip()
    if not stripped:
        return 0, 0, len(s), len(s)
    n = len(RX_NORMALIZE_SPACES.sub(" ", stripped)) if normalize \
        else len(stripped)
    return n, s.count(","), len(s) - len(s.lstrip()), len(s) - len(s.rstrip())


def _summarize(element: Element, memo: dict, normalize: bool) -> tuple:
    """Inner-text summary ``(element, length, commas, lead, trail, links)``:
    ``length`` and ``commas`` are those of ``get_inner_text(element)``,
    ``lead``/``trail`` the whitespace runs around its raw text (length 0
    means whitespace only; then lead == trail == the raw length), and
    ``links`` the summed ``get_inner_text`` length of its ``<a>``
    descendants. The figures of a concatenation combine exactly: the
    normalized length is len(a) + len(b), plus one if whitespace sits at
    the junction; the raw one adds the junction's whitespace run instead.

    Fills ``memo`` (id -> summary; the element in the value pins its id)
    for every element below ``element`` that it lacks, in an iterative
    post-order walk (nested tables go thousands deep)."""
    hit = memo.get(id(element))
    if hit is not None:
        return hit
    stack = [element]
    while stack:
        el = stack[-1]
        pending = [ch for ch in el.children
                   if type(ch) is Element and id(ch) not in memo]
        if pending:
            stack.extend(pending)
            continue
        stack.pop()
        n = commas = lead = trail = links = 0
        for ch in el.children:
            t = type(ch)
            if t is Element:
                _, cn, cc, cl, ct, ck = memo[id(ch)]
                links += ck + cn if ch.tag == "a" else ck
            elif t is Text:
                cn, cc, cl, ct = _text_summary(ch.value, normalize)
            else:
                continue
            commas += cc
            if not cn:
                trail += cl
                if not n:
                    lead += cl
            elif not n:
                n, lead, trail = cn, lead + cl, ct
            else:
                gap = trail + cl
                n += cn + (min(gap, 1) if normalize else gap)
                trail = ct
        memo[id(el)] = (el, n, commas, lead, trail, links)
    return memo[id(element)]


def _ancestor_flags(element: Optional[Element],
                    memo: dict) -> tuple[bool, bool]:
    """find_next_page_link's scan of a link's ancestors, from ``element``
    (the link's parent) up: (some class/id matches PAGE or NEXT_LINK, some
    matches NEGATIVE or NEG_LINK_PARENT but not POSITIVE). Each flag is
    ``own(el) or flag(parent)``, so ``memo`` (id -> flags, for one call on
    an unchanging tree) tests each ancestor once, not once per link."""
    chain = []
    while element is not None and id(element) not in memo:
        chain.append(element)
        element = element.parent
    flags = memo[id(element)] if element is not None else (False, False)
    for el in reversed(chain):
        positive, negative = flags
        if not (positive and negative):
            class_and_id = el.get_class() + " " + el.get_id()
            positive = positive or bool(
                RX_PAGE.search(class_and_id)
                or RX_NEXT_LINK.search(class_and_id))
            negative = negative or bool(
                (RX_NEGATIVE.search(class_and_id)
                 or RX_NEG_LINK_PARENT.search(class_and_id))
                and not RX_POSITIVE.search(class_and_id))
            flags = (positive, negative)
        memo[id(el)] = flags
    return flags


class Transcoder:
    """Per-document extraction pipeline. Not thread-safe (score map is
    per-instance, as in the reference)."""

    def __init__(self, dont_strip_unlikelys: bool = False,
                 dont_normalize_spaces: bool = False,
                 dont_weight_classes: bool = False,
                 reading_style: str = "Newspaper",
                 reading_margin: str = "Wide",
                 reading_size: str = "Medium"):
        self._dont_strip_unlikelys = dont_strip_unlikelys
        self._dont_normalize_spaces = dont_normalize_spaces
        self._dont_weight_classes = dont_weight_classes
        self._reading_style = reading_style
        self._reading_margin = reading_margin
        self._reading_size = reading_size
        # id(node) -> (node, score); the node ref pins identity for the run
        self._scores: dict[int, tuple[Element, float]] = {}
        # id(node) -> inner-text summary, during a read-only phase only
        self._summaries: Optional[dict[int, tuple]] = None
        self.image_source_transformer = None
        self.anchor_href_transformer = None

    # --- public API ---------------------------------------------------------

    def transcode(self, html_content: str, url: Optional[str] = None,
                  pretty_print: bool = False) -> TranscodeResult:
        document, extracted, title, next_page, text = self.transcode_to_xml(
            html_content, url)
        content = serialize_document(document, pretty_print=pretty_print)
        return TranscodeResult(extracted, content, title, next_page, text)

    def transcode_to_xml(self, html_content: str, url: Optional[str]):
        if not html_content:
            raise ValueError("htmlContent must be non-empty")

        document = parser.build_document(html_content)
        self.prepare_document(document)

        if url:
            self._resolve_elements_urls(document, "img", "src", url,
                                        self.image_source_transformer)
            self._resolve_elements_urls(document, "a", "href", url,
                                        self.anchor_href_transformer)

        next_page_url = None
        if url:
            body = get_body(document)
            if body is not None:
                next_page_url = self.find_next_page_link(body, url)

        article_title_element = self.extract_article_title(document)
        article_content_element = self.extract_article_content(document, url)

        self.glue_document(document, article_title_element,
                           article_content_element)

        # fallback: rerun without unlikely-stripping if content is thin
        article_text = self.get_inner_text(article_content_element)
        if not self._dont_strip_unlikelys and len(article_text) < 250:
            try:
                self._dont_strip_unlikelys = True
                return self.transcode_to_xml(html_content, url)
            finally:
                self._dont_strip_unlikelys = False

        extracted = not article_content_element.is_empty
        title = extract_title(document)
        return document, extracted, title, next_page_url, article_text

    # --- next-page detection (ReadabilityTranscoder.cs:328-622) --------------

    def find_base_url(self, url: str) -> str:
        parsed = uri.try_parse_absolute(url)
        if parsed is None:
            return url
        no_url_params = parsed.absolute_path + "/"
        url_slashes = list(reversed(no_url_params.split("/")))
        cleaned: list[str] = []
        for i, segment in enumerate(url_slashes):
            if "." in segment:
                pieces = segment.split(".")
                possible_type = pieces[1] if len(pieces) > 1 else ""
                if not RX_NON_ALPHA.search(possible_type):
                    segment = pieces[0]
            if ",00" in segment:
                segment = segment.replace(",00", "")
            if RX_PAGE_NUM_SEGMENT.search(segment) and i in (0, 1):
                segment = RX_PAGE_NUM_SEGMENT.sub("", segment)
            delete = i < 2 and RX_PURE_NUMBER.match(segment) is not None
            if i == 0 and segment.lower() == "index":
                delete = True
            if (i < 2 and len(segment) < 3
                    and not RX_ANY_ALPHA.search(url_slashes[0])):
                delete = True
            if not delete:
                cleaned.append(segment)
        cleaned.reverse()
        return f"{parsed.scheme}://{parsed.host}{'/'.join(cleaned)}"

    def find_next_page_link(self, body: Element, url: str) -> Optional[str]:
        possible: dict[str, LinkData] = {}
        ancestor_flags: dict[int, tuple[bool, bool]] = {}
        article_base_url = self.find_base_url(url)
        base_parsed = uri.try_parse_absolute(article_base_url)

        for link in body.get_elements_by_tag_name("a"):
            link_href = link.get_attribute("href")
            if not link_href or RX_MAILTO.match(link_href):
                continue
            link_href = RX_TRAILING_HASH.sub("", link_href)
            link_href = RX_TRAILING_SLASH.sub("", link_href)
            if (link_href == "" or link_href == article_base_url
                    or link_href == url):
                continue
            href_parsed = uri.try_parse_absolute(link_href)
            if (href_parsed is not None and base_parsed is not None
                    and href_parsed.host != base_parsed.host):
                continue
            link_text = self.get_inner_text(link)
            if RX_EXTRANEOUS.search(link_text):
                continue
            leftover = link_href.replace(article_base_url, "")
            if not RX_HAS_DIGIT.search(leftover):
                continue
            if link_href not in possible:
                possible[link_href] = LinkData(0.0, link_text, link_href)
            else:
                possible[link_href].link_text += " | " + link_text
            link_obj = possible[link_href]

            if article_base_url.lower() not in link_href.lower():
                link_obj.score -= 25
            link_data = (link_text + " " + link.get_class() + " "
                         + link.get_id())
            if RX_NEXT_LINK.search(link_data) and \
                    not RX_NEXT_STORY_LINK.search(link_data):
                link_obj.score += 50
            if RX_PAGE.search(link_data):
                link_obj.score += 25
            if RX_FIRST_LAST.search(link_data) and \
                    not RX_NEXT_LINK.search(link_obj.link_text):
                link_obj.score -= 65
            if RX_NEGATIVE.search(link_data) or \
                    RX_EXTRANEOUS.search(link_data):
                link_obj.score -= 50
            if RX_PREV_LINK.search(link_data):
                link_obj.score -= 200

            positive_match, negative_match = _ancestor_flags(
                link.parent, ancestor_flags)
            if positive_match:
                link_obj.score += 25
            if negative_match:
                link_obj.score -= 25

            pos_desc = neg_desc = False
            for desc in link.descendants():
                desc_data = (self.get_inner_text(desc) + " "
                             + desc.get_class() + " " + desc.get_id() + " "
                             + desc.get_attribute("alt", ""))
                if not pos_desc and RX_NEXT_LINK.search(desc_data):
                    link_obj.score += 12.5
                    pos_desc = True
                if not neg_desc and RX_PREV_LINK.search(desc_data):
                    link_obj.score -= 100
                    neg_desc = True

            if (RX_PAGINATION_HREF.search(link_href)
                    or RX_PAGE_OR_PAGING.search(link_href)
                    or RX_SECTION.search(link_href)):
                link_obj.score += 25
            if RX_EXTRANEOUS.search(link_href):
                link_obj.score -= 15

            as_number = _try_parse_int32(link_text)
            if as_number is not None:
                if as_number == 1:
                    link_obj.score -= 10
                else:
                    link_obj.score += max(0, 10 - as_number)

        top_page = None
        for page in possible:
            cand = possible[page]
            if cand.score >= 50 and (top_page is None
                                     or top_page.score < cand.score):
                top_page = cand
        if top_page is not None:
            next_href = RX_TRAILING_SLASH.sub("", top_page.link_href)
            if base_parsed is not None:
                return uri.resolve(base_parsed, next_href)
            return next_href
        return None

    # --- document preparation (ReadabilityTranscoder.cs:624-697) -------------

    def prepare_document(self, document: Document) -> None:
        for node in list(document.descendant_nodes()):
            if isinstance(node, Comment):
                node.remove() if node.parent is not None else \
                    document.children.remove(node)

        document_body = get_or_create_body(document)
        root = document.root

        # one DFS collects all six removal sets (was six whole-tree
        # scans). The predicates are independent and removal of a node
        # whose ancestor was already detached is a no-op, so the final
        # tree is identical to the reference's sequential scans.
        scripts: list[Element] = []
        noscripts: list[Element] = []
        links: list[Element] = []
        styles: list[Element] = []
        navs: list[Element] = []
        anchors: list[Element] = []
        stack = root.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                t = node.tag
                if t == "script":
                    src = node.get_attribute("src")
                    if not src or "readability" not in src:
                        scripts.append(node)
                elif t == "noscript":
                    noscripts.append(node)
                elif t == "link":
                    if (node.get_attribute("rel", "").strip().lower()
                            == "stylesheet"
                            and "readability"
                            not in node.get_attribute("href", "")):
                        links.append(node)
                elif t == "style":
                    styles.append(node)
                elif t == "nav":
                    navs.append(node)
                elif t == "a":
                    if "name" in node.attrs and "href" not in node.attrs:
                        anchors.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        _remove_elements(scripts)
        _remove_elements(noscripts)
        _remove_elements(links)
        _remove_elements(styles)
        _remove_elements(navs)
        _remove_elements(anchors)

        body_inner = document_body.get_inner_html()
        new_inner = RX_DOUBLE_BR.sub("</p><p>", body_inner)
        new_inner = RX_FONT.sub(r"<\1span>", new_inner)
        _set_inner_html_if_changed(document_body, body_inner, new_inner)

    # --- title (ReadabilityTranscoder.cs:699-757) ----------------------------

    def extract_article_title(self, document: Document) -> Optional[Element]:
        document_body = get_or_create_body(document)
        document_title = get_doc_title(document) or ""
        current_title = document_title

        if RX_TITLE_DASH1.search(current_title):
            current_title = RX_TITLE_DASH2.sub(r"\1", document_title)
            if len(current_title.split(" ")) < MIN_ARTICLE_TITLE_WORDS_COUNT_1:
                current_title = RX_TITLE_DASH3.sub(r"\1", document_title)
        elif ": " in current_title:
            current_title = RX_TITLE_COLON1.sub(r"\1", document_title)
            if len(current_title.split(" ")) < MIN_ARTICLE_TITLE_WORDS_COUNT_1:
                current_title = RX_TITLE_COLON2.sub(r"\1", document_title)
        elif (len(current_title) > MAX_ARTICLE_TITLE_LENGTH
              or len(current_title) < MIN_ARTICLE_TITLE_LENGTH):
            headers = document_body.get_elements_by_tag_name("h1")
            if not headers:
                headers = document_body.get_elements_by_tag_name("h2")
            if len(headers) == 1:
                current_title = self.get_inner_text(headers[0])

        current_title = (current_title or "").strip()
        if document_title and \
                len(current_title.split(" ")) <= MIN_ARTICLE_TITLE_WORDS_COUNT_2:
            current_title = document_title
        if not current_title:
            return None
        h1 = Element("h1")
        set_inner_html(h1, current_title)
        return h1

    # --- content extraction ---------------------------------------------------

    def extract_article_content(self, document: Document,
                                url: Optional[str] = None) -> Element:
        self.strip_unlikely_candidates(document)
        self.collapse_redundant_paragraph_divs(document)
        hint = _get_article_content_element_hint(url) if url else None
        # Element.add clones parented nodes, so scoring moves nothing
        with self._read_only_phase():
            candidates = self.find_candidates_for_article_content(
                document, hint)
            top = self.determine_top_candidate_element(document, candidates)
            article = self.create_article_content_element(document, top)
        self.prepare_article_content_element(article)
        return article

    def strip_unlikely_candidates(self, document: Document) -> None:
        if self._dont_strip_unlikelys:
            return
        root = document.root
        if root is None:
            return

        def visit(element: Element) -> None:
            name = element.tag
            match_string = element.get_class() + " " + element.get_id()
            if (len(match_string) > 0 and name not in ("body", "a")
                    and RX_UNLIKELY.search(match_string)
                    and not RX_MAYBE.search(match_string)):
                if element.parent is not None:
                    element.remove()
                return
            if name == "div":
                if not _inner_html_has_div_to_p(element):
                    element.tag = "p"
                else:
                    def wrap_text(child: Node) -> None:
                        # the reference wraps XmlNodeType.Text only — CDATA
                        # sections (e.g. recovered ASP blocks) stay unwrapped
                        if not isinstance(child, Text) or child.is_cdata or \
                                len(self.get_inner_text(child)) == 0:
                            return
                        para = Element("p")
                        set_inner_html(para, child.value)
                        para.set_class(READABILITY_STYLED_CLASS)
                        para.set_style("display: inline;")
                        child.replace_with(para)
                    _traverse_child_nodes(element, wrap_text)

        _traverse_elements(root, visit)

    def collapse_redundant_paragraph_divs(self, document: Document) -> None:
        root = document.root
        if root is None:
            return

        def visit(element: Element) -> None:
            if element.tag != "div":
                return
            child = _single_or_none(element.nodes())
            if isinstance(child, Element) and child.tag == "p":
                if element.parent is not None:
                    element.add_before_self(child)
                    element.remove()

        _traverse_elements(root, visit)

    def find_candidates_for_article_content(
            self, document: Document,
            article_content_element_hint: Optional[str] = None
    ) -> list[Element]:
        if article_content_element_hint:
            hinted = document.get_elements_by_tag_name(
                article_content_element_hint)
            if hinted:
                return [hinted[0]]
        candidates: dict[int, Element] = {}
        self._scores.clear()
        for para in document.get_elements_by_tag_name("p"):
            _, text_len, commas, _, _, _ = self._summary(para)
            if text_len < MIN_PARAGRAPH_LENGTH:
                continue
            parent = para.parent
            grandparent = parent.parent if parent is not None else None
            score = 1
            score += commas + 1  # comma-separated segments
            score += min(text_len // PARAGRAPH_SEGMENT_LENGTH,
                         MAX_POINTS_FOR_SEGMENTS_COUNT)
            if parent is not None and parent.tag != "html":
                candidates.setdefault(id(parent), parent)
                self._add_points(parent, score)
            if grandparent is not None and grandparent.tag != "html":
                candidates.setdefault(id(grandparent), grandparent)
                self._add_points(grandparent, score // 2)
        return list(candidates.values())

    def determine_top_candidate_element(self, document: Document,
                                        candidates) -> Element:
        top: Optional[Element] = None
        for candidate in candidates:
            score = self._get_score(candidate)
            new_score = (1.0 - self.get_links_density(candidate)) * score
            self._set_score(candidate, new_score)
            if top is None or new_score > self._get_score(top):
                top = candidate
        if top is None or top.tag == "body":
            top = Element("div")
            body = get_or_create_body(document)
            top.add(body.nodes())
        return top

    def create_article_content_element(self, document: Document,
                                       top_candidate: Element) -> Element:
        article = Element("div")
        article.set_id(CONTENT_DIV_ID)
        parent = top_candidate.parent
        if parent is None:
            article.add(top_candidate)
            return article

        top_score = self._get_score(top_candidate)
        sibling_threshold = max(
            MAX_SIBLING_SCORE_THRESHOLD,
            SIBLING_SCORE_THRESHOLD_COEFFICIENT * top_score)
        top_class = top_candidate.get_class()

        for sibling in parent.elements():
            append = False
            name = sibling.tag
            content_bonus = 0.0
            if top_class and sibling.get_class() == top_class:
                content_bonus += top_score * SIBLING_SCORE_THRESHOLD_COEFFICIENT
            if sibling is top_candidate:
                append = True
            elif self._get_score(sibling) + content_bonus >= sibling_threshold:
                append = True
            elif name == "p":
                text_len = self._summary(sibling)[1]
                if text_len > 0:
                    if text_len >= MIN_SIBLING_PARAGRAPH_LENGTH:
                        append = (self.get_links_density(sibling)
                                  < MAX_SIBLING_PARAGRAPH_LINKS_DENSITY)
                    else:
                        append = (_is_close_to_zero(
                            self.get_links_density(sibling))
                            and RX_END_OF_SENTENCE.search(
                                self.get_inner_text(sibling)) is not None)
            if append:
                if name in ("div", "p"):
                    to_append = sibling
                else:
                    to_append = Element("div")
                    to_append.set_id(sibling.get_id())
                    to_append.set_class(sibling.get_class())
                    to_append.add(sibling.nodes())
                article.add(to_append)
        return article

    # --- cleanup (ReadabilityTranscoder.cs:1141-1448) ------------------------

    def prepare_article_content_element(self, article: Element) -> None:
        self.clean_styles(article)
        self.kill_breaks(article)
        self.clean(article, "form")
        self.clean(article, "object")
        if article.count_elements_by_tag_name("h1", limit=2) == 1:
            self.clean(article, "h1")
        if article.count_elements_by_tag_name("h2", limit=2) == 1:
            self.clean(article, "h2")
        self.clean(article, "iframe")
        self.clean_headers(article)
        self.clean_conditionally(article, "table")
        self.clean_conditionally(article, "ul")
        self.clean_conditionally(article, "div")

        # empty paragraphs; emptiness does not depend on normalization
        to_remove = []
        with self._read_only_phase():
            for para in article.get_elements_by_tag_name("p"):
                if self._summary(para)[1] > 0:
                    continue
                if para.count_elements_by_tag_name("img", limit=1) > 0:
                    continue
                if para.count_elements_by_tag_name("embed", limit=1) > 0:
                    continue
                if para.count_elements_by_tag_name("object", limit=1) > 0:
                    continue
                to_remove.append(para)
        _remove_elements(to_remove)

        inner = article.get_inner_html()
        _set_inner_html_if_changed(article, inner,
                                   RX_BREAK_BEFORE_P.sub("<p", inner))

    def get_links_density(self, element: Element) -> float:
        _, text_len, _, _, _, links_len = self._summary(element)
        return links_len / text_len if text_len else 0.0

    def _summary(self, element: Element) -> tuple:
        """``_summarize`` through the phase's memo; outside a read-only
        phase a throwaway one, so nothing outlives a possible mutation."""
        memo = self._summaries if self._summaries is not None else {}
        return _summarize(element, memo, not self._dont_normalize_spaces)

    @contextmanager
    def _read_only_phase(self):
        """Summaries are valid only while the tree is not mutated: the
        memo lives for the body of this block, which must not change the
        document (collect removals, apply them after the block)."""
        self._summaries = {}
        try:
            yield
        finally:
            self._summaries = None

    def get_class_weight(self, element: Element) -> int:
        if self._dont_weight_classes:
            return 0
        weight = 0
        cls = element.get_class()
        if cls:
            if RX_NEGATIVE.search(cls):
                weight -= 25
            if RX_POSITIVE.search(cls):
                weight += 25
        eid = element.get_id()
        if eid:
            if RX_NEGATIVE.search(eid):
                weight -= 25
            if RX_POSITIVE.search(eid):
                weight += 25
        return weight

    def get_inner_text(self, node, dont_normalize: Optional[bool] = None) -> str:
        if dont_normalize is None:
            dont_normalize = self._dont_normalize_spaces
        if isinstance(node, Element):
            result = node.value
        elif isinstance(node, Text):
            result = node.value
        else:
            raise TypeError(f"unsupported node type {type(node)!r}")
        result = result.strip()
        if not dont_normalize:
            return RX_NORMALIZE_SPACES.sub(" ", result)
        return result

    def kill_breaks(self, element: Element) -> None:
        inner = element.get_inner_html()
        _set_inner_html_if_changed(element, inner,
                                   RX_KILL_BREAKS.sub("<br />", inner))

    def clean(self, root_element: Element, element_name: str) -> None:
        is_embed = element_name in ("object", "embed")
        to_remove = []
        for element in root_element.get_elements_by_tag_name(element_name):
            if is_embed and (RX_VIDEO.search(element.get_attributes_string("|"))
                             or RX_VIDEO.search(element.get_inner_html())):
                continue
            to_remove.append(element)
        _remove_elements(to_remove)

    def clean_conditionally(self, root_element: Element,
                            element_name: str) -> None:
        tag = element_name.strip().lower()
        with self._read_only_phase():
            to_remove = [
                element for element
                in root_element.get_elements_by_tag_name(element_name)
                if self._is_conditionally_unwanted(element, tag)]
        _remove_elements(to_remove)

    def _is_conditionally_unwanted(self, element: Element, tag: str) -> bool:
        weight = self.get_class_weight(element)
        if weight + self._get_score(element) < 0.0:
            return True
        if _looks_like_paragraph_div(element):
            return False
        _, text_len, commas, _, _, _ = self._summary(element)
        if commas + 1 >= MIN_COMMA_SEGMENTS:  # comma-separated segments
            return False
        # one subtree walk counts all five tags
        ps = imgs = lis = inputs = embeds = 0
        stack = element.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                t = node.tag
                if t == "p":
                    ps += 1
                elif t == "img":
                    imgs += 1
                elif t == "li":
                    lis += 1
                elif t == "input":
                    inputs += 1
                elif t == "embed":
                    if not RX_VIDEO.search(node.get_attribute("src", "")):
                        embeds += 1
                if node.children:
                    stack.extend(node.children[::-1])
        density = self.get_links_density(element)
        return (
            imgs > ps
            or (lis - LIS_COUNT_THRESHOLD > ps and tag not in ("ul", "ol"))
            or inputs > ps // 3
            or (text_len < MIN_INNER_TEXT_LENGTH
                and (imgs == 0 or imgs > MAX_IMAGES_IN_SHORT_SEGMENTS_COUNT))
            or (weight < CLASS_WEIGHT_THRESHOLD and density
                > MAX_DENSITY_FOR_ELEMENTS_WITH_SMALLER_CLASS_WEIGHT)
            or (weight >= CLASS_WEIGHT_THRESHOLD and density
                > MAX_DENSITY_FOR_ELEMENTS_WITH_GREATER_CLASS_WEIGHT)
            or embeds > MAX_EMBEDS_COUNT
            or (embeds == MAX_EMBEDS_COUNT
                and text_len < MIN_INNER_TEXT_LENGTH_IN_ELEMENTS_WITH_EMBED))

    def clean_headers(self, element: Element) -> None:
        # one DFS collecting all six header levels instead of six walks;
        # per-level processing order is preserved (reads are pure and
        # removal happens after all levels, so the outcome is identical)
        by_level: dict[str, list[Element]] = {
            f"h{level}": [] for level in range(1, 7)}
        stack = element.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                if node.tag in by_level:
                    by_level[node.tag].append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        to_remove = []
        with self._read_only_phase():
            for level in range(1, 7):
                for header in by_level[f"h{level}"]:
                    if (self.get_class_weight(header) < 0
                            or self.get_links_density(header)
                            > MAX_HEADER_LINKS_DENSITY):
                        to_remove.append(header)
        _remove_elements(to_remove)

    def clean_styles(self, root_element: Element) -> None:
        def visit(element: Element) -> None:
            if READABILITY_STYLED_CLASS in element.get_class():
                return
            element.set_style(None)
        _traverse_elements(root_element, visit)

    # --- glue (ReadabilityTranscoder.cs:782-845) ------------------------------

    def glue_document(self, document: Document,
                      article_title_element: Optional[Element],
                      article_content_element: Element) -> None:
        document_body = get_or_create_body(document)
        heads = document.get_elements_by_tag_name("head")
        if heads:
            head = heads[0]
        else:
            head = Element("head")
            document_body.add_before_self(head)

        style = Element("style")
        style.set_attribute("type", "text/css")
        set_inner_html(style, READABILITY_CSS)
        head.add(style)

        reading_style_class = get_user_style_class("style",
                                                   self._reading_style)
        document_body.set_class(reading_style_class)
        document_body.set_style("display: block;")

        inner = Element("div")
        inner.set_id(INNER_DIV_ID)
        inner.set_class(get_user_style_class("margin", self._reading_margin)
                        + " "
                        + get_user_style_class("size", self._reading_size))
        if article_title_element is not None:
            inner.add(article_title_element)
        if article_content_element is not None:
            inner.add(article_content_element)

        overlay = Element("div")
        overlay.set_id(OVERLAY_DIV_ID)
        overlay.set_class(reading_style_class)
        overlay.add(inner)

        document_body.remove_all()  # XElement.RemoveAll: drops attrs too
        document_body.add(overlay)

    # --- url resolution --------------------------------------------------------

    def _resolve_elements_urls(self, document: Document, tag_name: str,
                               attribute_name: str, url: str,
                               transformer) -> None:
        for element in document.get_elements_by_tag_name(tag_name):
            value = element.get_attribute(attribute_name)
            if value is None:
                continue
            value = uri.resolve_element_url(value, url)
            if not value:
                continue
            if transformer is not None:
                transformed, orig_attr = transformer(value, element)
            else:
                transformed, orig_attr = value, None
            element.set_attribute(attribute_name, transformed)
            if orig_attr:
                element.set_attribute(orig_attr, value)

    # --- score map --------------------------------------------------------------

    def _add_points(self, element: Element, points: int) -> None:
        cur = self._scores.get(id(element))
        score = cur[1] if cur is not None else 0.0
        self._scores[id(element)] = (element, score + points)

    def _get_score(self, element: Element) -> float:
        cur = self._scores.get(id(element))
        return cur[1] if cur is not None else 0.0

    def _set_score(self, element: Element, score: float) -> None:
        self._scores[id(element)] = (element, score)


# --- module-level helpers ------------------------------------------------------

def get_or_create_body(document: Document) -> Element:
    body = get_body(document)
    if body is None:
        root = document.root
        if root is None:
            htmls = document.get_children_by_tag_name("html")
            if htmls:
                root = htmls[0]
            else:
                root = Element("html")
                document.add(root)
        body = Element("body")
        root.add(body)
    return body


def _remove_elements(elements) -> None:
    for el in list(elements):
        el.remove()


def _is_close_to_zero(x: float) -> bool:
    return abs(x) < 1.4e-45  # float.Epsilon


def _looks_like_paragraph_div(element: Element) -> bool:
    if element.tag != "div":
        return False
    if not RX_LIKELY_PARAGRAPH_DIV.search(element.get_class()):
        return False
    child = _single_or_none(element.nodes())
    return isinstance(child, Element) and child.tag == "p"


def extract_title(document: Document) -> Optional[str]:
    root = document.root
    if root is None:
        return None
    h1s = root.get_elements_by_tag_name("h1")
    if not h1s:
        return None
    title = h1s[0].value
    if title:
        title = RX_TITLE_WS.sub(" ", title).strip()
    return title or None


def _get_article_content_element_hint(url: str) -> Optional[str]:
    url = url.strip()
    for rx, hint in ARTICLE_CONTENT_HINTS:
        if rx.search(url):
            return hint
    return None


def serialize_document(document: Document,
                       pretty_print: bool = False,
                       dont_include_content_type_meta: bool = False,
                       dont_include_mobile_meta: bool = False,
                       dont_include_generator_meta: bool = False) -> str:
    """SgmlDomSerializer parity (SgmlDomSerializer.cs:38-148): head-level
    meta surgery then stringify. The three flags mirror
    DomSerializationParams' DontInclude* members (all default false)."""
    if not (dont_include_content_type_meta and dont_include_mobile_meta
            and dont_include_generator_meta):
        root = document.root
        if root is None:
            raise ValueError("The document must have a root.")
        if root.tag != "html":
            raise ValueError("The document's root must be an html element.")
        heads = root.get_children_by_tag_name("head")
        if heads:
            head = heads[0]
        else:
            head = Element("head")
            root.add_first(head)

        if not dont_include_content_type_meta:
            for meta in head.get_children_by_tag_name("meta"):
                if meta.get_attribute("http-equiv", "").lower() \
                        == "content-type":
                    meta.remove()
                    break
        # viewport removal is unconditional in the reference (the mobile
        # param is ignored in ProcessMobileSpecificMetaElements)
        for meta in head.get_children_by_tag_name("meta"):
            if meta.get_attribute("name", "").lower() == "viewport":
                meta.remove()
                break
        if not dont_include_generator_meta:
            generator = None
            for meta in head.get_children_by_tag_name("meta"):
                if meta.get_attribute("name", "").lower() == "generator":
                    generator = meta
                    break
            if generator is not None:
                generator.remove()
                head.add_first(generator)

    return document.to_string(pretty=pretty_print)


def transcode(html_content: str, url: Optional[str] = None,
              pretty_print: bool = False) -> TranscodeResult:
    """Convenience single-call API (one fresh transcoder per document)."""
    return Transcoder().transcode(html_content, url,
                                  pretty_print=pretty_print)
