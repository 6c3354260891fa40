"""Minimal mutable DOM with System.Xml.Linq-compatible semantics.

Behavioral contract (matched against the reference's use of XDocument /
XElement; see /root/reference Carbon.Readability/DomExtensions.cs:31-229):

* adding a node that already has a parent adds a *deep copy* (XContainer
  semantics), otherwise the node is attached directly;
* ``Element.value`` concatenates all descendant text (incl. CDATA);
* ``remove_all()`` removes child nodes AND attributes (XElement.RemoveAll);
* serialization matches ``XDocument.ToString(SaveOptions.DisableFormatting)``:
  ``<x />`` for empty elements, ``&amp;/&lt;/&gt;`` escaping in text,
  ``&quot;``/``&#xA;``/``&#x9;``/``&#xD;`` in attribute values, attributes in
  insertion order;
* pretty printing replicates the SaveOptions.None path (XmlWriter
  Indent=true: 2-space indent, CRLF, per-scope mixed-content suppression —
  see _PrettyWriter).
"""

from __future__ import annotations

from typing import Iterator, Optional


def escape_text(s: str) -> str:
    """Text-node escaping + newline handling matching XmlWriter's default
    NewLineHandling.Replace: newlines in text content are written as
    CRLF (attribute values entitize instead, see escape_attr)."""
    s = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    if "\n" in s or "\r" in s:
        s = (s.replace("\r\n", "\n").replace("\r", "\n")
             .replace("\n", "\r\n"))
    return s


def escape_attr(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")
            .replace("\t", "&#x9;").replace("\n", "&#xA;").replace("\r", "&#xD;"))


class Node:
    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: Optional[Element] = None

    # --- tree surgery -----------------------------------------------------

    def remove(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    def next_node(self) -> Optional["Node"]:
        if self.parent is None:
            return None
        sibs = self.parent.children
        i = sibs.index(self)
        return sibs[i + 1] if i + 1 < len(sibs) else None

    def add_before_self(self, node: "Node") -> None:
        if self.parent is None:
            raise ValueError("node has no parent")
        node = _adopt(node)
        i = self.parent.children.index(self)
        self.parent.children.insert(i, node)
        node.parent = self.parent

    def add_after_self(self, node: "Node") -> None:
        if self.parent is None:
            raise ValueError("node has no parent")
        node = _adopt(node)
        i = self.parent.children.index(self)
        self.parent.children.insert(i + 1, node)
        node.parent = self.parent

    def replace_with(self, node: "Node") -> None:
        if self.parent is None:
            raise ValueError("node has no parent")
        node = _adopt(node)
        i = self.parent.children.index(self)
        node.parent = self.parent
        self.parent.children[i] = node
        self.parent = None

    def clone(self) -> "Node":
        raise NotImplementedError

    def to_string(self, pretty: bool = False) -> str:
        if not pretty:
            out: list[str] = []
            _write_compact(self, out)
            return "".join(out)
        out = []
        _write_pretty(self, out, 0)
        return "".join(out)

    def __str__(self) -> str:  # parity with node.ToString()
        return self.to_string(pretty=True)


def _adopt(node: Node) -> Node:
    """XContainer.Add semantics: clone the node if it is already parented."""
    return node.clone() if node.parent is not None else node


class Text(Node):
    __slots__ = ("value", "is_cdata")

    def __init__(self, value: str, is_cdata: bool = False) -> None:
        super().__init__()
        self.value = value
        self.is_cdata = is_cdata

    def clone(self) -> "Text":
        return Text(self.value, self.is_cdata)


class Comment(Node):
    __slots__ = ("value",)

    def __init__(self, value: str) -> None:
        super().__init__()
        self.value = value

    def clone(self) -> "Comment":
        return Comment(self.value)


class ProcessingInstruction(Node):
    __slots__ = ("target", "data")

    def __init__(self, target: str, data: str) -> None:
        super().__init__()
        self.target = target
        self.data = data

    def clone(self) -> "ProcessingInstruction":
        return ProcessingInstruction(self.target, self.data)


class Element(Node):
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str) -> None:
        super().__init__()
        self.tag = tag
        self.attrs: dict[str, str] = {}
        self.children: list[Node] = []

    # --- construction -----------------------------------------------------

    def clone(self) -> "Element":
        el = Element(self.tag)
        el.attrs = dict(self.attrs)
        for ch in self.children:
            c = ch.clone()
            c.parent = el
            el.children.append(c)
        return el

    def add(self, *nodes) -> None:
        for node in nodes:
            if isinstance(node, (list, tuple)):
                # snapshot: adding a parented sequence clones each member
                for n in list(node):
                    self.add(n)
                continue
            node = _adopt(node)
            node.parent = self
            self.children.append(node)

    def add_first(self, node: Node) -> None:
        node = _adopt(node)
        node.parent = self
        self.children.insert(0, node)

    def remove_all(self) -> None:
        """XElement.RemoveAll: removes child nodes *and* attributes."""
        for ch in self.children:
            ch.parent = None
        self.children = []
        self.attrs = {}

    def remove_nodes(self) -> None:
        for ch in self.children:
            ch.parent = None
        self.children = []

    # --- queries ------------------------------------------------------------

    def nodes(self) -> list[Node]:
        return list(self.children)

    def first_node(self) -> Optional[Node]:
        return self.children[0] if self.children else None

    def elements(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    def descendants(self) -> Iterator["Element"]:
        # iterative DFS in document order (hot path)
        stack = [iter(self.children)]
        while stack:
            for ch in stack[-1]:
                if type(ch) is Element:
                    yield ch
                    stack.append(iter(ch.children))
                    break
            else:
                stack.pop()

    def descendant_nodes(self) -> Iterator[Node]:
        stack = [iter(self.children)]
        while stack:
            for ch in stack[-1]:
                yield ch
                if type(ch) is Element:
                    stack.append(iter(ch.children))
                    break
            else:
                stack.pop()

    def ancestors(self) -> Iterator["Element"]:
        p = self.parent
        while p is not None:
            yield p
            p = p.parent

    @property
    def value(self) -> str:
        """XElement.Value: concatenated descendant text."""
        parts: list[str] = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            t = type(node)
            if t is Text:
                parts.append(node.value)
            elif t is Element and node.children:
                stack.extend(node.children[::-1])
        return "".join(parts)

    @property
    def is_empty(self) -> bool:
        """XElement.IsEmpty: no content nodes (attributes do not count)."""
        return not self.children

    # --- attribute helpers (DomExtensions parity) ---------------------------

    def get_attribute(self, name: str, default=None):
        return self.attrs.get(name, default)

    def set_attribute(self, name: str, value: Optional[str]) -> None:
        if value is None:
            self.attrs.pop(name, None)
        else:
            self.attrs[name] = value

    def get_id(self) -> str:
        return self.attrs.get("id", "")

    def set_id(self, v: Optional[str]) -> None:
        self.set_attribute("id", v)

    def get_class(self) -> str:
        return self.attrs.get("class", "")

    def set_class(self, v: Optional[str]) -> None:
        self.set_attribute("class", v)

    def get_style(self) -> str:
        return self.attrs.get("style", "")

    def set_style(self, v: Optional[str]) -> None:
        self.set_attribute("style", v)

    def get_attributes_string(self, sep: str) -> str:
        return sep.join(v for v in self.attrs.values() if v)

    # --- html helpers -------------------------------------------------------

    def get_inner_html(self) -> str:
        return "".join(ch.to_string(pretty=False) for ch in self.children)

    # NOTE: element tags are lowercase by construction (parser case-folds,
    # all synthesized elements use lowercase), so lookups compare directly.
    # Hot paths below use an explicit reversed-extend DFS (document order)
    # instead of nested generators.

    def get_elements_by_tag_name(self, tag: str) -> list["Element"]:
        t = tag.lower()
        out: list[Element] = []
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                if node.tag == t:
                    out.append(node)
                if node.children:
                    stack.extend(node.children[::-1])
        return out

    def count_elements_by_tag_name(self, tag: str,
                                   limit: int = 0) -> int:
        """``limit`` > 0 stops the walk once that many matches are seen —
        for existence (`limit=1`) or exactly-one (`limit=2`) probes the
        rest of the subtree can't change the comparison's outcome."""
        t = tag.lower()
        count = 0
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                if node.tag == t:
                    count += 1
                    if count == limit:
                        return count
                if node.children:
                    stack.extend(node.children[::-1])
        return count

    def find_first_by_tag_name(self, tag: str) -> Optional["Element"]:
        """First match in document order — identical to
        ``get_elements_by_tag_name(tag)[0]`` but early-exits the DFS
        (GetElementsByTagName consumers that only read the head of the
        list, e.g. the per-call body/head lookups)."""
        t = tag.lower()
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                if node.tag == t:
                    return node
                if node.children:
                    stack.extend(node.children[::-1])
        return None

    def get_children_by_tag_name(self, tag: str) -> list["Element"]:
        t = tag.lower()
        return [e for e in self.elements() if e.tag == t]


class Document:
    """XDocument stand-in: ordered prolog nodes + at most one root element."""

    def __init__(self) -> None:
        self.children: list[Node] = []

    @property
    def root(self) -> Optional[Element]:
        for ch in self.children:
            if isinstance(ch, Element):
                return ch
        return None

    def add(self, node: Node) -> None:
        node = _adopt(node)
        node.parent = None
        self.children.append(node)

    def descendants(self) -> Iterator[Element]:
        for ch in self.children:
            if isinstance(ch, Element):
                yield ch
                yield from ch.descendants()

    def descendant_nodes(self) -> Iterator[Node]:
        for ch in self.children:
            yield ch
            if isinstance(ch, Element):
                yield from ch.descendant_nodes()

    # tags are lowercase by construction, as in Element's lookups
    def get_elements_by_tag_name(self, tag: str) -> list[Element]:
        t = tag.lower()
        out: list[Element] = []
        for ch in self.children:
            if type(ch) is Element:
                if ch.tag == t:
                    out.append(ch)
                out.extend(ch.get_elements_by_tag_name(t))
        return out

    def get_element_by_id(self, id_: str) -> Optional[Element]:
        """The only element with this id, or None if none or several."""
        found = None
        stack = self.children[:]
        while stack:
            node = stack.pop()
            if type(node) is Element:
                if node.attrs.get("id") == id_:
                    if found is not None:
                        return None
                    found = node
                stack.extend(node.children)
        return found

    def get_children_by_tag_name(self, tag: str) -> list[Element]:
        t = tag.lower()
        return [e for e in self.children
                if isinstance(e, Element) and e.tag.lower() == t]

    def to_string(self, pretty: bool = False) -> str:
        if not pretty:
            return "".join(ch.to_string(pretty=False) for ch in self.children)
        # one writer across all top-level nodes: siblings after the first
        # get the CRLF separator through the same indent logic XDocument
        # serialization uses
        w = _PrettyWriter()
        for ch in self.children:
            w.write(ch, 0)
        return "".join(w.out)


# --- serialization ----------------------------------------------------------

def _write_open_tag(el: Element, out: list[str]) -> bool:
    """Writes the start tag; returns True if self-closed (no children)."""
    out.append("<")
    out.append(el.tag)
    for k, v in el.attrs.items():
        out.append(f' {k}="{escape_attr(v)}"')
    if not el.children:
        out.append(" />")
        return True
    out.append(">")
    return False


def _write_compact(node: Node, out: list[str]) -> None:
    if isinstance(node, Element):
        if _write_open_tag(node, out):
            return
        for ch in node.children:
            _write_compact(ch, out)
        out.append(f"</{node.tag}>")
    elif isinstance(node, Text):
        if node.is_cdata:
            out.append(f"<![CDATA[{node.value}]]>")
        else:
            out.append(escape_text(node.value))
    elif isinstance(node, Comment):
        out.append(f"<!--{node.value}-->")
    elif isinstance(node, ProcessingInstruction):
        out.append(f"<?{node.target} {node.data}?>")


class _PrettyWriter:
    """Replicates the .NET XmlWriter indenting algorithm (referencesource
    XmlEncodedRawTextWriterIndent — the XDocument.ToString(SaveOptions.None)
    path the reference's PrettyPrint uses, SgmlDomSerializer.cs:69):

    * two-space indent, CRLF newlines;
    * writing text/CDATA marks the CURRENT element scope 'mixed'; while a
      scope is mixed, no indentation is emitted before its remaining
      children or its end tag;
    * a child element's own content scope always starts un-mixed (the flag
      is pushed/popped, not inherited), so indentation resumes inside
      non-mixed descendants of a mixed element;
    * nothing is emitted before the very first write (no leading newline),
      and never directly after a text write.
    """
    __slots__ = ("out", "mixed", "last_text")

    def __init__(self) -> None:
        self.out: list[str] = []
        self.mixed = False
        self.last_text = False

    def _maybe_indent(self, level: int) -> None:
        if not self.mixed and self.out and not self.last_text:
            self.out.append("\r\n" + "  " * level)

    def write(self, node: Node, level: int) -> None:
        out = self.out
        if isinstance(node, Element):
            self._maybe_indent(level)
            self.last_text = False
            if _write_open_tag(node, out):
                return
            parent_mixed = self.mixed
            self.mixed = False
            for ch in node.children:
                self.write(ch, level + 1)
            if not self.mixed and not self.last_text:
                out.append("\r\n" + "  " * level)
            self.mixed = parent_mixed
            out.append(f"</{node.tag}>")
            self.last_text = False
        elif isinstance(node, Text):
            self.mixed = True
            if node.is_cdata:
                out.append(f"<![CDATA[{node.value}]]>")
            else:
                out.append(escape_text(node.value))
            self.last_text = True
        elif isinstance(node, Comment):
            self._maybe_indent(level)
            out.append(f"<!--{node.value}-->")
            self.last_text = False
        elif isinstance(node, ProcessingInstruction):
            self._maybe_indent(level)
            out.append(f"<?{node.target} {node.data}?>")
            self.last_text = False


def _write_pretty(node: Node, out: list[str], depth: int) -> None:
    w = _PrettyWriter()
    w.write(node, depth)
    out.extend(w.out)
