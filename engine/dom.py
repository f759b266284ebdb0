"""Lightweight DOM with the tree semantics of stdlib ``html.parser``.

The reference parses every page with BeautifulSoup's ``html.parser``
backend (e.g. ``/root/reference/src/intelligent_parser.py:73``,
``general_parser.py:96``, ``table_parser.py:71``,
``json_script_parser.py:117``).  bs4 is not a dependency of this
rebuild; instead we build a minimal tree that reproduces the subset of
the bs4 API the extraction kernels need:

* ``find`` / ``find_all`` with tag-name, ``attrs``, ``class_`` and
  ``recursive`` filters, in document order;
* ``elements()`` (every descendant element, document order, as a list);
* ``get_text()`` (concatenation of descendant text, entities decoded);
* ``unwrap()`` (used for TEXT_PROPERTY_TAGS cleanup,
  ``general_parser.py:98-100``);
* ``parents`` iteration (path-chain construction,
  ``general_parser.py:523-531``);
* ``.string`` for script/JSON payloads (``json_script_parser.py:128``).

Tree policy (``_TreeBuilder``), pinned to the bs4/html.parser behaviour
observable in the reference's fixtures: tag/attr names lowercased,
``class`` is a token list, a duplicate attribute keeps its first
position and its last value, a value-less attribute is ``""``,
character references decoded in text and attribute values but not
inside script/style, comments and declarations dropped, void elements
self-close, and stray end tags are recovered by popping to the nearest
matching open tag.

Tokenizing.  ``parse_html`` first tries a strict single-pass
tokenizer that accepts only this grammar (``WS`` is ``[ \\t\\n\\r\\f]``):

* text: a run of characters up to the next ``<``, passed through
  ``html.unescape`` only when it contains ``&``;
* start tag: ``<`` name ``[a-zA-Z][-a-zA-Z0-9]*``, then attributes
  ``WS+ [a-zA-Z_:][-a-zA-Z0-9_:.]*``, each optionally followed by
  ``WS* = WS*`` and a ``"…"`` value, a ``'…'`` value or a bare
  ``[A-Za-z0-9_.:#-]+`` value that is followed by whitespace or ``>``;
  the tag ends in ``WS* >`` or ``WS* />``;
* end tag: ``</`` name ``WS* >``;
* comment: ``<!--`` up to the first ``--\\s*>``;
* ``<!doctype`` (any case) up to the next ``>``;
* the content of ``HTMLParser.CDATA_CONTENT_ELEMENTS`` (script, style)
  up to the first ASCII ``</\\s*name\\s*>`` (any case), kept raw.

Inside this grammar ``html.parser`` produces the same tokens, with the
same text chunk boundaries, and both paths feed the same
``_TreeBuilder`` handlers.  Any input outside it (a stray ``<``,
``<?``, ``<![CDATA[``, a raw-text element with no closer, attribute
syntax outside the subset such as ``href=/x`` or ``width=50%``,
non-ASCII whitespace inside a tag, ...) sends the **whole page**
through ``html.parser`` with a fresh builder.  One possessive pattern
over the whole page (``_PAGE_RE``) makes that decision before any tree
is built, so a declined page costs one C-level scan on top of its
``html.parser`` parse rather than a discarded partial tree.  (The token
loop keeps its own checks; only it declines a raw-text closer with
non-ASCII characters.)  ``scripts/kernel_bench.py`` reports the cost on
declined pages next to the accepted families.  The differential tests
(``tests/test_properties.py``, ``tests/test_dom_edges.py``) compare the
strict path against the *installed* ``html.parser``: a Python upgrade
that changes ``html.parser`` fails those tests loudly instead of
letting the two paths drift apart.

This module is pure Python and runs *inside* Arrow-batched UDFs — the
per-row work is vectorized at the batch level per the north star (no
per-row Python round trips through Spark).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Dict, Iterator, List, Optional, Union

VOID_ELEMENTS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

# Attributes bs4 treats as whitespace-separated token lists for HTML.
_MULTI_VALUED = {"class"}

AttrFilter = Dict[str, Union[str, bool, List[str]]]


class Node:
    """One element.  Text nodes are plain ``str`` entries in ``children``."""

    __slots__ = ("name", "attrs", "children", "parent")

    def __init__(self, name: str, attrs: Optional[dict] = None,
                 parent: Optional["Node"] = None):
        self.name = name
        self.attrs: dict = attrs if attrs is not None else {}
        self.children: list = []  # Node | str
        self.parent = parent

    # -- attribute access -------------------------------------------------
    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def __getitem__(self, key: str):
        return self.attrs[key]

    def __contains__(self, key: str) -> bool:
        return key in self.attrs

    # -- traversal --------------------------------------------------------
    @property
    def parents(self) -> Iterator["Node"]:
        node = self.parent
        while node is not None:
            yield node
            node = node.parent

    def elements(self) -> List["Node"]:
        """Descendant elements in document order (self excluded).

        Explicit-stack pre-order walk into a list: this is the hottest
        loop in the extraction kernel, and a list costs one append per
        element where a generator costs a resume per element."""
        out: List[Node] = []
        append = out.append
        stack = self.children[::-1]
        pop, extend = stack.pop, stack.extend
        while stack:
            node = pop()
            if node.__class__ is str:
                continue
            append(node)
            if node.children:
                extend(node.children[::-1])
        return out

    # -- text -------------------------------------------------------------
    def get_text(self) -> str:
        # iterative: adversarially deep markup must not hit the Python
        # recursion limit inside the extraction kernel
        parts: List[str] = []
        stack: List[list] = [self.children[::-1]]
        while stack:
            top = stack[-1]
            if not top:
                stack.pop()
                continue
            child = top.pop()
            if isinstance(child, Node):
                if child.children:
                    stack.append(child.children[::-1])
            else:
                parts.append(child)
        return "".join(parts)

    @property
    def string(self) -> Optional[str]:
        """bs4 ``.string``: the single text child, else ``None``."""
        if len(self.children) == 1 and isinstance(self.children[0], str):
            return self.children[0]
        if len(self.children) == 1 and isinstance(self.children[0], Node):
            return self.children[0].string
        return None

    # -- mutation ---------------------------------------------------------
    def unwrap(self) -> None:
        """Replace this element by its children in the parent."""
        if self.parent is None:
            return
        siblings = self.parent.children
        idx = next(i for i, c in enumerate(siblings) if c is self)
        for child in self.children:
            if isinstance(child, Node):
                child.parent = self.parent
        siblings[idx:idx + 1] = self.children
        self.children = []
        self.parent = None

    # -- search -----------------------------------------------------------
    def find_all(self, name=None, attrs: Optional[AttrFilter] = None,
                 recursive: bool = True, limit: Optional[int] = None,
                 **kwargs) -> List["Node"]:
        if kwargs:
            attrs = dict(attrs) if attrs else {}
            for key, val in kwargs.items():
                attrs["class" if key == "class_" else key] = val
        if recursive:
            found = self.elements()
        else:
            found = [c for c in self.children if c.__class__ is not str]
        if isinstance(name, str):
            found = [el for el in found if el.name == name]
        elif name is not None and name is not True:
            names = set(name)
            found = [el for el in found if el.name in names]
        if attrs:
            wanted = attrs.items()
            found = [el for el in found if _attrs_match(el.attrs, wanted)]
        return found[:limit] if limit is not None else found

    findAll = find_all

    def find(self, name=None, attrs: Optional[AttrFilter] = None,
             recursive: bool = True, **kwargs) -> Optional["Node"]:
        found = self.find_all(name, attrs, recursive, limit=1, **kwargs)
        return found[0] if found else None

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.name} {self.attrs}>"


def _attr_value_matches(actual, expected) -> bool:
    if expected is True:
        return actual is not None
    if actual is None:
        return False
    if isinstance(actual, list):
        if isinstance(expected, str):
            return expected in actual or expected == " ".join(actual)
        if isinstance(expected, list):
            # token-subset match: every requested token present
            return all(tok in actual for tok in expected)
        return False
    if isinstance(expected, list):
        return actual in expected
    return actual == expected


def _attrs_match(attrs: dict, wanted) -> bool:
    for key, expected in wanted:
        if not _attr_value_matches(attrs.get(key), expected):
            return False
    return True


class _TreeBuilder(HTMLParser):
    """Stack-based tree builder with end-tag recovery."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]")
        self.stack: List[Node] = [self.root]

    # both tokenizers pass lowercased tag names
    def handle_starttag(self, tag: str, attrs) -> None:
        node = self._make_node(tag, attrs)
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        node = self._make_node(tag, attrs)
        self.stack[-1].children.append(node)

    def _make_node(self, tag: str, attrs) -> Node:
        attr_dict: dict = {}
        for key, value in attrs:
            # duplicate attributes: LAST occurrence wins — bs4's
            # html.parser builder default (on_duplicate_attribute=
            # 'replace') in the version the reference pins
            if value is None:
                value = ""
            if key in _MULTI_VALUED:
                attr_dict[key] = value.split()
            else:
                attr_dict[key] = value
        return Node(tag, attr_dict, parent=self.stack[-1])

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)

    # comments / declarations / PIs are not part of the text surface
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass


# -- strict tokenizer (grammar in the module docstring) ---------------------

_WS = r"[ \t\n\r\f]"
_TAG_NAME = r"[a-zA-Z][-a-zA-Z0-9]*"
_ATTR_NAME = r"[a-zA-Z_:][-a-zA-Z0-9_:.]*"
# a bare value must end where html.parser's ``[^>\s]*`` ends
_ATTR_VALUE = (r"\"[^\"]*\"|'[^']*'|[A-Za-z0-9_.:#-]+(?=[ \t\n\r\f>])")
_ATTRS = rf"(?:{_WS}+{_ATTR_NAME}(?:{_WS}*={_WS}*(?:{_ATTR_VALUE}))?)*"
_COMMENT = r"<!--(.*?)--\s*>"
_DOCTYPE = r"<!([dD][oO][cC][tT][yY][pP][eE][^>]*)>"
# one token per match; the last participating group tells which:
# 1 text, 4 start tag (2 name, 3 attribute source, 4 "/" or ""),
# 5 end tag, 6 comment body, 7 doctype body
_TOKEN_RE = re.compile(
    r"([^<]+)"
    rf"|<({_TAG_NAME})({_ATTRS}){_WS}*(/?)>"
    rf"|</({_TAG_NAME}){_WS}*>"
    rf"|{_COMMENT}|{_DOCTYPE}",
    re.S)
# splits an attribute source the token pattern has already accepted
_ATTR_RE = re.compile(
    rf"{_WS}+({_ATTR_NAME})(?:{_WS}*={_WS}*"
    r"(?:\"([^\"]*)\"|'([^']*)'|([A-Za-z0-9_.:#-]+)))?")
_RAW_TEXT_END = {name: re.compile(r"</\s*%s\s*>" % name, re.I)
                 for name in HTMLParser.CDATA_CONTENT_ELEMENTS}


def _any_case(name: str) -> str:
    return "".join(f"[{c}{c.upper()}]" for c in name)


# The whole grammar as one possessive pattern: a page outside it is
# rejected by one scan in C before any tree is built, so a declined page
# costs little more than its html.parser parse.  Raw-text content runs
# to the first closer ``_RAW_TEXT_END`` would find.
_RAW_NAMES = "|".join(map(_any_case, HTMLParser.CDATA_CONTENT_ELEMENTS))
_PAGE_RE = re.compile(
    r"(?:[^<]++"
    rf"|</{_TAG_NAME}{_WS}*>"
    rf"|<(?!(?:{_RAW_NAMES})[ \t\n\r\f/>]){_TAG_NAME}{_ATTRS}{_WS}*/?>"
    + "".join(
        rf"|<{_any_case(name)}{_ATTRS}{_WS}*(?:/>|>[^<]*+"
        rf"(?:<(?!/\s*(?i:{name})\s*>)[^<]*+)*+</\s*(?i:{name})\s*>)"
        for name in HTMLParser.CDATA_CONTENT_ELEMENTS)
    + rf"|{_COMMENT}|{_DOCTYPE})*+\Z",
    re.S)


def _parse_strict(html: str) -> Optional[Node]:
    """Tree of ``html`` from the strict tokenizer, or ``None`` when the
    page leaves its grammar (the caller then uses ``html.parser``)."""
    if _PAGE_RE.match(html) is None:
        return None
    builder = _TreeBuilder()
    on_data, on_start = builder.handle_data, builder.handle_starttag
    on_startend, on_end = builder.handle_startendtag, builder.handle_endtag
    match, split_attrs = _TOKEN_RE.match, _ATTR_RE.findall
    # attribute sources repeat across a page's repeated items; the
    # builder copies each list into a fresh dict, so sharing is safe
    attr_lists: Dict[str, list] = {}
    pos, n = 0, len(html)
    while pos < n:
        m = match(html, pos)
        if m is None:
            return None
        pos = m.end()
        kind = m.lastindex
        if kind == 1:
            text = m.group(1)
            on_data(unescape(text) if "&" in text else text)
        elif kind == 4:
            tag, source, slash = m.group(2, 3, 4)
            tag = tag.lower()
            attrs = attr_lists.get(source)
            if attrs is None:
                attrs = attr_lists[source] = []
                for key, dq, sq, bare in split_attrs(source):
                    value = dq or sq or bare
                    if "&" in value:
                        value = unescape(value)
                    attrs.append((key.lower(), value))
            if slash:
                on_startend(tag, attrs)
                continue
            on_start(tag, attrs)
            closer = _RAW_TEXT_END.get(tag)
            if closer is not None:
                # raw text: html.parser emits it unconverted, one chunk
                end = closer.search(html, pos)
                if end is None or not end.group().isascii():
                    return None
                on_data(html[pos:end.start()])
                on_end(tag)
                pos = end.end()
        elif kind == 5:
            on_end(m.group(5).lower())
        elif kind == 6:
            builder.handle_comment(m.group(6))
        else:
            builder.handle_decl(m.group(7))
    return builder.root


def _parse_htmlparser(html: str) -> Node:
    """Tree of ``html`` from the stdlib ``html.parser`` tokenizer."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        # html.parser is forgiving; any residual failure yields the
        # partial tree built so far (parse failures are accounted for
        # at the pipeline level, engine/pipeline.py).
        pass
    return builder.root


def parse_html(html: str) -> Node:
    """Parse an HTML string into a :class:`Node` tree (the document root):
    strict tokenizer first, ``html.parser`` for pages outside its grammar."""
    root = _parse_strict(html) if isinstance(html, str) else None
    return root if root is not None else _parse_htmlparser(html)
