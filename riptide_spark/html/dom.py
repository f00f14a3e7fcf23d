"""Deterministic, dependency-free HTML DOM with pinned text-assembly semantics.

This module reimplements (from scratch, in Python, on top of the stdlib
``html.parser`` tokenizer) the *observable semantics* of the HTML engine used
by the reference extractor (RipTide's WASM component built on the ``tl`` 0.7
parser — see ``/root/reference/wasm/riptide-extractor-wasm/src/lib.rs:302-552``
and the golden snapshots in
``/root/reference/wasm/riptide-extractor-wasm/tests/golden/snapshots/``).

The contract, reverse-engineered node-for-node from the golden snapshots:

* ``inner_text`` of an element is the concatenation of **all** descendant
  text nodes in document order, with the raw inter-tag whitespace preserved
  verbatim (see ``news_site_article.json`` — source indentation is retained).
* HTML character references in text are decoded (``&copy;`` → ``©`` in
  ``news_site_full.json``).
* Comments, doctype and processing instructions contribute nothing (not even
  whitespace) — the comment in ``news_site.html:117`` leaves no trace in the
  full-mode snapshot.
* Tags are transparent: ``<strong>X</strong> - Y`` → ``X - Y``.
* ``<script>``/``<style>`` raw content is kept as a text child of its element
  (``tl`` keeps raw nodes; nothing in the goldens excludes them), with
  character references left undecoded inside those elements.

Parsing is lenient: unmatched close tags are ignored, unclosed tags are
closed by their ancestors, void elements never take children.

``parse`` indexes each page once, after the tree is built: positions, one
element list, one tag index and one text buffer, all in document order.
Text, descendants and selector candidates are slices of that index, so
nothing may change the tree after ``parse``; nothing does.

This is intentionally NOT a spec-compliant HTML5 tree builder — it is a
pinned, deterministic engine whose behavior is frozen by the golden-parity
tests in ``tests/test_golden.py``. Determinism matters more than spec
compliance here: the same bytes must produce the same text on every executor
of a 1000-node cluster, forever.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from functools import partial
from html.parser import HTMLParser
from operator import attrgetter

VOID_ELEMENTS = frozenset(
    {
        "area",
        "base",
        "br",
        "col",
        "embed",
        "hr",
        "img",
        "input",
        "link",
        "meta",
        "param",
        "source",
        "track",
        "wbr",
    }
)


class Element:
    """One element node: tag name, attributes, ordered children.

    Children are either ``Element`` instances or ``str`` text nodes.
    Attribute names are lowercased; for duplicate attributes the first
    occurrence wins. A valueless attribute maps to ``""``.

    ``parse`` indexes the page once: ``pos`` is the element's position in
    document order, ``last`` the position of its last descendant (``pos``
    when it has none) and ``[_start, _stop)`` its span in the page's text
    buffer. Its descendants are ``flat[pos + 1 : last + 1]`` of the page's
    element list, and its text is a slice of the buffer.
    """

    __slots__ = ("tag", "attrs", "children", "parent", "pos", "last", "_start", "_stop", "_doc")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Element | None"):
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []
        self.parent = parent
        self.pos = -1

    def get(self, name: str) -> str | None:
        return self.attrs.get(name)

    def inner_text(self) -> str:
        """Every descendant text node, concatenated in document order."""
        return self._doc.text[self._start : self._stop]

    def iter_elements(self) -> list["Element"]:
        """Descendant elements (not self) in document order."""
        return self._doc.flat[self.pos + 1 : self.last + 1]

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Element {self.tag} attrs={self.attrs} children={len(self.children)}>"


class _Document(Element):
    """The root of a parsed page and its one index: ``flat`` is every
    element in document order, ``by_tag`` the same per tag, ``text`` every
    text node concatenated in document order and ``breaks`` the offset in
    ``text`` at which each text node starts."""

    __slots__ = ("flat", "by_tag", "text", "breaks")

    def __init__(self) -> None:
        super().__init__("#document", {}, None)


def _index(doc: _Document) -> _Document:
    """Index the tree in one iterative pass (8,000 nested elements exceed
    the recursion limit). An element is pushed again under its children;
    popped a second time, with its ``pos`` already set, it is closed."""
    flat: list[Element] = []
    by_tag: dict[str, list[Element]] = {}
    texts: list[str] = []
    breaks: list[int] = []
    offset = 0
    stack: list[object] = list(reversed(doc.children))
    while stack:
        node = stack.pop()
        if isinstance(node, str):
            breaks.append(offset)
            texts.append(node)
            offset += len(node)
        elif node.pos < 0:
            node.pos = len(flat)
            node._start = offset
            node._doc = doc
            flat.append(node)
            by_tag.setdefault(node.tag, []).append(node)
            if node.children:
                stack.append(node)
                stack.extend(reversed(node.children))
            else:
                node.last = node.pos
                node._stop = offset
        else:
            node.last = len(flat) - 1
            node._stop = offset
    doc.last, doc._start, doc._stop, doc._doc = len(flat) - 1, 0, offset, doc
    doc.flat, doc.by_tag, doc.text, doc.breaks = flat, by_tag, "".join(texts), breaks
    return doc


def joined_text(el: Element) -> str:
    """The element's text nodes joined by one space and trimmed
    (scraper's ``text().collect().join(" ")``); ``inner_text`` joins them
    with nothing."""
    doc = el._doc
    bounds = doc.breaks[bisect_left(doc.breaks, el._start) : bisect_left(doc.breaks, el._stop)]
    bounds.append(el._stop)
    return " ".join(doc.text[a:b] for a, b in zip(bounds, bounds[1:])).strip()


def first_text(root: Element, selectors: tuple[str, ...]) -> str | None:
    """The trimmed text of the first element matching a selector, for the
    first selector whose first match has any; None when none has."""
    for selector in selectors:
        node = query_selector(root, selector)
        if node is not None:
            text = node.inner_text().strip()
            if text:
                return text
    return None


class _TreeBuilder(HTMLParser):
    """Builds the tree; comments, doctype and PIs vanish entirely, as
    ``HTMLParser``'s own handlers for them do nothing."""

    def __init__(self) -> None:
        # convert_charrefs=True decodes character references in text data
        # (but not inside script/style), matching the pinned semantics.
        super().__init__(convert_charrefs=True)
        self.root = _Document()
        self._stack: list[Element] = [self.root]

    # -- tag events -----------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        attr_map: dict[str, str] = {}
        for name, value in attrs:
            attr_map.setdefault(name, value if value is not None else "")
        parent = self._stack[-1]
        el = Element(tag, attr_map, parent)
        parent.children.append(el)
        if tag not in VOID_ELEMENTS:
            self._stack.append(el)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        # A self-closed tag (``<div/>``) opens no element for what follows.
        self.handle_starttag(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self._stack.pop()

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        # Pop to the nearest matching open tag; ignore unmatched closers.
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    # -- data events ----------------------------------------------------
    def handle_data(self, data: str) -> None:
        if not data:
            return
        children = self._stack[-1].children
        # Merge adjacent text nodes (the tokenizer may split arbitrarily).
        if children and isinstance(children[-1], str):
            children[-1] += data
        else:
            children.append(data)


def parse(html: str) -> Element:
    """Parse HTML into the pinned DOM and index it. Never raises on
    malformed input."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        # html.parser is robust, but guarantee no row ever kills a task.
        pass
    return _index(builder.root)


# ---------------------------------------------------------------------------
# CSS selector subset
# ---------------------------------------------------------------------------
#
# Only the vocabulary actually used by the reference extractor is implemented
# (enumerated in SURVEY.md §7 "hard parts"): tag, ``#id``, ``.class``,
# ``[attr]``, ``[attr=v]``, ``[attr*=v]``, ``[attr^=v]``, compound simple
# selectors, the descendant combinator (whitespace) and comma groups.
# Matches are returned in document order (the order the goldens exhibit).


class _SimpleSelector:
    __slots__ = ("tag", "conds")

    def __init__(self, tag: str | None, conds: list[tuple[str, str, str]]):
        self.tag = tag
        self.conds = conds  # (attr, op, value); op in {"has", "=", "*=", "^="}

    def matches(self, el: Element) -> bool:
        if self.tag is not None and el.tag != self.tag:
            return False
        for attr, op, value in self.conds:
            actual = el.attrs.get(attr)
            if actual is None:
                return False
            if op == "has":
                continue
            if op == "=":
                if actual != value:
                    return False
            elif op == "*=":
                if value not in actual:
                    return False
            elif op == "^=":
                if not actual.startswith(value):
                    return False
            elif op == "~=":
                if value not in actual.split():
                    return False
            else:  # pragma: no cover - parser only emits the ops above
                return False
        return True


def _parse_simple(token: str) -> _SimpleSelector | None:
    """Parse one compound simple selector like ``tag.cls[attr^='v']``."""
    tag: str | None = None
    conds: list[tuple[str, str, str]] = []
    i, n = 0, len(token)
    if n == 0:
        return None
    # Leading tag name or universal selector.
    if token[0] not in ".#[*":
        j = i
        while j < n and token[j] not in ".#[":
            j += 1
        tag = token[i:j].lower()
        i = j
    elif token[0] == "*":
        i = 1
    while i < n:
        c = token[i]
        if c in ".#":
            j = i + 1
            while j < n and token[j] not in ".#[":
                j += 1
            name = token[i + 1 : j]
            conds.append(("class", "~=", name) if c == "." else ("id", "=", name))
            i = j
        elif c == "[":
            j = token.find("]", i)
            if j < 0:
                return None
            body = token[i + 1 : j]
            i = j + 1
            op = "has"
            value = ""
            for candidate in ("*=", "^=", "~=", "="):
                k = body.find(candidate)
                if k >= 0:
                    attr = body[:k].strip().lower()
                    op = candidate
                    value = body[k + len(candidate) :].strip()
                    if len(value) >= 2 and value[0] in "'\"" and value[-1] == value[0]:
                        value = value[1:-1]
                    break
            else:
                attr = body.strip().lower()
            if not attr:
                return None
            conds.append((attr, op, value))
        else:
            return None
    return _SimpleSelector(tag, conds)


def _split_selector_list(selector: str) -> list[str]:
    """Split on commas not inside brackets/quotes."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    cur: list[str] = []
    for ch in selector:
        if quote:
            if ch == quote:
                quote = None
            cur.append(ch)
        elif ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "[":
            depth += 1
            cur.append(ch)
        elif ch == "]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


def _chain_matches(chain: list[_SimpleSelector], el: Element) -> bool:
    """Does ``el`` match a descendant chain? Its ancestors must match the
    rest of the chain, nearest-last."""
    if not chain[-1].matches(el):
        return False
    idx = len(chain) - 2
    node = el.parent
    while idx >= 0 and node is not None and node.tag != "#document":
        if chain[idx].matches(node):
            idx -= 1
        node = node.parent
    return idx < 0


_SELECTOR_CACHE: dict[str, list[list[_SimpleSelector]] | None] = {}


def compile_selector(selector: str) -> list[list[_SimpleSelector]] | None:
    """A comma group as its descendant chains, or None if none parses."""
    cached = _SELECTOR_CACHE.get(selector)
    if cached is not None or selector in _SELECTOR_CACHE:
        return cached
    chains: list[list[_SimpleSelector]] = []
    for group in _split_selector_list(selector):
        chain: list[_SimpleSelector] = []
        ok = True
        for token in group.split():
            if token == ">":
                ok = False  # child combinator unsupported (unused by reference)
                break
            simple = _parse_simple(token)
            if simple is None:
                ok = False
                break
            chain.append(simple)
        if ok and chain:
            chains.append(chain)
    result = chains or None
    if len(_SELECTOR_CACHE) < 4096:
        _SELECTOR_CACHE[selector] = result
    return result


_POS = attrgetter("pos")


def _candidates(scope: Element, simple: _SimpleSelector) -> list[Element]:
    """The elements under ``scope`` that ``simple`` could match, in
    document order: the page's list for its tag, or every element."""
    doc = scope._doc
    if simple.tag is None:
        return doc.flat if scope is doc else scope.iter_elements()
    tagged = doc.by_tag.get(simple.tag, [])
    if scope is doc or not tagged:
        return tagged
    lo = bisect_right(tagged, scope.pos, key=_POS)
    return tagged[lo : bisect_right(tagged, scope.last, lo, key=_POS)]


def _chain_feasible(scope: Element, chain: list[_SimpleSelector]) -> bool:
    """Cheap pruning for descendant chains: if any ancestor simple matches
    NOTHING under ``scope`` (the common case for breadcrumb/nav selectors
    on ordinary pages), the chain can't match — one early-exit scan per
    ancestor beats an ancestor walk per candidate."""
    for simple in chain[:-1]:
        if not any(simple.matches(el) for el in _candidates(scope, simple)):
            return False
    return True


def _select(scope: Element, chain: list[_SimpleSelector]):
    """The matches of one chain under ``scope``, lazily, in document order."""
    candidates = _candidates(scope, chain[-1])
    if len(chain) == 1:
        simple = chain[0]
        # Bare-tag selector ("p", "h2", …): the tag index IS the answer —
        # the hot case for the native content ladder.
        if simple.tag is not None and not simple.conds:
            return iter(candidates)
        return filter(simple.matches, candidates)
    if not _chain_feasible(scope, chain):
        return iter(())
    return filter(partial(_chain_matches, chain), candidates)


def query_selector_all(root: Element, selector: str) -> list[Element]:
    chains = compile_selector(selector)
    if chains is None:
        return []
    if len(chains) == 1:
        return list(_select(root, chains[0]))
    seen: dict[int, Element] = {}
    for chain in chains:
        for el in _select(root, chain):
            seen[el.pos] = el
    return [seen[pos] for pos in sorted(seen)]


def query_selector(root: Element, selector: str) -> Element | None:
    chains = compile_selector(selector)
    if chains is None:
        return None
    if len(chains) == 1:
        return next(_select(root, chains[0]), None)
    matched = query_selector_all(root, selector)
    return matched[0] if matched else None
