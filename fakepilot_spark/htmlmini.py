"""htmlmini — a tiny, dependency-free HTML DOM with BeautifulSoup-compatible
query semantics for the subset the fakepilot reference uses.

The reference (`/root/reference/src/fakepilot/xray.py:174-187`) parses pages
with BeautifulSoup on lxml (fallback stdlib ``html.parser``). Neither bs4 nor
lxml is available in this environment, and at 100 TB scale we want a lean,
slot-based DOM built once per page inside an Arrow batch anyway. This module
reimplements — from scratch, against publicly documented bs4 behavior — only
the query surface the extraction semantics depend on:

* ``find`` / ``find_all`` with: tag-name match, callable tag predicate,
  ``class_`` regex/str (multi-valued: each whitespace-split token is tried,
  then the space-joined whole — bs4 ``_matches`` documented behavior),
  ``attrs`` dict equality / presence, ``string=`` regex over text nodes,
  and ``limit=`` early exit (reference relies on it at
  ``/root/reference/src/fakepilot/__init__.py:38-40``).
* ``.string`` — bs4 rule: exactly one child; a string child is returned
  directly, a tag child is recursed into, anything else → None.
* ``.strings`` — all *plain* text descendants in document order; comments,
  script/style payloads and declarations are excluded (bs4 filters by exact
  ``NavigableString`` type; script/style text is typed ``Script``/
  ``Stylesheet`` and comments ``Comment``, so none of them are yielded).
  Comments still *split* adjacent text into separate nodes — the reference
  depends on that for ``<!-- -->``-separated React SSR text
  (``/root/reference/src/fakepilot/xray.py:43-45,249-263``).
* attribute access: ``attrs`` dict (names lowercased, entities decoded,
  first duplicate wins — matching lxml), ``get``, ``has_attr``.

Physical layout: every node is appended to ONE flat pre-order array at parse
time; each tag records its subtree span ``[pos+1, end)``. Document-order
scans — the only traversal bs4 semantics need — are tight index loops over
that array instead of recursive generators, which makes whole-page scans on
real 0.3–1 MB pages ~3-5× faster (this is the hot path of the crawl's
pandas-UDF extraction stage). The first indexed query builds one lazy
per-document index of position lists keyed by tag name, attribute key, raw
class string and text value; a ``string=`` query runs its matcher once per
distinct text value and merges those values' positions.

Parsing uses ``html.parser.HTMLParser`` with ``convert_charrefs=True`` so
character references (incl. ``&nbsp;`` → ``\xa0``) decode into the same text
node, matching lxml. Void elements never take children; mismatched end tags
pop to the nearest matching open tag and are otherwise ignored (libxml2-style
recovery, sufficient for the well-formed SSR markup this engine targets).
"""

from __future__ import annotations

from html.parser import HTMLParser

__all__ = ["Tag", "StrNode", "parse", "parse_fast", "parse_stdlib", "TEXT", "COMMENT", "RAWTEXT", "DECL"]

TEXT = 0  # a plain text node (bs4 NavigableString)
COMMENT = 1  # <!-- ... -->
RAWTEXT = 2  # script/style/template payload (bs4 Script/Stylesheet)
DECL = 3  # doctype / processing instruction / CDATA

_VOID = frozenset(
    (
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    )
)

_RAW_PARENTS = frozenset(("script", "style", "template"))

_MULTI_VALUED = frozenset(("class", "rel", "rev", "accept-charset", "headers"))


class StrNode:
    """A string node: text content plus a kind discriminator."""

    __slots__ = ("text", "kind")

    def __init__(self, text: str, kind: int) -> None:
        self.text = text
        self.kind = kind

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"StrNode({self.text!r}, kind={self.kind})"


class Tag:
    """An element node with bs4-compatible query helpers.

    ``_flat`` is the document's shared pre-order node array; this tag sits at
    index ``pos`` and its descendants occupy ``_flat[pos+1:end]``.
    """

    __slots__ = ("name", "attrs", "contents", "_flat", "pos", "end", "_idx")

    def __init__(self, name: str, attrs: dict, flat: list | None = None) -> None:
        self.name = name
        self.attrs = attrs
        self.contents: list = []
        self._flat = flat if flat is not None else [self]
        self.pos = 0
        self.end = 0
        self._idx = None

    # -- attribute access ---------------------------------------------------

    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    def __getitem__(self, key: str):
        return self.attrs[key]

    def has_attr(self, key: str) -> bool:
        return key in self.attrs

    # -- traversal ----------------------------------------------------------

    @property
    def descendants(self):
        """Pre-order iterator over every descendant node (tags + strings)."""
        flat = self._flat
        for idx in range(self.pos + 1, self.end):
            yield flat[idx]

    @property
    def strings(self):
        """Plain-text descendants in document order (comments/raw excluded)."""
        flat = self._flat
        for idx in range(self.pos + 1, self.end):
            node = flat[idx]
            if type(node) is StrNode and node.kind == TEXT:
                yield node.text

    @property
    def string(self):
        """bs4 ``.string``: defined only for single-child chains."""
        node = self
        while True:
            if len(node.contents) != 1:
                return None
            child = node.contents[0]
            if type(child) is StrNode:
                return child.text
            node = child

    # -- queries ------------------------------------------------------------

    def find(self, name=None, attrs=None, class_=None, string=None):
        for hit in self._search(name, attrs, class_, string, 1):
            return hit
        return None

    def find_all(self, name=None, attrs=None, class_=None, string=None, limit=None):
        return list(self._search(name, attrs, class_, string, limit))

    def _doc_index(self):
        """Lazy whole-document query index, shared by every tag of the doc.

        Built once (first indexed query) in one pre-order pass; queries then
        touch only candidate positions instead of re-scanning the ~10^4-node
        flat array per ``find`` — the extraction UDF issues ~a dozen
        whole-document finds per page, so this is the crawl hot path.
        """
        root = self._flat[0]
        idx = root._idx
        if idx is None:
            idx = root._idx = _DocIndex(self._flat)
        return idx

    def _search(self, name, attrs, class_, string, limit):
        flat = self._flat
        lo, hi = self.pos + 1, self.end
        n = 0
        if string is not None and name is None and not attrs and class_ is None:
            # text-node search (reference: find(string=re.compile(...)),
            # /root/reference/src/fakepilot/xray.py:131-137). bs4 matches any
            # NavigableString instance, which includes comment/raw subtypes.
            # The matcher runs once per *distinct* text value (SSR markup
            # repeats short runs thousands of times), then positions merge
            # back into document order.
            hits = []
            for val, positions in self._doc_index().text_val_pos.items():
                if _match_str_memo(string, val):
                    hits.extend(positions)
            hits.sort()
            for p in hits:
                if p < lo:
                    continue
                if p >= hi:
                    break
                yield flat[p]
                n += 1
                if limit is not None and n >= limit:
                    return
            return
        callable_name = name is not None and callable(name) and not isinstance(name, str)
        cls_mkey = _memo_key(class_) if class_ is not None and class_ is not True else None
        candidates = None
        if not callable_name:
            idx = self._doc_index()
            if attrs:
                for key in attrs:
                    lst = idx.attr_pos.get(key)
                    if lst is None:
                        return  # attr key absent from the whole document
                    if candidates is None or len(lst) < len(candidates):
                        candidates = lst
            if name is not None:
                lst = idx.name_pos.get(name)
                if lst is None:
                    return
                if candidates is None or len(lst) < len(candidates):
                    candidates = lst
            if candidates is None and class_ is not None:
                # evaluate the class matcher per distinct raw class string,
                # then merge the (document-ordered) position lists.
                merged = []
                for val, positions in idx.class_val_pos.items():
                    if _match_multi_raw(class_, val, cls_mkey):
                        merged.extend(positions)
                merged.sort()
                candidates = merged
        if candidates is None:
            # callable tag predicate: full document-order scan (bs4 fallback)
            for p in range(lo, hi):
                node = flat[p]
                if type(node) is not Tag:
                    continue
                if name is not None and not name(node):
                    continue
                if class_ is not None:
                    raw_cls = node.attrs.get("class")
                    if raw_cls is None or not _match_multi_raw(
                        class_, raw_cls, cls_mkey
                    ):
                        continue
                if attrs and not _match_attrs(node, attrs):
                    continue
                yield node
                n += 1
                if limit is not None and n >= limit:
                    return
            return
        start = _bisect_left(candidates, lo)
        for ci in range(start, len(candidates)):
            p = candidates[ci]
            if p >= hi:
                break
            node = flat[p]
            if name is not None and node.name != name:
                continue
            if class_ is not None:
                raw_cls = node.attrs.get("class")
                if raw_cls is None or not _match_multi_raw(
                    class_, raw_cls, cls_mkey
                ):
                    continue
            if attrs and not _match_attrs(node, attrs):
                continue
            yield node
            n += 1
            if limit is not None and n >= limit:
                return

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<{self.name} {self.attrs!r} children={len(self.contents)}>"


from bisect import bisect_left as _bisect_left


class _DocIndex:
    """Document-order position indexes over one parsed page's flat array.

    ``name_pos`` is keyed by tag name, ``attr_pos`` by attribute key,
    ``class_val_pos`` by raw class string and ``text_val_pos`` by string-node
    text value. Every list is sorted (document order), so range restriction
    to a tag's subtree span is a bisect + early break. The index is a pure
    acceleration structure: ``_search`` re-verifies the full predicate on
    every candidate, so query semantics are exactly the scan's.
    """

    __slots__ = ("name_pos", "attr_pos", "class_val_pos", "text_val_pos")

    def __init__(self, flat: list) -> None:
        # Tags are grouped by the *identity* of their attrs dict: the
        # tokenizer caches hand every repeat of a start tag / attr blob the
        # same dict, so the per-key / per-class expansion below runs once per
        # distinct dict (SSR pages: ~10^4 tags, dozens of distinct blobs).
        # Text is keyed by value, appended in pre-order: already sorted.
        name_pos: dict = {}
        attr_groups: dict = {}  # id(attrs) -> (attrs, [pos...])
        text_val_pos: dict = {}
        for i in range(1, len(flat)):
            node = flat[i]
            if type(node) is Tag:
                nm = node.name
                lst = name_pos.get(nm)
                if lst is None:
                    name_pos[nm] = [i]
                else:
                    lst.append(i)
                a = node.attrs
                if a:
                    g = attr_groups.get(id(a))
                    if g is None:
                        attr_groups[id(a)] = (a, [i])
                    else:
                        g[1].append(i)
            else:
                lst = text_val_pos.get(node.text)
                if lst is None:
                    text_val_pos[node.text] = [i]
                else:
                    lst.append(i)
        attr_pos: dict = {}
        class_val_pos: dict = {}
        for a, positions in attr_groups.values():
            for k in a:
                lst = attr_pos.get(k)
                if lst is None:
                    attr_pos[k] = list(positions)
                else:
                    lst.extend(positions)
            c = a.get("class")
            if c is not None:
                lst = class_val_pos.get(c)
                if lst is None:
                    class_val_pos[c] = list(positions)
                else:
                    lst.extend(positions)
        # interleaved groups concatenate out of order; one Timsort pass per
        # list restores document order (already-sorted lists are O(n)).
        for lst in attr_pos.values():
            lst.sort()
        for lst in class_val_pos.values():
            lst.sort()
        self.name_pos = name_pos
        self.attr_pos = attr_pos
        self.class_val_pos = class_val_pos
        self.text_val_pos = text_val_pos


def _match_str(matcher, text: str) -> bool:
    if hasattr(matcher, "search"):
        return matcher.search(text) is not None
    return text == matcher


def _match_attr_value(matcher, value) -> bool:
    if matcher is True:
        return True
    if hasattr(matcher, "search"):
        return matcher.search(value) is not None
    return value == matcher


def _match_multi(matcher, tokens: list) -> bool:
    # bs4 multi-valued attribute rule: any individual token, then the
    # normalized whole string.
    search = getattr(matcher, "search", None)
    if search is not None and not isinstance(matcher, str):
        for t in tokens:
            if search(t) is not None:
                return True
        return search(" ".join(tokens)) is not None
    for t in tokens:
        if _match_attr_value(matcher, t):
            return True
    return _match_attr_value(matcher, " ".join(tokens))


# Cross-document matcher memo. SSR markup repeats the same class strings /
# short text runs across every page of a site, and the extraction UDF's
# matchers are module-level constants — so (matcher, value) pairs recur
# millions of times over an executor's lifetime while the distinct set stays
# tiny. Keys are VALUE-based (regex pattern+flags, or the plain string
# matcher itself), never object identity, so semantically equal matchers
# share entries and temporaries cannot poison the cache via id reuse.
# Callable matchers get no value key and fall through unmemoized. It stays
# because it measures: fixture extraction without it ran at a paired median
# ratio of 1.08 (8 pairs, 4-vCPU VM, 17 fixture pages ×2 through
# udfs._extract_batch).
_MATCH_MEMO: dict = {}
_MATCH_MEMO_MAX = 1 << 20  # hard bound; clears (never evicts) past this


def _memo_key(matcher):
    if isinstance(matcher, str):
        return matcher
    patt = getattr(matcher, "pattern", None)
    if patt is not None and hasattr(matcher, "search"):
        return (patt, matcher.flags)
    return None


def _match_multi_raw(matcher, raw: str, mkey=False) -> bool:
    """Memoized bs4 multi-valued match against a raw (unsplit) attr string.

    ``mkey`` lets per-candidate loops hoist the :func:`_memo_key`
    computation (``False`` = not computed yet; ``None`` = unmemoizable).
    """
    if matcher is True:
        return True
    if mkey is False:
        mkey = _memo_key(matcher)
    if mkey is None:
        return _match_multi(matcher, raw.split())
    key = (mkey, True, raw)
    hit = _MATCH_MEMO.get(key)
    if hit is None:
        if len(_MATCH_MEMO) >= _MATCH_MEMO_MAX:
            _MATCH_MEMO.clear()
        hit = _MATCH_MEMO[key] = _match_multi(matcher, raw.split())
    return hit


def _match_str_memo(matcher, text: str) -> bool:
    """Memoized ``_match_str`` (text-node search path)."""
    if isinstance(matcher, str):
        return text == matcher
    mkey = _memo_key(matcher)
    if mkey is None:
        return _match_str(matcher, text)
    key = (mkey, False, text)
    hit = _MATCH_MEMO.get(key)
    if hit is None:
        if len(_MATCH_MEMO) >= _MATCH_MEMO_MAX:
            _MATCH_MEMO.clear()
        hit = _MATCH_MEMO[key] = _match_str(matcher, text)
    return hit


def _match_attrs(tag: Tag, attrs: dict) -> bool:
    tag_attrs = tag.attrs
    for key, want in attrs.items():
        got = tag_attrs.get(key)
        if got is None:
            return False
        if key in _MULTI_VALUED:
            if not _match_multi_raw(want, got):
                return False
        elif not _match_attr_value(want, got):
            return False
    return True


class _TreeBuilder(HTMLParser):
    """Event-driven DOM assembly with lxml-compatible recovery rules."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.flat: list = []
        self.root = Tag("[document]", {}, self.flat)
        self.flat.append(self.root)
        self._stack = [self.root]

    # html.parser lowercases tag/attr names and decodes attr entities for us.

    def updatepos(self, i, j):  # line/col tracking is dead weight here
        return j

    def handle_starttag(self, name, attrs):
        d = {}
        for key, value in attrs:
            if key not in d:  # first duplicate wins, as in lxml
                d[key] = "" if value is None else value
        node = Tag(name, d, self.flat)
        node.pos = len(self.flat)
        self.flat.append(node)
        self._stack[-1].contents.append(node)
        if name not in _VOID:
            self._stack.append(node)
        else:
            node.end = node.pos + 1

    def handle_endtag(self, name):
        if name in _VOID:
            return
        stack = self._stack
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == name:
                close_at = len(self.flat)
                for node in stack[i:]:
                    node.end = close_at
                del stack[i:]
                return
        # Unmatched end tag: drop it (lxml recovery).

    def handle_data(self, data):
        parent = self._stack[-1]
        kind = RAWTEXT if parent.name in _RAW_PARENTS else TEXT
        contents = parent.contents
        if contents:
            last = contents[-1]
            if type(last) is StrNode and last.kind == kind:
                # lxml yields one text node per uninterrupted run; merge
                # parser-internal buffer splits back together.
                last.text += data
                return
        node = StrNode(data, kind)
        self.flat.append(node)
        contents.append(node)

    def _append_str(self, data: str, kind: int) -> None:
        node = StrNode(data, kind)
        self.flat.append(node)
        self._stack[-1].contents.append(node)

    def handle_comment(self, data):
        self._append_str(data, COMMENT)

    def handle_decl(self, decl):
        self._append_str(decl, DECL)

    def unknown_decl(self, data):
        self._append_str(data, DECL)

    def handle_pi(self, data):
        self._append_str(data, DECL)

    def finish(self) -> Tag:
        self.close()
        close_at = len(self.flat)
        for node in self._stack:
            node.end = close_at
        return self.root


def parse_stdlib(markup) -> Tag:
    """Parse via the stdlib ``html.parser`` event backend (reference
    implementation; the fast tokenizer below is differential-tested against
    it on every fixture page)."""
    if isinstance(markup, (bytes, bytearray, memoryview)):
        markup = bytes(markup).decode("utf-8", errors="replace")
        if "\r" in markup:
            markup = markup.replace("\r\n", "\n").replace("\r", "\n")
    builder = _TreeBuilder()
    builder.feed(markup)
    return builder.finish()


def parse(markup) -> Tag:
    """Parse HTML (str or utf-8 bytes) into a document ``Tag``.

    Bytes are decoded as utf-8 **with universal-newline translation**
    (``\r\n``/``\r`` → ``\n``): the reference contract is a *text-mode* file
    object (``/root/reference/tests/test_xray.py:77``), so byte-identical
    extraction from a binary ``html`` column requires the same translation.

    Uses the fast tokenizer backend (~2x the stdlib event parser);
    ``parse_stdlib`` is the reference it is differential-tested against.
    """
    return parse_fast(markup)


# -- fast tokenizer backend ---------------------------------------------------
#
# A tight scan loop over the whole document that reuses CPython html.parser's
# own tolerant regexes (tagfind_tolerant / attrfind_tolerant / endtagfind), so
# tag and attribute parsing semantics are identical to the stdlib builder —
# without the feed-buffer machinery, position tracking, and per-event method
# dispatch. tests/test_htmlmini.py includes a differential check that both
# backends produce identical DOMs on every real fixture page.

import re as _re
from html import unescape as _unescape
from html.parser import (
    attrfind_tolerant as _attrfind,
    endtagfind as _endtagfind,
    locatestarttagend_tolerant as _locatestart,
    tagfind_tolerant as _tagfind,
)

def _decode_text(segment: str) -> str:
    return _unescape(segment) if "&" in segment else segment


# Well-formed start tags take this single-regex fast lane; anything it does
# not match falls back to the stdlib-regex path below (identical semantics).
_FAST_START = _re.compile(
    # the (?!['"]) lookahead mirrors stdlib locatestarttagend_tolerant: an
    # unquoted value must not START with a quote — `title="q>` is an
    # INCOMPLETE tag (unterminated quote), not a value '"q'. Without it the
    # fast lane both diverges from the stdlib backend at EOF and caches
    # extendable tokens (see _SAFE_TOKEN).
    r"<([a-zA-Z][-.:0-9_a-zA-Z]*)"
    r"((?:\s+[^\s/>=]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|(?!['\"])[^\s>]*))?)*)"
    r"\s*(/?)>"
)

# Cache-safety gate for start-tag tokens. The token cache is keyed by the
# first-'>' slice, so a cached token must be CONTEXT-FREE: wherever the same
# character string appears, the tag must really end at that '>'. That fails
# exactly when a longer tag can sit in an open quote at the token's final
# '>' — e.g. a page truncated at `<br title="q` caches `<br title="q>` (the
# lone '"' parses as an unquoted value), which then poisons
# `<br title="q>t">` in a LATER page of the same worker. Tokens pass this
# gate only when every quote character is a delimiter of a complete quoted
# value (names and unquoted values quote-free) and quoted values contain no
# '>': then any occurrence of the token closes all quotes before its final
# '>', so no context can extend it. Checked once per cache INSERT, never on
# hits.
_SAFE_TOKEN = _re.compile(
    r"<[a-zA-Z][-.:0-9_a-zA-Z]*"
    r"(?:\s+[^\s/>=\"']+(?:\s*=\s*(?:\"[^\"<>]*\"|'[^'<>]*'|[^\s>\"']*))?)*"
    r"\s*/?>\Z"
)

_MARKED_CLOSE = _re.compile(r"]\s*]\s*>")  # stdlib _markupbase marked-section close

# rawtext exit per html.parser set_cdata_mode: `</\s*name\s*>`, re.I
_RAWTEXT_CLOSE = {
    "script": _re.compile(r"</\s*script\s*>", _re.I),
    "style": _re.compile(r"</\s*style\s*>", _re.I),
}

# _markupbase marked-section machinery (parse_marked_section/_scan_name):
# section name, the standard ]]> close, and the MS-Office ]> close used by
# the <![if/else/endif]> conditional-comment keywords.
_DECLNAME = _re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MS_MARKED_CLOSE = _re.compile(r"]\s*>")
_MARKED_STD_KEYWORDS = frozenset(("temp", "cdata", "ignore", "include", "rcdata"))
_MARKED_MS_KEYWORDS = frozenset(("if", "else", "endif"))

# SSR markup repeats identical attribute blobs (class strings) thousands of
# times per page — memoize blob → attrs dict. Tags share the cached dict;
# attrs are never mutated after construction. It stays because it measures:
# fixture extraction ran 10–30% slower without it (4-vCPU VM, 17 fixture
# pages ×2 through udfs._extract_batch).
_ATTR_BLOB_CACHE: dict = {}

# Whole start-tag token cache: "<div class=...>" → (name, attrs, selfclosing).
# SSR ballast repeats identical start tags thousands of times per page and
# across pages; a repeated token costs one find + one slice + one dict hit
# instead of two regex matches + an attr scan. Only tokens the fast-lane
# regex matches *exactly* (fm.end() == token end) and _SAFE_TOKEN admits are
# cached — a quoted '>' inside an attribute value makes the naive token a
# non-match, which falls back to the position-anchored regex path below, so
# semantics are unchanged. It stays because it measures: disabling it took
# fixture extraction from 15.8 to 29.6 ms/page (same setup as above).
_START_TOKEN_CACHE: dict = {}


def _parse_attrs(s: str, k: int, end: int) -> dict:
    """html.parser ``parse_starttag``'s attribute loop over ``s[k:end]``:
    quotes stripped, entities decoded, names lowercased, first duplicate
    wins (as in lxml)."""
    d: dict = {}
    while k < end:
        m = _attrfind.match(s, k)
        # pragma: no branch — mirrors stdlib parse_starttag's own loop
        # guard; attrfind_tolerant accepts any residue
        # locatestarttagend_tolerant admitted before end (probed:
        # commas/NUL/junk all match as tolerant names), and _FAST_START
        # blobs are a strict subset of that
        if not m:  # pragma: no branch
            break
        attrname, rest, attrvalue = m.group(1, 2, 3)
        if not rest:
            attrvalue = ""
        else:
            if attrvalue[:1] == "'" == attrvalue[-1:] or attrvalue[:1] == '"' == attrvalue[-1:]:
                attrvalue = attrvalue[1:-1]
            if attrvalue and "&" in attrvalue:
                attrvalue = _unescape(attrvalue)
        key = attrname.lower()
        if key not in d:
            d[key] = attrvalue
        k = m.end()
    return d


def _parse_attr_blob(blob: str) -> dict:
    cached = _ATTR_BLOB_CACHE.get(blob)
    if cached is not None:
        return cached
    d = _parse_attrs(blob, len(blob) - len(blob.lstrip()), len(blob))
    if len(_ATTR_BLOB_CACHE) > 100_000:
        _ATTR_BLOB_CACHE.clear()
    _ATTR_BLOB_CACHE[blob] = d
    return d


def parse_fast(markup) -> Tag:
    """Fast-path parse; same DOM as :func:`parse_stdlib`."""
    if isinstance(markup, (bytes, bytearray, memoryview)):
        markup = bytes(markup).decode("utf-8", errors="replace")
        if "\r" in markup:
            markup = markup.replace("\r\n", "\n").replace("\r", "\n")
    s = markup
    n = len(s)
    flat: list = []
    root = Tag("[document]", {}, flat)
    flat.append(root)
    stack = [root]
    find = s.find
    startswith = s.startswith

    def emit_text(segment: str) -> None:
        contents = stack[-1].contents
        if contents:
            last = contents[-1]
            if type(last) is StrNode and last.kind == TEXT:
                # lxml yields one text node per uninterrupted run
                last.text += segment
                return
        node = StrNode(segment, TEXT)
        flat.append(node)
        contents.append(node)

    def emit_str(segment: str, kind: int) -> None:
        node = StrNode(segment, kind)
        flat.append(node)
        stack[-1].contents.append(node)

    def eof_recover(lt: int) -> int:
        """stdlib ``goahead`` incomplete-construct recovery: consume to the
        next '>' (inclusive), else the next '<', else one char; emit that
        span as decoded data and RESUME tokenizing — the stdlib never
        flushes the whole remainder when a later construct could parse."""
        k = find(">", lt + 1)
        if k >= 0:
            k += 1
        else:
            k = find("<", lt + 1)
            if k < 0:
                k = lt + 1
        emit_text(_decode_text(s[lt:k]))
        return k

    def close_tag(name: str) -> None:
        if name in _VOID:
            return
        if stack[-1].name == name:  # well-formed fast path
            top = stack[-1]
            top.end = len(flat)
            del stack[-1]
            return
        for idx in range(len(stack) - 1, 0, -1):
            if stack[idx].name == name:
                close_at = len(flat)
                for node in stack[idx:]:
                    node.end = close_at
                del stack[idx:]
                return

    i = 0
    while i < n:
        lt = find("<", i)
        if lt < 0:
            emit_text(_decode_text(s[i:n]))
            break
        if lt > i:
            emit_text(_decode_text(s[i:lt]))
        i = lt
        nxt = s[lt + 1 : lt + 2]
        # start tag iff stdlib starttagopen matches: '<' + ASCII letter only
        # (str.isalpha would admit '<é', which the stdlib emits as data)
        if "a" <= nxt <= "z" or "A" <= nxt <= "Z":  # start tag
            gt = find(">", lt)
            cached = (
                _START_TOKEN_CACHE.get(s[lt : gt + 1]) if 0 <= gt - lt <= 256 else None
            )
            if cached is not None:
                name, attrs, selfclosing = cached
                close = gt + 1
                fm = True
            else:
                fm = _FAST_START.match(s, lt)
            if cached is not None:
                pass
            elif fm:
                name = fm.group(1).lower()
                blob = fm.group(2)
                attrs = _parse_attr_blob(blob) if blob else {}
                selfclosing = fm.group(3) == "/"
                close = fm.end()
                if close == gt + 1 and gt - lt <= 256:
                    tok = s[lt:close]
                    if _SAFE_TOKEN.match(tok):
                        if len(_START_TOKEN_CACHE) > 100_000:
                            _START_TOKEN_CACHE.clear()
                        _START_TOKEN_CACHE[tok] = (name, attrs, selfclosing)
            else:
                # tolerant fallback: exact stdlib-regex semantics
                m = _locatestart.match(s, lt)
                # pragma: no branch — locatestarttagend_tolerant always
                # matches at '<'+ASCII-letter (every group after the name is
                # optional); defensive
                if not m:  # pragma: no branch
                    i = eof_recover(lt)
                    continue
                endpos = m.end()
                if startswith("/>", endpos):
                    close = endpos + 2
                    selfclosing = True
                elif startswith(">", endpos):
                    close = endpos + 1
                    selfclosing = False
                else:
                    # stdlib check_for_whole_start_tag: EOF / a stray
                    # letter, '=' or '/' → incomplete (goahead recovery);
                    # any other junk → parse_starttag emits the truncated
                    # span rawdata[i:endpos] RAW as data (no charref
                    # decode) and resumes at endpos — NOT a parsed tag
                    nxt2 = s[endpos : endpos + 1]
                    if (
                        nxt2 == ""
                        or nxt2 == "="
                        or nxt2 == "/"
                        or "a" <= nxt2 <= "z"
                        or "A" <= nxt2 <= "Z"
                    ):
                        i = eof_recover(lt)
                        continue
                    emit_text(s[lt:endpos])
                    i = endpos
                    continue
                tm = _tagfind.match(s, lt + 1)
                name = tm.group(1).lower()
                attrs = _parse_attrs(s, tm.end(), endpos)
            node = Tag(name, attrs, flat)
            node.pos = len(flat)
            flat.append(node)
            stack[-1].contents.append(node)
            if selfclosing or name in _VOID:
                node.end = node.pos + 1
            else:
                stack.append(node)
                if name in ("script", "style"):
                    # CDATA content mode: stdlib's `interesting` regex only
                    # exits on a FULL `</\s*name\s*>` (case-insensitive) —
                    # a nameless/attributed `</name foo>` stays rawtext,
                    # and an unterminated tail is buffered forever (never
                    # flushed at close), i.e. discarded.
                    mm = _RAWTEXT_CLOSE[name].search(s, close)
                    if mm is None:
                        close = n
                    else:
                        if mm.start() > close:
                            emit_str(s[close : mm.start()], RAWTEXT)
                        close_tag(name)
                        close = mm.end()
            i = close
        elif nxt == "/":  # end tag
            m = _endtagfind.match(s, lt)
            if m:
                close_tag(m.group(1).lower())
                i = m.end()
            else:
                gt = find(">", lt)
                if gt < 0:
                    i = eof_recover(lt)
                    continue
                # tolerant: '</ tag junk>' → use tagfind on lt+2
                tm = _tagfind.match(s, lt + 2)
                if tm:
                    close_tag(tm.group(1).lower())
                elif gt > lt + 2:
                    # no tag name → stdlib parse_bogus_comment emits
                    # '</xyz>' as comment 'xyz' ('</>' alone emits nothing)
                    emit_str(s[lt + 2 : gt], COMMENT)
                i = gt + 1
        elif nxt == "!":
            if startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end < 0:
                    # unterminated comment: goahead recovery, not a flush
                    i = eof_recover(lt)
                    continue
                emit_str(s[lt + 4 : end], COMMENT)
                i = end + 3
            elif startswith("<![", lt):
                # _markupbase.parse_marked_section, exactly — including the
                # AssertionErrors html.parser itself raises (bs4 on stdlib
                # propagates them, so pages that crash the reference crash
                # identically here; the extraction layer decides policy).
                nm = _DECLNAME.match(s, lt + 3)
                if lt + 3 == n or (nm is not None and nm.end() == n):
                    i = eof_recover(lt)  # _scan_name: buffer ends mid-name
                    continue
                if nm is None:
                    raise AssertionError(
                        "expected name token at %r" % s[lt : lt + 20]
                    )
                sect = nm.group().strip().lower()
                if sect in _MARKED_STD_KEYWORDS:
                    mm = _MARKED_CLOSE.search(s, lt + 3)
                elif sect in _MARKED_MS_KEYWORDS:
                    mm = _MS_MARKED_CLOSE.search(s, lt + 3)
                else:
                    raise AssertionError(
                        "unknown status keyword %r in marked section"
                        % s[lt + 3 : nm.end()]
                    )
                if not mm:
                    i = eof_recover(lt)
                    continue
                emit_str(s[lt + 3 : mm.start()], DECL)
                i = mm.end()
            else:
                gt = find(">", lt)
                if gt < 0:
                    i = eof_recover(lt)
                    continue
                body = s[lt + 2 : gt]
                if body[:7].lower() == "doctype":
                    emit_str(body, DECL)
                else:
                    # stdlib routes bogus declarations to handle_comment
                    emit_str(body, COMMENT)
                i = gt + 1
        elif nxt == "?":
            gt = find(">", lt)
            if gt < 0:
                i = eof_recover(lt)
                continue
            emit_str(s[lt + 2 : gt], DECL)
            i = gt + 1
        else:
            emit_text("<")
            i = lt + 1

    close_at = len(flat)
    for node in stack:
        node.end = close_at
    return root
