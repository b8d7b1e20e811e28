"""HTML -> Element tree parser built on stdlib ``html.parser``.

The reference uses an html5ever tree (dom_query); we don't need full HTML5
tree-building — we need a robust, fast-enough pure-Python parse with the
common implicit-close rules (unclosed <p>, <li>, table cells) so that both
well-formed fixture HTML and mildly malformed real pages produce a sensible
tree (reference robustness tests: extract.rs:3807-3847).
"""

from __future__ import annotations

from html import unescape
from html.parser import HTMLParser
from typing import Optional

from .element import Element, VOID_TAGS, bump_generation

# The fast scanner below and the stdlib feed() path have identical
# semantics by construction (same parse_* methods); the stdlib path is the
# fuzz test's reference (tests/test_dom.py), which flips this flag.
_USE_FAST_SCAN = True

# the stdlib tokenizer's own compiled regexes (CPython html/parser.py) —
# reusing them keeps the fused fast paths token-identical to HTMLParser
from html.parser import (  # noqa: E402
    attrfind_tolerant as _attrfind,
    locatestarttagend_tolerant as _locatestarttagend,
    tagfind_tolerant as _tagfind,
)

import re  # noqa: E402

# stdlib endtagfind minus the leading \s* (a space between '</' and the name
# falls back to the stdlib method).  When this matches at i with
# cdata_elem None, the stdlib parse_endtag would do the exact same thing:
# the matched span contains no '>', so endendtag.search's first '>' IS this
# match's '>', endtagfind matches the same span, and clear_cdata_mode() is
# a no-op outside cdata mode.
_ENDTAG_SIMPLE = re.compile(r"</([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")

# attribute-less start tag '<name>' (ASCII name only; hyphenated/namespaced
# names take the general path).  When this matches, locatestarttagend ends
# exactly at the '>', tagfind yields the same name, and the attr loop is a
# no-op — so deferring to the fused general path would do identical work.
_STARTTAG_BARE = re.compile(r"<([a-zA-Z][a-zA-Z0-9]*)>")

# Block-level tags whose start implicitly closes an open <p> (HTML5 spec set)
_P_CLOSERS = frozenset(
    {
        "address", "article", "aside", "blockquote", "details", "div", "dl",
        "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2",
        "h3", "h4", "h5", "h6", "header", "hr", "main", "menu", "nav", "ol",
        "p", "pre", "section", "table", "ul",
    }
)

# Tags allowed inside <head>; anything else implicitly closes head
_HEAD_TAGS = frozenset(
    {"title", "meta", "link", "base", "style", "script", "noscript", "template"}
)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("#root")
        self.stack: list[Element] = [self.root]
        self._line_starts: Optional[list[int]] = None
        self._off = -1

    # -- source offset helpers ------------------------------------------------
    def feed_with_offsets(self, data: str) -> None:
        if _USE_FAST_SCAN:
            self.rawdata = data
            try:
                self._fast_scan(data)
            finally:
                self.rawdata = ""
            return
        # stdlib path (the fuzz test's reference): C-speed newline scan
        # (str.find), offsets reconstructed from getpos() line/col
        starts = [0]
        idx = data.find("\n")
        while idx != -1:
            starts.append(idx + 1)
            idx = data.find("\n", idx + 1)
        self._line_starts = starts
        self.feed(data)
        self.close()

    def _fast_scan(self, rawdata: str) -> None:
        """One-pass scan of the WHOLE document, dispatching to the stdlib
        parse_starttag/parse_endtag/parse_comment/parse_pi/
        parse_html_declaration methods with absolute indices — their
        tokenization (tolerant regexes, attr unescaping, CDATA handling)
        is therefore byte-identical to HTMLParser.feed()+close().  What
        this drops is feed()'s incremental machinery: updatepos line/col
        accounting, the rawdata-carry/buffer-boundary waits (we always
        have the full page), and the newline pre-scan — the source
        offset of a construct is just its index (self._off).  Mirrors
        CPython 3.11 goahead() with convert_charrefs=True and end=True;
        divergence here is a bug: the stdlib path, reached through
        ``_USE_FAST_SCAN``, is the fuzz test's reference."""
        n = len(rawdata)
        i = 0
        handle_data = self.handle_data
        find = rawdata.find
        startswith = rawdata.startswith
        while i < n:
            if self.cdata_elem:
                # inside <script>/<style>: raw data up to the matching
                # close tag; an unterminated cdata element swallows the
                # tail (goahead never flushes cdata at EOF)
                m = self.interesting.search(rawdata, i)
                if not m:
                    return
                j = m.start()
                if i < j:
                    handle_data(rawdata[i:j])
                i = j
            else:
                j = find("<", i)
                if j < 0:
                    j = n
                if i < j:
                    seg = rawdata[i:j]
                    handle_data(unescape(seg) if "&" in seg else seg)
                i = j
                if i == n:
                    return
            self._off = i
            c = rawdata[i + 1:i + 2]
            if ("a" <= c <= "z") or ("A" <= c <= "Z"):
                k = self.parse_starttag(i)
            elif c == "/":
                k = self.parse_endtag(i)
            elif startswith("<!--", i):
                k = self.parse_comment(i)
            elif c == "?":
                k = self.parse_pi(i)
            elif c == "!":
                k = self.parse_html_declaration(i)
            elif i + 1 < n:
                handle_data("<")
                i += 1
                continue
            else:
                handle_data("<")
                return
            if k < 0:
                # unterminated construct at EOF: goahead(end=True) emits
                # it as data up to the next '>', else next '<', else +1
                k = find(">", i + 1)
                if k < 0:
                    k = find("<", i + 1)
                    if k < 0:
                        k = i + 1
                else:
                    k += 1
                seg = rawdata[i:k]
                if self.cdata_elem:
                    handle_data(seg)
                else:
                    handle_data(unescape(seg) if "&" in seg else seg)
            i = k

    def _srcoffset(self) -> int:
        if self._line_starts is None:
            return self._off
        line, col = self.getpos()
        if line - 1 < len(self._line_starts):
            return self._line_starts[line - 1] + col
        return -1

    def parse_starttag(self, i: int) -> int:
        """Fused fast path for well-terminated start tags: one
        locatestarttagend match (instead of stdlib's match + re-match in
        check_for_whole_start_tag), attrs built straight into the dict
        the tree needs (first occurrence wins) instead of a tuple list,
        unescape/lower only when the value/name needs it.  Anything not
        ending in a clean '>' or '/>' — truncated tags, '<p<x', buffer
        oddities — defers to the stdlib method, whose semantics this
        mirrors line for line (CPython 3.11 parser.py:300-340)."""
        rawdata = self.rawdata
        bm = _STARTTAG_BARE.match(rawdata, i)
        if bm:
            tag = bm.group(1)
            self._finish_starttag(tag if tag.islower() else tag.lower(),
                                  {}, i, selfclosing=False)
            return bm.end()
        m = _locatestarttagend.match(rawdata, i)
        j = m.end()
        nxt = rawdata[j:j + 1]
        if nxt == ">":
            endpos = j + 1
        elif nxt == "/" and rawdata.startswith("/>", j):
            endpos = j + 2
        else:
            return HTMLParser.parse_starttag(self, i)
        tm = _tagfind.match(rawdata, i + 1)
        tag = tm.group(1)
        if not tag.islower():
            tag = tag.lower()
        k = tm.end()
        attrib: dict = {}
        amatch = _attrfind.match
        while k < j:
            am = amatch(rawdata, k)
            if not am:
                # junk between attrs and '>': stdlib emits the whole tag
                # as data (parse_starttag's `end not in (...)` branch)
                if rawdata[k:j].strip():
                    self.handle_data(rawdata[i:endpos])
                    return endpos
                break
            name, rest, value = am.group(1, 2, 3)
            if not rest:
                value = ""
            else:
                if (value[:1] == "'" == value[-1:]
                        or value[:1] == '"' == value[-1:]):
                    value = value[1:-1]
                if value and "&" in value:
                    value = unescape(value)
            if not name.islower():
                name = name.lower()
            if name not in attrib:
                attrib[name] = value
            k = am.end()
        self._finish_starttag(tag, attrib, i,
                              selfclosing=endpos == j + 2)
        return endpos

    def parse_endtag(self, i: int) -> int:
        """Fused fast path for plain ``</tag>`` ends: one anchored match,
        no endendtag pre-search, no redundant lower() on already-lower
        names.  Equivalent to the stdlib method for every input it
        accepts (see _ENDTAG_SIMPLE's note); everything else — cdata
        close tags, ``</ tag>``, bogus comments — defers to stdlib."""
        if self.cdata_elem is None:
            m = _ENDTAG_SIMPLE.match(self.rawdata, i)
            if m:
                tag = m.group(1)
                self._finish_endtag(tag if tag.islower() else tag.lower())
                return m.end()
        return HTMLParser.parse_endtag(self, i)

    # -- implicit close rules ---------------------------------------------------
    def _implicit_close(self, tag: str) -> None:
        while len(self.stack) > 1:
            top = self.stack[-1].tag
            if top == "p" and tag in _P_CLOSERS:
                self.stack.pop()
            elif top == "li" and tag == "li":
                self.stack.pop()
            elif top in ("dd", "dt") and tag in ("dd", "dt"):
                self.stack.pop()
            elif top in ("td", "th") and tag in ("td", "th", "tr"):
                self.stack.pop()
            elif top == "tr" and tag in ("tr", "tbody", "tfoot", "thead"):
                self.stack.pop()
            elif top in ("thead", "tbody", "tfoot") and tag in ("thead", "tbody", "tfoot"):
                self.stack.pop()
            elif top == "option" and tag in ("option", "optgroup"):
                self.stack.pop()
            elif top == "head" and tag not in _HEAD_TAGS:
                self.stack.pop()
            else:
                break

    def _finish_starttag(self, tag: str, attrib: dict, off: int,
                         selfclosing: bool) -> None:
        """Tree construction shared by the fused parse_starttag: exactly
        handle_starttag/handle_startendtag minus the attr-tuple hop."""
        self._implicit_close(tag)
        el = Element(tag, attrib)
        if off >= 0:
            el._srcpos = (off, off)
        # direct linkage: Element.append bumps the global cache generation
        # per call; during the build phase one bump at the end of
        # parse_html is equivalent (see element.bump_generation)
        parent = self.stack[-1]
        el.parent = parent
        parent.children.append(el)
        if not selfclosing:
            if tag not in VOID_TAGS:
                self.stack.append(el)
            if tag in self.CDATA_CONTENT_ELEMENTS:
                self.set_cdata_mode(tag)

    # -- HTMLParser callbacks ------------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        self._implicit_close(tag)
        attrib: dict = {}
        for k, v in attrs:
            if k not in attrib:  # first occurrence wins
                attrib[k] = v if v is not None else ""
        el = Element(tag, attrib)
        off = self._srcoffset()
        if off >= 0:
            el._srcpos = (off, off)
        parent = self.stack[-1]
        el.parent = parent
        parent.children.append(el)
        if tag not in VOID_TAGS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        self._implicit_close(tag)
        attrib: dict = {}
        for k, v in attrs:
            if k not in attrib:
                attrib[k] = v if v is not None else ""
        el = Element(tag, attrib)
        off = self._srcoffset()
        if off >= 0:
            el._srcpos = (off, off)
        parent = self.stack[-1]
        el.parent = parent
        parent.children.append(el)

    def handle_endtag(self, tag: str) -> None:
        self._finish_endtag(tag if tag.islower() else tag.lower())

    def _finish_endtag(self, tag: str) -> None:
        """handle_endtag with the name already lowercased; the top-of-
        stack match (the overwhelmingly common well-nested case) skips
        the backward scan."""
        if tag in VOID_TAGS:
            return
        stack = self.stack
        el = stack[-1]
        if el.tag == tag and len(stack) > 1:
            end = self._srcoffset()
            if end >= 0 and el._srcpos is not None:
                el._srcpos = (el._srcpos[0], end)
            stack.pop()
            return
        # find the matching open element; ignore stray end tags
        for i in range(len(stack) - 2, 0, -1):
            if stack[i].tag == tag:
                end = self._srcoffset()
                if end >= 0 and stack[i]._srcpos is not None:
                    stack[i]._srcpos = (stack[i]._srcpos[0], end)
                del stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if not data:
            return
        cur = self.stack[-1]
        if cur.children:
            cur.children[-1].tail += data
        else:
            cur.text += data

    # comments / declarations / PIs are dropped; surrounding text naturally
    # merges via text/tail.


def parse_html(html: str) -> Element:
    """Parse an HTML string into an Element tree rooted at ``#root``."""
    builder = _TreeBuilder()
    try:
        builder.feed_with_offsets(html)
    except Exception:
        # html.parser is forgiving, but guard anyway: return whatever tree
        # was built so far (reference degrades errors to warnings,
        # extract.rs:161-169)
        pass
    finally:
        # the builder links children directly (no per-append bump); one
        # bump here invalidates any caches from a previously parsed tree
        bump_generation()
    return builder.root
