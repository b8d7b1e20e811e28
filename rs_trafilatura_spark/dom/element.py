"""Lightweight DOM element with the lxml text/tail model.

The reference engine's whitespace-exact output depends on the
"text before first child / tail after closing tag" model
(reference: etree.rs:8-18).  We replicate that model in pure Python so the
kernel has zero native dependencies and ships via ``spark-submit --py-files``.
"""

from __future__ import annotations

from typing import Iterator, Optional

VOID_TAGS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

_ESCAPES = {"&": "&amp;", "<": "&lt;", ">": "&gt;"}
_ATTR_ESCAPES = {"&": "&amp;", "<": "&lt;", ">": "&gt;", '"': "&quot;"}


def escape_text(s: str) -> str:
    # presence check first: the overwhelming majority of text chunks have
    # nothing to escape, and three `in` scans allocate nothing while each
    # replace() copies the string (profiled ~100k replace calls/24 pages)
    if "&" in s:
        s = s.replace("&", "&amp;")
    if "<" in s:
        s = s.replace("<", "&lt;")
    if ">" in s:
        s = s.replace(">", "&gt;")
    return s


def escape_attr(s: str) -> str:
    for k, v in _ATTR_ESCAPES.items():
        if k in s:
            s = s.replace(k, v)
    return s


# Global structural-mutation generation counter: bumped by every Element
# method that changes a children list (append/insert/drop_tree/unwrap —
# the audited-complete set; the only direct children access outside this
# class, parser.py's tail merge, is not structural).  desc_list() caches
# its snapshot stamped with this counter, so the selection cascade's
# back-to-back selects over the same subtree walk the tree once instead
# of once per selector, while any mutation anywhere invalidates every
# cache (over-invalidation across documents is harmless — worst case is
# a rebuild that the uncached code paid unconditionally).
_TREE_GEN = 0


def bump_generation() -> None:
    """Invalidate every per-generation cache once.  The parser uses this
    to batch its ~1 bump/element build phase into a single bump after the
    tree is complete — no cache can exist mid-build (nothing traverses a
    tree that is still on the builder's stack), so only the final state
    matters."""
    global _TREE_GEN
    _TREE_GEN += 1


class Element:
    """One DOM element. ``text`` precedes the first child; each child's
    ``tail`` follows that child's closing tag (lxml semantics)."""

    __slots__ = ("tag", "attrib", "children", "parent", "text", "tail",
                 "_srcpos", "_desc_cache", "_desc_gen",
                 "_text_cache", "_text_gen",
                 "_classed_cache", "_classed_gen",
                 "_attred_cache", "_attred_gen",
                 "_tagidx_cache", "_tagidx_gen")

    def __init__(self, tag: str, attrib: Optional[dict] = None):
        self.tag = tag
        self.attrib: dict = attrib or {}
        self.children: list[Element] = []
        self.parent: Optional[Element] = None
        self.text: str = ""
        self.tail: str = ""
        # (start, end) byte offsets into the source html, when known
        self._srcpos: Optional[tuple[int, int]] = None
        self._desc_cache: Optional[list] = None
        self._desc_gen: int = -1
        self._text_cache: Optional[str] = None
        self._text_gen: int = -1
        self._classed_cache: Optional[list] = None
        self._classed_gen: int = -1
        self._attred_cache: Optional[list] = None
        self._attred_gen: int = -1
        self._tagidx_cache: Optional[dict] = None
        self._tagidx_gen: int = -1

    # --- construction -----------------------------------------------------
    def append(self, child: "Element") -> None:
        global _TREE_GEN
        _TREE_GEN += 1
        child.parent = self
        self.children.append(child)

    def insert(self, idx: int, child: "Element") -> None:
        global _TREE_GEN
        _TREE_GEN += 1
        child.parent = self
        self.children.insert(idx, child)

    # --- attributes --------------------------------------------------------
    def get(self, name: str, default: str = "") -> str:
        return self.attrib.get(name, default)

    @property
    def classes(self) -> list[str]:
        return self.get("class").split()

    @property
    def id(self) -> str:
        return self.get("id")

    # --- traversal ----------------------------------------------------------
    def iter(self, tag: Optional[str] = None) -> Iterator["Element"]:
        """Pre-order traversal including self (iterative: real pages nest
        deeply enough to threaten Python's recursion limit)."""
        stack = [self]
        while stack:
            el = stack.pop()
            if tag is None or el.tag == tag:
                yield el
            stack.extend(reversed(el.children))

    def iterdesc(self) -> Iterator["Element"]:
        """Pre-order traversal of descendants (excluding self).

        SNAPSHOT SEMANTICS (same contract as iter_select): iterates the
        generation-cached ``desc_list()`` snapshot, so repeated kernel
        walks between mutations share one tree walk.  Callers must
        collect victims first and mutate AFTER the loop — audited: every
        kernel iterdesc site already follows collect-then-mutate (the
        lazy-generator version made mid-loop pruning equally unsafe,
        just differently)."""
        return iter(self.desc_list())

    def desc_list(self) -> list:
        """Descendants (excluding self) as a flat pre-order list.  The
        selector engine's scan loops use this instead of iterdesc():
        iterating a built list skips one generator resumption per element
        (~0.8 µs each; profiled at 660k yields per 31-page batch).

        Cached per structural generation (_TREE_GEN): consecutive
        selector scans with no tree mutation in between — the dominant
        pattern in the content cascade's rule tables — share one walk.
        Callers MUST NOT mutate the returned list."""
        if self._desc_gen == _TREE_GEN and self._desc_cache is not None:
            return self._desc_cache
        out: list = []
        append = out.append
        stack = list(reversed(self.children))
        pop = stack.pop
        extend = stack.extend
        while stack:
            el = pop()
            append(el)
            extend(reversed(el.children))
        self._desc_cache = out
        self._desc_gen = _TREE_GEN
        return out

    def classed_desc_list(self) -> list:
        """Descendants carrying a ``class`` or ``id`` attribute, in
        document order — the only elements a tagless class/id selector
        can possibly match, typically a small fraction of the tree.
        Cached per structural generation like desc_list(); derived from
        it, so the full walk is shared.  Attribute EDITS don't bump the
        generation, but the kernel never adds class/id attributes after
        parse (grep-audited: attrib writes are confined to the parser and
        to copies), so membership is stable within a generation."""
        if self._classed_gen == _TREE_GEN and self._classed_cache is not None:
            return self._classed_cache
        out = [el for el in self.desc_list()
               if "class" in el.attrib or "id" in el.attrib]
        self._classed_cache = out
        self._classed_gen = _TREE_GEN
        return out

    def attributed_desc_list(self) -> list:
        """Descendants carrying ANY attribute, in document order — the
        only elements an attribute-requiring selector ([rel=...],
        [itemprop=...], [datetime], class/id forms) can possibly match.
        Same caching/stability contract as classed_desc_list: the kernel
        never writes attributes after parse (grep-audited — attrib
        writes are confined to the parser), so membership is stable
        within a generation."""
        if self._attred_gen == _TREE_GEN and self._attred_cache is not None:
            return self._attred_cache
        out = [el for el in self.desc_list() if el.attrib]
        self._attred_cache = out
        self._attred_gen = _TREE_GEN
        return out

    def tag_index(self) -> Optional[dict]:
        """{tag: (elements, ordinals)} over the CURRENT desc_list()
        snapshot, document order — lets tag-anchored selectors visit only
        their tag's elements instead of the whole tree (ordinals allow
        doc-order merges for comma unions).

        Returns None when desc_list() is not already cached for this
        generation: the first scan after a mutation stays a plain walk,
        so mutate-select-mutate phases (doc cleaning) never pay an index
        build they can't amortize; select-heavy stable phases (metadata
        cascade, rule tables) build it on their second scan.  Same
        snapshot semantics and no-mutation contract as desc_list()."""
        if self._tagidx_gen == _TREE_GEN and self._tagidx_cache is not None:
            return self._tagidx_cache
        if self._desc_gen != _TREE_GEN or self._desc_cache is None:
            return None
        # small trees: a plain filtered scan beats the build+dict churn
        # (measured crossover on the fixture mix, ~5 KB pages)
        if len(self._desc_cache) < 512:
            return None
        idx: dict = {}
        get = idx.get
        for i, el in enumerate(self._desc_cache):
            bucket = get(el.tag)
            if bucket is None:
                idx[el.tag] = bucket = ([], [])
            bucket[0].append(el)
            bucket[1].append(i)
        self._tagidx_cache = idx
        self._tagidx_gen = _TREE_GEN
        return idx

    def ancestors(self) -> Iterator["Element"]:
        cur = self.parent
        while cur is not None:
            yield cur
            cur = cur.parent

    def find(self, tag: str) -> Optional["Element"]:
        for el in self.iter(tag):
            return el
        return None

    def findall(self, tag: str) -> list["Element"]:
        return list(self.iter(tag))

    def next_element_sibling(self) -> Optional["Element"]:
        if self.parent is None:
            return None
        sibs = self.parent.children
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i + 1] if i + 1 < len(sibs) else None

    # --- text ----------------------------------------------------------------
    def itertext(self, skip_tags: frozenset = frozenset()) -> Iterator[str]:
        """All text content in document order (text + child subtrees + tails).
        Iterative; ``skip_tags`` subtrees contribute no text (their tails,
        which belong to the parent, still do)."""
        # stack holds either Element (to open) or str (tail to emit)
        if self.tag in skip_tags:
            return
        stack: list = [self]
        while stack:
            item = stack.pop()
            if isinstance(item, str):
                yield item
                continue
            if item is not self and item.tag in skip_tags:
                if item.tail:
                    yield item.tail
                continue
            if item.text:
                yield item.text
            for child in reversed(item.children):
                if child.tail:
                    stack.append(child.tail)
                stack.append(child)

    def text_content(self) -> str:
        """Concatenated descendant text (like dom_query's text_content);
        script/style raw text included only if present in the tree.
        Inlined iterative walk (no generator frames) — this is the
        hottest text accessor in the kernel (profiled: ~3x the calls of
        itertext itself).

        Cached per structural generation like desc_list(): every text/
        tail mutation in the kernel goes through drop_tree/unwrap (which
        bump the generation) — verified by grep, there are no direct
        .text/.tail assignments outside the parser's build phase (where
        append() bumps continuously)."""
        if self._text_gen == _TREE_GEN and self._text_cache is not None:
            return self._text_cache
        parts: list = []
        append = parts.append
        stack: list = [self]
        push = stack.append
        pop = stack.pop
        first = True
        while stack:
            item = pop()
            if type(item) is str:
                append(item)
                continue
            # reuse a descendant's still-valid cache: its string is
            # exactly item.text + subtree texts/tails (no own tail, which
            # the parent iteration already pushed), so substituting it is
            # byte-identical and turns the post-p-texts body/section
            # walks in ml_features from O(n*depth) into ~O(n)
            if (not first and item._text_gen == _TREE_GEN
                    and item._text_cache is not None):
                if item._text_cache:
                    append(item._text_cache)
                continue
            first = False
            if item.text:
                append(item.text)
            for child in reversed(item.children):
                if child.tail:
                    push(child.tail)
                push(child)
        out = "".join(parts)
        self._text_cache = out
        self._text_gen = _TREE_GEN
        return out

    def iter_text_joined(self, sep: str = " ") -> str:
        """Join text chunks with ``sep`` (reference etree::iter_text)."""
        return sep.join(t for t in self.itertext() if t)

    # --- mutation --------------------------------------------------------------
    def drop_tree(self) -> None:
        """Remove self and subtree; the tail is preserved by merging it into
        the previous sibling's tail / parent's text (lxml drop_tree semantics,
        which the reference's tail-aware pruning mirrors,
        extractor/pruning.rs:76-116)."""
        global _TREE_GEN
        parent = self.parent
        if parent is None:
            return
        _TREE_GEN += 1
        idx = parent.children.index(self)
        if self.tail:
            if idx > 0:
                parent.children[idx - 1].tail += self.tail
            else:
                parent.text += self.tail
        del parent.children[idx]
        self.parent = None

    def unwrap(self) -> None:
        """Strip this tag but keep children in place (lxml strip_tags for one
        element; reference TAGS_TO_STRIP semantics, extractor/tags.rs:110-113)."""
        global _TREE_GEN
        parent = self.parent
        if parent is None:
            return
        _TREE_GEN += 1
        idx = parent.children.index(self)
        # merge self.text into the left neighbour
        if self.text:
            if idx > 0:
                parent.children[idx - 1].tail += self.text
            else:
                parent.text += self.text
        for child in self.children:
            child.parent = parent
        # tail goes after our children (or merges left if no children)
        if self.tail:
            if self.children:
                self.children[-1].tail += self.tail
            elif idx > 0:
                parent.children[idx - 1].tail += self.tail
            else:
                parent.text += self.tail
        parent.children[idx:idx + 1] = self.children
        self.parent = None

    def rename(self, tag: str) -> None:
        self.tag = tag

    # --- serialization -----------------------------------------------------------
    def inner_html(self) -> str:
        parts: list[str] = []
        if self.text:
            parts.append(escape_text(self.text))
        for child in self.children:
            parts.append(child.outer_html())
            if child.tail:
                parts.append(escape_text(child.tail))
        return "".join(parts)

    def outer_html(self) -> str:
        attrs = "".join(
            f' {k}="{escape_attr(v)}"' if v is not None else f" {k}"
            for k, v in self.attrib.items()
        )
        if self.tag in VOID_TAGS:
            return f"<{self.tag}{attrs}/>"
        if self.tag in ("script", "style"):
            # raw text, not escaped
            return f"<{self.tag}{attrs}>{self.text}</{self.tag}>"
        return f"<{self.tag}{attrs}>{self.inner_html()}</{self.tag}>"

    def copy(self) -> "Element":
        """Deep copy of the subtree (for the pre-cleaning backup clone,
        reference extract.rs:113)."""
        new = Element(self.tag, dict(self.attrib))
        new.text = self.text
        new.tail = self.tail
        new._srcpos = self._srcpos
        for child in self.children:
            c = child.copy()
            c.parent = new
            new.children.append(c)
        return new

    def __repr__(self) -> str:  # pragma: no cover
        ident = f"#{self.id}" if self.id else ""
        cls = "." + ".".join(self.classes) if self.classes else ""
        return f"<Element {self.tag}{ident}{cls} children={len(self.children)}>"
