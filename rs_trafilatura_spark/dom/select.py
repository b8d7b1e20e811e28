"""Tiny CSS-subset selector engine over the Element tree.

Supports exactly the selector forms the extraction rules need (the reference
drives dom_query with simple selectors — tag, #id, .class, [attr], [attr=v],
[attr*=v], [attr~=v], [attr^=v], compounds, comma unions, and descendant
chains; see e.g. patterns.rs:145-160, selector/content.rs:519-543).

Each selector compiles once (cached) to one plan: a predicate and the
narrowest per-generation descendant snapshot it can match in.
``iter_select`` has one path, that predicate over that snapshot;
``matches`` is the brute-force per-element reference.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Callable, Iterator, Optional

from .element import Element

_SIMPLE_RE = re.compile(
    r"""
    (?P<tag>[a-zA-Z][a-zA-Z0-9-]*|\*)?
    (?P<parts>(?:\#[\w-]+|\.[\w-]+|\[[^\]]+\])*)
    """,
    re.VERBOSE,
)
_PART_RE = re.compile(r"\#([\w-]+)|\.([\w-]+)|\[([^\]]+)\]")
_ATTR_RE = re.compile(r"^([\w:-]+)\s*(?:([*~^$|]?=)\s*(.*))?$")


def _never(el: Element) -> bool:
    return False


def _parse_attr(body: str) -> tuple[Callable[[Element], bool], Optional[str]]:
    """Compile one ``[...]`` body to ``(predicate, required)``.
    ``required`` names the attribute every match must carry; it is None
    when an element without it can match (an empty comparison value
    against the ``get(n, "")`` default) or when nothing can."""
    m = _ATTR_RE.match(body.strip())
    if not m:
        return _never, None
    name, op, val = m.groups()
    if op is None:
        return (lambda el, n=name: n in el.attrib), name
    val = val.strip()
    if len(val) >= 2 and val[0] in "\"'" and val[-1] == val[0]:
        val = val[1:-1]
    if op == "=":
        pred = lambda el, n=name, v=val: el.attrib.get(n) == v
    elif op == "*=":
        pred = lambda el, n=name, v=val: v in el.attrib.get(n, "")
    elif op == "~=":
        pred = lambda el, n=name, v=val: v in el.attrib.get(n, "").split()
    elif op == "^=":
        pred = lambda el, n=name, v=val: el.attrib.get(n, "").startswith(v)
    elif op == "$=":
        pred = lambda el, n=name, v=val: el.attrib.get(n, "").endswith(v)
    else:
        return _never, None
    return pred, (name if op == "=" or val else None)


class _Compound:
    __slots__ = ("tag", "preds", "needs_cls_or_id", "needs_attr")

    def __init__(self, token: str):
        m = _SIMPLE_RE.match(token)
        self.tag: Optional[str] = None
        self.preds: list[Callable[[Element], bool]] = []
        # True when no element lacking both class and id can match (gates
        # the scan to classed_desc_list); needs_attr is the weaker "no
        # attribute-less element can match" (attributed_desc_list)
        self.needs_cls_or_id = False
        self.needs_attr = False
        if not m:
            return
        tag = m.group("tag")
        if tag and tag != "*":
            self.tag = tag.lower()
        for pm in _PART_RE.finditer(m.group("parts") or ""):
            if pm.group(1):
                pred = lambda el, i=pm.group(1): el.attrib.get("id") == i
                required = "id"
            elif pm.group(2):
                # substring pre-filter: token membership implies substring,
                # so the (allocating) split only runs on candidate hits
                pred = lambda el, c=pm.group(2): (
                    (a := el.attrib.get("class")) is not None
                    and c in a and c in a.split()
                )
                required = "class"
            else:
                pred, required = _parse_attr(pm.group(3))
            self.preds.append(pred)
            if required is not None:
                self.needs_attr = True
                if required in ("class", "id"):
                    self.needs_cls_or_id = True

    def matches(self, el: Element) -> bool:
        if self.tag is not None and el.tag != self.tag:
            return False
        for p in self.preds:  # plain loop: all(genexpr) costs a frame/elem
            if not p(el):
                return False
        return True


class _Chain:
    """Descendant chain: 'a b c' (child combinator '>' also supported)."""

    __slots__ = ("steps",)

    def __init__(self, text: str):
        # normalize "a > b" -> tokens with combinator markers
        toks = text.replace(">", " > ").split()
        self.steps: list[tuple[str, _Compound]] = []  # (combinator, compound)
        comb = " "
        for t in toks:
            if t == ">":
                comb = ">"
                continue
            self.steps.append((comb, _Compound(t)))
            comb = " "

    def matches(self, el: Element) -> bool:
        # match last step against el, walk ancestors for earlier steps
        if not self.steps:
            return False
        if not self.steps[-1][1].matches(el):
            return False
        cur = el
        for i in range(len(self.steps) - 2, -1, -1):
            comb_right = self.steps[i + 1][0]
            comp = self.steps[i][1]
            if comb_right == ">":
                cur = cur.parent
                if cur is None or not comp.matches(cur):
                    return False
            else:
                anc = cur.parent
                found = None
                while anc is not None:
                    if comp.matches(anc):
                        found = anc
                        break
                    anc = anc.parent
                if found is None:
                    return False
                cur = found
        return True


@lru_cache(maxsize=4096)
def _compile(selector: str) -> tuple:
    return tuple(_Chain(alt.strip()) for alt in selector.split(",") if alt.strip())


@lru_cache(maxsize=4096)
def _plan(selector: str) -> tuple[Callable[[Element], bool],
                                  Callable[[Element], list]]:
    """``(match, gate)`` for one selector.  ``match`` is one predicate:
    tag-set membership when every alternative is a bare tag, else the one
    alternative's test or the first-hit loop over them.  An alternative's
    test is its chain's ``matches``, cut down for a single compound to the
    compound's ``matches`` or, tagless with one part, to that part.
    ``gate`` is the narrowest per-generation snapshot method that every
    alternative's last compound is confined to."""
    chains = _compile(selector)
    lasts = [ch.steps[-1][1] for ch in chains if ch.steps]
    tests = []
    for ch in chains:
        comp = ch.steps[0][1] if len(ch.steps) == 1 else None
        if comp is None:
            tests.append(ch.matches)
        elif comp.tag is None and len(comp.preds) == 1:
            tests.append(comp.preds[0])
        else:
            tests.append(comp.matches)
    if all(len(ch.steps) == 1 and ch.steps[0][1].tag is not None
           and not ch.steps[0][1].preds for ch in chains):
        tags = frozenset(c.tag for c in lasts)
        match = lambda el: el.tag in tags
    elif len(tests) == 1:
        match = tests[0]
    else:
        def match(el: Element) -> bool:
            for test in tests:  # plain loop: any(genexpr) costs a frame
                if test(el):
                    return True
            return False
    if all(c.needs_cls_or_id for c in lasts):
        gate = Element.classed_desc_list
    elif all(c.needs_attr for c in lasts):
        gate = Element.attributed_desc_list
    else:
        gate = Element.desc_list
    return match, gate


def iter_select(root: Element, selector: str) -> Iterator[Element]:
    """Yield descendants of ``root`` (excluding root itself) matching the
    selector, in document order.  One path for every selector: its
    compiled predicate over the narrowest snapshot (see ``_plan``).

    SNAPSHOT SEMANTICS: the scan runs over a generation-cached snapshot
    taken at first resumption, so elements detached/pruned by the caller
    DURING iteration are still yielded.  Callers that prune while
    consuming matches must materialize first (``select()`` does) —
    every kernel pruning site goes through ``select()``; the one lazy
    consumer (find_main_content_node's profile probe) only reads."""
    match, gate = _plan(selector)
    for el in gate(root):
        if match(el):
            yield el


def select(root: Element, selector: str) -> list[Element]:
    return list(iter_select(root, selector))


def select_first(root: Element, selector: str) -> Optional[Element]:
    for el in iter_select(root, selector):
        return el
    return None


def matches(el: Element, selector: str) -> bool:
    return any(ch.matches(el) for ch in _compile(selector))
