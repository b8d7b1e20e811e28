"""Pure-Python DOM with lxml text/tail semantics (reference: etree.rs:8-18)."""

from __future__ import annotations

from typing import Optional

from .element import Element, VOID_TAGS, escape_attr, escape_text
from .parser import parse_html
from .select import iter_select, matches, select, select_first

__all__ = [
    "Document",
    "Element",
    "VOID_TAGS",
    "escape_attr",
    "escape_text",
    "iter_select",
    "matches",
    "parse_html",
    "select",
    "select_first",
]


class Document:
    """Parsed HTML document; ``body`` falls back to the root for fragments
    (html5ever implicitly creates body; we tolerate its absence instead)."""

    __slots__ = ("root",)

    def __init__(self, html: str):
        self.root = parse_html(html)

    @property
    def body(self) -> Element:
        el = self.root.find("body")
        return el if el is not None else self.root

    @property
    def html_el(self) -> Optional[Element]:
        return self.root.find("html")
