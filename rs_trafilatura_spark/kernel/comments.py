"""Comments extraction (reference extract.rs:3568-3636): id probes, class
probes, then the largest COMMENT_CLASS/COMMENT_ID match by cleaned length."""

from __future__ import annotations

from typing import Optional

from ..dom import Document, Element
from ..functions.textnorm import clean_text
from ..options import Options
from .patterns import COMMENT_CLASS, COMMENT_ID
from .traversal import extract_filtered_text

_ID_PROBES = ("comments", "comment-section", "disqus_thread", "respond", "discussion")
_CLASS_PROBES = ("comments", "comment-list", "respond", "discussion", "disqus",
                 "fb-comments")


def find_comment_section(doc: Document) -> Optional[Element]:
    # one walk collecting the first doc-order hit per probe (semantics
    # identical to the reference's per-probe select_first loop: probe
    # order outranks document order)
    id_hits: dict[str, Element] = {}
    cls_hits: dict[str, Element] = {}
    id_probe_set = set(_ID_PROBES)
    for el in doc.root.iterdesc():
        attrib = el.attrib
        if not attrib:
            continue
        id_ = attrib.get("id")
        if id_ and id_ in id_probe_set and id_ not in id_hits:
            id_hits[id_] = el
        cls = attrib.get("class")
        if cls:
            for c in el.classes:
                if c in _CLASS_PROBES and c not in cls_hits:
                    cls_hits[c] = el
    for id_ in _ID_PROBES:
        if id_ in id_hits:
            return id_hits[id_]
    for cls in _CLASS_PROBES:
        if cls in cls_hits:
            return cls_hits[cls]
    best: Optional[Element] = None
    best_len = 0
    for el in doc.body.iterdesc():
        id_, cls = el.get("id"), el.get("class")
        if not ((id_ and COMMENT_ID.match(id_)) or (cls and COMMENT_CLASS.search(cls))):
            continue
        n = len(clean_text(el.text_content()))
        if n > best_len:
            best_len, best = n, el
    return best


def extract_comments(doc: Document, opts: Options) -> tuple[Optional[str], Optional[str]]:
    """(comments_text, comments_html) via the filtered traversal with
    comment classes treated as content; dropped below min_output_comm_size
    (extract.rs:1123-1133)."""
    from .traversal import extract_filtered_html

    section = find_comment_section(doc)
    if section is None:
        return None, None
    text, _spans = extract_filtered_text(
        section, opts, filter_named_boilerplate=True, comments_are_content=True
    )
    if not text:
        return None, None
    # the min_output_comm_size WORD threshold is applied by the caller's
    # final-validation step, which also emits the "Comments section
    # removed" warning (extract.rs:1122-1133)
    html = extract_filtered_html(section, opts, comments_are_content=True) or None
    return text, html
