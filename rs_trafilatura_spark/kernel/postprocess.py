"""Per-type post passes (reference extract.rs:231-372):

- multi-candidate merge for service/forum pages (extract.rs:644-768)
- repeated-item collection for listing/category pages (extract.rs:524-636)
- collection-description prepend for category pages (extract.rs:472-514)
"""

from __future__ import annotations

from typing import Optional

from ..dom import Document, Element, select
from ..functions.textnorm import clean_text
from ..options import Options
from .boilerplate import is_boilerplate
from .content_select import _score_from_stats, _subtree_stats
from .traversal import source_span

_CONTAINER_SELECTORS = (
    "main", "[role='main']", "#content", ".content",
    "section", ".feed", ".stream", ".listing", ".items",
)


def _collect_sibling_group(container: Element, child_tag: str
                           ) -> Optional[list[tuple[str, Element]]]:
    """3+ ``child_tag`` children of 15+ words each, as (text, element)."""
    children = select(container, child_tag)
    if len(children) < 3:
        return None
    texts = []
    for el in children:
        cls = el.get("class")
        if cls and is_boilerplate(cls):
            continue
        text = el.text_content().strip()
        if len(text.split()) >= 15:
            texts.append((text, el))
    return texts if len(texts) >= 3 else None


def try_collect_repeated_items(
    doc: Document
) -> Optional[tuple[str, list[tuple[int, int, str]]]]:
    """Find containers with 3+ same-tag children carrying real text
    (news card grids, product lists); biggest group by total length wins.
    Returns (text, source spans — one per collected item node)."""
    groups = []
    for sel_str in _CONTAINER_SELECTORS:
        for container in select(doc.root, sel_str):
            groups.append(_collect_sibling_group(container, "article"))
            groups.extend(_collect_sibling_group(lst, "li")
                          for lst in select(container, "ul, ol"))
    groups.append(_collect_sibling_group(doc.root, "article"))

    # the first group with the largest total text length wins
    best = max((g for g in groups if g), default=None,
               key=lambda g: sum(len(t) for t, _ in g))
    if best is None:
        return None
    spans: list[tuple[int, int, str]] = []
    for _, el in best:
        spans.extend(source_span(el))
    return "\n\n".join(t for t, _ in best), spans


def try_multi_candidate_merge(
    doc: Document, opts: Options
) -> Optional[tuple[str, list[tuple[int, int, str]]]]:
    """Merge top-scoring non-overlapping candidates for service/marketing
    pages: sorted by score desc, keep top + others scoring >= top/5 whose
    text isn't already contained, cap 15k chars (extract.rs:644-768)."""
    body = doc.body
    stats = _subtree_stats(body)
    body_len = max(len(clean_text(stats[id(body)][0])), 1)

    candidates: list[tuple[int, str, Element]] = []
    for el in body.iterdesc():
        if el.tag not in ("div", "section", "article", "main"):
            continue
        if is_boilerplate(el.get("class")) or is_boilerplate(el.get("id")):
            continue
        depth = 0
        cur = el.parent
        while cur is not None and cur.tag != "body":
            depth += 1
            cur = cur.parent
        score, cleaned = _score_from_stats(el, stats[id(el)], depth)
        if len(cleaned) < 50 or len(cleaned) / body_len > 0.85:
            continue
        candidates.append((score, cleaned, el))

    if not candidates:
        return None
    candidates.sort(key=lambda c: -c[0])
    top_score = candidates[0][0]
    if top_score <= 0:
        return None

    merged: list[str] = []
    spans: list[tuple[int, int, str]] = []
    total = 0
    for score, text, el in candidates:
        if merged and score < top_score / 5:
            break
        if any(text in m or m in text for m in merged):
            continue
        if total + len(text) > 15_000:
            break
        merged.append(text)
        spans.extend(source_span(el))
        total += len(text)
    if not merged:
        return None
    return "\n\n".join(merged), spans


_COLLECTION_DESC_SELECTOR = (
    "[class*='category-description'], [class*='collection-description'], "
    "[class*='category-intro'], [class*='collection-intro'], "
    "[class*='taxonomy-description'], [class*='archive-description']"
)


def extract_collection_description(doc: Document) -> Optional[str]:
    """Longest collection/category description wins (extract.rs:472-514)."""
    best = ""
    for el in select(doc.root, _COLLECTION_DESC_SELECTOR):
        text = clean_text(el.text_content())
        if len(text) > len(best):
            best = text
    return best if len(best) >= 50 else None
