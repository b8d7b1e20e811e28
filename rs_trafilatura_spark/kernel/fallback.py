"""Fallback extraction: the unconditional baseline() rescue chain
(reference extractor/fallback.rs:259-368): JSON-LD articleBody ->
<article>/<story> text -> paragraph scrape with discard/cookie filters ->
body text -> whole-document text.
"""

from __future__ import annotations

from typing import Optional

from ..dom import Document, Element, select, select_first
from ..functions.textnorm import clean_text, normalize_text_output
from .boilerplate import is_boilerplate
from .metadata import find_jsonld_article_body
from .traversal import source_span


def _should_discard(el: Element) -> bool:
    cls = el.get("class")
    id_ = el.get("id")
    if cls and is_boilerplate(cls):
        return True
    if id_ and is_boilerplate(id_):
        return True
    return el.tag in ("nav", "aside", "header", "footer")


def extract_discourse_content(doc: Document) -> Optional[str]:
    """Discourse `#data-preloaded` JSON: topic_* -> post_stream.posts ->
    cooked HTML per post, text via the DOM, joined with blank lines
    (reference extractor/fallback.rs:44-110)."""
    import json

    el = select_first(doc.root, "#data-preloaded")
    if el is None:
        return None
    raw = el.get("data-preloaded")
    if not raw:
        return None
    # html.parser already entity-decodes attribute values
    try:
        outer = json.loads(raw)
    except ValueError:
        return None
    if not isinstance(outer, dict):
        return None
    topic_str = next(
        (v for k, v in outer.items() if k.startswith("topic_")), None
    )
    if not isinstance(topic_str, str):
        return None
    try:
        topic = json.loads(topic_str)
    except ValueError:
        return None
    posts = (
        topic.get("post_stream", {}).get("posts", [])
        if isinstance(topic, dict) else []
    )
    parts: list[str] = []
    for post in posts:
        cooked = post.get("cooked") if isinstance(post, dict) else None
        if isinstance(cooked, str) and cooked.strip():
            from ..dom import Document as _Doc

            text = clean_text(_Doc(cooked).root.text_content())
            if text:
                parts.append(text)
    return "\n\n".join(parts) if parts else None


def candidate_is_usable(cand_len: int, text_len: int,
                        content_node: Optional[Element],
                        min_size: int, favor_recall: bool = False) -> bool:
    """Accept/reject the fallback candidate (fallback.rs:396-482)."""
    if cand_len == 0 or cand_len == text_len:
        return False
    if text_len == 0:
        return True
    # extreme over-extraction: we almost certainly grabbed boilerplate
    if text_len > 5 * cand_len and cand_len >= min_size:
        return True
    p_text_len = 0
    p_count = 0
    table_count = 0
    if content_node is not None:
        ps = select(content_node, "p")
        p_count = len(ps)
        p_text_len = sum(len(p.text_content().strip()) for p in ps)
        table_count = len(select(content_node, "table"))
    if text_len > 2 * cand_len:
        # low paragraph density -> extraction is boilerplate-ish
        if text_len > 0 and p_text_len * 100 // text_len < 40 and cand_len >= min_size:
            return True
        if text_len > 3 * cand_len and cand_len >= min_size:
            return True
        return False
    if cand_len > 2 * text_len:
        return True
    # borderline structure checks
    if p_text_len == 0 and cand_len > min_size * 2:
        return True
    if table_count > p_count and cand_len > min_size * 2:
        return True
    return text_len < min_size and favor_recall


def baseline(doc: Document) -> tuple[str, str, list[tuple[int, int, str]]]:
    """Return (text, stage, spans). Mirrors fallback.rs:259-368 over the
    UNCLEANED backup document.  Stages that read real DOM nodes (article,
    paragraph scrape, body) carry SOURCE-html spans; JSON-LD genuinely
    cannot point into the source, so its spans stay empty and the caller
    backfills output-relative ones."""
    # 1. JSON-LD article body
    body_text = find_jsonld_article_body(doc)
    if body_text and len(body_text) > 100:
        return clean_text(body_text), "jsonld_body", []

    # 2. basic tree cleaning (fallback.rs:278 basic_cleaning): drop script/
    # style/nav/etc. so the later body/whole-doc rescues don't dump chrome
    from ..options import DEFAULT_OPTIONS
    from .cleaning import doc_cleaning

    # clean from the root so <head> (title/meta) can't leak into the
    # body-text / whole-doc rescues (head is in TAGS_TO_CLEAN)
    doc_cleaning(doc.root, DEFAULT_OPTIONS)

    # 3. article or story tags
    articles = select(doc.root, "article, story")
    for article in articles:
        text = article.text_content().strip()
        if len(text) > 100:
            return (normalize_text_output(_paragraphish_text(article)),
                    "baseline_article", source_span(article))

    # 4. paragraph scrape — one source span per contributing element
    seen: set[str] = set()
    parts: list[str] = []
    spans: list[tuple[int, int, str]] = []
    root = doc.body
    for el in root.iterdesc():
        if el.tag not in ("blockquote", "pre", "q", "code", "p"):
            continue
        if _should_discard(el):
            continue
        if el.parent is not None and _should_discard(el.parent):
            continue
        entry = clean_text(el.text_content())
        if not entry:
            continue
        low = entry.lower()
        if "cookie" in low and "consent" in low:
            continue
        if "tracking technolog" in low:
            continue
        if entry not in seen:
            seen.add(entry)
            parts.append(entry)
            spans.extend(source_span(el))
    if parts:
        text = "\n\n".join(parts)
        return text, "baseline_rescue", spans

    # 5. body text
    body = doc.root.find("body")
    if body is not None:
        text = normalize_text_output(body.iter_text_joined("\n"))
        if len(text) > 100:
            return text, "baseline_body", source_span(body)

    # 6. whole document
    return (normalize_text_output(doc.root.iter_text_joined("\n")),
            "baseline_doc", [])


def _paragraphish_text(el: Element) -> str:
    """Block-aware raw text for the article fallback: blocks separated by
    blank lines, like the main traversal's separator rule."""
    parts: list[str] = []

    def visit(e: Element) -> None:
        if e.tag in ("p", "div", "section", "article", "h1", "h2", "h3",
                     "h4", "h5", "h6"):
            parts.append("\n\n")
        elif e.tag in ("br", "li"):
            parts.append("\n")
        if e.text and e.tag not in ("script", "style", "noscript"):
            parts.append(e.text)
            parts.append(" ")
        for child in e.children:
            visit(child)
            if child.tail:
                parts.append(child.tail)
                parts.append(" ")

    visit(el)
    return "".join(parts)
