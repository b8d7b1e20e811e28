"""Per-document extraction cascade — the kernel's single-document entry.

Stage order mirrors the reference's live path (extract.rs:36-448; SURVEY.md
§3.1): parse -> metadata (uncleaned) -> page-type -> backup clone -> early
JSON-LD probes -> profile -> cleaning -> main extraction with the recovery
ladder -> fallback comparison + baseline rescue -> structured-data
preference -> dedup -> quality -> final validations.

Errors degrade to warnings; empty input returns a result, not an exception
(extract.rs:161-169).  The ``stage`` field is the engine's first-class
lineage column (SURVEY.md §4.3).
"""

from __future__ import annotations

import hashlib
import re
import sys
from typing import Optional

from ..dom import Document, Element
from ..functions.textnorm import clean_text
from ..functions.urlutils import extract_hostname
from ..options import DEFAULT_OPTIONS, Options
from .cleaning import doc_cleaning
from .content_select import (
    find_content_node_bottom_up,
    find_main_content_node,
)
from .dedup import LruCache, dedup_blocks
from .fallback import (
    baseline,
    candidate_is_usable,
    extract_discourse_content,
)
from .metadata import (
    _norm_lang,
    extract_metadata,
    find_jsonld_article_body,
    find_jsonld_product_description,
)
from .page_type import CATEGORY, PRODUCT, classify_page, profile_for
from .quality import compute_extraction_quality
from .traversal import extract_filtered_text, extract_filtered_html

_MIN_RECURSION = 20_000


def _ensure_recursion_limit() -> None:
    if sys.getrecursionlimit() < _MIN_RECURSION:
        sys.setrecursionlimit(_MIN_RECURSION)


_TOKEN_RE = re.compile(r"\S+")


def _count_words(text: str, min_length: int = 1) -> int:
    """Tokens of >= min_length chars."""
    if min_length <= 1:
        return len(text.split())
    return sum(
        1 for m in _TOKEN_RE.finditer(text)
        if m.end() - m.start() >= min_length
    )


def _meets_min_words(text: str, min_length: int, threshold: int) -> bool:
    """``_count_words(text, min_length) >= threshold`` with an early exit:
    every caller only ever THRESHOLDS the count, so on a long document
    this stops after ~threshold tokens instead of scanning 10^5."""
    if threshold <= 0:
        return True
    n = 0
    for m in _TOKEN_RE.finditer(text):
        if m.end() - m.start() >= min_length:
            n += 1
            if n >= threshold:
                return True
    return False


def _empty_result(warnings: list[str]) -> dict:
    return {
        "content_text": "",
        "content_html": None,
        "content_markdown": None,
        "comments_text": None,
        "comments_html": None,
        "images": [],
        "title": None, "author": None, "url": None, "hostname": None,
        "description": None, "sitename": None, "date": None,
        "categories": [], "tags": [], "id": None, "fingerprint": None,
        "license": None, "language": None, "image": None,
        "page_type": None,
        "classification_confidence": None,
        "extraction_quality": 0.0,
        "warnings": warnings,
        "spans": [],
        "stage": "empty",
    }


def extract(html: str, opts: Options = DEFAULT_OPTIONS) -> dict:
    _ensure_recursion_limit()
    warnings: list[str] = []

    if not html or not html.strip():
        return _empty_result(["Empty input document"])

    # 1. parse
    doc = Document(html)
    body = doc.body
    html_len = len(html)

    # 2. metadata on the UNCLEANED doc (extract.rs:52)
    meta = extract_metadata(doc, opts.author_blacklist)

    # 3. page type before cleaning removes signals (extract.rs:55-92)
    if opts.page_type:
        page_type, confidence = opts.page_type, 1.0
    else:
        page_type, confidence = classify_page(doc, opts.url)

    # 4. backup for fallbacks (extract.rs:113 clones; a fresh parse of the
    # source is byte-identical to a pre-cleaning clone — nothing before
    # this point mutates the tree — and doing it LAZILY skips the whole
    # cost on main-path pages, which never touch the backup)
    _backup_doc: list = []

    def backup_doc() -> Document:
        if not _backup_doc:
            _backup_doc.append(Document(html))
        return _backup_doc[0]

    # 5. early structured-data probes (before cleaning strips <script>)
    jsonld_body = find_jsonld_article_body(doc, min_len=500)
    jsonld_product = (
        find_jsonld_product_description(doc) if page_type == PRODUCT else None
    )
    discourse_body = extract_discourse_content(doc)

    # 6. profile; forum comments become content (extract.rs:135-150)
    profile = profile_for(page_type)
    comments_are_content = profile.comments_are_content

    # 7. cleaning (extract.rs:154)
    doc_cleaning(
        body, opts,
        preserve_tags=frozenset(profile.preserve_tags),
        boilerplate_selectors=profile.boilerplate_selectors,
    )

    # 8. main extraction + recovery ladder (extract.rs:1358-1510)
    page_title = meta.get("title")
    content_node = find_main_content_node(
        body, opts, profile.content_selectors, doc_lang=meta.get("language")
    )
    if (opts.target_language and meta.get("language")
            and meta["language"] != _norm_lang(opts.target_language)):
        warnings.append(
            f"Document language {meta['language']!r} does not match target "
            f"{opts.target_language!r}"
        )
    stage = "main"
    text = ""
    spans: list[tuple[int, int, str]] = []

    def run(node: Element, filter_bp: bool = True):
        return extract_filtered_text(
            node, opts,
            filter_named_boilerplate=filter_bp,
            page_title=page_title,
            comments_are_content=comments_are_content,
        )

    if content_node is not None:
        # precision mode: drop trailing headings with no content after them
        # (extractor/pruning.rs:185-198)
        if opts.favor_precision:
            for child in reversed(list(content_node.children)):
                if child.tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
                    child.drop_tree()
                else:
                    break

        text, spans = run(content_node)

        # ancestor walk-up: 2 levels, parent must carry 2x the text
        # (extract.rs:1404-1425)
        if len(text) < opts.min_extracted_len:
            node = content_node
            for _ in range(2):
                parent = node.parent
                if parent is None or parent.tag in ("body", "html", "#root"):
                    break
                if len(clean_text(parent.text_content())) >= 2 * max(
                    len(clean_text(node.text_content())), 1
                ):
                    cand_text, cand_spans = run(parent)
                    if len(cand_text) > len(text):
                        text, spans = cand_text, cand_spans
                        content_node = parent
                        stage = "ancestor_walkup"
                node = parent

        # bottom-up Readability scorer (extract.rs:1431-1441)
        if len(text) < opts.min_extracted_len:
            bu = find_content_node_bottom_up(body)
            if bu is not None and bu is not content_node:
                bu_text, bu_spans = run(bu)
                if len(bu_text) > len(text):
                    text, spans = bu_text, bu_spans
                    content_node = bu
                    stage = "bottom_up"

        # relaxed-boilerplate retry — the reference only relaxes named-
        # boilerplate filtering when extraction came back EMPTY
        # (extract.rs:1445,1456-1466); relaxing on merely-short text leaks
        # discarded classes (social/share/legal...) into short articles
        if not text:
            relaxed_text, relaxed_spans = run(content_node, filter_bp=False)
            if relaxed_text:
                text, spans = relaxed_text, relaxed_spans
                stage = "relaxed_boilerplate"

    # split-article-body merge (extract.rs:1512-1727)
    if content_node is not None and text:
        from .splitbody import maybe_merge_split_bodies

        merged = maybe_merge_split_bodies(
            content_node, opts, text,
            page_title=page_title,
            comments_are_content=comments_are_content,
            relaxed=(stage == "relaxed_boilerplate"),
        )
        if merged is not None:
            text, spans, stage = merged, [], "split_body"

    # body fallback when no node selected
    if content_node is None:
        text, spans = run(body)
        stage = "body" if text else "empty"

    # 9. fallback comparison + unconditional baseline rescue
    #    (extract.rs:171-226, fallback.rs:259-368)
    # insufficient_words compares the word count against min_output_size
    # (extract.rs:177,192: count_words(text, min_word_length) < min_output_size)
    needs_fallback = (
        opts.use_fallback_extraction
        and (
            len(text) < opts.min_extracted_len
            or not _meets_min_words(text, opts.min_word_length,
                                    opts.min_output_size)
        )
    )
    if needs_fallback:
        cand_text, cand_stage, cand_spans = baseline(backup_doc())
        if candidate_is_usable(
            len(cand_text), len(text), content_node,
            opts.min_extracted_size, opts.favor_recall,
        ):
            text = cand_text
            # source-anchored spans where the fallback read real DOM nodes
            # (article / paragraph scrape / body); jsonld stays empty and
            # the out:<stage> backfill below covers it
            spans = cand_spans
            stage = cand_stage
            warnings.append("Used fallback extraction")

    # 10. per-type post passes (extract.rs:231-318)
    # 10a. multi-candidate merge for service/forum (aggregate_sections)
    if profile.aggregate_sections and len(text) < 3000:
        from .postprocess import try_multi_candidate_merge

        merged = try_multi_candidate_merge(doc, opts)
        if merged and len(merged[0]) > 2 * len(text) and len(merged[0]) <= 15_000:
            warnings.append("Used multi-candidate merge")
            # source spans: one per merged candidate node (extract.rs:644-768
            # reads real DOM nodes, so source offsets are derivable)
            text, spans, stage = merged[0], merged[1], "merge"

    # 10b. repeated-item collection for listing/category (pre-cleaning backup:
    # cleaning strips <article> cards)
    if profile.collect_repeated_items and len(text) < 3000:
        from .postprocess import try_collect_repeated_items

        collected = try_collect_repeated_items(backup_doc())
        if collected and len(collected[0]) > 2 * len(text):
            warnings.append("Used repeated-item collection")
            text, spans, stage = collected[0], collected[1], "repeated_items"

    # 10c. collection-description prepend for category pages
    if page_type == CATEGORY:
        from .postprocess import extract_collection_description

        desc = extract_collection_description(backup_doc())
        if desc and len(desc) >= 50:
            probe = desc.lower()[: min(len(desc), 60)]
            if probe not in text.lower():
                text = f"{desc}\n\n{text}"

    # 10d. product-description fallback: DOM empty/very short, or short with
    #      low word overlap vs the structured description (extract.rs:292-318)
    if jsonld_product and page_type == PRODUCT:
        jp = clean_text(jsonld_product)
        desc_words = set(jp.split())
        content_words = set(text.split())
        overlap = (
            len(desc_words & content_words) / len(desc_words) if desc_words else 0.0
        )
        dom_too_short = len(text) < 100
        dom_likely_wrong = len(text) < 500 and len(jp) >= 100 and overlap < 0.2
        if dom_too_short or dom_likely_wrong:
            warnings.append("Using JSON-LD Product description")
            text, spans, stage = jp, [], "jsonld_product"

    # 10e. structured-data preference (extract.rs:322-372): Discourse wins
    #      over JSON-LD; either replaces the DOM result when it failed or
    #      the structured body is 2x larger
    structured = (
        (clean_text(discourse_body), "discourse") if discourse_body
        else (clean_text(jsonld_body), "jsonld_body") if jsonld_body
        else None
    )
    if structured:
        s_text, s_stage = structured
        if not text or len(s_text) > 2 * len(text):
            text = s_text
            spans = []
            stage = s_stage
            warnings.append(f"Using {s_stage} content")

    # 11. comments (extract.rs:379-383); forum profiles force inclusion
    comments_text: Optional[str] = None
    comments_html: Optional[str] = None
    if opts.include_comments or comments_are_content:
        from .comments import extract_comments

        comments_text, comments_html = extract_comments(doc, opts)

    # 12. dedup (html_processing.rs:694-715; per-document scope by default)
    if opts.deduplicate and text:
        text = dedup_blocks(text, LruCache(opts.dedup_cache_size))

    # 13. content html
    content_html: Optional[str] = None
    if opts.include_content_html and content_node is not None and stage in (
        "main", "ancestor_walkup", "relaxed_boilerplate"
    ):
        content_html = extract_filtered_html(
            content_node, opts,
            comments_are_content=comments_are_content,
        ) or None

    # 14. images (extract.rs:386-390)
    images: list[dict] = []
    if opts.include_images:
        from .images import extract_images

        images = extract_images(backup_doc(), content_node, meta.get("image"))

    # 15. markdown (extract.rs:425-442)
    content_markdown: Optional[str] = None
    if opts.output_markdown and content_node is not None:
        from ..functions.markdown import html_tree_to_markdown

        content_markdown = html_tree_to_markdown(
            content_node, include_links=opts.include_links
        ) or None

    # 16. final validations (extract.rs:1081-1136).  Order matters: the
    # reference evaluates the insufficiency thresholds on the
    # PRE-truncation text (extract.rs:1095-1099) and truncates after
    # (extract.rs:1113-1120)
    # min_output_size is a WORD-count threshold, min_extracted_len the char
    # threshold
    if text and (
        not _meets_min_words(text, opts.min_word_length, opts.min_output_size)
        or len(text) < opts.min_extracted_len
    ):
        # exact reference format (extract.rs:1104-1110); the count is only
        # computed here, on the already-insufficient (small) text
        warnings.append(
            "Insufficient content after extraction: "
            f"{_count_words(text, opts.min_word_length)} words "
            f"(min: {opts.min_output_size}), {len(text)} chars "
            f"(min: {opts.min_extracted_len})"
        )
    if len(text) > opts.max_extracted_len:
        # Span contract under truncation: source spans (kind = tag name)
        # index the ORIGINAL html and are kept as-is — they describe where
        # content came from, not what survived the cap; the
        # "Content truncated" warning marks rows where the tail spans'
        # text no longer appears in content_text.  Output-relative spans
        # ("out:<stage>") are computed AFTER this point, so they always
        # match the truncated text.
        text = text[: opts.max_extracted_len]
        # exact reference format (extract.rs:1115-1119)
        warnings.append(
            f"Content truncated to max length: {opts.max_extracted_len}"
        )
    if not text:
        stage = "empty"
        # exact reference wording (extract.rs:162) — the extraction_test.rs
        # family asserts on this string
        warnings.append("Content extraction failed - no main content found")

    # comments validation AFTER truncation, with the reference's warning
    # (extract.rs:1122-1133); min_output_comm_size is a WORD count
    if comments_text is not None:
        comm_words = _count_words(comments_text, opts.min_word_length)
        if comm_words < opts.min_output_comm_size:
            comments_text = None
            comments_html = None
            warnings.append(
                f"Comments section removed: {comm_words} words "
                f"(min: {opts.min_output_comm_size})"
            )

    # option toggles declared by the reference Options (options.rs:177,214;
    # unused in its live path — wired as real behavior here)
    if opts.include_title_in_content and meta.get("title") and text:
        if not text.startswith(meta["title"]):
            text = f"{meta['title']}\n\n{text}"
    if opts.only_with_metadata and not (
        meta.get("title") or meta.get("author") or meta.get("date")
    ):
        text = ""
        stage = "empty"
        warnings.append("Dropped: no metadata (only_with_metadata)")

    # spans backfill (north rule: "extracted text + span offsets" on EVERY
    # document). The DOM traversal emits SOURCE-html spans (start/end tag
    # offsets, kind = tag). Stages that assemble text outside a single
    # traversal (fallback, merge, repeated_items, split_body, jsonld_*,
    # discourse) can't point into the source, so they emit OUTPUT spans:
    # offsets of each paragraph block into content_text, kind =
    # "out:<stage>".  Consumers dispatch on the kind prefix.
    if not spans and text:
        spans = _output_block_spans(text, stage)

    # 17. quality (extract.rs:401-406)
    quality = compute_extraction_quality(text, content_html, html_len, page_type)

    # content fingerprint (result.rs:122 declares it; engine fills it:
    # md5 of the text — doubles as the exact-dedup key) and stable row id
    fingerprint = (
        hashlib.md5(text.encode("utf-8")).hexdigest() if text else None
    )
    row_id = (
        hashlib.md5((opts.url or "").encode("utf-8")).hexdigest()
        if opts.url else None
    )

    return {
        "content_text": text,
        "content_html": content_html,
        "content_markdown": content_markdown,
        "comments_text": comments_text,
        "comments_html": comments_html,
        "images": images,
        "title": meta.get("title"),
        "author": meta.get("author"),
        "url": meta.get("url") or opts.url,
        "hostname": meta.get("hostname") or (extract_hostname(opts.url) if opts.url else None),
        "description": meta.get("description"),
        "sitename": meta.get("sitename"),
        "date": meta.get("date"),
        "categories": meta.get("categories", []),
        "tags": meta.get("tags", []),
        "id": row_id,
        "fingerprint": fingerprint,
        "license": meta.get("license"),
        "language": meta.get("language"),
        "image": meta.get("image"),
        "page_type": page_type,
        "classification_confidence": confidence,
        "extraction_quality": quality,
        "warnings": warnings,
        "spans": [(int(s), int(e), k) for s, e, k in spans],
        "stage": stage,
    }


def _output_block_spans(text: str, stage: str) -> list[tuple[int, int, str]]:
    """[(start, end, "out:<stage>")] offsets of each non-empty paragraph
    block into the emitted text — the span representation for cascade
    stages whose text is not a single DOM traversal."""
    spans: list[tuple[int, int, str]] = []
    pos = 0
    kind = f"out:{stage}"
    for block in text.split("\n\n"):
        if block.strip():
            spans.append((pos, pos + len(block), kind))
        pos += len(block) + 2
    return spans


def extract_bytes(html: bytes, opts: Options = DEFAULT_OPTIONS) -> dict:
    """Charset-sniff + transcode + extract (reference lib.rs:179-182)."""
    from ..functions.encoding import transcode_to_utf8

    return extract(transcode_to_utf8(html), opts)
