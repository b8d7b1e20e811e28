"""Filtered text traversal — this defines the byte-exact output.

Re-expresses the reference's live text emitter (extract.rs:2331-2670):
pre-order walk; header/footer excluded unless inside article/main;
hard-excluded tags; always-excluded and boilerplate class/id tokens;
BreadcrumbList itemtype; table link-density + layout handling; div/ul/ol
link-density skip; heading/p/div share-button filters; h1==page-title dedup;
"\n\n" per block tag, "\n" per br/li; text nodes emitted with a trailing
space; then the pending-space normalization state machine.

Skipped subtrees keep their tails: in the reference the skip_depths stack
skips nodes strictly deeper than the skipped element, and the tail is a
sibling text node at the same depth.

Span offsets (north rule "extracted text + span offsets"): every element
whose own text is emitted contributes (start, end, kind) char offsets into
the decoded source html, recorded from parse positions.
"""

from __future__ import annotations

from typing import Optional

from ..dom import Element
from ..functions.textnorm import normalize_text_output, titles_match
from ..options import Options
from .boilerplate import (
    is_always_excluded_name,
    is_boilerplate,
    is_share_button_text,
)
from .link_density import link_density_test, link_density_test_tables
from .tables import extract_table_text, is_layout_table
from .tags import BLOCK_SEPARATOR_TAGS, EXCLUDED_TRAVERSAL_TAGS, HEADING_TAGS

_RAW_TEXT_TAGS = frozenset({"script", "style", "noscript"})
_HEADING_TITLE_CLASSES = (
    "entry-title", "post-title", "article-title", "story-title",
    "pg-headline", "headline",
)


_PRECISION_TAGS = frozenset(
    {"div", "dd", "dt", "li", "ul", "ol", "dl", "p", "section", "span"}
)

# One dict probe instead of ~8 membership tests per visited element: each
# tag the text emitter special-cases gets a flag bit; the (majority) tags
# with no special handling take the flags==0 fast path straight to
# text/children.  Built from the SAME sets the checks used, so the two
# can't drift.
_VF_TABLE = 1            # tag == "table"
_VF_LDTEST = 2           # tag in ("div", "ul", "ol") link-density test
_VF_HEADING = 4          # tag in HEADING_TAGS
_VF_P = 8                # tag == "p" share-button probe
_VF_DIV = 16             # tag == "div" share-button probe
_VF_BLOCKSEP = 32        # tag in BLOCK_SEPARATOR_TAGS
_VF_NL = 64              # tag in ("br", "li")
_VF_AM = 128             # tag in ("article", "main")
_VF_RAW = 256            # tag in _RAW_TEXT_TAGS

_VISIT_FLAGS: dict = {}
for _t in (
    {"table"} | {"div", "ul", "ol"} | set(HEADING_TAGS) | {"p"}
    | set(BLOCK_SEPARATOR_TAGS) | {"br", "li"} | {"article", "main"}
    | set(_RAW_TEXT_TAGS)
):
    _VISIT_FLAGS[_t] = (
        (_VF_TABLE if _t == "table" else 0)
        | (_VF_LDTEST if _t in ("div", "ul", "ol") else 0)
        | (_VF_HEADING if _t in HEADING_TAGS else 0)
        | (_VF_P if _t == "p" else 0)
        | (_VF_DIV if _t == "div" else 0)
        | (_VF_BLOCKSEP if _t in BLOCK_SEPARATOR_TAGS else 0)
        | (_VF_NL if _t in ("br", "li") else 0)
        | (_VF_AM if _t in ("article", "main") else 0)
        | (_VF_RAW if _t in _RAW_TEXT_TAGS else 0)
    )
del _t


def _element_excluded(
    el: Element,
    inside_article_main: bool,
    filter_named_boilerplate: bool,
    comments_are_content: bool,
    opts: Optional[Options] = None,
) -> bool:
    """Own-attribute exclusion checks; ancestors were validated on descent."""
    tag = el.tag
    attrib = el.attrib
    if tag == "header":
        if not inside_article_main:
            return True
        if opts is not None and opts.favor_precision:
            # precision rule 1: headers go even inside article/main
            # (selector/precision.rs:40-42)
            return True
    elif tag == "footer":
        cls = attrib.get("class")
        if cls and is_boilerplate(cls, comments_are_content):
            return True
        if not inside_article_main:
            return True
    elif tag in EXCLUDED_TRAVERSAL_TAGS:
        return True

    if not attrib:
        # every check below reads an attribute; attribute-less elements
        # (the majority on real pages) exit here
        return False
    cls = attrib.get("class", "")
    id_ = attrib.get("id", "")
    if cls and is_always_excluded_name(cls):
        return True
    if id_ and is_always_excluded_name(id_):
        return True
    if filter_named_boilerplate:
        if cls and is_boilerplate(cls, comments_are_content):
            return True
        if id_ and is_boilerplate(id_, comments_are_content):
            return True
    itemtype = attrib.get("itemtype")
    if itemtype and "breadcrumblist" in itemtype.lower():
        return True
    # precision / teaser / caption discards (selector/precision.rs:40-153)
    if opts is not None and tag in _PRECISION_TAGS:
        id_cls = f"{id_}{cls}"
        if opts.favor_precision:
            style_attr = attrib.get("style")
            if ("bottom" in id_cls or "link" in id_cls
                    or (style_attr and "border" in style_attr)):
                return True
        if not opts.favor_recall:
            if "teaser" in id_cls.lower():
                return True
        if not opts.include_images:
            if "caption" in id_cls:  # case-sensitive, like the reference
                return True

    # hidden elements (discard rule 2, selector/discard.rs:225-259)
    style = attrib.get("style")
    if style and ("display:none" in style or "display: none" in style):
        return True
    if attrib.get("aria-hidden") == "true" or "hidden" in attrib:
        return True
    if cls:
        cls_low = cls.lower()
        if (cls_low.startswith("hide-") or "-hide-" in cls_low
                or " hidden" in cls_low or " hide" in cls_low
                or "noprint" in cls_low or "notloaded" in cls_low):
            return True
    return False


def _link_ancestor_ids(root: Element) -> set:
    """ids of elements (under and including root) with an <a> descendant —
    one O(links*depth) pass so link-density tests skip linkless subtrees."""
    marked: set = set()
    for el in root.iterdesc():
        if el.tag == "a":
            anc = el.parent
            while anc is not None and id(anc) not in marked:
                marked.add(id(anc))
                if anc is root:
                    break
                anc = anc.parent
    return marked


def _text_if_shorter(el: Element, limit: int) -> Optional[str]:
    """el.iter_text_joined(' ').strip() when its length is < limit, else
    None.  Early-exits once the accumulated stripped length provably
    reaches the limit (appending chunks never shrinks a stripped join),
    so big content subtrees never materialize their full text here."""
    parts: list[str] = []
    raw = 0
    next_check = limit + 1
    for t in el.itertext():
        if not t:
            continue
        parts.append(t)
        raw += len(t) + 1
        if raw > next_check:
            if len(" ".join(parts).strip()) >= limit:
                return None
            next_check = raw + 64
    text = " ".join(parts).strip()
    return text if len(text) < limit else None


def source_span(el: Element) -> list[tuple[int, int, str]]:
    """``[(start, end, tag)]``: the char offsets of ``el`` in the decoded
    source html, recorded at parse time; empty for a node without them."""
    if el._srcpos is None:
        return []
    start, end = el._srcpos
    return [(start, max(end, start), el.tag)]


def extract_filtered_text(
    root: Element,
    opts: Options,
    filter_named_boilerplate: bool = True,
    page_title: Optional[str] = None,
    comments_are_content: bool = False,
) -> tuple[str, list[tuple[int, int, str]]]:
    """Return (normalized text, [(start, end, kind)] source spans)."""
    out: list[str] = []
    spans: list[tuple[int, int, str]] = []
    link_ids = _link_ancestor_ids(root)

    def emit_text(el: Element, text: str) -> None:
        out.append(text)
        out.append(" ")
        if text.strip():
            spans.extend(source_span(el))

    def visit(el: Element, inside_am: bool) -> None:
        tag = el.tag
        if _element_excluded(el, inside_am, filter_named_boilerplate,
                             comments_are_content, opts):
            return

        flags = _VISIT_FLAGS.get(tag, 0)
        if flags:
            if flags & _VF_TABLE:
                if link_density_test_tables(el, has_links=id(el) in link_ids):
                    return
                if not opts.include_tables:
                    return
                if not is_layout_table(el):
                    table_text = extract_table_text(el)
                    if table_text:
                        out.append("\n\n")
                        out.append(table_text)
                        out.append("\n\n")
                        spans.extend(source_span(el))
                    return
                # layout table: fall through, traverse children normally

            if flags & _VF_LDTEST and link_density_test(
                el, opts.favor_precision, has_links=id(el) in link_ids
            ):
                return

            if flags & _VF_HEADING:
                heading_text = el.iter_text_joined(" ").strip()
                if is_share_button_text(heading_text):
                    return
                cls_low = el.get("class").lower()
                if any(m in cls_low for m in _HEADING_TITLE_CLASSES):
                    return
                if el.get("itemprop").lower() == "headline":
                    return
                if tag == "h1" and page_title and titles_match(heading_text, page_title):
                    return

            if flags & _VF_P:
                p_text = _text_if_shorter(el, 50)
                if p_text is not None and is_share_button_text(p_text):
                    return
            elif flags & _VF_DIV:
                div_text = _text_if_shorter(el, 80)
                if div_text is not None and is_share_button_text(div_text):
                    return

            if flags & (_VF_BLOCKSEP | _VF_HEADING):
                out.append("\n\n")
            elif flags & _VF_NL:
                out.append("\n")

            if flags & _VF_AM:
                inside_am = True

            if el.text and not flags & _VF_RAW:
                emit_text(el, el.text)
        elif el.text:
            emit_text(el, el.text)
        for child in el.children:
            visit(child, inside_am)
            if child.tail:
                # tail belongs to this element's level; emitted regardless of
                # whether the child subtree was skipped
                out.append(child.tail)
                out.append(" ")

    root_inside = root.tag in ("article", "main")
    if root.text and root.tag not in _RAW_TEXT_TAGS:
        emit_text(root, root.text)
    for child in root.children:
        visit(child, root_inside)
        if child.tail:
            out.append(child.tail)
            out.append(" ")

    text = normalize_text_output("".join(out))
    return text, spans


# --- filtered HTML emitter (extract.rs:2680-2894, simplified) ---------------------

_HTML_WHITELIST = frozenset(
    {
        "a", "article", "b", "blockquote", "br", "caption", "code", "div",
        "em", "figcaption", "h1", "h2", "h3", "h4", "h5", "h6", "i", "li",
        "ol", "p", "pre", "q", "section", "span", "strong", "sub", "sup",
        "table", "tbody", "td", "tfoot", "th", "thead", "tr", "ul",
    }
)
_KEPT_ATTRS = {"a": ("href",), "td": ("colspan", "rowspan"),
               "th": ("colspan", "rowspan"), "code": ("class",)}


def extract_filtered_html(
    root: Element,
    opts: Options,
    filter_named_boilerplate: bool = True,
    comments_are_content: bool = False,
) -> str:
    """Whitelisted-tag HTML of the content subtree, applying the same
    exclusion rules as the text path."""
    from ..dom import escape_attr, escape_text

    out: list[str] = []
    link_ids = _link_ancestor_ids(root)

    def visit(el: Element, inside_am: bool) -> None:
        if _element_excluded(el, inside_am, filter_named_boilerplate,
                             comments_are_content, opts):
            return
        tag = el.tag
        # same flag bits as the text emitter (the table/link-density/
        # article-main/raw-text sets are shared); whitelist and kept-attr
        # membership stay direct probes
        flags = _VISIT_FLAGS.get(tag, 0)
        if flags:
            if flags & _VF_TABLE and (
                link_density_test_tables(el, has_links=id(el) in link_ids)
                or not opts.include_tables
            ):
                return
            if flags & _VF_LDTEST and link_density_test(
                el, opts.favor_precision, has_links=id(el) in link_ids
            ):
                return
            if flags & _VF_AM:
                inside_am = True
        keep = tag in _HTML_WHITELIST
        if keep:
            if tag == "br":
                out.append("<br/>")
            elif tag in _KEPT_ATTRS:
                attrs = ""
                # include_links=False keeps the <a> TAG but drops href —
                # the reference's attribute whitelist gates href on the
                # option, it never unwraps the element (html_output_test.rs
                # expects '<a>link</a>' without href)
                for k in _KEPT_ATTRS[tag]:
                    if tag == "a" and k == "href" and not opts.include_links:
                        continue
                    v = el.get(k)
                    if v:
                        attrs += f' {k}="{escape_attr(v)}"'
                out.append(f"<{tag}{attrs}>")
            else:
                out.append("<" + tag + ">")
        if el.text and not flags & _VF_RAW:
            out.append(escape_text(el.text))
        for child in el.children:
            visit(child, inside_am)
            if child.tail:
                out.append(escape_text(child.tail))
        if keep and tag != "br":
            out.append("</" + tag + ">")

    root_inside = root.tag in ("article", "main")
    if root.text and root.tag not in _RAW_TEXT_TAGS:
        out.append(escape_text(root.text))
    for child in root.children:
        visit(child, root_inside)
        if child.tail:
            out.append(escape_text(child.tail))
    return "".join(out).strip()
