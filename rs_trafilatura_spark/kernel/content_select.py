"""Content-node selection: 6-rule cascade, wrapper-skip, parent promotion,
then semantic selectors, then the heuristic scorer.

Re-expresses reference selector/content.rs:13-694 and
extract.rs:1831-1897 / :2035-2268.
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from ..dom import Element, select
from ..functions.textnorm import clean_text, count_sentences
from ..options import Options
from .boilerplate import _SPLIT_DASH, _sidebar_parts_match, is_boilerplate
from .metadata import _norm_lang
from .patterns import ARTICLE_SELECTOR, MAIN_SELECTOR
from .tags import HEADING_TAGS

MIN_CONTENT_TEXT_LEN = 1000

# --- rule predicates (selector/content.rs:29-285) -----------------------------

_RULE1_CLASS_CONTAINS = (
    "snippet-body", "post-text", "post_text", "post-body", "post-entry",
    "postentry", "post-content", "post_content", "post_inner_wrapper",
    "article-text", "entry-content", "article-content", "article__content",
    "article-body", "article__body", "ArticleContent", "page-content",
    "text-content", "body-text", "article__container", "art-content",
    "article_body", "va-bodytext", "blog-content", "blog_content",
    "blogInner__content", "blog-article-content", "blog-post-content",
    "blog_post_content", "blog-main-content", "wysiwyg", "blogPostBody",
    "blogPostContent", "postBody", "postContent", "mw-parser-output",
    "mw-content-text",
)
_RULE1_CLASS_CONTAINS_LOWER = ("postcontent", "articletext", "articlebody",
                               "contentbody", "blogcontent", "storybody")
_RULE1_ID_CONTAINS = (
    "entry-content", "article-content", "article__content", "article-body",
    "article__body", "body-text", "art-content", "article_body",
    "va-bodytext", "mw-content-text", "bodyContent",
)
_RULE1_ID_CONTAINS_LOWER = ("articlebody", "storybody")


def content_rule_1(el: Element) -> bool:
    tag = el.tag
    attrib = el.attrib
    id_ = attrib.get("id", "")
    cls = attrib.get("class", "")
    if tag == "td":
        return "storybody" in id_.lower() or "storybody" in cls.lower()
    if tag not in ("article", "div", "main", "section"):
        return False
    if cls in ("post", "entry", "only-content"):
        return True
    if attrib.get("itemprop") == "articleBody":
        return True
    if id_ == "articleContent" or id_.lower() == "contentbody":
        return True
    cls_low = cls.lower()
    id_low = id_.lower()
    return (
        any(p in cls for p in _RULE1_CLASS_CONTAINS)
        or any(p in cls_low for p in _RULE1_CLASS_CONTAINS_LOWER)
        or any(p in id_ for p in _RULE1_ID_CONTAINS)
        or any(p in id_low for p in _RULE1_ID_CONTAINS_LOWER)
    )


def content_rule_2(el: Element) -> bool:
    return el.tag in ("article", "story")


_RULE3_CLASS_CONTAINS = (
    "post-bodycopy", "storycontent", "story-content", "theme-content",
    "blog-content", "section-content", "single-content", "single-post",
    "main-column", "wpb_text_column", "story-body", "field-body",
)


def content_rule_3(el: Element) -> bool:
    if el.tag not in ("article", "div", "main", "section"):
        return False
    id_ = el.get("id")
    cls = el.get("class")
    if cls in ("postarea", "art-postcontent", "text", "cell", "story"):
        return True
    if id_ in ("article", "story"):
        return True
    if el.get("role") == "article":
        return True
    return (
        any(p in cls for p in _RULE3_CLASS_CONTAINS)
        or "fulltext" in cls.lower()
        or id_.startswith("primary")
        or cls.startswith("article")
        or "story-body" in id_
    )


def content_rule_4(el: Element) -> bool:
    if el.tag not in ("article", "div", "main", "section"):
        return False
    id_ = el.get("id")
    cls = el.get("class")
    id_low = id_.lower()
    cls_low = cls.lower()
    return (
        "content-main" in id_ or "content-main" in cls or "content_main" in cls
        or "content-body" in id_ or "content-body" in cls
        or "contentBody" in id_ or "content__body" in cls
        or "main-content" in id_low or "main-content" in cls_low
        or "page-content" in cls_low
        or id_low == "content" or cls_low == "content"
    )


def content_rule_5(el: Element) -> bool:
    if el.tag == "main":
        return True
    if el.tag not in ("article", "div", "section"):
        return False
    return (
        el.get("class").startswith("main")
        or el.get("id").startswith("main")
        or el.get("role").startswith("main")
    )


_RULE6_BOILERPLATE = (
    "footer", "header", "sidebar", "comment", "share", "social", "related",
    "nav", "menu", "ad", "promo", "widget", "meta", "dropdown", "popup",
    "modal", "banner", "cookie", "newsletter", "subscribe", "signup",
    "login", "signin", "cta", "ddcards", "cards", "featured", "trending",
    "popular", "recommended", "toolbar", "topbar", "bottombar",
)


def content_rule_6(el: Element) -> bool:
    if el.tag not in ("div", "section", "td"):
        return False
    id_low = el.get("id").lower()
    cls_low = el.get("class").lower()
    if "content" not in id_low and "content" not in cls_low:
        return False
    return not any(p in id_low or p in cls_low for p in _RULE6_BOILERPLATE)


CONTENT_RULES: tuple[Callable[[Element], bool], ...] = (
    content_rule_1, content_rule_2, content_rule_3,
    content_rule_4, content_rule_5, content_rule_6,
)

# --- wrapper / boilerplate-context checks (selector/content.rs:313-612) ---------

_BOILERPLATE_CLASS_PATTERNS = (
    "mega-menu", "navigation", "navbar", "toolbar", "accordion", "popup",
    "overlay", "listing", "latest", "recent", "related", "hero",
)
_EXACT_WORD_PATTERNS = ("menu", "nav", "modal", "footer", "header", "banner")
_WORD_SPLIT = re.compile(r"[^a-z0-9]+")


def _has_word_boundary_match(s: str, pattern: str) -> bool:
    low = s.lower()
    if low == pattern:
        return True
    start = 0
    n = len(pattern)
    while True:
        pos = low.find(pattern, start)
        if pos < 0:
            return False
        left_ok = pos == 0 or not low[pos - 1].isalnum()
        end = pos + n
        right_ok = end >= len(low) or not low[end].isalnum()
        if left_ok and right_ok:
            return True
        start = pos + 1


def _has_exact_word_match(s: str, pattern: str) -> bool:
    return pattern in _WORD_SPLIT.split(s.lower())


def _has_sidebar_match(s: str) -> bool:
    for token in s.lower().split():
        parts = _SPLIT_DASH.split(token)
        for i, part in enumerate(parts):
            if part == "sidebar" and _sidebar_parts_match(parts, i):
                return True
    return False


def class_contains_boilerplate(cls: str) -> bool:
    for p in _BOILERPLATE_CLASS_PATTERNS:
        if _has_word_boundary_match(cls, p):
            return True
    for p in _EXACT_WORD_PATTERNS:
        if _has_exact_word_match(cls, p):
            return True
    return _has_sidebar_match(cls)


def _build_boilerplate_ids(root: Element) -> set[int]:
    """Python ids of boilerplate elements, for O(1) ancestor checks
    (BoilerplateCache, selector/content.rs:459-515)."""
    ids: set[int] = set()
    for el in root.iterdesc():
        if el.tag in ("header", "nav", "aside", "footer"):
            ids.add(id(el))
        else:
            cls = el.get("class")
            if cls and class_contains_boilerplate(cls):
                ids.add(id(el))
    return ids


def _is_inside_boilerplate(el: Element, boilerplate_ids: set[int]) -> bool:
    for anc in el.ancestors():
        if id(anc) in boilerplate_ids:
            return True
        if anc.tag in ("body", "html"):
            break
    return False


_NESTED_CLASS_SUBSTRINGS = (
    "content_main", "content-main", "article-content", "article_content",
    "post-content", "post_content", "story-content", "blogInner__content",
    "blog-content", "blog_content", "blogContent", "entry-content",
)
_WRAPPER_BP_SUBSTRINGS = (
    "sidebar", "social", "share-", "-share", "author-", "sticky-",
    "toc-", "-toc", "related-", "widget",
)
_ARTICLE_CONTENT_CLASS_SUBSTRINGS = (
    "content_main", "content-main", "article-body", "article-content",
    "entry-content", "post-content",
)


class _RuleFacts:
    """One subtree walk computing every fact the find_content rule checks
    used to gather with separate selects (articles, nested-content
    elements, aside/nav and wrapper-boilerplate presence, content-classed
    nested articles) — same document order, same substring semantics."""

    __slots__ = ("articles", "nested", "has_aside_nav", "has_wrapper_bp",
                 "has_content_classed_article")

    def __init__(self, el: Element):
        articles: list[Element] = []
        nested: list[Element] = []
        self.has_aside_nav = False
        self.has_wrapper_bp = False
        self.has_content_classed_article = False
        for d in el.iterdesc():
            t = d.tag
            cls = d.attrib.get("class")
            if t == "article":
                articles.append(d)
                if cls and any(
                    p in cls for p in _ARTICLE_CONTENT_CLASS_SUBSTRINGS
                ):
                    self.has_content_classed_article = True
            elif t in ("aside", "nav"):
                self.has_aside_nav = True
            if (cls and any(p in cls for p in _NESTED_CLASS_SUBSTRINGS)) or \
                    d.attrib.get("itemprop") == "articleBody":
                nested.append(d)
            if not self.has_wrapper_bp and cls and any(
                p in cls for p in _WRAPPER_BP_SUBSTRINGS
            ):
                self.has_wrapper_bp = True
        self.articles = articles
        self.nested = nested

    def contains_boilerplate_child(self) -> bool:
        return self.has_aside_nav or self.has_wrapper_bp

    def has_nested_content_element(self) -> bool:
        if len(self.articles) > 1:
            return any(
                len(a.text_content().strip()) >= MIN_CONTENT_TEXT_LEN
                for a in self.articles
            )
        return any(
            len(m.text_content().strip()) >= MIN_CONTENT_TEXT_LEN
            for m in self.nested
        )


def find_content(body: Element) -> Optional[Element]:
    """Priority-rule content finder (selector/content.rs:618-694)."""
    boilerplate_ids = _build_boilerplate_ids(body)

    for rule in CONTENT_RULES:
        for el in body.iterdesc():
            if not rule(el):
                continue
            if _is_inside_boilerplate(el, boilerplate_ids):
                continue
            facts = _RuleFacts(el)
            has_nested = facts.has_nested_content_element()
            if el.tag in ("div", "section"):
                if has_nested and facts.contains_boilerplate_child():
                    continue
            if el.tag == "article" and not el.get("class") and has_nested:
                if facts.has_content_classed_article:
                    continue
            text_len = len(el.text_content().strip())
            if text_len < MIN_CONTENT_TEXT_LEN:
                parent = el.parent
                if parent is not None:
                    if _is_inside_boilerplate(parent, boilerplate_ids):
                        continue
                    parent_len = len(parent.text_content().strip())
                    if parent_len > text_len * 2 and parent_len >= MIN_CONTENT_TEXT_LEN:
                        return parent
                continue
            return el
    return None


# --- heuristic scorer (extract.rs:2035-2268) --------------------------------------

_POSITIVE_NAMES = ("article", "body", "content", "entry", "main", "page",
                   "post", "text", "blog", "story")
_NEGATIVE_NAMES = ("comment", "meta", "footer", "footnote", "sidebar",
                   "widget", "nav", "menu", "header", "banner", "social")


def class_score(el: Element) -> float:
    combined = f"{el.get('class').lower()} {el.get('id').lower()}"
    score = 0.0
    for p in _POSITIVE_NAMES:
        if p in combined:
            score += 25.0
    for p in _NEGATIVE_NAMES:
        if p in combined:
            score -= 25.0
    return score


def _subtree_stats(body: Element) -> dict:
    """One post-order pass computing, for EVERY element, the quantities
    the content score reads: (text_content, p_count, substantive_p,
    h_count, link_text_len), where the counts cover the element's
    descendant ``<p>`` (with >= 100 chars of clean text for
    substantive_p), ``<h1>``-``<h6>`` and ``<a>`` elements.  All
    are additive over children (text_content(el) = el.text + sum(child +
    child.tail)), so the pass is O(n) element visits + O(total_text *
    depth) C-speed string copies instead of an O(candidates * subtree)
    select per candidate, the slow path on deeply nested pages."""
    stats: dict = {}
    stack: list = [(body, False)]
    while stack:
        el, done = stack.pop()
        if not done:
            stack.append((el, True))
            for c in el.children:
                stack.append((c, False))
            continue
        parts = [el.text] if el.text else []
        p = sp = h = link = 0
        for c in el.children:
            ctext, cp, csp, ch, clink = stats[id(c)]
            parts.append(ctext)
            if c.tail:
                parts.append(c.tail)
            p += cp
            sp += csp
            h += ch
            link += clink
            ctag = c.tag
            if ctag == "p":
                p += 1
                if len(clean_text(ctext)) >= 100:
                    sp += 1
            elif ctag in HEADING_TAGS:
                h += 1
            elif ctag == "a":
                link += len(clean_text(ctext))
        stats[id(el)] = ("".join(parts), p, sp, h, link)
    return stats


def _score_from_stats(el: Element, stat, depth: int) -> tuple[int, str]:
    """Content score of ``el`` (reference score_content_node,
    extract.rs:2182-2268) from its ``_subtree_stats`` entry; ``depth`` is
    its distance below body.  Serves both heuristic node selection and
    the multi-candidate merge.  Returns (score, cleaned text)."""
    text, p_count, substantive_p, h_count, link_text_len = stat
    cleaned = clean_text(text)
    text_len = len(cleaned)
    if text_len == 0:
        return 0, cleaned
    link_density = link_text_len / text_len

    effective_len = min(text_len, 8000)
    effective_sentences = min(count_sentences(cleaned), effective_len // 50)

    score = effective_len
    score += p_count * 200
    score += h_count * 100
    score += substantive_p * 300
    score += effective_sentences * 50
    score += depth * 10
    score += int(class_score(el))

    if link_density > 0.5:
        score = int(score * (1.0 - link_density))
    elif link_density > 0.25:
        score = int(score * (1.0 - link_density * 0.5))
    return score, cleaned


def find_heuristic_content_node(body: Element, opts: Options) -> Optional[Element]:
    stats = _subtree_stats(body)
    body_text_len = len(clean_text(stats[id(body)][0]))
    allow_body = 0 < body_text_len <= 500 and opts.target_language is None

    best_score = 0
    best: Optional[Element] = None
    if allow_body:
        best_score, _ = _score_from_stats(body, stats[id(body)], 0)
        best = body

    # pre-order walk tracking depth inline (distance to body), same
    # candidate order as before so score ties resolve identically
    stack: list = [(c, 0) for c in reversed(body.children)]
    while stack:
        el, depth = stack.pop()
        for c in reversed(el.children):
            stack.append((c, depth + 1))
        if el.tag not in ("div", "section", "article", "main"):
            continue
        if is_boilerplate(el.get("class")) or is_boilerplate(el.get("id")):
            continue
        score, cleaned = _score_from_stats(el, stats[id(el)], depth)
        if not cleaned:
            continue
        if score > best_score:
            best_score = score
            best = el

    if opts.favor_precision:
        min_score = 5000
    elif opts.favor_recall:
        min_score = 500
    else:
        min_score = 1000

    if best_score >= min_score and best is not None:
        best_len = len(clean_text(stats[id(best)][0]))
        coverage = best_len / body_text_len if body_text_len > 0 else 1.0
        if coverage < 0.3:
            return None
        return best
    return None


_BLOCK_CHILD_SELECTOR = (
    "div, p, section, article, table, ul, ol, blockquote, form, header, "
    "footer, nav, pre"
)


def find_content_node_bottom_up(body: Element) -> Optional[Element]:
    """Bottom-up Readability-style scorer (extract.rs:1905-2031): score
    p/pre/leaf-div blocks by 1 + commas + min(len/100, 3); propagate to the
    parent (x1) and grandparent (x0.5) containers; link-density multiplier
    (x0.1 / x0.5); best container wins if score >= 10 and text > 200."""
    containers = [
        el for el in body.iterdesc()
        if el.tag in ("div", "section", "article", "main", "td", "blockquote")
    ]
    if not containers:
        return None
    idx = {id(el): i for i, el in enumerate(containers)}
    scores = [class_score(el) for el in containers]

    for el in body.iterdesc():
        if el.tag not in ("p", "pre", "div"):
            continue
        if el.tag == "div" and select(el, _BLOCK_CHILD_SELECTOR):
            continue  # only leaf divs act as paragraphs
        text = el.text_content().strip()
        if len(text) < 25:
            continue
        base = 1.0 + text.count(",") + min(len(text) // 100, 3)
        parent = el.parent
        if parent is not None and id(parent) in idx:
            scores[idx[id(parent)]] += base
            gp = parent.parent
            if gp is not None and id(gp) in idx:
                scores[idx[id(gp)]] += base / 2.0

    for i, el in enumerate(containers):
        if scores[i] <= 0:
            continue
        text_len = len(el.text_content().strip())
        if text_len == 0:
            continue
        link_len = sum(len(a.text_content().strip()) for a in select(el, "a"))
        density = link_len / text_len
        if density > 0.5:
            scores[i] *= 0.1
        elif density > 0.25:
            scores[i] *= 0.5

    best_i = max(range(len(scores)), key=lambda i: scores[i])
    if scores[best_i] < 10.0:
        return None
    best = containers[best_i]
    return best if len(best.text_content().strip()) > 200 else None


def matches_target_language(el: Element, doc_lang: Optional[str],
                            target: Optional[str]) -> bool:
    """Element lang attr, else document language, else graceful pass-through
    (reference extract.rs:1729-1818)."""
    if target is None:
        return True
    el_lang = el.get("lang")
    if el_lang:
        return _norm_lang(el_lang) == _norm_lang(target)
    for anc in el.ancestors():
        anc_lang = anc.get("lang")
        if anc_lang:
            return _norm_lang(anc_lang) == _norm_lang(target)
    if doc_lang:
        return _norm_lang(doc_lang) == _norm_lang(target)
    return True


def find_main_content_node(body: Element, opts: Options,
                           profile_selectors: tuple[str, ...] = (),
                           doc_lang: Optional[str] = None) -> Optional[Element]:
    """Full selection cascade (extract.rs:1831-1897)."""
    target = opts.target_language
    if profile_selectors:
        # probe each selector in priority order through iter_select (one
        # compiled predicate over the narrowest snapshot) with an early
        # exit: the first (selector index, document order) element with
        # real text wins.  An element matching several selectors is only
        # ever RETURNED from the highest-priority one, and an element
        # failing the text check fails it for every selector, so this
        # equals an every-element x every-selector matches() walk.
        from ..dom.select import iter_select as _iter_sel

        for sel_str in profile_selectors:
            for el in _iter_sel(body, sel_str):
                if len(el.text_content().strip()) > 100:
                    return el
    content = find_content(body)
    if content is not None:
        if target is None or matches_target_language(content, doc_lang, target):
            return content
    for el in select(body, ARTICLE_SELECTOR):
        if matches_target_language(el, doc_lang, target):
            return el
    for el in select(body, MAIN_SELECTOR):
        if matches_target_language(el, doc_lang, target):
            return el
    return find_heuristic_content_node(body, opts)
