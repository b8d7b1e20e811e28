"""89-slot numeric feature vector for page-type classification
(reference page_type/ml.rs:54-424).

The reference feeds these into a 200-tree XGBoost ensemble that lives in an
external crate whose weights are not public, so the engine ships the
FEATURE EXTRACTION faithfully (fixed-width Float64 array, vectorizable into
a numpy matrix per Arrow batch) and leaves model scoring pluggable — the
heuristic stages 1-2 (page_type.py) decide classification today.

Layout:
- f[0..14]:  URL pattern signals
- f[14..63]: HTML structural signals
- f[63..73]: enhanced structural features (skipped for >500 KB docs,
             matching the reference's size guard, ml.rs:178-180)
- f[73..81]: DOM vocabulary densities
- f[81..89]: collection-specific features
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Optional
from urllib.parse import urlparse

from ..dom import Document, Element, select
from .page_type import (
    _ARTICLE_PATHS,
    _CATEGORY_PATHS,
    _DOCS_HOSTS,
    _DOCS_PATHS,
    _FORUM_HOSTS,
    _FORUM_PATHS,
    _LISTING_PATHS,
    _PRODUCT_PATHS,
    _SERVICE_PATHS,
    _SERVICE_SUFFIXES,
    ARTICLE_PATH_RE,
    CATEGORY_PATH_RE,
    DOCS_HOST_RE,
    DOCS_PATH_RE,
    FORUM_HOST_RE,
    FORUM_PATH_RE,
    LISTING_END_RE,
    LISTING_PATH_RE,
    PRODUCT_PATH_RE,
    SERVICE_PATH_RE,
    SERVICE_SUFFIX_RE,
)
from .tags import HEADING_TAGS

N_FEATURES = 89
_MAX_ENHANCED_BYTES = 500_000

_BLOG_SLUG_RE = re.compile(r"/\d{4}/\d{2}/|/20\d{2}-|-20\d{2}")
_PRODUCT_COUNT_RE = re.compile(
    r"showing\s+\d+|\b\d+\s+(results|items|products)\b"
)
_CTA_MARKERS = ("get started", "free trial", "contact us", "sign up",
                "try free", "get pricing", "book a", "schedule")
_COMMERCIAL = ("price", "buy", "cart", "shop", "order", "shipping",
               "delivery", "stock", "sale", "discount", "offer", "deal",
               "checkout", "payment", "warranty", "returns", "refund")
_CONTENT_W = ("posted", "author", "published", "updated", "comments",
              "share", "tweet", "read", "article", "blog", "opinion",
              "editor", "journalist", "source", "according")
_TECH_W = ("api", "function", "parameter", "returns", "example", "syntax",
           "reference", "deprecated", "version", "module", "class",
           "method", "interface", "configuration", "install")
_FORUM_W = ("reply", "thread", "post", "member", "joined", "reputation",
            "moderator", "admin", "quote", "likes", "views", "topic",
            "answered", "solution", "vote", "upvote")
_SIG_KEYWORDS = ("item", "card", "product", "post", "entry", "result",
                 "row", "cell")
# only these words' counts are ever read from the body word counter
_INTEREST_WORDS = frozenset(_COMMERCIAL) | frozenset(_CONTENT_W) \
    | frozenset(_TECH_W) | frozenset(_FORUM_W)


def _shallow_containers(body: Element):
    """body children to depth 3 (the reference's 3-level selector)."""
    level = list(body.children)
    for _ in range(3):
        next_level = []
        for el in level:
            yield el
            next_level.extend(el.children)
        level = next_level


def _extract_ml_features_slow(doc: Document, url: str = "") -> list[float]:
    """Readable selector-based reference implementation.  Semantics oracle
    for the single-pass fast path below (tests/test_ml_features_parity.py
    asserts equality); ~43 full-tree selector scans per page, so the live
    kernel uses extract_ml_features instead."""
    f = [0.0] * N_FEATURES
    url_lower = (url or "").lower()
    try:
        parsed = urlparse(url_lower)
        domain = parsed.hostname or ""
        path = parsed.path or "/"
    except ValueError:
        domain, path = "", "/"

    # --- f[0..14]: URL patterns -------------------------------------------------
    f[0] = 1.0 if any(h in domain for h in _FORUM_HOSTS) else 0.0
    f[1] = 1.0 if any(p in path for p in _FORUM_PATHS) else 0.0
    f[2] = 1.0 if any(p in url_lower for p in _FORUM_PATHS) else 0.0
    f[3] = 1.0 if any(h in domain for h in _DOCS_HOSTS) else 0.0
    f[4] = 1.0 if any(p in path for p in _DOCS_PATHS) else 0.0
    f[5] = 1.0 if any(p in path for p in _PRODUCT_PATHS) else 0.0
    f[6] = 1.0 if any(p in path for p in _CATEGORY_PATHS) else 0.0
    f[7] = 1.0 if any(p in path for p in _SERVICE_PATHS) else 0.0
    f[8] = 1.0 if any(s in url_lower for s in _SERVICE_SUFFIXES) else 0.0
    f[9] = 1.0 if any(p in path for p in _ARTICLE_PATHS) else 0.0
    f[10] = 1.0 if _BLOG_SLUG_RE.search(url_lower) else 0.0
    path_trimmed = path.rstrip("/")
    f[11] = 1.0 if any(
        path_trimmed.endswith(p.rstrip("/")) and p.rstrip("/")
        for p in _LISTING_PATHS
    ) else 0.0
    f[12] = 1.0 if any(p in path for p in _LISTING_PATHS) else 0.0
    f[13] = 1.0 if ("shop." in domain or "store." in domain) else 0.0

    body = doc.body
    root = doc.root

    # --- f[14..63]: HTML structure -----------------------------------------------
    p_elements = select(root, "p")
    p_lens = [len(p.text_content().strip()) for p in p_elements]
    substantive = [n for n in p_lens if n > 20]
    f[14] = float(len(substantive))
    f[15] = sum(substantive) / len(substantive) if substantive else 0.0
    headings = select(root, "h1, h2, h3, h4, h5, h6")
    f[16] = float(len(headings))
    h2_count = sum(1 for h in headings if h.tag == "h2")
    body_text = body.text_content()
    body_len = len(body_text)
    f[17] = body_len / h2_count if h2_count else 0.0
    f[18] = 1.0 if select(root, "article") else 0.0
    f[19] = 1.0 if select(root, "time") else 0.0
    f[20] = 1.0 if select(root, "main") else 0.0
    f[21] = 1.0 if select(root, "aside") else 0.0
    f[22] = 1.0 if select(
        root, "meta[name='author'], meta[property='article:author'], [class*='author']"
    ) else 0.0

    for s in select(root, "script[type='application/ld+json']"):
        t = s.text
        if '"Article"' in t or '"NewsArticle"' in t or '"BlogPosting"' in t:
            f[23] = 1.0
        if '"Product"' in t:
            f[24] = 1.0
        if '"FAQPage"' in t:
            f[25] = 1.0
        if '"CollectionPage"' in t or '"OfferCatalog"' in t:
            f[26] = 1.0
        if '"ItemList"' in t:
            f[27] = 1.0
        if '"LocalBusiness"' in t:
            f[28] = 1.0
        if '"Service"' in t:
            f[29] = 1.0
        if '"AggregateOffer"' in t:
            f[30] = 1.0

    og_type = ""
    for m in select(root, "meta[property='og:type']"):
        og_type = (m.get("content") or "").lower()
        break
    f[31] = 1.0 if "product" in og_type else 0.0
    f[32] = 1.0 if og_type == "article" else 0.0
    f[33] = 1.0 if og_type == "website" else 0.0
    f[34] = 1.0 if select(
        root, "[class*='product-grid'], [class*='product-list'], [class*='product-card']"
    ) else 0.0
    f[35] = 1.0 if select(
        root, "[class*='add-to-cart'], [class*='addtocart'], [class*='buy-now']"
    ) else 0.0
    f[36] = float(len(select(
        root, "[class*='product-card'], [class*='product-tile'], [class*='product-item']"
    )))
    f[37] = 1.0 if select(
        root, "link[rel='next'], [class*='pagination'], [class*='pager']"
    ) else 0.0
    f[38] = float(len(select(root, "code, pre")))
    f[39] = 1.0 if select(
        root, "[class*='docs-sidebar'], [class*='doc-sidebar'], "
              "[class*='docs-nav'], [class*='table-of-contents']"
    ) else 0.0

    links = select(root, "a")
    p_words = sum(len(p.text_content().split()) for p in p_elements)
    f[40] = len(links) / p_words if p_words else 0.0
    f[41] = float(p_words)
    f[42] = float(len(select(
        root, "[class*='grid'], [class*='col-'], [class*='column'], [class*='card']"
    )))
    f[43] = float(len(select(root, "svg")))
    cta = 0
    for el in select(root, "button, a"):
        t = el.text_content().lower()
        if any(m in t for m in _CTA_MARKERS):
            cta += 1
    f[44] = float(cta)
    f[45] = 1.0 if select(root, "[class*='hero']") else 0.0
    f[46] = 1.0 if select(root, "[class*='testimonial']") else 0.0
    f[47] = 1.0 if select(root, "[class*='pricing']") else 0.0
    f[48] = 1.0 if select(root, "[class*='feature']") else 0.0
    f[49] = 1.0 if select(root, "[class*='breadcrumb']") else 0.0
    f[50] = float(len(select(root, "form")))
    f[51] = float(len(select(root, "img")))
    f[52] = float(len(select(root, "ul, ol")))
    f[53] = float(len(select(root, "table")))
    f[54] = float(len(select(root, "nav")))
    f[55] = float(len(select(root, "section")))
    f[56] = float(len(select(root, "button")))
    f[57] = float(len(select(root, "input")))
    f[58] = float(body_len)
    f[59] = float(len({a.get("href") for a in links if a.get("href")}))
    f[60] = float(len(select(root, "[class*='comment']")))
    f[61] = float(len(select(root, "[class*='post']")))
    f[62] = float(len(select(root, "[class*='message']")))

    # --- f[63..]: size guard (ml.rs:178-180 — changes output, replicate) ---------
    if body_len > _MAX_ENHANCED_BYTES:
        return f

    # repeated sibling structure
    max_repeated, parents_with_repeats = 0, 0
    for el in _shallow_containers(body):
        if len(el.children) < 3:
            continue
        counts = Counter(c.get("class") for c in el.children if c.get("class"))
        if counts:
            top = max(counts.values())
            if top >= 3:
                parents_with_repeats += 1
                max_repeated = max(max_repeated, top)
    f[63] = float(max_repeated)
    f[64] = float(parents_with_repeats)

    f[65] = float(body_text.count("$") + body_text.count("€") + body_text.count("£"))
    f[66] = f[51] / (body_len / 1000.0) if body_len else 0.0

    level_counts = Counter(h.tag for h in headings)
    if level_counts:
        f[67] = max(level_counts.values()) / len(level_counts)
    body_lower = body_text.lower()
    f[68] = 1.0 if "breadcrumblist" in body_lower else 0.0

    link_text_counts = Counter(
        a.text_content().strip().lower() for a in links
        if len(a.text_content().strip()) > 3
    )
    f[69] = float(sum(1 for c in link_text_counts.values() if c >= 3))

    # section link-density variance
    ratios = []
    for el in select(root, "section, article, div"):
        text_len = len(el.text_content().strip())
        if text_len > 50:
            ratios.append(len(select(el, "a")) / text_len * 1000.0)
    if len(ratios) >= 3:
        mean = sum(ratios) / len(ratios)
        f[70] = sum((r - mean) ** 2 for r in ratios) / len(ratios)

    f[71] = 1.0 if select(root, "meta[name='robots'][content*='noindex']") else 0.0
    f[72] = float(len([s for s in path.strip("/").split("/") if s]))

    # --- f[73..81]: DOM vocabulary ---------------------------------------------------
    sig_max, sig_parents = 0, 0
    for el in _shallow_containers(body):
        if len(el.children) < 3:
            continue
        sigs = Counter()
        for c in el.children:
            cls = c.get("class").lower()
            kw = next((k for k in _SIG_KEYWORDS if k in cls), "")
            sigs[f"{c.tag}|{kw}" if kw else c.tag] += 1
        if sigs:
            top = max(sigs.values())
            if top >= 3:
                sig_parents += 1
                sig_max = max(sig_max, top)
    f[73] = float(sig_max)
    f[74] = float(sig_parents)

    words = body_lower.split()
    total_words = len(words)
    if total_words:
        # counting only the ~40 queried words: a full Counter(words)
        # builds a corpus-vocabulary dict per page for 4 lookup sums
        # filter(set.__contains__, ...) keeps the scan loop in C (the
        # python genexpr version profiled ~3.7 ms/page on 300 KB pages)
        wc = Counter(filter(_INTEREST_WORDS.__contains__, words))
        f[75] = sum(wc.get(w, 0) for w in _COMMERCIAL) / total_words
        f[76] = sum(wc.get(w, 0) for w in _CONTENT_W) / total_words
        f[77] = sum(wc.get(w, 0) for w in _TECH_W) / total_words
        f[78] = sum(wc.get(w, 0) for w in _FORUM_W) / total_words

    f[79] = float(max(link_text_counts.values(), default=0))
    f[80] = f[69]

    # --- f[81..89]: collection-specific -------------------------------------------------
    f[81] = 1.0 if select(
        root, "meta[property='og:type'][content*='product.group']"
    ) else 0.0
    f[82] = 1.0 if select(
        root, "[class*='filter-sidebar'], [class*='filter-panel'], "
              "[class*='filter-bar'], [class*='filter-menu']"
    ) else 0.0
    f[83] = 1.0 if select(
        root, "[class*='sort-select'], [class*='sort-dropdown'], "
              "[class*='sort-control'], [class*='sort-option']"
    ) else 0.0
    f[84] = 1.0 if (("showing" in body_lower or "results" in body_lower
                    or "items" in body_lower or "products" in body_lower)
                   and _PRODUCT_COUNT_RE.search(body_lower)) else 0.0
    cards = select(
        root, "[class*='product-card'], [class*='product-tile'], "
              "[class*='product-item'], [class*='product-grid-item'], "
              "[class*='grid-item'], [class*='collection-item']"
    )
    cards_with_price = sum(
        1 for c in cards
        if select(c, "[class*='price'], [class*='cost'], [class*='amount']")
    )
    f[85] = float(cards_with_price)
    f[86] = 1.0 if ("collectionpage" in body_lower
                    or "productcollection" in body_lower) else 0.0
    f[87] = float(len(cards))
    f[88] = cards_with_price / len(cards) if cards else 0.0

    return f


# --- single-pass fast path ------------------------------------------------------------
#
# One document-order walk replaces the ~43 full-tree selector scans of the
# reference implementation above (each select() re-matches every element;
# measured ~33% of total kernel time).  Feature VALUES are identical —
# tests/test_ml_features_parity.py asserts equality against
# _extract_ml_features_slow on generated pages of every family.

_GRID_CLS = ("grid", "col-", "column", "card")
_PRODCARD_CLS = ("product-card", "product-tile", "product-item")
_CARD_CLS = ("product-card", "product-tile", "product-item",
             "product-grid-item", "grid-item", "collection-item")
_PRICE_CLS = ("price", "cost", "amount")

# class-attribute flag bits (bitmask memo below)
_F_AUTHOR = 1 << 0
_F_PRODGRID = 1 << 1
_F_CART = 1 << 2
_F_PRODCARD = 1 << 3
_F_PAGINATION = 1 << 4
_F_DOCSNAV = 1 << 5
_F_GRID = 1 << 6
_F_HERO = 1 << 7
_F_TESTIMONIAL = 1 << 8
_F_PRICING = 1 << 9
_F_FEATURE = 1 << 10
_F_BREADCRUMB = 1 << 11
_F_COMMENT = 1 << 12
_F_POST = 1 << 13
_F_MESSAGE = 1 << 14
_F_FILTER = 1 << 15
_F_SORT = 1 << 16
_F_CARD = 1 << 17
_F_PRICE = 1 << 18

# class strings repeat massively on template pages (every product card /
# comment row / nav item shares one class attr), so the ~20 substring scans
# collapse to one dict hit per repeated string.  Caches are capped, not
# evicted: a long-lived executor on adversarial input just stops inserting
# and falls back to recomputing — correctness never depends on a hit.
_CLS_MASK_CACHE: dict = {}
_SIG_KW_CACHE: dict = {}
_CLS_CACHE_MAX = 1 << 16


def _cls_mask(cls: str) -> int:
    """Bitmask of the class-keyword features for one raw class string."""
    m = 0
    if "author" in cls:
        m |= _F_AUTHOR
    if "product-grid" in cls or "product-list" in cls or "product-card" in cls:
        m |= _F_PRODGRID
    if "add-to-cart" in cls or "addtocart" in cls or "buy-now" in cls:
        m |= _F_CART
    if any(k in cls for k in _PRODCARD_CLS):
        m |= _F_PRODCARD
    if "pagination" in cls or "pager" in cls:
        m |= _F_PAGINATION
    if ("docs-sidebar" in cls or "doc-sidebar" in cls
            or "docs-nav" in cls or "table-of-contents" in cls):
        m |= _F_DOCSNAV
    if any(k in cls for k in _GRID_CLS):
        m |= _F_GRID
    if "hero" in cls:
        m |= _F_HERO
    if "testimonial" in cls:
        m |= _F_TESTIMONIAL
    if "pricing" in cls:
        m |= _F_PRICING
    if "feature" in cls:
        m |= _F_FEATURE
    if "breadcrumb" in cls:
        m |= _F_BREADCRUMB
    if "comment" in cls:
        m |= _F_COMMENT
    if "post" in cls:
        m |= _F_POST
    if "message" in cls:
        m |= _F_MESSAGE
    if ("filter-sidebar" in cls or "filter-panel" in cls
            or "filter-bar" in cls or "filter-menu" in cls):
        m |= _F_FILTER
    if ("sort-select" in cls or "sort-dropdown" in cls
            or "sort-control" in cls or "sort-option" in cls):
        m |= _F_SORT
    if any(k in cls for k in _CARD_CLS):
        m |= _F_CARD
    if any(k in cls for k in _PRICE_CLS):
        m |= _F_PRICE
    return m


def _sig_kw(cls_raw: str) -> str:
    """First _SIG_KEYWORDS hit in the lowercased class string, memoized."""
    kw = _SIG_KW_CACHE.get(cls_raw)
    if kw is None:
        low = cls_raw.lower()
        kw = next((k for k in _SIG_KEYWORDS if k in low), "")
        if len(_SIG_KW_CACHE) < _CLS_CACHE_MAX:
            _SIG_KW_CACHE[cls_raw] = kw
    return kw


# feature indices the model_only fast path leaves at 0.0 — the expensive
# tail blocks (per-link text walks, link-text Counter, per-section ratio
# variance, signature pass, whole-body substring/regex scans, card/price
# ancestor walks).  Derived safety gate below: if a RETRAINED page-type
# model ever starts splitting on one of these, _MODEL_ONLY_OK flips False
# and classify_page silently falls back to the full 89-vector — the skip
# list can never change classification results.
_MODEL_SKIPPED = frozenset(
    {44, 59, 65, 66, 67, 68, 69, 70, 73, 74, 79, 80, 84, 85, 86, 87, 88}
)


def _model_feature_set() -> frozenset:
    from .page_type_model import MODEL

    used = set()
    for t in MODEL["trees"]:
        used.update(i for i in t["feature"] if i >= 0)
    return frozenset(used)


_MODEL_ONLY_OK: Optional[bool] = None  # resolved lazily (avoids import cycle)


def model_only_ok() -> bool:
    global _MODEL_ONLY_OK
    if _MODEL_ONLY_OK is None:
        _MODEL_ONLY_OK = not (_model_feature_set() & _MODEL_SKIPPED)
    return _MODEL_ONLY_OK


def extract_ml_features(
    doc: Document, url: str = "", model_only: bool = False,
    _url_parts: Optional[tuple] = None,
) -> list[float]:
    """89-feature vector; with ``model_only=True`` (classify_page's hot
    path) the blocks whose indices no shipped tree splits on are skipped
    and left 0.0 — classification output is bit-identical because the
    ensemble never reads them (guarded by model_only_ok() + pytest).
    ``_url_parts`` is classify_page's already-computed
    (url_lower, domain, path) — derived exactly as below."""
    if model_only and not model_only_ok():
        model_only = False
    f = [0.0] * N_FEATURES
    if _url_parts is not None:
        url_lower, domain, path = _url_parts
    else:
        url_lower = (url or "").lower()
        try:
            parsed = urlparse(url_lower)
            domain = parsed.hostname or ""
            path = parsed.path or "/"
        except ValueError:
            domain, path = "", "/"

    # marker tables as compiled alternations (page_type.py) — same
    # booleans as the any(substring) loops, one C scan per table
    f[0] = 1.0 if FORUM_HOST_RE.search(domain) else 0.0
    f[1] = 1.0 if FORUM_PATH_RE.search(path) else 0.0
    f[2] = 1.0 if FORUM_PATH_RE.search(url_lower) else 0.0
    f[3] = 1.0 if DOCS_HOST_RE.search(domain) else 0.0
    f[4] = 1.0 if DOCS_PATH_RE.search(path) else 0.0
    f[5] = 1.0 if PRODUCT_PATH_RE.search(path) else 0.0
    f[6] = 1.0 if CATEGORY_PATH_RE.search(path) else 0.0
    f[7] = 1.0 if SERVICE_PATH_RE.search(path) else 0.0
    f[8] = 1.0 if SERVICE_SUFFIX_RE.search(url_lower) else 0.0
    f[9] = 1.0 if ARTICLE_PATH_RE.search(path) else 0.0
    f[10] = 1.0 if _BLOG_SLUG_RE.search(url_lower) else 0.0
    path_trimmed = path.rstrip("/")
    f[11] = 1.0 if LISTING_END_RE.search(path_trimmed) else 0.0
    f[12] = 1.0 if LISTING_PATH_RE.search(path) else 0.0
    f[13] = 1.0 if ("shop." in domain or "store." in domain) else 0.0

    body = doc.body
    root = doc.root

    # ---- the single walk: collect everything every feature needs ------------
    ps: list = []
    headings: list = []
    links: list = []
    link_texts: list = []
    buttons = 0
    cta = 0
    n_code_pre = n_form = n_img = n_list = n_table = n_nav = 0
    n_section = n_input = n_svg = 0
    n_comment_cls = n_post_cls = n_message_cls = n_grid_cls = 0
    has_article = has_time = has_main = has_aside = False
    has_author = has_prodgrid = has_cart = has_pagination = False
    has_docsnav = has_hero = has_testimonial = has_pricing = False
    has_feature = has_breadcrumb = has_noindex = has_filter = False
    has_sort = has_prodgroup = False
    n_prodcard = 0
    og_type = ""
    og_seen = False
    sections: list = []
    cards: list = []
    card_set: set = set()
    price_els: list = []

    for el in root.iterdesc():
        tag = el.tag
        # raw, not lowercased: the selector engine's [class*=...] compares
        # the raw attribute, and parity with the slow path must be exact
        cls = el.attrib.get("class", "")

        if tag == "p":
            ps.append(el)
        elif tag in HEADING_TAGS:
            headings.append(el)
        elif tag == "a":
            links.append(el)
            if not model_only:
                # text_content cached here: CTA, dedup counts, and the
                # repeated-link-text features all reuse it (one subtree
                # walk per link instead of three); f[44]/f[69]/f[79]/f[80]
                # are skipped indices, so model_only never needs the text
                a_text = el.text_content()
                link_texts.append(a_text)
                if any(m in a_text.lower() for m in _CTA_MARKERS):
                    cta += 1
        elif tag == "button":
            buttons += 1
            if not model_only:
                t = el.text_content().lower()
                if any(m in t for m in _CTA_MARKERS):
                    cta += 1
        elif tag in ("code", "pre"):
            n_code_pre += 1
        elif tag == "form":
            n_form += 1
        elif tag == "img":
            n_img += 1
        elif tag in ("ul", "ol"):
            n_list += 1
        elif tag == "table":
            n_table += 1
        elif tag == "nav":
            n_nav += 1
        elif tag == "section":
            n_section += 1
        elif tag == "input":
            n_input += 1
        elif tag == "svg":
            n_svg += 1
        elif tag == "article":
            has_article = True
        elif tag == "time":
            has_time = True
        elif tag == "main":
            has_main = True
        elif tag == "aside":
            has_aside = True
        elif tag == "script":
            if el.attrib.get("type") == "application/ld+json":
                t = el.text
                if '"Article"' in t or '"NewsArticle"' in t or '"BlogPosting"' in t:
                    f[23] = 1.0
                if '"Product"' in t:
                    f[24] = 1.0
                if '"FAQPage"' in t:
                    f[25] = 1.0
                if '"CollectionPage"' in t or '"OfferCatalog"' in t:
                    f[26] = 1.0
                if '"ItemList"' in t:
                    f[27] = 1.0
                if '"LocalBusiness"' in t:
                    f[28] = 1.0
                if '"Service"' in t:
                    f[29] = 1.0
                if '"AggregateOffer"' in t:
                    f[30] = 1.0
        elif tag == "meta":
            name = el.attrib.get("name", "")
            prop = el.attrib.get("property", "")
            if not og_seen and prop == "og:type":
                og_type = (el.attrib.get("content") or "").lower()
                og_seen = True
            if name == "author" or prop == "article:author":
                has_author = True
            if (name == "robots"
                    and "noindex" in el.attrib.get("content", "")):
                has_noindex = True
            if (prop == "og:type"
                    and "product.group" in el.attrib.get("content", "")):
                has_prodgroup = True
        elif tag == "link":
            if el.attrib.get("rel") == "next":
                has_pagination = True

        if tag in ("section", "article", "div"):
            sections.append(el)

        if cls:
            m = _CLS_MASK_CACHE.get(cls)
            if m is None:
                m = _cls_mask(cls)
                if len(_CLS_MASK_CACHE) < _CLS_CACHE_MAX:
                    _CLS_MASK_CACHE[cls] = m
            if m:
                if m & _F_AUTHOR:
                    has_author = True
                if m & _F_PRODGRID:
                    has_prodgrid = True
                if m & _F_CART:
                    has_cart = True
                if m & _F_PRODCARD:
                    n_prodcard += 1
                if m & _F_PAGINATION:
                    has_pagination = True
                if m & _F_DOCSNAV:
                    has_docsnav = True
                if m & _F_GRID:
                    n_grid_cls += 1
                if m & _F_HERO:
                    has_hero = True
                if m & _F_TESTIMONIAL:
                    has_testimonial = True
                if m & _F_PRICING:
                    has_pricing = True
                if m & _F_FEATURE:
                    has_feature = True
                if m & _F_BREADCRUMB:
                    has_breadcrumb = True
                if m & _F_COMMENT:
                    n_comment_cls += 1
                if m & _F_POST:
                    n_post_cls += 1
                if m & _F_MESSAGE:
                    n_message_cls += 1
                if m & _F_FILTER:
                    has_filter = True
                if m & _F_SORT:
                    has_sort = True
                if m & _F_CARD:
                    cards.append(el)
                    card_set.add(id(el))
                if m & _F_PRICE:
                    price_els.append(el)

    # ---- features from the collected pass ------------------------------------
    p_texts = [p.text_content() for p in ps]
    p_lens = [len(t.strip()) for t in p_texts]
    substantive = [n for n in p_lens if n > 20]
    f[14] = float(len(substantive))
    f[15] = sum(substantive) / len(substantive) if substantive else 0.0
    f[16] = float(len(headings))
    h2_count = sum(1 for h in headings if h.tag == "h2")
    body_text = body.text_content()
    body_len = len(body_text)
    f[17] = body_len / h2_count if h2_count else 0.0
    f[18] = 1.0 if has_article else 0.0
    f[19] = 1.0 if has_time else 0.0
    f[20] = 1.0 if has_main else 0.0
    f[21] = 1.0 if has_aside else 0.0
    f[22] = 1.0 if has_author else 0.0
    f[31] = 1.0 if "product" in og_type else 0.0
    f[32] = 1.0 if og_type == "article" else 0.0
    f[33] = 1.0 if og_type == "website" else 0.0
    f[34] = 1.0 if has_prodgrid else 0.0
    f[35] = 1.0 if has_cart else 0.0
    f[36] = float(n_prodcard)
    f[37] = 1.0 if has_pagination else 0.0
    f[38] = float(n_code_pre)
    f[39] = 1.0 if has_docsnav else 0.0

    # one C-level split of the joined text: a single-space join can never
    # merge words across paragraph boundaries and split() collapses
    # whitespace runs, so the count equals sum(len(t.split()) for t)
    p_words = len(" ".join(p_texts).split())
    f[40] = len(links) / p_words if p_words else 0.0
    f[41] = float(p_words)
    f[42] = float(n_grid_cls)
    f[43] = float(n_svg)
    f[44] = float(cta)
    f[45] = 1.0 if has_hero else 0.0
    f[46] = 1.0 if has_testimonial else 0.0
    f[47] = 1.0 if has_pricing else 0.0
    f[48] = 1.0 if has_feature else 0.0
    f[49] = 1.0 if has_breadcrumb else 0.0
    f[50] = float(n_form)
    f[51] = float(n_img)
    f[52] = float(n_list)
    f[53] = float(n_table)
    f[54] = float(n_nav)
    f[55] = float(n_section)
    f[56] = float(buttons)
    f[57] = float(n_input)
    f[58] = float(body_len)
    if not model_only:
        f[59] = float(len({a.get("href") for a in links if a.get("href")}))
    f[60] = float(n_comment_cls)
    f[61] = float(n_post_cls)
    f[62] = float(n_message_cls)

    if body_len > _MAX_ENHANCED_BYTES:
        return f

    max_repeated, parents_with_repeats = 0, 0
    for el in _shallow_containers(body):
        if len(el.children) < 3:
            continue
        counts = Counter(c.get("class") for c in el.children if c.get("class"))
        if counts:
            top = max(counts.values())
            if top >= 3:
                parents_with_repeats += 1
                max_repeated = max(max_repeated, top)
    f[63] = float(max_repeated)
    f[64] = float(parents_with_repeats)

    body_lower = body_text.lower()
    if not model_only:
        f[65] = float(
            body_text.count("$") + body_text.count("€") + body_text.count("£")
        )
        f[66] = f[51] / (body_len / 1000.0) if body_len else 0.0

        level_counts = Counter(h.tag for h in headings)
        if level_counts:
            f[67] = max(level_counts.values()) / len(level_counts)
        f[68] = 1.0 if "breadcrumblist" in body_lower else 0.0

        link_text_counts = Counter(
            s.lower() for s in (t.strip() for t in link_texts) if len(s) > 3
        )
        f[69] = float(sum(1 for c in link_text_counts.values() if c >= 3))

        # per-section descendant-<a> counts via one ancestor walk per link
        # (equivalent to len(select(el, "a")) per section, without re-scanning)
        a_counts: dict[int, int] = {}
        for a in links:
            anc = a.parent
            while anc is not None:
                if anc.tag in ("section", "article", "div"):
                    a_counts[id(anc)] = a_counts.get(id(anc), 0) + 1
                anc = anc.parent
        # prime text_content caches deepest-first (sections is in pre-order,
        # so reversed() visits children before parents and every parent walk
        # reuses its child sections' cached strings — O(n) total instead of
        # O(n*depth)); the ratios list itself is built in the ORIGINAL order
        # so f[70]'s float summation order (and thus its exact value) is
        # unchanged
        sec_len: dict[int, int] = {}
        for el in reversed(sections):
            sec_len[id(el)] = len(el.text_content().strip())
        ratios = []
        for el in sections:
            text_len = sec_len[id(el)]
            if text_len > 50:
                ratios.append(a_counts.get(id(el), 0) / text_len * 1000.0)
        if len(ratios) >= 3:
            mean = sum(ratios) / len(ratios)
            f[70] = sum((r - mean) ** 2 for r in ratios) / len(ratios)

    f[71] = 1.0 if has_noindex else 0.0
    f[72] = float(len([s for s in path.strip("/").split("/") if s]))

    if not model_only:
        sig_max, sig_parents = 0, 0
        for el in _shallow_containers(body):
            if len(el.children) < 3:
                continue
            sigs = Counter()
            for c in el.children:
                kw = _sig_kw(c.get("class"))
                sigs[f"{c.tag}|{kw}" if kw else c.tag] += 1
            if sigs:
                top = max(sigs.values())
                if top >= 3:
                    sig_parents += 1
                    sig_max = max(sig_max, top)
        f[73] = float(sig_max)
        f[74] = float(sig_parents)

    words = body_lower.split()
    total_words = len(words)
    if total_words:
        # counting only the ~40 queried words: a full Counter(words)
        # builds a corpus-vocabulary dict per page for 4 lookup sums
        # filter(set.__contains__, ...) keeps the scan loop in C (the
        # python genexpr version profiled ~3.7 ms/page on 300 KB pages)
        wc = Counter(filter(_INTEREST_WORDS.__contains__, words))
        f[75] = sum(wc.get(w, 0) for w in _COMMERCIAL) / total_words
        f[76] = sum(wc.get(w, 0) for w in _CONTENT_W) / total_words
        f[77] = sum(wc.get(w, 0) for w in _TECH_W) / total_words
        f[78] = sum(wc.get(w, 0) for w in _FORUM_W) / total_words

    f[81] = 1.0 if has_prodgroup else 0.0
    f[82] = 1.0 if has_filter else 0.0
    f[83] = 1.0 if has_sort else 0.0
    if model_only:
        return f

    f[79] = float(max(link_text_counts.values(), default=0))
    f[80] = f[69]
    f[84] = 1.0 if (("showing" in body_lower or "results" in body_lower
                    or "items" in body_lower or "products" in body_lower)
                   and _PRODUCT_COUNT_RE.search(body_lower)) else 0.0
    # card has a price descendant: one ancestor walk per price element
    cards_priced: set = set()
    for pe in price_els:
        anc = pe.parent
        while anc is not None:
            if id(anc) in card_set:
                cards_priced.add(id(anc))
            anc = anc.parent
    cards_with_price = sum(1 for c in cards if id(c) in cards_priced)
    f[85] = float(cards_with_price)
    f[86] = 1.0 if ("collectionpage" in body_lower
                    or "productcollection" in body_lower) else 0.0
    f[87] = float(len(cards))
    f[88] = cards_with_price / len(cards) if cards else 0.0

    return f
