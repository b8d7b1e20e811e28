"""Page-type classification + per-type extraction profiles.

Stage 1 URL heuristics (reference page_type/mod.rs:375-584, classifier
:600-655) and stage 2 HTML signals (:666-793, condensed).  The stage-3
XGBoost ensemble (page_type/ml.rs) is delegated to an external crate in the
reference; here the two heuristic stages decide and the agreement logic
(extract.rs:55-92) sets the confidence.

The 7 ExtractionProfiles re-express page_type/mod.rs:99-344.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional
from urllib.parse import urlparse

from ..dom import Document, select, select_first

ARTICLE = "article"
FORUM = "forum"
PRODUCT = "product"
CATEGORY = "collection"
LISTING = "listing"
DOCUMENTATION = "documentation"
SERVICE = "service"

PAGE_TYPES = (ARTICLE, FORUM, PRODUCT, CATEGORY, LISTING, DOCUMENTATION, SERVICE)

_FORUM_HOSTS = (
    "forum.", "forums.", "community.", "discuss.", "discussion.", "users.",
    "bbs.", "reddit.com", "stackoverflow.com", "stackexchange.com",
    "gamefaqs.", "discourse.", "news.ycombinator.com", "quora.com", "lemmy.",
)
_FORUM_PATHS = (
    "/forum", "/forums/", "/thread/", "/threads/", "/topic/", "/topics/",
    "/discussion/", "/discussions/", "/community/", "/t/", "/questions/",
    "/question/", "/comments/", "/talk/", "/viewtopic.php", "/showthread.php",
    "/item?id=",
)
_DOCS_HOSTS = ("docs.", "doc.", "wiki.", "devdocs.", "readthedocs.io",
               "readthedocs.org", "developer.mozilla.org")
_DOCS_PATHS = (
    "/docs/", "/doc/", "/documentation/", "/reference/", "/api/", "/guide/",
    "/tutorial/", "/tutorials/", "/manual/", "/handbook/", "/wiki/",
    "/man-pages/", "/man/", "/concepts/", "/userguide/", "/quickstart",
    "/getting-started", "/book/", "/glossary/",
)
_PRODUCT_PATHS = ("/products/", "/product/", "/shop/", "/dp/", "/ip/")
_PRODUCT_HOSTS = ("shop.", "store.")
_CATEGORY_PATHS = ("/collections/", "/collection/", "/categories/",
                   "/category/", "/browse/", "/cat/", "/subcategory/")
_SERVICE_PATHS = ("/services/", "/service/", "/services.html", "/solutions/",
                  "/solution/", "/offerings/", "/what-we-do")
_SERVICE_SUFFIXES = (
    "-consulting-services", "-development-services", "-management-services",
    "-support-services", "-outsourcing-services", "-integration-services",
    "-development-company", "-consulting-company", "-ai-consulting",
    "-ai-development", "-ai-solutions",
)
_LISTING_PATHS = ("/news", "/testimonials", "/coupons", "/issues", "/reviews",
                  "/rankings", "/awards/", "/trending/", "/list/")
_ARTICLE_PATHS = ("/blog/", "/blog", "/news/", "/article/", "/articles/",
                  "/post/", "/posts/", "/insight/", "/insights/",
                  "/resource/", "/resources/")


def _alternation(markers) -> str:
    """Escaped regex alternation of a marker table.  An empty table or an
    empty marker would make the pattern match every string, so both are
    refused when the module loads."""
    markers = list(markers)
    if not markers or not all(markers):
        raise ValueError(
            f"marker table must be non-empty with no empty marker: {markers!r}"
        )
    return "|".join(map(re.escape, markers))


def _any_re(markers) -> "re.Pattern":
    """Compiled alternation with search() semantics identical to
    ``any(m in s for m in markers)`` — one C scan instead of one
    substring probe (plus genexpr frame) per marker."""
    return re.compile(_alternation(markers))


# marker tables compiled once: classify_url + the ml URL feature block run
# per page, and the any()-genexpr-per-table form profiled ~3% of the
# whole cascade on the small-page mix
FORUM_HOST_RE = _any_re(_FORUM_HOSTS)
FORUM_PATH_RE = _any_re(_FORUM_PATHS)
DOCS_HOST_RE = _any_re(_DOCS_HOSTS)
DOCS_PATH_RE = _any_re(_DOCS_PATHS)
PRODUCT_PATH_RE = _any_re(_PRODUCT_PATHS)
# startswith-only table: anchored match(), not search()
PRODUCT_HOST_RE = re.compile(_alternation(_PRODUCT_HOSTS))
CATEGORY_PATH_RE = _any_re(_CATEGORY_PATHS)
SERVICE_PATH_RE = _any_re(_SERVICE_PATHS)
SERVICE_SUFFIX_RE = _any_re(_SERVICE_SUFFIXES)
LISTING_PATH_RE = _any_re(_LISTING_PATHS)
# endswith-any over the rstrip("/")ed markers
LISTING_END_RE = re.compile(
    "(?:" + _alternation(p.rstrip("/") for p in _LISTING_PATHS) + ")$"
)
ARTICLE_PATH_RE = _any_re(_ARTICLE_PATHS)


def classify_url(url: str) -> Optional[str]:
    """Stage 1: URL pattern tables (page_type/mod.rs:600-655)."""
    try:
        parsed = urlparse(url)
    except ValueError:
        return None
    host = (parsed.hostname or "").lower()
    path = parsed.path.lower() or "/"
    path_q = path + (f"?{parsed.query.lower()}" if parsed.query else "")
    return _classify_url_parts(host, path, path_q)


def _classify_url_parts(host: str, path: str, path_q: str) -> Optional[str]:
    # host.startswith(h) implies h in host, so the old startswith-or-in
    # forms reduce to the substring alternation
    if FORUM_HOST_RE.search(host):
        return FORUM
    if FORUM_PATH_RE.search(path_q):
        return FORUM
    if DOCS_HOST_RE.search(host):
        return DOCUMENTATION
    if DOCS_PATH_RE.search(path):
        return DOCUMENTATION
    if PRODUCT_PATH_RE.search(path) or PRODUCT_HOST_RE.match(host):
        return PRODUCT
    if CATEGORY_PATH_RE.search(path):
        return CATEGORY
    if SERVICE_PATH_RE.search(path) or SERVICE_SUFFIX_RE.search(path):
        return SERVICE
    # listing only when the path ENDS with the marker (index pages)
    if LISTING_END_RE.search(path.rstrip("/")):
        return LISTING
    if ARTICLE_PATH_RE.search(path):
        return ARTICLE
    return None


def refine_with_html_signals(doc: Document, url_type: Optional[str]
                             ) -> tuple[str, float]:
    """Stage 2 HTML signals + agreement logic (page_type/mod.rs:728-793,
    extract.rs:55-92 condensed).  Returns (page_type, confidence).  The
    og:type, JSON-LD types, attribute markers and ``pre code`` count are
    each read with one selector probe; signals accumulate in that order,
    which fixes the max() tie-break."""
    signals: dict[str, float] = {}

    og = select_first(doc.root, "meta[property='og:type']")
    og_type = (og.get("content") or "").lower() if og is not None else ""
    if og_type == "article":
        signals[ARTICLE] = signals.get(ARTICLE, 0) + 2
    elif og_type in ("product", "og:product"):
        signals[PRODUCT] = signals.get(PRODUCT, 0) + 2

    # JSON-LD types
    from .metadata import iter_jsonld_objects, _jsonld_types
    for obj in iter_jsonld_objects(doc):
        for t in _jsonld_types(obj):
            if t in ("article", "newsarticle", "blogposting"):
                signals[ARTICLE] = signals.get(ARTICLE, 0) + 2
            elif t == "product":
                signals[PRODUCT] = signals.get(PRODUCT, 0) + 2
            elif t in ("discussionforumposting", "qapage"):
                signals[FORUM] = signals.get(FORUM, 0) + 3
            elif t in ("itemlist", "collectionpage"):
                signals[CATEGORY] = signals.get(CATEGORY, 0) + 1

    # forum / docs / product attribute markers + code-block count
    if select_first(doc.root, "[itemtype*='DiscussionForumPosting'], "
                    "[class*='post-stream'], [id*='discourse']") is not None:
        signals[FORUM] = signals.get(FORUM, 0) + 3
    if len(select(doc.root, "pre code")) >= 3:
        signals[DOCUMENTATION] = signals.get(DOCUMENTATION, 0) + 2
    if select_first(doc.root, "[class*='docs-sidebar'], [class*='doc-nav'], "
                    "[class*='toc']") is not None:
        signals[DOCUMENTATION] = signals.get(DOCUMENTATION, 0) + 1
    if select_first(doc.root, "[class*='add-to-cart'], [id*='add-to-cart'], "
                    "[class*='product-price']") is not None:
        signals[PRODUCT] = signals.get(PRODUCT, 0) + 2

    html_type = max(signals, key=signals.get) if signals else None

    # agreement logic (extract.rs:55-92)
    if url_type is not None and html_type is not None:
        if url_type == html_type:
            return url_type, 1.0
        if signals.get(html_type, 0) >= 3:
            return html_type, 0.95
        return url_type, 0.8
    if url_type is not None:
        return url_type, 0.8
    if html_type is not None:
        return html_type, 0.7
    return ARTICLE, 0.5


def classify_ml(features: list[float]) -> tuple[str, float]:
    """Stage 3: bagged-tree ensemble over the 89-feature vector — the
    public-data stand-in for the reference's external XGBoost crate
    (page_type/ml.rs:29-44; weights not public).  Model data ships in
    page_type_model.py (see scripts/train_page_type_model.py)."""
    from .ml_trees import ensemble_predict_one
    from .page_type_model import MODEL

    cls, conf = ensemble_predict_one(MODEL, features)
    return MODEL["classes"][cls], float(conf)


def classify_page(doc: Document, url: Optional[str]) -> tuple[str, float]:
    """3-stage classification + agreement confidence (extract.rs:55-92):
    URL heuristics agree with ML -> 1.0; HTML-signal refinement agrees with
    ML -> 0.95; otherwise the ML (which sees URL and HTML features too) is
    the final authority at its own confidence."""
    from .ml_features import extract_ml_features

    # ONE urlparse shared by stage 1 and the ml URL feature block: for a
    # lowercased URL the parse split points are identical (delimiters are
    # case-insensitive) and urlparse().hostname lowercases on its own, so
    # host/path here equal both consumers' old per-call derivations
    url_lower = (url or "").lower()
    try:
        parsed = urlparse(url_lower)
        host = parsed.hostname or ""
        path = parsed.path or "/"
        query = parsed.query
        parse_ok = True
    except ValueError:
        host, path, query, parse_ok = "", "/", "", False
    if url and parse_ok:
        url_type = _classify_url_parts(
            host, path, path + (f"?{query}" if query else ""))
    else:
        url_type = None
    # model_only skips feature blocks no shipped tree splits on — the
    # classification result is bit-identical (ml_features.model_only_ok
    # guards against a retrained model reading a skipped index)
    features = extract_ml_features(doc, url or "", model_only=True,
                                   _url_parts=(url_lower, host, path))
    refined, _heur_conf = refine_with_html_signals(doc, url_type)
    ml_type, ml_conf = classify_ml(features)
    if url_type is not None and url_type != ARTICLE and ml_type == url_type:
        return url_type, 1.0
    if refined != ARTICLE and ml_type == refined:
        return refined, 0.95
    return ml_type, ml_conf


# --- extraction profiles (page_type/mod.rs:99-344) ------------------------------------


@dataclass(frozen=True)
class ExtractionProfile:
    """How one page type is extracted (page_type/mod.rs:99-344), minus the
    reference's two fields this engine never reads, which are dropped
    rather than kept as settings that change nothing:
    ``lenient_boilerplate`` (every page type gets the same named-
    boilerplate filtering, relaxed only by the cascade's empty-result
    retry) and ``min_paragraph_density`` (0 in every profile)."""

    comments_are_content: bool = False
    content_selectors: tuple[str, ...] = ()
    preserve_tags: tuple[str, ...] = ()
    boilerplate_selectors: tuple[str, ...] = ()
    aggregate_sections: bool = False
    collect_repeated_items: bool = False


PROFILES: dict[str, ExtractionProfile] = {
    ARTICLE: ExtractionProfile(),
    FORUM: ExtractionProfile(
        comments_are_content=True,
        content_selectors=(
            "[itemtype*='DiscussionForumPosting']",
            ".post-stream", "#discourse-topic", ".topic-body",
            ".thread-posts", ".forum-posts", ".postlist", ".posts",
        ),
        boilerplate_selectors=(
            ".user-info", ".user-card", ".poster-info", ".signature",
            ".post-signature", ".user-signature",
        ),
        aggregate_sections=True,
    ),
    PRODUCT: ExtractionProfile(
        content_selectors=(
            "[itemtype*='schema.org/Product']", ".product-description",
            ".product-info", "#product-description", ".product-details",
        ),
        boilerplate_selectors=(
            ".related-products", ".reviews", "#reviews", ".recommendations",
            ".also-bought", ".cross-sell", ".upsell",
        ),
    ),
    CATEGORY: ExtractionProfile(
        content_selectors=(".category-description", ".collection-description"),
        collect_repeated_items=True,
    ),
    LISTING: ExtractionProfile(collect_repeated_items=True),
    DOCUMENTATION: ExtractionProfile(
        content_selectors=(
            "[role='main']", ".docs-content", ".markdown-body",
            "#main-content", ".document", ".rst-content",
        ),
        preserve_tags=("pre", "code"),
        boilerplate_selectors=(
            ".docs-sidebar", ".sidebar-nav", ".version-picker", ".breadcrumbs",
        ),
    ),
    SERVICE: ExtractionProfile(aggregate_sections=True),
}


def profile_for(page_type: str) -> ExtractionProfile:
    return PROFILES.get(page_type, PROFILES[ARTICLE])
