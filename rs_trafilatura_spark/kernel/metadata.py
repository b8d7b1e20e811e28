"""Metadata extraction cascade: JSON-LD -> meta tags -> DOM fallbacks ->
post-process -> hostname backfill (reference metadata/mod.rs:39-82,
meta_tags.rs:24-186, dom_extraction.rs, json_ld.rs).  Each step selects
the elements it reads with ``dom.select`` / ``select_first``.
"""

from __future__ import annotations

import json
import re
from typing import Any, Optional

from ..dom import Document, select, select_first
from ..functions.dates import parse_date
from ..functions.textnorm import clean_text
from ..functions.urlutils import extract_hostname

_ARTICLE_TYPES = frozenset(
    {"article", "newsarticle", "blogposting", "reportage", "report",
     "scholarlyarticle", "socialmediaposting", "liveblogposting"}
)

_LICENSE_CC_RE = re.compile(
    r"creativecommons\.org/licenses/([a-z-]+)/(\d\.\d)", re.I
)

# recognized meta names/properties -> metadata field (meta_tags.rs:24-186 subset)
_META_AUTHOR_NAMES = ("author", "article:author", "dc.creator", "dcterms.creator",
                      "sailthru.author", "parsely-author", "twitter:creator")
_META_TITLE_NAMES = ("og:title", "twitter:title", "dc.title", "sailthru.title",
                     "parsely-title", "title")
_META_DESC_NAMES = ("description", "og:description", "twitter:description",
                    "dc.description", "sailthru.description")
_META_SITENAME_NAMES = ("og:site_name", "application-name", "twitter:site")
_META_URL_NAMES = ("og:url", "twitter:url")
_META_IMAGE_NAMES = ("og:image", "twitter:image", "twitter:image:src")
_META_DATE_NAMES = (
    "article:published_time", "og:article:published_time", "datepublished",
    "article.published", "published-date", "publication_date", "sailthru.date",
    "parsely-pub-date", "date", "dc.date", "dc.date.issued", "dcterms.date",
    "dcterms.created", "article:modified_time", "og:updated_time",
    "lastmod", "last-modified", "revised", "timestamp", "datecreated",
    "article_date_original",
)
_META_TAGS_NAMES = ("keywords", "article:tag", "parsely-tags", "sailthru.tags", "news_keywords")
_META_LANG_NAMES = ("og:locale", "content-language", "dc.language", "language")


def _norm_lang(value: str) -> str:
    """en-US -> en (reference extract.rs:1732-1741)."""
    return value.strip().lower().split("-")[0].split("_")[0]


def normalize_license(value: str) -> str:
    """CC URLs -> 'CC BY 4.0' (meta_tags.rs:189-208)."""
    m = _LICENSE_CC_RE.search(value)
    if m:
        return f"CC {m.group(1).upper()} {m.group(2)}"
    return value.strip()


def validate_metadata_name(value: str) -> bool:
    """length 2-120; reject URLs/JSON/digit-only (meta_tags.rs:282-335)."""
    v = value.strip()
    if not (2 <= len(v) <= 120):
        return False
    low = v.lower()
    if low.startswith(("http://", "https://", "www.", "{", "[")):
        return False
    if v.isdigit():
        return False
    return True


_SITE_SUFFIX_SEPARATORS = (" - ", " | ", " – ", " — ", " :: ", " » ")


def strip_site_suffix(title: str, sitename: Optional[str] = None) -> str:
    """Strip ' - Site Name' style suffixes (metadata/mod.rs:112-151):
    suffix <=5 words / <=35 chars, or confirmed by sitename; also a short
    prefix (<=2 words / <=20 chars) when sitename-confirmed."""
    for sep in _SITE_SUFFIX_SEPARATORS:
        if sep in title:
            head, _, tail = title.rpartition(sep)
            if head:
                tail_words = len(tail.split())
                sitename_match = bool(
                    sitename and tail.strip().lower() == sitename.strip().lower()
                )
                if sitename_match or (tail_words <= 5 and len(tail) <= 35):
                    title = head
            # prefix strip: "Site: Article Title"
            first, _, rest = title.partition(sep)
            if rest and sitename and first.strip().lower() == sitename.strip().lower():
                if len(first.split()) <= 2 and len(first) <= 20:
                    title = rest
            break
    return title.strip()


# --- JSON-LD --------------------------------------------------------------------


def iter_jsonld_objects(doc: Document):
    """Yield every parsed JSON-LD object (flattening @graph and lists)."""
    for script in select(doc.root, "script[type='application/ld+json']"):
        raw = script.text.strip()
        if not raw:
            continue
        try:
            data = json.loads(raw)
        except (ValueError, RecursionError):
            continue
        stack = [data]
        while stack:
            obj = stack.pop()
            if isinstance(obj, list):
                stack.extend(obj)
            elif isinstance(obj, dict):
                yield obj
                if "@graph" in obj:
                    stack.append(obj["@graph"])


def _jsonld_types(obj: dict) -> list[str]:
    t = obj.get("@type", "")
    if isinstance(t, list):
        return [str(x).lower() for x in t]
    return [str(t).lower()] if t else []


def find_jsonld_article_body(doc: Document, min_len: int = 0) -> Optional[str]:
    """Recursive articleBody search (extractor/fallback.rs:113-140)."""
    best: Optional[str] = None
    for obj in iter_jsonld_objects(doc):
        stack: list[Any] = [obj]
        while stack:
            cur = stack.pop()
            if isinstance(cur, dict):
                body = cur.get("articleBody")
                if isinstance(body, str) and len(body) >= min_len:
                    if best is None or len(body) > len(best):
                        best = body
                stack.extend(v for v in cur.values() if isinstance(v, (dict, list)))
            elif isinstance(cur, list):
                stack.extend(cur)
    return best


def find_jsonld_product_description(doc: Document) -> Optional[str]:
    for obj in iter_jsonld_objects(doc):
        types = _jsonld_types(obj)
        if "product" in types:
            desc = obj.get("description")
            if isinstance(desc, str) and desc.strip():
                return desc
    return None


def _jsonld_metadata(doc: Document, meta: dict) -> None:
    """Article schemas win by importance: article base 100, others 50
    (json_ld.rs:137-140 simplified: first article-typed object wins)."""
    article_obj = None
    for obj in iter_jsonld_objects(doc):
        types = _jsonld_types(obj)
        if any(t in _ARTICLE_TYPES for t in types):
            article_obj = obj
            break
    if article_obj is None:
        return
    if not meta.get("title"):
        headline = article_obj.get("headline") or article_obj.get("name")
        if isinstance(headline, str) and headline.strip():
            meta["title"] = clean_text(headline)
    if not meta.get("author"):
        author = article_obj.get("author")
        names: list[str] = []
        stack = [author]
        while stack:
            a = stack.pop()
            if isinstance(a, list):
                stack.extend(a)
            elif isinstance(a, dict):
                n = a.get("name")
                if isinstance(n, str) and validate_metadata_name(n):
                    names.append(clean_text(n))
            elif isinstance(a, str) and validate_metadata_name(a):
                names.append(clean_text(a))
        if names:
            meta["author"] = "; ".join(sorted(set(names), key=names.index))
    if not meta.get("date"):
        dp = article_obj.get("datePublished") or article_obj.get("dateCreated")
        if isinstance(dp, str):
            meta["date"] = parse_date(dp)
    if not meta.get("description"):
        d = article_obj.get("description")
        if isinstance(d, str) and d.strip():
            meta["description"] = clean_text(d)
    if not meta.get("sitename"):
        pub = article_obj.get("publisher")
        if isinstance(pub, dict):
            n = pub.get("name")
            if isinstance(n, str) and n.strip():
                meta["sitename"] = clean_text(n)
    if not meta.get("image"):
        img = article_obj.get("image")
        if isinstance(img, str):
            meta["image"] = img
        elif isinstance(img, dict) and isinstance(img.get("url"), str):
            meta["image"] = img["url"]
    if not meta.get("tags"):
        kw = article_obj.get("keywords")
        if isinstance(kw, str):
            meta["tags"] = [t.strip() for t in re.split("[,;]", kw) if t.strip()]
        elif isinstance(kw, list):
            meta["tags"] = [str(t).strip() for t in kw if str(t).strip()]


# --- meta tags ------------------------------------------------------------------------


def _meta_tags(doc: Document, meta: dict) -> None:
    for m in select(doc.root, "meta"):
        # http-equiv="content-language" is the legacy language channel the
        # reference reads too (extract.rs:1753-1757)
        key = (m.get("property") or m.get("name") or m.get("itemprop")
               or m.get("http-equiv") or "").strip().lower()
        content = m.get("content")
        if not key or not content:
            continue
        content = content.strip()
        if not content:
            continue
        if key in _META_TITLE_NAMES and not meta.get("title"):
            meta["title"] = clean_text(content)
        elif key in _META_AUTHOR_NAMES and not meta.get("author"):
            author = content.lstrip("@")
            if validate_metadata_name(author):
                meta["author"] = clean_text(author)
        elif key in _META_DESC_NAMES and not meta.get("description"):
            meta["description"] = clean_text(content)
        elif key in _META_SITENAME_NAMES and not meta.get("sitename"):
            meta["sitename"] = clean_text(content.lstrip("@"))
        elif key in _META_URL_NAMES and not meta.get("url"):
            meta["url"] = content
        elif key in _META_IMAGE_NAMES and not meta.get("image"):
            meta["image"] = content
        elif key in _META_DATE_NAMES and not meta.get("date"):
            meta["date"] = parse_date(content)
        elif key in _META_TAGS_NAMES:
            tags = [t.strip() for t in re.split("[,;]", content) if t.strip()]
            if tags and not meta.get("tags"):
                meta["tags"] = tags
        elif key in ("article:section", "category", "parsely-section"):
            cats = [t.strip() for t in re.split("[,;]", content) if t.strip()]
            if cats and not meta.get("categories"):
                meta["categories"] = cats
        elif key in _META_LANG_NAMES and not meta.get("language"):
            meta["language"] = _norm_lang(content)
        elif key in ("license", "dcterms.license", "dc.rights") and not meta.get("license"):
            meta["license"] = normalize_license(content)


# --- DOM fallbacks -----------------------------------------------------------------------


def _title_from_dom(doc: Document, meta: dict) -> None:
    h1 = select_first(doc.root, "h1")
    if not meta.get("title"):
        title_el = select_first(doc.root, "title")
        if title_el is not None:
            raw = clean_text(title_el.text_content())
            if raw:
                # longest-part split (dom_extraction.rs:66-95): pick the
                # longest segment when separators present
                meta["title_raw"] = raw
                meta["title"] = strip_site_suffix(raw, meta.get("sitename"))
        if not meta.get("title") and h1 is not None:
            t = clean_text(h1.text_content())
            if t:
                meta["title"] = t
    else:
        meta.setdefault("title_raw", meta["title"])
    # h1 preference when contained in title (dom_extraction.rs:112-128)
    if h1 is not None and meta.get("title"):
        h1_text = clean_text(h1.text_content())
        raw = meta.get("title_raw", meta["title"])
        if h1_text and h1_text != meta["title"] and h1_text in raw:
            meta["title"] = h1_text


def _date_from_dom(doc: Document, meta: dict) -> None:
    if meta.get("date"):
        return
    times = select(doc.root, "time")
    for t in times:
        dt_attr = t.get("datetime")
        if dt_attr:
            d = parse_date(dt_attr)
            if d:
                meta["date"] = d
                return
    for t in times:
        d = parse_date(clean_text(t.text_content()))
        if d:
            meta["date"] = d
            return
    for el in select(doc.root, "[class*='date'], [class*='published'], "
                               "[itemprop='datePublished']"):
        cand = el.get("content") or el.get("datetime") or clean_text(el.text_content())
        d = parse_date(cand)
        if d:
            meta["date"] = d
            return


def _author_from_dom(doc: Document, meta: dict) -> None:
    if meta.get("author"):
        return
    for el in select(doc.root, "[rel='author'], [itemprop='author'], "
                               ".author, .byline"):
        text = clean_text(el.text_content())
        text = re.sub(r"(?i)^by\s+", "", text).strip()
        if validate_metadata_name(text):
            meta["author"] = text
            return


def _canonical_url(doc: Document, meta: dict) -> None:
    if meta.get("url"):
        return
    link = select_first(doc.root, "link[rel='canonical']")
    if link is not None and link.get("href"):
        meta["url"] = link.get("href")


def _language_from_dom(doc: Document, meta: dict) -> None:
    if meta.get("language"):
        return
    html_el = doc.html_el
    if html_el is not None:
        lang = html_el.get("lang") or html_el.get("xml:lang")
        if lang:
            meta["language"] = _norm_lang(lang)


_CC_HREF_RE = re.compile(r"creativecommons\.org/licenses/([a-z-]+)/")


def _categories_from_dom(doc: Document, meta: dict) -> None:
    """Category links (rel=category / breadcrumb-ish category anchors),
    capped at 5 (dom_extraction.rs:342-369).  Every alternative of the
    reference's 4-way comma selector ends in an <a>, so this scans the
    anchors in document order: rel equality, else one unbounded ancestor
    scan for the two [class*=] container forms."""
    if meta.get("categories"):
        return
    cats: list[str] = []
    for a in select(doc.root, "a"):
        rel = a.attrib.get("rel")
        ok = rel == "category" or rel == "category tag"
        if not ok:
            anc = a.parent
            while anc is not None:
                c = anc.attrib.get("class")
                if c is not None and ("cat-links" in c
                                      or "post-categories" in c):
                    ok = True
                    break
                anc = anc.parent
            if not ok:
                continue
        text = clean_text(a.text_content())
        if text and text not in cats:
            cats.append(text)
        if len(cats) >= 5:
            break
    if cats:
        meta["categories"] = cats


_LICENSE_SELECTORS = ("footer", ".footer", "#footer", "[class*='license']",
                      "[class*='copyright']")


def _license_from_dom(doc: Document, meta: dict) -> None:
    """Footer CC mentions + rel=license links (dom_extraction.rs:519-563),
    probed in selector priority, each selector in document order."""
    if meta.get("license"):
        return
    for sel in _LICENSE_SELECTORS:
        for el in select(doc.root, sel):
            m = _CC_HREF_RE.search(el.text_content())
            if m:
                meta["license"] = f"CC {m.group(1).upper()}"
                return
    for a in select(doc.root, "a[rel='license']"):
        href = a.get("href")
        if href:
            m = _CC_HREF_RE.search(href)
            if m:
                meta["license"] = f"CC {m.group(1).upper()}"
                return


def _sitename_from_title(meta: dict) -> None:
    if meta.get("sitename"):
        return
    raw = meta.get("title_raw", "")
    for sep in _SITE_SUFFIX_SEPARATORS:
        if sep in raw:
            tail = raw.rsplit(sep, 1)[-1].strip()
            if tail and len(tail.split()) <= 5 and len(tail) <= 35:
                meta["sitename"] = tail
            return


def extract_metadata(doc: Document, author_blacklist: tuple[str, ...] = ()) -> dict:
    """Fixed-order cascade (metadata/mod.rs:39-82). Runs on the UNCLEANED
    document (meta/script tags still present, extract.rs:52)."""
    meta: dict = {}
    _jsonld_metadata(doc, meta)
    _meta_tags(doc, meta)
    _title_from_dom(doc, meta)
    _date_from_dom(doc, meta)
    _author_from_dom(doc, meta)
    _canonical_url(doc, meta)
    _language_from_dom(doc, meta)
    _categories_from_dom(doc, meta)
    _license_from_dom(doc, meta)
    _sitename_from_title(meta)

    # post-process
    if meta.get("title") and meta.get("sitename"):
        meta["title"] = strip_site_suffix(meta["title"], meta["sitename"])
    if meta.get("author"):
        low = meta["author"].lower()
        if any(b.lower() in low for b in author_blacklist):
            meta.pop("author")
    # hostname backfill
    if meta.get("url") and not meta.get("hostname"):
        meta["hostname"] = extract_hostname(meta["url"])
    meta.pop("title_raw", None)
    return meta
