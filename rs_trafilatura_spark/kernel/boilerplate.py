"""Boilerplate classifiers: class/id token rules + share-button text filter.

Re-expresses the reference's ``is_boilerplate`` token classifier
(extract.rs:3215-3328, helpers extract.rs:3122-3201) and
``is_share_button_text`` / ``text_filter`` (html_processing.rs:455-651).
The reference's thread-local COMMENTS_ARE_CONTENT flag (extract.rs:27-29)
becomes an explicit ``comments_are_content`` parameter — no process-global
state in Python workers (SURVEY.md §7 "What's hard" #5).
"""

from __future__ import annotations

import re

from .patterns import (
    ADVERTISEMENT_CLASS,
    BOILERPLATE_CLASS,
    BOILERPLATE_CLASS_NO_COMMENTS,
    NAVIGATION_CLASS,
)

_LAYOUT_COMPONENT_PREFIXES = ("l-", "c-")
_SIDEBAR_POSITION_WORDS = frozenset({"left", "right", "primary", "secondary", "main", "widget"})
_AUTHOR_BOX_SUFFIXES = frozenset(
    {
        "box", "bio", "info", "avatar", "meta", "wrap", "description", "link",
        "details", "card", "profile", "section", "container", "area", "block",
        "ul", "category", "pp", "ppma", "boxes",
    }
)

_SPLIT_DASH = re.compile(r"[-_]")


def _has_layout_prefix(token: str) -> bool:
    return token.startswith(_LAYOUT_COMPONENT_PREFIXES)


def _sidebar_parts_match(parts: list[str], i: int) -> bool:
    """Position-aware sidebar rule: only part, first part, or preceded by a
    position word."""
    if len(parts) == 1 or i == 0:
        return True
    return parts[i - 1] in _SIDEBAR_POSITION_WORDS


def _is_false_positive_layout_token(token: str) -> bool:
    """BEM l-/c- prefixed tokens exempted when the only match is sidebar/social."""
    if not _has_layout_prefix(token):
        return False
    if "sidebar" in token:
        parts = _SPLIT_DASH.split(token)
        for i, part in enumerate(parts):
            if part == "sidebar" and not _sidebar_parts_match(parts, i):
                without = token.replace("sidebar", "")
                if not BOILERPLATE_CLASS.search(without):
                    return True
    if not BOILERPLATE_CLASS.search(token):
        return False
    if "social" in token:
        without = token.replace("social", "")
        if not BOILERPLATE_CLASS.search(without):
            return True
    return False


def _is_false_positive_nav_token(token: str) -> bool:
    if not _has_layout_prefix(token):
        return False
    if not NAVIGATION_CLASS.search(token):
        return False
    if "sidebar" in token:
        without = token.replace("sidebar", "")
        if not NAVIGATION_CLASS.search(without):
            return True
    return False


from functools import lru_cache


@lru_cache(maxsize=16384)
def is_boilerplate(name: str, comments_are_content: bool = False) -> bool:
    """True if a class/id attribute value marks boilerplate.  Pure
    function of its arguments; memoized because real pages repeat the
    same class strings hundreds of times."""
    for token in name.split():
        if not _is_false_positive_nav_token(token):
            if NAVIGATION_CLASS.search(token):
                return True
        if _is_false_positive_layout_token(token):
            continue
        pat = BOILERPLATE_CLASS_NO_COMMENTS if comments_are_content else BOILERPLATE_CLASS
        if pat.search(token):
            return True
        parts = _SPLIT_DASH.split(token)
        for i, part in enumerate(parts):
            if part == "sidebar" and _sidebar_parts_match(parts, i):
                return True
        for i, part in enumerate(parts):
            if part == "author":
                if len(parts) == 1:
                    return True
                if i + 1 < len(parts) and parts[i + 1] in _AUTHOR_BOX_SUFFIXES:
                    return True
                if i > 0 and parts[i - 1] in _AUTHOR_BOX_SUFFIXES:
                    return True
        for i, part in enumerate(parts):
            if part == "widget":
                if i > 0 and parts[i - 1] == "elementor":
                    continue
                return True
    # advertisement check on the FIRST non-alphanumeric-split token only
    m = re.split(r"[^0-9A-Za-z]", name, maxsplit=1)
    if m and m[0] and ADVERTISEMENT_CLASS.match(m[0]):
        return True
    return False


_ALWAYS_EXCLUDED_SUBSTRINGS = (
    "av-structured-data", "post-meta-infos", "comment-container",
    "comments-link", "blog-categories", "blog-author", "wp-caption",
    "wp-caption-text", "video__end-slate", "zn-large-media",
    "featured-video-collection", "el__featured-video", "messenger-content",
    "read-more-link", "zn-body__read-more", "js-body-read-more", "pg-headline",
)


@lru_cache(maxsize=16384)
def is_always_excluded_name(name: str) -> bool:
    """Hard substring blocklist (extract.rs:2934-2952).  Memoized (pure)."""
    low = name.lower()
    return any(s in low for s in _ALWAYS_EXCLUDED_SUBSTRINGS)


# --- share-button / byline text filter (html_processing.rs:491-651) ---------------

_SOCIAL_EXACT = (
    "Drucken", "E-Mail", "Email", "EMail", "Facebook", "Flipboard", "Google",
    "Instagram", "Linkedin", "LinkedIn", "Mail", "PDF", "Pinterest", "Pocket",
    "Print", "QQ", "Reddit", "Twitter", "WeChat", "WeiBo", "Weibo",
    "Whatsapp", "WhatsApp", "Xing", "XING",
)

_PHOTO_AGENCIES = (
    "getty images", "getty", "afp", "ap photo", "associated press",
    "shutterstock", "alamy", "rex features", "splash news", "wireimage",
    "filmmagic",
)

_NEWS_AGENCIES = (
    "reuters,", "pti,", "ians,", "ani,", "xinhua,",
    "staff reports", "staff report", "staff writer", "special to",
)

_IMAGE_UI = frozenset(
    {"enlarge image", "view image", "click to enlarge", "zoom", "view gallery",
     "view photos"}
)


def is_share_button_text(text: str) -> bool:
    trimmed = text.strip()
    # drop leading non-alphanumeric/underscore chars (Go: optional prefix)
    i = 0
    while i < len(trimmed) and not (trimmed[i].isalnum() or trimmed[i] == "_"):
        i += 1
    test_str = trimmed[i:]

    for pattern in _SOCIAL_EXACT:
        if test_str.startswith(pattern):
            rest = test_str[len(pattern):]
            if not rest or not rest[0].isalnum():
                return True

    lower = test_str.lower()
    if lower.startswith(("more on this", "mehr zum thema")):
        return True
    if lower in ("comments", "comment", "kommentare"):
        return True
    if ("subscribe" in lower and "newsletter" in lower) or lower.startswith(
        ("click here to subscribe", "sign up for", "join our newsletter",
         "breaking news emails", "get breaking news")
    ) or lower == "subscribe":
        return True
    if lower in _IMAGE_UI:
        return True

    if len(trimmed) < 120:
        if lower.startswith(("photo:", "photo by", "image:", "image by",
                             "credit:", "source:")):
            return True
        for agency in _PHOTO_AGENCIES:
            if agency in lower:
                return True

    if len(trimmed) < 80:
        for agency in _NEWS_AGENCIES:
            if lower.startswith(agency):
                return True
        if lower.startswith("by ") and len(trimmed) < 50:
            after = trimmed[3:]
            if after and after[0].isupper() and ". " not in after and ", the " not in after:
                return True
        if lower.startswith(("updated:", "published:", "last updated",
                             "posted:", "date:")):
            return True

    return False
