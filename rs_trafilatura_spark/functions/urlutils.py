"""URL helpers (reference url_utils.rs:16-277)."""

from __future__ import annotations

from typing import Optional
from urllib.parse import urlparse


def extract_hostname(url: str) -> Optional[str]:
    try:
        host = urlparse(url).hostname
        return host or None
    except ValueError:
        return None


def extract_filename(url: str) -> str:
    """Last path segment with query/fragment stripped, EXTENSION KEPT
    (reference url_utils.rs:229-254 — it never strips the extension);
    empty-looking segments ('', '.', '..') become ''."""
    seg = url.strip().split("?", 1)[0].split("#", 1)[0]
    seg = seg.rsplit("/", 1)[-1].strip()
    if seg in ("", ".", ".."):
        return ""
    return seg


def filenames_match(a: str, b: str) -> bool:
    """Case-insensitive filename equality (url_utils.rs:268-276)."""
    fa, fb = extract_filename(a), extract_filename(b)
    return bool(fa) and bool(fb) and fa.lower() == fb.lower()


def is_absolute_url(s: str) -> bool:
    """http(s) URL with a host (url_utils.rs:16-39)."""
    s = (s or "").strip()
    if not s.startswith(("http://", "https://")):
        return False
    from urllib.parse import urlparse

    try:
        return bool(urlparse(s).hostname)
    except ValueError:
        return False


def get_domain_url(url: str) -> str:
    """Hostname of an absolute URL, else '' (url_utils.rs:88-98)."""
    from urllib.parse import urlparse

    if not is_absolute_url(url):
        return ""
    return urlparse(url.strip()).hostname or ""


def get_base_url(url: str) -> str:
    """scheme://hostname of an absolute URL, else '' (url_utils.rs:107-121)."""
    from urllib.parse import urlparse

    if not is_absolute_url(url):
        return ""
    p = urlparse(url.strip())
    return f"{p.scheme}://{p.hostname}" if p.hostname else ""


def normalize_url(url: str) -> str:
    """Drop the fragment and any non-root trailing slash
    (url_utils.rs:186-201)."""
    from urllib.parse import urlsplit, urlunsplit

    try:
        p = urlsplit(url)
    except ValueError:
        return url
    if not p.scheme and not p.netloc:
        return url
    path = p.path
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    return urlunsplit((p.scheme, p.netloc, path, p.query, ""))


def urls_match(url1: str, url2: str) -> bool:
    """Same page ignoring fragments/trailing slash (url_utils.rs:205-210)."""
    return normalize_url(url1) == normalize_url(url2)
