"""Compile-once regex patterns and selector strings.

Re-expresses the reference's pattern tables (patterns.rs:9-160).  Compiled at
module import so every Python worker pays the cost once per process, the
Python analogue of the reference's LazyLock statics (patterns.rs:9-11).
"""

from __future__ import annotations

import re

# --- boilerplate detection (patterns.rs:31-73) -------------------------------

NAVIGATION_CLASS = re.compile(
    r"(?i)(^nav$|^nav[-_]|[-_]nav$|navbar|navigation|top[-_]?nav|main[-_]?menu"
    r"|site[-_]?nav|\bmenu\b|site[-_]?footer|site[-_]?header|page[-_]?header"
    r"|page[-_]?footer|breadcrumb(?:s)?|crumb(?:s)?)"
)

ADVERTISEMENT_CLASS = re.compile(
    r"(?i)^(ad|ads|advert|advertisement|sponsor|sponsored|promo)$"
)

_BOILERPLATE_COMMON = (
    r"shar(?:e|ing)|social|related|recommend(?:ed)?|\bfooter\b|site[-_]?footer"
    r"|\bwell\b|copyright|legal|disclaimer|more[-_]?from|you[-_]?may[-_]?like"
    r"|taboola|outbrain|mgid|revcontent|zergnet|cookie[-_]?consent"
    r"|privacy[-_]?consent|gdpr[-_]?consent|cookie[-_]?notice|privacy[-_]?notice"
    r"|cookie[-_]?banner|consent[-_]?banner|\blogin\b|\bsignin\b|\bsign[-_]?in\b"
    r"|\bsignup\b|\bsign[-_]?up\b|\bsubscribe\b|subscription|newsletter"
    r"|snippet[-_]?login|snippet[-_]?action|trending|popular|most[-_]?read"
    r"|top[-_]?stories|\bbyline\b|article[-_]byline|timestamp|dateline"
    r"|print[-_]?header|photo[-_]?credit|img[-_]?credit|image[-_]?credit"
    r"|\bcredit\b|caption|penci[-_]?cat|cat[-_]?name|post[-_]?cats?\b"
    r"|entry[-_]?cats?\b|dpsp[-_]|addtoany|shareaholic|share[-_]?btn"
    r"|social[-_]?btn|crumb|post[-_]?meta|entry[-_]?meta|meta[-_]?info"
    r"|tag[-_]?cloud|category[-_]?list|filed[-_]?under|posted[-_]?in|wabtn"
    r"|coauthor|pdf[-_]?link|article[-_]?info|story[-_]?info"
)

BOILERPLATE_CLASS = re.compile(r"(?i)(comment|" + _BOILERPLATE_COMMON + r")")
BOILERPLATE_CLASS_NO_COMMENTS = re.compile(r"(?i)(" + _BOILERPLATE_COMMON + r")")

# --- content identification (patterns.rs:78-105) --------------------------------

COMMENT_CLASS = re.compile(
    r"(?i)\b(comment|comments|comment[-_]?list|respond|reply|replies|discussion"
    r"|disqus|fb[-_]?comments)\b"
)
COMMENT_ID = re.compile(
    r"(?i)^(comments|comment-section|disqus_thread|respond|discussion)$"
)

# --- selectors (patterns.rs:145-160) -------------------------------------------------

ARTICLE_SELECTOR = "article, [role='article'], .article, .post, .entry"
MAIN_SELECTOR = "main, [role='main'], #main, .main, #content, .content"
