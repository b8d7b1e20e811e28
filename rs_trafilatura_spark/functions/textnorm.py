"""Text normalization — the byte-exactness core.

``normalize_text_output`` re-expresses the reference's pending-space state
machine (extract.rs:3081-3118): tabs/spaces become a single pending space,
newlines delete a trailing space, sentence punctuation attaches left, then
per-line edge whitespace is stripped, >=3 newlines collapse to 2, and the
result is trimmed.  ``clean_text`` is the single-line variant
(extract.rs:3645-3658).
"""

from __future__ import annotations

import re

LINE_WHITESPACE = re.compile(r"(?m)^[ \t]+|[ \t]+$")
MULTIPLE_NEWLINES = re.compile(r"\n{3,}")

_PUNCT = frozenset(".,;:!?")


def normalize_text_output(text: str) -> str:
    """str.replace fast path, equivalent to the reference's char-by-char
    pending-space machine (extract.rs:3081-3118) — property-tested against
    ``normalize_text_output_reference`` below.

    Equivalence notes: after the whitespace-run pass every [ \\t] run is
    a single space, so " <punct>"/" \\n"/"\\n " are the only pending-space
    shapes left and each is a disjoint 2-char pattern — plain str.replace
    (one C scan each) does what the old " (?=[\\n.,;:!?])" sub did without
    a regex match attempt at every space in prose.  Line-edge whitespace is
    then impossible except at the string edges (strip handles those), so
    the old LINE_WHITESPACE pass is provably a no-op and is dropped."""
    s = text.replace("\r", "")
    # the whitespace-run rule ("[ \t]*\t[ \t]*| {2,}" -> " ") as two C-speed
    # replace passes: mapping every tab to a space turns any [ \t]-run
    # that contained a tab into an all-space run of the same length >= 1,
    # and the fixpoint of replace("  ", " ") maps every space run to one
    # space — the composition sends exactly the runs the regex matched to
    # " " and leaves lone spaces alone, byte-identically (property-tested
    # against the char-by-char reference machine below).  A run of n
    # spaces halves per pass, so prose converges in 1-2 passes where the
    # regex probes every inter-word space as a candidate match.
    if "\t" in s:
        s = s.replace("\t", " ")
    while "  " in s:
        s = s.replace("  ", " ")
    s = (
        s.replace(" \n", "\n")         # pending space deleted by newline
        .replace(" .", ".").replace(" ,", ",").replace(" ;", ";")
        .replace(" :", ":").replace(" !", "!").replace(" ?", "?")
        .replace("\n ", "\n")          # pending space not emitted at line start
    )
    # \n{3,} -> \n\n as a fixpoint of one C scan per pass: a run of n
    # newlines shrinks by floor(n/3) per pass, so real pages converge in
    # one or two; gated so match-free text pays a single memmem scan
    while "\n\n\n" in s:
        s = s.replace("\n\n\n", "\n\n")
    return s.strip()


def normalize_text_output_reference(text: str) -> str:
    """The literal state machine, kept as the executable spec."""
    out: list[str] = []
    pending_space = False
    for ch in text:
        if ch == "\r":
            continue
        if ch == "\n":
            if out and out[-1] == " ":
                out.pop()
            out.append("\n")
            pending_space = False
        elif ch in ("\t", " "):
            pending_space = True
        elif ch in _PUNCT:
            if out and out[-1] == " ":
                out.pop()
            out.append(ch)
            pending_space = False
        else:
            if pending_space and out and out[-1] != "\n":
                out.append(" ")
            out.append(ch)
            pending_space = False
    s = "".join(out)
    s = LINE_WHITESPACE.sub("", s)
    s = MULTIPLE_NEWLINES.sub("\n\n", s)
    return s.strip()


def clean_text(s: str) -> str:
    """Collapse ALL whitespace to single spaces (single-line metadata).
    split/join is the same collapse (both use Unicode whitespace) at C
    speed."""
    return " ".join(s.split())


def normalize_title(s: str) -> str:
    return " ".join(s.lower().split())


_TITLE_SEPARATORS = (" - ", " | ", " – ", " — ", ": ")


def titles_match(heading: str, page_title: str) -> bool:
    """h1 vs page-title match incl. ' - Site Name' suffixes
    (reference extract.rs:3662-3701)."""
    h = normalize_title(heading)
    t = normalize_title(page_title)
    if not h or not t:
        return False
    if h == t:
        return True
    for sep in _TITLE_SEPARATORS:
        prefix = t.split(sep)[0]
        if prefix and h == normalize_title(prefix):
            return True
    if t.startswith(h) and len(t) > len(h) + 3:
        rest = t[len(h):]
        if rest.startswith((" -", " |", " –", " —")):
            return True
    return False


_SENT_RUNS = re.compile(r"[.!?]+")


def count_sentences(text: str) -> int:
    """Runs of sentence terminators count once (extract.rs:2270-2283);
    one C-speed findall instead of a per-character Python loop."""
    return len(_SENT_RUNS.findall(text))
