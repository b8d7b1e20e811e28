"""HTML -> GitHub-flavored-Markdown walker (reference markdown.rs + the
quick_html2md delegation at extract.rs:425-442).  Operates on the
already-filtered content subtree, so no boilerplate logic here."""

from __future__ import annotations

from ..dom import Element

_HEADING = {"h1": "#", "h2": "##", "h3": "###", "h4": "####",
            "h5": "#####", "h6": "######"}

# Characters with Markdown meaning (markdown.rs:7)
MARKDOWN_SPECIAL_CHARS = frozenset("\\*_[]<>")


def escape_markdown(text: str, in_code_block: bool = False) -> str:
    """Blanket-escape Markdown specials outside code blocks
    (markdown.rs:44-59)."""
    if in_code_block or not text:
        return text
    out: list[str] = []
    for ch in text:
        if ch in MARKDOWN_SPECIAL_CHARS:
            out.append("\\")
        out.append(ch)
    return "".join(out)


def post_process_markdown(markdown: str, line_start: bool = True,
                          track_code: bool = True) -> str:
    """Position-aware escaping pass (markdown.rs:84-279): escapes literal
    specials in text while preserving code blocks/inline code, matched
    emphasis pairs (**bold**, *italic*, _em_), [text](url) links,
    heading/list/blockquote markers, and already-escaped sequences.
    This is the escaping behavior the live extraction path gets from its
    converter's escape_special_chars(true) (extract.rs:432-436).

    ``line_start``/``track_code`` let callers thread REAL document context
    when escaping a fragment: a text node continuing an output line passes
    line_start=False so a leading "* " is not mistaken for a list marker,
    and per-text-node calls pass track_code=False because converter-level
    code markers are emitted outside this pass — a literal backtick in
    prose is then data, not an inline-code toggle."""
    if not markdown:
        return ""
    res: list[str] = []
    i, n = 0, len(markdown)
    in_fenced = False
    in_inline = False
    while i < n:
        ch = markdown[i]
        i += 1
        if ch == "`" and not track_code:
            res.append(ch)
            line_start = False
            continue
        if line_start and ch == "`":
            count = 1
            while i < n and markdown[i] == "`":
                count += 1
                i += 1
            res.append("`" * count)
            if count >= 3:
                in_fenced = not in_fenced
            else:
                in_inline = not in_inline
            continue
        if ch == "`" and not in_fenced:
            in_inline = not in_inline
            res.append(ch)
            line_start = False
            continue
        if ch == "\n":
            res.append(ch)
            line_start = True
            continue
        if in_fenced or in_inline:
            res.append(ch)
            line_start = False
            continue
        if ch == "\\":
            res.append(ch)
            if i < n and markdown[i] in MARKDOWN_SPECIAL_CHARS:
                res.append(markdown[i])
                i += 1
            line_start = False
            continue
        if line_start and ch == "#":
            res.append(ch)
            line_start = False
            continue
        if line_start and ch == ">":
            res.append(ch)
            line_start = False
            continue
        if ch == ">" and "".join(res[-2:]) == "> ":
            res.append(ch)
            line_start = False
            continue
        if line_start and ch in "-*+" and i < n and markdown[i] == " ":
            res.append(ch)
            line_start = False
            continue
        if ch in "*_":
            nxt1 = markdown[i] if i < n else None
            is_double = nxt1 == ch
            nxt2 = markdown[i + 1] if i + 1 < n else None
            prev = res[-1] if res else None
            prev_is_space = prev is None or prev.isspace()
            prev_is_word = prev is not None and prev.isalnum()
            after = nxt2 if is_double else nxt1
            next_is_word = after is not None and after.isalnum()
            next_is_space = after is None or after.isspace() or after == ch
            if is_double:
                res.append(ch * 2)
                i += 1
            elif (prev_is_space or prev_is_word) and next_is_word:
                res.append(ch)  # emphasis open
            elif prev_is_word and (next_is_space or nxt1 == ch):
                res.append(ch)  # emphasis close
            else:
                res.append("\\" + ch)
            line_start = False
            continue
        if ch == "[" and "](" in markdown[i:]:
            res.append(ch)
            line_start = False
            continue
        if ch == "]" and i < n and markdown[i] == "(":
            res.append(ch)
            line_start = False
            continue
        if ch == "<" and i < n and markdown[i] in "h/":
            res.append(ch)
            line_start = False
            continue
        if ch in MARKDOWN_SPECIAL_CHARS:
            res.append("\\")
        res.append(ch)
        # leading indentation keeps line-start status (nested list
        # markers); a space after visible content does NOT re-arm it, so
        # "a * b" never reads as a mid-line list marker
        line_start = line_start and ch.isspace()
    return "".join(res)


def _inline(el: Element, include_links: bool) -> str:
    # text NODES get the position-aware escaping (matched emphasis pairs
    # survive, stray literals escape); generated markers (**, *, `, [..])
    # are emitted outside it and never escaped — the converter-native
    # behavior of the reference's escape_special_chars(true)
    # (extract.rs:432-436)
    parts: list[str] = []

    def _at_line_start() -> bool:
        for p in reversed(parts):
            if p:
                return p.endswith("\n")
        return True

    if el.text:
        parts.append(post_process_markdown(el.text, line_start=True,
                                           track_code=False))
    for child in el.children:
        t = child.tag
        inner = _inline(child, include_links)
        if t in ("strong", "b"):
            parts.append(f"**{inner}**")
        elif t in ("em", "i"):
            parts.append(f"*{inner}*")
        elif t == "code":
            parts.append(f"`{child.text_content()}`")
        elif t == "a" and include_links and child.get("href"):
            parts.append(f"[{inner}]({child.get('href')})")
        elif t == "br":
            parts.append("  \n")
        else:
            parts.append(inner)
        if child.tail:
            # a tail continues the current output line unless a <br> (or a
            # node ending in a newline) just broke it — real context, so a
            # tail starting with "* " is not mistaken for a list marker
            parts.append(post_process_markdown(
                child.tail, line_start=_at_line_start(), track_code=False))
    return "".join(parts)


def _table_md(table: Element) -> str:
    from ..functions.textnorm import clean_text
    from ..dom import select

    rows = []
    for tr in select(table, "tr"):
        cells = [clean_text(td.text_content()).replace("|", "\\|")
                 for td in select(tr, "td, th")]
        if any(cells):
            rows.append("| " + " | ".join(cells) + " |")
    if not rows:
        return ""
    n_cols = rows[0].count("|") - 1
    sep = "|" + " --- |" * n_cols
    return "\n".join([rows[0], sep] + rows[1:])


def html_tree_to_markdown(root: Element, include_links: bool = True) -> str:
    blocks: list[str] = []

    def visit(el: Element, list_depth: int = 0) -> None:
        t = el.tag
        if t in _HEADING:
            blocks.append(f"{_HEADING[t]} {_inline(el, include_links).strip()}")
        elif t == "p":
            text = _inline(el, include_links).strip()
            if text:
                blocks.append(text)
        elif t == "pre":
            code = el.text_content().rstrip()
            blocks.append(f"```\n{code}\n```")
        elif t == "blockquote":
            inner = _inline(el, include_links).strip()
            if inner:
                blocks.append("\n".join(f"> {ln}" for ln in inner.splitlines()))
            for child in el.children:
                if child.tag in ("p", "ul", "ol", "blockquote"):
                    visit(child, list_depth)
        elif t in ("ul", "ol"):
            items = []
            idx = 1
            for li in el.children:
                if li.tag != "li":
                    continue
                marker = "-" if t == "ul" else f"{idx}."
                items.append(
                    "  " * list_depth + f"{marker} {_inline(li, include_links).strip()}"
                )
                idx += 1
                for sub in li.children:
                    if sub.tag in ("ul", "ol"):
                        visit(sub, list_depth + 1)
            if items:
                blocks.append("\n".join(items))
        elif t == "table":
            md = _table_md(el)
            if md:
                blocks.append(md)
        else:
            for child in el.children:
                visit(child, list_depth)

    visit(root)
    return "\n\n".join(b for b in blocks if b).strip()


def html_string_to_markdown(html: str) -> str:
    from ..dom import Document

    return html_tree_to_markdown(Document(html).root)


def _fmt_separator(width: int, align: str) -> str:
    """markdown.rs:432-440 (incl. its Left format, mirrored as written)."""
    d = max(width, 3)
    if align == "left":
        return ":" + "-" * (d - 1) + ":"
    if align == "center":
        return ":" + "-" * max(d - 2, 0) + ":"
    if align == "right":
        return "-" * (d - 1) + ":"
    return " " + "-" * d + " "


def _pad_cell(text: str, width: int, align: str) -> str:
    n = len(text)
    if n >= width:
        return text
    pad = width - n
    if align == "right":
        return " " * pad + text
    if align == "center":
        left = pad // 2
        return " " * left + text + " " * (pad - left)
    return text + " " * pad


def html_table_to_markdown(table_html: str) -> str:
    """Standalone HTML-table -> GFM converter (markdown.rs:299-410):
    width-padded cells, alignment-aware separator after the first row."""
    from ..dom import Document, select

    doc = Document(table_html)
    root = doc.root
    rows: list[list[str]] = []
    alignments: list[str] = []
    has_header = False

    def _align(el) -> str:
        a = (el.get("align") or "").lower()
        return a if a in ("left", "center", "right") else "none"

    for tr in select(root, "thead tr"):
        row = []
        for th in select(tr, "th"):
            alignments.append(_align(th))
            row.append(th.text_content().strip())
        if row:
            has_header = True
            rows.append(row)

    for tr in select(root, "tbody tr, table > tr"):
        row = []
        for idx, cell in enumerate(select(tr, "td, th")):
            if not has_header and not rows:
                alignments.append(_align(cell))
            elif idx < len(alignments) and alignments[idx] == "none":
                if cell.get("align"):
                    alignments[idx] = _align(cell)
            row.append(cell.text_content().strip())
        if row:
            rows.append(row)

    if not rows:
        return ""
    n_cols = max(len(r) for r in rows)
    widths = [3] * n_cols
    for row in rows:
        for i, cell in enumerate(row):
            widths[i] = max(widths[i], len(cell))
    while len(alignments) < n_cols:
        alignments.append("none")

    out: list[str] = []
    for ri, row in enumerate(rows):
        line = "|"
        for ci, cell in enumerate(row):
            line += " " + _pad_cell(cell, widths[ci], alignments[ci]) + " |"
        for ci in range(len(row), n_cols):
            line += " " + " " * widths[ci] + " |"
        out.append(line)
        if ri == 0:
            out.append(
                "|" + "|".join(
                    _fmt_separator(widths[c], alignments[c])
                    for c in range(n_cols)
                ) + "|"
            )
    return "\n".join(out) + "\n"
