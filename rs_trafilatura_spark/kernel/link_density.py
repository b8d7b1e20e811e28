"""Link-density heuristics (reference link_density.rs:53-146, 254-285).

Pure functions over the DOM — run inside the kernel, per document.
"""

from __future__ import annotations

from ..dom import Element, select


def _collect_link_info(links: list[Element]) -> tuple[int, int, int]:
    """(total link text chars, short links < 10 chars, non-empty links)."""
    link_length = 0
    n_short = 0
    n_non_empty = 0
    for a in links:
        text = a.text_content().strip()
        n = len(text)
        if n == 0:
            continue
        link_length += n
        if n < 10:
            n_short += 1
        n_non_empty += 1
    return link_length, n_short, n_non_empty


def link_density_test(el: Element, favor_precision: bool = False,
                      has_links: bool = True) -> bool:
    """True if the element should be dropped as link-dense navigation.

    ``has_links=False`` (from a caller's precomputed link-ancestor set)
    short-circuits the subtree scan — identical outcome, since no <a>
    descendants always returns False."""
    if not has_links:
        return False
    links = select(el, "a")
    n_links = len(links)
    if n_links == 0:
        return False

    text = el.text_content().strip()
    text_length = len(text)

    # single-link shortcut: one link covering >90% of the text
    if n_links == 1:
        threshold = 10 if favor_precision else 100
        link_text = links[0].text_content().strip()
        if len(link_text) > threshold and len(link_text) > text_length * 0.9:
            return True

    tag = el.tag
    has_next_sibling = el.next_element_sibling() is not None
    if tag == "p":
        limit = 30 if has_next_sibling else 60
    else:
        limit = 100 if has_next_sibling else 300

    if text_length < limit:
        link_length, n_short, n_non_empty = _collect_link_info(links)
        if n_non_empty == 0:
            return True
        if link_length > text_length * 0.8:
            return True
        if n_non_empty > 1 and n_short / n_non_empty > 0.8:
            return True

    # extended check: 5+ links, no <p> children, dense short links
    if n_links >= 5 and tag != "p":
        if not select(el, "p"):
            link_length, n_short, n_non_empty = _collect_link_info(links)
            if n_non_empty > 0:
                density = link_length / max(text_length, 1)
                short_ratio = n_short / n_non_empty
                if density > 0.5 and short_ratio > 0.5:
                    return True

    return False


def link_density_test_tables(table: Element, has_links: bool = True) -> bool:
    """True if a table is link-dense boilerplate (link_density.rs:254-285)."""
    if not has_links:
        return False
    links = select(table, "a")
    if not links:
        return False
    text_length = len(table.text_content().strip())
    if text_length < 200:
        return False
    link_length, _, n_non_empty = _collect_link_info(links)
    if n_non_empty == 0:
        return True
    if text_length < 1000:
        return link_length > text_length * 0.8
    return link_length > text_length * 0.5
