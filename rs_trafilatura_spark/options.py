"""Extraction options — immutable per job, carried in the kernel closure
that ``mapInArrow`` ships once per stage (plans/job.py
``make_extract_arrow_batches``), never a column.

Mirrors the reference's 28-field ``Options`` struct (options.rs:28-233,
defaults options.rs:236-269) minus the six fields this engine never
reads, which are dropped rather than kept as settings that change
nothing: ``min_score`` (the heuristic selector sets its own threshold
from ``favor_precision`` / ``favor_recall``, extract.rs:2068-2177),
``max_duplicate_ratio``, ``max_link_density``, ``min_paragraph_cluster``,
``include_formatting`` and ``max_tree_depth``.  Passing one raises
``TypeError``."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional


@dataclass(frozen=True)
class Options:
    include_comments: bool = False
    include_tables: bool = True
    include_images: bool = False
    include_links: bool = False
    favor_precision: bool = False
    favor_recall: bool = False
    target_language: Optional[str] = None
    url: Optional[str] = None
    author_blacklist: tuple[str, ...] = ()
    deduplicate: bool = False
    min_extracted_size: int = 200
    min_extracted_len: int = 200
    max_extracted_len: int = 1_000_000
    min_output_size: int = 50
    min_output_comm_size: int = 10
    only_with_metadata: bool = False
    min_word_length: int = 2
    use_fallback_extraction: bool = True
    dedup_cache_size: int = 1000
    include_title_in_content: bool = False
    output_markdown: bool = False
    page_type: Optional[str] = None
    # engine-side addition (not in the reference Options):
    # emit content_html alongside text
    include_content_html: bool = True


DEFAULT_OPTIONS = Options()
