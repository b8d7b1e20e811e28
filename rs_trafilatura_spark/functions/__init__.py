"""Scalar helpers: encoding, text normalization, URLs, dates."""

from .dates import parse_date
from .encoding import detect_encoding, transcode_to_utf8
from .textnorm import (
    clean_text,
    count_sentences,
    normalize_text_output,
    normalize_title,
    titles_match,
)
from .urlutils import extract_filename, extract_hostname, filenames_match

__all__ = [
    "clean_text",
    "count_sentences",
    "detect_encoding",
    "extract_filename",
    "extract_hostname",
    "filenames_match",
    "normalize_text_output",
    "normalize_title",
    "parse_date",
    "titles_match",
    "transcode_to_utf8",
]
