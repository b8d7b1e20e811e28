"""Deterministic synthetic page corpus (FIXTURES.md)."""

from .corpus import (
    generate_expected_meta_df,
    generate_pages_df,
    generate_row,
    generate_rows,
)

__all__ = [
    "generate_expected_meta_df",
    "generate_pages_df",
    "generate_row",
    "generate_rows",
]
