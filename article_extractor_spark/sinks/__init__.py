"""Sinks: materializing extraction results outside the bucketed table.

``markdown_sink`` reproduces the reference crawler's primary artifact —
one frontmatter-headed Markdown file per document (crawler.py:354-423).
"""

from .markdown_sink import (  # noqa: F401
    markdown_document,
    markdown_filename,
    write_markdown_files,
)
