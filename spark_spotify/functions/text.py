"""Text column expressions shared by the text, curation and dedup layers.

``operators/`` imports nothing from ``analytics/``, so the tokenizer both
layers split documents with lives here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of a document: trimmed, split on single spaces
    (the DuckDB oracles state the same ``string_split(trim(text), ' ')``)."""
    return F.split(F.trim(text), " ")
