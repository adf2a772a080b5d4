"""Tokenization / text-shape expressions (native, codegen'd)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_expr(col: Column | str) -> Column:
    """Whitespace tokenization matching the reference's
    ``content.strip().split()`` (``Drain/Drain.py`` ≈L268): trim, split on
    runs of whitespace, drop empties (split of '' yields [''])."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))

