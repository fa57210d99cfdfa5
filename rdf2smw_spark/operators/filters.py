"""Page-level filters (reference F1 CategoryFilterer,
/root/reference/components/catfilterer.go:17-36 — present in the
reference but disabled in its main graph, main.go:89-90,128-129).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_pages_by_category(pages: DataFrame, allow_list: list[str]) -> DataFrame:
    """Keep pages having at least one category in the allow-list.
    arrays_overlap is a pure row-local predicate — pushed past the page
    assembly when possible, no shuffle."""
    allow = F.array(*[F.lit(c) for c in allow_list])
    return pages.filter(F.arrays_overlap(F.col("categories"), allow))
