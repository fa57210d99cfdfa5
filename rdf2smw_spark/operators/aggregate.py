"""Sorted-array dedup for the per-subject aggregation (reference A1,
tripleaggregator.go:21-31; AddFactUnique / AddCategoryUnique,
iptypes.go:53-81).

The aggregation itself lives in convert.triples_to_pages: one two-phase
salted groupBy(subj) spreads a hot subject over n_salt reducers before
the final per-subject merge. The collected arrays are sorted there
(SURVEY.md §4.3 determinism policy) and deduped here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dedup_sorted(col: Column) -> Column:
    """First-occurrence dedup of a SORTED array in O(n): keep elements
    that differ from their predecessor. Two traps this avoids:
    - array_distinct does pairwise O(n^2) comparisons on struct elements
      (measured 347s for a single 50k-fact hot page);
    - naively referencing the array expression inside the filter lambda
      re-evaluates it per element — so bind it once as a lambda variable
      via a single-element transform()."""
    return F.element_at(
        F.transform(
            F.array(col),
            lambda a: F.filter(a, lambda x, i: (i == 0) | (x != F.element_at(a, i))),
        ),
        1,
    )
