"""SPARQL-style basic graph pattern (BGP) matching over the triple table.

The reference converts triples to wiki pages; a KG engine must also QUERY
them. These operators compile the three canonical SPARQL shapes to
DataFrame plans (reference semantics: SPARQL 1.1 §5.2 basic graph
patterns; rdf2smw itself queries via SMW's #ask once imported —
reference README.md's SMW workflow):

- star:     { ?s p1 ?a . ?s p2 ?b . ?s p3 ?c }        (joins on subj)
- path:     { ?a p1 ?b . ?b p2 ?c . ?c p3 ?d }        (obj→subj chain)
- optional: { ?s p1 ?a OPTIONAL { ?s p2 ?b } }        (left outer join)

Scale shapes (10^12-triple table bucketed by subject hash, the north
rule's Iceberg layout):
- Each pattern is a predicate filter — pushed to the parquet/Iceberg scan
  (`pred = '...'` shows in PushedFilters), so a BGP reads only its
  predicates' row groups when the table is also sorted/partitioned by
  pred (the classic vertical-partitioning RDF layout).
- Star joins share the subject key: ONE exchange hash-partitions all
  patterns, then every join is co-partitioned — no re-shuffle between
  patterns. With subject-hash bucketing on disk the exchange disappears.
- Path joins chain obj→subj; class-level patterns (types, subClassOf,
  labels of the tiny class layer) are broadcast — instance-level hops
  shuffle once per hop, the unavoidable minimum for an arbitrary path.
- OPTIONAL is a left outer join on the same co-partitioned key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triple_pattern(triples: DataFrame, pred: str, subj_as: str, obj_as: str) -> DataFrame:
    """One BGP pattern { ?subj <pred> ?obj } → 2-column relation.
    The pred equality is a pushable scan filter; the projection prunes
    the scan to (subj, obj)."""
    return triples.filter(F.col("pred") == pred).select(
        F.col("subj").alias(subj_as), F.col("obj").alias(obj_as)
    )


def subject_pattern(triples: DataFrame, pred: str, obj: str, subj_as: str) -> DataFrame:
    """{ ?subj <pred> <obj> } → 1-column relation (class membership)."""
    return (
        triples.filter((F.col("pred") == pred) & (F.col("obj") == obj))
        .select(F.col("subj").alias(subj_as))
    )


def bgp_star(patterns: list[DataFrame], key: str) -> DataFrame:
    """Join n patterns on their shared subject variable. All joins use
    the same key, so Catalyst plans ONE exchange per side and reuses the
    partitioning across the chain."""
    out = patterns[0]
    for p in patterns[1:]:
        out = out.join(p, key)
    return out


def bgp_not_exists(positive: DataFrame, negated: DataFrame, key: str) -> DataFrame:
    """SPARQL FILTER NOT EXISTS / MINUS (SPARQL 1.1 §8.1): keep the
    positive pattern's solutions whose key never appears in the negated
    pattern — a left-anti hash join. On the subject-bucketed triple
    layout both sides arrive co-partitioned, so negation costs no more
    than one additional pattern in a star."""
    return positive.join(negated.select(key).distinct(), key, "left_anti")
