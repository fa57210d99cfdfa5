"""Incremental KG page maintenance: given the standing triple table and
a (much smaller) delta of new/changed fact triples, re-render ONLY the
wiki pages the delta can affect instead of re-running the whole
conversion — the continuous-crawl counterpart of the reference's
one-shot batch run.

What a delta can affect (dependency classes):

1. A plain FACT triple (pred outside rdf:type / rdfs:subClassOf / the
   title properties) only changes the page(s) rendered for its SUBJECT's
   title. The incremental fast path handles this class.
2. A SCHEMA-ish triple — rdf:type, rdfs:subClassOf, or any title
   property — feeds the global dimensions (subject types, best titles,
   class depths): a single such triple can retitle an entity referenced
   from arbitrarily many pages, or shift category depths everywhere.
   The fast path detects this class with one bounded probe and falls
   back to the full rebuild — honest invalidation beats a stale wiki.

Pages are keyed by TITLE, not subject: two subjects whose titles
collide (e.g. an unlabeled customer and an order sharing the numeric
local name) render interleaved <page> blocks under one title, so
re-rendering a title must re-aggregate EVERY subject mapping to it.
The affected set is therefore closed over titles: delta subjects →
their titles → all subjects bearing those titles.

Scale shape: the title closure is two semi-joins against the slim
(subj, title) dim; the restricted conversion (convert.triples_to_pages
`only_subjects`) runs dims over the full stream (cheap pred-filtered
scans) but stage B — the expensive enrichment + salted groupBy — over
the delta's subjects only. At a 0.1% daily delta of a 10^12-triple KG,
that is a 1000x smaller shuffle than the rebuild, and the fallback
cost is exactly the old full run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf2smw_spark.operators.dimensions import page_title_col
from rdf2smw_spark.schemas import SUBCLASS_PROPERTY_URI, TITLE_PROPERTIES, TYPE_PROPERTY_URI

SCHEMA_PREDS = list(TITLE_PROPERTIES) + [TYPE_PROPERTY_URI, SUBCLASS_PROPERTY_URI]


def _subject_titles(full: DataFrame, st: DataFrame, bt: DataFrame) -> DataFrame:
    """(subj, title) for every subject of `full` — the page title of
    triples_to_pages stage B (dimensions.page_title_col), so the closure
    keys match the rendered page titles exactly. st/bt are the
    subject_types / best_titles dims of the SAME stream (the first two
    members of convert.conversion_dims)."""
    bt = bt.select(
        F.col("subj").alias("__suri"), F.col("raw_title").alias("__sraw")
    )
    subs = full.select("subj").distinct()
    return (
        subs.join(F.broadcast(bt), subs["subj"] == bt["__suri"], "left")
        .join(st, "subj", "left")
        .select("subj", page_title_col("__sraw", "subj", "uri_type").alias("title"))
    )


def affected_subjects(delta: DataFrame, titles: DataFrame) -> DataFrame:
    """Title-closed affected set: every subject whose page title is
    shared with some delta subject. Two semi-joins on the slim
    (subj, title) dim of the full stream (_subject_titles) — never the
    fact stream."""
    seed = titles.join(
        delta.select("subj").distinct(), "subj", "semi"
    ).select("title").distinct()
    return titles.join(seed, "title", "semi").select("subj").distinct()


def delta_forces_rebuild(base: DataFrame, delta: DataFrame) -> bool:
    """True when the delta invalidates globally (dependency classes 2-3):
    it carries a schema-ish predicate, a predicate the dims have never
    seen (its pred_title would be missing), or a NEW (pred, SMW-type)
    pair whose Property page no affected subject would re-render.
    Bounded limit(1) probes — collect-is-the-guard discipline. The
    (pred, type) inventory comes from base (one distinct-projection
    scan)."""
    if delta.filter(F.col("pred").isin(SCHEMA_PREDS)).limit(1).count() > 0:
        return True
    from rdf2smw_spark.functions.textnorm import sql_smw_type

    ty = F.expr(sql_smw_type("obj_is_iri", "obj_datatype"))
    d_pairs = delta.select("pred", ty.alias("__ty")).distinct()
    new_pairs = d_pairs.join(
        base.select("pred", ty.alias("__ty")).distinct(), ["pred", "__ty"], "anti"
    )
    return new_pairs.limit(1).count() > 0


def incremental_pages(
    spark: SparkSession,
    base: DataFrame,
    delta: DataFrame,
    full: DataFrame | None = None,
) -> DataFrame:
    """WikiPage rows for every page the delta touches, byte-identical
    to the same pages of a full rebuild over base ∪ delta (that identity
    IS the oracle of the registered query). Falls back transparently to
    the full conversion when the delta contains schema-ish predicates
    (dependency class 2 above) — detected with one limit(1) probe, the
    collect-is-the-guard discipline.

    full: when base and delta are DISJOINT filters of one frame, pass
    that frame to skip the union-of-two-filtered-scans plan (the
    registered query does this)."""
    from rdf2smw_spark.operators.convert import conversion_dims, triples_to_pages
    from rdf2smw_spark.session import scoped_persist

    # one persist shared by every full-stream consumer (stage B reads
    # the union twice — obj-title dim + enrichment; measured: skipping
    # the persist on the fast path RAISES wall time 14s -> 25s at sf0.1)
    full = scoped_persist(base.unionByName(delta) if full is None else full)
    # the rebuild probe must see the PREVIOUS state's inventory (base) —
    # never base ∪ delta, which would contain the delta's own novelties
    # and mask every rebuild
    if delta_forces_rebuild(base, delta):
        return triples_to_pages(spark, full, cache=False)
    # fast path established: dims(full) == dims(base), so ONE derivation
    # serves the title closure (st/bt) AND the restricted conversion —
    # without this, subject_types/best_titles were derived twice per
    # call (measured 22s -> 12s at sf0.001)
    dims = conversion_dims(spark, full, cache=True)
    subject_titles = scoped_persist(_subject_titles(full, dims[0], dims[1]))
    return triples_to_pages(
        spark,
        full,
        cache=False,
        only_subjects=affected_subjects(delta, subject_titles),
        dims=dims,
    )
