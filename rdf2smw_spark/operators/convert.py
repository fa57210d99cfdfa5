"""Triples → WikiPage records (reference converter, SURVEY.md §3.3).

Re-expresses TripleAggregateToWikiPageConverter.Run
(/root/reference/components/triplestowikipageconv.go:78-175) as a
relational plan:

  stage A (dims, cheap):   subject_types, best_titles, class_depth,
                           pred_titles, pred_smw_types
  stage B (one shuffle):   enrich the triple stream with broadcast dims,
                           then ONE salted groupBy(subj) assembling facts,
                           categories and the specific category
  stage C (tiny):          property-page merge (predPageIndex semantics,
                           :98-100,154-174) via full-outer join on title

Everything is pyspark.sql built-ins — the whole plan is Catalyst-visible,
whole-stage-codegen'd, and free of Python in the hot path.

Determinism pins vs the reference's arrival-order/map-order semantics
(SURVEY.md §4.3): facts and categories sorted lexicographically with
first-occurrence dedup; Equivalent URI appended last (as the reference
does); specific-category ties broken by min name among max depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf2smw_spark.session import scoped_local_checkpoint, scoped_persist

from rdf2smw_spark.functions.textnorm import sql_clean_literal, sql_smw_type
from rdf2smw_spark.operators.aggregate import dedup_sorted
from rdf2smw_spark.operators.dimensions import (
    class_depth,
    page_title_col,
    subject_types_and_titles,
)
from rdf2smw_spark.schemas import (
    SUBCLASS_PROPERTY_URI,
    TYPE_PROPERTY_URI,
    URI_TYPE_PREDICATE,
    URI_TYPE_UNDEFINED,
)

EQUIVALENT_URI_PROP = "Equivalent URI"  # triplestowikipageconv.go:148-150


def _coalesce_for_cache(df: DataFrame) -> DataFrame:
    """The bounded-ratio coalesce applied before each conversion cache:
    a cache re-read by ~10 downstream stages turns its partition count
    into pure per-stage scheduling overhead once partitions are small.
    The 12-branch union source inherits ~cores splits PER BRANCH from
    the files.minPartitionNum floor (measured: a 112-partition cache of
    5k-row partitions at sf0.1, ~0.3-0.5s of task-launch overhead per
    re-scan). Coalesce (no shuffle) to max(defaultParallelism, n/8):
    locally that is `cores` partitions; at scale the n/8 bound keeps
    partitions >= cores and at most 8x larger than the scan splits, so
    a 100 TB cache keeps ~GB partitions instead of collapsing to
    total-cores."""
    n = df.rdd.getNumPartitions()
    target = max(df.sparkSession.sparkContext.defaultParallelism, n // 8)
    return df.coalesce(target) if n > target else df


def conversion_dims(
    spark: SparkSession, triples: DataFrame, cache: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The five conversion dimensions (subject_types, best_titles,
    class_depth, pred_titles, pred_smw_types), derived from the full
    stream. Exposed so incremental_kg.incremental_pages derives them
    once and shares them between its title closure and the restricted
    conversion: every one is a pure function of the schema-ish
    predicate slice plus the predicate/SMW-type inventory, both of
    which delta_forces_rebuild probes, so a fast-path delta cannot
    change any of them.

    subject_types / best_titles / class_depth only read rdf:type,
    rdfs:subClassOf and the 6 title predicates — pre-filtered once so
    the three derivations scan a small cached frame instead of the full
    stream (at web scale: ~1 type edge + <1 title triple per entity vs
    dozens of fact triples)."""
    from rdf2smw_spark.schemas import TITLE_PROPERTIES

    dim_src = triples.filter(
        F.col("pred").isin(TITLE_PROPERTIES + [TYPE_PROPERTY_URI, SUBCLASS_PROPERTY_URI])
    )
    if cache:
        dim_src = scoped_persist(_coalesce_for_cache(dim_src))

    # ONE subj-keyed aggregation replaces the separate subject_types
    # groupBy + best_titles window over the same slice (guide §2.4);
    # null uri_type / raw_title rows carry the exact semantics the
    # absent rows had (every consumer left-joins + coalesces).
    stbt = subject_types_and_titles(dim_src)
    if cache:
        stbt = scoped_persist(stbt)
    st = stbt.select("subj", "uri_type")
    bt = stbt.select("subj", "raw_title")
    cd = class_depth(spark, dim_src)
    # ONE pred-keyed pass covers both predicate dims (was: a distinct()
    # for pred_titles plus a distinct+groupBy for pred_smw_types — two
    # more full-stream scans and three exchanges). collect_set drops
    # nulls and sort_array pins order, so has_types is byte-identical;
    # preds with no typed observation now carry [] instead of being
    # absent, which every consumer already coalesces to [].
    pred_inv = triples.groupBy("pred").agg(
        F.sort_array(
            F.collect_set(F.expr(sql_smw_type("obj_is_iri", "obj_datatype")))
        ).alias("has_types")
    )
    if cache:
        pred_inv = scoped_persist(pred_inv)
    pst = pred_inv
    pt = (
        pred_inv.select("pred")
        .join(bt, F.col("pred") == bt.subj, "left")
        .select("pred", page_title_col("raw_title", "pred").alias("pred_title"))
    )
    return st, bt, cd, pt, pst


def triples_to_pages(
    spark: SparkSession,
    triples: DataFrame,
    n_salt: int = 16,
    cache: bool = True,
    only_subjects: DataFrame | None = None,
    dims: tuple | None = None,
) -> DataFrame:
    """Full conversion pass. Returns the WikiPage DataFrame
    (title, page_type, facts, categories, specific_category).

    only_subjects: optional single-column `subj` frame restricting the
    EXPENSIVE half of the plan (stage B enrichment + the salted
    groupBy) to those subjects; all dimensions (types, titles, class
    depth, predicate titles/SMW types, property pages) are still
    derived from the FULL stream, so restricted pages are byte-
    identical to the same pages of an unrestricted run. This is the
    incremental-maintenance hook (operators/incremental_kg.py): at
    10^12 triples a 0.1% delta re-renders 0.1% of pages while the dim
    passes stay slim pred-filtered scans."""
    # The triple stream feeds five dimension derivations plus the main
    # enrichment — materialize it once instead of recomputing the source
    # plan per consumer (the reference's ResourceIndexFanOut D1 is
    # exactly this DAG-reuse, residxfanout.go:15-25). localCheckpoint
    # rather than persist (r6): a persist leaves the full source
    # subtree in every consumer's analyzed plan — with the 12-branch
    # union source, Catalyst re-analyzed ~300 KB of plan per conversion
    # (measured ~1.5s driver gap per query at sf0.1) — while the
    # checkpoint truncates lineage so every consumer plans against a
    # small scan. Same materialized footprint as the persist it
    # replaces; at cluster scale a 100 TB stream would instead be a
    # checkpointed table (plans/lineage).
    if cache:
        triples = scoped_local_checkpoint(_coalesce_for_cache(triples))

    if dims is None:
        dims = conversion_dims(spark, triples, cache=cache)
    st, bt, cd, pt, pst = dims

    # --- stage B: enrich + one salted groupBy(subj) -------------------------
    # Incremental restriction: stage B (and the obj-title dim, which only
    # needs the objects the restricted stream references) narrows to the
    # requested subjects; every other dim above reads the full stream.
    stream = triples
    if only_subjects is not None:
        from rdf2smw_spark.session import maybe_broadcast

        keys = maybe_broadcast(
            only_subjects.select("subj").distinct(), 5_000_000
        )
        stream = triples.join(keys, "subj", "semi")

    # Object titles are computed ONCE per distinct IRI (small dim), not
    # inline per triple: the title chain is a large expression (13
    # replaces + regexes + truncation fold) — evaluating it on the
    # distinct-URI dim keeps the stream-side stages small and cheap.
    objs = stream.filter(F.col("obj_is_iri")).select(F.col("obj").alias("__ouri")).distinct()
    obj_titles = objs.join(bt, objs.__ouri == bt.subj, "left").select(
        "__ouri", page_title_col("raw_title", "__ouri").alias("__otitle")
    )
    cd_obj = cd.select(F.col("uri").alias("__curi"), "depth")

    e = (
        stream.join(F.broadcast(pt), "pred")
        .join(F.broadcast(obj_titles), F.col("obj") == F.col("__ouri"), "left")
        .join(F.broadcast(cd_obj), F.col("obj") == F.col("__curi"), "left")
    )

    is_cat = F.col("pred").isin([TYPE_PROPERTY_URI, SUBCLASS_PROPERTY_URI])
    # Three term kinds (triplestowikipageconv.go:104-133): IRI -> resolved
    # wiki title; literal (obj_datatype set) -> cleaned lexical form;
    # blank node (neither) -> the reference's valueStr stays "" .
    value = (
        F.when(F.col("obj_is_iri"), F.col("__otitle"))
        .when(F.col("obj_datatype").isNotNull(), F.expr(sql_clean_literal("obj")))
        .otherwise(F.lit(""))
    )

    rows = e.select(
        "subj",
        F.when(~is_cat, F.struct(F.col("pred_title").alias("property"), value.alias("value")))
        .alias("fact"),
        F.when(is_cat, value).alias("cat"),
        # specific category: max depth wins, min name tiebreaks; depth==0
        # never qualifies (strict > against initial 0, :138)
        F.when(is_cat & (F.col("depth") > 0), F.struct((-F.col("depth")).alias("nd"), value.alias("name")))
        .alias("cat_sel"),
    )

    # two-phase salted aggregation against hot-subject skew: phase 1
    # groups by (subj, salt) so one famous entity's rows spread over
    # n_salt reducers with map-side partial collection; phase 2 merges
    # n_salt pre-built arrays per subject instead of every row. The
    # salt hashes the value, so output is stable across runs and
    # parallelism.
    if n_salt and n_salt > 1:
        salted = rows.withColumn(
            "__salt", F.pmod(F.hash(F.coalesce(F.col("fact.value"), F.col("cat"))), F.lit(n_salt))
        )
        partial = salted.groupBy("subj", "__salt").agg(
            F.collect_list("fact").alias("pf"),
            F.collect_list("cat").alias("pc"),
            F.min("cat_sel").alias("ps"),
        )
        agg = partial.groupBy("subj").agg(
            F.flatten(F.collect_list("pf")).alias("facts_raw"),
            F.flatten(F.collect_list("pc")).alias("cats_raw"),
            F.min("ps").alias("sel"),
        )
    else:
        agg = rows.groupBy("subj").agg(
            F.collect_list("fact").alias("facts_raw"),
            F.collect_list("cat").alias("cats_raw"),
            F.min("cat_sel").alias("sel"),
        )

    bt_subj = bt.select(F.col("subj").alias("__suri"), F.col("raw_title").alias("__sraw"))
    pages0 = (
        agg.join(st, "subj", "left")
        .join(F.broadcast(bt_subj), F.col("subj") == F.col("__suri"), "left")
        .withColumn("uri_type", F.coalesce(F.col("uri_type"), F.lit(URI_TYPE_UNDEFINED)))
        .withColumn("__deduped", dedup_sorted(F.sort_array(F.col("facts_raw"))))
        .withColumn(
            "__equiv",
            F.struct(
                F.lit(EQUIVALENT_URI_PROP).alias("property"), F.col("subj").alias("value")
            ),
        )
        .withColumn(
            # AddFactUnique for the Equivalent-URI fact: append last unless
            # an identical fact already exists (O(n) contains, not the
            # O(n^2) array_distinct — see aggregate.dedup_sorted)
            "facts",
            F.when(F.array_contains("__deduped", F.col("__equiv")), F.col("__deduped"))
            .otherwise(F.concat("__deduped", F.array("__equiv"))),
        )
        .withColumn("categories", dedup_sorted(F.sort_array(F.col("cats_raw"))))
        .withColumn("specific_category", F.col("sel.name"))
        .withColumn("title", page_title_col("__sraw", "subj", "uri_type"))
        .select("subj", "title", F.col("uri_type").alias("page_type"), "facts", "categories", "specific_category")
    )
    if cache:
        # pages0 feeds both the regular-page branch and the predicate-page
        # merge — persist to avoid running the aggregation twice.
        pages0 = scoped_persist(pages0)

    # --- stage C: property-page accumulation + merge (A3) --------------------
    # predPageIndex is keyed by page TITLE (:98), so same-title predicates
    # merge; 'Has type' facts from the whole stream come first.
    prop_base = (
        pt.join(pst, "pred", "left")
        .select(
            F.concat(F.lit("Property:"), F.col("pred_title")).alias("title"),
            F.coalesce(F.col("has_types"), F.array().cast("array<string>")).alias("has_types"),
        )
        .groupBy("title")
        .agg(dedup_sorted(F.sort_array(F.flatten(F.collect_list("has_types")))).alias("has_types"))
        .withColumn(
            "ht_facts",
            F.transform(
                "has_types",
                lambda t: F.struct(F.lit("Has type").alias("property"), t.alias("value")),
            ),
        )
        .select("title", "ht_facts")
    )

    subj_pred_pages = pages0.filter(F.col("page_type") == URI_TYPE_PREDICATE).select(
        F.col("title").alias("sp_title"), "facts", "categories", "specific_category"
    )
    if only_subjects is not None:
        # Restricted runs emit property pages ONLY for affected predicate
        # subjects (merged against the GLOBAL 'Has type' index, so those
        # pages are complete); unaffected property pages are by contract
        # unchanged — the caller (incremental_kg) guards that with a
        # predicate-novelty probe and rebuilds fully otherwise.
        prop_base = prop_base.join(
            subj_pred_pages.select(F.col("sp_title").alias("title")), "title", "semi"
        )
    empty_facts = F.array().cast("array<struct<property:string,value:string>>")
    merged_props = (
        prop_base.join(subj_pred_pages, prop_base.title == subj_pred_pages.sp_title, "full_outer")
        .select(
            F.coalesce(F.col("title"), F.col("sp_title")).alias("title"),
            F.lit(URI_TYPE_PREDICATE).alias("page_type"),
            # ht_facts is tiny (<=3 'Has type' rows) and subject facts are
            # already deduped — drop only cross-duplicates, O(3n)
            F.concat(
                F.coalesce(F.col("ht_facts"), empty_facts),
                F.filter(
                    F.coalesce(F.col("facts"), empty_facts),
                    lambda f: ~F.array_contains(F.coalesce(F.col("ht_facts"), empty_facts), f),
                ),
            ).alias("facts"),
            F.coalesce(F.col("categories"), F.array().cast("array<string>")).alias("categories"),
            F.col("specific_category"),
        )
    )

    regular = pages0.filter(F.col("page_type") != URI_TYPE_PREDICATE).select(
        "title", "page_type", "facts", "categories", "specific_category"
    )
    return regular.unionByName(merged_props)
