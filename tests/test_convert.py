"""Conversion semantics on micro-fixtures, mirroring the reference's
behavioral tests (tripleaggregator_test.go:25-112) plus the converter
semantics the reference never tested (SURVEY.md §5 gap)."""

import pytest
from pyspark.sql import functions as F

from rdf2smw_spark.operators.convert import triples_to_pages
from rdf2smw_spark.operators.dimensions import best_titles, class_depth, subject_types
from rdf2smw_spark.schemas import (
    DT_INTEGER,
    DT_STRING,
    SUBCLASS_PROPERTY_URI,
    TRIPLE_SCHEMA,
    TYPE_PROPERTY_URI,
    URI_TYPE_CLASS,
    URI_TYPE_PREDICATE,
    URI_TYPE_UNDEFINED,
)

RDF_TYPE = TYPE_PROPERTY_URI
SUBCLASS = SUBCLASS_PROPERTY_URI
OWL_CLASS = "http://www.w3.org/2002/07/owl#Class"
OWL_DT_PROP = "http://www.w3.org/2002/07/owl#DatatypeProperty"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
FOAF_NAME = "http://xmlns.com/foaf/0.1/name"


def _triples(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, iri, dt, None) for (s, p, o, iri, dt) in rows], TRIPLE_SCHEMA
    )


def test_subject_types_and_precedence(spark):
    t = _triples(
        spark,
        [
            ("http://e/P", RDF_TYPE, OWL_DT_PROP, True, None),
            ("http://e/C", RDF_TYPE, OWL_CLASS, True, None),
            ("http://e/both", RDF_TYPE, OWL_DT_PROP, True, None),
            ("http://e/both", RDF_TYPE, OWL_CLASS, True, None),
            ("http://e/none", "http://e/p", "v", False, DT_STRING),
        ],
    )
    m = {r["subj"]: r["uri_type"] for r in subject_types(t).collect()}
    assert m["http://e/P"] == URI_TYPE_PREDICATE
    assert m["http://e/C"] == URI_TYPE_CLASS
    assert m["http://e/both"] == URI_TYPE_PREDICATE  # pinned precedence
    assert "http://e/none" not in m


def test_best_title_priority(spark):
    # rdfs:label (rank 2) must beat foaf:name (rank 6)
    t = _triples(
        spark,
        [
            ("http://e/s", FOAF_NAME, "by name", False, DT_STRING),
            ("http://e/s", LABEL, "by label", False, DT_STRING),
            ("http://e/u", FOAF_NAME, "only name", False, DT_STRING),
        ],
    )
    m = {r["subj"]: r["raw_title"] for r in best_titles(t).collect()}
    assert m["http://e/s"] == "by label"
    assert m["http://e/u"] == "only name"


def test_class_depth_chain_and_cycle(spark):
    t = _triples(
        spark,
        [
            ("http://e/i", RDF_TYPE, "http://e/c1", True, None),
            ("http://e/c1", SUBCLASS, "http://e/c2", True, None),
            ("http://e/c2", SUBCLASS, "http://e/c3", True, None),
            # cycle — the reference recurses forever here; we must terminate
            ("http://e/x", RDF_TYPE, "http://e/a", True, None),
            ("http://e/a", SUBCLASS, "http://e/b", True, None),
            ("http://e/b", SUBCLASS, "http://e/a", True, None),
        ],
    )
    m = {r["uri"]: r["depth"] for r in class_depth(spark, t).collect()}
    assert m["http://e/c3"] == 0
    assert m["http://e/c2"] == 1
    assert m["http://e/c1"] == 2
    assert m["http://e/a"] >= 1  # cycle-bounded, terminates


def test_class_depth_fixpoint_agrees_with_dfs_on_acyclic(spark):
    """The guard path (collect_limit=0 forces the distributed fixpoint)
    must produce exactly the DFS answers on acyclic layers, and terminate
    with capped depths on cycles."""
    t = _triples(
        spark,
        [
            ("http://e/i", RDF_TYPE, "http://e/c1", True, None),
            ("http://e/c1", SUBCLASS, "http://e/c2", True, None),
            ("http://e/c2", SUBCLASS, "http://e/c3", True, None),
            ("http://e/c2", SUBCLASS, "http://e/c4", True, None),
            ("http://e/x", RDF_TYPE, "http://e/a", True, None),
            ("http://e/a", SUBCLASS, "http://e/b", True, None),
            ("http://e/b", SUBCLASS, "http://e/a", True, None),  # cycle
        ],
    )
    dfs = {r["uri"]: r["depth"] for r in class_depth(spark, t).collect()}
    fix = {r["uri"]: r["depth"] for r in class_depth(spark, t, max_depth=10, collect_limit=0).collect()}
    acyclic = {u for u in dfs if not u.endswith(("/a", "/b"))}
    assert {u: dfs[u] for u in acyclic} == {u: fix[u] for u in acyclic}
    # cycle members: DFS pins revisits to 0, the fixpoint saturates at the
    # cap — both terminate (the reference recurses forever here)
    assert fix["http://e/a"] <= 11 and fix["http://e/b"] <= 11


def test_class_depth_fixpoint_wide_layer_stays_distributed(spark):
    """A 100k-edge 'class layer' (adversarial web data: every URI used as
    a type object) runs through the fixpoint without collecting edges to
    the driver, converging in O(depth) = 3 iterations."""
    from pyspark.sql import functions as F

    from rdf2smw_spark.operators.dimensions import class_depth_fixpoint

    n = 100_000
    leaves = spark.range(n).select(
        F.concat(F.lit("http://e/leaf"), "id").alias("src"),
        F.concat(F.lit("http://e/mid"), (F.col("id") % 100)).alias("dst"),
    )
    mids = spark.range(100).select(
        F.concat(F.lit("http://e/mid"), "id").alias("src"),
        F.lit("http://e/root").alias("dst"),
    )
    m = {
        r["uri"]: r["depth"]
        for r in class_depth_fixpoint(spark, leaves.unionByName(mids), max_depth=10).collect()
    }
    assert m["http://e/root"] == 0
    assert m["http://e/mid0"] == 1
    assert m["http://e/leaf0"] == 2
    assert len(m) == n + 101


def test_full_conversion_semantics(spark):
    t = _triples(
        spark,
        [
            # instance with two categories of different depth
            ("http://e/i", RDF_TYPE, "http://e/deep", True, None),
            ("http://e/i", RDF_TYPE, "http://e/shallow", True, None),
            ("http://e/i", "http://e/age", "42", False, DT_INTEGER),
            ("http://e/i", LABEL, "The Thing", False, DT_STRING),
            ("http://e/deep", SUBCLASS, "http://e/super", True, None),
            ("http://e/deep", RDF_TYPE, OWL_CLASS, True, None),
            ("http://e/shallow", RDF_TYPE, OWL_CLASS, True, None),
            # predicate declared AND used
            ("http://e/age", RDF_TYPE, OWL_DT_PROP, True, None),
            # literal with qualifier to strip
            ("http://e/i", "http://e/note", "val (ns:q) end", False, DT_STRING),
        ],
    )
    pages = {r["title"]: r for r in triples_to_pages(spark, t, n_salt=4).collect()}

    thing = pages["The Thing"]
    assert thing["page_type"] == URI_TYPE_UNDEFINED
    # deep has 2 super-edges-chain, shallow has 1 -> specific = Deep
    assert thing["specific_category"] == "Deep"
    assert sorted(thing["categories"]) == ["Deep", "Shallow"]
    facts = {(f["property"], f["value"]) for f in thing["facts"]}
    assert ("Age", "42") in facts
    assert ("Note", "val end") in facts  # P2 strip
    assert ("Label", "The Thing") in facts
    assert ("Equivalent URI", "http://e/i") in facts

    age = pages["Property:Age"]
    assert age["page_type"] == URI_TYPE_PREDICATE
    age_facts = {(f["property"], f["value"]) for f in age["facts"]}
    assert ("Has type", "Number") in age_facts  # from xsd:integer observation
    assert ("Equivalent URI", "http://e/age") in age_facts  # merged subject page

    # predicate never appearing as subject still gets a Property page
    note = pages["Property:Note"]
    note_facts = {(f["property"], f["value"]) for f in note["facts"]}
    assert ("Has type", "Text") in note_facts
    assert not any(p == "Equivalent URI" for p, _ in note_facts)

    deep = pages["Category:Deep"]
    assert deep["page_type"] == URI_TYPE_CLASS


def test_fact_dedup_first_wins(spark):
    t = _triples(
        spark,
        [
            ("http://e/s", "http://e/p", "same", False, DT_STRING),
            ("http://e/s", "http://e/p", "same", False, DT_STRING),
            ("http://e/s", "http://e/p", "other", False, DT_STRING),
        ],
    )
    pages = {r["title"]: r for r in triples_to_pages(spark, t, n_salt=4).collect()}
    s = pages["S"]
    vals = [(f["property"], f["value"]) for f in s["facts"]]
    assert len(vals) == len(set(vals))  # AddFactUnique semantics
    assert ("P", "same") in vals and ("P", "other") in vals


def test_hot_subject_skew_stress(spark):
    """FIXTURES.md §8: one hot subject with 50k triples among 1k normal
    subjects — the salted two-phase aggregation must keep every distinct
    fact and agree with the unsalted plan. Data generated Spark-side
    (py4j row shipping would dominate), sizes asserted Spark-side."""
    hot = spark.range(50_000).selectExpr(
        "'http://e/hot' AS subj",
        "concat('http://e/p', id % 5) AS pred",
        "concat('v', id) AS obj",
        "false AS obj_is_iri",
        "'http://www.w3.org/2001/XMLSchema#string' AS obj_datatype",
        "CAST(NULL AS STRING) AS src_url",
    )
    cold = spark.range(1_000).selectExpr(
        "concat('http://e/s', id) AS subj",
        "'http://e/p0' AS pred",
        "concat('w', id) AS obj",
        "false AS obj_is_iri",
        "'http://www.w3.org/2001/XMLSchema#string' AS obj_datatype",
        "CAST(NULL AS STRING) AS src_url",
    )
    t = hot.unionByName(cold).repartition(16)
    pages = triples_to_pages(spark, t, n_salt=16, cache=True)
    sizes = {
        r["title"]: r["n"]
        for r in pages.select("title", F.size("facts").alias("n")).collect()
    }
    assert sizes["Hot"] == 50_001  # 50k distinct facts + Equivalent URI
    assert sizes["S42"] == 2
    # salted and unsalted plans agree on the hot page's fact set
    salted = pages.filter("title = 'Hot'").select(F.explode("facts").alias("f"))
    unsalted = (
        triples_to_pages(spark, t, n_salt=1, cache=False)
        .filter("title = 'Hot'")
        .select(F.explode("facts").alias("f"))
    )
    assert salted.exceptAll(unsalted).count() == 0
    assert unsalted.exceptAll(salted).count() == 0


def test_fused_subject_types_and_titles_equivalent(spark):
    """The fused one-shuffle dim (r6 optimization) must agree row-for-row
    with the separate subject_types groupBy and best_titles window on
    the pred-filtered slice, including subjects with only a type row or
    only a title row."""
    from pyspark.sql import functions as F

    from rdf2smw_spark.operators.dimensions import (
        best_titles,
        subject_types,
        subject_types_and_titles,
    )
    from rdf2smw_spark.schemas import (
        SUBCLASS_PROPERTY_URI,
        TITLE_PROPERTIES,
        TYPE_PROPERTY_URI,
    )
    from rdf2smw_spark.sources.testdata import testdata_triples

    t = testdata_triples(spark, "/root/testdata/sf0.001")
    dim_src = t.filter(
        F.col("pred").isin(
            TITLE_PROPERTIES + [TYPE_PROPERTY_URI, SUBCLASS_PROPERTY_URI]
        )
    )
    fused = subject_types_and_titles(dim_src)
    st = {(r.subj, r.uri_type) for r in subject_types(dim_src).collect()}
    bt = {(r.subj, r.raw_title) for r in best_titles(dim_src).collect()}
    got_st = {
        (r.subj, r.uri_type) for r in fused.collect() if r.uri_type is not None
    }
    got_bt = {
        (r.subj, r.raw_title) for r in fused.collect() if r.raw_title is not None
    }
    assert got_st == st
    assert got_bt == bt
