"""owl:sameAs resolution — the KG-construction step the reference never
needed (single-source input) but any multi-source web KG does: entities
arrive under several URIs (site mirrors, alt namespaces, dbpedia-vs-
wikidata ids) linked by owl:sameAs assertions, and every downstream pass
(aggregation, typing, page rendering) must see ONE canonical URI per
real-world entity.

Semantics: sameAs is symmetric and transitive, so canonicalization is
connected components over the sameAs edge set; the canonical URI of a
component is its lexicographically smallest member (deterministic at any
parallelism). The rewrite then maps subjects and IRI objects of every
non-sameAs triple through the component map; literals pass through.

Scale shape: the CC runs over |sameAs| edges only — a small fraction of
the corpus (alias links, not facts) — through operators/dedup.py:
dedup_clusters, here on string labels (driver union-find when the edge
list fits its guarded collect, hash-to-min + pointer doubling in
O(log diameter) rounds otherwise).
The rewrite is two joins against the component map, broadcast when the
map is small enough (maybe_broadcast, same 5M guard as fuzzy linking),
shuffle fallback otherwise — never a corpus self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

# Synthesized alias namespaces (mirror hosts for customers). Both sort
# BEFORE http://example.org/..., so the canonical URI of an aliased
# customer is its alt.example.org form — the rewrite is non-vacuous.
ALT_CUST = "http://alt.example.org/customer/"
ALT2_CUST = "http://mirror.example.org/customer/"

CANON_MAP_BROADCAST_LIMIT = 5_000_000  # rows; same guard class as fuzzy linking


def uri_components(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """(uri, canon): connected components over an undirected (a, b) URI
    edge list; canon = lexicographic MIN reachable URI. This is
    dedup_clusters over the edge endpoints — F.least, MIN and Python's
    str order all order strings the same way as DuckDB (binary
    collation / code point), so the labels are engine-portable. The
    edges are persisted (scoped) because both the node set and the CC
    read them."""
    from rdf2smw_spark.operators.dedup import dedup_clusters
    from rdf2smw_spark.session import scoped_persist

    pairs = scoped_persist(
        edges.select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    )
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    return dedup_clusters(nodes, pairs, max_iter).select(
        F.col("doc_id").alias("uri"), F.col("cluster_id").alias("canon")
    )


def sameas_canonicalize(
    triples: DataFrame, broadcast_limit: int = CANON_MAP_BROADCAST_LIMIT
) -> DataFrame:
    """Rewrite a triple stream through its own owl:sameAs assertions:
    CC over the sameAs edges, then subjects and IRI objects map to their
    component's canonical (min) URI. The sameAs triples themselves are
    consumed (they exist to be resolved, not rendered). Pure projection
    otherwise — the fact multiset is preserved, so two aliased sources
    asserting the same fact still yield two rows (dedup is a separate,
    explicit pass; see operators/aggregate.py first-wins)."""
    from rdf2smw_spark.session import maybe_broadcast, scoped_persist

    sa = triples.filter(
        (F.col("pred") == OWL_SAMEAS) & F.col("obj_is_iri")
    ).select(F.col("subj").alias("a"), F.col("obj").alias("b"))
    canon = scoped_persist(
        uri_components(sa).filter(F.col("uri") != F.col("canon"))
    )
    cmap = maybe_broadcast(canon, broadcast_limit)

    rest = triples.filter(F.col("pred") != OWL_SAMEAS)
    subj_fixed = (
        rest.join(cmap, rest["subj"] == cmap["uri"], "left")
        .select(
            F.coalesce("canon", "subj").alias("subj"),
            "pred",
            "obj",
            "obj_is_iri",
            "obj_datatype",
            "src_url",
        )
    )
    cmap2 = maybe_broadcast(canon, broadcast_limit)
    return (
        subj_fixed.join(
            cmap2,
            F.col("obj_is_iri") & (subj_fixed["obj"] == cmap2["uri"]),
            "left",
        )
        .select(
            "subj",
            "pred",
            F.coalesce("canon", "obj").alias("obj"),
            "obj_is_iri",
            "obj_datatype",
            "src_url",
        )
    )


def synth_sameas_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic alias assertions over the testdata customers:
    every 5th customer has an alt-host alias, every 10th additionally a
    second mirror alias CHAINED off the first (alt sameAs mirror, not
    cust sameAs mirror) — so closure must follow 2-hop paths and the
    component {cust, alt, mirror} canonicalizes to the alt URI."""
    from rdf2smw_spark.sources.testdata import CUST, _t, load_table

    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    src = "testdata://sameas"
    a = cust.filter(key % 5 == 0).select(
        *_t(F.concat(F.lit(CUST), key), OWL_SAMEAS, F.concat(F.lit(ALT_CUST), key), True, None, src)
    )
    b = cust.filter(key % 10 == 0).select(
        *_t(F.concat(F.lit(ALT_CUST), key), OWL_SAMEAS, F.concat(F.lit(ALT2_CUST), key), True, None, src)
    )
    return a.unionByName(b)


def synth_sameas_sql() -> str:
    """DuckDB twin of synth_sameas_triples (parenthesized subquery)."""
    from rdf2smw_spark.sources.testdata import CUST

    return f"""(
    SELECT '{CUST}' || c_custkey AS subj,
           '{OWL_SAMEAS}' AS pred,
           '{ALT_CUST}' || c_custkey AS obj,
           true AS obj_is_iri,
           CAST(NULL AS VARCHAR) AS obj_datatype,
           'testdata://sameas' AS src_url
    FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT '{ALT_CUST}' || c_custkey,
           '{OWL_SAMEAS}',
           '{ALT2_CUST}' || c_custkey,
           true, CAST(NULL AS VARCHAR), 'testdata://sameas'
    FROM customer WHERE c_custkey % 10 = 0
)"""


def sameas_canonicalize_sql(triples_sql: str) -> str:
    """DuckDB twin of sameas_canonicalize: recursive transitive closure
    (min reachable URI), then the two rewrite joins. `triples_sql` must
    be a parenthesized subquery containing the sameAs assertions."""
    return f"""
    WITH RECURSIVE
    t AS (SELECT * FROM {triples_sql}),
    sa AS (SELECT subj AS a, obj AS b FROM t
           WHERE pred = '{OWL_SAMEAS}' AND obj_is_iri),
    edges AS (SELECT a AS src, b AS dst FROM sa UNION ALL SELECT b, a FROM sa),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    canon AS (
        SELECT node AS uri, MIN(lbl) AS canon FROM reach GROUP BY node
        HAVING MIN(lbl) <> node
    )
    SELECT COALESCE(cs.canon, t.subj) AS subj,
           t.pred,
           CASE WHEN t.obj_is_iri THEN COALESCE(co.canon, t.obj)
                ELSE t.obj END AS obj,
           t.obj_is_iri, t.obj_datatype, t.src_url
    FROM t
    LEFT JOIN canon cs ON cs.uri = t.subj
    LEFT JOIN canon co ON t.obj_is_iri AND co.uri = t.obj
    WHERE t.pred <> '{OWL_SAMEAS}'
    """


# --- subClassOf transitive closure -------------------------------------------------

ZONE = "http://example.org/zone/"
WORLD = "http://example.org/class/World"


def synth_class_chain(spark, sf_dir):
    """Deterministic extra hierarchy levels over the testdata regions
    (region -> zone(r % 2) -> World), so the ancestor closure has 3-hop
    chains to traverse instead of the flat nation->region layer."""
    from rdf2smw_spark.schemas import SUBCLASS_PROPERTY_URI
    from rdf2smw_spark.sources.testdata import REGION, _t, load_table

    region = load_table(spark, sf_dir, "region")
    key = F.col("r_regionkey")
    src = "testdata://zones"
    a = region.select(
        *_t(F.concat(F.lit(REGION), key), SUBCLASS_PROPERTY_URI,
            F.concat(F.lit(ZONE), key % 2), True, None, src)
    )
    zones = region.select((key % 2).alias("z")).distinct()
    b = zones.select(
        *_t(F.concat(F.lit(ZONE), F.col("z")), SUBCLASS_PROPERTY_URI,
            F.lit(WORLD), True, None, src)
    )
    return a.unionByName(b)


def class_ancestors(triples, max_iter: int = 10):
    """(uri, ancestor, depth): the rdfs:subClassOf transitive closure
    with MINIMUM hop depth — the materialized path table SPARQL property
    paths (subClassOf+) and reasoners query against. The class layer (a
    sliver of the corpus) runs through rdfs' reachability loop: one
    frontier join + anti-join per round, O(hierarchy height) rounds,
    and real ontologies are shallow (<20)."""
    from rdf2smw_spark.operators.rdfs import (
        _schema_edges,
        _transitive_closure_distributed,
    )
    from rdf2smw_spark.schemas import SUBCLASS_PROPERTY_URI

    edges = _schema_edges(triples, SUBCLASS_PROPERTY_URI).distinct()
    return _transitive_closure_distributed(edges, max_iter).withColumnRenamed(
        "anc", "ancestor"
    )


def class_ancestors_sql(triples_sql: str) -> str:
    from rdf2smw_spark.schemas import SUBCLASS_PROPERTY_URI

    return f"""
    WITH RECURSIVE
    t AS (SELECT * FROM {triples_sql}),
    edges AS (
        SELECT DISTINCT subj AS uri, obj AS ancestor FROM t
        WHERE pred = '{SUBCLASS_PROPERTY_URI}' AND obj_is_iri
    ),
    reach(uri, ancestor, depth) AS (
        SELECT uri, ancestor, 1 FROM edges
        UNION
        SELECT r.uri, e.ancestor, r.depth + 1
        FROM reach r JOIN edges e ON e.uri = r.ancestor
    )
    SELECT uri, ancestor, CAST(MIN(depth) AS BIGINT) AS depth
    FROM reach GROUP BY uri, ancestor
    """


# --- graph-version diff ------------------------------------------------------------

def graph_diff(old, new):
    """(op, subj, pred, obj, obj_is_iri): triple-level CDC between two
    graph versions — 'add' for triples only in new, 'remove' for
    triples only in old. Two anti-joins on the full triple key; at
    100 TB both sides are bucketed snapshots of the same table so the
    anti-joins are bucket-local. Multiset semantics
    via distinct projection (the triple table is a set per the KG
    model)."""
    key = ["subj", "pred", "obj", "obj_is_iri"]
    o = old.select(*key).distinct()
    n = new.select(*key).distinct()
    added = n.join(o, key, "anti").select(F.lit("add").alias("op"), *key)
    removed = o.join(n, key, "anti").select(F.lit("remove").alias("op"), *key)
    return added.unionByName(removed)


def graph_diff_sql(old_sql: str, new_sql: str) -> str:
    return f"""
    WITH o AS (SELECT DISTINCT subj, pred, obj, obj_is_iri FROM {old_sql}),
    n AS (SELECT DISTINCT subj, pred, obj, obj_is_iri FROM {new_sql})
    SELECT 'add' AS op, * FROM (SELECT * FROM n EXCEPT SELECT * FROM o)
    UNION ALL
    SELECT 'remove' AS op, * FROM (SELECT * FROM o EXCEPT SELECT * FROM n)
    """


# --- blank-node skolemization (RDF 1.1 §3.5) ---------------------------------------

SKOLEM_PREFIX = "https://example.org/.well-known/genid/"


def skolemize(triples: DataFrame, prefix: str = SKOLEM_PREFIX) -> DataFrame:
    """Replace every blank node (subj starting '_:', or a non-IRI
    NULL-datatype object — the engine's third term kind, turtle.py
    term model) with a Skolem IRI per RDF 1.1 §3.5 well-known genid:
    ``<prefix> + md5(src_url ':' label)``. Labels are document-scoped
    (RDF spec), so the hash keys on (src_url, label) — the same label
    in two documents yields two IRIs, while every occurrence within a
    document converges on one. After skolemization the graph is
    blank-free: joins, sameAs canonicalization, SPARQL and the page
    pipeline all treat former blanks as ordinary IRIs, and results
    from different runs/partitions are directly comparable (the whole
    point of skolemizing before a distributed pipeline).

    Scale shape: pure map-side column expressions — no shuffle, no UDF."""

    def sk(label):
        return F.concat(
            F.lit(prefix), F.md5(F.concat_ws(":", F.col("src_url"), label))
        )

    blank_s = F.col("subj").startswith("_:")
    blank_o = (
        (~F.col("obj_is_iri"))
        & F.col("obj_datatype").isNull()
        & F.col("obj").startswith("_:")
    )
    rewritten = {
        "subj": F.when(blank_s, sk(F.col("subj"))).otherwise(F.col("subj")),
        "obj": F.when(blank_o, sk(F.col("obj"))).otherwise(F.col("obj")),
        "obj_is_iri": F.col("obj_is_iri") | blank_o,
    }
    return triples.select(
        *[rewritten[c].alias(c) if c in rewritten else F.col(c)
          for c in triples.columns]
    )


def skolemize_sql(triples_sql: str, prefix: str = SKOLEM_PREFIX) -> str:
    # concat_ws in BOTH engines: it skips NULL args (a NULL src_url
    # still yields a deterministic IRI), where '||' would propagate NULL
    sk = lambda col: f"'{prefix}' || md5(concat_ws(':', src_url, {col}))"  # noqa: E731
    return f"""
    SELECT CASE WHEN starts_with(subj, '_:') THEN {sk('subj')} ELSE subj END AS subj,
           pred,
           CASE WHEN NOT obj_is_iri AND obj_datatype IS NULL
                     AND starts_with(obj, '_:')
                THEN {sk('obj')} ELSE obj END AS obj,
           (obj_is_iri OR (NOT obj_is_iri AND obj_datatype IS NULL
                           AND starts_with(obj, '_:'))) AS obj_is_iri,
           obj_datatype, src_url
    FROM {triples_sql}
    """
