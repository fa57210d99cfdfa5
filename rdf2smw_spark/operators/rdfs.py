"""RDFS entailment materialization (the rho-df fragment).

The KG-construction step between extraction and serving: make the
triples the schema IMPLIES explicit, so downstream queries (BGPs,
property tables, page rendering) never need a reasoner in the read
path. Covers the instance-relevant RDFS rules:

  rdfs5   subPropertyOf transitivity            (schema layer)
  rdfs11  subClassOf transitivity               (schema layer)
  rdfs7   (x P y), P subP+ Q          -> (x Q y)
  rdfs2   (x P y), P domain C         -> (x type C)
  rdfs3   (x P y), P range C, y IRI   -> (y type C)
  rdfs9   (x type C), C subC+ D       -> (x type D)

The rule set STRATIFIES: close the two schema layers first, extend
property triples (rdfs7), apply domain/range to the extended set
(rdfs2/3 — so a domain declared on a SUPER-property fires through
rdfs7), then push every type triple up the closed class hierarchy
(rdfs9, which produces only type triples that feed no further rule
because the closure is already transitive). One pass, no instance-
layer fixpoint — the only iteration is over the schema layers,
O(hierarchy height) rounds on edge sets that are a sliver of the
corpus (reference analogue: the converter's recursive
countSuperCategories walk, triplestowikipageconv.go:278-292, which
this generalizes from category counting to full entailment).

Scale shape: subC+/subP+/domain/range are schema-sized — size-guarded
broadcasts against the instance side; the instance side is touched by
map-side joins only, never shuffled on a hot key. Output is the
DERIVED-ONLY delta (anti-join on the asserted triple key), i.e. the
MERGE source for maintaining a materialized-closure table.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.schemas import (
    SUBCLASS_PROPERTY_URI,
    TRIPLE_SCHEMA,
    TYPE_PROPERTY_URI,
)
from rdf2smw_spark.session import (
    fixpoint,
    guarded_collect,
    maybe_broadcast,
    scoped_persist,
    small_local_df,
)

SUBPROPERTY_URI = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
DOMAIN_URI = "http://www.w3.org/2000/01/rdf-schema#domain"
RANGE_URI = "http://www.w3.org/2000/01/rdf-schema#range"

# schema layers beyond this row count fall back to shuffle joins
# (same adversarial-input discipline as the fuzzy-link map)
SCHEMA_BROADCAST_LIMIT = 5_000_000


CLASS_CUSTOMER = "http://example.org/class/Customer"
CLASS_EVENT = "http://example.org/class/Event"
CLASS_AGENT = "http://example.org/class/Agent"

# Planted declarations for the registry query (the testdata graph
# asserts subClassOf but no subPropertyOf/domain/range): a 2-level
# property chain so rdfs5 and domain-through-superproperty both fire,
# a range whose class has its own superclass so rdfs3 feeds rdfs9,
# and a domain that re-derives an asserted type (exercising the
# derived-only anti-join non-vacuously).
_ONT = "http://example.org/onto#"
_ORDER_CLASS = "http://example.org/class/Order"
SYNTH_SCHEMA_TRIPLES: list[tuple] = [
    (_ONT + "customer", SUBPROPERTY_URI, _ONT + "participant", True, None, "testdata://rdfs"),
    (_ONT + "participant", SUBPROPERTY_URI, _ONT + "related", True, None, "testdata://rdfs"),
    (_ONT + "customer", DOMAIN_URI, _ORDER_CLASS, True, None, "testdata://rdfs"),
    (_ONT + "customer", RANGE_URI, CLASS_CUSTOMER, True, None, "testdata://rdfs"),
    (_ONT + "participant", DOMAIN_URI, CLASS_EVENT, True, None, "testdata://rdfs"),
    (CLASS_CUSTOMER, SUBCLASS_PROPERTY_URI, CLASS_AGENT, True, None, "testdata://rdfs"),
]


def synth_rdfs_schema(spark) -> DataFrame:
    return small_local_df(spark, SYNTH_SCHEMA_TRIPLES, TRIPLE_SCHEMA)


def synth_rdfs_schema_values_sql() -> str:
    """The same rows as a DuckDB VALUES relation in triple-column order."""
    rows = ", ".join(
        "('{}', '{}', '{}', {}, CAST(NULL AS VARCHAR), '{}')".format(
            s, p, o, "true" if i else "false", src
        )
        for (s, p, o, i, _d, src) in SYNTH_SCHEMA_TRIPLES
    )
    return (
        f"(SELECT * FROM (VALUES {rows}) AS "
        "v(subj, pred, obj, obj_is_iri, obj_datatype, src_url))"
    )


# Edge sets up to this size close on the driver (the class_depth
# guarded-collect discipline); larger sets use the distributed loop.
CLOSURE_COLLECT_LIMIT = 250_000
# Driver closures larger than this fall back mid-flight (a pathological
# dense graph can square a small edge set).
CLOSURE_PAIR_LIMIT = 5_000_000
_PAIR_SCHEMA = "uri string, anc string"


def _closure_pairs(
    edge_list: Iterable[tuple[str, str]], max_iter: int
) -> set[tuple[str, str]] | None:
    """Exact hop-capped reachability closure of driver-side edges:
    {(u, v): v reachable from u in <= max_iter+1 edges} — the same
    set the distributed frontier loop produces. Returns None when the
    closure exceeds CLOSURE_PAIR_LIMIT (pathologically dense)."""
    adj: dict[str, list[str]] = {}
    for u, a in edge_list:
        adj.setdefault(u, []).append(a)
    pairs: set[tuple[str, str]] = set()
    cap = max_iter + 1
    for src in adj:
        seen = {src}
        frontier = [src]
        d = 0
        while frontier and d < cap:
            d += 1
            nxt = []
            for node in frontier:
                for m in adj.get(node, ()):
                    if m not in seen:
                        seen.add(m)
                        nxt.append(m)
                        pairs.add((src, m))
                    elif m == src:
                        # cycle back to the source: (src, src) is in the
                        # closure; no re-expansion needed (anything
                        # on/past the cycle was reached on a shorter
                        # path already explored)
                        pairs.add((src, src))
            frontier = nxt
        if len(pairs) > CLOSURE_PAIR_LIMIT:
            return None
    return pairs


def _transitive_closure(edges: DataFrame, max_iter: int) -> DataFrame:
    """(uri, anc) reachability closure of an edge frame, bounded at
    max_iter+1 hops (the distributed path also carries its `depth`
    column).

    Schema layers are tiny in any curated ontology (10^3-10^5 edges
    against 10^12 instance triples), so the default path collects the
    edge set — guarded by a limit probe, the class_depth discipline —
    and runs an exact hop-capped BFS on the driver: ONE Spark job
    instead of ~3 per frontier round (measured: the per-round
    localCheckpoint + limit-probe jobs dominated kg_rdfs_entailed at
    bench scale, 80 jobs/query). Oversized or adversarially dense
    layers fall back to the distributed frontier iteration; both paths
    yield exactly {(u, v): v reachable from u in <= max_iter+1 edges}."""
    edges = edges.distinct()
    pdf = guarded_collect(edges, CLOSURE_COLLECT_LIMIT)
    if pdf is not None:
        pairs = _closure_pairs(list(zip(pdf["uri"], pdf["anc"])), max_iter)
        if pairs is not None:
            return small_local_df(edges.sparkSession, sorted(pairs), _PAIR_SCHEMA)
    return _transitive_closure_distributed(edges, max_iter)


def _transitive_closure_distributed(edges: DataFrame, max_iter: int) -> DataFrame:
    """(uri, anc, depth): the reachability closure of a distinct
    (uri, anc) edge frame, bounded at max_iter+1 hops, with each pair's
    MINIMUM hop count — the one semi-naive frontier loop behind the
    distributed schema closures and sameas.class_ancestors. Each round
    extends only the last round's pairs (the `new` flag) by one edge and
    keeps those not yet in the closure; every frontier row of round k
    has depth k + 1, so a pair's first depth is its minimum and the
    dedup on (uri, anc) is exact."""
    edges = edges.persist()
    up = edges.select(F.col("uri").alias("anc"), F.col("anc").alias("__up"))

    def step(closure: DataFrame):
        fresh = (
            closure.filter("new")
            .join(up, "anc")
            .select("uri", F.col("__up").alias("anc"), (F.col("depth") + 1).alias("depth"))
            .join(closure.select("uri", "anc"), ["uri", "anc"], "anti")
            .distinct()
        )
        return closure.select(
            "uri", "anc", "depth", F.lit(False).alias("new")
        ).unionByName(fresh.withColumn("new", F.lit(True))), F.col("new")

    init = edges.withColumn("depth", F.lit(1).cast("long")).withColumn("new", F.lit(True))
    closure, _ = fixpoint(init, step, max_iter)
    edges.unpersist()
    return closure.drop("new")


SCHEMA_PREDS = (SUBCLASS_PROPERTY_URI, SUBPROPERTY_URI, DOMAIN_URI, RANGE_URI)
# the layers closed transitively (rdfs11, rdfs5) before any rule reads them
_CLOSED_PREDS = (SUBCLASS_PROPERTY_URI, SUBPROPERTY_URI)
# predicates a derived triple can carry besides a subPropertyOf ancestor
_FIXED_DERIVED_PREDS = (TYPE_PROPERTY_URI, SUBCLASS_PROPERTY_URI, SUBPROPERTY_URI)


def _schema_edges(src: DataFrame, pred_uri: str) -> DataFrame:
    return src.filter((F.col("pred") == pred_uri) & F.col("obj_is_iri")).select(
        F.col("subj").alias("uri"), F.col("obj").alias("anc")
    )


def _schema_layers(src: DataFrame, max_iter: int) -> list[tuple]:
    """The four schema layers of `src` in SCHEMA_PREDS order, each as
    (frame, driver-side pairs): subClassOf and subPropertyOf closed,
    domain and range as asserted.

    ONE predicate-pushed probe pulls all four layers — four separate
    guarded collects each re-scanned the raw corpus (~1s apiece at
    sf0.1, guide §2.4: don't repeat passes whose union is one
    predicate-pushed scan). When it fits, every layer is a local frame
    with its pairs on the driver, except a closure denser than
    CLOSURE_PAIR_LIMIT, which runs the distributed loop. An oversized
    probe takes the per-layer paths (each closure through its own
    guard), and every layer's pairs are None: the driver composes no
    action table from them."""
    spark = src.sparkSession
    probe = guarded_collect(
        src.filter(F.col("pred").isin(list(SCHEMA_PREDS)) & F.col("obj_is_iri"))
        .select("pred", "subj", "obj"),
        CLOSURE_COLLECT_LIMIT,
    )
    layers = []
    for pred_uri in SCHEMA_PREDS:
        closed = pred_uri in _CLOSED_PREDS
        if probe is None:
            edges = _schema_edges(src, pred_uri)
            df = _transitive_closure(edges, max_iter) if closed else edges.distinct()
            layers.append((df, None))
            continue
        sel = probe[probe["pred"] == pred_uri]
        pairs = set(zip(sel["subj"], sel["obj"]))
        if closed:
            pairs = _closure_pairs(pairs, max_iter)
        if pairs is None:  # dense closure blow-up
            df = _transitive_closure_distributed(
                _schema_edges(src, pred_uri).distinct(), max_iter
            )
        else:
            df = small_local_df(spark, sorted(pairs), _PAIR_SCHEMA)
        layers.append((df, pairs))
    return layers


def _rule_cols(subj: str, pred: str, rule: str) -> list:
    """Conclusion columns of a rule with a constant predicate and the
    schema layer's `anc` as IRI object."""
    return [
        F.col(subj).alias("subj"), F.lit(pred).alias("pred"),
        F.col("anc").alias("obj"), F.lit(True).alias("obj_is_iri"),
        F.lit(rule).alias("rule"),
    ]


# Driver-composed action tables beyond this row count are composed with
# DataFrame joins instead (a pathological schema can square dom x subc);
# a composed table beyond it is shuffle-joined, not broadcast.
ACTION_TABLE_LIMIT = 2_000_000
_ACTION_SCHEMA = "pred string, kind string, arg string, rule string"


def _fused_actions(subc_pairs, subp_pairs, dom_edges, rng_edges):
    """Compose, per predicate, every rule consequence the schema layers
    imply — rdfs7 (subp ancestors), rdfs2/rdfs3 through superproperties,
    and rdfs9 over the d2/d3-derived types — into (pred, kind, arg) ->
    min rule tag. Returns None when the composition exceeds
    ACTION_TABLE_LIMIT."""
    adjs: tuple[dict[str, set[str]], ...] = ({}, {}, {}, {})
    for adj, edges in zip(adjs, (subc_pairs, subp_pairs, dom_edges, rng_edges)):
        for u, a in edges:
            adj.setdefault(u, set()).add(a)
    subc_adj, subp_adj, dom_map, rng_map = adjs

    acts: dict[tuple[str, str, str], str] = {}

    def _act(p: str, kind: str, arg: str, rule: str) -> None:
        k = (p, kind, arg)
        r = acts.get(k)
        if r is None or rule < r:
            acts[k] = rule

    preds = set(subp_adj) | set(dom_map) | set(rng_map)
    for p in preds:
        ancs = subp_adj.get(p, set())
        for q in ancs:
            _act(p, "d7", q, "rdfs7")
        for q in {p} | ancs:
            for c in dom_map.get(q, ()):
                _act(p, "dom", c, "rdfs2")
                for d in subc_adj.get(c, ()):
                    _act(p, "dom", d, "rdfs9")
            for c in rng_map.get(q, ()):
                _act(p, "rng", c, "rdfs3")
                for d in subc_adj.get(c, ()):
                    _act(p, "rng", d, "rdfs9")
        if len(acts) > ACTION_TABLE_LIMIT:
            return None
    return acts


def _composed_actions(layers: list[tuple]) -> DataFrame:
    """_fused_actions' table as (pred, kind, arg, rule) rows, composed
    with DataFrame joins over _schema_layers' frames: for a schema the
    driver does not hold, or whose table is over ACTION_TABLE_LIMIT."""
    subc, subp, dom, rng = (df.select("uri", "anc") for df, _ in layers)
    # a predicate reaches the domains/ranges of its subp ancestors and
    # its own (identity pairs over the dom/rng keys)
    reach = subp.select(F.col("uri").alias("pred"), F.col("anc").alias("q")).unionByName(
        dom.unionByName(rng).select(F.col("uri").alias("pred"), F.col("uri").alias("q"))
    )
    d7 = subp.select(
        F.col("uri").alias("pred"), F.lit("d7").alias("kind"),
        F.col("anc").alias("arg"), F.lit("rdfs7").alias("rule"),
    )
    d2, d3 = (
        reach.join(layer.select(F.col("uri").alias("q"), F.col("anc").alias("arg")), "q")
        .select("pred", F.lit(kind).alias("kind"), "arg", F.lit(rule).alias("rule"))
        for layer, kind, rule in ((dom, "dom", "rdfs2"), (rng, "rng", "rdfs3"))
    )
    types = d2.unionByName(d3)
    d9 = types.join(
        subc.select(F.col("uri").alias("arg"), F.col("anc").alias("up")), "arg"
    ).select("pred", "kind", F.col("up").alias("arg"), F.lit("rdfs9").alias("rule"))
    return (
        d7.unionByName(types).unionByName(d9)
        .groupBy("pred", "kind", "arg")
        .agg(F.min("rule").alias("rule"))
    )


def _rule_plan(spark, layers: list[tuple]):
    """-> (action table, subClassOf join side, derivable) for
    _apply_rules. The table is composed on the driver when every layer's
    pairs are there and it fits ACTION_TABLE_LIMIT, else by
    _composed_actions (persisted: the applier and `derivable` both read
    it). `derivable(df)` narrows a triple frame to the predicates a
    derived triple can carry (the d7 args and _FIXED_DERIVED_PREDS), so
    the "already asserted?" anti-join probes a schema-bounded slice."""
    subc, subc_pairs = layers[0]
    pairs = [p for _, p in layers]
    acts = _fused_actions(*pairs) if all(p is not None for p in pairs) else None
    if acts is not None:
        act_df = small_local_df(
            spark, sorted((p, k, a, r) for (p, k, a), r in acts.items()), _ACTION_SCHEMA
        )
        preds = sorted({a for (_, k, a) in acts if k == "d7"} | set(_FIXED_DERIVED_PREDS))
        return (
            F.broadcast(act_df), F.broadcast(subc),
            lambda df: df.filter(F.col("pred").isin(preds)),
        )
    act_df = scoped_persist(_composed_actions(layers))
    pred_df = (
        act_df.filter(F.col("kind") == "d7").select(F.col("arg").alias("pred"))
        .unionByName(
            small_local_df(spark, [(p,) for p in _FIXED_DERIVED_PREDS], "pred string")
        )
        .distinct()
    )
    return (
        maybe_broadcast(act_df, ACTION_TABLE_LIMIT),
        F.broadcast(subc) if subc_pairs is not None
        else maybe_broadcast(subc, SCHEMA_BROADCAST_LIMIT),
        lambda df: df.join(F.broadcast(pred_df), "pred", "semi"),
    )


def _apply_rules(rows: DataFrame, acts: DataFrame, subc: DataFrame) -> DataFrame:
    """The instance-side rule applier: rule-tagged derivations of `rows`
    (subj, pred, obj, obj_is_iri), several per triple where several
    rules reach it (callers keep the min rule per triple).

    The action table holds, per PREDICATE, every consequence the closed
    schema gives a triple on it: d7 (rdfs7, the triple under a subp
    ancestor), dom/rng (rdfs2/rdfs3 through the predicate or an
    ancestor, typing the subject / IRI object) and their rdfs9 lifts up
    subC+. So one join on `pred` applies the stratified chain rdfs7 ->
    rdfs2/3 -> rdfs9 with the tags the chain gives, and an ASSERTED
    rdf:type climbs `subc` in the second join (rdfs9): the instance rows
    are read twice, whatever the schema."""
    d7, rng = F.col("kind") == "d7", F.col("kind") == "rng"
    d_pred = rows.join(acts, "pred").filter(~rng | F.col("obj_is_iri")).select(
        F.when(rng, F.col("obj")).otherwise(F.col("subj")).alias("subj"),
        F.when(d7, F.col("arg")).otherwise(F.lit(TYPE_PROPERTY_URI)).alias("pred"),
        F.when(d7, F.col("obj")).otherwise(F.col("arg")).alias("obj"),
        F.when(d7, F.col("obj_is_iri")).otherwise(F.lit(True)).alias("obj_is_iri"),
        "rule",
    )
    d9a = (
        rows.filter((F.col("pred") == TYPE_PROPERTY_URI) & F.col("obj_is_iri"))
        .join(subc, rows.obj == subc.uri)
        .select(*_rule_cols("subj", TYPE_PROPERTY_URI, "rdfs9"))
    )
    return d_pred.unionByName(d9a)


def _min_rule(rules: DataFrame) -> DataFrame:
    return rules.groupBy("subj", "pred", "obj", "obj_is_iri").agg(
        F.min("rule").alias("rule")
    )


def rdfs_entail(triples: DataFrame, max_iter: int = 10) -> DataFrame:
    """-> (subj, pred, obj, obj_is_iri, rule): the triples RDFS
    entails but the graph does not assert, tagged with the
    lexicographically-first rule that derives each (deterministic at
    any parallelism). Input is the standard triple frame.

    The closed schema layers give the rdfs11/rdfs5 rows; _apply_rules
    over the whole graph gives the instance rows; what the graph asserts
    on a derivable predicate is anti-joined away. The instance corpus is
    read three times: the action join, the asserted-type join and the
    anti-join probe."""
    # base feeds the applier's two joins plus the final anti-join:
    # persist the PROJECTION, not a distinct() of it — the full-corpus
    # distinct is a shuffle whose only effect (set semantics) the
    # min-rule groupBy re-establishes anyway; duplicate asserted triples
    # merely repeat broadcast-join probes (measured: dropping it removes
    # one ~|corpus| shuffle from the critical path)
    base = scoped_persist(triples.select("subj", "pred", "obj", "obj_is_iri"))
    layers = _schema_layers(triples, max_iter)
    acts, subc_side, derivable = _rule_plan(triples.sparkSession, layers)
    (subc, _), (subp, _) = layers[:2]
    derived = _min_rule(
        _apply_rules(base, acts, subc_side)
        .unionByName(subc.select(*_rule_cols("uri", SUBCLASS_PROPERTY_URI, "rdfs11")))
        .unionByName(subp.select(*_rule_cols("uri", SUBPROPERTY_URI, "rdfs5")))
    )
    return derived.join(
        derivable(base).select("subj", "pred", "obj"), ["subj", "pred", "obj"], "anti"
    )


def rdfs_entail_incremental(
    base: DataFrame,
    delta: DataFrame,
    entailed_base: DataFrame,
    max_iter: int = 10,
) -> DataFrame:
    """Semi-naive maintenance of the entailment delta under NEW triples:
    when the delta is instance-only, the closed schema layers are
    unchanged, so rdfs_entail's rule applier (rdfs7 -> 2/3 -> 9, one
    action-table join) needs to run over the DELTA rows only — the rules
    are per-triple monotone, so entail(base ∪ delta) = entail(base) ∪
    apply(delta) and the cost scales with the delta, not the corpus. A
    delta that touches any schema predicate (subClassOf, subPropertyOf,
    domain, range) changes the closures themselves and falls back to
    the full recompute (the incremental_kg probe discipline: a bounded
    limit(1) existence check, never a full scan of the delta).

    `entailed_base` is the MAINTAINED derived table (rdfs_entail(base)),
    so the fast path does no base-corpus entailment work (the table is
    touched only by a delta-restricted semi + anti join).

    Returns the derived-only rows ADDED by the delta — the MERGE
    source. Exactness contract pytested against the full recompute."""
    both = base.unionByName(delta)
    spo = ["subj", "pred", "obj"]
    schema_edge = F.col("pred").isin(*SCHEMA_PREDS) & F.col("obj_is_iri")
    if delta.filter(schema_edge).limit(1).count() > 0:
        # schema changed: closures differ — only the full recompute is
        # sound (an entailment can even DISAPPEAR only under deletes,
        # never here, but new schema edges re-derive across the corpus)
        return rdfs_entail(both, max_iter).join(entailed_base.select(*spo), spo, "anti")
    acts, subc_side, derivable = _rule_plan(base.sparkSession, _schema_layers(base, max_iter))
    rows = delta.select("subj", "pred", "obj", "obj_is_iri")
    derived = _min_rule(_apply_rules(rows, acts, subc_side))
    # subtract what base∪delta asserts AND what base already entailed;
    # the maintained table is restricted by semi-join to the rows this
    # delta could re-derive before the anti (slim probe, no full scan
    # shipped)
    old_derived = entailed_base.join(derived.select(*spo), spo, "semi")
    return derived.join(derivable(both).select(*spo), spo, "anti").join(
        old_derived.select(*spo), spo, "anti"
    )


OWL_INVERSE_URI = "http://www.w3.org/2002/07/owl#inverseOf"
OWL_SYMMETRIC_URI = "http://www.w3.org/2002/07/owl#SymmetricProperty"
OWL_TRANSITIVE_URI = "http://www.w3.org/2002/07/owl#TransitiveProperty"

OWL_MAX_ITER = 8  # transitive step SQUARES path length: covers 2^8 hops

# Planted declarations for the registry query: subClassOf declared
# transitive (it IS — the closure materializes the class chains the
# synth zones provide), an inverse for the order->customer edge, and a
# symmetric adjacency ring over the nations (edges synthesized from
# the nation table in the query).
SYNTH_OWL_TRIPLES: list[tuple] = [
    (SUBCLASS_PROPERTY_URI, TYPE_PROPERTY_URI, OWL_TRANSITIVE_URI, True, None, "testdata://owl"),
    (_ONT + "customer", OWL_INVERSE_URI, _ONT + "customerOf", True, None, "testdata://owl"),
    (_ONT + "adjacentTo", TYPE_PROPERTY_URI, OWL_SYMMETRIC_URI, True, None, "testdata://owl"),
]


def synth_owl_schema(spark) -> DataFrame:
    return small_local_df(spark, SYNTH_OWL_TRIPLES, TRIPLE_SCHEMA)


def synth_owl_schema_values_sql() -> str:
    rows = ", ".join(
        "('{}', '{}', '{}', {}, CAST(NULL AS VARCHAR), '{}')".format(
            s, p, o, "true" if i else "false", src
        )
        for (s, p, o, i, _d, src) in SYNTH_OWL_TRIPLES
    )
    return (
        f"(SELECT * FROM (VALUES {rows}) AS "
        "v(subj, pred, obj, obj_is_iri, obj_datatype, src_url))"
    )


def owl_entail(triples: DataFrame, max_iter: int = OWL_MAX_ITER) -> DataFrame:
    """OWL-lite property entailment: owl:inverseOf (both directions),
    owl:SymmetricProperty, owl:TransitiveProperty, iterated to a joint
    fixpoint (the rules FEED each other: the inverse of a transitive
    property's closure edge is again subject to the inverse's own
    declarations). -> derived-only (subj, pred, obj, obj_is_iri=true).

    Scale shape: the loop runs over the RELEVANT edge set only —
    triples whose pred carries any declaration, plus what the rules
    derive — never the whole corpus; declaration frames are schema-
    sized broadcasts. The transitive step self-joins the closure, so
    path length doubles per round (pointer-doubling bound: max_iter=8
    reaches 2^8-hop chains). Only IRI-object triples participate
    (object properties by definition).

    r6: when the relevant edge set fits the guarded-collect limit the
    joint fixpoint runs on the DRIVER (one probe for declarations, one
    for relevant edges) — the distributed loop cost ~6 jobs PER ROUND
    (measured 25s at sf0.01 for a KB-sized closure); the driver mirror
    reproduces the same bounded-round semantics exactly (pytested
    against the distributed path) and falls back when either collect
    overflows or the closure blows past CLOSURE_PAIR_LIMIT."""
    local = _owl_entail_local(triples, max_iter)
    if local is not None:
        return local
    decls = triples.filter(F.col("obj_is_iri"))
    inv_fwd = decls.filter(F.col("pred") == OWL_INVERSE_URI).select(
        F.col("subj").alias("p"), F.col("obj").alias("q")
    )
    inv = inv_fwd.unionByName(
        inv_fwd.select(F.col("q").alias("p"), F.col("p").alias("q"))
    ).distinct()
    sym = (
        decls.filter(
            (F.col("pred") == TYPE_PROPERTY_URI)
            & (F.col("obj") == OWL_SYMMETRIC_URI)
        )
        .select(F.col("subj").alias("p"))
        .distinct()
    )
    trans = (
        decls.filter(
            (F.col("pred") == TYPE_PROPERTY_URI)
            & (F.col("obj") == OWL_TRANSITIVE_URI)
        )
        .select(F.col("subj").alias("p"))
        .distinct()
    )
    b_inv = maybe_broadcast(inv, SCHEMA_BROADCAST_LIMIT)
    b_sym = maybe_broadcast(sym, SCHEMA_BROADCAST_LIMIT)
    b_trans = maybe_broadcast(trans, SCHEMA_BROADCAST_LIMIT)

    relevant = (
        inv.select("p")
        .unionByName(sym)
        .unionByName(trans)
        .distinct()
        .withColumnRenamed("p", "pred")
    )
    base = (
        triples.filter(F.col("obj_is_iri"))
        .join(maybe_broadcast(relevant, SCHEMA_BROADCAST_LIMIT), "pred", "semi")
        .select("subj", "pred", "obj")
        .distinct()
        .persist()
    )
    spo = ["subj", "pred", "obj"]

    def step(closure: DataFrame):
        d_inv = closure.join(b_inv, closure.pred == b_inv.p).select(
            F.col("obj").alias("subj"), F.col("q").alias("pred"),
            F.col("subj").alias("obj"),
        )
        d_sym = closure.join(b_sym, closure.pred == b_sym.p, "semi").select(
            F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj")
        )
        t_edges = closure.join(b_trans, closure.pred == b_trans.p, "semi")
        d_trans = t_edges.alias("l").join(
            t_edges.alias("r"),
            (F.col("l.obj") == F.col("r.subj")) & (F.col("l.pred") == F.col("r.pred")),
        ).select(F.col("l.subj").alias("subj"), F.col("l.pred").alias("pred"),
                 F.col("r.obj").alias("obj"))
        stepped = d_inv.unionByName(d_sym).unionByName(d_trans).distinct()
        fresh = stepped.join(closure.select(*spo), spo, "anti")
        return closure.select(*spo, "derived", F.lit(False).alias("new")).unionByName(
            fresh.withColumn("derived", F.lit(True)).withColumn("new", F.lit(True))
        ), F.col("new")

    init = base.withColumn("derived", F.lit(False)).withColumn("new", F.lit(False))
    closure, _ = fixpoint(init, step, max_iter)
    base.unpersist()
    return closure.filter("derived").select(*spo, F.lit(True).alias("obj_is_iri"))


def _owl_entail_local(triples: DataFrame, max_iter: int) -> DataFrame | None:
    """Driver-side mirror of owl_entail's joint fixpoint, or None when
    a guard trips. Semantics are identical to the distributed loop by
    construction: same relevant-edge base, same per-round
    inverse/symmetric/transitive step over the WHOLE closure, same
    early break when a round adds nothing, same round bound."""
    # probe 1: the declaration layer (schema-sized)
    decl_pdf = guarded_collect(
        triples.filter(
            F.col("obj_is_iri")
            & (
                (F.col("pred") == OWL_INVERSE_URI)
                | (
                    (F.col("pred") == TYPE_PROPERTY_URI)
                    & F.col("obj").isin([OWL_SYMMETRIC_URI, OWL_TRANSITIVE_URI])
                )
            )
        ).select("subj", "pred", "obj"),
        CLOSURE_COLLECT_LIMIT,
    )
    if decl_pdf is None:
        return None
    inv: dict[str, set[str]] = {}
    sym: set[str] = set()
    trans: set[str] = set()
    for s, p, o in zip(decl_pdf["subj"], decl_pdf["pred"], decl_pdf["obj"]):
        if p == OWL_INVERSE_URI:
            inv.setdefault(s, set()).add(o)
            inv.setdefault(o, set()).add(s)
        elif o == OWL_SYMMETRIC_URI:
            sym.add(s)
        else:
            trans.add(s)
    relevant = set(inv) | sym | trans
    if not relevant:
        spark = triples.sparkSession
        return small_local_df(
            spark, [], "subj string, pred string, obj string, obj_is_iri boolean"
        )
    # probe 2: the relevant edge set (guarded — corpus-sized on
    # adversarial data, where the distributed loop takes over)
    base_pdf = guarded_collect(
        triples.filter(F.col("obj_is_iri") & F.col("pred").isin(sorted(relevant)))
        .select("subj", "pred", "obj"),
        CLOSURE_COLLECT_LIMIT,
    )
    if base_pdf is None:
        return None
    base = set(zip(base_pdf["subj"], base_pdf["pred"], base_pdf["obj"]))
    closure = set(base)
    for _ in range(max_iter):
        stepped: set[tuple[str, str, str]] = set()
        adj: dict[tuple[str, str], list[str]] = {}
        for s, p, o in closure:
            if p in trans:
                adj.setdefault((p, s), []).append(o)
        for s, p, o in closure:
            for q in inv.get(p, ()):
                stepped.add((o, q, s))
            if p in sym:
                stepped.add((o, p, s))
            if p in trans:
                for o2 in adj.get((p, o), ()):
                    stepped.add((s, p, o2))
        fresh = stepped - closure
        if not fresh:
            break
        closure |= fresh
        if len(closure) > CLOSURE_PAIR_LIMIT:
            return None
    derived = sorted(closure - base)
    return small_local_df(
        triples.sparkSession,
        [(s, p, o, True) for s, p, o in derived],
        "subj string, pred string, obj string, obj_is_iri boolean",
    )


def owl_entail_sql(triples_sql: str, max_iter: int = OWL_MAX_ITER) -> str:
    """DuckDB twin: the SAME bounded iteration unrolled into chained
    CTEs (both engines reach the joint fixpoint; extra unrolled steps
    past convergence add nothing, so early-break vs full unroll agree)."""
    ctes = [
        f"t AS MATERIALIZED (SELECT * FROM {triples_sql})",
        "invf AS (SELECT DISTINCT subj AS p, obj AS q FROM t"
        f" WHERE pred = '{OWL_INVERSE_URI}' AND obj_is_iri)",
        "inv AS MATERIALIZED (SELECT p, q FROM invf UNION SELECT q, p FROM invf)",
        "sym AS MATERIALIZED (SELECT DISTINCT subj AS p FROM t"
        f" WHERE pred = '{TYPE_PROPERTY_URI}' AND obj = '{OWL_SYMMETRIC_URI}')",
        "tr AS MATERIALIZED (SELECT DISTINCT subj AS p FROM t"
        f" WHERE pred = '{TYPE_PROPERTY_URI}' AND obj = '{OWL_TRANSITIVE_URI}')",
        "rel AS (SELECT p FROM inv UNION SELECT p FROM sym UNION SELECT p FROM tr)",
        # every c{i} is MATERIALIZED: the transitive step references its
        # predecessor twice, so inlining would expand 2^max_iter copies
        # of the base scan
        "c0 AS MATERIALIZED (SELECT DISTINCT subj, pred, obj FROM t"
        " WHERE obj_is_iri AND pred IN (SELECT p FROM rel))",
    ]
    for i in range(1, max_iter + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS MATERIALIZED ("
            f"SELECT subj, pred, obj FROM c{p}"
            f" UNION SELECT c.obj, v.q, c.subj FROM c{p} c JOIN inv v ON v.p = c.pred"
            f" UNION SELECT c.obj, c.pred, c.subj FROM c{p} c"
            f" WHERE c.pred IN (SELECT p FROM sym)"
            f" UNION SELECT l.subj, l.pred, r.obj FROM c{p} l JOIN c{p} r"
            f" ON l.obj = r.subj AND l.pred = r.pred"
            f" WHERE l.pred IN (SELECT p FROM tr))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT c.subj, c.pred, c.obj, true AS obj_is_iri FROM c{max_iter} c"
        " LEFT JOIN c0 b ON b.subj = c.subj AND b.pred = c.pred AND b.obj = c.obj"
        " WHERE b.subj IS NULL"
    )


def rdfs_entail_sql(triples_sql: str) -> str:
    """DuckDB twin: the same stratification with the schema closures as
    recursive CTEs. triples_sql must be a parenthesized relation with
    the standard triple columns."""
    return f"""
    WITH RECURSIVE
    t AS (SELECT * FROM {triples_sql}),
    base AS (SELECT DISTINCT subj, pred, obj, obj_is_iri FROM t),
    ce AS (SELECT DISTINCT subj AS uri, obj AS anc FROM t
           WHERE pred = '{SUBCLASS_PROPERTY_URI}' AND obj_is_iri),
    pe AS (SELECT DISTINCT subj AS uri, obj AS anc FROM t
           WHERE pred = '{SUBPROPERTY_URI}' AND obj_is_iri),
    subc(uri, anc) AS (
        SELECT uri, anc FROM ce
        UNION
        SELECT s.uri, c.anc FROM subc s JOIN ce c ON c.uri = s.anc),
    subp(uri, anc) AS (
        SELECT uri, anc FROM pe
        UNION
        SELECT s.uri, p.anc FROM subp s JOIN pe p ON p.uri = s.anc),
    dom AS (SELECT DISTINCT subj AS uri, obj AS anc FROM t
            WHERE pred = '{DOMAIN_URI}' AND obj_is_iri),
    rng AS (SELECT DISTINCT subj AS uri, obj AS anc FROM t
            WHERE pred = '{RANGE_URI}' AND obj_is_iri),
    d7 AS (SELECT b.subj, s.anc AS pred, b.obj, b.obj_is_iri,
                  'rdfs7' AS rule
           FROM base b JOIN subp s ON s.uri = b.pred),
    props AS (SELECT subj, pred, obj, obj_is_iri FROM base
              UNION
              SELECT subj, pred, obj, obj_is_iri FROM d7),
    d2 AS (SELECT p.subj, '{TYPE_PROPERTY_URI}' AS pred, d.anc AS obj,
                  true AS obj_is_iri, 'rdfs2' AS rule
           FROM props p JOIN dom d ON d.uri = p.pred),
    d3 AS (SELECT p.obj AS subj, '{TYPE_PROPERTY_URI}' AS pred,
                  r.anc AS obj, true AS obj_is_iri, 'rdfs3' AS rule
           FROM props p JOIN rng r ON r.uri = p.pred WHERE p.obj_is_iri),
    types AS (SELECT subj, obj FROM base
              WHERE pred = '{TYPE_PROPERTY_URI}' AND obj_is_iri
              UNION SELECT subj, obj FROM d2
              UNION SELECT subj, obj FROM d3),
    d9 AS (SELECT ty.subj, '{TYPE_PROPERTY_URI}' AS pred, s.anc AS obj,
                  true AS obj_is_iri, 'rdfs9' AS rule
           FROM types ty JOIN subc s ON s.uri = ty.obj),
    d11 AS (SELECT uri AS subj, '{SUBCLASS_PROPERTY_URI}' AS pred,
                   anc AS obj, true AS obj_is_iri, 'rdfs11' AS rule
            FROM subc),
    d5 AS (SELECT uri AS subj, '{SUBPROPERTY_URI}' AS pred, anc AS obj,
                  true AS obj_is_iri, 'rdfs5' AS rule
           FROM subp),
    allr AS (SELECT * FROM d7 UNION ALL SELECT * FROM d2
             UNION ALL SELECT * FROM d3 UNION ALL SELECT * FROM d9
             UNION ALL SELECT * FROM d11 UNION ALL SELECT * FROM d5),
    derived AS (SELECT subj, pred, obj, obj_is_iri, MIN(rule) AS rule
                FROM allr GROUP BY subj, pred, obj, obj_is_iri)
    SELECT d.subj, d.pred, d.obj, d.obj_is_iri, d.rule
    FROM derived d LEFT JOIN (SELECT DISTINCT subj, pred, obj FROM base) b
      ON b.subj = d.subj AND b.pred = d.pred AND b.obj = d.obj
    WHERE b.subj IS NULL
    """
