"""RDFS entailment materialization (operators/rdfs.py)."""

import duckdb
import pytest

from rdf2smw_spark.operators.rdfs import (
    DOMAIN_URI,
    OWL_INVERSE_URI,
    OWL_SYMMETRIC_URI,
    OWL_TRANSITIVE_URI,
    RANGE_URI,
    SUBPROPERTY_URI,
    owl_entail,
    owl_entail_sql,
    rdfs_entail,
    rdfs_entail_incremental,
    rdfs_entail_sql,
)
from rdf2smw_spark.schemas import (
    SUBCLASS_PROPERTY_URI as SUBC,
    TRIPLE_SCHEMA,
    TYPE_PROPERTY_URI as TYPE,
)

# Minimal graph where every rule fires at least once, including the
# stratified interactions (domain on a SUPER-property; range-derived
# type pushed up a 2-level class chain).
T = [
    # schema: p subP q subP r  (rdfs5 must derive p subP r)
    ("p", SUBPROPERTY_URI, "q", True, None, "t"),
    ("q", SUBPROPERTY_URI, "r", True, None, "t"),
    # schema: A subC B subC C  (rdfs11 must derive A subC C)
    ("A", SUBC, "B", True, None, "t"),
    ("B", SUBC, "C", True, None, "t"),
    # schema: q domain D (fires on p-triples THROUGH rdfs7), p range A
    ("q", DOMAIN_URI, "D", True, None, "t"),
    ("p", RANGE_URI, "A", True, None, "t"),
    # instance: x p y (IRI), x p "lit" (literal: range must NOT type it)
    ("x", "p", "y", True, None, "t"),
    ("x", "p", "lit", False, "http://www.w3.org/2001/XMLSchema#string", "t"),
    # asserted type that rdfs2 would re-derive if q's domain were on p
    ("x", TYPE, "D", True, None, "t"),
]


def _derived(spark):
    out = rdfs_entail(spark.createDataFrame(T, TRIPLE_SCHEMA))
    return {(r.subj, r.pred, r.obj): r.rule for r in out.collect()}


def test_every_rule_fires(spark):
    d = _derived(spark)
    assert d[("p", SUBPROPERTY_URI, "r")] == "rdfs5"
    assert d[("A", SUBC, "C")] == "rdfs11"
    assert ("x", "q", "y") in d and d[("x", "q", "y")] == "rdfs7"
    assert ("x", "r", "y") in d  # via the CLOSED subP (p subP+ r)
    assert ("x", "r", "lit") in d  # literals flow through rdfs7
    # domain on q fires for the rdfs7-derived q-triples: x type D is
    # ASSERTED so it must NOT reappear; nothing else has domain D
    assert ("x", TYPE, "D") not in d
    # range A types the IRI object only, then climbs the class chain
    assert d[("y", TYPE, "A")] == "rdfs3"
    assert ("y", TYPE, "B") in d and d[("y", TYPE, "B")] == "rdfs9"
    assert ("y", TYPE, "C") in d
    # the literal object never receives a type triple
    assert not any(s == "lit" for (s, _p, _o) in d)


def test_matches_duckdb_twin(spark):
    got = sorted(map(tuple, _derived_df(spark).collect()))
    vals = ", ".join(
        "('{}', '{}', '{}', {}, {}, '{}')".format(
            s, p, o, "true" if i else "false",
            f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)", src,
        )
        for (s, p, o, i, dt, src) in T
    )
    sql = rdfs_entail_sql(
        f"(SELECT * FROM (VALUES {vals}) AS "
        "v(subj, pred, obj, obj_is_iri, obj_datatype, src_url))"
    )
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def _derived_df(spark):
    return rdfs_entail(spark.createDataFrame(T, TRIPLE_SCHEMA))


def test_deterministic_across_partitioning(spark):
    df1 = spark.createDataFrame(T, TRIPLE_SCHEMA).repartition(1)
    df7 = spark.createDataFrame(T, TRIPLE_SCHEMA).repartition(7)
    assert sorted(map(tuple, rdfs_entail(df1).collect())) == sorted(
        map(tuple, rdfs_entail(df7).collect())
    )


def _entail_set(df):
    return {(r.subj, r.pred, r.obj, r.obj_is_iri, r.rule) for r in df.collect()}


# Both sides of the schema-layer guard (the driver closure and the
# distributed loop, no driver collect at all) and of the action-table
# guard (the driver composer and the DataFrame composer).
_LIMITS = pytest.mark.parametrize(
    "limits",
    [{}, {"CLOSURE_COLLECT_LIMIT": -1}, {"ACTION_TABLE_LIMIT": -1}],
    ids=["default", "distributed", "composed"],
)


def _set_limits(monkeypatch, limits):
    import rdf2smw_spark.operators.rdfs as rdfs_mod

    for name, value in limits.items():
        monkeypatch.setattr(rdfs_mod, name, value)


@_LIMITS
def test_incremental_instance_delta_equals_full(spark, monkeypatch, limits):
    """Fast path: instance-only delta — maintained table ∪ incremental
    delta must equal the full recompute, tags included."""
    _set_limits(monkeypatch, limits)
    base = spark.createDataFrame(T, TRIPLE_SCHEMA)
    delta = spark.createDataFrame(
        [
            ("z", "p", "w", True, None, "t"),    # fires rdfs7 + range chain
            ("z", TYPE, "A", True, None, "t"),   # fires rdfs9 up the chain
        ],
        TRIPLE_SCHEMA,
    )
    entailed_base = rdfs_entail(base)
    inc = rdfs_entail_incremental(base, delta, entailed_base)
    got = _entail_set(entailed_base) | _entail_set(inc)
    want = _entail_set(rdfs_entail(base.unionByName(delta)))
    assert got == want
    d = {(r.subj, r.pred, r.obj) for r in inc.collect()}
    assert ("z", "q", "w") in d and ("w", TYPE, "A") in d
    assert ("z", TYPE, "B") in d  # delta type climbs the closed chain
    assert ("w", TYPE, "C") in d  # so does the range-derived type
    # base-derived rows never reappear in the incremental output
    assert ("y", TYPE, "A") not in d


@_LIMITS
def test_incremental_schema_delta_falls_back(spark, monkeypatch, limits):
    """A delta carrying a schema edge must take the full-rebuild path
    and still return exactly the added rows."""
    _set_limits(monkeypatch, limits)
    base = spark.createDataFrame(T, TRIPLE_SCHEMA)
    delta = spark.createDataFrame(
        [("C", SUBC, "E", True, None, "t")],  # extends the class chain
        TRIPLE_SCHEMA,
    )
    entailed_base = rdfs_entail(base)
    inc = rdfs_entail_incremental(base, delta, entailed_base)
    got = _entail_set(entailed_base) | _entail_set(inc)
    want = _entail_set(rdfs_entail(base.unionByName(delta)))
    assert got == want
    d = {(r.subj, r.pred, r.obj) for r in inc.collect()}
    # the new schema edge re-derives ACROSS THE CORPUS: base's y (typed
    # A via range) now reaches E — only a full rebuild can find this
    assert ("y", TYPE, "E") in d and ("A", SUBC, "E") in d


# OWL-lite: anc transitive over a 5-hop chain; anc inverseOf desc (so
# every closure edge reflects); near symmetric; and the INTERACTION —
# desc-edges derived by the inverse rule are again closure inputs.
OWL_T = [
    ("anc", TYPE, OWL_TRANSITIVE_URI, True, None, "t"),
    ("anc", OWL_INVERSE_URI, "desc", True, None, "t"),
    ("near", TYPE, OWL_SYMMETRIC_URI, True, None, "t"),
    ("a", "anc", "b", True, None, "t"),
    ("b", "anc", "c", True, None, "t"),
    ("c", "anc", "d", True, None, "t"),
    ("d", "anc", "e", True, None, "t"),
    ("e", "anc", "f", True, None, "t"),
    ("x", "near", "y", True, None, "t"),
    # one asserted desc edge: its inverse (b anc a... no — desc's
    # inverse is anc: (q p) pairs are both directions) must appear
    ("q", "desc", "p", True, None, "t"),
    # a literal-object triple on a declared pred must NOT participate
    ("a", "anc", "lit", False, "http://www.w3.org/2001/XMLSchema#string", "t"),
    # an undeclared pred never enters the closure
    ("u", "other", "v", True, None, "t"),
]


def test_owl_rules_fire(spark):
    out = owl_entail(spark.createDataFrame(OWL_T, TRIPLE_SCHEMA))
    d = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("a", "anc", "f") in d  # 5-hop transitive closure
    assert ("a", "anc", "c") in d and ("c", "anc", "f") in d
    assert ("b", "desc", "a") in d  # inverse of an ASSERTED edge
    assert ("f", "desc", "a") in d  # inverse of a DERIVED closure edge
    assert ("p", "anc", "q") in d  # inverse applied in the q->p direction
    assert ("y", "near", "x") in d  # symmetric
    assert not any(o == "lit" or s == "lit" for (s, _p, o) in d)
    assert not any(p == "other" for (_s, p, _o) in d)
    # derived-only: asserted edges never reappear
    assert ("a", "anc", "b") not in d and ("x", "near", "y") not in d


def test_owl_matches_duckdb_twin(spark):
    got = sorted(
        map(tuple, owl_entail(spark.createDataFrame(OWL_T, TRIPLE_SCHEMA)).collect())
    )
    vals = ", ".join(
        "('{}', '{}', '{}', {}, {}, '{}')".format(
            s, p, o, "true" if i else "false",
            f"'{dt}'" if dt else "CAST(NULL AS VARCHAR)", src,
        )
        for (s, p, o, i, dt, src) in OWL_T
    )
    sql = owl_entail_sql(
        f"(SELECT * FROM (VALUES {vals}) AS "
        "v(subj, pred, obj, obj_is_iri, obj_datatype, src_url))"
    )
    want = sorted(map(tuple, duckdb.connect().execute(sql).fetchall()))
    assert got == want


def test_owl_deterministic_across_partitioning(spark):
    df1 = spark.createDataFrame(OWL_T, TRIPLE_SCHEMA).repartition(1)
    df5 = spark.createDataFrame(OWL_T, TRIPLE_SCHEMA).repartition(5)
    assert sorted(map(tuple, owl_entail(df1).collect())) == sorted(
        map(tuple, owl_entail(df5).collect())
    )


def test_cyclic_schema_terminates(spark):
    cyc = [
        ("A", SUBC, "B", True, None, "t"),
        ("B", SUBC, "A", True, None, "t"),
        ("x", TYPE, "A", True, None, "t"),
    ]
    out = rdfs_entail(spark.createDataFrame(cyc, TRIPLE_SCHEMA))
    d = {(r.subj, r.pred, r.obj) for r in out.collect()}
    # closure of the 2-cycle: A subC A, B subC B (self via the cycle),
    # and x picks up type B; x type A is asserted
    assert ("x", TYPE, "B") in d
    assert ("A", SUBC, "A") in d and ("B", SUBC, "B") in d


def test_action_table_composers_agree(spark, monkeypatch):
    """The driver composer and the DataFrame composer build the same
    (pred, kind, arg) -> rule table on a fixture where every rule fires,
    from local schema layers and from distributed ones."""
    import rdf2smw_spark.operators.rdfs as rdfs_mod

    df = spark.createDataFrame(T, TRIPLE_SCHEMA)
    local = rdfs_mod._schema_layers(df, 10)
    driver = rdfs_mod._fused_actions(*(pairs for _, pairs in local))
    assert {k for _, k, _ in driver} == {"d7", "dom", "rng"}

    def composed(layers):
        rows = rdfs_mod._composed_actions(layers).collect()
        return {(r.pred, r.kind, r.arg): r.rule for r in rows}

    assert composed(local) == driver
    monkeypatch.setattr(rdfs_mod, "CLOSURE_COLLECT_LIMIT", -1)
    distributed = rdfs_mod._schema_layers(df, 10)
    assert all(pairs is None for _, pairs in distributed)
    assert composed(distributed) == driver


def test_rule_plan_paths_agree(spark, monkeypatch):
    """rdfs_entail emits the same rows and rule tags on every side of
    its guards: the driver-composed action table, the DataFrame-composed
    one, the dense-closure fallback and the fully distributed path."""
    import rdf2smw_spark.operators.rdfs as rdfs_mod

    df = spark.createDataFrame(T, TRIPLE_SCHEMA)
    default = _entail_set(rdfs_entail(df))
    for name in ("ACTION_TABLE_LIMIT", "CLOSURE_PAIR_LIMIT", "CLOSURE_COLLECT_LIMIT"):
        # CLOSURE_PAIR_LIMIT: the probe still fits, but every driver
        # closure counts as too dense, so subClassOf/subPropertyOf close
        # in the distributed loop while domain/range stay local frames
        with monkeypatch.context() as m:
            m.setattr(rdfs_mod, name, -1)
            assert _entail_set(rdfs_entail(df)) == default, name


def test_owl_local_equals_distributed(spark, monkeypatch):
    """The driver-side OWL fixpoint (r6) must emit exactly the rows of
    the distributed loop on the fixture where all three rules interact."""
    import rdf2smw_spark.operators.rdfs as rdfs_mod

    df = spark.createDataFrame(OWL_T, TRIPLE_SCHEMA)
    local = sorted(map(tuple, owl_entail(df).collect()))
    monkeypatch.setattr(rdfs_mod, "CLOSURE_COLLECT_LIMIT", -1)
    dist = sorted(map(tuple, owl_entail(df).collect()))
    assert local == dist
