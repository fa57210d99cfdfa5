"""SPARQL front end: parser + compiler semantics over a small in-memory
graph, each case verified against the hand-derived solution multiset."""

from __future__ import annotations

import pytest

from rdf2smw_spark.schemas import TRIPLE_SCHEMA
from rdf2smw_spark.sparql import (
    Iri,
    Lit,
    SparqlSyntaxError,
    TriplePattern,
    Var,
    parse_sparql,
    sparql_select,
)
PRE = """
PREFIX ex: <http://ex.org/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
"""

EX = "http://ex.org/"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STR = "http://www.w3.org/2001/XMLSchema#string"


@pytest.fixture(scope="module")
def graph(spark):  # noqa: F811
    def t(s, p, o, iri=False, dt=None):
        return (EX + s, (EX + p) if "/" not in p and ":" not in p else p,
                (EX + o) if iri else o, iri, dt if not iri else None, "test://g")

    rows = [
        t("alice", RDF_TYPE, "Person", iri=True),
        t("bob", RDF_TYPE, "Person", iri=True),
        t("carol", RDF_TYPE, "Robot", iri=True),
        t("alice", LABEL, "Alice", dt=XSD_STR),
        t("bob", LABEL, "Bob", dt=XSD_STR),
        t("alice", "knows", "bob", iri=True),
        t("alice", "knows", "carol", iri=True),
        t("bob", "knows", "carol", iri=True),
        t("alice", "age", "31", dt="http://www.w3.org/2001/XMLSchema#integer"),
        t("bob", "age", "9", dt="http://www.w3.org/2001/XMLSchema#integer"),
        # literal that textually equals an IRI — must NOT match IRI terms
        t("carol", "homepage", EX + "Person", iri=False, dt=XSD_STR),
    ]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- parser ------------------------------------------------------------------

def test_parse_basic_ast():
    q = parse_sparql(PRE + "SELECT ?s ?o WHERE { ?s ex:knows ?o . }")
    assert not q.distinct and not q.star
    assert [it.alias for it in q.items] == ["s", "o"]
    tp = q.where.elements[0]
    assert tp == TriplePattern(Var("s"), Iri(EX + "knows"), Var("o"))


def test_parse_predicate_object_lists():
    q = parse_sparql(PRE + 'SELECT * WHERE { ex:a ex:p "x", "y" ; ex:q "z" . }')
    pats = q.where.elements
    assert len(pats) == 3
    assert pats[0].o == Lit("x") and pats[1].o == Lit("y")
    assert pats[2].p == Iri(EX + "q")


def test_parse_a_keyword_and_typed_literal():
    q = parse_sparql(PRE + 'SELECT * WHERE { ?s a ex:Person ; ex:v "5"^^xsd:integer . }')
    assert q.where.elements[0].p == Iri(RDF_TYPE)
    assert q.where.elements[1].o.datatype.endswith("integer")


def test_parse_rejects_out_of_subset():
    for bad in [
        "SELECT ?s WHERE { ?s <http://p> ?o } SERVICE",  # trailing junk
        "SELECT ?s FROM ?g WHERE { ?s <http://p> ?o }",  # FROM takes an IRI
        "SELECT WHERE { ?s <http://p> ?o }",             # no projection
        "SELECT ?s WHERE { ?s undeclared:p ?o }",
    ]:
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(bad)


def test_optional_cannot_open_group(graph):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(graph, PRE + "SELECT ?s WHERE { OPTIONAL { ?s ex:p ?o } }")


# -- compiler semantics ---------------------------------------------------------

def test_bgp_join_on_shared_var(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?who ?whom WHERE { ?who a ex:Person . ?who ex:knows ?whom . }
    """)
    assert rows(df) == sorted([
        (EX + "alice", EX + "bob"),
        (EX + "alice", EX + "carol"),
        (EX + "bob", EX + "carol"),
    ])


def test_iri_literal_distinction(graph):
    # <.../Person> as IRI object: only type triples, never carol's
    # homepage literal with the same lexical form
    df = sparql_select(graph, PRE + "SELECT ?s WHERE { ?s ?p ex:Person . }")
    assert rows(df) == sorted([(EX + "alice",), (EX + "bob",)])
    df2 = sparql_select(
        graph, PRE + 'SELECT ?s WHERE { ?s ex:homepage "http://ex.org/Person" . }'
    )
    assert rows(df2) == [(EX + "carol",)]


def test_optional_left_join(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?lab WHERE { ?s a ?c . OPTIONAL { ?s rdfs:label ?lab } }
    """)
    assert (EX + "carol", None) in rows(df)
    assert (EX + "alice", "Alice") in rows(df)


def test_union_pads_missing_vars(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?lab WHERE {
          { ?s a ex:Robot } UNION { ?s a ex:Person . ?s rdfs:label ?lab }
        }
    """)
    assert rows(df) == sorted([
        (EX + "carol", None), (EX + "alice", "Alice"), (EX + "bob", "Bob"),
    ])


def test_minus_and_disjoint_minus(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s WHERE { ?s a ex:Person MINUS { ?s ex:age "9" } }
    """)
    assert rows(df) == [(EX + "alice",)]
    # disjoint domains: MINUS removes nothing (SPARQL 1.1 §8.3)
    df2 = sparql_select(graph, PRE + """
        SELECT ?s WHERE { ?s a ex:Person MINUS { ?x ex:age "9" } }
    """)
    assert df2.count() == 2


def test_filter_not_exists_and_exists(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s WHERE { ?s a ex:Person . FILTER NOT EXISTS { ?s rdfs:label ?l } }
    """)
    assert df.count() == 0
    df2 = sparql_select(graph, PRE + """
        SELECT ?s WHERE { ?s ex:knows ?o . FILTER EXISTS { ?o a ex:Robot } }
    """)
    assert rows(df2) == sorted([(EX + "alice",), (EX + "bob",)])


def test_filter_scopes_over_whole_group(graph):
    # filter placed BEFORE the pattern that binds ?age still applies
    df = sparql_select(graph, PRE + """
        SELECT ?s WHERE { FILTER (xsd:integer(?age) > 10) ?s ex:age ?age . }
    """)
    assert rows(df) == [(EX + "alice",)]


def test_bind_values_and_builtins(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?up WHERE {
          VALUES ?s { ex:alice ex:bob }
          ?s rdfs:label ?lab .
          BIND (UCASE(?lab) AS ?up)
          FILTER (STRSTARTS(?up, "A") || CONTAINS(?up, "OB"))
        }
    """)
    assert rows(df) == sorted([(EX + "alice", "ALICE"), (EX + "bob", "BOB")])


def test_values_multi_var_with_undef(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?need WHERE {
          VALUES (?s ?need) { (ex:alice "Alice") (ex:bob UNDEF) }
          ?s rdfs:label ?need .
        }
    """)
    # UNDEF row drops in the inner join on ?need (documented subset:
    # VALUES joins on ALL its columns)
    assert rows(df) == [(EX + "alice", "Alice")]


def test_aggregation_having_order_limit(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?who (COUNT(?whom) AS ?n) WHERE { ?who ex:knows ?whom . }
        GROUP BY ?who HAVING (COUNT(?whom) >= 1) ORDER BY DESC(?n) ?who LIMIT 1
    """)
    assert rows(df) == [(EX + "alice", 2)]


def test_global_aggregate_and_distinct_count(graph):
    df = sparql_select(graph, PRE + """
        SELECT (COUNT(*) AS ?n) (COUNT(DISTINCT ?o) AS ?d)
        WHERE { ?s ex:knows ?o . }
    """)
    assert rows(df) == [(3, 2)]


def test_numeric_cast_arithmetic(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s (xsd:integer(?a) + 1 AS ?next) WHERE { ?s ex:age ?a . }
        ORDER BY ?s
    """)
    assert rows(df) == sorted([(EX + "alice", 32), (EX + "bob", 10)])


def test_select_star_distinct_offset(graph):
    df = sparql_select(graph, PRE + """
        SELECT DISTINCT ?c WHERE { ?s a ?c . } ORDER BY ?c LIMIT 10 OFFSET 1
    """)
    assert rows(df) == [(EX + "Robot",)]


def test_offset_before_limit(graph):
    # §15 LimitOffsetClauses admits either order; both must parse and
    # slice identically (OFFSET applied first regardless of spelling)
    a = sparql_select(graph, PRE + """
        SELECT DISTINCT ?c WHERE { ?s a ?c . } ORDER BY ?c OFFSET 1 LIMIT 10
    """)
    assert rows(a) == [(EX + "Robot",)]


def test_order_limit_is_take_ordered(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?o WHERE { ?s ex:knows ?o . } ORDER BY ?s ?o LIMIT 2
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pred_filter_pushed_to_scan(spark, graph, tmp_path):  # noqa: F811
    path = str(tmp_path / "t.parquet")
    graph.write.parquet(path)
    t = spark.read.parquet(path)
    df = sparql_select(t, PRE + "SELECT ?s ?o WHERE { ?s ex:knows ?o . }")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "knows" in plan


def test_unbound_projection_rejected(graph):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(graph, PRE + "SELECT ?nope WHERE { ?s ex:knows ?o . }")


# -- CONSTRUCT -----------------------------------------------------------------

def test_construct_inverse_edges(graph):
    from rdf2smw_spark.sparql import sparql_construct

    df = sparql_construct(graph, PRE + """
        CONSTRUCT { ?o ex:knownBy ?s } WHERE { ?s ex:knows ?o . }
    """)
    assert set(df.columns) == {
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "src_url"
    }
    got = rows(df.select("subj", "obj", "obj_is_iri"))
    assert got == sorted([
        (EX + "bob", EX + "alice", True),
        (EX + "carol", EX + "alice", True),
        (EX + "carol", EX + "bob", True),
    ])


def test_construct_preserves_literal_metadata(graph):
    from rdf2smw_spark.sparql import sparql_construct

    df = sparql_construct(graph, PRE + """
        CONSTRUCT { ?s ex:nick ?lab . ?s a ex:Named }
        WHERE { ?s rdfs:label ?lab . }
    """)
    lits = rows(df.filter("pred = 'http://ex.org/nick'")
                .select("obj", "obj_is_iri", "obj_datatype"))
    assert lits == sorted([("Alice", False, XSD_STR), ("Bob", False, XSD_STR)])
    types = rows(df.filter("pred = '" + RDF_TYPE + "'")
                 .select("obj", "obj_is_iri", "obj_datatype"))
    assert types == sorted([(EX + "Named", True, None)] * 2)


def test_construct_drops_literal_in_iri_slot(graph):
    from rdf2smw_spark.sparql import sparql_construct

    # ?v binds integers — invalid as subject, every instantiation skipped
    df = sparql_construct(graph, PRE + """
        CONSTRUCT { ?v ex:cameFrom ?s } WHERE { ?s ex:age ?v . }
    """)
    assert df.count() == 0


def test_construct_output_is_a_set(graph):
    from rdf2smw_spark.sparql import sparql_construct

    # two WHERE solutions per ?s (alice knows bob+carol) -> one triple
    df = sparql_construct(graph, PRE + """
        CONSTRUCT { ?s a ex:Knower } WHERE { ?s ex:knows ?o . }
    """)
    assert df.count() == 2  # alice, bob


def test_construct_feeds_back_into_select(graph):
    from rdf2smw_spark.sparql import sparql_construct, sparql_select

    g2 = sparql_construct(graph, PRE + """
        CONSTRUCT { ?o ex:knownBy ?s } WHERE { ?s ex:knows ?o . }
    """)
    df = sparql_select(g2, PRE + """
        SELECT ?who (COUNT(?by) AS ?n) WHERE { ?who ex:knownBy ?by . }
        GROUP BY ?who ORDER BY ?who
    """)
    assert rows(df) == sorted([(EX + "bob", 1), (EX + "carol", 2)])


def test_construct_unbound_template_var_rejected(graph):
    from rdf2smw_spark.sparql import SparqlSyntaxError, sparql_construct

    with pytest.raises(SparqlSyntaxError):
        sparql_construct(graph, PRE + """
            CONSTRUCT { ?s ex:p ?nope } WHERE { ?s ex:knows ?o . }
        """)


# -- CLI surface -------------------------------------------------------------------

def test_cli_sparql_select_and_construct_roundtrip(spark, tmp_path, capsys):
    import json

    from rdf2smw_spark.__main__ import main

    nt = tmp_path / "in.nt"
    nt.write_text(
        '<http://e/s> <http://e/p> "v" .\n'
        '<http://e/s> <http://e/q> <http://e/o> .\n'
    )
    rc = main(["--in", str(nt), "--out", str(tmp_path / "o1"),
               "--sparql", "SELECT ?s ?v WHERE { ?s <http://e/p> ?v . }"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res == {"form": "select", "result": str(tmp_path / "o1" / "sparql"),
                   "n_rows": 1, "columns": ["s", "v"], "bad_lines": 0}

    qf = tmp_path / "q.rq"
    qf.write_text("CONSTRUCT { ?o <http://e/from> ?s } "
                  "WHERE { ?s <http://e/q> ?o . }")
    rc = main(["--in", str(nt), "--out", str(tmp_path / "o2"),
               "--sparql-file", str(qf)])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["form"] == "construct" and res["n_rows"] == 1
    # CONSTRUCT output is TRIPLE_SCHEMA parquet — re-queryable
    got = spark.read.parquet(res["result"]).collect()[0]
    assert (got["subj"], got["pred"], got["obj"], got["obj_is_iri"]) == (
        "http://e/o", "http://e/from", "http://e/s", True)


def test_cli_explain_plans_what_sparql_runs(spark, tmp_path, capsys):
    """--explain prints the plan --sparql executes, entailment included:
    same form and columns, and the derived row the run returns."""
    import json

    from rdf2smw_spark.__main__ import main

    nt = tmp_path / "in.nt"
    nt.write_text(
        "<http://e/p> <http://www.w3.org/2000/01/rdf-schema#domain> <http://e/C> .\n"
        '<http://e/s> <http://e/p> "v" .\n'
    )
    args = ["--in", str(nt), "--entail", "rdfs", "--sparql",
            "SELECT ?s WHERE { ?s <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
            " <http://e/C> . }"]
    assert main(args + ["--out", str(tmp_path / "run")]) == 0
    run = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run["n_rows"] == 1  # s type C, derived by rdfs2
    assert main(args + ["--out", str(tmp_path / "explain"), "--explain"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert json.loads(out.strip().splitlines()[-1]) == {
        "form": run["form"], "explained": True, "columns": run["columns"],
    }


# -- property paths -----------------------------------------------------------------

@pytest.fixture(scope="module")
def chain_graph(spark):
    """a -sub-> b -sub-> c -sub-> d, plus labels and a branch e -sub-> c."""
    SUB = EX + "sub"

    def t(s, o):
        return (EX + s, SUB, EX + o, True, None, "test://chain")

    rows = [t("a", "b"), t("b", "c"), t("c", "d"), t("e", "c"),
            (EX + "a", LABEL, "A", False, XSD_STR, "test://chain")]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_path_sequence_and_inverse(graph):
    # knows/label: label of everyone alice knows (only bob has one)
    df = sparql_select(graph, PRE + """
        SELECT ?lab WHERE { ex:alice ex:knows/rdfs:label ?lab . }
    """)
    assert rows(df) == [("Bob",)]
    # inverse: ?s ^knows alice  ≡  alice knows ?s
    df2 = sparql_select(graph, PRE + """
        SELECT ?s WHERE { ?s ^ex:knows ex:alice . }
    """)
    assert rows(df2) == sorted([(EX + "bob",), (EX + "carol",)])


def test_path_alternation(graph):
    df = sparql_select(graph, PRE + """
        SELECT DISTINCT ?v WHERE { ex:alice rdfs:label|ex:age ?v . }
    """)
    assert rows(df) == sorted([("Alice",), ("31",)])


def test_path_plus_closure(chain_graph):
    df = sparql_select(chain_graph, PRE + """
        SELECT ?anc WHERE { ex:a ex:sub+ ?anc . }
    """)
    assert rows(df) == sorted([(EX + "b",), (EX + "c",), (EX + "d",)])


def test_path_star_includes_zero_length(chain_graph):
    df = sparql_select(chain_graph, PRE + """
        SELECT ?anc WHERE { ex:a ex:sub* ?anc . }
    """)
    assert rows(df) == sorted([(EX + "a",), (EX + "b",), (EX + "c",), (EX + "d",)])


def test_path_optional_mod(chain_graph):
    df = sparql_select(chain_graph, PRE + """
        SELECT ?x WHERE { ex:b ex:sub? ?x . }
    """)
    assert rows(df) == sorted([(EX + "b",), (EX + "c",)])


def test_path_combined_seq_closure(chain_graph):
    # ^sub/sub+: siblings-or-deeper — from c: children {b, e} then their
    # ancestors via sub+ ⊇ {c, d}
    df = sparql_select(chain_graph, PRE + """
        SELECT DISTINCT ?y WHERE { ex:c (^ex:sub)/ex:sub+ ?y . }
    """)
    assert rows(df) == sorted([(EX + "c",), (EX + "d",)])


def test_path_literal_iri_no_conflation(graph):
    # homepage literal "http://ex.org/Person" must not chain into
    # Person-typed subjects via a path through it
    df = sparql_select(graph, PRE + """
        SELECT ?s ?o WHERE { ?s ex:homepage/ex:knows ?o . }
    """)
    assert df.count() == 0


def test_path_in_construct(chain_graph):
    from rdf2smw_spark.sparql import sparql_construct

    df = sparql_construct(chain_graph, PRE + """
        CONSTRUCT { ?d ex:ancestor ?a } WHERE { ?d ex:sub+ ?a . }
    """)
    assert df.count() == 8  # a->{b,c,d}, b->{c,d}, c->{d}, e->{c,d}


# -- ASK / DESCRIBE / negated property sets ------------------------------------------

def test_ask(graph):
    from rdf2smw_spark.sparql import sparql_query

    form, df = sparql_query(graph, PRE + "ASK { ?s a ex:Robot }")
    assert form == "ask" and rows(df) == [(True,)]
    form, df = sparql_query(graph, PRE + "ASK { ex:carol ex:knows ?o }")
    assert rows(df) == [(False,)]


def test_describe_fixed_iri(graph):
    from rdf2smw_spark.sparql import sparql_query

    form, df = sparql_query(graph, PRE + "DESCRIBE ex:carol")
    assert form == "describe"
    assert df.count() == 2  # type + homepage
    assert set(df.columns) == {
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "src_url"
    }


def test_describe_var_with_where(graph):
    from rdf2smw_spark.sparql import sparql_query

    _, df = sparql_query(graph, PRE + """
        DESCRIBE ?s WHERE { ?s a ex:Person . ?s ex:age "31" }
    """)
    # all of alice's triples: type, label, 2x knows, age
    assert df.count() == 5
    assert {r["subj"] for r in df.collect()} == {EX + "alice"}


def test_describe_var_without_where_rejected():
    from rdf2smw_spark.sparql import SparqlSyntaxError, parse_sparql

    with pytest.raises(SparqlSyntaxError):
        parse_sparql(PRE + "DESCRIBE ?s")


def test_negated_property_set(graph):
    # everything alice states EXCEPT knows/type
    df = sparql_select(graph, PRE + """
        SELECT ?v WHERE { ex:alice !(ex:knows|<%s>) ?v . }
    """ % RDF_TYPE)
    assert rows(df) == sorted([("Alice",), ("31",)])
    # single-IRI form
    df2 = sparql_select(graph, PRE + """
        SELECT ?o WHERE { ex:carol !ex:homepage ?o . }
    """)
    assert rows(df2) == [(EX + "Robot",)]


# -- subqueries / GROUP_CONCAT / SAMPLE -----------------------------------------------

def test_subquery_join(graph):
    # inner SELECT finds max-degree knowers; outer adds their label
    df = sparql_select(graph, PRE + """
        SELECT ?who ?n ?lab WHERE {
          { SELECT ?who (COUNT(?whom) AS ?n) WHERE { ?who ex:knows ?whom . }
            GROUP BY ?who }
          ?who rdfs:label ?lab .
        } ORDER BY ?who
    """)
    assert rows(df) == sorted([
        (EX + "alice", 2, "Alice"), (EX + "bob", 1, "Bob"),
    ])


def test_group_concat_and_sample(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?who (GROUP_CONCAT(?whom; SEPARATOR=",") AS ?all)
                    (SAMPLE(?whom) AS ?one)
        WHERE { ?who ex:knows ?whom . } GROUP BY ?who ORDER BY ?who
    """)
    assert rows(df) == sorted([
        (EX + "alice", f"{EX}bob,{EX}carol", EX + "bob"),
        (EX + "bob", EX + "carol", EX + "carol"),
    ])


def test_group_concat_default_separator(graph):
    df = sparql_select(graph, PRE + """
        SELECT (GROUP_CONCAT(?lab) AS ?labs) WHERE { ?s rdfs:label ?lab . }
    """)
    assert rows(df) == [("Alice Bob",)]


# -- named graphs ----------------------------------------------------------------------

def test_graph_fixed_iri(graph):
    # src_url is test://g for everything; a different graph matches nothing
    df = sparql_select(graph, PRE + """
        SELECT ?s WHERE { GRAPH <test://g> { ?s a ex:Robot } }
    """)
    assert rows(df) == [(EX + "carol",)]
    df2 = sparql_select(graph, PRE + """
        SELECT ?s WHERE { GRAPH <test://other> { ?s a ex:Robot } }
    """)
    assert df2.count() == 0


def test_graph_variable_binds_src(graph):
    df = sparql_select(graph, PRE + """
        SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s ex:knows ?o } }
    """)
    assert rows(df) == [("test://g",)]


def test_graph_var_joins_across_scopes(spark):
    rows_ = [
        (EX + "x", EX + "p", "1", False, None, "g://a"),
        (EX + "x", EX + "q", "2", False, None, "g://a"),
        (EX + "x", EX + "q", "3", False, None, "g://b"),
    ]
    t = spark.createDataFrame(rows_, TRIPLE_SCHEMA)
    # both patterns must hold in the SAME graph ?g
    df = sparql_select(t, PRE + """
        SELECT ?g ?v WHERE { GRAPH ?g { ex:x ex:p ?u . ex:x ex:q ?v } }
    """)
    assert rows(df) == [("g://a", "2")]


def test_graph_var_path_plus_per_graph_closure(spark):
    """p+ inside GRAPH ?var: each graph's closure grows independently —
    edges in different graphs must NOT chain (r4 verdict #4)."""
    def e(s, o, g):
        return (EX + s, EX + "p", EX + o, True, None, "g://" + g)

    t = spark.createDataFrame(
        [e("a", "b", "1"), e("b", "c", "1"),   # chain inside g1
         e("c", "d", "2")],                    # continuation only in g2
        TRIPLE_SCHEMA,
    )
    df = sparql_select(t, PRE + """
        SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:p+ ?o } } ORDER BY ?g ?s ?o
    """)
    assert rows(df) == [
        ("g://1", EX + "a", EX + "b"),
        ("g://1", EX + "a", EX + "c"),   # via b, same graph
        ("g://1", EX + "b", EX + "c"),
        ("g://2", EX + "c", EX + "d"),
        # NO (a->d) or (b->d): the b->c->d bridge spans graphs
    ]


def test_graph_var_path_star_zero_length_scoped(spark):
    """p* zero-length solutions are scoped per graph: a term reflects
    only in graphs that mention it."""
    def e(s, o, g):
        return (EX + s, EX + "p", EX + o, True, None, "g://" + g)

    t = spark.createDataFrame([e("a", "b", "1"), e("c", "d", "2")], TRIPLE_SCHEMA)
    df = sparql_select(t, PRE + """
        SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:p* ?s } } ORDER BY ?g ?s
    """)
    assert rows(df) == [
        ("g://1", EX + "a"), ("g://1", EX + "b"),
        ("g://2", EX + "c"), ("g://2", EX + "d"),
    ]


def test_graph_var_path_object_is_graph_var(spark):
    """GRAPH ?g { ?s p+ ?g }: the object must equal the graph IRI."""
    def e(s, o, g):
        return (EX + s, EX + "p", o, True, None, g)

    t = spark.createDataFrame(
        [e("a", EX + "b", "g://1"), e("b", "g://1", "g://1"),
         e("a", "g://2", "g://1")],
        TRIPLE_SCHEMA,
    )
    df = sparql_select(t, PRE + """
        SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:p+ ?g } } ORDER BY ?s
    """)
    # a->b->g://1 and b->g://1 close within g://1; a->g://2 lands in the
    # WRONG graph's name and is excluded
    assert rows(df) == [("g://1", EX + "a"), ("g://1", EX + "b")]


def test_optional_disjoint_nonempty_extends(graph):
    """Disjoint OPTIONAL, non-empty branch: every outer solution is
    extended by every branch solution (r4 verdict #3a)."""
    df = sparql_select(graph, PRE + """
        SELECT ?s ?lab WHERE {
          ?s a ex:Robot .
          OPTIONAL { ex:alice rdfs:label ?lab }
        }
    """)
    assert rows(df) == [(EX + "carol", "Alice")]


def test_optional_disjoint_empty_nullpads(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?lab WHERE {
          ?s a ex:Robot .
          OPTIONAL { ex:nosuch rdfs:label ?lab }
        }
    """)
    assert rows(df) == [(EX + "carol", None)]


# -- extended builtins ------------------------------------------------------------------

def test_string_builtins(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?b ?a ?sub ?cc WHERE {
          ?s rdfs:label ?lab .
          BIND (STRBEFORE(?lab, "li") AS ?b)
          BIND (STRAFTER(?lab, "li") AS ?a)
          BIND (SUBSTR(?lab, 2, 2) AS ?sub)
          BIND (CONCAT(?lab, "!") AS ?cc)
        } ORDER BY ?s
    """)
    assert rows(df) == sorted([
        (EX + "alice", "A", "ce", "li", "Alice!"),
        (EX + "bob", "", "", "ob", "Bob!"),  # needle absent -> ""
    ])


def test_replace_if_and_numerics(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s ?r ?flag ?half WHERE {
          ?s ex:age ?a .
          BIND (REPLACE(?a, "[0-9]", "#") AS ?r)
          BIND (IF(xsd:integer(?a) > 10, "adult", "child") AS ?flag)
          BIND (FLOOR(xsd:double(?a) / 2.0) AS ?half)
        } ORDER BY ?s
    """)
    assert rows(df) == sorted([
        (EX + "alice", "##", "adult", 15),
        (EX + "bob", "#", "child", 4),
    ])


def test_substr_two_arg_and_strafter_first_occurrence(spark):
    t = spark.createDataFrame(
        [(EX + "x", EX + "p", "ab:cd:ef", False, None, "g://a")], TRIPLE_SCHEMA
    )
    df = sparql_select(t, PRE + """
        SELECT ?tail ?after WHERE {
          ?s ex:p ?v .
          BIND (SUBSTR(?v, 4) AS ?tail)
          BIND (STRAFTER(?v, ":") AS ?after)
        }
    """)
    assert rows(df) == [("cd:ef", "cd:ef")]


def test_cli_web_mode_sparql_over_constructed_kg(spark, tmp_path, capsys):
    import json

    from rdf2smw_spark.__main__ import main
    from rdf2smw_spark.sources.webpages import synth_pages

    pdir = str(tmp_path / "pages")
    synth_pages(spark, "/root/testdata/sf0.001").write.parquet(pdir)
    rc = main(["--pages", pdir, "--out", str(tmp_path / "w"), "--mode", "web",
               "--sparql",
               "SELECT ?p (COUNT(?s) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    q = res["sparql"]
    assert q["form"] == "select" and q["columns"] == ["p", "n"]
    got = spark.read.parquet(q["result"])
    # per-predicate counts over the constructed KG sum to all triples
    assert sum(r["n"] for r in got.collect()) == res["triples"]


def test_construct_union_metadata_in_every_branch(graph):
    """A template-object var bound in BOTH union branches must carry
    correct is_iri/datatype metadata from each branch, not just the
    first (per-branch companion capture)."""
    from rdf2smw_spark.sparql import sparql_construct

    df = sparql_construct(graph, PRE + """
        CONSTRUCT { ?s ex:val ?v } WHERE {
          { ?s ex:knows ?v } UNION { ?s rdfs:label ?v }
        }
    """)
    got = {(r["obj"], r["obj_is_iri"], r["obj_datatype"]) for r in df.collect()}
    assert (EX + "bob", True, None) in got        # IRI branch
    assert ("Alice", False, XSD_STR) in got       # literal branch
    assert not any(r["obj_is_iri"] is None for r in df.collect())


def test_datatype_isiri_isliteral(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?v ?dt ?iri WHERE {
          ex:alice ?p ?v .
          BIND (DATATYPE(?v) AS ?dt)
          BIND (ISIRI(?v) AS ?iri)
        }
    """)
    got = {(r["v"], r["dt"], r["iri"]) for r in df.collect()}
    assert (EX + "Person", None, True) in got      # IRI: no datatype
    assert ("Alice", XSD_STR, False) in got
    assert ("31", "http://www.w3.org/2001/XMLSchema#integer", False) in got


def test_isliteral_filter(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?v WHERE { ex:alice ?p ?v . FILTER (ISLITERAL(?v)) }
    """)
    assert rows(df) == sorted([("Alice",), ("31",)])


def test_order_by_nonprojected_var(graph):
    # ORDER BY a variable that is not projected (SPARQL §15.1)
    df = sparql_select(graph, PRE + """
        SELECT ?s WHERE { ?s ex:age ?a . }
        ORDER BY DESC(xsd:integer(?a)) LIMIT 1
    """)
    assert rows(df) == [(EX + "alice",)]


# -- review regressions -----------------------------------------------------------------

def test_pname_trailing_dot_terminates_statement(graph):
    # "{ ?s a ex:Person. }" — the '.' is the triple terminator, NOT part
    # of the prefixed name
    df = sparql_select(graph, PRE + "SELECT ?s WHERE { ?s a ex:Person. }")
    assert df.count() == 2
    # dots INSIDE a local name still work (ex:v1.5 style)
    from rdf2smw_spark.sparql import Iri
    q = parse_sparql(PRE + "SELECT ?s WHERE { ?s ex:v1.5 ?o . }")
    assert q.where.elements[0].p == Iri(EX + "v1.5")


def test_construct_union_subject_position_branch_not_dropped(graph):
    """A CONSTRUCT var bound in SUBJECT position in one union branch and
    object position in another: the subject branch's solutions must
    survive (padded is_iri=TRUE, not NULL)."""
    from rdf2smw_spark.sparql import sparql_construct

    df = sparql_construct(graph, PRE + """
        CONSTRUCT { ?x ex:mark "hit" } WHERE {
          { ?x a ex:Robot } UNION { ex:bob ex:knows ?x }
        }
    """)
    subs = {r["subj"] for r in df.collect()}
    assert subs == {EX + "carol"}  # both branches bind carol; not dropped
    assert df.count() == 1


def test_graph_var_in_predicate_position_filters(spark):
    rows_ = [
        (EX + "x", "g://a", "1", False, None, "g://a"),   # pred == graph
        (EX + "x", EX + "p", "2", False, None, "g://a"),  # pred != graph
    ]
    t = spark.createDataFrame(rows_, TRIPLE_SCHEMA)
    df = sparql_select(t, PRE + """
        SELECT ?o WHERE { GRAPH ?g { ?s ?g ?o } }
    """)
    assert rows(df) == [("1",)]


def test_replace_requires_literal_replacement(graph):
    with pytest.raises(SparqlSyntaxError):
        sparql_select(graph, PRE + """
            SELECT ?r WHERE { ?s rdfs:label ?lab .
                              BIND (REPLACE(?lab, "a", ?s) AS ?r) }
        """)


def test_regex_case_insensitive_flag(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?s WHERE { ?s rdfs:label ?lab . FILTER (REGEX(?lab, "ALICE", "i")) }
    """)
    assert rows(df) == [(EX + "alice",)]
    with pytest.raises(SparqlSyntaxError):
        sparql_select(graph, PRE + """
            SELECT ?s WHERE { ?s rdfs:label ?l . FILTER (REGEX(?l, "x", "g")) }
        """)


def test_path_plus_keeps_distinct_datatypes(spark):
    """Closure dedup keys on FULL term identity: two literals with the
    same lexical form but different datatypes are different terms."""
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows_ = [
        (EX + "a", EX + "p", "5", False, XSD_INT, "g://x"),
        (EX + "a", EX + "p", "5", False, XSD_STR, "g://x"),
    ]
    t = spark.createDataFrame(rows_, TRIPLE_SCHEMA)
    df = sparql_select(t, PRE + """
        SELECT ?o ?dt WHERE { ex:a ex:p+ ?o . BIND (DATATYPE(?o) AS ?dt) }
    """)
    assert rows(df) == sorted([("5", XSD_INT), ("5", XSD_STR)])


# -- SPARQL Update -----------------------------------------------------------------

def _graph_rows(df):
    return {(r["subj"], r["pred"], r["obj"], r["obj_is_iri"], r["obj_datatype"])
            for r in df.collect()}


def test_insert_data_set_semantics(graph):
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(graph, PRE + """
        INSERT DATA { ex:dave a ex:Person . ex:alice ex:knows ex:carol }
    """)
    # alice->carol already exists: set semantics, only dave's triple lands
    assert res["inserted"].count() == 1
    assert res["deleted"].count() == 0
    assert res["updated"].count() == graph.count() + 1
    assert (EX + "dave", RDF_TYPE, EX + "Person", True, None) in _graph_rows(
        res["updated"]
    )


def test_delete_data_and_where(graph):
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(graph, PRE + """
        DELETE DATA { ex:alice ex:knows ex:bob }
    """)
    assert res["deleted"].count() == 1
    assert res["updated"].count() == graph.count() - 1

    res2 = sparql_update(graph, PRE + "DELETE WHERE { ?s ex:knows ?o }")
    assert res2["deleted"].count() == 3
    assert (EX + "alice", LABEL, "Alice", False, XSD_STR) in _graph_rows(
        res2["updated"]
    )


def test_modify_rename_predicate(graph):
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(graph, PRE + """
        DELETE { ?s ex:knows ?o } INSERT { ?s ex:contactOf ?o }
        WHERE { ?s ex:knows ?o }
    """)
    rows_ = _graph_rows(res["updated"])
    assert not any(p == EX + "knows" for _, p, _, _, _ in rows_)
    assert (EX + "alice", EX + "contactOf", EX + "bob", True, None) in rows_
    assert res["updated"].count() == graph.count()  # 3 deleted, 3 inserted


def test_insert_where_preserves_literal_metadata(graph):
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(graph, PRE + """
        INSERT { ?s ex:alias ?lab } WHERE { ?s rdfs:label ?lab }
    """)
    assert (EX + "bob", EX + "alias", "Bob", False, XSD_STR) in _graph_rows(
        res["inserted"]
    )


def test_update_data_rejects_variables():
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(PRE + "INSERT DATA { ?s ex:p ex:o }")
    with pytest.raises(SparqlSyntaxError):
        parse_sparql(PRE + "DELETE DATA { ex:s ex:p ?o }")


def test_update_via_generic_dispatch(graph):
    from rdf2smw_spark.sparql import sparql_query

    form, df = sparql_query(graph, PRE + "DELETE WHERE { ?s ex:age ?a }")
    assert form == "update" and df.count() == graph.count() - 2


def test_delete_data_matches_stored_literal_identity(graph):
    """Ground plain literals canonicalize to xsd:string (the ingest
    paths' identity), so DELETE DATA actually matches stored rows."""
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(graph, PRE + 'DELETE DATA { ex:alice rdfs:label "Alice" }')
    assert res["deleted"].count() == 1
    res2 = sparql_update(graph, PRE + 'INSERT DATA { ex:bob rdfs:label "Bob" }')
    assert res2["inserted"].count() == 0  # already present (xsd:string)


def test_insert_data_self_dedup(graph):
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(graph, PRE + """
        INSERT DATA { ex:z ex:p ex:q . ex:z ex:p ex:q }
    """)
    assert res["inserted"].count() == 1


def test_update_template_rejects_paths(graph):
    from rdf2smw_spark.sparql import sparql_update, sparql_construct

    with pytest.raises(SparqlSyntaxError):
        sparql_update(graph, PRE + "DELETE WHERE { ?s ex:knows+ ?o }")
    with pytest.raises(SparqlSyntaxError):
        sparql_construct(graph, PRE + """
            CONSTRUCT { ?s ex:p/ex:q ?o } WHERE { ?s ex:knows ?o }
        """)


def test_replace_flags(graph):
    df = sparql_select(graph, PRE + """
        SELECT ?r WHERE { ex:alice rdfs:label ?lab .
                          BIND (REPLACE(?lab, "ALICE", "x", "i") AS ?r) }
    """)
    assert rows(df) == [("x",)]


# -- blank nodes in patterns (r5) ---------------------------------------------

def test_blank_label_is_existential(graph):
    """_:b joins like a variable but never projects."""
    got = sorted(r["o"] for r in sparql_select(graph, PRE + """
        SELECT ?o WHERE { _:b a ex:Person . _:b ex:knows ?o . }
    """).collect())
    assert got == [EX + "bob", EX + "carol", EX + "carol"]


def test_anon_blank_and_property_list(graph):
    # [] as object: anyone knowing anything
    assert sparql_select(graph, PRE + """
        SELECT DISTINCT ?s WHERE { ?s ex:knows [] . }
    """).count() == 2
    # property list in object position
    got = sorted(r["n"] for r in sparql_select(graph, PRE + """
        SELECT ?n WHERE {
          ?s ex:knows [ rdfs:label ?n ] .
        }
    """).collect())
    assert got == ["Bob"]
    # property list as subject with nested list + trailing block
    got = sorted(r["a"] for r in sparql_select(graph, PRE + """
        SELECT ?a WHERE { [ ex:knows [ rdfs:label "Bob" ] ; ex:age ?a ] . }
    """).collect())
    assert got == ["31"]


def test_select_star_excludes_blank_existentials(graph):
    df = sparql_select(graph, PRE + "SELECT * WHERE { _:b rdfs:label ?n . }")
    assert df.columns == ["n"]


def test_construct_mints_fresh_blanks_per_solution(graph):
    """§16.2: a template blank mints one fresh blank per solution,
    shared across template triples within the solution."""
    from rdf2smw_spark.sparql import sparql_construct

    g = sparql_construct(graph, PRE + """
        CONSTRUCT { ?s ex:linkedTo _:n . _:n ex:via "knows" . }
        WHERE { ?s ex:knows ?o . }
    """)
    out = g.collect()
    links = {(r.subj, r.obj) for r in out if r.pred == EX + "linkedTo"}
    vias = {r.subj for r in out if r.pred == EX + "via"}
    # 3 solutions -> 3 distinct blanks, each with its via triple
    blanks = {o for _s, o in links}
    assert len(links) == 3 and len(blanks) == 3 and blanks == vias
    assert all(b.startswith("_:") for b in blanks)
    meta = {(r.obj_is_iri, r.obj_datatype) for r in out if r.pred == EX + "linkedTo"}
    assert meta == {(False, None)}  # blank object: 3rd term kind


def test_datetime_accessors_and_hashes(graph):
    """YEAR/MONTH/DAY/HOURS over ISO lexical forms; non-dates are type
    errors (unbound); SHA384/512 and IRI identity."""
    got = sparql_select(graph, PRE + """
        SELECT ?y ?m ?d ?h ?bad ?iri ?h384 WHERE {
          ex:alice ex:age ?a .
          BIND (YEAR("1996-03-02T10:30:05Z") AS ?y)
          BIND (MONTH("1996-03-02") AS ?m)
          BIND (DAY("1996-03-02") AS ?d)
          BIND (HOURS("1996-03-02T10:30:05") AS ?h)
          BIND (YEAR(?a) AS ?bad)
          BIND (IRI("http://e/x") AS ?iri)
          BIND (SHA384("abc") AS ?h384)
        }
    """).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["y"], r["m"], r["d"], r["h"]) == (1996, 3, 2, 10)
    assert r["bad"] is None  # "31" is not a date: unbound
    assert r["iri"] == "http://e/x"
    import hashlib
    assert r["h384"] == hashlib.sha384(b"abc").hexdigest()


def test_negated_property_set_inverse_members(graph):
    """§9.1 NPS with inverse members: forward members negate forward
    edges, ^members negate inverted edges (alt/inv translation)."""
    # forward: any edge from alice that is NOT knows/type
    got = sorted(r["o"] for r in sparql_select(graph, PRE + """
        SELECT ?o WHERE {
          ex:alice !(ex:knows|<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>) ?o .
        }
    """).collect())
    assert got == ["31", "Alice"]  # age + label only
    # pure inverse NPS: arrive at carol backwards over NOT-type edges
    got = sorted(r["s"] for r in sparql_select(graph, PRE + """
        SELECT ?s WHERE {
          ex:carol !(^<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>) ?s .
        }
    """).collect())
    assert got == [EX + "alice", EX + "bob"]  # knowers, not the Robot class
    # mixed: forward non-knows edges UNION inverse non-knows edges
    got = sorted(tuple(r) for r in sparql_select(graph, PRE + """
        SELECT ?x WHERE { ex:bob !(ex:knows|^ex:knows) ?x . }
    """).collect())
    flat = sorted(x for (x,) in got)
    # forward: type/label/age objects; inverse: nothing points at bob
    # except alice's knows (excluded)
    assert flat == ["9", "Bob", EX + "Person"]


def test_update_graph_targets_and_with(spark):
    """GRAPH <g> template blocks and WITH <g>: targeted deletes remove
    only that graph's rows, targeted inserts dedup per graph, and WITH
    scopes WHERE + plain templates to the graph (§3.1.3)."""
    from rdf2smw_spark.sparql import sparql_update

    def t(s, p, o, g):
        return (EX + s, EX + p, EX + o, True, None, g)

    g1, g2 = "http://g/one", "http://g/two"
    base = spark.createDataFrame(
        [t("a", "p", "x", g1), t("a", "p", "x", g2), t("b", "p", "y", g1)],
        TRIPLE_SCHEMA,
    )
    # targeted DELETE DATA: only g1's copy of (a,p,x) goes
    res = sparql_update(base, PRE + """
        DELETE DATA { GRAPH <http://g/one> { ex:a ex:p ex:x . } }
    """)
    left = sorted((r.subj, r.src_url) for r in res["updated"].collect())
    assert left == [(EX + "a", g2), (EX + "b", g1)]
    # targeted INSERT: triple exists in g2, NOT in g1 -> inserted into g1
    res = sparql_update(base, PRE + """
        INSERT { GRAPH <http://g/one> { ?s ex:q ?o . } }
        WHERE { ?s ex:p ?o . }
    """)
    ins = {(r.subj, r.pred, r.src_url) for r in res["inserted"].collect()}
    assert ins == {(EX + "a", EX + "q", g1), (EX + "b", EX + "q", g1)}
    # WITH scopes WHERE to g2 (only a matches) and targets the template
    res = sparql_update(base, PRE + """
        WITH <http://g/two> DELETE { ?s ex:p ?o } WHERE { ?s ex:p ?o . }
    """)
    gone = [(r.subj, r.src_url) for r in res["deleted"].collect()]
    assert gone == [(EX + "a", g2)]
    assert res["updated"].count() == 2  # both g1 rows survive
    # per-graph insert dedup: re-inserting g2's copy is a no-op, g1 new
    res = sparql_update(base, PRE + """
        INSERT DATA {
          GRAPH <http://g/two> { ex:a ex:p ex:x . }
          GRAPH <http://g/one> { ex:c ex:p ex:z . }
        }
    """)
    ins = {(r.subj, r.src_url) for r in res["inserted"].collect()}
    assert ins == {(EX + "c", g1)}
    # WITH on a DATA form is rejected (spec: modify forms only)
    with pytest.raises(SparqlSyntaxError):
        sparql_update(base, PRE + "WITH <http://g/one> INSERT DATA { ex:a ex:p ex:x . }")


def test_graph_management_updates(spark):
    """§3.2 CLEAR/DROP/ADD/COPY/MOVE over the src_url provenance."""
    from rdf2smw_spark.sparql import sparql_update

    def t(s, o, g):
        return (EX + s, EX + "p", EX + o, True, None, g)

    g1, g2 = "http://g/one", "http://g/two"
    base = spark.createDataFrame(
        [t("a", "x", g1), t("b", "y", g1), t("a", "x", g2), t("c", "z", g2)],
        TRIPLE_SCHEMA,
    )

    res = sparql_update(base, "CLEAR GRAPH <http://g/one>")
    assert {r.src_url for r in res["updated"].collect()} == {g2}
    assert res["deleted"].count() == 2

    res = sparql_update(base, "DROP SILENT GRAPH <http://g/two>")
    assert {r.src_url for r in res["updated"].collect()} == {g1}

    res = sparql_update(base, "CLEAR ALL")
    assert res["updated"].count() == 0 and res["deleted"].count() == 4

    # ADD: g1's (a,x) already in g2 -> only (b,y) inserted
    res = sparql_update(base, "ADD GRAPH <http://g/one> TO GRAPH <http://g/two>")
    ins = [(r.subj, r.src_url) for r in res["inserted"].collect()]
    assert ins == [(EX + "b", g2)]
    assert res["updated"].count() == 5

    # COPY: g2 := g1 exactly (c,z vanishes from g2)
    res = sparql_update(base, "COPY <http://g/one> TO <http://g/two>")
    g2_rows = sorted(r.subj for r in res["updated"]
                     .filter("src_url = 'http://g/two'").collect())
    assert g2_rows == [EX + "a", EX + "b"]
    assert res["updated"].count() == 4

    # MOVE: g1 gone, g2 := old g1
    res = sparql_update(base, "MOVE <http://g/one> TO <http://g/two>")
    rows = sorted((r.subj, r.src_url) for r in res["updated"].collect())
    assert rows == [(EX + "a", g2), (EX + "b", g2)]

    # DEFAULT target: no separate default graph -> loud error
    with pytest.raises(SparqlSyntaxError):
        sparql_update(base, "CLEAR DEFAULT")


def test_collection_pattern_and_create(spark):
    """RDF collections in patterns expand to their rdf:first/rest
    chain of existentials; CREATE GRAPH is an accepted no-op."""
    from rdf2smw_spark.sparql import sparql_update

    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows = [
        (EX + "menu", EX + "items", "_:l1", False, None, "g"),
        ("_:l1", RDF + "first", "soup", False, XSD_STR, "g"),
        ("_:l1", RDF + "rest", "_:l2", False, None, "g"),
        ("_:l2", RDF + "first", "bread", False, XSD_STR, "g"),
        ("_:l2", RDF + "rest", RDF + "nil", True, None, "g"),
    ]
    t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    got = sparql_select(t, PRE + """
        SELECT ?s WHERE { ?s ex:items ("soup" "bread") . }
    """).collect()
    assert [r["s"] for r in got] == [EX + "menu"]
    # wrong order must NOT match
    assert sparql_select(t, PRE + """
        SELECT ?s WHERE { ?s ex:items ("bread" "soup") . }
    """).count() == 0
    # '()' is rdf:nil itself
    assert sparql_select(t, PRE + """
        SELECT ?l WHERE { ?l <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> () . }
    """).count() == 1
    res = sparql_update(t, "CREATE SILENT GRAPH <http://g/new>")
    assert res["updated"].count() == 5 and res["inserted"].count() == 0


def test_describe_is_concise_bounded(spark):
    """DESCRIBE closes over blank-node objects (CBD): the blank list
    structure hanging off a described subject comes along; another
    IRI's triples do not."""
    from rdf2smw_spark.sparql import sparql_query

    rows = [
        (EX + "menu", EX + "items", "_:l1", False, None, "g"),
        ("_:l1", EX + "first", "soup", False, XSD_STR, "g"),
        ("_:l1", EX + "rest", "_:l2", False, None, "g"),
        ("_:l2", EX + "first", "bread", False, XSD_STR, "g"),
        (EX + "other", EX + "p", "x", False, XSD_STR, "g"),
    ]
    t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    form, df = sparql_query(t, PRE + "DESCRIBE ex:menu")
    assert form == "describe"
    got = sorted(r.subj for r in df.collect())
    assert got == ["_:l1", "_:l1", "_:l2", EX + "menu"]


# -- GRAPH ?var update templates (§3.1.3 QuadPattern, r5) ---------------------

@pytest.fixture(scope="module")
def quads(spark):
    """Two named graphs holding priority facts plus a marker triple
    present only in g1 — the fixture for per-solution graph targets."""
    XI = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        (EX + "s1", EX + "priority", "5", False, XI, "g://1"),
        (EX + "s2", EX + "priority", "7", False, XI, "g://2"),
        (EX + "s3", EX + "other", "x", False, XSD_STR, "g://1"),
        # the same triple in BOTH graphs (quad-store coexistence)
        (EX + "dup", EX + "flag", "y", False, XSD_STR, "g://1"),
        (EX + "dup", EX + "flag", "y", False, XSD_STR, "g://2"),
        # marker only in g1
        (EX + "dup", EX + "marked", "m", False, XSD_STR, "g://1"),
    ]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_update_graph_var_rename_in_place(quads):
    """DELETE/INSERT { GRAPH ?g {..} } renames a predicate WITHIN each
    graph: the new facts land in the graph the old ones came from."""
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(quads, PRE + """
        DELETE { GRAPH ?g { ?o ex:priority ?p } }
        INSERT { GRAPH ?g { ?o ex:importance ?p } }
        WHERE  { GRAPH ?g { ?o ex:priority ?p } }
    """)
    got = {(r.subj, r.pred, r.obj, r.src_url)
           for r in res["updated"].collect()}
    assert (EX + "s1", EX + "importance", "5", "g://1") in got
    assert (EX + "s2", EX + "importance", "7", "g://2") in got
    assert not any(p == EX + "priority" for _, p, _, _ in got)
    assert res["inserted"].count() == 2 and res["deleted"].count() == 2
    # untouched rows keep their provenance
    assert (EX + "s3", EX + "other", "x", "g://1") in got


def test_update_graph_var_delete_scoped_to_bound_graph(quads):
    """A quad delete removes the row from exactly the graph ?g bound —
    the same triple's copy in the other graph survives."""
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(quads, PRE + """
        DELETE { GRAPH ?g { ?s ex:flag "y" } }
        WHERE  { GRAPH ?g { ?s ex:marked ?m } }
    """)
    flags = [(r.src_url) for r in res["updated"]
             .filter("pred = '%sflag'" % EX).collect()]
    assert flags == ["g://2"]
    assert res["deleted"].count() == 1


def test_update_graph_var_insert_dedup_per_graph(quads):
    """Quad-store dedup: inserting a triple already present in the
    TARGET graph is a no-op, but the same triple is insertable into a
    graph that lacks it."""
    from rdf2smw_spark.sparql import sparql_update

    # dup/flag/y exists in g://1 already -> re-insert there is dropped
    res = sparql_update(quads, PRE + """
        INSERT { GRAPH ?g { ?s ex:flag "y" } }
        WHERE  { GRAPH ?g { ?s ex:marked ?m } }
    """)
    assert res["inserted"].count() == 0
    # ... but inserting into the graph where only s2 lives does insert
    res2 = sparql_update(quads, PRE + """
        INSERT { GRAPH ?g { ?o ex:flagged "1" } }
        WHERE  { GRAPH ?g { ?o ex:priority ?p } }
    """)
    ins = {(r.subj, r.src_url) for r in res2["inserted"].collect()}
    assert ins == {(EX + "s1", "g://1"), (EX + "s2", "g://2")}


def test_update_graph_var_non_iri_target_skipped(quads):
    """Solutions binding the graph var to a literal produce no quad
    (graph names are IRIs) — same skip rule as invalid triples."""
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(quads, PRE + """
        INSERT { GRAPH ?p { ?o ex:copied "1" } }
        WHERE  { ?o ex:priority ?p }
    """)  # ?p binds literals "5"/"7"
    assert res["inserted"].count() == 0
    assert res["updated"].count() == quads.count()


def test_update_graph_var_unbound_raises(quads):
    from rdf2smw_spark.sparql import sparql_update

    with pytest.raises(SparqlSyntaxError, match="never bound"):
        sparql_update(quads, PRE + """
            INSERT { GRAPH ?g { ?o ex:copied "1" } }
            WHERE  { ?o ex:priority ?p }
        """)


def test_delete_where_graph_var_quads(quads):
    """DELETE WHERE { GRAPH ?g { .. } } is a QuadPattern: rows are
    deleted from the graph they matched in."""
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(quads, PRE + """
        DELETE WHERE { GRAPH ?g { ?o ex:priority ?p } }
    """)
    assert res["deleted"].count() == 2
    assert res["updated"].count() == quads.count() - 2


def test_update_data_rejects_graph_var():
    with pytest.raises(SparqlSyntaxError, match="ground graph"):
        parse_sparql(PRE + 'INSERT DATA { GRAPH ?g { ex:s ex:p "1" } }')


# -- LOAD (§3.1.4, r5) --------------------------------------------------------

def test_load_into_graph(quads, tmp_path):
    """LOAD reads an RDF document into the INTO graph with per-graph
    dedup; rows already in the target graph are not re-inserted."""
    from rdf2smw_spark.sparql import sparql_update

    doc = tmp_path / "inc.nt"
    doc.write_text(
        f'<{EX}s9> <{EX}p> "new" .\n'
        # duplicate of a row already in g://1 (xsd:string identity)
        f'<{EX}dup> <{EX}flag> "y" .\n'
    )
    res = sparql_update(quads, f"LOAD <file://{doc}> INTO GRAPH <g://1>")
    ins = {(r.subj, r.src_url) for r in res["inserted"].collect()}
    assert ins == {(EX + "s9", "g://1")}
    assert res["updated"].count() == quads.count() + 1


def test_load_defaults_to_document_iri_graph(quads, tmp_path):
    from rdf2smw_spark.sparql import sparql_update

    doc = tmp_path / "doc.nt"
    doc.write_text(f'<{EX}s9> <{EX}p> "v" .\n')
    res = sparql_update(quads, f"LOAD <file://{doc}>")
    ins = [(r.subj, r.src_url) for r in res["inserted"].collect()]
    assert ins == [(EX + "s9", f"file://{doc}")]


def test_load_silent_missing_document_is_noop(quads):
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(quads, "LOAD SILENT <file:///nonexistent/x.nt>")
    assert res["inserted"].count() == 0
    assert res["updated"].count() == quads.count()
    with pytest.raises(Exception):
        sparql_update(quads, "LOAD <file:///nonexistent/x.nt>")


# -- FROM / FROM NAMED / USING dataset clauses (§13.2 + §3.1.3, r5) -----------

def test_from_merges_default_graph(quads):
    df = sparql_select(quads, PRE + """
        SELECT ?s FROM <g://1> WHERE { ?s ex:priority ?p }
    """)
    assert [r.s for r in df.collect()] == [EX + "s1"]  # g://2's s2 excluded


def test_from_named_scopes_graph_patterns(quads):
    # GRAPH ranges over exactly the FROM NAMED list
    df = sparql_select(quads, PRE + """
        SELECT ?g FROM NAMED <g://2> WHERE { GRAPH ?g { ?s ex:priority ?p } }
    """)
    assert [r.g for r in df.collect()] == ["g://2"]
    # a present clause with no FROM leaves the default graph EMPTY
    assert sparql_select(quads, PRE + """
        SELECT ?s FROM NAMED <g://2> WHERE { ?s ex:priority ?p }
    """).count() == 0
    # and FROM without NAMED leaves GRAPH patterns empty
    assert sparql_select(quads, PRE + """
        SELECT ?s FROM <g://1> WHERE { GRAPH ?g { ?s ex:priority ?p } }
    """).count() == 0


def test_using_scopes_update_where_only(quads):
    """USING restricts the WHERE evaluation; the delete still applies
    store-wide (provenance-blind template)."""
    from rdf2smw_spark.sparql import sparql_update

    res = sparql_update(quads, PRE + """
        DELETE { ?s ex:flag "y" }
        USING <g://1>
        WHERE { ?s ex:marked ?m . ?s ex:flag "y" }
    """)
    # WHERE matched in g://1 (marker lives there); the blind delete
    # removes BOTH graphs' copies of the matched triple
    assert res["deleted"].count() == 2
    # ... but a USING graph without the marker matches nothing
    res2 = sparql_update(quads, PRE + """
        DELETE { ?s ex:flag "y" }
        USING <g://2>
        WHERE { ?s ex:marked ?m . ?s ex:flag "y" }
    """)
    assert res2["deleted"].count() == 0


def test_with_and_using_conflict():
    with pytest.raises(SparqlSyntaxError, match="USING"):
        parse_sparql(PRE + """
            WITH <g://1> DELETE { ?s ex:p ?o } USING <g://2>
            WHERE { ?s ex:p ?o }
        """)


def test_dataset_clause_on_ask_construct_describe(quads):
    from rdf2smw_spark.sparql import sparql_construct, sparql_query

    form, df = sparql_query(quads, PRE + """
        ASK FROM <g://2> { ?s ex:marked ?m }
    """)  # marker lives only in g://1
    assert form == "ask" and df.collect()[0].ask is False
    g = sparql_construct(quads, PRE + """
        CONSTRUCT { ?s ex:seen "1" } FROM <g://1> WHERE { ?s ex:priority ?p }
    """)
    assert [r.subj for r in g.collect()] == [EX + "s1"]
    form, df = sparql_query(quads, PRE + f"DESCRIBE <{EX}s2> FROM <g://1>")
    assert form == "describe" and df.count() == 0  # s2's rows live in g://2


def test_tz_accessor(spark):
    rows_ = [
        (EX + "a", EX + "at", "2024-03-01T10:00:00Z", False, None, "g"),
        (EX + "b", EX + "at", "2024-03-01T10:00:00+05:30", False, None, "g"),
        (EX + "c", EX + "at", "2024-03-01T10:00:00", False, None, "g"),
        (EX + "d", EX + "at", "not a date", False, None, "g"),
    ]
    t = spark.createDataFrame(rows_, TRIPLE_SCHEMA)
    df = sparql_select(t, PRE + """
        SELECT ?s (TZ(?d) AS ?tz) WHERE { ?s ex:at ?d }
    """)
    got = {r.s.rsplit("/", 1)[1]: r.tz for r in df.collect()}
    assert got == {"a": "Z", "b": "+05:30", "c": "", "d": None}
