"""Turtle front end (reference S1: ttlfilereader.go:53 decodes full
Turtle, not just N-Triples). Unit coverage per grammar feature, error
policy, a property-based serialize∘parse identity, and distributed
read_turtle over real files."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rdf2smw_spark.schemas import DT_LANGSTRING, DT_STRING
from rdf2smw_spark.sources.turtle import (
    DT_BOOLEAN,
    DT_DECIMAL,
    DT_DOUBLE,
    DT_INTEGER_X,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    TurtleSyntaxError,
    parse_turtle,
    parse_turtle_docs,
    read_turtle,
    triples_to_turtle,
)

EX = "http://ex.org/"


def _t(doc):
    return parse_turtle(doc, "test")


def test_prefix_and_a_and_semicolon_comma():
    doc = """
    @prefix ex: <http://ex.org/> .
    ex:s a ex:C ; ex:p "v1", "v2" ; ex:q ex:o .
    """
    ts = _t(doc)
    assert (EX + "s", RDF_TYPE, EX + "C", True, None) in ts
    assert (EX + "s", EX + "p", "v1", False, DT_STRING) in ts
    assert (EX + "s", EX + "p", "v2", False, DT_STRING) in ts
    assert (EX + "s", EX + "q", EX + "o", True, None) in ts
    assert len(ts) == 4


def test_sparql_style_directives_and_empty_prefix():
    doc = """
    PREFIX : <http://ex.org/>
    BASE <http://base.org/a/>
    :s :p <rel> .
    """
    ts = _t(doc)
    assert ts == [(EX + "s", EX + "p", "http://base.org/a/rel", True, None)]


def test_literal_forms():
    doc = """
    @prefix ex: <http://ex.org/> .
    @prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
    ex:s ex:p "plain" ;
         ex:p "sv text"@sv ;
         ex:p "42"^^xsd:integer ;
         ex:p 7 ; ex:p 4.25 ; ex:p 1.5e2 ; ex:p true ;
         ex:p 'single' ;
         ex:p \"\"\"long
"quoted" text\"\"\" .
    """
    dts = {(o, d) for (_, _, o, _, d) in _t(doc)}
    assert ("plain", DT_STRING) in dts
    assert ("sv text", DT_LANGSTRING) in dts
    assert ("42", DT_INTEGER_X) in dts
    assert ("7", DT_INTEGER_X) in dts
    assert ("4.25", DT_DECIMAL) in dts
    assert ("1.5e2", DT_DOUBLE) in dts
    assert ("true", DT_BOOLEAN) in dts
    assert ("single", DT_STRING) in dts
    assert ('long\n"quoted" text', DT_STRING) in dts


def test_blank_nodes_and_property_lists():
    doc = """
    @prefix ex: <http://ex.org/> .
    _:b1 ex:p "x" .
    ex:s ex:anon [ ex:inner "y" ] .
    """
    ts = _t(doc)
    assert ("_:b1", EX + "p", "x", False, DT_STRING) in ts
    anon = [t for t in ts if t[1] == EX + "anon"]
    assert len(anon) == 1 and anon[0][3] is False and anon[0][4] is None
    gen = anon[0][2]
    assert (gen, EX + "inner", "y", False, DT_STRING) in ts


def test_collections_build_first_rest_chains():
    ts = _t("@prefix ex: <http://ex.org/> .\nex:s ex:list (1 2) .\nex:s ex:empty () .")
    firsts = [t for t in ts if t[1] == RDF_FIRST]
    rests = [t for t in ts if t[1] == RDF_REST]
    assert len(firsts) == 2 and len(rests) == 2
    assert any(t[2] == RDF_NIL for t in rests)
    assert any(t[1] == EX + "empty" and t[2] == RDF_NIL and t[3] for t in ts)


def test_dots_in_local_names_and_comments():
    ts = _t("@prefix ex: <http://ex.org/> . # preamble\nex:a.b ex:p ex:c.d. # done")
    assert ts == [(EX + "a.b", EX + "p", EX + "c.d", True, None)]


def test_errors_carry_line_numbers():
    with pytest.raises(TurtleSyntaxError, match="line 2"):
        _t('@prefix ex: <http://ex.org/> .\nex:s ex:p "unterminated .')
    with pytest.raises(TurtleSyntaxError, match="undeclared prefix"):
        _t("nope:s nope:p nope:o .")


# --- serialize ∘ parse identity -----------------------------------------------

_safe_local = st.from_regex(r"[A-Za-z0-9][A-Za-z0-9_\-]{0,12}", fullmatch=True)
_literal = st.text(min_size=0, max_size=40).filter(lambda s: "\x00" not in s)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(
            _safe_local,
            _safe_local,
            _literal,
            st.sampled_from([DT_STRING, DT_LANGSTRING, DT_INTEGER_X, None, "IRI"]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_roundtrip_property(items):
    rows = []
    for (s, p, o, kind) in items:
        subj = EX + s
        pred = EX + p
        if kind == "IRI":
            rows.append((subj, pred, EX + "o/" + p, True, None))
        elif kind is None:
            rows.append((subj, pred, "_:bn" + p, False, None))  # blank object
        else:
            rows.append((subj, pred, o, False, kind))
    doc = triples_to_turtle(rows)
    assert sorted(parse_turtle(doc, "t")) == sorted(rows)


# --- distributed read ----------------------------------------------------------

def test_read_turtle_files_and_quarantine(spark, tmp_path):
    good = tmp_path / "good.ttl"
    good.write_text(
        "@prefix ex: <http://ex.org/> .\n"
        'ex:s a ex:C ; ex:p "v1", "v2"@en .\n'
        "<http://other/s2> ex:q ex:o .\n"
    )
    bad = tmp_path / "bad.ttl"
    bad.write_text("@prefix ex: <http://ex.org/> .\nex:s ex:p .")  # missing object
    triples, quarantine = read_turtle(spark, str(tmp_path / "*.ttl"))
    ts = {(r["subj"], r["pred"], r["obj"]) for r in triples.collect()}
    assert (EX + "s", RDF_TYPE, EX + "C") in ts
    assert (EX + "s", EX + "p", "v1") in ts and (EX + "s", EX + "p", "v2") in ts
    assert ("http://other/s2", EX + "q", EX + "o") in ts
    q = quarantine.collect()
    assert len(q) == 1 and "bad.ttl" in q[0]["src_url"]


def test_bad_document_adds_one_quarantine_row_and_no_partial_triples(spark):
    """Multi-document read: the statements before a syntax error in a
    document do not leak into the triples; the document adds exactly
    one quarantine row. A collection nested 2000 deep exhausts the
    recursive parser (RecursionError) and is quarantined the same way."""
    from rdf2smw_spark.sources.ntriples import split_quarantine

    docs = spark.createDataFrame(
        [
            ("good", f'<{EX}s> <{EX}p> "ok" .\n'),
            ("bad", f'<{EX}s> <{EX}p> "partial1" .\n<{EX}s> <{EX}p> "partial2" .\n<{EX}s> <{EX}p> .\n'),
            ("deep", f'<{EX}s> <{EX}p> "partial3" .\n<{EX}s> <{EX}p> ' + "(" * 2000 + ")" * 2000 + " .\n"),
        ],
        "src_url string, ttl string",
    )
    triples, quarantine = split_quarantine(parse_turtle_docs(docs))
    assert [(r["obj"], r["src_url"]) for r in triples.collect()] == [("ok", "good")]
    q = {r["src_url"]: r["error"] for r in quarantine.collect()}
    assert quarantine.count() == 2 and set(q) == {"bad", "deep"}
    assert "line 3" in q["bad"] and "recursion" in q["deep"]


def test_turtle_agrees_with_ntriples_on_shared_subset(spark, tmp_path):
    """N-Triples is a Turtle subset: the same document must parse
    identically through both sources (the reference feeds everything to
    one decoder)."""
    nt = (
        '<http://e/s> <http://e/p> "va l" .\n'
        "<http://e/s> <http://e/q> <http://e/o> .\n"
        '<http://e/s> <http://e/r> "x"@en .\n'
        "_:b <http://e/p> _:c .\n"
    )
    f = tmp_path / "both.nt"
    f.write_text(nt)
    from rdf2smw_spark.sources.ntriples import read_ntriples

    a, _ = read_ntriples(spark, str(f))
    cols = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype"]
    ttl = tmp_path / "both.ttl"
    ttl.write_text(nt)
    b, _ = read_turtle(spark, str(ttl))
    assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
        map(tuple, b.select(*cols).collect())
    )
