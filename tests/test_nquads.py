"""N-Quads through the one N-Triples/N-Quads reader (sources/ntriples.py):
line grammar, graph fallback, quarantine policy, and the
serialize∘parse identity."""

import pytest

from rdf2smw_spark.schemas import DT_LANGSTRING, DT_STRING
from rdf2smw_spark.sources.ntriples import (
    parse_ntriples_line,
    parse_ntriples_lines,
    quads_to_nquads,
    read_ntriples,
)


def test_quad_and_triple_forms():
    q = parse_ntriples_line('<http://a> <http://p> <http://b> <http://g> .')
    assert q == ("http://a", "http://p", "http://b", True, None, "http://g")
    t = parse_ntriples_line('<http://a> <http://p> "v" .')
    assert t == ("http://a", "http://p", "v", False, DT_STRING, None)


def test_literal_datatype_not_mistaken_for_graph():
    # the ^^<dt> IRI must bind to the literal, not parse as the graph
    r = parse_ntriples_line(
        '<http://a> <http://p> "3.5"^^<http://www.w3.org/2001/XMLSchema#float> .'
    )
    assert r[2] == "3.5"
    assert r[4] == "http://www.w3.org/2001/XMLSchema#float"
    assert r[5] is None
    r2 = parse_ntriples_line(
        '<http://a> <http://p> "3.5"^^<http://x/dt> <http://g> .'
    )
    assert (r2[4], r2[5]) == ("http://x/dt", "http://g")


def test_lang_literal_angle_in_string_and_blank_nodes():
    r = parse_ntriples_line('<http://a> <http://p> "hi"@en <http://g> .')
    assert (r[2], r[4], r[5]) == ("hi", DT_LANGSTRING, "http://g")
    r2 = parse_ntriples_line('<http://a> <http://p> "x <y> z" .')
    assert r2[2] == "x <y> z"
    r3 = parse_ntriples_line('_:b0 <http://p> _:b1 <http://g> .')
    assert (r3[0], r3[2], r3[3], r3[4]) == ("_:b0", "_:b1", False, None)


def test_malformed_raises_and_comments_skip():
    assert parse_ntriples_line("# comment") is None
    assert parse_ntriples_line("   ") is None
    with pytest.raises(ValueError):
        parse_ntriples_line("garbage line")


def test_graph_fallback_and_quarantine(spark, tmp_path):
    p = tmp_path / "x.nq"
    p.write_text(
        '<http://a> <http://p> "v" .\n'
        '<http://a> <http://p> <http://b> <http://g> .\n'
        "broken\n"
    )
    good, bad = read_ntriples(spark, str(p))
    rows = {r["obj"]: r for r in good.collect()}
    assert rows["v"]["src_url"] == str(p)          # graph-less -> file path
    assert rows["http://b"]["src_url"] == "http://g"  # graph wins
    assert bad.count() == 1


def test_serialize_parse_identity(spark):
    rows = [
        ("http://s", "http://p", "http://o", True, None, "http://g"),
        ("http://s", "http://p", 'we"ird\nval', False, DT_STRING, "http://g"),
        ("http://s", "http://q", "hej", False, DT_LANGSTRING, None),
        ("_:b0", "http://p", "_:b1", False, None, "http://g2"),
    ]
    text = quads_to_nquads(rows)
    lines = spark.createDataFrame(
        [(l,) for l in text.strip().split("\n")], "value string"
    )
    parsed = parse_ntriples_lines(lines, src_url="file.nq")
    got = [
        (r["subj"], r["pred"], r["obj"], r["obj_is_iri"], r["obj_datatype"],
         r["src_url"])
        for r in parsed.filter(parsed.error.isNull()).collect()
    ]
    want = [
        ("http://s", "http://p", "http://o", True, None, "http://g"),
        ("http://s", "http://p", 'we"ird\nval', False, DT_STRING, "http://g"),
        ("http://s", "http://q", "hej", False, DT_LANGSTRING, "file.nq"),
        ("_:b0", "http://p", "_:b1", False, None, "http://g2"),
    ]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_nq_cli_pipeline(spark, tmp_path):
    # .nq input goes through the N-Triples/N-Quads reader in run_nt_pipeline;
    # graph term becomes src_url lineage, conversion output unchanged
    from rdf2smw_spark.plans.pipeline import run_nt_pipeline

    nq = tmp_path / "in.nq"
    nq.write_text(
        '<http://e/s> <http://e/p> "v" <http://g/one> .\n'
        'garbage\n'
        '<http://e/s2> <http://e/p> "w" .\n'
    )
    res = run_nt_pipeline(spark, str(nq), str(tmp_path / "out"))
    assert res["bad_lines"] == 1
    assert res["n_pages"] == 3  # s, s2, property page for p
    xml = (tmp_path / "out" / "pages.xml").read_text()
    assert "<title>S</title>" in xml and "<title>S2</title>" in xml
