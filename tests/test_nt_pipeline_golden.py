"""End-to-end golden test: .nt file → SMW XML, with expected wikitext
hand-derived from the reference's semantics (converter
triplestowikipageconv.go:78-175, renderer mwxmlcreator.go:52-158) under
our pinned deterministic ordering (SURVEY.md §4.3). Fills the
reference's own biggest test gap (no e2e test, SURVEY.md §5)."""

import os

import pytest

from rdf2smw_spark.plans.pipeline import run_nt_pipeline

FIXTURE = """\
<http://ex.org/s1> <http://ex.org/hasName> "Some Name" .
<http://ex.org/s1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/Widget> .
<http://ex.org/s1> <http://ex.org/size> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://ex.org/Widget> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#Class> .
<http://ex.org/Widget> <http://www.w3.org/2000/01/rdf-schema#label> "Widget Class" .
<http://ex.org/hasName> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#DatatypeProperty> .
"""


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ntgold")
    nt = d / "fixture.nt"
    nt.write_text(FIXTURE)
    res = run_nt_pipeline(spark, str(nt), str(d / "out"))
    docs = {name: open(path).read() for name, path in res["outputs"].items()}
    return res, docs


def test_no_bad_lines_and_page_count(outputs):
    res, _ = outputs
    assert res["bad_lines"] == 0
    # subjects: s1, Widget, hasName(pred-merged) + preds: hasName, size,
    # type, label -> pages: s1, Category:Widget Class + 4 property pages
    assert res["n_pages"] == 6


def test_page_count_is_the_pages_written(outputs):
    # n_pages is counted by the XML write: every converted page is a
    # <page> of pages.xml or properties.xml
    res, docs = outputs
    assert res["n_pages"] == docs["pages"].count("<page>") + docs["properties"].count("<page>")


def test_instance_page_template_call(outputs):
    _, docs = outputs
    expected = (
        "{{Widget Class\n"
        "|HasName=Some Name\n"
        "|Size=5\n"
        "|Equivalent_URI=http://ex.org/s1\n"
        "|Categories=Widget Class\n"
        "}}"
    )
    assert expected in docs["pages"]
    assert "<title>S1</title>" in docs["pages"]
    assert "<ns>0</ns>" in docs["pages"]


def test_category_page(outputs):
    _, docs = outputs
    assert "<title>Category:Widget Class</title>" in docs["pages"]
    assert "<ns>14</ns>" in docs["pages"]
    expected = (
        "{{Class\n"
        "|Label=Widget Class\n"
        "|Equivalent_URI=http://ex.org/Widget\n"
        "|Categories=Class\n"
        "}}"
    )
    assert expected in docs["pages"]


def test_property_pages(outputs):
    _, docs = outputs
    props = docs["properties"]
    # declared + used predicate: merged page with Has type + equivalent URI
    assert "<title>Property:HasName</title>" in props
    expected = (
        "{{DatatypeProperty\n"
        "|Has_type=Text\n"
        "|Equivalent_URI=http://ex.org/hasName\n"
        "|Categories=DatatypeProperty\n"
        "}}"
    )
    assert expected in props
    # used-only predicates: plain Has type facts, ns 102
    assert "<title>Property:Size</title>" in props
    assert "[[Has type::Number]]\n" in props
    assert "<title>Property:Type</title>" in props
    assert "[[Has type::Page]]\n" in props
    assert "<title>Property:Label</title>" in props
    assert "[[Has type::Text]]\n" in props
    assert props.count("<ns>102</ns>") == 4


def test_template_pages(outputs):
    _, docs = outputs
    tpls = docs["templates"]
    for name in ["Widget Class", "Class", "DatatypeProperty"]:
        assert f"<title>Template:{name}</title>" in tpls
    # template for Widget Class lists the properties its callers used
    assert "|{{#arraymap:{{{HasName|}}}|,|x|[[HasName::x]]|,}}\n" in tpls
    assert "|{{#arraymap:{{{Size|}}}|,|x|[[Size::x]]|,}}\n" in tpls
    assert tpls.count("<ns>10</ns>") == 3


def test_envelopes(outputs):
    _, docs = outputs
    for doc in docs.values():
        assert doc.startswith("<mediawiki>\n")
        assert doc.endswith("</mediawiki>\n")


def test_deterministic_across_parallelism(spark, tmp_path):
    nt = tmp_path / "f.nt"
    nt.write_text(FIXTURE * 3)  # duplicate triples exercise dedup too
    r1 = run_nt_pipeline(spark, str(nt), str(tmp_path / "o1"))
    r2 = run_nt_pipeline(spark, str(nt), str(tmp_path / "o2"))
    for name in r1["outputs"]:
        assert open(r1["outputs"][name]).read() == open(r2["outputs"][name]).read()
