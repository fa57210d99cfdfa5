"""CLI + category filter."""

import json

import pytest

from rdf2smw_spark.operators.filters import filter_pages_by_category
from rdf2smw_spark.schemas import URI_TYPE_UNDEFINED, WIKI_PAGE_SCHEMA


def test_category_filter(spark):
    pages = spark.createDataFrame(
        [
            ("A", URI_TYPE_UNDEFINED, [], ["Keep", "Other"], None),
            ("B", URI_TYPE_UNDEFINED, [], ["Other"], None),
            ("C", URI_TYPE_UNDEFINED, [], [], None),
        ],
        WIKI_PAGE_SCHEMA,
    )
    out = {r["title"] for r in filter_pages_by_category(pages, ["Keep"]).collect()}
    assert out == {"A"}


def test_cli_nt_mode(spark, tmp_path, capsys):
    from rdf2smw_spark.__main__ import main

    nt = tmp_path / "in.nt"
    nt.write_text('<http://e/s> <http://e/p> "v" .\n')
    rc = main(["--in", str(nt), "--out", str(tmp_path / "out")])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["bad_lines"] == 0
    assert (tmp_path / "out" / "pages.xml").exists()
    assert "<mediawiki>" in (tmp_path / "out" / "pages.xml").read_text()


def test_cli_entail_rdfs_adds_derived_facts(spark, tmp_path, capsys):
    """--entail rdfs: a domain declaration types the subject, and the
    derived rdf:type lands as a category on the rendered page."""
    from rdf2smw_spark.__main__ import main

    nt = tmp_path / "in.nt"
    nt.write_text(
        "<http://e/p> <http://www.w3.org/2000/01/rdf-schema#domain> <http://e/C> .\n"
        "<http://e/C> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://www.w3.org/2002/07/owl#Class> .\n"
        '<http://e/s> <http://e/p> "v" .\n'
    )
    out_plain = tmp_path / "out_plain"
    rc = main(["--in", str(nt), "--out", str(out_plain)])
    assert rc == 0
    plain_xml = (out_plain / "pages.xml").read_text()
    assert "[[Category:C]]" not in plain_xml

    out_ent = tmp_path / "out_ent"
    rc = main(["--in", str(nt), "--out", str(out_ent), "--entail", "rdfs"])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    ent_xml = (out_ent / "pages.xml").read_text()
    # s rdf:type C derived by rdfs2 -> rendered as a category of S
    assert "Category:C" in ent_xml
    assert res["n_pages"] >= 3


@pytest.mark.parametrize("mode", ["nordfs", "xowl", "owl+rdfs", "RDFS"])
def test_entail_triples_rejects_unknown_modes(spark, mode):
    """Only the CLI's --entail choices select entailment families: a mode
    that merely contains "rdfs" or "owl" is an error, not a run."""
    from rdf2smw_spark.plans.pipeline import entail_triples
    from rdf2smw_spark.schemas import TRIPLE_SCHEMA

    triples = spark.createDataFrame([], TRIPLE_SCHEMA)
    with pytest.raises(ValueError, match="unknown entailment mode"):
        entail_triples(triples, mode)
