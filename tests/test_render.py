"""Render-stage goldens hand-derived from the reference's exact format
strings (mwxmlcreator.go:27-43 XML template, :83-113 template calls,
:114-126 plain facts, :142-156 template pages), with the pinned fixed
timestamp replacing time.Now()."""

from pyspark.sql import functions as F

from rdf2smw_spark.operators.render import (
    FIXED_TIMESTAMP,
    collect_xml_file,
    pages_to_xml,
    render_all,
    template_pages,
)
from rdf2smw_spark.schemas import (
    URI_TYPE_CLASS,
    URI_TYPE_PREDICATE,
    URI_TYPE_UNDEFINED,
    WIKI_PAGE_SCHEMA,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, WIKI_PAGE_SCHEMA)


def test_plain_fact_page_xml_golden(spark):
    pages = _pages(
        spark,
        [("MyPage", URI_TYPE_UNDEFINED, [("Has name", "A|B")], [], None)],
    )
    out = pages_to_xml(pages, use_templates=False).collect()[0]
    expected = (
        "\n\t<page>\n"
        "\t\t<title>MyPage</title>\n"
        "\t\t<ns>0</ns>\n"
        "\t\t<revision>\n"
        f"\t\t\t<timestamp>{FIXED_TIMESTAMP}</timestamp>\n"
        "\t\t\t<contributor>\n"
        "\t\t\t\t<ip>127.0.0.1</ip>\n"
        "\t\t\t</contributor>\n"
        "\t\t\t<comment>Page created by RDF2SMW commandline tool</comment>\n"
        "\t\t\t<model>wikitext</model>\n"
        "\t\t\t<format>text/x-wiki</format>\n"
        '\t\t\t<text xml:space="preserve">\n'
        "[[Has name::A,B]]\n"  # '|' escaped to ','
        "</text>\n"
        "\t\t</revision>\n"
        "\t</page>\n"
    )
    assert out["xml"] == expected


def test_template_call_with_multivalue_collapse(spark):
    # consecutive same-property facts collapse to ',val' (go:91-94)
    pages = _pages(
        spark,
        [
            (
                "P1",
                URI_TYPE_UNDEFINED,
                [("Has part", "a"), ("Has part", "b"), ("Other prop", "x=y")],
                ["CatA", "CatB"],
                "CatA",
            )
        ],
    )
    out = pages_to_xml(pages, use_templates=True).collect()[0]
    txt = out["xml"]
    assert "{{CatA\n" in txt
    assert "|Has_part=a\n,b\n" in txt
    assert "|Other_prop=x-y\n" in txt  # '=' escaped to '-' in value
    assert "|Categories=CatA,CatB\n}}" in txt
    assert out["template_name"] == "CatA"


def test_template_name_falls_back_to_last_category(spark):
    pages = _pages(spark, [("P2", URI_TYPE_UNDEFINED, [], ["A", "Z"], None)])
    out = pages_to_xml(pages, use_templates=True).collect()[0]
    assert out["template_name"] == "Z"
    assert "{{Z\n" in out["xml"]


def test_template_pages_content(spark):
    pages = _pages(
        spark,
        [
            ("P1", URI_TYPE_UNDEFINED, [("Has part", "a"), ("Size", "3")], ["Cat"], "Cat"),
            ("P2", URI_TYPE_UNDEFINED, [("Size", "4")], ["Cat"], "Cat"),
        ],
    )
    rendered = pages_to_xml(pages, use_templates=True)
    tpl = template_pages(rendered).collect()
    assert len(tpl) == 1
    xml = tpl[0]["xml"]
    assert tpl[0]["title"] == "Template:Cat"
    assert "<ns>10</ns>" in xml
    assert '{|class="wikitable smwtable"\n!colspan="2"| Cat: {{PAGENAMEE}}\n' in xml
    # sorted property order: Has part then Size
    assert xml.index("!Has part\n") < xml.index("!Size\n")
    assert "|{{#arraymap:{{{Has_part|}}}|,|x|[[Has part::x]]|,}}\n" in xml
    assert "{{#arraymap:{{{Categories}}}|,|x|[[Category:x]]|}}\n" in xml


def test_three_way_routing_and_envelope(spark, tmp_path):
    pages = _pages(
        spark,
        [
            ("Normal", URI_TYPE_UNDEFINED, [("P", "v")], [], None),
            ("Property:P", URI_TYPE_PREDICATE, [("Has type", "Text")], [], None),
            ("Category:C", URI_TYPE_CLASS, [], [], None),
        ],
    )
    content, props, tpls = render_all(pages, use_templates=True)
    assert {r["title"] for r in content.collect()} == {"Normal", "Category:C"}
    assert {r["title"] for r in props.collect()} == {"Property:P"}
    path = str(tmp_path / "pages.xml")
    assert collect_xml_file([(path, content)]) == {path: 2}
    doc = open(path).read()
    assert doc.startswith("<mediawiki>\n")
    assert doc.endswith("</mediawiki>\n")
    assert doc.count("<page>") == 2


def test_xml_writer_sorts_each_file_across_partitions(spark, tmp_path):
    # titles arrive out of order and spread over 4 partitions; each file
    # must still be its own rows in title order inside the envelope
    rows_a = [(f"A{i:02d}", f"<a{i}/>\n") for i in (7, 3, 11, 0, 5, 9, 1)]
    rows_b = [(f"B{i:02d}", f"<b{i}/>\n") for i in (4, 2, 8)]
    paths = [str(tmp_path / "a.xml"), str(tmp_path / "b.xml")]
    frames = [spark.createDataFrame(r, "title string, xml string").repartition(4) for r in (rows_a, rows_b)]
    assert collect_xml_file(list(zip(paths, frames))) == {paths[0]: len(rows_a), paths[1]: len(rows_b)}
    for path, rows in zip(paths, (rows_a, rows_b)):
        body = "".join(xml for _, xml in sorted(rows))
        assert open(path).read() == "<mediawiki>\n" + body + "</mediawiki>\n"


def test_xml_writer_empty_templates_file(spark, tmp_path):
    # without templates the third document is the bare envelope
    pages = _pages(spark, [("Normal", URI_TYPE_UNDEFINED, [("P", "v")], ["C"], None)])
    content, props, tpls = render_all(pages, use_templates=False)
    paths = [str(tmp_path / f"{n}.xml") for n in ("pages", "properties", "templates")]
    counts = collect_xml_file(list(zip(paths, (content, props, tpls))))
    assert counts == dict(zip(paths, (1, 0, 0)))
    assert open(tmp_path / "templates.xml").read() == "<mediawiki>\n</mediawiki>\n"
