"""WikiPage → wikitext → MediaWiki XML (reference MWXMLCreator,
/root/reference/components/mwxmlcreator.go:52-158).

All rendering is built-in column expressions (concat / transform /
aggregate over the facts array) — no Python in the row path. In nt
mode the output leaves Spark in one place: `collect_xml_file` streams
the three documents (pages / properties / templates) from one sorted
pass, a partition at a time, into their <mediawiki> envelopes. The XML
template, namespace map, escape table and template-page wikitext mirror
the reference byte-for-byte, except:

- <timestamp> is a pinned parameter instead of time.Now() (mwxmlcreator.go:128
  is nondeterministic; SURVEY.md §4.3).
- template-page property order and page emission order are sorted
  (reference iterates Go maps — nondeterministic).
"""

from __future__ import annotations

from contextlib import ExitStack
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.functions.textnorm import escape_wiki_col
from rdf2smw_spark.schemas import (
    PAGE_TYPE_TO_NAMESPACE,
    URI_TYPE_PREDICATE,
    URI_TYPE_TEMPLATE,
    URI_TYPE_UNDEFINED,
)

FIXED_TIMESTAMP = "2000-01-01T00:00:00Z"

# Exact bytes of wikiXmlTpl (mwxmlcreator.go:27-43), including tabs.
WIKI_XML_TPL = """
\t<page>
\t\t<title>%s</title>
\t\t<ns>%d</ns>
\t\t<revision>
\t\t\t<timestamp>%s</timestamp>
\t\t\t<contributor>
\t\t\t\t<ip>127.0.0.1</ip>
\t\t\t</contributor>
\t\t\t<comment>Page created by RDF2SMW commandline tool</comment>
\t\t\t<model>wikitext</model>
\t\t\t<format>text/x-wiki</format>
\t\t\t<text xml:space="preserve">
%s</text>
\t\t</revision>
\t</page>
"""

def _ns_col() -> Column:
    c = F.lit(PAGE_TYPE_TO_NAMESPACE[URI_TYPE_UNDEFINED])
    for k, v in PAGE_TYPE_TO_NAMESPACE.items():
        c = F.when(F.col("page_type") == k, F.lit(v)).otherwise(c)
    return c


def _plain_wikitext() -> Column:
    """X2: '[[Prop::escaped(Value)]]\n' per fact + '[[Category:Name]]\n'
    per category (iptypes.go:99-101,127-129)."""
    facts_txt = F.aggregate(
        F.col("facts"),
        F.lit(""),
        lambda acc, f: F.concat(
            acc, F.lit("[["), f["property"], F.lit("::"), escape_wiki_col(f["value"]), F.lit("]]\n")
        ),
    )
    cats_txt = F.aggregate(
        F.col("categories"),
        F.lit(""),
        lambda acc, c: F.concat(acc, F.lit("[[Category:"), c, F.lit("]]\n")),
    )
    return F.concat(facts_txt, cats_txt)


def _template_name() -> Column:
    # specific category, else last category (mwxmlcreator.go:68-75);
    # reference checks .Name != "" on a possibly-nil pointer only after
    # the len>0 guard — we coalesce.
    return F.coalesce(F.col("specific_category"), F.element_at(F.col("categories"), -1))


def _template_wikitext() -> Column:
    """X1: '{{Name\n' + per-fact '|prop=val\n' with consecutive
    same-property facts collapsed to ',val\n' (mwxmlcreator.go:83-113).
    Facts are sorted upstream, so equal properties are adjacent."""
    facts = F.col("facts")
    entries = F.transform(
        facts,
        lambda f, i: F.when(
            (i > 0) & (F.element_at(facts, i)["property"] == f["property"]),
            F.concat(F.lit(","), escape_wiki_col(f["value"]), F.lit("\n")),
        ).otherwise(
            F.concat(
                F.lit("|"),
                F.replace(f["property"], F.lit(" "), F.lit("_")),
                F.lit("="),
                escape_wiki_col(f["value"]),
                F.lit("\n"),
            )
        ),
    )
    return F.concat(
        F.lit("{{"),
        _template_name(),
        F.lit("\n"),
        F.array_join(entries, ""),
        F.lit("|Categories="),
        F.array_join(F.col("categories"), ","),
        F.lit("\n}}"),
    )


def pages_to_xml(
    pages: DataFrame,
    use_templates: bool = True,
    timestamp: str = FIXED_TIMESTAMP,
) -> DataFrame:
    """Render every page to its <page> XML block.
    Returns (title, page_type, template_name, used_properties, xml)."""
    if use_templates:
        is_tpl = F.size("categories") > 0
        wikitext = F.when(is_tpl, _template_wikitext()).otherwise(_plain_wikitext())
        tpl_name = F.when(is_tpl, _template_name())
        used_props = F.when(is_tpl, F.transform("facts", lambda f: f["property"])).otherwise(
            F.array().cast("array<string>")
        )
    else:
        wikitext = _plain_wikitext()
        tpl_name = F.lit(None).cast("string")
        used_props = F.array().cast("array<string>")
    return pages.select(
        "title",
        "page_type",
        tpl_name.alias("template_name"),
        used_props.alias("used_properties"),
        F.format_string(WIKI_XML_TPL, F.col("title"), _ns_col(), F.lit(timestamp), wikitext).alias("xml"),
    )


def template_pages(rendered: DataFrame, timestamp: str = FIXED_TIMESTAMP) -> DataFrame:
    """A4/X4: one Template: page per template name used, listing every
    property any calling page passed (mwxmlcreator.go:79-81,100,142-156).
    Property iteration order is pinned to sorted (reference: Go map order).
    """
    called = rendered.filter(F.col("template_name").isNotNull()).select(
        "template_name", F.explode("used_properties").alias("property")
    )
    per_tpl = called.groupBy("template_name").agg(
        F.array_distinct(F.sort_array(F.collect_list("property"))).alias("props")
    )
    header = F.concat(
        F.lit('{|class="wikitable smwtable"\n!colspan="2"| '),
        F.col("template_name"),
        F.lit(": {{PAGENAMEE}}\n"),
    )
    prop_rows = F.aggregate(
        F.col("props"),
        F.lit(""),
        lambda acc, p: F.concat(
            acc,
            F.format_string(
                "|-\n!%s\n|{{#arraymap:{{{%s|}}}|,|x|[[%s::x]]|,}}\n",
                p,
                F.replace(p, F.lit(" "), F.lit("_")),
                p,
            ),
        ),
    )
    body = F.concat(
        header, prop_rows, F.lit("|}\n\n{{#arraymap:{{{Categories}}}|,|x|[[Category:x]]|}}\n")
    )
    title = F.concat(F.lit("Template:"), F.col("template_name"))
    return per_tpl.select(
        title.alias("title"),
        F.lit(URI_TYPE_TEMPLATE).alias("page_type"),
        F.format_string(WIKI_XML_TPL, title, F.lit(PAGE_TYPE_TO_NAMESPACE[URI_TYPE_TEMPLATE]), F.lit(timestamp), body).alias("xml"),
    )


def render_all(
    pages: DataFrame, use_templates: bool = True, timestamp: str = FIXED_TIMESTAMP
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """F4 three-way routing: (content pages, property pages, template
    pages), each as (title, page_type, xml), deterministically sortable
    by title. All three share the one `rendered` plan; nt mode streams
    them to their files in one pass (collect_xml_file), web mode
    checkpoints each as a stage."""
    rendered = pages_to_xml(pages, use_templates, timestamp)

    content = rendered.filter(F.col("page_type") != URI_TYPE_PREDICATE).select(
        "title", "page_type", "xml"
    )
    props = rendered.filter(F.col("page_type") == URI_TYPE_PREDICATE).select(
        "title", "page_type", "xml"
    )
    tpls = (
        template_pages(rendered, timestamp)
        if use_templates
        else rendered.sparkSession.createDataFrame([], "title string, page_type int, xml string")
    )
    return content, props, tpls


def collect_xml_file(docs: list[tuple[str, DataFrame]]) -> dict[str, int]:
    """Write each (path, frame) pair's (title, xml) rows, sorted by
    title, into `path` inside the <mediawiki> envelope
    (mwxmlcreator.go:59-60,137-140); returns the pages written per path.

    One sorted pass routes every row to its file, as the reference's
    MWXMLCreator routes each page to one of its sequential sinks
    (mwxmlcreator.go:131-135, strfilewriter.go:23-37): the frames share
    one plan (so their common subplan runs once) and reach the driver
    one sorted partition at a time, never as whole documents. Same-title
    rows keep the order the sort leaves them in (no tiebreak)."""
    tagged = [df.select(F.lit(i).alias("doc"), "title", "xml") for i, (_, df) in enumerate(docs)]
    rows = reduce(DataFrame.unionByName, tagged).orderBy("doc", "title").select("doc", "xml")
    counts = [0] * len(docs)
    with ExitStack() as stack:
        sinks = [stack.enter_context(open(path, "w")) for path, _ in docs]
        for fh in sinks:
            fh.write("<mediawiki>\n")
        for doc, xml in rows.toLocalIterator():
            sinks[doc].write(xml)
            counts[doc] += 1
        for fh in sinks:
            fh.write("</mediawiki>\n")
    return {path: n for (path, _), n in zip(docs, counts)}
