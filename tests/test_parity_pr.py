"""Triple-level P/R vs the reference semantics (BASELINE.md target:
precision & recall >= 0.95 on fixture .nt inputs).

The oracle is tools/ref_sim.py — a pure-Python simulation of the
reference's arrival-order control flow. Our engine pins deterministic
orderings where the reference is order-dependent (SURVEY.md §4.3); the
fixtures below exercise every cited behavior, including the ones where
divergence is possible (same-property title ties, multi-type subjects),
and P/R is asserted >= 0.95 overall and == 1.0 on order-independent
fixtures."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo/tools")

from ref_sim import precision_recall, simulate  # noqa: E402

from rdf2smw_spark.operators.convert import triples_to_pages  # noqa: E402
from rdf2smw_spark.schemas import TRIPLE_SCHEMA  # noqa: E402
from rdf2smw_spark.sources.ntriples import parse_ntriples_line  # noqa: E402

OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"

FIXTURES = {
    # FIXTURES.md §3.1 basic grouping
    "basic": """
<http://ex.org/s1> <http://ex.org/p1> "o1" .
<http://ex.org/s1> <http://ex.org/p2> "o2" .
<http://ex.org/s1> <http://ex.org/p3> "o3" .
<http://ex.org/s2> <http://ex.org/p1> "o4" .
<http://ex.org/s2> <http://ex.org/p2> "o5" .
<http://ex.org/s2> <http://ex.org/p3> "o6" .
""",
    # §3.2 typed literals -> Has type inference
    "typed": f"""
<http://ex.org/s> <http://ex.org/str> "text"^^<{XSD}string> .
<http://ex.org/s> <http://ex.org/num> "42"^^<{XSD}integer> .
<http://ex.org/s> <http://ex.org/flt> "4.2"^^<{XSD}float> .
<http://ex.org/s> <http://ex.org/lang> "hej"@sv .
<http://ex.org/s> <http://ex.org/other> "x"^^<{XSD}dateTime> .
""",
    # §3.3 ontology typing -> namespaces
    "ontology": f"""
<http://ex.org/P1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}ObjectProperty> .
<http://ex.org/P2> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}AnnotationProperty> .
<http://ex.org/C1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}Class> .
<http://ex.org/i> <http://ex.org/P1> <http://ex.org/C1> .
""",
    # §3.4 title properties incl. priority + local-name fallback
    "titles": """
<http://ex.org/a> <http://www.w3.org/2000/01/rdf-schema#label> "A label" .
<http://ex.org/a> <http://xmlns.com/foaf/0.1/name> "A name" .
<http://ex.org/b> <http://xmlns.com/foaf/0.1/name> "B name" .
<http://ex.org/c#frag> <http://ex.org/p> "v" .
<http://ex.org/a> <http://ex.org/rel> <http://ex.org/b> .
""",
    # §3.5 nasty strings
    "nasty": """
<http://ex.org/n> <http://www.w3.org/2000/01/rdf-schema#label> "A|B=C<D>E,F.G?H&I#J" .
<http://ex.org/n> <http://ex.org/note> "val (ns:q) end [x:y] tail" .
<http://ex.org/n> <http://ex.org/p> "{curly} [square] |pipe|" .
""",
    # §3.6 category hierarchy -> specific category
    "categories": f"""
<http://ex.org/i> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/deep> .
<http://ex.org/i> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/shallow> .
<http://ex.org/deep> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://ex.org/mid> .
<http://ex.org/mid> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://ex.org/top> .
<http://ex.org/deep> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}Class> .
<http://ex.org/shallow> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}Class> .
""",
    # §3.7 multivalue + exact dup dedup
    "multivalue": """
<http://ex.org/m> <http://ex.org/part> "a" .
<http://ex.org/m> <http://ex.org/part> "b" .
<http://ex.org/m> <http://ex.org/part> "a" .
<http://ex.org/m> <http://ex.org/other> "c" .
""",
    # blank nodes: subject position aggregates normally; object position
    # is neither IRI nor Literal -> empty-valued fact, no Has-type
    # (triplestowikipageconv.go:104,113); blank category objects are
    # walkable by countSuperCategories (:285)
    "blank": f"""
_:b1 <http://ex.org/p1> "from blank subject" .
<http://ex.org/s> <http://ex.org/anon> _:b1 .
<http://ex.org/s> <http://ex.org/p2> "plain" .
<http://ex.org/t> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> _:b2 .
_:b2 <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://ex.org/top> .
""",
    # predicate both declared and used, merging (go:154-166)
    "predmerge": f"""
<http://ex.org/hasX> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}DatatypeProperty> .
<http://ex.org/hasX> <http://www.w3.org/2000/01/rdf-schema#label> "has x" .
<http://ex.org/s> <http://ex.org/hasX> "1"^^<{XSD}integer> .
""",
    # subject asserted BOTH Predicate and Class, Predicate arriving
    # first: the reference's first-arrival rule (go:177-195) and the
    # engine's pinned Predicate>Class agree here; the reversed arrival
    # order is the documented divergence tested separately below
    "multitype": f"""
<http://ex.org/PC> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}ObjectProperty> .
<http://ex.org/PC> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}Class> .
<http://ex.org/s9> <http://ex.org/PC> "v" .
<http://ex.org/s9> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/PC> .
""",
    # cyclic ontology: the reference recurses forever
    # (countSuperCategories go:278-292 has no visited set); ref_sim caps
    # at depth 50 and the engine pins revisits to 0 — both must TERMINATE
    # and the emitted fact/category sets are identical either way (the
    # cycle only perturbs specific-category selection, not membership)
    "cyclic": f"""
<http://ex.org/i2> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/CycA> .
<http://ex.org/CycA> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://ex.org/CycB> .
<http://ex.org/CycB> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://ex.org/CycA> .
<http://ex.org/CycA> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}Class> .
<http://ex.org/CycB> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}Class> .
""",
    # same-property title tie where the lexicographic min arrives first:
    # reference takes arrival order within one property (go:267-276), the
    # engine pins min(obj) — they agree in this order (reverse below)
    "titletie": """
<http://ex.org/tt> <http://www.w3.org/2000/01/rdf-schema#label> "Alpha title" .
<http://ex.org/tt> <http://www.w3.org/2000/01/rdf-schema#label> "Zed title" .
<http://ex.org/tt> <http://ex.org/p> "v" .
""",
}


def _parse(nt: str) -> list[tuple]:
    out = []
    for line in nt.strip().splitlines():
        t = parse_ntriples_line(line)
        if t:
            out.append(t[:5])
    return out


def _spark_sets(spark, triples):
    df = spark.createDataFrame([t + (None,) for t in triples], TRIPLE_SCHEMA)
    pages = triples_to_pages(spark, df, n_salt=4).collect()
    facts = {(p["title"], f["property"], f["value"]) for p in pages for f in p["facts"]}
    cats = {(p["title"], c) for p in pages for c in p["categories"]}
    return facts, cats


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_parity_per_fixture(spark, name):
    triples = _parse(FIXTURES[name])
    ref = simulate(triples)
    facts, cats = _spark_sets(spark, triples)
    fp, fr = precision_recall(facts, ref["facts"])
    cp, cr = precision_recall(cats, ref["categories"])
    assert fp >= 0.95 and fr >= 0.95, (name, sorted(facts ^ ref["facts"]))
    assert cp >= 0.95 and cr >= 0.95, (name, sorted(cats ^ ref["categories"]))


def test_parity_overall_exact(spark):
    """Across all fixtures combined the sets should be identical — the
    pinned orderings only affect sequence, not set membership."""
    triples = [t for nt in FIXTURES.values() for t in _parse(nt)]
    ref = simulate(triples)
    facts, cats = _spark_sets(spark, triples)
    assert facts == ref["facts"]
    assert cats == ref["categories"]


def _spark_titles(spark, triples):
    df = spark.createDataFrame([t + (None,) for t in triples], TRIPLE_SCHEMA)
    return {p["title"] for p in triples_to_pages(spark, df, n_salt=4).collect()}


def test_documented_divergence_multitype_reversed(spark):
    """Adversarial arrival order: Class asserted BEFORE Predicate. The
    reference keeps the first arrival (Class → Category namespace); the
    engine pins Predicate>Class (SURVEY.md §4.3 — arrival order doesn't
    exist in a relational plan). Assert the divergence EXACTLY so it
    stays a documented choice, not silent drift."""
    nt = f"""
<http://ex.org/PC2> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}Class> .
<http://ex.org/PC2> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{OWL}ObjectProperty> .
<http://ex.org/s8> <http://ex.org/p> "v" .
"""
    triples = _parse(nt)
    ref_titles = set(simulate(triples)["namespaces"])
    ours = _spark_titles(spark, triples)
    assert "Category:PC2" in ref_titles and "Property:PC2" not in ref_titles
    assert "Property:PC2" in ours and "Category:PC2" not in ours


def test_documented_divergence_titletie_reversed(spark):
    """Adversarial arrival order: the lexicographically LARGER label
    arrives first. Reference keeps first arrival within one title
    property; the engine pins min(obj). Both titles are legitimate
    renderings of the same entity; assert each side's pick exactly."""
    nt = """
<http://ex.org/tt2> <http://www.w3.org/2000/01/rdf-schema#label> "Zed first" .
<http://ex.org/tt2> <http://www.w3.org/2000/01/rdf-schema#label> "Alpha second" .
<http://ex.org/tt2> <http://ex.org/p> "v" .
"""
    triples = _parse(nt)
    ref_titles = set(simulate(triples)["namespaces"])
    ours = _spark_titles(spark, triples)
    assert "Zed first" in ref_titles
    assert "Alpha second" in ours
