"""Parser behavior mirroring the reference's stream tests
(/root/reference/components/ttlfilereader_test.go:32-84: lexical forms
carry no serialization syntax), and the parse loop every reader shares."""

import pytest

from rdf2smw_spark.schemas import DT_LANGSTRING, DT_STRING
from rdf2smw_spark.sources.ntriples import parse_ntriples_line, parse_ntriples_lines


def test_iri_and_literal_lexical_forms():
    t = parse_ntriples_line('<http://example.org/s1> <http://example.org/p1> "string1" .')
    assert t == ("http://example.org/s1", "http://example.org/p1", "string1", False, DT_STRING, None)
    t = parse_ntriples_line("<http://e/s> <http://e/p> <http://e/o> .")
    assert t == ("http://e/s", "http://e/p", "http://e/o", True, None, None)


def test_typed_and_lang_literals():
    t = parse_ntriples_line(
        '<http://e/s> <http://e/p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .'
    )
    assert t[2] == "42" and t[4].endswith("#integer")
    t = parse_ntriples_line('<http://e/s> <http://e/p> "bonjour"@fr .')
    assert t[2] == "bonjour" and t[4] == DT_LANGSTRING


def test_escapes_and_blank_and_comments():
    t = parse_ntriples_line('<http://e/s> <http://e/p> "a\\"b\\nc\\u0041" .')
    assert t[2] == 'a"b\ncA'
    assert parse_ntriples_line("") is None
    assert parse_ntriples_line("# comment") is None
    t = parse_ntriples_line("_:b1 <http://e/p> <http://e/o> .")
    assert t[0] == "_:b1"


def test_malformed_raises():
    with pytest.raises(ValueError):
        parse_ntriples_line("<unclosed <http://e/p> <http://e/o> .")
    with pytest.raises(ValueError):
        parse_ntriples_line('<http://e/s> <http://e/p> "unterminated .')
    # IRIREF excludes whitespace and <>"{}|^`\ in every IRI position;
    # \u escapes stay allowed and verbatim
    for line in [
        "<http://e/s> <http://e/p> <http://e/a\t<b> .",
        '<http://e/a b> <http://e/p> "v" .',
        '<http://e/s> <http://e/p|q> "v" .',
        '<http://e/s> <http://e/p> "v"^^<http://e/d{t}> .',
        '<http://e/s> <http://e/p> "v" <http://e/g^h> .',
    ]:
        with pytest.raises(ValueError):
            parse_ntriples_line(line)
    iri = r"http://e/\u00e9"
    assert parse_ntriples_line(f"<{iri}> <http://e/p> <http://e/o> .")[0] == iri


def test_distributed_parse_quarantine(spark):
    lines = spark.createDataFrame(
        [
            ('<http://e/s1> <http://e/p1> "v1" .',),
            ("garbage line",),
            ('<http://e/s1> <http://e/p2> <http://e/o2> .',),
            ("",),
        ],
        ["value"],
    )
    parsed = parse_ntriples_lines(lines, src_url="test.nt")
    good = parsed.filter(parsed.error.isNull())
    bad = parsed.filter(parsed.error.isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    row = good.orderBy("pred").first()
    assert row["subj"] == "http://e/s1" and row["obj"] == "v1"


def test_roundtrip_property():
    """Hypothesis-style round trip: serialize arbitrary terms to N-Triples
    and parse back (SURVEY.md §5 property-based gap)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    safe_uri = st.from_regex(r"http://e\.org/[A-Za-z0-9_/#\-]{1,30}", fullmatch=True)
    literal = st.text(min_size=0, max_size=60).filter(lambda s: "\x00" not in s)

    def escape(s: str) -> str:
        return (
            s.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
        )

    @settings(max_examples=150, deadline=None)
    @given(safe_uri, safe_uri, literal)
    def roundtrip(s, p, o):
        line = f'<{s}> <{p}> "{escape(o)}" .'
        parsed = parse_ntriples_line(line)
        assert parsed == (s, p, o, False, DT_STRING, None)

    roundtrip()


def test_read_ntriples_gzip(spark, tmp_path):
    """Real dumps ship gzipped; spark.read.text decompresses by
    extension, so .nt.gz feeds the same parser with no code path
    change — pinned here so a reader refactor can't lose it."""
    import gzip

    lines = b'<http://e/s> <http://e/p> "v" .\n<http://e/s2> <http://e/p> <http://e/o> .\n'
    p = tmp_path / "in.nt.gz"
    p.write_bytes(gzip.compress(lines))
    from rdf2smw_spark.sources.ntriples import read_ntriples

    good, bad = read_ntriples(spark, str(p))
    assert good.count() == 2 and bad.count() == 0
    assert {r["subj"] for r in good.collect()} == {"http://e/s", "http://e/s2"}


def test_quad_line_in_nt_file_lands_graph_in_src_url(spark, tmp_path):
    """N-Triples is N-Quads without the graph term: a quad line in a .nt
    file keeps its object IRI intact and its graph becomes src_url."""
    from rdf2smw_spark.sources.ntriples import read_ntriples

    p = tmp_path / "mixed.nt"
    p.write_text(
        "<http://s> <http://p> <http://o> <http://g> .\n"
        '<http://s> <http://p> "v" .\n'
    )
    good, bad = read_ntriples(spark, str(p))
    rows = {r["obj"]: r["src_url"] for r in good.collect()}
    assert rows == {"http://o": "http://g", "v": str(p)}
    assert bad.count() == 0


def test_parse_units_failed_unit_adds_one_row_and_no_partial_triples(spark):
    """A unit whose parse yields rows and then raises ValueError adds
    only its quarantine row."""
    from rdf2smw_spark.sources.ntriples import parse_units, split_quarantine

    def parse(text, src):
        for i, tok in enumerate(text.split()):
            if tok == "bad":
                raise ValueError(f"bad token {i}")
            yield (f"http://e/{tok}", "http://e/p", "v", False, DT_STRING, src)

    units = spark.createDataFrame(
        [("a b", "u1"), ("c bad d", "u2"), ("", "u3")], "text string, src_url string"
    )
    good, bad = split_quarantine(parse_units(units, "text", parse))
    assert sorted((r["subj"], r["src_url"]) for r in good.collect()) == [
        ("http://e/a", "u1"), ("http://e/b", "u1"),
    ]
    assert [tuple(r) for r in bad.collect()] == [("bad token 1", "u2")]


def test_triples_and_quarantine_share_one_parse(spark, tmp_path):
    """The quarantine reads the persisted parse that the triples already
    computed, so counting bad lines does not run the Python parse again."""
    from rdf2smw_spark.session import release_scoped_caches
    from rdf2smw_spark.sources.ntriples import read_ntriples

    p = tmp_path / "g.nt"
    p.write_text('<http://e/s> <http://e/p> "v" .\ngarbage\n')
    good, bad = read_ntriples(spark, str(p))
    try:
        assert good.count() == 1
        assert "InMemoryRelation" in bad._jdf.queryExecution().optimizedPlan().toString()
        assert bad.count() == 1
    finally:
        release_scoped_caches()
