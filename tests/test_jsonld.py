"""Expanded NDJSON-LD source (sources/jsonld.py)."""

import json

from rdf2smw_spark.sources.jsonld import (
    DT_BOOLEAN,
    DT_DOUBLE,
    DT_INTEGER,
    DT_LANGSTRING,
    DT_STRING,
    parse_jsonld_lines,
    read_jsonld,
    triples_to_jsonld,
)

TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _parse(spark, lines):
    df = spark.createDataFrame(
        [(ln, "f://x") for ln in lines], "line string, src_url string"
    )
    return parse_jsonld_lines(df)


def test_value_object_kinds(spark):
    node = {
        "@id": "http://e/s",
        "@type": ["http://e/C1", "http://e/C2"],
        "http://e/name": [{"@value": "Ada"}],
        "http://e/age": [{"@value": 36}],
        "http://e/score": [{"@value": 1.5}],
        "http://e/alive": [{"@value": True}],
        "http://e/label": [{"@value": "hei", "@language": "no"}],
        "http://e/typed": [{"@value": "7", "@type": "http://e/dt"}],
        "http://e/knows": [{"@id": "http://e/o"}],
    }
    rows = _parse(spark, [json.dumps(node)]).collect()
    assert all(r.error is None for r in rows)
    got = {(r.pred, r.obj, r.obj_is_iri, r.obj_datatype) for r in rows}
    assert (TYPE, "http://e/C1", True, None) in got
    assert (TYPE, "http://e/C2", True, None) in got
    assert ("http://e/name", "Ada", False, DT_STRING) in got
    assert ("http://e/age", "36", False, DT_INTEGER) in got
    assert ("http://e/score", "1.5", False, DT_DOUBLE) in got
    assert ("http://e/alive", "true", False, DT_BOOLEAN) in got
    assert ("http://e/label", "hei", False, DT_LANGSTRING) in got
    assert ("http://e/typed", "7", False, "http://e/dt") in got
    assert ("http://e/knows", "http://e/o", True, None) in got
    assert all(r.subj == "http://e/s" for r in rows)


def test_quarantine_not_crash(spark):
    lines = [
        "not json at all {",
        '["an", "array"]',
        '{"http://e/p": [{"@value": "no id"}]}',
        '{"@id": "relative", "http://e/p": [{"@value": "x"}]}',
        '{"@id": "http://e/s", "@graph": []}',
        '{"@id": "http://e/s", "http://e/p": [{"neither": 1}]}',
        '{"@id": "http://e/s", "@type": 5}',
        # nested past the JSON decoder's recursion limit
        '{"@id": "http://e/s", "http://e/p": ' + "[" * 5000 + "]" * 5000 + "}",
        # a value object's @value is a scalar and its @type a string
        '{"@id": "http://e/s", "http://e/p": {"@value": {"a": 1}}}',
        '{"@id": "http://e/s", "http://e/p": {"@value": [1, 2]}}',
        '{"@id": "http://e/s", "http://e/p": {"@value": "1", "@type": 7}}',
        "",
        '{"@id": "http://e/ok", "http://e/p": [{"@value": "fine"}]}',
    ]
    rows = _parse(spark, lines).collect()
    bad = [r for r in rows if r.error is not None]
    good = [r for r in rows if r.error is None]
    assert len(bad) == 11 and len(good) == 1
    assert good[0].subj == "http://e/ok"
    # every quarantine row names the offending line for forensics
    assert sorted(
        next(i for i, ln in enumerate(lines) if repr(ln) in r.error) for r in bad
    ) == list(range(11))


def test_null_value_yields_no_triple(spark):
    # JSON-LD expansion drops a null @value; the node's other triples stay
    lines = [
        '{"@id": "http://e/s", "http://e/p": {"@value": null}, "http://e/q": [{"@value": "kept"}]}',
        '{"@id": "http://e/t", "http://e/p": [{"@value": null}, {"@value": 1}]}',
        '{"@id": "http://e/u", "http://e/p": {"@value": null}}',
    ]
    rows = _parse(spark, lines).collect()
    assert all(r.error is None for r in rows)
    got = {(r.subj, r.pred, r.obj, r.obj_datatype) for r in rows}
    assert got == {
        ("http://e/s", "http://e/q", "kept", DT_STRING),
        ("http://e/t", "http://e/p", "1", DT_INTEGER),
    }


def test_round_trip_identity(spark):
    rows = [
        ("http://e/s", TYPE, "http://e/C", True, None),
        ("http://e/s", "http://e/p", "v", False, DT_STRING),
        ("http://e/s", "http://e/p", "http://e/o", True, None),
        ("http://e/s", "http://e/lang", "hej", False, DT_LANGSTRING),
        ("http://e/t", "http://e/n", "3.14", False, "http://www.w3.org/2001/XMLSchema#float"),
    ]
    doc = triples_to_jsonld(rows)
    parsed = _parse(spark, [ln for ln in doc.split("\n") if ln]).collect()
    got = {(r.subj, r.pred, r.obj, r.obj_is_iri, r.obj_datatype) for r in parsed}
    want = {(s, p, o, i, d) for s, p, o, i, d in rows}
    assert got == want


def test_read_jsonld_file_and_cli(spark, tmp_path, capsys):
    p = tmp_path / "g.jsonld"
    p.write_text(
        '{"@id": "http://e/s", "http://e/p": [{"@value": "v"}]}\n'
        "garbage line\n"
    )
    triples, bad = read_jsonld(spark, str(p))
    assert triples.count() == 1 and bad.count() == 1

    from rdf2smw_spark.__main__ import main

    rc = main(["--in", str(p), "--out", str(tmp_path / "out")])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["bad_lines"] == 1 and res["n_pages"] >= 1
    assert "<mediawiki>" in (tmp_path / "out" / "pages.xml").read_text()


def test_authority_less_schemes_accepted(spark):
    """ADVICE r4: urn:/mailto:/did: IRIs have no '://' but are absolute;
    the .nt path accepts them, so the .jsonld path must too."""
    import json as _json

    from rdf2smw_spark.sources.jsonld import parse_jsonld_lines

    rows = [
        _json.dumps({"@id": "urn:uuid:0001", "@type": "http://ex.org/T"}),
        _json.dumps({"@id": "mailto:a@b.c",
                     "http://ex.org/p": {"@id": "did:example:xyz"}}),
        _json.dumps({"@id": "relative/nope"}),
    ]
    lines = spark.createDataFrame([(r, "test://g") for r in rows],
                                  "line string, src_url string")
    parsed = parse_jsonld_lines(lines)
    good = parsed.filter("error IS NULL").collect()
    bad = parsed.filter("error IS NOT NULL").collect()
    assert {r["subj"] for r in good} == {"urn:uuid:0001", "mailto:a@b.c"}
    assert len(bad) == 1 and "relative/nope" in bad[0]["error"]
