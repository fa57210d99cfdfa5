"""Round-5 operator semantics on planted fixtures (the oracle gate
covers corpus-scale behavior; these pin edge cases and precedence)."""

import math

from pyspark.sql import functions as F

from rdf2smw_spark.extract import robots_gate
from rdf2smw_spark.operators import graph as gr


def _pages(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_robots_gate_precedence_and_normalization(spark):
    robots = spark.createDataFrame(
        [
            ("src1.example.org", "/doc/", False),
            ("src1.example.org", "/doc/1", True),   # longest match wins
            ("src2.example.org", "/doc/3", False),
            ("src2.example.org", "/doc/3", True),   # tie -> allow wins
            ("src4.example.org", "/", False),        # blanket deny
        ],
        "host string, prefix string, allow boolean",
    )
    pages = _pages(spark, [
        "https://src1.example.org/doc/12",            # allow override
        "https://src1.example.org/doc/25",            # /doc/ deny
        "https://tracker.src1.example.org/doc/25",    # exact-host: unruled
        "https://src2.example.org/doc/33",            # tie -> allowed
        "https://src4.example.org",                   # empty path -> '/'
        "https://user@SRC1.example.org:8443/doc/25",  # userinfo/port/case
        "https://src9.example.org/doc/7?q=1",         # query ignored, unruled
    ])
    out = {r["url"]: r for r in robots_gate(pages, robots).collect()}
    assert out["https://src1.example.org/doc/12"]["allowed"]
    assert out["https://src1.example.org/doc/12"]["matched_prefix"] == "/doc/1"
    assert not out["https://src1.example.org/doc/25"]["allowed"]
    assert out["https://tracker.src1.example.org/doc/25"]["allowed"]
    assert out["https://tracker.src1.example.org/doc/25"]["matched_prefix"] is None
    assert out["https://src2.example.org/doc/33"]["allowed"]
    assert not out["https://src4.example.org"]["allowed"]
    assert out["https://src4.example.org"]["matched_prefix"] == "/"
    assert not out["https://user@SRC1.example.org:8443/doc/25"]["allowed"]
    assert out["https://src9.example.org/doc/7?q=1"]["allowed"]


def _triples(spark, edges):
    rows = [(s, "http://e/p", o, True, None) for s, o in edges]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
              "obj_datatype string",
    )


def test_adamic_adar_scores_and_exclusions(spark):
    # z is a common neighbor of u, v, w (deg 3); u-v is ALREADY linked
    # so only (u,w) and (v,w) may be predicted, each scoring 1/ln(3).
    out = gr.adamic_adar(
        _triples(spark, [("u", "z"), ("v", "z"), ("w", "z"), ("u", "v")])
    ).collect()
    pairs = {(r["u"], r["v"]): r for r in out}
    assert set(pairs) == {("u", "w"), ("v", "w")}
    expected = 1.0 / math.log(3.0)
    for r in pairs.values():
        assert r["n_common"] == 1
        assert abs(r["score"] - expected) < 1e-9
    # deterministic ordering: equal score -> (u, v) lexicographic
    ranks = {(r["u"], r["v"]): r["rank"] for r in out}
    assert ranks[("u", "w")] == 1 and ranks[("v", "w")] == 2


def test_adamic_adar_hub_cap_prunes_middle(spark):
    # hub h has degree 4 > cap 3: wedges through it must vanish
    edges = [("a", "h"), ("b", "h"), ("c", "h"), ("d", "h")]
    assert gr.adamic_adar(_triples(spark, edges), hub_cap=3).count() == 0
    assert gr.adamic_adar(_triples(spark, edges), hub_cap=4).count() == 6


def test_adamic_adar_deterministic_across_parallelism(spark):
    edges = [(f"n{i}", f"n{(i * 7) % 23}") for i in range(60) if i != (i * 7) % 23]
    t = _triples(spark, edges)
    a = sorted(map(tuple, gr.adamic_adar(t.coalesce(1)).collect()))
    b = sorted(map(tuple, gr.adamic_adar(t.repartition(16)).collect()))
    assert a == b


def test_skolemize_scoping_and_idempotence(spark):
    from rdf2smw_spark.operators.sameas import SKOLEM_PREFIX, skolemize

    rows = [
        # same label in the SAME document -> one IRI for both positions
        ("_:b1", "http://e/p", "x", False, "http://www.w3.org/2001/XMLSchema#string", "doc1"),
        ("http://e/s", "http://e/q", "_:b1", False, None, "doc1"),
        # same label in ANOTHER document -> a different IRI
        ("_:b1", "http://e/p", "y", False, "http://www.w3.org/2001/XMLSchema#string", "doc2"),
        # plain literal whose text merely LOOKS like a label: untouched
        ("http://e/s", "http://e/r", "_:b1", False,
         "http://www.w3.org/2001/XMLSchema#string", "doc1"),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_is_iri boolean, "
              "obj_datatype string, src_url string",
    )
    out = skolemize(t).collect()
    subj1 = [r for r in out if r["pred"] == "http://e/p" and r["src_url"] == "doc1"][0]["subj"]
    obj1 = [r for r in out if r["pred"] == "http://e/q"][0]
    subj2 = [r for r in out if r["src_url"] == "doc2"][0]["subj"]
    lit = [r for r in out if r["pred"] == "http://e/r"][0]
    assert subj1.startswith(SKOLEM_PREFIX) and subj1 == obj1["obj"]
    assert obj1["obj_is_iri"]                      # former blank is now an IRI
    assert subj2.startswith(SKOLEM_PREFIX) and subj2 != subj1
    assert lit["obj"] == "_:b1" and not lit["obj_is_iri"]  # typed literal kept
    # idempotent: a second pass finds no blanks
    assert sorted(map(tuple, skolemize(skolemize(t)).collect())) == sorted(map(tuple, out))


def test_personalized_pagerank_locality(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "uri string")
    out = {r["uri"]: r["rank_e12"] for r in
           gr.personalized_pagerank(edges, seeds).collect()}
    # mass flows a -> b -> c; the disconnected d->e component gets none
    assert out["a"] > out["b"] > out["c"] > 0
    assert out["d"] == 0 and out["e"] == 0
    # total mass stays ~1 (dangling c returns to the seed)
    assert abs(sum(out.values()) - 10 ** 12) < 10


def test_personalized_pagerank_requires_seed_in_graph(spark):
    import pytest as _pytest

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("zzz",)], "uri string")
    with _pytest.raises(ValueError):
        gr.personalized_pagerank(edges, seeds)


# --- round-5 SPARQL builtin widening (sparql.py) ---------------------------

_BUILTIN_NT = [
    # (subj, pred, obj, obj_is_iri, obj_datatype)
    ("http://e/a", "http://e/p", "5", False,
     "http://www.w3.org/2001/XMLSchema#integer"),
    ("http://e/a", "http://e/p", "hello world~*", False,
     "http://www.w3.org/2001/XMLSchema#string"),
    ("http://e/a", "http://e/p", "http://e/x", True, None),
    ("http://e/a", "http://e/p", "_:b1", False, None),   # blank object
    ("_:b2", "http://e/p", "lit", False,
     "http://www.w3.org/2001/XMLSchema#string"),
    ("http://e/a", "http://e/q", "5", False,
     "http://www.w3.org/2001/XMLSchema#string"),
]


def _btriples(spark):
    rows = [t + ("src://t",) for t in _BUILTIN_NT]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, src_url string",
    )


def _sel(spark, q):
    from rdf2smw_spark.sparql import sparql_select

    return sparql_select(_btriples(spark), q)


def test_term_kind_builtins_three_kind_model(spark):
    """ISLITERAL must NOT claim blank objects (is_iri=false, dt=NULL);
    ISBLANK separates them; ISNUMERIC reads the datatype companion."""
    rows = _sel(spark, """
        SELECT ?o ?num ?bl ?lit ?iri WHERE {
          ?s <http://e/p> ?o .
          BIND (ISNUMERIC(?o) AS ?num) BIND (ISBLANK(?o) AS ?bl)
          BIND (ISLITERAL(?o) AS ?lit) BIND (ISIRI(?o) AS ?iri)
        }
    """).collect()
    by = {r["o"]: r for r in rows}
    assert by["5"]["num"] and by["5"]["lit"] and not by["5"]["bl"]
    assert by["_:b1"]["bl"] and not by["_:b1"]["lit"] and not by["_:b1"]["iri"]
    assert by["http://e/x"]["iri"] and not by["http://e/x"]["lit"]
    assert not by["hello world~*"]["num"]


def test_subject_position_blank_detection(spark):
    rows = _sel(spark, """
        SELECT ?s WHERE { ?s <http://e/p> ?o . FILTER ISBLANK(?s) }
    """).collect()
    assert [r["s"] for r in rows] == ["_:b2"]
    rows = _sel(spark, """
        SELECT ?s WHERE { ?s <http://e/p> ?o . FILTER (ISIRI(?s) && ISLITERAL(?o)) }
    """).collect()
    # ISIRI on a subject var excludes _:b2; blank object excluded by ISLITERAL
    assert sorted(set(r["s"] for r in rows)) == ["http://e/a"]


def test_hash_and_encode_builtins(spark):
    import hashlib
    import urllib.parse

    rows = _sel(spark, """
        SELECT ?o (MD5(?o) AS ?h1) (SHA1(?o) AS ?h2) (SHA256(?o) AS ?h3)
               (ENCODE_FOR_URI(?o) AS ?enc)
        WHERE { ?s <http://e/p> ?o . FILTER ISLITERAL(?o) }
    """).collect()
    for r in rows:
        b = r["o"].encode()
        assert r["h1"] == hashlib.md5(b).hexdigest()
        assert r["h2"] == hashlib.sha1(b).hexdigest()
        assert r["h3"] == hashlib.sha256(b).hexdigest()
        # §17.4.2.8 == RFC 3986 full percent-encoding (Python quote safe='')
        assert r["enc"] == urllib.parse.quote(r["o"], safe="")


def test_in_and_not_in(spark):
    rows = _sel(spark, """
        SELECT ?s ?o WHERE { ?s <http://e/p> ?o . FILTER (?o IN ("5", "lit")) }
    """).collect()
    assert sorted((r["s"], r["o"]) for r in rows) == [
        ("_:b2", "lit"), ("http://e/a", "5")]
    rows = _sel(spark, """
        SELECT ?s WHERE {
          ?s <http://e/p> ?o .
          FILTER (?o NOT IN ("5", "lit", "hello world~*", "_:b1"))
        }
    """).collect()
    assert [r["o" if "o" in r else "s"] for r in rows] == ["http://e/a"]
    # IRI terms inside the list compare on the lexical form
    rows = _sel(spark, """
        SELECT ?s WHERE { ?s <http://e/p> ?o . FILTER (?o IN (<http://e/x>)) }
    """).collect()
    assert [r["s"] for r in rows] == ["http://e/a"]


def test_sameterm_full_identity(spark):
    # lexical "5" as integer vs as plain string: NOT the same term
    assert _sel(spark, """
        SELECT ?s WHERE { ?s <http://e/p> ?o . FILTER SAMETERM(?o, "5") }
    """).count() == 0
    assert _sel(spark, """
        SELECT ?s WHERE {
          ?s <http://e/p> ?o .
          FILTER SAMETERM(?o, "5"^^<http://www.w3.org/2001/XMLSchema#integer>)
        }
    """).count() == 1
    # var-var: p-side "5"^^integer vs q-side "5"^^string differ
    assert _sel(spark, """
        SELECT ?s WHERE {
          ?s <http://e/p> ?o . ?s <http://e/q> ?o2 . FILTER SAMETERM(?o, ?o2)
        }
    """).count() == 0
    # IRI object vs IRI constant
    rows = _sel(spark, """
        SELECT ?s WHERE { ?s <http://e/p> ?o . FILTER SAMETERM(?o, <http://e/x>) }
    """).collect()
    assert [r["s"] for r in rows] == ["http://e/a"]


# --- span-level decontamination (text_analysis.contamination_spans) ---------

def test_contamination_spans_islands(spark):
    from rdf2smw_spark.operators import text_analysis as ta

    p1 = " ".join(f"alpha{i}" for i in range(10))    # 10-token passage
    p2 = " ".join(f"beta{i}" for i in range(8))      # 8-token passage
    gap = " ".join(f"gap{i}" for i in range(5))
    train = spark.createDataFrame(
        [
            (1, f"{p1} {gap} {p2}"),   # two separate islands
            (2, f"{p1} {p2}"),          # adjacent -> one merged island
            (3, gap),                    # clean (and shorter than n)
            (4, " ".join(f"clean{i}" for i in range(12))),  # clean, long
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame([(101, p1), (102, p2)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in ta.contamination_spans(train, benchmark).collect()}
    # doc 1: matches at positions 1..3 (p1) cover tokens 1..10; p2 match
    # at 16 covers 16..23 -> two islands, 18 contaminated of 23 tokens
    assert (out[1]["n_spans"], out[1]["contam_tokens"], out[1]["n_toks"]) == (2, 18, 23)
    assert out[1]["contam_frac"] == round(18 / 23, 4)
    # doc 2: p2 starts at 11 <= prev_end(10) + 1 -> merged single span 1..18
    assert (out[2]["n_spans"], out[2]["contam_tokens"]) == (1, 18)
    # clean docs: zero spans, zero fraction, token counts still reported
    assert (out[3]["n_spans"], out[3]["contam_tokens"], out[3]["n_toks"]) == (0, 0, 5)
    assert (out[4]["n_spans"], out[4]["contam_frac"]) == (0, 0.0)
