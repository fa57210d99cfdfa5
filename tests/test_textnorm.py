"""Byte-exactness of the string layer vs plain-Python reference
implementations (which themselves mirror /root/reference/components/
triplestowikipageconv.go:223-254 and iptypes.go:103-111)."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rdf2smw_spark.functions import textnorm as tn

CASES = [
    "simple title",
    "A|B=C<D>E,F.G?H&I#J",
    "x (foo:bar) y",
    "q [ns:qual] z",
    "word " * 60,
    "x" * 300,
    "éclair test",
    "",
    "a" * 249,
    ("ab " * 83) + "end",
    "multi (a:b) and [c:d] mix",
    "Ünïcode (x:y) tail",
    "{curly} and |pipe|",
    "trailing space ",
    " ...",
]


def test_spark_title_matches_python(spark):
    df = spark.createDataFrame([(c,) for c in CASES], ["raw"])
    rows = df.select("raw", tn.wiki_title_col("raw").alias("t")).collect()
    for r in rows:
        assert r["t"] == tn.py_wiki_title_clean(r["raw"]), repr(r["raw"])


def test_spark_escape_and_literal_match_python(spark):
    df = spark.createDataFrame([(c,) for c in CASES], ["raw"])
    rows = df.select(
        "raw",
        F.expr(tn.sql_escape_wiki_chars("raw")).alias("e"),
        F.expr(tn.sql_clean_literal("raw")).alias("c"),
    ).collect()
    for r in rows:
        assert r["e"] == tn.py_escape_wiki_chars(r["raw"])
        assert r["c"] == tn.py_clean_literal(r["raw"])


def test_duckdb_full_title_matches_python_incl_truncation():
    """The oracle dialect of the FULL chain (with the P5 truncation fold)
    must byte-match the Python reference on short, long, and pathological
    titles — this is what makes the driver's hash comparison valid for
    >=250-byte raw titles."""
    con = duckdb.connect()
    long_cases = [
        " ".join(f"word{i:02d}" for i in range(40)),   # the planted static label
        "w" * 300,                                      # one un-splittable word
        ("long word " * 40).strip(),
        "x y " * 100,
        "ünïcödé " * 40,                                # multibyte: byte semantics
    ]
    for c in CASES + long_cases:
        got = con.sql(
            f"select {tn.sql_wiki_title_full(tn._sql_quote(c), 'duckdb')} as t"
        ).fetchone()[0]
        assert got == tn.py_wiki_title_clean(c), repr(c)


def test_truncation_properties():
    # invariants from the reference loop (go:243-252)
    for s in ["w" * 300, ("long word " * 40), "x y " * 100]:
        out = tn.py_truncate_title(s)
        assert len(out.encode()) < tn.TITLE_MAX + 4
        if len(s.encode()) >= tn.TITLE_MAX:
            assert out.endswith(" ...")


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=400))
def test_python_title_invariants(s):
    out = tn.py_wiki_title_clean(s)
    for forbidden in "[]{}|#?&,.=<>":
        assert forbidden not in out.replace("less than", "").replace("greater than", "")
    assert len(out.encode()) < tn.TITLE_MAX + 4
