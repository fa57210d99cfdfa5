"""Incremental SPARQL count-view maintenance: maintained == recomputed
for adds, removes, and group-vanishing removals; non-decomposable view
shapes rejected loudly."""

from __future__ import annotations

import pytest

from rdf2smw_spark.operators.ivm import (
    count_view,
    is_delta_decomposable,
    maintain_count_view,
)
from rdf2smw_spark.schemas import TRIPLE_SCHEMA
from rdf2smw_spark.sparql import SparqlSyntaxError

EX = "http://ex.org/"
PRE = "PREFIX ex: <http://ex.org/>\n"

VIEW = PRE + """
SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . } GROUP BY ?c
"""


def t(s, c):
    return (EX + s, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            EX + c, True, None, "test://g")


@pytest.fixture(scope="module")
def frames(spark):
    base = spark.createDataFrame(
        [t("a", "X"), t("b", "X"), t("c", "Y"), t("d", "Z")], TRIPLE_SCHEMA
    )
    plus = spark.createDataFrame([t("e", "X"), t("f", "W")], TRIPLE_SCHEMA)
    minus = spark.createDataFrame([t("c", "Y"), t("d", "Z")], TRIPLE_SCHEMA)
    return base, plus, minus


def as_map(df):
    return {r["c"]: r["n"] for r in df.collect()}


def test_maintained_equals_recomputed_adds(spark, frames):
    base, plus, _ = frames
    view = count_view(base, VIEW)
    maintained = maintain_count_view(view, VIEW, delta_plus=plus)
    recomputed = count_view(base.unionByName(plus), VIEW)
    assert as_map(maintained) == as_map(recomputed) == {
        EX + "X": 3, EX + "Y": 1, EX + "Z": 1, EX + "W": 1,
    }


def test_removal_drops_vanished_groups(spark, frames):
    base, _, minus = frames
    view = count_view(base, VIEW)
    maintained = maintain_count_view(view, VIEW, delta_minus=minus)
    # Y and Z fall to zero and VANISH, exactly like recompute
    assert as_map(maintained) == {EX + "X": 2}


def test_adds_and_removes_together(spark, frames):
    base, plus, minus = frames
    view = count_view(base, VIEW)
    maintained = maintain_count_view(view, VIEW, delta_plus=plus, delta_minus=minus)
    recomputed = count_view(
        base.unionByName(plus).exceptAll(minus), VIEW
    )
    assert as_map(maintained) == as_map(recomputed)


def test_union_and_filter_views_are_decomposable(spark, frames):
    base, plus, _ = frames
    q = PRE + """
    SELECT ?c (COUNT(?s) AS ?n) WHERE {
      { ?s a ?c . FILTER (CONTAINS(?c, "X")) } UNION { ?s a ?c . FILTER (CONTAINS(?c, "Y")) }
    } GROUP BY ?c
    """
    assert is_delta_decomposable(q)
    view = count_view(base, q)
    maintained = maintain_count_view(view, q, delta_plus=plus)
    assert as_map(maintained) == as_map(count_view(base.unionByName(plus), q))


def test_non_decomposable_shapes_rejected():
    joins = PRE + """
    SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . ?s ex:p ?o . } GROUP BY ?c
    """
    assert not is_delta_decomposable(joins)
    path = PRE + "SELECT (COUNT(?s) AS ?n) WHERE { ?s ex:p+ ?o . }"
    assert not is_delta_decomposable(path)
    cdist = PRE + "SELECT (COUNT(DISTINCT ?s) AS ?n) WHERE { ?s a ?c . }"
    assert not is_delta_decomposable(cdist)
    nonc = PRE + "SELECT (SUM(?s) AS ?n) WHERE { ?s a ?c . } GROUP BY ?c"
    assert not is_delta_decomposable(nonc)
    pat_join_union = PRE + """
    SELECT ?c (COUNT(?s) AS ?n) WHERE {
      ?s a ?c . { ?s ex:p ?o } UNION { ?s ex:q ?o }
    } GROUP BY ?c
    """
    assert not is_delta_decomposable(pat_join_union)
    exists = PRE + """
    SELECT ?c (COUNT(?s) AS ?n) WHERE {
      ?s a ?c . FILTER EXISTS { ?s ex:p ?o }
    } GROUP BY ?c
    """
    assert not is_delta_decomposable(exists)


def test_count_view_rejects_non_decomposable(spark, frames):
    base, _, _ = frames
    with pytest.raises(SparqlSyntaxError):
        count_view(base, PRE + """
            SELECT ?c (COUNT(?s) AS ?n)
            WHERE { ?s a ?c . ?s ex:p ?o . } GROUP BY ?c
        """)


def test_nested_aggregate_projection_rejected():
    nested = PRE + """
    SELECT ?c (SUM(?s) + 0 AS ?t) WHERE { ?s a ?c . } GROUP BY ?c
    """
    assert not is_delta_decomposable(nested)
    nested_count = PRE + """
    SELECT ?c (COUNT(?s) * 2 AS ?t) WHERE { ?s a ?c . } GROUP BY ?c
    """
    assert not is_delta_decomposable(nested_count)


def test_non_aggregate_view_not_decomposable(spark, frames):
    """ADVICE r4: a plain SELECT with no aggregate is a bag of rows, not
    a count view — it must be routed to recompute, not accepted and
    then maintained with zero agg expressions."""
    plain = PRE + "SELECT ?s ?c WHERE { ?s a ?c . }"
    assert not is_delta_decomposable(plain)
    base, _, _ = frames
    with pytest.raises(SparqlSyntaxError):
        count_view(base, plain)


def test_global_count_view_keeps_zero_row(spark, frames):
    """ADVICE r4: a GLOBAL count view (no GROUP BY) drained to empty
    must keep its single row at n=0, exactly like recompute."""
    base, _, _ = frames
    gview = PRE + "SELECT (COUNT(?s) AS ?n) WHERE { ?s a ?c . }"
    view = count_view(base, gview)
    assert [r["n"] for r in view.collect()] == [4]
    # remove EVERYTHING
    maintained = maintain_count_view(view, gview, delta_minus=base)
    recomputed = count_view(base.limit(0), gview)
    assert [r["n"] for r in maintained.collect()] == [0]
    assert [r["n"] for r in recomputed.collect()] == [0]


# -- JOIN views (counting algorithm) ----------------------------------------

JVIEW = PRE + """
SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . ?s ex:p ?o . } GROUP BY ?c
"""


def jt(s, p, o, iri=True):
    return (EX + s, EX + p if p != "a" else
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            EX + o if iri else o, iri, None if iri else None, "test://g")


@pytest.fixture(scope="module")
def jframes(spark):
    base = spark.createDataFrame(
        [jt("a", "a", "X"), jt("b", "a", "X"), jt("c", "a", "Y"),
         jt("a", "p", "o1"), jt("a", "p", "o2"), jt("b", "p", "o1"),
         jt("c", "p", "o1")],
        TRIPLE_SCHEMA,
    )
    return base


def _recompute(df, q):
    from rdf2smw_spark.sparql import sparql_select

    return {r["c"]: r["n"] for r in sparql_select(df, q).collect()}


def test_join_view_decomposable_classification():
    from rdf2smw_spark.operators.ivm import (
        is_delta_decomposable,
        is_join_delta_decomposable,
    )

    assert is_join_delta_decomposable(JVIEW)
    assert not is_delta_decomposable(JVIEW)  # routed to the join path
    # cartesian (no shared var) rejected
    assert not is_join_delta_decomposable(PRE + """
        SELECT ?c (COUNT(?s) AS ?n)
        WHERE { ?s a ?c . ?x ex:p ?o . } GROUP BY ?c
    """)
    # three CONNECTED patterns accepted (N-pattern counting algorithm)
    assert is_join_delta_decomposable(PRE + """
        SELECT ?c (COUNT(?s) AS ?n)
        WHERE { ?s a ?c . ?s ex:p ?o . ?o ex:q ?z . } GROUP BY ?c
    """)
    # three patterns with a DISCONNECTED component still rejected
    assert not is_join_delta_decomposable(PRE + """
        SELECT ?c (COUNT(?s) AS ?n)
        WHERE { ?s a ?c . ?s ex:p ?o . ?w ex:q ?z . } GROUP BY ?c
    """)


def test_join_view_from_partials_equals_recompute(spark, jframes):
    from rdf2smw_spark.operators.ivm import (
        join_count_partials,
        join_count_view_from_partials,
    )

    partials = join_count_partials(jframes, JVIEW)
    view = join_count_view_from_partials(partials, JVIEW)
    got = {r["c"]: r["n"] for r in view.collect()}
    assert got == _recompute(jframes, JVIEW) == {EX + "X": 3, EX + "Y": 1}


def test_join_view_insert_remove_vanish(spark, jframes):
    from rdf2smw_spark.operators.ivm import (
        join_count_partials,
        join_count_view_from_partials,
        maintain_join_count_partials,
    )

    partials = join_count_partials(jframes, JVIEW)

    # INSERT: a new fact for a (X gains a match), a new entity d:Y
    plus = spark.createDataFrame(
        [jt("a", "p", "o3"), jt("d", "a", "Y"), jt("d", "p", "o9")],
        TRIPLE_SCHEMA,
    )
    partials = maintain_join_count_partials(partials, JVIEW, delta_plus=plus)
    view = join_count_view_from_partials(partials, JVIEW)
    updated = jframes.unionByName(plus)
    got = {r["c"]: r["n"] for r in view.collect()}
    assert got == _recompute(updated, JVIEW) == {EX + "X": 4, EX + "Y": 2}

    # REMOVE: drain every Y-typed solution -> the Y group VANISHES
    minus = spark.createDataFrame(
        [jt("c", "a", "Y"), jt("d", "a", "Y")], TRIPLE_SCHEMA
    )
    partials = maintain_join_count_partials(partials, JVIEW, delta_minus=minus)
    view = join_count_view_from_partials(partials, JVIEW)
    remaining = updated.join(
        minus.select("subj", "pred", "obj"), ["subj", "pred", "obj"], "anti"
    )
    got = {r["c"]: r["n"] for r in view.collect()}
    assert got == _recompute(remaining, JVIEW) == {EX + "X": 4}


def test_join_view_global_zero_row(spark, jframes):
    """Ungrouped join view drained to zero keeps its single 0 row."""
    from rdf2smw_spark.operators.ivm import (
        join_count_partials,
        join_count_view_from_partials,
        maintain_join_count_partials,
    )

    gq = PRE + "SELECT (COUNT(?s) AS ?n) WHERE { ?s a ?c . ?s ex:p ?o . }"
    partials = join_count_partials(jframes, gq)
    partials = maintain_join_count_partials(partials, gq, delta_minus=jframes)
    view = join_count_view_from_partials(partials, gq)
    assert [r["n"] for r in view.collect()] == [0]


def test_three_pattern_join_view_maintained(spark):
    """N-pattern counting algorithm: a 3-pattern chain view maintained
    through insert AND delete equals recompute at every step."""
    from rdf2smw_spark.operators.ivm import (
        join_count_partials,
        join_count_view_from_partials,
        maintain_join_count_partials,
    )

    q3 = PRE + """
        SELECT ?c (COUNT(?s) AS ?n)
        WHERE { ?s a ?c . ?s ex:p ?o . ?o ex:q ?z . } GROUP BY ?c
    """
    base = spark.createDataFrame(
        [jt("a", "a", "X"), jt("b", "a", "X"), jt("c", "a", "Y"),
         jt("a", "p", "o1"), jt("b", "p", "o1"), jt("c", "p", "o2"),
         jt("o1", "q", "z1"), jt("o1", "q", "z2")],
        TRIPLE_SCHEMA,
    )
    partials = join_count_partials(base, q3)
    view = join_count_view_from_partials(partials, q3)
    got = {r["c"]: r["n"] for r in view.collect()}
    # a and b each reach z1+z2 through o1; c's o2 has no q edge
    assert got == _recompute(base, q3) == {EX + "X": 4}

    # insert: o2 gains a q edge -> Y appears; X gains nothing
    plus = spark.createDataFrame([jt("o2", "q", "z9")], TRIPLE_SCHEMA)
    partials = maintain_join_count_partials(partials, q3, delta_plus=plus)
    view = join_count_view_from_partials(partials, q3)
    updated = base.unionByName(plus)
    got = {r["c"]: r["n"] for r in view.collect()}
    assert got == _recompute(updated, q3) == {EX + "X": 4, EX + "Y": 1}

    # delete: one of o1's q edges halves X's count
    minus = spark.createDataFrame([jt("o1", "q", "z2")], TRIPLE_SCHEMA)
    partials = maintain_join_count_partials(partials, q3, delta_minus=minus)
    view = join_count_view_from_partials(partials, q3)
    remaining = updated.join(
        minus.select("subj", "pred", "obj"), ["subj", "pred", "obj"], "anti"
    )
    got = {r["c"]: r["n"] for r in view.collect()}
    assert got == _recompute(remaining, q3) == {EX + "X": 2, EX + "Y": 1}


# --- SUM views (round 5): count-supported additive aggregates ---------------

SUMVIEW = PRE + """
SELECT ?s (SUM(?v) AS ?total) (COUNT(?v) AS ?n) WHERE {
  ?s ex:amt ?v .
} GROUP BY ?s
"""

_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


def amt(s, v):
    return (EX + s, EX + "amt", v, False, _XSD_INT, "test://g")


def _sv(spark, rows):
    return spark.createDataFrame([amt(*r) for r in rows], TRIPLE_SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_sum_view_maintained_equals_recomputed(spark):
    from rdf2smw_spark.operators.ivm import (
        maintain_sum_view, read_sum_view, sum_view,
    )

    base = _sv(spark, [("a", "1.5"), ("a", "2.25"), ("b", "4")])
    plus = _sv(spark, [("a", "0.25"), ("c", "7")])
    minus = _sv(spark, [("b", "4")])  # drains b: the group must vanish
    v = maintain_sum_view(sum_view(base, SUMVIEW), SUMVIEW, plus, minus)
    upd = _sv(spark, [("a", "1.5"), ("a", "2.25"), ("a", "0.25"), ("c", "7")])
    assert _rows(read_sum_view(v)) == _rows(read_sum_view(sum_view(upd, SUMVIEW)))
    got = {r["s"]: (r["total"], r["n"]) for r in read_sum_view(v).collect()}
    assert got == {EX + "a": (4.0, 3), EX + "c": (7.0, 1)}


def test_sum_view_null_snap_on_drained_contributors(spark):
    """Deleting every non-NULL contributor must leave SUM NULL (what a
    recompute yields), not 0.0 — the __nn support decides."""
    from rdf2smw_spark.operators.ivm import (
        maintain_sum_view, read_sum_view, sum_view,
    )

    # UNION view: ?v only binds in the first branch, so ex:tag rows
    # keep the group alive with ?v unbound (NULL)
    view_q = PRE + """
    SELECT ?s (SUM(?v) AS ?total) (COUNT(?s) AS ?n) WHERE {
      { ?s ex:amt ?v . } UNION { ?s ex:tag ?t . }
    } GROUP BY ?s
    """
    tag = (EX + "a", EX + "tag", "x", False,
           "http://www.w3.org/2001/XMLSchema#string", "test://g")
    base = spark.createDataFrame([amt("a", "5"), tag], TRIPLE_SCHEMA)
    minus = _sv(spark, [("a", "5")])
    v = maintain_sum_view(sum_view(base, view_q), view_q, delta_minus=minus)
    out = read_sum_view(v).collect()
    assert len(out) == 1 and out[0]["total"] is None and out[0]["n"] == 1
    recomputed = read_sum_view(
        sum_view(spark.createDataFrame([tag], TRIPLE_SCHEMA), view_q)
    ).collect()
    assert _rows(read_sum_view(v)) == sorted(tuple(r) for r in recomputed)


def test_sum_view_global_keeps_row_at_drain(spark):
    from rdf2smw_spark.operators.ivm import (
        maintain_sum_view, read_sum_view, sum_view,
    )

    gq = PRE + "SELECT (SUM(?v) AS ?total) WHERE { ?s ex:amt ?v . }"
    base = _sv(spark, [("a", "3"), ("b", "4")])
    v = maintain_sum_view(sum_view(base, gq), gq, delta_minus=base)
    out = read_sum_view(v).collect()
    assert len(out) == 1 and out[0]["total"] is None


def test_sum_view_shape_rejections(spark):
    from rdf2smw_spark.operators.ivm import (
        is_sum_delta_decomposable, sum_view,
    )

    # two patterns: not single-source
    assert not is_sum_delta_decomposable(PRE + """
      SELECT ?c (SUM(?v) AS ?t) WHERE { ?s ex:amt ?v . ?s a ?c . } GROUP BY ?c
    """)
    # AVG(DISTINCT) needs the value set (plain AVG is accepted: it is
    # maintained through its additive (SUM, COUNT) supports)
    assert not is_sum_delta_decomposable(PRE + """
      SELECT ?s (AVG(DISTINCT ?v) AS ?t) WHERE { ?s ex:amt ?v . } GROUP BY ?s
    """)
    # SUM(DISTINCT) needs the value set
    assert not is_sum_delta_decomposable(PRE + """
      SELECT ?s (SUM(DISTINCT ?v) AS ?t) WHERE { ?s ex:amt ?v . } GROUP BY ?s
    """)
    # no SUM at all -> count_view's job
    assert not is_sum_delta_decomposable(VIEW)
    # BIND of EXISTS probes the base: not row-local
    assert not is_sum_delta_decomposable(PRE + """
      SELECT ?s (SUM(?v) AS ?t) WHERE {
        ?s ex:amt ?v . BIND (EXISTS { ?s a ?c } AS ?e)
      } GROUP BY ?s
    """)
    with pytest.raises(SparqlSyntaxError):
        sum_view(_sv(spark, [("a", "1")]), VIEW)


def test_avg_view_maintained_equals_recomputed(spark):
    """AVG rides its hidden (SUM, COUNT) supports: inserts and deletes
    both land exactly, matching a recompute over the updated base."""
    from rdf2smw_spark.operators.ivm import (
        is_sum_delta_decomposable, maintain_sum_view, read_sum_view, sum_view,
    )

    view_q = PRE + """
    SELECT ?s (AVG(?v) AS ?mean) (SUM(?v) AS ?total) WHERE {
      ?s ex:amt ?v .
    } GROUP BY ?s
    """
    assert is_sum_delta_decomposable(view_q)
    base = _sv(spark, [("a", "1"), ("a", "3"), ("b", "10")])
    plus = _sv(spark, [("a", "8"), ("c", "5")])
    minus = _sv(spark, [("a", "1"), ("b", "10")])  # drains b
    v = maintain_sum_view(sum_view(base, view_q), view_q, plus, minus)
    upd = _sv(spark, [("a", "3"), ("a", "8"), ("c", "5")])
    assert _rows(read_sum_view(v)) == _rows(read_sum_view(sum_view(upd, view_q)))
    got = {r["s"]: (r["mean"], r["total"]) for r in read_sum_view(v).collect()}
    assert got == {EX + "a": (5.5, 11.0), EX + "c": (5.0, 5.0)}


def test_avg_view_null_snap_on_drained_contributors(spark):
    """Deleting every non-NULL contributor leaves AVG NULL (recompute
    semantics), while the group survives on its other branch."""
    from rdf2smw_spark.operators.ivm import (
        maintain_sum_view, read_sum_view, sum_view,
    )

    view_q = PRE + """
    SELECT ?s (AVG(?v) AS ?mean) (COUNT(?s) AS ?n) WHERE {
      { ?s ex:amt ?v . } UNION { ?s ex:tag ?t . }
    } GROUP BY ?s
    """
    tag = (EX + "a", EX + "tag", "x", False,
           "http://www.w3.org/2001/XMLSchema#string", "test://g")
    base = spark.createDataFrame([amt("a", "5"), tag], TRIPLE_SCHEMA)
    minus = _sv(spark, [("a", "5")])
    v = maintain_sum_view(sum_view(base, view_q), view_q, delta_minus=minus)
    out = read_sum_view(v).collect()
    assert len(out) == 1 and out[0]["mean"] is None and out[0]["n"] == 1
    recomputed = read_sum_view(
        sum_view(spark.createDataFrame([tag], TRIPLE_SCHEMA), view_q)
    )
    assert _rows(read_sum_view(v)) == _rows(recomputed)


def test_sum_view_bind_derived_value(spark):
    """Row-local BIND values are additive: SUM(STRLEN(?v)) is the
    integer-exact shape the registry query uses."""
    from rdf2smw_spark.operators.ivm import (
        is_sum_delta_decomposable, maintain_sum_view, read_sum_view, sum_view,
    )

    view_q = PRE + """
    SELECT ?s (SUM(?len) AS ?total_len) WHERE {
      ?s ex:amt ?v . BIND (STRLEN(?v) AS ?len)
    } GROUP BY ?s
    """
    assert is_sum_delta_decomposable(view_q)
    base = _sv(spark, [("a", "123"), ("a", "45")])
    plus = _sv(spark, [("a", "6789")])
    v = maintain_sum_view(sum_view(base, view_q), view_q, delta_plus=plus)
    out = read_sum_view(v).collect()
    assert len(out) == 1 and out[0]["total_len"] == 9.0


# --- MIN/MAX views (r5): merge-on-insert, extremum-touch rescan on delete ----

def _mm(spark, rows):
    return spark.createDataFrame([amt(*r) for r in rows], TRIPLE_SCHEMA)


MMVIEW = PRE + """
SELECT ?s (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) (COUNT(?v) AS ?n) WHERE {
  ?s ex:amt ?v .
} GROUP BY ?s
"""


def test_minmax_view_insert_only_never_scans_base(spark):
    from rdf2smw_spark.operators.ivm import (
        maintain_minmax_view, minmax_view, read_minmax_view,
    )

    base = _mm(spark, [("a", "3"), ("a", "7"), ("b", "5")])
    plus = _mm(spark, [("a", "1"), ("c", "9")])
    upd = _mm(spark, [("a", "3"), ("a", "7"), ("b", "5"), ("a", "1"), ("c", "9")])
    # base arg deliberately poisoned: insert-only maintenance must not read it
    poisoned = _mm(spark, [("z", "0")])
    v = maintain_minmax_view(minmax_view(base, MMVIEW), MMVIEW, poisoned,
                             delta_plus=plus)
    assert _rows(read_minmax_view(v)) == _rows(
        read_minmax_view(minmax_view(upd, MMVIEW))
    )
    got = {r["s"]: (r["lo"], r["hi"], r["n"])
           for r in read_minmax_view(v).collect()}
    assert got[EX + "a"] == ("1", "7", 3)


def test_minmax_view_delete_touching_and_untouched(spark):
    from rdf2smw_spark.operators.ivm import (
        maintain_minmax_view, minmax_view, read_minmax_view,
    )

    base = _mm(spark, [("a", "3"), ("a", "5"), ("a", "7"),
                       ("b", "2"), ("b", "4"), ("b", "8"), ("c", "6")])
    # a: delete the MIN (touch -> rescan); b: delete a mid value (no
    # touch -> slim merge); c: delete everything (group vanishes)
    minus = _mm(spark, [("a", "3"), ("b", "4"), ("c", "6")])
    upd = _mm(spark, [("a", "5"), ("a", "7"), ("b", "2"), ("b", "8")])
    v = maintain_minmax_view(minmax_view(base, MMVIEW), MMVIEW, upd,
                             delta_minus=minus)
    assert _rows(read_minmax_view(v)) == _rows(
        read_minmax_view(minmax_view(upd, MMVIEW))
    )
    got = {r["s"]: (r["lo"], r["hi"], r["n"])
           for r in read_minmax_view(v).collect()}
    assert got == {EX + "a": ("5", "7", 2), EX + "b": ("2", "8", 2)}


def test_minmax_view_both_deltas_and_global(spark):
    from rdf2smw_spark.operators.ivm import (
        maintain_minmax_view, minmax_view, read_minmax_view,
    )

    base = _mm(spark, [("a", "3"), ("b", "9")])
    plus = _mm(spark, [("c", "1")])
    minus = _mm(spark, [("b", "9")])
    upd = _mm(spark, [("a", "3"), ("c", "1")])
    gq = PRE + "SELECT (MIN(?v) AS ?lo) (COUNT(?v) AS ?n) WHERE { ?s ex:amt ?v . }"
    v = maintain_minmax_view(minmax_view(base, gq), gq, upd,
                             delta_plus=plus, delta_minus=minus)
    out = read_minmax_view(v).collect()
    assert len(out) == 1 and out[0]["lo"] == "1" and out[0]["n"] == 2
    # drain the global view entirely: the row stays with NULL extremum
    v2 = maintain_minmax_view(minmax_view(base, gq), gq,
                              _mm(spark, []), delta_minus=base)
    out2 = read_minmax_view(v2).collect()
    assert len(out2) == 1 and out2[0]["lo"] is None and out2[0]["n"] == 0


def test_minmax_shape_and_having_rejections(spark):
    from rdf2smw_spark.operators.ivm import (
        is_delta_decomposable, is_minmax_delta_decomposable,
        is_sum_delta_decomposable,
    )

    assert is_minmax_delta_decomposable(MMVIEW)
    # joins are not single-source
    assert not is_minmax_delta_decomposable(PRE + """
      SELECT ?c (MIN(?v) AS ?lo) WHERE { ?s ex:amt ?v . ?s a ?c . } GROUP BY ?c
    """)
    # HAVING drops groups from the materialization: rejected EVERYWHERE
    assert not is_minmax_delta_decomposable(PRE + """
      SELECT ?s (MIN(?v) AS ?lo) WHERE { ?s ex:amt ?v . }
      GROUP BY ?s HAVING (COUNT(?v) > 1)
    """)
    assert not is_delta_decomposable(PRE + """
      SELECT ?s (COUNT(?v) AS ?n) WHERE { ?s ex:amt ?v . }
      GROUP BY ?s HAVING (COUNT(?v) > 1)
    """)
    assert not is_sum_delta_decomposable(PRE + """
      SELECT ?s (SUM(?v) AS ?t) WHERE { ?s ex:amt ?v . }
      GROUP BY ?s HAVING (SUM(?v) > 1)
    """)


# --- DISTINCT-aggregate views (r5): value-frequency support relation --------

DVIEW = PRE + """
SELECT ?s (COUNT(DISTINCT ?v) AS ?n_vals) (SUM(DISTINCT ?v) AS ?tot)
       (COUNT(?v) AS ?n_rows) WHERE {
  ?s ex:amt ?v .
} GROUP BY ?s
"""


def test_distinct_view_maintained_equals_recomputed(spark):
    from rdf2smw_spark.operators.ivm import (
        distinct_view, is_distinct_delta_decomposable,
        maintain_distinct_view, read_distinct_view,
    )

    assert is_distinct_delta_decomposable(DVIEW)
    # a has duplicate value 3 (distinct collapses it), b vanishes
    base = _mm(spark, [("a", "3"), ("a", "3"), ("a", "5"), ("b", "9")])
    plus = _mm(spark, [("a", "3"), ("a", "7"), ("c", "2")])
    minus = _mm(spark, [("a", "3"), ("b", "9")])  # a still holds two 3s
    upd = _mm(spark, [("a", "3"), ("a", "3"), ("a", "5"),
                      ("a", "7"), ("c", "2")])
    s = distinct_view(base, DVIEW)
    s = maintain_distinct_view(s, DVIEW, delta_plus=plus, delta_minus=minus)
    got = read_distinct_view(s, DVIEW)
    assert _rows(got) == _rows(read_distinct_view(distinct_view(upd, DVIEW), DVIEW))
    m = {r["s"]: (r["n_vals"], r["tot"], r["n_rows"]) for r in got.collect()}
    assert m == {EX + "a": (3, 15.0, 4), EX + "c": (1, 2.0, 1)}


def test_distinct_view_value_drain_and_shapes(spark):
    from rdf2smw_spark.operators.ivm import (
        distinct_view, is_distinct_delta_decomposable,
        maintain_distinct_view, read_distinct_view,
    )

    # deleting BOTH 3s drops the value from the distinct set
    base = _mm(spark, [("a", "3"), ("a", "3"), ("a", "5")])
    minus = _mm(spark, [("a", "3"), ("a", "3")])
    s = maintain_distinct_view(
        distinct_view(base, DVIEW), DVIEW, delta_minus=minus
    )
    m = {r["s"]: (r["n_vals"], r["tot"]) for r in read_distinct_view(s, DVIEW).collect()}
    assert m == {EX + "a": (1, 5.0)}
    # shapes: two different distinct vars need two supports -> rejected
    assert not is_distinct_delta_decomposable(PRE + """
      SELECT ?s (COUNT(DISTINCT ?v) AS ?a) (SUM(DISTINCT ?w) AS ?b)
      WHERE { ?s ex:amt ?v . } GROUP BY ?s
    """)
    # no DISTINCT aggregate -> count_view's job
    assert not is_distinct_delta_decomposable(PRE + """
      SELECT ?s (COUNT(?v) AS ?n) WHERE { ?s ex:amt ?v . } GROUP BY ?s
    """)
    # joins are not single-source
    assert not is_distinct_delta_decomposable(PRE + """
      SELECT ?c (COUNT(DISTINCT ?s) AS ?n)
      WHERE { ?s ex:amt ?v . ?s a ?c . } GROUP BY ?c
    """)


def test_distinct_view_global_drain_keeps_zero_row(spark):
    from rdf2smw_spark.operators.ivm import (
        distinct_view, maintain_distinct_view, read_distinct_view,
    )

    gq = PRE + "SELECT (COUNT(DISTINCT ?v) AS ?n) WHERE { ?s ex:amt ?v . }"
    base = _mm(spark, [("a", "3"), ("b", "3")])
    s = maintain_distinct_view(
        distinct_view(base, gq), gq, delta_minus=base
    )
    out = read_distinct_view(s, gq).collect()
    assert len(out) == 1 and out[0]["n"] == 0


def test_sample_view_rides_minmax_machinery(spark):
    """SAMPLE is pinned deterministic (= MIN), so a SAMPLE view
    maintains exactly like a MIN view — including the extremum-touch
    rescan when a delete removes the sampled value."""
    from rdf2smw_spark.operators.ivm import (
        is_minmax_delta_decomposable, maintain_minmax_view, minmax_view,
        read_minmax_view,
    )

    sq = PRE + """
    SELECT ?s (SAMPLE(?v) AS ?pick) WHERE { ?s ex:amt ?v . } GROUP BY ?s
    """
    assert is_minmax_delta_decomposable(sq)
    base = _mm(spark, [("a", "3"), ("a", "5")])
    minus = _mm(spark, [("a", "3")])  # deletes the sampled (min) value
    upd = _mm(spark, [("a", "5")])
    v = maintain_minmax_view(minmax_view(base, sq), sq, upd,
                             delta_minus=minus)
    assert _rows(read_minmax_view(v)) == _rows(
        read_minmax_view(minmax_view(upd, sq))
    )
    assert read_minmax_view(v).collect()[0]["pick"] == "5"


def test_group_concat_view_from_support(spark):
    """GROUP_CONCAT([DISTINCT]) derives exactly from the value-
    frequency support — the full bag re-expands values × multiplicity
    before the pinned lexicographic join."""
    from rdf2smw_spark.operators.ivm import (
        distinct_view, is_distinct_delta_decomposable,
        maintain_distinct_view, read_distinct_view,
    )

    gq = PRE + """
    SELECT ?s (GROUP_CONCAT(?v; SEPARATOR="|") AS ?bag)
           (GROUP_CONCAT(DISTINCT ?v; SEPARATOR="|") AS ?set) WHERE {
      ?s ex:amt ?v .
    } GROUP BY ?s
    """
    assert is_distinct_delta_decomposable(gq)
    base = _mm(spark, [("a", "3"), ("a", "3"), ("a", "5")])
    plus = _mm(spark, [("a", "1"), ("a", "3")])
    minus = _mm(spark, [("a", "3")])
    upd = _mm(spark, [("a", "3"), ("a", "5"), ("a", "1"), ("a", "3")])
    s = distinct_view(base, gq)
    s = maintain_distinct_view(s, gq, delta_plus=plus, delta_minus=minus)
    got = read_distinct_view(s, gq).collect()
    assert got[0]["bag"] == "1|3|3|5" and got[0]["set"] == "1|3|5"
    # equals both the engine's own aggregate and a recompute
    from rdf2smw_spark.sparql import sparql_select
    direct = sparql_select(upd, gq).collect()
    assert (direct[0]["bag"], direct[0]["set"]) == ("1|3|3|5", "1|3|5")
    assert _rows(read_distinct_view(s, gq)) == _rows(
        read_distinct_view(distinct_view(upd, gq), gq)
    )


def test_minmax_both_deltas_touching_same_group(spark):
    """Regression: both deltas in ONE call where the delete touches a
    group the insert also feeds — the rescan over the FINAL base must
    not double-count the inserted rows (inserts merge first)."""
    from rdf2smw_spark.operators.ivm import (
        maintain_minmax_view, minmax_view, read_minmax_view,
    )

    base = _mm(spark, [("a", "3"), ("a", "5")])
    plus = _mm(spark, [("a", "7")])
    minus = _mm(spark, [("a", "3")])  # touches a's MIN
    upd = _mm(spark, [("a", "5"), ("a", "7")])
    v = maintain_minmax_view(minmax_view(base, MMVIEW), MMVIEW, upd,
                             delta_plus=plus, delta_minus=minus)
    got = read_minmax_view(v).collect()
    assert [(r["lo"], r["hi"], r["n"]) for r in got] == [("5", "7", 2)]
    assert _rows(read_minmax_view(v)) == _rows(
        read_minmax_view(minmax_view(upd, MMVIEW))
    )


def test_minmax_bulk_delete_every_group_shuffle_path(spark, monkeypatch):
    """VERDICT r5 #3: the delete-arm rescan must survive a bulk delete
    touching EVERY group's extremum with the broadcast guard forced to
    the shuffle fallback (an unbounded touched-key set must not be
    unconditionally broadcast)."""
    import rdf2smw_spark.session as sess
    from rdf2smw_spark.operators.ivm import (
        maintain_minmax_view, minmax_view, read_minmax_view,
    )

    monkeypatch.setattr(sess, "maybe_broadcast", lambda df, limit: df)
    groups = [chr(ord("a") + i) for i in range(12)]
    base = _mm(spark, [(g, str(v)) for g in groups for v in (1, 5, 9)])
    # delete every group's current min AND max -> every group rescans
    minus = _mm(spark, [(g, str(v)) for g in groups for v in (1, 9)])
    upd = _mm(spark, [(g, "5") for g in groups])
    v = maintain_minmax_view(minmax_view(base, MMVIEW), MMVIEW, upd,
                             delta_minus=minus)
    assert _rows(read_minmax_view(v)) == _rows(
        read_minmax_view(minmax_view(upd, MMVIEW))
    )


# --- views whose GROUP BY key is unbound in some solutions -------------------

UVIEW_BODY = """
WHERE { { ?s a ?c . } UNION { ?s ex:amt ?v . } } GROUP BY ?c
"""


def test_count_view_keeps_group_whose_counts_are_zero(spark):
    """A COUNT(?v)-only group whose ?v is unbound in every solution
    exists in a recompute with n=0: the view keeps it while its hidden
    row count is above 0, not while a visible count is."""
    q = PRE + "SELECT ?c (COUNT(?v) AS ?n)" + UVIEW_BODY
    base = spark.createDataFrame([t("x", "K"), amt("a", "3")], TRIPLE_SCHEMA)
    plus = _sv(spark, [("b", "7")])
    maintained = maintain_count_view(count_view(base, q), q, delta_plus=plus)
    recomputed = count_view(base.unionByName(plus), q)
    assert as_map(maintained) == as_map(recomputed) == {EX + "K": 0, None: 2}


def test_minmax_delete_reaches_null_group_key(spark):
    """A delete in the group whose key is unbound must reach it: the
    delta join and the touched-key rescan match keys null-safely."""
    from rdf2smw_spark.operators.ivm import (
        maintain_minmax_view, minmax_view, read_minmax_view,
    )

    q = PRE + "SELECT ?c (MIN(?v) AS ?lo) (COUNT(*) AS ?n)" + UVIEW_BODY
    rows = [t("x", "K"), amt("a", "3"), amt("a", "5"), amt("b", "7")]
    base = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    minus = _mm(spark, [("a", "3")])
    upd = spark.createDataFrame(rows[:1] + rows[2:], TRIPLE_SCHEMA)
    v = maintain_minmax_view(minmax_view(base, q), q, upd, delta_minus=minus)

    def got(df):
        return {r["c"]: (r["lo"], r["n"]) for r in read_minmax_view(df).collect()}

    assert got(v) == got(minmax_view(upd, q)) == {
        EX + "K": (None, 1), None: ("5", 2),
    }


def test_view_grouping_by_an_unprojected_variable_is_rejected(spark):
    """Every family merges on the projected keys: grouping by ?c ?p
    while projecting only ?c would fold the (X, rdf:type) and (X, ex:q)
    groups into one maintained row, [(X, 3)] where a recompute gives
    [(X, 1), (X, 2)]. No family takes such a view."""
    q = PRE + "SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s ?p ?c . } GROUP BY ?c ?p"
    base = spark.createDataFrame(
        [t("a", "X"), (EX + "a", EX + "q", EX + "X", True, None, "test://g")],
        TRIPLE_SCHEMA,
    )
    assert not is_delta_decomposable(q)
    plus = spark.createDataFrame([t("b", "X")], TRIPLE_SCHEMA)
    with pytest.raises(SparqlSyntaxError):
        maintain_count_view(count_view(base, q), q, delta_plus=plus)


def test_minmax_view_with_count_of_an_expression_is_rejected(spark):
    """The min/max delete rescan aggregates bare ?vars only, so it would
    count rows for COUNT(STRLEN(?w)): deleting `a amt 3` maintained
    (a, "5", 1) where a recompute gives (a, "5", 0). No family takes
    such a view."""
    from rdf2smw_spark.operators.ivm import maintain_minmax_view, minmax_view

    q = PRE + """
    SELECT ?s (MIN(?v) AS ?lo) (COUNT(STRLEN(?w)) AS ?n)
    WHERE { { ?s ex:amt ?v . } UNION { ?s ex:tag ?w . } } GROUP BY ?s
    """
    base = _mm(spark, [("a", "3"), ("a", "5")])
    with pytest.raises(SparqlSyntaxError):
        maintain_minmax_view(minmax_view(base, q), q, _mm(spark, [("a", "5")]),
                             delta_minus=_mm(spark, [("a", "3")]))
