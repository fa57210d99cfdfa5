"""Epilogue views (HAVING / ORDER BY / LIMIT / OFFSET at read time):
the maintained support is the epilogue-stripped core kept exact by its
family maintainer; read_epilogue_view over the maintained support
equals recomputing the FULL query (epilogue included) over the updated
base — including groups that cross a HAVING threshold in either
direction and groups that enter/leave a top-k slice."""

from __future__ import annotations

import pytest

from rdf2smw_spark.operators.ivm import (
    epilogue_view,
    is_epilogue_decomposable,
    maintain_epilogue_view,
    read_epilogue_view,
)
from rdf2smw_spark.schemas import TRIPLE_SCHEMA
from rdf2smw_spark.sparql import SparqlSyntaxError, sparql_select

EX = "http://ex.org/"
RT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XI = "http://www.w3.org/2001/XMLSchema#integer"
PRE = "PREFIX ex: <http://ex.org/>\n"


def t(s, c):
    return (EX + s, RT, EX + c, True, None, "test://g")


def v(s, n):
    return (EX + s, EX + "val", str(n), False, XI, "test://g")


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def apply_delta(base, plus=None, minus=None):
    out = base
    if minus is not None:
        out = out.join(minus, ["subj", "pred", "obj"], "left_anti")
    if plus is not None:
        out = out.unionByName(plus)
    return out


HAVING_VIEW = PRE + """
SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . }
GROUP BY ?c HAVING (COUNT(?s) > 2)
"""

TOPK_VIEW = PRE + """
SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . }
GROUP BY ?c ORDER BY DESC(?n) ?c LIMIT 2
"""


@pytest.fixture(scope="module")
def cframes(spark):
    base = spark.createDataFrame(
        [t(f"a{i}", "X") for i in range(5)]
        + [t(f"b{i}", "Y") for i in range(3)]
        + [t("c0", "Z")],
        TRIPLE_SCHEMA,
    )
    # Z crosses the HAVING threshold upward; Y drains below it
    plus = spark.createDataFrame(
        [t("c1", "Z"), t("c2", "Z"), t("c3", "Z"), t("c4", "Z")],
        TRIPLE_SCHEMA,
    )
    minus = spark.createDataFrame(
        [t("b0", "Y"), t("b1", "Y")], TRIPLE_SCHEMA
    )
    return base, plus, minus


def test_having_read_equals_full_query(spark, cframes):
    base, _, _ = cframes
    sup = epilogue_view(base, HAVING_VIEW)
    assert rows(read_epilogue_view(sup, HAVING_VIEW)) == rows(
        sparql_select(base, HAVING_VIEW)
    )


def test_having_threshold_crossing_both_directions(spark, cframes):
    base, plus, minus = cframes
    sup = epilogue_view(base, HAVING_VIEW)
    sup2 = maintain_epilogue_view(
        sup, HAVING_VIEW, delta_plus=plus, delta_minus=minus
    )
    got = rows(read_epilogue_view(sup2, HAVING_VIEW))
    want = rows(sparql_select(apply_delta(base, plus, minus), HAVING_VIEW))
    # Z surfaced with its TRUE total (5, not just the delta 4); Y fell
    # below the threshold and vanished from the published view
    assert got == want == [(EX + "X", 5), (EX + "Z", 5)]


def test_topk_slice_membership_tracks_deltas(spark, cframes):
    base, plus, minus = cframes
    sup = epilogue_view(base, TOPK_VIEW)
    assert rows(read_epilogue_view(sup, TOPK_VIEW)) == rows(
        sparql_select(base, TOPK_VIEW)
    )
    sup2 = maintain_epilogue_view(
        sup, TOPK_VIEW, delta_plus=plus, delta_minus=minus
    )
    got = rows(read_epilogue_view(sup2, TOPK_VIEW))
    want = rows(sparql_select(apply_delta(base, plus, minus), TOPK_VIEW))
    # Z entered the top-2, Y left it
    assert got == want == [(EX + "X", 5), (EX + "Z", 5)]


def test_hidden_epilogue_aggregate_sum_family(spark):
    # HAVING references COUNT(?v), which is NOT projected — it rides as
    # a hidden support column; the core routes to the sum family
    view = PRE + """
    SELECT ?s (SUM(?v) AS ?tot) WHERE { ?s ex:val ?v . }
    GROUP BY ?s HAVING (COUNT(?v) > 1)
    """
    base = spark.createDataFrame(
        [v("s1", 1), v("s1", 5), v("s2", 2)], TRIPLE_SCHEMA
    )
    plus = spark.createDataFrame([v("s2", 7)], TRIPLE_SCHEMA)
    minus = spark.createDataFrame([v("s1", 5)], TRIPLE_SCHEMA)
    assert is_epilogue_decomposable(view)
    sup = epilogue_view(base, view)
    assert rows(read_epilogue_view(sup, view)) == rows(
        sparql_select(base, view)
    ) == [(EX + "s1", 6.0)]
    sup2 = maintain_epilogue_view(sup, view, delta_plus=plus,
                                  delta_minus=minus)
    got = rows(read_epilogue_view(sup2, view))
    want = rows(sparql_select(apply_delta(base, plus, minus), view))
    assert got == want == [(EX + "s2", 9.0)]


def test_minmax_core_requires_base_and_matches(spark):
    view = PRE + """
    SELECT ?s (MAX(?v) AS ?top) WHERE { ?s ex:val ?v . }
    GROUP BY ?s ORDER BY DESC(?top) LIMIT 1
    """
    base = spark.createDataFrame(
        [v("s1", 9), v("s1", 2), v("s2", 5)], TRIPLE_SCHEMA
    )
    minus = spark.createDataFrame([v("s1", 9)], TRIPLE_SCHEMA)
    assert is_epilogue_decomposable(view)
    sup = epilogue_view(base, view)
    with pytest.raises(SparqlSyntaxError, match="updated base"):
        maintain_epilogue_view(sup, view, delta_minus=minus)
    base2 = apply_delta(base, minus=minus)
    sup2 = maintain_epilogue_view(sup, view, delta_minus=minus, base=base2)
    # the deleted 9 was s1's maximum: the rescan demotes s1 and s2
    # takes the top-1 slot (MAX of a literal is lexical, like the
    # engine's full-query path — both sides agree)
    assert rows(read_epilogue_view(sup2, view)) == rows(
        sparql_select(base2, view)
    ) == [(EX + "s2", "5")]


def test_join_core_with_having(spark):
    view = PRE + """
    SELECT ?c (COUNT(?s) AS ?n)
    WHERE { ?s a ?c . ?s ex:val ?v . }
    GROUP BY ?c HAVING (COUNT(?s) >= 2)
    """
    base = spark.createDataFrame(
        [t("a", "X"), t("b", "X"), t("c", "Y"),
         v("a", 1), v("b", 2), v("c", 3)],
        TRIPLE_SCHEMA,
    )
    plus = spark.createDataFrame([t("d", "Y"), v("d", 4)], TRIPLE_SCHEMA)
    assert is_epilogue_decomposable(view)
    sup = epilogue_view(base, view)
    assert isinstance(sup, tuple)  # join partials
    assert rows(read_epilogue_view(sup, view)) == rows(
        sparql_select(base, view)
    ) == [(EX + "X", 2)]
    sup2 = maintain_epilogue_view(sup, view, delta_plus=plus)
    got = rows(read_epilogue_view(sup2, view))
    want = rows(sparql_select(base.unionByName(plus), view))
    assert got == want == [(EX + "X", 2), (EX + "Y", 2)]


def test_offset_and_unprojected_order_key(spark, cframes):
    base, _, _ = cframes
    # ORDER BY a GROUP BY key that is NOT projected: carried hidden
    view = PRE + """
    SELECT ?n WHERE { ?s a ?c . }
    GROUP BY ?c ORDER BY ?c OFFSET 1 LIMIT 1
    """
    # ?n unbound -> invalid; use a projected count instead
    view = PRE + """
    SELECT (COUNT(?s) AS ?n) WHERE { ?s a ?c . }
    GROUP BY ?c ORDER BY ?c OFFSET 1 LIMIT 1
    """
    assert is_epilogue_decomposable(view)
    sup = epilogue_view(base, view)
    assert rows(read_epilogue_view(sup, view)) == rows(
        sparql_select(base, view)
    ) == [(3,)]  # classes sorted: X(5), Y(3), Z(1) -> offset 1 = Y


def test_rejections(spark):
    # no epilogue at all -> route to the family directly
    assert not is_epilogue_decomposable(
        PRE + "SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . } GROUP BY ?c"
    )
    # DISTINCT solutions are not additive
    assert not is_epilogue_decomposable(
        PRE + "SELECT DISTINCT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c . } "
        "GROUP BY ?c HAVING (COUNT(?s) > 1)"
    )
    # property-path core fits no family
    assert not is_epilogue_decomposable(
        PRE + "SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s ex:p+ ?c . } "
        "GROUP BY ?c HAVING (COUNT(?s) > 1)"
    )
    # plain bag view with a slice: no family maintains row bags
    assert not is_epilogue_decomposable(
        PRE + "SELECT ?s ?c WHERE { ?s a ?c . } ORDER BY ?s LIMIT 3"
    )
