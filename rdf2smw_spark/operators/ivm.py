"""Incremental view maintenance for SPARQL aggregate views.

A KG service materializes aggregate views (per-class member counts,
per-predicate usage, per-graph sizes) and must keep them current as
crawl deltas arrive — re-running the aggregate over 10^12 triples per
drain is the anti-pattern. Every view query is parsed once and
classified once (`_classify`): a shared prologue rejects anything but a
plain SELECT (no DISTINCT solutions, ORDER BY, LIMIT, OFFSET or
HAVING), each projected item gets one kind, and the WHERE shape plus
the set of kinds pick exactly one maintainer family:

  family    WHERE shape      aggregates besides keys        maintained state
  --------  ---------------  -----------------------------  -----------------------
  count     single-source    COUNT                          view + __n
  sum       single-source    SUM(?v), AVG(?v), COUNT        view + __n, __nn_, __s_
  minmax    single-source    MIN/MAX/SAMPLE(?v),            view + __n
                             COUNT(?v), COUNT(*)
  distinct  single-source    COUNT/SUM(DISTINCT ?v),        support (keys, __v, __c)
                             GROUP_CONCAT([DISTINCT] ?v),
                             COUNT(?v), COUNT(*): one ?v
  join      N >= 2 patterns  COUNT                          partials (vars, __c)

Single-source means every solution depends on exactly ONE triple: a
single (non-path) pattern or a UNION of such, plus row-local FILTERs and
BINDs (no EXISTS). For those shapes a delta triple contributes solutions
independently of the base, so

    V(base ⊎ Δ+)        = merge(V(base), V(Δ+))
    V(base ∖ Δ-)        = merge(V(base), -V(Δ-))

and `_merge` is the one delta merge: one unionByName of the old state
with the delta's state (the removed delta's additive columns negated)
and one groupBy sum on the state's keys. A row vanishes when its
support count (__n or __c) reaches 0, so a grouped view drops a group
exactly when a recompute would; a global view (no GROUP BY) keeps its
single row, as the global aggregate of an empty base does. The count
and sum families share materialization and merge; the distinct support
relation and each join partial are single-source count states merged by
the same function; MIN/MAX fold inserts through it and rescan the
updated base only for the groups whose extremum a delete touched.
Multi-pattern joins are not single-source (a delta triple joins against
base triples); the join family maintains them by the counting algorithm
over per-pattern partials instead. Every family keys its state on the
projected GROUP BY keys, so a view that groups by a variable it does
not project fits none.

HAVING and slicing change what a view publishes, not what it maintains:
the epilogue functions strip them into a maintainable core, look the
core's family up in `_FAMILIES` (materialize, maintain and read steps)
and re-apply the epilogue at read time. Queries that fit no family are
rejected loudly (SparqlSyntaxError) so callers route them to recompute.

Scale shape: every merge shuffles |V| + |V(Δ)| slim rows, never the base
triples.
"""

from __future__ import annotations

import dataclasses
from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.sparql import (
    _AGG_FNS,
    BinOp,
    Bind_,
    Call,
    ExistsExpr,
    Filter_,
    Group,
    Iri,
    Not,
    SelectItem,
    SelectQuery,
    SparqlSyntaxError,
    TriplePattern,
    Union_,
    Var,
    _Compiler,
    _pattern_df,
    parse_sparql,
)


def _has_exists(e) -> bool:
    """True when an expression tree contains a [NOT] EXISTS probe."""
    if isinstance(e, ExistsExpr):
        return True
    if isinstance(e, Call):
        return any(a != "*" and _has_exists(a) for a in e.args)
    if isinstance(e, BinOp):
        return _has_exists(e.left) or _has_exists(e.right)
    if isinstance(e, Not):
        return _has_exists(e.arg)
    return False


def _single_source_group(g: Group) -> bool:
    """True when the group has exactly ONE solution-producing element
    (a non-path triple pattern, or a UNION whose branches are all
    single-source) plus row-local filters/BINDs — i.e. every solution
    comes from one triple."""
    producers = 0
    for el in g.elements:
        if isinstance(el, TriplePattern):
            if not isinstance(el.p, (Var, Iri)):
                return False  # property path: one solution ≠ one triple
            producers += 1
        elif isinstance(el, Filter_):
            if isinstance(el.expr, ExistsExpr):
                return False  # EXISTS probes the base, not row-local
        elif isinstance(el, Bind_):
            if _has_exists(el.expr):
                return False  # EXISTS probes the base, not row-local
        elif isinstance(el, Union_):
            if not all(_single_source_group(b) for b in el.branches):
                return False
            producers += 1
        else:
            return False
    return producers <= 1


def _view_query(query_text: str | SelectQuery) -> SelectQuery:
    # the epilogue wrapper passes an already-rewritten AST through the
    # family functions — accept it unchanged
    if isinstance(query_text, SelectQuery):
        return query_text
    q = parse_sparql(query_text)
    if not isinstance(q, SelectQuery):
        raise SparqlSyntaxError("IVM views must be SELECT queries")
    return q


# --------------------------------------------------------------------------
# The shape classifier
# --------------------------------------------------------------------------

# (aggregate, DISTINCT) -> item kind, for aggregates over one bare ?var.
# SAMPLE is pinned deterministic = MIN in this engine (sparql.py), so it
# maintains exactly like one.
_VAR_AGG_KINDS = {
    ("SUM", False): "sum", ("AVG", False): "avg",
    ("MIN", False): "min", ("SAMPLE", False): "min", ("MAX", False): "max",
    ("COUNT", True): "cdist", ("SUM", True): "sdist",
    ("GROUP_CONCAT", False): "gc", ("GROUP_CONCAT", True): "gc_dist",
}

# family -> (kinds of which a view needs at least one, kinds it may also
# project besides GROUP BY keys). COUNT(DISTINCT)/SUM(DISTINCT) need the
# value set, SUM/AVG/MIN/MAX do not subtract like counts, and an
# aggregate nested in arithmetic (SUM(?x) + 0) is kind "other": no
# family maintains it. The join family takes the count family's kinds
# over an N-pattern join.
_FAMILY_KINDS = {
    "count": ({"count"}, set()),
    "sum": ({"sum", "avg"}, {"count"}),
    "minmax": ({"min", "max"}, {"count"}),
    "distinct": ({"cdist", "sdist", "gc", "gc_dist"}, {"count"}),
}


def _item_kind(e) -> tuple:
    """(kind, var, sep) of one projected expression: a GROUP BY "key", a
    plain "count" (var is the counted ?var, "*" for COUNT(*), None for
    an expression), a `_VAR_AGG_KINDS` aggregate over one ?var (sep is a
    GROUP_CONCAT's separator), or "other"."""
    if isinstance(e, Var):
        return "key", e.name, None
    if not isinstance(e, Call):
        return "other", None, None
    var = e.args[0].name if len(e.args) == 1 and isinstance(e.args[0], Var) else None
    if e.fn == "COUNT" and not e.distinct:
        return "count", "*" if e.args in ((), ("*",)) else var, None
    kind = _VAR_AGG_KINDS.get((e.fn, e.distinct)) if var else None
    sep = (" " if e.sep is None else e.sep) if e.fn == "GROUP_CONCAT" else None
    return kind or "other", var, sep


@dataclasses.dataclass(frozen=True)
class _Shape:
    """A classified view query: its maintainer family (None when no
    family keeps it exact), each projected item's (alias, kind, var,
    sep) in projection order, and the join family's triple patterns."""

    q: SelectQuery
    family: str | None
    items: tuple
    pats: tuple = ()

    @property
    def keys(self) -> list:
        return [a for a, _v in self.of("key")]

    def of(self, *kinds) -> list:
        """(alias, var) of the projected items of the given kinds."""
        return [(a, v) for a, k, v, _s in self.items if k in kinds]


def _classify(query_text: str | SelectQuery) -> _Shape:
    """Parse the view once and pick its family; raises SparqlSyntaxError
    on the shared prologue (not SELECT, DISTINCT, slicing, HAVING)."""
    q = _view_query(query_text)
    if q.order_by or q.limit is not None or q.offset is not None or q.distinct:
        raise SparqlSyntaxError("slicing/dedup is not additive")
    if q.having is not None:
        # a HAVING view drops sub-threshold groups from the
        # materialization — their partial aggregates are LOST, so a later
        # delta cannot re-derive the true total (a group crossing the
        # threshold would surface with only its delta aggregate)
        raise SparqlSyntaxError(
            "HAVING drops groups from the materialization — not "
            "maintainable; maintain it as an epilogue view instead"
        )
    items = tuple((it.alias, *_item_kind(it.expr)) for it in q.items)
    kinds = {k for _a, k, _v, _s in items} - {"key"}
    family = next((f for f, (need, allow) in _FAMILY_KINDS.items()
                   if kinds & need and kinds <= need | allow), None)
    if family == "distinct" and len(
        {v for _a, k, v, _s in items if k != "key"} - {"*"}
    ) != 1:
        family = None  # one support relation serves ONE aggregated ?var
    if family == "minmax" and any(k == "count" and v is None for _a, k, v, _s in items):
        family = None  # the delete rescan sees bare ?vars: COUNT(expr) would count rows
    if not set(q.group_by) <= {v for _a, k, v, _s in items if k == "key"}:
        family = None  # every merge keys on projected columns: it would fold groups
    if _single_source_group(q.where):
        return _Shape(q, family, items)
    pats = tuple(q.where.elements)
    if (family == "count" and len(pats) >= 2
            and all(isinstance(tp, TriplePattern) and isinstance(tp.p, (Var, Iri))
                    for tp in pats)
            and _join_order(pats) is not None
            and {a for a, k, _v, _s in items if k == "key"}
            <= set().union(*map(_pattern_vars, pats))):
        return _Shape(q, "join", items, pats)
    return _Shape(q, None, items)


def _fits(query_text: str, family: str) -> bool:
    try:
        return _classify(query_text).family == family
    except SparqlSyntaxError:
        return False


def _shape(query_text: str | SelectQuery, family: str) -> _Shape:
    """The classified view, or SparqlSyntaxError unless it is a `family`
    view."""
    s = _classify(query_text)
    if s.family != family:
        raise SparqlSyntaxError(
            f"not a {family} view (it fits the {s.family or 'no'} "
            "maintainer family) — recompute instead"
        )
    return s


def _compile(triples: DataFrame, q: SelectQuery, **changes) -> DataFrame:
    """The view query with `changes` applied, compiled over `triples`."""
    return _Compiler(triples).compile_query(dataclasses.replace(q, **changes))


# --------------------------------------------------------------------------
# The delta merge
# --------------------------------------------------------------------------

def _merge(old: DataFrame, state, keys: list, support: str,
           delta_plus: DataFrame | None = None,
           delta_minus: DataFrame | None = None,
           extremes: dict | None = None) -> DataFrame:
    """The one delta merge: ``old`` ⊎ state(Δ+) ⊎ −state(Δ-), summed per
    ``keys``. ``state`` maps triples to the frame ``old`` holds (same
    columns); every non-key column adds, except ``extremes`` (column ->
    F.min/F.max), which fold by their own aggregate on insert. Rows
    whose ``support`` count falls to 0 vanish unless the state is global
    (no keys: the global aggregate of an empty base is still one row)."""
    extremes = extremes or {}
    add = [c for c in old.columns if c not in keys and c not in extremes]
    parts = [old]
    if delta_plus is not None:
        parts.append(state(delta_plus))
    if delta_minus is not None:
        parts.append(state(delta_minus).select(
            *keys, *[(-F.col(c)).alias(c) for c in add]
        ))
    out = reduce(lambda a, b: a.unionByName(b), parts).groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in add],
        *[fold(c).alias(c) for c, fold in extremes.items()],
    )
    if keys:
        out = out.filter(F.col(support) > 0)
    return out.select(*old.columns)


# --------------------------------------------------------------------------
# COUNT and SUM/AVG views — additive aggregates with hidden supports
# --------------------------------------------------------------------------
#
# COUNTs and single-source SUMs are delta-additive (they add under
# inserts and subtract under deletes), but two things need explicit
# support state:
#
#   * group vanishing — a group disappears from the recomputed view
#     when its solution multiplicity reaches 0, which neither a SUM nor
#     a COUNT(?v) can detect (a zero sum can be a real non-empty group,
#     and a group whose ?v is unbound in every solution counts 0), so
#     the maintained view carries a hidden ``__n`` = COUNT(*) column;
#   * NULL sums — the engine's SUM is Spark's (SUM over only-NULL
#     values is NULL, and under the session's ANSI mode any non-NULL
#     binding that materialized without erroring is castable), so each
#     SUM alias carries a hidden ``__nn_<alias>`` = COUNT(?v) and the
#     maintained sum snaps to NULL when it reaches 0 — matching
#     recompute when deletes drain every non-NULL contributor.
#
# An AVG does not subtract; it is maintained as its hidden (``__s_<a>``
# SUM, ``__nn_<a>`` COUNT) pair and re-derived after each merge. With
# those supports the maintained view equals recomputing the query over
# the updated base (modulo float addition order; the engine's SUM casts
# to double).

_HIDDEN_N = "__n"


def _with_supports(triples: DataFrame, s: _Shape) -> DataFrame:
    """The view over `triples` with its hidden supports as extra
    aggregates of the same groupBy: ``__n`` always, ``__nn_<alias>`` per
    SUM/AVG and ``__s_<alias>`` per AVG."""
    sums, avgs = s.of("sum"), s.of("avg")
    extra = [SelectItem(Call("COUNT", ("*",)), _HIDDEN_N)]
    extra += [SelectItem(Call("COUNT", (Var(v),)), f"__nn_{a}")
              for a, v in [*sums, *avgs]]
    extra += [SelectItem(Call("SUM", (Var(v),)), f"__s_{a}") for a, v in avgs]
    return _compile(triples, s.q, items=[*s.q.items, *extra])


def _maintain_additive(old_view: DataFrame, s: _Shape, delta_plus,
                       delta_minus) -> DataFrame:
    sum_cols = [a for a, _v in s.of("sum")]
    avg_cols = [a for a, _v in s.of("avg")]
    # the visible AVG column is not additive — drop it from the merge
    # and re-derive it from the merged (__s, __nn) supports afterwards
    out = _merge(old_view.drop(*avg_cols),
                 lambda t: _with_supports(t, s).drop(*avg_cols),
                 s.keys, _HIDDEN_N, delta_plus, delta_minus)
    # a drained sum is NULL, not 0.0 (recompute: SUM over no non-NULL
    # values) — F.sum already yields NULL when every merged part was
    # NULL, but old(5.0) + delta(-5.0) leaves 0.0, so snap on __nn
    for a in sum_cols:
        out = out.withColumn(a, F.when(F.col(f"__nn_{a}") > 0, F.col(a)))
    for a in avg_cols:
        out = out.withColumn(a, F.when(
            F.col(f"__nn_{a}") > 0, F.col(f"__s_{a}") / F.col(f"__nn_{a}")
        ))
    return out.select(*old_view.columns)


def is_delta_decomposable(query_text: str) -> bool:
    """True when the view query's solutions each depend on exactly one
    triple (a single non-path pattern or a UNION of such, plus row-local
    filters) and it projects every GROUP BY variable as a key and at
    least one plain COUNT only — the count family."""
    return _fits(query_text, "count")


def count_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize a count view WITH its hidden ``__n`` = COUNT(*)
    support (group-vanish detection) — callers persist this frame and
    publish ``read_sum_view``."""
    return _with_supports(triples, _shape(query_text, "count"))


def maintain_count_view(
    old_view: DataFrame,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> DataFrame:
    """Merge a materialized count view (the count_view frame, WITH its
    hidden ``__n``) with added/removed triples — deltas are
    TRIPLE_SCHEMA frames. Exactly equal to count_view over the updated
    base: a group vanishes when its ``__n`` reaches 0, so a group whose
    visible counts are all 0 stays (pytest asserts both directions; the
    registry query hash-checks vs a full-recompute oracle)."""
    return _maintain_additive(old_view, _shape(query_text, "count"),
                              delta_plus, delta_minus)


def is_sum_delta_decomposable(query_text: str) -> bool:
    """True when maintain_sum_view can keep this view exact: single
    source, keys / bare COUNTs / bare SUM(?v)s / bare AVG(?v)s, at least
    one SUM or AVG."""
    return _fits(query_text, "sum")


def sum_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize the view WITH its hidden support columns (``__n``,
    one ``__nn_<alias>`` per SUM/AVG, one ``__s_<alias>`` per AVG) —
    callers publish ``read_sum_view`` and persist this frame. One
    compiled query: the supports are extra aggregates in the same
    groupBy."""
    return _with_supports(triples, _shape(query_text, "sum"))


def read_sum_view(view: DataFrame) -> DataFrame:
    """The publishable projection: hidden support columns dropped."""
    return view.drop(_HIDDEN_N, *[
        c for c in view.columns
        if c.startswith("__nn_") or c.startswith("__s_")
    ])


def maintain_sum_view(
    old_view: DataFrame,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> DataFrame:
    """Merge a materialized sum view (the sum_view frame, WITH hidden
    supports) with added/removed triples. Equal to sum_view over the
    updated base: groups vanish when __n hits 0, a sum snaps to NULL
    when its __nn hits 0 (all non-NULL contributors removed), an AVG is
    re-derived from its maintained (__s, __nn) pair, and a global (no
    GROUP BY) view keeps its single row at any count."""
    return _maintain_additive(old_view, _shape(query_text, "sum"),
                              delta_plus, delta_minus)


# --------------------------------------------------------------------------
# JOIN views — the counting algorithm (r4 verdict #3b)
# --------------------------------------------------------------------------
#
# An N-pattern join view   V = γ_keys COUNT(*) (P1 ⋈ ... ⋈ PN)   is not
# single-source decomposable (a delta triple joins against base
# triples), but it IS maintainable without touching the base via the
# classic counting algorithm: maintain, per pattern, the PARTIAL COUNT
# relation   γ_{gi} COUNT(*) (Pi)   where gi = vars(Pi) ∩ (shared vars ∪
# GROUP BY keys). Each partial is single-source (one pattern = one
# triple per solution) and therefore count-additive under deltas; the
# view is re-derived from the partials alone:
#
#     V(keys) = Σ_{shared vars} c1 · c2 · ... · cN
#
# a chain join between AGGREGATED relations whose sizes are bounded by
# the number of distinct group values — at a 10^12-triple corpus the
# partials are the slim dimension tables (distinct classes, predicates,
# entities with the pattern), never the fact stream. Per drain the work
# is merge(|partial| + |partial(Δ)|) per pattern plus one partials-join.
# The join graph must be CONNECTED (cartesians rejected) and the chain
# order is the deterministic greedy order of _join_order.


def _pattern_vars(tp) -> set:
    return {t.name for t in (tp.s, tp.p, tp.o) if isinstance(t, Var)}


def _join_order(pats) -> list[int] | None:
    """A pattern order in which every pattern (after the first) shares
    ≥1 variable with the patterns before it — exists iff the join graph
    is connected (no cartesian anywhere). Deterministic greedy: start
    at pattern 0, take the lowest-index connectable next."""
    order = [0]
    seen = set(_pattern_vars(pats[0]))
    rest = set(range(1, len(pats)))
    while rest:
        nxt = next(
            (i for i in sorted(rest) if _pattern_vars(pats[i]) & seen), None
        )
        if nxt is None:
            return None
        order.append(nxt)
        seen |= _pattern_vars(pats[nxt])
        rest.discard(nxt)
    return order


def is_join_delta_decomposable(query_text: str) -> bool:
    """True when the view is an N-pattern (N ≥ 2) join + bare COUNTs
    that the counting algorithm maintains exactly: connected join graph
    (no cartesian), keys ⊆ pattern vars."""
    return _fits(query_text, "join")


def _partial_group_cols(pats, keys) -> list[list]:
    """Per-pattern group cols: each partial groups by its pattern's vars
    that any OTHER pattern or the projection still needs; everything
    else is counted out map-side. The factorization is exact because a
    counted-out var is private to its pattern."""
    shared = set()
    for i, tp in enumerate(pats):
        for j, other in enumerate(pats):
            if i != j:
                shared |= _pattern_vars(tp) & _pattern_vars(other)
    need = shared | set(keys)
    return [sorted(_pattern_vars(tp) & need) for tp in pats]


def _partial(triples: DataFrame, tp, group_cols) -> DataFrame:
    return _pattern_df(triples, tp).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__c")
    )


def join_count_partials(
    triples: DataFrame, query_text: str
) -> tuple[DataFrame, ...]:
    """The N maintained partial-count relations over `triples`
    (columns: the pattern's needed vars + `__c`). Each is one
    pred-filtered scan + one slim groupBy — map-side partial
    aggregation, no join."""
    s = _shape(query_text, "join")
    groups = _partial_group_cols(s.pats, s.keys)
    return tuple(_partial(triples, tp, g) for tp, g in zip(s.pats, groups))


def join_count_view_from_partials(
    partials, query_text: str
) -> DataFrame:
    """Re-derive the view from the partials: chain-join them in a
    connected order on the variables shared so far, then per-key sum of
    count products. Exactly equals recomputing the query over the base
    the partials describe — for any assignment of the retained vars the
    solution count factors across patterns (counted-out vars are
    pattern-private). `partials` is the sequence join_count_partials
    returned, in pattern order. Every joined row's product is ≥ 1 (the
    merge keeps partial rows with __c > 0), so every group it forms is
    non-empty."""
    partials = list(partials)
    s = _shape(query_text, "join")
    order = _join_order(s.pats)
    groups = _partial_group_cols(s.pats, s.keys)
    first = order[0]
    joined = partials[first].withColumnRenamed("__c", f"__c{first}")
    have = set(groups[first])
    for i in order[1:]:
        on = sorted(have & set(groups[i]))
        joined = joined.join(
            partials[i].withColumnRenamed("__c", f"__c{i}"), on
        )
        have |= set(groups[i])
    prod = reduce(lambda a, b: a * b, [F.col(f"__c{i}") for i in order])
    return joined.groupBy(*s.keys).agg(*[
        F.coalesce(F.sum(prod), F.lit(0)).alias(a) for a, _v in s.of("count")
    ])


def maintain_join_count_partials(
    partials,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """Advance every partial by a triple delta — each is a plain
    count-additive merge (zero groups drop, they contribute no join
    matches). The base triples are never read; callers then re-derive
    the view with join_count_view_from_partials."""
    s = _shape(query_text, "join")
    groups = _partial_group_cols(s.pats, s.keys)
    return tuple(
        _merge(old, partial(_partial, tp=tp, group_cols=g), g, "__c",
               delta_plus, delta_minus)
        for tp, g, old in zip(s.pats, groups, partials)
    )


# --------------------------------------------------------------------------
# MIN/MAX views — merge-on-insert, extremum-touch rescan on delete (r5)
# --------------------------------------------------------------------------
#
# MIN/MAX add under inserts (min(old, Δmin) / max(old, Δmax)) but do
# not subtract: deleting the current extremum needs the runner-up,
# which the view does not carry. The classic treatment (DBSP /
# materialized-view literature) is a partial recompute: a delete only
# disturbs a group when the deleted multiset CONTAINS the group's
# current extremum (Δ ⊆ base ⟹ min(Δ_g) ≥ min(base_g), so "touches"
# is the equality min(Δ_g) = view.min_g), and only the touched groups
# rescan. At scale the merge arm is the count-view shuffle (|V| +
# |V(Δ)| slim rows) and the rescan arm re-aggregates base solutions
# for the touched keys only — a semi-join pushed below the aggregation,
# typically a broadcast (extremum deletes are rare). Both joins on the
# group keys are null-safe: a GROUP BY variable unbound in some
# solutions forms a NULL-keyed group, which an equi-join would never
# match.

def is_minmax_delta_decomposable(query_text: str) -> bool:
    """True when maintain_minmax_view can keep this view exact (given
    the updated base for extremum rescans)."""
    return _fits(query_text, "minmax")


def minmax_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize the view WITH its hidden ``__n`` = COUNT(*) support
    (group-vanish detection) — callers publish ``read_minmax_view``."""
    return _with_supports(triples, _shape(query_text, "minmax"))


def read_minmax_view(view: DataFrame) -> DataFrame:
    """The publishable projection: the hidden support dropped."""
    return view.drop(_HIDDEN_N)


def _minmax_flat(base: DataFrame, s: _Shape) -> DataFrame:
    """The view's pre-aggregation solutions over ``base``: key columns
    plus one ``__v_<var>`` column per aggregated variable — the frame
    the touched-group rescan semi-joins and re-aggregates."""
    agg_vars = sorted({v for _a, v in s.of("min", "max", "count")} - {"*"})
    items = [SelectItem(Var(v), a) for a, v in s.of("key")]
    items += [SelectItem(Var(v), f"__v_{v}") for v in agg_vars]
    return _compile(base, s.q, items=items, group_by=[])


def _minmax_agg_exprs(s: _Shape) -> list:
    """The view's aggregate expressions over a flat solutions frame."""
    aggs = [F.count(F.lit(1) if v == "*" else F.col(f"__v_{v}")).alias(a)
            for a, v in s.of("count")]
    aggs += [F.min(f"__v_{v}").alias(a) for a, v in s.of("min")]
    aggs += [F.max(f"__v_{v}").alias(a) for a, v in s.of("max")]
    aggs.append(F.count(F.lit(1)).alias(_HIDDEN_N))
    return aggs


def _key_match(keys: list):
    """Null-safe equality of each key column with its ``__k_<key>`` twin."""
    return reduce(lambda a, b: a & b,
                  [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys])


def maintain_minmax_view(
    old_view: DataFrame,
    query_text: str,
    base: DataFrame,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> DataFrame:
    """Merge a materialized min/max view (the minmax_view frame, WITH
    the hidden support) with added/removed triples. ``base`` is the
    UPDATED base (after the deltas applied) — read ONLY to rescan the
    groups whose extremum a delete touched; pure-insert maintenance
    never scans it. ``delta_minus`` must be a sub-bag of the
    pre-update base (standard IVM contract). Equal to minmax_view over
    the updated base."""
    s = _shape(query_text, "minmax")
    keys = s.keys
    mins, maxs = [a for a, _v in s.of("min")], [a for a, _v in s.of("max")]
    cur = old_view
    # inserts merge FIRST: with both deltas in one call the delete
    # arm's rescan reads ``base`` (the FINAL base, inserts included),
    # so the view must already carry the inserts when counts subtract
    # — insert-after-rescan would double-count touched groups. The
    # touch test is also exact this way: Δ- ⊆ old base ⊆ final base,
    # so min(Δ-_g) ≥ min(final_g) with equality iff the delete removes
    # the current extremum.
    if delta_plus is not None:
        cur = _merge(cur, lambda t: _with_supports(t, s), keys, _HIDDEN_N,
                     delta_plus, extremes={**{a: F.min for a in mins},
                                           **{a: F.max for a in maxs}})
    if delta_minus is None:
        return cur
    dmv = _with_supports(delta_minus, s).select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__d_{c}") for c in old_view.columns if c not in keys],
    )
    # a global aggregate always yields its one row, so the cross join
    # keeps the view's single row
    joined = (cur.join(dmv, _key_match(keys), "left")
              .drop(*[f"__k_{k}" for k in keys]) if keys else cur.crossJoin(dmv))
    touched = F.lit(False)
    for a in mins:
        touched = touched | (F.col(f"__d_{a}") <= F.col(a))
    for a in maxs:
        touched = touched | (F.col(f"__d_{a}") >= F.col(a))
    # NULL comparisons are NULL -> not touched (a delete of only
    # unbound-?v solutions can't move an extremum); count-only drains of
    # a group WITHOUT touching its extremum cannot empty it (the extremum
    # row is still there), so vanish only happens through the touched
    # arm's empty rescan
    touched = F.coalesce(touched, F.lit(False))
    kept = joined.filter(~touched).select(
        *keys,
        *[(F.col(c) - F.coalesce(F.col(f"__d_{c}"), F.lit(0))).alias(c)
          for c in [*[a for a, _v in s.of("count")], _HIDDEN_N]],
        *mins, *maxs,
    )
    flat = _minmax_flat(base, s)
    if keys:
        from rdf2smw_spark.session import maybe_broadcast, scoped_persist

        # touched_keys is bounded by the delta's group count — tiny
        # for small deltas, but a BULK delete touching
        # millions of group extrema would broadcast an unbounded
        # frame; use the repo-standard counted maybe_broadcast so
        # oversized key sets fall back to a shuffle semi-join
        # (VERDICT r5 #3). Persist first: the probe count would
        # otherwise re-run the old_view ⋈ delta join.
        touched_keys = scoped_persist(joined.filter(touched).select(
            *[F.col(k).alias(f"__k_{k}") for k in keys]
        ))
        rescan = (
            flat.join(maybe_broadcast(touched_keys, 5_000_000),
                      _key_match(keys), how="semi")
            .groupBy(*keys)
            .agg(*_minmax_agg_exprs(s))
        )
        cur = kept.unionByName(rescan).filter(F.col(_HIDDEN_N) > 0)
    else:
        # global view: any touch rescans the single row (and a drained
        # base recomputes to the NULL-extremum zero row)
        probe = joined.filter(touched).limit(1).count()
        cur = flat.groupBy().agg(*_minmax_agg_exprs(s)) if probe else kept
    return cur.select(*old_view.columns)


# --------------------------------------------------------------------------
# DISTINCT-aggregate views — the per-group value-frequency support (r5)
# --------------------------------------------------------------------------
#
# COUNT(DISTINCT ?v) / SUM(DISTINCT ?v) are not additive over the view
# alone (merging distinct counts double-counts shared values), but they
# ARE exactly maintainable through the textbook support relation
#
#     S = γ_{keys, ?v} COUNT(*)          (keys, __v, __c)
#
# — the per-group value frequency table. S is itself a single-source
# COUNT view, hence count-additive under both deltas (merge = one slim
# union + groupBy, rows whose __c hits 0 vanish), and every aggregate
# of the view derives from S alone: COUNT(DISTINCT ?v) = #non-NULL
# support rows, SUM(DISTINCT ?v) = Σ __v, COUNT(?v) = Σ __c over
# non-NULL rows, COUNT(*) = Σ __c, and GROUP_CONCAT of the full bag
# re-expands values × multiplicities. Scale shape: |S| is bounded by the
# number of DISTINCT (group, value) pairs — the same cardinality any
# exact distinct-count must touch — and the per-delta merge shuffles
# |S| + |S(Δ)| slim rows, never the base.

def is_distinct_delta_decomposable(query_text: str) -> bool:
    """True when maintain_distinct_view can keep this view exact:
    single source, keys / COUNT(DISTINCT ?v) / SUM(DISTINCT ?v) /
    GROUP_CONCAT([DISTINCT] ?v) / bare COUNT(?v)/COUNT(*) — all over the
    SAME variable — with at least one aggregate that needs the support."""
    return _fits(query_text, "distinct")


def _support(triples: DataFrame, s: _Shape) -> DataFrame:
    var = s.of("cdist", "sdist", "gc", "gc_dist")[0][1]
    items = [SelectItem(Var(v), a) for a, v in s.of("key")]
    items += [SelectItem(Var(var), "__v"),
              SelectItem(Call("COUNT", ("*",)), "__c")]
    return _compile(triples, s.q, items=items,
                    group_by=[*[v for _a, v in s.of("key")], var])


def distinct_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize the SUPPORT relation (keys, __v, __c) — callers
    persist this frame and publish ``read_distinct_view``."""
    return _support(triples, _shape(query_text, "distinct"))


def read_distinct_view(support: DataFrame, query_text: str) -> DataFrame:
    """Derive the published view from the support relation."""
    s = _shape(query_text, "distinct")
    nn = F.col("__v").isNotNull()
    val = F.when(nn, F.col("__v"))
    aggs = []
    for alias, kind, var, sep in s.items:
        if kind == "cdist":
            col = F.count(val)
        elif kind == "sdist":
            col = F.sum(val.cast("double"))  # the engine's SUM casts to double
        elif kind == "gc_dist":
            # engine pins GROUP_CONCAT lexicographic; support rows ARE
            # the distinct values
            col = F.array_join(F.sort_array(F.collect_list(val)), sep)
        elif kind == "gc":
            # full-bag concat: each value repeated its multiplicity,
            # sorted — repeating AFTER the sort keeps equal values
            # adjacent, identical to sorting the flat bag
            entries = F.array_sort(F.collect_list(
                F.when(nn, F.struct(F.col("__v"), F.col("__c")))
            ))
            col = F.array_join(F.flatten(F.transform(
                entries,
                lambda e: F.transform(
                    F.sequence(F.lit(1), e["__c"]), lambda _i: e["__v"]
                ),
            )), sep)
        elif kind == "count":
            col = F.coalesce(F.sum(
                F.col("__c") if var == "*" else F.when(nn, F.col("__c"))
            ), F.lit(0))
        else:  # a GROUP BY key
            continue
        aggs.append(col.alias(alias))
    out = support.groupBy(*s.keys).agg(*aggs)
    return out.select(*[a for a, _k, _v, _s in s.items])


def maintain_distinct_view(
    support: DataFrame,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> DataFrame:
    """Merge the SUPPORT relation with added/removed triples — the
    support is a single-source count state over (keys, ?v), so it takes
    the one delta merge: rows whose __c falls to 0 vanish (and with
    them, vanished groups). ``read_distinct_view`` of the result equals
    recomputing over the updated base."""
    s = _shape(query_text, "distinct")
    return _merge(support, lambda t: _support(t, s), [*s.keys, "__v"], "__c",
                  delta_plus, delta_minus)


# --------------------------------------------------------------------------
# Epilogue views — HAVING / ORDER BY / LIMIT / OFFSET at read time (r5)
# --------------------------------------------------------------------------
#
# HAVING and slicing change what a view PUBLISHES, not what must be
# MAINTAINED. The maintained support is the same query with the
# epilogue stripped (every group survives, unordered, unsliced) —
# exactly the shape one of the five families keeps exact — and the
# epilogue is re-applied at read time over the |V|-row maintained
# support, never the base. A group crossing a HAVING threshold (either
# direction) or entering/leaving a top-k slice is therefore handled for
# free: its true partial aggregates were never dropped. Aggregates (or
# GROUP BY keys) that appear only in the epilogue are carried as hidden
# projected columns of the support and dropped from the published view.
#
# Scale shape: read-time cost is one filter + (when ordered) one
# TakeOrderedAndProject over the slim support — no base scan, no extra
# shuffle beyond the family merge itself.


def _epilogue_rewrite(query_text: str) -> tuple:
    """Split a view query into its maintainable core and its epilogue.

    Returns (core_q, having_rw, order_rw, limit, offset, public) where
    core_q is the query with HAVING/ORDER BY/LIMIT/OFFSET stripped and
    epilogue-only aggregates/keys appended as hidden items, having_rw /
    order_rw are the epilogue expressions rewritten to reference the
    support's columns (aggregate calls -> their projected aliases), and
    public is the original projection (the columns the read publishes).
    Raises SparqlSyntaxError when the query has no epilogue, or uses
    DISTINCT solutions / an epilogue term that cannot be carried."""
    q = _view_query(query_text)
    if (q.having is None and not q.order_by and q.limit is None
            and q.offset is None):
        raise SparqlSyntaxError(
            "view has no HAVING/ORDER BY/slice — use the family directly"
        )
    if q.distinct:
        raise SparqlSyntaxError("DISTINCT solutions are not additive")
    items = list(q.items)
    aliases = {it.alias for it in q.items}

    def rw(e):
        if isinstance(e, Call) and e.fn in _AGG_FNS:
            for it in items:
                if isinstance(it.expr, Call) and it.expr == e:
                    return Var(it.alias)
            alias = f"__ep{len(items) - len(q.items)}"
            items.append(SelectItem(e, alias))
            return Var(alias)
        if isinstance(e, Var):
            if e.name in aliases:
                return e
            for it in items:
                if isinstance(it.expr, Var) and it.expr.name == e.name:
                    return Var(it.alias)
            if e.name not in q.group_by:
                raise SparqlSyntaxError(
                    f"?{e.name} in HAVING/ORDER BY is neither projected "
                    "nor a GROUP BY key"
                )
            items.append(SelectItem(e, e.name))
            aliases.add(e.name)
            return e
        if isinstance(e, BinOp):
            return BinOp(e.op, rw(e.left), rw(e.right))
        if isinstance(e, Not):
            return Not(rw(e.arg))
        if isinstance(e, Call):  # non-aggregate builtin
            return dataclasses.replace(
                e, args=tuple(a if a == "*" else rw(a) for a in e.args)
            )
        return e  # Lit / Iri

    having_rw = rw(q.having) if q.having is not None else None
    order_rw = [(rw(e), d) for e, d in q.order_by]
    core = dataclasses.replace(
        q, items=items, having=None, order_by=[], limit=None, offset=None,
    )
    public = [it.alias for it in q.items]
    return core, having_rw, order_rw, q.limit, q.offset, public


def _maintain_minmax_core(support, core, delta_plus, delta_minus, base):
    if base is None:
        raise SparqlSyntaxError(
            "min/max epilogue views need the updated base for "
            "extremum-touch rescans"
        )
    return maintain_minmax_view(support, core, base, delta_plus, delta_minus)


# family -> (materialize(triples, core), maintain(support, core, Δ+, Δ-,
# base), read(support, core)): the maintained support is a DataFrame
# for count/sum/minmax/distinct cores and a tuple of partial-count
# frames for join cores
_FAMILIES = {
    "count": (count_view,
              lambda sup, q, dp, dm, _b: maintain_count_view(sup, q, dp, dm),
              lambda sup, _q: read_sum_view(sup)),
    "sum": (sum_view,
            lambda sup, q, dp, dm, _b: maintain_sum_view(sup, q, dp, dm),
            lambda sup, _q: read_sum_view(sup)),
    "minmax": (minmax_view, _maintain_minmax_core,
               lambda sup, _q: read_minmax_view(sup)),
    "distinct": (distinct_view,
                 lambda sup, q, dp, dm, _b: maintain_distinct_view(sup, q, dp, dm),
                 read_distinct_view),
    "join": (join_count_partials,
             lambda sup, q, dp, dm, _b: maintain_join_count_partials(sup, q, dp, dm),
             join_count_view_from_partials),
}


def _epilogue_family(query_text: str) -> tuple:
    """(stripped core, its family's _FAMILIES steps)."""
    core = _epilogue_rewrite(query_text)[0]
    family = _classify(core).family
    if family is None:
        raise SparqlSyntaxError(
            "core view (epilogue stripped) fits no maintainer family — "
            "recompute instead"
        )
    return core, _FAMILIES[family]


def is_epilogue_decomposable(query_text: str) -> bool:
    """True when the query HAS an epilogue (HAVING/ORDER BY/slice) and
    its stripped core is maintainable by one of the five families."""
    try:
        _epilogue_family(query_text)
        return True
    except SparqlSyntaxError:
        return False


def epilogue_view(triples: DataFrame, query_text: str):
    """Materialize the maintained support of an epilogue view: the
    family materialization of the stripped core. A DataFrame for
    count/sum/minmax/distinct cores; a tuple of partial-count frames
    for join cores. Callers persist this and publish
    ``read_epilogue_view``."""
    core, (materialize, _maintain, _read) = _epilogue_family(query_text)
    return materialize(triples, core)


def maintain_epilogue_view(
    support,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
    base: DataFrame | None = None,
):
    """Advance the support by a triple delta via its family maintainer.
    ``base`` (the UPDATED base) is required only for min/max cores —
    their delete path rescans extremum-touched groups."""
    core, (_materialize, maintain, _read) = _epilogue_family(query_text)
    return maintain(support, core, delta_plus, delta_minus, base)


def apply_epilogue(df: DataFrame, query_text: str) -> DataFrame:
    """Apply the view's epilogue — HAVING filter, ORDER BY,
    OFFSET/LIMIT — over an already-derived family read of its
    maintained support, then project the published columns (hidden
    epilogue carriers dropped). Cost: one filter + (when ordered) one
    TakeOrderedAndProject over the slim |V|-row frame."""
    _core, having_rw, order_rw, limit, offset, public = (
        _epilogue_rewrite(query_text)
    )
    comp = _Compiler(df)
    if having_rw is not None:
        df = df.filter(comp.expr(having_rw, df))
    if order_rw:
        keys = [
            comp.expr(e, df).desc() if d == "desc" else comp.expr(e, df).asc()
            for e, d in order_rw
        ]
        df = df.orderBy(*keys)  # + limit below => TakeOrderedAndProject
    df = df.select(*public)
    if offset is not None:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def read_epilogue_view(support, query_text: str) -> DataFrame:
    """Publish the view: the family read over the maintained support,
    then the epilogue over the slim |V|-row result. Exactly equals
    recomputing the full query (epilogue included) over the updated
    base; pytest asserts both directions and the registry hash-checks
    vs a full-recompute oracle."""
    core, (_materialize, _maintain, read) = _epilogue_family(query_text)
    return apply_epilogue(read(support, core), query_text)
