"""Incremental view maintenance for SPARQL aggregate views.

Five maintainer families cover EVERY aggregate the engine's SPARQL
dialect supports:

  * count_view            — COUNT            (additive both ways)
  * sum_view              — SUM / AVG        (hidden count supports)
  * minmax_view           — MIN / MAX / SAMPLE (insert merge;
                            extremum-touch partial rescan on delete)
  * distinct_view         — COUNT/SUM(DISTINCT) and
                            GROUP_CONCAT([DISTINCT]) (value-frequency
                            support relation; the concat re-expands
                            values × multiplicity before the pinned
                            lexicographic join)
  * join_count_partials   — N-pattern JOIN COUNT views (the counting
                            algorithm over per-pattern partials)

Each family rejects out-of-shape queries loudly (HAVING, slicing,
DISTINCT solutions, paths, EXISTS) so callers route those to
recompute. The original design notes follow.

A KG service materializes aggregate views (per-class member counts,
per-predicate usage, per-graph sizes) and must keep them current as
crawl deltas arrive — re-running the aggregate over 10^12 triples per
drain is the anti-pattern. For DELTA-DECOMPOSABLE view shapes the
maintained view is exact:

    V(base ⊎ Δ+)        = merge(V(base), V(Δ+))
    V(base ∖ Δ-)        = merge(V(base), -V(Δ-))

which holds when every solution of the view query depends on exactly
ONE triple (so a delta triple contributes solutions independently of
the base): a single triple pattern, plus any FILTERs (row-local), plus
UNIONs of such groups (bag-additive). Multi-pattern joins are NOT
decomposable this way (a delta triple joins against base triples) and
are rejected loudly rather than maintained wrong.

Scale shape: the merge is one unionByName + one groupBy on the view's
key columns — the shuffle carries |V| + |V(Δ)| slim rows, never the
base triples. Counts that fall to zero drop out of the view (the
group disappears, matching recompute).

The companion check `is_delta_decomposable(query_text)` inspects the
parsed AST, so callers can route non-decomposable views to recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.sparql import (
    Call,
    Filter_,
    Group,
    SelectItem,
    SelectQuery,
    SparqlSyntaxError,
    TriplePattern,
    Union_,
    Var,
    parse_sparql,
    sparql_select,
)


def _has_exists(e) -> bool:
    """True when an expression tree contains a [NOT] EXISTS probe."""
    from rdf2smw_spark.sparql import BinOp, ExistsExpr, Not

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
    from rdf2smw_spark.sparql import Bind_, ExistsExpr, Iri

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


def is_delta_decomposable(query_text: str) -> bool:
    """True when the view query's solutions each depend on exactly one
    triple: a single (non-path) pattern or a UNION of such, plus
    filters; aggregates must be COUNT (counts add; AVG/MIN/MAX do not
    subtract). GROUP BY keys are unrestricted."""
    q = _view_query(query_text)
    if not _single_source_group(q.where):
        return False
    if q.order_by or q.limit is not None or q.offset is not None or q.distinct:
        return False  # slicing/dedup is not additive
    if q.having is not None:
        # a HAVING view drops sub-threshold groups from the
        # materialization — their partial counts are LOST, so a later
        # delta cannot re-derive the true total (a group crossing the
        # threshold would surface with only its delta count). Not
        # maintainable from the view alone; route to recompute.
        return False
    has_count = False
    for it in q.items:
        if isinstance(it.expr, Var):
            continue  # a GROUP BY key
        if (isinstance(it.expr, Call) and it.expr.fn == "COUNT"
                and not it.expr.distinct):
            has_count = True
            continue  # bare COUNT: counts add
        # anything else — COUNT(DISTINCT) needs the value set, SUM/AVG/
        # MIN/MAX don't subtract, and an aggregate NESTED in arithmetic
        # (e.g. SUM(?x)+0) would be mistaken for a key column by the
        # maintainer — is not count-additive
        return False
    # a view with NO aggregate at all (plain SELECT ?s ?c) is a bag of
    # rows, not a count view: union+groupBy would collapse it to a set
    # and the maintainer would have zero agg expressions — route it to
    # recompute instead of maintaining it wrong
    return has_count


def count_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize the view: just the compiled query (one aggregate)."""
    if not is_delta_decomposable(query_text):
        raise SparqlSyntaxError(
            "view is not delta-decomposable (multi-pattern join, path, "
            "DISTINCT, non-COUNT aggregate, or slice) — recompute instead"
        )
    if isinstance(query_text, SelectQuery):
        from rdf2smw_spark.sparql import _Compiler

        return _Compiler(triples).compile_query(query_text)
    return sparql_select(triples, query_text)


def maintain_count_view(
    old_view: DataFrame,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> DataFrame:
    """Merge a materialized count view with added/removed triples.
    `old_view` has the query's projected columns (keys + count
    aliases); deltas are TRIPLE_SCHEMA frames. Exactly equal to
    recomputing the query over the updated base (pytest asserts both
    directions; the registry query hash-checks vs a full-recompute
    oracle)."""
    q = _view_query(query_text)
    count_cols = [
        it.alias for it in q.items
        if isinstance(it.expr, Call) and it.expr.fn == "COUNT"
    ]
    key_cols = [c for c in old_view.columns if c not in count_cols]
    parts = [old_view]
    if delta_plus is not None:
        parts.append(count_view(delta_plus, query_text))
    if delta_minus is not None:
        neg = count_view(delta_minus, query_text)
        parts.append(
            neg.select(
                *key_cols, *[(-F.col(c)).alias(c) for c in count_cols]
            )
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    out = merged.groupBy(*key_cols).agg(
        *[F.sum(c).cast("long").alias(c) for c in count_cols]
    )
    if not key_cols:
        # GLOBAL count view (no GROUP BY): recompute over a drained base
        # yields ONE row with n=0 (SPARQL/Spark global-aggregate
        # semantics), so the zero row must stay — only grouped views
        # drop vanished groups
        return out
    # groups whose every count fell to zero vanish, matching recompute
    keep = None
    for c in count_cols:
        cond = F.col(c) > 0
        keep = cond if keep is None else (keep | cond)
    return out.filter(keep) if keep is not None else out


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


def _join_view_query(query_text: str) -> tuple:
    """Parse + validate a join-count view. Returns (query, patterns,
    key_cols, count_aliases) or raises SparqlSyntaxError."""
    from rdf2smw_spark.sparql import Iri

    q = _view_query(query_text)
    pats = [el for el in q.where.elements if isinstance(el, TriplePattern)]
    others = [el for el in q.where.elements if not isinstance(el, TriplePattern)]
    if len(pats) < 2 or others:
        raise SparqlSyntaxError(
            "join count views support two or more triple patterns "
            "(no filters/unions/optionals)"
        )
    for tp in pats:
        if not isinstance(tp.p, (Var, Iri)):
            raise SparqlSyntaxError("property paths are not maintainable")
    if q.order_by or q.limit is not None or q.offset is not None or q.distinct:
        raise SparqlSyntaxError("slicing/dedup is not additive")
    if q.having is not None:
        raise SparqlSyntaxError(
            "HAVING drops groups from the materialization — not "
            "maintainable; recompute instead"
        )
    keys, counts = [], []
    for it in q.items:
        if isinstance(it.expr, Var):
            keys.append(it.alias)
        elif (isinstance(it.expr, Call) and it.expr.fn == "COUNT"
                and not it.expr.distinct):
            counts.append(it.alias)
        else:
            raise SparqlSyntaxError(
                "join count views project keys and bare COUNTs only"
            )
    if not counts:
        raise SparqlSyntaxError("join count views need a COUNT")
    return q, pats, keys, counts


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
    try:
        _q, pats, keys, _counts = _join_view_query(query_text)
    except SparqlSyntaxError:
        return False
    all_vars = set().union(*(_pattern_vars(tp) for tp in pats))
    return _join_order(pats) is not None and set(keys) <= all_vars


def _partial_group_cols(pats, keys) -> tuple[list[list], list]:
    """(per-pattern group cols, shared vars): each partial groups by
    its pattern's vars that any OTHER pattern or the projection still
    needs; everything else is counted out map-side. The factorization
    is exact because a counted-out var is private to its pattern."""
    shared = set()
    for i, tp in enumerate(pats):
        for j, other in enumerate(pats):
            if i != j:
                shared |= _pattern_vars(tp) & _pattern_vars(other)
    need = shared | set(keys)
    return [sorted(_pattern_vars(tp) & need) for tp in pats], sorted(shared)


def join_count_partials(
    triples: DataFrame, query_text: str
) -> tuple[DataFrame, ...]:
    """The N maintained partial-count relations over `triples`
    (columns: the pattern's needed vars + `__c`). Each is one
    pred-filtered scan + one slim groupBy — map-side partial
    aggregation, no join."""
    from rdf2smw_spark.sparql import _pattern_df

    _q, pats, keys, _counts = _join_view_query(query_text)
    if not is_join_delta_decomposable(query_text):
        raise SparqlSyntaxError(
            "view is not join-delta-decomposable — recompute instead"
        )
    groups, _shared = _partial_group_cols(pats, keys)
    return tuple(
        _pattern_df(triples, tp).groupBy(*g).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        for tp, g in zip(pats, groups)
    )


def join_count_view_from_partials(
    partials, query_text: str
) -> DataFrame:
    """Re-derive the view from the partials: chain-join them in a
    connected order on the variables shared so far, then per-key sum of
    count products. Exactly equals recomputing the query over the base
    the partials describe — for any assignment of the retained vars the
    solution count factors across patterns (counted-out vars are
    pattern-private). `partials` is the sequence join_count_partials
    returned, in pattern order."""
    partials = list(partials)
    _q, pats, keys, counts = _join_view_query(query_text)
    order = _join_order(pats)
    groups, _shared = _partial_group_cols(pats, keys)
    first = order[0]
    joined = partials[first].withColumnRenamed("__c", f"__c{first}")
    have = set(groups[first])
    for i in order[1:]:
        on = sorted(have & set(groups[i]))
        joined = joined.join(
            partials[i].withColumnRenamed("__c", f"__c{i}"), on
        )
        have |= set(groups[i])
    prod = F.col(f"__c{order[0]}")
    for i in order[1:]:
        prod = prod * F.col(f"__c{i}")
    prod = prod.cast("long")
    aggs = [F.coalesce(F.sum(prod), F.lit(0)).cast("long").alias(c)
            for c in counts]
    out = joined.groupBy(*keys).agg(*aggs)
    if keys:
        keep = None
        for c in counts:
            cond = F.col(c) > 0
            keep = cond if keep is None else (keep | cond)
        out = out.filter(keep)
    return out


def maintain_join_count_partials(
    partials,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """Advance every partial by a triple delta — each is a plain
    count-additive merge (union + groupBy on the slim group cols; zero
    groups drop, they contribute no join matches). The base triples are
    never read; callers then re-derive the view with
    join_count_view_from_partials."""
    from rdf2smw_spark.sparql import _pattern_df

    _q, pats, keys, _counts = _join_view_query(query_text)
    groups, _shared = _partial_group_cols(pats, keys)
    out = []
    for tp, g, old in zip(pats, groups, partials):
        parts = [old]
        if delta_plus is not None:
            parts.append(
                _pattern_df(delta_plus, tp).groupBy(*g).agg(
                    F.count(F.lit(1)).cast("long").alias("__c")
                )
            )
        if delta_minus is not None:
            parts.append(
                _pattern_df(delta_minus, tp).groupBy(*g).agg(
                    (-F.count(F.lit(1))).cast("long").alias("__c")
                )
            )
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        merged = merged.groupBy(*g).agg(
            F.sum("__c").cast("long").alias("__c")
        ).filter(F.col("__c") != 0)
        out.append(merged)
    return tuple(out)


# --------------------------------------------------------------------------
# SUM views — count-supported additive aggregates (round 5)
# --------------------------------------------------------------------------
#
# A single-source SUM is delta-additive exactly like COUNT (sums add
# under inserts and subtract under deletes), but two things COUNT gets
# for free need explicit support state:
#
#   * group vanishing — a group disappears from the recomputed view
#     when its solution multiplicity reaches 0, which a SUM alone
#     cannot detect (a zero sum can be a real non-empty group), so the
#     maintained view carries a hidden ``__n`` = COUNT(*) column;
#   * NULL sums — the engine's SUM is Spark's (SUM over only-NULL
#     values is NULL, and under the session's ANSI mode any non-NULL
#     binding that materialized without erroring is castable), so each
#     SUM alias carries a hidden ``__nn_<alias>`` = COUNT(?v) and the
#     maintained sum snaps to NULL when it reaches 0 — matching
#     recompute when deletes drain every non-NULL contributor.
#
# With those two supports the maintained view equals recomputing the
# query over the updated base (modulo float addition order; the
# engine's SUM casts to double). Scale shape is the count-view one: the
# merge shuffles |V| + |V(Δ)| slim rows, never the base.

_HIDDEN_N = "__n"


def _sum_view_query(query_text: str) -> tuple:
    """Parse + validate a sum/avg view: single-source group,
    projections are keys / bare COUNTs / bare SUM(?v)s / bare AVG(?v)s,
    at least one SUM or AVG. Returns (query, keys, count_aliases,
    [(sum_alias, var)], [(avg_alias, var)]) — an AVG is maintained as
    its (SUM, COUNT) pair in hidden supports and re-derived after each
    merge (AVG itself does not subtract; its components do)."""
    q = _view_query(query_text)
    if not _single_source_group(q.where):
        raise SparqlSyntaxError("sum views must be single-source")
    if q.order_by or q.limit is not None or q.offset is not None or q.distinct:
        raise SparqlSyntaxError("slicing/dedup is not additive")
    if q.having is not None:
        raise SparqlSyntaxError(
            "HAVING drops groups from the materialization — their "
            "partial aggregates are lost, so the view is not "
            "maintainable; recompute instead"
        )
    keys, counts, sums, avgs = [], [], [], []
    for it in q.items:
        if isinstance(it.expr, Var):
            keys.append(it.alias)
            continue
        if isinstance(it.expr, Call) and not it.expr.distinct:
            if it.expr.fn == "COUNT":
                counts.append(it.alias)
                continue
            if (it.expr.fn in ("SUM", "AVG") and len(it.expr.args) == 1
                    and isinstance(it.expr.args[0], Var)):
                (sums if it.expr.fn == "SUM" else avgs).append(
                    (it.alias, it.expr.args[0].name)
                )
                continue
        raise SparqlSyntaxError(
            "sum views project keys, bare COUNTs, and bare "
            "SUM(?v)/AVG(?v)s only"
        )
    if not sums and not avgs:
        raise SparqlSyntaxError("no SUM/AVG — use count_view")
    return q, keys, counts, sums, avgs


def is_sum_delta_decomposable(query_text: str) -> bool:
    """True when maintain_sum_view can keep this view exact."""
    try:
        _sum_view_query(query_text)
        return True
    except SparqlSyntaxError:
        return False


def sum_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize the view WITH its hidden support columns (``__n``,
    one ``__nn_<alias>`` per SUM/AVG, one ``__s_<alias>`` per AVG) —
    callers publish ``read_sum_view`` and persist this frame. One
    compiled query: the supports are extra aggregates in the same
    groupBy."""
    import dataclasses

    from rdf2smw_spark.sparql import _Compiler

    q, _keys, _counts, sums, avgs = _sum_view_query(query_text)
    extra = [SelectItem(Call("COUNT", ("*",)), _HIDDEN_N)]
    extra += [
        SelectItem(Call("COUNT", (Var(v),)), f"__nn_{alias}")
        for alias, v in [*sums, *avgs]
    ]
    extra += [
        SelectItem(Call("SUM", (Var(v),)), f"__s_{alias}")
        for alias, v in avgs
    ]
    q2 = dataclasses.replace(q, items=[*q.items, *extra])
    return _Compiler(triples).compile_query(q2)


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
    q, keys, counts, sums, avgs = _sum_view_query(query_text)
    sum_cols = [alias for alias, _v in sums]
    avg_cols = [alias for alias, _v in avgs]
    s_cols = [f"__s_{alias}" for alias in avg_cols]
    nn_cols = [f"__nn_{alias}" for alias in sum_cols + avg_cols]
    add_cols = counts + sum_cols + s_cols + [_HIDDEN_N] + nn_cols
    # the visible AVG column is not additive — drop it from the merge
    # and re-derive it from the merged (__s, __nn) supports afterwards
    parts = [old_view.drop(*avg_cols)]
    if delta_plus is not None:
        parts.append(sum_view(delta_plus, query_text).drop(*avg_cols))
    if delta_minus is not None:
        neg = sum_view(delta_minus, query_text)
        parts.append(neg.select(
            *keys, *[(-F.col(c)).alias(c) for c in add_cols]
        ))
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    long_cols = set(counts) | {_HIDDEN_N} | set(nn_cols)
    out = merged.groupBy(*keys).agg(*[
        (F.sum(c).cast("long") if c in long_cols else F.sum(c)).alias(c)
        for c in add_cols
    ])
    # a drained sum is NULL, not 0.0 (recompute: SUM over no non-NULL
    # values) — F.sum already yields NULL when every merged part was
    # NULL, but old(5.0) + delta(-5.0) leaves 0.0, so snap on __nn
    for alias in sum_cols:
        out = out.withColumn(
            alias,
            F.when(F.col(f"__nn_{alias}") > 0, F.col(alias)),
        )
    for alias in avg_cols:
        out = out.withColumn(
            alias,
            F.when(
                F.col(f"__nn_{alias}") > 0,
                F.col(f"__s_{alias}") / F.col(f"__nn_{alias}"),
            ),
        )
    out = out.select(*old_view.columns)  # keep the sum_view column order
    if not keys:
        return out  # global view: the single row stays even at __n = 0
    return out.filter(F.col(_HIDDEN_N) > 0)


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
# typically a broadcast (extremum deletes are rare).

def _minmax_view_query(query_text: str) -> tuple:
    """Parse + validate a min/max view: single-source group,
    projections are keys / bare COUNTs / bare MIN(?v)/MAX(?v), at
    least one MIN or MAX, no slicing/HAVING. Returns
    (query, keys, [(count_alias, var_or_star)], [(min_alias, var)],
    [(max_alias, var)])."""
    q = _view_query(query_text)
    if not _single_source_group(q.where):
        raise SparqlSyntaxError("min/max views must be single-source")
    if q.order_by or q.limit is not None or q.offset is not None or q.distinct:
        raise SparqlSyntaxError("slicing/dedup is not additive")
    if q.having is not None:
        raise SparqlSyntaxError(
            "HAVING drops groups from the materialization — not "
            "maintainable; recompute instead"
        )
    keys, counts, mins, maxs = [], [], [], []
    for it in q.items:
        if isinstance(it.expr, Var):
            keys.append(it.alias)
            continue
        if isinstance(it.expr, Call) and not it.expr.distinct:
            if it.expr.fn == "COUNT":
                arg = it.expr.args[0] if it.expr.args else "*"
                counts.append(
                    (it.alias, arg.name if isinstance(arg, Var) else "*")
                )
                continue
            if (it.expr.fn in ("MIN", "MAX", "SAMPLE")
                    and len(it.expr.args) == 1
                    and isinstance(it.expr.args[0], Var)):
                # SAMPLE is pinned deterministic = MIN in this engine
                # (sparql.py), so it maintains exactly like one
                (mins if it.expr.fn in ("MIN", "SAMPLE") else maxs).append(
                    (it.alias, it.expr.args[0].name)
                )
                continue
        raise SparqlSyntaxError(
            "min/max views project keys, bare COUNTs, and bare "
            "MIN/MAX/SAMPLE(?v)s only"
        )
    if not mins and not maxs:
        raise SparqlSyntaxError("no MIN/MAX — use count_view/sum_view")
    return q, keys, counts, mins, maxs


def is_minmax_delta_decomposable(query_text: str) -> bool:
    """True when maintain_minmax_view can keep this view exact (given
    the updated base for extremum rescans)."""
    try:
        _minmax_view_query(query_text)
        return True
    except SparqlSyntaxError:
        return False


def minmax_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize the view WITH its hidden ``__n`` = COUNT(*) support
    (group-vanish detection) — callers publish ``read_minmax_view``."""
    import dataclasses

    from rdf2smw_spark.sparql import _Compiler

    q = _minmax_view_query(query_text)[0]
    extra = [SelectItem(Call("COUNT", ("*",)), _HIDDEN_N)]
    q2 = dataclasses.replace(q, items=[*q.items, *extra])
    return _Compiler(triples).compile_query(q2)


def read_minmax_view(view: DataFrame) -> DataFrame:
    """The publishable projection: the hidden support dropped."""
    return view.drop(_HIDDEN_N)


def _minmax_flat(base: DataFrame, q, keys, counts, mins, maxs) -> DataFrame:
    """The view's pre-aggregation solutions over ``base``: key columns
    plus one ``__v_<var>`` column per aggregated variable — the frame
    the touched-group rescan semi-joins and re-aggregates."""
    import dataclasses

    from rdf2smw_spark.sparql import _Compiler

    proj: dict[str, str] = {}
    for _alias, v in [*mins, *maxs]:
        proj.setdefault(v, f"__v_{v}")
    for _alias, v in counts:
        if v != "*":
            proj.setdefault(v, f"__v_{v}")
    items = [SelectItem(Var(k), k) for k in keys]
    items += [SelectItem(Var(v), a) for v, a in sorted(proj.items())]
    q_flat = dataclasses.replace(
        q, items=items, group_by=[], having=None, distinct=False,
    )
    return _Compiler(base).compile_query(q_flat)


def _minmax_agg_exprs(counts, mins, maxs) -> list:
    """The view's aggregate expressions over a flat solutions frame."""
    aggs = []
    for alias, v in counts:
        col = F.lit(1) if v == "*" else F.col(f"__v_{v}")
        aggs.append(F.count(col).alias(alias))
    aggs += [F.min(f"__v_{v}").alias(a) for a, v in mins]
    aggs += [F.max(f"__v_{v}").alias(a) for a, v in maxs]
    aggs.append(F.count(F.lit(1)).alias(_HIDDEN_N))
    return aggs


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
    q, keys, counts, mins, maxs = _minmax_view_query(query_text)
    count_cols = [alias for alias, _v in counts]
    agg_cols = count_cols + [a for a, _ in mins] + [a for a, _ in maxs]
    cur = old_view
    # inserts merge FIRST: with both deltas in one call the delete
    # arm's rescan reads ``base`` (the FINAL base, inserts included),
    # so the view must already carry the inserts when counts subtract
    # — insert-after-rescan would double-count touched groups. The
    # touch test is also exact this way: Δ- ⊆ old base ⊆ final base,
    # so min(Δ-_g) ≥ min(final_g) with equality iff the delete removes
    # the current extremum.
    if delta_plus is not None:
        dpv = minmax_view(delta_plus, query_text)
        merged = cur.unionByName(dpv)
        aggs = [F.sum(c).cast("long").alias(c) for c in count_cols]
        aggs += [F.min(a).alias(a) for a, _ in mins]
        aggs += [F.max(a).alias(a) for a, _ in maxs]
        aggs.append(F.sum(_HIDDEN_N).cast("long").alias(_HIDDEN_N))
        cur = merged.groupBy(*keys).agg(*aggs)
    if delta_minus is not None:
        dmv = minmax_view(delta_minus, query_text)
        d_cols = {c: f"__d_{c}" for c in agg_cols + [_HIDDEN_N]}
        dmv = dmv.select(
            *keys, *[F.col(c).alias(a) for c, a in d_cols.items()]
        )
        joined = cur.join(dmv, on=keys, how="left") if keys else (
            cur.crossJoin(dmv) if dmv.limit(1).count() else cur.select(
                "*", *[F.lit(None).alias(a) for a in d_cols.values()]
            )
        )
        touched = F.lit(False)
        for a, _v in mins:
            touched = touched | (F.col(f"__d_{a}") <= F.col(a))
        for a, _v in maxs:
            touched = touched | (F.col(f"__d_{a}") >= F.col(a))
        # NULL comparisons are NULL -> not touched (a delete of only
        # unbound-?v solutions can't move an extremum); count-only
        # drains of a group WITHOUT touching its extremum cannot empty
        # it (the extremum row is still there), so vanish only happens
        # through the touched arm's empty rescan
        untouched = joined.filter(~F.coalesce(touched, F.lit(False)))
        kept = untouched.select(
            *keys,
            *[(F.col(c) - F.coalesce(F.col(f"__d_{c}"), F.lit(0)))
              .cast("long").alias(c) for c in count_cols],
            *[F.col(a) for a, _ in [*mins, *maxs]],
            (F.col(_HIDDEN_N) - F.coalesce(F.col(f"__d_{_HIDDEN_N}"), F.lit(0)))
            .cast("long").alias(_HIDDEN_N),
        )
        flat = _minmax_flat(base, q, keys, counts, mins, maxs)
        if keys:
            from rdf2smw_spark.session import maybe_broadcast, scoped_persist

            # touched_keys is bounded by the delta's group count — tiny
            # for small deltas, but a BULK delete touching
            # millions of group extrema would broadcast an unbounded
            # frame; use the repo-standard counted maybe_broadcast so
            # oversized key sets fall back to a shuffle semi-join
            # (VERDICT r5 #3). Persist first: the probe count would
            # otherwise re-run the old_view ⋈ delta join.
            touched_keys = scoped_persist(
                joined.filter(F.coalesce(touched, F.lit(False))).select(*keys)
            )
            rescan = (
                flat.join(
                    maybe_broadcast(touched_keys, 5_000_000), on=keys, how="semi"
                )
                .groupBy(*keys)
                .agg(*_minmax_agg_exprs(counts, mins, maxs))
            )
            cur = kept.unionByName(rescan)
        else:
            # global view: any touch rescans the single row (and a
            # drained base recomputes to the NULL-extremum zero row)
            probe = joined.filter(
                F.coalesce(touched, F.lit(False))
            ).limit(1).count()
            cur = (flat.groupBy().agg(*_minmax_agg_exprs(counts, mins, maxs))
                   if probe else kept)
    cur = cur.select(*old_view.columns)
    if not keys:
        return cur  # global view: the single row stays even at __n = 0
    return cur.filter(F.col(_HIDDEN_N) > 0)


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
# non-NULL rows, COUNT(*) = Σ __c. Scale shape: |S| is bounded by the
# number of DISTINCT (group, value) pairs — the same cardinality any
# exact distinct-count must touch — and the per-delta merge shuffles
# |S| + |S(Δ)| slim rows, never the base.

def _distinct_view_query(query_text: str) -> tuple:
    """Parse + validate a support-relation view: single-source group,
    projections are keys / COUNT(DISTINCT ?v) / SUM(DISTINCT ?v) /
    GROUP_CONCAT([DISTINCT] ?v; ...) / bare COUNT(?v)/COUNT(*) — all
    aggregates over the SAME variable — with at least one aggregate
    that NEEDS the support (a DISTINCT one, or any GROUP_CONCAT: a
    concat of the full bag re-derives from values × multiplicities).
    Returns (query, keys, var, specs) with specs = [(alias, kind,
    sep)] in projection order, kind ∈ {key, cdist, sdist, gc,
    gc_dist, count_v, count_star} (sep is the GROUP_CONCAT separator,
    None elsewhere)."""
    q = _view_query(query_text)
    if not _single_source_group(q.where):
        raise SparqlSyntaxError("distinct views must be single-source")
    if q.order_by or q.limit is not None or q.offset is not None or q.distinct:
        raise SparqlSyntaxError("slicing/dedup is not additive")
    if q.having is not None:
        raise SparqlSyntaxError(
            "HAVING drops groups from the materialization — not "
            "maintainable; recompute instead"
        )
    keys, specs, var, needs_support = [], [], None, False

    def _use(v: str):
        nonlocal var
        if var is None:
            var = v
        elif var != v:
            raise SparqlSyntaxError(
                "all aggregates of a distinct view must share one "
                "variable (one support relation)"
            )

    for it in q.items:
        if isinstance(it.expr, Var):
            keys.append(it.alias)
            specs.append((it.alias, "key", None))
            continue
        if isinstance(it.expr, Call):
            c = it.expr
            if (c.fn in ("COUNT", "SUM") and c.distinct
                    and len(c.args) == 1 and isinstance(c.args[0], Var)):
                _use(c.args[0].name)
                needs_support = True
                specs.append(
                    (it.alias, "cdist" if c.fn == "COUNT" else "sdist", None)
                )
                continue
            if (c.fn == "GROUP_CONCAT" and len(c.args) == 1
                    and isinstance(c.args[0], Var)):
                _use(c.args[0].name)
                needs_support = True
                specs.append((
                    it.alias, "gc_dist" if c.distinct else "gc",
                    c.sep if c.sep is not None else " ",
                ))
                continue
            if c.fn == "COUNT" and not c.distinct:
                if c.args == ("*",) or not c.args:
                    specs.append((it.alias, "count_star", None))
                    continue
                if len(c.args) == 1 and isinstance(c.args[0], Var):
                    _use(c.args[0].name)
                    specs.append((it.alias, "count_v", None))
                    continue
        raise SparqlSyntaxError(
            "distinct views project keys, COUNT/SUM(DISTINCT ?v), "
            "GROUP_CONCAT([DISTINCT] ?v), and bare COUNT(?v)/COUNT(*) "
            "only"
        )
    if not needs_support:
        raise SparqlSyntaxError(
            "no DISTINCT/GROUP_CONCAT aggregate — use count_view"
        )
    return q, keys, var, specs


def is_distinct_delta_decomposable(query_text: str) -> bool:
    """True when maintain_distinct_view can keep this view exact."""
    try:
        _distinct_view_query(query_text)
        return True
    except SparqlSyntaxError:
        return False


def distinct_view(triples: DataFrame, query_text: str) -> DataFrame:
    """Materialize the SUPPORT relation (keys, __v, __c) — callers
    persist this frame and publish ``read_distinct_view``."""
    import dataclasses

    from rdf2smw_spark.sparql import _Compiler

    q, keys, var, _specs = _distinct_view_query(query_text)
    items = [it for it in q.items if isinstance(it.expr, Var)]
    items += [
        SelectItem(Var(var), "__v"),
        SelectItem(Call("COUNT", ("*",)), "__c"),
    ]
    q2 = dataclasses.replace(
        q, items=items, group_by=[*keys, var], having=None,
    )
    return _Compiler(triples).compile_query(q2)


def read_distinct_view(support: DataFrame, query_text: str) -> DataFrame:
    """Derive the published view from the support relation."""
    _q, keys, _var, specs = _distinct_view_query(query_text)
    nn = F.col("__v").isNotNull()
    cols = []
    for alias, kind, sep in specs:
        if kind == "key":
            cols.append(F.first(alias).alias(alias))  # placeholder, replaced
        elif kind == "cdist":
            cols.append(F.count(F.when(nn, F.col("__v"))).alias(alias))
        elif kind == "sdist":
            # the engine's SUM casts to double (sparql.py §17.4 SUM)
            cols.append(
                F.sum(F.when(nn, F.col("__v").cast("double"))).alias(alias)
            )
        elif kind == "gc_dist":
            # engine pins GROUP_CONCAT lexicographic; support rows ARE
            # the distinct values
            cols.append(F.array_join(
                F.sort_array(F.collect_list(F.when(nn, F.col("__v")))), sep
            ).alias(alias))
        elif kind == "gc":
            # full-bag concat: each value repeated its multiplicity,
            # sorted — repeating AFTER the sort keeps equal values
            # adjacent, identical to sorting the flat bag
            entries = F.array_sort(F.collect_list(
                F.when(nn, F.struct(F.col("__v"), F.col("__c")))
            ))
            flat = F.flatten(F.transform(
                entries,
                lambda s: F.transform(
                    F.sequence(F.lit(1), s["__c"]), lambda _i: s["__v"]
                ),
            ))
            cols.append(F.array_join(flat, sep).alias(alias))
        elif kind == "count_v":
            cols.append(F.coalesce(
                F.sum(F.when(nn, F.col("__c")).otherwise(F.lit(0))), F.lit(0)
            ).cast("long").alias(alias))
        else:  # count_star
            cols.append(
                F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias(alias)
            )
    aggs = [c for (_a, k, _s), c in zip(specs, cols) if k != "key"]
    gdf = support.groupBy(*keys) if keys else support.groupBy()
    out = gdf.agg(*aggs)
    return out.select(*[a for a, _k, _s in specs])


def maintain_distinct_view(
    support: DataFrame,
    query_text: str,
    delta_plus: DataFrame | None = None,
    delta_minus: DataFrame | None = None,
) -> DataFrame:
    """Merge the SUPPORT relation with added/removed triples — the
    support is a single-source count view over (keys, ?v), so the
    merge is exactly maintain_count_view's shape: union + groupBy,
    rows whose __c falls to 0 vanish (and with them, vanished groups).
    ``read_distinct_view`` of the result equals recomputing over the
    updated base."""
    keys = _distinct_view_query(query_text)[1]
    parts = [support]
    if delta_plus is not None:
        parts.append(distinct_view(delta_plus, query_text))
    if delta_minus is not None:
        neg = distinct_view(delta_minus, query_text)
        parts.append(neg.select(*keys, "__v", (-F.col("__c")).alias("__c")))
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    out = merged.groupBy(*keys, "__v").agg(
        F.sum("__c").cast("long").alias("__c")
    )
    return out.filter(F.col("__c") > 0).select(*support.columns)


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
    import dataclasses

    from rdf2smw_spark.sparql import _AGG_FNS, BinOp, Not

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


def _epilogue_family(core_q: SelectQuery) -> str:
    """Route the epilogue-stripped core to its maintainer family (the
    first family whose shape check accepts it — the checks are mutually
    exclusive on aggregates, so order only breaks COUNT-only ties in
    favour of the cheapest maintainer)."""
    for name, check in (
        ("count", is_delta_decomposable),
        ("sum", is_sum_delta_decomposable),
        ("minmax", is_minmax_delta_decomposable),
        ("distinct", is_distinct_delta_decomposable),
        ("join", is_join_delta_decomposable),
    ):
        if check(core_q):
            return name
    raise SparqlSyntaxError(
        "core view (epilogue stripped) fits no maintainer family — "
        "recompute instead"
    )


def is_epilogue_decomposable(query_text: str) -> bool:
    """True when the query HAS an epilogue (HAVING/ORDER BY/slice) and
    its stripped core is maintainable by one of the five families."""
    try:
        core = _epilogue_rewrite(query_text)[0]
        _epilogue_family(core)
        return True
    except SparqlSyntaxError:
        return False


def epilogue_view(triples: DataFrame, query_text: str):
    """Materialize the maintained support of an epilogue view: the
    family materialization of the stripped core. A DataFrame for
    count/sum/minmax/distinct cores; a tuple of partial-count frames
    for join cores. Callers persist this and publish
    ``read_epilogue_view``."""
    core = _epilogue_rewrite(query_text)[0]
    fam = _epilogue_family(core)
    if fam == "count":
        return count_view(triples, core)
    if fam == "sum":
        return sum_view(triples, core)
    if fam == "minmax":
        return minmax_view(triples, core)
    if fam == "distinct":
        return distinct_view(triples, core)
    return join_count_partials(triples, core)


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
    core = _epilogue_rewrite(query_text)[0]
    fam = _epilogue_family(core)
    if fam == "count":
        return maintain_count_view(support, core, delta_plus, delta_minus)
    if fam == "sum":
        return maintain_sum_view(support, core, delta_plus, delta_minus)
    if fam == "minmax":
        if base is None:
            raise SparqlSyntaxError(
                "min/max epilogue views need the updated base for "
                "extremum-touch rescans"
            )
        return maintain_minmax_view(support, core, base, delta_plus,
                                    delta_minus)
    if fam == "distinct":
        return maintain_distinct_view(support, core, delta_plus, delta_minus)
    return maintain_join_count_partials(support, core, delta_plus,
                                        delta_minus)


def apply_epilogue(df: DataFrame, query_text: str) -> DataFrame:
    """Apply the view's epilogue — HAVING filter, ORDER BY,
    OFFSET/LIMIT — over an already-derived family read of its
    maintained support, then project the published columns (hidden
    epilogue carriers dropped). Cost: one filter + (when ordered) one
    TakeOrderedAndProject over the slim |V|-row frame."""
    from rdf2smw_spark.sparql import _Compiler

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
    core = _epilogue_rewrite(query_text)[0]
    fam = _epilogue_family(core)
    if fam == "count":
        df = support
    elif fam == "sum":
        df = read_sum_view(support)
    elif fam == "minmax":
        df = read_minmax_view(support)
    elif fam == "distinct":
        df = read_distinct_view(support, core)
    else:
        df = join_count_view_from_partials(support, core)
    return apply_epilogue(df, query_text)
