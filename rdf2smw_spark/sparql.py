"""SPARQL 1.1 SELECT front end: text query -> DataFrame plan.

The reference imports triples into Semantic MediaWiki and queries them
with SMW's #ask language (reference README.md's workflow; the wiki pages
this engine renders exist to be queried). A KG engine that OWNS the
triple table should answer the standard query language directly, so this
module compiles a documented SPARQL subset onto the triples DataFrame —
no intermediate materialization, one Catalyst plan per query, reusing
the algebra in operators/bgp.py (each triple pattern is a pushable
pred/subj/obj scan filter; shared-variable joins co-partition on the
subject-bucketed layout).

Supported subset (everything parsed is fully implemented; anything else
raises SparqlSyntaxError rather than mis-executing):

- all four query forms: ``SELECT`` / ``CONSTRUCT`` (emits
  TRIPLE_SCHEMA, feeds back into the engine) / ``ASK`` / ``DESCRIBE``
  (subject-based description), plus SPARQL 1.1 Update:
  ``INSERT DATA`` / ``DELETE DATA`` / ``DELETE WHERE`` /
  ``DELETE {} INSERT {} WHERE {}`` — deltas derive like CONSTRUCT
  graphs and apply with set semantics on full term identity
  (sparql_update returns updated/inserted/deleted frames for the
  incremental maintainers); ``GRAPH <g> { ... }`` template blocks and
  ``WITH <g>`` target one named graph (the src_url column) with
  quad-store per-graph dedup/delete scoping, and WITH also scopes the
  WHERE to GRAPH g (§3.1.3); ``GRAPH ?var { ... }`` template blocks
  instantiate the target per solution (QuadPattern — src_url carries
  the binding; non-IRI bindings skip the quad), and ``DELETE WHERE``
  accepts GRAPH blocks as quad patterns; graph management (§3.2)
  ``CLEAR|DROP [SILENT] (GRAPH <g> | ALL)``,
  ``CREATE [SILENT] GRAPH <g>`` (a no-op: graphs exist implicitly),
  ``ADD|COPY|MOVE [GRAPH] <src> TO [GRAPH] <dst>`` as src_url
  filter/union plans, and ``LOAD [SILENT] <doc> [INTO GRAPH <g>]``
  (§3.1.4 — extension-dispatched document read, per-graph dedup;
  SILENT turns an unreadable document into a no-op) (DEFAULT/NAMED
  targets rejected — the queryable graph is the union of named
  graphs, there is no separate default);
- ``PREFIX`` declarations, ``a`` for rdf:type, ``;``/``,`` predicate and
  object lists; blank nodes in patterns — ``_:label`` (an existential:
  a non-projectable variable, leniently unified query-wide), ``[]``,
  and property lists ``[ p o ; ... ]`` (fresh existentials with nested
  patterns); RDF collections ``( t1 t2 ... )`` expand to their
  rdf:first/rdf:rest existential chains (``()`` is rdf:nil); blank
  labels in CONSTRUCT templates mint §16.2 fresh blanks, one per
  distinct solution;
- ``SELECT [DISTINCT] ?v ... | *`` with ``(expr AS ?alias)`` projections
  and aggregates ``COUNT(*) | COUNT([DISTINCT] ?v) | SUM/AVG/MIN/MAX |
  GROUP_CONCAT(...; SEPARATOR="..") | SAMPLE`` (GROUP_CONCAT order and
  SAMPLE pinned deterministic: lexicographic / min);
- group graph patterns with ``OPTIONAL {}``, ``{} UNION {}``,
  ``MINUS {}``, ``FILTER``, ``BIND (expr AS ?v)``,
  ``VALUES ?v { ... }`` / ``VALUES (?a ?b) { (..) (..) }``,
  ``GRAPH <g>|?g {}`` (over the src_url provenance column), and
  ``{ SELECT ... }`` subqueries (§12);
- property paths (§9): sequence ``p1/p2``, alternation ``p1|p2``,
  inverse ``^p``, grouping ``(...)``, negated sets ``!(...)`` with
  forward AND inverse members (``!(p|^q)``, §18.2.2.3 alt/inv
  translation), and
  ``p+ | p* | p?`` — closures are distributed frontier fixpoints over
  term-pair SETS (§9.3), with both endpoints carrying IRI/datatype
  metadata so same-lexical IRI-vs-literal terms never conflate
  mid-path;
- ``FILTER [NOT] EXISTS { ... }`` (as the whole filter constraint);
- builtins ``STR STRLEN STRSTARTS STRENDS CONTAINS UCASE LCASE REGEX
  BOUND COALESCE CONCAT SUBSTR REPLACE STRBEFORE STRAFTER IF ABS ROUND
  CEIL FLOOR DATATYPE ISIRI ISLITERAL ISBLANK ISNUMERIC SAMETERM
  MD5 SHA1 SHA256 SHA384 SHA512 ENCODE_FOR_URI IRI/URI (identity: no
  base IRI in the model) YEAR MONTH DAY HOURS MINUTES SECONDS (over
  ISO lexical forms; non-dates are type errors -> unbound)`` and casts
  ``xsd:integer/xsd:double/xsd:string``; arithmetic ``+ - * /``,
  comparisons, ``&& || !``, ``[NOT] IN (...)`` (sugar for an
  equality disjunction, §17.4.1.9; LANG/LANGMATCHES are out of scope
  because the triple model collapses tags to rdf:langString);
- solution modifiers ``GROUP BY``, ``HAVING``, ``ORDER BY [ASC|DESC]``
  (keys may reference non-projected variables), ``LIMIT``, ``OFFSET``.

Semantics pinned to the engine's triple contract (schemas.TRIPLE_SCHEMA,
same lexical-form-only model as the reference's rdf.Triple.String()
usage, SURVEY §1.1):

- variables bind the LEXICAL FORM (string); an IRI object term in a
  pattern additionally requires ``obj_is_iri``, a literal term requires
  ``NOT obj_is_iri`` — so ``<http://x>`` and ``"http://x"`` never
  conflate even though both columns are strings;
- value comparisons are string comparisons unless explicitly cast
  (``FILTER (xsd:double(?bal) > 1000)``) — SPARQL's numeric-literal
  coercion needs per-value datatype dispatch that a columnar plan
  cannot do row-by-row without a UDF, so the cast is the user's
  explicit, vectorized opt-in;
- FILTERs apply at the END of their group (SPARQL 1.1 §8 algebra:
  filters scope over the whole group regardless of position);
- a NULL (unbound) binding never joins: SPARQL's compatibility rule
  lets an UNBOUND variable join anything, which a relational equi-join
  cannot express — joining a later pattern on a variable left unbound
  by OPTIONAL/UNION drops those solutions here (documented subset
  limitation; bind the variable in every branch, or restructure so the
  join happens before the OPTIONAL).

Scale shape (10^12-triple Iceberg table, north rule):
- every triple pattern compiles to ``pred = <iri>`` (+ optional
  subj/obj equality) filters on the shared scan — Catalyst pushes them
  to parquet row-group pruning, and a pred-sorted layout turns each
  pattern into a bounded range read (classic vertical partitioning);
- multi-pattern joins key on shared variables; subject-keyed stars
  reuse ONE exchange across the whole chain (AQE picks broadcast for
  class-level patterns);
- VALUES tables are driver literals -> always broadcast;
- group joins order by SELECTIVITY then CONNECTIVITY (most-bound
  pattern first, then most-bound neighbor sharing a variable) — inner
  joins commute, and Catalyst without CBO stats keeps the written
  order, so the compiler shrinks intermediates itself;
- ORDER BY + LIMIT lowers to TakeOrderedAndProject (per-partition
  heaps), never a global sort;
- MINUS / NOT EXISTS are left-anti joins on the shared key, EXISTS is
  left-semi — co-partitioned with the positive side.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.session import fixpoint

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

# the numeric XSD datatypes the ingest paths can emit (N-Triples keeps
# the written datatype; Turtle numeric shorthand produces
# integer/decimal/double — sources/turtle.py:62-64) plus the common
# sub/super types a foreign .nt file may carry, for ISNUMERIC (§17.4.2.4)
_NUMERIC_DTS = frozenset(
    XSD + t for t in (
        "integer", "decimal", "double", "float", "int", "long", "short",
        "byte", "nonNegativeInteger", "nonPositiveInteger",
        "negativeInteger", "positiveInteger", "unsignedLong",
        "unsignedInt", "unsignedShort", "unsignedByte",
    )
)


def _lit_datatype(lit: "Lit") -> str:
    """Canonical stored datatype of a ground literal: the engine's
    ingest paths (N-Triples/Turtle/JSON-LD, sources/) map plain
    literals to xsd:string and @lang literals to rdf:langString, so
    ground UPDATE terms must use the same identity or DELETE misses
    and INSERT duplicates."""
    if lit.datatype is not None:
        return lit.datatype
    if lit.lang is not None:
        return RDF_LANGSTRING
    return XSD + "string"


class SparqlSyntaxError(ValueError):
    """Raised for any query text outside the documented subset."""


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Iri:
    value: str


@dataclass(frozen=True)
class Lit:
    value: str
    datatype: str | None = None
    lang: str | None = None


@dataclass(frozen=True)
class TriplePattern:
    s: object
    p: object          # Var | Iri | a path node (PathSeq/PathAlt/PathInv/PathMod)
    o: object


# property-path nodes (SPARQL 1.1 §9)
@dataclass(frozen=True)
class PathSeq:
    steps: tuple       # p1/p2/...


@dataclass(frozen=True)
class PathAlt:
    branches: tuple    # p1|p2|...


@dataclass(frozen=True)
class PathInv:
    elt: object        # ^p


@dataclass(frozen=True)
class PathMod:
    elt: object
    mod: str           # '+', '*', or '?'


@dataclass(frozen=True)
class PathNeg:
    preds: tuple           # forward members of !(...)
    inv_preds: tuple = ()  # ^iri members of !(...) (§9.1)


@dataclass(frozen=True)
class Optional_:
    group: "Group"


@dataclass(frozen=True)
class Union_:
    branches: tuple


@dataclass(frozen=True)
class Minus_:
    group: "Group"


@dataclass(frozen=True)
class Filter_:
    expr: object


@dataclass(frozen=True)
class Bind_:
    expr: object
    var: str


@dataclass(frozen=True)
class Values_:
    names: tuple
    rows: tuple


@dataclass(frozen=True)
class GraphPattern:
    """GRAPH <g> {...} / GRAPH ?g {...} (§13.3): the triple table's
    src_url column IS the graph term (the N-Quads reader lands the
    graph there; file sources land their provenance URL)."""
    term: object   # Iri | Var
    group: "Group"


@dataclass
class Group:
    elements: list = field(default_factory=list)


# expression nodes
@dataclass(frozen=True)
class BinOp:
    op: str
    left: object
    right: object


@dataclass(frozen=True)
class Not:
    arg: object


@dataclass(frozen=True)
class Call:
    fn: str
    args: tuple
    distinct: bool = False
    sep: str | None = None   # GROUP_CONCAT(...; SEPARATOR="...")


@dataclass(frozen=True)
class SubSelect:
    """A nested { SELECT ... } inside a group graph pattern (§12)."""
    query: "SelectQuery"


@dataclass(frozen=True)
class ExistsExpr:
    group: Group
    negated: bool


@dataclass(frozen=True)
class SelectItem:
    """A projection: a bare variable or (expr AS ?alias)."""
    expr: object
    alias: str


@dataclass
class SelectQuery:
    distinct: bool
    items: list          # [SelectItem] or [] for SELECT *
    star: bool
    where: Group
    group_by: list       # [str] variable names
    having: object | None
    order_by: list       # [(expr, 'asc'|'desc')]
    limit: int | None
    offset: int | None
    dataset: tuple | None = None  # §13.2 (FROM iris, FROM NAMED iris)


@dataclass
class ConstructQuery:
    template: list       # [TriplePattern]
    where: Group
    limit: int | None
    dataset: tuple | None = None


@dataclass
class AskQuery:
    where: Group
    dataset: tuple | None = None


@dataclass
class UpdateQuery:
    """SPARQL 1.1 Update (§3): INSERT/DELETE DATA (ground triples,
    where=None) or DELETE/INSERT ... WHERE (templates instantiated per
    solution). Both templates may be present (a MODIFY). Template
    entries are (graph, TriplePattern) pairs — graph is the IRI of a
    ``GRAPH <g> { ... }`` template block (or the ``WITH <g>`` scope),
    None for the provenance-blind default behavior."""
    delete_template: list   # [(graph | None, TriplePattern)]
    insert_template: list
    where: Group | None
    with_graph: str | None = None
    using: tuple | None = None  # §3.1.3 (USING iris, USING NAMED iris)


@dataclass(frozen=True)
class GraphUpdate:
    """SPARQL 1.1 Update §3.2 graph management over the src_url
    provenance column: CLEAR/DROP remove a graph's rows (identical
    here — graphs exist implicitly), ADD inserts src's triples into
    dst (per-graph dedup), COPY replaces dst with src, MOVE is COPY
    plus dropping src, CREATE is a no-op (implicit graphs need no
    creation), LOAD reads an RDF document (§3.1.4 — file: IRIs or
    plain paths, extension-dispatched) into dst or a graph named by
    the document IRI. ``CLEAR ALL`` empties the store."""
    op: str                 # CLEAR | DROP | ADD | COPY | MOVE | CREATE | LOAD
    src: str | None         # graph IRI / LOAD document IRI ('ALL' ops: None)
    dst: str | None = None  # ADD/COPY/MOVE/LOAD-INTO target
    silent: bool = False    # LOAD SILENT: unreadable document -> no-op


@dataclass
class DescribeQuery:
    terms: list          # [Iri | Var]
    where: Group | None  # None for DESCRIBE <iri> with no pattern
    dataset: tuple | None = None


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
    | (?P<VAR>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<STRING>"(?:[^"\\]|\\.)*")
    | (?P<NUMBER>[0-9]+(?:\.[0-9]+)?)
    | (?P<BLANK>_:[A-Za-z0-9_][A-Za-z0-9_\-]*(?:\.[A-Za-z0-9_\-]+)*)
    | (?P<PNAME>[A-Za-z_][A-Za-z0-9_\-]*:(?:[A-Za-z0-9_\-]+(?:\.[A-Za-z0-9_\-]+)*)?)
    | (?P<LANGTAG>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)
    | (?P<WORD>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<OP>\^\^|\|\||&&|!=|<=|>=|[{}()\[\].;,*+\-/=<>!|^?])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "PREFIX", "SELECT", "CONSTRUCT", "ASK", "DESCRIBE", "DISTINCT",
    "WHERE", "OPTIONAL", "UNION", "MINUS", "FILTER", "BIND", "VALUES",
    "GROUP", "BY", "HAVING", "ORDER", "ASC", "DESC", "LIMIT", "OFFSET",
    "AS", "NOT", "EXISTS", "UNDEF", "A", "SEPARATOR", "GRAPH",
    "INSERT", "DELETE", "DATA", "IN", "WITH",
    "CLEAR", "DROP", "COPY", "MOVE", "ADD", "TO", "SILENT", "ALL",
    "CREATE", "LOAD", "INTO", "FROM", "NAMED", "USING",
}

_AGG_FNS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"}
_BUILTIN_FNS = {
    "STR", "STRLEN", "STRSTARTS", "STRENDS", "CONTAINS", "UCASE", "LCASE",
    "REGEX", "BOUND", "COALESCE", "CONCAT", "SUBSTR", "REPLACE",
    "STRBEFORE", "STRAFTER", "IF", "ABS", "ROUND", "CEIL", "FLOOR",
    "DATATYPE", "ISIRI", "ISLITERAL", "ISBLANK", "ISNUMERIC",
    "SAMETERM", "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
    "ENCODE_FOR_URI", "IRI", "URI",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
}

# builtins that read a variable's term METADATA (kind/datatype) — their
# Var arguments are pre-registered in the compiler's capture set so the
# binding pattern emits companion columns (same machinery CONSTRUCT uses)
_META_FNS = {"DATATYPE", "ISIRI", "ISLITERAL", "ISBLANK", "ISNUMERIC"}


def _meta_vars(node) -> set:
    """Variable names appearing under term-metadata builtin calls."""
    out: set = set()
    if isinstance(node, Call):
        if node.fn in _META_FNS and node.args and isinstance(node.args[0], Var):
            out.add(node.args[0].name)
        if node.fn == "SAMETERM":  # full term identity: both sides' metadata
            out |= {a.name for a in node.args if isinstance(a, Var)}
        for a in node.args:
            if a != "*":
                out |= _meta_vars(a)
    elif isinstance(node, BinOp):
        out |= _meta_vars(node.left) | _meta_vars(node.right)
    elif isinstance(node, Not):
        out |= _meta_vars(node.arg)
    return out


def _group_meta_vars(g: Group) -> set:
    out: set = set()
    for el in g.elements:
        if isinstance(el, Filter_) and not isinstance(el.expr, ExistsExpr):
            out |= _meta_vars(el.expr)
        elif isinstance(el, Bind_):
            out |= _meta_vars(el.expr)
        elif isinstance(el, (Optional_, Minus_, GraphPattern)):
            out |= _group_meta_vars(el.group)
        elif isinstance(el, Union_):
            for b in el.branches:
                out |= _group_meta_vars(b)
        elif isinstance(el, Group):
            out |= _group_meta_vars(el)
    return out


def _query_meta_vars(q: "SelectQuery") -> set:
    out = _group_meta_vars(q.where)
    for it in q.items:
        out |= _meta_vars(it.expr)
    if q.having is not None:
        out |= _meta_vars(q.having)
    for e, _dir in q.order_by:
        out |= _meta_vars(e)
    return out


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlSyntaxError(f"unrecognized character at {pos}: {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        val = m.group()
        if kind == "WORD" and val.upper() in _KEYWORDS:
            out.append(("KW", val.upper()))
        elif kind == "WORD" and val.upper() in _AGG_FNS | _BUILTIN_FNS:
            out.append(("FN", val.upper()))
        elif kind == "WORD":
            raise SparqlSyntaxError(f"unknown bare word {val!r} (not a keyword/builtin)")
        else:
            out.append((kind, val))
    out.append(("EOF", ""))
    return out


# --------------------------------------------------------------------------
# Parser (recursive descent)
# --------------------------------------------------------------------------

class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._anon_n = 0  # fresh-variable counter for '[]' blank nodes

    # -- token helpers -----------------------------------------------------
    def peek(self, k: int = 0) -> tuple[str, str]:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, val: str | None = None) -> bool:
        k, v = self.peek()
        if k == kind and (val is None or v == val):
            self.i += 1
            return True
        return False

    def expect(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise SparqlSyntaxError(f"expected {val or kind}, got {v!r}")
        return v

    # -- terms -------------------------------------------------------------
    def _iri(self, raw: str) -> Iri:
        return Iri(raw[1:-1])

    def _pname(self, raw: str) -> Iri:
        ns, _, local = raw.partition(":")
        if ns not in self.prefixes:
            raise SparqlSyntaxError(f"undeclared prefix {ns!r}")
        return Iri(self.prefixes[ns] + local)

    def _string(self, raw: str) -> str:
        return raw[1:-1].replace('\\"', '"').replace("\\\\", "\\")

    def parse_term(self, allow_literal: bool = True):
        k, v = self.next()
        if k == "VAR":
            return Var(v[1:])
        if k == "BLANK":
            # a blank node label in a query pattern is an existential:
            # it behaves as a variable that cannot be projected (§19.6).
            # The label is scoped query-wide (lenient: SPARQL forbids
            # reusing a label across separate basic graph patterns; we
            # unify instead of erroring, which only narrows solutions
            # the strict reading would reject as a syntax error).
            return Var("__bn_" + v[2:])
        if k == "IRIREF":
            return self._iri(v)
        if k == "PNAME":
            return self._pname(v)
        if k == "KW" and v == "A":
            return Iri(RDF_TYPE)
        if allow_literal and k == "STRING":
            s = self._string(v)
            nk, nv = self.peek()
            if nk == "OP" and nv == "^^":
                self.next()
                dk, dv = self.next()
                dt = self._iri(dv) if dk == "IRIREF" else self._pname(dv)
                return Lit(s, datatype=dt.value)
            if nk == "LANGTAG":
                self.next()
                return Lit(s, lang=nv[1:])
            return Lit(s)
        if allow_literal and k == "NUMBER":
            return Lit(v, datatype=XSD + ("double" if "." in v else "integer"))
        raise SparqlSyntaxError(f"expected term, got {v!r}")

    # -- query -------------------------------------------------------------
    def parse_query(self) -> SelectQuery | ConstructQuery:
        while self.accept("KW", "PREFIX"):
            pn = self.expect("PNAME")
            ns = pn[: pn.index(":")]
            iri = self.expect("IRIREF")
            self.prefixes[ns] = iri[1:-1]
        if self.accept("KW", "CONSTRUCT"):
            return self._parse_construct()
        if self.peek()[1] in ("CLEAR", "DROP", "COPY", "MOVE", "ADD",
                              "CREATE", "LOAD"):
            return self._parse_graph_update()
        if self.peek()[1] in ("INSERT", "DELETE", "WITH"):
            return self._parse_update()
        if self.accept("KW", "ASK"):
            ds = self._parse_dataset()
            g = self.parse_group()
            self.expect("EOF")
            return AskQuery(g, ds)
        if self.accept("KW", "DESCRIBE"):
            terms = []
            while self.peek()[0] in ("VAR", "IRIREF", "PNAME"):
                terms.append(self.parse_term(allow_literal=False))
            if not terms:
                raise SparqlSyntaxError("DESCRIBE needs at least one IRI or variable")
            ds = self._parse_dataset()
            where = None
            if self.accept("KW", "WHERE") or self.peek() == ("OP", "{"):
                where = self.parse_group()
            self.expect("EOF")
            if where is None and any(isinstance(t, Var) for t in terms):
                raise SparqlSyntaxError("DESCRIBE ?var requires a WHERE pattern")
            return DescribeQuery(terms, where, ds)
        q = self._parse_select_core(dataset_ok=True)
        self.expect("EOF")
        return q

    def _parse_dataset(self, kw: str = "FROM") -> tuple | None:
        """DatasetClause* (§13.2): ``FROM <g>`` graphs merge into the
        default graph, ``FROM NAMED <g>`` lists the graphs GRAPH
        patterns range over (``USING`` spells the same for updates,
        §3.1.3). Returns (default_iris, named_iris), or None when no
        clause appears — the engine's pinned dataset (every named
        graph is both queryable and GRAPH-addressable)."""
        default: list[str] = []
        named: list[str] = []
        seen = False
        while self.accept("KW", kw):
            seen = True
            tgt = named if self.accept("KW", "NAMED") else default
            term = self.parse_term(allow_literal=False)
            if not isinstance(term, Iri):
                raise SparqlSyntaxError(f"{kw} takes a graph IRI")
            tgt.append(term.value)
        return (default, named) if seen else None

    def _parse_select_core(self, dataset_ok: bool = False) -> SelectQuery:
        """SELECT clause + WHERE group + solution modifiers — shared by
        the top-level query and { SELECT ... } subqueries (§12, which
        the grammar gives no dataset clause)."""
        self.expect("KW", "SELECT")
        distinct = self.accept("KW", "DISTINCT")
        items, star = [], False
        if self.accept("OP", "*"):
            star = True
        else:
            while True:
                k, v = self.peek()
                if k == "VAR":
                    self.next()
                    items.append(SelectItem(Var(v[1:]), v[1:]))
                elif k == "OP" and v == "(":
                    self.next()
                    expr = self.parse_expr()
                    self.expect("KW", "AS")
                    alias = self.expect("VAR")[1:]
                    self.expect("OP", ")")
                    items.append(SelectItem(expr, alias))
                else:
                    break
            if not items:
                raise SparqlSyntaxError("SELECT needs variables, (expr AS ?v), or *")
        dataset = self._parse_dataset() if dataset_ok else None
        self.accept("KW", "WHERE")
        where = self.parse_group()

        group_by: list[str] = []
        having = None
        order_by: list[tuple] = []
        limit = offset = None
        if self.accept("KW", "GROUP"):
            self.expect("KW", "BY")
            while self.peek()[0] == "VAR":
                group_by.append(self.next()[1][1:])
            if not group_by:
                raise SparqlSyntaxError("GROUP BY needs at least one variable")
        if self.accept("KW", "HAVING"):
            self.expect("OP", "(")
            having = self.parse_expr()
            self.expect("OP", ")")
        if self.accept("KW", "ORDER"):
            self.expect("KW", "BY")
            while True:
                k, v = self.peek()
                if k == "KW" and v in ("ASC", "DESC"):
                    self.next()
                    self.expect("OP", "(")
                    e = self.parse_expr()
                    self.expect("OP", ")")
                    order_by.append((e, v.lower()))
                elif k == "VAR":
                    self.next()
                    order_by.append((Var(v[1:]), "asc"))
                elif k == "OP" and v == "(":
                    self.next()
                    e = self.parse_expr()
                    self.expect("OP", ")")
                    order_by.append((e, "asc"))
                else:
                    break
            if not order_by:
                raise SparqlSyntaxError("ORDER BY needs at least one key")
        # §15 LimitOffsetClauses: one LIMIT and one OFFSET, either order
        while True:
            if limit is None and self.accept("KW", "LIMIT"):
                limit = int(self.expect("NUMBER"))
            elif offset is None and self.accept("KW", "OFFSET"):
                offset = int(self.expect("NUMBER"))
            else:
                break
        return SelectQuery(distinct, items, star, where, group_by, having,
                           order_by, limit, offset, dataset)

    def _parse_template_block(self, with_g: str | None = None) -> list:
        """An update template: triples and/or ``GRAPH <g>|?var
        { triples }`` blocks. Returns [(graph | None, TriplePattern)]
        where graph is a str (constant IRI target, or the ``WITH``
        scope) or a Var (per-solution target, bound in WHERE — §3.1.3
        QuadPattern); plain triples carry the ``WITH`` scope (None
        without one)."""
        self.expect("OP", "{")
        out: list[tuple[str | Var | None, TriplePattern]] = []
        while not self.accept("OP", "}"):
            if self.accept("KW", "GRAPH"):
                term = self.parse_term(allow_literal=False)
                if not isinstance(term, (Iri, Var)):
                    raise SparqlSyntaxError(
                        "update templates take GRAPH <iri> or GRAPH ?var "
                        f"blocks, not {term!r}"
                    )
                key = term.value if isinstance(term, Iri) else term
                self.expect("OP", "{")
                while not self.accept("OP", "}"):
                    out.extend(
                        (key, tp) for tp in self.parse_triples_block()
                    )
                    self.accept("OP", ".")
            else:
                out.extend((with_g, tp) for tp in self.parse_triples_block())
            self.accept("OP", ".")
        return out

    def _parse_graph_update(self) -> GraphUpdate:
        """CLEAR|DROP [SILENT] (GRAPH <g> | ALL) — or —
        ADD|COPY|MOVE [SILENT] [GRAPH] <src> TO [GRAPH] <dst> — or —
        LOAD [SILENT] <doc> [INTO GRAPH <g>] (§3.1.4).
        DEFAULT/NAMED targets are rejected: the engine's queryable
        graph is the union of named graphs (src_url); there is no
        separate default graph to address."""
        op = self.next()[1]
        silent = bool(self.accept("KW", "SILENT"))

        def graph_iri() -> str:
            self.accept("KW", "GRAPH")
            term = self.parse_term(allow_literal=False)
            if not isinstance(term, Iri):
                raise SparqlSyntaxError(f"{op} takes a graph IRI")
            return term.value

        if op == "LOAD":
            doc = graph_iri()
            dst = None
            if self.accept("KW", "INTO"):
                dst = graph_iri()
            self.expect("EOF")
            return GraphUpdate(op, doc, dst, silent)
        if op in ("CLEAR", "DROP", "CREATE"):
            if op != "CREATE" and self.accept("KW", "ALL"):
                self.expect("EOF")
                return GraphUpdate(op, None)
            g = graph_iri()
            self.expect("EOF")
            return GraphUpdate(op, g)
        src = graph_iri()
        self.expect("KW", "TO")
        dst = graph_iri()
        self.expect("EOF")
        return GraphUpdate(op, src, dst)

    def _parse_update(self) -> UpdateQuery:
        """[WITH <g>] INSERT DATA {..} | DELETE DATA {..} |
        DELETE WHERE {..} | DELETE {..} [INSERT {..}] WHERE {..} |
        INSERT {..} WHERE {..} — ``WITH <g>`` scopes the WHERE to
        GRAPH g and targets plain template triples at g (§3.1.3);
        DATA forms take no WITH (spec: WITH applies to modify forms)."""
        with_g: str | None = None
        if self.accept("KW", "WITH"):
            term = self.parse_term(allow_literal=False)
            if not isinstance(term, Iri):
                raise SparqlSyntaxError("WITH takes a graph IRI")
            with_g = term.value
        delete_t: list = []
        insert_t: list = []
        where: Group | None = None
        using: tuple | None = None
        if self.accept("KW", "DELETE"):
            if self.accept("KW", "DATA"):
                if with_g is not None:
                    raise SparqlSyntaxError("WITH applies to modify forms only")
                delete_t = self._parse_template_block()
                self._require_ground(delete_t, "DELETE DATA")
            elif self.accept("KW", "WHERE"):
                where = self.parse_group()
                delete_t = [
                    (with_g, el) for el in where.elements
                    if isinstance(el, TriplePattern)
                ]
                # §3.1.3 QuadPattern: GRAPH <g>|?g blocks in DELETE
                # WHERE delete from the graph they matched in
                for el in where.elements:
                    if isinstance(el, GraphPattern):
                        tgt = (el.term.value if isinstance(el.term, Iri)
                               else el.term)
                        delete_t.extend(
                            (tgt, tp) for tp in el.group.elements
                            if isinstance(tp, TriplePattern)
                        )
                if not delete_t:
                    raise SparqlSyntaxError("DELETE WHERE needs triple patterns")
            else:
                delete_t = self._parse_template_block(with_g)
                if self.accept("KW", "INSERT"):
                    insert_t = self._parse_template_block(with_g)
                using = self._parse_dataset("USING")
                self.expect("KW", "WHERE")
                where = self.parse_group()
        else:
            self.expect("KW", "INSERT")
            if self.accept("KW", "DATA"):
                if with_g is not None:
                    raise SparqlSyntaxError("WITH applies to modify forms only")
                insert_t = self._parse_template_block()
                self._require_ground(insert_t, "INSERT DATA")
            else:
                insert_t = self._parse_template_block(with_g)
                using = self._parse_dataset("USING")
                self.expect("KW", "WHERE")
                where = self.parse_group()
        self.expect("EOF")
        if with_g is not None and using is not None:
            # §3.1.3: "an operation MUST NOT use both USING and WITH"
            raise SparqlSyntaxError("WITH and USING cannot be combined")
        if with_g is not None and where is not None:
            # §3.1.3: WITH also scopes the WHERE evaluation to graph g
            where = Group([GraphPattern(Iri(with_g), where)])
        return UpdateQuery(delete_t, insert_t, where, with_g, using)

    @staticmethod
    def _require_ground(template: list, form: str) -> None:
        for _g, t in template:
            if isinstance(_g, Var):
                raise SparqlSyntaxError(
                    f"{form} takes ground graph targets only"
                )
            for term in (t.s, t.p, t.o):
                if isinstance(term, Var):
                    raise SparqlSyntaxError(f"{form} takes ground triples only")
            if not isinstance(t.p, Iri):
                raise SparqlSyntaxError(f"{form} takes plain predicates only")

    def _parse_construct(self) -> ConstructQuery:
        self.expect("OP", "{")
        template: list[TriplePattern] = []
        while not self.accept("OP", "}"):
            template.extend(self.parse_triples_block())
            self.accept("OP", ".")
        if not template:
            raise SparqlSyntaxError("CONSTRUCT template is empty")
        ds = self._parse_dataset()
        self.expect("KW", "WHERE")
        where = self.parse_group()
        limit = None
        if self.accept("KW", "LIMIT"):
            limit = int(self.expect("NUMBER"))
        self.expect("EOF")
        return ConstructQuery(template, where, limit, ds)

    # -- group graph pattern ------------------------------------------------
    def parse_group(self) -> Group:
        self.expect("OP", "{")
        g = Group()
        while not self.accept("OP", "}"):
            k, v = self.peek()
            if k == "KW" and v == "OPTIONAL":
                self.next()
                g.elements.append(Optional_(self.parse_group()))
            elif k == "KW" and v == "MINUS":
                self.next()
                g.elements.append(Minus_(self.parse_group()))
            elif k == "KW" and v == "FILTER":
                self.next()
                g.elements.append(Filter_(self.parse_constraint()))
            elif k == "KW" and v == "BIND":
                self.next()
                self.expect("OP", "(")
                e = self.parse_expr()
                self.expect("KW", "AS")
                var = self.expect("VAR")[1:]
                self.expect("OP", ")")
                g.elements.append(Bind_(e, var))
            elif k == "KW" and v == "VALUES":
                self.next()
                g.elements.append(self.parse_values())
            elif k == "KW" and v == "GRAPH":
                self.next()
                term = self.parse_term(allow_literal=False)
                g.elements.append(GraphPattern(term, self.parse_group()))
            elif k == "OP" and v == "{":
                if self.peek(1) == ("KW", "SELECT"):  # subquery (§12)
                    self.next()
                    g.elements.append(SubSelect(self._parse_select_core()))
                    self.expect("OP", "}")
                else:
                    branches = [self.parse_group()]
                    while self.accept("KW", "UNION"):
                        branches.append(self.parse_group())
                    g.elements.append(
                        Union_(tuple(branches)) if len(branches) > 1 else branches[0]
                    )
            else:
                g.elements.extend(self.parse_triples_block())
            self.accept("OP", ".")
        return g

    def parse_values(self) -> Values_:
        if self.peek()[0] == "VAR":  # VALUES ?v { val ... }
            names = (self.next()[1][1:],)
            self.expect("OP", "{")
            rows = []
            while not self.accept("OP", "}"):
                rows.append((self._values_cell(),))
            return Values_(names, tuple(rows))
        self.expect("OP", "(")
        names = []
        while self.peek()[0] == "VAR":
            names.append(self.next()[1][1:])
        self.expect("OP", ")")
        self.expect("OP", "{")
        rows = []
        while not self.accept("OP", "}"):
            self.expect("OP", "(")
            row = []
            while not self.accept("OP", ")"):
                row.append(self._values_cell())
            if len(row) != len(names):
                raise SparqlSyntaxError("VALUES row arity mismatch")
            rows.append(tuple(row))
        return Values_(tuple(names), tuple(rows))

    def _values_cell(self):
        if self.accept("KW", "UNDEF"):
            return None
        return self.parse_term()

    # -- property paths (SPARQL 1.1 §9) --------------------------------------
    def parse_path(self):
        """Path := Seq ('|' Seq)* ; Seq := Elt ('/' Elt)* ;
        Elt := Prim ('+'|'*'|'?')? ; Prim := '^' Prim | iri | 'a' | '(' Path ')'.
        A bare variable predicate is NOT a path (no modifiers allowed)."""
        if self.peek()[0] == "VAR":
            return Var(self.next()[1][1:])
        branches = [self._parse_path_seq()]
        while self.accept("OP", "|"):
            branches.append(self._parse_path_seq())
        if len(branches) > 1:
            return PathAlt(tuple(branches))
        return branches[0]

    def _parse_path_seq(self):
        steps = [self._parse_path_elt()]
        while self.accept("OP", "/"):
            steps.append(self._parse_path_elt())
        if len(steps) > 1:
            return PathSeq(tuple(steps))
        return steps[0]

    def _parse_path_elt(self):
        prim = self._parse_path_prim()
        k, v = self.peek()
        if k == "OP" and v in ("+", "*", "?"):
            self.next()
            return PathMod(prim, v)
        return prim

    def _parse_path_prim(self):
        if self.accept("OP", "!"):
            # negated property set (§9.1): !iri, !^iri, or
            # !(iri|^iri|...) — forward and inverse members negate
            # their own direction (§18.2.2.3 alt/inv translation)
            if self.accept("OP", "("):
                fwd, inv = [], []
                while True:
                    if self.accept("OP", "^"):
                        inv.append(self._parse_path_iri().value)
                    else:
                        fwd.append(self._parse_path_iri().value)
                    if not self.accept("OP", "|"):
                        break
                self.expect("OP", ")")
                return PathNeg(tuple(fwd), tuple(inv))
            if self.accept("OP", "^"):
                return PathNeg((), (self._parse_path_iri().value,))
            return PathNeg((self._parse_path_iri().value,))
        if self.accept("OP", "^"):
            return PathInv(self._parse_path_prim())
        if self.accept("OP", "("):
            p = self.parse_path()
            self.expect("OP", ")")
            return p
        return self._parse_path_iri()

    def _parse_path_iri(self) -> Iri:
        k, v = self.next()
        if k == "IRIREF":
            return self._iri(v)
        if k == "PNAME":
            return self._pname(v)
        if k == "KW" and v == "A":
            return Iri(RDF_TYPE)
        raise SparqlSyntaxError(f"expected path element, got {v!r}")

    def parse_triples_block(self) -> list[TriplePattern]:
        out: list[TriplePattern] = []
        was_bnpl = self.peek() == ("OP", "[")
        subj = self._term_or_bnpl(out, allow_literal=False)
        # '[ p o ] .' — a blank property list is a complete subject
        # with an empty following property list (Turtle/SPARQL grammar)
        if was_bnpl and self.peek() in (("OP", "."), ("OP", "}")):
            return out
        self._parse_pred_obj_list(subj, out)
        return out

    def _parse_pred_obj_list(self, subj, out: list) -> None:
        """pred obj (',' obj)* (';' ...)* appended to ``out``."""
        while True:
            pred = self.parse_path()
            if isinstance(pred, Lit):
                raise SparqlSyntaxError("literal in predicate position")
            while True:
                obj = self._term_or_bnpl(out)
                out.append(TriplePattern(subj, pred, obj))
                if not self.accept("OP", ","):
                    break
            if not self.accept("OP", ";"):
                break
            if self.peek() in (("OP", "."), ("OP", "}"), ("OP", "]")):
                break  # trailing ';'
        return

    def _term_or_bnpl(self, out: list, allow_literal: bool = True):
        """A term, a blank node '[]' / property list '[ p o ; ... ]'
        (fresh existential variables; nested patterns appended to
        ``out``), or an RDF collection '( t1 t2 ... )' expanded to its
        rdf:first/rdf:rest chain of fresh existentials."""
        if self.accept("OP", "["):
            var = Var(f"__anon_{self._anon_n}")
            self._anon_n += 1
            if not self.accept("OP", "]"):
                self._parse_pred_obj_list(var, out)
                self.expect("OP", "]")
            return var
        if self.peek() == ("OP", "("):
            self.next()
            items = []
            while not self.accept("OP", ")"):
                items.append(self._term_or_bnpl(out))
            if not items:
                return Iri(RDF_NIL)  # '()' IS rdf:nil
            nodes = []
            for _ in items:
                nodes.append(Var(f"__anon_{self._anon_n}"))
                self._anon_n += 1
            for i, (node, item) in enumerate(zip(nodes, items)):
                out.append(TriplePattern(node, Iri(RDF_FIRST), item))
                rest = nodes[i + 1] if i + 1 < len(items) else Iri(RDF_NIL)
                out.append(TriplePattern(node, Iri(RDF_REST), rest))
            return nodes[0]
        return self.parse_term(allow_literal)

    # -- expressions ---------------------------------------------------------
    def parse_constraint(self):
        """FILTER constraint: '(' expr ')' | builtin call | [NOT] EXISTS {}"""
        k, v = self.peek()
        if k == "KW" and v in ("NOT", "EXISTS"):
            return self._parse_exists()
        if k == "OP" and v == "(":
            self.next()
            e = self.parse_expr()
            self.expect("OP", ")")
            return e
        if k == "FN":
            return self.parse_primary()
        raise SparqlSyntaxError(f"expected FILTER constraint, got {v!r}")

    def _parse_exists(self) -> ExistsExpr:
        negated = self.accept("KW", "NOT")
        self.expect("KW", "EXISTS")
        return ExistsExpr(self.parse_group(), negated)

    def parse_expr(self):
        return self.parse_or()

    def parse_or(self):
        e = self.parse_and()
        while self.accept("OP", "||"):
            e = BinOp("||", e, self.parse_and())
        return e

    def parse_and(self):
        e = self.parse_cmp()
        while self.accept("OP", "&&"):
            e = BinOp("&&", e, self.parse_cmp())
        return e

    def parse_cmp(self):
        e = self.parse_add()
        k, v = self.peek()
        if k == "OP" and v in ("=", "!=", "<", ">", "<=", ">="):
            self.next()
            e = BinOp(v, e, self.parse_add())
        elif k == "KW" and v == "IN":
            self.next()
            e = Call("IN", (e, *self._parse_in_list()))
        elif k == "KW" and v == "NOT" and self.peek(1) == ("KW", "IN"):
            self.next()
            self.next()
            e = Not(Call("IN", (e, *self._parse_in_list())))
        return e

    def _parse_in_list(self) -> tuple:
        """§17.4.1.9 ExpressionList: '(' [expr (',' expr)*] ')'."""
        self.expect("OP", "(")
        items: list = []
        if not self.accept("OP", ")"):
            items.append(self.parse_expr())
            while self.accept("OP", ","):
                items.append(self.parse_expr())
            self.expect("OP", ")")
        return tuple(items)

    def parse_add(self):
        e = self.parse_mul()
        while True:
            k, v = self.peek()
            if k == "OP" and v in ("+", "-"):
                self.next()
                e = BinOp(v, e, self.parse_mul())
            else:
                return e

    def parse_mul(self):
        e = self.parse_unary()
        while True:
            k, v = self.peek()
            if k == "OP" and v in ("*", "/"):
                self.next()
                e = BinOp(v, e, self.parse_unary())
            else:
                return e

    def parse_unary(self):
        if self.accept("OP", "!"):
            return Not(self.parse_unary())
        return self.parse_primary()

    def parse_primary(self):
        k, v = self.peek()
        if k == "OP" and v == "(":
            self.next()
            e = self.parse_expr()
            self.expect("OP", ")")
            return e
        if k == "KW" and v in ("NOT", "EXISTS"):
            return self._parse_exists()
        if k == "FN":
            self.next()
            self.expect("OP", "(")
            if v == "COUNT" and self.accept("OP", "*"):
                self.expect("OP", ")")
                return Call("COUNT", ("*",))
            distinct = self.accept("KW", "DISTINCT")
            args = [self.parse_expr()]
            while self.accept("OP", ","):
                args.append(self.parse_expr())
            sep = None
            if self.accept("OP", ";"):   # GROUP_CONCAT(?v; SEPARATOR="..")
                self.expect("KW", "SEPARATOR")
                self.expect("OP", "=")
                sep = self._string(self.expect("STRING"))
            self.expect("OP", ")")
            return Call(v, tuple(args), distinct=distinct, sep=sep)
        if k == "PNAME" and v.startswith("xsd:"):
            # cast call form xsd:double(?v)
            self.next()
            cast = v[4:]
            if cast not in ("integer", "double", "string"):
                raise SparqlSyntaxError(f"unsupported cast xsd:{cast}")
            self.expect("OP", "(")
            arg = self.parse_expr()
            self.expect("OP", ")")
            return Call("CAST_" + cast.upper(), (arg,))
        if k in ("VAR", "IRIREF", "PNAME", "STRING", "NUMBER"):
            return self.parse_term()
        raise SparqlSyntaxError(f"expected expression, got {v!r}")


def parse_sparql(text: str) -> SelectQuery:
    return _Parser(text).parse_query()


# --------------------------------------------------------------------------
# Compiler: AST -> DataFrame plan
# --------------------------------------------------------------------------

_PATH_COLS = ["s", "s_iri", "s_dt", "o", "o_iri", "o_dt"]


def _term_eq(left_prefix: str, right_prefix: str, with_g: bool = False):
    """RDF term equality across two path-relation endpoints: lexical
    form + IRI/literal kind + datatype (null-safe). with_g additionally
    requires both endpoints to come from the SAME named graph — the
    GRAPH ?var evaluation scope (each solution's whole path stays
    inside one graph)."""
    eq = (
        (F.col(f"{left_prefix}.o") == F.col(f"{right_prefix}.s"))
        & (F.col(f"{left_prefix}.o_iri") == F.col(f"{right_prefix}.s_iri"))
        & F.col(f"{left_prefix}.o_dt").eqNullSafe(F.col(f"{right_prefix}.s_dt"))
    )
    if with_g:
        eq = eq & (F.col(f"{left_prefix}.g") == F.col(f"{right_prefix}.g"))
    return eq


def _path_closure(
    rel: DataFrame, max_iter: int = 30, with_g: bool = False
) -> DataFrame:
    """Transitive closure of a path relation (OneOrMorePath, SPARQL
    §9.3: a SET of term pairs). Semi-naive frontier extension — one
    join + one anti-join per round, O(graph diameter) rounds; the `new`
    flag marks the last round's pairs, which are the next frontier.
    Paths traverse the schema/class layer in practice (a sliver of a
    10^12-triple corpus), so each round's frontier is small; the
    anti-join keys co-partition with the closure across rounds.

    with_g: the relation carries a named-graph column `g` (GRAPH ?var
    scope) — g rides the pair key through the fixpoint, so the closure
    of each graph grows independently in the SAME distributed loop
    (per-graph closures without a per-graph driver loop)."""
    cols = _PATH_COLS + (["g"] if with_g else [])
    rel = rel.select(*cols).distinct().persist()
    sel = [
        F.col("f.s").alias("s"), F.col("f.s_iri").alias("s_iri"),
        F.col("f.s_dt").alias("s_dt"),
        F.col("e.o").alias("o"), F.col("e.o_iri").alias("o_iri"),
        F.col("e.o_dt").alias("o_dt"),
    ] + ([F.col("f.g").alias("g")] if with_g else [])

    # anti-join on FULL term identity: lexical + kind + datatype. The
    # dt columns join through never-NULL sentinel keys computed in the
    # same name-keyed join shape that the rest of the loop uses ("\x00"
    # = no datatype; no RDF datatype IRI contains it) — a fresh pair
    # differing from a seen one only in literal datatype is NOT dropped.
    # The seen side is column-RENAMED (not aliased) — dataset aliases
    # over a unioned lineage trip Catalyst's Union constraint rewrite.
    def with_dt_keys(frame: DataFrame) -> DataFrame:
        return frame.withColumn(
            "s_dtk", F.coalesce(F.col("s_dt"), F.lit("\x00"))
        ).withColumn("o_dtk", F.coalesce(F.col("o_dt"), F.lit("\x00")))

    anti_keys = ["s", "s_iri", "s_dtk", "o", "o_iri", "o_dtk"] + (
        ["g"] if with_g else []
    )

    def step(closure: DataFrame):
        stepped = (
            closure.filter("new").alias("f")
            .join(rel.alias("e"), _term_eq("f", "e", with_g))
            .select(*sel)
            .distinct()
        )
        fresh = (
            with_dt_keys(stepped)
            .join(with_dt_keys(closure).select(*anti_keys), anti_keys, "left_anti")
            .drop("s_dtk", "o_dtk")
        )
        return closure.select(*cols, F.lit(False).alias("new")).unionByName(
            fresh.withColumn("new", F.lit(True))
        ), F.col("new")

    closure, converged = fixpoint(rel.withColumn("new", F.lit(True)), step, max_iter)
    rel.unpersist()
    if not converged:
        raise SparqlSyntaxError(
            f"property-path closure did not converge in {max_iter} rounds"
        )
    return closure.drop("new")


def _graph_terms(triples: DataFrame, with_g: bool = False) -> DataFrame:
    """All RDF terms of the graph as a zero-length path relation
    (s = o = the term), per SPARQL §9.3 ZeroOrMorePath semantics.
    with_g: terms are scoped per named graph (a term participates in
    zero-length paths only inside the graphs that mention it)."""
    gsel = [F.col("src_url").alias("g")] if with_g else []
    subs = triples.select(
        F.col("subj").alias("t"), F.lit(True).alias("t_iri"),
        F.lit(None).cast("string").alias("t_dt"), *gsel,
    )
    objs = triples.select(
        F.col("obj").alias("t"), F.col("obj_is_iri").alias("t_iri"),
        F.col("obj_datatype").alias("t_dt"), *gsel,
    )
    terms = subs.unionByName(objs).distinct()
    return terms.select(
        F.col("t").alias("s"), F.col("t_iri").alias("s_iri"),
        F.col("t_dt").alias("s_dt"),
        F.col("t").alias("o"), F.col("t_iri").alias("o_iri"),
        F.col("t_dt").alias("o_dt"),
        *([F.col("g")] if with_g else []),
    )


def _path_rel(triples: DataFrame, path, with_g: bool = False) -> DataFrame:
    """Compile a path expression to a relation of term pairs
    (s, s_iri, s_dt, o, o_iri, o_dt). Metadata rides both endpoints so
    inverse paths and CONSTRUCT companions stay exact — two terms with
    the same lexical form but different kind/datatype never conflate.
    with_g: a `g` (named graph) column rides every pair and every join/
    closure keys on it — the GRAPH ?var evaluation scope."""
    gsel = [F.col("src_url").alias("g")] if with_g else []
    if isinstance(path, Iri):
        return triples.filter(F.col("pred") == path.value).select(
            F.col("subj").alias("s"), F.lit(True).alias("s_iri"),
            F.lit(None).cast("string").alias("s_dt"),
            F.col("obj").alias("o"), F.col("obj_is_iri").alias("o_iri"),
            F.col("obj_datatype").alias("o_dt"), *gsel,
        )
    if isinstance(path, PathNeg):
        # negated property set (§9.1): forward members exclude
        # predicates on forward edges, inverse members on inverted
        # edges (§18.2.2.3: alt(NPS(F), inv(NPS(I)))) — each side stays
        # a pushable NOT-IN scan filter on the pred column
        parts = []
        if path.preds:
            parts.append(
                triples.filter(~F.col("pred").isin(*path.preds)).select(
                    F.col("subj").alias("s"), F.lit(True).alias("s_iri"),
                    F.lit(None).cast("string").alias("s_dt"),
                    F.col("obj").alias("o"),
                    F.col("obj_is_iri").alias("o_iri"),
                    F.col("obj_datatype").alias("o_dt"), *gsel,
                )
            )
        if path.inv_preds:
            parts.append(
                triples.filter(~F.col("pred").isin(*path.inv_preds)).select(
                    F.col("obj").alias("s"),
                    F.col("obj_is_iri").alias("s_iri"),
                    F.col("obj_datatype").alias("s_dt"),
                    F.col("subj").alias("o"), F.lit(True).alias("o_iri"),
                    F.lit(None).cast("string").alias("o_dt"), *gsel,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    gcol = [F.col("g")] if with_g else []
    if isinstance(path, PathInv):
        rel = _path_rel(triples, path.elt, with_g)
        return rel.select(
            F.col("o").alias("s"), F.col("o_iri").alias("s_iri"),
            F.col("o_dt").alias("s_dt"),
            F.col("s").alias("o"), F.col("s_iri").alias("o_iri"),
            F.col("s_dt").alias("o_dt"), *gcol,
        )
    if isinstance(path, PathSeq):
        out = _path_rel(triples, path.steps[0], with_g)
        for step in path.steps[1:]:
            nxt = _path_rel(triples, step, with_g)
            out = (
                out.alias("f")
                .join(nxt.alias("e"), _term_eq("f", "e", with_g))
                .select(
                    F.col("f.s").alias("s"), F.col("f.s_iri").alias("s_iri"),
                    F.col("f.s_dt").alias("s_dt"),
                    F.col("e.o").alias("o"), F.col("e.o_iri").alias("o_iri"),
                    F.col("e.o_dt").alias("o_dt"),
                    *([F.col("f.g").alias("g")] if with_g else []),
                )
            )
        return out
    if isinstance(path, PathAlt):
        rels = [_path_rel(triples, b, with_g) for b in path.branches]
        out = rels[0]
        for r in rels[1:]:
            out = out.unionByName(r)
        return out
    if isinstance(path, PathMod):
        rel = _path_rel(triples, path.elt, with_g)
        if path.mod == "+":
            return _path_closure(rel, with_g=with_g)
        if path.mod == "?":
            return rel.unionByName(_graph_terms(triples, with_g)).distinct()
        # '*' = identity over all graph terms + the one-or-more closure
        return _path_closure(rel, with_g=with_g).unionByName(
            _graph_terms(triples, with_g)
        ).distinct()
    raise SparqlSyntaxError(f"unsupported path {path!r}")  # pragma: no cover


def _path_pattern_df(
    triples: DataFrame,
    tp: TriplePattern,
    capture: set | None = None,
    graph=None,
) -> DataFrame:
    """Bind a path relation to the pattern's subject/object terms —
    same fixed-term filters and companion capture as _pattern_df.
    graph: a Var scopes the path per named graph (src_url rides the
    pair key through the closure fixpoint and binds as that variable);
    an Iri is handled upstream as a scan filter."""
    with_g = isinstance(graph, Var)
    rel = _path_rel(triples, tp.p, with_g=with_g)
    cols: dict[str, Column] = {}
    if with_g:
        cols[graph.name] = F.col("g")
    if isinstance(tp.s, Var):
        if tp.s.name in cols:  # GRAPH ?g { ?g <p>+ ?o }
            rel = rel.filter(F.col("s_iri") & (F.col("s") == cols[tp.s.name]))
        else:
            cols[tp.s.name] = F.col("s")
        if capture is not None and tp.s.name in capture:
            capture.discard(tp.s.name)
            cols[f"__isiri_{tp.s.name}"] = F.col("s_iri")
            cols[f"__dt_{tp.s.name}"] = F.col("s_dt")
    elif isinstance(tp.s, Iri):
        rel = rel.filter(F.col("s_iri") & (F.col("s") == tp.s.value))
    else:
        rel = rel.filter(~F.col("s_iri") & (F.col("s") == tp.s.value))
    if isinstance(tp.o, Var):
        if with_g and tp.o.name == graph.name:  # GRAPH ?g { ?s <p>+ ?g }
            rel = rel.filter(F.col("o_iri") & (F.col("o") == F.col("g")))
        elif tp.o.name in cols:  # repeated s/o variable: ?x <p>+ ?x
            rel = rel.filter(
                (F.col("o") == cols[tp.o.name]) & (F.col("o_iri") == F.col("s_iri"))
            )
        else:
            cols[tp.o.name] = F.col("o")
            if capture is not None and tp.o.name in capture:
                capture.discard(tp.o.name)
                cols[f"__isiri_{tp.o.name}"] = F.col("o_iri")
                cols[f"__dt_{tp.o.name}"] = F.col("o_dt")
    elif isinstance(tp.o, Iri):
        rel = rel.filter(F.col("o_iri") & (F.col("o") == tp.o.value))
    else:
        rel = rel.filter(~F.col("o_iri") & (F.col("o") == tp.o.value))
        if tp.o.datatype is not None:
            rel = rel.filter(F.col("o_dt") == tp.o.datatype)
    if not cols:
        return rel.select(F.lit(1).alias("__match")).limit(1)
    return rel.select(*[c.alias(n) for n, c in cols.items()])


def _pattern_df(
    triples: DataFrame,
    tp: TriplePattern,
    capture: set | None = None,
    graph=None,
) -> DataFrame:
    """One triple pattern -> relation with one column per variable.
    Fixed terms become pushable scan filters; IRI-vs-literal object
    terms additionally constrain obj_is_iri (see module docstring).
    For CONSTRUCT, `capture` lists object-position variables whose
    obj_is_iri/obj_datatype must ride along as hidden companion columns
    (__isiri_v / __dt_v); each is captured at its FIRST object binding
    and consumed from the set so joins never collide on companions.
    `graph` scopes the pattern to a named graph (src_url): an Iri
    filters the scan, a Var binds src_url as that variable."""
    if isinstance(graph, Iri):
        triples = triples.filter(F.col("src_url") == graph.value)
        graph = None
    if isinstance(tp.p, (PathSeq, PathAlt, PathInv, PathMod, PathNeg)):
        # under GRAPH ?var the path relation carries src_url as the `g`
        # pair-key column through the closure fixpoint — per-graph
        # closures in one distributed loop
        return _path_pattern_df(triples, tp, capture, graph=graph)
    df = triples
    cols: dict[str, Column] = {}
    if isinstance(graph, Var):
        cols[graph.name] = F.col("src_url")
    # subject
    if isinstance(tp.s, Var):
        if tp.s.name in cols:  # e.g. GRAPH ?g { ?g ... }
            df = df.filter(F.col("subj") == cols[tp.s.name])
        else:
            cols[tp.s.name] = F.col("subj")
    else:
        df = df.filter(F.col("subj") == tp.s.value)
    # predicate
    if isinstance(tp.p, Var):
        if tp.p.name in cols:  # repeated var: ?s ?s ?o, or GRAPH ?g { ?s ?g ?o }
            df = df.filter(F.col("pred") == cols[tp.p.name])
        else:
            cols[tp.p.name] = F.col("pred")
    else:
        df = df.filter(F.col("pred") == tp.p.value)
    # object
    if isinstance(tp.o, Var):
        if tp.o.name in cols:  # repeated variable in one pattern
            df = df.filter(F.col("obj") == cols[tp.o.name])
        else:
            cols[tp.o.name] = F.col("obj")
            if capture is not None and tp.o.name in capture:
                capture.discard(tp.o.name)
                cols[f"__isiri_{tp.o.name}"] = F.col("obj_is_iri")
                cols[f"__dt_{tp.o.name}"] = F.col("obj_datatype")
    elif isinstance(tp.o, Iri):
        df = df.filter(F.col("obj_is_iri") & (F.col("obj") == tp.o.value))
    else:  # Lit
        df = df.filter(~F.col("obj_is_iri") & (F.col("obj") == tp.o.value))
        if tp.o.datatype is not None:
            df = df.filter(F.col("obj_datatype") == tp.o.datatype)
    if not cols:  # ASK-style fully ground pattern: a 0-var, <=n-row relation
        return df.select(F.lit(1).alias("__match")).limit(1)
    return df.select(*[c.alias(n) for n, c in cols.items()])


# disjoint-OPTIONAL branches up to this many rows broadcast (the probe
# is capped at limit+1 rows, so oversized branches cost no extra scan)
_DISJOINT_BRANCH_BROADCAST_LIMIT = 1_000_000


def _join(left: DataFrame | None, right: DataFrame, how: str) -> DataFrame:
    if left is None:
        return right
    shared = [c for c in left.columns if c in set(right.columns)]
    if shared:
        return left.join(right, shared, how)
    if how == "left":
        # Disjoint OPTIONAL (no shared variables): SPARQL left-join
        # semantics extend EVERY left solution by every branch solution
        # when the branch is non-empty, and keep left solutions with
        # the optional variables unbound when it is empty. ONE bounded
        # limit probe (collect-is-the-guard) decides both the emptiness
        # arm AND the join strategy: a small branch broadcasts, so the
        # cross join plans as BroadcastNestedLoopJoin (left-partitions
        # tasks) instead of CartesianProduct, whose task count is
        # P_left x P_right — measured 11s for a 2-row result at sf0.01
        # when both sides were stat-less unions. An over-limit branch
        # keeps the plain cross join (inherently quadratic anyway).
        n = right.limit(_DISJOINT_BRANCH_BROADCAST_LIMIT + 1).count()
        if n == 0:
            return left.select(
                "*",
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in right.schema.fields
                ],
            )
        if n <= _DISJOINT_BRANCH_BROADCAST_LIMIT:
            return left.crossJoin(F.broadcast(right))
        return left.crossJoin(right)
    return left.crossJoin(right)


class _Compiler:
    def __init__(self, triples: DataFrame, capture_obj_meta: set | None = None):
        self.triples = triples
        self.spark = triples.sparkSession
        # object-position variables whose is_iri/datatype companions a
        # CONSTRUCT template needs (consumed at first binding)
        self.capture = capture_obj_meta if capture_obj_meta is not None else set()
        # active GRAPH scope (Iri | Var | None) — inherited by nested groups
        self.graph = None
        # FROM NAMED scope: the frame GRAPH patterns range over when a
        # dataset clause is present (None = no clause, GRAPH sees all)
        self.named: DataFrame | None = None

    def _scope_dataset(self, ds: tuple | None) -> None:
        """Apply a §13.2 dataset clause (or an update's USING, §3.1.3):
        plain patterns read the merge of the FROM graphs, GRAPH
        patterns range over exactly the FROM NAMED graphs. A present
        clause that lists no FROM (or no FROM NAMED) makes that side
        EMPTY, per spec — absent clause keeps the engine's pinned
        dataset where every named graph is both."""
        if ds is None:
            return
        default_g, named_g = ds
        base = self.triples
        g = F.col("src_url")
        self.named = (base.filter(g.isin(list(named_g))) if named_g
                      else base.limit(0))
        self.triples = (base.filter(g.isin(list(default_g))) if default_g
                        else base.limit(0))

    # -- groups --------------------------------------------------------------
    @staticmethod
    def _merge_joinables(df: DataFrame | None, pending: list) -> DataFrame | None:
        """Join buffered relations in SELECTIVITY-then-CONNECTIVITY
        order. `pending` holds (relation, boundness) pairs — boundness
        counts the pattern's fixed terms (VALUES tables rank highest:
        driver literals). Inner joins commute, so reordering never
        changes results; it changes intermediate sizes, which Catalyst
        without CBO table stats will NOT fix on its own:

        - start from the most-bound relation (smallest expected set),
        - repeatedly join the most-bound relation that SHARES a
          variable with the accumulated result (connectivity keeps the
          join keyed — the plan linter forbids avoidable Join Cross),
        - only a genuinely disjoint remainder cross-joins.

        Ties keep buffer order, so plans are deterministic."""
        rels = ([(df, -1)] if df is not None else []) + pending
        if not rels:
            return df
        rest = list(rels)
        # accumulated df (boundness -1) keeps priority: OPTIONAL/BIND
        # results must stay the left side they were built on
        start = rest[0] if rest[0][1] == -1 else max(rest, key=lambda p: p[1])
        rest.remove(start)
        out = start[0]
        while rest:
            connected = [p for p in rest if set(out.columns) & set(p[0].columns)]
            pick = (max(connected, key=lambda p: p[1]) if connected else rest[0])
            rest.remove(pick)
            out = _join(out, pick[0], "inner")
        return out

    def compile_group(self, g: Group) -> DataFrame:
        df: DataFrame | None = None
        pending: list = []   # joinable relations, merged connectivity-first
        filters: list = []

        def flush() -> DataFrame | None:
            nonlocal df, pending
            df = self._merge_joinables(df, pending)
            pending = []
            return df

        for el in g.elements:
            if isinstance(el, TriplePattern):
                bound = sum(
                    not isinstance(t, Var) for t in (el.s, el.o)
                ) + (0 if isinstance(el.p, Var) else 1)
                # dataset scoping (§13.2): inside GRAPH the pattern
                # ranges over the FROM NAMED frame; outside, over the
                # default (FROM-merged) frame
                frame = (self.named if self.graph is not None
                         and self.named is not None else self.triples)
                pending.append(
                    (_pattern_df(frame, el, self.capture, self.graph),
                     bound)
                )
            elif isinstance(el, GraphPattern):
                prev, self.graph = self.graph, el.term
                try:
                    pending.append((self.compile_group(el.group), 0))
                finally:
                    self.graph = prev
            elif isinstance(el, Group):
                pending.append((self.compile_group(el), 0))
            elif isinstance(el, Optional_):
                if flush() is None:
                    raise SparqlSyntaxError("OPTIONAL cannot open a group")
                df = _join(df, self.compile_group(el.group), "left")
            elif isinstance(el, Union_):
                # each branch captures its OWN companion columns (a var
                # bound in several branches needs metadata in every one,
                # not just the first — the capture set is otherwise
                # consumed at the first binding)
                snap = set(self.capture)
                branches, leftovers = [], []
                for b in el.branches:
                    self.capture = set(snap)
                    branches.append(self.compile_group(b))
                    leftovers.append(self.capture)
                self.capture = set.intersection(*leftovers) if leftovers else snap
                all_cols = sorted({c for b in branches for c in b.columns})
                # pad missing vars with nulls of the dtype another branch
                # bound them at (companions are boolean, vars string).
                # A missing __isiri_ companion whose VAR the branch does
                # bind means a subject/predicate-position binding — an
                # IRI by the triple model — so pad TRUE, not NULL
                # (NULL would make CONSTRUCT/ISIRI drop the branch).
                dtypes = {c: t for b in branches for c, t in b.dtypes}

                def pad(b: DataFrame, c: str) -> Column:
                    if c in b.columns:
                        return F.col(c)
                    if c.startswith("__isiri_") and c[len("__isiri_"):] in b.columns:
                        return F.lit(True).alias(c)
                    return F.lit(None).cast(dtypes[c]).alias(c)

                padded = [
                    b.select(*[pad(b, c) for c in all_cols]) for b in branches
                ]
                u = padded[0]
                for p in padded[1:]:
                    u = u.unionByName(p)
                pending.append((u, 0))
            elif isinstance(el, Minus_):
                if flush() is None:
                    raise SparqlSyntaxError("MINUS cannot open a group")
                neg = self.compile_group(el.group)
                shared = [c for c in df.columns if c in set(neg.columns)]
                if shared:  # SPARQL §8.3: disjoint-domain MINUS removes nothing
                    df = df.join(neg.select(*shared).distinct(), shared, "left_anti")
            elif isinstance(el, Bind_):
                if flush() is None:
                    df = self.spark.range(1).select(F.lit(1).alias("__unit"))
                df = df.withColumn(el.var, self.expr(el.expr, df))
            elif isinstance(el, Values_):
                pending.append((self._values_df(el), 10))
            elif isinstance(el, SubSelect):
                # §12: the subquery evaluates independently, then joins
                # the outer pattern on its projected (shared) variables
                pending.append((self.compile_query(el.query), 0))
            elif isinstance(el, Filter_):
                filters.append(el.expr)
            else:  # pragma: no cover
                raise SparqlSyntaxError(f"unsupported element {el!r}")
        if flush() is None:
            raise SparqlSyntaxError("empty group graph pattern")
        for fx in filters:  # SPARQL 1.1 §8: filters scope over the whole group
            df = self._apply_filter(df, fx)
        return df.drop("__match", "__unit")

    def _values_df(self, v: Values_) -> DataFrame:
        def cell(t):
            if t is None:
                return None
            return t.value
        rows = [tuple(cell(c) for c in r) for r in v.rows]
        schema = ", ".join(f"`{n}` string" for n in v.names)
        return F.broadcast(self.spark.createDataFrame(rows, schema))

    def _apply_filter(self, df: DataFrame, expr) -> DataFrame:
        if isinstance(expr, ExistsExpr):
            sub = self.compile_group(expr.group)
            shared = [c for c in df.columns if c in set(sub.columns)]
            if not shared:
                raise SparqlSyntaxError("EXISTS group shares no variables")
            how = "left_anti" if expr.negated else "left_semi"
            return df.join(sub.select(*shared).distinct(), shared, how)
        return df.filter(self.expr(expr, df))

    # -- expressions -----------------------------------------------------------
    def expr(self, e, df: DataFrame, agg: bool = False) -> Column:
        if isinstance(e, Var):
            if e.name not in df.columns:
                raise SparqlSyntaxError(f"unbound variable ?{e.name} in expression")
            return F.col(e.name)
        if isinstance(e, Lit):
            if e.datatype == XSD + "integer":
                return F.lit(int(e.value))
            if e.datatype == XSD + "double":
                return F.lit(float(e.value))
            return F.lit(e.value)
        if isinstance(e, Iri):
            return F.lit(e.value)
        if isinstance(e, Not):
            return ~self.expr(e.arg, df, agg)
        if isinstance(e, BinOp):
            l = self.expr(e.left, df, agg)
            r = self.expr(e.right, df, agg)
            return {
                "||": lambda: l | r, "&&": lambda: l & r,
                "=": lambda: l == r, "!=": lambda: l != r,
                "<": lambda: l < r, ">": lambda: l > r,
                "<=": lambda: l <= r, ">=": lambda: l >= r,
                "+": lambda: l + r, "-": lambda: l - r,
                "*": lambda: l * r, "/": lambda: l / r,
            }[e.op]()
        if isinstance(e, Call):
            return self._call(e, df, agg)
        raise SparqlSyntaxError(f"unsupported expression {e!r}")

    def _call(self, c: Call, df: DataFrame, agg: bool) -> Column:
        if c.fn in _AGG_FNS:
            if not agg:
                raise SparqlSyntaxError(f"{c.fn} aggregate outside SELECT/HAVING of a grouped query")
            if c.fn == "COUNT" and c.args == ("*",):
                return F.count(F.lit(1))
            a = self.expr(c.args[0], df)
            if c.fn == "COUNT":
                return F.countDistinct(a) if c.distinct else F.count(a)
            if c.fn == "GROUP_CONCAT":
                # order within a group is unspecified in SPARQL; pinned
                # here to LEXICOGRAPHIC so results are deterministic at
                # any parallelism (oracle twin: string_agg ORDER BY)
                vals = F.collect_set(a) if c.distinct else F.collect_list(a)
                return F.array_join(F.sort_array(vals), c.sep if c.sep is not None else " ")
            if c.fn == "SAMPLE":
                return F.min(a)  # any value is valid; min is deterministic
            fn = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}[c.fn]
            return fn(a.cast("double") if c.fn in ("SUM", "AVG") else a)
        args = [self.expr(a, df, agg) for a in c.args]
        if c.fn == "STR":
            return args[0].cast("string")
        if c.fn == "STRLEN":
            return F.length(args[0])
        if c.fn == "STRSTARTS":
            return args[0].startswith(args[1])
        if c.fn == "STRENDS":
            return args[0].endswith(args[1])
        if c.fn == "CONTAINS":
            return args[0].contains(args[1])
        if c.fn == "UCASE":
            return F.upper(args[0])
        if c.fn == "LCASE":
            return F.lower(args[0])
        if c.fn == "REGEX":
            pat = c.args[1]
            if not isinstance(pat, Lit):
                raise SparqlSyntaxError("REGEX pattern must be a string literal")
            pattern = pat.value
            if len(c.args) > 2:  # optional flags argument (§17.4.3.14)
                if not isinstance(c.args[2], Lit) or c.args[2].value not in ("i", ""):
                    raise SparqlSyntaxError(
                        "REGEX flags: only \"i\" is supported"
                    )
                if c.args[2].value == "i":
                    pattern = "(?i)" + pattern
            return args[0].rlike(pattern)
        if c.fn == "BOUND":
            return args[0].isNotNull()
        if c.fn == "COALESCE":
            return F.coalesce(*args)
        if c.fn == "CONCAT":
            return F.concat(*args)
        if c.fn == "SUBSTR":
            # SPARQL SUBSTR is 1-based like SQL substring
            length = (args[2].cast("int") if len(args) > 2
                      else F.lit(2147483647))
            return args[0].substr(args[1].cast("int"), length)
        if c.fn == "REPLACE":
            pat = c.args[1]
            if not isinstance(pat, Lit):
                raise SparqlSyntaxError("REPLACE pattern must be a string literal")
            if len(c.args) < 3 or not isinstance(c.args[2], Lit):
                raise SparqlSyntaxError("REPLACE replacement must be a string literal")
            pattern = pat.value
            if len(c.args) > 3:  # optional flags, mirroring REGEX
                if not isinstance(c.args[3], Lit) or c.args[3].value not in ("i", ""):
                    raise SparqlSyntaxError("REPLACE flags: only \"i\" is supported")
                if c.args[3].value == "i":
                    pattern = "(?i)" + pattern
            return F.regexp_replace(args[0], pattern, c.args[2].value)
        if c.fn == "STRBEFORE":
            if not isinstance(c.args[1], Lit):
                raise SparqlSyntaxError("STRBEFORE needle must be a literal")
            n = c.args[1].value
            # SPARQL: empty string when the needle does not occur
            return F.when(
                args[0].contains(n), F.substring_index(args[0], n, 1)
            ).otherwise(F.lit(""))
        if c.fn == "STRAFTER":
            if not isinstance(c.args[1], Lit):
                raise SparqlSyntaxError("STRAFTER needle must be a literal")
            n = c.args[1].value
            # part after the FIRST occurrence (substring_index(-1) would
            # take the LAST); empty string when the needle is absent
            return F.when(
                args[0].contains(n),
                args[0].substr(
                    F.locate(n, args[0]) + F.lit(len(n)), F.lit(2147483647)
                ),
            ).otherwise(F.lit(""))
        if c.fn == "IF":
            return F.when(args[0], args[1]).otherwise(args[2])
        if c.fn == "ABS":
            return F.abs(args[0])
        if c.fn == "ROUND":
            return F.round(args[0], 0)
        if c.fn == "CEIL":
            return F.ceil(args[0])
        if c.fn == "FLOOR":
            return F.floor(args[0])
        if c.fn == "CAST_INTEGER":
            return args[0].cast("long")
        if c.fn == "CAST_DOUBLE":
            return args[0].cast("double")
        if c.fn == "CAST_STRING":
            return args[0].cast("string")
        if c.fn == "MD5":
            return F.md5(args[0].cast("string"))
        if c.fn == "SHA1":
            return F.sha1(args[0].cast("string"))
        if c.fn == "SHA256":
            return F.sha2(args[0].cast("string"), 256)
        if c.fn in ("SHA384", "SHA512"):
            return F.sha2(args[0].cast("string"), int(c.fn[3:]))
        if c.fn in ("IRI", "URI"):
            # §17.4.2.6 with no base IRI: the engine's IRI is its
            # lexical form, so IRI(str) is the string itself (relative
            # IRI resolution needs a base the data model doesn't carry)
            return args[0].cast("string")
        if c.fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            # §17.4.5 date/time accessors over the literal's lexical
            # form: ISO xsd:date/xsd:dateTime (with or without 'T'/'Z')
            # parse; anything else is a SPARQL type error -> unbound
            # (NULL). SECONDS returns whole seconds (xsd:decimal
            # fractions are not preserved by the timestamp parse).
            ts = F.try_to_timestamp(args[0].cast("string"))
            accessor = {
                "YEAR": F.year, "MONTH": F.month, "DAY": F.dayofmonth,
                "HOURS": F.hour, "MINUTES": F.minute, "SECONDS": F.second,
            }[c.fn]
            return accessor(ts).cast("long")
        if c.fn == "TZ":
            # §17.4.5.8: the timezone PART of the lexical form — 'Z',
            # '+hh:mm'/'-hh:mm', or '' when absent; non-date input is
            # a type error -> unbound (gated on the same ISO parse as
            # the other accessors)
            s = args[0].cast("string")
            ok = F.try_to_timestamp(s).isNotNull()
            return F.when(
                ok, F.regexp_extract(s, r"(Z|[+-]\d{2}:\d{2})$", 1)
            )
        if c.fn == "ENCODE_FOR_URI":
            # url_encode is application/x-www-form-urlencoded (Java
            # URLEncoder): space->'+', '~'->%7E, '*' kept.  §17.4.2.8
            # wants RFC 3986 unreserved (ALPHA DIGIT - . _ ~) kept and
            # everything else percent-encoded, so fix the three deltas:
            # any '+' in the output IS an encoded space ('+' itself
            # arrives as %2B), %7E only arises from '~', and a literal
            # '*' survives only unencoded.
            enc = F.url_encode(args[0].cast("string"))
            return F.replace(
                F.replace(F.replace(enc, F.lit("+"), F.lit("%20")),
                          F.lit("%7E"), F.lit("~")),
                F.lit("*"), F.lit("%2A"),
            )
        if c.fn == "IN":
            # §17.4.1.9: sugar for (x = e1 || x = e2 || ...); empty
            # list is FALSE
            if len(args) == 1:
                return F.lit(False)
            out = args[0] == args[1]
            for a in args[2:]:
                out = out | (args[0] == a)
            return out
        if c.fn == "SAMETERM":
            return self._same_term(c, df)
        if c.fn in _META_FNS:
            if not c.args or not isinstance(c.args[0], Var):
                raise SparqlSyntaxError(f"{c.fn} takes a variable argument")
            return self._term_meta(c.fn, c.args[0].name, df)
        raise SparqlSyntaxError(f"unsupported function {c.fn}")

    def _term_meta(self, fn: str, name: str, df: DataFrame) -> Column:
        """Term-kind builtins over the engine's 3-kind model: an IRI has
        is_iri=true; a literal is_iri=false with a NON-NULL datatype
        (every source defaults plain literals to xsd:string —
        sources/turtle.py:24); a blank node is_iri=false with a NULL
        datatype. Variables bound in subject/predicate position carry no
        companion columns — there the lexical form decides (the triple
        model admits only IRIs and ``_:`` blanks in those positions)."""
        comp_i, comp_d = f"__isiri_{name}", f"__dt_{name}"
        if comp_i in df.columns:
            is_iri = F.col(comp_i)
            dt = (F.col(comp_d) if comp_d in df.columns
                  else F.lit(None).cast("string"))
            if fn == "ISIRI":
                return is_iri
            if fn == "ISBLANK":
                return ~is_iri & dt.isNull()
            if fn == "ISLITERAL":
                return ~is_iri & dt.isNotNull()
            if fn == "ISNUMERIC":
                return ~is_iri & dt.isin(list(_NUMERIC_DTS))
            # DATATYPE: literals only (§17.4.2.7); IRI/blank -> NULL
            # (SPARQL type error = unbound)
            return F.when(~is_iri, dt)
        blank = F.col(name).startswith("_:")
        if fn == "ISIRI":
            return ~blank
        if fn == "ISBLANK":
            return blank
        if fn in ("ISLITERAL", "ISNUMERIC"):
            return F.lit(False)
        return F.lit(None).cast("string")  # DATATYPE of an IRI/blank

    def _same_term(self, c: Call, df: DataFrame) -> Column:
        """§17.4.1.8 sameTerm: lexical forms equal AND term kinds/
        datatypes equal. Var args compare their companion metadata
        null-safely; positional (subject/predicate) bindings have no
        companions and need none — lexical equality separates IRIs from
        ``_:`` blanks by prefix, and literals never bind there."""
        if len(c.args) != 2:
            raise SparqlSyntaxError("SAMETERM takes two arguments")

        def lex(a) -> Column:
            """Lexical form AS A STRING — a numeric-typed literal must
            NOT take the numeric-comparison opt-in here (that path
            casts the other side and sameTerm is defined on lexical
            identity, not value equality)."""
            if isinstance(a, Var):
                return F.col(a.name)
            if isinstance(a, Iri):
                return F.lit(a.value)
            if isinstance(a, Lit):
                return F.lit(str(a.value))
            raise SparqlSyntaxError("SAMETERM takes terms (var/iri/literal)")
        out = lex(c.args[0]) == lex(c.args[1])

        def meta(a) -> tuple[Column, Column]:
            """(is_iri, datatype) of one argument term."""
            if isinstance(a, Var):
                if f"__isiri_{a.name}" in df.columns:
                    dt = (F.col(f"__dt_{a.name}")
                          if f"__dt_{a.name}" in df.columns
                          else F.lit(None).cast("string"))
                    return F.col(f"__isiri_{a.name}"), dt
                # positional binding: IRI or blank, never a literal
                blank = F.col(a.name).startswith("_:")
                return ~blank, F.lit(None).cast("string")
            if isinstance(a, Iri):
                return F.lit(True), F.lit(None).cast("string")
            if isinstance(a, Lit):
                return F.lit(False), F.lit(a.datatype or XSD + "string")
            raise SparqlSyntaxError("SAMETERM takes terms (var/iri/literal)")
        iri_l, dt_l = meta(c.args[0])
        iri_r, dt_r = meta(c.args[1])
        return out & iri_l.eqNullSafe(iri_r) & dt_l.eqNullSafe(dt_r)

    # -- full query -------------------------------------------------------------
    def compile_query(self, q: SelectQuery) -> DataFrame:
        self._scope_dataset(q.dataset)
        # DATATYPE/ISIRI/ISLITERAL read a binding's term metadata: make
        # the binding patterns emit companion columns (CONSTRUCT's
        # capture machinery)
        self.capture |= _query_meta_vars(q)
        df = self.compile_group(q.where)

        def has_agg(e) -> bool:
            if isinstance(e, Call):
                return e.fn in _AGG_FNS or any(has_agg(a) for a in e.args if a != "*")
            if isinstance(e, BinOp):
                return has_agg(e.left) or has_agg(e.right)
            if isinstance(e, Not):
                return has_agg(e.arg)
            return False

        grouped = bool(q.group_by) or any(has_agg(it.expr) for it in q.items)
        if grouped:
            if q.star:
                raise SparqlSyntaxError("SELECT * with aggregation is not valid SPARQL")
            aggs = []
            for it in q.items:
                if isinstance(it.expr, Var):
                    if it.expr.name not in q.group_by:
                        raise SparqlSyntaxError(
                            f"?{it.expr.name} projected but not in GROUP BY"
                        )
                else:
                    aggs.append(self.expr(it.expr, df, agg=True).alias(it.alias))
            if q.having is not None:
                aggs.append(self.expr(q.having, df, agg=True).alias("__having"))
            gdf = df.groupBy(*q.group_by) if q.group_by else df.groupBy()
            df = gdf.agg(*aggs) if aggs else gdf.agg(F.count(F.lit(1)).alias("__n")).drop("__n")
            if q.having is not None:
                df = df.filter(F.col("__having")).drop("__having")
        else:
            if q.having is not None:
                raise SparqlSyntaxError("HAVING without GROUP BY/aggregates")
            for it in q.items:
                if not isinstance(it.expr, Var):
                    df = df.withColumn(it.alias, self.expr(it.expr, df))

        def order(frame: DataFrame) -> DataFrame:
            keys = []
            for e, direction in q.order_by:
                col = self.expr(e, frame)
                keys.append(col.desc() if direction == "desc" else col.asc())
            return frame.orderBy(*keys)  # + limit => TakeOrderedAndProject

        # ORDER BY sorts BEFORE projection (SPARQL §15.1: order keys may
        # reference non-projected variables, incl. metadata companions);
        # projection preserves sort order. DISTINCT queries instead sort
        # the deduped projection — their order keys must be projected.
        if q.order_by and not q.distinct:
            df = order(df)
        if not q.star:
            missing = [it.alias for it in q.items
                       if isinstance(it.expr, Var) and it.expr.name not in df.columns]
            if missing:
                raise SparqlSyntaxError(f"projected variables never bound: {missing}")
            df = df.select(*[
                (F.col(it.expr.name).alias(it.alias)
                 if isinstance(it.expr, Var) else F.col(it.alias))
                for it in q.items
            ])
        else:
            # SELECT * excludes companions AND blank-node existentials
            # (§19.6: blank labels are not projectable variables)
            df = df.drop(*[c for c in df.columns
                           if c.startswith("__isiri_") or c.startswith("__dt_")
                           or c.startswith("__bn_") or c.startswith("__anon_")])
        if q.distinct:
            df = df.distinct()
            if q.order_by:
                df = order(df)
        if q.offset is not None:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df


    # -- CONSTRUCT ----------------------------------------------------------------
    def compile_construct(self, q: ConstructQuery,
                          graph_var: str | None = None) -> DataFrame:
        """CONSTRUCT -> a TRIPLE_SCHEMA DataFrame (a graph: distinct
        triples), so the result plugs straight back into the engine —
        conversion, rendering, entailment, another SPARQL query.

        ``graph_var`` (update templates with a ``GRAPH ?var`` target,
        §3.1.3): src_url is instantiated per solution from that
        variable instead of the constant construct provenance;
        solutions where the variable is unbound or bound to a
        non-IRI produce no quad (same skip rule as invalid triples).

        Template instantiation follows SPARQL 1.1 §16.2: solutions with
        an unbound template variable produce no triple for that
        template row; subject/predicate slots instantiated from a
        variable that bound a LITERAL are dropped (invalid triples are
        skipped, not errors). Object variables carry their binding's
        obj_is_iri/obj_datatype via companion columns captured at the
        WHERE pattern that bound them, so the emitted graph preserves
        the IRI-vs-literal distinction exactly."""
        # capture is_iri/datatype companions for EVERY template variable:
        # object slots need the metadata, subject/predicate slots need the
        # literal-guard (a var bound in WHERE object position may hold a
        # literal, invalid in an IRI slot)
        for t in q.template:
            if not isinstance(t.p, (Var, Iri)):
                raise SparqlSyntaxError(
                    "property paths are not allowed in CONSTRUCT/UPDATE templates"
                )
        self.capture |= {
            term.name
            for t in q.template
            for term in (t.s, t.p, t.o)
            if isinstance(term, Var)
        }
        if graph_var is not None:
            self.capture.add(graph_var)
        self._scope_dataset(q.dataset)
        df = self.compile_group(q.where)
        if graph_var is not None and graph_var not in df.columns:
            raise SparqlSyntaxError(
                f"GRAPH ?{graph_var} template target never bound in WHERE"
            )
        # blank labels in the TEMPLATE that the WHERE never binds are
        # §16.2 fresh blanks: minted once per (distinct) solution —
        # same label, same solution -> same blank; different solutions
        # -> different blanks. The engine's output is a distinct-triple
        # graph, so duplicate solutions sharing a blank is
        # graph-equivalent to the spec's per-solution-instance blanks.
        minted = {
            term.name
            for t in q.template
            for term in (t.s, t.p, t.o)
            if isinstance(term, Var) and term.name not in df.columns
            and (term.name.startswith("__bn_")
                 or term.name.startswith("__anon_"))
        }
        if minted:
            sol = (F.md5(F.concat_ws(
                "\x1f", *[F.col(c).cast("string") for c in df.columns]
            )) if df.columns else F.lit("0"))
            for n in sorted(minted):
                df = df.withColumn(
                    n, F.concat(F.lit("_:"), F.md5(F.concat(F.lit(n), sol)))
                )
        all_vars = set(df.columns)
        for t in q.template:
            for term in (t.s, t.p, t.o):
                if isinstance(term, Var) and term.name not in all_vars:
                    raise SparqlSyntaxError(
                        f"template variable ?{term.name} never bound in WHERE"
                    )

        def iri_slot(term) -> Column:
            # subject/predicate: IRIs only. A var bound in object
            # position may hold a literal -> drop via companion guard.
            if isinstance(term, Var):
                col = F.col(term.name)
                comp = f"__isiri_{term.name}"
                if comp in df.columns:
                    return F.when(F.col(comp), col)  # NULL when literal
                return col
            return F.lit(term.value)

        parts = []
        for t in q.template:
            subj = iri_slot(t.s)
            pred = iri_slot(t.p)
            if isinstance(t.o, Var):
                obj = F.col(t.o.name)
                comp_i, comp_d = f"__isiri_{t.o.name}", f"__dt_{t.o.name}"
                if t.o.name in minted:  # fresh blank: third term kind
                    is_iri = F.lit(False)
                elif comp_i in df.columns:
                    is_iri = F.col(comp_i)
                else:
                    # bound as subj/pred: IRI or data blank, by prefix
                    is_iri = ~obj.startswith("_:")
                dt = (F.col(comp_d) if comp_d in df.columns
                      and t.o.name not in minted
                      else F.lit(None).cast("string"))
            elif isinstance(t.o, Iri):
                obj, is_iri, dt = F.lit(t.o.value), F.lit(True), F.lit(None).cast("string")
            else:
                obj, is_iri = F.lit(t.o.value), F.lit(False)
                # ground-literal identity: plain -> xsd:string, @lang ->
                # rdf:langString — the ingest paths' canonical form, so
                # template constants match stored rows (same rule as the
                # ground DATA forms)
                dt = F.lit(_lit_datatype(t.o)).cast("string")
            sel = [subj.alias("subj"), pred.alias("pred"), obj.alias("obj"),
                   is_iri.alias("obj_is_iri"), dt.alias("obj_datatype")]
            guard = (F.col("subj").isNotNull()
                     & F.col("pred").isNotNull()
                     & F.col("obj").isNotNull())
            if graph_var is not None:
                # graph names are IRIs: skip quads whose target bound a
                # literal (companion guard, like subject/predicate
                # slots) or a blank node
                sel.append(iri_slot(Var(graph_var)).alias("src_url"))
                guard = guard & F.col("src_url").isNotNull() \
                    & ~F.col("src_url").startswith("_:")
            parts.append(df.select(*sel).filter(guard))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.distinct()
        if graph_var is None:
            out = out.withColumn("src_url", F.lit("sparql://construct"))
        if q.limit is not None:
            out = out.limit(q.limit)
        return out


    # -- ASK / DESCRIBE ---------------------------------------------------------
    def compile_ask(self, q: AskQuery) -> DataFrame:
        """ASK -> a one-row DataFrame (ask: boolean). The pattern is
        capped at one solution BEFORE the existence aggregate, so the
        plan stops at the first match instead of enumerating all."""
        self._scope_dataset(q.dataset)
        sol = self.compile_group(q.where).limit(1)
        return sol.groupBy().agg((F.count(F.lit(1)) > 0).alias("ask"))

    def compile_describe(self, q: DescribeQuery) -> DataFrame:
        """DESCRIBE -> a Concise Bounded Description: all triples whose
        SUBJECT is a described resource, closed over blank-node objects
        (a blank reachable from the description is described too, to
        fixpoint — the description form is implementation-defined per
        SPARQL 1.1 §16.4; CBD is the conventional choice). Fixed IRIs
        are a broadcast-size driver list; DESCRIBE ?var unions the
        variable's distinct solution values and semi-joins the triple
        table on subj — one hash semi-join however many resources, plus
        one bounded semi-join per blank-chain level (document-scoped
        blank chains are shallow; the loop guard is the collect)."""
        self._scope_dataset(q.dataset)
        parts = []
        iris = [t.value for t in q.terms if isinstance(t, Iri)]
        if iris:
            parts.append(self.spark.createDataFrame([(i,) for i in iris], "r string"))
        if q.where is not None:
            sol = self.compile_group(q.where)
            for t in q.terms:
                if isinstance(t, Var):
                    if t.name not in sol.columns:
                        raise SparqlSyntaxError(
                            f"DESCRIBE variable ?{t.name} never bound in WHERE"
                        )
                    parts.append(sol.select(F.col(t.name).alias("r")))
        res = parts[0]
        for p in parts[1:]:
            res = res.unionByName(p)
        res = res.distinct()
        if q.where is None:
            res = F.broadcast(res)  # a literal IRI list is always tiny
        # CBD closure over blank-node objects (term model: blank =
        # not-IRI with NULL datatype and a '_:' lexical form): the loop
        # state is the set of described resources, `new` marking the
        # last level; the description is every triple whose subject is
        # in that set (the levels are disjoint, so this equals the union
        # of per-level semi-joins)
        blank_obj = (
            ~F.col("obj_is_iri") & F.col("obj_datatype").isNull()
            & F.col("obj").startswith("_:")
        )

        def step(seen: DataFrame):
            level = seen.filter("new")
            blanks = (
                self.triples.join(level, self.triples["subj"] == level["r"], "left_semi")
                .filter(blank_obj)
                .select(F.col("obj").alias("r")).distinct()
                .join(seen.select("r"), "r", "left_anti")
            )
            return seen.select("r", F.lit(False).alias("new")).unionByName(
                blanks.withColumn("new", F.lit(True))
            ), F.col("new")

        seen, converged = fixpoint(res.withColumn("new", F.lit(True)), step, 32)
        if not converged:
            raise RuntimeError(
                "DESCRIBE: blank-node chain deeper than 32 levels — "
                "refusing to truncate the bounded description silently"
            )
        return self.triples.join(seen, self.triples["subj"] == seen["r"], "left_semi")


    # -- UPDATE -------------------------------------------------------------------
    def compile_update(self, q: UpdateQuery) -> dict:
        """-> {'updated', 'inserted', 'deleted'} TRIPLE_SCHEMA frames.
        Deltas derive exactly like CONSTRUCT graphs (ground DATA rows,
        or templates instantiated per WHERE solution); application is
        set-semantics on full term identity — an un-targeted DELETE
        removes every matching row regardless of provenance, an
        un-targeted INSERT adds triples not already present in ANY
        graph (src 'sparql://update'). ``GRAPH <g> { ... }`` template
        blocks (and the ``WITH <g>`` scope) target one named graph —
        the src_url provenance column: targeted deletes remove only
        rows OF that graph, targeted inserts carry src_url = g and
        dedup against that graph alone (quad-store semantics: the same
        triple may coexist in another graph). WITH additionally scopes
        the WHERE evaluation to GRAPH g (§3.1.3). The deltas are the
        same shape the incremental maintainers consume
        (operators/ivm.py, operators/incremental_kg.py), so an update
        can maintain views instead of recomputing them."""
        def _where_compiler() -> "_Compiler":
            # §3.1.3 USING scopes the WHERE evaluation only — the
            # store the deltas apply against stays the full frame
            c = _Compiler(self.triples)
            c._scope_dataset(q.using)
            return c

        def deltas(template: list) -> list:
            """[(graph | None, TRIPLE_SCHEMA frame)] — one delta frame
            per distinct GRAPH/WITH target in the template. A Var
            target (``GRAPH ?g { ... }``) yields ONE frame whose
            src_url is instantiated per WHERE solution."""
            by_g: dict = {}
            for g, t in template:
                by_g.setdefault(g, []).append(t)
            out = []
            for g, tpls in by_g.items():
                if isinstance(g, Var):
                    # per-solution graph target: the delta frame carries
                    # its own src_url column (parser rejects Var targets
                    # in ground DATA forms, so q.where is present here)
                    sub = ConstructQuery(list(tpls), q.where, None)
                    out.append((g, _where_compiler().compile_construct(
                        sub, graph_var=g.name
                    )))
                elif q.where is None:  # ground DATA form
                    src = g if g is not None else "sparql://update"
                    rows = []
                    for t in tpls:
                        if isinstance(t.o, Iri):
                            rows.append((t.s.value, t.p.value, t.o.value,
                                         True, None, src))
                        else:
                            rows.append((t.s.value, t.p.value, t.o.value,
                                         False, _lit_datatype(t.o), src))
                    out.append((g, self.spark.createDataFrame(
                        sorted(set(rows)),  # a graph is a SET: self-dedup
                        "subj string, pred string, obj string,"
                        " obj_is_iri boolean, obj_datatype string,"
                        " src_url string",
                    )))
                else:
                    sub = ConstructQuery(list(tpls), q.where, None)
                    out.append(
                        (g, _where_compiler().compile_construct(sub))
                    )
            return out

        def dtk(frame: DataFrame) -> DataFrame:
            return frame.withColumn(
                "__dtk", F.coalesce(F.col("obj_datatype"), F.lit("\x00"))
            )

        key = ["subj", "pred", "obj", "obj_is_iri", "__dtk"]
        updated = self.triples
        deleted = None
        for g, del_delta in deltas(q.delete_template):
            if isinstance(g, Var):
                # per-solution graph: match on (triple key, graph) — each
                # quad removes rows of exactly the graph it names
                qkey = key + ["src_url"]
                dd = dtk(del_delta).select(*qkey).distinct()
                scoped = dtk(updated)
                part = scoped.join(dd, qkey, "left_semi").drop("__dtk")
                updated = scoped.join(dd, qkey, "left_anti").drop("__dtk")
                deleted = part if deleted is None else deleted.unionByName(part)
                continue
            dd = dtk(del_delta).select(*key).distinct()
            scoped = dtk(updated)
            if g is not None:
                # GRAPH/WITH-targeted delete: only rows OF that graph
                in_g = scoped.filter(F.col("src_url").eqNullSafe(g))
                out_g = scoped.filter(~F.col("src_url").eqNullSafe(g))
                part = in_g.join(dd, key, "left_semi").drop("__dtk")
                updated = out_g.drop("__dtk").unionByName(
                    in_g.join(dd, key, "left_anti").drop("__dtk")
                )
            else:
                # provenance-blind (pinned default): every graph
                part = scoped.join(dd, key, "left_semi").drop("__dtk")
                updated = scoped.join(dd, key, "left_anti").drop("__dtk")
            deleted = part if deleted is None else deleted.unionByName(part)
        inserted = None
        for g, ins_delta in deltas(q.insert_template):
            if isinstance(g, Var):
                # per-solution graph: quad-store dedup per (triple, graph)
                # — the delta's own src_url IS the provenance
                qkey = key + ["src_url"]
                part = (
                    dtk(ins_delta)
                    .join(dtk(updated).select(*qkey).distinct(),
                          qkey, "left_anti")
                    .drop("__dtk")
                )
                updated = updated.unionByName(part)
                inserted = (part if inserted is None
                            else inserted.unionByName(part))
                continue
            src = g if g is not None else "sparql://update"
            existing = dtk(updated)
            if g is not None:
                # a quad store dedups per graph: the same triple may
                # coexist in another graph
                existing = existing.filter(F.col("src_url").eqNullSafe(g))
            part = (
                dtk(ins_delta)
                .join(existing.select(*key).distinct(), key, "left_anti")
                .drop("__dtk")
                .withColumn("src_url", F.lit(src))
            )
            updated = updated.unionByName(part)
            inserted = part if inserted is None else inserted.unionByName(part)
        empty = self.spark.createDataFrame(
            [],
            "subj string, pred string, obj string, obj_is_iri boolean,"
            " obj_datatype string, src_url string",
        )
        return {
            "updated": updated,
            "inserted": inserted if inserted is not None else empty,
            "deleted": deleted if deleted is not None else empty,
        }


def sparql_select(triples: DataFrame, query: str) -> DataFrame:
    """Compile a SPARQL SELECT string to a DataFrame over `triples`
    (schema: schemas.TRIPLE_SCHEMA). See module docstring for the
    supported subset and its pinned semantics."""
    q = parse_sparql(query)
    if isinstance(q, ConstructQuery):
        raise SparqlSyntaxError("use sparql_construct() for CONSTRUCT queries")
    return _Compiler(triples).compile_query(q)


def sparql_construct(triples: DataFrame, query: str) -> DataFrame:
    """Compile a SPARQL CONSTRUCT string to a TRIPLE_SCHEMA DataFrame —
    derived-graph materialization from query text. The output feeds any
    downstream consumer of the triple table (conversion to wiki pages,
    entailment, further SPARQL)."""
    q = parse_sparql(query)
    if not isinstance(q, ConstructQuery):
        raise SparqlSyntaxError("use sparql_select() for SELECT queries")
    return _Compiler(triples).compile_construct(q)


def sparql_query(triples: DataFrame, query: str) -> tuple[str, DataFrame]:
    """Generic entry: dispatch any of the four SPARQL query forms.
    Returns (form, DataFrame) where form is one of
    'select' | 'construct' | 'ask' | 'describe'."""
    q = parse_sparql(query)
    comp = _Compiler(triples)
    if isinstance(q, ConstructQuery):
        return "construct", comp.compile_construct(q)
    if isinstance(q, AskQuery):
        return "ask", comp.compile_ask(q)
    if isinstance(q, DescribeQuery):
        return "describe", comp.compile_describe(q)
    if isinstance(q, UpdateQuery):
        return "update", comp.compile_update(q)["updated"]
    if isinstance(q, GraphUpdate):
        return "update", _apply_graph_update(triples, q)["updated"]
    return "select", comp.compile_query(q)


def _apply_graph_update(triples: DataFrame, q: GraphUpdate) -> dict:
    """§3.2 graph management over src_url: one filter/union plan, no
    template instantiation. Returns the same {'updated', 'inserted',
    'deleted'} contract as compile_update."""
    g = F.col("src_url")
    empty = triples.limit(0)
    if q.op == "CREATE":
        # graphs exist implicitly (a graph IS its src_url rows), so
        # CREATE is a no-op — the SILENT-less "already exists" error
        # would need graph metadata the model deliberately lacks
        return {"updated": triples, "inserted": empty, "deleted": empty}
    if q.op == "LOAD":
        # §3.1.4: read an RDF document (extension-dispatched — .nt/.ttl/
        # .nq/.jsonld) into the INTO graph, or a graph named by the
        # document IRI itself (pinned: the engine has no default graph,
        # and the doc IRI is the conventional implicit target). file:
        # scheme or a plain path; dedup per target graph like ADD.
        import os

        path = q.src
        if path.startswith("file://"):
            path = path[len("file://"):]
        try:
            if not os.path.exists(path):
                raise FileNotFoundError(path)
            from rdf2smw_spark.plans.pipeline import read_rdf_any

            doc, _bad = read_rdf_any(triples.sparkSession, path)
        except Exception:
            if q.silent:
                return {"updated": triples, "inserted": empty,
                        "deleted": empty}
            raise
        tgt = q.dst if q.dst is not None else q.src
        doc = doc.select(
            "subj", "pred", "obj", "obj_is_iri", "obj_datatype"
        ).distinct().withColumn("src_url", F.lit(tgt))
        key = ["subj", "pred", "obj", "obj_is_iri", "__dtk"]

        def _dtk(f):
            return f.withColumn(
                "__dtk", F.coalesce(F.col("obj_datatype"), F.lit("\x00"))
            )

        inserted = (
            _dtk(doc)
            .join(_dtk(triples.filter(g.eqNullSafe(tgt)))
                  .select(*key).distinct(), key, "left_anti")
            .drop("__dtk")
        )
        return {
            "updated": triples.unionByName(inserted),
            "inserted": inserted,
            "deleted": empty,
        }
    if q.op in ("CLEAR", "DROP"):
        if q.src is None:  # CLEAR/DROP ALL
            return {"updated": empty, "inserted": empty, "deleted": triples}
        return {
            "updated": triples.filter(~g.eqNullSafe(q.src)),
            "inserted": empty,
            "deleted": triples.filter(g.eqNullSafe(q.src)),
        }
    src_rows = triples.filter(g.eqNullSafe(q.src))
    relabeled = src_rows.withColumn("src_url", F.lit(q.dst))
    dst_rows = triples.filter(g.eqNullSafe(q.dst))
    if q.op == "ADD":
        # insert src's triples into dst, keeping dst's existing rows:
        # per-graph set semantics on full term identity
        key = ["subj", "pred", "obj", "obj_is_iri", "__dtk"]

        def dtk(f):
            return f.withColumn(
                "__dtk", F.coalesce(F.col("obj_datatype"), F.lit("\x00"))
            )
        inserted = (
            dtk(relabeled)
            .join(dtk(dst_rows).select(*key).distinct(), key, "left_anti")
            .drop("__dtk")
        )
        return {
            "updated": triples.unionByName(inserted),
            "inserted": inserted,
            "deleted": empty,
        }
    # COPY / MOVE: dst := src (dst's prior rows go); MOVE drops src too
    keep = ~g.eqNullSafe(q.dst)
    if q.op == "MOVE":
        keep = keep & ~g.eqNullSafe(q.src)
    deleted = triples.filter(~keep)
    return {
        "updated": triples.filter(keep).unionByName(relabeled),
        "inserted": relabeled,
        "deleted": deleted,
    }


def sparql_update(triples: DataFrame, query: str) -> dict:
    """Apply a SPARQL 1.1 Update and return
    {'updated', 'inserted', 'deleted'} TRIPLE_SCHEMA frames — the
    deltas feed the incremental maintainers (ivm / incremental_kg)."""
    q = parse_sparql(query)
    if isinstance(q, GraphUpdate):
        return _apply_graph_update(triples, q)
    if not isinstance(q, UpdateQuery):
        raise SparqlSyntaxError("not an update request")
    return _Compiler(triples).compile_update(q)
