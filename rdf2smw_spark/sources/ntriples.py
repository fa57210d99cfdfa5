"""N-Triples / N-Quads source and the parse loop every RDF reader shares
(reference S1/P1: TurtleFileReader / TripleParser,
/root/reference/components/ttlfilereader.go:41-64, tripleparser.go:23-38).

One line grammar covers both formats: N-Triples is N-Quads without the
optional fourth (graph) term, so `.nt` and `.nq` files go through the
same reader, and a graph term lands in `src_url` in place of the file
path (reference S1 reads through knakk/rdf, which also ships an
N-Quads decoder). spark.read.text gives one row per line; the shared
Arrow-batched mapInPandas flatMap (`parse_units`, also used by the
Turtle and JSON-LD readers) decodes each unit into 0..n triple rows
(SURVEY.md §2.2 P1). Lexical forms are emitted WITHOUT serialization
syntax (no angle brackets/quotes), matching rdf.Term.String() —
evidenced by ttlfilereader_test.go:41-73.

Error policy: the reference log.Fatals on malformed input
(ttlfilereader.go:49,56-60). At web scale one bad line must not kill a
1000-executor job, so every reader quarantines instead: a unit (line
or document) that fails to parse becomes one row of the quarantine
frame (`split_quarantine`), and the units that parse are unaffected.

Plain literals carry xsd:string, @lang literals rdf:langString
(RDF 1.1 / knakk-rdf semantics the reference relies on,
triplestowikipageconv.go:40-45).
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf2smw_spark.schemas import DT_LANGSTRING, DT_STRING
from rdf2smw_spark.session import scoped_persist

# subject, predicate, object term (IRI | blank node | literal with an
# optional ^^datatype or @lang), optional graph IRI. A blank-node object
# is neither IRI nor Literal in the reference (knakk rdf.TermBlank;
# triplestowikipageconv.go:104,113 match TermIRI/TermLiteral only, so
# the fact value stays "" and no 'Has type' is inferred); it is encoded
# as (obj_is_iri=false, obj_datatype=NULL) — literals always carry a
# datatype, so the combination is unambiguous (test_parity_pr 'blank').
#
# An IRI is the RDF 1.1 IRIREF: no control characters, space or
# <>"{}|^`\ inside the brackets, except \uXXXX / \UXXXXXXXX escapes,
# which are kept verbatim. Written as an unrolled loop (escapes start
# with the one character the class excludes), so it never backtracks.
_IRI_RUN = r'[^\x00-\x20<>"{}|^`\\]*'
_IRI = (
    r"<(" + _IRI_RUN + r"(?:\\(?:u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8})" + _IRI_RUN + r")*)>"
)
_LINE_RE = re.compile(
    rf"^\s*(?:{_IRI}|(_:\S+))"
    rf"\s+{_IRI}"
    rf'\s+(?:{_IRI}|(_:\S+)|"((?:[^"\\]|\\.)*)"(?:\^\^{_IRI}|@([A-Za-z0-9\-]+))?)'
    rf"(?:\s+{_IRI})?"
    r"\s*\.\s*$"
)

_ESCAPES = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
_UNESCAPE_RE = re.compile(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|[tbnrf\"'\\\\])")


def _unescape(s: str) -> str:
    if "\\" not in s:
        return s

    def sub(m: re.Match) -> str:
        g = m.group(1)
        if g[0] in "uU":
            return chr(int(g[1:], 16))
        return _ESCAPES[g]

    return _UNESCAPE_RE.sub(sub, s)


def parse_ntriples_line(
    line: str,
) -> tuple[str, str, str, bool, str | None, str | None] | None:
    """One N-Triples or N-Quads line -> (subj, pred, obj, obj_is_iri,
    obj_datatype, graph), graph None for a line without one; None for a
    blank or comment line. Raises ValueError on malformed content."""
    m = _LINE_RE.match(line)
    if m is None:
        stripped = line.strip()
        if not stripped or stripped.startswith("#"):
            return None
        raise ValueError(f"malformed N-Triples line: {line[:120]!r}")
    s_iri, s_blank, pred, o_iri, o_blank, lit, dt, lang, graph = m.groups()
    subj = s_iri if s_iri is not None else s_blank
    if o_iri is not None:
        return (subj, pred, o_iri, True, None, graph)
    if o_blank is not None:
        return (subj, pred, o_blank, False, None, graph)
    if lang is not None:
        dt = DT_LANGSTRING
    elif dt is None:
        dt = DT_STRING
    return (subj, pred, _unescape(lit), False, dt, graph)


def _line_rows(line: str, src: str | None) -> tuple[tuple, ...]:
    t = parse_ntriples_line(line)
    if t is None:
        return ()
    return ((*t[:5], src if t[5] is None else t[5]),)


PARSED_SCHEMA = (
    "subj string, pred string, obj string, obj_is_iri boolean, "
    "obj_datatype string, src_url string, error string"
)
_PARSED_COLS = ["subj", "pred", "obj", "obj_is_iri", "obj_datatype", "src_url", "error"]


def parse_units(
    units: DataFrame, text_col: str, parse: Callable[[str, str | None], Iterable[tuple]]
) -> DataFrame:
    """DataFrame[text_col, src_url], one parse unit (a line or a whole
    document) per row -> PARSED_SCHEMA. `parse(text, src)` yields the
    unit's (subj, pred, obj, obj_is_iri, obj_datatype, src_url) rows.
    They are all listed before any is kept, so a unit that raises
    ValueError (or RecursionError, from input nested deeper than the
    recursive Turtle and JSON parsers reach) adds exactly one row (null
    terms, its src_url and the error message) and none of its triples."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            for text, src in zip(pdf[text_col], pdf["src_url"]):
                try:
                    rows = list(parse(text, src))
                except (ValueError, RecursionError) as exc:
                    out.append((None, None, None, None, None, src, str(exc)))
                    continue
                out.extend((*r, None) for r in rows)
            yield pd.DataFrame(out, columns=_PARSED_COLS)

    return units.select(text_col, "src_url").mapInPandas(batches, schema=PARSED_SCHEMA)


def split_quarantine(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """PARSED_SCHEMA frame -> (triples in TRIPLE_SCHEMA column order,
    quarantine of (error, src_url) rows). Both read one scoped persist of
    the parse, so counting the quarantine after the triples were used
    does not run the Python parse again; the caller that owns the
    terminal action frees it with release_scoped_caches()."""
    parsed = scoped_persist(parsed)
    good = parsed.filter(parsed.error.isNull()).drop("error")
    bad = parsed.filter(parsed.error.isNotNull()).select("error", "src_url")
    return good, bad


def parse_ntriples_lines(lines: DataFrame, src_url: str | None = None) -> DataFrame:
    """DataFrame[value: string] (one N-Triples/N-Quads line per row) ->
    PARSED_SCHEMA. A line's graph term becomes its src_url; lines
    without one carry `src_url`."""
    units = lines.select("value", F.lit(src_url).cast("string").alias("src_url"))
    return parse_units(units, "value", _line_rows)


def read_ntriples(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read .nt / .nq file(s) -> (triples, quarantine). `triples` matches
    TRIPLE_SCHEMA with src_url = the graph term, else `path`;
    `quarantine` holds malformed lines' error messages."""
    return split_quarantine(parse_ntriples_lines(spark.read.text(path), src_url=path))


_ESC_TABLE = {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _nq_term(obj: str, is_iri: bool, dt: str | None) -> str:
    if is_iri:
        return f"<{obj}>"
    if dt is None:
        return obj  # blank node label
    quoted = '"' + "".join(_ESC_TABLE.get(c, c) for c in obj) + '"'
    if dt == DT_STRING:
        return quoted
    if dt == DT_LANGSTRING:
        return quoted + "@en"  # lang collapses to rdf:langString on parse
    return quoted + f"^^<{dt}>"


def quads_to_nquads(rows: list[tuple]) -> str:
    """Serialize (subj, pred, obj, obj_is_iri, obj_datatype, graph)
    rows to N-Quads text. Deterministic: input order preserved, one
    line per quad, so parse(serialize(Q)) == Q as a multiset."""
    lines = []
    for (subj, pred, obj, is_iri, dt, graph) in rows:
        s = subj if subj.startswith("_:") else f"<{subj}>"
        g = f" <{graph}>" if graph else ""
        lines.append(f"{s} <{pred}> {_nq_term(obj, is_iri, dt)}{g} .")
    return "\n".join(lines) + "\n"
