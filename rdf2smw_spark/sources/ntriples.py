"""N-Triples source (reference S1/P1: TurtleFileReader / TripleParser,
/root/reference/components/ttlfilereader.go:41-64, tripleparser.go:23-38).

spark.read.text gives one row per line; an Arrow-batched mapInPandas
flatMap decodes each line into 0..n triple rows (SURVEY.md §2.2 P1).
Lexical forms are emitted WITHOUT serialization syntax (no angle
brackets/quotes), matching rdf.Term.String() — evidenced by
ttlfilereader_test.go:41-73.

Error policy: the reference log.Fatals on malformed input
(ttlfilereader.go:49,56-60). At web scale one bad line must not kill a
1000-executor job: default is 'quarantine' (bad lines land in a
parallel count/column), 'fail' restores reference behavior for parity
tests.

Plain literals carry xsd:string, @lang literals rdf:langString
(RDF 1.1 / knakk-rdf semantics the reference relies on,
triplestowikipageconv.go:40-45).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from rdf2smw_spark.schemas import DT_LANGSTRING, DT_STRING

_LINE_RE = re.compile(
    r"^\s*(?:<([^>]*)>|(_:\S+))\s+<([^>]*)>\s+(.+?)\s*\.\s*$"
)
_LIT_RE = re.compile(
    r'^"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9\-]+))?$'
)

_ESCAPES = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
_UNESCAPE_RE = re.compile(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|[tbnrf\"'\\\\])")


def _unescape(s: str) -> str:
    def sub(m: re.Match) -> str:
        g = m.group(1)
        if g[0] in "uU":
            return chr(int(g[1:], 16))
        return _ESCAPES[g]

    return _UNESCAPE_RE.sub(sub, s)


def parse_ntriples_line(line: str) -> tuple[str, str, str, bool, str | None] | None:
    """One line -> (subj, pred, obj, obj_is_iri, obj_datatype) or None
    (blank/comment) — raises ValueError on malformed content."""
    stripped = line.strip()
    if not stripped or stripped.startswith("#"):
        return None
    m = _LINE_RE.match(line)
    if not m:
        raise ValueError(f"malformed N-Triples line: {line[:120]!r}")
    subj = m.group(1) if m.group(1) is not None else m.group(2)
    pred = m.group(3)
    objtok = m.group(4)
    if objtok.startswith("<") and objtok.endswith(">"):
        return (subj, pred, objtok[1:-1], True, None)
    if objtok.startswith("_:"):
        # Blank-node object: neither IRI nor Literal in the reference
        # (knakk rdf.TermBlank; triplestowikipageconv.go:104,113 match
        # TermIRI/TermLiteral only, so the fact value stays "" and no
        # 'Has type' is inferred). Encoded as (obj_is_iri=false,
        # obj_datatype=NULL) — literals always carry a datatype, so the
        # combination is unambiguous. See test_parity_pr 'blank' fixture.
        return (subj, pred, objtok, False, None)
    lm = _LIT_RE.match(objtok)
    if not lm:
        raise ValueError(f"malformed object term: {objtok[:120]!r}")
    value = _unescape(lm.group(1))
    dt = lm.group(2)
    lang = lm.group(3)
    if lang is not None:
        return (subj, pred, value, False, DT_LANGSTRING)
    return (subj, pred, value, False, dt if dt is not None else DT_STRING)


PARSED_SCHEMA = (
    "subj string, pred string, obj string, obj_is_iri boolean, "
    "obj_datatype string, src_url string, error string"
)


def parse_ntriples_lines(lines: DataFrame, src_url: str | None = None) -> DataFrame:
    """DataFrame[value: string] (one line per row) -> triple DataFrame.
    Malformed lines produce rows with non-null `error` and null terms;
    every row carries `src_url`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            for line in pdf["value"]:
                try:
                    t = parse_ntriples_line(line)
                except ValueError as exc:
                    out.append((None, None, None, None, None, src_url, str(exc)))
                    continue
                if t is not None:
                    out.append((*t, src_url, None))
            yield pd.DataFrame(
                out,
                columns=[
                    "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "src_url", "error",
                ],
            )

    return lines.mapInPandas(batches, schema=PARSED_SCHEMA)


def read_ntriples(
    spark: SparkSession, path: str, on_error: str = "quarantine"
) -> tuple[DataFrame, DataFrame]:
    """Read .nt file(s) -> (triples, quarantine). `triples` matches
    TRIPLE_SCHEMA; `quarantine` holds malformed lines' error messages.
    on_error='fail' raises on the first malformed line (reference
    behavior)."""
    parsed = parse_ntriples_lines(spark.read.text(path), src_url=path)
    bad = parsed.filter(parsed.error.isNotNull()).select("error", "src_url")
    good = parsed.filter(parsed.error.isNull()).drop("error")
    if on_error == "fail":
        first = bad.take(1)
        if first:
            raise ValueError(first[0]["error"])
    return good, bad
