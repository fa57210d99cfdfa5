"""JSON-LD source (expanded form, newline-delimited).

The third RDF wire format after N-Triples/N-Quads and Turtle — the one
web crawls actually encounter at scale (schema.org embeds). Restricted
profile, documented rather than silently guessed:

- one EXPANDED node object per line (NDJSON): line-level parallelism,
  identical scan shape to the N-Triples fast path
  (reference analogue: ttlfilereader.go:41-64 — one decoder per input,
  ours parses lines in Arrow batches via mapInPandas);
- `@id` required per node (blank-node-free profile; anonymous nodes
  are a compaction concern, not an expanded-form one);
- `@type: [iri, ...]` maps to rdf:type triples;
- property values are arrays of value objects: `{"@id": iri}` for IRI
  objects, `{"@value": v[, "@type": dt][, "@language": tag]}` for
  literals; a null `@value` yields no triple, as expansion drops it.
  `@language` maps to rdf:langString (the triple schema keeps no
  language tag — same lexical-form-only contract as the
  reference's .String(), SURVEY §1.1); a bare `@value` defaults to
  xsd:string; JSON numbers/booleans carry the implicit XSD datatype
  per the JSON-LD spec (integer / double / boolean);
- `@graph`, `@context`, relative IRIs: out of profile -> quarantined
  with an error, never a crash (the F2 nil-guard policy).

Malformed lines land in the quarantine frame (error, src_url) that
every reader shares (sources/ntriples.py); the error names the line.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf2smw_spark.schemas import (
    DT_BOOLEAN,
    DT_DOUBLE,
    DT_INTEGER,
    DT_LANGSTRING,
    DT_STRING,
    TYPE_PROPERTY_URI,
)
from rdf2smw_spark.sources.ntriples import parse_units, split_quarantine

# absolute-IRI test: an RFC 3987 scheme prefix (letter, then letters/
# digits/+/./-, then ':'). '://' would wrongly reject authority-less
# schemes — urn:uuid:..., mailto:, did: — that the N-Triples/Turtle
# paths of this repo accept, breaking .nt/.jsonld round-trip parity.
_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _parse_value(v) -> tuple[str, bool, str | None] | None:
    """One expanded value entry -> (obj, obj_is_iri, obj_datatype), or
    None for a null @value, which JSON-LD expansion drops."""
    if not isinstance(v, dict):
        raise ValueError(f"value entry must be an object, got {type(v).__name__}")
    if "@id" in v:
        iri = v["@id"]
        if not isinstance(iri, str) or not _ABS_IRI_RE.match(iri):
            raise ValueError(f"@id must be an absolute IRI: {iri!r}")
        return iri, True, None
    if "@value" not in v:
        raise ValueError("value entry needs @id or @value")
    val = v["@value"]
    if isinstance(val, (dict, list)):
        raise ValueError(f"@value must be a scalar, got {type(val).__name__}")
    if not isinstance(v.get("@type", ""), str):
        raise ValueError(f"value @type must be a string: {v['@type']!r}")
    if val is None:
        return None
    # native JSON booleans keep the XSD lexical form regardless of an
    # explicit @type — str(True) would yield 'True' and break the
    # serialize∘parse identity against the untyped path
    lex = ("true" if val else "false") if isinstance(val, bool) else str(val)
    if "@language" in v:
        return lex, False, DT_LANGSTRING
    if "@type" in v:
        return lex, False, v["@type"]
    if isinstance(val, bool):
        return ("true" if val else "false"), False, DT_BOOLEAN
    if isinstance(val, int):
        return str(val), False, DT_INTEGER
    if isinstance(val, float):
        return repr(val), False, DT_DOUBLE
    return str(val), False, DT_STRING


def _node_rows(node, src: str) -> list[tuple]:
    if not isinstance(node, dict):
        raise ValueError("line is not a JSON object")
    for kw in ("@graph", "@context"):
        if kw in node:
            raise ValueError(f"{kw} is out of the expanded-NDJSON profile")
    subj = node.get("@id")
    if not isinstance(subj, str) or not _ABS_IRI_RE.match(subj):
        raise ValueError(f"node needs an absolute @id, got {subj!r}")
    out = []
    types = node.get("@type", []) or []
    if isinstance(types, str):  # bare-string @type, common compact form
        types = [types]
    if not isinstance(types, list):
        raise ValueError(f"@type must be an IRI string or array: {types!r}")
    for t in types:
        if not isinstance(t, str):
            raise ValueError(f"@type entries must be IRI strings: {t!r}")
        out.append((subj, TYPE_PROPERTY_URI, t, True, None, src))
    for pred, values in node.items():
        if pred.startswith("@"):
            continue
        if not isinstance(values, list):
            values = [values]
        for v in values:
            if (obj := _parse_value(v)) is not None:
                out.append((subj, pred, *obj, src))
    return out


def _parse_line(line: str, src: str) -> list[tuple]:
    """One NDJSON line -> its triple rows; [] for a blank line. The
    ValueError of a bad line carries the whole line, for the quarantine."""
    if not line or line.isspace():
        return []
    try:
        return _node_rows(json.loads(line), src)
    except (ValueError, RecursionError) as exc:  # JSONDecodeError included
        raise ValueError(f"{exc}: {line!r}") from None


def parse_jsonld_lines(lines: DataFrame) -> DataFrame:
    """(line, src_url) -> PARSED_SCHEMA through the shared parse loop:
    one line yields 0..n triples or exactly one quarantine row."""
    return parse_units(lines, "line", _parse_line)


def read_jsonld(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """NDJSON-LD file(s) -> (triples, quarantine). Line framing via
    spark.read.text (splittable, line-parallel; gzip falls back to
    per-file parallelism exactly like the .nt reader)."""
    lines = spark.read.text(path).select(
        F.col("value").alias("line"),
        F.input_file_name().alias("src_url"),
    )
    return split_quarantine(parse_jsonld_lines(lines))


def triples_to_jsonld(rows: list[tuple]) -> str:
    """Serialize (subj, pred, obj, obj_is_iri, obj_datatype) rows to an
    expanded-NDJSON document — the test/round-trip counterpart of
    parse_jsonld_lines (sorted subjects and values: deterministic
    bytes at any input order). rdf:type rows become @type entries;
    rdf:langString literals round-trip through @language (tag 'und' —
    the triple schema keeps no tag)."""
    by_subj: dict[str, dict] = {}
    for subj, pred, obj, is_iri, dt in rows:
        node = by_subj.setdefault(subj, {"@id": subj})
        if pred == TYPE_PROPERTY_URI and is_iri:
            node.setdefault("@type", []).append(obj)
            continue
        vals = node.setdefault(pred, [])
        if is_iri:
            vals.append({"@id": obj})
        elif dt == DT_LANGSTRING:
            vals.append({"@value": obj, "@language": "und"})
        elif dt is None:
            vals.append({"@value": obj})
        else:
            vals.append({"@value": obj, "@type": dt})
    lines = []
    for subj in sorted(by_subj):
        node = by_subj[subj]
        for k, vs in node.items():
            if k == "@id":
                continue
            node[k] = sorted(vs, key=json.dumps) if k != "@type" else sorted(vs)
        lines.append(json.dumps(node, sort_keys=True, ensure_ascii=False))
    return "\n".join(lines) + "\n"
