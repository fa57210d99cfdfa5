"""The benchmark's inputs, derived from the test tables in `data/`.

`data/` holds the `region`, `nation`, `customer`, `orders` and
`documents` tables of the repository's sf0.01 test data (1,500 customers,
15,000 orders, 500 documents), byte for byte, so a run reads nothing from
outside the checkout. The triple graph and the page captures come from
the package's DuckDB twins (`duckdb_triples_sql`, `duckdb_pages_sql`), so
input generation starts no Spark job.

`order` only reorders lines and rows; the outputs must not depend on it,
so the expected outputs recorded in `expected.json` hold for every order.
"""

from __future__ import annotations

import os

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("region", "nation", "customer", "orders", "documents")


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    return con


def write_ntriples(out_path: str, order: int) -> int:
    """The triple graph as one N-Triples file, lines in an order set by
    `order`. Returns the number of triples."""
    from rdf2smw_spark.sources.testdata import duckdb_triples_sql

    con = _duckdb()
    n = 0
    try:
        rel = con.sql(
            f"SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {duckdb_triples_sql()} "
            f"ORDER BY hash(subj, pred, obj, obj_datatype, {int(order)})"
        )
        with open(out_path, "w") as fh:
            while rows := rel.fetchmany(10_000):
                fh.writelines(nt_line(*r) for r in rows)
                n += len(rows)
    finally:
        con.close()
    return n


def write_pages(out_parquet: str, order: int) -> int:
    """The page captures `synth_pages` derives from `documents`, in the
    `pages` schema (html as bytes, text unset), rows in an order set by
    `order`. Returns the number of captures."""
    from rdf2smw_spark.sources.webpages import duckdb_pages_sql

    con = _duckdb()
    try:
        rel = con.sql(
            f"SELECT url, CAST(warc_ts AS TIMESTAMPTZ) AS warc_ts, encode(html_str) AS html, "
            f"CAST(NULL AS VARCHAR) AS text, lang FROM {duckdb_pages_sql()} "
            f"ORDER BY hash(url, warc_ts, {int(order)})"
        )
        rel.write_parquet(out_parquet)
        return len(rel)
    finally:
        con.close()


def nt_line(subj: str, pred: str, obj: str, is_iri: bool, datatype: str | None) -> str:
    """One N-Triples line; a literal without a datatype is a plain literal."""
    if is_iri:
        o = f"<{obj}>"
    else:
        lit = obj.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\r", "\\r")
        o = f'"{lit}"' + (f"^^<{datatype}>" if datatype is not None else "")
    return f"<{subj}> <{pred}> {o} .\n"
