"""The benchmark's workloads.

Each workload writes its input in `prepare`, part of the timed set-up,
and runs one unit of work per `unit` call: one N-Triples conversion, or
one web pipeline run. A unit returns its latency and whether its outputs
match the ones the seed program produced; the checks run after the clock
has stopped.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import gen

HERE = os.path.dirname(os.path.abspath(__file__))

CURATE_GATES = dict(near_dedup=True, min_quality=0.3, max_dup_line_frac=0.5, entail="rdfs")

# the read side of the constructed graph: the pipeline's own query
# surface (`--sparql` in web mode), run over the entailed triples
CURATE_QUERY = """
PREFIX ont: <http://example.org/onto#>
SELECT ?src (COUNT(?doc) AS ?docs) (MIN(?doc) AS ?first) WHERE {
  ?doc ont:source ?src .
  ?doc ont:sameAs ?same .
} GROUP BY ?src
"""


@dataclass
class Unit:
    wall_s: float
    ok: bool
    triples: int  # triples read (nt_convert) or produced (web_curate)
    docs: int  # pages written (nt_convert) or page captures read (web_curate)
    observed: dict  # what the correctness gate compared


def load_expected(name: str) -> dict | None:
    """The outputs the seed program produced, recorded by
    `record_expected.py`; None while they are being recorded."""
    path = os.path.join(HERE, "expected.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh).get(name)


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def table_digest(path: str, columns: list[str]) -> str:
    """Order-insensitive digest of a parquet table's rows, read from its
    files without Spark."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path, columns=columns).to_pylist()
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r[c] for c in columns)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


class NtConvert:
    """The reference CLI's job: one N-Triples file -> three SMW XML files."""

    name = "nt_convert"

    def prepare(self, spark, work: str, seed: int) -> None:
        self.spark, self.work = spark, work
        # the seed sets the line order; the output must not depend on it
        self.nt_path = os.path.join(work, "graph.nt")
        self.n_triples = gen.write_ntriples(self.nt_path, seed)
        self.expected = load_expected(self.name)
        self.n = 0

    def unit(self) -> Unit:
        from rdf2smw_spark.plans.pipeline import run_nt_pipeline

        out = os.path.join(self.work, f"xml{self.n}")
        self.n += 1
        t0 = time.perf_counter()
        res = run_nt_pipeline(self.spark, self.nt_path, out)
        wall = time.perf_counter() - t0
        got = {
            "n_pages": res["n_pages"],
            "bad_lines": res["bad_lines"],
            "sha256": {k: sha256_file(p) for k, p in sorted(res["outputs"].items())},
        }
        ok = got == self.expected
        if not ok and self.expected is not None:
            print(f"perfbench: nt_convert mismatch: {got}", flush=True)
        shutil.rmtree(out)
        return Unit(wall, ok, self.n_triples, res["n_pages"], got)


class WebCurate:
    """Page captures -> the checkpointed web pipeline with its curation
    gates, RDFS entailment and a query over the result -> SMW XML tables."""

    name = "web_curate"

    def prepare(self, spark, work: str, seed: int) -> None:
        self.spark, self.work = spark, work
        # the seed sets the capture order; the output must not depend on it
        path = os.path.join(work, "pages.parquet")
        gen.write_pages(path, seed)
        self.pages = spark.read.parquet(path)
        self.expected = load_expected(self.name)
        self.n = 0

    def unit(self) -> Unit:
        from rdf2smw_spark.plans.pipeline import run_web_pipeline

        wd = os.path.join(self.work, f"run{self.n}")
        self.n += 1
        t0 = time.perf_counter()
        res = run_web_pipeline(self.spark, self.pages, wd, sparql=CURATE_QUERY, **CURATE_GATES)
        wall = time.perf_counter() - t0
        got = {k: v for k, v in res.items() if k not in ("run_id", "sparql")}
        got["pages_xml_digest"] = table_digest(os.path.join(wd, "pages_xml"), ["title", "xml"])
        q = res["sparql"]
        got["sparql"] = {
            "form": q["form"], "n_rows": q["n_rows"], "columns": q["columns"],
            "digest": table_digest(q["result"], q["columns"]),
        }
        ok = got == self.expected
        if not ok and self.expected is not None:
            print(f"perfbench: web_curate mismatch: {got}", flush=True)
        shutil.rmtree(wd)
        return Unit(wall, ok, res["triples"], res["pages_in"], got)


WORKLOADS = {"nt_convert": NtConvert, "web_curate": WebCurate}
