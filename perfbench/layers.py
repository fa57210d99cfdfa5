"""Per-layer metrics of the traced run: the span names the wrappers
record, and the `<module>.<function>[.<stage>].<measure>` metric list."""

from __future__ import annotations

import os

from spans import EventLog, SpanRecorder, Wrapped, span_figures, union_length

WEB_STAGES = [
    "text_extracted", "quality_filtered", "repetition_filtered", "near_deduped",
    "raw_triples", "entailed_triples", "wiki_pages", "pages_xml", "properties_xml",
    "templates_xml",
]
PYTHON_STAGES = ["text_extracted", "raw_triples"]
GAP_SPANS = ["pipeline.near_dedup_pages", "dedup.minhash_near_dups", "dedup.dedup_clusters"]
PIPELINES = ("pipeline.run_nt_pipeline", "pipeline.run_web_pipeline")
# spans after which a pipeline's epilogue starts: its last output
STAGE_PREFIXES = ("lineage.materialize.", "render.collect_xml_file")
QUERY, RELEASE = "sparql.sparql_query", "session.release_scoped_caches"

# (defining module, function, span name)
FUNCTIONS = [
    ("rdf2smw_spark.plans.pipeline", "run_nt_pipeline", "pipeline.run_nt_pipeline"),
    ("rdf2smw_spark.plans.pipeline", "run_web_pipeline", "pipeline.run_web_pipeline"),
    ("rdf2smw_spark.sources.ntriples", "read_ntriples", "sources.ntriples.read"),
    ("rdf2smw_spark.operators.convert", "triples_to_pages", "convert.triples_to_pages"),
    ("rdf2smw_spark.operators.render", "render_all", "render.render_all"),
    ("rdf2smw_spark.operators.render", "collect_xml_file", "render.collect_xml_file"),
    ("rdf2smw_spark.plans.pipeline", "near_dedup_pages", "pipeline.near_dedup_pages"),
    ("rdf2smw_spark.operators.dedup", "minhash_near_dups", "dedup.minhash_near_dups"),
    ("rdf2smw_spark.operators.dedup", "dedup_clusters", "dedup.dedup_clusters"),
    ("rdf2smw_spark.plans.pipeline", "entail_triples", "pipeline.entail_triples"),
    ("rdf2smw_spark.operators.rdfs", "rdfs_entail", "rdfs.rdfs_entail"),
    ("rdf2smw_spark.sparql", "sparql_query", QUERY),
]


def metric_names() -> list[str]:
    names = ["sources.ntriples.read.wall_s", "sources.ntriples.read.python_s"]
    names += [f"convert.triples_to_pages.{m}" for m in ("wall_s", "jobs", "driver_gap_s", "shuffle_write_mb")]
    names += ["render.render_all.wall_s", "render.collect_xml_file.wall_s", "render.collect_xml_file.jobs"]
    for st in WEB_STAGES:
        names += [f"lineage.materialize.{st}.{m}" for m in ("wall_s", "jobs", "rows_out")]
        if st in PYTHON_STAGES:
            names.append(f"lineage.materialize.{st}.python_s")
    names += ["pipeline.epilogue.wall_s", "pipeline.epilogue.jobs"]
    for sp in GAP_SPANS:
        names += [f"{sp}.{m}" for m in ("wall_s", "jobs", "driver_gap_s")]
    names.append("pipeline.near_dedup_pages.self_s")
    names += ["pipeline.entail_triples.wall_s", "pipeline.entail_triples.self_s", "pipeline.entail_triples.jobs"]
    names += [f"{QUERY}.{m}" for m in ("plan_s", "exec_s", "jobs")]
    names += ["rdfs.rdfs_entail.wall_s", "rdfs.rdfs_entail.jobs"]
    names += [f"spark.{m}" for m in (
        "jobs_total", "shuffle_write_mb_total", "spill_mb_total", "executor_cpu_s_total", "python_s_total")]
    names += ["session.release_scoped_caches.released", "trace.wall_s", "trace.unattributed_frac"]
    return names


def unit_of(metric: str) -> str:
    measure = metric.rsplit(".", 1)[1]
    if measure == "unattributed_frac":
        return "fraction"
    if measure.endswith(("_s", "_s_total")):
        return "s"
    if "_mb" in measure:
        return "MB"
    return "count"


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def install(rec: SpanRecorder) -> Wrapped:
    """Wrap the measured functions and `CheckpointStore.materialize`.
    Builders are wrapped as well as the stage writes because some of them
    (`near_dedup_pages`, `triples_to_pages`) run Spark jobs when called."""
    import importlib

    from rdf2smw_spark.plans.lineage import CheckpointStore

    w = Wrapped()
    for module, attr, name in FUNCTIONS:
        importlib.import_module(module)
        w.function(rec, module, attr, name)
    w.function(
        rec, "rdf2smw_spark.session", "release_scoped_caches", "session.release_scoped_caches",
        on_result=lambda sp, n: sp.counts.__setitem__("released", n),
    )

    orig = CheckpointStore.materialize

    def materialize(store, df, stage, *args, **kwargs):
        with rec.span(f"lineage.materialize.{stage}") as sp:
            out = orig(store, df, stage, *args, **kwargs)
        # footers only: no Spark job, outside the stage's span
        sp.counts["rows_out"] = _parquet_rows(store.stage_path(stage))
        return out

    w.replace(CheckpointStore, "materialize", materialize)
    return w


def _tail(rec: SpanRecorder, top):
    """After a pipeline's last output: the epilogue intervals (result
    counts and cache release) and, when the pipeline runs a query, the
    query's compile span and the end of its execution (the cache
    release that follows it)."""
    kids = rec.children(top.id)
    ends = [c.end for c in kids if c.name.startswith(STAGE_PREFIXES)]
    if not ends:
        return [], None, None
    start = max(ends)
    query = next((c for c in kids if c.name == QUERY and c.start >= start), None)
    if query is None:
        return [(start, top.end)], None, None
    release = next((c.start for c in kids if c.name == RELEASE and c.start >= query.end), top.end)
    return [(start, query.start), (release, top.end)], query, release


def layer_metrics(rec: SpanRecorder, log: EventLog, n_units: int, timed_s: float) -> dict[str, float]:
    """Per-unit means of every per-layer metric (0 for a layer the
    workload does not reach). `timed_s` is the units' total timed wall:
    the share of it that no top-level span covers is unattributed."""
    acc: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        acc[key] = acc.get(key, 0.0) + v

    tops = [s for s in rec.spans if s.parent is None and s.name in PIPELINES]
    timed = set().union(*(rec.subtree_ids(t.id) for t in tops))
    covered = 0.0
    for sp in rec.spans:
        if sp.id not in timed:
            continue
        if sp.name != QUERY:  # figured with its pipeline's tail below
            figs = span_figures(rec, log, sp)
            for m in ("wall_s", "self_s", "jobs", "driver_gap_s", "shuffle_write_mb", "python_s"):
                add(f"{sp.name}.{m}", figs[m])
            for k, v in sp.counts.items():
                add(f"{sp.name}.{k}", v)
        if sp.name not in PIPELINES:
            continue
        epilogue, query, query_end = _tail(rec, sp)
        kids = [(c.start, c.end) for c in rec.children(sp.id)]
        if epilogue:
            efigs = span_figures(rec, log, sp, epilogue)
            add("pipeline.epilogue.wall_s", efigs["wall_s"])
            add("pipeline.epilogue.jobs", efigs["jobs"])
            kids += epilogue
        if query:
            add(f"{QUERY}.plan_s", query.wall)
            add(f"{QUERY}.exec_s", query_end - query.end)
            add(f"{QUERY}.jobs", span_figures(rec, log, sp, [(query.start, query_end)])["jobs"])
            kids.append((query.start, query_end))
        covered += union_length(kids)

    totals = log.stage_totals(timed)
    acc["spark.jobs_total"] = len(log.jobs_of(timed))
    acc["spark.shuffle_write_mb_total"] = totals.shuffle_write_b / 1e6
    acc["spark.spill_mb_total"] = totals.spill_b / 1e6
    acc["spark.executor_cpu_s_total"] = totals.cpu_ns / 1e9
    acc["spark.python_s_total"] = sum(totals.python_ms.values()) / 1000.0
    if "sources.ntriples.read.wall_s" in acc:
        # the parse runs inside the conversion's jobs, not inside the lazy reader
        acc["sources.ntriples.read.python_s"] = totals.python_ms.get("MapInPandas", 0) / 1000.0

    n = max(n_units, 1)
    out = {m: acc.get(m, 0.0) / n for m in metric_names()}
    out["trace.wall_s"] = timed_s / n
    out["trace.unattributed_frac"] = max(0.0, 1.0 - covered / timed_s) if timed_s else 0.0
    return out
