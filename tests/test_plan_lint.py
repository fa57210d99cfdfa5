"""Plan lint across the whole query registry: no registered query may
plan an UNPARTITIONED window — `Window.orderBy(...)` with no
partitionBy funnels the entire input through one reducer for the sort,
the single worst 100-TB anti-pattern (round-3 verdict #1/#2; both
offenders were rewritten as TakeOrderedAndProject). This test keeps
the whole registry honest as it grows.

Detection reads the optimized plan: a `windowspecdefinition(...)` whose
FIRST argument carries an ASC/DESC marker has an empty partition spec
(partition columns precede the ordering columns and carry no marker).
"""

import re

import pytest

from rdf2smw_spark.queries import QUERIES
from rdf2smw_spark.session import release_scoped_caches

_WSD = re.compile(r"windowspecdefinition\(([^()]*?(?:\([^()]*\)[^()]*?)*)\)")


def _unpartitioned_windows(plan: str) -> list[str]:
    bad = []
    for m in _WSD.finditer(plan):
        first_arg = m.group(1).split(",", 1)[0]
        if " ASC" in first_arg or " DESC" in first_arg:
            bad.append(m.group(0)[:120])
    return bad


# Queries ALLOWED to plan a cross join, each with the reason it is not a
# 100-TB anti-pattern. Anything else that plans `Join Cross` fails the
# lint — a new query must either avoid the cartesian or document it here.
_CROSS_OK = {
    # exact all-pairs scan is the operator's documented ORACLE role — at
    # web scale these run on samples; the banded/bucketed variant is the
    # production path (dedup.py / similarity.py contracts)
    "ann_topk": "exact oracle-role quadratic (contract: sample-only)",
    "dd_embed_cosine": "exact oracle-role quadratic (contract: sample-only)",
    "dd_lsh_quality": "quality report needs the exact side as ground truth",
    "ann_ivf_recall": "quality report needs the exact side as ground truth",
    # cross vs a KB-scale broadcast dim (centroids / codebooks): every
    # row scores against all k centroids by design — BroadcastNestedLoop
    # with a tiny build side, no shuffle
    "ann_topk_ivf": "broadcast KB-scale centroid table",
    "ann_topk_pq": "broadcast KB-scale PQ codebooks",
    "ann_hard_negatives": "broadcast KB-scale centroid table (IVF pool)",
    "ivf_kmeans_assign": "broadcast KB-scale trained centroids",
    # cross vs a ONE-ROW aggregate (corpus totals): scalar broadcast
    "kg_skew_profile": "1-row totals join (mean in-degree)",
    "link_pmi": "1-row totals join (corpus token count)",
    "search_bm25": "1-row totals join (avg doc length)",
    "ta_mixture_weights": "1-row totals join (corpus size)",
    "ta_tfidf_terms": "1-row totals join (corpus N for idf)",
    # SPARQL disjoint OPTIONAL: the branch shares no variables, so the
    # non-empty arm IS a cross join by left-join semantics; the branch
    # is a selective pattern (label-filtered, few rows), never the corpus
    "kg_sparql_optional_disjoint": "disjoint OPTIONAL extends by a selective branch",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_lint(spark, sf_dir, name):
    """One pass over each registered query's plans, three lints:

    1. no UNPARTITIONED window (single-reducer global sort);
    2. no row-at-a-time Python UDF (BatchEvalPython) — Python must enter
       plans only through Arrow (ArrowEvalPython / mapInPandas);
    3. no cross join outside the documented _CROSS_OK whitelist.
    """
    df = QUERIES[name](spark, sf_dir)
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bad = _unpartitioned_windows(plan)
        assert not bad, f"{name} plans a single-reducer window: {bad}"
        if name not in _CROSS_OK:
            assert "Join Cross" not in plan, (
                f"{name} plans an unlisted cartesian — either remove it or "
                "document why it is safe in _CROSS_OK"
            )
        phys = df._jdf.queryExecution().sparkPlan().toString()
        assert "BatchEvalPython" not in phys, (
            f"{name} plans a row-at-a-time Python UDF — use built-in "
            "functions or an Arrow-batched pandas UDF"
        )
    finally:
        release_scoped_caches()


# --- source lint: one materialization policy ---------------------------------
#
# Iterative operators checkpoint through session.fixpoint, one-off
# snapshots through session.scoped_local_checkpoint (so
# release_scoped_caches frees them), and driver collects are size-guarded
# through session.guarded_collect. A bare .localCheckpoint( or a
# limit(L + 1).toPandas() probe anywhere else is a second policy.
_LOCAL_CHECKPOINT_OK = {
    "session.py": None,  # the kernel and the scoped checkpoint: any number
}
_GUARDED_COLLECT = re.compile(r"limit\([^()]*\+\s*1\)\s*\.toPandas\(\)")
# Every iterative loop, by file. pagerank and personalized_pagerank share
# one power iteration, sameas.uri_components calls dedup.dedup_clusters
# (the one connected-components loop), and sameas.class_ancestors calls
# rdfs._transitive_closure_distributed (the one reachability closure): a
# second copy of any of them would add a site here.
_FIXPOINT_SITES = {
    "operators/graph.py": 5,  # power iteration, bfs, lp, hits, kcore
    "operators/rdfs.py": 2,  # the reachability closure, owl_entail
    "operators/dedup.py": 1,  # connected components
    "operators/dimensions.py": 1,  # class_depth_fixpoint
    "sparql.py": 2,  # property-path closure, DESCRIBE blank chains
    "operators/similarity.py": 1,  # ivf_train
    "operators/fusion.py": 1,  # fuse_trust
    "operators/bpe.py": 1,  # bpe_train
}


def test_source_lint_one_fixpoint_and_guarded_collect():
    import pathlib

    import rdf2smw_spark

    root = pathlib.Path(rdf2smw_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        n = src.count(".localCheckpoint(")
        allowed = _LOCAL_CHECKPOINT_OK.get(rel, 0)
        if allowed is not None:
            assert n == allowed, (
                f"{rel}: {n} .localCheckpoint( call(s), expected {allowed} — "
                "iterate through session.fixpoint or snapshot through "
                "session.scoped_local_checkpoint instead"
            )
        n_fix = len(re.findall(r"(?<![\w.])fixpoint\(", src))
        if rel != "session.py":
            assert n_fix == _FIXPOINT_SITES.get(rel, 0), (
                f"{rel}: {n_fix} fixpoint loop(s), expected "
                f"{_FIXPOINT_SITES.get(rel, 0)} — reuse the existing loop"
            )
            assert not _GUARDED_COLLECT.search(src), (
                f"{rel}: hand-rolled limit(L + 1).toPandas() guard — "
                "use session.guarded_collect"
            )


# --- source lint: output rows reach the driver through one writer -----------
#
# nt mode streams its three XML documents through render.collect_xml_file
# (one sorted pass, a partition at a time); a .collect() in the renderer
# or a plan would hold a whole output on the driver, and a pages.count()
# in run_nt_pipeline would run the conversion again after the write.
def test_source_lint_output_reaches_driver_through_the_writer():
    import inspect
    import pathlib

    import rdf2smw_spark
    from rdf2smw_spark.plans.pipeline import run_nt_pipeline

    root = pathlib.Path(rdf2smw_spark.__file__).parent
    paths = [root / "operators" / "render.py", *sorted((root / "plans").glob("*.py"))]
    collects = [p.relative_to(root).as_posix() for p in paths if ".collect()" in p.read_text()]
    assert not collects, f".collect() in {collects} — write output through collect_xml_file"
    assert "pages.count()" not in inspect.getsource(run_nt_pipeline), (
        "run_nt_pipeline recounts the conversion — use the writer's counts"
    )


# --- source lint: one RDF parse loop -----------------------------------------
#
# Every RDF reader (N-Triples/N-Quads lines, Turtle documents, JSON-LD
# lines) decodes through sources/ntriples.parse_units, the one
# Arrow-batched loop that builds quarantine rows. A second mapInPandas
# under sources/ would be a reader forking that loop again.
def test_source_lint_one_rdf_parse_loop():
    import pathlib

    import rdf2smw_spark

    sources = pathlib.Path(rdf2smw_spark.__file__).parent / "sources"
    sites = {
        path.name: n
        for path in sorted(sources.glob("*.py"))
        if (n := path.read_text().count(".mapInPandas("))
    }
    assert sites == {"ntriples.py": 1}, (
        f".mapInPandas( sites under sources/: {sites} — parse through "
        "sources.ntriples.parse_units"
    )


# --- reachability lint: every module has a caller ---------------------------
#
# The engine is entered through three roots: the CLI, the checkpointed
# pipeline and the declared query registry. A module none of them
# imports (module-level or inside a function) is code only tests run.
_ROOTS = (
    "rdf2smw_spark.__main__",
    "rdf2smw_spark.plans.pipeline",
    "rdf2smw_spark.queries",
)


def _module_path(root, name):
    """File of package module `name` (dotted, under rdf2smw_spark), or None."""
    rel = root.joinpath(*name.split(".")[1:])
    for path in (rel.with_suffix(".py"), rel / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_names(tree, package):
    """Dotted names of every module an import in `tree` may load;
    `package` anchors relative imports."""
    import ast
    import importlib.util

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = importlib.util.resolve_name(
                "." * node.level + (node.module or ""), package
            )
            yield base
            # `from pkg import mod` imports a submodule
            yield from (f"{base}.{a.name}" for a in node.names)


def test_every_module_reachable_from_cli_pipeline_or_queries():
    import ast
    import pathlib

    import rdf2smw_spark

    root = pathlib.Path(rdf2smw_spark.__file__).parent
    reached, todo = set(), list(_ROOTS)
    while todo:
        name = todo.pop()
        path = _module_path(root, name)
        if name in reached or path is None:
            continue
        reached.add(name)
        tree = ast.parse(path.read_text())
        package = name if path.name == "__init__.py" else name.rpartition(".")[0]
        for dep in _imported_names(tree, package):
            parts = dep.split(".")
            if parts[0] == "rdf2smw_spark":
                # importing a.b.c runs the a and a.b package inits too
                todo.extend(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    modules = {
        path.relative_to(root).with_suffix("").as_posix().replace("/", ".")
        for path in root.rglob("*.py")
        if path.name != "__init__.py"
    }
    unreached = sorted(m for m in modules if f"rdf2smw_spark.{m}" not in reached)
    assert not unreached, (
        f"modules no CLI, pipeline or declared query imports: {unreached} — "
        "give each a caller from one of those roots or delete it"
    )


# --- source lint: one view parse and one delta merge in IVM -------------------
#
# operators/ivm.py parses a view query at one site (_view_query, under the
# one shape classifier) and merges a delta into maintained state at one
# site (_merge). The second .unionByName( splices the min/max groups a
# delete touched back in after their rescan: disjoint keys, not a merge.
# A family that parsed the query or merged deltas itself would add a site.
def test_source_lint_one_ivm_parse_and_merge():
    import pathlib

    import rdf2smw_spark

    src = (pathlib.Path(rdf2smw_spark.__file__).parent / "operators" / "ivm.py").read_text()
    assert src.count("parse_sparql(") == 1, "parse view queries through ivm._view_query"
    assert src.count(".unionByName(") == 2, "merge deltas through ivm._merge"


# --- source lint: one RDFS rule applier ----------------------------------------
#
# operators/rdfs.py applies the instance-side rules at one site,
# _apply_rules (one join against the per-predicate action table plus the
# asserted-type lift), for the full entailment and the incremental
# maintenance alike. A second rule chain would need its own proof that
# it agrees with the first.
def test_source_lint_one_rdfs_rule_applier():
    import ast
    import pathlib

    import rdf2smw_spark

    src = (pathlib.Path(rdf2smw_spark.__file__).parent / "operators" / "rdfs.py").read_text()
    callers = sorted(
        fn.name
        for fn in ast.parse(src).body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "_apply_rules"
    )
    assert callers == ["rdfs_entail", "rdfs_entail_incremental"], (
        f"_apply_rules called from {callers} — entail through rdfs_entail"
    )
    for gone in ("_forward_rules", "_broadcast_known", "_collect_small"):
        assert gone not in src, f"{gone} is back in operators/rdfs.py"


# --- source lint: one session factory ------------------------------------------
#
# session.get_spark is the one place every session is built, so the
# static confs it sets (among them the per-Column call-site capture
# turned off) hold for the CLI, both pipelines, the bench harnesses, the
# tools, the scripts and the tests. A second builder would silently
# bring PySpark's defaults back. perfbench/ builds through get_spark too
# but is the benchmark's own tree, so it is not scanned.
def test_source_lint_one_session_factory():
    import pathlib

    import rdf2smw_spark

    repo = pathlib.Path(rdf2smw_spark.__file__).parent.parent
    this = pathlib.Path(__file__).resolve()
    sites = []
    for path in sorted(repo.rglob("*.py")):
        parts = path.relative_to(repo).parts
        if parts[0] == "perfbench" or path.resolve() == this or any(
            p.startswith(".") for p in parts
        ):
            continue
        if "SparkSession.builder" in path.read_text():
            sites.append("/".join(parts))
    assert sites == ["rdf2smw_spark/session.py"], (
        f"SparkSession.builder in {sites} — build sessions through session.get_spark"
    )
