"""Round-3 hardening: broadcast guards, cache lifecycle, resume
fingerprinting, and the fuzzy LINK sub-stage (VERDICT r2 items 1, 3-6 +
ADVICE items)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from rdf2smw_spark.extract import extract_text, latest_capture
from rdf2smw_spark.plans.pipeline import run_web_pipeline
from rdf2smw_spark.sources.webpages import synth_pages


# --- class_edges broadcast guard (VERDICT #3) --------------------------------------


def _edge_triples(spark, n=200):
    """A many-distinct-class-objects layer: every instance types into its
    OWN class (the adversarial web shape where cat_nodes is as large as
    the edge set), plus a small subclass chain on top."""
    from rdf2smw_spark.schemas import SUBCLASS_PROPERTY_URI, TYPE_PROPERTY_URI

    rows = [
        (f"http://x/i{i}", TYPE_PROPERTY_URI, f"http://x/C{i}", True, None, None)
        for i in range(n)
    ] + [
        (f"http://x/C{i}", SUBCLASS_PROPERTY_URI, f"http://x/C{i // 2}", True, None, None)
        for i in range(1, n)
    ]
    return spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_iri boolean, "
        "obj_datatype string, src_url string",
    )


def test_class_edges_shuffle_fallback_same_result(spark):
    """The semi-join probe carries NO broadcast hint: AQE broadcasts a
    small class-node set and keeps a shuffle join for an adversarial one
    (many distinct rdf:type objects). Force the shuffle path by zeroing
    the adaptive broadcast threshold and assert identical results."""
    from rdf2smw_spark.operators.dimensions import class_edges

    t = _edge_triples(spark)
    key = lambda df: sorted(map(tuple, df.select("src", "dst").collect()))
    bc = key(class_edges(t))  # AQE free to broadcast the tiny probe
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        sh = key(class_edges(t))  # broadcast disabled -> shuffle semi-join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
    assert bc == sh and len(bc) > 0


def test_class_depth_unaffected_by_guard(spark):
    from rdf2smw_spark.operators.dimensions import class_depth

    t = _edge_triples(spark, n=32)
    base = {r["uri"]: r["depth"] for r in class_depth(spark, t).collect()}
    # the subclass chain C31 -> C15 -> C7 -> C3 -> C1 -> C0 (instances
    # are instance-level edges, correctly pruned from the class walk)
    assert base["http://x/C0"] == 0 and base["http://x/C1"] == 1
    assert base["http://x/C31"] == 5
    assert not any(u.startswith("http://x/i") for u in base)


# --- decontamination broadcast fallback (VERDICT #6) -------------------------------


def test_decontaminate_fallback_identical(spark):
    from rdf2smw_spark.operators.text_analysis import decontaminate

    leaked = "alpha beta gamma delta epsilon zeta eta theta iota"
    train = spark.createDataFrame(
        [(1, f"prefix {leaked} suffix words here"), (2, "clean words only " * 5)],
        "doc_id int, text string",
    )
    bm = spark.createDataFrame([(leaked,)], "text string")
    key = lambda df: sorted(map(tuple, df.collect()))
    a = key(decontaminate(train, bm))                      # broadcast path
    b = key(decontaminate(train, bm, broadcast_limit=1))   # shuffle fallback
    assert a == b
    flags = dict((r[0], r[2]) for r in a)
    assert flags == {1: True, 2: False}


# --- scoped cache lifecycle (VERDICT #5) -------------------------------------------


def test_registry_sweep_releases_all_scoped_caches(spark, sf_dir):
    from rdf2smw_spark.queries import QUERIES
    from rdf2smw_spark.session import release_scoped_caches

    # Track RDD IDS, not counts: earlier tests' terminal localCheckpoint
    # RDDs (iterative loops keep their LAST checkpoint alive — the
    # result reads it) are reaped ASYNCHRONOUSLY by the ContextCleaner
    # once their DataFrames are GC'd, so absolute counts can shrink (or
    # not) at any moment during this test and both == and <= on sizes
    # are racy. The invariant under test is exactly: every persistent
    # RDD the sweep itself registered is gone after the release — which
    # the id-set difference states directly, immune to concurrent
    # cleanup of OLD ids.
    def ids() -> set:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    release_scoped_caches()
    base_ids = ids()
    for name in [
        "dd_minhash_near_dups",
        "ann_topk_lsh",
        "dd_embed_cosine_lsh",
        "link_fuzzy",
        "ann_topk_ivf",
        "kg_fact_rows",
        "kg_sparql_ivm_minmax",
    ]:
        QUERIES[name](spark, sf_dir).count()
    new_ids = ids() - base_ids
    assert new_ids, "caching queries should have registered persists"
    # blocking=True: the default non-blocking unpersist removes entries
    # from the persistent-RDD map ASYNCHRONOUSLY, so the immediate
    # id-set assertion below flakes on a loaded machine
    released = release_scoped_caches(blocking=True)
    assert released > 0
    assert not (ids() & new_ids), "sweep-registered persists must all be gone"


def test_scoped_local_checkpoint_releases_backing_blocks(spark):
    # Dataset.unpersist on a localCheckpointed frame only clears
    # CacheManager entries, not the checkpoint's RDD-level blocks; the
    # scoped handle must unpersist the LogicalRDD's backing RDD so the
    # conversion-source checkpoint doesn't outlive release_scoped_caches
    from rdf2smw_spark.session import (
        release_scoped_caches,
        scoped_local_checkpoint,
    )

    def ids() -> set:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    release_scoped_caches(blocking=True)
    base_ids = ids()
    ck = scoped_local_checkpoint(spark.range(1000).selectExpr("id", "id * 2 as x"))
    assert ck.count() == 1000
    new_ids = ids() - base_ids
    assert new_ids, "localCheckpoint should register a persistent RDD"
    release_scoped_caches(blocking=True)
    assert not (ids() & new_ids), "checkpoint blocks must be gone after release"


def _fixpoint_family(spark, monkeypatch, family):
    """One call per iterative-loop family, on inputs that take several
    rounds (and the distributed path where a driver path exists)."""
    from rdf2smw_spark.schemas import SUBCLASS_PROPERTY_URI, TRIPLE_SCHEMA

    chain = [(f"n{i}", f"n{i + 1}") for i in range(6)]
    if family == "connected_components":
        from rdf2smw_spark.operators import dedup as dd

        monkeypatch.setattr(dd, "CC_EDGE_COLLECT_LIMIT", -1)
        docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
        )
        return dd.dedup_clusters(docs, edges)
    if family == "rdfs_closure":
        from rdf2smw_spark.operators.rdfs import _transitive_closure_distributed

        return _transitive_closure_distributed(
            spark.createDataFrame(chain, "uri string, anc string"), 10
        )
    if family == "class_ancestors":
        from rdf2smw_spark.operators.sameas import class_ancestors

        rows = [(a, SUBCLASS_PROPERTY_URI, b, True, None, "t") for a, b in chain]
        return class_ancestors(spark.createDataFrame(rows, TRIPLE_SCHEMA))
    if family == "path_closure":
        from rdf2smw_spark.sparql import _path_closure

        rel = spark.createDataFrame(
            [(a, True, None, b, True, None) for a, b in chain],
            "s string, s_iri boolean, s_dt string, o string, o_iri boolean, o_dt string",
        )
        return _path_closure(rel)
    if family == "power_iteration":
        from rdf2smw_spark.operators.graph import pagerank

        return pagerank(spark.createDataFrame(chain, "src string, dst string"))
    assert family == "class_depth"
    from rdf2smw_spark.operators.dimensions import class_depth_fixpoint

    return class_depth_fixpoint(
        spark, spark.createDataFrame(chain, "src string, dst string"), max_depth=10
    )


@pytest.mark.parametrize("family", [
    "connected_components", "rdfs_closure", "class_ancestors",
    "path_closure", "power_iteration", "class_depth",
])
def test_fixpoint_releases_superseded_checkpoints(spark, monkeypatch, family):
    """session.fixpoint releases every superseded round as soon as its
    successor is materialized: after the call at most the final state's
    checkpoint is still registered (loop-local persists are released
    too), and release_scoped_caches frees that one."""
    from rdf2smw_spark.session import release_scoped_caches

    def ids() -> set:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    release_scoped_caches(blocking=True)
    base_ids = ids()
    out = _fixpoint_family(spark, monkeypatch, family)
    assert len(ids() - base_ids) <= 1, "superseded rounds must be released"
    assert out.count() > 0
    assert release_scoped_caches(blocking=True) >= 1
    assert not (ids() - base_ids), "no checkpoint may outlive release"


# --- resume fingerprinting (ADVICE r2, medium) -------------------------------------


def test_gate_change_invalidates_resume(spark, sf_dir, tmp_path):
    """Enabling/changing --min-quality on an existing work_dir must take
    effect under resume (constant stage keys used to make it a no-op),
    an identical re-run must still resume, and disabling the gate must
    fall back to the original ungated snapshots."""
    from rdf2smw_spark.operators.text_analysis import quality_score

    pages = synth_pages(spark, sf_dir).limit(40)
    work = str(tmp_path / "w")
    r1 = run_web_pipeline(spark, pages, work, resume=True)

    ext = extract_text(latest_capture(pages))
    qs = sorted(
        r["quality"]
        for r in quality_score(ext.select(F.col("url").alias("doc_id"), "text")).collect()
    )
    thr = qs[len(qs) // 2]  # median: drops roughly half
    n_keep = sum(q >= thr for q in qs)
    assert 0 < n_keep < len(qs)

    r2 = run_web_pipeline(spark, pages, work, resume=True, min_quality=thr)
    assert r2["extracted"] == n_keep < r1["extracted"]
    assert r2["triples"] < r1["triples"]

    # identical gated config -> full resume, nothing recomputed
    n_lin = spark.read.parquet(os.path.join(work, "_lineage")).count()
    r3 = run_web_pipeline(spark, pages, work, resume=True, min_quality=thr)
    assert spark.read.parquet(os.path.join(work, "_lineage")).count() == n_lin
    assert r3["extracted"] == r2["extracted"]

    # gate off again -> ungated results return (not the gated snapshots)
    r4 = run_web_pipeline(spark, pages, work, resume=True)
    assert r4["triples"] == r1["triples"]
    assert r4["extracted"] == r1["extracted"]


def test_no_resume_flag_recomputes(spark, sf_dir, tmp_path):
    pages = synth_pages(spark, sf_dir).limit(20)
    work = str(tmp_path / "w")
    run_web_pipeline(spark, pages, work, resume=True)
    n_lin = spark.read.parquet(os.path.join(work, "_lineage")).count()
    run_web_pipeline(spark, pages, work, resume=False)
    assert spark.read.parquet(os.path.join(work, "_lineage")).count() > n_lin


def test_cli_has_no_resume(capsys):
    """--no-resume must parse (BooleanOptionalAction); the old store_true
    default=True could never be disabled from the CLI."""
    import argparse

    from rdf2smw_spark.__main__ import main

    try:
        main(["--out", "/tmp/x", "--mode", "web", "--no-resume"])
    except SystemExit:
        pass  # missing --pages errors out AFTER flag parsing succeeds
    err = capsys.readouterr().err
    assert "unrecognized arguments" not in err


# --- fuzzy LINK sub-stage (VERDICT #4) ---------------------------------------------


def _typo_pages(spark):
    html = (
        b"<html><head><title>Apache Sparkk</title></head>"
        b"<body><p>body text about engines</p></body></html>"
    )
    return spark.createDataFrame(
        [("https://t.example/1", datetime(2024, 1, 1), bytearray(html), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def _spark_dict(spark):
    return spark.createDataFrame(
        [("apache spark", "http://example.org/entity/apache_spark", 1)],
        "surface string, uri string, priority int",
    )


def test_link_triples_fuzzy_resolves_typo(spark):
    from rdf2smw_spark.operators.linking import link_triples, link_triples_fuzzy
    from rdf2smw_spark.triplify import triplify

    triples = triplify(_typo_pages(spark))
    d = _spark_dict(spark)
    exact = link_triples(triples, d).filter(F.col("pred").endswith("title")).first()
    assert not exact["obj_is_iri"]  # exact pass can't resolve the typo
    fuzzy = link_triples_fuzzy(triples, d, threshold=0.5).filter(
        F.col("pred").endswith("title")
    ).first()
    assert fuzzy["obj"] == "http://example.org/entity/apache_spark"
    assert fuzzy["obj_is_iri"] and fuzzy["obj_datatype"] is None


def test_pipeline_fuzzy_link_stage(spark, tmp_path):
    """End-to-end: a planted typo'd title resolves to the canonical URI
    through the checkpointed LINK stage with --fuzzy-link-threshold."""
    res = run_web_pipeline(
        spark,
        _typo_pages(spark),
        str(tmp_path / "w"),
        resume=False,
        entity_dict=_spark_dict(spark),
        fuzzy_link_threshold=0.5,
    )
    assert res["triples"] > 0
    linked = spark.read.parquet(str(tmp_path / "w" / "linked_triples"))
    t = linked.filter(F.col("pred").endswith("title")).first()
    assert t["obj"] == "http://example.org/entity/apache_spark"
    assert t["obj_is_iri"]


def test_link_fuzzy_ambiguous_dict_surface(spark):
    """Regression (round-3 review): a dictionary with the SAME surface
    under two URIs (the ambiguity the priority column exists for) must
    yield the same jaccard as a single-row dict — duplicate surfaces
    once double-counted every shingle and produced jaccard > 1."""
    from rdf2smw_spark.operators.linking import link_fuzzy

    mentions = spark.createDataFrame([("apache sparkk",)], "mention string")
    single = spark.createDataFrame(
        [("apache spark", "http://e/u1", 1)], "surface string, uri string, priority int"
    )
    dup = spark.createDataFrame(
        [("apache spark", "http://e/u1", 1), ("apache spark", "http://e/u2", 2)],
        "surface string, uri string, priority int",
    )
    base = link_fuzzy(mentions, single, threshold=0.5).collect()
    got = link_fuzzy(mentions, dup, threshold=0.5).collect()
    assert len(base) == 1 and 0 < base[0]["jaccard"] <= 1.0
    # both uris surface as candidates, each with the CORRECT jaccard
    assert sorted(r["uri"] for r in got) == ["http://e/u1", "http://e/u2"]
    assert all(r["jaccard"] == base[0]["jaccard"] for r in got)


def test_cli_fuzzy_without_dict_errors(capsys):
    from rdf2smw_spark.__main__ import main

    try:
        main(["--out", "/tmp/x", "--mode", "web", "--pages", "/tmp/p",
              "--fuzzy-link-threshold", "0.5"])
    except SystemExit:
        pass
    assert "requires --entity-dict" in capsys.readouterr().err


# --- no per-Column call-site capture ------------------------------------------


def test_session_builds_plans_without_call_site_capture(spark, monkeypatch):
    """get_spark turns PySpark's DataFrame debugging off: building the
    conversion and render plans captures no Python call site (no stack
    walk, no IPython import attempt, no PySparkCurrentOrigin round
    trips)."""
    import pyspark.errors.utils as perr

    from rdf2smw_spark.operators.convert import triples_to_pages
    from rdf2smw_spark.operators.render import render_all
    from rdf2smw_spark.schemas import TRIPLE_SCHEMA, TYPE_PROPERTY_URI
    from rdf2smw_spark.session import release_scoped_caches

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    calls = []
    capture = perr._capture_call_site
    monkeypatch.setattr(perr, "_capture_call_site",
                        lambda depth: calls.append(depth) or capture(depth))
    monkeypatch.setattr(perr, "_enable_debugging_cache", None)  # re-read the conf
    triples = spark.createDataFrame([
        ("http://x/a", TYPE_PROPERTY_URI, "http://x/C", True, None, None),
        ("http://x/a", "http://x/p", "v", False, None, None),
        ("http://x/b", "http://x/p", "w", False, None, None),
    ], TRIPLE_SCHEMA)
    try:
        render_all(triples_to_pages(spark, triples, n_salt=1))
    finally:
        release_scoped_caches()
    assert calls == []
