"""EXTRACT/TRIPLIFY invariants + checkpoint/resume semantics."""

import glob
import hashlib
import os

from pyspark.sql import functions as F

from rdf2smw_spark.extract import extract_text, latest_capture, py_extract_text
from rdf2smw_spark.plans.pipeline import run_web_pipeline
from rdf2smw_spark.sources.webpages import synth_pages
from rdf2smw_spark.triplify import triplify


def test_extract_byte_identical_per_url(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    a = extract_text(pages).select("url", "warc_ts", "text").toPandas()
    b = extract_text(pages.repartition(13)).select("url", "warc_ts", "text").toPandas()
    ka = {(r.url, r.warc_ts): hashlib.sha256(r.text.encode()).hexdigest() for r in a.itertuples()}
    kb = {(r.url, r.warc_ts): hashlib.sha256(r.text.encode()).hexdigest() for r in b.itertuples()}
    assert ka == kb
    assert len(ka) > 0


def test_extract_rules(spark):
    html = (
        b"<html><head><title>T</title></head><body><nav>n</nav>"
        b"<script>var x=1;</script><p>Hello &amp; world</p>"
        b"<footer>f</footer></body></html>"
    )
    assert py_extract_text(html.decode()) == "Hello & world"


def test_latest_capture_keeps_newest(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    total = pages.count()
    deduped = latest_capture(pages)
    n_urls = pages.select("url").distinct().count()
    assert deduped.count() == n_urls < total
    # kept rows are the max warc_ts per url
    mx = pages.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
    assert deduped.select("url", "warc_ts").exceptAll(mx).count() == 0


def test_triplify_provenance_and_kinds(spark, sf_dir):
    t = triplify(synth_pages(spark, sf_dir).limit(20))
    rows = t.collect()
    assert all(r["subj"] == r["src_url"] for r in rows)
    kinds = {r["pred"].split("#")[-1] for r in rows}
    assert kinds == {"title", "source", "nchars", "sameAs"}
    iri = [r for r in rows if r["obj_is_iri"]]
    assert iri and all(r["obj_datatype"] is None for r in iri)


def test_pipeline_resume_is_idempotent(spark, sf_dir, tmp_path):
    pages = synth_pages(spark, sf_dir).limit(60)
    work = str(tmp_path / "work")
    r1 = run_web_pipeline(spark, pages, work, resume=True, run_id="r1")
    lineage1 = spark.read.parquet(os.path.join(work, "_lineage"))
    n_lineage1 = lineage1.count()
    triples1 = spark.read.parquet(os.path.join(work, "raw_triples")).toPandas()

    # second run resumes: no stage recomputed, no lineage appended
    r2 = run_web_pipeline(spark, pages, work, resume=True, run_id="r2")
    lineage2 = spark.read.parquet(os.path.join(work, "_lineage"))
    assert lineage2.count() == n_lineage1
    triples2 = spark.read.parquet(os.path.join(work, "raw_triples")).toPandas()
    key = lambda df: sorted(map(tuple, df.fillna("").astype(str).values.tolist()))
    assert key(triples1) == key(triples2)
    assert {k: v for k, v in r1.items() if k != "run_id"} == {
        k: v for k, v in r2.items() if k != "run_id"
    }
    # lineage row counts reconcile with the stage output
    tl = lineage1.filter(F.col("stage") == "raw_triples").agg(F.sum("rows_out")).first()[0]
    assert tl == r1["triples"]


def test_resumed_materialize_runs_no_job_and_manifest_counts_rows(spark, tmp_path):
    """A committed stage resumes from its manifest alone: no schema
    inference, no count, no Spark job. The manifest's row count is the
    one the lineage rows add up to."""
    import json

    from rdf2smw_spark.plans.lineage import MANIFEST, CheckpointStore

    df = spark.range(50).withColumn("b", F.col("id") % 3)
    store = CheckpointStore(spark, str(tmp_path), run_id="w")
    store.materialize(df, "s", partition_by=["b"], fingerprint="f1")
    with open(tmp_path / "s" / MANIFEST) as fh:
        manifest = json.load(fh)
    lineage = spark.read.parquet(store.lineage_path())
    assert manifest["rows"] == 50 == lineage.agg(F.sum("rows_out")).first()[0]

    sc = spark.sparkContext
    sc.setJobGroup("resume-probe", "resumed materialize")
    try:
        out = CheckpointStore(spark, str(tmp_path)).materialize(
            df, "s", partition_by=["b"], fingerprint="f1"
        )
        jobs = sc.statusTracker().getJobIdsForGroup("resume-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert out.count() == 50


def test_lost_manifest_recomputes_stage_and_everything_after(spark, sf_dir, tmp_path):
    """A stage without a manifest is uncommitted: it is recomputed, and so
    is every stage after it, while the stages before it resume."""
    pages = synth_pages(spark, sf_dir).limit(20)
    work = str(tmp_path / "work")
    r1 = run_web_pipeline(spark, pages, work)
    os.remove(os.path.join(work, "wiki_pages", "_MANIFEST.json"))

    def commits():
        found = glob.glob(os.path.join(work, "*", "_MANIFEST.json"))
        return {p.split(os.sep)[-2]: os.stat(p).st_mtime_ns for p in found}

    before = commits()
    assert len(before) == 5  # text_extracted, raw_triples and the three XML stages
    r2 = run_web_pipeline(spark, pages, work)
    after = commits()
    redone = {st for st, t in after.items() if before.get(st) != t}
    assert redone == {"wiki_pages", "pages_xml", "properties_xml", "templates_xml"}
    assert {k: v for k, v in r1.items() if k != "run_id"} == {
        k: v for k, v in r2.items() if k != "run_id"
    }


def test_pipeline_partial_resume(spark, sf_dir, tmp_path):
    """Simulate a mid-run kill: only the first stage exists; rerun must
    complete the rest and leave the first stage untouched."""
    import shutil

    pages = synth_pages(spark, sf_dir).limit(40)
    work = str(tmp_path / "work2")
    run_web_pipeline(spark, pages, work, resume=True, run_id="a")
    # wipe everything after text_extracted (simulated crash before stage 2)
    for stage in ["raw_triples", "wiki_pages", "pages_xml", "properties_xml", "templates_xml"]:
        shutil.rmtree(os.path.join(work, stage))
    r = run_web_pipeline(spark, pages, work, resume=True, run_id="b")
    assert r["wiki_pages"] > 0
    assert os.path.exists(os.path.join(work, "pages_xml", "_SUCCESS"))


def test_triples_checkpoint_bucketed_by_subject_hash(spark, sf_dir, tmp_path):
    """The raw_triples snapshot is hive-partitioned on subj_bucket
    (the parquet rendering of Iceberg's bucket(subj, N) transform):
    bucket dirs exist, assignment is the deterministic pmod(xxhash64),
    and the downstream frame carries no bucket column."""
    import glob

    from pyspark.sql import functions as F

    from rdf2smw_spark.plans.pipeline import N_SUBJ_BUCKETS, run_web_pipeline
    from rdf2smw_spark.sources.webpages import synth_pages

    pages = synth_pages(spark, sf_dir).limit(80)
    run_web_pipeline(spark, pages, str(tmp_path), resume=True)
    dirs = glob.glob(str(tmp_path / "raw_triples" / "subj_bucket=*"))
    assert dirs, "expected subj_bucket=N partition directories"
    tri = spark.read.parquet(str(tmp_path / "raw_triples"))
    bad = tri.filter(
        F.col("subj_bucket") != F.pmod(F.xxhash64("subj"), F.lit(N_SUBJ_BUCKETS))
    ).count()
    assert bad == 0


def test_near_dedup_stage_drops_cross_url_duplicates(spark, sf_dir, tmp_path):
    """Two urls serving (near-)identical documents collapse to the MIN
    url; distinct documents all survive; pipeline counts reflect the
    DEDUP stage."""
    from rdf2smw_spark.plans.pipeline import near_dedup_pages

    rows = [
        ("https://a.example/1", "the quick brown fox jumps over the lazy dog again and again"),
        ("https://b.example/2", "the quick brown fox jumps over the lazy dog again and again"),
        # near-dup: same text + short suffix
        ("https://c.example/3", "the quick brown fox jumps over the lazy dog again and again ok"),
        ("https://d.example/4", "a completely different document about shuffle partitions at scale"),
    ]
    extracted = spark.createDataFrame(rows, "url string, text string")
    out = near_dedup_pages(extracted, threshold=0.5)
    kept = sorted(r["url"] for r in out.select("url").collect())
    assert kept == ["https://a.example/1", "https://d.example/4"]


def test_web_pipeline_with_near_dedup(spark, sf_dir, tmp_path):
    """End-to-end: planting an exact mirror of every page under a
    different host halves the corpus back to its original size."""
    pages = synth_pages(spark, sf_dir).limit(30)
    mirrored = pages.unionByName(
        pages.withColumn("url", F.concat(F.lit("https://mirror.example/"), F.col("url")))
    )
    res = run_web_pipeline(
        spark, mirrored, str(tmp_path / "w"), resume=False, near_dedup=True
    )
    base = latest_capture(pages).count()
    assert res["extracted"] == base


def test_site_stats_edge_urls(spark):
    """Hosts without a path segment get section '' (regexp_extract
    no-match semantics, identical in Spark and DuckDB); counts aggregate
    per (host, section)."""
    from datetime import datetime

    from rdf2smw_spark.extract import site_stats

    rows = [
        ("https://ex.org/news/a", datetime(2024, 1, 1), "en"),
        ("https://ex.org/news/b", datetime(2024, 1, 2), "en"),
        ("https://ex.org/news/b", datetime(2024, 1, 3), "de"),  # recrawl
        ("https://ex.org", datetime(2024, 1, 4), "en"),         # no path
        ("http://other.net/x", datetime(2024, 1, 5), "fr"),
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, lang string")
    got = {(r["host"], r["section"]): r for r in site_stats(pages).collect()}
    news = got[("ex.org", "news")]
    assert (news["n_captures"], news["n_urls"], news["n_langs"]) == (3, 2, 2)
    assert ("ex.org", "") in got and got[("ex.org", "")]["n_captures"] == 1
    assert got[("other.net", "x")]["n_urls"] == 1


def test_decontam_stage(spark):
    """Docs sharing a token 8-gram with the eval set drop; clean docs
    survive. The stage reuses text_analysis.decontaminate so the gate
    and the registered ta_decontam query can't drift apart."""
    from rdf2smw_spark.plans.pipeline import decontaminate_pages

    leaked = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        ("https://a/1", f"intro text then {leaked} and some trailing words"),
        ("https://a/2", "a perfectly clean document with entirely different words " * 2),
    ]
    extracted = spark.createDataFrame(rows, "url string, text string")
    benchmark = spark.createDataFrame([(leaked,)], "text string")
    kept = {r["url"] for r in decontaminate_pages(extracted, benchmark).collect()}
    assert kept == {"https://a/2"}


def test_quality_filter_stage(spark):
    """Low-quality docs (punctuation soup / near-empty) drop below the
    gate; normal prose passes. The score must equal ta.quality_score's
    so the gate and the registered query can't drift apart."""
    from rdf2smw_spark.operators.text_analysis import quality_score
    from rdf2smw_spark.plans.pipeline import quality_filter_pages

    rows = [
        ("https://a/1", "a perfectly normal paragraph of prose with many plain words " * 3),
        ("https://a/2", "!!!???###$$$%%%^^^&&&***((()))"),
        ("https://a/3", "x"),
    ]
    extracted = spark.createDataFrame(rows, "url string, text string")
    kept = {r["url"] for r in quality_filter_pages(extracted, 0.1).collect()}
    assert kept == {"https://a/1"}
    scored = quality_score(
        extracted.select(F.monotonically_increasing_id().alias("doc_id"), "text")
    ).collect()
    assert all(0.0 <= r["quality"] <= 1.0 for r in scored)


def test_repetition_gate(spark):
    """Boilerplate-heavy and template-spam docs drop; normal prose
    passes. The gate reuses _repetition_exprs so it can't drift from
    the registered ta_repetition query."""
    from rdf2smw_spark.plans.pipeline import repetition_filter_pages

    rows = [
        ("https://a/1", "normal prose with many different words and phrases here\nsecond distinct line"),
        ("https://a/2", "nav item\nnav item\nnav item\nnav item\nreal content once"),  # dup lines
        ("https://a/3", "click here click here click here click here click here"),     # one bigram
    ]
    extracted = spark.createDataFrame(rows, "url string, text string")
    kept = {
        r["url"]
        for r in repetition_filter_pages(
            extracted, max_dup_line_frac=0.5, max_top_bigram_frac=0.5
        ).collect()
    }
    assert kept == {"https://a/1"}
    # each knob alone gates only its own signal
    only_lines = {
        r["url"] for r in repetition_filter_pages(extracted, max_dup_line_frac=0.5).collect()
    }
    assert only_lines == {"https://a/1", "https://a/3"}


def test_web_pipeline_entail_stage(spark, sf_dir, tmp_path):
    """--entail rdfs+owl in web mode: the ENTAIL stage checkpoint
    materializes, triple counts grow by exactly the derived rows, and
    provenance marks them entail://."""
    pages = synth_pages(spark, sf_dir).limit(30)
    base = run_web_pipeline(
        spark, pages, str(tmp_path / "plain"), resume=True, run_id="p"
    )
    ent = run_web_pipeline(
        spark, pages, str(tmp_path / "ent"), resume=True, run_id="e",
        entail="rdfs+owl",
    )
    assert ent["triples"] >= base["triples"]
    ckpt = spark.read.parquet(str(tmp_path / "ent" / "entailed_triples"))
    n_derived = ckpt.filter(ckpt.src_url.startswith("entail://")).count()
    assert ckpt.count() == base["triples"] + n_derived


def test_url_blocklist_gate(spark, tmp_path, capsys):
    import json

    from rdf2smw_spark.__main__ import main
    from rdf2smw_spark.sources.webpages import synth_pages

    pdir = str(tmp_path / "pages")
    synth_pages(spark, "/root/testdata/sf0.001").write.parquet(pdir)
    bdir = str(tmp_path / "blocked")
    # synth pages all live on example.org -> blocking it drops everything
    spark.createDataFrame([("example.org",)], "host string").write.parquet(bdir)
    rc = main(["--pages", pdir, "--out", str(tmp_path / "w"), "--mode", "web",
               "--url-blocklist", bdir])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["extracted"] == 0 and res["triples"] == 0

    # a non-matching blocklist drops nothing (subdomain, not parent)
    bdir2 = str(tmp_path / "blocked2")
    spark.createDataFrame([("sub.example.org",)], "host string").write.parquet(bdir2)
    rc = main(["--pages", pdir, "--out", str(tmp_path / "w2"), "--mode", "web",
               "--url-blocklist", bdir2])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["extracted"] > 0


def test_blocklist_normalizes_port_userinfo_trailing_dot(spark):
    from rdf2smw_spark.extract import blocklist_filter

    pages = spark.createDataFrame(
        [
            ("https://ads.example.com:8443/x",),
            ("https://user@ads.example.com/y",),
            ("https://ads.example.com./z",),
            ("https://ok.example.com/keep",),
        ],
        "url string",
    )
    blocked = spark.createDataFrame([("ads.example.com",)], "host string")
    kept = [r["url"] for r in blocklist_filter(pages, blocked).collect()]
    assert kept == ["https://ok.example.com/keep"]


def test_blocklist_pathless_url_with_query_or_fragment(spark):
    # ADVICE r4: https://ads.example.com?track=1 has no path slash, so a
    # host regex ending only at '/' extracts 'ads.example.com?track=1'
    # and the page bypasses the gate. Host parse must stop at ? and #.
    import duckdb

    from rdf2smw_spark.extract import blocklist_filter, blocklist_filter_sql

    rows = [
        ("https://ads.example.com?track=1",),
        ("https://ads.example.com#frag",),
        ("https://sub.ads.example.com?x",),
        ("https://ok.example.com?track=1",),
    ]
    pages = spark.createDataFrame(rows, "url string")
    blocked = spark.createDataFrame([("ads.example.com",)], "host string")
    kept = sorted(r["url"] for r in blocklist_filter(pages, blocked).collect())
    assert kept == ["https://ok.example.com?track=1"]

    # the DuckDB oracle twin must agree
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW pages_v AS SELECT * FROM (VALUES %s) t(url)"
        % ", ".join("('%s')" % u for (u,) in rows)
    )
    con.execute(
        "CREATE VIEW blocked_v AS SELECT 'ads.example.com' AS host"
    )
    got = sorted(
        r[0] for r in con.execute(blocklist_filter_sql("pages_v", "blocked_v")).fetchall()
    )
    assert got == kept
