"""Round-4 regression tests: global-window elimination (verdict #1/#2),
salted stratified sampling (#6), IVF lineage truncation (#5), the
jaccard one-row-per-doc_id contract guard (ADVICE r3), and side-input
content fingerprints for resume (#3)."""

import pytest
from pyspark.sql import functions as F


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- verdict #1/#2: no single-partition Window in the top-k plans ------------


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_entity_dict_plan_has_no_window(spark, sf_dir):
    from rdf2smw_spark.operators.linking import corpus_entity_dict

    d = corpus_entity_dict(_docs(spark, sf_dir))
    plan = _physical_plan(d)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_top_ngrams_plan_has_no_window(spark, sf_dir):
    from rdf2smw_spark.operators.text_analysis import top_ngrams

    t = top_ngrams(_docs(spark, sf_dir))
    plan = _physical_plan(t)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_global_topk_ranked_matches_window_rank(spark):
    """The array_sort rank derivation must equal a row_number rank."""
    from pyspark.sql import Window

    from rdf2smw_spark.operators.topk import global_topk_ranked

    df = spark.range(200).select(
        F.col("id").alias("key"), (F.col("id") % 7).alias("score")
    ).repartition(8)
    got = (
        global_topk_ranked(df, [("score", "desc"), ("key", "asc")], 25)
        .orderBy("rank")
        .collect()
    )
    w = Window.orderBy(F.col("score").desc(), F.col("key").asc())
    want = (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 25)
        .select("rank", "key", "score")
        .orderBy("rank")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_global_topk_ranked_empty_input(spark):
    from rdf2smw_spark.operators.topk import global_topk_ranked

    df = spark.range(0).select(F.col("id").alias("key"))
    assert global_topk_ranked(df, [("key", "asc")], 5).count() == 0


# --- verdict #6: salted stratified sample is partitioning-invariant ----------


def test_stratified_sample_salt_invariance(spark, sf_dir):
    from rdf2smw_spark.operators.text_analysis import stratified_sample

    docs = _docs(spark, sf_dir)
    base = sorted(
        tuple(r) for r in stratified_sample(docs, per_lang=40, n_salt=1).collect()
    )
    for n_salt in (4, 8):
        for d in (docs, docs.repartition(17), docs.coalesce(1)):
            got = sorted(
                tuple(r)
                for r in stratified_sample(d, per_lang=40, n_salt=n_salt).collect()
            )
            assert got == base


def test_stratified_sample_salted_windows_are_partitioned(spark, sf_dir):
    from rdf2smw_spark.operators.text_analysis import stratified_sample

    plan = _physical_plan(stratified_sample(_docs(spark, sf_dir), n_salt=8))
    # every Window in the plan carries a partition spec (lang or lang+salt)
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "lang#" in line


# --- verdict #5: IVF Lloyd loop survives many iterations ---------------------


def test_ivf_train_iters_12_no_plan_blowup(spark, sf_dir):
    from rdf2smw_spark.operators.similarity import ivf_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = ivf_train(emb, n_lists=4, iters=12)
    rows = cent.collect()
    dim = len(emb.select("embedding").first()[0])
    assert len(rows) == 4 * dim
    assert all(abs(r["component"]) < 1e6 for r in rows)


def test_ivf_train_localcheckpoint_preserves_result(spark, sf_dir):
    """iters=2 result must equal the DuckDB-twin-verified pre-checkpoint
    semantics: checkpointing only truncates lineage, never values."""
    import duckdb

    from rdf2smw_spark.operators.similarity import ivf_train, ivf_train_sql

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = sorted(
        (r["list_id"], r["pos"], round(r["component"], 6))
        for r in ivf_train(emb, n_lists=4, iters=2).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = sorted(
        (int(l), int(p), round(c, 6))
        for l, p, c in con.sql(ivf_train_sql("embeddings", 4, 2)).fetchall()
    )
    assert got == want


# --- ADVICE r3: jaccard contract guard fails loudly --------------------------


def test_jaccard_contract_violation_raises(spark):
    from rdf2smw_spark.operators.dedup import jaccard_for_pairs

    # duplicate doc_id rows: doc 1's shingles appear twice -> n_int can
    # exceed the union and the guard must raise, not emit jaccard > 1
    sh = spark.createDataFrame(
        [(1, "abc"), (1, "abc"), (1, "abd"), (1, "abd"), (2, "abc"), (2, "abd")],
        ["doc_id", "shingle"],
    )
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(Exception, match="one-row-per-doc_id"):
        jaccard_for_pairs(sh, pairs, threshold=0.0).collect()


def test_jaccard_valid_input_unaffected(spark):
    from rdf2smw_spark.operators.dedup import jaccard_for_pairs

    sh = spark.createDataFrame(
        [(1, "abc"), (1, "abd"), (2, "abc"), (2, "abd"), (2, "xyz")],
        ["doc_id", "shingle"],
    )
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    rows = jaccard_for_pairs(sh, pairs, threshold=0.0).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == pytest.approx(2 / 3, abs=1e-4)


# --- verdict missing #3: side-input content in the resume fingerprint --------


def test_side_input_signature_properties(spark):
    from rdf2smw_spark.plans.pipeline import _side_input_signature

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "id long, s string")
    sig = _side_input_signature(df)
    # partitioning-invariant
    assert _side_input_signature(df.repartition(7)) == sig
    assert _side_input_signature(df.coalesce(1)) == sig
    # any content change flips it: value edit, extra row, duplicated row
    assert _side_input_signature(
        spark.createDataFrame([(1, "a"), (2, "X"), (3, None)], "id long, s string")
    ) != sig
    assert _side_input_signature(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, None), (4, "d")], "id long, s string")
    ) != sig
    assert _side_input_signature(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, None), (3, None)], "id long, s string")
    ) != sig
    # realistic side-input sizes: the hash sum must not overflow
    big = spark.createDataFrame([(i, f"w{i}") for i in range(200)], "id long, s string")
    big_sig = _side_input_signature(big)
    assert big_sig.startswith("200|")
    assert _side_input_signature(big.repartition(5)) == big_sig


def test_changed_benchmark_recomputes_decontam_on_resume(spark, sf_dir, tmp_path):
    """Round-3 resume footgun: a changed --benchmark table under
    identical flags must invalidate DECONTAM and everything downstream,
    not silently resume the stale snapshot."""
    from rdf2smw_spark.extract import extract_text, latest_capture
    from rdf2smw_spark.plans.pipeline import run_web_pipeline
    from rdf2smw_spark.sources.webpages import synth_pages

    pages = synth_pages(spark, sf_dir).limit(40)
    work = str(tmp_path / "w")
    bm_clean = spark.createDataFrame(
        [("zq wq eq rq tq yq uq iq oq pq",)], "text string"
    )
    r1 = run_web_pipeline(spark, pages, work, resume=True, benchmark=bm_clean)

    leaked = (
        extract_text(latest_capture(pages))
        .filter(F.col("text").isNotNull() & (F.size(F.split("text", " ")) >= 10))
        .first()["text"]
    )
    bm_leak = spark.createDataFrame([(leaked,)], "text string")
    r2 = run_web_pipeline(spark, pages, work, resume=True, benchmark=bm_leak)
    assert r2["extracted"] < r1["extracted"], "changed benchmark must recompute"

    # identical re-run still resumes to the same counts
    r3 = run_web_pipeline(spark, pages, work, resume=True, benchmark=bm_leak)
    assert r3["extracted"] == r2["extracted"]
    assert r3["pages_xml"] == r2["pages_xml"]


# --- round-4 additions: PII scrub + token histogram --------------------------


def test_pii_scrub_planted_values(spark):
    """The sf docs carry no PII, so the oracle row-match alone is
    vacuous for the redaction logic — plant real values and check the
    cascade order (an email's digits never double-count as a phone)."""
    from rdf2smw_spark.operators.text_analysis import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "contact bob12345678@example.com or call +1 (555) 123-4567 now"),
            (2, "server at 192.168.10.25 responded"),
            (3, "no sensitive content here"),
            (4, "two mails: a@b.io c@d.org and ip 10.0.0.1"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert "<EMAIL>" in rows[1]["text_clean"] and "<PHONE>" in rows[1]["text_clean"]
    assert "bob12345678" not in rows[1]["text_clean"]
    assert rows[2]["n_ip"] == 1 and "<IP>" in rows[2]["text_clean"]
    # an IP must not be eaten by the phone pattern
    assert rows[2]["n_phone"] == 0
    assert rows[3]["n_email"] == rows[3]["n_ip"] == rows[3]["n_phone"] == 0
    assert rows[3]["text_clean"] == "no sensitive content here"
    assert rows[4]["n_email"] == 2 and rows[4]["n_ip"] == 1


def test_pii_scrub_matches_duckdb_on_planted(spark):
    """Cross-engine regex parity on text that actually exercises every
    pattern (the registered sf-docs check is clean-input parity)."""
    import duckdb
    import pandas as pd

    from rdf2smw_spark.operators.text_analysis import pii_scrub, pii_scrub_sql

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "mail x9@site.net, host 8.8.8.8, tel 0812 345 6789 end",
                "+44 20 7946 0958 is a number and so is 555-867-5309 ok",
                "edge: v1.2.3.4000 and semi@mail 1.2.3.4",
            ],
        }
    )
    got = (
        pii_scrub(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    want = (
        con.sql(pii_scrub_sql("docs")).df().sort_values("doc_id").reset_index(drop=True)
    )
    for c in ["n_email", "n_ip", "n_phone", "text_clean"]:
        assert list(got[c]) == list(want[c]), c


def test_token_histogram_buckets(spark):
    from rdf2smw_spark.operators.text_analysis import token_length_histogram

    docs = spark.createDataFrame(
        [(1, "one two three"), (2, " ".join(["w"] * 75)), (3, " ".join(["w"] * 2000))],
        "doc_id long, text string",
    )
    rows = {r["bucket"]: r for r in token_length_histogram(docs).collect()}
    assert rows[0]["n_docs"] == 1 and rows[0]["lo_tokens"] == 0
    assert rows[1]["n_docs"] == 1
    assert rows[20]["n_docs"] == 1, "open-ended last bucket"


# --- round-4: PageRank over the KG edge set ----------------------------------


def test_pagerank_star_graph(spark):
    """Hand-checkable graph: hub <- 3 spokes (spokes also link each
    other pairwise one-way). The hub must outrank every spoke, ranks
    must sum to ~1 (mass conservation incl. dangling redistribution),
    and the result must be partitioning-invariant bit-for-bit."""
    from rdf2smw_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("a", "b"), ("b", "c")],
        ["src", "dst"],
    )
    r = {row["uri"]: row["rank_e12"] for row in pagerank(edges).collect()}
    assert set(r) == {"a", "b", "c", "hub"}
    assert r["hub"] > max(r["a"], r["b"], r["c"])
    total = sum(r.values()) / 1e12
    assert abs(total - 1.0) < 1e-6
    r2 = {
        row["uri"]: row["rank_e12"]
        for row in pagerank(edges.repartition(13)).collect()
    }
    assert r2 == r, "exact-integer ranks must not depend on partitioning"


def test_pagerank_matches_duckdb_twin(spark):
    import duckdb

    from rdf2smw_spark.operators.graph import pagerank, pagerank_sql

    rows = [
        ("u1", "p", "u2", True, None, "s"),
        ("u2", "p", "u3", True, None, "s"),
        ("u3", "p", "u1", True, None, "s"),
        ("u4", "p", "u1", True, None, "s"),
        ("u4", "q", "lit", False, None, "s"),  # literal: not an edge
        ("u5", "p", "u5", True, None, "s"),  # self-loop: dropped
        ("u5", "p", "u2", True, None, "s"),
    ]
    cols = "subj string, pred string, obj string, obj_is_iri boolean, obj_datatype string, src_url string"
    t = spark.createDataFrame(rows, cols)
    from rdf2smw_spark.operators.graph import link_edges

    got = sorted(
        (r["uri"], r["rank_e12"]) for r in pagerank(link_edges(t)).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW triples AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('{s}', '{p}', '{o}', {str(i).upper()}, NULL, '{u}')"
            for s, p, o, i, _, u in rows
        )
        + ") AS t(subj, pred, obj, obj_is_iri, obj_datatype, src_url)"
    )
    want = sorted((u, int(e)) for u, e in con.sql(pagerank_sql("triples")).fetchall())
    assert got == want
