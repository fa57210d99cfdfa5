"""Round-4 continuation: sequence packing (distributed prefix sum),
Bloom-filter decontamination pre-filter, owl:sameAs canonicalization."""

from pyspark.sql import functions as F

from rdf2smw_spark.operators import dedup as dd
from rdf2smw_spark.operators import text_analysis as ta


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- pack_sequences ------------------------------------------------------------

def test_pack_sequences_offsets_contiguous(spark, sf_dir):
    out = ta.pack_sequences(_docs(spark, sf_dir)).orderBy("doc_id").toPandas()
    assert len(out) == 500
    # the token stream is gapless: each doc starts where the previous ended
    assert out["start_offset"].iloc[0] == 0
    assert (out["start_offset"].iloc[1:].to_numpy() == out["end_offset"].iloc[:-1].to_numpy()).all()
    assert (out["end_offset"] - out["start_offset"] == out["n_tokens"]).all()
    # chunk ids consistent with the fixed sequence length
    nz = out[out["n_tokens"] > 0]
    assert (nz["first_chunk"] == nz["start_offset"] // ta.PACK_SEQ_LEN).all()
    assert (nz["last_chunk"] == (nz["end_offset"] - 1) // ta.PACK_SEQ_LEN).all()


def test_pack_sequences_bucket_invariance(spark, sf_dir):
    """The two-phase prefix sum must give the same offsets at ANY bucket
    granularity — including the degenerate single-bucket plan."""
    docs = _docs(spark, sf_dir)
    ref = ta.pack_sequences(docs, n_buckets=64).orderBy("doc_id").toPandas()
    for nb in (1, 7):
        got = ta.pack_sequences(docs, n_buckets=nb).orderBy("doc_id").toPandas()
        assert got.equals(ref)


def test_pack_sequences_sparse_ids_and_zero_tokens(spark):
    """Non-dense doc_ids order correctly across DIV buckets; zero-token
    docs keep their slot with n_chunks=0 and NULL chunk ids."""
    rows = [(3, "a b c"), (900, ""), (901, "d e"), (17, "!!!"), (400, "x " * 200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in ta.pack_sequences(docs, seq_len=64, n_buckets=4).collect()
    }
    assert out[3]["start_offset"] == 0 and out[3]["n_tokens"] == 3
    assert out[17]["n_tokens"] == 0 and out[17]["n_chunks"] == 0
    assert out[17]["first_chunk"] is None and out[17]["last_chunk"] is None
    assert out[17]["start_offset"] == 3 and out[17]["end_offset"] == 3
    assert out[400]["start_offset"] == 3 and out[400]["n_tokens"] == 200
    assert out[400]["n_chunks"] == 4  # spans [3, 203) over 64-token chunks
    assert out[900]["start_offset"] == 203 and out[901]["start_offset"] == 203


def test_pack_sequences_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    out = ta.pack_sequences(docs)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_tokens", "start_offset", "end_offset",
        "first_chunk", "last_chunk", "n_chunks",
    ]


# --- decontaminate_bloom ---------------------------------------------------------

def _split(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    train = dd.near_dup_corpus(docs).filter(F.col("doc_id") % 37 != 0)
    benchmark = docs.filter(F.col("doc_id") % 37 == 0)
    return train, benchmark


def test_bloom_decontam_identical_to_exact(spark, sf_dir):
    train, bm = _split(spark, sf_dir)
    exact = ta.decontaminate(train, bm).orderBy("doc_id").toPandas()
    bloom = ta.decontaminate_bloom(train, bm).orderBy("doc_id").toPandas()
    assert exact.equals(bloom)
    assert exact["contaminated"].any()  # non-vacuous: planted overlap found


def test_bloom_prefilter_prunes_before_confirm(spark, sf_dir):
    """The point of the filter: the candidate set reaching the exact
    confirm join must be far smaller than the full training n-gram set
    (here everything non-contaminated is pruned map-side)."""
    train, bm = _split(spark, sf_dir)
    total = ta._token_ngrams(train).count()
    bm_ngrams = (
        ta._token_ngrams(bm.select(F.lit(0).alias("doc_id"), "text"))
        .select("ngram")
        .distinct()
    )
    # survivors of a correct Bloom filter ⊇ true hits; with these m/k
    # parameters the FP rate is ~0 at this scale, so survivors ≈ hits
    hits = ta._token_ngrams(train).join(bm_ngrams, "ngram").count()
    # rebuild the filter exactly as the operator does and count survivors
    cand = ta._token_ngrams(train)
    cells = None
    for i in range(ta.BLOOM_K):
        w, b = ta._bloom_word_bit(i, ta.BLOOM_M_BITS)
        part = bm_ngrams.select(w.alias("word"), b.alias("bit"))
        cells = part if cells is None else cells.unionByName(part)
    bf = cells.groupBy("word").agg(F.expr("bit_or(bit)").alias("bits"))
    for i in range(ta.BLOOM_K):
        w, b = ta._bloom_word_bit(i, ta.BLOOM_M_BITS)
        probe = bf.select(F.col("word").alias(f"w{i}"), F.col("bits").alias(f"bits{i}"))
        cand = (
            cand.withColumn(f"w{i}", w)
            .withColumn(f"b{i}", b)
            .join(F.broadcast(probe), f"w{i}")
            .filter(F.expr(f"(bits{i} & b{i}) = b{i}"))
            .drop(f"w{i}", f"b{i}", f"bits{i}")
        )
    survivors = cand.count()
    assert hits <= survivors < total * 0.1  # sound AND actually pruning


# --- owl:sameAs canonicalization -------------------------------------------------

def test_sameas_chain_resolves_to_alt_uri(spark, sf_dir):
    """cust --sameAs--> alt --sameAs--> mirror must collapse through the
    2-hop chain: all three forms rewrite to the alt URI (lexicographic
    min), including order->customer IRI objects."""
    from rdf2smw_spark.operators import sameas as sa
    from rdf2smw_spark.sources.testdata import CUST, ONT, testdata_triples

    triples = testdata_triples(spark, sf_dir).unionByName(
        sa.synth_sameas_triples(spark, sf_dir)
    )
    out = sa.sameas_canonicalize(triples)
    # no sameAs assertion survives; no aliased-subject URI survives
    assert out.filter(F.col("pred") == sa.OWL_SAMEAS).count() == 0
    assert out.filter(F.col("subj") == f"{CUST}10").count() == 0
    assert out.filter(F.col("subj").startswith(sa.ALT2_CUST)).count() == 0
    # customer 10's facts now live under the alt URI
    alt10 = out.filter(F.col("subj") == f"{sa.ALT_CUST}10")
    assert alt10.filter(F.col("pred") == ONT + "name").count() == 1
    # order->customer object links follow the canonicalization
    assert (
        out.filter(
            (F.col("pred") == ONT + "customer") & (F.col("obj") == f"{CUST}10")
        ).count()
        == 0
    )
    # a non-aliased customer (key % 5 != 0) is untouched
    assert out.filter(F.col("subj") == f"{CUST}1").count() > 0


def test_sameas_noop_without_assertions(spark, sf_dir):
    """A triple stream with no sameAs rows passes through unchanged."""
    from rdf2smw_spark.operators import sameas as sa
    from rdf2smw_spark.sources.testdata import testdata_triples

    triples = testdata_triples(spark, sf_dir)
    assert sa.sameas_canonicalize(triples).count() == triples.count()


# --- rolling anomaly flags + link-graph components --------------------------------

def test_ev_anomaly_nonvacuous_and_warmup(spark, sf_dir):
    from rdf2smw_spark.queries import ANOM_MIN, q_ev_anomaly

    out = q_ev_anomaly(spark, sf_dir).toPandas()
    assert (out["n_prev"] >= ANOM_MIN).all()
    assert 0 < out["is_anomaly"].sum() < len(out)  # flags exist, but rare


def test_web_components_cluster_mirrors(spark, sf_dir):
    from rdf2smw_spark.queries import q_web_components

    out = q_web_components(spark, sf_dir).toPandas()
    sizes = out.groupby("component").size()
    assert (sizes > 1).any()  # the planted cross-links form real clusters
    # canonical member maps to itself
    canon = set(out["component"])
    m = dict(zip(out["url"], out["component"]))
    assert all(m[c] == c for c in canon)


# --- incremental page maintenance ---------------------------------------------

def test_incremental_matches_full_restricted(spark, sf_dir):
    """The core identity: incremental pages == the full rebuild's pages
    for every affected title (the registry oracle checks the rendered
    XML; this pins the pre-render page rows including fact arrays)."""
    from rdf2smw_spark.operators.convert import conversion_dims, triples_to_pages
    from rdf2smw_spark.operators.incremental_kg import (
        _subject_titles,
        affected_subjects,
        incremental_pages,
    )
    from rdf2smw_spark.queries import _DELTA_ORDER, TYPE_PROPERTY_URI
    from rdf2smw_spark.sources.testdata import testdata_triples

    triples = testdata_triples(spark, sf_dir)
    cond = F.expr(_DELTA_ORDER) & (F.col("pred") != TYPE_PROPERTY_URI)
    delta, base = triples.filter(cond), triples.filter(~cond)
    assert delta.count() > 0

    inc = incremental_pages(spark, base, delta)
    titles = {r["title"] for r in inc.select("title").collect()}
    full = triples_to_pages(spark, triples).filter(F.col("title").isin(list(titles)))
    a = sorted(map(str, inc.collect()))
    b = sorted(map(str, full.collect()))
    assert a == b
    # the affected set is the title closure of the delta's subjects
    st, bt = conversion_dims(spark, triples, cache=False)[:2]
    aff = affected_subjects(delta, _subject_titles(triples, st, bt))
    assert aff.count() >= delta.select("subj").distinct().count()


def test_incremental_schema_delta_falls_back_to_full(spark, sf_dir):
    """A delta touching rdf:type (dependency class 2) must yield the
    FULL page set — title/type/depth changes invalidate globally."""
    from rdf2smw_spark.operators.convert import triples_to_pages
    from rdf2smw_spark.operators.incremental_kg import incremental_pages
    from rdf2smw_spark.schemas import TYPE_PROPERTY_URI
    from rdf2smw_spark.sources.testdata import testdata_triples

    triples = testdata_triples(spark, sf_dir)
    cond = F.col("pred") == TYPE_PROPERTY_URI
    delta, base = triples.filter(cond).limit(5), triples.join(
        triples.filter(cond).limit(5), ["subj", "pred", "obj"], "anti"
    )
    inc = incremental_pages(spark, base, delta)
    full = triples_to_pages(spark, base.unionByName(delta))
    assert inc.count() == full.count()


# --- deterministic corpus split ---------------------------------------------------

def test_corpus_split_stable_under_growth(spark, sf_dir):
    """Adding documents must not move existing ones across splits, and
    all three splits must be populated at the test corpus size."""
    from rdf2smw_spark.operators import text_analysis as ta

    docs = _docs(spark, sf_dir)
    half = docs.filter(F.col("doc_id") < 250)
    full_map = {r["doc_id"]: r["split"] for r in ta.corpus_split(docs).collect()}
    half_map = {r["doc_id"]: r["split"] for r in ta.corpus_split(half).collect()}
    assert all(full_map[k] == v for k, v in half_map.items())
    from collections import Counter

    c = Counter(full_map.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]
    # a different salt reshuffles (the versioning knob is live)
    other = {r["doc_id"]: r["split"] for r in ta.corpus_split(docs, salt="v2").collect()}
    assert other != full_map


# --- BPE merge training ------------------------------------------------------------

def test_bpe_greedy_nonoverlapping_merge(spark):
    """'aaa' under pair (a,a) must become (aa, a) — greedy left-to-right,
    never (aa, aa); and a later round can merge MERGED symbols."""
    from rdf2smw_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "aaa aaa aaa ab")], "doc_id long, text string"
    )
    out = {r["step"]: (r["left"], r["right"], r["pair_count"]) for r in bpe.bpe_train(docs, k=3).collect()}
    # round 1: (a,a) appears 2x per 'aaa' (3 words) + 0 in 'ab' = 6
    assert out[1] == ("a", "a", 6)
    # round 2: sequences are ' aa a 'x3 and ' a b ': (aa,a) count 3 wins
    assert out[2] == ("aa", "a", 3)
    # round 3: ' aaa 'x3 has no pairs; only ' a b ' remains
    assert out[3] == ("a", "b", 1)


def test_bpe_tiebreak_deterministic(spark):
    """Equal counts break by (left, right) ascending."""
    from rdf2smw_spark.operators import bpe

    docs = spark.createDataFrame([(1, "xy zw")], "doc_id long, text string")
    first = bpe.bpe_train(docs, k=1).collect()[0]
    assert (first["left"], first["right"]) == ("x", "y")


# --- SHACL-style validation --------------------------------------------------------

def test_shacl_report_kinds_nonvacuous(spark, sf_dir):
    """Both constraint families must fire on the planted declarations:
    customers violate functional rdf:type (nation AND segment types);
    customers outside nation 0 violate the ont:customer range."""
    from rdf2smw_spark.queries import q_kg_shacl_report

    out = q_kg_shacl_report(spark, sf_dir).toPandas()
    kinds = set(out["kind"])
    assert kinds == {"functional", "range"}
    f = out[out["kind"] == "functional"]
    assert (f["detail"].astype(int) >= 2).all()
    # range violations are per FACT: every order whose customer is not
    # typed nation 0 contributes its ont:customer triple
    from rdf2smw_spark.sources.testdata import load_table

    cust = load_table(spark, sf_dir, "customer").toPandas()
    orders = load_table(spark, sf_dir, "orders").toPandas()
    merged = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    expected = (merged["c_nationkey"] != 0).sum()
    r = out[out["kind"] == "range"]
    assert 0 < len(r) == expected < len(orders)


# --- product quantization ----------------------------------------------------------

def test_pq_duplicate_gets_identical_codes_and_max_score(spark, sf_dir):
    """An exact duplicate vector must encode to the same m codes, hence
    the same ADC score — and that score must be the query's maximum."""
    from rdf2smw_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(dup)
    codes = sim.pq_codes(aug).toPandas()
    c0 = codes[codes.vec_id == 0].sort_values("subspace")["code"].tolist()
    c9 = codes[codes.vec_id == 9999].sort_values("subspace")["code"].tolist()
    assert c0 == c9 and len(c0) == sim.PQ_M
    top = sim.pq_topk(aug).toPandas()
    q0 = top[top.query_id == 0]
    dup_score = q0[q0.neighbor_id == 9999]
    assert len(dup_score) == 1  # ties broken by id still keep it in top-k?
    assert dup_score["score_e6"].iloc[0] == q0["score_e6"].max()


# --- LSH quality report ------------------------------------------------------------

def test_lsh_recall_nonvacuous(spark, sf_dir):
    """The planted near-dup corpus must yield true pairs, and banded
    MinHash must recover most of them (banding tuned for thr=0.5)."""
    from rdf2smw_spark.operators import dedup as dd

    sh = dd.char_shingles(dd.near_dup_corpus(_docs(spark, sf_dir)), max_df=100)
    row = dd.lsh_recall(sh, threshold=0.5).collect()[0]
    assert row["n_true"] > 0 and row["n_candidates"] > 0
    assert row["n_hit"] <= row["n_true"]
    assert row["recall_e6"] >= 800_000  # >= 80% recall at these band params
