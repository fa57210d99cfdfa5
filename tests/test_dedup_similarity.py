"""Dedup / similarity / linking operator semantics on planted fixtures."""

import math

import pytest
from pyspark.sql import functions as F

from rdf2smw_spark.operators import dedup as dd
from rdf2smw_spark.operators import linking as lk
from rdf2smw_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog again and AGAIN!"),  # near dup
        (3, "completely different content about spark query engines at scale"),
        (4, "another unrelated document mentioning parquet shuffle partitions"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = {r["doc_id"]: r for r in dd.exact_dedup(docs).collect()}
    assert out[0]["canonical_id"] == 0 and out[1]["canonical_id"] == 0
    assert out[0]["group_size"] == 3  # 2 normalizes to the same text (case/punct)
    assert out[3]["group_size"] == 1


def test_jaccard_and_minhash_find_planted_pair(docs):
    # drop the exact dup, keep the near dup
    d = docs.filter(F.col("doc_id") != 1)
    sh = dd.char_shingles(d)
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dd.jaccard_pairs(sh, 0.5).collect()}
    assert (0, 2) in jac and jac[(0, 2)] > 0.8
    assert all(a == 0 and b == 2 for (a, b) in jac)
    mh = {(r["doc_a"], r["doc_b"]) for r in dd.minhash_near_dups(sh, 0.5).collect()}
    assert (0, 2) in mh


def test_minhash_candidates_subset_of_all_pairs(docs):
    sh = dd.char_shingles(docs)
    cands = dd.minhash_candidates(sh).collect()
    ids = {r for rr in cands for r in (rr["doc_a"], rr["doc_b"])}
    assert ids <= {0, 1, 2, 3, 4}
    # identical docs MUST collide in every band
    assert (0, 1) in {(r["doc_a"], r["doc_b"]) for r in cands}


def test_simhash_identical_and_hamming(docs):
    out = {r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()}
    assert out[0] == out[1]  # identical normalized text -> same signature
    assert out[0] == out[2]  # normalization kills case/punct difference
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dd.simhash_near_dups(docs, 3).collect()}
    assert pairs[(0, 1)] == 0


def test_max_df_prunes_stop_shingles(spark):
    rows = [(i, "shared prefix stopword blob " + f"unique{i}") for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    unpruned = dd.char_shingles(d).count()
    pruned = dd.char_shingles(d, max_df=5).count()
    assert pruned < unpruned


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.7071, 0.7071, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_pairs_math(emb):
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in sim.cosine_pairs(emb, 0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs
    # verify against plain python
    assert math.isclose(pairs[(0, 1)], 0.999 / math.sqrt(0.999**2 + 0.01**2), rel_tol=1e-3)


def test_ann_topk_exact_ordering(emb):
    out = sim.ann_topk_bruteforce(emb, n_queries=1, k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1 and ranked[1] == 4  # nearest then diagonal


def test_ann_lsh_finds_same_bucket_neighbor(emb):
    out = sim.ann_topk_lsh(emb, n_queries=1, k=3, dim=4).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 1 in ids  # near-identical vector agrees on every band


def test_fuzzy_linking_matches_typos(spark):
    d = spark.createDataFrame(
        [("pipeline", "http://e/pipeline", 1), ("partition", "http://e/partition", 2)],
        "surface string, uri string, priority int",
    )
    mentions = spark.createDataFrame([("pipelinex",), ("partitionz",), ("zzzz",)], ["mention"])
    out = lk.link_fuzzy(mentions, d, threshold=0.3).collect()
    got = {(r["mention"], r["surface"]) for r in out}
    assert ("pipelinex", "pipeline") in got
    assert ("partitionz", "partition") in got
    assert not any(m == "zzzz" for m, _ in got)


def test_exact_linking_broadcast(spark):
    docs = spark.createDataFrame(
        [(1, "spark shuffle pipeline"), (2, "nothing relevant")],
        "doc_id long, text string",
    )
    d = spark.createDataFrame(
        [("pipeline", "http://e/pipeline", 1)], "surface string, uri string, priority int"
    )
    out = lk.link_exact(docs, d).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1 and out[0]["uri"] == "http://e/pipeline"


def test_link_triples_canonicalizes_literals(spark):
    from rdf2smw_spark.schemas import TRIPLE_SCHEMA

    triples = spark.createDataFrame(
        [
            ("http://e/s", "http://e/mentions", "Spark", False, "http://www.w3.org/2001/XMLSchema#string", None),
            ("http://e/s", "http://e/mentions", "unknown thing", False, "http://www.w3.org/2001/XMLSchema#string", None),
            ("http://e/s", "http://e/rel", "http://e/o", True, None, None),
        ],
        TRIPLE_SCHEMA,
    )
    d = spark.createDataFrame(
        [("spark", "http://e/entity/spark", 1)], "surface string, uri string, priority int"
    )
    out = {(r["obj"], r["obj_is_iri"]) for r in lk.link_triples(triples, d).collect()}
    assert ("http://e/entity/spark", True) in out      # linked mention
    assert ("unknown thing", False) in out             # untouched literal
    assert ("http://e/o", True) in out                 # IRIs pass through


def test_near_dup_embeddings_deterministic_and_counted(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    aug = sim.near_dup_embeddings(emb)
    n, planted = emb.count(), emb.filter("vec_id % 5 = 0").count()
    assert aug.count() == n + planted
    # planted variants sit just below cosine 1 with their originals
    pairs = sim.cosine_pairs(aug, threshold=0.9).collect()
    planted_pairs = {(r["id_a"], r["id_b"]) for r in pairs}
    expected = {(i, i + 1_000_000) for i in range(0, n, 5)}
    assert expected <= planted_pairs
    assert all(r["cosine"] >= 0.9 for r in pairs)


def test_cosine_pairs_lsh_matches_exact(spark, sf_dir):
    """Banded LSH (r=2, b=16) at threshold 0.9: recall 1.0 on the planted
    corpus (miss probability ~1e-17 per pair), precision 1.0 by exact
    verification — result set must equal the cartesian baseline."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    aug = sim.near_dup_embeddings(emb)
    exact = {tuple(r) for r in sim.cosine_pairs(aug, threshold=0.9).collect()}
    lsh = {tuple(r) for r in sim.cosine_pairs_lsh(aug, threshold=0.9).collect()}
    assert lsh == exact and exact


def test_ann_topk_lsh_recall_floor(spark, sf_dir):
    """Quality guard for the banded ANN path: recall@k vs the exact
    brute force on the deterministic sf0.001 corpus. With r=2, b=16 even
    near-orthogonal true neighbors (theta/pi ~0.4) are candidates with
    p ~0.999, so recall should be ~1; the floor pins it so regressions
    (plane generation, banding, verify join) surface."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r["query_id"], r["neighbor_id"]) for r in sim.ann_topk_bruteforce(emb, 10, 5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in sim.ann_topk_lsh(emb, 10, 5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_ivf_planted_pairs_share_list_and_retrieve(spark, sf_dir):
    """IVF semantic guard: a planted near-dup (cosine ~0.99 to its
    original) must quantize to the SAME coarse list as its original —
    that is the property that gives IVF its recall on clustered data —
    and the original must come back as the rank-1 neighbor when the
    variant is used as a query (via a remapped id inside the query
    range)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    aug = sim.near_dup_embeddings(emb)
    a = sim.ivf_assign(aug, n_lists=8).select("vec_id", "list_id").collect()
    m = {r["vec_id"]: r["list_id"] for r in a}
    planted = [v for v in m if v >= 1_000_000]
    assert planted
    same = sum(m[v] == m[v - 1_000_000] for v in planted)
    # On this RANDOM corpus the 8 centroid scores cluster within ~0.1 of
    # each other while the planted noise shifts scores by ~0.05, so a
    # pair splits whenever its top-2 centroids are near-tied (measured:
    # 74/100 share). That is exactly why queries probe n_probe > 1 lists
    # — the retrieval assertion below is the real recall guarantee; this
    # floor only pins that assignment is noise-stable, not degenerate.
    assert same / len(planted) >= 0.6, (same, len(planted))

    # retrieval: remap variant ids of originals 500.. so they fall in the
    # query range [0, n_queries) without colliding with the seed centroids
    # (originals keep ids >= 500 after a +500 shift; centroids are the
    # shifted-id-smallest originals... simpler: shift ALL base ids up by
    # 100, give 10 variants ids 0..9, query those 10)
    from pyspark.sql import functions as F

    base = emb.select((F.col("vec_id") + 100).alias("vec_id"), "embedding")
    variants = (
        sim.near_dup_embeddings(emb)
        .filter(F.col("vec_id") >= 1_000_000)
        .filter(F.col("vec_id") < 1_000_050)
        .select(((F.col("vec_id") - 1_000_000) / 5).cast("long").alias("vec_id"), "embedding")
    )
    corpus = base.unionByName(variants)
    top = sim.ann_topk_ivf(corpus, n_queries=10, k=1, n_lists=8, n_probe=2).collect()
    got = {r["query_id"]: r["neighbor_id"] for r in top}
    # variant q (original id 5q) must retrieve its original at shifted id 5q+100
    assert got == {q: 5 * q + 100 for q in range(10)}, got


def test_dedup_clusters_transitive_chain(spark):
    """A~B, B~C, C~D must land in ONE cluster even though A and D were
    never paired; disjoint pair {10,11} and singletons stay separate."""
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_clusters(docs, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_dedup_clusters_cycle_and_empty_edges(spark):
    docs = spark.createDataFrame([(i,) for i in [5, 6, 7, 9]], "doc_id long")
    cyc = spark.createDataFrame([(5, 6), (6, 7), (5, 7)], "doc_a long, doc_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_clusters(docs, cyc).collect()}
    assert out == {5: 5, 6: 5, 7: 5, 9: 9}
    none = spark.createDataFrame([], "doc_a long, doc_b long")
    out2 = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_clusters(docs, none).collect()}
    assert out2 == {5: 5, 6: 6, 7: 7, 9: 9}


def test_dedup_clusters_long_chain_pointer_doubling(spark):
    """A 300-node path graph has diameter 299: plain min-propagation
    would need 299 rounds, pointer doubling converges within the default
    max_iter=15 (O(log diameter)). All nodes must reach cluster 0."""
    n = 300
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    out = dd.dedup_clusters(docs, edges)
    assert {r["cluster_id"] for r in out.collect()} == {0}


def test_ivf_kmeans_trains_and_separates(spark, sf_dir):
    """Lloyd refinement: planted near-duplicate vectors (vec_id+1M,
    tiny additive noise) must land in the SAME trained list as their
    original — k-means lists are exactly the structure that makes IVF
    probing recall those neighbors."""
    from pyspark.sql import functions as F

    from rdf2smw_spark.operators.similarity import (
        ivf_kmeans_assign,
        near_dup_embeddings,
    )

    emb = near_dup_embeddings(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    )
    assign = ivf_kmeans_assign(emb, n_lists=8)
    orig = assign.filter(F.col("vec_id") < 1_000_000).select(
        F.col("vec_id").alias("o_id"), F.col("list_id").alias("o_list")
    )
    dups = assign.filter(F.col("vec_id") >= 1_000_000).select(
        (F.col("vec_id") - 1_000_000).alias("o_id"), F.col("list_id").alias("d_list")
    )
    joined = dups.join(orig, "o_id")
    n = joined.count()
    same = joined.filter(F.col("o_list") == F.col("d_list")).count()
    # the corpus is random (no true cluster structure), so a few
    # originals sit exactly on a Voronoi boundary where ~0.99-cosine
    # noise flips the argmax; >=90% co-assignment is the meaningful
    # floor (measured 93/100), vs ~1/n_lists for unrelated vectors
    assert n > 0 and same / n >= 0.9
    # trained lists are non-degenerate: more than one list in use
    assert assign.select("list_id").distinct().count() > 1


def _cc_dedup_rows(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id long"
    ).withColumn("text", F.lit("t"))
    edges = spark.createDataFrame(
        [(1, 5), (5, 9), (2, 3), (7, 2)], "doc_a long, doc_b long"
    )
    return {(r.doc_id, r.cluster_id) for r in dd.dedup_clusters(docs, edges).collect()}


def _cc_sameas_rows(spark):
    from rdf2smw_spark.operators import sameas as sa
    from rdf2smw_spark.schemas import TRIPLE_SCHEMA

    u = "http://e/{}".format
    rows = [
        (u("c"), sa.OWL_SAMEAS, u("b"), True, None, "s"),
        (u("b"), sa.OWL_SAMEAS, u("a"), True, None, "s"),
        (u("y"), sa.OWL_SAMEAS, u("x"), True, None, "s"),
        (u("c"), u("p"), u("y"), True, None, "s"),
        (u("b"), u("p"), "lit", False, None, "s"),
        (u("z"), u("p"), u("c"), True, None, "s"),
    ]
    out = sa.sameas_canonicalize(spark.createDataFrame(rows, TRIPLE_SCHEMA))
    return {tuple(r) for r in out.collect()}


@pytest.mark.parametrize("rows", [_cc_dedup_rows, _cc_sameas_rows],
                         ids=["dedup_clusters", "sameas_canonicalize"])
def test_cc_driver_union_find_equals_distributed(spark, monkeypatch, rows):
    """r6: the guarded driver union-find path of the one CC
    implementation (dedup_clusters, which sameAs canonicalization calls)
    must label exactly like the distributed hash-to-min loop, including
    transitive chains and singletons."""
    fast = rows(spark)
    monkeypatch.setattr(dd, "CC_EDGE_COLLECT_LIMIT", -1)
    slow = rows(spark)
    assert fast == slow
    if rows is _cc_dedup_rows:
        assert (9, 1) in fast and (3, 2) in fast and (7, 2) in fast and (0, 0) in fast
    else:
        u = "http://e/{}".format
        assert (u("a"), u("p"), "lit", False, None, "s") in fast
        assert (u("a"), u("p"), u("x"), True, None, "s") in fast
        assert (u("z"), u("p"), u("a"), True, None, "s") in fast
