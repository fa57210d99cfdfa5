"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline, cross join + JVM fold
  (zip_with/aggregate — no Python in the row path);
- cosine near-dup pairs above a threshold;
- random-hyperplane LSH bucketing: the scale path — candidates share a
  signature bucket, verified exactly. Hyperplanes are deterministic
  (md5-derived), so results are reproducible anywhere.

At 10^12 rows the brute-force variants are quadratic and exist as
correctness oracles; the LSH variant's bucket join is linear in
candidates. All dot products accumulate in double, left-to-right, so
Spark and DuckDB agree bit-for-bit before the defensive ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.session import fixpoint, scoped_persist

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
NORM = "sqrt(" + DOT.format(a="{v}", b="{v}") + ")"


def _with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.expr(NORM.format(v=vec)))


def cosine_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """All pairs with cosine similarity >= threshold:
    (id_a, id_b, cosine). Exact quadratic baseline."""
    e = _with_norm(emb.select("vec_id", "embedding"))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("norm").alias("nb"))
    dot = F.expr(DOT.format(a="va", b="vb"))
    cos = F.round(dot / (F.col("na") * F.col("nb")), 4)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_sql(emb_sql: str, threshold: float = 0.95) -> str:
    dot = "list_dot_product(a.embedding, b.embedding)"
    na = "sqrt(list_dot_product(a.embedding, a.embedding))"
    nb = "sqrt(list_dot_product(b.embedding, b.embedding))"
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({dot} / ({na} * {nb}), 4) AS cosine
    FROM {emb_sql} a JOIN {emb_sql} b ON a.vec_id < b.vec_id
    WHERE ROUND({dot} / ({na} * {nb}), 4) >= {threshold}
    """


def ann_topk_bruteforce(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first n_queries vectors:
    (query_id, neighbor_id, cosine, rank). Deterministic tiebreak on
    neighbor_id."""
    from pyspark.sql import Window

    e = _with_norm(emb.select("vec_id", "embedding"))
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vq"), F.col("norm").alias("nq")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vc"), F.col("norm").alias("nc"))
    cos = F.round(F.expr(DOT.format(a="vq", b="vc")) / (F.col("nq") * F.col("nc")), 4)
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_topk_sql(emb_sql: str, n_queries: int = 10, k: int = 5) -> str:
    dot = "list_dot_product(q.embedding, c.embedding)"
    nq = "sqrt(list_dot_product(q.embedding, q.embedding))"
    nc = "sqrt(list_dot_product(c.embedding, c.embedding))"
    return f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND({dot} / ({nq} * {nc}), 4) AS cosine
        FROM {emb_sql} q JOIN {emb_sql} c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {n_queries}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def near_dup_embeddings(emb: DataFrame) -> DataFrame:
    """Deterministic near-duplicate augmentation (embedding analogue of
    dedup.near_dup_corpus): every 5th vector gets a variant
    (vec_id + 1_000_000) with additive noise 0.01*(((vec_id+i) % 11) - 5)
    per component — planted positives so threshold queries compare
    non-empty result sets (the raw corpus is random, max pairwise cosine
    ~0.51). Arithmetic is mirrored operation-for-operation in
    near_dup_embeddings_sql so Spark and DuckDB agree bit-for-bit."""
    base = emb.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("embedding")
    )
    variants = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) ->"
            " cast(x as double) + 0.01 * (((vec_id + i) % 11) - 5))"
        ).alias("embedding"),
    )
    return base.unionByName(variants)


def near_dup_embeddings_sql(emb_sql: str) -> str:
    # DuckDB 1.0 list_transform has no index form — generate_series(1, n)
    # provides the (1-based) index, hence the -1 to match Spark's 0-based i.
    return f"""(
    SELECT vec_id, embedding::DOUBLE[] AS embedding FROM {emb_sql}
    UNION ALL
    SELECT vec_id + 1000000,
           list_transform(generate_series(1, len(embedding)),
                          i -> embedding[i]::DOUBLE + 0.01 * (((vec_id + i - 1) % 11) - 5))
    FROM {emb_sql} WHERE (vec_id % 5) = 0
)"""


# --- LSH scale path -----------------------------------------------------------

N_PLANES = 6  # 64 buckets — sized so local test corpora keep ~n/64 candidates per bucket
EMBEDDING_DIM = 64  # testdata embeddings.parquet vector width


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1)."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return (h / 2**32) * 2.0 - 1.0


def lsh_bucket_col(dim: int, n_planes: int = N_PLANES, first_plane: int = 0) -> F.Column:
    """Signature = concat of sign bits of dot(v, plane_i). Plane
    components are md5-derived literals, so Catalyst constant-folds each
    plane array and the per-row cost is n_planes JVM dot products."""
    bits = []
    for p in range(first_plane, first_plane + n_planes):
        components = ", ".join(str(_plane_component(p, d)) for d in range(dim))
        dot = F.expr(DOT.format(a="embedding", b=f"array({components})"))
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _banded_sigs(emb: DataFrame, n_bands: int, band_bits: int, dim: int) -> DataFrame:
    """(vec_id, band_id, sig): n_bands independent band_bits-bit
    hyperplane signatures per vector — the slim frame both LSH operators
    join on. A pair is a candidate iff it agrees on >=1 full band
    (OR-amplification: p = 1-(1-(1-theta/pi)^r)^b)."""
    bands = [
        F.struct(
            F.lit(i).alias("band_id"),
            lsh_bucket_col(dim, band_bits, first_plane=i * band_bits).alias("sig"),
        )
        for i in range(n_bands)
    ]
    return emb.select("vec_id", F.explode(F.array(*bands)).alias("b")).select(
        "vec_id", F.col("b.band_id").alias("band_id"), F.col("b.sig").alias("sig")
    )


def ann_topk_lsh(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_bands: int = 16,
    band_bits: int = 2,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Approximate top-k via banded hyperplane LSH: candidates agree on
    >=1 of n_bands band_bits-bit signatures, then exact cosine + window
    rank. Same output schema as the brute-force variant.

    band_bits is the selectivity knob: 2 bits/band keeps recall ~0.99
    even for near-orthogonal neighbors (test corpus); a 10^12-row
    deployment with genuinely clustered embeddings raises band_bits (and
    n_bands) so candidate lists stay ~constant per query. `dim` is a
    parameter (fixed by the table schema), not probed with .first(): a
    query builder composes a plan, never runs one, and must not fail on
    empty input."""
    from pyspark.sql import Window

    # e feeds the band frame and both verify sides; banded feeds both
    # halves of the candidate self-join — persist each once (same pattern
    # as the minhash shingle frame in dedup.py)
    e = scoped_persist(_with_norm(emb.select("vec_id", "embedding")))
    banded = scoped_persist(_banded_sigs(e, n_bands, band_bits, dim))
    qb = banded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "band_id", "sig"
    )
    cands = (
        qb.join(banded, ["band_id", "sig"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("vq"), F.col("norm").alias("nq"))
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vc"), F.col("norm").alias("nc"))
    cos = F.round(F.expr(DOT.format(a="vq", b="vc")) / (F.col("nq") * F.col("nc")), 4)
    scored = cands.join(q, "query_id").join(c, "neighbor_id").select(
        "query_id", "neighbor_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_topk_lsh_sql(
    emb_sql: str,
    n_queries: int = 10,
    k: int = 5,
    n_bands: int = 16,
    band_bits: int = 2,
    dim: int = EMBEDDING_DIM,
) -> str:
    """DuckDB twin of ann_topk_lsh. The hyperplanes are md5-derived
    literals (see _plane_component), so the SAME plane constants are
    rendered into this SQL and the probabilistic candidate set — not
    just the final ranking — is reproduced exactly. Sign bits are stable
    across engines: |dot| of 64-dim corpus vectors against these planes
    is ~O(1), astronomically far from the ~1e-15 associativity window
    where double accumulation order could flip a sign."""
    band_rows = []
    for i in range(n_bands):
        bits = []
        for p in range(i * band_bits, (i + 1) * band_bits):
            comps = ", ".join(str(_plane_component(p, d)) for d in range(dim))
            bits.append(
                f"(CASE WHEN list_dot_product(emb, [{comps}]::DOUBLE[]) >= 0"
                " THEN '1' ELSE '0' END)"
            )
        band_rows.append(
            f"SELECT vec_id, {i} AS band_id, " + " || ".join(bits) + " AS sig FROM e"
        )
    banded = "\n        UNION ALL\n        ".join(band_rows)
    dot = "list_dot_product(q.emb, c.emb)"
    nq = "sqrt(list_dot_product(q.emb, q.emb))"
    nc = "sqrt(list_dot_product(c.emb, c.emb))"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM {emb_sql}),
    banded AS (
        {banded}
    ),
    cands AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
        FROM banded qb JOIN banded cb
          ON qb.band_id = cb.band_id AND qb.sig = cb.sig
        WHERE qb.vec_id < {n_queries} AND qb.vec_id <> cb.vec_id
    ),
    scored AS (
        SELECT cd.query_id, cd.neighbor_id,
               ROUND({dot} / ({nq} * {nc}), 4) AS cosine
        FROM cands cd
        JOIN e q ON q.vec_id = cd.query_id
        JOIN e c ON c.vec_id = cd.neighbor_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


# --- IVF scale path -----------------------------------------------------------


def ivf_assign(
    emb: DataFrame, n_lists: int = 8, vec: str = "embedding"
) -> DataFrame:
    """Coarse quantizer assignment: (vec_id, list_id, embedding, norm).

    Centroids are the first `n_lists` corpus vectors (deterministic seed
    set — reproducible in any engine without an iterative trainer; a
    production deployment trains centroids offline with pyspark.ml
    KMeans(seed=...) and broadcasts the fitted table instead, the plan
    shape below is identical). Assignment is a broadcast nested-loop
    against the tiny centroid frame + one window argmax per vector:
    n_rows x n_lists JVM dot products, no shuffle of the vectors
    themselves. Scores are rounded to 6 dp before the argmax so the
    DuckDB twin orders identically."""
    from pyspark.sql import Window

    e = _with_norm(emb.select("vec_id", vec)).withColumnRenamed(vec, "embedding")
    cent = e.filter(F.col("vec_id") < n_lists).select(
        F.col("vec_id").alias("list_id"),
        F.col("embedding").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    score = F.round(
        F.expr(DOT.format(a="embedding", b="cvec")) / (F.col("norm") * F.col("cnorm")), 6
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("list_id"))
    return (
        e.join(F.broadcast(cent))
        .select("vec_id", "embedding", "norm", "list_id", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "list_id", "embedding", "norm")
    )


def ann_topk_ivf(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning — the other
    canonical ANN scale path next to hyperplane LSH. Every vector is
    assigned to its nearest coarse centroid (ivf_assign); each query
    probes its `n_probe` nearest centroid lists and is verified with the
    exact cosine against only those lists' members.

    Plan shape at 10^12 rows: the centroid table broadcasts (KB-scale),
    assignment is map-side, and the single shuffle keys on list_id —
    each query touches ~n_probe/n_lists of the corpus instead of all of
    it. Output schema matches ann_topk_bruteforce; recall on clustered
    data is pinned by tests/test_dedup_similarity.py (planted near-dups
    land in their original's list with certainty at cosine ~0.99)."""
    from pyspark.sql import Window

    assigned = scoped_persist(ivf_assign(emb, n_lists=n_lists))

    cent = (
        _with_norm(emb.select("vec_id", "embedding"))
        .filter(F.col("vec_id") < n_lists)
        .select(
            F.col("vec_id").alias("list_id"),
            F.col("embedding").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
    )
    q = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("vq"),
        F.col("norm").alias("nq"),
    )
    probe_score = F.round(
        F.expr(DOT.format(a="vq", b="cvec")) / (F.col("nq") * F.col("cnorm")), 6
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("pscore").desc(), F.col("list_id"))
    probes = (
        q.join(F.broadcast(cent))
        .select("query_id", "vq", "nq", "list_id", probe_score.alias("pscore"))
        .withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "vq", "nq", "list_id")
    )
    cand = assigned.select(
        F.col("list_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("vc"),
        F.col("norm").alias("nc"),
    )
    cos = F.round(F.expr(DOT.format(a="vq", b="vc")) / (F.col("nq") * F.col("nc")), 4)
    scored = (
        probes.join(cand, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_topk_ivf_sql(
    emb_sql: str,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 4,
) -> str:
    """DuckDB twin of ann_topk_ivf — same seed centroids, same 6-dp
    assignment rounding, same probe fan-out and 4-dp verify, so the
    approximate result set (not just the ranking) is reproduced
    exactly."""
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM {emb_sql}
    ),
    cent AS (SELECT vec_id AS list_id, emb AS cvec, nrm AS cnorm FROM e
             WHERE vec_id < {n_lists}),
    assign0 AS (
        SELECT e.vec_id, c.list_id,
               ROUND(list_dot_product(e.emb, c.cvec) / (e.nrm * c.cnorm), 6) AS score,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.emb, c.cvec)
                                                 / (e.nrm * c.cnorm), 6) DESC,
                                           c.list_id) AS rn
        FROM e CROSS JOIN cent c
    ),
    assigned AS (SELECT vec_id, list_id FROM assign0 WHERE rn = 1),
    probes0 AS (
        SELECT e.vec_id AS query_id, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.emb, c.cvec)
                                                 / (e.nrm * c.cnorm), 6) DESC,
                                           c.list_id) AS prn
        FROM e CROSS JOIN cent c
        WHERE e.vec_id < {n_queries}
    ),
    probes AS (SELECT query_id, list_id FROM probes0 WHERE prn <= {n_probe}),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROUND(list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm), 4) AS cosine
        FROM probes p
        JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
        JOIN e q ON q.vec_id = p.query_id
        JOIN e c ON c.vec_id = a.vec_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float = 0.8,
    n_bands: int = 16,
    band_bits: int = 2,
    dim: int = EMBEDDING_DIM,
) -> DataFrame:
    """Threshold near-dup pairs, LSH-bucketed — the 100-TB path that
    replaces cosine_pairs' cartesian. Same output schema/semantics:
    (id_a, id_b, cosine) with cosine >= threshold.

    Banded random-hyperplane amplification: a pair is a candidate iff it
    agrees on ALL band_bits sign bits of >=1 of n_bands bands; candidates
    are then verified with the exact cosine, so precision is always 1.0
    and recall is the OR-amplified 1-(1-(1-θ/π)^r)^b. With r=2, b=16 a
    pair at cosine 0.8 (θ/π≈0.205) is missed with p≈(1-0.632)^16≈1e-7;
    bench/test corpora are deterministic, so the green oracle comparison
    against the exact cartesian is stable, not luck.

    Plan shape: one narrow (vec_id, band_id, sig) frame exploded b times,
    self-joined on (band_id, sig) — shuffle is b slim rows per vector,
    never the full vector; the verify join rejoins embeddings by vec_id.
    """
    sigs = scoped_persist(_with_norm(emb.select("vec_id", "embedding")))
    banded = scoped_persist(_banded_sigs(sigs, n_bands, band_bits, dim))

    la = banded.select(F.col("vec_id").alias("id_a"), "band_id", "sig")
    lb = banded.select(F.col("vec_id").alias("id_b"), "band_id", "sig")
    cands = (
        la.join(lb, ["band_id", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    ea = sigs.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("norm").alias("na"))
    eb = sigs.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("norm").alias("nb"))
    cos = F.round(F.expr(DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")), 4)
    return (
        cands.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# --- IVF k-means training (Lloyd refinement of the seed quantizer) -----------------

IVF_TRAIN_ITERS = 2


def ivf_train(
    emb: DataFrame, n_lists: int = 8, iters: int = IVF_TRAIN_ITERS
) -> DataFrame:
    """Lloyd-refined coarse quantizer → (list_id, pos, component): the
    per-dimension centroid components after `iters` k-means iterations
    from the deterministic seed set (first n_lists vectors).

    Engine-portable determinism: the centroid mean uses an EXACT
    decimal(27,7) sum — double summation order varies with partitioning
    and would flip low bits (and the oracle hash) run to run — divided
    by the member count and rounded to 6dp. Assignment argmax rounds
    scores to 6dp with min-list_id tiebreak (same contract as
    ivf_assign). Empty clusters keep their previous centroid.

    Plan shape: per iteration, one broadcast of the KB-scale centroid
    table, a map-side argmax (window over n_lists rows per vector), and
    one (list_id, pos)-keyed shuffle of exploded components — no
    vector-to-vector join anywhere. `iters` is a fixed small constant,
    so the DuckDB twin unrolls it as chained CTEs."""
    from pyspark.sql import Window

    e = _with_norm(emb.select("vec_id", "embedding"))
    cent0 = e.filter(F.col("vec_id") < n_lists).select(
        F.col("vec_id").alias("list_id"),
        F.col("embedding").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("list_id"))
    score = F.round(
        F.expr(DOT.format(a="embedding", b="cvec")) / (F.col("norm") * F.col("cnorm")), 6
    )

    def step(cent: DataFrame):
        assigned = (
            e.join(F.broadcast(cent))
            .select("vec_id", "embedding", "norm", "list_id", score.alias("score"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        comp = assigned.select(
            "list_id", F.posexplode("embedding").alias("pos", "val")
        )
        # exact integer mean: each component quantizes to a scaled
        # BIGINT via an EXPLICIT half-away-from-zero formula (floor/ceil
        # of x*1e7±0.5 — float→double is exact and every step is one
        # correctly-rounded IEEE op, so the integers are bit-identical
        # across engines), then an exact integer sum and two
        # fixed-order divisions. Neither decimal casts (engines round
        # the float→decimal(27,7) cast differently — measured 1-ulp
        # sum differences at sf0.01) nor ROUND(double, 6) of the
        # quotient (half-up vs half-even at the 5e-7 boundary) are
        # portable; this formula is.
        q = (
            "CAST(CASE WHEN val >= 0"
            " THEN floor(CAST(val AS DOUBLE) * 10000000.0 + 0.5)"
            " ELSE ceil(CAST(val AS DOUBLE) * 10000000.0 - 0.5) END AS BIGINT)"
        )
        means = comp.groupBy("list_id", "pos").agg(
            (
                (
                    F.expr(f"SUM({q})").cast("double")
                    / F.count("*").cast("double")
                )
                / F.lit(10000000.0)
            ).alias("m")
        )
        new_cent = (
            means.groupBy("list_id")
            .agg(
                F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias("cvec")
            )
        )
        # empty clusters keep the previous centroid (left join old -> new)
        kept = (
            cent.select("list_id", F.col("cvec").alias("old_cvec"))
            .join(new_cent, "list_id", "left")
            .select("list_id", F.coalesce("cvec", "old_cvec").alias("cvec"))
        )
        return _with_norm(kept, "cvec").withColumnRenamed("norm", "cnorm"), None

    cent, _ = fixpoint(cent0, step, iters)
    return cent.select("list_id", F.posexplode("cvec").alias("pos", "component"))


def _ivf_train_sql_cte(
    emb_sql: str, n_lists: int, iters: int, prefix: str = ""
) -> str:
    """Chained-CTE DuckDB twin of ivf_train: cent_0 = seed set, then for
    each iteration an assignment argmax + exact-decimal mean. Returns
    the WITH body whose final CTE is `{prefix}cent_{iters}`
    (list_id, pos, m). `prefix` namespaces every CTE so several trains
    (one per PQ subspace) compose in one WITH."""
    dot = (
        "list_aggregate(list_transform(generate_series(1, len({a})),"
        " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )
    parts = [
        f"""{prefix}e AS (
        SELECT vec_id, embedding,
               sqrt({dot.format(a='embedding', b='embedding')}) AS nrm
        FROM {emb_sql}
    ),
    {prefix}cent_0 AS (
        SELECT vec_id AS list_id, pos, CAST(embedding[pos] AS DOUBLE) AS m
        FROM {prefix}e, UNNEST(generate_series(1, len(embedding))) AS t(pos)
        WHERE vec_id < {n_lists}
    )"""
    ]
    for it in range(1, iters + 1):
        prev = f"cent_{it - 1}"
        parts.append(f"""{prefix}cvec_{it} AS (
        SELECT list_id, list(m ORDER BY pos) AS cvec,
               sqrt(list_aggregate(list_transform(list(m ORDER BY pos), x -> x * x), 'sum')) AS cnorm
        FROM {prefix}{prev} GROUP BY list_id
    ),
    {prefix}scored_{it} AS (
        SELECT e.vec_id, e.embedding, c.list_id,
               ROUND({dot.format(a='e.embedding', b='c.cvec')} / (e.nrm * c.cnorm), 6) AS score
        FROM {prefix}e e CROSS JOIN {prefix}cvec_{it} c
    ),
    {prefix}assign_{it} AS (
        SELECT vec_id, embedding, list_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, list_id) AS rn
            FROM {prefix}scored_{it}
        ) WHERE rn = 1
    ),
    {prefix}mean_{it} AS (
        SELECT list_id, pos,
               (CAST(SUM(CAST(CASE WHEN embedding[pos] >= 0
                    THEN floor(CAST(embedding[pos] AS DOUBLE) * 10000000.0 + 0.5)
                    ELSE ceil(CAST(embedding[pos] AS DOUBLE) * 10000000.0 - 0.5) END AS BIGINT)) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)) / 10000000.0 AS m
        FROM {prefix}assign_{it}, UNNEST(generate_series(1, len(embedding))) AS t(pos)
        GROUP BY 1, 2
    ),
    {prefix}cent_{it} AS (
        SELECT p.list_id, p.pos, COALESCE(n.m, p.m) AS m
        FROM {prefix}{prev} p LEFT JOIN {prefix}mean_{it} n USING (list_id, pos)
    )""")
    return ",\n    ".join(parts)


def ivf_train_sql(
    emb_sql: str, n_lists: int = 8, iters: int = IVF_TRAIN_ITERS
) -> str:
    return f"""
    WITH {_ivf_train_sql_cte(emb_sql, n_lists, iters)}
    SELECT list_id, CAST(pos - 1 AS INT) AS pos, m AS component
    FROM cent_{iters}
    """


def ivf_kmeans_assign(
    emb: DataFrame, n_lists: int = 8, iters: int = IVF_TRAIN_ITERS
) -> DataFrame:
    """(vec_id, list_id): nearest trained centroid per vector — the
    assignment a production IVF build writes as its list index. Same
    argmax contract as training; broadcast centroids, no vector
    shuffle."""
    from pyspark.sql import Window

    cent_flat = ivf_train(emb, n_lists, iters)
    cent = (
        cent_flat.groupBy("list_id")
        .agg(F.expr("transform(array_sort(collect_list(struct(pos, component))), s -> s.component)").alias("cvec"))
    )
    cent = _with_norm(cent, "cvec").withColumnRenamed("norm", "cnorm")
    e = _with_norm(emb.select("vec_id", "embedding"))
    score = F.round(
        F.expr(DOT.format(a="embedding", b="cvec")) / (F.col("norm") * F.col("cnorm")), 6
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("list_id"))
    return (
        e.join(F.broadcast(cent))
        .select("vec_id", "list_id", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "list_id")
    )


def ivf_kmeans_assign_sql(
    emb_sql: str, n_lists: int = 8, iters: int = IVF_TRAIN_ITERS
) -> str:
    dot = (
        "list_aggregate(list_transform(generate_series(1, len({a})),"
        " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )
    return f"""
    WITH {_ivf_train_sql_cte(emb_sql, n_lists, iters)},
    fc AS (
        SELECT list_id, list(m ORDER BY pos) AS cvec,
               sqrt(list_aggregate(list_transform(list(m ORDER BY pos), x -> x * x), 'sum')) AS cnorm
        FROM cent_{iters} GROUP BY list_id
    ),
    scored AS (
        SELECT e.vec_id, c.list_id,
               ROUND({dot.format(a='e.embedding', b='c.cvec')} / (e.nrm * c.cnorm), 6) AS score
        FROM e CROSS JOIN fc c
    )
    SELECT vec_id, list_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY score DESC, list_id) AS rn
        FROM scored
    ) WHERE rn = 1
    """


# --- semantic dedup (SemDeDup) ---------------------------------------------------

SEMDEDUP_THRESHOLD = 0.9


def semantic_dedup(
    emb: DataFrame, n_lists: int = 8, threshold: float = SEMDEDUP_THRESHOLD
) -> DataFrame:
    """(vec_id, cluster_id, keep): embedding-space near-duplicate
    collapse in the SemDeDup shape (Abbas et al. 2023): cluster the
    corpus with the coarse quantizer, compare pairs ONLY within a
    cluster, connect the above-threshold pairs into components, keep
    the min-id representative of each.

    Scale shape: the corpus-wide pair join never exists — the only
    pair computation is the within-list self-join keyed on list_id,
    whose cost is sum(|list|^2); production sizes n_lists ~ sqrt(N)
    (the k-means-k rule SemDeDup uses) so per-list work stays bounded
    and the join key cardinality stays high. Cross-cluster duplicates
    are missed by construction — the method's documented recall
    trade-off, shared by the oracle (which mirrors the same
    clustering), so the hash compare is exact, not best-effort.
    Component assignment reuses dedup.dedup_clusters (hash-to-min +
    pointer doubling, O(log diameter) rounds)."""
    from rdf2smw_spark.operators.dedup import dedup_clusters

    assigned = scoped_persist(ivf_assign(emb, n_lists=n_lists))
    a = assigned.select(
        "list_id",
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("va"),
        F.col("norm").alias("na"),
    )
    b = assigned.select(
        "list_id",
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
    )
    cos = F.round(
        F.expr(DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")), 4
    )
    pairs = (
        a.join(b, "list_id")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"))
    cc = dedup_clusters(docs, pairs.select("doc_a", "doc_b"))
    return cc.select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def semantic_dedup_sql(
    emb_sql: str, n_lists: int = 8, threshold: float = SEMDEDUP_THRESHOLD
) -> str:
    """DuckDB twin: same seed centroids / 6-dp assignment argmax as
    ann_topk_ivf_sql, same 4-dp pair cosine, recursive-CTE transitive
    closure (dedup_clusters_sql)."""
    from rdf2smw_spark.operators.dedup import dedup_clusters_sql

    pairs_sql = f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM {emb_sql}
    ),
    cent AS (SELECT vec_id AS list_id, emb AS cvec, nrm AS cnorm FROM e
             WHERE vec_id < {n_lists}),
    assign0 AS (
        SELECT e.vec_id, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND(list_dot_product(e.emb, c.cvec)
                                                 / (e.nrm * c.cnorm), 6) DESC,
                                           c.list_id) AS rn
        FROM e CROSS JOIN cent c
    ),
    assigned AS (SELECT vec_id, list_id FROM assign0 WHERE rn = 1)
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
    FROM assigned a
    JOIN assigned b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
    JOIN e ea ON ea.vec_id = a.vec_id
    JOIN e eb ON eb.vec_id = b.vec_id
    WHERE ROUND(list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm), 4)
          >= {threshold}
    """
    cc = dedup_clusters_sql(f"(SELECT vec_id AS doc_id FROM {emb_sql})", pairs_sql)
    return f"""
    SELECT doc_id AS vec_id, cluster_id, doc_id = cluster_id AS keep
    FROM ({cc})
    """


# --- product quantization (IVF-PQ's PQ half) -----------------------------------------
# Jegou et al. 2011: split the vector into m subspaces, k-means each
# subspace into ks codewords, store per-vector CODES (m small ints)
# instead of floats, and answer queries by Asymmetric Distance
# Computation — the query stays exact, every corpus vector's score is a
# table lookup per subspace. At 100 TB this is the memory story LSH and
# IVF lists don't cover: 64 floats (256 B) compress to m=4 bytes, and
# the ADC join ships (vec_id, subspace, code) triples, never vectors.

PQ_M = 4         # subspaces
PQ_SUBDIM = 16   # dims per subspace (m * subdim = embedding dim)
PQ_KS = 4        # codewords per subspace
PQ_ITERS = 1     # Lloyd iterations per sub-quantizer


def _pq_sub(emb: DataFrame, j: int) -> DataFrame:
    return emb.select(
        "vec_id",
        F.expr(f"slice(embedding, {j * PQ_SUBDIM + 1}, {PQ_SUBDIM})").alias("embedding"),
    )


def _pq_codebook(emb: DataFrame, j: int) -> DataFrame:
    """(list_id, cvec) for subspace j — ivf_train reused per subspace,
    so the sub-quantizer inherits the engine-portable exact-mean
    discipline wholesale."""
    flat = ivf_train(_pq_sub(emb, j), n_lists=PQ_KS, iters=PQ_ITERS)
    return flat.groupBy("list_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, component))), s -> s.component)"
        ).alias("cvec")
    )


# half-away-from-zero e6 quantization of a double (same portability
# argument as ivf_train's e7 component quantizer)
_Q6 = (
    "CAST(CASE WHEN {x} >= 0 THEN floor(({x}) * 1000000.0 + 0.5)"
    " ELSE ceil(({x}) * 1000000.0 - 0.5) END AS BIGINT)"
)


def pq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, subspace, code): the PQ encoding — per subspace, the
    cosine-argmax codeword (round-6 score, min-code tiebreak; the
    ivf_assign contract). Broadcast codebooks, map-side argmax, no
    vector shuffle."""
    from pyspark.sql import Window

    out = None
    for j in range(PQ_M):
        cb = _with_norm(_pq_codebook(emb, j), "cvec").withColumnRenamed("norm", "cnorm")
        e = _with_norm(_pq_sub(emb, j))
        score = F.round(
            F.expr(DOT.format(a="embedding", b="cvec")) / (F.col("norm") * F.col("cnorm")), 6
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("list_id"))
        part = (
            e.join(F.broadcast(cb))
            .select("vec_id", "list_id", score.alias("score"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.lit(j).alias("subspace"), F.col("list_id").alias("code"))
        )
        out = part if out is None else out.unionByName(part)
    return out


def pq_topk(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, score_e6, rank): ADC top-k by approximate
    inner product — score(q, x) = sum_j dot(q_j, codebook_j[code_j(x)]),
    each subspace term e6-quantized BEFORE the sum so the total is an
    exact BIGINT at any parallelism. The inner product decomposes
    across subspaces exactly (cosine would not — norms are global),
    which is why ADC uses it. Corpus side ships only (vec_id, subspace,
    code); the per-query lookup table (n_queries * m * ks rows) is
    broadcast."""
    from pyspark.sql import Window

    codes = pq_codes(emb)
    lut = None
    for j in range(PQ_M):
        cb = _pq_codebook(emb, j)
        q = _pq_sub(emb.filter(F.col("vec_id") < n_queries), j).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        dotx = DOT.format(a="qvec", b="cvec")
        part = q.join(F.broadcast(cb)).select(
            "query_id",
            F.lit(j).alias("subspace"),
            F.col("list_id").alias("code"),
            F.expr(_Q6.format(x=dotx)).alias("term_e6"),
        )
        lut = part if lut is None else lut.unionByName(part)

    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("term_e6").alias("score_e6"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score_e6", F.col("rank").cast("long").alias("rank"))
    )


def pq_topk_sql(emb_sql: str, n_queries: int = 10, k: int = 5) -> str:
    """DuckDB twin: one prefixed ivf_train CTE chain per subspace, then
    the same encode + e6-quantized ADC."""
    dot = (
        "list_aggregate(list_transform(generate_series(1, len({a})),"
        " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )
    ctes, code_parts, lut_parts = [], [], []
    for j in range(PQ_M):
        p = f"s{j}_"
        lo, hi = j * PQ_SUBDIM + 1, (j + 1) * PQ_SUBDIM
        sub = f"(SELECT vec_id, embedding[{lo}:{hi}] AS embedding FROM {emb_sql})"
        ctes.append(_ivf_train_sql_cte(sub, PQ_KS, PQ_ITERS, prefix=p))
        ctes.append(f"""{p}cb AS (
        SELECT list_id, list(m ORDER BY pos) AS cvec,
               sqrt(list_aggregate(list_transform(list(m ORDER BY pos), x -> x * x), 'sum')) AS cnorm
        FROM {p}cent_{PQ_ITERS} GROUP BY list_id
    )""")
        ctes.append(f"""{p}codes AS (
        SELECT vec_id, {j} AS subspace, list_id AS code FROM (
            SELECT e.vec_id, c.list_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                       ROUND({dot.format(a='e.embedding', b='c.cvec')} / (e.nrm * c.cnorm), 6) DESC,
                       c.list_id) AS rn
            FROM {p}e e CROSS JOIN {p}cb c
        ) WHERE rn = 1
    )""")
        q6 = _Q6.format(x=dot.format(a="q.embedding", b="c.cvec"))
        ctes.append(f"""{p}lut AS (
        SELECT q.vec_id AS query_id, {j} AS subspace, c.list_id AS code,
               {q6} AS term_e6
        FROM {p}e q CROSS JOIN {p}cb c WHERE q.vec_id < {n_queries}
    )""")
        code_parts.append(f"SELECT * FROM {p}codes")
        lut_parts.append(f"SELECT * FROM {p}lut")
    ctes.append("codes AS (" + " UNION ALL ".join(code_parts) + ")")
    ctes.append("lut AS (" + " UNION ALL ".join(lut_parts) + ")")
    ctes.append(f"""adc AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(l.term_e6) AS BIGINT) AS score_e6
        FROM codes c JOIN lut l USING (subspace, code)
        WHERE l.query_id <> c.vec_id
        GROUP BY 1, 2
    )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, score_e6, CAST(rank AS BIGINT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score_e6 DESC, neighbor_id) AS rank
        FROM adc
    ) WHERE rank <= {k}
    """
    )


# --- ANN quality + hard-negative mining (round 4) --------------------------------


def ivf_recall(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 4,
) -> DataFrame:
    """Per-query recall@k of the IVF index vs the exact top-k:
    (query_id, n_exact, n_hit, recall_e6). The measurement that turns
    the n_probe/n_lists dial from a guess into a decision — same
    BASELINE.md discipline as dedup's lsh_recall.

    Scale note: the exact side is the oracle-role quadratic scan
    (ann_topk_bruteforce's contract) — at web scale this report runs on
    a query SAMPLE, never the full corpus; the IVF side is the
    production-shaped plan (broadcast centroids, one list_id shuffle).
    Ratios are e6-scaled integer divisions so the rows hash-match at
    any parallelism."""
    exact = ann_topk_bruteforce(emb, n_queries, k).select("query_id", "neighbor_id")
    approx = (
        ann_topk_ivf(emb, n_queries, k, n_lists, n_probe)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return (
        j.groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            F.col("n_hit").cast("long").alias("n_hit"),
            F.expr("(n_hit * 1000000) DIV n_exact").alias("recall_e6"),
        )
    )


def ivf_recall_sql(
    emb_sql: str,
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 4,
) -> str:
    exact = ann_topk_sql(emb_sql, n_queries, k)
    approx = ann_topk_ivf_sql(emb_sql, n_queries, k, n_lists, n_probe)
    return f"""
    WITH exact AS ({exact}),
    approx AS ({approx})
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST((SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS recall_e6
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


HARD_NEG_LO = 0.30   # below this: trivially easy negative, no gradient signal
HARD_NEG_HI = 0.85   # above this: likely a positive / near-dup, poisonous label


def hard_negatives(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 3,
    lo: float = HARD_NEG_LO,
    hi: float = HARD_NEG_HI,
    pool_k: int = 50,
    n_lists: int = 8,
    n_probe: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: per
    query, the top-k neighbors whose cosine falls in [lo, hi) — similar
    enough to carry gradient signal, dissimilar enough not to be an
    unlabeled positive (the classic false-negative poison). Candidates
    come from the production-shaped IVF probe (pool_k deep), so the
    plan is the ann_topk_ivf plan plus a band filter and a per-query
    re-rank — broadcast centroids, one list_id shuffle, partitioned
    window. Thresholds compare 4-dp-rounded cosines, identical in both
    engines."""
    from pyspark.sql import Window

    pool = ann_topk_ivf(emb, n_queries, pool_k, n_lists, n_probe)
    band = pool.filter((F.col("cosine") >= lo) & (F.col("cosine") < hi))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        band.select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negatives_sql(
    emb_sql: str,
    n_queries: int = 10,
    k: int = 3,
    lo: float = HARD_NEG_LO,
    hi: float = HARD_NEG_HI,
    pool_k: int = 50,
    n_lists: int = 8,
    n_probe: int = 4,
) -> str:
    pool = ann_topk_ivf_sql(emb_sql, n_queries, pool_k, n_lists, n_probe)
    return f"""
    WITH pool AS ({pool})
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM pool WHERE cosine >= {lo} AND cosine < {hi}
    ) WHERE rank <= {k}
    """
