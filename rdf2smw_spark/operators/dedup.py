"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash banded LSH, n-gram Jaccard, SimHash, and
embedding-cosine near-dup. Everything is pyspark.sql built-ins over
md5-based hashing so each operator has an exactly mirrored DuckDB oracle
(colocated *_sql generators).

Scale notes (100 TB):
- exact dedup: one shuffle on a 32-hex fingerprint; AQE-coalesced.
- shingle join (n-gram Jaccard): the classic blowup is stop-shingles
  shared by millions of docs — `max_df` caps document frequency before
  the self-join (both engines), the standard frequency-pruning trick.
- minhash LSH: candidate generation joins on (band_id, band_hash) —
  cardinality ~n_docs*bands, each group tiny by construction; the
  verify step recomputes exact Jaccard on candidates only.
- simhash: signature is a pure map-side computation (explode tokens x 32
  bits, two aggregations); near-dup pairs join on byte-bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf2smw_spark.session import (
    fixpoint,
    guarded_collect,
    scoped_persist,
    small_local_df,
)

# --- normalization / shingling ----------------------------------------------

NORM_RX = "[^a-z0-9 ]+"
SHINGLE_LEN = 9
CC_EDGE_COLLECT_LIMIT = 2_000_000  # near-dup pair lists beyond this stay distributed
MINHASH_K = 12
MINHASH_BANDS = 4  # rows per band = MINHASH_K / MINHASH_BANDS = 3


def norm_text_sql(expr: str, dialect: str = "spark") -> str:
    g = ", 'g'" if dialect == "duckdb" else ""
    inner = f"regexp_replace(lower({expr}), '{NORM_RX}', ' '{g})"
    collapsed = f"regexp_replace({inner}, ' +', ' '{g})"
    return f"trim({collapsed})"


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint, canonical_id, group_size): md5 of normalized
    text; canonical = min doc_id per group."""
    fp = docs.select(
        "doc_id", F.expr(f"md5({norm_text_sql('text')})").alias("fingerprint")
    )
    groups = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    return fp.join(groups, "fingerprint").select(
        "doc_id", "fingerprint", "canonical_id", "group_size"
    )


def exact_dedup_sql(docs_sql: str) -> str:
    norm = norm_text_sql("text", "duckdb")
    return f"""
    WITH fp AS (SELECT doc_id, md5({norm}) AS fingerprint FROM {docs_sql}),
    grp AS (SELECT fingerprint, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
            FROM fp GROUP BY fingerprint)
    SELECT fp.doc_id, fp.fingerprint, grp.canonical_id, grp.group_size
    FROM fp JOIN grp USING (fingerprint)
    """


def near_dup_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic near-duplicate augmentation: every 7th doc gets a
    variant (doc_id + 1_000_000) with a short suffix — planted positives
    for the MinHash / Jaccard operators (no external data)."""
    variants = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words appended here")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(variants)


def near_dup_corpus_sql(docs_sql: str) -> str:
    return f"""(
    SELECT doc_id, text FROM {docs_sql}
    UNION ALL
    SELECT doc_id + 1000000, text || ' extra tail words appended here'
    FROM {docs_sql} WHERE (doc_id % 7) = 0
)"""


def char_shingles(docs: DataFrame, n: int = SHINGLE_LEN, max_df: int | None = None) -> DataFrame:
    """Distinct character n-gram shingles of normalized text:
    (doc_id, shingle). Requires one row per doc_id (every caller's
    shape). max_df drops shingles appearing in more than max_df docs
    (stop-shingle pruning before any self-join).

    Plan shape (round-3 rework): per-doc dedup happens INSIDE the row
    via array_distinct before the explode, so in-doc repeats (the bulk
    of raw shingles — ~25x at sf0.1, measured 5.3s → 2.7s) never reach
    a shuffle, and because doc_id is unique per row the exploded frame
    is already globally distinct — the corpus-wide distinct() shuffle is
    gone. The max_df prune stays a single-shuffle join: both its sides
    hash-partition on shingle and Catalyst reuses the exchange, so the
    whole function is ONE raw scan + ONE slim shuffle. (A broadcast-anti
    variant was measured SLOWER — its eager stop-list count forces a
    second raw pass that exchange reuse otherwise avoids.)"""
    # The normalize+explode below is the CPU-heavy stage; a small doc
    # corpus arrives as 1-2 scan splits (file-packing floor), leaving
    # the work on 2 cores while the rest idle (measured 2.8s of
    # dd_minhash at sf0.1, run twice by the two plan branches). Widen to
    # the session's parallelism when the input is under it — a no-op at
    # scale, where the corpus already has >= cores partitions and the
    # repartition would be a full shuffle.
    n_parts = docs.rdd.getNumPartitions()
    target = docs.sparkSession.sparkContext.defaultParallelism
    if n_parts < target:
        docs = docs.repartition(target)
    normed = docs.select("doc_id", F.expr(norm_text_sql("text")).alias("norm"))
    sh = normed.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(filter("
                f"transform(sequence(1, greatest(length(norm) - {n - 1}, 1)),"
                f" i -> substring(norm, i, {n})),"
                f" s -> length(s) = {n}))"
            )
        ).alias("shingle"),
    )
    if max_df is not None:
        # one explicit repartition on the prune key; the df aggregation
        # and the join probe then both run exchange-free on top of it.
        # The norm+explode subtree appears twice in the plan (column
        # pruning differentiates the branches, defeating ReusedExchange)
        # but all three alternatives measured slower: the old global
        # distinct() shuffled the RAW pair stream (~25x this volume), a
        # broadcast-anti stop list forced an eager second pass, and
        # caching the base paid more in materialization than the repeat
        # explode costs. Trade: 2x scan CPU for 1/25th shuffle volume —
        # the right side of the ledger on a network-bound cluster.
        sh = sh.repartition("shingle")
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(df_counts.filter(F.col("df") <= max_df), "shingle").select(
            "doc_id", "shingle"
        )
    return sh


def char_shingles_sql(docs_sql: str, n: int = SHINGLE_LEN, max_df: int | None = None) -> str:
    norm = norm_text_sql("text", "duckdb")
    # generate_series as a scalar (list-returning) function — DuckDB's
    # table-function form doesn't accept lateral column arguments
    base = f"""
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST(list_transform(
                   generate_series(1, greatest(length(norm) - {n - 1}, 1)),
                   i -> substring(norm, i, {n}))) AS shingle
        FROM (SELECT doc_id, {norm} AS norm FROM {docs_sql})
    ) WHERE length(shingle) = {n}
    """
    if max_df is None:
        return f"({base})"
    return f"""(
    WITH sh AS ({base}),
    freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT sh.doc_id, sh.shingle FROM sh JOIN freq USING (shingle) WHERE freq.df <= {max_df}
)"""


def _guarded_jaccard():
    """round(|A∩B| / |A∪B|, 4) with the one-row-per-doc_id contract
    enforced LOUDLY (ADVICE r3): char_shingles documents — but cannot
    itself check — that callers pass one row per doc_id. A violation
    duplicates shingles, making |A∩B| exceed |A∪B| and "jaccard" exceed
    1.0, silently corrupting every downstream threshold. The guard
    lives inside the value expression (not a droppable side column that
    Catalyst would prune away unevaluated): an intersection larger than
    the union raises at execution time."""
    union = F.col("na") + F.col("nb") - F.col("n_int")
    return F.when(
        F.col("n_int") <= union, F.round(F.col("n_int") / union, 4)
    ).otherwise(
        F.expr(
            "CAST(raise_error('jaccard > 1: shingle input violates the "
            "one-row-per-doc_id contract (duplicate doc_id rows)') AS DOUBLE)"
        )
    )


def jaccard_pairs(shingles: DataFrame, threshold: float = 0.6) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (doc_a, doc_b, jaccard).
    Self-join on shingle -> |intersection|; sizes -> |union|."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_int"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select("doc_a", "doc_b", _guarded_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_sql(shingles_sql: str, threshold: float = 0.6) -> str:
    return f"""
    WITH sh AS (SELECT * FROM {shingles_sql}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_int
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_int / (sa.n_sh + sb.n_sh - n_int), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(n_int / (sa.n_sh + sb.n_sh - n_int), 4) >= {threshold}
    """


def minhash_signatures(shingles: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, sig_0..sig_{k-1}): sig_i = min md5('<i>:' || shingle).
    Hex-string min is a valid uniform minhash (md5 is the permutation);
    identical and portable in both engines."""
    aggs = [
        F.min(F.expr(f"md5(concat('{i}:', shingle))")).alias(f"sig_{i}") for i in range(k)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_bands(
    shingles: DataFrame, k: int = MINHASH_K, bands: int = MINHASH_BANDS
) -> DataFrame:
    """(doc_id, band, band_hash): the banded LSH signature frame — the
    join key space of minhash_candidates. All bands come from ONE pass
    over the signature aggregation (explode of a band-struct array) — a
    per-band union would re-run the k-way min-agg once per band."""
    r = k // bands
    sigs = minhash_signatures(shingles, k)
    band_structs = [
        F.struct(
            F.lit(bnd).alias("band"),
            F.expr(
                "md5(concat_ws('|', " + ", ".join(f"sig_{bnd * r + j}" for j in range(r)) + "))"
            ).alias("band_hash"),
        )
        for bnd in range(bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.band_hash").alias("band_hash")
    )


def minhash_candidates(
    shingles: DataFrame, k: int = MINHASH_K, bands: int = MINHASH_BANDS
) -> DataFrame:
    """LSH banding: hash each band of r=k/bands signature values; docs
    colliding in any band are candidates. (doc_a, doc_b) distinct."""
    banded = scoped_persist(  # feeds both halves of the self-join
        minhash_bands(shingles, k, bands)
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_for_pairs(
    shingles: DataFrame, pairs: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Exact Jaccard computed for the GIVEN pairs only: route each pair
    through doc_a's shingles, then match doc_b's on (doc_b, shingle) —
    cost is Σ|A| over candidate pairs, independent of the corpus-wide
    shingle co-occurrence. Pairs with empty intersection drop out of the
    join, which is correct: their Jaccard is 0 < threshold."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sh_a = pairs.join(
        shingles.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
    )
    inter = (
        sh_a.join(
            shingles.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_int"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select("doc_a", "doc_b", _guarded_jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dups(
    shingles: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    cache: bool = True,
) -> DataFrame:
    """Candidates from LSH banding, verified with exact Jaccard —
    the scalable near-dup pipeline (shingle->minhash->band->bucket-join
    ->verify). The shingle frame feeds the signature agg plus both sides
    of the verify join — persist it once instead of recomputing the
    shingling 4x.

    The verify is CANDIDATE-RESTRICTED (jaccard_for_pairs): verifying via
    the corpus-wide shingle self-join and intersecting afterwards — the
    round-1 shape — re-introduces exactly the quadratic co-occurrence
    blow-up LSH exists to avoid (measured 2x the whole query's wall time
    at sf0.1; at web scale it is the difference between linear and
    quadratic). Result set is identical: non-candidate verifications
    were discarded by the intersection anyway."""
    if cache:
        shingles = scoped_persist(shingles)
    cands = minhash_candidates(shingles, k, bands)
    return jaccard_for_pairs(shingles, cands, threshold)


def minhash_near_dups_sql(
    shingles_sql: str,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> str:
    r = k // bands
    sig_cols = ",\n           ".join(
        f"MIN(md5('{i}:' || shingle)) AS sig_{i}" for i in range(k)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {bnd} AS band, md5("
        + " || '|' || ".join(f"sig_{bnd * r + j}" for j in range(r))
        + ") AS band_hash FROM sigs"
        for bnd in range(bands)
    )
    return f"""
    WITH sh AS (SELECT * FROM {shingles_sql}),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    banded AS (
        {band_selects}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_int
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT doc_a, doc_b, ROUND(n_int / (sa.n_sh + sb.n_sh - n_int), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_int / (sa.n_sh + sb.n_sh - n_int), 4) >= {threshold}
    )
    SELECT c.doc_a, c.doc_b, v.jaccard
    FROM cands c JOIN verified v ON c.doc_a = v.doc_a AND c.doc_b = v.doc_b
    """


# --- simhash ------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit simhash over distinct normalized tokens.
    Token hash = first 8 md5 hex chars as int; bit b of the signature is
    the sign of sum over tokens of (+1 if token-bit b else -1)."""
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.expr(f"split({norm_text_sql('text')}, ' ')")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
        .withColumn("h", F.expr("cast(conv(substring(md5(tok), 1, 8), 16, 10) as bigint)"))
    )
    bits = toks.select(
        "doc_id", "h", F.explode(F.expr(f"sequence(0, {SIMHASH_BITS - 1})")).alias("b")
    ).withColumn(
        "v", F.when(F.expr("(h >> b) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
    )
    return (
        bits.groupBy("doc_id", "b")
        .agg(F.sum("v").alias("s"))
        .withColumn("bit", F.when(F.col("s") >= 0, F.expr("cast(1 as bigint) << b")).otherwise(F.lit(0)))
        .groupBy("doc_id")
        .agg(F.sum("bit").alias("simhash"))
    )


def simhash_sql(docs_sql: str) -> str:
    norm = norm_text_sql("text", "duckdb")
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok,
               ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, UNNEST(string_split({norm}, ' ')) AS tok FROM {docs_sql})
        WHERE tok <> ''
    ),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM toks, generate_series(0, {SIMHASH_BITS - 1}) t(b)
        GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, candidate-blocked on
    equal signature bytes (a 32-bit signature with distance <= 3 must
    agree on at least one of its 4 bytes — pigeonhole)."""
    sh = simhash(docs)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr("sequence(0, 3)")).alias("byte_i"),
    ).withColumn("byte_v", F.expr("(simhash >> (byte_i * 8)) & 255"))
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "byte_i", "byte_v"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "byte_i", "byte_v"
    )
    pairs = (
        a.join(b, ["byte_i", "byte_v"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("doc_a", "doc_b", "hamming")


def dedup_clusters(
    docs: DataFrame, edges: DataFrame, max_iter: int = 15
) -> DataFrame:
    """(doc_id, cluster_id): connected components over a near-dup pair
    list; cluster_id = MIN doc_id reachable through the pair graph, so
    the canonical survivor of each duplicate cluster is its smallest id
    (singletons keep themselves). This is the step that turns pairwise
    near-dup evidence into the keep/drop decision of a training-data
    dedup pass: transitive duplicates (A~B, B~C, A!~C) must land in ONE
    cluster or the pipeline keeps both A and C.

    Algorithm: hash-to-min label propagation WITH pointer doubling —
    every round each node takes the min of its own and its neighbors'
    labels, then jumps to its label's label (path compression). The
    neighbor step alone needs O(component diameter) rounds; the doubling
    step halves remaining paths each round, so convergence is
    O(log diameter) — max_iter=15 covers components with diameter well
    past 2^15, i.e. any graph that fits on disk. Per round: one
    edge⋈label shuffle (|edges| slim (src, lbl) rows — pairs, not the
    corpus) plus one label⋈label shuffle (|nodes| rows).

    This is an ITERATIVE algorithm: it runs bounded Spark jobs while
    composing (the convergence test), like the class-depth fixpoint —
    not a single declarative plan.

    r6 fast path: the near-dup PAIR list (never the corpus) is usually
    tiny relative to the corpus, so when it fits the guarded collect
    the components are computed exactly by driver union-find and only
    the component-member -> min-id map (bounded by 2x the collected
    pairs) is broadcast back onto the distributed node set — the
    per-round edge⋈label + label⋈label shuffles disappear. Labels are
    identical (min reachable id per component); over-limit pair lists
    keep the distributed loop. This is the one connected-components
    implementation: sameas.uri_components calls it too."""
    nodes = docs.select(F.col("doc_id").alias("node")).distinct()
    pdf = guarded_collect(edges.select("doc_a", "doc_b"), CC_EDGE_COLLECT_LIMIT)
    if pdf is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra if rb < ra else rb] = min(ra, rb)
        members: dict = {}
        for n in set(pdf["doc_a"]) | set(pdf["doc_b"]):
            members.setdefault(find(n), []).append(n)
        mapping = [
            (n, root) for root, ns in members.items() for n in ns if n != root
        ]
        dtype = dict(edges.dtypes)["doc_a"]
        map_df = small_local_df(
            edges.sparkSession, sorted(mapping), f"node {dtype}, lbl {dtype}"
        )
        return (
            nodes.join(F.broadcast(map_df), "node", "left")
            .select(
                F.col("node").alias("doc_id"),
                F.coalesce("lbl", "node").alias("cluster_id"),
            )
        )
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    sym = sym.persist()

    def step(cur: DataFrame):
        nbr = (
            sym.join(
                cur.select(F.col("node").alias("dst"), F.col("lbl").alias("dst_lbl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_lbl").alias("nbr_lbl"))
        )
        stepped = cur.join(nbr, cur["node"] == nbr["src"], "left").select(
            "node",
            F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            cur["lbl"].alias("prev_lbl"),
        )
        # pointer doubling: follow lbl -> lbl's OWN label. Labels are
        # always node ids (mins of node-id sets), so the self-join is
        # total; label(lbl) <= lbl by construction, monotone like the
        # min step.
        hop = stepped.select(F.col("node").alias("lnode"), F.col("lbl").alias("llbl"))
        return stepped.join(hop, stepped["lbl"] == hop["lnode"], "left").select(
            "node",
            F.coalesce("llbl", "lbl").alias("lbl"),
            (F.coalesce("llbl", "lbl") < F.col("prev_lbl")).alias("chg"),
        ), F.col("chg")

    cur, _ = fixpoint(nodes.withColumn("lbl", F.col("node")), step, max_iter)
    sym.unpersist()
    return cur.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def dedup_clusters_sql(docs_sql: str, pairs_sql: str) -> str:
    """DuckDB twin of dedup_clusters: recursive transitive closure,
    cluster_id = MIN reachable id. UNION (not UNION ALL) dedups the
    frontier so the recursion terminates."""
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs_sql}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM {docs_sql}
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    """


def simhash_near_dups_sql(docs_sql: str, max_hamming: int = 3) -> str:
    """DuckDB twin of simhash_near_dups. The Spark side's byte-banding is
    EXACT by pigeonhole (4 bands of a 32-bit signature; hamming <= 3
    forces >= 1 identical byte), so the reference semantics here are the
    plain all-pairs hamming filter — candidate generation changes the
    plan, never the result set."""
    return f"""
    WITH sh AS ({simhash_sql(docs_sql)})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


# --- exact duplicated-substring spans (Lee et al. 2022 windowed form) ---------

SPAN_K = 8  # token window width; same order as decontamination's 8-grams


def duplicated_span_stats(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, n_tokens, n_windows, n_dup_windows, covered_tokens):
    exact duplicated-substring detection in its windowed form — for every
    document, how many of its k-token sliding windows occur elsewhere in
    the corpus (>= 2 occurrences anywhere, within-doc repeats included)
    and how many token positions those duplicated windows cover. This is
    the flag-and-measure rendering of exact substring deduplication
    ("Deduplicating Training Data Makes Language Models Better" uses a
    suffix array to REMOVE the spans; the corpus-quality signal is the
    same window evidence, and covered_tokens/n_tokens is the removal
    fraction a cut pass would take).

    Scale shape: the window stream is one row per corpus token (the
    inherent cost of exact substring evidence — the suffix-array
    alternative scans the same volume), keyed by the 128-bit md5 of the
    window text so the duplicate-count shuffle moves slim fixed-width
    keys, with map-side partial aggregation. A left-semi join back on
    the same key restricts per-doc accounting to duplicated windows
    only, and coverage is an in-row distinct count over positions —
    bounded by ONE document's length, never the corpus. No self-join,
    no driver-side state. The md5 key equates windows across engines
    exactly (DuckDB md5() emits the identical hex), so the oracle is a
    full hash match, not an approximation."""
    from rdf2smw_spark.operators.text_analysis import _tokens

    toks = docs.select(
        "doc_id",
        F.expr(f"filter({_tokens('text')}, t -> t <> '')").alias("toks"),
    )
    base = toks.select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("n_tokens"),
        F.expr(f"greatest(size(toks) - {k - 1}, 0)").cast("long").alias("n_windows"),
    )
    w = (
        toks.filter(F.expr(f"size(toks) >= {k}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k - 1}),"
                    f" i -> struct(i AS pos,"
                    f" md5(concat_ws(' ', slice(toks, i, {k}))) AS gh))"
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.gh").alias("gh"))
    )
    w = scoped_persist(w)
    dup = (
        w.groupBy("gh")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gh")
    )
    dw = w.join(dup, "gh", "left_semi")
    per_doc = dw.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_windows"),
        F.size(
            F.array_distinct(
                F.flatten(F.collect_list(F.expr(f"sequence(pos, pos + {k - 1})")))
            )
        )
        .cast("long")
        .alias("covered_tokens"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
    )


def duplicated_span_stats_sql(docs_sql: str, k: int = SPAN_K) -> str:
    """DuckDB twin — identical tokenization, window text, and md5 keys."""
    from rdf2smw_spark.operators.text_analysis import _tokens

    toks = f"list_filter({_tokens('text', 'duckdb')}, t -> t <> '')"
    return f"""
    WITH toks AS (SELECT doc_id, {toks} AS toks FROM {docs_sql}),
    w AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(toks[i:i+{k - 1}], ' ')) AS gh
        FROM (
            SELECT doc_id, toks,
                   UNNEST(generate_series(1, len(toks) - {k - 1})) AS i
            FROM toks WHERE len(toks) >= {k}
        )
    ),
    dup AS (SELECT gh FROM w GROUP BY gh HAVING COUNT(*) >= 2),
    dw AS (SELECT w.* FROM w JOIN dup USING (gh)),
    ndw AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM dw GROUP BY doc_id),
    cov AS (
        SELECT doc_id, COUNT(DISTINCT pp) AS covered_tokens
        FROM (
            SELECT doc_id, UNNEST(generate_series(pos, pos + {k - 1})) AS pp
            FROM dw
        )
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(GREATEST(len(t.toks) - {k - 1}, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(ndw.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(cov.covered_tokens, 0) AS BIGINT) AS covered_tokens
    FROM toks t
    LEFT JOIN ndw ON ndw.doc_id = t.doc_id
    LEFT JOIN cov ON cov.doc_id = t.doc_id
    """


def containment_pairs(shingles: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Directed containment C(a in b) = |A∩B| / |A|: catches QUOTATION /
    subset duplication that symmetric Jaccard misses (a tweet quoted
    inside an article has tiny Jaccard but containment ≈ 1). Emits
    (doc_a, doc_b, containment) for doc_a's shingles contained in doc_b,
    both directions, a != b.

    Same exact-verify role as jaccard_pairs: the shingle self-join is
    the oracle-grade quadratic path, kept feasible by the max_df cap on
    the shingle frame; the LSH families are the 100-TB candidate
    generators and this is their verifier with the containment
    numerator."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_int"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    cont = F.round(F.col("n_int") / F.col("na"), 4)
    return (
        inter.join(sz_a, "doc_a")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs_sql(shingles_sql: str, threshold: float = 0.8) -> str:
    return f"""
    WITH sh AS (SELECT * FROM {shingles_sql}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_int
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, ROUND(n_int / sa.n_sh, 4) AS containment
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a
    WHERE ROUND(n_int / sa.n_sh, 4) >= {threshold}
    """


# --- incremental crawl novelty -----------------------------------------------

def incremental_batch(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic recrawl batch against `docs` as the
    existing index (the planted-positive pattern of near_dup_corpus):
    every 7th doc returns slightly edited (+1M ids, near-dup), every
    11th verbatim (+2M, exact dup), every 13th as entirely fresh
    content (+3M, genuinely novel). No external data; mirrored in
    incremental_batch_sql."""
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" extra tail words appended here")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    novel = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(
            F.lit("entirely fresh crawl content item number "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return near.unionByName(exact).unionByName(novel)


def incremental_batch_sql(docs_sql: str) -> str:
    return f"""(
    SELECT doc_id + 1000000 AS doc_id, text || ' extra tail words appended here' AS text
    FROM {docs_sql} WHERE (doc_id % 7) = 0
    UNION ALL
    SELECT doc_id + 2000000, text FROM {docs_sql} WHERE (doc_id % 11) = 0
    UNION ALL
    SELECT doc_id + 3000000,
           'entirely fresh crawl content item number ' || doc_id
    FROM {docs_sql} WHERE (doc_id % 13) = 0
)"""


def incremental_novelty(
    index_docs: DataFrame,
    batch_docs: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """(doc_id, is_exact_dup, has_near_dup, novel) for every batch doc:
    the admission decision an INCREMENTAL ingest makes against the
    standing corpus — verbatim recrawls and near-duplicate edits are
    rejected, only novel content enters. Expressed as two membership
    checks:

    - exact: md5(normalized text) LEFT SEMI against the index
      fingerprint set — one slim 32-byte-key shuffle;
    - near: MinHash-banded LSH candidates + exact-Jaccard verify over
      the union corpus, then keep pairs that CROSS the batch/index
      split (a batch-batch near-dup does not make either doc novel vs
      the index).

    Scale shape: at 10^12 index docs the fingerprint set and band table
    are the standing state (in production, pre-materialized parquet —
    here derived in-query); the batch only shuffles its own shingles
    plus candidate verifications. No batch×index cross join exists
    anywhere; doc-id namespaces must be disjoint (the caller's
    contract, as with char_shingles)."""
    idx_ids = index_docs.select("doc_id")
    b_ids = batch_docs.select("doc_id")
    union = index_docs.select("doc_id", "text").unionByName(
        batch_docs.select("doc_id", "text")
    )
    idx_fp = index_docs.select(
        F.expr(f"md5({norm_text_sql('text')})").alias("fp")
    ).distinct()
    b_fp = batch_docs.select(
        "doc_id", F.expr(f"md5({norm_text_sql('text')})").alias("fp")
    )
    exact = b_fp.join(idx_fp, "fp", "left_semi").select("doc_id")

    sh = char_shingles(union, max_df=max_df)
    pairs = minhash_near_dups(sh, threshold)
    crossing = (
        pairs.join(b_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(idx_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_a").alias("doc_id"))
        .unionByName(
            pairs.join(
                b_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi"
            )
            .join(idx_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
            .select(F.col("doc_b").alias("doc_id"))
        )
        .distinct()
    )
    return (
        b_ids.join(exact.withColumn("__e", F.lit(True)), "doc_id", "left")
        .join(crossing.withColumn("__n", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__e", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("__n", F.lit(False)).alias("has_near_dup"),
            (F.coalesce("__e", F.lit(False)) | F.coalesce("__n", F.lit(False)))
            .eqNullSafe(False)
            .alias("novel"),
        )
    )


def incremental_novelty_sql(
    index_sql: str, batch_sql: str, threshold: float = 0.5, max_df: int | None = 100
) -> str:
    norm = norm_text_sql("text", "duckdb")
    union_sql = f"(SELECT doc_id, text FROM {index_sql} UNION ALL SELECT doc_id, text FROM {batch_sql})"
    sh = char_shingles_sql(union_sql, max_df=max_df)
    nd = minhash_near_dups_sql(sh, threshold=threshold)
    return f"""
    WITH idx AS MATERIALIZED (SELECT doc_id, text FROM {index_sql}),
    batch AS MATERIALIZED (SELECT doc_id, text FROM {batch_sql}),
    idx_fp AS (SELECT DISTINCT md5({norm}) AS fp FROM idx),
    b_fp AS (SELECT doc_id, md5({norm}) AS fp FROM batch),
    exact AS (SELECT doc_id FROM b_fp WHERE fp IN (SELECT fp FROM idx_fp)),
    pairs AS MATERIALIZED ({nd}),
    crossing AS (
        SELECT DISTINCT CASE WHEN a_in_batch THEN doc_a ELSE doc_b END AS doc_id
        FROM (
            SELECT doc_a, doc_b,
                   doc_a IN (SELECT doc_id FROM batch) AS a_in_batch,
                   doc_b IN (SELECT doc_id FROM batch) AS b_in_batch
            FROM pairs
        ) WHERE a_in_batch <> b_in_batch
    )
    SELECT b.doc_id,
           b.doc_id IN (SELECT doc_id FROM exact) AS is_exact_dup,
           b.doc_id IN (SELECT doc_id FROM crossing) AS has_near_dup,
           NOT (b.doc_id IN (SELECT doc_id FROM exact)
                OR b.doc_id IN (SELECT doc_id FROM crossing)) AS novel
    FROM batch b
    """


def lsh_recall(shingles: DataFrame, threshold: float = 0.5) -> DataFrame:
    """One-row LSH quality report: (n_true, n_candidates, n_hit,
    recall_e6, precision_e6) — how many of the exact above-threshold
    Jaccard pairs the banded MinHash candidate generation recovers, and
    how much of the candidate set is noise. This is the measurement a
    production dedup pass publishes next to its output (banding
    parameters are a recall/cost dial; an unmeasured dial is a guess —
    BASELINE.md discipline). Ratios are e6-scaled integer divisions so
    the row hash-matches at any parallelism.

    Scale note: n_true comes from the exact all-pairs Jaccard — the
    ORACLE-role quadratic path (jaccard_pairs' contract), so this
    report runs on samples at web scale, never the full corpus; the
    candidate side is the production-shaped banded join."""
    true_pairs = jaccard_pairs(shingles, threshold).select("doc_a", "doc_b")
    cands = minhash_candidates(shingles).select("doc_a", "doc_b")
    hit = true_pairs.join(cands, ["doc_a", "doc_b"], "semi")
    stats = (
        true_pairs.agg(F.count("*").alias("n_true"))
        .crossJoin(cands.agg(F.count("*").alias("n_candidates")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
    )
    return stats.select(
        "n_true",
        "n_candidates",
        "n_hit",
        F.expr("CASE WHEN n_true > 0 THEN (n_hit * 1000000) DIV n_true ELSE NULL END").alias("recall_e6"),
        F.expr(
            "CASE WHEN n_candidates > 0 THEN (n_hit * 1000000) DIV n_candidates ELSE NULL END"
        ).alias("precision_e6"),
    )


def lsh_recall_sql(
    shingles_sql: str,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> str:
    r = k // bands
    sig_cols = ",\n           ".join(
        f"MIN(md5('{i}:' || shingle)) AS sig_{i}" for i in range(k)
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {bnd} AS band, md5("
        + " || '|' || ".join(f"sig_{bnd * r + j}" for j in range(r))
        + ") AS band_hash FROM sigs"
        for bnd in range(bands)
    )
    return f"""
    WITH sh AS (SELECT * FROM {shingles_sql}),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    banded AS (
        {band_selects}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_int
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    tp AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_int / (sa.n_sh + sb.n_sh - n_int), 4) >= {threshold}
    ),
    hit AS (SELECT t.doc_a, t.doc_b FROM tp t JOIN cands c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
    n AS (SELECT (SELECT COUNT(*) FROM tp) AS n_true,
                 (SELECT COUNT(*) FROM cands) AS n_candidates,
                 (SELECT COUNT(*) FROM hit) AS n_hit)
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hit AS BIGINT) AS n_hit,
           CASE WHEN n_true > 0
                THEN CAST((n_hit * 1000000) // n_true AS BIGINT) END AS recall_e6,
           CASE WHEN n_candidates > 0
                THEN CAST((n_hit * 1000000) // n_candidates AS BIGINT) END AS precision_e6
    FROM n
    """


def cluster_canonical_by_quality(
    clusters: DataFrame, quality: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id, quality, keep): pick each near-dup
    cluster's survivor by HIGHEST quality score (doc_id ascending on
    ties) instead of min-id — the production dedup policy: when a
    boilerplate-laden page and its clean mirror are duplicates, keep
    the clean one. One join on doc_id + a per-cluster window bounded by
    cluster size (near-dup clusters are small by construction; a
    pathological mega-cluster is one AQE-splittable partition)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        clusters.join(quality.select("doc_id", "quality"), "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "quality", "keep")
    )


def cluster_canonical_by_quality_sql(clusters_sql: str, quality_sql: str) -> str:
    return f"""
    WITH c AS ({clusters_sql}), q AS ({quality_sql})
    SELECT c.doc_id, c.cluster_id, q.quality,
           ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id
               ORDER BY q.quality DESC, c.doc_id) = 1 AS keep
    FROM c JOIN q USING (doc_id)
    """
