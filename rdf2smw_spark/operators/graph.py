"""Graph analytics over the constructed KG: PageRank entity importance.

The canonical iterative graph operator a KG-construction engine ships —
"which entities matter" over the subject→object edge set the pipeline
materializes. Engine-portable determinism uses the same exact
scaled-BIGINT summation discipline as ivf_train (similarity.py): the
per-node incoming-mass sum is the ONLY place floating-point summation
order could differ across partitionings/engines, so each edge's
contribution quantizes to a BIGINT (half-away-from-zero at 1e12 — one
correctly-rounded IEEE op per step) and the sum is exact integer
arithmetic. Because total rank mass is ≤ 1, the quantized sum is
bounded by ~1e12 regardless of corpus size — no overflow at ANY scale.
Every other arithmetic step is a fixed sequence of IEEE double ops over
exact inputs, mirrored token-for-token in the DuckDB twin (constants
CAST to DOUBLE there — DuckDB otherwise parses 0.85 as DECIMAL and
diverges from IEEE).

Plan shape per iteration: one (src)-keyed broadcast-or-shuffle join of
ranks onto edges, one (dst)-keyed exact-sum aggregation, one 1-row
dangling-mass aggregate (a bounded driver scalar, like the fixpoint
convergence probes). Every iterative operator here runs through
session.fixpoint. No vector of ranks ever collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdf2smw_spark.session import fixpoint, scoped_persist, small_local_df

PR_ITERS = 3
PR_DAMPING = 0.85
_Q = "1000000000000.0"  # quantization scale (1e12)


def _quant(expr: str) -> str:
    """Half-away-from-zero quantization to a scaled BIGINT — float→
    double then one correctly-rounded multiply/add/floor each, so the
    integers are bit-identical across engines (same formula as
    ivf_train's exact means)."""
    return (
        f"CAST(CASE WHEN ({expr}) >= 0"
        f" THEN floor(({expr}) * {_Q} + 0.5)"
        f" ELSE ceil(({expr}) * {_Q} - 0.5) END AS BIGINT)"
    )


def link_edges(triples: DataFrame) -> DataFrame:
    """(src, dst): the distinct entity-to-entity edge set of the KG —
    every triple whose object is an IRI, self-loops dropped."""
    return (
        triples.filter(F.col("obj_is_iri") & (F.col("subj") != F.col("obj")))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )


def _nodes(e: DataFrame) -> DataFrame:
    """(uri): every endpoint of an (src, dst) edge frame."""
    return (
        e.select(F.col("src").alias("uri"))
        .unionByName(e.select(F.col("dst").alias("uri")))
        .distinct()
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """(a, b): both directions of every (src, dst) edge, distinct and
    persisted (scoped) — each round of the undirected loops joins it."""
    return scoped_persist(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )


def pagerank(
    edges: DataFrame, iters: int = PR_ITERS, damping: float = PR_DAMPING
) -> DataFrame:
    """(uri, rank_e12): PageRank over (src, dst) edges after `iters`
    power iterations, emitted as the exact scaled-BIGINT rank (rank ×
    1e12, half-away rounded) so the oracle compare is integer-exact.

    This is personalized_pagerank with every node a seed: the literal
    is_seed column makes each seed-gated term reduce to plain
    PageRank's IEEE expression (s = n), so both share one loop."""
    e = edges.select("src", "dst").distinct().persist()
    nodes = _nodes(e).withColumn("is_seed", F.lit(True)).persist()
    return _power_iteration(e, nodes, nodes.count(), iters, damping)


def _power_iteration(
    e: DataFrame, nodes: DataFrame, s: int, iters: int, damping: float
) -> DataFrame:
    """The PageRank power iteration over persisted edges `e` and nodes
    (uri, is_seed) with `s` seeds: the reset mass and each iteration's
    dangling mass return uniformly to the seeds. Dangling-node mass
    (out-degree 0) is a 1-row exact-integer aggregate broadcast INSIDE
    the plan (no per-iteration driver collect). Releases `e` and
    `nodes` once the final ranks are checkpointed."""
    outdeg = e.groupBy("src").agg(F.count("*").alias("od")).persist()
    base = (1 - damping) / s  # python IEEE: (1-d) then /s — mirrored in SQL

    def step(rank: DataFrame):
        r_od = rank.join(outdeg, rank.uri == outdeg.src, "left")
        contrib = (
            e.join(
                r_od.select(
                    F.col("src").alias("__src"),
                    F.expr(_quant("rank / CAST(od AS DOUBLE)")).alias("qc"),
                ).filter(F.col("__src").isNotNull()),
                e.src == F.col("__src"),
            )
            .groupBy("dst")
            .agg(F.sum("qc").alias("s"))
        )
        # dangling mass stays IN the plan as a 1-row exact-integer
        # aggregate broadcast to every row (BIGINT sum, /1e12 then /s in
        # doubles) — one job per iteration instead of two
        dm_f = r_od.filter(F.col("od").isNull()).agg(
            F.coalesce(F.sum(F.expr(_quant("rank"))), F.lit(0)).alias("__dm")
        )
        return nodes.join(contrib, nodes.uri == contrib.dst, "left").crossJoin(
            F.broadcast(dm_f)
        ).select(
            "uri",
            "is_seed",
            (
                F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0.0))
                + F.lit(damping)
                * (
                    F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    / F.lit(float(_Q))
                    + F.when(
                        F.col("is_seed"),
                        F.col("__dm").cast("double")
                        / F.lit(float(_Q))
                        / F.lit(float(s)),
                    ).otherwise(F.lit(0.0))
                )
            ).alias("rank"),
        ), None

    # rank_0 is a literal column over the persisted nodes frame: the
    # kernel never checkpoints init, which only copied the node set
    rank0 = nodes.withColumn(
        "rank", F.when(F.col("is_seed"), F.lit(1.0 / s)).otherwise(F.lit(0.0))
    )
    rank, _ = fixpoint(rank0, step, iters)
    for df in (e, nodes, outdeg):
        df.unpersist()
    return rank.select("uri", F.expr(_quant("rank")).alias("rank_e12"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(uri, n_triangles): per-node triangle count over the UNDIRECTED
    distinct edge set (nodes in ≥1 triangle only) — the local-clustering
    primitive for KG quality auditing (dense spam cliques light up).

    Scale shape — degree-ordered orientation (the standard O(m^1.5)
    node-iterator bound): every undirected edge is oriented from its
    (degree, uri)-smaller endpoint to the larger, making the graph a
    DAG in which each triangle {x,y,z} appears as EXACTLY one
    path x→y→z closed by x→z. The wedge join therefore fans out from
    low-degree sources only — a hub with degree 10^6 contributes no
    wedges unless both endpoints have even higher degree — which is
    what keeps the intermediate wedge set near m^1.5 instead of
    sum(deg^2). Three shuffles total (degree agg, path join on the
    middle vertex, closing-edge join); all integer-exact.

    The DuckDB oracle deliberately uses a DIFFERENT orientation
    (lexical a<b<c, no degrees) — same triangle set, independently
    derived, so agreement cross-validates the algorithm rather than
    mirroring it."""
    und = scoped_persist(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("uri"))
        .unionByName(und.select(F.col("b").alias("uri")))
        .groupBy("uri")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("uri", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("uri", "b").withColumnRenamed("deg", "db"), "b")
    )
    oriented = scoped_persist(
        ranked.select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        ).select("e.lo", "e.hi")
    )
    paths = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.hi") == F.col("e2.lo")
    ).select(
        F.col("e1.lo").alias("x"), F.col("e1.hi").alias("y"), F.col("e2.hi").alias("z")
    )
    tris = paths.join(
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z")),
        ["x", "z"],
        "left_semi",
    )
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("uri"))
        .groupBy("uri")
        .agg(F.count("*").alias("n_triangles"))
    )


def triangle_counts_sql(triples_sql: str) -> str:
    """Lexical-orientation oracle: triangles as a<b<c over the
    undirected edge set — independent of the degree-ordered plan."""
    return f"""
    WITH dedges AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {triples_sql}
        WHERE obj_is_iri AND subj <> obj
    ),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM dedges
    ),
    tris AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT uri, COUNT(*) AS n_triangles
    FROM (
        SELECT x AS uri FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris
    )
    GROUP BY uri
    """


def pagerank_sql(
    triples_sql: str, iters: int = PR_ITERS, damping: float = PR_DAMPING
) -> str:
    """Unrolled-CTE DuckDB twin (same pattern as ivf_train_sql): every
    constant CAST to DOUBLE so DuckDB's DECIMAL literal arithmetic never
    enters; op order mirrors pagerank() token-for-token."""
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        f"""e AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {triples_sql}
        WHERE obj_is_iri AND subj <> obj
    ),
    nodes AS (SELECT src AS uri FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    rank_0 AS (
        SELECT uri, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
    )"""
    ]
    for it in range(1, iters + 1):
        prev = f"rank_{it - 1}"
        parts.append(f"""contrib_{it} AS (
        SELECT e.dst, SUM({_quant('r.rank / CAST(o.od AS DOUBLE)')}) AS s
        FROM e
        JOIN {prev} r ON r.uri = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ),
    dang_{it} AS (
        SELECT COALESCE(SUM({_quant('r.rank')}), 0) AS dm
        FROM {prev} r LEFT JOIN outdeg o ON o.src = r.uri
        WHERE o.src IS NULL
    ),
    rank_{it} AS (
        SELECT n.uri,
               (CAST(1 AS DOUBLE) - {d}) / (SELECT n FROM nn)
               + {d} * (CAST(COALESCE(c.s, 0) AS DOUBLE) / {_Q}
                        + (CAST((SELECT dm FROM dang_{it}) AS DOUBLE) / {_Q})
                          / (SELECT n FROM nn)) AS rank
        FROM nodes n LEFT JOIN contrib_{it} c ON c.dst = n.uri
    )""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT uri, {_quant('rank')} AS rank_e12 FROM rank_{iters}
    """


# --- BFS hop distance from the hub entity -------------------------------------

BFS_MAX_HOPS = 4


def bfs_hops(edges: DataFrame, max_hops: int = BFS_MAX_HOPS) -> DataFrame:
    """(uri, hops): breadth-first hop distance over the UNDIRECTED edge
    set from the graph's hub entity — the highest-degree node (uri
    tiebreak) — up to `max_hops`. "How far is everything from the
    center" is the standard KG connectivity audit: a healthy entity
    graph is shallow from its hub; orphan subgraphs simply never appear
    (unreached nodes are absent from the result, which is itself the
    signal).

    Scale shape: per hop, one (a)-keyed equi-join of the frontier onto
    edges plus one anti-join against the visited set — the classic
    distributed BFS round, all shuffles on the node key, frontiers as
    distributed frames throughout. The seed selection is
    TakeOrderedAndProject (per-partition heaps, k=1) and the only
    driver-side value is that single row — the pattern every bounded
    scalar in this codebase follows (pagerank's dangling mass, the
    fixpoint convergence probes). Hop count is bounded a priori (no
    data-dependent driver loop), so the plan is cycle-safe by
    construction — the same argument class_depth makes against the
    reference's unguarded recursion (triplestowikipageconv.go:278-292).
    The visited set carries a `new` flag marking the last hop's
    frontier, so one frame is the whole loop state."""
    und = _undirected(edges)
    deg = und.groupBy("a").agg(F.count("*").alias("deg"))
    seed_rows = deg.orderBy(F.col("deg").desc(), F.col("a")).limit(1).collect()
    spark = edges.sparkSession
    if not seed_rows:  # empty edge set -> empty result, same schema
        return spark.createDataFrame([], "uri string, hops long")

    def step(dist: DataFrame):
        frontier = dist.filter("new")
        reached = (
            und.join(frontier.select(F.col("uri").alias("a"), "hops"), "a")
            .select(F.col("b").alias("uri"), (F.col("hops") + 1).alias("hops"))
            .distinct()
            .join(dist.select("uri"), "uri", "left_anti")
        )
        return dist.select("uri", "hops", F.lit(False).alias("new")).unionByName(
            reached.withColumn("new", F.lit(True))
        ), None

    seed = small_local_df(
        spark, [(seed_rows[0]["a"], 0, True)], "uri string, hops int, new boolean"
    )
    dist, _ = fixpoint(seed, step, max_hops)
    return dist.select("uri", F.col("hops").cast("long").alias("hops"))


def bfs_hops_sql(triples_sql: str, max_hops: int = BFS_MAX_HOPS) -> str:
    """Unrolled-CTE DuckDB twin (one frontier/visited CTE pair per hop,
    same pattern as pagerank_sql)."""
    parts = [
        f"""e AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {triples_sql}
        WHERE obj_is_iri AND subj <> obj
    ),
    und AS (
        SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM e
            UNION ALL SELECT dst, src FROM e
        )
    ),
    deg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY a),
    d0 AS (
        SELECT a AS uri, 0 AS hops
        FROM deg ORDER BY deg DESC, a LIMIT 1
    ),
    v0 AS (SELECT * FROM d0)"""
    ]
    for h in range(1, max_hops + 1):
        parts.append(f"""d{h} AS (
        SELECT DISTINCT und.b AS uri, {h} AS hops
        FROM und JOIN d{h - 1} f ON und.a = f.uri
        WHERE und.b NOT IN (SELECT uri FROM v{h - 1})
    ),
    v{h} AS (SELECT * FROM v{h - 1} UNION ALL SELECT * FROM d{h})""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT uri, CAST(hops AS BIGINT) AS hops FROM v{max_hops}
    """


# --- label-propagation communities --------------------------------------------

LP_ITERS = 4


def lp_communities(edges: DataFrame, iters: int = LP_ITERS) -> DataFrame:
    """(uri, community, community_size): synchronous label propagation
    (Raghavan et al. 2007) over the undirected KG edge set — the cheap
    community detector for entity-graph audits (which entities cluster
    into one topic/template family). Each round every node adopts its
    neighbors' MOST FREQUENT label, ties broken by minimum label — a
    total order, so the synchronous schedule is deterministic at any
    parallelism (asynchronous LPA is not, which is why this variant is
    the one with an exact oracle). Fixed iteration count: bounded plan,
    oscillation-safe by construction.

    Scale shape per round: labels⋈edges equi-join on the node key, a
    (node, label) partial-agg shuffle, and a partitionBy(node) window
    for the argmax — never a global window. At 10^12 edges each round
    is two slim shuffles; iters is a constant."""
    und = _undirected(edges)
    w = Window.partitionBy("a").orderBy(F.col("c").desc(), F.col("lbl"))

    def step(labels: DataFrame):
        nb = und.join(
            labels.select(F.col("uri").alias("b"), "lbl"), "b"
        ).groupBy("a", "lbl").agg(F.count("*").alias("c"))
        return (
            nb.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("a").alias("uri"), "lbl")
        ), None

    labels0 = und.select(F.col("a").alias("uri")).distinct().withColumn("lbl", F.col("uri"))
    labels, _ = fixpoint(labels0, step, iters)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "lbl").select(
        "uri", F.col("lbl").alias("community"), "community_size"
    )


def lp_communities_sql(triples_sql: str, iters: int = LP_ITERS) -> str:
    """Unrolled-CTE twin: one (neighbor-count + argmax) CTE per round."""
    parts = [
        f"""dedges AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {triples_sql}
        WHERE obj_is_iri AND subj <> obj
    ),
    und AS MATERIALIZED (
        SELECT src AS a, dst AS b FROM dedges
        UNION
        SELECT dst, src FROM dedges
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT a AS uri, a AS lbl FROM und)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""l{i} AS MATERIALIZED (
        SELECT uri, lbl FROM (
            SELECT e.a AS uri, l.lbl, COUNT(*) AS c,
                   ROW_NUMBER() OVER (PARTITION BY e.a
                                      ORDER BY COUNT(*) DESC, l.lbl) AS rn
            FROM und e JOIN l{i - 1} l ON l.uri = e.b
            GROUP BY e.a, l.lbl
        ) WHERE rn = 1
    )"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined},
    sizes AS (SELECT lbl, COUNT(*) AS community_size FROM l{iters} GROUP BY lbl)
    SELECT uri, l.lbl AS community, community_size
    FROM l{iters} l JOIN sizes USING (lbl)
    """


# --- HITS hubs & authorities ----------------------------------------------------

HITS_ITERS = 4


def hits(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """(uri, hub_e12, auth_e12): HITS (Kleinberg 1999) over directed
    (src, dst) edges — the hub/authority split PageRank can't express,
    and the natural ranking for a crawl graph (pages that LINK well vs
    pages that ARE linked well). L1-normalized power iteration, emitted
    as exact scaled BIGINTs.

    Arithmetic discipline (same as pagerank): per-edge contributions
    quantize to BIGINT×1e12 BEFORE summation, so every aggregate is an
    exact integer at any parallelism; each normalization total is ONE
    bounded driver scalar per half-iteration (the dangling-mass
    pattern), and the renormalized score is a single IEEE division of
    the same two integers in both engines.

    Scale shape per half-iteration: one equi-join of scores onto edges
    (node key) + one slim groupBy shuffle — identical to one pagerank
    round; iters is a small constant. The loop state is one (uri, h, a)
    frame over all nodes and each kernel round is ONE half-iteration
    (authority from hub, then hub from authority), so every half reads
    the other's checkpointed scores instead of recomputing them."""
    e = scoped_persist(edges.select("src", "dst").distinct())
    nodes = scoped_persist(_nodes(e))
    rounds = 0

    def step(scores: DataFrame):
        nonlocal rounds
        # even rounds: a <- in-sum of h over src->dst; odd: h <- out-sum of a
        frm, to, old, new = (
            ("src", "dst", "h", "a") if rounds % 2 == 0 else ("dst", "src", "a", "h")
        )
        rounds += 1
        q = (
            e.join(scores.select(F.col("uri").alias(frm), F.expr(_quant(old)).alias("q")), frm)
            .groupBy(to)
            .agg(F.sum("q").alias("s"))
        )
        # L1 normalizer stays IN the plan as a broadcast 1-row exact-
        # integer aggregate (same arithmetic as a driver collect would
        # produce: BIGINT total, one double division)
        t = q.agg(F.coalesce(F.sum("s"), F.lit(1)).alias("__t"))
        half = q.crossJoin(F.broadcast(t)).select(
            F.col(to).alias("uri"),
            (F.col("s").cast("double") / F.col("__t").cast("double")).alias(new),
        )
        return scores.drop(new).join(half, "uri", "left"), None

    scores0 = nodes.withColumn("h", F.lit(1.0)).withColumn("a", F.lit(None).cast("double"))
    scores, _ = fixpoint(scores0, step, 2 * iters)
    return scores.select(
        "uri",
        F.coalesce(F.expr(_quant("h")), F.lit(0)).alias("hub_e12"),
        F.coalesce(F.expr(_quant("a")), F.lit(0)).alias("auth_e12"),
    )


def hits_sql(edges_sql: str, iters: int = HITS_ITERS) -> str:
    """Unrolled-CTE twin over an (src_url AS src, href AS dst) edge
    relation; each normalization total is a scalar subquery over the
    same exact integers the Spark side collects."""
    q = _quant  # noqa: shared quantizer keeps the two dialects in lockstep
    parts = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM {edges_sql})",
        "nodes AS MATERIALIZED (SELECT src AS uri FROM e UNION SELECT dst FROM e)",
        "h0 AS (SELECT uri, 1.0 AS h FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""aq{i} AS MATERIALIZED (
        SELECT dst AS uri, SUM({q(f'h.h')}) AS s
        FROM e JOIN h{i - 1} h ON h.uri = e.src GROUP BY dst
    ),
    a{i} AS MATERIALIZED (
        SELECT uri, CAST(s AS DOUBLE)
               / CAST(greatest((SELECT SUM(s) FROM aq{i}), 1) AS DOUBLE) AS a
        FROM aq{i}
    ),
    hq{i} AS MATERIALIZED (
        SELECT src AS uri, SUM({q(f'a.a')}) AS s
        FROM e JOIN a{i} a ON a.uri = e.dst GROUP BY src
    ),
    h{i} AS MATERIALIZED (
        SELECT uri, CAST(s AS DOUBLE)
               / CAST(greatest((SELECT SUM(s) FROM hq{i}), 1) AS DOUBLE) AS h
        FROM hq{i}
    )"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT n.uri,
           COALESCE({q(f'h.h')}, 0) AS hub_e12,
           COALESCE({q(f'a.a')}, 0) AS auth_e12
    FROM nodes n
    LEFT JOIN h{iters} h ON h.uri = n.uri
    LEFT JOIN a{iters} a ON a.uri = n.uri
    """


# --- bounded k-core ------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 6


def kcore(edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """(uri, degree): nodes surviving `rounds` of k-core peeling over
    the undirected edge set — drop every node with degree < k, restrict
    edges to survivors, repeat. The k-core is the densest-backbone
    audit for an entity graph (leaf/chain trimming before community or
    centrality passes). The round count is FIXED so the plan is bounded
    (the class-depth lesson against unguarded recursion); peeling
    converges from above, so round r is a superset of the true k-core
    and equals it once a round removes nothing — the parity test checks
    convergence on the test graph, and both engines define the result
    as round-`rounds` survivors either way.

    Scale shape per round: one degree aggregation + two semi-joins, all
    on the node key."""
    und = _undirected(edges)

    def step(cur: DataFrame):
        deg = cur.groupBy("a").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        return (
            cur.join(keep, "a")
            .join(keep.select(F.col("a").alias("b")), "b")
            .select("a", "b")
        ), None

    cur, _ = fixpoint(und, step, rounds)
    return cur.groupBy("a").agg(F.count("*").alias("degree")).select(
        F.col("a").alias("uri"), "degree"
    )


def kcore_sql(triples_sql: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    parts = [
        f"""dedges AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {triples_sql}
        WHERE obj_is_iri AND subj <> obj
    ),
    e0 AS MATERIALIZED (
        SELECT src AS a, dst AS b FROM dedges
        UNION
        SELECT dst, src FROM dedges
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""k{i} AS MATERIALIZED (
        SELECT a FROM e{i - 1} GROUP BY a HAVING COUNT(*) >= {k}
    ),
    e{i} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{i - 1} e
        JOIN k{i} ka ON ka.a = e.a
        JOIN k{i} kb ON kb.a = e.b
    )"""
        )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT a AS uri, COUNT(*) AS degree FROM e{rounds} GROUP BY a
    """


# --- deterministic random-walk corpus (DeepWalk/node2vec input) -------------------

WALK_LEN = 4  # steps after the start node


def _ranked_adjacency(triples: DataFrame) -> DataFrame:
    """(node, rank, nxt, degree): IRI-object edges with a dense 0-based
    per-node rank in obj order. The window PARTITIONS by node (never
    global); degree rides along so the draw can be taken mod degree."""
    from pyspark.sql import Window

    edges = (
        triples.filter(F.col("obj_is_iri"))
        .select(F.col("subj").alias("node"), F.col("obj").alias("nxt"))
        .distinct()
    )
    w = Window.partitionBy("node").orderBy("nxt")
    return (
        edges.withColumn("rank", F.row_number().over(w) - 1)
        .withColumn("degree", F.count("*").over(Window.partitionBy("node")))
    )


def random_walks(triples: DataFrame, walk_len: int = WALK_LEN) -> DataFrame:
    """(walk_id, step, node): one deterministic walk per start node —
    the sentence corpus a DeepWalk/node2vec embedding trains on. At
    step i from node n, the next hop is the neighbor whose per-node
    rank equals hex32(md5(walk_id|i|n)) mod degree(n) — a pure function
    of (walk, step, node), so the corpus is identical at any
    parallelism and any engine (the negsample.py discipline). Walks
    stop early at sink nodes (no IRI out-edges).

    Scale shape: walk_len unrolled joins, all keyed on the node column;
    on the subject-bucketed layout every hop is co-partitioned with the
    adjacency, so the cost is walk_len co-partitioned hash joins over
    frontiers that never exceed |start nodes| rows. Nothing iterates on
    the driver; the whole corpus is ONE declarative plan."""
    from rdf2smw_spark.operators.text_analysis import _hex32

    adj = _ranked_adjacency(triples)
    start = adj.select(F.col("node").alias("walk_id")).distinct()
    cur = start.select(
        "walk_id", F.lit(0).cast("long").alias("step"), F.col("walk_id").alias("node")
    )
    out = [cur]
    for i in range(1, walk_len + 1):
        draw = _hex32(f"md5(concat(walk_id, '|', {i}, '|', node))", "spark")
        cur = (
            cur.join(adj, "node")
            .filter(F.col("rank") == F.expr(f"({draw}) % degree"))
            .select(
                "walk_id",
                F.lit(i).cast("long").alias("step"),
                F.col("nxt").alias("node"),
            )
        )
        out.append(cur)
    res = out[0]
    for nxt in out[1:]:
        res = res.unionByName(nxt)
    return res


def random_walks_sql(triples_sql: str, walk_len: int = WALK_LEN) -> str:
    """DuckDB twin: same ranked adjacency, same per-step hash draw,
    unrolled CTE per hop."""
    from rdf2smw_spark.operators.text_analysis import _hex32

    ctes = [
        f"""adj AS (
        SELECT node, nxt,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY nxt) - 1 AS rank,
               COUNT(*) OVER (PARTITION BY node) AS degree
        FROM (SELECT DISTINCT subj AS node, obj AS nxt FROM {triples_sql}
              WHERE obj_is_iri)
    )""",
        """w0 AS (SELECT DISTINCT node AS walk_id, CAST(0 AS BIGINT) AS step,
                      node FROM adj)""",
    ]
    for i in range(1, walk_len + 1):
        draw = _hex32(f"md5(w.walk_id || '|' || {i} || '|' || w.node)", "duckdb")
        ctes.append(f"""w{i} AS (
        SELECT w.walk_id, CAST({i} AS BIGINT) AS step, a.nxt AS node
        FROM w{i - 1} w JOIN adj a ON a.node = w.node
        WHERE a.rank = ({draw}) % a.degree
    )""")
    body = " UNION ALL ".join(
        f"SELECT walk_id, step, node FROM w{i}" for i in range(walk_len + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {body}"


# --- quotient-graph summarization ---------------------------------------------

def quotient_summary(triples: DataFrame) -> DataFrame:
    """SNAP-style quotient summarization (Tian et al. SIGMOD'08 family):
    collapse every subject into a supernode keyed by its *predicate
    signature* (the sorted set of predicates it carries) and emit the
    superedges — (src_sig, pred, dst_sig, n_edges, n_src_nodes,
    n_dst_nodes) for IRI-object triples whose object is itself a
    subject. The summary is what a 10^12-triple KG ships to planners
    and UIs: schema-shaped, thousands of rows, while the full graph
    stays in the lake (the reference's per-type template inference,
    convert.go:117-142, is the 1-hop special case of this signature
    grouping).

    Determinism: signature = '|'-joined sorted distinct predicate list
    (sort_array over collect_set — set order never leaks); all outputs
    are counts.

    Scale shape: one groupBy(subj) builds signatures (map-side partial
    collect_set of a BOUNDED set — distinct predicates per subject is
    schema-sized); edges join signatures on src then dst (two shuffle
    hash joins on uri — the signature frame has one slim row per
    subject; co-partitioned with the edge keys by AQE); the final
    groupBy is summary-sized. Node counts per signature ride the same
    signature frame — no extra pass over the triples."""
    sigs = (
        triples.groupBy("subj")
        .agg(F.concat_ws("|", F.sort_array(F.collect_set("pred"))).alias("sig"))
    )
    sizes = sigs.groupBy("sig").agg(F.count("*").alias("n_nodes"))
    edges = triples.filter(F.col("obj_is_iri")).select("subj", "pred", "obj")
    e = (
        edges.join(sigs.select(F.col("subj").alias("__s"), F.col("sig").alias("src_sig")),
                   F.col("subj") == F.col("__s"))
        .join(sigs.select(F.col("subj").alias("__o"), F.col("sig").alias("dst_sig")),
              F.col("obj") == F.col("__o"))
        .groupBy("src_sig", "pred", "dst_sig")
        .agg(F.count("*").alias("n_edges"))
    )
    return (
        e.join(sizes.select(F.col("sig").alias("src_sig"),
                            F.col("n_nodes").alias("n_src_nodes")), "src_sig")
        .join(sizes.select(F.col("sig").alias("dst_sig"),
                           F.col("n_nodes").alias("n_dst_nodes")), "dst_sig")
        .select("src_sig", "pred", "dst_sig", "n_edges",
                "n_src_nodes", "n_dst_nodes")
    )


def quotient_summary_sql(triples_sql: str) -> str:
    """DuckDB twin: string_agg(DISTINCT pred ORDER BY pred) mirrors
    sort_array(collect_set(pred)) exactly for '|'-joined signatures."""
    return f"""
    WITH t AS (SELECT * FROM {triples_sql}),
    sigs AS (
        SELECT subj, string_agg(DISTINCT pred, '|' ORDER BY pred) AS sig
        FROM t GROUP BY subj
    ),
    sizes AS (SELECT sig, COUNT(*) AS n_nodes FROM sigs GROUP BY sig),
    e AS (
        SELECT ss.sig AS src_sig, t.pred, so.sig AS dst_sig,
               COUNT(*) AS n_edges
        FROM t
        JOIN sigs ss ON ss.subj = t.subj
        JOIN sigs so ON so.subj = t.obj
        WHERE t.obj_is_iri
        GROUP BY 1, 2, 3
    )
    SELECT e.src_sig, e.pred, e.dst_sig, e.n_edges,
           zs.n_nodes AS n_src_nodes, zd.n_nodes AS n_dst_nodes
    FROM e
    JOIN sizes zs ON zs.sig = e.src_sig
    JOIN sizes zd ON zd.sig = e.dst_sig
    """


# --- skip-gram co-occurrence over walks ----------------------------------------

COOCCUR_WINDOW = 2


def walk_cooccurrence(walks: DataFrame, window: int = COOCCUR_WINDOW) -> DataFrame:
    """(node_a, node_b, n_cooccur): unordered node pairs appearing within
    `window` steps of each other on the same walk — the skip-gram pair
    counts DeepWalk (Perozzi et al. KDD'14) feeds to its embedding; the
    counts matrix IS the distributed data-prep half of the algorithm
    (the SGD half is a trainer concern, like ivf_train's Lloyd loop).

    Scale shape: each walk row expands into `window` (walk_id, step+off)
    keys and equi-joins back to the walks — a hash shuffle on a slim
    composite key, the sorted-neighborhood pairing shape (linking.py),
    never a range scan or per-walk collect. Pair canonicalization
    (least/greatest) happens in-row before the final count groupBy, so
    symmetric duplicates never ship twice."""
    right = walks.select(
        "walk_id", F.col("step").alias("step_b"), F.col("node").alias("node_b")
    )
    left = walks.select(
        "walk_id", "step", "node",
        F.explode(F.expr(f"sequence(1, {window})")).alias("off"),
    ).withColumn("step_b", F.col("step") + F.col("off"))
    pairs = left.join(right, ["walk_id", "step_b"]).select(
        F.least("node", "node_b").alias("node_a"),
        F.greatest("node", "node_b").alias("node_b"),
    )
    return pairs.groupBy("node_a", "node_b").agg(F.count("*").alias("n_cooccur"))


def walk_cooccurrence_sql(walks_sql: str, window: int = COOCCUR_WINDOW) -> str:
    """DuckDB twin over a (walk_id, step, node) relation (compose with
    random_walks_sql): same step-range pairing, same least/greatest
    canonicalization."""
    return f"""
    WITH w AS (SELECT * FROM {walks_sql})
    SELECT LEAST(a.node, b.node) AS node_a,
           GREATEST(a.node, b.node) AS node_b,
           COUNT(*) AS n_cooccur
    FROM w a JOIN w b
      ON a.walk_id = b.walk_id
     AND b.step BETWEEN a.step + 1 AND a.step + {window}
    GROUP BY 1, 2
    """


# --- link prediction: Adamic-Adar ---------------------------------------------------

AA_HUB_CAP = 256   # max degree of a wedge middle vertex
AA_TOPK = 100


def adamic_adar(triples: DataFrame, k: int = AA_TOPK,
                hub_cap: int = AA_HUB_CAP) -> DataFrame:
    """(rank, u, v, n_common, score): top-k UNLINKED node pairs by
    Adamic-Adar index sum_z 1/ln(deg z) over common neighbors z — the
    classic KG link-prediction / missing-edge-suggestion baseline
    (Adamic & Adar 2003; LibenNowell & Kleinberg 2007).

    Scale shape: wedges fan out from the MIDDLE vertex z, so the pair
    count per z is deg(z)^2 — a power-law hub would dominate the whole
    job. Middle vertices with deg > hub_cap are pruned BEFORE the join
    (constant per-z bound hub_cap^2, and 1/ln(deg) makes hub evidence
    the weakest anyway — the standard LP pruning); the oracle applies
    the identical cap, so the cap is part of the operator's contract,
    not an approximation the test would miss. Remaining shape: one
    degree aggregation, one self-join on z, one (u,v) aggregation, one
    anti-join against the edge set, TakeOrderedAndProject top-k.

    Determinism: 1/ln(deg) is evaluated once per NODE, quantized to
    BIGINT*1e12 (graph._quant), summed exactly per pair; ordering is
    (quantized score desc, u, v) — total, so ranks are
    partitioning-independent."""
    from rdf2smw_spark.operators.topk import global_topk_ranked

    und = scoped_persist(
        triples.filter(F.col("obj_is_iri") & (F.col("subj") != F.col("obj")))
        .select(
            F.least("subj", "obj").alias("a"), F.greatest("subj", "obj").alias("b")
        )
        .distinct()
    )
    nbrs = und.select(F.col("a").alias("z"), F.col("b").alias("n")).unionByName(
        und.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    deg = nbrs.groupBy("z").agg(F.count("*").alias("deg"))
    # deg >= 2: a middle vertex by construction touches both endpoints
    mid = scoped_persist(
        nbrs.join(
            deg.filter((F.col("deg") >= 2) & (F.col("deg") <= hub_cap)).select(
                "z", F.expr(_quant("1.0 / ln(CAST(deg AS DOUBLE))")).alias("wq")
            ),
            "z",
        )
    )
    pairs = (
        mid.alias("l")
        .join(mid.alias("r"), (F.col("l.z") == F.col("r.z")) & (F.col("l.n") < F.col("r.n")))
        .select(
            F.col("l.n").alias("u"), F.col("r.n").alias("v"), F.col("l.wq").alias("wq")
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"), F.sum("wq").alias("sq"))
        .join(
            und.select(F.col("a").alias("u"), F.col("b").alias("v")),
            ["u", "v"],
            "left_anti",
        )
    )
    top = global_topk_ranked(pairs, [("sq", "desc"), ("u", "asc"), ("v", "asc")], k)
    return top.select(
        "rank", "u", "v", "n_common",
        # exact BIGINT / 1e12: the same double in both engines, no ROUND
        (F.col("sq").cast("double") / F.lit(float(_Q))).alias("score"),
    )


def adamic_adar_sql(triples_sql: str, k: int = AA_TOPK,
                    hub_cap: int = AA_HUB_CAP) -> str:
    wq = _quant("1.0 / ln(CAST(deg AS DOUBLE))")
    return f"""
    WITH und AS (
        SELECT DISTINCT LEAST(subj, obj) AS a, GREATEST(subj, obj) AS b
        FROM {triples_sql} WHERE obj_is_iri AND subj <> obj
    ),
    nbrs AS (
        SELECT a AS z, b AS n FROM und UNION ALL SELECT b AS z, a AS n FROM und
    ),
    deg AS (SELECT z, COUNT(*) AS deg FROM nbrs GROUP BY z),
    mid AS (
        SELECT nbrs.z, nbrs.n, {wq} AS wq
        FROM nbrs JOIN deg USING (z)
        WHERE deg BETWEEN 2 AND {hub_cap}
    ),
    pairs AS (
        SELECT l.n AS u, r.n AS v, COUNT(*) AS n_common, SUM(l.wq) AS sq
        FROM mid l JOIN mid r ON l.z = r.z AND l.n < r.n
        GROUP BY 1, 2
    ),
    unlinked AS (
        SELECT p.* FROM pairs p
        LEFT JOIN und ON und.a = p.u AND und.b = p.v
        WHERE und.a IS NULL
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sq DESC, u, v) AS BIGINT) AS rank,
           u, v, n_common, CAST(sq AS DOUBLE) / {_Q} AS score
    FROM unlinked
    ORDER BY sq DESC, u, v
    LIMIT {k}
    """


# --- personalized PageRank ----------------------------------------------------------


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """(uri, rank_e12): PageRank personalized to a seed set — the reset
    mass (and each iteration's dangling mass) returns uniformly to the
    SEEDS instead of all nodes, so scores measure proximity to the seed
    entities (the standard entity-relatedness / retrieval-expansion
    primitive; Jeh & Widom 2003). `seeds` carries one `uri` column.

    Same power iteration as pagerank; the seed count is the only driver
    scalar (bounded, computed once)."""
    e = edges.select("src", "dst").distinct().persist()
    nodes = (
        _nodes(e)
        .join(
            seeds.select("uri").distinct().withColumn("__seed", F.lit(True)),
            "uri",
            "left",
        )
        .select("uri", F.coalesce("__seed", F.lit(False)).alias("is_seed"))
        .persist()
    )
    s = nodes.filter("is_seed").count()
    if s == 0:
        e.unpersist()
        nodes.unpersist()
        raise ValueError("personalized_pagerank needs >= 1 seed in the graph")
    return _power_iteration(e, nodes, s, iters, damping)


def personalized_pagerank_sql(
    triples_sql: str,
    seeds_sql: str,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> str:
    """Unrolled-CTE DuckDB twin of personalized_pagerank — op order
    mirrors the Spark plan token-for-token (pagerank_sql pattern)."""
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        f"""e AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {triples_sql}
        WHERE obj_is_iri AND subj <> obj
    ),
    sd AS (SELECT DISTINCT uri FROM {seeds_sql}),
    nodes AS (
        SELECT uri, EXISTS (SELECT 1 FROM sd WHERE sd.uri = nn.uri) AS is_seed
        FROM (SELECT src AS uri FROM e UNION SELECT dst FROM e) nn
    ),
    ns AS (SELECT COUNT(*) AS s FROM nodes WHERE is_seed),
    outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
    rank_0 AS (
        SELECT uri, is_seed,
               CASE WHEN is_seed THEN CAST(1 AS DOUBLE) / (SELECT s FROM ns)
                    ELSE CAST(0 AS DOUBLE) END AS rank
        FROM nodes
    )"""
    ]
    for it in range(1, iters + 1):
        prev = f"rank_{it - 1}"
        parts.append(f"""contrib_{it} AS (
        SELECT e.dst, SUM({_quant('r.rank / CAST(o.od AS DOUBLE)')}) AS s
        FROM e
        JOIN {prev} r ON r.uri = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ),
    dang_{it} AS (
        SELECT COALESCE(SUM({_quant('r.rank')}), 0) AS dm
        FROM {prev} r LEFT JOIN outdeg o ON o.src = r.uri
        WHERE o.src IS NULL
    ),
    rank_{it} AS (
        SELECT n.uri, n.is_seed,
               CASE WHEN n.is_seed
                    THEN (CAST(1 AS DOUBLE) - {d}) / (SELECT s FROM ns)
                    ELSE CAST(0 AS DOUBLE) END
               + {d} * (CAST(COALESCE(c.s, 0) AS DOUBLE) / {_Q}
                        + CASE WHEN n.is_seed
                               THEN (CAST((SELECT dm FROM dang_{it}) AS DOUBLE)
                                     / {_Q}) / (SELECT s FROM ns)
                               ELSE CAST(0 AS DOUBLE) END) AS rank
        FROM nodes n LEFT JOIN contrib_{it} c ON c.dst = n.uri
    )""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT uri, {_quant('rank')} AS rank_e12 FROM rank_{iters}
    """
