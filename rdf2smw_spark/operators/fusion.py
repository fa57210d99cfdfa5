"""Truth-discovery fact fusion: resolve conflicting (subj, pred) claims
asserted by many independent sources into one winning object per fact
slot, weighting each claim by the estimated reliability of its sources
(TruthFinder / Sums family, Yin et al. KDD'07 — fixed-point iteration
between source trust and claim confidence).

This is the step a web-scale KG build runs right after extraction +
linking: 10^12 pages assert overlapping, partially wrong facts, and a
majority vote is too naive — a source that agrees with consensus on
the facts it CAN be checked on earns trust that breaks ties elsewhere
(the reference resolves multi-valued predicates by first-wins order,
aggregate.go:42-54; fusion generalizes that to quality-weighted
voting across sources).

Determinism / oracle-exactness: all arithmetic is widened-BIGINT e6
fixed point with explicit truncating division (Spark `DIV` == DuckDB
`//` on non-negative ints), and every per-group quantity is an integer
SUM — partition-order independent, so Spark and the DuckDB twin hash
identically at any parallelism. Bounds: claim confidence is at most
n_sources * 1e6 and is multiplied by 1e6 once, so the math stays in
BIGINT up to ~9e6 sources per single claim; beyond that, pre-scale
trust to e3.

Scale shape (per iteration, `iters` fixed and small):
  - conf:   one groupBy (subj, pred, obj) with map-side partial SUM
            after a shuffle join of claims with the source-trust frame
            (trust is |sources|-sized — web-domain cardinality, joined
            by shuffle, never collected);
  - share:  a window partitioned by (subj, pred) — group size is the
            number of DISTINCT objects claimed for one fact slot
            (bounded), never a global window;
  - trust:  one groupBy (source) with integer AVG (SUM DIV COUNT).
The trust iteration runs through session.fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdf2smw_spark.session import fixpoint

E6 = 1_000_000
FUSION_ITERS = 2


def _conf(claims: DataFrame, trust: DataFrame) -> DataFrame:
    """(subj, pred, obj, conf, n_sources): summed source trust per claim."""
    return (
        claims.join(trust, "source")
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("trust_e6").alias("conf"), F.count("*").alias("n_sources"))
    )


def fact_fusion(claims: DataFrame, iters: int = FUSION_ITERS) -> DataFrame:
    """claims (subj, pred, obj, source) — one row per distinct assertion
    (callers dedup) — -> (subj, pred, obj, conf_e6, n_sources, n_objects):
    the winning object per (subj, pred) after `iters` trust iterations,
    ties broken by min obj. n_objects counts the competing objects.
    Composition of the two production halves: the iterated trust table
    (fuse_trust) and one frozen-trust voting pass (fuse_with_trust)."""
    return fuse_with_trust(claims, fuse_trust(claims, iters))


def fact_fusion_sql(claims_sql: str, iters: int = FUSION_ITERS) -> str:
    """DuckDB twin: the SAME iteration count unrolled into chained CTEs
    (generated, so any `iters` mirrors the Spark loop — non-vacuous for
    the trust dynamics, not just the final vote). claims_sql must be a
    parenthesized relation with columns (subj, pred, obj, source)."""
    ctes = [
        f"claims AS (SELECT * FROM {claims_sql})",
        "trust0 AS (SELECT source, CAST(1000000 AS BIGINT) AS trust_e6"
        " FROM (SELECT DISTINCT source FROM claims))",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            # SUM(BIGINT) is HUGEINT in DuckDB (pandas renders it float):
            # cast every aggregate back to BIGINT so downstream division
            # and the hash compare stay in integer space
            f"conf{i} AS (SELECT subj, pred, obj, CAST(SUM(t.trust_e6) AS BIGINT) AS conf"
            f" FROM claims c JOIN trust{i - 1} t USING (source)"
            f" GROUP BY subj, pred, obj)"
        )
        ctes.append(
            f"share{i} AS (SELECT subj, pred, obj,"
            f" conf * 1000000 // CAST(SUM(conf) OVER (PARTITION BY subj, pred) AS BIGINT)"
            f" AS share_e6 FROM conf{i})"
        )
        ctes.append(
            f"trust{i} AS (SELECT source, CAST(SUM(share_e6) AS BIGINT) // COUNT(*) AS trust_e6"
            f" FROM claims c JOIN share{i} s USING (subj, pred, obj)"
            f" GROUP BY source)"
        )
    ctes.append(
        f"conf_final AS (SELECT subj, pred, obj, CAST(SUM(t.trust_e6) AS BIGINT) AS conf,"
        f" COUNT(*) AS n_sources"
        f" FROM claims c JOIN trust{iters} t USING (source)"
        f" GROUP BY subj, pred, obj)"
    )
    ctes.append(
        "ranked AS (SELECT subj, pred, obj, conf AS conf_e6, n_sources,"
        " COUNT(*) OVER (PARTITION BY subj, pred) AS n_objects,"
        " ROW_NUMBER() OVER (PARTITION BY subj, pred"
        " ORDER BY conf DESC, obj) AS rn FROM conf_final)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT subj, pred, obj, conf_e6, n_sources, n_objects"
        " FROM ranked WHERE rn = 1"
    )


def fuse_trust(claims: DataFrame, iters: int = FUSION_ITERS) -> DataFrame:
    """The trust half of fact_fusion: (source, trust_e6) after `iters`
    iterations — the table a production pipeline refreshes on a slow
    batch cadence and FREEZES between refreshes so incremental claim
    deltas don't require a global re-iteration."""
    w = Window.partitionBy("subj", "pred")

    def step(trust: DataFrame):
        share = (
            _conf(claims, trust)
            .withColumn("__tot", F.sum("conf").over(w))
            .withColumn("share_e6", F.expr(f"conf * {E6} DIV __tot"))
        )
        return (
            claims.join(share.select("subj", "pred", "obj", "share_e6"),
                        ["subj", "pred", "obj"])
            .groupBy("source")
            .agg(F.expr("sum(share_e6) DIV count(*)").alias("trust_e6"))
        ), None

    trust0 = (
        claims.select("source").distinct()
        .withColumn("trust_e6", F.lit(E6).cast("bigint"))
    )
    trust, _ = fixpoint(trust0, step, iters)
    return trust


def fuse_with_trust(claims: DataFrame, trust: DataFrame) -> DataFrame:
    """One voting pass under a FROZEN trust table: the winner per
    (subj, pred) with summed-trust confidence. Sources absent from the
    trust table vote with the uniform prior (1e6) — a brand-new source
    must not be silently disenfranchised between trust refreshes."""
    w = Window.partitionBy("subj", "pred")
    primed = claims.join(trust, "source", "left").withColumn(
        "trust_e6", F.coalesce("trust_e6", F.lit(E6).cast("bigint"))
    )
    final = primed.groupBy("subj", "pred", "obj").agg(
        F.sum("trust_e6").alias("conf"), F.count("*").alias("n_sources")
    )
    ranked = final.select(
        "subj", "pred", "obj",
        F.col("conf").alias("conf_e6"),
        "n_sources",
        F.count("*").over(w).alias("n_objects"),
        F.row_number().over(w.orderBy(F.col("conf").desc(), "obj")).alias("__rn"),
    )
    return ranked.filter(F.col("__rn") == 1).drop("__rn")


def fuse_incremental(
    fused: DataFrame, claims_all: DataFrame, claims_delta: DataFrame,
    trust: DataFrame,
) -> DataFrame:
    """Maintain a fused-facts table under a claim delta WITHOUT
    re-fusing the corpus: only the (subj, pred) slots the delta touches
    are re-voted (under the frozen trust table); every other fused row
    passes through untouched — the dd_incremental / kg_incremental_pages
    discipline applied to fusion. In production `fused` and
    `claims_all` are Iceberg tables and this is the MERGE source.

    Exactness contract (pytest): result == fuse_with_trust(claims_all
    ∪ delta, trust) — the incremental path may never drift from the
    full recompute, because voting is per-slot independent given trust.

    Scale shape: touched-slot restriction is a broadcast-or-shuffle
    semi-join on (subj, pred) (delta-sized probe); the re-vote runs on
    the touched slice only; the passthrough is an anti join on the
    same key. Cost scales with the delta, not the corpus."""
    touched = claims_delta.select("subj", "pred").distinct()
    relevant = claims_all.unionByName(claims_delta).join(
        touched, ["subj", "pred"], "left_semi"
    )
    revoted = fuse_with_trust(relevant, trust)
    untouched = fused.join(touched, ["subj", "pred"], "left_anti")
    return untouched.unionByName(revoted)


def fuse_incremental_sql(
    base_sql: str, all_sql: str, iters: int = FUSION_ITERS
) -> str:
    """Oracle for the incremental path's exactness contract: trust
    iterated over the BASE claims only (the frozen table), then ONE
    voting pass over ALL claims with the uniform prior for sources the
    base never saw — i.e. fuse_with_trust(all, fuse_trust(base)),
    which fuse_incremental must reproduce slot-for-slot."""
    ctes = [
        f"claims AS (SELECT * FROM {base_sql})",
        "trust0 AS (SELECT source, CAST(1000000 AS BIGINT) AS trust_e6"
        " FROM (SELECT DISTINCT source FROM claims))",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"conf{i} AS (SELECT subj, pred, obj, CAST(SUM(t.trust_e6) AS BIGINT) AS conf"
            f" FROM claims c JOIN trust{i - 1} t USING (source)"
            f" GROUP BY subj, pred, obj)"
        )
        ctes.append(
            f"share{i} AS (SELECT subj, pred, obj,"
            f" conf * 1000000 // CAST(SUM(conf) OVER (PARTITION BY subj, pred) AS BIGINT)"
            f" AS share_e6 FROM conf{i})"
        )
        ctes.append(
            f"trust{i} AS (SELECT source, CAST(SUM(share_e6) AS BIGINT) // COUNT(*) AS trust_e6"
            f" FROM claims c JOIN share{i} s USING (subj, pred, obj)"
            f" GROUP BY source)"
        )
    ctes.append(f"allc AS (SELECT * FROM {all_sql})")
    ctes.append(
        f"conf_final AS (SELECT subj, pred, obj,"
        f" CAST(SUM(COALESCE(t.trust_e6, 1000000)) AS BIGINT) AS conf,"
        f" COUNT(*) AS n_sources"
        f" FROM allc c LEFT JOIN trust{iters} t USING (source)"
        f" GROUP BY subj, pred, obj)"
    )
    ctes.append(
        "ranked AS (SELECT subj, pred, obj, conf AS conf_e6, n_sources,"
        " COUNT(*) OVER (PARTITION BY subj, pred) AS n_objects,"
        " ROW_NUMBER() OVER (PARTITION BY subj, pred"
        " ORDER BY conf DESC, obj) AS rn FROM conf_final)"
    )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT subj, pred, obj, conf_e6, n_sources, n_objects"
        " FROM ranked WHERE rn = 1"
    )
