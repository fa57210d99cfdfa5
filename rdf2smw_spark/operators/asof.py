"""As-of (backward, inclusive) join — the time-series lookup Spark has
no built-in operator for: for every left event, the most recent right
event at-or-before its timestamp with the same key.

Spark-first shape (NO range join, NO per-row subquery): union both
sides tagged, one window per key ordered by (ts, side) with right rows
sorted before left rows at equal timestamps (inclusive semantics), and
``last(..., ignorenulls=True)`` over the unbounded-preceding frame
carries the latest right-side payload forward onto each left row. That
is ONE shuffle on the join key and a linear per-partition pass —
exactly the sessionization plan shape, so it scales the same way
(hot-key skew aside, which AQE's skew-join handling splits). The naive
alternative — a range-condition join — explodes to |L|·|R| per key
before filtering and is unusable at 100 TB.

The right side is first reduced to ONE row per (key, ts) — greatest
event_id wins — so "the most recent right row" is well-defined and the
DuckDB ``ASOF JOIN`` oracle (an independent native implementation of
the same semantics, not a mirrored query) is unambiguous.

The reference engine has no time-series operators (its scope ends at
RDF conversion, rdf2smw.go:1-117); this extends the engine for the
event-log side of a web-scale corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    payload: str = "value",
) -> DataFrame:
    """Backward inclusive as-of join.

    left:  (key, ts, event_id, ...) — rows to enrich (all columns kept).
    right: (key, ts, event_id, payload) — reference series.
    Returns left columns + (ref_ts, ref_payload) of the most recent
    right row with right.ts <= left.ts for the same key (NULL when no
    such row). Right is deduped to one row per (key, ts) by greatest
    event_id before the merge, making the result set-deterministic.
    """
    # one right row per (key, ts): greatest event_id wins
    r1 = (
        right.groupBy(key, ts)
        .agg(F.max_by(payload, "event_id").alias("__p"))
        .select(
            F.col(key),
            F.col(ts),
            F.col(ts).alias("__ref_ts"),
            F.col("__p").alias("__ref_payload"),
            F.lit(0).alias("__side"),
        )
    )
    lcols = left.columns
    l1 = left.select(
        *lcols,
        F.lit(None).cast(r1.schema["__ref_ts"].dataType).alias("__ref_ts"),
        F.lit(None).cast(r1.schema["__ref_payload"].dataType).alias("__ref_payload"),
        F.lit(1).alias("__side"),
    )
    u = l1.unionByName(r1, allowMissingColumns=True)
    # right (0) sorts before left (1) at equal ts -> inclusive (l.ts >= r.ts)
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        u.withColumn("ref_ts", F.last("__ref_ts", ignorenulls=True).over(w))
        .withColumn("ref_payload", F.last("__ref_payload", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .select(*lcols, "ref_ts", "ref_payload")
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    window_sec: int = 1800,
) -> DataFrame:
    """Interval join: every (left, right) pair with the same key and
    right.ts in (left.ts - window_sec, left.ts] — "purchases in the 30
    minutes up to each click".

    Spark has no range-join operator, and the naive
    ``l.key = r.key AND r.ts BETWEEN ...`` plan degenerates to a
    per-key nested loop (every left row scans every right row of its
    key — quadratic on hot keys). This composes it from equi-joins:
    bucket both sides into window_sec-wide epochs, join on
    (key, bucket) twice — each left row probes its own bucket and its
    predecessor, the only two that can contain matches — then apply
    the exact range filter. Each side is shuffled ONCE on a perfectly
    partitionable composite key, the join is hash-based, and the
    fan-out is bounded by actual matches + same-bucket near-misses
    (≤ one extra bucket per row), not by key cardinality.

    Returns left columns + (r_ts, r_event_id, r_payload), one row per
    match — rows with no match are dropped (inner semantics)."""
    win_us = window_sec * 1_000_000
    # integer microsecond arithmetic end-to-end: timestamps carry
    # microseconds, so second-truncating unix_timestamp() would both
    # mis-bucket and disagree with the oracle's INTERVAL compare.
    # cast-to-TIMESTAMP first: parquet naive timestamps read as
    # TIMESTAMP_NTZ (which unix_micros rejects), and with the session
    # timezone pinned to UTC (session.py) the cast is epoch-identity.
    bucket = F.expr(f"unix_micros(CAST({ts} AS TIMESTAMP)) DIV {win_us}")
    lcols = left.columns
    l1 = left.withColumn("__b", bucket)
    r1 = right.select(
        F.col(key),
        F.col(ts).alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_payload"),
    ).withColumn("__b", F.expr(f"unix_micros(CAST(r_ts AS TIMESTAMP)) DIV {win_us}"))
    # probe own bucket and the previous one
    probes = l1.select(*lcols, "__b").unionByName(
        l1.select(*lcols, (F.col("__b") - 1).alias("__b"))
    )
    joined = probes.join(r1, [key, "__b"])
    r_us = F.expr("unix_micros(CAST(r_ts AS TIMESTAMP))")
    l_us = F.expr(f"unix_micros(CAST({ts} AS TIMESTAMP))")
    keep = (r_us > l_us - F.lit(win_us)) & (r_us <= l_us)
    return joined.filter(keep).select(*lcols, "r_ts", "r_event_id", "r_payload")


def range_join_sql(
    left_sql: str,
    right_sql: str,
    key: str = "user_id",
    ts: str = "ts",
    window_sec: int = 1800,
) -> str:
    """Oracle: the declarative inequality join DuckDB executes with its
    native IEJoin — independent of the bucketed composition."""
    return f"""(
    SELECT l.*, r.{ts} AS r_ts, r.event_id AS r_event_id, r.value AS r_payload
    FROM {left_sql} l
    JOIN {right_sql} r
      ON l.{key} = r.{key}
     AND r.{ts} > l.{ts} - INTERVAL {window_sec} SECOND
     AND r.{ts} <= l.{ts}
)"""


def asof_join_sql(
    left_sql: str,
    right_sql: str,
    key: str = "user_id",
    ts: str = "ts",
    payload: str = "value",
) -> str:
    """DuckDB oracle via its NATIVE ``ASOF LEFT JOIN`` — an independent
    implementation of the backward-inclusive semantics, not a mirror of
    the Spark plan, so agreement is genuine cross-validation."""
    return f"""(
    WITH r1 AS (
        SELECT {key}, {ts}, MAX_BY({payload}, event_id) AS ref_payload
        FROM {right_sql} GROUP BY {key}, {ts}
    )
    SELECT l.*, r.{ts} AS ref_ts, r.ref_payload
    FROM {left_sql} l
    ASOF LEFT JOIN r1 r ON l.{key} = r.{key} AND l.{ts} >= r.{ts}
)"""
