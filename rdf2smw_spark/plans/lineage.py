"""Checkpoint + lineage layer (north rule: every stage checkpoints with
per-partition lineage rows; the pipeline resumes idempotently).

Storage is parquet (the Iceberg runtime jar is not available offline;
the interface is format-agnostic, so swapping `parquet` for `iceberg` is
a one-line change) plus one `_MANIFEST.json` per stage: the commit
record, written last, holding the parameter fingerprint, the schema, the
row count and the write's wall time. A stage directory without one (a
crashed write, or a snapshot from before manifests) is recomputed.
Reads take the schema from the manifest, so they run no inference job.

Lineage rows: (run_id, stage, partition_id, input_split, rows_out,
wall_ms) — one per output file, derived from the files actually written,
so a resumed run can audit exactly what each task produced.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"


def write_counted(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> int:
    """Overwrite `path` with `df` as parquet and return how many rows were
    written. The count is a `DataFrame.observe` metric of the write
    itself, so counting adds no Spark job."""
    obs = Observation()
    w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return obs.get["rows"]


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, run_id: str | None = None):
        self.spark = spark
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        # set once a stage of this store is recomputed: every later stage
        # reads the new snapshot, so none of them may resume
        self._recomputed = False

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage")

    def manifest(self, stage: str) -> dict | None:
        """The stage's commit record, or None for an uncommitted stage."""
        try:
            with open(os.path.join(self.stage_path(stage), MANIFEST)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def rows(self, stage: str) -> int:
        return self.manifest(stage)["rows"]

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        """A stage is resumable iff it is committed AND was produced under
        the same parameter fingerprint. Without the fingerprint check,
        re-running a work_dir with a changed or newly-enabled gate
        (--min-quality, --near-dedup, …) silently resumed the stale
        snapshot and the gate had no effect."""
        m = self.manifest(stage)
        return m is not None and m["fingerprint"] == fingerprint

    def _scan(self, stage: str, schema: StructType) -> DataFrame:
        return self.spark.read.schema(schema).parquet(self.stage_path(stage))

    def read(self, stage: str) -> DataFrame:
        """Read a committed snapshot back under its manifest schema."""
        return self._scan(stage, StructType.fromJson(self.manifest(stage)["schema"]))

    def _append_lineage(self, stage: str, out: DataFrame, wall_ms: int) -> None:
        # partition_id parses the writer's own part number out of the
        # file name (part-NNNNN-...) instead of a dense_rank over an
        # UNPARTITIONED window — one row per file still meant one
        # reducer sorting every split name (10^6-10^8 rows per stage at
        # web scale). -1 flags a non-Spark-written file (external table
        # import); ids stay exactly the contiguous 0..n-1 the writer
        # assigned, so the lineage semantics are unchanged.
        part_no = F.regexp_extract(F.col("input_split"), "part-([0-9]+)", 1)
        lin = (
            out.groupBy(F.input_file_name().alias("input_split"))
            .agg(F.count("*").alias("rows_out"))
            .select(
                F.lit(self.run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                F.when(part_no != "", part_no.cast("int"))
                .otherwise(F.lit(-1))
                .alias("partition_id"),
                "input_split",
                F.col("rows_out").cast("long"),
                F.lit(wall_ms).cast("long").alias("wall_ms"),
            )
        )
        lin.write.mode("append").parquet(self.lineage_path())

    def materialize(
        self,
        df: DataFrame,
        stage: str,
        resume: bool = True,
        partition_by: list[str] | None = None,
        *,
        fingerprint: str,
    ) -> DataFrame:
        """Write-once stage checkpoint: skip if a committed snapshot
        exists under the same parameter fingerprint (resume), else
        compute, write, record lineage and commit the manifest. Always
        returns the on-disk DataFrame so downstream stages read the
        checkpoint, not the recomputed plan.

        fingerprint: hash of every parameter (and upstream fingerprint)
        that shapes this stage's output. Callers chain them (pipeline.py)
        so changing one stage's parameters invalidates everything
        downstream — the Iceberg analogue is the snapshot's parent id.
        The stages of one store form a chain too: once one of them is
        recomputed, every later one is, since its input is a new
        snapshot.

        partition_by: hive-style directory partitioning of the snapshot —
        the parquet rendering of Iceberg's partition transforms (the
        north star's `bucket(subj, N)`-partitioned triples table).
        Readers get partition pruning on the bucket column for free; on
        a real deployment the same call writes an Iceberg table and the
        conversion's groupBy(subj) becomes a bucket-local aggregation."""
        if resume and not self._recomputed and self.is_complete(stage, fingerprint):
            return self.read(stage)
        self._recomputed = True
        path = self.stage_path(stage)
        t0 = time.monotonic()
        rows = write_counted(df, path, partition_by)
        wall_ms = int((time.monotonic() - t0) * 1000)
        out = self._scan(stage, df.schema)
        self._append_lineage(stage, out, wall_ms)
        manifest = {
            "fingerprint": fingerprint,
            "schema": df.schema.jsonValue(),
            "rows": rows,
            "wall_ms": wall_ms,
        }
        tmp = os.path.join(path, f".{MANIFEST}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(path, MANIFEST))
        return out
