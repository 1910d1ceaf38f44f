"""Stage materialization with per-partition lineage and snapshot resume.

north_rule: "every stage checkpoints ... with per-partition lineage rows
(partition id, input url range, triple counts, wall time) so any run resumes
from the last committed snapshot."

In production these are Iceberg tables (atomic snapshot commits, partition
stats in the manifest). This sandbox has no Iceberg runtime jar, so the same
contract is implemented over Parquet directories plus a JSON manifest per
stage. The manifest is the commit point, as Iceberg's snapshot is: it is
written to a temp file, fsynced and renamed last, and a stage directory
without a committed manifest is discarded and rebuilt. Swap
``format("parquet")`` for ``format("iceberg")`` and the manifest for the
catalog and nothing else changes shape.

Lineage rows come from a second pass after the data write:
``partition_lineage`` re-reads the written parquet and groups it by the
re-read's ``spark_partition_id()`` (its file splits, not the write tasks).
The one ``wall_ms`` on every row is the driver-side time from the start of
the stage until the data write returned.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_lineage_manifest.json"


@dataclass
class StageResult:
    stage: str
    path: str
    run_id: str
    input_fingerprint: str
    row_count: int
    n_partitions: int
    wall_ms: int
    resumed: bool


def _fingerprint(df: DataFrame, extra: str = "") -> str:
    """Cheap logical fingerprint of a stage input: hash of the CANONICALIZED
    logical plan + caller-supplied discriminator (e.g. ontology version).
    Matches Iceberg's snapshot-id role: same plan + same inputs => same
    fingerprint => stage is resumable.

    Canonicalization uses Catalyst's own ``canonicalized`` form of the
    analyzed plan — the structure Spark itself compares for plan equality:
    expression ids renumber deterministically and Python-UDF object
    addresses are dropped, while DATA LITERALS survive untouched (an r2
    blanket-regex version rewrote ``'tag#1'``/hex-string constants too, so
    two genuinely different filters could fingerprint-equal and silently
    resume a stale snapshot). Prefer an explicit fingerprint for production
    jobs (argv hash) — UDF *bodies* are not captured by any plan string
    (only the function name is).
    """
    import hashlib

    plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    return hashlib.md5((plan + "|" + extra).encode()).hexdigest()


def try_resume(
    spark: SparkSession, base_dir: str, stage: str, fingerprint: str
) -> tuple[DataFrame, StageResult] | None:
    """Resume path that never builds (or executes) the stage plan: if a
    committed manifest matches ``fingerprint``, return the snapshot, else
    None. Callers with expensive plan construction check this FIRST."""
    path = os.path.join(base_dir, stage)
    manifest_path = os.path.join(path, MANIFEST)
    if not os.path.exists(manifest_path):
        return None
    with open(manifest_path) as f:
        m = json.load(f)
    if not (m.get("committed") and m.get("input_fingerprint") == fingerprint):
        return None
    out = spark.read.parquet(os.path.join(path, "data"))
    return out, StageResult(
        stage, path, m["run_id"], fingerprint, m["row_count"], m["n_partitions"],
        0, resumed=True,
    )


def partition_lineage(df: DataFrame, key_col: str) -> DataFrame:
    """Per-partition lineage rows computed in one pass over ``df``:
    (partition_id, row_count, min_key, max_key), where partition_id is
    ``df``'s own ``spark_partition_id()``. ``materialize_stage`` runs it
    over the re-read of the parquet it just wrote."""
    return (
        df.select(F.spark_partition_id().alias("partition_id"), F.col(key_col))
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("row_count"),
            F.min(key_col).cast("string").alias("min_key"),
            F.max(key_col).cast("string").alias("max_key"),
        )
    )


def materialize_stage(
    df: DataFrame,
    stage: str,
    base_dir: str,
    key_col: str,
    input_fingerprint_extra: str = "",
    partition_by: list[str] | None = None,
    fingerprint: str | None = None,
) -> tuple[DataFrame, StageResult]:
    """Write ``df`` as the checkpoint of ``stage`` and return (re-read df,
    result). If a committed manifest with the same input fingerprint exists,
    SKIP the write and resume from the snapshot (north_rule resume path).

    Lineage is written as parquet to ``<base_dir>/<stage>/lineage``, beside
    ``<stage>/data``, with columns (partition_id, row_count, min_key,
    max_key, stage, run_id, wall_ms); see the module docstring for what a
    partition and ``wall_ms`` are. The manifest's row_count and
    n_partitions are read back from that table.
    """
    spark = df.sparkSession
    path = os.path.join(base_dir, stage)
    manifest_path = os.path.join(path, MANIFEST)
    fp = fingerprint or _fingerprint(df, input_fingerprint_extra)

    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        if m.get("input_fingerprint") == fp and m.get("committed"):
            out = spark.read.parquet(os.path.join(path, "data"))
            return out, StageResult(
                stage, path, m["run_id"], fp, m["row_count"], m["n_partitions"],
                0, resumed=True,
            )
        # stale/uncommitted snapshot: discard and rebuild — but never delete
        # a previously COMMITTED snapshot silently (a fingerprint mismatch
        # there usually means changed inputs, which is legitimate, but the
        # operator should see that an old snapshot was replaced)
        if m.get("committed"):
            import warnings

            warnings.warn(
                f"stage '{stage}': committed snapshot at {path} has fingerprint "
                f"{m.get('input_fingerprint')!r} != {fp!r}; replacing it",
                stacklevel=2,
            )
        shutil.rmtree(path, ignore_errors=True)

    run_id = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    data_path = os.path.join(path, "data")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_path)
    out = spark.read.parquet(data_path)
    lineage = (
        partition_lineage(out, key_col)
        .withColumn("stage", F.lit(stage))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_ms", F.lit(int((time.perf_counter() - t0) * 1000)))
    )
    lineage.write.mode("overwrite").parquet(os.path.join(path, "lineage"))
    lrows = spark.read.parquet(os.path.join(path, "lineage"))
    row_count = lrows.agg(F.sum("row_count")).first()[0] or 0
    n_parts = lrows.count()
    wall_ms = int((time.perf_counter() - t0) * 1000)
    # manifest rename-last = the commit point (Iceberg snapshot analog)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "stage": stage,
                "run_id": run_id,
                "input_fingerprint": fp,
                "row_count": int(row_count),
                "n_partitions": int(n_parts),
                "wall_ms": wall_ms,
                "committed": True,
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, manifest_path)
    return out, StageResult(
        stage, path, run_id, fp, int(row_count), int(n_parts), wall_ms, resumed=False
    )


def read_lineage(spark: SparkSession, base_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, stage, "lineage"))
