"""Per-stage checkpoint / resume with lineage + metrics.

North-rule requirement: 10^12-doc jobs must be resumable from
checkpoints with lineage. The unit of resume is a STAGE (a materialised
intermediate table at `<root>/<stage>`), written in ONE pass:
`DataFrame.observe` captures the row count and an order-insensitive
checksum while the parquet write runs, and those values go into
`<root>/<stage>__manifest.json`. The manifest is written last (temp
file + atomic rename), so it is the completion marker: a stage with
both `_SUCCESS` and a manifest is never recomputed — `run_stage`
short-circuits to a scan — while a crash between the write and the
manifest leaves a stage that is recomputed. `verify_lineage` audits a
materialised stage against its manifest with one aggregate.

On a real deployment the checkpoint root is an Iceberg/S3 prefix; the
mechanism below is pure Spark API and works identically on local paths.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _stage_path(root: str, stage: str) -> str:
    return os.path.join(root, stage)


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, f"{stage}__manifest.json")


def stage_complete(root: str, stage: str) -> bool:
    return os.path.exists(_manifest_path(root, stage)) and os.path.exists(
        os.path.join(_stage_path(root, stage), "_SUCCESS")
    )


def read_manifest(root: str, stage: str) -> dict:
    with open(_manifest_path(root, stage)) as f:
        return json.load(f)


def _audit(columns: list[str]) -> list[Column]:
    """rows + two order-insensitive checksums of a per-row xxhash64 over
    every string-cast column and one isNull flag per column (xxhash64
    skips NULLs, so without the flags a NULL moved to another column
    hashes the same). XOR alone lets duplicate rows cancel, so the exact
    decimal sum is recorded too (a long sum overflows under ANSI mode)."""
    cols = [F.col(c) for c in columns]
    h = F.xxhash64(*[c.cast("string") for c in cols], *[c.isNull() for c in cols])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(h.cast("decimal(20,0)")).alias("sum"),
    ]


def _ints(values: dict) -> dict:
    return {k: None if v is None else int(v) for k, v in values.items()}


def run_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    df_fn: Callable[[], DataFrame],
) -> DataFrame:
    """Compute-or-resume a stage.

    * resume: `_SUCCESS` and manifest present -> return the materialised
      scan (no recompute; downstream stages read columnar parquet with
      pushdown intact).
    * compute: write df_fn() to parquet once, observing rows and
      checksum during the write, then write the manifest (wall time,
      rows, checksum) last.
    """
    path = _stage_path(root, stage)
    if stage_complete(root, stage):
        return spark.read.parquet(path)
    manifest = _manifest_path(root, stage)
    if os.path.exists(manifest):
        os.remove(manifest)

    t0 = time.time()
    df = df_fn()
    obs = Observation()
    df.observe(obs, *_audit(df.columns)).write.mode("overwrite").parquet(path)
    m = {"stage": stage, "seconds": round(time.time() - t0, 3), **_ints(obs.get)}
    with open(manifest + ".tmp", "w") as f:
        json.dump(m, f)
    os.replace(manifest + ".tmp", manifest)
    return spark.read.parquet(path)


def stage_metrics(spark: SparkSession, root: str) -> DataFrame:
    """The run's metrics table: one row per completed stage (name, wall
    seconds, output rows) assembled from the stage manifests. On a real
    deployment this is the table an orchestrator reads to spot the slow
    stage of a resumed 10^12-doc job."""
    rows = []
    for fn in sorted(os.listdir(root)):
        if fn.endswith("__manifest.json"):
            with open(os.path.join(root, fn)) as f:
                m = json.load(f)
            rows.append((m["stage"], float(m["seconds"]), int(m["rows"])))
    return spark.createDataFrame(rows, "stage string, seconds double, rows long")


def verify_lineage(spark: SparkSession, root: str, stage: str) -> bool:
    """Audit a materialised stage against its manifest: one aggregate
    over the re-read must reproduce the rows and checksums observed
    during the write (both are order-insensitive, so partition
    boundaries may differ after a re-read)."""
    df = spark.read.parquet(_stage_path(root, stage))
    got = _ints(df.agg(*_audit(df.columns)).first().asDict())
    m = read_manifest(root, stage)
    return got == {k: m[k] for k in got}
