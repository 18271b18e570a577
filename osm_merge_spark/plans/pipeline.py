"""Checkpoint-resumable stage execution with per-partition lineage rows and
metric counters (north rule; SURVEY §2.9/§4).

The reference restarts from scratch on any failure (single process, RAM
lists); its only "checkpointing" is chunked file reads (readjson.py:69-167).
This engine gives every pipeline stage:

  - an atomic materialization (write to tmp dir + rename — the parquet
    stand-in for an Iceberg snapshot commit; table IO is abstracted so an
    Iceberg catalog slots in where available),
  - a manifest row (stage, status, rows_out, n_partitions, t_start, t_end,
    wall_s) appended only after the commit,
  - per-partition lineage rows (stage, partition_id, rows_out) taken from
    the commit itself: row counts from the committed files' metadata
    (sources/tables.committed_partition_rows), the partition count from
    the write job's result stage, so empty partitions are listed too — no
    second scan and no Python in the write,
  - resume: a re-run skips any stage whose manifest row is committed and
    whose output exists, so a failed 40-stage job at 100 TB re-executes
    only the incomplete suffix.

All driver-side bookkeeping is O(stages + partitions), never O(rows).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class PipelineContext:
    """One pipeline run rooted at base_dir.

    Layout: <base>/<stage>/part-*.parquet, <base>/_manifest.jsonl,
    <base>/_lineage/<stage>.jsonl
    """

    spark: SparkSession
    base_dir: str
    executed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)

    def __post_init__(self):
        os.makedirs(self.base_dir, exist_ok=True)
        os.makedirs(os.path.join(self.base_dir, "_lineage"), exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.base_dir, "_manifest.jsonl")

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def manifest(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed(self, stage: str) -> dict | None:
        """The stage's committed manifest row while its output exists."""
        from ..sources.tables import table_exists

        rows = [m for m in self.manifest()
                if m["stage"] == stage and m["status"] == "committed"]
        exists = rows and table_exists(self.spark, self.stage_path(stage))
        return rows[-1] if exists else None

    def _append_manifest(self, row: dict) -> None:
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def lineage(self, stage: str) -> list[dict]:
        p = os.path.join(self.base_dir, "_lineage", f"{stage}.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]


def _write_tasks(sc, tag: str) -> int:
    """Task count of the result stage of the newest job tagged `tag` (the
    write job), first attempt: a resubmitted attempt lists only the
    partitions still missing."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed async
    tracker = jsc.statusTracker()
    job = max(tracker.getJobIdsForTag(tag))
    # a job's result stage is created after all its parents: highest id
    stage = max(tracker.getJobInfo(job).get().stageIds())
    gw = sc._gateway
    first = jsc.statusStore().stageAttempt(
        stage, 0, False, gw.jvm.java.util.Collections.emptyList(), False,
        gw.new_array(gw.jvm.double, 0),
    )._1()
    return first.numTasks()


def run_stage(
    ctx: PipelineContext,
    stage: str,
    build: Callable[[SparkSession], DataFrame],
    partition_by: list[str] | None = None,
    observe_metrics: dict[str, F.Column] | None = None,
) -> DataFrame:
    """Execute (or resume-skip) one stage; returns the stage output DF.

    build() is only called when the stage is not already committed — the
    lazy plan is materialized exactly once per pipeline lifetime.
    """
    from ..sources.tables import commit_table, committed_partition_rows, read_table

    out = ctx.stage_path(stage)
    done = ctx.committed(stage)
    if done is not None:
        ctx.skipped.append(stage)
        return read_table(ctx.spark, out, done.get("schema"))

    t0 = time.time()
    df = build(ctx.spark)
    observation = None
    if observe_metrics:
        from pyspark.sql import Observation

        observation = Observation(f"stage:{stage}")
        df = df.observe(observation, *[c.alias(k) for k, c in observe_metrics.items()])

    # the schema the stage reads back with: a partitioned write of zero
    # rows commits no data file to infer it from; parquet lists
    # partition columns last
    parts = partition_by or []
    schema = StructType(
        [f for f in df.schema.fields if f.name not in parts]
        + [df.schema[p] for p in parts]
    ).jsonValue()

    # atomic commit THROUGH THE TABLE SEAM (an Iceberg snapshot commit
    # when a catalog is configured; tmp+rename on the parquet fallback —
    # see sources/tables.commit_table), then lineage and the manifest row.
    # The tag sits beside the caller's job group, which stays as it was.
    sc = ctx.spark.sparkContext
    tag = f"stage-commit-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        commit_table(df, out, partition_by)
    finally:
        sc.removeJobTag(tag)

    # a task whose partition was empty wrote no file (except partition 0)
    n_tasks = _write_tasks(sc, tag)
    rows = committed_partition_rows(ctx.spark, out)
    assert all(p < n_tasks for p in rows), (stage, n_tasks, sorted(rows))
    lineage_rows = [
        {"stage": stage, "partition_id": p, "rows_out": rows.get(p, 0)}
        for p in range(n_tasks)
    ]
    with open(os.path.join(ctx.base_dir, "_lineage", f"{stage}.jsonl"), "w") as f:
        for row in lineage_rows:
            f.write(json.dumps(row) + "\n")

    rows_out = sum(r["rows_out"] for r in lineage_rows)
    manifest_row = {
        "stage": stage,
        "status": "committed",
        "rows_out": rows_out,
        "n_partitions": len(lineage_rows),
        "t_start": t0,
        "t_end": time.time(),
        "wall_s": round(time.time() - t0, 3),
        "schema": schema,
    }
    if observation is not None:
        manifest_row["metrics"] = {
            k: v for k, v in observation.get.items()
        }
    ctx._append_manifest(manifest_row)
    ctx.executed.append(stage)
    return read_table(ctx.spark, out, schema)


def conflation_pipeline(
    ctx: PipelineContext,
    images: DataFrame,
    layer: DataFrame,
    tile_m: float = 50_000.0,
) -> dict[str, DataFrame]:
    """The flagship end-to-end pipeline as checkpoint-resumable stages:
    ingest-normalize → conflate (matched / new) → tile-assign → outputs.

    Each stage boundary is a durable snapshot; re-running after a crash
    resumes from the last committed stage. The image `bytes` payload never
    enters the join (SURVEY §7.3-4): callers pass the slim projection and
    re-attach payloads by image_id equi-join downstream.
    """
    from ..functions.cells import TileGrid
    from ..operators.conflate import ConflateParams, conflate
    from ..operators.tiles import assign_tiles

    img_n = run_stage(ctx, "images_normalized", lambda s: images)
    layer_n = run_stage(ctx, "layer_normalized", lambda s: layer)

    def build_matched(s):
        m, _ = conflate(img_n, layer_n, ConflateParams())
        return m

    matched = run_stage(ctx, "matched", build_matched)

    # "new" anti-joins against the *matched checkpoint* — the expensive
    # cell join is executed exactly once per pipeline lifetime.
    from ..operators.conflate import new_features, prepare_images

    new = run_stage(
        ctx, "new_features",
        lambda s: new_features(prepare_images(img_n), matched.select("image_id")),
    )

    grid = TileGrid(tile_m=tile_m)
    tiles = run_stage(
        ctx, "tile_assignment",
        lambda s: assign_tiles(matched, grid),
        partition_by=["tile_id"],
    )
    return {"matched": matched, "new": new, "tiles": tiles}
