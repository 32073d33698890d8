"""Stage checkpoint catalog: Iceberg-shaped table + lineage bookkeeping.

The reference persists its merge/restart progress as marker files and
keeps each CatTree chunk as an HDT file on disk
(MergeRunnable.markRestartStepCompleted, MergeRunnable.java:517-519,
495-507; CatTreeImpl.doGenerationSync chunk HDTs,
CatTreeImpl.java:254-390). Our equivalent: every stage writes its
output table + a lineage row (stage, input fingerprint, row count,
wall ms, per-partition rows); `Catalog.resume` alone decides whether
a rerun with the same fingerprint reads the committed table instead of
recomputing — idempotent resume.

Iceberg itself needs jars not present in the v1 sandbox image, so the
warehouse is a directory of parquet tables with an atomic `_SUCCESS`-
style commit marker (write to tmp path, rename); the write API mirrors
`df.writeTo(table)` so swapping in a real Iceberg catalog is a
constructor argument, not a rewrite. All data paths stay identical at
cluster scale — parquet files written by executors, only the tiny
lineage JSON is driver-side.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class StageResult:
    name: str
    path: str
    rows: int
    wall_ms: int
    resumed: bool


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- lineage ----------------------------------------------------------
    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.warehouse, f"_lineage_{stage}.json")

    def lineage(self, stage: str) -> dict | None:
        p = self._lineage_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def all_lineage(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.warehouse)):
            if f.startswith("_lineage_"):
                with open(os.path.join(self.warehouse, f)) as fh:
                    out.append(json.load(fh))
        return out

    # -- tables -----------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.table_path(name))

    def resume(self, stage: str, input_fingerprint: str) -> StageResult | None:
        """The committed result of `stage` when its lineage records the
        same input fingerprint AND its table still exists on disk — a
        deleted table directory with a surviving lineage file must
        rebuild. None means the stage has to run."""
        lin = self.lineage(stage)
        path = self.table_path(stage)
        if (
            lin is None
            or lin.get("input_fingerprint") != input_fingerprint
            or not os.path.exists(path)
        ):
            return None
        return StageResult(stage, path, lin["row_count"], lin["wall_ms"], True)

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        input_fingerprint: str,
        sort_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> StageResult:
        """Commit `df` as the output of `stage`, replacing any earlier
        commit; `resume` decides whether a stage needs to run."""
        path = self.table_path(stage)
        t0 = time.time()
        tmp = path + ".__tmp__"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if partition_by and not any(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(tmp) for f in fs
        ):
            # empty frame + partitionBy writes NO data files (not even
            # a schema), leaving the table unreadable; rewrite the
            # empty table unpartitioned so the schema is preserved
            # (the reference's empty1.nt case)
            df.write.mode("overwrite").parquet(tmp)
        # per-partition lineage rows (FIXTURES.md §8) from parquet footer
        # metadata — no extra Spark job over the data (footers only; an
        # Iceberg catalog would expose the same via its manifest files).
        # Recursive walk covers partitionBy layouts (section=SH/...).
        files = []
        for root, _dirs, fnames in os.walk(tmp):
            for fname in fnames:
                if fname.endswith(".parquet"):
                    files.append(os.path.join(root, fname))
        per_part = []
        for i, fpath in enumerate(sorted(files)):
            md = pq.read_metadata(fpath)
            per_part.append(
                {
                    "partition_id": i,
                    "row_count": md.num_rows,
                    "path": os.path.relpath(fpath, tmp),
                }
            )
        rows = sum(p["row_count"] for p in per_part)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        wall_ms = int((time.time() - t0) * 1000)
        record = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "row_count": rows,
            "wall_ms": wall_ms,
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "partitions": per_part,
            "sort_cols": sort_cols or [],
        }
        tmp_l = self._lineage_path(stage) + ".tmp"
        with open(tmp_l, "w") as f:
            json.dump(record, f)
        os.replace(tmp_l, self._lineage_path(stage))
        return StageResult(stage, path, rows, wall_ms, False)
