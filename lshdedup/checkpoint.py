"""Per-stage checkpoint/resume + lineage/metrics — north-rule requirement.

The reference has nothing here (long runs restart from zero, SURVEY §4.15).
Design: each pipeline stage writes its output table under
``<checkpoint_dir>/<run_id>/<stage>/`` (parquet locally; the same code path
takes an Iceberg table identifier on clusters with an Iceberg catalog — the
write API is isolated in ``_write``/``_read``).  A stage whose output
already exists with a success marker AND a matching config fingerprint is
skipped on rerun — resumability is table-existence, not driver state, so a
killed job resumes mid-pipeline.

Every completed stage appends one JSON metrics line (rows, wall seconds,
per-partition row counts = lineage, config hash) to ``metrics.jsonl``,
queryable through ``metrics_df()``.  The lineage comes from the written
files' parquet footers (row count per part file), so it runs no Spark job;
on Iceberg the same counts are in the table's file metadata.  The marker
also records the stage's schema, so reading a stage back (after its
write, or on resume) needs no schema-inference job either.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from lshdedup.config import DedupConfig


class StageRunner:
    """Orchestrates checkpointed stages of one pipeline run."""

    def __init__(self, spark: SparkSession, cfg: DedupConfig):
        if not cfg.checkpoint_dir:
            raise ValueError("cfg.checkpoint_dir required for StageRunner")
        self.spark = spark
        self.cfg = cfg
        self.root = os.path.join(cfg.checkpoint_dir, cfg.run_id)
        os.makedirs(self.root, exist_ok=True)
        # stable across driver restarts (builtin hash() is per-process salted,
        # which would defeat resume-after-kill)
        digest = hashlib.sha256(cfg.to_json().encode("utf-8")).hexdigest()
        self.cfg_hash = int(digest[:15], 16)
        self.events: list[dict] = []

    # -- storage primitives (swap for Iceberg writeTo/load on a cluster) --
    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _marker(self, stage: str) -> dict | None:
        """The stage's completion marker, if it matches this config."""
        marker = os.path.join(self._path(stage), "_LSHDEDUP_DONE.json")
        if not os.path.exists(marker):
            return None
        with open(marker) as fh:
            meta = json.load(fh)
        return meta if meta.get("cfg_hash") == self.cfg_hash else None

    def _write(self, stage: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._path(stage))

    def _read(self, stage: str, schema: StructType | None = None) -> DataFrame:
        # a given schema skips parquet's footer-inference job (file sources
        # read every column back nullable either way)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(stage))

    def _lineage(self, stage: str) -> dict:
        """Row counts per written part file, from the parquet footers."""
        parts = {}
        for name in os.listdir(self._path(stage)):
            if name.startswith("part-") and name.endswith(".parquet"):
                rows = pq.read_metadata(os.path.join(self._path(stage), name)).num_rows
                if rows:
                    # one task may write several files (maxRecordsPerFile)
                    p = int(name.split("-")[1])
                    parts[p] = parts.get(p, 0) + rows
        return {
            "rows": sum(parts.values()),
            "n_partitions": len(parts),
            "partition_rows": dict(sorted(parts.items())),
        }

    # -- the stage wrapper --
    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        lineage: bool = True,
    ) -> DataFrame:
        """Run (or resume) one stage; returns the materialized output."""
        done = self._marker(name)
        if done is not None:
            self.events.append({"stage": name, "resumed": True})
            schema = done.get("schema")
            return self._read(name, StructType.fromJson(schema) if schema else None)
        t0 = time.perf_counter()
        out = fn()
        self._write(name, out)
        result = self._read(name, out.schema)
        wall = time.perf_counter() - t0
        meta: dict = {
            "stage": name,
            "resumed": False,
            "wall_sec": round(wall, 3),
            "cfg_hash": self.cfg_hash,
            "run_id": self.cfg.run_id,
        }
        if lineage:
            meta.update(self._lineage(name))
        with open(os.path.join(self._path(name), "_LSHDEDUP_DONE.json"), "w") as fh:
            json.dump({**meta, "schema": out.schema.jsonValue()}, fh)
        with open(os.path.join(self.root, "metrics.jsonl"), "a") as fh:
            fh.write(json.dumps(meta) + "\n")
        self.events.append(meta)
        return result

    def metrics_df(self) -> DataFrame:
        """The run's metrics as a DataFrame (queryable lineage table)."""
        path = os.path.join(self.root, "metrics.jsonl")
        rows = []
        if os.path.exists(path):
            with open(path) as fh:
                rows = [json.loads(line) for line in fh if line.strip()]
        if not rows:
            return self.spark.createDataFrame([], "stage string, wall_sec double, rows long")
        return self.spark.createDataFrame(
            [
                (
                    r.get("stage"),
                    float(r.get("wall_sec", 0.0)),
                    int(r.get("rows", 0)),
                    int(r.get("n_partitions", 0)),
                    json.dumps(r.get("partition_rows", {})),
                )
                for r in rows
            ],
            "stage string, wall_sec double, rows long, n_partitions int, partition_lineage string",
        )
