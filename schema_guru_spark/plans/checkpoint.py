"""Per-partition checkpointed lineage + metrics (north_rule P4).

A validation run over B buckets writes, per completed CHUNK of buckets,
a manifest append recording each finished bucket with its metrics. A
killed job, on restart, reads the manifest and skips every finished
bucket — resume without recomputing completed partitions.

The manifest is plain parquet (append-only, tiny), readable by any
engine; no reference counterpart (the reference has no checkpointing).
The manager knows the manifest's schema, so every read passes it
instead of inferring it (an inferred read costs a Spark job per call),
and each append is built as a pandas local relation — shipped to the
JVM through Arrow, not pickled through a Python task.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterable, Optional, Set

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SCHEMA = ("bucket int, status string, n_rows bigint, "
                   "n_ok bigint, n_err bigint, metrics string, "
                   "run_id string, finished_at double")

_COUNTERS = ("n_rows", "n_ok", "n_err")


def is_missing_path(exc: AnalysisException) -> bool:
    """True when a read failed only because its path does not exist
    (a schema-pinned read still checks that at load time)."""
    return exc.getCondition() == "PATH_NOT_FOUND"


class CheckpointManager:
    """The manifest of one checkpoint directory. ``validate_repo_table``
    appends one row per bucket of a chunk after that chunk's violations
    and verdicts sinks are written, with the metrics taken from the
    verdict rows it already holds: the manifest row is the chunk's
    commit point."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str,
                 run_id: Optional[str] = None):
        self.spark = spark
        self.dir = checkpoint_dir
        self.manifest_path = os.path.join(checkpoint_dir, "manifest")
        self.run_id = run_id or f"run-{int(time.time() * 1000)}"

    def finished_buckets(self) -> Set[int]:
        """Buckets the manifest records as done — one read, one job.
        Only a missing manifest means "nothing finished"; an unreadable
        one raises rather than silently re-running every bucket."""
        try:
            df = self.manifest()
        except AnalysisException as exc:
            if is_missing_path(exc):
                return set()
            raise
        rows = df.where(F.col("status") == "done").select("bucket").collect()
        return {r["bucket"] for r in rows}

    def record_done(self, bucket_metrics: Iterable[dict]) -> None:
        """Append one manifest row per finished bucket.
        Each dict: {bucket, n_rows, n_ok, n_err, **extra}; the extras
        land JSON-encoded in ``metrics``, so they must be JSON-native
        (a numpy scalar would be stringified)."""
        ms = list(bucket_metrics)
        if not ms:
            return
        pdf = pd.DataFrame({
            "bucket": [int(m["bucket"]) for m in ms],
            "status": "done",
            **{k: [int(m.get(k, 0)) for m in ms] for k in _COUNTERS},
            "metrics": [json.dumps({k: v for k, v in m.items()
                                    if k != "bucket" and k not in _COUNTERS},
                                   sort_keys=True, default=str)
                        for m in ms],
            "run_id": self.run_id,
            "finished_at": time.time(),
        })
        (self.spark.createDataFrame(pdf, MANIFEST_SCHEMA)
         .coalesce(1)
         .write.mode("append").parquet(self.manifest_path))

    def manifest(self) -> DataFrame:
        return self.spark.read.schema(MANIFEST_SCHEMA) \
            .parquet(self.manifest_path)
