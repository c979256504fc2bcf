"""Per-partition checkpointed lineage + metrics (north_rule P4).

A validation run over B buckets writes, per completed CHUNK of buckets,
a manifest append recording each finished bucket with its metrics. A
killed job, on restart, reads the manifest and skips every finished
bucket — resume without recomputing completed partitions.

The manifest is plain parquet (append-only, tiny), readable by any
engine; no reference counterpart (the reference has no checkpointing).

A checkpoint directory is a DRIVER-LOCAL path (a plain path or a
``file:`` URI; ``local_dir`` refuses any other scheme). The tables the
driver already holds — the manifest rows, and the verdicts sink
``validate_repo_table`` writes from its folded verdict rows — are
written and read here with pyarrow, not through Spark jobs. Each file
is written under a hidden temporary name and renamed into place, so a
reader (this module's, or Spark's, which also skips hidden names)
never sees half a file. Only the scan sink, every row the scan pass
yields (its parse-error rows are unbounded), is written by Spark: it
is the chunk's one Spark job, and the driver reads its partial and
sketch rows back with ``read_sink``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Iterable, Optional, Set
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

MANIFEST_SCHEMA = ("bucket int, status string, n_rows bigint, "
                   "n_ok bigint, n_err bigint, metrics string, "
                   "run_id string, finished_at double")

_COUNTERS = ("n_rows", "n_ok", "n_err")

_ARROW_TYPES = {"int": pa.int32(), "bigint": pa.int64(),
                "double": pa.float64(), "boolean": pa.bool_(),
                "string": pa.string(), "binary": pa.binary(),
                "array<bigint>": pa.list_(pa.int64())}


def arrow_schema(ddl: str) -> pa.Schema:
    """The pyarrow schema of a flat ``"name type, ..."`` Spark DDL, so a
    sink's schema is declared once for its Spark and pyarrow sides."""
    return pa.schema([(name, _ARROW_TYPES[typ]) for name, typ in
                      (col.split() for col in ddl.split(","))])


def is_missing_path(exc: AnalysisException) -> bool:
    """True when a read failed only because its path does not exist
    (a schema-pinned read still checks that at load time)."""
    return exc.getCondition() == "PATH_NOT_FOUND"


def local_dir(checkpoint_dir: str) -> str:
    """The local path of a checkpoint directory. Checkpoints are read
    and written on the driver with local file I/O, so any URI scheme
    but ``file`` is refused."""
    uri = urlparse(checkpoint_dir)
    if uri.scheme == "file":
        return uri.path
    if uri.scheme:
        raise ValueError(
            f"checkpoint_dir {checkpoint_dir!r}: scheme {uri.scheme!r} "
            "is not supported; a checkpoint directory must be a "
            "driver-local path (plain or file: URI)")
    return checkpoint_dir


def write_part(directory: str, table: pa.Table,
               name: str = "part-00000.parquet") -> None:
    """Write ``table`` as ``directory/name``: to a hidden temporary
    name first, then renamed into place (a rename is atomic, so a crash
    leaves the old file or the new one, never a torn one)."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def write_sink(directory: str, table: pa.Table) -> None:
    """Replace a chunk sink directory's content with ``table``, one
    file: a chunk re-run converges to the same rows instead of adding
    a second copy next to the first."""
    write_part(directory, table)
    for f in os.listdir(directory):
        if f != "part-00000.parquet" and not f.startswith((".", "_")):
            os.remove(os.path.join(directory, f))


def read_sink(path: str, schema: pa.Schema) -> pa.Table:
    """Every row of a sink directory (all its chunk partitions) with
    the columns of ``schema``; no rows when it does not exist. Hidden
    and _-prefixed names (temporaries, Spark's _SUCCESS and .crc files)
    are skipped."""
    if not os.path.isdir(path):
        return schema.empty_table()
    return ds.dataset(path, schema=schema, format="parquet").to_table()


class CheckpointManager:
    """The manifest of one checkpoint directory. ``validate_repo_table``
    appends one row per bucket of a chunk after that chunk's sinks are
    written, with the metrics taken from the verdict rows it already
    holds: the manifest row is the chunk's commit point."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str,
                 run_id: Optional[str] = None):
        self.spark = spark
        self.dir = local_dir(checkpoint_dir)
        self.manifest_path = os.path.join(self.dir, "manifest")
        self.run_id = run_id or f"run-{int(time.time() * 1000)}"

    def finished_buckets(self) -> Set[int]:
        """Buckets the manifest records as done, read with pyarrow on
        the driver. Only a missing manifest means "nothing finished";
        an unreadable one raises rather than silently re-running every
        bucket."""
        t = read_sink(self.manifest_path,
                      arrow_schema("bucket int, status string"))
        return {b for b, s in zip(t.column("bucket").to_pylist(),
                                  t.column("status").to_pylist())
                if s == "done"}

    def record_done(self, bucket_metrics: Iterable[dict]) -> None:
        """Append one manifest row per finished bucket, as one new file.
        Each dict: {bucket, n_rows, n_ok, n_err, **extra}; the extras
        land JSON-encoded in ``metrics``, so they must be JSON-native
        (a numpy scalar would be stringified)."""
        ms = list(bucket_metrics)
        if not ms:
            return
        finished_at = time.time()
        table = pa.table({
            "bucket": [int(m["bucket"]) for m in ms],
            "status": ["done"] * len(ms),
            **{k: [int(m.get(k, 0)) for m in ms] for k in _COUNTERS},
            "metrics": [json.dumps({k: v for k, v in m.items()
                                    if k != "bucket" and k not in _COUNTERS},
                                   sort_keys=True, default=str)
                        for m in ms],
            "run_id": [self.run_id] * len(ms),
            "finished_at": [finished_at] * len(ms),
        }, schema=arrow_schema(MANIFEST_SCHEMA))
        write_part(self.manifest_path, table,
                   f"part-{int(finished_at * 1e6)}-{uuid.uuid4().hex}.parquet")

    def manifest(self) -> DataFrame:
        return self.spark.read.schema(MANIFEST_SCHEMA) \
            .parquet(self.manifest_path)
