"""Streaming schema inference (Structured Streaming).

The reference is batch-only (Spark 1.3.1 RDD API — SURVEY.md §2
'Streaming'); this extends the same merge monoid to streams, which is
exactly what a commutative monoid buys: arbitrary incremental folds.

Two shapes:

  * ``run_incremental_inference`` — global evolving schema via
    ``foreachBatch``: each micro-batch computes its partial state with
    the batch engine (same operators/infer.py path, same plans,
    nothing cached), then merges into a cumulative state file on the
    driver (tiny JSON). Restart reuses both the stream
    checkpoint AND the state file.
  * ``keyed_schema_stream`` — per-key evolving schema via
    ``applyInPandasWithState``: custom stateful operator keeping each
    key's merged micro-schema state + counters in the state store,
    emitting the updated rendered schema per key per batch.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.microschema import (
    ZERO, dumps, loads, merge, render,
)
from schema_guru_spark.core.transforms import apply_transforms
from schema_guru_spark.worker import worker_fn


class IncrementalSchemaState:
    """Driver-side cumulative state file:
    {state, n_ok, n_err, last_batch_id, checkpoint_dir}.

    ``last_batch_id`` makes the foreachBatch sink idempotent:
    Structured Streaming re-executes a batch (same batch_id) after a
    failure between sink completion and checkpoint commit; without the
    guard a replay would double-merge counters (the schema merge itself
    is idempotent, the counts are not).

    ``checkpoint_dir`` pins the stream the state belongs to: batch ids
    are only comparable within ONE checkpoint lineage. Reusing a state
    file with a fresh/reset checkpoint restarts ids at 0, and the
    replay guard would silently discard every early micro-batch of the
    new stream (r05 review) — the pin turns that into a loud error,
    same pattern as the incremental-validation params pin."""

    def __init__(self, path: str):
        self.path = path

    def read(self) -> Tuple[dict, int, int, Optional[int]]:
        if os.path.exists(self.path):
            with open(self.path) as f:
                d = json.load(f)
            return (d["state"], d["n_ok"], d["n_err"],
                    d.get("last_batch_id"))
        return ZERO, 0, 0, None

    def checkpoint_dir(self) -> Optional[str]:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f).get("checkpoint_dir")
        return None

    def write(self, state: dict, n_ok: int, n_err: int,
              batch_id: Optional[int] = None,
              checkpoint_dir: Optional[str] = None) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"state": state, "n_ok": n_ok, "n_err": n_err,
                       "last_batch_id": batch_id,
                       "checkpoint_dir": checkpoint_dir}, f)
        os.replace(tmp, self.path)


def run_incremental_inference(stream_df: DataFrame, column: str,
                              ctx: SchemaContext, state_path: str,
                              checkpoint_dir: str,
                              trigger_available_now: bool = True):
    """readStream -> foreachBatch(batch inference + cumulative merge).

    Returns the StreamingQuery. The cumulative rendered schema is
    re-written to ``state_path`` + '.schema.json' after every batch.
    """
    from schema_guru_spark.operators.infer import _require_commutative
    _require_commutative(ctx)
    from schema_guru_spark.operators.infer import infer_json_column

    store = IncrementalSchemaState(state_path)
    ckpt = os.path.abspath(checkpoint_dir)
    pinned = store.checkpoint_dir()
    if pinned is not None and pinned != ckpt:
        raise ValueError(
            f"state file {state_path} belongs to checkpoint {pinned!r}; "
            f"running it against {ckpt!r} would misread the new "
            "stream's batch ids as replays. Use the original "
            "checkpoint, or a fresh state_path.")

    def write_schema(state: dict) -> None:
        # atomic like IncrementalSchemaState.write — a crash mid-write
        # must never leave truncated JSON behind
        rendered = render(apply_transforms(state, ctx), ctx)
        tmp = state_path + ".schema.json.tmp"
        with open(tmp, "w") as f:
            json.dump(rendered, f, sort_keys=True)
        os.replace(tmp, state_path + ".schema.json")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prev, ok, err, last_id = store.read()
        if last_id is not None and batch_id == last_id:
            # replayed batch (failure between sink and commit) — a
            # genuine replay re-runs exactly the LAST committed id. The
            # crash may have landed BETWEEN the state commit and the
            # schema write — regenerate from the committed state so
            # schema.json can never stay a batch behind.
            write_schema(prev)
            return
        if last_id is not None and batch_id < last_id:
            # an intact checkpoint never goes backwards: the checkpoint
            # was cleaned or replaced (batch ids restarted) — merging
            # would skip/double-count; refuse instead
            raise RuntimeError(
                f"stream batch id {batch_id} is behind the committed "
                f"state (last_batch_id={last_id}) at {state_path}: the "
                "checkpoint was reset. Restore it, or start a fresh "
                "state_path.")
        res = infer_json_column(batch_df, column, ctx)
        merged = merge(prev, res.state, ctx)
        store.write(merged, ok + res.n_ok, err + res.n_err, batch_id,
                    checkpoint_dir=ckpt)
        write_schema(merged)

    writer = (stream_df.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_STATE_SCHEMA = "state string, n_ok bigint, n_err bigint"
_OUT_SCHEMA = "key string, schema string, n_ok bigint, n_err bigint"


def _keyed_state_fn(ctx: SchemaContext, column: str):
    @worker_fn
    def fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        from schema_guru_spark.core.accumulate_batch import fold_keyed

        if state.exists:
            st_json, n_ok, n_err = state.get
            acc = loads(st_json)
        else:
            acc, n_ok, n_err = ZERO, 0, 0
        for pdf in pdfs:
            # the group's texts fold under one global key, then merge
            # into the loaded state (enum-free: order is immaterial)
            states, counts, _ = fold_keyed(pdf[column], None, ctx)
            acc = merge(acc, states.get(None, ZERO), ctx)
            ok, err = counts.get(None, (0, 0))
            n_ok += ok
            n_err += err
        state.update((dumps(acc), n_ok, n_err))
        rendered = json.dumps(render(apply_transforms(acc, ctx), ctx),
                              sort_keys=True)
        yield pd.DataFrame([{"key": key[0], "schema": rendered,
                             "n_ok": n_ok, "n_err": n_err}])

    return fn


def keyed_schema_stream(stream_df: DataFrame, column: str, key_col: str,
                        ctx: SchemaContext) -> DataFrame:
    """Per-key evolving schema as a stateful streaming transform.

    Input: streaming DataFrame with (key_col, column). Output stream:
    (key, schema, n_ok, n_err) updated each batch. State per key is the
    serialized micro-schema monoid state — bounded by schema complexity,
    not stream length.

    Enum-bearing contexts are rejected loudly: a group's rows reach the
    state function in shuffle order, and the reference's enum merge is
    order-sensitive (concat-size before distinct), so per-key enums
    would depend on the scheduler. Batch inference handles enum
    contexts with a partition-ordered fold (operators/infer.py:
    infer_json_column); a stream has no analogous input order to pin
    within a micro-batch group. ``run_incremental_inference`` stays
    enum-capable: each micro-batch runs the (deterministic) batch
    engine and the cumulative fold is sequential in batch order.
    """
    from schema_guru_spark.operators.infer import _require_commutative
    _require_commutative(ctx)
    if not ctx.enum_disabled:
        raise ValueError(
            "keyed_schema_stream requires an enum-free context: the "
            "enum merge is order-sensitive (SchemaWithEnum.scala:57-70) "
            "and rows reach the state function in shuffle order; use "
            "run_incremental_inference for enum-bearing streaming "
            "inference, or SchemaContext.make(0)")
    return (stream_df
            .select(F.col(key_col).alias("key"), F.col(column))
            .groupBy("key")
            .applyInPandasWithState(
                _keyed_state_fn(ctx, column),
                outputStructType=_OUT_SCHEMA,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def windowed_violation_counts(stream_df: DataFrame, content_col: str,
                              ts_col: str, window: str = "1 minute",
                              watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed validity counts with late-data handling —
    the watermark + windowed-aggregation shape for streams.

    Input: streaming DataFrame with an event-time column and a
    JSON-bearing content column. Output stream (append mode capable):
    (window_start, window_end, n_docs, n_valid, n_invalid, err_rate)
    per event-time window; rows later than ``watermark`` behind the max
    seen event time are dropped by the engine and their window state is
    finalized/evicted — bounded state regardless of stream length.

    Validity here is the cheap JVM-side structural screen (non-null,
    trimmed content starting with '{' or '[' — the reference's
    top-level-kind gate, SchemaGenerator.scala:54-59, as a streaming
    pre-filter); full derivation happens in the stateful/foreachBatch
    paths above.
    """
    c = F.trim(F.col(content_col))
    looks_json = c.isNotNull() & (c.startswith("{") | c.startswith("["))
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(looks_json, 1).otherwise(0)).alias("n_valid"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_docs", "n_valid",
                    (F.col("n_docs") - F.col("n_valid")).alias("n_invalid"),
                    F.round((F.col("n_docs") - F.col("n_valid"))
                            / F.col("n_docs"), 6).alias("err_rate")))
