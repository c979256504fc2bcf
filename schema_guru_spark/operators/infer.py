"""Distributed schema inference — the engine's core custom aggregation.

Reference lifecycle (SURVEY.md §3.1): RDD[JValue] -> map(jsonToSchema) ->
RDD.reduce(_.merge(_)) -> transforms on the driver
(SchemaGuruRDD.scala:45-102). The recursive merge state cannot be a Spark
SQL aggregate (no recursive types), so the idiomatic Spark shape is:

  1. ONE pass over the data with ``mapInPandas`` (Arrow-batched): each
     task derives micro-schemas per document and folds them into a single
     per-partition state — map-side combine, the moral equivalent of
     ``treeAggregate``'s seqOp. Parse/derive errors are emitted as
     violation ROWS in the same pass (fixing the reference's double
     traversal, SchemaGuruRDD.scala:49, and driver-side errors.collect,
     SchemaDerive.scala:98).
  2. The per-partition states (one tiny JSON row per task) fold in pid
     (partition) order through one function, ``_fold_partials``, in
     every context: on the driver, and, only above 64 partial states
     (inputs past about 2 GB at 32 MB splits) and only for enum-free
     contexts, first in combine-tree rounds on the executors. The
     number of states is the scan's partition count, known without a
     job, so the rounds are planned before the action that runs the
     pass and collects the states; nothing is cached. At 1000
     executors / 100k partitions the state rows total a few MB — the
     combine is never the bottleneck; the single data pass is.

Segmented (per-key) inference folds per-key accumulators map-side in
the same pass, then shuffles only the tiny states (groupBy(key), each
key folded by ``_fold_partials``) —
replacing the reference's RDD.groupBy that ships whole groups to
single tasks (JsonPathExtractorRDD.scala:74). A hot key costs the same
as any other key, so skew cannot concentrate data movement.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.microschema import (
    ZERO, dumps, loads, merge, render)
from schema_guru_spark.core.transforms import apply_transforms, extract_keys
from schema_guru_spark.core.levenshtein import get_duplicates
from schema_guru_spark.worker import worker_fn

# one partial row per (task, key) state, or per failing document
# (``error`` not NULL); global inference has the one key None
_PARTIAL = ("key string, state string, n_ok bigint, n_err bigint, "
            "pid int, error string")
_COLS = ["key", "state", "n_ok", "n_err", "pid", "error"]
# combine-tree fan-in: rounds run while there are more partial states
_FANIN = 64


def _require_commutative(ctx: SchemaContext) -> None:
    """Strict reference-product mode reproduces an ORDER-DEPENDENT merge
    (ProductSchema.scala:124-159) — correct only for sequential
    arrival-order folds. The distributed engine merges partial states in
    partition/tree order, so silently accepting it would make results
    depend on task scheduling. Fail loudly instead."""
    if getattr(ctx, "strict_reference_product", False):
        raise ValueError(
            "strict_reference_product is a kernel-level parity mode "
            "(non-commutative merge) and cannot run distributed; use "
            "core.microschema.merge_all on an ordered document list, or "
            "the default commutative context for Spark inference")


def _fold_task(ctx: SchemaContext, column: str,
               key_col: Optional[str] = None,
               ctx_by_key: Optional[dict] = None):
    """Build the mapInPandas function of the one data pass: each Arrow
    batch goes through the shared keyed kernel
    (``core.accumulate_batch.fold_keyed``: parse once per distinct
    document, gate, collapse, fold), and the batch states merge into
    the task's per-key states in batch order. For enum-bearing contexts
    a batch boundary thus acts like a partition boundary: row order
    within a batch, batch order within a task.

    Emits ``_PARTIAL`` rows: one error row per failing document, then
    one state row per key the task saw. ``key_col=None`` is global
    inference (one key, None), which emits its state row even for an
    empty task."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from schema_guru_spark.core.accumulate_batch import fold_keyed

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        accs: dict = {}
        counts: dict = {None: [0, 0]} if key_col is None else {}
        for pdf in batches:
            states, batch_counts, errors = fold_keyed(
                pdf[column], None if key_col is None else pdf[key_col], ctx,
                ctx_by_key)
            for k, st in states.items():
                accs[k] = merge(accs.get(k, ZERO), st, ctx)
            for k, (ok, err) in batch_counts.items():
                c = counts.setdefault(k, [0, 0])
                c[0] += ok
                c[1] += err
            if errors:
                yield pd.DataFrame({
                    "key": None, "state": None, "n_ok": 0, "n_err": 0,
                    "pid": pid, "error": [msg for _, msg in errors]},
                    columns=_COLS)
        if counts:
            yield pd.DataFrame(
                [(k, dumps(accs.get(k, ZERO)), ok, err, pid, None)
                 for k, (ok, err) in counts.items()], columns=_COLS)

    return fn


def _fold_partials(rows, ctx: SchemaContext) -> tuple[dict, int, int]:
    """Fold partial state rows (anything with ``state``, ``n_ok``,
    ``n_err`` and ``pid`` attributes: collected Rows or pandas
    itertuples) in pid order: merge the states, sum the counters. The
    one fan-in of every inference path — tree rounds, the driver fold
    and the keyed per-key fold. The pid order keeps enum-bearing
    contexts (order-sensitive merge, see infer_json_column) a function
    of the input partitioning alone."""
    acc, n_ok, n_err = ZERO, 0, 0
    for r in sorted(rows, key=lambda r: r.pid):
        acc = merge(acc, loads(r.state), ctx)
        n_ok += int(r.n_ok)
        n_err += int(r.n_err)
    return acc, n_ok, n_err


@dataclass
class InferResult:
    """Merged schema state + counters + the parse/derive error rows.

    ``violations`` (one ``error`` column) is a lazy view of the scan:
    every action on it re-runs the scan."""

    state: dict
    n_ok: int
    n_err: int
    violations: DataFrame

    def schema(self, ctx: SchemaContext) -> dict:
        """Final JSON Schema (transform passes applied, SchemaGuru.scala:74-78)."""
        return render(apply_transforms(self.state, ctx), ctx)

    def duplicated_keys(self) -> set:
        """Levenshtein near-duplicate warning over the merged tree
        (SchemaGuruRDD.scala:99)."""
        return get_duplicates(extract_keys(self.state))


def _widen_small_scan(src: DataFrame,
                      n_parts: int) -> tuple[DataFrame, int]:
    """A small input can plan fewer scan tasks than the session has
    cores, serializing the Python derive pass. Widen it ONLY when a
    task would carry substantial bytes: for tiny inputs the extra
    exchange + per-task scheduling costs more than single-task derive
    (measured 0.4s single-task vs 1.0s repartitioned on a 2 MB file),
    while at production scale the scan already has >> cores splits and
    neither branch fires — no shuffle is ever added there.

    ``n_parts`` is ``src``'s partition count; returns the source to scan
    and its partition count (the session's parallelism when widened)."""
    spark = src.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        # private JVM API (tested against Spark 4.1.x) — the broad
        # except degrades to no-widening on a Spark upgrade rather than
        # breaking; revisit the call chain if the stats() shape changes
        total_bytes = int(
            src._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    except Exception:  # stats API unavailable -> keep the plan as-is
        return src, n_parts
    if n_parts < par and total_bytes // max(n_parts, 1) > 8 * 1024 * 1024:
        return src.repartition(par), par
    return src, n_parts


def infer_json_column(df: DataFrame, column: str,
                      ctx: SchemaContext) -> InferResult:
    """Infer one merged schema for a JSON-bearing string column.

    One distributed pass (``_fold_task``: one state row per task, one
    error row per failing document), then one fold of the partial
    states in pid order (``_fold_partials``) on the driver. Above
    ``_FANIN`` (64) partial states, enum-free contexts first run
    combine-tree rounds on the executors, each shrinking the count by
    ``_FANIN``x through the same fold (at 32 MB splits, only inputs
    above about 2 GB have that many states).

    Global inference emits exactly one state row per scan task, so the
    number of states is the scan's partition count
    (``df.rdd.getNumPartitions()``, which runs no job on a plain scan);
    the rounds are planned without a job and one action collects the
    states: one Spark job when no round runs. Nothing is cached:
    ``violations`` is a lazy view of the scan, and every action on it
    re-runs the scan.
    """
    _require_commutative(ctx)
    # With the enum machinery live (not ctx.enum_disabled), the
    # reference's enum merge checks size on the CONCATENATION before
    # distinct (SchemaWithEnum.scala:57-70, pinned by
    # test_concat_size_check_precedes_distinct): neither commutative
    # nor associative, so merging partial states in task-completion
    # order would make inferred enums depend on the scheduler, and a
    # tree fold would vary with the tree's shape. Such contexts skip
    # the tree: the driver fold in PARTITION ORDER is deterministic for
    # a fixed input partitioning (the reference's own Spark job folds
    # the same merge through RDD.aggregate with no ordering guarantee
    # at all, SchemaGuruRDD.scala:44-60).
    src = df.select(column)
    n = 0   # enum-bearing contexts: no tree round
    if ctx.enum_disabled:
        # widening repartitions rows round-robin, which would make an
        # order-sensitive (enum-bearing) fold depend on the session's
        # parallelism instead of the input layout alone — skip it there
        src, n = _widen_small_scan(src, src.rdd.getNumPartitions())
    raw = src.mapInPandas(_fold_task(ctx, column), _PARTIAL)
    violations = raw.filter(F.col("error").isNotNull()).select("error")
    states = raw.filter(F.col("error").isNull())

    @worker_fn
    def tree_round(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one combine-tree round: the task's partial states fold into
        # one, keyed by their least pid
        rows = [r for pdf in batches for r in pdf.itertuples(index=False)]
        acc, n_ok, n_err = _fold_partials(rows, ctx)
        pid = min((int(r.pid) for r in rows), default=-1)
        yield pd.DataFrame([(None, dumps(acc), n_ok, n_err, pid, None)],
                           columns=_COLS)

    while n > _FANIN:   # n: partial state rows
        n = math.ceil(n / _FANIN)
        states = states.repartition(n).mapInPandas(tree_round, _PARTIAL)
    acc, n_ok, n_err = _fold_partials(states.collect(), ctx)
    return InferResult(acc, n_ok, n_err, violations)


def infer_json_column_by_key(df: DataFrame, column: str, key_col: str,
                             ctx: SchemaContext,
                             quantity_by_key: Optional[dict] = None
                             ) -> DataFrame:
    """Per-key (segmented) schema inference — G1/A8 of SURVEY.md §2.

    The data pass is MAP-SIDE (``_fold_task``): each scan task folds
    per-key accumulators for the rows it already holds and emits one
    tiny state row per key seen — the raw documents are NEVER shuffled.
    (The reference's RDD.groupBy ships whole groups to single tasks,
    JsonPathExtractorRDD.scala:74; an earlier salted groupBy here still
    shuffled every row once.) Error rows are dropped before the one
    shuffle, of the states only: groupBy(key) folds <= #tasks rows per
    key in pid order (``_fold_partials``), so a mega-key costs the same
    as any other — skew cannot concentrate data movement.

    Map-side state is O(distinct keys present in the task) — for
    segmentation-style keys (bounded cardinality) a few accumulators
    per task; the worst case (all-unique keys) degrades to exactly the
    old per-row state volume, never more.

    Returns DataFrame(key string, schema string, n_ok long, n_err long)
    where ``schema`` is the rendered JSON Schema (transforms applied).
    """
    _require_commutative(ctx)
    # per-segment quantity (reference segmented mode: produce() derives
    # each segment with its own doc count, SchemaCommand.scala:118-146):
    # a tiny driver-built {key: ctx} map, shipped in the task closure
    ctx_by_key = None
    if quantity_by_key:
        from dataclasses import replace
        ctx_by_key = {k: replace(ctx, quantity=q)
                      for k, q in quantity_by_key.items()}

    @worker_fn
    def fold_key(key, pdf):
        acc, n_ok, n_err = _fold_partials(pdf.itertuples(index=False), ctx)
        rendered = render(apply_transforms(acc, ctx), ctx)
        return pd.DataFrame({
            key_col: [key[0]],
            "schema": [json.dumps(rendered, sort_keys=True)],
            "n_ok": [n_ok], "n_err": [n_err],
        })

    src = df.select(key_col, column)
    if ctx.enum_disabled:
        # same rule as infer_json_column: enum-bearing contexts keep the
        # input layout so the per-key pid-ordered fold is a function of
        # the input alone
        src = _widen_small_scan(src, src.rdd.getNumPartitions())[0]
    partial = src.mapInPandas(_fold_task(ctx, column, key_col, ctx_by_key),
                              _PARTIAL)
    return partial.filter(F.col("error").isNull()).groupBy("key") \
        .applyInPandas(fold_key, f"{key_col} string, schema string, "
                                 "n_ok bigint, n_err bigint")
