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
  2. The per-partition states (one tiny JSON row per task) are combined:
     intermediate fan-in rounds while the row count is large, then a
     final driver-side fold. At 1000 executors / 100k partitions the
     state rows total a few MB — the combine is never the bottleneck;
     the single data pass is.

Segmented (per-key) inference folds per-key accumulators map-side in
each scan task, then shuffles only the tiny states (groupBy(key)) —
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
from schema_guru_spark.core.microschema import ZERO, dumps, loads, merge
from schema_guru_spark.core.transforms import apply_transforms, extract_keys
from schema_guru_spark.core.levenshtein import get_duplicates

_OUT_SCHEMA = ("kind string, payload string, n_ok bigint, n_err bigint, "
               "pid int")
_STATE_KIND, _VIOLATION_KIND = "s", "v"


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


def _derive_partial(ctx: SchemaContext, column: str):
    """Build the mapInPandas function: per-task derive+fold, single pass,
    violations streamed out as rows. Each Arrow batch goes through the
    shared keyed kernel (``core.accumulate_batch.fold_keyed``, one
    global key: parse once per distinct document, gate, collapse,
    fold); batch states merge into the task's state in batch order. For
    enum-bearing contexts a batch boundary thus acts like a partition
    boundary: row order within a batch, batch order within a task."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from schema_guru_spark.core.accumulate_batch import fold_keyed

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        acc = ZERO
        n_ok = 0
        n_err = 0
        for pdf in batches:
            states, counts, errors = fold_keyed(pdf[column], None, ctx)
            acc = merge(acc, states.get(None, ZERO), ctx)
            ok, err = counts.get(None, (0, 0))
            n_ok += ok
            n_err += err
            if errors:
                yield pd.DataFrame({
                    "kind": _VIOLATION_KIND,
                    "payload": [msg for _, msg in errors],
                    "n_ok": 0, "n_err": 1, "pid": pid,
                })
        yield pd.DataFrame({
            "kind": [_STATE_KIND], "payload": [dumps(acc)],
            "n_ok": [n_ok], "n_err": [n_err], "pid": [pid],
        })

    return fn


def _state_combiner(ctx: SchemaContext):
    # only reachable for commutative (enum-off) contexts — see
    # infer_json_column; pid carries the min so the column stays defined
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = ZERO
        n_ok = 0
        n_err = 0
        pid = None
        for pdf in batches:
            for payload, ok, err, p in zip(pdf["payload"], pdf["n_ok"],
                                           pdf["n_err"], pdf["pid"]):
                acc = merge(acc, loads(payload), ctx)
                n_ok += int(ok)
                n_err += int(err)
                p = int(p)
                if pid is None or p < pid:
                    pid = p
        yield pd.DataFrame({
            "kind": [_STATE_KIND], "payload": [dumps(acc)],
            "n_ok": [n_ok], "n_err": [n_err],
            "pid": [pid if pid is not None else -1],
        })

    return fn


@dataclass
class InferResult:
    """Merged schema state + counters + violations as a DataFrame sink."""

    state: dict
    n_ok: int
    n_err: int
    violations: DataFrame
    # the persisted mapInPandas output the violations DataFrame reads
    # from; callers that are done with violations release it via
    # unpersist() — a per-micro-batch caller (run_incremental_inference)
    # would otherwise leak one cached RDD per batch, forever
    _cached: Optional[DataFrame] = None

    def unpersist(self) -> None:
        """Release the cached scan output backing ``violations``.
        Reading ``violations`` afterwards still works (recomputes)."""
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    def schema(self, ctx: SchemaContext) -> dict:
        """Final JSON Schema (transform passes applied, SchemaGuru.scala:74-78)."""
        from schema_guru_spark.core.microschema import render
        return render(apply_transforms(self.state, ctx), ctx)

    def duplicated_keys(self) -> set:
        """Levenshtein near-duplicate warning over the merged tree
        (SchemaGuruRDD.scala:99)."""
        return get_duplicates(extract_keys(self.state))


def _widen_small_scan(src: DataFrame) -> DataFrame:
    """A small input can plan fewer scan tasks than the session has
    cores, serializing the Python derive pass. Widen it ONLY when a
    task would carry substantial bytes: for tiny inputs the extra
    exchange + per-task scheduling costs more than single-task derive
    (measured 0.4s single-task vs 1.0s repartitioned on a 2 MB file),
    while at production scale the scan already has >> cores splits and
    neither branch fires — no shuffle is ever added there."""
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
        return src
    # cheap size check FIRST: tiny inputs (the common small-SF case)
    # skip the .rdd partition-count probe entirely — converting the
    # plan to an RDD costs a plan compilation. Worst case a single
    # split carries all bytes, so anything <= the per-task threshold
    # can never need widening.
    if total_bytes <= 8 * 1024 * 1024:
        return src
    n_parts = src.rdd.getNumPartitions()
    if n_parts < par and total_bytes // max(n_parts, 1) > 8 * 1024 * 1024:
        return src.repartition(par)
    return src


def infer_json_column(df: DataFrame, column: str, ctx: SchemaContext,
                      fanin: int = 64) -> InferResult:
    """Infer one merged schema for a JSON-bearing string column.

    Single distributed pass + logarithmic state combine. ``fanin``
    controls intermediate combine rounds: with P partial states, rounds
    run while P > fanin, each shrinking P by ``fanin``×.
    """
    _require_commutative(ctx)
    spark = df.sparkSession
    # With the enum machinery live (not ctx.enum_disabled), the
    # reference's enum merge checks size on the CONCATENATION before
    # distinct (SchemaWithEnum.scala:57-70, pinned by
    # test_concat_size_check_precedes_distinct): neither commutative
    # nor associative, so merging partial states in task-completion
    # order would make inferred enums depend on the scheduler. Such
    # contexts fold their partial states in PARTITION ORDER on the
    # driver instead of through the combine tree: deterministic for a
    # fixed input partitioning (the reference's own Spark job folds the
    # same merge through RDD.aggregate with no ordering guarantee at
    # all, SchemaGuruRDD.scala:44-60).
    enum_on = not ctx.enum_disabled
    src = df.select(column)
    if not enum_on:
        # widening repartitions rows round-robin, which would make an
        # order-sensitive (enum-bearing) fold depend on the session's
        # parallelism instead of the input layout alone — skip it there
        src = _widen_small_scan(src)
    raw = src.mapInPandas(_derive_partial(ctx, column), _OUT_SCHEMA)
    raw = raw.persist()
    violations = raw.filter(F.col("kind") == _VIOLATION_KIND) \
                    .select(F.col("payload").alias("error"))

    states = raw.filter(F.col("kind") == _STATE_KIND)
    # intermediate tree-combine rounds executor-side; counting the (tiny,
    # persisted) state rows also materializes the single data pass
    n = states.count()
    if not enum_on:
        while n > fanin:
            n = max(1, math.ceil(n / fanin))
            states = states.repartition(n).mapInPandas(
                _state_combiner(ctx), _OUT_SCHEMA)

    rows = states.collect()
    if enum_on:
        # the enum merge is order-sensitive (see above): no combine
        # tree (a tree fold of a non-associative merge varies with its
        # shape), one driver-side fold in partition order —
        # P tiny state rows, so driver cost is O(partitions), same as
        # the final fold below
        rows = sorted(rows, key=lambda r: r["pid"])
    acc, n_ok, n_err = ZERO, 0, 0
    for row in rows:
        acc = merge(acc, loads(row["payload"]), ctx)
        n_ok += row["n_ok"]
        n_err += row["n_err"]
    return InferResult(acc, n_ok, n_err, violations, _cached=raw)


def infer_json_column_by_key(df: DataFrame, column: str, key_col: str,
                             ctx: SchemaContext,
                             quantity_by_key: Optional[dict] = None
                             ) -> DataFrame:
    """Per-key (segmented) schema inference — G1/A8 of SURVEY.md §2.

    Phase 1 is MAP-SIDE: each scan task folds per-key accumulators for
    the rows it already holds and emits one tiny (key, state) row per
    key seen — the raw documents are NEVER shuffled. (The reference's
    RDD.groupBy ships whole groups to single tasks,
    JsonPathExtractorRDD.scala:74; an earlier salted groupBy here still
    shuffled every row once.) Phase 2 shuffles only the states:
    groupBy(key) merges <= #tasks rows per key, so a mega-key costs the
    same as any other — skew cannot concentrate data movement.

    Map-side state is O(distinct keys present in the task) — for
    segmentation-style keys (bounded cardinality) a few accumulators
    per task; the worst case (all-unique keys) degrades to exactly the
    old per-row state volume, never more.

    Returns DataFrame(key string, schema string, n_ok long, n_err long)
    where ``schema`` is the rendered JSON Schema (transforms applied).
    """
    _require_commutative(ctx)
    part_schema = (f"{key_col} string, payload string, n_ok bigint, "
                   "n_err bigint, pid int")
    # per-segment quantity (reference segmented mode: produce() derives
    # each segment with its own doc count, SchemaCommand.scala:118-146):
    # a tiny driver-built {key: ctx} map, shipped in the task closure
    ctx_by_key = None
    if quantity_by_key:
        from dataclasses import replace
        ctx_by_key = {k: replace(ctx, quantity=q)
                      for k, q in quantity_by_key.items()}

    def phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from schema_guru_spark.core.accumulate_batch import fold_keyed

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        accs: dict = {}
        counts: dict = {}
        for pdf in batches:
            states, batch_counts, _ = fold_keyed(
                pdf[column], pdf[key_col], ctx, ctx_by_key)
            for k, st in states.items():
                accs[k] = merge(accs.get(k, ZERO), st, ctx)
            for k, (ok, err) in batch_counts.items():
                c = counts.setdefault(k, [0, 0])
                c[0] += ok
                c[1] += err
        if counts:
            yield pd.DataFrame(
                [(k, dumps(accs.get(k, ZERO)), ok, err, pid)
                 for k, (ok, err) in counts.items()],
                columns=[key_col, "payload", "n_ok", "n_err", "pid"])

    def phase2(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # partial states arrive in grouped-shuffle order; fold them in
        # scan-partition order so enum-bearing contexts (order-sensitive
        # merge, see infer_json_column) stay deterministic for a
        # fixed input partitioning — <= #tasks rows per key, so the sort
        # is O(tasks log tasks) on tiny rows
        pdf = pdf.sort_values("pid")
        acc, n_ok, n_err = ZERO, 0, 0
        for payload, ok, err in zip(pdf["payload"], pdf["n_ok"], pdf["n_err"]):
            acc = merge(acc, loads(payload), ctx)
            n_ok += int(ok)
            n_err += int(err)
        from schema_guru_spark.core.microschema import render
        rendered = render(apply_transforms(acc, ctx), ctx)
        return pd.DataFrame({
            key_col: [key[0]],
            "schema": [json.dumps(rendered, sort_keys=True)],
            "n_ok": [n_ok], "n_err": [n_err],
        })

    src = df.select(key_col, column)
    if ctx.enum_disabled:
        # same rule as infer_json_column: enum-bearing contexts keep the
        # input layout so the per-key pid-ordered fold in phase2 is a
        # function of the input alone
        src = _widen_small_scan(src)
    partial = src.mapInPandas(phase1, part_schema)
    return partial.groupBy(key_col).applyInPandas(
        phase2, f"{key_col} string, schema string, n_ok bigint, n_err bigint")
