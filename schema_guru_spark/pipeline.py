"""End-to-end validation job over the repo table (north_rule shape).

Over an Iceberg/parquet table (repo, path, commit, lang, content
[, content_sha]) the job produces, resumably:

  verdicts:   one row per bucket — counters, merged JSON schema of the
              bucket's JSON content, pass/fail (distribution drift is
              the constraint suite's job: ``constraint_report`` computes
              per-bucket PSI over the same bucket ids)
  violations: rows (bucket, repo, lang, detail) — parse errors,
              sha256 invariant mismatches, disallowed langs, all from
              the scan pass. Duplicate (repo,path,commit) keys and RI
              orphans are only counted, by ``constraint_report``: the
              job writes no row for them (``key_violation_rows`` builds
              such rows in this shape, but the job never calls it)

Scale design (the whole point):

  * The big-table scan NEVER shuffles content. Row-level checks
    (sha2(content,256) == content_sha, lang allow-list) are computed as
    native JVM columns; one ``mapInPandas`` pass then derives JSON
    micro-schemas per doc and folds them into ONE partial row per
    (scan task, bucket) — map-side combine. A partial row has the shape
    of a verdict row: the five ``_COUNTERS`` as bigints and the schema
    state as serialized text (NULL when the bucket saw no JSON doc).
    No shuffle follows the scan: the partial rows (at most scan tasks x
    buckets) are collected and folded per bucket on the driver
    (``_fold_buckets``; counters sum and states merge, both commutative
    monoids).
  * One fold serves every fan-in level. ``_fold_buckets`` folds a
    chunk's partial rows into its verdict rows, and the same function
    folds the committed deltas' verdict rows into the incremental
    cumulative view (plans/incremental.py). A new summable per-bucket
    column is one column in that shape, summed in that one fold.
  * Buckets are a salted hash of repo: pmod(xxhash64(repo) +
    pmod(xxhash64(path), n_salts), n_buckets) — a mega-repo (30% of the
    synthetic table) spreads over n_salts buckets instead of hot-spotting
    one task (BASELINE.json: "salted repartition by repo-hash").
  * Key-level checks (uniqueness, referential integrity) run in
    ``constraint_report``, a separate column-pruned query. It reads the
    key columns and content, whose length feeds the drift and null
    checks; only the length, never content, reaches a shuffle.
  * Resume: buckets are processed in chunks; each finished chunk writes
    its violations and verdicts sinks, then appends to a checkpoint
    manifest (plans/checkpoint.py), in a driver-local directory. A
    restart skips finished buckets entirely — the bucket filter is
    pushed into the scan.

Reference parity: per-doc derivation and merge are the schema-guru
semantics (core/microschema.py, cited there); violation routing replaces
the reference's errors.collect-to-driver (SchemaDerive.scala:98).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterator, Optional, Sequence

import pandas as pd
import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.microschema import ZERO, dumps, loads, merge, render
from schema_guru_spark.core.transforms import apply_transforms
from schema_guru_spark.operators import constraints as C
from schema_guru_spark.plans.checkpoint import (CheckpointManager,
                                                 arrow_schema,
                                                 is_missing_path, read_sink,
                                                 write_sink)

DEFAULT_LANGS = ("json", "py", "java", "go", "md")

# the uniqueness key of the repo table
_KEY = ("repo", "path", "commit")
# the per-bucket counters of a partial row and of a verdict row
_COUNTERS = ("n_rows", "n_json_ok", "n_json_err", "n_sha_bad", "n_lang_bad")
# the scan pass's three row shapes in one frame: a partial row fills
# bucket, counters and state; a violation row fills bucket, repo, lang
# and detail (never NULL for a violation, always NULL otherwise); a
# task's key sketch row fills only sketch
_SCAN_COLS = ("bucket", *_COUNTERS, "state", "repo", "lang", "detail",
              "sketch")
_SCAN_OUT = ("bucket int, " + ", ".join(f"{c} bigint" for c in _COUNTERS)
             + ", state string, repo string, lang string, detail string, "
               "sketch binary")


# bump when bucket_expr's formula changes: a layout written under a
# different formula has different row-to-bucket membership even with
# identical (n_buckets, n_salts)
_BUCKET_EXPR_VERSION = 1
_LAYOUT_SIDECAR = "_layout.json"


def materialize_bucketed(df: DataFrame, path: str, n_buckets: int = 64,
                         n_salts: int = 8) -> None:
    """WRITE-TIME salted-bucket layout for the repo table: compute the
    bucket once at ingest and store it as a partition directory
    (``bucket=N/``). ``validate_repo_table`` detects the pre-existing
    column and skips recomputing it, so its per-chunk / resume filter
    ``bucket IN (<chunk>)`` becomes Hive-style partition pruning — a
    resumed job physically scans only the unfinished buckets' files
    instead of re-reading the whole table to re-derive bucket ids
    (pinned by tests/test_pipeline.py::test_bucketed_layout_prunes).

    A ``_layout.json`` sidecar records (n_buckets, n_salts,
    bucket_expr_version) so a reader can verify it is computing over the
    SAME row-to-bucket mapping — a bare range check on the bucket column
    passes silently for a layout written with different n_salts (same
    bucket range, different membership), which would make checkpoint
    manifests describe the wrong row sets on resume. Checkpoint dirs are
    invalid across layout changes for the same reason.
    """
    (df.withColumn("bucket", bucket_expr(n_buckets, n_salts))
       .write.mode("overwrite").partitionBy("bucket").parquet(path))
    # write through the Hadoop FileSystem API so the sidecar lands next
    # to the data on ANY scheme the parquet write supports (s3a://,
    # hdfs://, file:) — a local open() would crash on object-store paths
    # right after the table was written
    spark = df.sparkSession
    payload = json.dumps({"n_buckets": n_buckets, "n_salts": n_salts,
                          "bucket_expr_version": _BUCKET_EXPR_VERSION})
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path, _LAYOUT_SIDECAR)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def _find_layout_sidecar(df: DataFrame) -> Optional[dict]:
    """Locate the ``_layout.json`` next to the DataFrame's input files
    (bucket=N partition dirs sit one level below the table root),
    through the Hadoop FileSystem API so any scheme the scan can read
    works. Returns None for non-file sources or layouts written without
    a sidecar. A sidecar that exists but cannot be read or parsed is a
    ``ValueError``: falling back to the bucket-range check would accept
    a layout written under a different ``n_salts``."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(files[0]).getParent()
    for _ in range(3):   # part file dir -> bucket=N -> table root
        if p is None:
            break
        cand = jvm.org.apache.hadoop.fs.Path(p, _LAYOUT_SIDECAR)
        fs = cand.getFileSystem(conf)
        if fs.exists(cand):
            # read through the FS stream: spark.read can't see it
            # (underscore prefix = hidden to Spark's FileIndex, by
            # design — the sidecar must NOT be picked up as table data)
            try:
                stream = fs.open(cand)
                try:
                    data = bytes(stream.readAllBytes())
                finally:
                    stream.close()
                return json.loads(data.decode("utf-8"))
            except (Py4JJavaError, ValueError) as e:
                raise ValueError(
                    f"unreadable bucketed-layout sidecar {cand.toString()}: "
                    f"{e}; re-materialize the layout") from e
        p = p.getParent()
    return None


def bucket_expr(n_buckets: int, n_salts: int):
    """Salted repo-hash bucketing."""
    return F.pmod(
        F.xxhash64("repo") + F.pmod(F.xxhash64("path"), F.lit(n_salts)),
        F.lit(n_buckets),
    ).cast("int")


def _scan_rows(**cols) -> pd.DataFrame:
    """A frame of ``_SCAN_OUT`` rows; the columns not given are NULL."""
    return pd.DataFrame({c: cols.get(c) for c in _SCAN_COLS})


def _scan_pass(ctx: SchemaContext, max_violation_examples: int,
               key_sketch: bool = False):
    """mapInPandas fn: per-batch vectorized flag counting + per-doc JSON
    derivation folded into per-(task, bucket) states. Violation rows are
    yielded as the batches find them; the task ends with one partial row
    per bucket it saw (counters, and the serialized state or NULL).
    With ``key_sketch`` the batches carry the key hash ``kh``, and a
    task that saw rows also ends with one row of its HyperLogLog
    registers over those hashes (``C.hll_registers``)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from schema_guru_spark.core.accumulate_batch import fold_keyed

        states: dict[int, dict] = {}
        counters: dict[int, dict] = {}
        regs = np.zeros(C.HLL_M, np.uint8) if key_sketch else None

        def bucket_counter(b):
            if b not in counters:
                counters[b] = dict.fromkeys(_COUNTERS, 0)
            return counters[b]

        for pdf in batches:
            # vectorized row checks (flags were computed JVM-side):
            # counters via one np.unique + bincounts — a pandas
            # groupby-loop here cost more than the derive kernel itself
            # on 64-bucket batches (measured: full scan pass 12.9s vs
            # 6.0s for Arrow transfer + kernel at 8 cores / 8M rows)
            bk = pdf["bucket"].to_numpy()
            if key_sketch:
                C.hll_registers(pdf["kh"].to_numpy(), regs)
            sha_ok = pdf["sha_ok"].to_numpy()
            lang_ok = pdf["lang_ok"].to_numpy()
            ubk, inv = np.unique(bk, return_inverse=True)
            n_rows_b = np.bincount(inv)
            n_sha_b = np.bincount(inv, weights=~sha_ok)
            n_lang_b = np.bincount(inv, weights=~lang_ok)
            for i, b in enumerate(ubk.tolist()):
                c = bucket_counter(int(b))
                c["n_rows"] += int(n_rows_b[i])
                c["n_sha_bad"] += int(n_sha_b[i])
                c["n_lang_bad"] += int(n_lang_b[i])

            viol_mask = ~(sha_ok & lang_ok)
            if viol_mask.any():
                bad = pdf[viol_mask].head(max_violation_examples)
                yield _scan_rows(
                    bucket=bad["bucket"].astype("int32"),
                    repo=bad["repo"], lang=bad["lang"],
                    detail=["sha256 mismatch" if not s else "lang not allowed"
                            for s in bad["sha_ok"]])

            jidx = np.flatnonzero(pdf["lang"].to_numpy() == "json")
            if len(jidx):
                # the shared keyed kernel, keyed by bucket: one parse
                # per distinct doc per batch, fused (bucket, doc)
                # collapse, one columnar fold per (bucket, batch)
                jbk = bk[jidx]
                bstates, bcounts, errors = fold_keyed(
                    pdf["content"].take(jidx), jbk, ctx)
                for b, (ok, err) in bcounts.items():
                    c = bucket_counter(b)
                    c["n_json_ok"] += ok
                    c["n_json_err"] += err
                for b, st in bstates.items():
                    states[b] = merge(states.get(b, ZERO), st, ctx)
                if errors:
                    # one row PER OCCURRENCE, each under its own row's
                    # repo — copies of the same bad text can live in
                    # other repos of the same bucket
                    jrepo = pdf["repo"].to_numpy()[jidx]
                    pos = [i for i, _ in errors]
                    yield _scan_rows(bucket=jbk[pos].astype("int32"),
                                     repo=jrepo[pos], lang="json",
                                     detail=[msg for _, msg in errors])

        if counters:
            buckets = list(counters)
            yield _scan_rows(
                bucket=buckets,
                **{k: [counters[b][k] for b in buckets] for k in _COUNTERS},
                state=[dumps(states[b]) if b in states else None
                       for b in buckets])
            if key_sketch:
                yield _scan_rows(sketch=[regs.tobytes()])

    return fn


def bucket_passes(c: dict, max_err_rate: float) -> bool:
    """The per-bucket verdict over its counters (``n_json_ok``,
    ``n_json_err``, ``n_sha_bad``, ``n_lang_bad``).

    A bucket passes when its JSON parse-error rate (errors / attempted
    JSON docs; 0 with no JSON docs) is within ``max_err_rate`` and it
    has zero sha / lang violations. Default 0.0 = strict (any parse
    error fails the bucket, the reference's implicit semantics — parse
    failures are errors, SchemaDerive.scala:159-169); production corpora
    with expected dirt set a tolerance so verdicts discriminate instead
    of failing every bucket. Either way every error row still lands in
    the violations sink."""
    n_json = c["n_json_ok"] + c["n_json_err"]
    return (c["n_json_err"] / max(n_json, 1) <= max_err_rate
            and c["n_sha_bad"] == 0 and c["n_lang_bad"] == 0)


def verdict_summary(rows) -> dict:
    """Totals over verdict rows (Spark ``Row``s or dict records with the
    ``_COUNTERS`` and ``passed``): summed counters, bucket and passing
    bucket counts, and the pass rate — vacuously 1.0 over zero buckets
    (an empty or fully filtered table has no failing partition). Every
    report of the validation job and of the incremental job totals its
    verdict rows here."""
    rows = list(rows)
    tot = {k: int(sum(r[k] for r in rows)) for k in _COUNTERS}
    passed = sum(1 for r in rows if r["passed"])
    return {"rows": tot["n_rows"], "json_ok": tot["n_json_ok"],
            "json_err": tot["n_json_err"], "sha_bad": tot["n_sha_bad"],
            "lang_bad": tot["n_lang_bad"],
            "buckets": len(rows), "buckets_passed": passed,
            "pass_rate": round(passed / len(rows), 4) if rows else 1.0}


def _fold_buckets(parts: pd.DataFrame, ctx: SchemaContext,
                  max_err_rate: float = 0.0,
                  keep_state: bool = False) -> pd.DataFrame:
    """Fold ``(bucket, *_COUNTERS, state)`` rows into one verdict row per
    bucket, on the driver: counters summed, states merged (a NULL state
    is the empty schema), the ``bucket_passes`` verdict and the rendered
    schema, sorted by bucket, with the columns and dtypes of
    ``_VERDICT_SCHEMA[_STATE]``.

    The input shape is the scan's partial row AND the verdict row kept
    with ``keep_state``, so one fold serves both fan-in levels: a
    chunk's scan-task partials into its verdicts (``validate_repo_table``)
    and the committed deltas' verdicts into the cumulative view
    (``plans.incremental.cumulative_report``). Folding folds equals one
    fold, because counters and states are commutative monoids.

    There are at most (scan tasks x buckets) partial rows — a few
    hundred at test scale, ~7.8k for 16M files over 128 splits — so a
    Spark combine stage would pay a shuffle and a Python task's fixed
    cost for the same work."""
    counters = (parts.astype(dict.fromkeys(_COUNTERS, "int64"))
                .groupby("bucket")[list(_COUNTERS)].sum())
    states: dict[int, dict] = {}
    for b, st in zip(parts["bucket"], parts["state"]):
        if isinstance(st, str):
            b = int(b)
            states[b] = merge(states.get(b, ZERO), loads(st), ctx)
    out = counters.reset_index()
    accs = [states.get(int(b), ZERO) for b in out["bucket"]]
    out["schema"] = pd.Series(
        [json.dumps(render(apply_transforms(acc, ctx), ctx), sort_keys=True)
         for acc in accs], dtype=object)
    out["passed"] = pd.Series(
        [bucket_passes(c, max_err_rate)
         for c in out[list(_COUNTERS)].to_dict("records")], dtype=bool)
    if keep_state:
        # the raw monoid state alongside the rendered schema:
        # serialized states from different runs re-merge exactly
        # (incremental validation's cross-delta schema), which the
        # rendered form cannot do (enum cutoffs and range encasing are
        # lossy)
        out["state"] = pd.Series([dumps(acc) for acc in accs], dtype=object)
    return out.astype({"bucket": "int32"})


_VERDICT_SCHEMA = ("bucket int, n_rows bigint, n_json_ok bigint, "
                   "n_json_err bigint, n_sha_bad bigint, n_lang_bad bigint, "
                   "schema string, passed boolean")
_VERDICT_SCHEMA_STATE = _VERDICT_SCHEMA + ", state string"
_VIOLATION_SCHEMA = "bucket int, repo string, lang string, detail string"
# a chunk's key sketch: its row count and the merged registers of its
# scan tasks (C.hll_registers over _KEY_HASH)
_KEY_SKETCH_SCHEMA = "n_rows bigint, sketch binary"
# the 64-bit key hash the sketch counts. Collisions only DEFLATE the
# distinct estimate, by ~n^2/2^65 keys (~27 at 10^12 rows, 1e-11
# relative), far below the sketch's own ~0.8% error
_KEY_HASH = (0x1CEB, _KEY)


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    # the rows ``verdicts`` was built from, already on the driver
    verdict_rows: pd.DataFrame
    processed_buckets: list = field(default_factory=list)
    resumed_buckets: list = field(default_factory=list)


def validate_repo_table(
    spark: SparkSession,
    df: DataFrame,
    checkpoint_dir: Optional[str] = None,
    ctx: Optional[SchemaContext] = None,
    n_buckets: int = 64,
    n_salts: int = 8,
    chunk_size: Optional[int] = None,
    allowed_langs: Sequence[str] = DEFAULT_LANGS,
    max_violation_examples: int = 1000,
    max_err_rate: float = 0.0,
    keep_state: bool = False,
) -> ValidationResult:
    """Run the full validation; resumable when checkpoint_dir is set.

    Per chunk of buckets, the scan's per-(task, bucket) partial rows are
    collected once through Arrow (which also materializes the persisted
    scan for the violations) and folded on the driver into the
    <= ``chunk_size`` verdict rows (``_fold_buckets``): no shuffle and
    no grouped Python stage. A chunk of every bucket over a bucket
    column computed here scans without a bucket filter; partial or
    resumed chunks, and a materialized layout, filter.

    Without a checkpoint, the result is the verdict rows as a local
    relation (collecting it launches no Spark job) and the cached
    violations. ``checkpoint_dir`` is a driver-local directory
    (``plans.checkpoint.local_dir`` refuses other URI schemes before
    any scan). Each chunk writes, in this order: its violations sink
    (a Spark write from the persisted scan, since parse-error rows are
    unbounded); its verdicts sink and, with ``keep_state``, its key
    sketch, both written from the driver's rows with pyarrow; and last
    the manifest append, the chunk's commit point, whose per-bucket
    metrics come from the same rows. The result's verdicts are then
    the verdicts sink's rows, resumed chunks' included, read back with
    pyarrow into a local relation, and its violations the violations
    sink read under its known schema.

    ``keep_state`` keeps what the incremental view re-merges (see
    plans/incremental.py): each verdict row's raw schema state and,
    with a checkpoint, one key sketch per chunk. The sketch rides the
    scan: the projection gains the 64-bit key hash, each scan task
    folds it into HyperLogLog registers (``C.hll_registers``), and the
    chunk's sketch is the element-wise max of its tasks' registers.
    """
    ctx = ctx or SchemaContext.make(0)
    from schema_guru_spark.operators.infer import _require_commutative
    _require_commutative(ctx)  # strict parity mode is order-dependent
    if not ctx.enum_disabled:
        # the enum merge is order-sensitive, and the partial states are
        # cut at scan-task and Arrow-batch boundaries, which move with
        # the input's file splits and the core count — verdict schemas
        # would depend on the layout, not only on the data. Same guard
        # as the keyed schema stream; enum-capable inference belongs to
        # operators.infer (partition-order fold).
        raise ValueError(
            "validate_repo_table requires an enum-free context "
            "(enum_cardinality=0, no enum_sets): the reference's enum "
            "merge is non-commutative and the scan's partial states "
            "depend on the input's split layout. Use infer_json_column / "
            "infer_json_column_by_key for enum-capable inference.")
    has_sha = "content_sha" in df.columns

    ckpt = CheckpointManager(spark, checkpoint_dir) if checkpoint_dir else None
    done = ckpt.finished_buckets() if ckpt else set()
    remaining = [b for b in range(n_buckets) if b not in done]
    chunk_size = chunk_size or n_buckets
    key_sketch = keep_state and ckpt is not None

    # a table written by materialize_bucketed already carries bucket as
    # a partition column — reuse it so chunk/resume filters prune at the
    # directory level instead of re-deriving the hash over a full scan.
    # Layout identity is verified via the _layout.json sidecar: the
    # bucket RANGE alone cannot distinguish a layout written under
    # different n_salts (same [0, n_buckets) range, different
    # row-to-bucket membership), and a membership mismatch corrupts
    # resume — the manifest's per-bucket 'done' set would describe
    # different row sets than this run computes. The range check remains
    # as the fallback guard for sidecar-less external layouts.
    if "bucket" in df.columns:
        layout = _find_layout_sidecar(df)
        if layout is not None:
            expected = {"n_buckets": n_buckets, "n_salts": n_salts,
                        "bucket_expr_version": _BUCKET_EXPR_VERSION}
            if layout != expected:
                raise ValueError(
                    f"bucketed layout was materialized with {layout} but "
                    f"this run expects {expected}; re-materialize with "
                    f"matching parameters (checkpoint dirs are invalid "
                    f"across layout changes)")
        else:
            lo, hi = df.agg(F.min("bucket"), F.max("bucket")).collect()[0]
            if lo is None or lo < 0 or hi >= n_buckets:
                raise ValueError(
                    f"existing bucket column spans [{lo}, {hi}] which does "
                    f"not fit n_buckets={n_buckets}; re-materialize the "
                    f"layout with matching parameters or drop the column")
        bucketed = df
    else:
        bucketed = df.withColumn("bucket", bucket_expr(n_buckets, n_salts))
    prepared = (
        bucketed
        # both flags are COALESCED to false: sha2(NULL)==x and
        # NULL.isin(...) are three-valued NULL, which would cross Arrow
        # as a pandas object column and crash the scan pass's bitwise
        # ops — and semantically an unverifiable invariant IS a
        # violation (null content/sha/lang on a real corpus)
        .withColumn(
            "sha_ok",
            F.coalesce(F.sha2("content", 256) == F.col("content_sha"),
                       F.lit(False))
            if has_sha else F.lit(True))
        .withColumn("lang_ok",
                    F.coalesce(F.col("lang").isin(list(allowed_langs)),
                               F.lit(False)))
        # only JSON-bearing rows' content crosses the Arrow boundary —
        # sha/lang checks already happened JVM-side, so non-JSON content
        # (here ~60% of bytes) is nulled before serialization to Python
        .select(
            "bucket", "repo", "lang",
            F.when(F.col("lang") == "json", F.col("content"))
             .otherwise(F.lit(None)).alias("content"),
            "sha_ok", "lang_ok",
            *([C.key_hash(*_KEY_HASH).alias("kh")] if key_sketch else []))
    )

    verdict_schema = (_VERDICT_SCHEMA_STATE if keep_state
                      else _VERDICT_SCHEMA)
    # a bucket column computed here lies in [0, n_buckets) and is never
    # NULL, so a chunk of every bucket needs no filter: it could not
    # remove a row, and building its n_buckets literals costs py4j time
    # on every call. A materialized layout's column and partial or
    # resumed chunks keep it (there it prunes files, or the chunk
    # excludes buckets)
    computed_bucket = "bucket" not in df.columns
    chunk_verdicts = []
    all_violations = []
    for i in range(0, len(remaining), chunk_size):
        chunk = remaining[i:i + chunk_size]
        sub = (prepared.where(F.col("bucket").isin(chunk))
               if len(chunk) < n_buckets or not computed_bucket
               else prepared)
        raw = sub.mapInPandas(
            _scan_pass(ctx, max_violation_examples, key_sketch),
            _SCAN_OUT).persist()

        is_violation = F.col("detail").isNotNull()
        violations = raw.where(is_violation).select(
            "bucket", "repo", "lang", "detail")
        # collecting the partial and sketch rows materializes the
        # persisted scan, so later actions on the violations never
        # re-run it; the verdict rows are folded on the driver
        parts = raw.where(~is_violation).select(
            "bucket", *_COUNTERS, "state", "sketch").toPandas()
        is_sketch = parts["sketch"].notna()
        verdict_rows = _fold_buckets(parts[~is_sketch], ctx, max_err_rate,
                                     keep_state=keep_state)

        if ckpt:
            # idempotent per-chunk sinks: each REPLACES this chunk's
            # directory rather than appending to the parent. A job
            # killed after the data sinks but before the manifest
            # append re-runs the chunk on restart — an append would
            # then duplicate every row of the chunk; a replace
            # converges to the same bytes.
            violations.write.mode("overwrite") \
                .parquet(f"{ckpt.dir}/violations/chunk={chunk[0]}")
            write_sink(f"{ckpt.dir}/verdicts/chunk={chunk[0]}",
                       pa.Table.from_pandas(
                           verdict_rows, arrow_schema(verdict_schema),
                           preserve_index=False))
            if key_sketch:
                write_sink(f"{ckpt.dir}/key_sketch/chunk={chunk[0]}",
                           pa.table({
                               "n_rows": [int(verdict_rows["n_rows"].sum())],
                               "sketch": [C.hll_merge(
                                   parts["sketch"][is_sketch]).tobytes()],
                           }, arrow_schema(_KEY_SKETCH_SCHEMA)))
            # every bucket of the chunk is done, with or without rows;
            # to_dict("records") hands back Python scalars, so the
            # manifest's JSON metrics hold true/false, not "True"
            metrics = {b: {"bucket": b, "n_rows": 0, "n_ok": 0, "n_err": 0,
                           "passed": True} for b in chunk}
            for m in (verdict_rows[["bucket", "n_rows", "n_json_ok",
                                    "n_json_err", "passed"]]
                      .rename(columns={"n_json_ok": "n_ok",
                                       "n_json_err": "n_err"})
                      .to_dict("records")):
                metrics[m["bucket"]] = m
            ckpt.record_done(metrics.values())
        else:
            violations = violations.persist()
            violations.count()
            chunk_verdicts.append(verdict_rows)
            all_violations.append(violations)
        raw.unpersist()

    if ckpt:
        verdict_rows = read_sink(f"{ckpt.dir}/verdicts",
                                 arrow_schema(verdict_schema)).to_pandas()
        try:
            # chunk=N partition dirs: drop the discovered partition column
            violations_df = spark.read.schema(_VIOLATION_SCHEMA) \
                .parquet(f"{ckpt.dir}/violations").drop("chunk")
        except AnalysisException as exc:
            if not is_missing_path(exc):
                raise
            violations_df = spark.createDataFrame([], _VIOLATION_SCHEMA)
    else:
        from functools import reduce
        verdict_rows = pd.concat(chunk_verdicts, ignore_index=True)
        violations_df = reduce(DataFrame.unionByName, all_violations)
    verdict_rows = verdict_rows.sort_values("bucket", ignore_index=True)

    return ValidationResult(
        verdicts=spark.createDataFrame(verdict_rows, verdict_schema),
        violations=violations_df,
        verdict_rows=verdict_rows,
        processed_buckets=remaining,
        resumed_buckets=sorted(done),
    )


def constraint_report(spark: SparkSession, df: DataFrame,
                      n_buckets: int = 64, n_salts: int = 8,
                      repo_dims: Optional[DataFrame] = None) -> dict:
    """Key-level constraint suite over the repo table — column-pruned
    scans only (content read once, for its length):

      uniqueness of (repo,path,commit): HLL++ screen + exact count over
        the 128-bit key pre-hash (``C.uniqueness_hashed`` with
        ``prehashed=True`` computes the same fields). NULL key parts
        compare equal at the same position (``C.key_hash``), as in
        ``C.uniqueness_exact`` and ``key_violation_rows``;
      referential integrity: every fact repo must resolve against the
        repo dimension via broadcast LEFT ANTI join. ``repo_dims`` is a
        one-column (repo) DataFrame — the lakehouse catalog dim in
        production. Without it the dimension is the table's own
        distinct repos: every non-null repo matches itself and a NULL
        repo never matches (NULL = NULL is not true), so the orphan
        count IS the repo null count and no join runs;
      drift: per-bucket PSI of content length vs global
        (``C.drift_psi_report`` semantics);
      completeness: per-key-column non-null fractions.

    Job shape: the projection is cached, and ONE aggregate over it
    (which also materializes the cache) computes the row count, the
    HLL++ estimate, every null count and the content-length bounds.
    Only the checks that need a shuffle of their own fan out from
    there, concurrently: the exact distinct count of the key hash (its
    own aggregate — see the Expand-plan trap in ``C.uniqueness_hll``),
    the PSI histogram binned with the bounds already in hand, and the
    RI anti-join when ``repo_dims`` is given.
    """
    # ONE pass over the table projects everything the checks need
    # (~30 bytes/row), cached; content is read exactly once here
    key_cols = (*_KEY, "lang")
    # 128-bit key pre-hash: two independently-seeded xxhash64 columns.
    # One 64-bit hash expects ~27 phantom key collisions at the
    # north-rule's 10^12 rows (birthday n²/2⁶⁵) — wide enough that the
    # screen stays silent (~1.5e-15 expected) while still shuffling 16
    # bytes/row instead of the raw (repo, path, commit) strings.
    slim = (df.withColumn("bucket", bucket_expr(n_buckets, n_salts))
              .select("bucket", "repo",
                      F.length("content").alias("clen"),
                      C.key_hash(0x5EED0, _KEY).alias("kh1"),
                      C.key_hash(0x5EED1, _KEY).alias("kh2"),
                      *[F.col(c).isNull().cast("int").alias(f"_n_{c}")
                        for c in key_cols])
              .persist())
    # the hash pair as uniqueness_hashed(prehashed=True) structs it, with
    # that function's default rsd and tolerance
    key_hash = F.struct(F.col("kh1").alias("h1"), F.col("kh2").alias("h2"))
    rsd, tolerance = 0.02, 0.05
    try:
        head = slim.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(key_hash, rsd).alias("n_approx"),
            *[F.sum(f"_n_{c}").alias(c) for c in key_cols],
            F.sum(F.col("clen").isNull().cast("int")).alias("content"),
            F.min("clen").alias("lo"),
            F.max("clen").alias("hi"),
        ).collect()[0]
        # sums over zero rows are NULL -> coalesce; keep the RAW null
        # counts for the verdict (a rounded fraction of 1.0 would hide
        # one null key in 10M rows — exactly what the check must catch)
        null_counts = {c: int(head[c] or 0)
                       for c in (*key_cols, "content")}
        # the remaining checks are independent jobs over the cached
        # projection — submit them concurrently so their fixed stage
        # latencies overlap instead of adding up. The worker threads
        # inherit the caller's job group, local properties and tags
        # (pinned-thread mode keeps those per Python thread).
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=3) as ex:
            def submit(fn):
                return ex.submit(inherit(fn))

            f_exact = submit(
                lambda: slim.agg(F.count_distinct(key_hash)).collect()[0][0])
            # per-bucket PSI vs global: histogram shuffled (bounded
            # rows), PSI math on the driver
            f_psi = submit(
                lambda: C._psi_in_bounds(slim, "clen", "bucket",
                                         head["lo"], head["hi"]))
            # referential integrity: broadcast LEFT ANTI, facts never
            # shuffled
            f_ri = (submit(
                lambda: C.referential_violations(
                    slim.select("repo"), repo_dims, "repo", "repo").count())
                if repo_dims is not None else None)
            n_exact = f_exact.result()
            psi_by_bucket = f_psi.result()
            n_orphans = (f_ri.result() if f_ri is not None
                         else null_counts["repo"])
    finally:
        slim.unpersist()

    n_rows, n_approx = head["n"], head["n_approx"]
    rel_err = abs(n_approx - n_exact) / max(n_exact, 1)
    n_total = max(n_rows, 1)
    return {
        "n_rows": n_rows,
        "n_exact_distinct": n_exact,
        "n_approx_distinct": n_approx,
        "hll_rel_err": float(rel_err),
        "hll_ok": rel_err <= tolerance,
        "keys_unique": n_rows == n_exact,
        "n_ri_orphans": n_orphans,
        "worst_bucket_psi": float(max(psi_by_bucket.values(), default=0.0)),
        "completeness": {
            c: round(1.0 - null_counts[c] / n_total, 6)
            for c in (*key_cols, "content")
        },
        "key_null_counts": {c: null_counts[c] for c in _KEY},
        "keys_complete": all(null_counts[c] == 0 for c in _KEY),
    }


def key_violation_rows(df: DataFrame, repo_dims: Optional[DataFrame] = None,
                       n_buckets: int = 64, n_salts: int = 8,
                       max_examples: int = 1000) -> DataFrame:
    """Key-level violation ROWS, same shape as the scan-pass violations
    sink (bucket, repo, lang, detail):

      duplicate (repo, path, commit) tuples  -> detail 'duplicate key: ...'
      RI orphans vs the repo dimension       -> detail 'ri orphan repo'

    Both are column-pruned scans (never read content). Output is capped
    at ``max_examples`` per kind — violation EXAMPLES for humans; the
    full counts live in constraint_report. The GROUP BY treats NULL key
    parts as equal at the same position — the rule ``constraint_report``
    applies through ``C.key_hash`` — so the sink and the verdict agree.
    """
    # group by EXACTLY the uniqueness key (repo, path, commit) — the
    # same tuple constraint_report's screen hashes. lang is reported as
    # an example attribute (min = deterministic pick), NOT part of the
    # key: two rows sharing the key but differing in lang ARE a
    # duplicate and must surface here, or the sink would contradict a
    # keys_unique=False verdict. bucket = f(repo, path) is constant
    # within a key group, so grouping by it adds no key semantics.
    dup = (df.withColumn("bucket", bucket_expr(n_buckets, n_salts))
             .groupBy("repo", "path", "commit", "bucket")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("lang").alias("lang"))
             .where(F.col("n") > 1)
             .limit(max_examples)
             .select("bucket", "repo", "lang",
                     F.format_string("duplicate key: %s@%s x%d",
                                     F.col("path"), F.col("commit"),
                                     F.col("n")).alias("detail")))
    if repo_dims is not None:
        orphans = (C.referential_violations(
                       df.select("repo", "path", "lang"), repo_dims,
                       "repo", "repo")
                   .limit(max_examples)
                   .withColumn("bucket", F.lit(None).cast("int"))
                   .select("bucket", "repo", "lang",
                           F.format_string("ri orphan repo: %s",
                                           F.col("path")).alias("detail")))
        return dup.unionByName(orphans)
    return dup
