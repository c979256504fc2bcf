"""End-to-end validation job over the repo table (north_rule shape).

Over an Iceberg/parquet table (repo, path, commit, lang, content
[, content_sha]) the job produces, resumably:

  verdicts:   one row per bucket — counters, the content-length
              histogram, merged JSON schema of the bucket's JSON
              content, pass/fail. Distribution drift (per-bucket PSI of
              content length against the whole table) and content
              completeness are computed on the driver from the verdict
              rows' histograms (``constraint_summary``)
  violations: rows (bucket, repo, lang, detail) — parse errors,
              sha256 invariant mismatches, disallowed langs, all from
              the scan pass, and their count (``n_violation_rows``),
              which the scan counts as it yields them. Duplicate
              (repo,path,commit) keys and RI orphans are only counted,
              by the constraint suite: the job writes no row for them
              (``key_violation_rows`` builds such rows in this shape,
              but the job never calls it)

Scale design (the whole point):

  * The big-table scan NEVER shuffles content. Row-level checks
    (sha2(content,256) == content_sha, lang allow-list) and the
    content-length bin (``length_bin_sql``) are computed as native JVM
    columns; one ``mapInPandas`` pass then derives JSON micro-schemas
    per doc and folds them into ONE partial row per (scan task, bucket)
    — map-side combine. A partial row has the shape of a verdict row:
    the five ``_COUNTERS`` as bigints, the length histogram as one
    ``hist`` array of ``HIST_SLOTS`` bigints, and the schema state as
    serialized text (NULL when the bucket saw no JSON doc) — plus
    ``n_viol``, the violation rows the task yielded for the bucket. No
    shuffle follows the scan: the partial rows (at most scan tasks x
    buckets) reach the driver and are folded per bucket there
    (``_fold_buckets``; counters and histograms sum and states merge,
    all commutative monoids). Either way a chunk is one Spark job and
    nothing is cached: without a checkpoint the job collects the
    partial rows, the violation count is their ``n_viol`` sum, and the
    violations stay a lazy view of the scan; with one (Resume, below)
    the job writes the scan's rows and the driver reads them back.
  * The uniqueness screen's key sketch rides the same scan: the
    projection carries the 64-bit key hash (``C.key_hash_sql``), each
    scan task folds it into HyperLogLog registers (``C.hll_registers``)
    and ends with one sketch row, and the driver merges the tasks'
    registers (element-wise max, so any split of the rows gives the
    same registers).
  * The job is bound by fixed per-job and per-task cost. The py4j
    round trips that build a plan from Column calls are part of it: the
    scan's projection, the bucket, the key hashes and the length bin
    are parsed from SQL text (``bucket_sql``, ``C.key_hash_sql``,
    ``length_bin_sql``), one call each. So is the set-up of each
    Python worker task: before Python 3.12 a reused worker re-read the
    central directory of every zip on its import path (~26k entries,
    0.1-0.45 s) before each scan task started, more than the task's own
    kernel work; every worker function runs through ``worker_fn``
    (worker.py), which drops those importers so the next task has
    nothing to re-read.
  * One fold serves every fan-in level. ``_fold_buckets`` folds a
    chunk's partial rows into its verdict rows, and the same function
    folds the committed deltas' verdict rows into the incremental
    cumulative view (plans/incremental.py). A new summable per-bucket
    column is one column in that shape, summed in that one fold — the
    length histogram is one: its bins are fixed in advance
    (``HIST_EDGES``), so counts from any split of the rows add up to
    the histogram of the whole.
  * Buckets are a salted hash of repo: pmod(xxhash64(repo) +
    pmod(xxhash64(path), n_salts), n_buckets) — a mega-repo (30% of the
    synthetic table) spreads over n_salts buckets instead of hot-spotting
    one task (BASELINE.json: "salted repartition by repo-hash").
  * Key-level checks (uniqueness, referential integrity) run in one
    key aggregate (``key_counts``) that reads only repo, path, commit
    and lang: a groupBy of the 128-bit key hash and one global
    sum/count aggregate over its groups, all declarative. The distinct
    estimate is the scan's key sketch, so no HLL++ aggregate runs.
    ``run_validation`` overlaps the key aggregate with the scan and
    takes drift and the sketch from the scan, so no constraint job
    reads content; a standalone ``constraint_report`` builds the same
    histogram with one ``groupBy(bucket, bin)`` aggregate and the same
    registers with one map over the key hash (``key_sketch``).
  * Resume: buckets are processed in chunks, in a driver-local
    checkpoint directory. A chunk's one Spark job writes every row the
    scan yields (violation, partial and sketch rows) to its scan sink;
    the driver reads the partial and sketch rows back
    (``read_scan_parts``), folds them as above, writes the verdicts sink
    and appends to a checkpoint manifest (plans/checkpoint.py). A
    restart skips finished buckets entirely — the bucket filter is
    pushed into the scan. The violation count and the registers then
    come from the scan sinks of every chunk, so resumed chunks count
    too.

Reference parity: per-doc derivation and merge are the schema-guru
semantics (core/microschema.py, cited there); violation routing replaces
the reference's errors.collect-to-driver (SchemaDerive.scala:98).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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
from schema_guru_spark.worker import worker_fn

DEFAULT_LANGS = ("json", "py", "java", "go", "md")

# the uniqueness key of the repo table
_KEY = ("repo", "path", "commit")
# the per-bucket counters of a partial row and of a verdict row
_COUNTERS = ("n_rows", "n_json_ok", "n_json_err", "n_sha_bad", "n_lang_bad")

# The content-length histogram of a partial row and of a verdict row,
# over the content's length in UTF-8 bytes (octet_length: a field read;
# the character count walks every byte, which measurably slowed the
# append path). The edges are the distinct integer roundings of
# 2^(k/2), k < 62: bin i counts the lengths with exactly i edges <=
# length (bin 0 the empty string, the last value bin everything from
# 2^30.5 bytes up), and slot HIST_NULL counts NULL content. Fixed edges make the histogram a
# mergeable summary: the histograms of any split of the rows sum to the
# histogram of the whole, at every fan-in level. Two bins per octave
# keep each bin's relative width under 1.5x.
HIST_EDGES = tuple(sorted({round(2 ** (k / 2)) for k in range(62)}))
HIST_NULL = len(HIST_EDGES) + 1
HIST_SLOTS = HIST_NULL + 1
# pinned in an incremental checkpoint's parameters: histograms of
# different edges do not add up
HIST_FORMAT = f"content-bytes-sqrt2-{len(HIST_EDGES)}-edges+null"

# the scan pass's three row shapes in one frame: a partial row fills
# bucket, counters, hist and state; a violation row fills bucket, repo,
# lang and detail (never NULL for a violation, always NULL otherwise);
# a task's key sketch row fills only sketch. A partial row's counters
# are the verdict row's plus n_viol, the violation rows the task
# yielded for the bucket: summed over a run, the run's violation count,
# with no job over the violation rows
_SCAN_COUNTERS = (*_COUNTERS, "n_viol")
_SCAN_COLS = ("bucket", *_SCAN_COUNTERS, "hist", "state", "repo", "lang",
              "detail", "sketch")
_SCAN_OUT = ("bucket int, "
             + ", ".join(f"{c} bigint" for c in _SCAN_COUNTERS)
             + ", hist array<bigint>, state string, repo string, "
               "lang string, detail string, sketch binary")
# the columns of the partial and sketch rows the driver folds
_PART_COLS = ("bucket", *_SCAN_COUNTERS, "hist", "state", "sketch")
# pinned in an incremental checkpoint's parameters: each chunk keeps the
# scan's rows in one scan sink (scan/chunk=N); a chain whose deltas kept
# separate violations and key sketch sinks has none to read
SCAN_SINK_FORMAT = "scan-rows-per-chunk"


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


def bucket_sql(n_buckets: int, n_salts: int) -> str:
    """Salted repo-hash bucketing as SQL text, an int in [0, n_buckets).
    The formula is pinned by ``_BUCKET_EXPR_VERSION``: materialized
    layouts and checkpoints hold its row-to-bucket membership."""
    return (f"CAST(pmod(xxhash64(repo) + pmod(xxhash64(path), {n_salts}), "
            f"{n_buckets}) AS INT)")


def bucket_expr(n_buckets: int, n_salts: int):
    """``bucket_sql`` as a Column (one parsed expression, not a tree of
    py4j calls)."""
    return F.expr(bucket_sql(n_buckets, n_salts))


def length_bin_sql(clen: str) -> str:
    """The histogram slot of the int column named ``clen`` (a content
    length in bytes) as SQL text: the number of ``HIST_EDGES`` <= the
    length, or ``HIST_NULL`` for NULL. One flat CASE — the same CASE
    built from Column calls costs ~400 py4j round trips (~0.2 s a call).
    Give it a column computed once: each branch reads it."""
    return (f"CASE WHEN {clen} IS NULL THEN {HIST_NULL} "
            + " ".join(f"WHEN {clen} < {e} THEN {i}"
                       for i, e in enumerate(HIST_EDGES))
            + f" ELSE {len(HIST_EDGES)} END")


def _sql_str(v: str) -> str:
    """``v`` as a SQL string literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _scan_rows(**cols) -> pd.DataFrame:
    """A frame of ``_SCAN_OUT`` rows; the columns not given are NULL."""
    return pd.DataFrame({c: cols.get(c) for c in _SCAN_COLS})


def _scan_pass(ctx: SchemaContext, max_violation_examples: int):
    """mapInPandas fn: per-batch vectorized flag and length-bin counting
    + per-doc JSON derivation folded into per-(task, bucket) states.
    Violation rows are yielded as the batches find them: sha/lang rows
    capped at ``max_violation_examples`` per batch, parse-error rows
    uncapped. The task ends with one partial row per bucket it saw
    (counters, ``n_viol`` — the violation rows it yielded for the
    bucket —, the length histogram over the batches' ``hbin`` slots,
    and the serialized state or NULL), then one row of its HyperLogLog
    registers over the batches' key hashes ``kh`` (``C.hll_registers``)."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from schema_guru_spark.core.accumulate_batch import fold_keyed

        states: dict[int, dict] = {}
        counters: dict[int, dict] = {}
        hists: dict[int, np.ndarray] = {}
        regs = np.zeros(C.HLL_M, np.uint8)

        def bucket_counter(b):
            if b not in counters:
                counters[b] = dict.fromkeys(_SCAN_COUNTERS, 0)
            return counters[b]

        for pdf in batches:
            # vectorized row checks (flags were computed JVM-side):
            # counters via one np.unique + bincounts — a pandas
            # groupby-loop here cost more than the derive kernel itself
            # on 64-bucket batches (measured: full scan pass 12.9s vs
            # 6.0s for Arrow transfer + kernel at 8 cores / 8M rows)
            bk = pdf["bucket"].to_numpy()
            C.hll_registers(pdf["kh"].to_numpy(), regs)
            sha_ok = pdf["sha_ok"].to_numpy()
            lang_ok = pdf["lang_ok"].to_numpy()
            ubk, inv = np.unique(bk, return_inverse=True)
            n_rows_b = np.bincount(inv)
            n_sha_b = np.bincount(inv, weights=~sha_ok)
            n_lang_b = np.bincount(inv, weights=~lang_ok)
            # (bucket, slot) counts in one bincount over the fused index
            hist_b = np.bincount(
                inv * HIST_SLOTS + pdf["hbin"].to_numpy(),
                minlength=len(ubk) * HIST_SLOTS).reshape(-1, HIST_SLOTS)
            for i, b in enumerate(ubk.tolist()):
                c = bucket_counter(int(b))
                c["n_rows"] += int(n_rows_b[i])
                c["n_sha_bad"] += int(n_sha_b[i])
                c["n_lang_bad"] += int(n_lang_b[i])
                hists[b] = hists.get(b, 0) + hist_b[i]

            viol_mask = ~(sha_ok & lang_ok)
            if viol_mask.any():
                bad = pdf[viol_mask].head(max_violation_examples)
                vb, vn = np.unique(bad["bucket"].to_numpy(),
                                   return_counts=True)
                for b, n in zip(vb.tolist(), vn.tolist()):
                    bucket_counter(b)["n_viol"] += n
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
                    for b in jbk[pos].tolist():
                        bucket_counter(b)["n_viol"] += 1
                    yield _scan_rows(bucket=jbk[pos].astype("int32"),
                                     repo=jrepo[pos], lang="json",
                                     detail=[msg for _, msg in errors])

        if counters:
            buckets = list(counters)
            yield _scan_rows(
                bucket=buckets,
                **{k: [counters[b][k] for b in buckets]
                   for k in _SCAN_COUNTERS},
                hist=[hists[b] for b in buckets],
                state=[dumps(states[b]) if b in states else None
                       for b in buckets])
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
    of failing every bucket. Either way every error row is still a
    violation row."""
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
    """Fold ``(bucket, *_COUNTERS, hist, state)`` rows into one verdict
    row per bucket, on the driver: counters and length histograms
    summed, states merged (a NULL state is the empty schema), the
    ``bucket_passes`` verdict and the rendered schema, sorted by bucket,
    with the columns and dtypes of ``_VERDICT_SCHEMA[_STATE]`` (``hist``
    a list of ``HIST_SLOTS`` ints).

    The input shape is the scan's partial row AND the verdict row kept
    with ``keep_state``, so one fold serves both fan-in levels: a
    chunk's scan-task partials into its verdicts (``validate_repo_table``)
    and the committed deltas' verdicts into the cumulative view
    (``plans.incremental.cumulative_report``). Folding folds equals one
    fold, because counters, histograms and states are commutative
    monoids.

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
    hist = np.zeros((len(out), HIST_SLOTS), np.int64)
    if len(parts):
        # out is sorted by bucket: each row's position by binary search
        np.add.at(hist, np.searchsorted(out["bucket"].to_numpy(),
                                        parts["bucket"].to_numpy()),
                  np.array(parts["hist"].tolist(), np.int64))
    out["hist"] = pd.Series(hist.tolist(), dtype=object)
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
                   "hist array<bigint>, schema string, passed boolean")
_VERDICT_SCHEMA_STATE = _VERDICT_SCHEMA + ", state string"
_VIOLATION_SCHEMA = "bucket int, repo string, lang string, detail string"
# the 64-bit key hash the sketch counts. Collisions only DEFLATE the
# distinct estimate, by ~n^2/2^65 keys (~27 at 10^12 rows, 1e-11
# relative), far below the sketch's own ~0.8% error
_KEY_HASH = (0x1CEB, _KEY)


@dataclass
class ValidationResult:
    verdicts: DataFrame
    # with a checkpoint, a read of the violation rows in the scan sinks;
    # without one, a lazy view of the scan: every action on it re-runs
    # the scan
    violations: DataFrame
    # the rows ``verdicts`` was built from, already on the driver
    verdict_rows: pd.DataFrame
    # the number of rows in ``violations``, counted without a Spark job
    n_violation_rows: int
    # the HyperLogLog registers (C.hll_registers) of every validated
    # row's key hash (_KEY_HASH), resumed chunks' included: the
    # uniqueness screen's distinct estimate (constraint_summary)
    key_sketch: np.ndarray
    processed_buckets: list = field(default_factory=list)
    resumed_buckets: list = field(default_factory=list)


def _scan_sink(ckpt_dir: str, chunk: Optional[int] = None) -> str:
    """A checkpoint's scan sink, or its directory for the chunk whose
    first bucket is ``chunk``."""
    return os.path.join(ckpt_dir, "scan",
                        *(() if chunk is None else (f"chunk={chunk}",)))


def read_scan_parts(ckpt_dirs: Sequence[str],
                    columns: Sequence[str] = _PART_COLS,
                    chunk: Optional[int] = None) -> Optional[pd.DataFrame]:
    """The partial and sketch rows (``detail IS NULL``) of the scan
    sinks of the checkpoint directories ``ckpt_dirs`` — every chunk's,
    or only chunk ``chunk``'s — with the ``_SCAN_OUT`` columns
    ``columns``, read with pyarrow on the driver. None when none of
    them has a scan sink."""
    full = arrow_schema(_SCAN_OUT)
    schema = pa.schema([full.field(c) for c in (*columns, "detail")])
    paths = [p for p in (_scan_sink(d, chunk) for d in ckpt_dirs)
             if os.path.isdir(p)]
    if not paths:
        return None
    rows = pa.concat_tables(read_sink(p, schema) for p in paths)
    return (rows.filter(pc.is_null(rows.column("detail")))
            .drop_columns(["detail"]).to_pandas())


def scan_totals(parts: Optional[pd.DataFrame]) -> tuple[int, np.ndarray]:
    """The violation count (the partial rows' ``n_viol`` sum) and the
    merged key sketch registers of scan rows with the ``n_viol`` and
    ``sketch`` columns; no rows for None."""
    if parts is None:
        return 0, C.hll_merge(())
    # a sketch row's n_viol is NULL, which the sum skips
    return int(parts["n_viol"].sum()), C.hll_merge(parts["sketch"].dropna())


def _require_scan_sinks(ckpt_dir: str) -> None:
    """Refuse a checkpoint with a finished chunk that has no scan sink:
    it was written when the violations and the key sketch had sinks of
    their own, and the violation count and registers of a resumed run
    would miss that chunk's rows. Each chunk writes its scan sink
    before its verdicts, so a verdicts chunk without a scan chunk is
    never a crash window."""
    def chunks(d):
        return ({f for f in os.listdir(d) if f.startswith("chunk=")}
                if os.path.isdir(d) else set())
    missing = chunks(f"{ckpt_dir}/verdicts") - chunks(_scan_sink(ckpt_dir))
    if missing:
        raise ValueError(
            f"{ckpt_dir}: finished chunks {sorted(missing)} have no scan "
            "sink (written by an older version of the validation job); "
            "validate into a new checkpoint directory")


def read_verdicts(paths: Sequence[str], schema: str) -> pd.DataFrame:
    """The verdict rows of verdicts sinks (every chunk of each), with
    ``hist`` as lists. A sink holding rows without a length histogram
    is refused, named: its rows were written before the histogram
    joined the verdict row, and folding them would drop those rows
    from every drift figure."""
    tables = [read_sink(p, arrow_schema(schema)) for p in paths]
    for p, t in zip(paths, tables):
        if t.column("hist").null_count:
            raise ValueError(
                f"{p}: verdict rows without a content-length histogram "
                "(written by an older version of the validation job); "
                "validate into a new checkpoint directory")
    rows = pa.concat_tables(tables)
    out = rows.to_pandas()
    # lists, as _fold_buckets makes them; one flat array, not one Python
    # object per count
    out["hist"] = pd.Series(
        pc.list_flatten(rows.column("hist")).to_numpy()
          .reshape(-1, HIST_SLOTS).tolist(), dtype=object)
    return out


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

    Per chunk of buckets, the scan's per-(task, bucket) partial rows
    reach the driver through one Spark job and are folded there into
    the <= ``chunk_size`` verdict rows (``_fold_buckets``): no shuffle,
    no grouped Python stage, no cache. A chunk of every bucket
    over a bucket column computed here scans without a bucket filter;
    partial or resumed chunks, and a materialized layout, filter.

    ``max_violation_examples`` caps the sha256 and lang violation rows
    per Arrow batch of each scan task (a scan task reads its split in
    batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows),
    so a table's count of them depends on its split layout; parse-error
    rows are not capped. The verdict counters count every row either
    way. ``n_violation_rows`` is the number of violation rows the result
    holds, summed from the partial rows' ``n_viol``: it costs no Spark
    job. ``key_sketch`` rides the scan too: the projection gains the
    64-bit key hash, each scan task folds it into HyperLogLog registers
    (``C.hll_registers``) and ends with one sketch row, and the result's
    registers are the element-wise max of every task's (``scan_totals``
    gives both).

    Without a checkpoint, the chunk's job collects the partial and
    sketch rows through Arrow; the result is the verdict rows as a
    local relation (collecting it launches no Spark job) and the
    violations as a lazy view of the scan: every action on
    ``violations`` re-runs the scan. ``checkpoint_dir`` is a
    driver-local directory (``plans.checkpoint.local_dir`` refuses other
    URI schemes before any scan). There each chunk writes, in this
    order: its scan sink, every row the scan yields (the chunk's Spark
    job, since parse-error rows are unbounded), whose partial and
    sketch rows the driver reads back with pyarrow (``read_scan_parts``)
    and folds as above; its verdicts sink, written from the folded rows
    with pyarrow; and last the manifest append, the chunk's commit
    point, whose per-bucket metrics come from the same rows. The
    result's verdicts are then the verdicts sink's rows, resumed
    chunks' included, read back with pyarrow into a local relation, its
    violations a read of the scan sinks' violation rows under their
    known schema, and ``n_violation_rows`` and ``key_sketch`` the
    ``scan_totals`` of every chunk's scan sink, resumed chunks'
    included. A checkpoint with a finished chunk that has no length
    histogram or no scan sink is refused before any scan
    (``ValueError``).

    ``keep_state`` keeps each verdict row's raw schema state, which the
    incremental view re-merges (see plans/incremental.py) with the
    scan sinks' key sketches.
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
    if done:
        # refuse a checkpoint of an older format before any scan
        read_verdicts([f"{ckpt.dir}/verdicts"], _VERDICT_SCHEMA)
        _require_scan_sinks(ckpt.dir)
    remaining = [b for b in range(n_buckets) if b not in done]
    chunk_size = chunk_size or n_buckets

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
        bucket = "bucket"
    else:
        bucket = f"{bucket_sql(n_buckets, n_salts)} AS bucket"
    # IN () does not parse; an empty allow-list allows nothing
    lang_ok = (f"coalesce(lang IN ({', '.join(map(_sql_str, allowed_langs))})"
               ", false)" if allowed_langs else "false")
    # one projection parsed from SQL text, then the length bin over the
    # length computed once (each branch of its CASE reads it). Both
    # flags are COALESCED to false: sha2(NULL)==x and NULL IN (...) are
    # three-valued NULL, which would cross Arrow as a pandas object
    # column and crash the scan pass's bitwise ops — and semantically an
    # unverifiable invariant IS a violation (null content/sha/lang on a
    # real corpus). Only JSON-bearing rows' content crosses the Arrow
    # boundary: sha/lang checks and the length already happened
    # JVM-side, so non-JSON content (here ~60% of bytes) is nulled
    # before serialization to Python
    prepared = df.selectExpr(
        bucket, "repo", "lang",
        "octet_length(content) AS clen",
        ("coalesce(sha2(content, 256) = content_sha, false) AS sha_ok"
         if has_sha else "true AS sha_ok"),
        f"{lang_ok} AS lang_ok",
        "CASE WHEN lang = 'json' THEN content END AS content",
        f"{C.key_hash_sql(*_KEY_HASH)} AS kh",
    ).selectExpr("bucket", "repo", "lang", "content", "sha_ok", "lang_ok",
                 f"{length_bin_sql('clen')} AS hbin", "kh")

    verdict_schema = (_VERDICT_SCHEMA_STATE if keep_state
                      else _VERDICT_SCHEMA)
    # a bucket column computed here lies in [0, n_buckets) and is never
    # NULL, so a chunk of every bucket needs no filter: it could not
    # remove a row, and building its n_buckets literals costs py4j time
    # on every call. A materialized layout's column and partial or
    # resumed chunks keep it (there it prunes files, or the chunk
    # excludes buckets)
    computed_bucket = "bucket" not in df.columns
    chunk_verdicts, chunk_scans, all_violations = [], [], []
    for i in range(0, len(remaining), chunk_size):
        chunk = remaining[i:i + chunk_size]
        sub = (prepared.where(f"bucket IN ({', '.join(map(str, chunk))})")
               if len(chunk) < n_buckets or not computed_bucket
               else prepared)
        raw = sub.mapInPandas(_scan_pass(ctx, max_violation_examples),
                              _SCAN_OUT)
        # the chunk's one Spark job brings its partial and sketch rows
        # to the driver, where they fold into the verdict rows
        if ckpt:
            # idempotent per-chunk sinks: each REPLACES this chunk's
            # directory rather than appending to the parent. A job
            # killed after the data sinks but before the manifest
            # append re-runs the chunk on restart — an append would
            # then duplicate every row of the chunk; a replace
            # converges to the same bytes. The scan sink comes before
            # the verdicts: a finished chunk's verdicts without a scan
            # sink then mark an older checkpoint, never a crash
            # (_require_scan_sinks)
            raw.write.mode("overwrite").parquet(_scan_sink(ckpt.dir,
                                                           chunk[0]))
            parts = read_scan_parts([ckpt.dir], chunk=chunk[0])
        else:
            parts = raw.where("detail IS NULL").select(*_PART_COLS) \
                .toPandas()
            chunk_scans.append(parts[["n_viol", "sketch"]])
            all_violations.append(raw.where("detail IS NOT NULL").select(
                "bucket", "repo", "lang", "detail"))
        verdict_rows = _fold_buckets(parts[parts["sketch"].isna()], ctx,
                                     max_err_rate, keep_state=keep_state)

        if ckpt:
            write_sink(f"{ckpt.dir}/verdicts/chunk={chunk[0]}",
                       pa.Table.from_pandas(
                           verdict_rows, arrow_schema(verdict_schema),
                           preserve_index=False))
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
            chunk_verdicts.append(verdict_rows)

    if ckpt:
        verdict_rows = read_verdicts([f"{ckpt.dir}/verdicts"],
                                     verdict_schema)
        scan = read_scan_parts([ckpt.dir], ("n_viol", "sketch"))
        try:
            # chunk=N partition dirs: drop the discovered partition column
            violations_df = spark.read.schema(_VIOLATION_SCHEMA) \
                .parquet(_scan_sink(ckpt.dir)) \
                .where("detail IS NOT NULL").drop("chunk")
        except AnalysisException as exc:
            if not is_missing_path(exc):
                raise
            violations_df = spark.createDataFrame([], _VIOLATION_SCHEMA)
    else:
        from functools import reduce
        verdict_rows = pd.concat(chunk_verdicts, ignore_index=True)
        scan = pd.concat(chunk_scans, ignore_index=True)
        violations_df = reduce(DataFrame.unionByName, all_violations)
    verdict_rows = verdict_rows.sort_values("bucket", ignore_index=True)
    n_violation_rows, sketch = scan_totals(scan)

    return ValidationResult(
        verdicts=spark.createDataFrame(verdict_rows, verdict_schema),
        violations=violations_df,
        verdict_rows=verdict_rows,
        n_violation_rows=n_violation_rows,
        key_sketch=sketch,
        processed_buckets=remaining,
        resumed_buckets=sorted(done),
    )


# the uniqueness screen's pass tolerance on the key sketch's relative
# gap to the exact distinct count (the default of C.uniqueness_hashed)
_HLL_TOLERANCE = 0.05


def key_counts(df: DataFrame, repo_dims: Optional[DataFrame] = None) -> dict:
    """The key half of the constraint suite: ONE key aggregate that reads
    repo, path, commit and lang, never content.

    ``groupBy`` of the 128-bit key pre-hash (two independently-seeded
    ``C.key_hash`` columns, so NULL key parts compare equal at the same
    position, as in ``C.uniqueness_exact`` and ``key_violation_rows``),
    then one global sum/count aggregate over the groups: the row count,
    the exact distinct count (the number of groups) and the NULL counts
    of the key columns and lang. Both are declarative aggregates that
    whole-stage codegen compiles; the distinct estimate is not here but
    in the key sketch the validation scan builds (``key_sketch`` for a
    table on its own). One 64-bit hash would expect ~27 phantom key
    collisions at the north rule's 10^12 rows (birthday n²/2⁶⁵); the
    pair expects ~1.5e-15, while the shuffle still carries 16 bytes a
    key instead of the raw strings.

    Referential integrity: every fact repo must resolve against the repo
    dimension via a broadcast LEFT ANTI join. ``repo_dims`` is a
    one-column (repo) DataFrame — the lakehouse catalog dim in
    production. Without it the dimension is the table's own distinct
    repos: every non-null repo matches itself and a NULL repo never
    matches (NULL = NULL is not true), so the orphan count IS the repo
    null count and no join runs.

    Returns ``{n_rows, n_exact_distinct, null_counts, n_ri_orphans}``,
    an input of ``constraint_summary``.
    """
    key_cols = (*_KEY, "lang")
    # the plan from SQL text: built from Column calls, the projection
    # and the two aggregates cost ~210 ms of py4j round trips a call,
    # against ~40 ms parsed (4-core host)
    groups = (df.selectExpr(f"{C.key_hash_sql(0x5EED0, _KEY)} AS kh1",
                            f"{C.key_hash_sql(0x5EED1, _KEY)} AS kh2",
                            *[f"CAST(`{c}` IS NULL AS INT) AS _n_{c}"
                              for c in key_cols])
                .groupBy("kh1", "kh2")
                .agg(F.expr("count(1) AS n"),
                     *[F.expr(f"sum(_n_{c}) AS _n_{c}") for c in key_cols]))
    head = groups.selectExpr(
        "sum(n) AS n", "count(1) AS n_exact",
        *[f"sum(_n_{c}) AS `{c}`" for c in key_cols],
    ).collect()[0]
    # sums over zero rows are NULL -> coalesce; the RAW null counts feed
    # the verdict (a rounded fraction of 1.0 would hide one null key in
    # 10M rows — exactly what the check must catch)
    null_counts = {c: int(head[c] or 0) for c in key_cols}
    return {
        "n_rows": int(head["n"] or 0),
        "n_exact_distinct": head["n_exact"],
        "null_counts": null_counts,
        "n_ri_orphans": (C.referential_violations(
            df.select("repo"), repo_dims, "repo", "repo").count()
            if repo_dims is not None else null_counts["repo"]),
    }


def key_sketch(df: DataFrame) -> np.ndarray:
    """The HyperLogLog registers of the table's key hash (``_KEY_HASH``)
    — what ``validate_repo_table`` folds in its scan — from one
    ``mapInPandas`` over that one column: each task folds its batches
    with ``C.hll_registers`` and the driver merges the tasks'
    registers, so one register rule serves every path."""
    @worker_fn
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        regs = None
        for pdf in batches:
            regs = C.hll_registers(pdf["kh"].to_numpy(), regs)
        if regs is not None:
            yield pd.DataFrame({"sketch": [regs.tobytes()]})

    rows = (df.selectExpr(f"{C.key_hash_sql(*_KEY_HASH)} AS kh")
              .mapInPandas(fold, "sketch binary").collect())
    return C.hll_merge(r["sketch"] for r in rows)


def length_hists(df: DataFrame, n_buckets: int = 64,
                 n_salts: int = 8) -> pd.DataFrame:
    """``(bucket, hist)`` rows, one per bucket with rows, sorted by
    bucket: the content-length histograms the validation scan counts
    into its verdict rows, here from one ``groupBy(bucket, bin)``
    aggregate over the same ``length_bin_sql`` bin."""
    counts = (df.selectExpr(f"{bucket_sql(n_buckets, n_salts)} AS bucket",
                            "octet_length(content) AS clen")
                .selectExpr("bucket", f"{length_bin_sql('clen')} AS bin")
                .groupBy("bucket", "bin").count().collect())
    hists: dict[int, list] = {}
    for r in counts:
        hists.setdefault(r["bucket"], [0] * HIST_SLOTS)[r["bin"]] = r["count"]
    buckets = sorted(hists)
    return pd.DataFrame({"bucket": pd.Series(buckets, dtype="int32"),
                         "hist": pd.Series([hists[b] for b in buckets],
                                           dtype=object)})


def bucket_psi(hist_rows: pd.DataFrame) -> dict:
    """Per-bucket PSI of content length (bytes) against the whole table,
    from ``(bucket, hist)`` rows (verdict rows or ``length_hists``), on
    the driver: ``{bucket: psi}`` rounded to 6 decimals, for the buckets
    with a non-NULL length.

    PSI = Σ (p_b - p_g) · ln(p_b / p_g) over the bins the bucket uses,
    with Laplace-smoothed proportions (count + 0.5) / (total + 0.5 k).
    k is the number of bins the WHOLE table uses, not the fixed range:
    smoothing over ~60 mostly empty bins would shrink every proportion
    toward zero and flatten the statistic (a planted drift read 0.55-0.80
    against a 0.23-0.47 baseline that way, 1.18 against 0.14 this way).
    Bins absent from the bucket are skipped, as in
    ``C.drift_by_partition``, whose statistic this is on fixed bins."""
    if not len(hist_rows):
        return {}
    h = np.array(hist_rows["hist"].tolist(), np.int64)[:, :HIST_NULL]
    glob = h.sum(axis=0)
    gt, k = glob.sum(), np.count_nonzero(glob)
    out = {}
    for b, row in zip(hist_rows["bucket"].tolist(), h):
        pt = row.sum()
        if not pt:
            continue
        used = row > 0
        pp = (row[used] + 0.5) / (pt + 0.5 * k)
        pg = (glob[used] + 0.5) / (gt + 0.5 * k)
        out[b] = round(float(np.sum((pp - pg) * np.log(pp / pg))), 6)
    return out


def constraint_summary(keys: dict, hist_rows: pd.DataFrame,
                       sketch: np.ndarray) -> dict:
    """The constraint report from ``key_counts``, per-bucket length
    histograms (the validation scan's verdict rows, or ``length_hists``)
    and the key sketch's registers (the scan's ``key_sketch``, or
    ``key_sketch``):

      uniqueness of (repo,path,commit): exact distinct count, the
        sketch's estimate (Ertl's estimator, ``C.hll_estimate``, ~0.81%
        standard error), their relative gap against the tolerance, and
        ``keys_unique``;
      referential integrity: ``n_ri_orphans``;
      drift: ``worst_bucket_psi``, the largest ``bucket_psi``;
      completeness: per-column non-null fractions of the key columns and
        lang (``key_counts``) and content (the histograms' NULL slot).
    """
    null_counts = {**keys["null_counts"],
                   "content": int(sum(h[HIST_NULL]
                                      for h in hist_rows["hist"]))}
    n_rows, n_exact = keys["n_rows"], keys["n_exact_distinct"]
    n_approx = round(C.hll_estimate(sketch))
    rel_err = abs(n_approx - n_exact) / max(n_exact, 1)
    n_total = max(n_rows, 1)
    return {
        "n_rows": n_rows,
        "n_exact_distinct": n_exact,
        "n_approx_distinct": n_approx,
        "hll_rel_err": float(rel_err),
        "hll_ok": rel_err <= _HLL_TOLERANCE,
        "keys_unique": n_rows == n_exact,
        "n_ri_orphans": keys["n_ri_orphans"],
        "worst_bucket_psi": float(max(bucket_psi(hist_rows).values(),
                                      default=0.0)),
        "completeness": {c: round(1.0 - n / n_total, 6)
                         for c, n in null_counts.items()},
        "key_null_counts": {c: null_counts[c] for c in _KEY},
        "keys_complete": all(null_counts[c] == 0 for c in _KEY),
    }


def constraint_report(spark: SparkSession, df: DataFrame,
                      n_buckets: int = 64, n_salts: int = 8,
                      repo_dims: Optional[DataFrame] = None) -> dict:
    """Key-level constraint suite over the repo table, standalone
    (``constraint_summary`` lists the checks).

    Job shape: three passes, run one after the other. ``key_counts``
    is one key aggregate over repo, path, commit and lang, plus the RI
    anti-join when ``repo_dims`` is given; ``length_hists`` is one
    ``groupBy(bucket, bin)`` aggregate, the only one that reads content;
    ``key_sketch`` is one map over the key hash. ``run_validation`` runs
    only the key aggregate, overlapped with the validation scan, and
    takes the histograms and the registers from the scan; both report
    the same fields. ``spark`` is not used; it keeps the signature
    callers rely on.
    """
    return constraint_summary(key_counts(df, repo_dims),
                              length_hists(df, n_buckets, n_salts),
                              key_sketch(df))


def key_violation_rows(df: DataFrame, repo_dims: Optional[DataFrame] = None,
                       n_buckets: int = 64, n_salts: int = 8,
                       max_examples: int = 1000) -> DataFrame:
    """Key-level violation ROWS, same shape as the scan pass's violation
    rows, ``ValidationResult.violations`` (bucket, repo, lang, detail):

      duplicate (repo, path, commit) tuples  -> detail 'duplicate key: ...'
      RI orphans vs the repo dimension       -> detail 'ri orphan repo'

    Both are column-pruned scans (never read content). Output is capped
    at ``max_examples`` per kind — violation EXAMPLES for humans; the
    full counts live in constraint_report. The GROUP BY treats NULL key
    parts as equal at the same position — the rule ``constraint_report``
    applies through ``C.key_hash`` — so the rows and the verdict agree.
    """
    # group by EXACTLY the uniqueness key (repo, path, commit) — the
    # same tuple constraint_report's screen hashes. lang is reported as
    # an example attribute (min = deterministic pick), NOT part of the
    # key: two rows sharing the key but differing in lang ARE a
    # duplicate and must surface here, or the rows would contradict a
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
