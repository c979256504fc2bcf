"""Incremental re-validation of a growing Iceberg table.

The north rule's job is resumable *within* a run (per-bucket
checkpoint manifest, plans/checkpoint.py). This module makes it
resumable *across table growth*: after a daily append to a 10^12-file
table, re-validation must plan and read ONLY the appended files —
never re-list or re-scan the petabytes already validated.

Design (all state lives under one checkpoint directory):

  table_state.json           {table_uuid, snapshot_id, epoch,
                              windows, params} — params pins the
                              run's n_buckets/n_salts/max_err_rate/
                              allowed_langs/partition_filter; later
                              runs must match or the per-bucket
                              counter sums would silently mix
                              incompatible bucket memberships
  e000-snap-0-S1/            baseline delta: full validation @ S1
  e000-snap-S1-S2/           appended rows in (S1, S2]
  ...                        one sub-checkpoint per validated delta
  e001-.../                  new epoch after a rebase (see below)

Each delta is validated by the ordinary ``validate_repo_table`` with
its own sub-checkpoint (so a killed delta run resumes mid-delta), with
``keep_state=True`` so the per-bucket verdict rows carry the raw
schema-monoid state. Cumulative results are then EXACT, not
re-scanned. The cumulative view is the validation job's own bucket
fold (``pipeline._fold_buckets``) applied once more, to the committed
deltas' verdict sinks — the scan folds task partials into a chunk's
verdict rows, and this module folds those rows across deltas:

  * counters (rows / json ok / err / sha / lang) sum per bucket;
    the per-bucket pass verdict is recomputed from the summed
    counters under the same rule the scan applies;
  * the merged schema per bucket (and globally) is the monoid merge
    of the deltas' serialized states — commutative, so delta order
    cannot matter; the rendered schema alone could NOT be re-merged
    (enum cutoff and range encasing are lossy);
  * the content-length histograms sum per bucket (fixed bins), so the
    per-bucket PSI against the whole table (``pipeline.bucket_psi``)
    is the one a from-scratch validation reports;
  * table-wide key uniqueness uses mergeable HyperLogLog sketches
    (``operators.constraints.hll_registers``, p = 14, 16 KiB) over a
    64-bit key hash. The sketch rides the validation scan: each scan
    task folds its rows' key hashes into registers and ends with one
    sketch row, which every chunk of a delta keeps in its scan sink
    next to its verdicts, so a resumed delta still covers all its
    chunks. The cumulative estimate is Ertl's estimator over the
    element-wise max of every committed scan task's sketch, against
    the exact summed row count — the north_star's "HLL vs exact count"
    check, made incremental. (Per-delta exact distincts do not sum;
    sketches do.) The register format and the scan sink layout are
    pinned in ``params`` (``key_sketch``, ``scan_sink``), so a
    checkpoint holding sketches of another format, or keeping them in
    another sink, is refused before any scan, not misread.

The cumulative view reads only checkpoint files, with pyarrow on the
driver: it runs no Spark job, and checkpoint dirs are driver-local
paths (``plans.checkpoint.local_dir``).

A non-append snapshot (delete / overwrite) in the window makes
"the new rows" ill-defined (rows also vanished), so
``plan_incremental`` refuses. Policy here: ``on_nonappend="error"``
(default) surfaces it; ``"rebase"`` starts a new epoch — a fresh full
validation of the current snapshot whose cumulative view supersedes
the previous epoch's (prior epochs stay on disk for audit).

No reference counterpart: schema-guru re-derives from the full input
every run (SchemaGuruRDD.scala:44-60 re-reads the whole path).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any, Optional, Sequence

from pyspark.sql import SparkSession

from schema_guru_spark.operators import constraints as C
from schema_guru_spark.pipeline import (_VERDICT_SCHEMA_STATE, HIST_FORMAT,
                                        SCAN_SINK_FORMAT, bucket_psi,
                                        read_scan_parts, read_verdicts,
                                        scan_totals, verdict_summary)
from schema_guru_spark.plans.checkpoint import local_dir
from schema_guru_spark.sources.iceberg_meta import (_VALUE_SETS,
                                                    load_table_metadata)

_STATE_FILE = "table_state.json"


def _state_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, _STATE_FILE)


def _load_state(checkpoint_dir: str) -> Optional[dict]:
    p = _state_path(checkpoint_dir)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _save_state(checkpoint_dir: str, state: dict) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = _state_path(checkpoint_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh, sort_keys=True)
    os.replace(tmp, _state_path(checkpoint_dir))  # atomic commit


# NOTE on crash consistency: the state file is the COMMIT POINT. A
# delta directory that exists on disk but is not in the committed
# ``windows`` list is an in-flight or superseded window (job died
# between writing the delta and committing the state, and the next
# window may have widened past it) — cumulative accounting must read
# ONLY the committed chain, or rows double-count.


def _run_params(n_buckets: int, n_salts: int, max_err_rate: float,
                allowed_langs: Sequence[str],
                partition_filter: Optional[dict]) -> dict:
    """The parameters that define what the per-bucket counters MEAN.
    Deltas validated under different values are not summable: a changed
    n_buckets/n_salts redraws bucket membership (same bucket id,
    different rows), a changed partition_filter redefines which rows
    'whole table' covers, allowed_langs changes what counts as a
    violation, max_err_rate changes each delta's recorded verdicts. All
    are pinned in table_state.json on the first commit; later runs must
    match (ADVICE r04). So are ``key_sketch``, the format of the stored
    key sketches (registers of different formats do not merge),
    ``length_hist``, the bin edges of the verdict rows' length
    histograms (a checkpoint from before the histogram, or with other
    edges, is refused before any scan), and ``scan_sink``, the sink that
    keeps each chunk's sketches and violation count (a chain from
    before the scan sink is refused before any scan).

    The dict is compared against a JSON-round-tripped prior, so every
    value must be in JSON-canonical form already: collection-valued
    partition_filter entries (``iceberg_meta._VALUE_SETS``, the rule
    the read path applies too) become sorted lists — otherwise a tuple
    filter would spuriously mismatch its own saved list form on the
    second run, and a set would crash json.dump after the validation
    scan had already been paid for."""
    canon_filter = None
    if partition_filter is not None:
        canon_filter = {
            k: (sorted(v, key=repr) if isinstance(v, _VALUE_SETS) else v)
            for k, v in partition_filter.items()
        }
    return {
        "n_buckets": n_buckets, "n_salts": n_salts,
        "max_err_rate": max_err_rate,
        "allowed_langs": sorted(allowed_langs),
        "partition_filter": canon_filter,
        "key_sketch": C.KEY_SKETCH,
        "length_hist": HIST_FORMAT,
        "scan_sink": SCAN_SINK_FORMAT,
    }


def incremental_validate(
    spark: SparkSession,
    table_path: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = 64,
    n_salts: int = 8,
    chunk_size: Optional[int] = None,
    max_err_rate: float = 0.0,
    allowed_langs: Optional[Sequence[str]] = None,
    partition_filter: Optional[dict] = None,
    on_nonappend: str = "error",
    uniq_tolerance: float = 0.05,
) -> dict:
    """Validate whatever appeared in ``table_path`` since the last
    call that used this ``checkpoint_dir``; first call validates the
    whole current snapshot. Returns a report with ``delta`` (this
    call's work) and ``cumulative`` (exact whole-table view merged
    from every delta of the active epoch).
    """
    from schema_guru_spark.pipeline import (DEFAULT_LANGS,
                                            validate_repo_table)
    from schema_guru_spark.sources.catalog import (read_table,
                                                   read_table_appends)

    if on_nonappend not in ("error", "rebase"):
        raise ValueError(f"on_nonappend={on_nonappend!r}: "
                         "expected 'error' or 'rebase'")
    # None takes the defaults; an empty list allows no language, as in
    # validate_repo_table
    allowed_langs = tuple(DEFAULT_LANGS if allowed_langs is None
                          else allowed_langs)
    checkpoint_dir = local_dir(checkpoint_dir)

    meta = load_table_metadata(table_path)
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1):
        raise LookupError(f"{table_path}: empty table, no snapshot")
    uuid = meta["table-uuid"]

    state = _load_state(checkpoint_dir)
    if state is not None and state["table_uuid"] != uuid:
        raise ValueError(
            f"checkpoint {checkpoint_dir} belongs to table "
            f"{state['table_uuid']}, not {uuid} — the cumulative "
            "accounting would silently mix two tables")
    params = _run_params(n_buckets, n_salts, max_err_rate,
                         allowed_langs, partition_filter)
    if state is not None:
        prior_params = state.get("params")
        if prior_params is not None and prior_params != params:
            diff = {k for k in params
                    if prior_params.get(k) != params[k]}
            raise ValueError(
                f"checkpoint {checkpoint_dir} was built with different "
                f"validation parameters ({', '.join(sorted(diff))}): "
                f"{prior_params} vs {params} — per-bucket counters and "
                "key sketches from deltas validated under different "
                "parameters do not merge (same guard class as "
                "table_uuid). Use a new checkpoint dir, or rerun with "
                "the pinned values.")

    epoch = state["epoch"] if state else 0
    frm = state["snapshot_id"] if state else None
    mode, delta_df = "baseline", None
    # the catalog read path: file pruning on identity partitions plus
    # the residual row filter, so partition_filter means the same rows
    # here as in a full run, whatever the table is partitioned by
    if state is None:
        delta_df = read_table(spark, path=table_path, snapshot_id=cur,
                              partition_filter=partition_filter)
    elif frm == cur:
        mode = "up-to-date"
    else:
        try:
            delta_df = read_table_appends(
                spark, path=table_path, from_snapshot_id=frm,
                to_snapshot_id=cur, partition_filter=partition_filter)
            mode = "incremental"
        except NotImplementedError:
            if on_nonappend == "error":
                raise
            # rebase: new epoch, full validation of the current
            # snapshot; the old epoch's deltas stay on disk for audit
            epoch += 1
            mode = "rebase"
            frm = None  # the new window is a full scan, not (frm, cur]
            delta_df = read_table(spark, path=table_path,
                                  snapshot_id=cur,
                                  partition_filter=partition_filter)

    delta_report: dict[str, Any] = {**verdict_summary([]),
                                    "n_violation_rows": 0,
                                    "resumed_buckets": 0}
    if delta_df is not None:
        label = f"e{epoch:03d}-snap-{frm or 0}-{cur}"
        delta_dir = os.path.join(checkpoint_dir, label)
        res = validate_repo_table(
            spark, delta_df, checkpoint_dir=delta_dir,
            n_buckets=n_buckets, n_salts=n_salts,
            chunk_size=chunk_size, allowed_langs=allowed_langs,
            max_err_rate=max_err_rate, keep_state=True)
        # <= n_buckets verdict rows and the violation count (from the
        # scan sinks' partial rows), already on the driver
        delta_report = {
            **verdict_summary(res.verdict_rows.to_dict("records")),
            "n_violation_rows": res.n_violation_rows,
            "resumed_buckets": len(res.resumed_buckets),
        }
        prior = (state.get("windows", []) if state is not None
                 and mode == "incremental" else [])
        _save_state(checkpoint_dir, {
            "table_uuid": uuid, "snapshot_id": cur, "epoch": epoch,
            "windows": prior + [label], "params": params,
            "updated_at": time.time()})

    report = {
        "mode": mode, "table_uuid": uuid,
        "from_snapshot": frm, "to_snapshot": cur, "epoch": epoch,
        "delta": delta_report,
        "cumulative": cumulative_report(
            spark, checkpoint_dir,
            max_err_rate=max_err_rate,
            uniq_tolerance=uniq_tolerance),
    }
    return report


def cumulative_report(spark: SparkSession, checkpoint_dir: str,
                      *, max_err_rate: float = 0.0,
                      uniq_tolerance: float = 0.05) -> dict:
    """Exact whole-table view from the committed window chain's delta
    sinks: per-bucket counter sums + recomputed verdicts, monoid-merged
    schema, length drift (per-bucket PSI of the summed histograms),
    HLL-union uniqueness vs exact summed rows. Touches only checkpoint
    metadata (KBs), never the table, and runs no Spark job. Verdict rows
    without a histogram (an older format) are refused with a
    ``ValueError``.

    The view is the validation job's bucket fold over the committed
    verdict sinks: their rows (<= n_deltas x n_buckets, read from the
    local ``checkpoint_dir`` with pyarrow) are the ``(bucket,
    *_COUNTERS, hist, state)`` shape ``pipeline._fold_buckets`` folds,
    so the per-bucket counters, histograms, verdicts and schemas come
    from that one function, the totals from ``pipeline.verdict_summary``,
    the drift from ``pipeline.bucket_psi``, and the global schema is the
    merge of the folded bucket states. The key sketches in the scan
    sinks of the committed deltas (``pipeline.read_scan_parts``) merge
    by element-wise max (``pipeline.scan_totals``) into one estimate
    (``C.hll_estimate``), against the folded row count; a chain without
    scan sinks reports no uniqueness block.
    ``spark`` is not used; it keeps the signature callers rely on."""
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import (loads, merge_all,
                                                     render)
    from schema_guru_spark.core.transforms import apply_transforms
    from schema_guru_spark.pipeline import _fold_buckets

    checkpoint_dir = local_dir(checkpoint_dir)
    state = _load_state(checkpoint_dir)
    if state is None:
        raise LookupError(f"{checkpoint_dir}: no validation state")
    dirs = [os.path.join(checkpoint_dir, w)
            for w in state.get("windows", [])]
    if not dirs:
        return {"n_deltas": 0, **verdict_summary([])}

    ctx = SchemaContext.make(0)
    folded = _fold_buckets(
        read_verdicts([os.path.join(d, "verdicts") for d in dirs],
                      _VERDICT_SCHEMA_STATE),
        ctx, max_err_rate, keep_state=True)
    psi = bucket_psi(folded)
    glob = merge_all((loads(st) for st in folded["state"]), ctx)

    scan = read_scan_parts(dirs, ("n_viol", "sketch"))
    uniq: dict[str, Any] = {}
    if scan is not None:
        n_rows = int(folded["n_rows"].sum())
        est = round(C.hll_estimate(scan_totals(scan)[1]))
        gap = abs(n_rows - est) / max(n_rows, 1)
        uniq = {"n_rows": n_rows, "n_distinct_est": est,
                "rel_gap": round(gap, 6),
                "uniq_ok": gap <= uniq_tolerance}

    return {
        "n_deltas": len(dirs),
        **verdict_summary(folded.to_dict("records")),
        "uniqueness": uniq,
        "drift": {"worst_bucket_psi": max(psi.values(), default=0.0),
                  "bucket_psi": psi},
        "schema": render(apply_transforms(glob, ctx), ctx),
        "bucket_schemas": {int(b): json.loads(sch) for b, sch
                           in zip(folded["bucket"], folded["schema"])},
    }
