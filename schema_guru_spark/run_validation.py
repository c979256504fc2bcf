"""Job entry point: validate a repo table end-to-end.

Usage (spark-submit or plain python):

    spark-submit --py-files schema_guru_spark.zip \
        schema_guru_spark/run_validation.py \
        --input /path/to/repo_table_parquet \
        [--synthesize N_FILES] [--checkpoint DIR] [--buckets 64]
        [--chunk-size 16] [--cpus 8] [--json-out out.json]

Prints a one-line JSON report: rows validated, throughput (files/sec),
bucket pass rate, violation counts, constraint report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _next_job_id(spark):
    """The id the scheduler gives the next job (ids are sequential), as
    a watermark between earlier jobs and the ones about to run; None
    when the private JVM surface is unavailable."""
    try:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    except Exception:
        return None


def _group_task_times(spark, groups, first_job) -> dict:
    """Summed executor task run-time (seconds) per job group over the
    jobs with id >= ``first_job`` (a ``_next_job_id`` watermark taken
    before the measured section), from the driver's AppStatusStore —
    the same numbers the (disabled) UI's stage table shows.
    Attribution: each stage is counted once, under the group of the
    first job that ran it. Best-effort over a private JVM surface (py4j
    into AppStatusStore; shape tested against Spark 4.1.x) — returns {}
    rather than failing the job on a Spark upgrade."""
    if first_job is None:
        return {}
    try:
        sc = spark.sparkContext._jsc.sc()
        # listener events reach the store asynchronously: wait until
        # every finished job's events have been applied
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        out = {g: 0.0 for g in groups}
        seen: set[int] = set()
        for jid in range(first_job, sc.dagScheduler().nextJobId()):
            try:
                j = store.job(jid)
            except Exception:
                continue  # not in the store (never recorded, or evicted)
            grp = j.jobGroup()
            grp = grp.get() if grp.isDefined() else None
            if grp not in out:
                continue
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    out[grp] += store.lastStageAttempt(sid) \
                                     .executorRunTime() / 1000.0
                except Exception:
                    pass  # skipped/unsubmitted stage has no attempt
        return {g: round(v, 3) for g, v in out.items()}
    except Exception:
        return {}


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="parquet path of repo table")
    ap.add_argument("--table", default=None,
                    help="catalog table name of the repo table (e.g. an "
                         "Iceberg table via --packages "
                         "org.apache.iceberg:iceberg-spark-runtime + "
                         "catalog conf on spark-submit); Iceberg gives "
                         "partition pruning + stats-based file skipping "
                         "on the lang/repo filters for free")
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="pin an Iceberg snapshot for the whole run "
                         "(requires --table); a resumed job MUST reuse "
                         "the original run's snapshot or the checkpoint "
                         "manifest describes a different row set")
    ap.add_argument("--langs", default=None,
                    help="comma-separated lang allow-list. On an Iceberg "
                         "--input path partitioned by lang this prunes "
                         "data files in the METADATA layer (no file "
                         "opened, no listing); everywhere else it is a "
                         "plain filter Catalyst pushes into the scan")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N synthetic files instead of --input")
    ap.add_argument("--synthesize-only", action="store_true",
                    help="with --synthesize: materialize the parquet "
                         "table and exit without running the validation "
                         "job (bench harnesses warm the table cheaply)")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--chunk-size", type=int, default=None)
    ap.add_argument("--max-err-rate", type=float, default=0.02,
                    help="bucket passes if json parse-error rate <= this "
                         "(sha/lang violations always fail the bucket)")
    ap.add_argument("--warmup", type=int, default=0,
                    help="run the measured section this many times first "
                         "(unmeasured) so the reported throughput is "
                         "steady-state engine throughput — Python worker "
                         "pool spawn + codegen JIT are one-time process "
                         "costs, irrelevant at production data scale. "
                         "Incompatible with --checkpoint.")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS")
                                or len(os.sched_getaffinity(0))),
                    help="local[N] cores (default: $SPARK_GRAFT_CPUS, "
                         "else the CPUs this process may run on)")
    ap.add_argument("--json-out", default=None)
    ap.add_argument("--incremental", action="store_true",
                    help="validate only what was appended to the "
                         "Iceberg table at --input since the last "
                         "--incremental run against --checkpoint; "
                         "first run validates the current snapshot. "
                         "Reports this delta plus the exact cumulative "
                         "whole-table view (counters summed, schemas "
                         "monoid-merged, uniqueness via HLL-union).")
    ap.add_argument("--on-nonappend", choices=("error", "rebase"),
                    default="error",
                    help="what an incremental run does when the "
                         "snapshot window contains a delete/overwrite: "
                         "error out (default) or rebase — start a new "
                         "epoch with a full re-validation")
    args = ap.parse_args(argv)

    from schema_guru_spark.session import get_spark
    from schema_guru_spark.pipeline import (constraint_summary, key_counts,
                                            validate_repo_table,
                                            verdict_summary)
    from schema_guru_spark.sources.repo_table import synthesize_repo_table

    spark = get_spark("sgs-validate", master=f"local[{args.cpus}]",
                      shuffle_partitions=max(args.cpus, 8))

    if args.incremental:
        if not args.input or not args.checkpoint:
            ap.error("--incremental requires --input (an Iceberg table "
                     "path) and --checkpoint")
        if args.snapshot_id is not None or args.synthesize or args.table:
            ap.error("--incremental is incompatible with --snapshot-id/"
                     "--synthesize/--table (the checkpoint state pins "
                     "the snapshot window)")
        from schema_guru_spark.plans.incremental import incremental_validate
        t0 = time.time()
        rep = incremental_validate(
            spark, args.input, args.checkpoint,
            n_buckets=args.buckets, n_salts=args.salts,
            chunk_size=args.chunk_size, max_err_rate=args.max_err_rate,
            partition_filter=({"lang": args.langs.split(",")}
                              if args.langs else None),
            on_nonappend=args.on_nonappend)
        rep["wall_sec"] = round(time.time() - t0, 3)
        rep["cpus"] = args.cpus
        line = json.dumps(rep)
        print(line)
        if args.json_out:
            with open(args.json_out, "w") as f:
                f.write(line + "\n")
        return rep

    if args.synthesize:
        if args.snapshot_id is not None:
            ap.error("--snapshot-id requires --table (a synthesized "
                     "parquet table has no snapshot lineage)")
        # materialize to parquet first: the validated workload must READ
        # a table (as in production), not re-run the generator per job
        import tempfile
        synth_dir = os.path.join(tempfile.gettempdir(),
                                 f"sgs_synth_{args.synthesize}")
        marker = os.path.join(synth_dir, "_SUCCESS")
        if not os.path.exists(marker):
            # enough files that ANY later parallelism gets full scan
            # splits (a table written by an 8-core session must not cap a
            # 32-core reader at 8 partitions)
            synthesize_repo_table(spark, args.synthesize) \
                .repartition(128) \
                .write.mode("overwrite").parquet(synth_dir)
        if args.synthesize_only:
            line = json.dumps({"synthesized": args.synthesize,
                               "path": synth_dir})
            print(line)
            return {"synthesized": args.synthesize, "path": synth_dir}
        df = spark.read.parquet(synth_dir)
        if args.langs:
            from pyspark.sql import functions as _F
            df = df.where(_F.col("lang").isin(args.langs.split(",")))
    elif args.table or args.input:
        from schema_guru_spark.sources.catalog import read_table
        df = read_table(spark, table=args.table, path=args.input,
                        snapshot_id=args.snapshot_id,
                        partition_filter=(
                            {"lang": args.langs.split(",")}
                            if args.langs else None))
    else:
        ap.error("need --input, --table or --synthesize")

    if args.warmup and args.checkpoint:
        ap.error("--warmup and --checkpoint are mutually exclusive "
                 "(a warm-up run would mark every bucket finished)")
    for _ in range(args.warmup):
        w = validate_repo_table(spark, df, n_buckets=args.buckets,
                                n_salts=args.salts,
                                chunk_size=args.chunk_size,
                                max_err_rate=args.max_err_rate)
        # caches nothing: a run without a checkpoint persists no plan
        # the timed run could read
        constraint_summary(key_counts(df), w.verdict_rows, w.key_sketch)

    first_job = _next_job_id(spark)
    t0 = time.perf_counter()
    # the constraint suite's key aggregate and the validation scan are
    # INDEPENDENT passes over the same table — submit the key aggregate
    # from a second thread so the scheduler pipelines it into the task
    # slots the Python-bound derive pass leaves idle (the scan tasks
    # spend most of their JVM time blocked on Arrow round-trips to the
    # Python workers, while the key aggregate is pure JVM and reads no
    # content). Drift and content completeness come from the length
    # histograms in the scan's verdict rows, so no constraint job reads
    # content, and the uniqueness screen's key sketch rides the scan, so
    # the key leg is declarative aggregates only (no HLL++). On a real
    # cluster this is two concurrent jobs in one SparkSession, standard
    # scheduling.
    from concurrent.futures import ThreadPoolExecutor

    def _grouped_keys():
        # pinned-thread mode (Spark 3.2+ default): job-group properties
        # are per-Python-thread, so the two concurrent legs' stages are
        # attributable separately in the status store
        spark.sparkContext.setJobGroup("timed-constraints",
                                       "constraint suite (overlapped)")
        try:
            return key_counts(df)
        finally:
            spark.sparkContext.setJobGroup("", "")

    spark.sparkContext.setJobGroup("timed-validate",
                                   "validation scan + verdicts")
    try:
        with ThreadPoolExecutor(max_workers=1) as ex:
            f_keys = ex.submit(_grouped_keys)
            res = validate_repo_table(
                spark, df, checkpoint_dir=args.checkpoint,
                n_buckets=args.buckets, n_salts=args.salts,
                chunk_size=args.chunk_size, max_err_rate=args.max_err_rate)
            # at most n_buckets verdict rows and the violation count,
            # already on the driver: no Spark job sums or counts them
            verdicts = res.verdict_rows.to_dict("records")
            t_validate = time.perf_counter() - t0
            rep = constraint_summary(f_keys.result(), res.verdict_rows,
                                     res.key_sketch)
        dt = time.perf_counter() - t0
    finally:
        # also when the scan raises: later jobs of the session's thread
        # must not run under the measured group
        spark.sparkContext.setJobGroup("", "")
    task_times = _group_task_times(
        spark, ("timed-validate", "timed-constraints"), first_job)
    summary = verdict_summary(verdicts)
    out = {
        **summary,
        "n_violation_rows": res.n_violation_rows,
        "resumed_buckets": len(res.resumed_buckets),
        "wall_sec": round(dt, 3),
        "validate_sec": round(t_validate, 3),
        "constraints_sec": round(dt - t_validate, 3),
        # summed executor task time per overlapped leg (r04 verdict #7:
        # the wall-clock ratio alone cannot show whether the overlap
        # thread penalizes the small-core leg — task time can)
        "task_time_sec": task_times,
        "files_per_sec": round(summary["rows"] / dt, 1),
        "cpus": args.cpus,
        "constraints": rep,
    }
    line = json.dumps(out)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line + "\n")
    return out


if __name__ == "__main__":
    main()
