"""Per-layer probes of the traced run (``--trace 1``).

Each probe calls one module's public functions on the workload's own
input, inside a span, at the 4-CPU leg's pinning. Table probes run on
the workload's table (json-skew: the parquet table; append-stream: the
last snapshot). Stream probes run on an Iceberg append chain
(append-stream: the chain the timed leg just ran; json-skew: a small
chain of the same mix, so every layer reports on every workload).

Which end-to-end metric each layer metric should move is recorded in
README.md next to this file.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

N_BUCKETS, N_SALTS, MAX_ERR = 64, 8, 0.02
CORE_SAMPLE_DOCS = 20_000
SCAN_BATCH_ROWS = 10_000   # spark.sql.execution.arrow.maxRecordsPerBatch


def _quiet(fn, *a):
    """Call ``fn`` with its stdout report sent to stderr."""
    with contextlib.redirect_stdout(sys.stderr):
        return fn(*a)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _projection(df):
    """The scan pass's projection, as ``validate_repo_table`` builds it."""
    from pyspark.sql import functions as F

    from schema_guru_spark.pipeline import DEFAULT_LANGS, bucket_expr
    return (df.withColumn("bucket", bucket_expr(N_BUCKETS, N_SALTS))
              .select("bucket", "repo", "lang",
                      F.when(F.col("lang") == "json", F.col("content"))
                       .alias("content"),
                      F.coalesce(F.sha2("content", 256) ==
                                 F.col("content_sha"),
                                 F.lit(False)).alias("sha_ok"),
                      F.coalesce(F.col("lang").isin(list(DEFAULT_LANGS)),
                                 F.lit(False)).alias("lang_ok")))


def _slim(df):
    """constraint_report's slim projection (one pass, cached)."""
    from pyspark.sql import functions as F

    from schema_guru_spark.pipeline import bucket_expr
    return (df.withColumn("bucket", bucket_expr(N_BUCKETS, N_SALTS))
              .select("bucket", "repo",
                      F.length("content").alias("clen"),
                      F.xxhash64(F.lit(0x5EED0), "repo", "path", "commit")
                       .alias("kh1"),
                      F.xxhash64(F.lit(0x5EED1), "repo", "path", "commit")
                       .alias("kh2")))


def _drop_every(df, k: int):
    """A repo dimension that misses every k-th repo (RI orphans > 0)."""
    repos = sorted(r["repo"] for r in df.select("repo").distinct().collect())
    kept = [(r,) for i, r in enumerate(repos) if i % k]
    return df.sparkSession.createDataFrame(kept, "repo string")


def table_probes(w, spark, tracer) -> dict:
    from schema_guru_spark import run_validation
    from schema_guru_spark.operators import constraints as C
    from schema_guru_spark.pipeline import (constraint_report,
                                            key_violation_rows,
                                            validate_repo_table)
    m: dict = {}
    S = tracer.span
    path = w.table_path()
    argv = ["--input", path, "--cpus", "4", "--buckets", str(N_BUCKETS),
            "--salts", str(N_SALTS), "--max-err-rate", str(MAX_ERR)]

    # the job without its own job group, then traced: the overhead is
    # the difference of the walls (the span's status-store reads happen
    # outside the timed interval)
    walls = {}
    for name, group in (("job.validation.untagged", False),
                        ("job.validation.traced", True)):
        with S(name, group=group) as sp:
            _quiet(run_validation.main, argv)
        walls[name] = sp["wall_s"]
        spark.catalog.clearCache()
    job_wall = walls["job.validation.traced"]
    m["trace.overhead_s"] = job_wall - walls["job.validation.untagged"]

    df = w.table_df(spark)
    with S("sources.scan") as sp:
        _noop(df.select("repo", "path", "lang", "content", "content_sha"))
    m["sources.scan_s"] = sp["wall_s"]

    with S("pipeline.validate") as sp:
        res = validate_repo_table(spark, df, n_buckets=N_BUCKETS,
                                  n_salts=N_SALTS, max_err_rate=MAX_ERR)
        n_viol = res.violations.count()
        res.verdicts.collect()
    spark.catalog.clearCache()
    m.update({"pipeline.validate_s": sp["wall_s"],
              "pipeline.validate_task_s": sp["executor_run_s"],
              "pipeline.validate_cpu_s": sp["executor_cpu_s"],
              "pipeline.shuffle_write_bytes": sp["shuffle_write_bytes"],
              "pipeline.shuffle_records": sp["shuffle_write_records"],
              "pipeline.spill_bytes": sp["spill_bytes"],
              "pipeline.violation_rows": n_viol})

    proj = _projection(df)
    with S("pipeline.arrow_roundtrip") as sp:
        _noop(proj.mapInPandas(lambda it: (b.iloc[:0] for b in it),
                               proj.schema))
    m["pipeline.arrow_roundtrip_s"] = sp["wall_s"]

    with S("pipeline.key_violations") as sp:
        dims = _drop_every(df, 10)
        key_violation_rows(df, repo_dims=dims, n_buckets=N_BUCKETS,
                           n_salts=N_SALTS).collect()
    m["pipeline.key_violations_s"] = sp["wall_s"]

    with S("constraints.report") as sp:
        constraint_report(spark, df, n_buckets=N_BUCKETS, n_salts=N_SALTS)
    m.update({"constraints.report_s": sp["wall_s"],
              "constraints.report_task_s": sp["executor_run_s"],
              "constraints.shuffle_write_bytes": sp["shuffle_write_bytes"]})
    m["job.overlap_gain_s"] = (m["pipeline.validate_s"]
                               + m["constraints.report_s"] - job_wall)

    with S("constraints.slim"):
        slim = _slim(df).persist()
        slim.count()
        dims = slim.select("repo").distinct()
    with S("constraints.uniqueness") as sp:
        C.uniqueness_hashed(slim, ["kh1", "kh2"], prehashed=True).collect()
    m["constraints.uniqueness_s"] = sp["wall_s"]
    with S("constraints.ri") as sp:
        C.referential_violations(slim.select("repo"), dims,
                                 "repo", "repo").count()
    m["constraints.ri_s"] = sp["wall_s"]
    with S("constraints.psi") as sp:
        C.drift_psi_report(slim, "clen", "bucket")
    m["constraints.psi_s"] = sp["wall_s"]
    slim.unpersist()
    return m


def _json_docs(w) -> list[str]:
    """The first CORE_SAMPLE_DOCS JSON docs of the table, read straight
    from its parquet data files (deterministic file and row order)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    docs: list[str] = []
    for d, _, names in sorted(os.walk(w.table_path())):
        for f in sorted(n for n in names if n.endswith(".parquet")):
            t = pq.read_table(os.path.join(d, f), columns=["lang", "content"])
            texts = t.filter(pc.equal(t["lang"], "json"))["content"]
            docs += [x for x in texts.to_pylist() if x is not None]
            if len(docs) >= CORE_SAMPLE_DOCS:
                return docs[:CORE_SAMPLE_DOCS]
    return docs


def core_probes(w, tracer) -> dict:
    """Driver-side kernel timings on a seeded sample of the workload's
    JSON docs, in per-bucket batches shaped like the scan pass's."""
    from schema_guru_spark.core.accumulate_batch import fold_docs
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.json_fast import loads as fast_loads
    from schema_guru_spark.core.microschema import (ZERO, dumps, loads,
                                                    merge, render)
    from schema_guru_spark.core.transforms import apply_transforms
    ctx = SchemaContext.make(0)
    with tracer.span("core.sample"):
        docs = _json_docs(w)
    m = {"core.distinct_doc_ratio": len(set(docs)) / max(len(docs), 1)}
    with tracer.span("core.parse") as sp:
        parsed = []
        for d in docs:
            try:
                parsed.append(fast_loads(d))
            except (ValueError, TypeError):
                pass
    m["core.parse_us_per_doc"] = sp["wall_s"] / len(docs) * 1e6
    ok = [p for p in parsed if isinstance(p, (dict, list))]
    # a scan batch of SCAN_BATCH_ROWS rows holds ~40% JSON spread over
    # N_BUCKETS buckets: fold per (batch, bucket)
    per_batch = max(1, int(SCAN_BATCH_ROWS * 0.4))
    states = []
    with tracer.span("core.fold") as sp:
        for i in range(0, len(ok), per_batch):
            batch = ok[i:i + per_batch]
            for b in range(N_BUCKETS):
                st: dict = {}
                chunk = batch[b::N_BUCKETS]
                if chunk:
                    fold_docs(st, chunk, ctx)
                    states.append(st)
    m["core.fold_us_per_doc"] = sp["wall_s"] / max(len(ok), 1) * 1e6
    with tracer.span("core.state_codec") as sp:
        decoded = [loads(dumps(s)) for s in states]
    m["core.state_codec_us_per_state"] = (sp["wall_s"]
                                          / max(len(states), 1) * 1e6)
    with tracer.span("core.merge") as sp:
        acc = ZERO
        for s in decoded:
            acc = merge(acc, s, ctx)
    m["core.merge_us_per_state"] = sp["wall_s"] / max(len(decoded), 1) * 1e6
    reps = 20
    with tracer.span("core.render") as sp:
        for _ in range(reps):
            render(apply_transforms(acc, ctx), ctx)
    m["core.render_ms"] = sp["wall_s"] / reps * 1e3
    return m


def stream_probes(stream, spark, tracer, leg) -> dict:
    """Metadata planning, checkpoint and cumulative-merge metrics of an
    append chain (``leg`` is the chain's timed result)."""
    from schema_guru_spark.plans.checkpoint import CheckpointManager
    from schema_guru_spark.sources.iceberg_meta import (load_table_metadata,
                                                        plan_incremental)
    table, ckpt = stream.meta["table"], leg["ckpt"]
    snaps = sorted(s["snapshot-id"]
                   for s in load_table_metadata(table)["snapshots"])
    base = stream.meta["base_snapshot"]
    windows = [(a, b) for a, b in zip(snaps, snaps[1:]) if a >= base]
    plan_s, n_files = [], 0
    with tracer.span("sources.plan_incremental"):
        for a, b in windows:
            t0 = time.perf_counter()
            plan = plan_incremental(table, a, b)
            plan_s.append(time.perf_counter() - t0)
            n_files = len(plan.data)
    deltas = sorted(d for d in os.listdir(ckpt)
                    if os.path.isdir(os.path.join(ckpt, d)))
    with tracer.span("checkpoint.finished_buckets") as sp:
        CheckpointManager(spark, os.path.join(ckpt, deltas[-1])) \
            .finished_buckets()
    ck_bytes = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(ckpt) for f in fs)
    rows = leg["runs"][-1]["rep"]["cumulative"]["rows"]
    cum = leg["cumulative_report_walls"]
    return {
        "sources.plan_incremental_s": statistics.median(plan_s),
        "sources.files_planned": n_files,
        "sources.append_commit_s": statistics.median(leg["commit_walls"]),
        "checkpoint.finished_buckets_s": sp["wall_s"],
        "checkpoint.bytes_per_row": ck_bytes / max(rows, 1),
        "incremental.cumulative_report_s_first": cum[0],
        "incremental.cumulative_report_s_last": cum[-1],
        "incremental.base_validate_s": leg["base_s"],
        "incremental.append_validate_s": statistics.median(leg["walls"]),
    }


def run_all(w, spark, tracer, leg4, stream_cls) -> dict:
    """Every per-layer probe for workload ``w`` after its 4-CPU leg;
    ``stream_cls`` builds the small append chain for table workloads."""
    m = table_probes(w, spark, tracer)
    m.update(core_probes(w, tracer))
    if w.name == "append-stream":
        stream, chain = w, leg4
    else:
        stream = stream_cls(w.args, tracer, w.checks, scale="tiny")
        with tracer.span("gen.stream"):
            stream.prepare(spark)
        stream.warm(spark, 4)
        state = stream.begin(spark, 4, "incremental.base_validate@4cpu")
        chain = stream.timed(spark, 4, state, 2)   # first and last append
    m.update(stream_probes(stream, spark, tracer, chain))
    return m
