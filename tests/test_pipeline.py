"""End-to-end repo-table validation: synthesis, verdicts, violations,
sha256 invariant, checkpoint/resume."""

import json

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from schema_guru_spark.pipeline import (
    bucket_expr, constraint_report, validate_repo_table,
)
from schema_guru_spark.plans.checkpoint import CheckpointManager
from schema_guru_spark.sources.repo_table import synthesize_repo_table

N_FILES = 2000
N_BUCKETS = 8


@pytest.fixture(scope="module")
def repo_df(spark):
    return synthesize_repo_table(spark, N_FILES, n_repos=20).cache()


def test_synthesis_deterministic(spark, repo_df):
    again = synthesize_repo_table(spark, N_FILES, n_repos=20)
    a = sorted(tuple(r) for r in repo_df.collect())
    b = sorted(tuple(r) for r in again.collect())
    assert a == b
    assert repo_df.columns == ["repo", "path", "commit", "lang", "content",
                               "content_sha"]


def test_synthesis_skew(repo_df):
    top = (repo_df.groupBy("repo").count().orderBy(F.desc("count"))
           .first())
    # mega-repo: ~30% of rows
    assert top["count"] > 0.2 * N_FILES


def test_validate_basic(spark, repo_df):
    res = validate_repo_table(spark, repo_df, n_buckets=N_BUCKETS)
    verd = res.verdicts.collect()
    assert len(verd) == N_BUCKETS
    total_rows = sum(r["n_rows"] for r in verd)
    assert total_rows == N_FILES
    # ~1% of json rows are deliberately truncated -> parse errors
    total_err = sum(r["n_json_err"] for r in verd)
    assert total_err > 0
    failed = [r for r in verd if not r["passed"]]
    assert failed  # strict default: corrupt docs force bucket failures
    # with an error tolerance above the ~1% corruption rate, parse dirt
    # no longer fails buckets (violation rows still emitted)
    tol = validate_repo_table(spark, repo_df, n_buckets=N_BUCKETS,
                              max_err_rate=0.05)
    tol_verd = tol.verdicts.collect()
    assert all(r["passed"] for r in tol_verd)
    assert sum(r["n_json_err"] for r in tol_verd) == total_err
    # every bucket got a merged schema; valid buckets' schema has pkg keys
    sch = json.loads(verd[0]["schema"])
    assert sch.get("type") == "object"
    props = sch["properties"]
    assert props["uuid"]["format"] == "uuid"
    assert props["created"]["format"] == "date-time"
    assert props["homepage"]["format"] == "uri"
    assert props["meta"]["properties"]["archived"]["type"] == "boolean"
    # violations carry (repo, lang, bucket)
    v = res.violations.collect()
    assert len(v) == total_err
    assert all(r["lang"] == "json" for r in v)


def test_sha_invariant_violations(spark, tmp_path):
    from schema_guru_spark.sources.repo_table import write_repo_table
    p = str(tmp_path / "repo_bad")
    write_repo_table(spark, p, 500, n_repos=5, corrupt_shas=10)
    df = spark.read.parquet(p)
    res = validate_repo_table(spark, df, n_buckets=4)
    sha_bad = res.verdicts.agg(F.sum("n_sha_bad")).collect()[0][0]
    assert sha_bad == 10  # exact planting (r05: was binomial-in-expectation)
    v = res.violations.where(F.col("detail") == "sha256 mismatch")
    assert v.count() == sha_bad


def test_checkpoint_resume(spark, repo_df, tmp_path):
    ck = str(tmp_path / "ckpt")
    # first run: only 2 chunks of 2 buckets => simulate partial completion
    res1 = validate_repo_table(spark, repo_df, checkpoint_dir=ck,
                               n_buckets=N_BUCKETS, chunk_size=3)
    assert sorted(res1.processed_buckets) == list(range(N_BUCKETS))

    # second run resumes: nothing left to do, results still visible
    res2 = validate_repo_table(spark, repo_df, checkpoint_dir=ck,
                               n_buckets=N_BUCKETS, chunk_size=3)
    assert res2.processed_buckets == []
    assert res2.resumed_buckets == list(range(N_BUCKETS))
    assert res2.verdicts.select("bucket").distinct().count() == N_BUCKETS

    mgr = CheckpointManager(spark, ck)
    assert mgr.finished_buckets() == set(range(N_BUCKETS))


def test_resume_skips_finished_work(spark, repo_df, tmp_path):
    """Kill mid-run (emulated by pre-recording some buckets as done) ->
    restart only processes the rest."""
    ck = str(tmp_path / "ckpt2")
    mgr = CheckpointManager(spark, ck)
    mgr.record_done([{"bucket": b, "n_rows": 0, "n_ok": 0, "n_err": 0}
                     for b in range(4)])
    res = validate_repo_table(spark, repo_df, checkpoint_dir=ck,
                              n_buckets=N_BUCKETS)
    assert res.processed_buckets == [4, 5, 6, 7]
    assert res.resumed_buckets == [0, 1, 2, 3]


def test_finished_buckets_missing_manifest_is_empty(spark, tmp_path):
    """No manifest yet (a fresh checkpoint, or one whose manifest was
    lost) means nothing finished."""
    mgr = CheckpointManager(spark, str(tmp_path / "fresh"))
    assert mgr.finished_buckets() == set()


def test_finished_buckets_reads_manifest_once(spark, tmp_path):
    """The manifest is written and read with pyarrow on the driver: no
    Spark job for either, and every append is one more file."""
    import os
    from schema_guru_spark.run_validation import _next_job_id
    mgr = CheckpointManager(spark, str(tmp_path / "ck"))
    lo = _next_job_id(spark)
    mgr.record_done([{"bucket": b, "n_rows": 1} for b in (0, 2, 2)])
    mgr.record_done([{"bucket": 5, "n_rows": 1}])
    assert mgr.finished_buckets() == {0, 2, 5}
    assert _next_job_id(spark) - lo == 0
    assert len(os.listdir(mgr.manifest_path)) == 2


def test_finished_buckets_corrupt_manifest_raises(spark, repo_df,
                                                  tmp_path):
    """An unreadable manifest must fail the run, not read as 'no bucket
    done' and silently recompute (and re-append) every bucket."""
    ck = tmp_path / "ck"
    (ck / "manifest").mkdir(parents=True)
    (ck / "manifest" / "part-00000.parquet").write_bytes(b"not parquet")
    mgr = CheckpointManager(spark, str(ck))
    with pytest.raises(Exception, match="magic bytes not found"):
        mgr.finished_buckets()
    with pytest.raises(Exception, match="magic bytes not found"):
        validate_repo_table(spark, repo_df, checkpoint_dir=str(ck),
                            n_buckets=N_BUCKETS)


def test_checkpoint_dir_must_be_driver_local(spark, repo_df, tmp_path):
    """Checkpoints are read and written with local file I/O on the
    driver: a non-file URI scheme is refused before any scan, and a
    file: URI means its local path."""
    from schema_guru_spark.run_validation import _next_job_id
    lo = _next_job_id(spark)
    with pytest.raises(ValueError, match="'s3a'.*driver-local"):
        validate_repo_table(spark, repo_df, checkpoint_dir="s3a://b/ck",
                            n_buckets=N_BUCKETS)
    assert _next_job_id(spark) == lo
    mgr = CheckpointManager(spark, f"file://{tmp_path}/ck")
    mgr.record_done([{"bucket": 1}])
    assert CheckpointManager(spark, str(tmp_path / "ck")) \
        .finished_buckets() == {1}


def test_manifest_metrics_round_trip(spark, repo_df, tmp_path):
    """The checkpoint branch derives the manifest metrics from the
    verdict rows it collected through Arrow: the JSON metrics hold real
    booleans (true/false, never the string "True"), and every manifest
    row agrees with its bucket's verdict."""
    ck = str(tmp_path / "ck")
    res = validate_repo_table(spark, repo_df, checkpoint_dir=ck,
                              n_buckets=N_BUCKETS, chunk_size=5)
    verd = {r["bucket"]: r for r in res.verdicts.collect()}
    man = CheckpointManager(spark, ck).manifest().collect()
    assert sorted(r["bucket"] for r in man) == list(range(N_BUCKETS))
    for r in man:
        metrics = json.loads(r["metrics"])
        assert metrics == {"passed": verd[r["bucket"]]["passed"]}
        assert type(metrics["passed"]) is bool
        assert (r["status"], r["n_rows"], r["n_ok"], r["n_err"]) == (
            "done", verd[r["bucket"]]["n_rows"],
            verd[r["bucket"]]["n_json_ok"], verd[r["bucket"]]["n_json_err"])
    # the strict default fails some buckets: both values round-trip
    assert {json.loads(r["metrics"])["passed"] for r in man} == {True, False}


def test_bucket_salting_spreads_megarepo(spark, repo_df):
    n_salts = 8
    buckets = (repo_df.withColumn("b", bucket_expr(64, n_salts))
               .where(F.col("repo").rlike("repo000"))
               .select("b").distinct().count())
    # the mega-repo spans ~n_salts buckets, not one
    assert buckets >= n_salts // 2


def test_constraint_report(spark, repo_df):
    rep = constraint_report(spark, repo_df, n_buckets=N_BUCKETS)
    assert rep["keys_unique"] is True
    assert rep["hll_ok"] is True
    assert rep["n_ri_orphans"] == 0  # self-derived dim resolves all
    assert rep["worst_bucket_psi"] < 0.25  # buckets are hash-uniform


def test_constraint_report_ri_orphans(spark, repo_df):
    # an incomplete external dim: drop one repo -> its rows are orphans
    full = repo_df.select("repo").distinct()
    missing = full.orderBy("repo").limit(1).collect()[0]["repo"]
    dims = full.where(F.col("repo") != missing)
    rep = constraint_report(spark, repo_df, n_buckets=N_BUCKETS,
                            repo_dims=dims)
    expected = repo_df.where(F.col("repo") == missing).count()
    assert rep["n_ri_orphans"] == expected > 0


def test_drift_psi_report_matches_sql_path(spark, repo_df):
    from schema_guru_spark.operators import constraints as C
    from schema_guru_spark.pipeline import bucket_expr
    slim = (repo_df.withColumn("bucket", bucket_expr(N_BUCKETS, 4))
            .select("bucket", F.length("content").alias("clen")))
    sql_path = {r["bucket"]: r["psi"]
                for r in C.drift_by_partition(slim, "clen", "bucket").collect()}
    fast_path = C.drift_psi_report(slim, "clen", "bucket")
    assert set(sql_path) == set(fast_path)
    for b in sql_path:
        assert abs(sql_path[b] - fast_path[b]) < 1e-6, (b, sql_path[b],
                                                        fast_path[b])


def test_planted_duplicate_keys_detected(spark, tmp_path):
    from schema_guru_spark.operators import constraints as C
    from schema_guru_spark.sources.repo_table import write_repo_table
    p = str(tmp_path / "repo_dups")
    write_repo_table(spark, p, 600, n_repos=5, dup_keys=7)
    df = spark.read.parquet(p)
    uniq = C.uniqueness_exact(df, ["repo", "path", "commit"]).collect()[0]
    assert uniq["n_rows"] == 600
    assert uniq["n_duplicates"] == 7
    assert uniq["is_unique"] is False
    # the violating tuples are recoverable with their multiplicity
    rows = C.duplicate_key_rows(df, ["repo", "path", "commit"]).collect()
    assert len(rows) == 7
    assert all(r["n_occurrences"] == 2 for r in rows)
    # report pipeline sees them too (hashed screen)
    rep = constraint_report(spark, df, n_buckets=N_BUCKETS)
    assert rep["keys_unique"] is False
    assert rep["n_rows"] - rep["n_exact_distinct"] == 7


def test_planted_drift_detected(spark, tmp_path):
    from schema_guru_spark.sources.repo_table import write_repo_table
    base = str(tmp_path / "repo_base")
    drift = str(tmp_path / "repo_drift")
    write_repo_table(spark, base, 2000, n_repos=5)
    target = spark.read.parquet(base).groupBy("repo").count() \
        .orderBy(F.desc("count")).collect()[1]["repo"]  # 2nd-largest repo
    write_repo_table(spark, drift, 2000, n_repos=5, drift_repo=target)
    # 64 buckets x 8 salts: the padded repo concentrates in ~8 buckets
    # (with only 8 buckets the salting would spread it everywhere and
    # dilute the planted shift into the global distribution)
    rep_base = constraint_report(spark, spark.read.parquet(base),
                                 n_buckets=64)
    rep_drift = constraint_report(spark, spark.read.parquet(drift),
                                  n_buckets=64)
    # sha invariant still holds on the padded table
    df = spark.read.parquet(drift)
    assert df.where(F.sha2("content", 256) != F.col("content_sha")).count() == 0
    # the planted shift is visible and substantially above baseline
    assert rep_drift["worst_bucket_psi"] > 3 * rep_base["worst_bucket_psi"]
    assert rep_drift["worst_bucket_psi"] > 0.1


def test_run_validation_table_source(spark, repo_df, capsys):
    """--table reads from the session catalog (Iceberg-style source);
    getOrCreate in the runner reuses this test session, so a temp view
    stands in for the catalog table."""
    import json as _json
    from schema_guru_spark.run_validation import main as run_main
    repo_df.createOrReplaceTempView("repos_v")
    out = run_main(["--table", "repos_v", "--buckets", "4",
                    "--cpus", "4"])
    assert out["rows"] == N_FILES
    assert out["json_ok"] > 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert _json.loads(line)["rows"] == N_FILES


def test_key_violation_rows(spark, tmp_path):
    from schema_guru_spark.pipeline import key_violation_rows
    from schema_guru_spark.sources.repo_table import write_repo_table
    p = str(tmp_path / "repo_kv")
    write_repo_table(spark, p, 400, n_repos=5, dup_keys=3)
    df = spark.read.parquet(p)
    rows = key_violation_rows(df).collect()
    assert len(rows) == 3
    assert all(r["detail"].startswith("duplicate key: ") for r in rows)
    # with an incomplete dim, orphan rows appear too
    dims = df.select("repo").distinct().orderBy("repo").limit(3)
    missing = 5 - 3  # repos not in the dim
    rows2 = key_violation_rows(df, repo_dims=dims).collect()
    kinds = {r["detail"].split(":")[0] for r in rows2}
    assert kinds == {"duplicate key", "ri orphan repo"}


def test_ks_sketch_close_to_exact(spark, sf_dir):
    from schema_guru_spark.operators import constraints as C
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = C.ks_two_sample(li, "l_quantity", "l_linestatus",
                            "O", "F").collect()[0]["ks_stat"]
    approx = C.ks_two_sample_sketch(li, "l_quantity", "l_linestatus",
                                    "O", "F")
    assert abs(approx - exact) < 0.02, (approx, exact)
    # a genuinely shifted pair must register a large statistic
    shifted = li.withColumn(
        "l_quantity",
        F.when(F.col("l_linestatus") == "O",
               F.col("l_quantity") + 30).otherwise(F.col("l_quantity")))
    big = C.ks_two_sample_sketch(shifted, "l_quantity", "l_linestatus",
                                 "O", "F")
    assert big > 0.5


def test_bucket_balance_under_megarepo_skew(spark, repo_df):
    """The salted bucketing must keep the mega-repo (~30% of rows) from
    hot-spotting: no bucket may exceed a small multiple of the mean."""
    counts = [r["n"] for r in
              (repo_df.withColumn("b", bucket_expr(64, 8))
               .groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect())]
    mean = sum(counts) / len(counts)
    assert max(counts) <= 5 * mean, (max(counts), mean)


def test_crash_between_sink_and_manifest_does_not_duplicate(spark, repo_df,
                                                            tmp_path):
    """Kill window: data sinks written, manifest append lost. On
    restart the chunk re-runs; the per-chunk OVERWRITE sink must
    converge instead of appending duplicates. The violation count and
    the key sketch come from the rewritten scan sinks, so they equal
    the first run's too."""
    import shutil
    ck = str(tmp_path / "ckpt3")
    res1 = validate_repo_table(spark, repo_df, checkpoint_dir=ck,
                               n_buckets=N_BUCKETS, chunk_size=3)
    n_verd = res1.verdicts.count()
    n_viol = res1.violations.count()
    # simulate the crash: manifest lost, data sinks survive
    shutil.rmtree(f"{ck}/manifest")
    res2 = validate_repo_table(spark, repo_df, checkpoint_dir=ck,
                               n_buckets=N_BUCKETS, chunk_size=3)
    assert res2.verdicts.count() == n_verd == N_BUCKETS
    assert res2.violations.count() == n_viol
    assert res2.n_violation_rows == res1.n_violation_rows == n_viol
    assert res2.key_sketch.tobytes() == res1.key_sketch.tobytes()
    assert res1.key_sketch.any()
    # one verdict row per bucket, not two
    per_bucket = res2.verdicts.groupBy("bucket").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)


def _bucket_filters(spark, after):
    """The bucket-membership predicates (``IN (...)`` / ``INSET``) of the
    filters and partition filters executed after SQL execution
    ``after``. The lang allow-list's IN sits in a projection, never in
    a filter."""
    import re
    from conftest import executed_plans
    pat = re.compile(r"^(Condition|PartitionFilters)\s*:.*(\bIN \(|\bINSET\b)",
                     re.M)
    return [m.group(0) for _, plan in executed_plans(spark, after)
            for m in pat.finditer(plan)]


def test_bucket_filter_only_where_it_can_remove_rows(spark, repo_df,
                                                     tmp_path):
    """A chunk of every bucket over a bucket column computed in the call
    scans unfiltered (the column is never NULL and lies in
    [0, n_buckets)); a partial chunk and a resumed run filter, and every
    run's verdicts equal the one-chunk run's, bucket for bucket."""
    from conftest import last_execution_id

    def verdicts(res):
        return sorted(tuple(r) for r in res.verdicts.collect())

    e0 = last_execution_id(spark)
    one = verdicts(validate_repo_table(spark, repo_df, n_buckets=N_BUCKETS))
    assert _bucket_filters(spark, e0) == []
    assert [r[0] for r in one] == list(range(N_BUCKETS))

    e0 = last_execution_id(spark)
    chunked = verdicts(validate_repo_table(spark, repo_df,
                                           n_buckets=N_BUCKETS,
                                           chunk_size=3))
    assert _bucket_filters(spark, e0)
    assert chunked == one

    ck = str(tmp_path / "resumed")
    CheckpointManager(spark, ck).record_done(
        [{"bucket": b, "n_rows": 0, "n_ok": 0, "n_err": 0}
         for b in range(3)])
    e0 = last_execution_id(spark)
    res = validate_repo_table(spark, repo_df, checkpoint_dir=ck,
                              n_buckets=N_BUCKETS)
    assert res.processed_buckets == list(range(3, N_BUCKETS))
    assert _bucket_filters(spark, e0)
    assert verdicts(res) == one[3:]


def test_bucketed_layout_prunes(spark, tmp_path):
    """materialize_bucketed writes bucket=N/ directories; the validation's
    chunk filter over that layout prunes at the scan, and verdicts match
    the compute-bucket-per-run path exactly."""
    from conftest import last_execution_id, scan_metrics
    from schema_guru_spark.pipeline import (
        materialize_bucketed, validate_repo_table)
    from schema_guru_spark.sources.repo_table import synthesize_repo_table

    df = synthesize_repo_table(spark, 2000)
    path = str(tmp_path / "repo_bucketed")
    materialize_bucketed(df, path, n_buckets=16, n_salts=4)

    bucketed = spark.read.parquet(path)
    import glob
    n_dirs = len(glob.glob(path + "/bucket=*"))
    assert n_dirs > 4  # layout materialized

    # a chunk filter physically reads only its directories
    chunk = [0, 1, 2]
    sub = bucketed.where(F.col("bucket").isin(chunk))
    sub.count()
    m = scan_metrics(sub)
    assert m.get("numPartitions", 99) <= len(chunk), m

    # identical verdicts through both layouts; the materialized layout
    # keeps its bucket filter even for a chunk of every bucket (there it
    # is a partition filter)
    e0 = last_execution_id(spark)
    r_layout = validate_repo_table(spark, bucketed, n_buckets=16, n_salts=4,
                                   max_err_rate=0.02)
    assert any("PartitionFilters" in f for f in _bucket_filters(spark, e0))
    r_compute = validate_repo_table(spark, df, n_buckets=16, n_salts=4,
                                    max_err_rate=0.02)
    a = sorted(tuple(r) for r in r_layout.verdicts
               .select("bucket", "n_rows", "n_json_ok", "n_json_err",
                       "passed").collect())
    b = sorted(tuple(r) for r in r_compute.verdicts
               .select("bucket", "n_rows", "n_json_ok", "n_json_err",
                       "passed").collect())
    assert a == b


def test_constraint_report_completeness(spark, repo_df):
    rep = constraint_report(spark, repo_df, n_buckets=N_BUCKETS)
    # synthesized table has fully-populated key columns
    assert rep["keys_complete"] is True
    assert rep["completeness"]["repo"] == 1.0
    assert 0.0 <= rep["completeness"]["content"] <= 1.0
    # planted null keys must show up
    from pyspark.sql import functions as F
    holed = repo_df.withColumn(
        "path", F.when(F.rand(seed=1) < 0.5, F.col("path")))
    rep2 = constraint_report(spark, holed, n_buckets=N_BUCKETS)
    assert rep2["keys_complete"] is False
    assert 0.3 < rep2["completeness"]["path"] < 0.7


def test_constraint_report_empty_table_and_tiny_null(spark):
    from pyspark.sql import functions as F
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, "
            "content string")
    rep = constraint_report(spark, empty, n_buckets=N_BUCKETS)
    assert rep["n_rows"] == 0 and rep["keys_complete"] is True
    # ONE null key among many rows must still flip the verdict even
    # though the rounded fraction is 1.0
    df = synthesize_repo_table(spark, 2000)
    holed = df.withColumn(
        "commit", F.when(F.col("path") != df.first()["path"],
                         F.col("commit")))
    rep2 = constraint_report(spark, holed, n_buckets=N_BUCKETS)
    assert rep2["keys_complete"] is False
    assert rep2["key_null_counts"]["commit"] >= 1


def test_layout_sidecar_rejects_parameter_mismatch(spark, tmp_path):
    """ADVICE r02: a layout materialized under different (n_buckets,
    n_salts) has different row-to-bucket membership even when every
    bucket id falls in range — the sidecar must catch what the bare
    range check cannot."""
    from schema_guru_spark.pipeline import (
        materialize_bucketed, validate_repo_table)
    from schema_guru_spark.sources.repo_table import synthesize_repo_table

    df = synthesize_repo_table(spark, 400)
    path = str(tmp_path / "repo_layout")
    materialize_bucketed(df, path, n_buckets=16, n_salts=4)
    bucketed = spark.read.parquet(path)

    # same n_buckets, different n_salts: range check alone would pass
    with pytest.raises(ValueError, match="materialized with"):
        validate_repo_table(spark, bucketed, n_buckets=16, n_salts=8)
    # matching parameters still run
    res = validate_repo_table(spark, bucketed, n_buckets=16, n_salts=4,
                              max_err_rate=0.02)
    assert res.verdicts.count() > 0


def test_keyed_infer_parses_each_distinct_doc_once(monkeypatch):
    """VERDICT r02 #5: the per-key fold (core fold_keyed, behind
    infer_json_column_by_key's phase 1) factorizes documents, so a
    duplicate-heavy batch costs O(distinct) Python parses, not O(rows)
    — same kernel as the global derive pass."""
    import pandas as pd

    from schema_guru_spark.core import json_fast
    from schema_guru_spark.core.accumulate_batch import fold_keyed
    from schema_guru_spark.core.context import SchemaContext

    fast_loads = json_fast.loads
    ctx = SchemaContext.make(0)
    docs = ['{"a": 1}', '{"a": 2, "b": "x"}', "not-json"]
    pdf = pd.DataFrame({
        "k": ["t1", "t2"] * 300,
        "props": [docs[i % 3] for i in range(600)],
    })
    calls = {"n": 0}

    def counting_loads(text):
        calls["n"] += 1
        return fast_loads(text)

    monkeypatch.setattr(json_fast, "loads", counting_loads)
    accs, counts, _ = fold_keyed(pdf["props"], pdf["k"], ctx)
    assert calls["n"] == 3                      # O(distinct), not 600
    assert set(accs) == {"t1", "t2"}
    # ok/err accounting still per ROW: 600 rows, every 3rd is bad json
    assert counts["t1"][0] + counts["t2"][0] == 400
    assert counts["t1"][1] + counts["t2"][1] == 200

    # bit-parity with the row-at-a-time fold it replaced
    from schema_guru_spark.core.accumulate import accumulate_doc
    from schema_guru_spark.core.microschema import dumps
    ref_accs, ref_counts = {}, {}
    for k, text in zip(pdf["k"], pdf["props"]):
        st = ref_accs.setdefault(k, {})
        c = ref_counts.setdefault(k, [0, 0])
        try:
            v = fast_loads(text)
            if v is None:
                raise ValueError("null content")
            accumulate_doc(st, v, ctx)
            c[0] += 1
        except (ValueError, TypeError):
            c[1] += 1
    assert counts == ref_counts
    for k in ref_accs:
        assert dumps(accs[k]) == dumps(ref_accs[k])


def test_scan_pass_vectorized_equals_naive_reference():
    """The vectorized per-batch scan pass (one factorize per batch,
    fused (bucket, doc) key, lazy repo attribution) must produce the
    exact counters, states and violation rows a naive per-row reference
    would — on a batch that exercises every branch at once: cross-bucket
    duplicate docs (parse-once path), repeated docs in one bucket
    (self-merge law), parse errors, null content, non-json rows, and
    sha/lang violations."""
    import pandas as pd

    from schema_guru_spark.core.accumulate import accumulate_doc
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.json_fast import loads as fast_loads
    from schema_guru_spark.core.microschema import dumps
    from schema_guru_spark.pipeline import HIST_NULL, HIST_SLOTS, _scan_pass

    ctx = SchemaContext.make(0)
    doc_a = '{"k": 1}'
    doc_b = '{"k": "x", "n": 2.5}'
    rows = [
        # (bucket, repo, lang, content, sha_ok, lang_ok)
        (0, "r0", "json", doc_a, True, True),
        (1, "r1", "json", doc_a, True, True),     # same doc, other bucket
        (0, "r2", "json", doc_a, True, True),     # duplicate in bucket 0
        (0, "r3", "json", doc_b, True, True),
        (1, "r4", "json", "{broken", True, True),  # parse error
        (1, "r5", "json", None, True, True),       # null content
        (0, "r6", "py", None, True, True),         # non-json row
        (1, "r7", "md", None, False, True),        # sha violation
        (0, "r8", "go", None, True, False),        # lang violation
    ]
    import numpy as np

    from schema_guru_spark.operators import constraints as C

    pdf = pd.DataFrame(rows, columns=["bucket", "repo", "lang", "content",
                                      "sha_ok", "lang_ok"])
    # the length-bin slot the scan projects JVM-side: any slots; a
    # NULL-content row gets the NULL slot
    pdf["hbin"] = [HIST_NULL if c is None else 7 * i % HIST_NULL
                   for i, c in enumerate(pdf["content"])]
    # the key hash the scan projects for the key sketch: any int64s
    pdf["kh"] = np.random.default_rng(3).integers(
        -2 ** 63, 2 ** 63 - 1, len(rows), dtype=np.int64)
    # two batches: the task's one sketch row covers both
    out = list(_scan_pass(ctx, max_violation_examples=100)(
        iter([pdf.iloc[:4], pdf.iloc[4:]])))
    got = pd.concat(out, ignore_index=True)

    # exactly one sketch row, last, carrying nothing else: the
    # registers of every row's key hash
    is_sketch = got["sketch"].notna()
    assert is_sketch.tolist() == [False] * (len(got) - 1) + [True]
    sk = got[is_sketch].iloc[0]
    assert sk.drop("sketch").isna().all()
    assert sk["sketch"] == C.hll_registers(pdf["kh"]).tobytes()
    got = got[~is_sketch]

    # naive reference: per-row fold
    ref_states: dict[int, dict] = {}
    ref_counters: dict[int, dict] = {}
    for b, repo, lang, content, sha_ok, lang_ok in rows:
        c = ref_counters.setdefault(b, {"n_rows": 0, "n_json_ok": 0,
                                        "n_json_err": 0, "n_sha_bad": 0,
                                        "n_lang_bad": 0})
        c["n_rows"] += 1
        c["n_sha_bad"] += int(not sha_ok)
        c["n_lang_bad"] += int(not lang_ok)
        if lang != "json":
            continue
        if content is None:
            c["n_json_err"] += 1
            continue
        try:
            v = fast_loads(content)
        except (ValueError, TypeError):
            c["n_json_err"] += 1
            continue
        accumulate_doc(ref_states.setdefault(b, {}), v, ctx)
        c["n_json_ok"] += 1

    # partial rows: one per bucket, counters and the state (NULL when
    # the bucket saw no JSON doc); violation rows carry a detail
    partial = got[got["detail"].isna()]
    assert partial["bucket"].is_unique
    got_counters = {int(r["bucket"]): {k: int(r[k]) for k in ref_counters[0]}
                    for _, r in partial.iterrows()}
    assert got_counters == ref_counters

    ref_hists = {b: [0] * HIST_SLOTS for b in ref_counters}
    for b, slot in zip(pdf["bucket"], pdf["hbin"]):
        ref_hists[b][slot] += 1
    assert {int(r["bucket"]): list(r["hist"])
            for _, r in partial.iterrows()} == ref_hists

    got_states = {int(r["bucket"]): r["state"]
                  for _, r in partial.iterrows() if pd.notna(r["state"])}
    assert got_states == {b: dumps(s) for b, s in ref_states.items()}

    viol = got[got["detail"].notna()]
    # one row per violating instance, repo attributed to a real example
    assert sorted(zip(viol["bucket"], viol["detail"])) == sorted([
        (1, "sha256 mismatch"), (0, "lang not allowed"),
        (1, "null content"),
        (1, "invalid JSON: Expecting property name enclosed in double "
            "quotes: line 1 column 2 (char 1)"),
    ])
    # each partial row counts the violation rows yielded for its bucket
    assert {int(r["bucket"]): int(r["n_viol"])
            for _, r in partial.iterrows()} == \
        {b: int((viol["bucket"] == b).sum()) for b in ref_counters}
    by_payload = dict(zip(viol["detail"], viol["repo"]))
    assert by_payload["null content"] == "r5"
    assert by_payload[
        "invalid JSON: Expecting property name enclosed in double quotes: "
        "line 1 column 2 (char 1)"] == "r4"


# ------------------------------------------ driver-side bucket fold

def _combine_reference(ctx, max_err_rate, keep_state):
    """The applyInPandas bucket combine the driver fold replaced, kept
    here as the law's reference: one call per bucket group."""
    import pandas as pd

    from schema_guru_spark.core.microschema import (ZERO, dumps, loads,
                                                     merge, render)
    from schema_guru_spark.core.transforms import apply_transforms
    from schema_guru_spark.pipeline import HIST_SLOTS, bucket_passes

    def fn(pdf):
        acc = ZERO
        c = {"n_rows": 0, "n_json_ok": 0, "n_json_err": 0,
             "n_sha_bad": 0, "n_lang_bad": 0}
        hist = [0] * HIST_SLOTS
        for part in pdf.to_dict("records"):
            if part["state"] is not None:
                acc = merge(acc, loads(part["state"]), ctx)
            for k in c:
                c[k] += part[k]
            hist = [a + b for a, b in zip(hist, part["hist"])]
        row = {"bucket": int(pdf["bucket"].iloc[0]), **c, "hist": hist,
               "schema": json.dumps(render(apply_transforms(acc, ctx), ctx),
                                    sort_keys=True),
               "passed": bucket_passes(c, max_err_rate)}
        if keep_state:
            row["state"] = dumps(acc)
        return pd.DataFrame([row])

    return fn


_PART_DOCS = ('{"a": 1}', '{"a": "x", "b": [1, 2]}', '[true, null]',
              '{"b": 2.5, "c": {"d": null}}', '{}')


_PART_COLUMNS = ["bucket", "n_rows", "n_json_ok", "n_json_err",
                 "n_sha_bad", "n_lang_bad", "hist", "state"]
_PART_SCHEMA = ("bucket int, n_rows bigint, n_json_ok bigint, "
                "n_json_err bigint, n_sha_bad bigint, n_lang_bad bigint, "
                "hist array<bigint>, state string")


def _hist(**slots):
    """A length histogram with the given ``s<slot>=count`` entries."""
    from schema_guru_spark.pipeline import HIST_SLOTS
    h = [0] * HIST_SLOTS
    for k, n in slots.items():
        h[int(k[1:])] = n
    return h


def _counter(bucket, ok=0, err=0, sha=0, lang=0, other=0):
    """A scan pass partial row with counters and no JSON state;
    ``other`` counts non-JSON rows. Its rows' lengths fall in two
    slots, one of them NULL content."""
    from schema_guru_spark.pipeline import HIST_NULL
    n = ok + err + sha + lang + other
    return (bucket, n, ok, err, sha, lang,
            _hist(**{f"s{3 + ok + 2 * err}": n - err,
                     f"s{HIST_NULL}": err}), None)


def _state(bucket, doc):
    """A scan pass partial row with zero counters and a state."""
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import derive_text, dumps
    return (bucket, 0, 0, 0, 0, 0, _hist(),
            dumps(derive_text(_PART_DOCS[doc], SchemaContext.make(0))[0]))


_partial_rows = st.lists(st.one_of(
    st.builds(_counter, st.integers(0, 5), st.integers(0, 4),
              st.integers(0, 4), st.sampled_from((0, 0, 0, 1)),
              st.sampled_from((0, 0, 0, 2)), st.integers(0, 3)),
    st.builds(_state, st.integers(0, 5),
              st.integers(0, len(_PART_DOCS) - 1))), max_size=14)


@settings(max_examples=20, deadline=None)
@given(parts=_partial_rows,
       max_err_rate=st.sampled_from((0.0, 0.25, 1 / 3, 1.0)),
       keep_state=st.booleans())
# bucket 0: error rate exactly at the bound, split over two tasks;
# bucket 1: counters only, no JSON; bucket 2: only parse errors;
# bucket 3: a sha violation beside a clean state
@example(parts=[_counter(0, ok=2, err=1), _state(0, 0), _counter(0, ok=1),
                _state(0, 1), _counter(1, other=3), _counter(2, err=2),
                _counter(3, ok=1, sha=1), _state(3, 3)],
         max_err_rate=0.25, keep_state=True)
@example(parts=[_counter(0, ok=2, err=1), _state(0, 0), _counter(0, ok=1),
                _counter(1, other=3), _counter(2, err=2)],
         max_err_rate=0.25, keep_state=False)
@example(parts=[], max_err_rate=0.0, keep_state=True)   # an empty chunk
@example(parts=[], max_err_rate=0.0, keep_state=False)
def test_driver_fold_equals_bucket_combine(spark, parts, max_err_rate,
                                           keep_state):
    """Law: for ANY set of scan-pass partial rows, the driver fold
    returns what the grouped Spark combine it replaced returned — one
    row per bucket with the same counters, verdict, rendered schema and
    (with keep_state) serialized state, under the verdict schema's
    columns and dtypes."""
    import pandas as pd

    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.pipeline import (_VERDICT_SCHEMA,
                                            _VERDICT_SCHEMA_STATE,
                                            _fold_buckets)
    ctx = SchemaContext.make(0)
    schema = _VERDICT_SCHEMA_STATE if keep_state else _VERDICT_SCHEMA
    got = _fold_buckets(pd.DataFrame(parts, columns=_PART_COLUMNS),
                        ctx, max_err_rate, keep_state=keep_state)
    ref = (spark.createDataFrame(parts, _PART_SCHEMA)
           .groupBy("bucket")
           .applyInPandas(_combine_reference(ctx, max_err_rate, keep_state),
                          schema)
           .toPandas().sort_values("bucket", ignore_index=True))
    ref["hist"] = ref["hist"].map(list)
    pd.testing.assert_frame_equal(got, ref)
    # the fold's frame rebuilds as the verdict relation unchanged
    assert [tuple(r) for r in spark.createDataFrame(got, schema).collect()] \
        == list(got.itertuples(index=False, name=None))


@settings(max_examples=40, deadline=None)
@given(a=_partial_rows, b=_partial_rows,
       max_err_rate=st.sampled_from((0.0, 0.25, 1 / 3, 1.0)),
       keep_state=st.booleans())
# counter-only buckets (no state) on both sides and in one side only
@example(a=[_counter(0, ok=2, err=1), _counter(1, other=3)],
         b=[_counter(1, err=1), _state(2, 1), _counter(2, ok=1)],
         max_err_rate=0.25, keep_state=True)
@example(a=[_counter(0, ok=1), _state(0, 2)], b=[],          # an empty side
         max_err_rate=0.0, keep_state=False)
@example(a=[], b=[], max_err_rate=0.0, keep_state=True)
def test_fold_of_folds_equals_one_fold(a, b, max_err_rate, keep_state):
    """Law: ``_fold_buckets`` over two row sets together equals
    ``_fold_buckets`` over each set's own fold (kept with its state).
    That is what lets one function fold scan-task partials into a
    chunk's verdict rows AND committed deltas' verdict rows into the
    cumulative view: a verdict row is a partial row of the next level."""
    import pandas as pd

    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.pipeline import _fold_buckets
    ctx = SchemaContext.make(0)

    def fold(parts, keep):
        return _fold_buckets(parts, ctx, max_err_rate, keep_state=keep)

    A = pd.DataFrame(a, columns=_PART_COLUMNS)
    B = pd.DataFrame(b, columns=_PART_COLUMNS)
    once = fold(pd.concat([A, B], ignore_index=True), keep_state)
    twice = fold(pd.concat([fold(A, True), fold(B, True)],
                           ignore_index=True), keep_state)
    pd.testing.assert_frame_equal(once, twice)


def test_null_fields_are_violations_not_crashes(spark):
    """Real corpora have NULLs. A NULL content/content_sha/lang makes
    the JVM-side sha/lang flags three-valued; before the coalesce fix
    the NULL crossed Arrow as a pandas object column and the scan
    pass's ``~sha_ok`` crashed with TypeError. NULL-flag rows must be
    counted as violations instead."""
    base = synthesize_repo_table(spark, 200, n_repos=5)
    dirty = base.unionByName(spark.createDataFrame(
        [("rX", "p1", "c1", None, '{"k": 1}',               # null lang
          "4514a0c66d60ecfeb7170caceddfb3d012a7ede1afea4863ba8bcc490"
          "ccf63b8"),  # correct sha: isolate the lang violation
         ("rX", "p2", "c1", "json", None, "0" * 64),         # null content
         ("rX", "p3", "c1", "json", '{"k": 2}', None)],      # null sha
        "repo string, path string, commit string, lang string, "
        "content string, content_sha string"))
    res = validate_repo_table(spark, dirty, n_buckets=N_BUCKETS)
    agg = res.verdicts.agg(
        F.sum("n_rows").alias("rows"), F.sum("n_sha_bad").alias("sha"),
        F.sum("n_lang_bad").alias("lang")).collect()[0]
    assert agg["rows"] == 203
    # null lang -> lang violation; null content / null sha -> sha
    # violations (the invariant cannot be verified, so it fails)
    assert agg["lang"] == 1
    assert agg["sha"] == 2
    details = [r["detail"] for r in res.violations.collect()]
    assert details.count("lang not allowed") == 1
    assert details.count("sha256 mismatch") >= 2


def test_run_validation_empty_table_vacuous_pass(spark, tmp_path):
    """An EMPTY input table reports zero counters and a vacuously
    passing rate 1.0 (same rule as the incremental cumulative view),
    instead of a TypeError on the NULL aggregate row."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from schema_guru_spark.run_validation import main as run_main
    sch = pa.schema([(n, pa.string()) for n in (
        "repo", "path", "commit", "lang", "content", "content_sha")])
    pq.write_table(pa.Table.from_pylist([], schema=sch),
                   str(tmp_path / "empty.parquet"))
    out = run_main(["--input", str(tmp_path), "--cpus", "4"])
    assert out["rows"] == 0 and out["buckets"] == 0
    assert out["pass_rate"] == 1.0
    assert out["constraints"]["keys_unique"]


def test_enum_context_rejected(spark, repo_df):
    """The reference's enum merge is non-commutative and the bucket
    combine folds state rows in shuffle-arrival order — enum-bearing
    contexts would make verdict schemas scheduler-dependent, so the
    job refuses them loudly (same guard as the keyed schema stream)."""
    from schema_guru_spark.core.context import SchemaContext
    with pytest.raises(ValueError, match="enum-free") as exc:
        validate_repo_table(spark, repo_df, n_buckets=N_BUCKETS,
                            ctx=SchemaContext.make(4))
    # the message points at the enum-capable operators that exist
    assert "infer_json_column / infer_json_column_by_key" in str(exc.value)


def test_duplicate_key_rows_ignore_lang(spark):
    """key_violation_rows groups by EXACTLY the uniqueness key
    (repo, path, commit): two rows sharing the key but differing in
    lang ARE a duplicate and must surface, or the violations sink
    would contradict constraint_report's keys_unique=False."""
    from schema_guru_spark.pipeline import key_violation_rows
    rows = [("r1", "a.py", "c1", "py", "{}"),
            ("r1", "a.py", "c1", "md", "{}"),   # same key, other lang
            ("r2", "b.py", "c1", "py", "{}")]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    got = key_violation_rows(df).collect()
    assert len(got) == 1
    assert got[0]["repo"] == "r1" and "x2" in got[0]["detail"]
    rep = constraint_report(spark, df, n_buckets=4, n_salts=2)
    assert rep["keys_unique"] is False


def test_error_rows_attributed_per_repo(spark):
    """Copies of the same invalid text in DIFFERENT repos of one bucket
    must each surface under their own repo — the unique-doc fast path
    used to attribute every copy to the first occurrence's repo."""
    bad = "{not json"
    rows = [("rA", "a.py", "c1", "json", bad),
            ("rB", "b.py", "c1", "json", bad)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string").coalesce(1)
    res = validate_repo_table(spark, df, n_buckets=1, max_err_rate=1.0)
    viol = res.violations.collect()
    assert sorted(v["repo"] for v in viol) == ["rA", "rB"]


def _holed(df):
    """NULLs planted in every key column and in content, on disjoint
    deterministic row subsets (one NULL kind per row)."""
    k = F.pmod(F.xxhash64("path", "commit"), F.lit(11))
    return df.select(
        F.when(k != 1, F.col("repo")).alias("repo"),
        F.when(k != 2, F.col("path")).alias("path"),
        F.when(k != 3, F.col("commit")).alias("commit"),
        "lang",
        F.when(k != 4, F.col("content")).alias("content"))


@pytest.fixture(scope="module")
def law_tables(spark):
    base = synthesize_repo_table(spark, 900, n_repos=6, dup_keys=9) \
        .drop("content_sha")
    return {
        "planted_dups": base,
        "null_keys_and_content": _holed(base),
        "all_content_null": base.withColumn("content",
                                            F.lit(None).cast("string")),
        "empty": base.limit(0),
    }


def _duckdb_psi(t) -> dict:
    """{bucket: PSI of content length vs the whole table} over an Arrow
    table (bucket, content), in DuckDB: bin = the number of pipeline
    edges <= the length in UTF-8 bytes (strlen), Laplace smoothing over
    the bins the table uses,
    bins absent from a bucket skipped, rounded to 6 decimals."""
    import duckdb

    from schema_guru_spark.pipeline import HIST_EDGES
    con = duckdb.connect()
    con.register("t", t)
    edges = "[" + ", ".join(map(str, HIST_EDGES)) + "]::BIGINT[]"
    return dict(con.execute(f"""
        WITH v AS (
          SELECT bucket,
                 len(list_filter({edges}, e -> e <= strlen(content))) AS bin
          FROM t WHERE content IS NOT NULL),
        pb AS (SELECT bucket, bin, count(*) AS n FROM v GROUP BY ALL),
        g AS (SELECT bin, sum(n) AS gn FROM pb GROUP BY bin),
        k AS (SELECT count(*) AS k, sum(gn) AS gt FROM g),
        pt AS (SELECT bucket, sum(n) AS ptn FROM pb GROUP BY bucket),
        p AS (
          SELECT bucket, (n + 0.5)::DOUBLE / (ptn + 0.5 * k) AS pp,
                 (gn + 0.5)::DOUBLE / (gt + 0.5 * k) AS pg
          FROM pb JOIN g USING (bin) JOIN pt USING (bucket), k)
        SELECT bucket, round(sum((pp - pg) * ln(pp / pg)), 6)
        FROM p GROUP BY bucket""").fetchall())


@pytest.mark.parametrize("table", ["planted_dups", "null_keys_and_content",
                                   "all_content_null", "empty"])
def test_constraint_report_equals_standalone_operators(spark, law_tables,
                                                       table):
    """Law: constraint_report (one key aggregate, one histogram
    aggregate, one key sketch) reports, field for field, what the
    standalone operators compute over the same table, its drift what an
    independent DuckDB query computes over the same integer bin edges,
    and its distinct estimate that of HyperLogLog registers folded from
    the key hashes collected on the driver."""
    import numpy as np

    from schema_guru_spark.operators import constraints as C
    from schema_guru_spark.pipeline import bucket_psi, length_hists
    nb, ns = 16, 4
    df = law_tables[table]
    key_cols = ("repo", "path", "commit", "lang")
    slim = (df.withColumn("bucket", bucket_expr(nb, ns))
              .select("bucket", "repo",
                      C.key_hash(0x5EED0, ("repo", "path", "commit"))
                       .alias("kh1"),
                      C.key_hash(0x5EED1, ("repo", "path", "commit"))
                       .alias("kh2")))
    uniq = C.uniqueness_hashed(slim, ["kh1", "kh2"],
                               prehashed=True).collect()[0]
    # the sketch's hash, collected apart from any scan that folds it
    hashes = np.array([r[0] for r in df.select(
        C.key_hash(0x1CEB, ("repo", "path", "commit"))).collect()],
        np.int64)
    n_approx = round(C.hll_estimate(C.hll_registers(hashes)))
    rel_err = abs(n_approx - uniq["n_exact"]) / max(uniq["n_exact"], 1)
    nulls = df.agg(F.count(F.lit(1)).alias("n"),
                   *[F.sum(F.col(c).isNull().cast("int")).alias(c)
                     for c in (*key_cols, "content")]).collect()[0]
    null_counts = {c: int(nulls[c] or 0) for c in (*key_cols, "content")}
    psi = _duckdb_psi(df.select(bucket_expr(nb, ns).alias("bucket"),
                                "content").toArrow())
    assert bucket_psi(length_hists(df, nb, ns)) == pytest.approx(psi,
                                                                 abs=1e-6)
    # an external dimension that misses one repo, plus the NULL repos
    repos = sorted(r["repo"] for r in df.select("repo").distinct().collect()
                   if r["repo"] is not None)
    dims = spark.createDataFrame([(r,) for r in repos[1:]], "repo string")
    ri_explicit = C.referential_violations(df.select("repo"), dims,
                                           "repo", "repo").count()
    ri_self = C.referential_violations(df.select("repo"),
                                       df.select("repo").distinct(),
                                       "repo", "repo").count()

    rep = constraint_report(spark, df, n_buckets=nb, n_salts=ns)
    assert rep == {
        "n_rows": uniq["n_rows"],
        "n_exact_distinct": uniq["n_exact"],
        "n_approx_distinct": n_approx,
        "hll_rel_err": rel_err,
        "hll_ok": rel_err <= 0.05,
        "keys_unique": uniq["n_rows"] == uniq["n_exact"],
        "n_ri_orphans": ri_self,
        "worst_bucket_psi": pytest.approx(max(psi.values(), default=0.0),
                                          abs=1e-6),
        "completeness": {c: round(1.0 - null_counts[c] / max(nulls["n"], 1),
                                  6)
                         for c in (*key_cols, "content")},
        "key_null_counts": {c: null_counts[c]
                            for c in ("repo", "path", "commit")},
        "keys_complete": all(null_counts[c] == 0
                             for c in ("repo", "path", "commit")),
    }
    # the default self-dimension: NULL repos are exactly the orphans
    assert rep["n_ri_orphans"] == null_counts["repo"]
    rep_dims = constraint_report(spark, df, n_buckets=nb, n_salts=ns,
                                 repo_dims=dims)
    assert rep_dims == {**rep, "n_ri_orphans": ri_explicit}
    if table in ("planted_dups", "null_keys_and_content"):
        assert len(psi) > nb // 2 and rep["worst_bucket_psi"] > 0
    if table == "planted_dups":
        assert rep["n_rows"] - rep["n_exact_distinct"] == 9
        assert ri_explicit > 0
    if table == "null_keys_and_content":
        assert all(null_counts[c] > 0
                   for c in ("repo", "path", "commit", "content"))
        assert ri_self == null_counts["repo"] > 0
        assert ri_explicit > ri_self
    if table == "empty":
        assert rep["n_rows"] == 0 and rep["worst_bucket_psi"] == 0.0


def _hists(rows):
    return {int(b): list(h) for b, h in zip(rows["bucket"], rows["hist"])}


@pytest.mark.parametrize("table", ["planted_dups", "null_keys_and_content",
                                   "all_content_null", "empty"])
def test_scan_histogram_equals_groupby_histogram(spark, law_tables, table,
                                                 tmp_path, monkeypatch):
    """Law: the length histograms the validation scan folds into its
    verdict rows equal the standalone groupBy(bucket, bin) histograms
    (``length_hists``), whether the buckets run in one chunk, in chunks
    smaller than n_buckets, or in a checkpointed run killed after its
    first chunk and resumed."""
    from schema_guru_spark.pipeline import HIST_NULL, length_hists
    nb, ns = 16, 4
    df = law_tables[table]
    want = _hists(length_hists(df, nb, ns))
    kw = dict(n_buckets=nb, n_salts=ns, max_err_rate=1.0)
    assert _hists(validate_repo_table(spark, df, **kw).verdict_rows) == want
    assert _hists(validate_repo_table(spark, df, chunk_size=6,
                                      **kw).verdict_rows) == want

    ck = str(tmp_path / "ck")
    record_done = CheckpointManager.record_done

    def killed_after_first_chunk(self, metrics):
        record_done(self, metrics)
        raise RuntimeError("killed")

    monkeypatch.setattr(CheckpointManager, "record_done",
                        killed_after_first_chunk)
    with pytest.raises(RuntimeError, match="killed"):
        validate_repo_table(spark, df, checkpoint_dir=ck, chunk_size=6,
                            **kw)
    monkeypatch.setattr(CheckpointManager, "record_done", record_done)
    res = validate_repo_table(spark, df, checkpoint_dir=ck, chunk_size=6,
                              **kw)
    assert res.resumed_buckets == list(range(6))
    assert _hists(res.verdict_rows) == want
    n = df.count()
    assert sum(sum(h) for h in want.values()) == n
    if table == "all_content_null":
        assert all(h[HIST_NULL] == sum(h) for h in want.values())
    if table == "empty":
        assert want == {}


@pytest.fixture(scope="module")
def violation_table(spark, tmp_path_factory):
    """A table with every kind of violation row, on disjoint row subsets:
    parse errors (the synthesized ~1% truncated JSON, and NULL content
    on JSON rows), sha mismatches (a wrong sha, a NULL sha, NULL
    content) and disallowed langs (NULL, 'rb')."""
    p = str(tmp_path_factory.mktemp("violation_repo") / "t")
    k = F.pmod(F.xxhash64("path"), F.lit(13))
    (synthesize_repo_table(spark, 1500, n_repos=6)
        .select("repo", "path", "commit",
                F.when(k == 1, None).when(k == 2, "rb")
                 .otherwise(F.col("lang")).alias("lang"),
                F.when(k != 3, F.col("content")).alias("content"),
                F.when(k == 4, None).when(k == 5, "0" * 64)
                 .otherwise(F.col("content_sha")).alias("content_sha"))
        .repartition(3).write.parquet(p))
    return p


@pytest.mark.parametrize("cap", [1000, 2], ids=["uncapped", "capped"])
def test_violation_count_equals_violation_rows(spark, violation_table, cap,
                                               tmp_path, monkeypatch):
    """Law: ``n_violation_rows`` — summed from the scan's partial rows,
    collected or read back from the scan sinks — equals
    ``violations.count()``: without a checkpoint, with a checkpoint in
    chunks smaller than n_buckets, and in a checkpointed run killed
    after its first chunk and resumed. With a cap of 2 the per-batch
    cap on sha/lang rows bites; parse-error rows stay uncapped."""
    df = spark.read.parquet(violation_table)
    kw = dict(n_buckets=8, n_salts=4, max_err_rate=1.0,
              max_violation_examples=cap)

    def law(res):
        assert res.n_violation_rows == res.violations.count()
        return res.n_violation_rows

    plain = validate_repo_table(spark, df, **kw)
    n = law(plain)
    tot = plain.verdict_rows[["n_json_err", "n_sha_bad", "n_lang_bad"]].sum()
    assert min(tot) > 0, tot
    # the planted subsets are disjoint: no row is both sha- and lang-bad
    n_uncapped = int(tot.sum())
    if cap == 2:
        assert tot["n_json_err"] < n < n_uncapped
    else:
        assert n == n_uncapped

    chunked = validate_repo_table(spark, df, checkpoint_dir=str(
        tmp_path / "chunked"), chunk_size=3, **kw)
    n_chunked = law(chunked)

    ck = str(tmp_path / "resumed")
    record_done = CheckpointManager.record_done

    def killed_after_first_chunk(self, metrics):
        record_done(self, metrics)
        raise RuntimeError("killed")

    monkeypatch.setattr(CheckpointManager, "record_done",
                        killed_after_first_chunk)
    with pytest.raises(RuntimeError, match="killed"):
        validate_repo_table(spark, df, checkpoint_dir=ck, chunk_size=3, **kw)
    monkeypatch.setattr(CheckpointManager, "record_done", record_done)
    resumed = validate_repo_table(spark, df, checkpoint_dir=ck, chunk_size=3,
                                  **kw)
    assert resumed.resumed_buckets == [0, 1, 2]
    n_resumed = law(resumed)
    # the cap is per batch, and a chunk's bucket filter changes what a
    # batch holds: the counts agree across chunkings only uncapped
    if cap == 1000:
        assert n_chunked == n_resumed == n


def _key_hash_columns(seed, keys):
    """``C.key_hash`` as it was built from Column calls: the reference
    its SQL text must equal bit for bit (key sketches in existing
    checkpoints hold these hashes)."""
    from functools import reduce
    from operator import or_
    nulls = [F.col(k).isNull() for k in keys]
    mask = reduce(lambda acc, n: acc * 2 + n.cast("long"), nulls,
                  F.lit(0).cast("long"))
    return F.xxhash64(F.lit(seed), *[F.col(k) for k in keys],
                      F.when(reduce(or_, nulls), mask))


def _bucket_expr_columns(n_buckets, n_salts):
    """``bucket_expr`` as it was built from Column calls: the reference
    its SQL text must equal (materialized layouts and checkpoints hold
    its row-to-bucket membership)."""
    return F.pmod(
        F.xxhash64("repo") + F.pmod(F.xxhash64("path"), F.lit(n_salts)),
        F.lit(n_buckets),
    ).cast("int")


_key_part = st.one_of(st.none(), st.just(""), st.text(max_size=8))
# every NULL pattern of a three-part key, then empty and non-ASCII parts
_KEY_PATTERNS = [tuple(None if m >> i & 1 else v
                       for i, v in enumerate(("r", "p", "c")))
                 for m in range(8)] + [("", "", ""), ("ü", "日本", "🙂")]


@settings(max_examples=25, deadline=None)
@given(rows=st.lists(st.tuples(_key_part, _key_part, _key_part),
                     min_size=1, max_size=10),
       n_buckets=st.sampled_from((1, 7, 64, 1024)),
       n_salts=st.sampled_from((1, 4, 8)))
@example(rows=_KEY_PATTERNS, n_buckets=64, n_salts=8)
def test_sql_built_hashes_equal_column_built(spark, rows, n_buckets,
                                             n_salts):
    """The SQL-text ``C.key_hash`` and ``bucket_expr`` give exactly the
    values and types the Column-built expressions gave, over NULL,
    empty and unicode key parts, for the seeds the pipeline uses (and
    a bigint one) and key tuples of one to three columns."""
    from schema_guru_spark.operators import constraints as C
    df = spark.createDataFrame(rows,
                               "repo string, path string, commit string")
    pairs = [(C.key_hash(seed, keys), _key_hash_columns(seed, keys))
             for seed in (0, 0x1CEB, 0x5EED0, 0x5EED1, 2 ** 40)
             for keys in (("repo", "path", "commit"), ("path",),
                          ("commit", "repo"))]
    pairs.append((bucket_expr(n_buckets, n_salts),
                  _bucket_expr_columns(n_buckets, n_salts)))
    out = df.select(*[c.alias(f"c{i}") for i, c in enumerate(
        c for pair in pairs for c in pair)])
    types = [f.dataType for f in out.schema.fields]
    assert types[0::2] == types[1::2]
    for r in out.collect():
        assert list(r)[0::2] == list(r)[1::2], r


@pytest.mark.parametrize("keys", [
    # NULLs at different positions over the same non-NULL values: two
    # distinct keys (xxhash64 alone skips the NULLs and aliases them)
    [("r", None, "c"), ("r", "c", None), ("x", "y", "z")],
    # a NULL at the same position: one key, seen twice
    [("r", None, "c"), ("r", None, "c"), ("r", "c", None)],
], ids=["null_positions_differ", "null_positions_equal"])
def test_null_key_parts_agree_everywhere(spark, keys):
    """Every uniqueness path applies one rule to keys with NULL parts:
    NULL parts compare equal at the same position. constraint_report,
    uniqueness_hashed, uniqueness_exact and key_violation_rows agree
    with each other and with DuckDB's count(DISTINCT (repo, path,
    commit))."""
    import duckdb

    from schema_guru_spark.operators import constraints as C
    from schema_guru_spark.pipeline import key_violation_rows
    con = duckdb.connect()
    con.execute("CREATE TABLE t (repo VARCHAR, path VARCHAR, "
                "commit VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", keys)
    n_rows, n_distinct = con.execute(
        "SELECT count(*), count(DISTINCT (repo, path, commit)) "
        "FROM t").fetchone()
    n_dup_groups = con.execute(
        "SELECT count(*) FROM (SELECT 1 FROM t GROUP BY repo, path, "
        "commit HAVING count(*) > 1)").fetchone()[0]

    df = spark.createDataFrame([(*k, "json", "{}") for k in keys],
                               "repo string, path string, commit string, "
                               "lang string, content string")
    cols = ["repo", "path", "commit"]
    rep = constraint_report(spark, df, n_buckets=4, n_salts=2)
    hashed = C.uniqueness_hashed(df, cols).collect()[0]
    exact = C.uniqueness_exact(df, cols).collect()[0]
    assert (rep["n_rows"], rep["n_exact_distinct"]) == (n_rows, n_distinct)
    assert rep["keys_unique"] == (n_rows == n_distinct)
    assert (hashed["n_rows"], hashed["n_exact"]) == (n_rows, n_distinct)
    assert (exact["n_rows"], exact["n_distinct"]) == (n_rows, n_distinct)
    assert key_violation_rows(df, n_buckets=4, n_salts=2).count() \
        == n_dup_groups


def _jobs_in(spark, lo, hi):
    """[(job group, executor run seconds of the stages the job ran
    first)] for the jobs with lo <= id < hi, from the status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    seen, out = set(), []
    for jid in range(lo, hi):
        j = store.job(jid)
        grp = j.jobGroup().get() if j.jobGroup().isDefined() else None
        run_s = 0.0
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                run_s += store.lastStageAttempt(sid).executorRunTime() / 1e3
            except Exception:
                pass  # skipped stage
        out.append((grp, run_s))
    return out


@pytest.fixture(scope="module")
def small_table(spark, tmp_path_factory):
    from schema_guru_spark.sources.repo_table import write_repo_table
    p = str(tmp_path_factory.mktemp("small_repo") / "t")
    write_repo_table(spark, p, 3000, n_repos=8, corrupt_shas=3, dup_keys=5)
    return p


def _group_plans(spark, after):
    """[(job group, [job ids], physical plan)] of the SQL executions
    with id > ``after``; the group is the one of the execution's first
    job (None without jobs or group)."""
    from conftest import _sql_executions
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    out = []
    for e in _sql_executions(spark):
        if e.executionId() <= after:
            continue
        it, jids = e.jobs().keysIterator(), []
        while it.hasNext():
            jids.append(it.next())
        grp = None
        if jids:
            g = store.job(min(jids)).jobGroup()
            grp = g.get() if g.isDefined() else None
        out.append((grp, sorted(jids), e.physicalPlanDescription()))
    return out


def test_run_validation_job_count_guard(spark, small_table, tmp_path):
    """The validation job is bound by fixed per-job cost, so its Spark
    job count is pinned: one run_validation.main call submits at most
    5 jobs — the input's schema read, ONE for the validation scan
    (the violation count rides its partial rows), and at most 3 for the
    constraint suite's one key aggregate, which reads no content and
    runs no HLL++ (the key sketch rides the scan) (31, 17, 15, then 10
    before). No executed plan holds a grouped Python node: the bucket
    fan-in is not a Spark stage. The no-checkpoint
    verdicts are a local relation — no Exchange, no Python node — so
    later actions never re-run the scan. With --checkpoint the
    validate group runs one job, the scan's write to its scan sink,
    whose partial rows the driver reads back for the violation count,
    and a resumed run none, reporting the same count."""
    from conftest import executed_plans, last_execution_id
    from schema_guru_spark.run_validation import _next_job_id, main as run_main
    argv = ["--input", small_table, "--cpus", "4", "--buckets", "8",
            "--salts", "4", "--max-err-rate", "0.02"]
    run_main(argv)   # warm: Python workers, codegen
    spark.catalog.clearCache()
    lo, e0 = _next_job_id(spark), last_execution_id(spark)
    out = run_main(argv)
    n_jobs = _next_job_id(spark) - lo
    plans = executed_plans(spark, e0)
    groups = [g for g, _ in _jobs_in(spark, lo, lo + n_jobs)]
    constraint_plans = [p for g, _, p in _group_plans(spark, e0)
                        if g == "timed-constraints"]
    spark.catalog.clearCache()
    assert out["rows"] == 3000 and out["sha_bad"] == 3
    assert n_jobs <= 5, (n_jobs, groups)
    assert groups.count("timed-validate") == 1, groups
    # the constraint leg is the one key aggregate, and no scan of it
    # reads content (drift comes from the scan's histograms)
    assert groups.count("timed-constraints") <= 3, groups
    reads = [line for p in constraint_plans for line in p.splitlines()
             if "ReadSchema:" in line]
    assert reads and not any("content" in r for r in reads), reads
    # no HyperLogLogPlusPlus aggregate (a plan prints it under its SQL
    # name)
    hll = [p for p in constraint_plans if "approx_count_distinct" in p]
    assert not hll, hll
    grouped = [i for i, p in plans if "FlatMapGroupsInPandas" in p]
    assert plans and not grouped, grouped

    res = validate_repo_table(spark, spark.read.parquet(small_table),
                              n_buckets=8, n_salts=4)
    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert not any(node in plan for node in (
        "Python", "Pandas", "ArrowEval", "BatchEval")), plan
    lo = _next_job_id(spark)
    rows = res.verdicts.collect()
    assert _next_job_id(spark) == lo   # served from the driver
    assert sum(r["n_rows"] for r in rows) == 3000

    ck = argv + ["--checkpoint", str(tmp_path / "ck")]
    validate_jobs, counts = [], []
    for _ in range(2):   # a first run, then one that resumes every bucket
        lo = _next_job_id(spark)
        counts.append(run_main(ck)["n_violation_rows"])
        validate_jobs.append([g for g, _ in _jobs_in(
            spark, lo, _next_job_id(spark))].count("timed-validate"))
        spark.catalog.clearCache()
    assert validate_jobs == [1, 0], validate_jobs
    assert counts == [out["n_violation_rows"]] * 2, (counts, out)
    assert out["n_violation_rows"] > 0


def test_run_validation_task_time_per_call(spark, small_table):
    """task_time_sec covers only the jobs of its own call (two calls in
    one session do not accumulate), and the constraint suite's key
    aggregate jobs carry the constraint leg's job group."""
    from schema_guru_spark.run_validation import _next_job_id, main as run_main
    argv = ["--input", small_table, "--cpus", "4", "--buckets", "8",
            "--salts", "4"]
    for _ in range(2):
        lo = _next_job_id(spark)
        out = run_main(argv)
        jobs = _jobs_in(spark, lo, _next_job_id(spark))
        spark.catalog.clearCache()
        tt = out["task_time_sec"]
        assert set(tt) == {"timed-validate", "timed-constraints"}
        assert tt["timed-constraints"] > 0 and tt["timed-validate"] > 0
        window_s = sum(s for _, s in jobs)
        assert sum(tt.values()) <= window_s + 0.01, (tt, window_s)
        # every job of the measured section carries one of the two
        # groups; the only other job is the input's schema read
        ungrouped = [g for g, _ in jobs if g not in tt]
        assert len(ungrouped) <= 1, jobs


@pytest.fixture(scope="module")
def holed_table(law_tables, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("holed_repo") / "t")
    _holed(law_tables["planted_dups"]).write.parquet(p)
    return p


@pytest.mark.parametrize("which", ["small", "holed"])
def test_run_validation_constraints_equal_constraint_report(
        spark, small_table, holed_table, which, tmp_path):
    """Law: the job's constraints — the key aggregate overlapped with
    the scan, drift and content completeness from the scan's verdict
    rows — equal a standalone constraint_report over the same table,
    field for field; also when every verdict row comes back from a
    resumed checkpoint."""
    from schema_guru_spark.run_validation import main as run_main
    path = small_table if which == "small" else holed_table
    argv = ["--input", path, "--cpus", "4", "--buckets", "8",
            "--salts", "4"]
    want = constraint_report(spark, spark.read.parquet(path), n_buckets=8,
                             n_salts=4)
    assert run_main(argv)["constraints"] == want
    ck = ["--checkpoint", str(tmp_path / "ck"), "--chunk-size", "3"]
    run_main(argv + ck)
    out = run_main(argv + ck)
    assert out["resumed_buckets"] == 8
    assert out["constraints"] == want
    if which == "holed":
        assert want["completeness"]["content"] < 1.0
        assert not want["keys_complete"]


def test_resumed_run_refuses_verdicts_without_histogram(spark, small_table,
                                                        tmp_path):
    """A checkpoint whose verdict rows carry no length histogram was
    written before the histogram joined the verdict row: a resumed run
    refuses it, naming the checkpoint, instead of reporting drift over
    part of the table."""
    import os
    import re

    import pyarrow.parquet as pq
    from schema_guru_spark.run_validation import main as run_main
    ck = str(tmp_path / "ck")
    argv = ["--input", small_table, "--cpus", "4", "--buckets", "8",
            "--salts", "4", "--checkpoint", ck, "--chunk-size", "4"]
    run_main(argv)
    for root, _, files in os.walk(os.path.join(ck, "verdicts")):
        for f in files:
            if f.endswith(".parquet"):
                fp = os.path.join(root, f)
                pq.write_table(pq.read_table(fp).drop_columns(["hist"]), fp)
    with pytest.raises(ValueError, match=re.escape(ck)):
        run_main(argv)


def test_run_validation_releases_its_caches(spark, small_table, tmp_path):
    """run_validation.main leaves nothing in the session's CacheManager:
    it persists nothing, with a checkpoint or without one."""
    from schema_guru_spark.run_validation import main as run_main
    argv = ["--input", small_table, "--cpus", "4", "--buckets", "8",
            "--salts", "4"]
    spark.catalog.clearCache()
    for extra in ([], ["--checkpoint", str(tmp_path / "ck"),
                       "--chunk-size", "3"]):
        run_main(argv + extra)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_resumed_run_refuses_chunks_without_key_sketch(spark, small_table,
                                                       tmp_path):
    """A checkpoint with a finished chunk that has no scan sink, where
    the chunk's key sketch and violation count live, was written when
    they had sinks of their own: a resumed run refuses it, naming the
    checkpoint, before any Spark job, instead of estimating distinct
    keys over part of the table. A raising run leaves no job group
    set."""
    import re
    import shutil

    from schema_guru_spark.run_validation import _next_job_id, main as run_main
    ck = str(tmp_path / "ck")
    argv = ["--input", small_table, "--cpus", "4", "--buckets", "8",
            "--salts", "4", "--checkpoint", ck, "--chunk-size", "4"]
    run_main(argv)
    shutil.rmtree(f"{ck}/scan/chunk=4")
    df = spark.read.parquet(small_table)
    lo = _next_job_id(spark)
    with pytest.raises(ValueError, match=re.escape(ck)):
        validate_repo_table(spark, df, checkpoint_dir=ck, n_buckets=8,
                            n_salts=4, chunk_size=4)
    assert _next_job_id(spark) == lo
    with pytest.raises(ValueError, match=r"chunk=4"):
        run_main(argv)
    assert not spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def test_run_validation_warmup_reports_plain_run_constraints(spark,
                                                             small_table):
    """--warmup runs the measured section first, unmeasured; the report
    it then gives carries a plain run's constraints."""
    from schema_guru_spark.run_validation import main as run_main
    argv = ["--input", small_table, "--cpus", "4", "--buckets", "8",
            "--salts", "4"]
    warm = run_main(argv + ["--warmup", "1"])
    assert warm["rows"] == 3000
    assert warm["constraints"] == run_main(argv)["constraints"]


def test_one_distinct_estimate_everywhere(spark, tmp_path, monkeypatch):
    """Law: the key sketch's registers do not depend on how the rows are
    split, so every path that reports uniqueness reports the same
    distinct estimate over the same rows, exactly: the job at 1 and 4
    CPUs, checkpointed in chunks of 8 and 3 buckets, killed after its
    first chunk and resumed, the standalone constraint_report, and the
    incremental cumulative view after a base and two appends that end
    with the same rows. The table plants duplicate keys and NULL key
    parts (equal at the same position: one key)."""
    import numpy as np

    from schema_guru_spark.operators import constraints as C
    from schema_guru_spark.plans.incremental import incremental_validate
    from schema_guru_spark.run_validation import main as run_main
    from schema_guru_spark.sources.catalog import read_table
    from schema_guru_spark.sources.iceberg_meta import append_snapshot

    schema = [("repo", "string"), ("path", "string"), ("commit", "string"),
              ("lang", "string"), ("content", "string")]
    rows = [{"repo": f"r{i % 7}", "path": f"p/{i}", "commit": f"c{i % 3}",
             "lang": ("json", "py")[i % 5 == 0],
             "content": json.dumps({"i": i})} for i in range(400)]
    for i in range(0, 60, 6):       # NULL key parts at every position
        rows[i][("repo", "path", "commit")[i // 6 % 3]] = None
    rows += [dict(rows[i]) for i in range(3, 400, 40)]     # duplicates
    rows += [{**rows[6], "content": "{}"}]   # NULL at the same position
    tp, inc = str(tmp_path / "repos"), str(tmp_path / "inc")
    for lo, hi in ((0, 200), (200, 330), (330, len(rows))):
        append_snapshot(tp, rows[lo:hi], schema, partition_by="lang")
        cum = incremental_validate(spark, tp, inc, n_buckets=8,
                                   n_salts=4)["cumulative"]
    assert cum["rows"] == len(rows)
    est = {"incremental": cum["uniqueness"]["n_distinct_est"]}

    argv = ["--input", tp, "--buckets", "8", "--salts", "4"]
    for cpus in ("1", "4"):
        est[f"cpus={cpus}"] = run_main(argv + ["--cpus", cpus])[
            "constraints"]["n_approx_distinct"]
    for k in ("8", "3"):
        est[f"chunk={k}"] = run_main(argv + [
            "--checkpoint", str(tmp_path / f"ck{k}"),
            "--chunk-size", k])["constraints"]["n_approx_distinct"]

    record_done, commits = CheckpointManager.record_done, []

    def killed_after_first_chunk(self, metrics):
        if commits:
            raise RuntimeError("killed")
        commits.append(1)
        record_done(self, metrics)

    killed = argv + ["--checkpoint", str(tmp_path / "killed"),
                     "--chunk-size", "3"]
    monkeypatch.setattr(CheckpointManager, "record_done",
                        killed_after_first_chunk)
    with pytest.raises(RuntimeError, match="killed"):
        run_main(killed)
    assert not spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    monkeypatch.setattr(CheckpointManager, "record_done", record_done)
    out = run_main(killed)
    assert out["resumed_buckets"] == 3
    est["resumed"] = out["constraints"]["n_approx_distinct"]

    df = read_table(spark, path=tp)
    rep = constraint_report(spark, df, n_buckets=8, n_salts=4)
    est["standalone"] = rep["n_approx_distinct"]
    hashes = np.array([r[0] for r in df.select(
        C.key_hash(0x1CEB, ("repo", "path", "commit"))).collect()],
        np.int64)
    want = round(C.hll_estimate(C.hll_registers(hashes)))
    assert est == dict.fromkeys(est, want)
    assert rep["n_rows"] - rep["n_exact_distinct"] == 11
    assert all(rep["key_null_counts"].values())
    assert rep["hll_ok"]
