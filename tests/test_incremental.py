"""Incremental append scan + incremental re-validation.

The scale claim under test: after a table append, re-validation plans
ONLY the appended files from metadata (plan_incremental), and the
cumulative whole-table view (counters, merged schema, uniqueness) is
EXACT — bit-equal to a from-scratch full validation — because counters
sum, schema states are a commutative monoid, and HLL sketches union.
"""

import hashlib
import json
import os

import pytest

from schema_guru_spark.sources.iceberg_meta import (
    append_snapshot,
    delete_where_equal,
    load_table_metadata,
    plan_incremental,
    read_iceberg,
    read_iceberg_incremental,
)

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string"),
          ("content_sha", "string")]


def _vrows(n, commit, extra_key=False, langs=("json",), start=0):
    rows = []
    for i in range(start, start + n):
        doc = {"i": i}
        if extra_key:
            doc["u"] = f"{i:08x}-0000-4000-8000-{i:012x}"
        content = json.dumps(doc)
        rows.append({
            "repo": f"r{i % 5}", "path": f"p/{commit}/{i}",
            "commit": commit, "lang": langs[i % len(langs)],
            "content": content,
            "content_sha": hashlib.sha256(content.encode()).hexdigest(),
        })
    return rows


@pytest.fixture()
def table3(tmp_path):
    """Three append snapshots: 30 + 20 + 10 rows."""
    tp = str(tmp_path / "repos")
    s1 = append_snapshot(tp, _vrows(30, "c1"), SCHEMA,
                         partition_by="lang")
    s2 = append_snapshot(tp, _vrows(20, "c2", start=100), SCHEMA,
                         partition_by="lang")
    s3 = append_snapshot(tp, _vrows(10, "c3", start=200), SCHEMA,
                         partition_by="lang")
    return tp, s1, s2, s3


# ------------------------------------------------- metadata-level plan

def test_plan_incremental_only_window_files(table3):
    tp, s1, s2, s3 = table3
    plan = plan_incremental(tp, s1, s3)
    assert sum(f.record_count for f in plan.data) == 30
    assert not plan.deletes
    # exactly the files of s2 and s3 — never s1's
    assert all(f"/{s2:05d}-" in f.path or f"/{s3:05d}-" in f.path
               for f in plan.data)
    # and strictly fewer files than a full scan plans
    from schema_guru_spark.sources.iceberg_meta import plan_scan
    assert len(plan.data) < len(plan_scan(tp, s3).data)


def test_plan_incremental_single_step_and_empty(table3):
    tp, s1, s2, s3 = table3
    assert sum(f.record_count
               for f in plan_incremental(tp, s2, s3).data) == 10
    assert plan_incremental(tp, s3, s3).data == []
    # default to = current snapshot
    assert sum(f.record_count
               for f in plan_incremental(tp, s2).data) == 10


def test_plan_incremental_partition_filter(table3):
    tp, s1, _, s3 = table3
    plan = plan_incremental(tp, s1, s3,
                            partition_filter={"lang": "json"})
    assert sum(f.record_count for f in plan.data) == 30
    assert plan_incremental(
        tp, s1, s3, partition_filter={"lang": "rust"}).data == []


def test_plan_incremental_unknown_snapshots(table3):
    tp, s1, *_ = table3
    with pytest.raises(LookupError):
        plan_incremental(tp, 999, None)
    with pytest.raises(LookupError):
        plan_incremental(tp, s1, 999)


def test_plan_incremental_empty_window_checks_the_id(table3):
    """An empty window (from == to) is planned only for a snapshot the
    table has: a stale or wrong id raises like an unequal pair does,
    instead of planning a silently empty window."""
    tp, _, _, s3 = table3
    assert plan_incremental(tp, s3, s3) == plan_incremental(tp, s3)
    with pytest.raises(LookupError, match="snapshot 999 not in"):
        plan_incremental(tp, 999, 999)


@pytest.mark.parametrize("incremental", [False, True])
def test_read_parses_metadata_once(spark, table3, monkeypatch,
                                   incremental):
    """A read plans and projects from ONE parse of metadata.json, so a
    commit landing mid-read cannot project the plan onto a schema it
    was not planned under; and it reads under the known write schema
    (no footer-inference job)."""
    from schema_guru_spark.run_validation import _next_job_id
    from schema_guru_spark.sources import iceberg_meta
    tp, s1, _, s3 = table3
    calls = []

    def counted(*a, **kw):
        calls.append(a)
        return load_table_metadata(*a, **kw)

    monkeypatch.setattr(iceberg_meta, "load_table_metadata", counted)
    lo = _next_job_id(spark)
    df = (iceberg_meta.read_iceberg_incremental(spark, tp, s1, s3)
          if incremental else iceberg_meta.read_iceberg(spark, tp))
    assert len(calls) == 1
    assert _next_job_id(spark) == lo
    assert df.count() == (30 if incremental else 60)


def test_parent_snapshot_ids_recorded(table3):
    tp, s1, s2, s3 = table3
    snaps = {s["snapshot-id"]: s
             for s in load_table_metadata(tp)["snapshots"]}
    assert "parent-snapshot-id" not in snaps[s1]
    assert snaps[s2]["parent-snapshot-id"] == s1
    assert snaps[s3]["parent-snapshot-id"] == s2


def test_plan_incremental_refuses_delete_in_window(table3):
    tp, s1, _, s3 = table3
    sd = delete_where_equal(tp, [{"commit": "c2"}])
    with pytest.raises(NotImplementedError, match="delete"):
        plan_incremental(tp, s1, sd)
    # a window that STOPS before the delete still works
    assert sum(f.record_count
               for f in plan_incremental(tp, s1, s3).data) == 30


def test_read_incremental_rows_exact(spark, table3):
    tp, s1, s2, s3 = table3
    got = {r["path"] for r in
           read_iceberg_incremental(spark, tp, s1, s3).collect()}
    want = {r["path"] for r in _vrows(20, "c2", start=100)} | \
           {r["path"] for r in _vrows(10, "c3", start=200)}
    assert got == want


def test_read_table_appends_routes_and_refuses(spark, table3, tmp_path):
    from schema_guru_spark.sources.catalog import read_table_appends
    tp, s1, s2, s3 = table3
    assert read_table_appends(spark, path=tp,
                              from_snapshot_id=s2).count() == 10
    pq = str(tmp_path / "plain")
    spark.range(3).write.parquet(pq)
    with pytest.raises(ValueError, match="snapshot lineage"):
        read_table_appends(spark, path=pq, from_snapshot_id=1)


# --------------------------------------------- incremental validation

N_BUCKETS = 8


def _run(spark, tp, ckpt, **kw):
    from schema_guru_spark.plans.incremental import incremental_validate
    return incremental_validate(spark, tp, ckpt, n_buckets=N_BUCKETS,
                                allowed_langs=("json",), **kw)


def test_incremental_validate_end_to_end(spark, tmp_path):
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(40, "c1"), SCHEMA, partition_by="lang")

    r1 = _run(spark, tp, ckpt)
    assert r1["mode"] == "baseline"
    assert r1["delta"]["rows"] == 40
    assert r1["cumulative"]["rows"] == 40
    assert r1["cumulative"]["pass_rate"] == 1.0
    assert r1["cumulative"]["uniqueness"]["uniq_ok"]

    # nothing new -> no work, same cumulative
    r2 = _run(spark, tp, ckpt)
    assert r2["mode"] == "up-to-date"
    assert r2["delta"]["rows"] == 0
    assert r2["cumulative"]["rows"] == 40

    # append 20 rows whose docs carry an extra uuid key, then validate:
    # ONLY the delta is scanned, but the cumulative schema must show
    # the union of both windows' key sets
    append_snapshot(tp, _vrows(20, "c2", extra_key=True, start=500),
                    SCHEMA, partition_by="lang")
    r3 = _run(spark, tp, ckpt)
    assert r3["mode"] == "incremental"
    assert r3["delta"]["rows"] == 20          # not 60
    assert r3["cumulative"]["rows"] == 60
    assert r3["cumulative"]["n_deltas"] == 2
    props = r3["cumulative"]["schema"]["properties"]
    assert set(props) == {"i", "u"}
    assert r3["cumulative"]["uniqueness"]["n_rows"] == 60
    assert r3["cumulative"]["uniqueness"]["uniq_ok"]

    # EXACT parity with a from-scratch full validation of the table
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import ZERO, loads, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    from schema_guru_spark.pipeline import validate_repo_table
    full = validate_repo_table(spark, read_iceberg(spark, tp),
                               n_buckets=N_BUCKETS,
                               allowed_langs=("json",),
                               keep_state=True)
    ctx = SchemaContext.make(0)
    acc = ZERO
    for row in full.verdicts.select("state").collect():
        acc = merge(acc, loads(row["state"]), ctx)
    assert render(apply_transforms(acc, ctx), ctx) == \
        r3["cumulative"]["schema"]
    from pyspark.sql import functions as F
    frow = full.verdicts.agg(
        F.sum("n_rows"), F.sum("n_json_ok"), F.sum("n_json_err")
    ).collect()[0]
    assert (frow[0], frow[1], frow[2]) == (
        r3["cumulative"]["rows"], r3["cumulative"]["json_ok"],
        r3["cumulative"]["json_err"])


def test_incremental_uniqueness_catches_cross_delta_dups(spark,
                                                         tmp_path):
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    rows = _vrows(30, "c1")
    append_snapshot(tp, rows, SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    # re-append the SAME (repo, path, commit) keys: each delta alone is
    # key-unique, only the cross-delta union shows the duplication —
    # exactly what per-delta exact counts cannot see and unioned
    # sketches can
    append_snapshot(tp, rows, SCHEMA, partition_by="lang")
    r = _run(spark, tp, ckpt)
    uniq = r["cumulative"]["uniqueness"]
    assert uniq["n_rows"] == 60
    assert uniq["n_distinct_est"] < 45
    assert not uniq["uniq_ok"]


def test_incremental_nonappend_policy(spark, tmp_path):
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(30, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    append_snapshot(tp, _vrows(10, "c2", start=100), SCHEMA,
                    partition_by="lang")
    delete_where_equal(tp, [{"commit": "c2"}])

    with pytest.raises(NotImplementedError, match="delete"):
        _run(spark, tp, ckpt)

    r = _run(spark, tp, ckpt, on_nonappend="rebase")
    assert r["mode"] == "rebase"
    assert r["epoch"] == 1
    # the rebased cumulative view reflects the post-delete table: the
    # c2 rows were appended AND deleted inside the unvalidated window
    assert r["cumulative"]["rows"] == 30
    assert r["cumulative"]["n_deltas"] == 1

    # and the next append continues incrementally from the new epoch
    append_snapshot(tp, _vrows(5, "c3", start=300), SCHEMA,
                    partition_by="lang")
    r2 = _run(spark, tp, ckpt)
    assert r2["mode"] == "incremental"
    assert r2["epoch"] == 1
    assert r2["delta"]["rows"] == 5
    assert r2["cumulative"]["rows"] == 35


def test_incremental_rejects_foreign_checkpoint(spark, tmp_path):
    tp1 = str(tmp_path / "repos1")
    tp2 = str(tmp_path / "repos2")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp1, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    append_snapshot(tp2, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp1, ckpt)
    with pytest.raises(ValueError, match="belongs to table"):
        _run(spark, tp2, ckpt)


def test_run_validation_incremental_cli(spark, tmp_path):
    """--incremental through the job entry point (in-process; the
    spark-submit wiring itself is pinned by test_spark_submit.py)."""
    from schema_guru_spark.run_validation import main
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "rep.json")
    append_snapshot(tp, _vrows(25, "c1", langs=("json", "py")), SCHEMA,
                    partition_by="lang")
    rep = main(["--incremental", "--input", tp, "--checkpoint", ckpt,
                "--buckets", str(N_BUCKETS), "--json-out", out])
    assert rep["mode"] == "baseline"
    assert rep["cumulative"]["rows"] == 25
    assert json.load(open(out))["mode"] == "baseline"
    append_snapshot(tp, _vrows(5, "c2", start=900), SCHEMA,
                    partition_by="lang")
    rep2 = main(["--incremental", "--input", tp, "--checkpoint", ckpt,
                 "--buckets", str(N_BUCKETS)])
    assert rep2["mode"] == "incremental"
    assert rep2["delta"]["rows"] == 5
    assert rep2["cumulative"]["rows"] == 30


def test_uncommitted_delta_dir_is_not_double_counted(spark, tmp_path):
    """Crash between delta write and state commit: the orphaned delta
    directory must be excluded from cumulative accounting when a later,
    wider window supersedes it."""
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(20, "c1"), SCHEMA, partition_by="lang")
    r1 = _run(spark, tp, ckpt)
    s1 = r1["to_snapshot"]
    append_snapshot(tp, _vrows(10, "c2", start=100), SCHEMA,
                    partition_by="lang")

    # simulate the crash: validate the (s1, s2] delta into the dir the
    # real run would use, but DON'T commit the state file
    from schema_guru_spark.pipeline import validate_repo_table
    s2 = load_table_metadata(tp)["current-snapshot-id"]
    orphan = os.path.join(ckpt, f"e000-snap-{s1}-{s2}")
    validate_repo_table(spark, read_iceberg_incremental(spark, tp, s1),
                        checkpoint_dir=orphan, n_buckets=N_BUCKETS,
                        allowed_langs=("json",), keep_state=True)

    # a further append widens the next committed window to (s1, s3]
    append_snapshot(tp, _vrows(10, "c3", start=200), SCHEMA,
                    partition_by="lang")
    r = _run(spark, tp, ckpt)
    assert r["delta"]["rows"] == 20
    assert r["cumulative"]["rows"] == 40  # not 50: orphan not counted


# ----------------------------------------------- metadata property law

from hypothesis import example, given, settings, strategies as st


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=7),
                min_size=1, max_size=6),
       st.data())
def test_incremental_windows_partition_the_full_scan(tmp_path_factory,
                                                     sizes, data):
    """The incremental-scan law: for ANY append-only history and ANY
    window split point, the files of plan_scan(to) are exactly the
    disjoint union of plan_scan(from)'s and plan_incremental(from,to)'s
    — no file double-planned, none lost — and both planners give each
    file the same record: row count, size, partition, sequence number
    and write-time schema id, also when a column rename sits in the
    chain and later appends write under the new name."""
    from schema_guru_spark.sources.iceberg_meta import (plan_scan,
                                                        rename_column)
    tp = str(tmp_path_factory.mktemp("prop") / "repos")
    # the rename lands just before the append at this index
    rename_at = data.draw(st.sampled_from([None, *range(1, len(sizes))]))
    schema, col = SCHEMA, "content"
    snaps = []
    start = 0
    for k, n in enumerate(sizes):
        if k == rename_at:
            rename_column(tp, "content", "body")
            schema = [("body" if c == "content" else c, t)
                      for c, t in SCHEMA]
            col = "body"
        rows = [{(col if c == "content" else c): v for c, v in r.items()}
                for r in _vrows(n, f"c{k}", start=start,
                                langs=("json", "py", "go"))]
        start += n
        snaps.append(append_snapshot(tp, rows, schema,
                                     partition_by="lang"))
    i = data.draw(st.integers(min_value=0, max_value=len(snaps) - 1))
    frm, to = snaps[i], snaps[-1]
    base = {f.path: f for f in plan_scan(tp, frm).data}
    delta = {f.path: f for f in plan_incremental(tp, frm, to).data}
    full = {f.path: f for f in plan_scan(tp, to).data}
    assert not (base.keys() & delta.keys())
    assert {**base, **delta} == full
    # snapshot k is sequence number k + 1; files appended after the
    # rename were written under schema 1
    assert all(f.schema_id == int(rename_at is not None
                                  and f.sequence_number > rename_at)
               for f in full.values())
    assert sum(f.record_count for f in delta.values()) == sum(sizes[i + 1:])


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=2, max_value=8))
def test_plan_incremental_opens_only_the_window(tmp_path_factory, k):
    """plan_incremental(s_{k-1}, s_k) reads exactly two metadata files,
    whatever the chain length k: the manifest list of s_k and the one
    manifest s_k added. Planning an append is O(window), never
    O(history)."""
    from schema_guru_spark.sources import iceberg_meta
    tp = str(tmp_path_factory.mktemp("window") / "repos")
    snaps = [append_snapshot(tp, _vrows(3, f"c{j}", start=10 * j,
                                        langs=("json", "py")),
                             SCHEMA, partition_by="lang")
             for j in range(k)]
    real = iceberg_meta.read_ocf
    last = next(s for s in load_table_metadata(tp)["snapshots"]
                if s["snapshot-id"] == snaps[-1])
    mlist = last["manifest-list"].removeprefix("file://")
    added = [m["manifest_path"].removeprefix("file://")
             for m in real(mlist)[1]
             if m["added_snapshot_id"] == snaps[-1]]
    assert len(added) == 1
    opened = []

    def spy(path):
        opened.append(path)
        return real(path)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(iceberg_meta, "read_ocf", spy)
        plan = plan_incremental(tp, snaps[-2], snaps[-1])
    assert opened == [mlist, added[0]]
    assert sum(f.record_count for f in plan.data) == 3


def test_frozenset_filter_equals_list_form(spark, tmp_path):
    """A frozenset partition_filter value allows its members, like a
    list or a set: plan_scan prunes by it, read_table filters rows by
    it, and incremental_validate accepts it and resumes a checkpoint
    pinned with the list form. It used to be read as one scalar value
    in pruning and in the residual filter, which failed the scan."""
    from schema_guru_spark.sources.catalog import read_table
    from schema_guru_spark.sources.iceberg_meta import plan_scan
    tp = str(tmp_path / "repos")
    ckpt_fz, ckpt_list = str(tmp_path / "ck_fz"), str(tmp_path / "ck_list")
    langs = ("json", "py", "go")
    fz, lst = {"lang": frozenset({"json"})}, {"lang": ["json"]}
    append_snapshot(tp, _vrows(30, "c1", langs=langs), SCHEMA,
                    partition_by="lang")
    pruned = plan_scan(tp, partition_filter=fz)
    assert pruned == plan_scan(tp, partition_filter={"lang": {"json"}})
    assert [f.partition for f in pruned.data] == [{"lang": "json"}]
    rows = sorted(read_table(spark, path=tp, partition_filter=fz).collect())
    assert rows == sorted(
        read_table(spark, path=tp, partition_filter=lst).collect())
    assert len(rows) == 10

    counters = ("rows", "json_ok", "json_err", "sha_bad", "lang_bad")
    r_fz = _run(spark, tp, ckpt_fz, partition_filter=fz)
    r_list = _run(spark, tp, ckpt_list, partition_filter=lst)
    assert {k: r_fz["cumulative"][k] for k in counters} == \
        {k: r_list["cumulative"][k] for k in counters}
    assert r_fz["cumulative"]["rows"] == 10
    with open(os.path.join(ckpt_fz, "table_state.json")) as fh:
        params_fz = json.load(fh)["params"]
    with open(os.path.join(ckpt_list, "table_state.json")) as fh:
        assert params_fz == json.load(fh)["params"]
    assert params_fz["partition_filter"] == {"lang": ["json"]}

    append_snapshot(tp, _vrows(30, "c2", langs=langs, start=100), SCHEMA,
                    partition_by="lang")
    r2 = _run(spark, tp, ckpt_list, partition_filter=fz)
    assert r2["mode"] == "incremental"
    assert r2["delta"]["rows"] == 10
    assert r2["cumulative"]["rows"] == 20


def test_partition_filter_on_unpartitioned_column(spark, tmp_path):
    """partition_filter names a column the table is not partitioned by:
    file pruning keeps every file, so the delta and the cumulative view
    must still hold only the filtered rows — the rows read_table
    returns — and count exactly what a from-scratch validation over
    read_table counts."""
    from schema_guru_spark.pipeline import validate_repo_table
    from schema_guru_spark.sources.catalog import read_table
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    langs = ("json", "py", "go")
    flt = {"lang": ["json"]}
    append_snapshot(tp, _vrows(30, "c1", langs=langs), SCHEMA)
    r1 = _run(spark, tp, ckpt, partition_filter=flt)
    n1 = read_table(spark, path=tp, partition_filter=flt).count()
    assert n1 == 10
    assert r1["delta"]["rows"] == r1["cumulative"]["rows"] == n1

    append_snapshot(tp, _vrows(30, "c2", langs=langs, start=100), SCHEMA)
    r2 = _run(spark, tp, ckpt, partition_filter=flt)
    assert r2["mode"] == "incremental"
    filtered = read_table(spark, path=tp, partition_filter=flt)
    assert r2["delta"]["rows"] == filtered.count() - n1 == 10
    full = validate_repo_table(spark, filtered, n_buckets=N_BUCKETS,
                               allowed_langs=("json",))
    rows = full.verdicts.collect()
    assert {k: r2["cumulative"][k] for k in ("rows", "json_ok", "json_err",
                                             "sha_bad", "lang_bad")} == {
        k: sum(r[f"n_{k}"] for r in rows)
        for k in ("rows", "json_ok", "json_err", "sha_bad", "lang_bad")}
    assert r2["cumulative"]["rows"] == 20


def test_empty_allow_list_allows_no_language(spark, tmp_path):
    """An empty allow-list allows nothing, as validate_repo_table
    documents: every delta row counts as lang_bad, the same count a
    from-scratch validation with allowed_langs=() gives, and the
    params pin records the empty list, not the defaults."""
    from schema_guru_spark.pipeline import validate_repo_table
    from schema_guru_spark.plans.incremental import incremental_validate
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(12, "c1", langs=("json", "py")), SCHEMA)
    rep = incremental_validate(spark, tp, ckpt, n_buckets=N_BUCKETS,
                               allowed_langs=[])
    full = validate_repo_table(spark, read_iceberg(spark, tp),
                               n_buckets=N_BUCKETS, allowed_langs=())
    n_lang_bad = sum(r["n_lang_bad"] for r in full.verdict_rows
                     .to_dict("records"))
    assert rep["delta"]["lang_bad"] == rep["delta"]["rows"] == 12
    assert n_lang_bad == 12
    with open(os.path.join(ckpt, "table_state.json")) as f:
        assert json.load(f)["params"]["allowed_langs"] == []


def test_zero_row_delta_is_vacuously_passing(spark, tmp_path):
    """A delta whose partition filter removes every file must not
    crash the sketch union or report a failing pass_rate."""
    from schema_guru_spark.plans.incremental import incremental_validate
    tp = str(tmp_path / "repos")
    append_snapshot(tp, _vrows(5, "c1"), SCHEMA, partition_by="lang")
    rep = incremental_validate(
        spark, tp, str(tmp_path / "ckpt"), n_buckets=4,
        allowed_langs=("json",), partition_filter={"lang": "rust"})
    cum = rep["cumulative"]
    assert cum["rows"] == 0
    assert cum["pass_rate"] == 1.0
    assert cum["uniqueness"]["uniq_ok"]


def test_incremental_read_resolves_rename_by_field_id(spark, tmp_path):
    """An incremental window spanning a column rename must project
    every file to the CURRENT schema by field id. A plain multi-path
    parquet read unifies schemas by NAME, which read the post-rename
    files' renamed column as null (silent data loss) before the fix."""
    from schema_guru_spark.sources.iceberg_meta import rename_column
    tp = str(tmp_path / "repos")
    s1 = append_snapshot(tp, _vrows(3, "c1"), SCHEMA)
    append_snapshot(tp, _vrows(3, "c2", start=3), SCHEMA)
    rename_column(tp, "content", "body")
    schema2 = [("body" if n == "content" else n, t) for n, t in SCHEMA]
    rows3 = [{("body" if k == "content" else k): v for k, v in r.items()}
             for r in _vrows(3, "c3", start=6)]
    s3 = append_snapshot(tp, rows3, schema2)
    df = read_iceberg_incremental(spark, tp, from_snapshot_id=s1,
                                  to_snapshot_id=s3)
    assert df.columns == [n for n, _ in schema2]
    got = {(r["commit"], r["body"]) for r in df.collect()}
    assert len(got) == 6 and all(b is not None for _, b in got)
    # pre-rename file (c2) and post-rename file (c3) both carry data
    assert {c for c, _ in got} == {"c2", "c3"}


def test_incremental_rejects_changed_parameters(spark, tmp_path):
    """ADVICE r04 (medium): table_state.json pins the validation
    parameters (n_buckets/n_salts/max_err_rate/allowed_langs/
    partition_filter) — a later run with different values would sum
    per-bucket counters across deltas whose bucket ids denote different
    row memberships, silently corrupting the cumulative view."""
    from schema_guru_spark.plans.incremental import incremental_validate
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    append_snapshot(tp, _vrows(10, "c2", start=10), SCHEMA,
                    partition_by="lang")
    with pytest.raises(ValueError, match="n_buckets"):
        incremental_validate(spark, tp, ckpt, n_buckets=N_BUCKETS * 2,
                             allowed_langs=("json",))
    with pytest.raises(ValueError, match="allowed_langs"):
        incremental_validate(spark, tp, ckpt, n_buckets=N_BUCKETS,
                             allowed_langs=("json", "py"))
    # matching params still work after the rejected attempts
    r = _run(spark, tp, ckpt)
    assert r["mode"] == "incremental"
    assert r["cumulative"]["rows"] == 20


def test_params_pin_canonicalizes_collection_filters(spark, tmp_path):
    """The params guard compares in-memory params against a
    JSON-round-tripped prior: tuple- and set-valued partition_filter
    entries must canonicalize to sorted lists, or an identical second
    run spuriously fails the pin (tuple != its saved list form) and a
    set crashes json.dump AFTER the validation scan already ran."""
    from schema_guru_spark.plans.incremental import (_run_params,
                                                     incremental_validate)
    import json as _json
    p = _run_params(8, 4, 0.02, ("json",),
                    {"lang": ("json", "py"), "repo": {"r1", "r0"}})
    assert p == _json.loads(_json.dumps(p))  # JSON-stable
    assert p["partition_filter"] == {"lang": ["json", "py"],
                                     "repo": ["r0", "r1"]}

    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    kw = dict(n_buckets=N_BUCKETS, allowed_langs=("json",),
              partition_filter={"lang": ("json", "py")})
    r1 = incremental_validate(spark, tp, ckpt, **kw)
    assert r1["mode"] == "baseline"
    append_snapshot(tp, _vrows(10, "c2", start=10), SCHEMA,
                    partition_by="lang")
    # identical tuple filter on the second run: must NOT raise; a list
    # spelling of the same filter is the same parameters too
    r2 = incremental_validate(
        spark, tp, ckpt, n_buckets=N_BUCKETS, allowed_langs=("json",),
        partition_filter={"lang": ["py", "json"]})
    assert r2["mode"] == "incremental"
    # a genuinely different filter still trips the guard
    with pytest.raises(ValueError, match="partition_filter"):
        incremental_validate(
            spark, tp, ckpt, n_buckets=N_BUCKETS,
            allowed_langs=("json",),
            partition_filter={"lang": ("json",)})


# ------------------------------------------- fixed per-append job cost

def test_incremental_append_job_count_flat(spark, tmp_path):
    """An append's validation cost is fixed: every incremental_validate
    of a chain runs the same number of Spark jobs, at most 1 — the
    scan's write to its scan sink (the delta read under its known
    schema), not a grouped Python stage. The scan sink's partial and
    key-sketch rows are read back, and the verdicts and the manifest
    written and read, on the driver, and cumulative_report runs no
    Spark job however many deltas are committed."""
    from conftest import executed_plans, last_execution_id
    from schema_guru_spark.plans.incremental import cumulative_report
    from schema_guru_spark.run_validation import _next_job_id
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    langs = ("json", "py")
    append_snapshot(tp, _vrows(40, "c1", langs=langs), SCHEMA,
                    partition_by="lang")
    _run(spark, tp, ckpt)
    append_jobs, cum_jobs = [], []
    for j in range(3):
        append_snapshot(tp, _vrows(12, f"c{j + 2}", start=100 * (j + 1),
                                   langs=langs),
                        SCHEMA, partition_by="lang")
        lo, e0 = _next_job_id(spark), last_execution_id(spark)
        rep = _run(spark, tp, ckpt)
        append_jobs.append(_next_job_id(spark) - lo)
        plans = executed_plans(spark, e0)
        spark.catalog.clearCache()
        grouped = [i for i, p in plans if "FlatMapGroupsInPandas" in p]
        assert plans and not grouped, grouped
        assert rep["cumulative"]["n_deltas"] == j + 2
        lo = _next_job_id(spark)
        cum = cumulative_report(spark, ckpt)
        cum_jobs.append(_next_job_id(spark) - lo)
        assert cum == rep["cumulative"]
    assert max(append_jobs) <= 1, append_jobs
    assert append_jobs[0] == append_jobs[2], append_jobs
    assert max(cum_jobs) == 0, cum_jobs


# ------------------------------------------------ key sketch laws

_hashes = st.lists(st.integers(-2 ** 63, 2 ** 63 - 1), max_size=300)


@settings(max_examples=50, deadline=None)
@given(a=_hashes, b=_hashes, cut=st.integers(0, 300))
def test_sketch_of_union_is_max_of_sketches(a, b, cut):
    """The registers of A ∪ B are the element-wise max of A's and B's,
    byte for byte, however the rows are split into tasks and merged."""
    import numpy as np
    from schema_guru_spark.operators.constraints import (hll_merge,
                                                         hll_registers)
    whole = hll_registers(np.array(a + b, dtype=np.int64)).tobytes()
    ab = a + b
    # the per-hash loop reference: top 14 bits pick the register, which
    # keeps the max 1-based position of the first 1 bit in the other 50
    ref = bytearray(1 << 14)
    for h in ab:
        u = h % 2 ** 64
        idx, w = u >> 50, u & (2 ** 50 - 1)
        ref[idx] = max(ref[idx], 51 - w.bit_length())
    assert bytes(ref) == whole
    parts = [hll_registers(np.array(p, dtype=np.int64))
             for p in (ab[:cut], ab[cut:])]
    assert hll_merge(parts).tobytes() == whole
    assert hll_merge([hll_registers(np.array(a, dtype=np.int64)),
                      hll_registers(np.array(b, dtype=np.int64)).tobytes()]
                     ).tobytes() == whole
    # folding into existing registers is the same merge
    regs = hll_registers(np.array(a, dtype=np.int64))
    assert hll_registers(np.array(b, dtype=np.int64), regs).tobytes() \
        == whole


@pytest.mark.parametrize("n", [1, 2, 7, 100, 1000, 12_345, 50_000,
                               200_000])
def test_sketch_estimate_within_4_sigma(n):
    """The estimator is exact on empty registers and within 4 standard
    errors (4 x 1.04/sqrt(2^14) = 3.2%) of the exact distinct count
    from one key to 200k."""
    import numpy as np
    from schema_guru_spark.operators.constraints import (HLL_M, hll_estimate,
                                                         hll_registers)
    assert hll_estimate(np.zeros(HLL_M, np.uint8)) == 0.0
    keys = np.random.default_rng(n).integers(-2 ** 63, 2 ** 63 - 1, n,
                                             dtype=np.int64)
    # every key twice: duplicates never raise the estimate
    est = hll_estimate(hll_registers(np.concatenate([keys, keys[::-1]])))
    assert abs(est - n) / n <= 0.032, (n, est)


def _delta_sketch(ckpt):
    """The row count, the merged key sketch and the number of scan sink
    chunks of the one delta of ``ckpt``."""
    from schema_guru_spark.pipeline import read_scan_parts, scan_totals
    [delta] = [d for d in os.listdir(ckpt) if d.startswith("e000")]
    d = os.path.join(ckpt, delta)
    parts = read_scan_parts([d], ("n_rows", "n_viol", "sketch"))
    return (int(parts["n_rows"].sum()), scan_totals(parts)[1].tobytes(),
            len([c for c in os.listdir(os.path.join(d, "scan"))
                 if c.startswith("chunk=")]))


def test_resumed_delta_sketch_equals_one_chunk_run(spark, tmp_path,
                                                   monkeypatch):
    """A delta killed after its first chunk commits and then resumed
    stores one sketch per chunk, and their merge is byte-identical to
    the sketch of the same delta validated in one chunk."""
    from schema_guru_spark.plans.checkpoint import CheckpointManager
    from schema_guru_spark.plans.incremental import incremental_validate
    tp = str(tmp_path / "repos")
    append_snapshot(tp, _vrows(60, "c1"), SCHEMA, partition_by="lang")
    kw = dict(n_buckets=N_BUCKETS, allowed_langs=("json",))
    one = str(tmp_path / "one")
    rep_one = incremental_validate(spark, tp, one, **kw)

    chunked = str(tmp_path / "chunked")
    record_done = CheckpointManager.record_done
    commits = []

    def killed_after_first_chunk(self, metrics):
        if commits:
            raise RuntimeError("killed")
        commits.append(1)
        record_done(self, metrics)

    monkeypatch.setattr(CheckpointManager, "record_done",
                        killed_after_first_chunk)
    with pytest.raises(RuntimeError, match="killed"):
        incremental_validate(spark, tp, chunked, chunk_size=1, **kw)
    monkeypatch.setattr(CheckpointManager, "record_done", record_done)
    rep = incremental_validate(spark, tp, chunked, chunk_size=1, **kw)
    assert rep["delta"]["resumed_buckets"] == 1
    n_rows, sketch, n_chunks = _delta_sketch(chunked)
    assert n_chunks == N_BUCKETS
    assert (n_rows, sketch, 1) == _delta_sketch(one)
    assert rep["cumulative"]["uniqueness"] == \
        rep_one["cumulative"]["uniqueness"]
    assert rep["cumulative"]["uniqueness"]["n_rows"] == 60


def test_checkpoint_with_other_sketch_format_is_refused(spark, tmp_path):
    """A checkpoint whose pinned parameters lack this key-sketch format
    (one written before the registers were built in the scan holds
    DataSketches bytes) is refused by the parameter guard, naming
    key_sketch, instead of merging registers it cannot read."""
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    path = os.path.join(ckpt, "table_state.json")
    with open(path) as fh:
        state = json.load(fh)
    del state["params"]["key_sketch"]
    with open(path, "w") as fh:
        json.dump(state, fh)
    append_snapshot(tp, _vrows(10, "c2", start=10), SCHEMA,
                    partition_by="lang")
    with pytest.raises(ValueError, match=r"parameters \(key_sketch\)"):
        _run(spark, tp, ckpt)


def test_checkpoint_from_before_the_histogram_is_refused(spark, tmp_path):
    """A checkpoint whose pinned parameters lack the length-histogram
    format (one written before the histogram joined the verdict row) is
    refused by the parameter guard, naming length_hist, before any
    scan."""
    from schema_guru_spark.run_validation import _next_job_id
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    path = os.path.join(ckpt, "table_state.json")
    with open(path) as fh:
        state = json.load(fh)
    del state["params"]["length_hist"]
    with open(path, "w") as fh:
        json.dump(state, fh)
    append_snapshot(tp, _vrows(10, "c2", start=10), SCHEMA,
                    partition_by="lang")
    lo = _next_job_id(spark)
    with pytest.raises(ValueError, match=r"parameters \(length_hist\)"):
        _run(spark, tp, ckpt)
    assert _next_job_id(spark) == lo


def test_chain_without_scan_sinks_is_refused(spark, tmp_path):
    """A chain whose deltas kept their violations and key sketches in
    sinks of their own, not in a scan sink, pins no ``scan_sink`` in its
    parameters: the next incremental_validate refuses it, naming the
    checkpoint directory, before any Spark job, instead of reporting a
    uniqueness block without those deltas' sketches."""
    import re
    import shutil

    from schema_guru_spark.run_validation import _next_job_id
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    [delta] = [d for d in os.listdir(ckpt) if d.startswith("e000")]
    shutil.rmtree(os.path.join(ckpt, delta, "scan"))
    path = os.path.join(ckpt, "table_state.json")
    with open(path) as fh:
        state = json.load(fh)
    del state["params"]["scan_sink"]
    with open(path, "w") as fh:
        json.dump(state, fh)
    append_snapshot(tp, _vrows(10, "c2", start=10), SCHEMA,
                    partition_by="lang")
    lo = _next_job_id(spark)
    with pytest.raises(ValueError, match=re.escape(ckpt)
                       + r".*parameters \(scan_sink\)"):
        _run(spark, tp, ckpt)
    assert _next_job_id(spark) == lo


def test_cumulative_report_refuses_verdicts_without_histogram(spark,
                                                              tmp_path):
    """cumulative_report refuses a committed delta whose verdict rows
    carry no length histogram (the format before it), naming that
    delta's sink, instead of folding drift over part of the table."""
    import re

    import pyarrow.parquet as pq
    from schema_guru_spark.plans.incremental import cumulative_report
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(20, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    append_snapshot(tp, _vrows(10, "c2", start=100), SCHEMA,
                    partition_by="lang")
    _run(spark, tp, ckpt)
    [old] = sorted(d for d in os.listdir(ckpt) if d.startswith("e000"))[:1]
    sink = os.path.join(ckpt, old, "verdicts")
    for root, _, files in os.walk(sink):
        for f in files:
            if f.endswith(".parquet"):
                fp = os.path.join(root, f)
                pq.write_table(pq.read_table(fp).drop_columns(["hist"]), fp)
    with pytest.raises(ValueError, match=re.escape(sink)):
        cumulative_report(spark, ckpt)


@pytest.mark.parametrize("seed", [1, 2])
def test_cumulative_drift_equals_from_scratch(spark, seed):
    """The rounds of ``stress_fuzz_incremental.py --rounds 2 --seed 1``:
    along each random append chain, the cumulative view (counters,
    schema, uniqueness, and the per-bucket PSI of the summed length
    histograms) equals a from-scratch validation of each snapshot."""
    from stress_fuzz_incremental import run_round
    run_round(spark, seed)


# ---------------------------------------- driver-side cumulative fold

def _fold_state(doc):
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import derive_text, dumps
    return dumps(derive_text(doc, SchemaContext.make(0))[0])


_FOLD_DOCS = ('{"a": 1}', '{"a": "x", "b": [1, 2]}', '[true, null]',
              '{"b": 2.5}', '{}')


def _fold_hist(r):
    """A verdict row's length histogram: its rows spread over two
    slots that depend on the row, its parse errors in the NULL slot."""
    from schema_guru_spark.pipeline import HIST_NULL, HIST_SLOTS
    h = [0] * HIST_SLOTS
    h[3 + r["doc"]] += r["n_rows"] - r["n_json_err"]
    h[HIST_NULL] += r["n_json_err"]
    return h


def _write_chain(root, deltas):
    """A committed chain of verdict sinks laid out as
    validate_repo_table writes them: one sub-checkpoint per delta,
    chunk=N partition directories (buckets < 3 in chunk=0, the rest in
    chunk=3), table_state.json listing the windows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from schema_guru_spark.plans.incremental import _save_state
    schema = pa.schema(
        [("bucket", pa.int32())]
        + [(k, pa.int64()) for k in ("n_rows", "n_json_ok", "n_json_err",
                                     "n_sha_bad", "n_lang_bad")]
        + [("hist", pa.list_(pa.int64())), ("schema", pa.string()),
           ("passed", pa.bool_()), ("state", pa.string())])
    labels = [f"e000-snap-{k}-{k + 1}" for k in range(len(deltas))]
    for label, rows in zip(labels, deltas):
        parts: dict = {}
        for r in rows:
            parts.setdefault(0 if r["bucket"] < 3 else 3, []).append(
                {**{k: v for k, v in r.items() if k != "doc"},
                 "hist": _fold_hist(r), "schema": "{}", "passed": True,
                 "state": _fold_state(_FOLD_DOCS[r["doc"]])})
        # a zero-row delta: one empty file that carries the schema
        for chunk, part in (parts or {0: []}).items():
            d = os.path.join(root, label, "verdicts", f"chunk={chunk}")
            os.makedirs(d)
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(d, "part-00000.parquet"))
    _save_state(root, {"table_uuid": "t", "snapshot_id": len(deltas),
                       "epoch": 0, "windows": labels})


def _psi_reference(hists):
    """{bucket: PSI} of per-bucket length histograms against their sum,
    term by term: smoothing over the bins the sum uses, bins a bucket
    does not use skipped, the NULL slot left out."""
    import math

    from schema_guru_spark.pipeline import HIST_NULL
    glob = [sum(h[i] for h in hists.values()) for i in range(HIST_NULL)]
    k, gt = sum(1 for g in glob if g), sum(glob)
    out = {}
    for b, h in hists.items():
        pt = sum(h[:HIST_NULL])
        if pt:
            out[b] = round(sum(
                ((n + 0.5) / (pt + 0.5 * k) - (g + 0.5) / (gt + 0.5 * k))
                * math.log((n + 0.5) / (pt + 0.5 * k)
                           / ((g + 0.5) / (gt + 0.5 * k)))
                for n, g in zip(h, glob) if n), 6)
    return out


def _groupby_reference(spark, deltas, max_err_rate):
    """The cumulative view as a Spark groupBy over the unioned verdict
    rows, with the pass rule as a Column expression — the formula the
    fold replaced, kept here as the law's reference."""
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import ZERO, loads, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    from pyspark.sql import functions as F
    rows = [(r["bucket"], r["n_rows"], r["n_json_ok"], r["n_json_err"],
             r["n_sha_bad"], r["n_lang_bad"],
             _fold_state(_FOLD_DOCS[r["doc"]]))
            for d in deltas for r in d]
    verdicts = spark.createDataFrame(
        rows, "bucket int, n_rows bigint, n_json_ok bigint, "
              "n_json_err bigint, n_sha_bad bigint, n_lang_bad bigint, "
              "state string")
    per_bucket = (verdicts.groupBy("bucket").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_json_ok").alias("n_json_ok"),
        F.sum("n_json_err").alias("n_json_err"),
        F.sum("n_sha_bad").alias("n_sha_bad"),
        F.sum("n_lang_bad").alias("n_lang_bad"))
        .withColumn(
            "passed",
            (F.coalesce(F.col("n_json_err") /
                        F.greatest(F.col("n_json_ok") +
                                   F.col("n_json_err"), F.lit(1)),
                        F.lit(0.0)) <= max_err_rate)
            & (F.col("n_sha_bad") == 0) & (F.col("n_lang_bad") == 0))
        ).collect()
    ctx = SchemaContext.make(0)
    by_bucket, glob = {}, ZERO
    for r in rows:
        st = loads(r[-1])
        by_bucket[r[0]] = merge(by_bucket.get(r[0], ZERO), st, ctx)
        glob = merge(glob, st, ctx)
    hists: dict = {}
    for r in (r for d in deltas for r in d):
        h = _fold_hist(r)
        hists[r["bucket"]] = [a + b for a, b in zip(
            hists.get(r["bucket"], [0] * len(h)), h)]
    psi = _psi_reference(hists)
    total = {k: sum(r[k] for r in per_bucket)
             for k in ("n_rows", "n_json_ok", "n_json_err", "n_sha_bad",
                       "n_lang_bad")}
    passed = sum(1 for r in per_bucket if r["passed"])
    return {
        "n_deltas": len(deltas),
        "rows": total["n_rows"], "json_ok": total["n_json_ok"],
        "json_err": total["n_json_err"], "sha_bad": total["n_sha_bad"],
        "lang_bad": total["n_lang_bad"],
        "buckets": len(per_bucket), "buckets_passed": passed,
        "pass_rate": (round(passed / len(per_bucket), 4)
                      if per_bucket else 1.0),
        "uniqueness": {},
        "drift": {"worst_bucket_psi": pytest.approx(
                      max(psi.values(), default=0.0), abs=1e-6),
                  "bucket_psi": pytest.approx(psi, abs=1e-6)},
        "schema": render(apply_transforms(glob, ctx), ctx),
        "bucket_schemas": {b: render(apply_transforms(st, ctx), ctx)
                           for b, st in sorted(by_bucket.items())},
    }


_verdict_row = st.fixed_dictionaries({
    "bucket": st.integers(0, 5),
    "n_json_ok": st.integers(0, 4),
    "n_json_err": st.integers(0, 4),
    "n_sha_bad": st.sampled_from((0, 0, 0, 1)),
    "n_lang_bad": st.sampled_from((0, 0, 0, 2)),
    "doc": st.integers(0, len(_FOLD_DOCS) - 1),
}).map(lambda r: {**r, "n_rows": r["n_json_ok"] + r["n_json_err"]
                  + r["n_sha_bad"] + r["n_lang_bad"]})


def _row(bucket, ok, err, sha=0, lang=0, doc=0):
    return {"bucket": bucket, "n_json_ok": ok, "n_json_err": err,
            "n_sha_bad": sha, "n_lang_bad": lang, "doc": doc,
            "n_rows": ok + err + sha + lang}


@settings(max_examples=20, deadline=None)
@given(deltas=st.lists(st.lists(_verdict_row, max_size=6,
                                unique_by=lambda r: r["bucket"]),
                       min_size=1, max_size=4),
       max_err_rate=st.sampled_from((0.0, 0.25, 1 / 3, 0.5)))
# error rate exactly at the bound (1/4 summed across two deltas), a
# bucket with zero JSON docs, buckets missing from some deltas, and a
# zero-row delta in the middle of the chain
@example(deltas=[[_row(0, 2, 1), _row(1, 0, 0, lang=1), _row(4, 0, 0)],
                 [],
                 [_row(0, 1, 0, doc=1), _row(3, 3, 1, doc=2)]],
         max_err_rate=0.25)
@example(deltas=[[]], max_err_rate=0.0)
def test_cumulative_fold_equals_spark_groupby(spark, tmp_path_factory,
                                              deltas, max_err_rate):
    """The law behind the driver-side fold: for ANY committed chain of
    per-delta verdict rows, cumulative_report equals the Spark groupBy
    over the unioned rows with the pass rule as a Column expression —
    counters, per-bucket verdicts (err/max(ok+err,1) <= max_err_rate,
    no sha or lang violation), pass rate and merged schemas."""
    from schema_guru_spark.plans.incremental import cumulative_report
    root = str(tmp_path_factory.mktemp("fold") / "ckpt")
    _write_chain(root, deltas)
    got = cumulative_report(spark, root, max_err_rate=max_err_rate)
    assert got == _groupby_reference(spark, deltas, max_err_rate)
