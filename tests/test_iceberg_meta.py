"""Iceberg v2 metadata layer — the north rule's input format,
exercised end-to-end without the (unobtainable) iceberg-spark runtime.

Layering of trust:
  1. the Avro OCF codec is interop-tested BOTH directions against the
     JVM Avro 1.12 implementation bundled inside the Spark
     distribution (avro-1.12.1.jar) — the fixture writer is therefore
     not self-certifying;
  2. the fixture writer emits spec-conformant v2 metadata
     (iceberg.apache.org/spec/), which the reader consumes;
  3. snapshot pinning and manifest-driven partition pruning are
     asserted against ground truth held in Python.
"""

import json
import os
import shutil

import pytest

from schema_guru_spark.sources.avro_ocf import read_ocf, write_ocf
from schema_guru_spark.sources.catalog import read_table
from schema_guru_spark.sources.iceberg_meta import (
    append_snapshot,
    data_files,
    delete_positions,
    delete_where_equal,
    load_table_metadata,
    plan_scan,
    read_iceberg,
)

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string")]


def _rows(n, commit="c1", langs=("py", "scala", "go")):
    return [{"repo": f"r{i % 3}", "path": f"p/{commit}/{i}",
             "commit": commit, "lang": langs[i % len(langs)],
             "content": json.dumps({"i": i})} for i in range(n)]


@pytest.fixture(scope="module")
def table(tmp_path_factory):
    tp = str(tmp_path_factory.mktemp("ice") / "repos")
    s1 = append_snapshot(tp, _rows(30, "c1"), SCHEMA,
                         partition_by="lang")
    s2 = append_snapshot(tp, _rows(10, "c2", langs=("py",)), SCHEMA,
                         partition_by="lang")
    return tp, s1, s2


# ------------------------------------------------------- avro interop

AVRO_SCHEMA = {
    "type": "record", "name": "t", "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "o", "type": ["null", "long"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": {
            "type": "record", "name": "sub", "fields": [
                {"name": "x", "type": "int"},
                {"name": "d", "type": "double"}]}}},
        {"name": "m", "type": {"type": "map", "values": "bytes"}},
        {"name": "b", "type": "boolean"},
    ]}
AVRO_RECS = [
    {"s": "héllo ☃", "n": -(2 ** 40), "o": None,
     "arr": [{"x": 1, "d": 2.5}, {"x": -7, "d": 0.0}],
     "m": {"k": b"\x00\xff"}, "b": True},
    {"s": "", "n": 0, "o": 42, "arr": [], "m": {}, "b": False},
]


@pytest.mark.parametrize("codec", ["deflate", "null"])
def test_avro_python_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"t_{codec}.avro")
    write_ocf(p, AVRO_SCHEMA, AVRO_RECS, codec=codec)
    _, back = read_ocf(p)
    assert back == AVRO_RECS


def test_avro_python_write_java_read(tmp_path, spark):
    """Files our codec writes must be readable by the reference JVM
    Avro implementation — this is what makes the Iceberg fixtures
    evidence rather than circular self-agreement."""
    p = str(tmp_path / "py.avro")
    write_ocf(p, AVRO_SCHEMA, AVRO_RECS, codec="deflate")
    jvm = spark._jvm  # noqa: SLF001 — test-only interop check
    rd = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p),
        jvm.org.apache.avro.generic.GenericDatumReader())
    recs = []
    while rd.hasNext():
        recs.append(rd.next())
    rd.close()
    assert len(recs) == 2
    assert str(recs[0].get("s")) == AVRO_RECS[0]["s"]
    assert recs[0].get("n") == AVRO_RECS[0]["n"]
    assert recs[0].get("o") is None and recs[1].get("o") == 42
    arr = recs[0].get("arr")
    assert arr.size() == 2 and arr.get(1).get("x") == -7
    assert recs[0].get("b") is True and recs[1].get("b") is False


def test_avro_java_write_python_read(tmp_path, spark):
    """And the reverse: JVM-written files decode identically."""
    p = str(tmp_path / "java.avro")
    jvm = spark._jvm  # noqa: SLF001
    sch = jvm.org.apache.avro.Schema.Parser().parse(
        json.dumps(AVRO_SCHEMA))
    w = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch))
    w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.create(sch, jvm.java.io.File(p))
    # build each GenericRecord wholly JVM-side via Avro's own JSON
    # decoder — py4j's primitive auto-boxing (int vs long) would
    # otherwise corrupt union typing before Java Avro sees the value
    for rec in AVRO_RECS:
        avro_json = json.dumps({
            "s": rec["s"], "n": rec["n"],
            "o": None if rec["o"] is None else {"long": rec["o"]},
            "arr": rec["arr"],
            # Avro JSON encodes bytes as a latin-1 string
            "m": {k: v.decode("latin-1") for k, v in rec["m"].items()},
            "b": rec["b"]})
        dec = jvm.org.apache.avro.io.DecoderFactory.get() \
            .jsonDecoder(sch, avro_json)
        gr = jvm.org.apache.avro.generic.GenericDatumReader(sch) \
            .read(None, dec)
        w.append(gr)
    w.close()
    _, back = read_ocf(p)
    assert back == AVRO_RECS


def test_avro_java_multiblock_python_read(tmp_path, spark):
    """Real manifest writers emit MANY sync-delimited blocks; force the
    JVM writer to flush tiny blocks and verify our block loop."""
    p = str(tmp_path / "multi.avro")
    jvm = spark._jvm  # noqa: SLF001
    sch = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(
        {"type": "record", "name": "r", "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": "string"}]}))
    w = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch))
    w.setSyncInterval(64)  # minimum allowed: block every few records
    w.create(sch, jvm.java.io.File(p))
    for i in range(500):
        dec = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
            sch, json.dumps({"i": i, "s": f"row-{i}"}))
        w.append(jvm.org.apache.avro.generic.GenericDatumReader(sch)
                 .read(None, dec))
    w.close()
    _, back = read_ocf(p)
    assert back == [{"i": i, "s": f"row-{i}"} for i in range(500)]


# --------------------------------------------------- metadata semantics

def test_snapshot_lineage_and_versions(table):
    tp, s1, s2 = table
    meta = load_table_metadata(tp)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == s2
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [s1, s2]
    # version-hint points at the latest metadata json
    assert load_table_metadata(tp, version=1)["current-snapshot-id"] \
        == s1


def test_data_files_full_and_pinned(table):
    tp, s1, s2 = table
    assert sum(f.record_count for f in data_files(tp)) == 40
    assert sum(f.record_count
               for f in data_files(tp, snapshot_id=s1)) == 30
    with pytest.raises(LookupError, match="not in table metadata"):
        data_files(tp, snapshot_id=999)


def test_manifest_partition_pruning_skips_files(table):
    tp, _, _ = table
    all_files = data_files(tp)
    py_files = data_files(tp, partition_filter={"lang": "py"})
    # pruning happened in METADATA: fewer files, and only lang=py ones
    assert 0 < len(py_files) < len(all_files)
    assert all(f.partition == {"lang": "py"} for f in py_files)
    assert sum(f.record_count for f in py_files) == 20  # 10 + 10
    # a non-partition column never prunes (correct, just unselective)
    assert len(data_files(tp, partition_filter={"commit": "c1"})) \
        == len(all_files)
    # list-valued filters widen the allowed set
    two = data_files(tp, partition_filter={"lang": ["py", "go"]})
    assert sum(f.record_count for f in two) == 30


def test_read_iceberg_dataframe(table, spark):
    tp, s1, _ = table
    df = read_iceberg(spark, tp)
    assert df.count() == 40
    assert set(df.columns) == {"repo", "path", "commit", "lang",
                               "content"}
    pinned = read_iceberg(spark, tp, snapshot_id=s1)
    assert pinned.count() == 30
    assert pinned.where("commit = 'c2'").count() == 0
    pruned = read_iceberg(spark, tp, partition_filter={"lang": "py"})
    assert pruned.count() == 20
    # identity partition columns live IN the data files (Iceberg
    # layout, unlike Hive) so rows are complete after pruning
    assert pruned.where("lang = 'py'").count() == 20


def test_read_table_routes_iceberg_paths(table, spark):
    tp, s1, _ = table
    assert read_table(spark, path=tp).count() == 40
    assert read_table(spark, path=tp, snapshot_id=s1).count() == 30


def test_empty_table_has_schema(tmp_path, spark):
    tp = str(tmp_path / "t")
    append_snapshot(tp, [], SCHEMA, partition_by="lang")
    df = read_iceberg(spark, tp)
    assert df.count() == 0
    assert df.columns == [n for n, _ in SCHEMA]


def test_corrupt_manifest_content_flag_fails_loudly(table, tmp_path):
    """A data-file entry inside a DELETE manifest (or vice versa) is
    corrupt metadata and must raise, never silently mis-plan."""
    tp_src, _, _ = table
    tp = str(tmp_path / "del")
    shutil.copytree(tp_src, tp)
    meta = load_table_metadata(tp)
    mlist = meta["snapshots"][-1]["manifest-list"][len("file://"):]
    # rewrite the manifest list under the copied table, flipping one
    # manifest to content=1 (deletes) without touching its entries
    mlist = mlist.replace(tp_src, tp)
    hdr, manifests = read_ocf(mlist)
    manifests[0]["content"] = 1
    schema = {k: v for k, v in hdr["schema"].items()}
    write_ocf(mlist, schema, manifests)
    # repoint table-internal paths at the copy
    for f in os.listdir(os.path.join(tp, "metadata")):
        if f.endswith(".metadata.json"):
            p = os.path.join(tp, "metadata", f)
            with open(p) as fh:
                txt = fh.read()
            with open(p, "w") as fh:
                fh.write(txt.replace(tp_src, tp))
    with pytest.raises(ValueError, match="DELETE manifest"):
        plan_scan(tp)


# --------------------------------------------- merge-on-read deletes

@pytest.fixture()
def mor_table(tmp_path):
    """A fresh copy-free table for delete tests: 30 rows @ c1 then 10
    py rows @ c2, partitioned by lang (same shape as ``table``)."""
    tp = str(tmp_path / "mor")
    s1 = append_snapshot(tp, _rows(30, "c1"), SCHEMA,
                         partition_by="lang")
    s2 = append_snapshot(tp, _rows(10, "c2", langs=("py",)), SCHEMA,
                         partition_by="lang")
    return tp, s1, s2


def test_position_delete_merge_on_read(mor_table, spark):
    import pyarrow.parquet as pq

    tp, _, s2 = mor_table
    # ground truth: pick one data file, read it row-by-row with
    # pyarrow, delete ordinals 0 and 3
    victim = sorted(plan_scan(tp).data, key=lambda f: f.path)[0]
    tbl = pq.read_table(victim.path).to_pylist()
    gone = {tbl[0]["path"], tbl[3]["path"]}
    s3 = delete_positions(tp, [(victim.path, 0), (victim.path, 3)])

    df = read_iceberg(spark, tp)
    assert df.count() == 38
    assert df.where(df["path"].isin(list(gone))).count() == 0
    # untouched rows of the same file survive
    assert df.where(df["path"] == tbl[1]["path"]).count() == 1
    # time travel to before the delete still sees all 40
    assert read_iceberg(spark, tp, snapshot_id=s2).count() == 40
    # and the delete snapshot is now the current one
    assert load_table_metadata(tp)["current-snapshot-id"] == s3
    # the metadata-only API refuses rather than over-counting
    with pytest.raises(NotImplementedError, match="over-count"):
        data_files(tp)


def test_position_delete_survives_partition_pruning(mor_table, spark):
    """Deletes ride an unpartitioned spec, so a partition_filter must
    never prune them away: the deleted row stays deleted inside the
    pruned read."""
    import pyarrow.parquet as pq

    tp, _, _ = mor_table
    py_file = sorted(f.path for f in plan_scan(
        tp, partition_filter={"lang": "py"}).data)[0]
    first = pq.read_table(py_file).to_pylist()[0]["path"]
    delete_positions(tp, [(py_file, 0)])
    pruned = read_iceberg(spark, tp, partition_filter={"lang": "py"})
    assert pruned.count() == 19  # 20 py rows - 1 deleted
    assert pruned.where(pruned["path"] == first).count() == 0


def test_equality_delete_and_reinsert(mor_table, spark):
    """Equality deletes apply to STRICTLY older data files: rows
    re-inserted after the delete survive it (spec sequence rule)."""
    tp, _, _ = mor_table
    n_r1c1 = read_iceberg(spark, tp) \
        .where("repo = 'r1' and commit = 'c1'").count()
    assert n_r1c1 > 0
    delete_where_equal(tp, [{"repo": "r1", "commit": "c1"}])
    df = read_iceberg(spark, tp)
    assert df.where("repo = 'r1' and commit = 'c1'").count() == 0
    assert df.count() == 40 - n_r1c1

    # re-insert two (r1, c1) rows AFTER the delete: they must survive
    append_snapshot(tp, [
        {"repo": "r1", "path": "new/0", "commit": "c1", "lang": "py",
         "content": "{}"},
        {"repo": "r1", "path": "new/1", "commit": "c1", "lang": "go",
         "content": "{}"}], SCHEMA, partition_by="lang")
    df2 = read_iceberg(spark, tp)
    assert df2.where("repo = 'r1' and commit = 'c1'").count() == 2
    assert df2.count() == 42 - n_r1c1


def test_stacked_position_and_equality_deletes(mor_table, spark):
    """Both delete kinds in one table, committed in sequence, compose."""
    import pyarrow.parquet as pq

    tp, _, _ = mor_table
    victim = sorted(plan_scan(tp).data, key=lambda f: f.path)[0]
    row0 = pq.read_table(victim.path).to_pylist()[0]
    delete_positions(tp, [(victim.path, 0)])
    delete_where_equal(tp, [{"lang": "scala"}])
    df = read_iceberg(spark, tp)
    n_scala = 10  # _rows(30) puts every third row in scala
    expect = 40 - n_scala - (0 if row0["lang"] == "scala" else 1)
    assert df.count() == expect
    assert df.where("lang = 'scala'").count() == 0
    assert df.where(df["path"] == row0["path"]).count() == 0


def test_read_table_routes_deletes(mor_table, spark):
    """catalog.read_table over an Iceberg path applies deletes too —
    the validation job sees merge-on-read semantics transparently."""
    tp, _, _ = mor_table
    victim = sorted(plan_scan(tp).data, key=lambda f: f.path)[0]
    delete_positions(tp, [(victim.path, 0)])
    assert read_table(spark, path=tp).count() == 39


def test_run_validation_over_mor_table(mor_table, spark, capsys):
    tp, _, _ = mor_table
    delete_where_equal(tp, [{"lang": "go"}])
    from schema_guru_spark.run_validation import main
    main(["--input", tp, "--buckets", "4", "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 30  # 40 - 10 go rows


def test_read_table_partition_filter_same_semantics(table, spark,
                                                    tmp_path):
    """partition_filter means the same rows on every route; on the
    Iceberg route it additionally prunes files in metadata."""
    tp, _, _ = table
    ice = read_table(spark, path=tp, partition_filter={"lang": "py"})
    assert ice.count() == 20
    # plain parquet route: same rows via a pushed predicate
    pq_dir = str(tmp_path / "pq")
    read_table(spark, path=tp).write.parquet(pq_dir)
    flat = read_table(spark, path=pq_dir,
                      partition_filter={"lang": "py"})
    assert flat.count() == 20
    assert sorted(r["path"] for r in ice.collect()) == \
        sorted(r["path"] for r in flat.collect())
    # and the predicate reaches the parquet scan (Catalyst pushdown)
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan


def test_run_validation_langs_prunes_iceberg_metadata(table, spark,
                                                      capsys):
    tp, _, _ = table
    from schema_guru_spark.run_validation import main
    main(["--input", tp, "--langs", "py,go", "--buckets", "4",
          "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 30  # 20 py + 10 go of 40


def test_run_validation_over_iceberg_path(table, spark, capsys):
    """The job entry point consumes an Iceberg table location like any
    other --input: resolution goes through read_table -> iceberg_meta."""
    tp, _, _ = table
    from schema_guru_spark.run_validation import main
    main(["--input", tp, "--buckets", "4", "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 40


def test_resume_with_pinned_snapshot_sees_original_rows(
        tmp_path, spark):
    """North rule: a resumed run must validate EXACTLY the row set the
    original run checkpointed against. Snapshot pinning is what makes
    that true over a live table — an append lands between the partial
    run and the resume, and the pinned resume must not see it."""
    from schema_guru_spark.pipeline import validate_repo_table
    from schema_guru_spark.plans.checkpoint import CheckpointManager

    tp = str(tmp_path / "live")
    s1 = append_snapshot(tp, _rows(40, "c1"), SCHEMA,
                         partition_by="lang")
    ck = str(tmp_path / "ckpt")

    # partial run against snapshot s1 (emulate a kill after 3 buckets)
    df1 = read_table(spark, path=tp, snapshot_id=s1)
    CheckpointManager(spark, ck).record_done(
        [{"bucket": b, "n_rows": 0, "n_ok": 0, "n_err": 0}
         for b in range(3)])

    # a writer appends while the job is down
    append_snapshot(tp, _rows(25, "c2"), SCHEMA, partition_by="lang")

    # resume PINNED to s1: remaining buckets only, original row set
    df_resume = read_table(spark, path=tp, snapshot_id=s1)
    res = validate_repo_table(spark, df_resume, checkpoint_dir=ck,
                              n_buckets=8)
    assert res.resumed_buckets == [0, 1, 2]
    assert res.processed_buckets == [3, 4, 5, 6, 7]
    # every validated row is from c1 — the append is invisible
    assert df_resume.where("commit <> 'c1'").count() == 0
    assert df_resume.count() == 40
    # an UNPINNED read at resume time would have seen a different
    # table than the checkpoint manifest describes — the hazard
    assert read_table(spark, path=tp).count() == 65


# ---------------------------------------------------------------------------
# non-identity partition transforms (r04 verdict #4)
# ---------------------------------------------------------------------------

def test_murmur3_spec_vectors():
    """Iceberg spec Appendix B 32-bit hash requirements — the published
    test vectors (signed int32)."""
    from datetime import date, datetime
    from schema_guru_spark.sources.iceberg_meta import _bucket_hash

    def signed(x):
        return x - (1 << 32) if x >= (1 << 31) else x

    assert signed(_bucket_hash(34, "int")) == 2017239379
    assert signed(_bucket_hash(34, "long")) == 2017239379
    assert signed(_bucket_hash("iceberg", "string")) == 1210000089
    days = (date(2017, 11, 16) - date(1970, 1, 1)).days
    assert signed(_bucket_hash(days, "date")) == -653330422
    micros = int((datetime(2017, 11, 16, 22, 31, 8)
                  - datetime(1970, 1, 1)).total_seconds() * 1e6)
    assert signed(_bucket_hash(micros, "timestamp")) == -2047944441


def test_transform_value_table():
    from schema_guru_spark.sources.iceberg_meta import transform_value
    assert transform_value("truncate[10]", -1, "long") == -10
    assert transform_value("truncate[10]", 11, "int") == 10
    assert transform_value("truncate[5]", "iceberg", "string") == "icebe"
    assert transform_value("day", "2017-11-16T22:31:08",
                           "timestamp") == 17486
    assert transform_value("hour", "2017-11-16T22:31:08",
                           "timestamp") == 17486 * 24 + 22
    assert transform_value("month", "2017-11-16", "date") == 574
    assert transform_value("year", "2017-11-16", "date") == 47
    assert transform_value("identity", "x", "string") == "x"
    assert transform_value("bucket[16]", None, "string") is None
    with pytest.raises(NotImplementedError):
        transform_value("bucket[4]", 1.5, "double")


def _bucketed_table(tmp_path, n=60, buckets=16):
    tp = str(tmp_path / "tb")
    rows = [{"repo": f"r{i % 10}", "lang": "py",
             "content": json.dumps({"i": i})} for i in range(n)]
    append_snapshot(tp, rows, [("repo", "string"), ("lang", "string"),
                               ("content", "string")],
                    partition_by=f"repo:bucket[{buckets}]")
    return tp


def test_bucket_partition_point_lookup_prunes(tmp_path, spark):
    """A point predicate on a bucket(16, repo) table must open only the
    matching bucket's files — and the pruned read's rows must equal the
    full scan filtered Spark-side (pruning is an optimization, never a
    row-set change)."""
    from schema_guru_spark.sources.iceberg_meta import (plan_scan,
                                                        read_iceberg,
                                                        transform_value)
    tp = _bucketed_table(tmp_path)
    full = plan_scan(tp)
    pruned = plan_scan(tp, partition_filter={"repo": "r3"})
    want_bucket = transform_value("bucket[16]", "r3", "string")
    assert 0 < len(pruned.data) < len(full.data)
    # every surviving file carries the predicate's bucket id
    assert {f.path.split("repo_bucket=")[1].split("/")[0]
            for f in pruned.data} == {str(want_bucket)}
    got = (read_iceberg(spark, tp, partition_filter={"repo": "r3"})
           .where("repo = 'r3'").count())
    want = read_iceberg(spark, tp).where("repo = 'r3'").count()
    assert got == want == 6


def test_truncate_partition_prunes_and_matches_full_scan(tmp_path, spark):
    from schema_guru_spark.sources.iceberg_meta import (plan_scan,
                                                        read_iceberg)
    tp = str(tmp_path / "tt")
    rows = [{"repo": f"org{i % 3}/r{i}", "lang": "py",
             "content": json.dumps({"i": i})} for i in range(30)]
    append_snapshot(tp, rows, [("repo", "string"), ("lang", "string"),
                               ("content", "string")],
                    partition_by="repo:truncate[4]")
    full = plan_scan(tp)
    pruned = plan_scan(tp, partition_filter={"repo": "org1/r7"})
    assert 0 < len(pruned.data) < len(full.data)
    got = (read_iceberg(spark, tp, partition_filter={"repo": "org1/r7"})
           .where("repo = 'org1/r7'").count())
    assert got == 1


def test_day_partition_prunes(tmp_path):
    from schema_guru_spark.sources.iceberg_meta import plan_scan
    tp = str(tmp_path / "td")
    base = 1_700_000_000_000_000  # micros, 2023-11-14T22:13:20Z
    rows = [{"repo": "r", "ts": base + i * 86_400_000_000,
             "content": "x"} for i in range(5)]
    append_snapshot(tp, rows, [("repo", "string"), ("ts", "timestamp"),
                               ("content", "string")],
                    partition_by="ts:day")
    full = plan_scan(tp)
    assert len(full.data) == 5  # one file per day
    pruned = plan_scan(tp, partition_filter={"ts": base})
    assert len(pruned.data) == 1


def test_unknown_transform_is_kept_not_dropped():
    """Pruning must only ever remove files it can PROVE excluded."""
    from schema_guru_spark.sources.iceberg_meta import _partition_keeps_spec
    fields = [{"name": "repo_weird", "source": "repo",
               "source_type": "string", "transform": "weird[3]"}]
    assert _partition_keeps_spec({"repo_weird": 1}, fields,
                                 {"repo": "r1"})
    void = [{"name": "v", "source": "repo", "source_type": "string",
             "transform": "void"}]
    assert _partition_keeps_spec({"v": None}, void, {"repo": "r1"})


def test_bucketed_incremental_plan_prunes(tmp_path):
    from schema_guru_spark.sources.iceberg_meta import (plan_incremental,
                                                        transform_value)
    tp = _bucketed_table(tmp_path)
    rows2 = [{"repo": f"r{i % 10}", "lang": "py",
              "content": json.dumps({"i": 1000 + i})} for i in range(40)]
    s2 = append_snapshot(tp, rows2,
                         [("repo", "string"), ("lang", "string"),
                          ("content", "string")],
                         partition_by="repo:bucket[16]")
    plan = plan_incremental(tp, 1, s2, partition_filter={"repo": "r3"})
    want_bucket = transform_value("bucket[16]", "r3", "string")
    assert plan.data, "incremental window lost its files"
    assert {f.path.split("repo_bucket=")[1].split("/")[0]
            for f in plan.data} == {str(want_bucket)}


def test_avro_snappy_python_write_java_read(tmp_path, spark):
    """snappy OCF interop, write side: our greedy-match compressor's
    output must decode under snappy-java (the reference JVM codec),
    CRC32 suffix included — r04 verdict #5."""
    p = str(tmp_path / "py_snappy.avro")
    write_ocf(p, AVRO_SCHEMA, AVRO_RECS, codec="snappy")
    jvm = spark._jvm  # noqa: SLF001
    rd = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p),
        jvm.org.apache.avro.generic.GenericDatumReader())
    recs = []
    while rd.hasNext():
        recs.append(rd.next())
    rd.close()
    assert len(recs) == 2
    assert str(recs[0].get("s")) == AVRO_RECS[0]["s"]
    assert recs[1].get("o") == 42


def test_avro_snappy_java_write_python_read(tmp_path, spark):
    """And the read side: a default-configured JVM writer's snappy
    manifest decodes identically under the pure-Python block codec."""
    p = str(tmp_path / "java_snappy.avro")
    jvm = spark._jvm  # noqa: SLF001
    sch = jvm.org.apache.avro.Schema.Parser().parse(
        json.dumps(AVRO_SCHEMA))
    w = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch))
    w.setCodec(jvm.org.apache.avro.file.CodecFactory.snappyCodec())
    w.create(sch, jvm.java.io.File(p))
    for rec in AVRO_RECS:
        avro_json = json.dumps({
            "s": rec["s"], "n": rec["n"],
            "o": None if rec["o"] is None else {"long": rec["o"]},
            "arr": rec["arr"],
            "m": {k: v.decode("latin-1") for k, v in rec["m"].items()},
            "b": rec["b"]})
        dec = jvm.org.apache.avro.io.DecoderFactory.get() \
            .jsonDecoder(sch, avro_json)
        gr = jvm.org.apache.avro.generic.GenericDatumReader(sch) \
            .read(None, dec)
        w.append(gr)
    w.close()
    _, back = read_ocf(p)
    assert back == AVRO_RECS


def test_run_validation_langs_prunes_truncate_partitioned(tmp_path,
                                                          spark, capsys):
    """r04 verdict #4's second criterion: the validation job's --langs
    filter must prune through a NON-identity (truncate-partitioned)
    spec — the metadata plan opens only the partitions whose truncated
    value matches a requested lang's image, and the row set equals the
    identity-partitioned run's."""
    from schema_guru_spark.run_validation import main
    from schema_guru_spark.sources.iceberg_meta import plan_scan
    tp = str(tmp_path / "repos")
    append_snapshot(tp, _rows(30, "c1"), SCHEMA,
                    partition_by="lang:truncate[2]")
    # metadata-level: only the 'py' partition's files survive
    # (truncate[2]: py->'py', scala->'sc', go->'go')
    pruned = plan_scan(tp, partition_filter={"lang": ["py"]})
    full = plan_scan(tp)
    assert 0 < len(pruned.data) < len(full.data)
    # job-level: rows match the lang filter exactly (10 of 30 are py)
    main(["--input", tp, "--langs", "py", "--buckets", "4",
          "--cpus", "4"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 10


def test_truncate_collision_residual_filter(tmp_path, spark):
    """truncate[2] maps 'scala' and 'scheme' to the same partition
    ('sc') — metadata pruning alone would over-include, so the
    read_table route's residual isin filter must remove the
    co-resident rows. Pruning is a superset optimization, the
    predicate owns exactness."""
    from schema_guru_spark.sources.catalog import read_table
    from schema_guru_spark.sources.iceberg_meta import plan_scan
    tp = str(tmp_path / "repos")
    rows = _rows(30, "c1", langs=("scala", "scheme", "go"))
    append_snapshot(tp, rows, SCHEMA, partition_by="lang:truncate[2]")
    pruned = plan_scan(tp, partition_filter={"lang": ["scala"]})
    # the shared 'sc' partition survives pruning (and 'go' does not)
    assert {f.path.split("lang_trunc=")[1].split("/")[0]
            for f in pruned.data} == {"sc"}
    got = read_table(spark, path=tp,
                     partition_filter={"lang": ["scala"]})
    assert got.count() == 10
    assert {r["lang"] for r in got.select("lang").distinct().collect()} \
        == {"scala"}


def test_filter_value_transform_mismatch_keeps_not_crashes(tmp_path):
    """A filter value the transform can't digest (ISO string against a
    bucket[N] int field) must make the field NON-PRUNABLE — identical
    contract to unknown transforms — never crash the scan plan. The
    same string against a day-transform field works, so before the
    (ValueError, TypeError) catch the fallback was asymmetric."""
    from schema_guru_spark.sources.iceberg_meta import (
        _partition_keeps_spec, plan_scan)
    fields = [{"name": "ts_bucket", "source": "ts",
               "source_type": "int", "transform": "bucket[16]"}]
    # int("2017-11-16T22:31:08") raises ValueError inside _bucket_hash
    assert _partition_keeps_spec({"ts_bucket": 3}, fields,
                                 {"ts": "2017-11-16T22:31:08"})
    # end-to-end on an INT-bucketed table: a string filter value the
    # transform can't digest returns the FULL plan (kept), while a
    # digestible value still prunes
    tp = str(tmp_path / "ib")
    rows = [{"repo": f"r{i}", "shard": i % 8,
             "content": json.dumps({"i": i})} for i in range(32)]
    schema = [("repo", "string"), ("shard", "int"),
              ("content", "string")]
    append_snapshot(tp, rows, schema, partition_by="shard:bucket[4]")
    full = plan_scan(tp)
    kept = plan_scan(tp, partition_filter={"shard": "not-an-int"})
    assert len(kept.data) == len(full.data)
    pruned = plan_scan(tp, partition_filter={"shard": 3})
    assert 0 < len(pruned.data) < len(full.data)


def test_dropped_partition_source_column_is_skipped():
    """A partition spec whose source column was dropped from the
    current schema must plan as non-prunable, not KeyError: the old
    identity-only lookup ignored non-identity fields entirely, so
    tables like this planned fine before transform-aware pruning."""
    from schema_guru_spark.sources.iceberg_meta import _spec_fields
    meta = {
        "current-schema-id": 1,
        "schemas": [
            {"schema-id": 0, "fields": [
                {"id": 1, "name": "repo", "type": "string"},
                {"id": 2, "name": "shard", "type": "int"}]},
            # schema 1 DROPPED column id 2
            {"schema-id": 1, "fields": [
                {"id": 1, "name": "repo", "type": "string"}]},
        ],
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "shard_bucket", "transform": "bucket[4]",
             "source-id": 2, "field-id": 1000},
            {"name": "repo", "transform": "identity",
             "source-id": 1, "field-id": 1001},
        ]}],
    }
    fields = _spec_fields(meta, 0)
    assert [f["source"] for f in fields] == ["repo"]
    assert [(f["name"], f["source"]) for f in fields
            if f["transform"] == "identity"] == [("repo", "repo")]


def test_identity_date_filter_accepts_iso_and_int(tmp_path, spark):
    """Identity pruning on a date column must compare in the STORED
    representation (days from epoch): an ISO string / date object
    filter used to fail raw equality against int days and silently
    prune EVERY file — an empty read instead of a full one
    (r05 review). Garbage strings stay non-prunable (kept)."""
    import datetime
    from schema_guru_spark.sources.iceberg_meta import (append_snapshot,
                                                        plan_scan,
                                                        read_iceberg)
    tp = str(tmp_path / "dated")
    rows = [{"repo": f"r{i}", "dt": i % 3, "content": "{}"}
            for i in range(12)]
    append_snapshot(tp, rows, [("repo", "string"), ("dt", "date"),
                               ("content", "string")],
                    partition_by="dt")
    assert len(plan_scan(tp).data) == 3
    for flt in ("1970-01-02", datetime.date(1970, 1, 2), 1):
        assert len(plan_scan(tp, partition_filter={"dt": flt}).data) == 1
        assert read_iceberg(spark, tp,
                            partition_filter={"dt": flt}).count() == 4
    # non-digestible filter value: not prunable, never excluded
    assert len(plan_scan(tp, partition_filter={"dt": "zzz"}).data) == 3
    # type-mismatched scalar against a string identity column likewise
    tp2 = str(tmp_path / "strident")
    append_snapshot(tp2, [{"repo": f"r{i % 2}", "dt": 0,
                           "content": "{}"} for i in range(4)],
                    [("repo", "string"), ("dt", "date"),
                     ("content", "string")], partition_by="repo")
    assert len(plan_scan(tp2, partition_filter={"repo": 5}).data) == 2


def test_equality_delete_on_date_and_timestamp_columns(tmp_path, spark):
    """delete_where_equal writes its key columns with the pyarrow types
    append_snapshot writes them with, so an equality delete on a date
    or a timestamp column removes exactly the matching rows (it used to
    refuse both types with a KeyError)."""
    import datetime
    tp = str(tmp_path / "dated")
    ts0 = 1_700_000_000_000_000  # micros from epoch
    rows = [{"repo": f"r{i}", "dt": datetime.date(2024, 1, 1 + i % 3),
             "ts": ts0 + i % 2} for i in range(12)]
    append_snapshot(tp, rows, [("repo", "string"), ("dt", "date"),
                               ("ts", "timestamp")])
    delete_where_equal(tp, [{"dt": datetime.date(2024, 1, 2)}])
    delete_where_equal(tp, [{"ts": ts0 + 1}])
    got = sorted(r.repo for r in read_iceberg(spark, tp).collect())
    assert got == sorted(r["repo"] for r in rows
                         if r["dt"] != datetime.date(2024, 1, 2)
                         and r["ts"] != ts0 + 1)
    assert len(got) == 4


def test_position_deletes_apply_under_uri_escaped_path(tmp_path, spark):
    """Spark's _metadata.file_path is URI-percent-encoded; manifest and
    delete-file paths are raw. A space in the table path used to make
    the per-file sequence join miss, so deletes silently un-applied
    (30 rows instead of 28) — r05 review."""
    import pyarrow.parquet as pq
    from schema_guru_spark.sources.iceberg_meta import (append_snapshot,
                                                        delete_positions,
                                                        plan_scan,
                                                        read_iceberg)
    tp = str(tmp_path / "my tables" / "mor")
    append_snapshot(tp, _rows(30, "c1"), SCHEMA, partition_by="lang")
    victim = sorted(plan_scan(tp).data, key=lambda f: f.path)[0]
    tbl = pq.read_table(victim.path).to_pylist()
    gone = {tbl[0]["path"], tbl[3]["path"]}
    delete_positions(tp, [(victim.path, 0), (victim.path, 3)])
    df = read_iceberg(spark, tp)
    assert df.count() == 28
    assert df.where(df["path"].isin(list(gone))).count() == 0


def test_identity_timestamp_partition_roundtrip(tmp_path, spark):
    """Identity-partitioning by a timestamp column: the same commit
    that taught the writer timestamp COLUMNS must also write the
    partition-struct Avro field (timestamp -> long micros)."""
    from schema_guru_spark.sources.iceberg_meta import (plan_scan,
                                                        read_iceberg)
    tp = str(tmp_path / "ts_table")
    day = 86_400_000_000  # micros
    rows = [{"repo": f"r{i}", "ts": (i % 3) * day,
             "content": json.dumps({"i": i})} for i in range(12)]
    schema = [("repo", "string"), ("ts", "timestamp"),
              ("content", "string")]
    append_snapshot(tp, rows, schema, partition_by="ts")
    full = plan_scan(tp)
    assert len(full.data) == 3  # one file per distinct ts value
    pruned = plan_scan(tp, partition_filter={"ts": day})
    assert len(pruned.data) == 1
    assert read_iceberg(spark, tp, partition_filter={"ts": day}) \
        .count() == 4


# ------------------------------------------------ pruning law (fuzz)

def test_partition_pruning_law_property(tmp_path):
    """THE pruning law, fuzzed: for any table layout, partition
    transform, and filter (digestible or not), every row the predicate
    keeps must live in a file the pruned plan kept. Pruning may
    over-include (the residual predicate owns exactness) but may never
    under-include — checked by counting predicate-matching rows file
    by file with pyarrow, no Spark session needed."""
    import pyarrow.parquet as pq
    from hypothesis import given, settings, strategies as st
    from schema_guru_spark.sources.iceberg_meta import plan_scan

    cases = st.tuples(
        st.sampled_from([
            ("repo", "string", "identity"),
            ("repo", "string", "bucket[4]"),
            ("repo", "string", "truncate[2]"),
            ("shard", "int", "identity"),
            ("shard", "int", "bucket[4]"),
            ("shard", "int", "truncate[8]"),
            ("shard", "long", "bucket[16]"),
        ]),
        st.integers(2, 6),        # distinct partition-source values
        st.integers(8, 40),       # rows
        st.integers(1, 3),        # snapshots
        st.lists(st.integers(0, 9), min_size=1, max_size=4),  # filter picks
        st.booleans(),            # include a non-digestible filter value
        st.randoms(use_true_random=False),
    )

    counter = [0]

    @settings(max_examples=25, deadline=None)
    @given(cases)
    def law(case):
        (col, ice_type, transform), nvals, nrows, nsnaps, picks, \
            add_bad, rnd = case
        counter[0] += 1
        tp = str(tmp_path / f"t{counter[0]}")
        schema = [("repo", "string"), ("shard", "long" if ice_type ==
                   "long" else "int"), ("content", "string")]
        # patch the schema's declared type for the partition column
        schema = [(n, ice_type if n == col else t) for n, t in schema]

        def mkval(i):
            return f"v{i}" if ice_type == "string" else i * 7 - 3

        pool = [mkval(i) for i in range(nvals)]
        per = max(1, nrows // nsnaps)
        for s in range(nsnaps):
            rows = [{"repo": f"r{i}" if col != "repo" else
                     rnd.choice(pool),
                     "shard": (i if col != "shard" else
                               rnd.choice(pool)),
                     "content": json.dumps({"i": i})}
                    for i in range(per)]
            pb = col if transform == "identity" else f"{col}:{transform}"
            append_snapshot(tp, rows, schema, partition_by=pb)

        allowed = sorted({pool[p % nvals] for p in picks}, key=repr)
        filt = list(allowed)
        if add_bad:
            filt.append("not-an-int" if ice_type != "string"
                        else ("un", "hashable"))
        full = plan_scan(tp)
        pruned = plan_scan(tp, partition_filter={col: filt})
        kept = {f.path for f in pruned.data}
        assert kept <= {f.path for f in full.data}

        def matches(path):
            t = pq.read_table(path, columns=[col])
            return sum(1 for v in t.column(col).to_pylist()
                       if v in allowed)

        want = sum(matches(f.path) for f in full.data)
        got = sum(matches(f.path) for f in pruned.data)
        assert got == want, (transform, filt, kept)

    law()
