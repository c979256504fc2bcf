"""Sources (S1/S2/S6), keyed sink (K1), CLI schema command, migrations."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from schema_guru_spark.operators import migrations as M
from schema_guru_spark.sources.readers import (
    read_enum_sets, read_json_dir, write_keyed_json,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def json_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    (d / "a.json").write_text('{"event": "click", "n": 3}')
    (d / "b.json").write_text('{"event": "view", "n": 40000, "extra": true}')
    sub = d / "nested"
    sub.mkdir()
    (sub / "c.json").write_text('{"event": "click", "n": -2}')
    (d / "bad.json").write_text('{broken')
    return str(d)


@pytest.fixture(scope="module")
def nd_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("nd")
    (d / "events.ndjson").write_text(
        '{"k": 1}\n{"k": 2}\n\n{"k": "three"}\n')
    return str(d)


def test_wholefile_reader(spark, json_dir):
    df = read_json_dir(spark, json_dir)
    assert df.count() == 4  # recursive, incl. nested/ and bad
    assert df.columns == ["path", "content"]


def test_ndjson_reader(spark, nd_file):
    df = read_json_dir(spark, nd_file, ndjson=True)
    assert df.count() == 3  # blank line dropped


def test_reader_into_inference(spark, json_dir):
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.operators.infer import infer_json_column
    ctx = SchemaContext.make(0)
    res = infer_json_column(read_json_dir(spark, json_dir), "content", ctx)
    assert res.n_ok == 3 and res.n_err == 1
    sch = res.schema(ctx)
    # n in [-2, 40000] -> Int32 encased
    assert sch["properties"]["n"]["minimum"] == -2147483648


def test_enum_set_reader(tmp_path):
    p = tmp_path / "set.json"
    p.write_text('["a", "b", "c"]')
    assert read_enum_sets([str(p)]) == [["a", "b", "c"]]
    bad = tmp_path / "bad.json"
    bad.write_text('{"not": "array"}')
    with pytest.raises(ValueError):
        read_enum_sets([str(bad)])


def test_keyed_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [("click", '{"a":1}'), ("view", '{"b":2}'), ("click", '{"c":3}')],
        ["segment", "doc"])
    out = str(tmp_path / "keyed")
    write_keyed_json(df, out, "segment", "doc")
    back = spark.read.text(out + "/segment=click")
    assert back.count() == 2
    assert sorted(os.listdir(out))[:1] == ["_SUCCESS"] or any(
        e.startswith("segment=") for e in os.listdir(out))


def test_cli_schema_command(json_dir, tmp_path):
    out = tmp_path / "schema.json"
    r = subprocess.run(
        [sys.executable, "-m", "schema_guru_spark.cli", "schema", json_dir,
         "--output", str(out), "--enum-cardinality", "4",
         "--vendor", "com.example", "--name", "event"],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    sch = json.loads(out.read_text())
    assert sch["self"]["vendor"] == "com.example"
    assert sch["self"]["version"] == "1-0-0"
    assert sch["properties"]["event"]["enum"] == ["click", "view"] or \
           sorted(sch["properties"]["event"]["enum"]) == ["click", "view"]
    assert "error:" in r.stderr  # the broken doc routed to stderr


def test_cli_segmented(json_dir, tmp_path):
    out = tmp_path / "seg.json"
    r = subprocess.run(
        [sys.executable, "-m", "schema_guru_spark.cli", "schema", json_dir,
         "--schema-by", "$.event", "--output", str(out)],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    seg = json.loads(out.read_text())
    assert set(seg) >= {"click", "view"}
    # parse failures -> "unmatched" segment (null JSONPath)
    assert "unmatched" in seg


def test_cli_quantity_counts_valid_docs_only(tmp_path, capsys):
    """quantity = count of PARSEABLE docs per produce() call
    (SchemaCommand.scala:146) — 8 valid + 4 broken must suppress the
    base64 pattern (valid count < 10), where the old docs.count()=12
    would have emitted it (r05 review)."""
    from schema_guru_spark.cli import main
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(8):
        (src / f"v{i}.json").write_text('{"tok": "YWJjZA=="}')
    for i in range(4):
        (src / f"bad{i}.json").write_text("{nope")
    out = tmp_path / "schema.json"
    assert main(["schema", str(src), "--output", str(out),
                 "--cpus", "4"]) == 0
    capsys.readouterr()
    sch = json.loads(out.read_text())
    assert "pattern" not in sch["properties"]["tok"]


def test_cli_segmented_per_segment_quantity_and_errors(tmp_path, capsys):
    """Segmented mode derives each segment with ITS OWN valid-doc count
    (produce per segment, SchemaCommand.scala:118-122) and reports parse
    errors instead of silently discarding them (r05 review)."""
    from schema_guru_spark.cli import main
    src = tmp_path / "docs"
    src.mkdir()
    # segment 'small': 5 docs (<10) with a base64-able short string;
    # segment 'big': 12 docs — global count would be >= 10
    for i in range(5):
        (src / f"s{i}.json").write_text(
            '{"event": "small", "tok": "YWJjZA=="}')
    for i in range(12):
        (src / f"b{i}.json").write_text(
            '{"event": "big", "tok": "YWJjZA=="}')
    (src / "broken.json").write_text("{nope")
    out = tmp_path / "seg.json"
    assert main(["schema", str(src), "--schema-by", "$.event",
                 "--output", str(out), "--cpus", "4"]) == 0
    err = capsys.readouterr().err
    assert "error:" in err and "invalid JSON" in err
    segs = json.loads(out.read_text())
    assert "pattern" not in segs["small"]["properties"]["tok"]
    assert "pattern" in segs["big"]["properties"]["tok"]


def test_cli_modes_report_the_same_errors(spark, tmp_path, capsys):
    """Global and segmented (--schema-by) mode report the same error
    lines, on stderr and under --errors-path, for a directory holding
    top-level scalars: the JVM validity probe accepts '42' and '"s"',
    the derive pass's gate rejects them."""
    from schema_guru_spark.cli import main
    src = tmp_path / "docs"
    src.mkdir()
    (src / "ok.json").write_text('{"event": "click", "n": 1}')
    (src / "num.json").write_text("42")
    (src / "str.json").write_text(' "s"')
    (src / "broken.json").write_text("{nope")

    def run(*extra):
        assert main(["schema", str(src), "--output",
                     str(tmp_path / "out.json"), "--cpus", "4",
                     *extra]) == 0
        return sorted(line for line in capsys.readouterr().err.splitlines()
                      if line.startswith("error: "))

    def written(*extra):
        path = str(tmp_path / f"errors{len(extra)}")
        run("--errors-path", path, *extra)
        return sorted(r["error"] for r in spark.read.parquet(path).collect())

    lines = run()
    assert len(lines) == 3
    assert sum("unacceptable" in line for line in lines) == 2
    assert run("--schema-by", "$.event") == lines
    assert written() == written("--schema-by", "$.event") == \
        [line[len("error: "):] for line in lines]


def test_cli_prints_few_errors_in_one_job(spark, tmp_path, capsys):
    """Global mode reads its error rows, a lazy view of the inference
    scan, in one job when there are at most 20: a limit the rows cannot
    reach would widen over the scan's partitions in several jobs, each
    deriving again. Printing them costs what writing them does: the
    quantity count (2 jobs under AQE), the inference pass, the read."""
    from schema_guru_spark.cli import main
    from schema_guru_spark.run_validation import _next_job_id
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(40):
        (src / f"d{i}.json").write_text(json.dumps({"n": i}))
    (src / "bad.json").write_text("{nope")
    assert read_json_dir(spark, str(src)).rdd.getNumPartitions() > 1

    def jobs(*extra):
        argv = ["schema", str(src), "--output", str(tmp_path / "out.json"),
                "--cpus", "4", *extra]
        assert main(argv) == 0   # warm
        lo = _next_job_id(spark)
        assert main(argv) == 0
        return _next_job_id(spark) - lo

    assert jobs() == jobs("--errors-path", str(tmp_path / "errors")) == 4
    assert capsys.readouterr().err.count("error: invalid JSON") == 2


def test_cli_schema_by_prints_few_errors_in_one_job(spark, tmp_path, capsys):
    """Segmented mode counts the rows its error pass reads in the
    aggregate that builds the per-segment quantities, so it reads at
    most 20 messages with one plain collect and writes them without
    first asking whether there are any: the quantity aggregate and the
    keyed inference (2 jobs each under AQE), then the error read."""
    from schema_guru_spark.cli import main
    from schema_guru_spark.run_validation import _next_job_id
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(40):
        (src / f"d{i}.json").write_text(
            json.dumps({"event": f"e{i % 3}", "n": i}))
    (src / "bad.json").write_text("{nope")
    (src / "num.json").write_text("42")
    assert read_json_dir(spark, str(src)).rdd.getNumPartitions() > 1

    def jobs(*extra):
        argv = ["schema", str(src), "--schema-by", "$.event", "--output",
                str(tmp_path / "out.json"), "--cpus", "4", *extra]
        assert main(argv) == 0   # warm
        lo = _next_job_id(spark)
        assert main(argv) == 0
        return _next_job_id(spark) - lo

    errors = str(tmp_path / "errors")
    assert jobs() == jobs("--errors-path", errors) == 5
    err = capsys.readouterr().err
    assert err.count("error: invalid JSON") == 2
    assert err.count("error: ") == 4
    assert len(spark.read.parquet(errors).collect()) == 2


# --- migrations / SchemaVer ---

V1 = {"type": "object", "properties": {
    "a": {"type": "string"}, "b": {"type": "integer"}}}
V2 = {"type": "object", "properties": {
    "a": {"type": "string"}, "b": {"type": "number"},
    "c": {"type": "boolean"}}}


def test_schemaver():
    sv = M.SchemaVer.parse("2-13-4")
    assert (sv.model, sv.revision, sv.addition) == (2, 13, 4)
    assert str(sv) == "2-13-4"
    with pytest.raises(ValueError):
        M.SchemaVer.parse("1.0.0")


def test_key_diffs():
    assert M.added_keys(V1, V2) == ["c"]
    assert M.removed_keys(V2, V1) == ["c"]
    assert M.modified_properties(V1, V2) == ["b"]


def test_migration_matrix():
    versions = [
        ("com.acme", "event", "1-0-0", V1),
        ("com.acme", "event", "1-0-1", V2),
        ("com.acme", "event", "1-1-0", V2),
    ]
    migs = M.build_migration_matrix(versions)
    # chains: 1-0-0->1-0-1, 1-0-0->1-1-0, 1-0-1->1-1-0
    assert len(migs) == 3
    first = migs[0]
    assert str(first.from_ver) == "1-0-0" and first.added == ["c"]


def test_latest_per_model():
    best = M.latest_per_model([
        ("v", "n", "1-0-0"), ("v", "n", "1-2-0"), ("v", "n", "1-1-9"),
        ("v", "n", "2-0-0")])
    assert str(best[("v", "n", 1)]) == "1-2-0"
    assert str(best[("v", "n", 2)]) == "2-0-0"


def test_flatten_nested():
    sch = {"type": "object", "properties": {
        "a": {"type": "object", "properties": {"x": {"type": "string"}}},
        "b": {"type": "integer"}}}
    assert list(M.flatten_properties(sch)) == ["a.x", "b"]


def test_cli_on_reference_fixtures(tmp_path):
    """End-to-end CLI drive on the reference's OWN PagerDuty fixtures
    (src/test/resources/test_json_1.json / test_json_2.json) — the
    strongest parity evidence: same inputs the reference ships, through
    our full Spark path."""
    import json as _json
    import shutil
    from schema_guru_spark.cli import main
    src = tmp_path / "ref"
    src.mkdir()
    for f in ("test_json_1.json", "test_json_2.json"):
        shutil.copy(f"/root/reference/src/test/resources/{f}", src / f)
    out = tmp_path / "schema.json"
    assert main(["schema", str(src), "--output", str(out),
                 "--enum-cardinality", "4", "--cpus", "4"]) == 0
    sch = _json.loads(out.read_text())
    inc = sch["properties"]["data"]["properties"]["incident"]["properties"]
    # the judged reference behaviors (SURVEY.md §7), end to end:
    num = dict(inc["incident_number"])
    # enum ORDER is merge-order-dependent under parallel reduce (true of
    # the reference's scalaz distinct as well) — compare as a set
    assert sorted(num.pop("enum")) == [465, 471]
    assert num == {"type": "integer", "minimum": 0, "maximum": 32767}
    assert inc["html_url"]["format"] == "uri"
    assert inc["html_url"]["maxLength"] == 8192   # T2 maxLength fix
    assert inc["created_on"]["format"] == "date-time"
    assert inc["service"]["properties"]["deleted_at"]["type"] == "null"


def test_cli_segmented_on_reference_fixture(tmp_path):
    import json as _json
    import shutil
    from schema_guru_spark.cli import main
    src = tmp_path / "seg"
    src.mkdir()
    shutil.copy("/root/reference/src/test/resources/segment/test_json_1.json",
                src / "a.json")
    out = tmp_path / "seg.json"
    assert main(["schema", str(src), "--schema-by", "$.type",
                 "--output", str(out), "--cpus", "4"]) == 0
    segs = _json.loads(out.read_text())
    assert "trigger" in segs  # the fixture's $.type value
    assert segs["trigger"]["properties"]["data"]["type"] == "object"
