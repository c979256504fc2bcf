"""The wrapper every function handed to Spark's Python workers runs
through (``schema_guru_spark.worker``): what ``drop_zip_importers``
removes, that imports still work after it, and that every worker
function of the package is wrapped."""

import importlib
import inspect
import json
import sys
import zipfile
import zipimport

import pytest

from schema_guru_spark.worker import drop_zip_importers, worker_fn

_DROPS = sys.version_info < (3, 12)   # a no-op from 3.12 on (gh-103200)


def _zip_importers() -> list:
    return [p for p, f in sys.path_importer_cache.items()
            if isinstance(f, zipimport.zipimporter)]


def test_drop_zip_importers_keeps_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "zpkgs.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/first.py", "X = 1\n")
        z.writestr("zpkg/second.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zpkg", "zpkg.first", "zpkg.second"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    try:
        first = importlib.import_module("zpkg.first")
        assert str(archive) in _zip_importers()
        directory = zipimport._zip_directory_cache[str(archive)]
        drop_zip_importers()
        assert (str(archive) in _zip_importers()) != _DROPS
        if _DROPS:
            assert _zip_importers() == []

        importlib.invalidate_caches()   # what a reused worker runs per task
        assert first.X == 1
        assert importlib.import_module("zpkg.second").Y == 2
        if _DROPS:
            # the sibling's importer came from the cached directory: the
            # archive was not read again
            assert zipimport._zip_directory_cache[str(archive)] is directory
    finally:
        for path in [p for p in sys.path_importer_cache
                     if p.startswith(str(archive))]:
            del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_worker_fn_keeps_the_grouped_map_arity():
    """The grouped-map worker picks ``fn(pdf)`` or ``fn(key, pdf)`` from
    ``inspect.getfullargspec``, which does not follow ``__wrapped__``."""
    def fold_key(key, pdf):
        return pdf

    wrapped = worker_fn(fold_key)
    assert inspect.getfullargspec(wrapped).args == ["key", "pdf"]
    assert wrapped.__qualname__ == fold_key.__qualname__
    assert wrapped("k", 3) == 3


_WRAPPER = worker_fn(lambda: None).__code__


@pytest.fixture
def handed(spark, monkeypatch):
    """The functions passed to ``mapInPandas`` / ``applyInPandas``."""
    seen = []
    df = spark.range(1)
    for cls, name in ((type(df), "mapInPandas"),
                      (type(df.groupBy("id")), "applyInPandas")):
        def record(self, func, *a, _orig=getattr(cls, name), **kw):
            seen.append(func)
            return _orig(self, func, *a, **kw)
        monkeypatch.setattr(cls, name, record)
    return seen


def _validate(spark, tmp_path, checkpoint):
    from schema_guru_spark.pipeline import validate_repo_table
    from schema_guru_spark.sources.repo_table import synthesize_repo_table
    df = synthesize_repo_table(spark, 300, n_repos=5)
    res = validate_repo_table(
        spark, df, n_buckets=8, n_salts=2,
        checkpoint_dir=str(tmp_path / "ckpt") if checkpoint else None)
    assert res.n_violation_rows == res.violations.count()


def _key_sketch(spark, tmp_path):
    from schema_guru_spark.pipeline import key_sketch
    from schema_guru_spark.sources.repo_table import synthesize_repo_table
    assert key_sketch(synthesize_repo_table(spark, 300, n_repos=5)).any()


def _infer_tree(spark, tmp_path):
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.operators.infer import infer_json_column
    df = spark.createDataFrame(
        [(json.dumps({"n": i}),) for i in range(130)], "content string")
    res = infer_json_column(df.repartition(65), "content",
                            SchemaContext.make(0))
    assert (res.n_ok, res.n_err) == (130, 0)


def _cli_schema_by(spark, tmp_path):
    from schema_guru_spark.cli import main
    src = tmp_path / "docs"
    src.mkdir()
    for i in range(6):
        (src / f"d{i}.json").write_text(json.dumps({"event": f"e{i % 2}"}))
    (src / "bad.json").write_text("{nope")
    assert main(["schema", str(src), "--schema-by", "$.event", "--output",
                 str(tmp_path / "out.json"), "--cpus", "4"]) == 0


@pytest.mark.parametrize("call,expected", [
    (lambda s, t: _validate(s, t, False), {"_scan_pass.<locals>.fn"}),
    (lambda s, t: _validate(s, t, True), {"_scan_pass.<locals>.fn"}),
    (_key_sketch, {"key_sketch.<locals>.fold"}),
    (_infer_tree, {"_fold_task.<locals>.fn",
                   "infer_json_column.<locals>.tree_round"}),
    (_cli_schema_by, {"_fold_task.<locals>.fn",
                      "infer_json_column_by_key.<locals>.fold_key",
                      "_parse_error_messages.<locals>.fn"}),
], ids=["validate", "validate-checkpoint", "key_sketch", "infer-tree",
        "cli-schema-by"])
def test_worker_functions_are_wrapped(spark, tmp_path, handed, call,
                                      expected):
    call(spark, tmp_path)
    assert {f.__qualname__ for f in handed} == expected
    assert all(f.__code__ is _WRAPPER for f in handed)
