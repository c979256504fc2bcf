"""Distributed schema inference over real parquet (sf0.001 events.props)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.operators.infer import infer_json_column, infer_json_column_by_key

CTX = SchemaContext.make(0)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_infer_events_props(events):
    res = infer_json_column(events, "props", CTX)
    assert res.n_err == 0
    assert res.n_ok == events.count()
    schema = res.schema(CTX)
    assert schema["type"] == "object"
    k = schema["properties"]["k"]
    assert k["type"] == "integer"
    # T1 encasing: k in [0, 99] -> snapped to [0, 32767]
    assert k["minimum"] == 0 and k["maximum"] == 32767
    assert res.violations.count() == 0


def test_infer_matches_driver_side_merge(events):
    """Distributed result == sequential driver-side fold (merge-order
    insensitivity at the Spark level)."""
    from schema_guru_spark.core.microschema import derive_text, merge_all, dumps
    res = infer_json_column(events.repartition(7), "props", CTX)
    texts = [r["props"] for r in events.select("props").collect()]
    seq = merge_all([derive_text(t, CTX)[0] for t in texts], CTX)
    assert dumps(res.state) == dumps(seq)


def test_infer_runs_one_job_and_caches_nothing(spark, sf_dir):
    """Global inference over a scan of at most 64 partitions is ONE
    Spark job: the scan's partition count is the number of partial
    states (one per scan task), so no job counts them before the
    collect. Nothing is
    cached, so the caller has nothing to release, and the error rows
    stay readable as a lazy view of the scan."""
    from schema_guru_spark.run_validation import _next_job_id
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    events = spark.read.parquet(f"{sf01}/events.parquet")
    assert events.rdd.getNumPartitions() <= 64
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    lo = _next_job_id(spark)
    res = infer_json_column(events, "props", CTX)
    assert _next_job_id(spark) - lo == 1
    assert cache.isEmpty()
    assert res.n_ok + res.n_err == events.count()
    assert res.violations.count() == res.n_err


def test_infer_error_routing(spark):
    df = spark.createDataFrame(
        [("ok1", '{"a": 1}'), ("bad", "{nope"), ("scalar", "42"), ("nul", None)],
        ["id", "doc"],
    )
    res = infer_json_column(df, "doc", CTX)
    assert res.n_ok == 1 and res.n_err == 3
    errs = [r["error"] for r in res.violations.collect()]
    assert len(errs) == 3
    assert any("unacceptable" in e for e in errs)  # reference message shape


def test_infer_by_key(events):
    out = infer_json_column_by_key(events, "props", "event_type", CTX)
    rows = {r["event_type"]: r for r in out.collect()}
    assert set(rows) == {"click", "view", "signup", "purchase", "error"}
    for r in rows.values():
        sch = json.loads(r["schema"])
        assert sch["properties"]["k"]["type"] == "integer"
        assert r["n_err"] == 0


def test_infer_by_key_total_matches(events):
    out = infer_json_column_by_key(events, "props", "event_type", CTX)
    total = out.agg(F.sum("n_ok")).collect()[0][0]
    assert total == events.count()


@pytest.mark.parametrize("parts", [7, 130])
def test_random_corpus_spark_equals_kernel(spark, tmp_path, parts):
    """A 300-doc corpus covering every node kind and type collision,
    partitioned across tasks: the distributed derive -> partial merge ->
    fold must render EXACTLY the schema of a driver-side kernel fold
    (merge-order independence across partition splits included). At
    130 partitions there are more partial states than the combine
    tree's fan-in (64), so one tree round runs before the driver fold;
    at 7 none does. The executed plans show which."""
    import json as _json
    import random

    from conftest import executed_plans, last_execution_id

    rng = random.Random(42)

    def scalar(depth):
        k = rng.randrange(9)
        if k == 0:
            return None
        if k == 1:
            return rng.random() < 0.5
        if k == 2:
            return rng.randint(-2**40, 2**40)
        if k == 3:
            return rng.random() * 1e6 - 5e5
        if k == 4:
            return "".join(rng.choice("abcxyz _-") for _ in range(rng.randint(0, 20)))
        if k == 5:
            return f"{rng.getrandbits(32):08x}-1234-4abc-8def-000000000000"
        if k == 6:
            return f"2024-{rng.randint(1,12):02d}-{rng.randint(1,28):02d}T12:{rng.randint(0,59):02d}:00Z"
        if k == 7:
            return f"https://example.com/x/{rng.randint(0,999)}"
        return f"10.0.{rng.randint(0,255)}.{rng.randint(0,255)}"

    def value(depth=0):
        if depth >= 3 or rng.random() < 0.6:
            return scalar(depth)
        if rng.random() < 0.5:
            return [value(depth + 1) for _ in range(rng.randint(0, 4))]
        return {f"k{rng.randint(0, 6)}": value(depth + 1)
                for _ in range(rng.randint(0, 4))}

    docs = []
    for _ in range(300):
        if rng.random() < 0.8:
            docs.append({f"f{rng.randint(0, 9)}": value()
                         for _ in range(rng.randint(1, 5))})
        else:
            docs.append([value() for _ in range(rng.randint(0, 4))])
    texts = [_json.dumps(d) for d in docs]

    p = str(tmp_path / "corpus")
    spark.createDataFrame([(t,) for t in texts], "content string") \
         .repartition(parts).write.mode("overwrite").parquet(p)

    from schema_guru_spark.core.microschema import ZERO, derive_text, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    acc = ZERO
    for t in texts:
        s, err = derive_text(t, CTX)
        assert err is None
        acc = merge(acc, s, CTX)
    kernel_schema = _json.dumps(
        render(apply_transforms(acc, CTX), CTX), sort_keys=True)

    df = spark.read.parquet(p).repartition(parts)
    assert df.rdd.getNumPartitions() == parts
    mark = last_execution_id(spark)
    res = infer_json_column(df, "content", CTX)
    assert res.n_ok == 300 and res.n_err == 0
    spark_schema = _json.dumps(res.schema(CTX), sort_keys=True)
    assert spark_schema == kernel_schema
    tree = [pl for _, pl in executed_plans(spark, mark) if "tree_round(" in pl]
    assert bool(tree) == (parts > 64)


def test_random_corpus_by_key_equals_kernel(spark, tmp_path):
    """Per-key segmented inference must equal a per-key kernel fold."""
    import json as _json
    import random
    from collections import defaultdict

    rng = random.Random(7)
    texts = []
    for i in range(200):
        key = f"k{rng.randrange(4)}"
        texts.append((key, _json.dumps(
            {"a": rng.randint(0, 99),
             "b": rng.choice(["x", "yy", "zzz"]),
             "k": key})))
    p = str(tmp_path / "keyed")
    spark.createDataFrame(texts, "seg string, content string") \
         .repartition(5).write.mode("overwrite").parquet(p)

    from schema_guru_spark.core.microschema import ZERO, derive_text, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    per_key: dict = defaultdict(lambda: ZERO)
    for key, t in texts:
        s, err = derive_text(t, CTX)
        assert err is None
        per_key[key] = merge(per_key[key], s, CTX)
    expected = {k: _json.dumps(render(apply_transforms(acc, CTX), CTX),
                               sort_keys=True)
                for k, acc in per_key.items()}

    out = infer_json_column_by_key(spark.read.parquet(p), "content",
                                   "seg", CTX)
    got = {r["seg"]: r["schema"] for r in out.collect()}
    assert got == expected


def _canonicalize_enums(node):
    """Sort enum lists in place — enum ORDER is merge-order-dependent
    (true of the reference's scalaz distinct too); the SET is not."""
    if isinstance(node, dict):
        if isinstance(node.get("enum"), list):
            node["enum"] = sorted(node["enum"], key=repr)
        for v in node.values():
            _canonicalize_enums(v)
    elif isinstance(node, list):
        for v in node:
            _canonicalize_enums(v)
    return node


def test_enum_corpus_spark_equals_kernel_up_to_order(spark, tmp_path):
    """With enum tracking on (K=6), the distributed merge must produce
    the same enum SETS and tombstones as the kernel fold — element
    order may differ across partition merge orders."""
    import json as _json
    import random
    ctx = SchemaContext.make(6)

    rng = random.Random(13)
    texts = [_json.dumps({
        "few": rng.choice(["a", "b", "c"]),          # under cutoff
        "many": f"v{rng.randrange(40)}",             # tombstoned
        "num": rng.choice([1, 2, 3]),
    }) for _ in range(150)]
    p = str(tmp_path / "enums")
    spark.createDataFrame([(t,) for t in texts], "content string") \
         .repartition(6).write.mode("overwrite").parquet(p)

    from schema_guru_spark.core.microschema import ZERO, derive_text, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    acc = ZERO
    for t in texts:
        s, _ = derive_text(t, ctx)
        acc = merge(acc, s, ctx)
    kernel = _canonicalize_enums(render(apply_transforms(acc, ctx), ctx))

    res = infer_json_column(spark.read.parquet(p), "content", ctx)
    got = _canonicalize_enums(res.schema(ctx))
    assert got == kernel
    props = got["properties"]
    assert sorted(props["few"]["enum"]) == ["a", "b", "c"]
    assert "enum" not in props["many"]  # over cutoff -> tombstoned


def test_widen_small_scan_falls_back_on_stats_api_change(spark, monkeypatch):
    # _widen_small_scan reads a private JVM API
    # (queryExecution().optimizedPlan().stats()); a Spark upgrade that
    # changes the call chain must degrade to the unwidened plan, not
    # raise mid-inference. Pin the fallback by making the probe blow up.
    from schema_guru_spark.operators.infer import _widen_small_scan

    df = spark.range(10).selectExpr("cast(id as string) as content")

    class _Boom:
        def __getattr__(self, name):  # any JVM call (queryExecution, ...)
            raise RuntimeError("stats API removed in this Spark version")

    monkeypatch.setattr(df, "_jdf", _Boom(), raising=False)
    out, n = _widen_small_scan(df, 1)
    assert out is df and n == 1  # plan unchanged, no exception escaped


def test_widen_small_scan_noop_on_tiny_input(spark):
    from schema_guru_spark.operators.infer import _widen_small_scan

    df = spark.range(100).selectExpr("cast(id as string) as content")
    out, n = _widen_small_scan(df, 1)
    assert out is df and n == 1  # < 8 MiB: never widened


def test_widen_small_scan_reports_the_widened_count(spark):
    # the widened source's partition count sizes the combine tree, so
    # it is the session's parallelism, known without running a job
    from schema_guru_spark.operators.infer import _widen_small_scan

    df = spark.range(10_000_000, numPartitions=1) \
        .selectExpr("cast(id as string) as content")   # ~200 MB by stats
    par = spark.sparkContext.defaultParallelism
    assert par > 1
    out, n = _widen_small_scan(df, 1)
    assert out is not df and n == par


def test_enum_infer_folds_states_in_partition_order(spark):
    """Enum-bearing contexts merge with the reference's order-SENSITIVE
    concat-size rule (test_enum_merge_is_order_sensitive_by_reference_
    semantics), so infer_json_column must fold partial states in
    PARTITION order, not combine-tree or task-completion order.

    Corpus built so that exactly the pid-ascending fold keeps the enum
    (K=4): p0 {p,q} ⊕ p1 {p,r} concatenates 4 <= 4 and the duplicate
    'p' collapses, so ⊕ p2 {s} is again 4 <= 4 -> kept; folding p2
    or p1 first reaches a 5-long concat and tombstones. A green run
    proves the fold order, not just stability."""
    import json as _json

    ctx = SchemaContext.make(4)
    parts = [["p", "q"], ["p", "r"], ["s"]]
    sc = spark.sparkContext
    # RDD union (not DataFrame union): the optimizer folds unioned
    # local relations into ONE partition, which would vacuously pass
    rdds = [sc.parallelize(
                [( _json.dumps({"id": i * 10 + j, "e": v}),)
                 for j, v in enumerate(vals)], 1)
            for i, vals in enumerate(parts)]
    df = spark.createDataFrame(sc.union(rdds), "content string")
    assert df.rdd.getNumPartitions() == 3

    res = infer_json_column(df, "content", ctx)
    sch = res.schema(ctx)
    assert sorted(sch["properties"]["e"]["enum"]) == ["p", "q", "r", "s"]
    assert res.n_ok == 5 and res.n_err == 0


def test_enum_infer_at_130_partitions_folds_in_pid_order(spark):
    """Above the combine tree's fan-in (64 partial states) an
    enum-bearing context still runs no tree: the driver folds the 130
    partition states in pid order, which equals the sequential
    partition-order kernel fold. Three partitions carry the field 'e'
    (K=4): p5 {x,y} ⊕ p60 {x,z} ⊕ p125 {a} keeps the enum only if
    {a} comes last (the reversed fold tombstones, checked below), so a
    green run proves the fold order."""
    import json as _json

    from conftest import executed_plans, last_execution_id
    from schema_guru_spark.core.microschema import (
        ZERO, derive_text, merge, render)
    from schema_guru_spark.core.transforms import apply_transforms

    ctx = SchemaContext.make(4)
    parts = 130
    enums = {5: ["x", "y"], 60: ["x", "z"], 125: ["a"]}
    docs = [[_json.dumps({"e": v}) for v in enums[i]] if i in enums
            else [_json.dumps({"id": i})] for i in range(parts)]
    rdd = spark.sparkContext.parallelize(range(parts), parts) \
        .flatMap(lambda i: [(t,) for t in docs[i]])
    df = spark.createDataFrame(rdd, "content string")
    assert df.rdd.getNumPartitions() == parts

    def fold(partitions):
        acc = ZERO
        for texts in partitions:
            part = ZERO
            for t in texts:
                part = merge(part, derive_text(t, ctx)[0], ctx)
            acc = merge(acc, part, ctx)
        return render(apply_transforms(acc, ctx), ctx)

    want = fold(docs)
    assert sorted(want["properties"]["e"]["enum"]) == ["a", "x", "y", "z"]
    assert "enum" not in fold(docs[::-1])["properties"]["e"]

    mark = last_execution_id(spark)
    res = infer_json_column(df, "content", ctx)
    assert res.n_ok == parts + 2 and res.n_err == 0
    assert res.schema(ctx) == want
    plans = [pl for _, pl in executed_plans(spark, mark)]
    assert plans and not any("tree_round(" in pl for pl in plans)


def test_enum_fold_is_row_order_within_partition(spark):
    """The unique-doc fast path collapses duplicates to first-appearance
    order, which is NOT the row order the order-sensitive enum merge
    needs: docs [1, 2, 1] with K=2 must fold as concat [1,2,1] (size 3
    > 2 -> tombstone), not as the collapsed [1,1,2] (enum kept). Enum
    contexts therefore fold per row; the kernel's sequential fold is
    the ground truth."""
    import json as _json

    from schema_guru_spark.core import render
    from schema_guru_spark.core.microschema import derive_text, merge_all
    from schema_guru_spark.core.transforms import apply_transforms

    ctx = SchemaContext.make(2)
    docs = [{"x": 1}, {"x": 2}, {"x": 1}]
    want = render(apply_transforms(
        merge_all([derive_text(_json.dumps(d), ctx)[0]
                   for d in docs], ctx), ctx), ctx)
    want_enum = want["properties"]["x"].get("enum")
    assert want_enum is None  # the kernel tombstones: concat size 3 > 2

    df = spark.createDataFrame(
        [( _json.dumps(d),) for d in docs], "content string").coalesce(1)
    sch = infer_json_column(df, "content", ctx).schema(ctx)
    assert sch["properties"]["x"].get("enum") == want_enum

    # keyed path: same rule per key
    kdf = spark.createDataFrame(
        [("k", _json.dumps(d)) for d in docs],
        "key string, content string").coalesce(1)
    out = {r["key"]: _json.loads(r["schema"])
           for r in infer_json_column_by_key(
               kdf, "content", "key", ctx).collect()}
    assert out["k"]["properties"]["x"].get("enum") == want_enum
