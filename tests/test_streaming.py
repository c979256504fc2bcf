"""Structured Streaming schema inference: incremental global state and
per-key applyInPandasWithState."""

import json
import time

import pytest
from pyspark.sql import functions as F

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.streaming.infer_stream import (
    IncrementalSchemaState, keyed_schema_stream, run_incremental_inference,
)

CTX = SchemaContext.make(0)


def _write_batch(d, name, lines):
    p = d / name
    p.write_text("\n".join(lines) + "\n")


def test_incremental_inference(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_batch(src, "b1.ndjson", ['{"a": 1}', '{"a": 2, "b": "x"}'])

    stream = (spark.readStream.format("text")
              .schema("value string").load(str(src))
              .withColumnRenamed("value", "content"))
    state_path = str(tmp_path / "state.json")
    q = run_incremental_inference(stream, "content", CTX, state_path,
                                  str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    sch = json.load(open(state_path + ".schema.json"))
    assert sch["properties"]["a"]["type"] == "integer"
    st, n_ok, n_err, _last = IncrementalSchemaState(state_path).read()
    assert (n_ok, n_err) == (2, 0)

    # second batch arrives; restart stream from checkpoint -> merges
    _write_batch(src, "b2.ndjson", ['{"a": 2.5, "c": null}', '{broken'])
    q2 = run_incremental_inference(stream, "content", CTX, state_path,
                                   str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    sch = json.load(open(state_path + ".schema.json"))
    assert sch["properties"]["a"]["type"] == "number"  # int widened
    assert sch["properties"]["c"]["type"] == "null"
    st, n_ok, n_err, _last = IncrementalSchemaState(state_path).read()
    assert (n_ok, n_err) == (3, 1)


def test_keyed_schema_stream(spark, tmp_path):
    src = tmp_path / "kin"
    src.mkdir()
    _write_batch(src, "b1.ndjson", [
        'click|{"x": 1}',
        'click|{"x": 9, "y": "s"}',
        'view|{"z": true}',
    ])
    raw = (spark.readStream.format("text")
           .schema("value string").load(str(src)))
    parsed = raw.select(
        F.split_part("value", F.lit("|"), F.lit(1)).alias("segment"),
        F.split_part("value", F.lit("|"), F.lit(2)).alias("content"))

    out = keyed_schema_stream(parsed, "content", "segment", CTX)
    q = (out.writeStream.format("memory").queryName("keyed_schemas")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "kckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = {r["key"]: r for r in spark.sql(
        "select * from keyed_schemas").collect()}
    assert set(rows) == {"click", "view"}
    click = json.loads(rows["click"]["schema"])
    assert click["properties"]["x"]["type"] == "integer"
    assert rows["click"]["n_ok"] == 2
    view = json.loads(rows["view"]["schema"])
    assert view["properties"]["z"]["type"] == "boolean"


def test_keyed_schema_stream_equals_batch_by_key(spark, tmp_path):
    """The keyed stream and batch per-key inference run the same kernel
    (core fold_keyed): identical (key, schema, n_ok, n_err) on the same
    rows — null content, invalid JSON and a scalar doc count as errors
    on both, and an integer past 2^64 infers as number on both (one
    parser)."""
    from schema_guru_spark.operators.infer import infer_json_column_by_key

    rows = [
        ("click", '{"x": 1, "tags": ["a", "b"]}'),
        ("click", '{"x": 1, "tags": ["a", "b"]}'),
        ("click", '{"x": 9, "y": "2024-01-02T03:04:05Z"}'),
        ("click", None),
        ("click", '{broken'),
        ("view", '{"z": true, "big": 123456789012345678901234567890}'),
        ("view", "42"),
        ("view", '[{"z": false}]'),
    ]
    src = str(tmp_path / "rows")
    spark.createDataFrame(rows, "segment string, content string") \
         .coalesce(1).write.parquet(src)

    batch = {(r["segment"], r["schema"], r["n_ok"], r["n_err"])
             for r in infer_json_column_by_key(
                 spark.read.parquet(src), "content", "segment",
                 CTX).collect()}

    stream = (spark.readStream.schema("segment string, content string")
              .parquet(src))
    q = (keyed_schema_stream(stream, "content", "segment", CTX)
         .writeStream.format("memory").queryName("keyed_vs_batch")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {(r["key"], r["schema"], r["n_ok"], r["n_err"])
                for r in spark.sql("select * from keyed_vs_batch").collect()}

    assert streamed == batch
    assert {(k, ok, err) for k, _, ok, err in batch} == {
        ("click", 3, 2), ("view", 2, 1)}
    view = json.loads(next(s for k, s, _, _ in batch if k == "view"))
    assert view["properties"]["big"]["type"] == "number"


def test_incremental_state_replay_is_idempotent(tmp_path):
    """A foreachBatch replay (same batch_id, failure between sink write
    and checkpoint commit) must not double-merge counters."""
    from schema_guru_spark.streaming.infer_stream import IncrementalSchemaState
    p = str(tmp_path / "state.json")
    store = IncrementalSchemaState(p)
    st, ok, err, last = store.read()
    assert (st, ok, err, last) == ({}, 0, 0, None)
    store.write({"int": {"min": 1, "max": 2, "enum": None}}, 10, 1, 0)
    st, ok, err, last = store.read()
    assert ok == 10 and last == 0
    # the guard a replayed batch hits:
    assert last is not None and 0 <= last


def test_incremental_state_pins_checkpoint_lineage(spark, tmp_path):
    """Batch ids are only comparable within one checkpoint lineage:
    reusing a state file against a DIFFERENT checkpoint dir must fail
    loudly instead of treating the new stream's batches 0..N as
    replays (r05 review)."""
    import os
    import pytest
    from schema_guru_spark.streaming.infer_stream import IncrementalSchemaState
    p = str(tmp_path / "state.json")
    store = IncrementalSchemaState(p)
    ck1 = os.path.abspath(str(tmp_path / "ck1"))
    store.write({}, 5, 0, 40, checkpoint_dir=ck1)
    assert store.checkpoint_dir() == ck1
    dummy = spark.range(1).withColumnRenamed("id", "content")
    with pytest.raises(ValueError, match="belongs to checkpoint"):
        run_incremental_inference(dummy, "content", CTX, p,
                                  str(tmp_path / "ck2"))
    # legacy state files (no pin) stay usable with any checkpoint:
    # the guard only fires once a pin exists
    store.write({}, 5, 0, 40)
    assert store.checkpoint_dir() is None


def test_windowed_violation_counts_with_watermark(spark, tmp_path):
    from schema_guru_spark.streaming.infer_stream import (
        windowed_violation_counts)
    src = tmp_path / "win"
    src.mkdir()
    # two event-time windows; one malformed doc in the second
    _write_batch(src, "b1.ndjson", [
        '2024-01-01T00:00:10|{"a":1}',
        '2024-01-01T00:00:40|{"a":2}',
        '2024-01-01T00:01:10|{"b":1}',
        '2024-01-01T00:01:20|not json',
    ])
    stream = (spark.readStream.format("text").schema("value string")
              .load(str(src))
              .select(F.split("value", r"\|").alias("p"))
              .select(F.to_timestamp(F.col("p")[0]).alias("ts"),
                      F.col("p")[1].alias("content")))
    out = windowed_violation_counts(stream, "content", "ts")
    q = (out.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {str(r["window_start"]): r
            for r in spark.sql("select * from win_counts").collect()}
    assert len(rows) == 2
    first = rows["2024-01-01 00:00:00"]
    assert (first["n_docs"], first["n_valid"], first["n_invalid"]) == (2, 2, 0)
    second = rows["2024-01-01 00:01:00"]
    assert (second["n_docs"], second["n_invalid"]) == (2, 1)
    assert abs(second["err_rate"] - 0.5) < 1e-9


def test_streaming_exact_dedup_drops_repeats(spark, tmp_path):
    """Duplicate content inside the watermark horizon is dropped
    (first-writer-wins) and the state is keyed on the digest."""
    import datetime as dt

    from schema_guru_spark.streaming.dedup_stream import (
        streaming_exact_dedup)

    src = str(tmp_path / "src")
    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, "alpha content", base),
        (2, "alpha content", base + dt.timedelta(seconds=30)),  # dup
        (3, "beta content", base + dt.timedelta(seconds=40)),
        (4, "beta content", base + dt.timedelta(seconds=50)),   # dup
        (5, "gamma content", base + dt.timedelta(seconds=60)),
    ]
    spark.createDataFrame(rows, "id long, text string, ts timestamp") \
        .repartition(1).write.parquet(src)

    stream = spark.readStream.schema(
        "id long, text string, ts timestamp").parquet(src)
    out = streaming_exact_dedup(stream, "text", "ts",
                                watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_out").collect()
    texts = sorted(r["text"] for r in got)
    assert texts == ["alpha content", "beta content", "gamma content"]
    assert all(r["digest"] is not None for r in got)


def test_streaming_minhash_buckets_match_batch(spark, tmp_path):
    """Stream-side band buckets must hash identically to the batch
    banding, so a stream-static candidate join is well-defined."""
    from schema_guru_spark.operators.dedup import (
        _lsh_candidates, minhash_signatures)
    from schema_guru_spark.streaming.dedup_stream import (
        streaming_minhash_buckets)

    rows = [(1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different text about something else")]
    df = spark.createDataFrame(rows, "id long, text string")
    src = str(tmp_path / "src")
    df.repartition(1).write.parquet(src)

    stream = spark.readStream.schema("id long, text string").parquet(src)
    buckets = streaming_minhash_buckets(stream, "id", "text")
    q = (buckets.writeStream.format("memory").queryName("stream_buckets")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["id"], r["band"], r["band_hash"])
           for r in spark.sql("SELECT * FROM stream_buckets").collect()}

    sigs = minhash_signatures(df, "id", "text")
    batch = sigs.select(
        "id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: F.hash(F.slice("sig", i * 4 + 1, 4)))).alias(
                "band", "band_hash"))
    expected = {(r["id"], r["band"], r["band_hash"])
                for r in batch.collect()}
    assert got == expected
    # identical docs share every bucket -> they are LSH candidates
    assert len({b for (i, b, h) in got if i == 1}
               & {b for (i, b, h) in got if i == 2}) == 16


def test_streaming_window_moments(spark, tmp_path):
    """Windowed power-sum moments: two event-time windows, the second
    mean-shifted — per-window moments must match the batch formula on
    the same slices."""
    import datetime as dt

    from schema_guru_spark.operators.constraints import (
        moment_drift_by_partition)
    from schema_guru_spark.streaming.dedup_stream import (
        streaming_window_moments)

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(200):
        rows.append((i % 50 + 1, base + dt.timedelta(seconds=i % 50)))
    for i in range(200):
        rows.append((i % 50 + 30,
                     base + dt.timedelta(minutes=1, seconds=i % 50)))
    df = spark.createDataFrame(rows, "v long, ts timestamp")
    src = str(tmp_path / "src")
    df.repartition(2).write.parquet(src)

    stream = spark.readStream.schema("v long, ts timestamp").parquet(src)
    out = streaming_window_moments(stream, "v", "ts", window="1 minute")
    # complete mode: append would only emit windows already closed by
    # the watermark, and availableNow ends before that happens
    q = (out.writeStream.format("memory").queryName("win_moments")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["win_start"].minute: r
           for r in spark.sql("SELECT * FROM win_moments").collect()}
    assert set(got) == {0, 1}
    assert got[1]["mean"] - got[0]["mean"] == 29.0  # planted shift
    # batch twin on the same slices agrees exactly
    batch = {r["m"]: r for r in moment_drift_by_partition(
        df.withColumn("m", F.minute("ts")), "v", "m").collect()}
    for m in (0, 1):
        assert got[m]["mean"] == batch[m]["mean"]
        assert got[m]["variance"] == batch[m]["variance"]
        assert got[m]["skewness"] == batch[m]["skewness"]


def test_streaming_window_moments_skips_nulls(spark, tmp_path):
    import datetime as dt

    from schema_guru_spark.streaming.dedup_stream import (
        streaming_window_moments)

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [(10, base), (20, base + dt.timedelta(seconds=1)),
            (None, base + dt.timedelta(seconds=2))]
    df = spark.createDataFrame(rows, "v long, ts timestamp")
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema("v long, ts timestamp").parquet(src)
    out = streaming_window_moments(stream, "v", "ts", window="1 minute")
    q = (out.writeStream.format("memory").queryName("null_moments")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    r = spark.sql("SELECT * FROM null_moments").collect()[0]
    assert r["n"] == 2 and r["mean"] == 15.0   # null row excluded


def test_streaming_curation_matches_batch(spark, tmp_path):
    """stream==batch parity for the curation verdict: the per-row
    signals are shared expressions, and the broadcast sorted-hash
    contamination probe must reproduce the batch join+distinct exactly
    (it is exact membership, not a sketch)."""
    from schema_guru_spark.operators.textstats import curation_report
    from schema_guru_spark.streaming.curate_stream import (
        benchmark_gram_hashes, streaming_curation)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    bench = docs.where(F.col("doc_id") < 5)
    corpus = docs.where((F.col("doc_id") >= 5) & (F.col("doc_id") < 120))
    src = tmp_path / "docs_in"
    corpus.write.parquet(str(src))

    kw = dict(contamination_n=5, quality_min=0.75, dup3_max=0.01,
              top2_max=0.06, allowed_langs=("en",))
    expected = sorted(tuple(r) for r in curation_report(
        corpus, "text", "doc_id", bench=bench, **kw).collect())

    bh = benchmark_gram_hashes(bench, "text", contamination_n=5)
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .parquet(str(src)))
    out = streaming_curation(stream, "text", "doc_id",
                             bench_hashes=bh, **kw)
    q = (out.writeStream.format("memory").queryName("curation_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in
                 spark.sql("SELECT * FROM curation_out").collect())
    assert got == expected
    assert any(r[6] for r in got), "fixture lost its contaminated docs"


def test_streaming_curation_stateless_without_bench(spark, tmp_path):
    """No benchmark => the plan must be a stateless projection (no
    state store operators), so it runs in append mode with no
    watermark."""
    from schema_guru_spark.streaming.curate_stream import (
        streaming_curation)
    src = tmp_path / "docs_in2"
    spark.createDataFrame([(1, "the cat and the dog")],
                          "doc_id bigint, text string") \
         .write.parquet(str(src))
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .parquet(str(src)))
    out = streaming_curation(stream, "text", "doc_id")
    q = (out.writeStream.format("memory").queryName("curation_nobench")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM curation_nobench").collect()
    assert len(rows) == 1 and rows[0]["contaminated"] is False


def test_keyed_schema_stream_rejects_enum_context(spark):
    """Enum merges are order-sensitive and a streaming group has no
    input order to pin — the keyed stateful path must refuse loudly
    (run_incremental_inference remains the enum-capable streaming
    route)."""
    import pytest as _pytest

    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.streaming.infer_stream import keyed_schema_stream

    df = (spark.readStream.format("rate").load()
          .selectExpr("cast(value as string) as segment",
                      "'{}' as content"))
    with _pytest.raises(ValueError, match="enum-free"):
        keyed_schema_stream(df, "content", "segment",
                            SchemaContext.make(3))
