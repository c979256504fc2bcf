"""Scale-guard regression tests: plans that must stay bounded/distributed.

Round-2 pins for the two round-1 scale-killers (VERDICT.md "What's
wrong" #1 and #2): enum_candidates must never hold an unbounded value
set in one aggregation buffer, and the exact KS CDF must never run a
single-partition global window.
"""

import pytest
from pyspark.sql import functions as F

from schema_guru_spark.operators import constraints as C
from schema_guru_spark.operators import stats as S


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enum_candidates_bounded_on_high_cardinality(spark):
    # ~1M distinct values: the old collect_set plan materialized all of
    # them in one aggregation buffer; the two-phase plan must finish with
    # only K+1 values past the limit and tombstone the enum.
    df = spark.range(1_000_000).select(
        F.concat(F.lit("v"), F.col("id")).alias("v"))
    out = S.enum_candidates(df, "v", 5)
    row = out.collect()[0]
    assert row["n_distinct"] == 1_000_000
    assert row["enum"] is None
    plan = _plan(out)
    assert "collect_set" not in plan
    assert "Limit" in plan  # the K+1 early-out feeding collect_list


def test_enum_candidates_small_set_unchanged(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), (None,)], "v string")
    row = S.enum_candidates(df, "v", 3).collect()[0]
    assert row["n_distinct"] == 2
    assert list(row["enum"]) == ["a", "b"]


def test_ks_exact_window_is_partitioned(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ks = C.ks_two_sample(li, "l_quantity", "l_linestatus", "O", "F")
    plan = _plan(ks)
    # every window spec must carry the range-partition id — a bare
    # windowspecdefinition(v ASC...) is the serial global-CDF plan
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs, "expected a window in the KS plan"
    assert all("windowspecdefinition(pid" in ln for ln in specs), plan


def test_ks_exact_matches_single_partition_reference(spark):
    # distributed prefix-sum == straightforward pandas CDF on a small frame
    import random

    rng = random.Random(7)
    rows = [(float(rng.randint(0, 40)), "a" if rng.random() < 0.5 else "b")
            for _ in range(4000)]
    df = spark.createDataFrame(rows, "v double, g string")
    got = C.ks_two_sample(df, "v", "g", "a", "b", n_range_parts=8) \
           .collect()[0][0]

    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["v", "g"])
    va = sorted(pdf[pdf.g == "a"].v)
    vb = sorted(pdf[pdf.g == "b"].v)
    import bisect
    gap = max(
        abs(bisect.bisect_right(va, x) / len(va)
            - bisect.bisect_right(vb, x) / len(vb))
        for x in set(pdf.v))
    assert got == pytest.approx(round(gap, 6), abs=1e-9)


def test_duplicate_keys_guard_switches_to_distributed(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    driver = {tuple(r) for r in S.duplicate_keys(docs, "source").collect()}
    # force the guard: cap of 2 distinct keys -> distributed path
    dist = {tuple(r) for r in
            S.duplicate_keys(docs, "source", max_driver_keys=2).collect()}
    assert dist == driver and len(driver) > 0


def test_duplicate_keys_distributed_semantics(spark):
    # substitution, insertion, case/sep uniforming, and a >1-distance
    # pair that must NOT match; short keys (<=3 chars) excluded
    df = spark.createDataFrame(
        [("userName",), ("user_name",), ("usrname",), ("username",),
         ("wholly_different",), ("ab",)], "k string")
    got = {tuple(r) for r in
           S.duplicate_keys_distributed(df, "k").collect()}
    from schema_guru_spark.core.levenshtein import get_duplicates
    expected = get_duplicates(
        {"userName", "user_name", "usrname", "username",
         "wholly_different"})
    assert got == expected


def test_moment_drift_detects_planted_shift(spark):
    """The one-aggregate moment screen must flag a mean-shifted
    partition and stay near zero for identically-distributed ones."""
    import random

    rng = random.Random(11)
    rows = [(rng.randint(1, 50), "a") for _ in range(4000)]
    rows += [(rng.randint(1, 50), "b") for _ in range(4000)]
    rows += [(rng.randint(20, 70), "c") for _ in range(4000)]  # shifted
    df = spark.createDataFrame(rows, "v long, p string")
    out = {r["p"]: r for r in
           C.moment_drift_by_partition(df, "v", "p").collect()}
    # drift is vs the GLOBAL moments, which the shifted partition pulls
    # toward itself — so a/b carry some distance too; c must dominate
    assert out["c"]["moment_distance"] > 1.5 * out["a"]["moment_distance"]
    assert out["c"]["moment_distance"] > 1.5 * out["b"]["moment_distance"]
    assert abs(out["a"]["mean"] - out["b"]["mean"]) < 2.0
    # without the shifted partition, iid partitions sit near zero
    iid = {r["p"]: r["moment_distance"] for r in
           C.moment_drift_by_partition(
               df.where(F.col("p") != "c"), "v", "p").collect()}
    assert all(d < 0.1 for d in iid.values()), iid
    # single aggregate + broadcast: no window, no per-partition jobs
    plan = C.moment_drift_by_partition(df, "v", "p") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan


def test_ks_missing_group_yields_null_not_one(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "a")], "v double, g string")
    row = C.ks_two_sample(df, "v", "g", "a", "NOPE").collect()[0]
    assert row["ks_stat"] is None  # not a clamped 1.0 drift alarm


def test_pipeline_rejects_mismatched_bucket_layout(spark, tmp_path):
    from schema_guru_spark.pipeline import (
        materialize_bucketed, validate_repo_table)
    from schema_guru_spark.sources.repo_table import synthesize_repo_table

    df = synthesize_repo_table(spark, 500)
    path = str(tmp_path / "layout64")
    materialize_bucketed(df, path, n_buckets=64, n_salts=8)
    bucketed = spark.read.parquet(path)
    # the sidecar check catches the mismatch (r02 advice); sidecar-less
    # external layouts still hit the range-check fallback
    with pytest.raises(ValueError, match="materialized with"):
        validate_repo_table(spark, bucketed, n_buckets=16)
    import os
    os.remove(os.path.join(path, "_layout.json"))
    bucketed2 = spark.read.parquet(path)
    with pytest.raises(ValueError, match="n_buckets=16"):
        validate_repo_table(spark, bucketed2, n_buckets=16)


def test_pipeline_refuses_truncated_layout_sidecar(spark, tmp_path):
    """A sidecar that exists but does not parse must be refused, not
    treated as absent: the range-check fallback would accept this
    layout under a different n_salts."""
    import os

    from schema_guru_spark.pipeline import (
        materialize_bucketed, validate_repo_table)
    from schema_guru_spark.sources.repo_table import synthesize_repo_table

    path = str(tmp_path / "layout16")
    materialize_bucketed(synthesize_repo_table(spark, 200), path,
                         n_buckets=16, n_salts=8)
    sidecar = os.path.join(path, "_layout.json")
    with open(sidecar) as f:
        text = f.read()
    with open(sidecar, "w") as f:
        f.write(text[: len(text) // 2])
    crc = os.path.join(path, "._layout.json.crc")
    if os.path.exists(crc):
        os.remove(crc)  # a truncation by a writer that keeps no checksum
    with pytest.raises(ValueError, match="unreadable bucketed-layout"):
        validate_repo_table(spark, spark.read.parquet(path), n_buckets=16,
                            n_salts=4)


def test_pipeline_rejects_strict_ctx(spark):
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.pipeline import validate_repo_table

    df = spark.createDataFrame(
        [("r", "p", "c", "json", "{}")],
        "repo string, path string, commit string, lang string, content string")
    with pytest.raises(ValueError, match="strict_reference_product"):
        validate_repo_table(
            spark, df, ctx=SchemaContext.make(0, strict_reference_product=True))


def test_completeness_and_fd(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", "x"), (2, "b", "y"), (3, None, "z")],
        "k long, g string, v string")
    comp = {r["column"]: r for r in
            C.completeness(df, ["k", "g", "v"]).collect()}
    assert comp["k"]["completeness"] == 1.0
    assert comp["g"]["n_present"] == 3 and comp["g"]["completeness"] == 0.75
    assert comp["v"]["completeness"] == 0.75
    # k -> g violated only by k=2 (two g values across its 2 rows)
    fd = C.functional_dependency(df, ["k"], ["g"]).collect()[0]
    assert (fd["n_groups"], fd["n_violating_groups"],
            fd["n_violating_rows"], fd["holds"]) == (3, 1, 2, False)
    assert C.functional_dependency(df, ["k", "g"], ["k"]) \
        .collect()[0]["holds"] is True


def test_minhash_verify_no_shingle_self_join(spark):
    """VERDICT r02 #1: one corpus-frequent shingle (license boilerplate)
    shared by every candidate doc must NOT go quadratic. The pair-local
    verify plan joins candidate pairs to per-doc shingle ARRAYS — no
    ngram-keyed inverted-index self-join exists anywhere in the plan —
    so work is bounded by sum over pairs of (|A| + |B|)."""
    from schema_guru_spark.operators import dedup as D

    import hashlib

    boiler = ("licensed under the apache license version 2.0 "
              "you may not use this file except in compliance")
    rows = []
    for i in range(300):            # 150 true near-dup pairs
        pid = i // 2
        # md5-derived words: pair-unique shingles share nothing across
        # pairs, so only the boilerplate (~45% of shingles) is common —
        # cross-pair exact jaccard stays well below the 0.6 threshold
        uniq = " ".join(
            hashlib.md5(f"{pid}-{j}".encode()).hexdigest()[:8]
            for j in range(12))
        tail = "alpha" if i % 2 == 0 else "alphb"
        rows.append((i, f"{boiler} {uniq} {tail}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = D.minhash_verified_pairs(df, "doc_id", "text", threshold=0.6)
    plan = _plan(out)
    assert "ngram" not in plan, \
        "shingle inverted-index self-join resurfaced:\n" + plan
    assert "array_intersect" in plan

    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    expected = {(2 * p, 2 * p + 1) for p in range(150)}
    # every planted pair found (within-pair exact jaccard ~0.9); the
    # shared boilerplate alone (~45% of each doc's shingles) stays below
    # the 0.6 exact-jaccard threshold, so no cross-pair false positives
    assert got == expected


def test_uniqueness_hashed_128bit_screen(spark):
    """VERDICT r02 #2: the screen hashes keys to TWO independently-seeded
    64-bit halves. Two distinct keys colliding on one half must not
    collide on both — count_distinct over the (h1, h2) struct only
    aliases keys that agree on BOTH."""
    df = spark.range(1000).select(F.concat(F.lit("k"), "id").alias("k"))
    # seed independence: the two halves are different hash functions
    n_same = df.select(
        (F.xxhash64(F.lit(0x5EED0), "k") == F.xxhash64(F.lit(0x5EED1), "k"))
        .cast("int").alias("s")).agg(F.sum("s")).collect()[0][0]
    assert n_same == 0
    row = C.uniqueness_hashed(df, ["k"]).collect()[0]
    assert (row["n_rows"], row["n_exact"]) == (1000, 1000)
    assert bool(row["hll_ok"])
    # half-collision does not alias: structs equal on h1 but not h2
    # count as distinct (this is exactly what the 64-bit screen got
    # wrong at 10^12 keys: ~27 expected full collisions vs ~1.5e-15 now)
    half = spark.createDataFrame([(7, 1), (7, 2), (7, 2)],
                                 "h1 long, h2 long")
    n = half.agg(F.count_distinct(F.struct("h1", "h2"))).collect()[0][0]
    assert n == 2


def _shuffle_records_written(df) -> int:
    """Sum of 'shuffle records written' across the executed plan's
    exchanges — the ground truth for 'skew cannot concentrate data
    movement' claims. Collect the df first; metrics exist only after
    execution."""
    ep = df._jdf.queryExecution().executedPlan()
    try:
        ep = ep.finalPhysicalPlan()
    except Exception:
        pass
    total = 0

    def walk(node):
        nonlocal total
        name = node.getClass().getSimpleName()
        if "ShuffleExchange" in name:
            m = node.metrics()
            it = m.keysIterator()
            while it.hasNext():
                k = it.next()
                if "recordswritten" in k.lower().replace(" ", ""):
                    total += m.apply(k).value()
        # AQE wraps exchanges in QueryStageExec leaves; descend into the
        # wrapped plan (and through reused stages/exchanges) or the walk
        # sees no exchange at all
        for attr in ("plan", "child"):
            if "QueryStage" in name or "ReusedExchange" in name:
                try:
                    walk(getattr(node, attr)())
                    break
                except Exception:
                    continue
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(ep)
    return total


def test_fd_check_hot_key_does_not_concentrate_shuffle(spark):
    """VERDICT r02 #8 (FD side): 'a hot determinant costs the same as
    any other key' — demonstrated by measuring actual shuffle records:
    a 30%-hot key dataset must shuffle no more than a uniform dataset
    with the same distinct structure, because partial aggregation
    reduces each map task's contribution to its distinct (lhs, rhs)
    pairs; the hot key's 60k raw rows never travel."""
    n = 200_000

    def run(hot: bool):
        k = (F.when(F.pmod("id", 10) < 3, F.lit(0))
              .otherwise(F.pmod("id", 20_000)) if hot
             else F.pmod("id", 20_000))
        # range(..., numPartitions=8): NO input exchange — the only
        # shuffles measured are the aggregate's own
        df = spark.range(0, n, 1, 8).select(
            k.alias("k"),
            # v varies WITHIN every key (id // 20000 parity), so the FD
            # is violated everywhere in both datasets
            F.pmod(F.floor(F.col("id") / 20_000), 2).alias("v"))
        out = C.functional_dependency(df, ["k"], ["v"])
        row = out.collect()[0]
        assert row["holds"] is False        # every key maps to 2 values
        return _shuffle_records_written(out)

    w_hot, w_uniform = run(True), run(False)
    assert w_hot > 0 and w_uniform > 0, "expected exchanges in the plan"
    # hot must not exceed uniform by more than metric noise: skew adds
    # ZERO shuffle volume. (Absolute volume is distinct-pairs x map
    # tasks — the Expand of the distinct aggregate — for both.)
    assert w_hot <= 1.2 * w_uniform, (w_hot, w_uniform)
    # and neither plan ships raw rows twice over
    assert w_hot < 2 * n, w_hot


def test_drift_hot_partition_does_not_concentrate_shuffle(spark):
    """VERDICT r02 #8 (drift side): a hot drift partition (60% of rows)
    adds nothing to the shuffle — the per-(partition, bin) histogram is
    partial-aggregated map-side, so exchange volume is bounded by
    #partitions x n_bins x map tasks regardless of row skew."""
    n = 200_000

    def run(hot: bool):
        p = (F.when(F.pmod("id", 10) < 6, F.lit("hot"))
              .otherwise(F.concat(F.lit("p"), F.pmod("id", 7))) if hot
             else F.concat(F.lit("p"), F.pmod("id", 8)))
        df = spark.range(0, n, 1, 8).select(
            p.alias("p"),
            F.pmod("id", 1000).cast("double").alias("v"))
        out = C.drift_by_partition(df, "v", "p", n_bins=10)
        assert len(out.collect()) == 8
        return _shuffle_records_written(out)

    w_hot, w_uniform = run(True), run(False)
    assert w_hot > 0 and w_uniform > 0
    assert w_hot <= 1.2 * w_uniform, (w_hot, w_uniform)
    # histogram rows (8 parts x 10 bins x 8 tasks) + tiny join frames —
    # if the hot partition's 120k raw rows ever enter an exchange this
    # explodes by orders of magnitude
    assert w_hot < 10_000, w_hot


def test_span_census_hot_span_does_not_concentrate_shuffle(spark):
    """A boilerplate span appearing in most documents (license headers
    in source-code corpora) must add nothing to the census shuffle:
    partial aggregation reduces each map task's contribution to its
    distinct spans, so the hot span costs one state row per map task
    like any other span."""
    from schema_guru_spark.operators import textstats as TS
    n = 20_000
    boiler = "the usual license header words repeat here verbatim"

    def run(hot: bool):
        # doc pairs share their spans so the census output is non-empty
        # in BOTH corpora (an all-empty result lets AQE's empty-relation
        # propagation erase the very exchanges we're measuring)
        paired = F.concat(F.lit("shared words for doc pair number "),
                          F.floor(F.col("id") / 2), F.lit(" pad pad pad"))
        text = (F.when(F.pmod("id", 10) < 6, F.lit(boiler))
                 .otherwise(paired) if hot else paired)
        df = spark.range(0, n, 1, 8).select(
            F.col("id"), text.alias("text"))
        out = TS.interdoc_span_census(df, "text", "id", k=8, min_docs=2)
        out.collect()
        return _shuffle_records_written(out)

    w_hot, w_uniform = run(True), run(False)
    assert w_hot > 0 and w_uniform > 0
    # the hot corpus has FEWER distinct spans, so if partial agg works
    # its shuffle volume must not exceed the uniform corpus's
    assert w_hot <= 1.2 * w_uniform, (w_hot, w_uniform)
    # and ships less than the raw exploded-span volume (1.4n span rows,
    # x2 for the count-distinct Expand = 2.8n if partial agg did nothing)
    assert w_hot < 1.4 * n, w_hot


def test_exact_duplicates_bounded_on_degenerate_corpus(spark):
    # one digest x 1e5 rows (the "10^8 empty docs" failure mode scaled
    # down): the capped plan filters past max_ids BEFORE collect_list,
    # so no aggregation buffer ever holds the full group, while n stays
    # the exact multiplicity.
    from schema_guru_spark.operators import dedup as D

    df = spark.range(100_000).select(
        F.col("id"), F.lit("same payload").alias("text"))
    out = D.exact_duplicates(df, "text", "id", max_ids=50)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 100_000          # exact count survives the cap
    assert len(rows[0]["ids"]) == 50        # bounded id list
    assert list(rows[0]["ids"]) == sorted(rows[0]["ids"])
    # the filter on row_number must sit below the collect_list aggregate:
    # no unfiltered collect_list over the raw scan
    plan = _plan(out)
    assert "row_number" in plan
    assert "collect_list" in plan


def test_exact_duplicates_cap_no_change_below_cap(spark):
    from schema_guru_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, "dup" if i < 4 else f"u{i}") for i in range(10)],
        ["id", "text"])
    rows = D.exact_duplicates(df, "text", "id").collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 4 and list(rows[0]["ids"]) == [0, 1, 2, 3]


def test_uniqueness_hashed_prehashed_equivalence(spark):
    """prehashed=True runs the distinct directly on the caller's
    already-seeded hash pair (constraint_report projects kh1/kh2 once
    for several checks) — identical verdict to hashing the raw keys,
    without a second per-row hashing pass over hashes."""
    df = spark.range(500).select(
        F.concat(F.lit("k"), (F.col("id") % 400)).alias("k"))
    pre = df.select(
        F.xxhash64(F.lit(0x5EED0), "k").alias("kh1"),
        F.xxhash64(F.lit(0x5EED1), "k").alias("kh2"))
    a = C.uniqueness_hashed(df, ["k"]).collect()[0]
    b = C.uniqueness_hashed(pre, ["kh1", "kh2"],
                            prehashed=True).collect()[0]
    assert (a["n_rows"], a["n_exact"]) == (b["n_rows"], b["n_exact"]) \
        == (500, 400)
    with pytest.raises(ValueError, match="exactly the two"):
        C.uniqueness_hashed(pre, ["kh1"], prehashed=True)
