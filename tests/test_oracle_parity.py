"""Mimics the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from driver_queries.dedup import _CHAR_JACCARD_PAIRS_CTE
from driver_queries.infer import EPOCH_NTZ_SQL

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _canon(val):
    if val is None:
        return "~null~"
    if isinstance(val, bool):
        return str(val).lower()
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return f"{val:.9g}"
    return str(val)


def _rows_canon(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, ddb):
    sdf = QUERIES[name](spark, SF)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    rel = ddb.sql(ORACLES[name])
    d_cols = [c for c in rel.columns]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    assert _rows_canon(s_cols, s_rows) == _rows_canon(d_cols, d_rows), \
        f"{name}: value mismatch"


def test_all_queries_have_oracle_or_are_declared():
    missing = set(QUERIES) - set(ORACLES)
    # rows-only (non-SQL-expressible) ops — keep this list deliberate
    assert missing == {
        "infer_props_schema", "infer_by_event_type",
        "ks_quantity_sketch",
    }


def test_window_is_fifty_registry_entries():
    """The driver records the first 50 queries(): they are exactly the
    registry entries flagged in-window, in registry order, each with an
    oracle, and every operator is registered once."""
    names = [op.name for op in entrymod.REGISTRY]
    assert len(names) == len(set(names)) == len(QUERIES)
    window = [op.name for op in entrymod.REGISTRY if op.window]
    assert len(window) == 50
    assert list(QUERIES)[:50] == window
    assert set(window) <= set(ORACLES)


def test_parity_suites_cover_every_oracle():
    """Every oracle_sql() entry, past-window ones included, is in the
    parametrization of all three parity sweeps."""
    for fn in (test_query_matches_oracle,
               test_parity_invariant_to_shuffle_partitioning,
               test_oracle_dtype_parity):
        (mark,) = [m for m in fn.pytestmark if m.name == "parametrize"]
        assert set(mark.args[1]) == set(ORACLES), fn.__name__


def test_bench_names_are_registered():
    """bench.py times these names; it refuses to start without them."""
    import bench
    assert set(bench.BENCH_NAMES + bench.PIPELINE_NAMES) <= set(QUERIES)


def test_rows_only_queries_run(spark):
    for name in set(QUERIES) - set(ORACLES):
        df = QUERIES[name](spark, SF)
        assert df.count() >= 1, name


def test_entry_smoke(spark):
    """The driver smoke-checks entry(): must run and return >= 0 rows
    with a stable schema."""
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 1
    assert set(df.columns) == {"schema", "n_ok", "n_err",
                               "duplicated_keys"}
    assert rows[0]["n_ok"] > 0 and rows[0]["n_err"] == 0
    import json as j
    sch = j.loads(rows[0]["schema"])
    assert sch.get("type") in ("object", ["object"])


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity_invariant_to_shuffle_partitioning(name, spark, ddb):
    """The driver may run any session shape: re-check EVERY oracle query
    under a very different shuffle width (64 vs the suite's 8). Results
    must be identical — any dependence on partition count (floating-sum
    merge order, LSH bucket layout, window bucketing, label propagation)
    is a bug. Round-3 verdict #8: source_mix_docs' avg(double) was
    exactly such an order dependence; this sweep covers the whole list
    so the next one fails here, not in the driver's hash gate."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        sdf = QUERIES[name](spark, SF)
        s_rows = [tuple(r) for r in sdf.collect()]
        rel = ddb.sql(ORACLES[name])
        assert _rows_canon(sdf.columns, s_rows) == \
            _rows_canon(list(rel.columns), rel.fetchall()), name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_dtype_parity(name, spark, ddb):
    """r04 verdict #1: source_mix_docs was hash-red for TWO rounds on a
    pure dtype artifact — DuckDB sum(BIGINT) returns HUGEINT, pandas
    materializes it float64 (73327.0) while Spark returns int64 (73327).
    _canon() formats both as '73327' so the value sweep above could never
    see it. The driver's hasher DOES see representation, so pin pandas
    dtype *kind* agreement between Spark `.toPandas()` and DuckDB `.df()`
    for every oracle query: an oracle-side representation artifact now
    fails locally instead of burning a round."""
    s_pd = QUERIES[name](spark, SF).toPandas()
    d_pd = ddb.sql(ORACLES[name]).df()
    assert sorted(s_pd.columns) == sorted(d_pd.columns), name
    for col in s_pd.columns:
        sk, dk = s_pd[col].dtype.kind, d_pd[col].dtype.kind
        # datetimes may arrive ns vs us resolution; kind 'M' is enough.
        assert sk == dk, (
            f"{name}.{col}: Spark pandas dtype {s_pd[col].dtype} (kind "
            f"{sk}) vs DuckDB {d_pd[col].dtype} (kind {dk}) — add an "
            "explicit cast to the oracle SQL (::BIGINT/::INT/::DOUBLE) "
            "or align the Spark column type")


def test_documents_fixture_sits_outside_banding_gap(ddb):
    """ADVICE r02: minhash_pairs_docs compares an LSH-pruned Spark result
    to an exact all-pairs oracle — equality is only guaranteed because no
    doc pair's exact char-5-gram Jaccard falls in the banding detection
    gap (a pair at j=0.8 escapes all 16 bands w.p. ~5e-2). Pin that
    fixture property so regenerating/enlarging the documents table fails
    HERE with a clear message instead of as an opaque parity mismatch."""
    gap = ddb.sql(f"""
        WITH {_CHAR_JACCARD_PAIRS_CTE}
        SELECT count(*) AS n_in_gap,
               sum(CASE WHEN j >= 0.93 THEN 1 ELSE 0 END) AS n_true_pairs
        FROM (SELECT common / (sa.sz + sb.sz - common) AS j
              FROM inter
              JOIN sizes sa ON sa.id = id_a
              JOIN sizes sb ON sb.id = id_b)
        WHERE j >= 0.93 OR (j >= 0.6 AND j < 0.93)
    """).fetchone()
    n_total, n_true = gap
    n_in_gap = n_total - (n_true or 0)
    assert n_in_gap == 0, (
        f"{n_in_gap} doc pair(s) with exact Jaccard in [0.6, 0.93): the "
        "fixture no longer guarantees LSH recall — regenerate documents "
        "with a wider similarity gap or raise bands")
    assert n_true and n_true > 0, "fixture lost its true near-dup pairs"


def test_embeddings_fixture_sits_outside_sign_lsh_gap(ddb):
    """Same fixture-drift guard for the embedding near-dup oracle: its
    parity relies on NO natural pair reaching the 0.9 exact-cosine
    threshold (planted pairs sit at ~0.999, natural ceiling ~0.51). A
    regenerated embeddings table that closes the gap fails HERE."""
    (max_nat,) = ddb.sql("""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                   FROM embeddings)
        SELECT max(list_inner_product(a.e, b.e)
                   / (sqrt(list_inner_product(a.e, a.e))
                      * sqrt(list_inner_product(b.e, b.e))))
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    """).fetchone()
    assert max_nat < 0.6, (
        f"natural max pair cosine {max_nat:.3f} encroaches on the 0.9 "
        "near-dup threshold — regenerate embeddings with a wider gap or "
        "raise the planted-pair similarity")


def test_epoch_ntz_floor_matches_duckdb_for_pre_1970(spark, ddb):
    """EPOCH_NTZ_SQL must FLOOR like DuckDB's floor(epoch(ts)), not
    truncate toward zero like CAST(interval AS BIGINT): for
    1969-12-31 23:59:59.5 the oracle says -1, the interval cast says
    0. Pinned on both sides so a future events fixture with pre-epoch
    fractional-second timestamps can't silently diverge."""
    from pyspark.sql import functions as F

    df = spark.sql(
        "SELECT ts FROM VALUES"
        " (TIMESTAMP_NTZ '1969-12-31 23:59:59.5'),"
        " (TIMESTAMP_NTZ '1970-01-01 00:00:00'),"
        " (TIMESTAMP_NTZ '1970-01-01 00:00:00.5'),"
        " (TIMESTAMP_NTZ '2024-02-29 12:00:00.25') AS t(ts)")
    got = [r[0] for r in
           df.select(F.expr(EPOCH_NTZ_SQL.format(col="ts")))
             .collect()]
    want = [r[0] for r in ddb.execute(
        "SELECT floor(epoch(ts))::BIGINT FROM (VALUES"
        " (TIMESTAMP '1969-12-31 23:59:59.5'),"
        " (TIMESTAMP '1970-01-01 00:00:00'),"
        " (TIMESTAMP '1970-01-01 00:00:00.5'),"
        " (TIMESTAMP '2024-02-29 12:00:00.25')) AS t(ts)").fetchall()]
    assert got == want == [-1, 0, 0, 1709208000]


def test_registry_queries_release_their_caches(spark, sf_dir):
    """Every registry query leaves the session's CacheManager as it
    found it (empty): a cached plan outliving its query would serve a
    later query over the same plan stale rows if the table's files
    changed in between."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    leaks = []
    for name, query in [("entry", lambda s, _: entrymod.entry(s)),
                        *QUERIES.items()]:
        query(spark, sf_dir).collect()
        if not cache.isEmpty():
            leaks.append(name)
            spark.catalog.clearCache()
    assert not leaks, leaks
