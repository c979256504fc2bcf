"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data, see SF_DIR) on local[$SPARK_GRAFT_CPUS]
(default: the CPUs this process may run on) and prints two JSON lines:
the full report {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}, then, last, a compact summary (value, queries,
queries_median, cpus, nproc, load averages) short enough to survive a
capture that keeps only the tail of the output.

Each query is forced with a noop sink (full execution, no driver
collect overhead). ``value`` is total wall-clock over all queries;
``files_per_sec`` reports validated docs/sec for the schema-inference
flagship (the BASELINE.json metric).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))


BENCH_NAMES = [
    "infer_props_schema",
    "infer_by_event_type",
    "string_profile_doc_text",
    "string_profile_cname",
    "numeric_profile_quantity",
    "enum_orderpriority",
    "duplicate_keys_source",
    "segment_props",
    "latest_event_per_user",
    "uniqueness_lineitem_pk",
    "ri_orders_customer",
    "psi_price_returnflag",
    "ks_quantity_linestatus",
]

# LLM-pipeline operators, timed the same way but reported under
# their own key so the headline total stays comparable across rounds
PIPELINE_NAMES = [
    "minhash_pairs_docs", "simhash_neardup_docs",
    "near_dup_clusters_docs", "ivf_topk_embeddings",
    "token_stats_docs", "quality_docs", "pii_docs",
    "repetition_docs", "contamination_docs", "dup_span_census_docs",
    "curation_docs", "source_mix_docs",
    "stratified_sample_docs", "pack_sequences_docs",
    "quality_topk_per_source", "hash_split_docs",
    "domain_mix_plan_docs",
]


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from schema_guru_spark.session import get_spark
    import __spark_entry__ as entry

    queries = entry.queries()
    # a renamed or deleted entry must not silently shrink the timed set
    # (a smaller headline total reads as a speedup)
    missing = [n for n in (*BENCH_NAMES, *PIPELINE_NAMES)
               if n not in queries]
    if missing:
        raise KeyError(f"bench names missing from queries(): {missing}")

    spark = get_spark("sgs-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    timings: dict[str, float] = {}
    n_docs = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    # host contention is the leading confounder for cross-round deltas
    # (round-3 verdict #3): snapshot the 1-min load average before and
    # after so a noisy run is identifiable from the JSON alone
    load_before = round(os.getloadavg()[0], 2)

    # warm the JVM + parquet footers once with a trivial action, and
    # spawn the Python worker pool (one worker per core) with a no-op
    # pandas UDF so the first measured query doesn't pay pool startup —
    # a per-process constant, not engine throughput
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(1).count()
    spark.range(CPUS * 4, numPartitions=CPUS).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    # three passes per query: run 1 carries one-time costs (per-query
    # codegen JIT, plan compilation) that are per-process constants, not
    # engine throughput; the headline is the best warm run, and the
    # median-of-3 is reported alongside (round-3 verdict #3: best-of-2
    # alone can't distinguish a real regression from one noisy sample).
    cold: dict[str, float] = {}
    medians: dict[str, float] = {}
    total = 0.0
    for name in BENCH_NAMES:
        # the flagship query defines the headline files_per_sec; at
        # sf0.1 it finishes in <1s, where one scheduling hiccup moves
        # the derived throughput 25% (r02->r03 "regression" was exactly
        # this) — give it extra samples
        n_runs = 5 if name == "infer_props_schema" else 3
        runs: list[float] = []
        for attempt in range(n_runs):
            t0 = time.perf_counter()
            _force(queries[name](spark, SF_DIR))
            dt = time.perf_counter() - t0
            if attempt == 0:
                cold[name] = round(dt, 3)
            runs.append(dt)
            spark.catalog.clearCache()  # drop operator-internal persists
        best = min(runs)
        medians[name] = round(sorted(runs)[len(runs) // 2], 3)
        timings[name] = round(best, 3)
        total += best

    # same treatment as the headline set (r04 verdict #3: pipeline
    # queries got 1 warm sample while headline got 3-5 with medians, so
    # pipeline regressions were not adjudicable from the JSON alone):
    # 3 runs — cold recorded, best-warm headline, median alongside
    pipe: dict[str, float] = {}
    pipe_medians: dict[str, float] = {}
    pipe_cold: dict[str, float] = {}
    for name in PIPELINE_NAMES:
        runs = []
        for attempt in range(3):
            t0 = time.perf_counter()
            _force(queries[name](spark, SF_DIR))
            dt = time.perf_counter() - t0
            if attempt == 0:
                pipe_cold[name] = round(dt, 3)
            runs.append(dt)
            spark.catalog.clearCache()
        pipe[name] = round(min(runs), 3)
        pipe_medians[name] = round(sorted(runs)[len(runs) // 2], 3)

    infer_sec = timings.get("infer_props_schema", float("nan"))
    out = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_cold": cold,
        "pipeline_queries": pipe,
        "pipeline_queries_median": pipe_medians,
        "pipeline_queries_cold": pipe_cold,
        "sf": SF_DIR,
        "cpus": CPUS,
        "files_per_sec": round(n_docs / infer_sec, 1) if infer_sec else None,
        "n_docs": n_docs,
        "loadavg_1m_before": load_before,
        "loadavg_1m_after": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))
    print(json.dumps({
        k: out[k] for k in ("value", "queries", "queries_median", "cpus")}
        | {"nproc": os.cpu_count(),
           "loadavg": [round(x, 2) for x in os.getloadavg()],
           "loadavg_1m_before": load_before},
        separators=(",", ":")))


if __name__ == "__main__":
    main()
