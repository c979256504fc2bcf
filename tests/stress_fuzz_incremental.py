"""Randomized append-chain soak of incremental re-validation (NOT
collected by pytest — run: ``python tests/stress_fuzz_incremental.py
[--rounds 5] [--seed 1]``).

The unit suite pins fixed 2-3 step chains; this soak drives random
chains (2-6 appends of random sizes, random extra-key schema widening,
random cross-delta key duplication, random bad-JSON planting) and after
EVERY step asserts the cumulative view is EXACT against a from-scratch
full validation of the same table:

  I1 rows / json_ok / json_err equal the full run's verdict sums
  I2 the cumulative merged schema equals the full run's merged render
  I3 uniqueness: uniq_ok is False iff cross-delta duplicate keys were
     planted (each delta alone is key-unique), and the HLL estimate is
     within tolerance of the true distinct count
  I4 drift: the cumulative per-bucket PSI and worst_bucket_psi equal
     the full run's, computed from its verdict rows' length histograms

``run_round`` is one round; tests/test_incremental.py runs the rounds
of ``--rounds 2 --seed 1`` in the unit suite.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import random
import sys

# runnable as `python tests/<this>.py` from anywhere
import os as _os
sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
import tempfile
import time


def _rows(rng, n, commit, start, extra_key, bad_frac):
    rows = []
    for i in range(start, start + n):
        if rng.random() < bad_frac:
            content = '{"i": ' + str(i)  # truncated: parse error
        else:
            doc = {"i": i}
            if extra_key:
                doc["u"] = f"{i:08x}-0000-4000-8000-{i:012x}"
            content = json.dumps(doc)
        rows.append({
            "repo": f"r{i % 5}", "path": f"p/{commit}/{i}",
            "commit": commit, "lang": "json",
            "content": content,
            "content_sha": hashlib.sha256(content.encode()).hexdigest(),
        })
    return rows


def run_round(spark, seed: int) -> str:
    """One random append chain (random.Random(seed)); asserts I1-I4
    after every step and returns a one-line summary."""
    from pyspark.sql import functions as F
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import ZERO, loads, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    from schema_guru_spark.pipeline import bucket_psi, validate_repo_table
    from schema_guru_spark.plans.incremental import incremental_validate
    from schema_guru_spark.sources.iceberg_meta import (append_snapshot,
                                                        read_iceberg)

    SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
              ("lang", "string"), ("content", "string"),
              ("content_sha", "string")]
    ctx = SchemaContext.make(0)
    rng = random.Random(seed)
    n_buckets = rng.choice([4, 8, 16])
    n_steps = rng.randint(2, 6)
    with tempfile.TemporaryDirectory() as td:
        tp, ckpt = f"{td}/repos", f"{td}/ckpt"
        planted_dup = False
        prev_batches = []
        start = 0
        for step in range(n_steps):
            n = rng.randint(5, 60)
            bad = rng.choice([0.0, 0.0, 0.1])
            if prev_batches and rng.random() < 0.4:
                # cross-delta duplicate keys: re-append a prior batch
                batch = rng.choice(prev_batches)
                planted_dup = True
            else:
                batch = _rows(rng, n, f"c{step}", start,
                              extra_key=rng.random() < 0.5,
                              bad_frac=bad)
                start += n
            prev_batches.append(batch)
            append_snapshot(tp, batch, SCHEMA, partition_by="lang")

            r = incremental_validate(spark, tp, ckpt,
                                     n_buckets=n_buckets,
                                     max_err_rate=1.0)
            cum = r["cumulative"]

            # from-scratch full validation of the same table
            full = validate_repo_table(
                spark, read_iceberg(spark, tp), n_buckets=n_buckets,
                allowed_langs=("json",), max_err_rate=1.0,
                keep_state=True)
            frow = full.verdicts.agg(
                F.sum("n_rows"), F.sum("n_json_ok"),
                F.sum("n_json_err")).collect()[0]
            assert (frow[0], frow[1], frow[2]) == (
                cum["rows"], cum["json_ok"], cum["json_err"]), \
                (seed, step, tuple(frow), cum)

            acc = ZERO
            for row in full.verdicts.select("state").collect():
                acc = merge(acc, loads(row["state"]), ctx)
            assert render(apply_transforms(acc, ctx), ctx) == \
                cum["schema"], (seed, step)

            uniq = cum["uniqueness"]
            truth = {(x["repo"], x["path"], x["commit"])
                     for b in prev_batches for x in b}
            n_all = sum(len(b) for b in prev_batches)
            assert uniq["n_rows"] == n_all
            if planted_dup:
                assert not uniq["uniq_ok"], (seed, step, uniq)
            else:
                assert uniq["uniq_ok"], (seed, step, uniq)
            est = uniq["n_distinct_est"]
            assert abs(est - len(truth)) <= max(2, 0.05 * len(truth)), \
                (seed, step, est, len(truth))

            psi = bucket_psi(full.verdict_rows)
            assert cum["drift"] == {
                "worst_bucket_psi": max(psi.values(), default=0.0),
                "bucket_psi": psi}, (seed, step, cum["drift"], psi)
    return (f"steps={n_steps} buckets={n_buckets} rows={start} "
            f"dup={planted_dup}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .appName("stress_fuzz_incremental").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    for rnd in range(args.rounds):
        summary = run_round(spark, args.seed + rnd)
        print(f"round {rnd + 1}/{args.rounds} OK ({summary})", flush=True)

    print(json.dumps({"fuzz": "incremental_chains", "rounds": args.rounds,
                      "seed": args.seed,
                      "sec": round(time.time() - t0, 1)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
