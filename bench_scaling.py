"""Two-parallelism scaling benchmark (the BASELINE.json north_rule
criterion: throughput scaling efficiency >= 0.8 between N and 4N).

No real cluster exists in this sandbox, so N vs 4N executors is
evidenced as local[N] vs local[4N] threads in one JVM on the SAME
materialized input ("e.g. local[8] and local[32], or N and 4N cores").
N defaults to a quarter of the CPUs this process may run on, so the
4N leg fits the host (1 vs 4 on a 4-core host). Each leg runs in a
fresh subprocess (fresh
JVM/SparkSession) via schema_guru_spark/run_validation.py — the
identical spark-submit-able job — and reports validated files/sec
measured inside the session (engine throughput; JVM boot excluded from
both legs alike).

Protocol:
  1. synthesize + write the repo table once (128 parquet splits, so
     both parallelism levels get full scan parallelism)
  2. warm-up leg (populates OS page cache so neither timed leg gets a
     cold-IO penalty the other doesn't)
  3. timed leg at N cores, timed leg at 4N cores (the median of
     --repeats runs each, with their min-max; every leg does one
     unmeasured in-process warm-up pass)
  4. efficiency = thr_4N / (4 * thr_N); append it to
     BENCH/scaling_history.jsonl and write BENCH/BASELINE.md, whose
     headline is the median efficiency of the history rows at this
     run's protocol (table size, N) that carry no ``excluded`` reason

Usage: python bench_scaling.py [--files 8000000] [--repeats 1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.abspath(__file__))
RUNNER = os.path.join(REPO, "schema_guru_spark", "run_validation.py")


def run_leg(synth_dir: str, cpus: int, n_files: int, warmup: int = 1) -> dict:
    out = subprocess.run(
        [sys.executable, RUNNER, "--input", synth_dir, "--cpus", str(cpus),
         "--warmup", str(warmup)],
        capture_output=True, text=True, check=True, cwd=REPO)
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def median_leg(runs: list[dict]) -> dict:
    """The run with the median files/sec (the lower median for an even
    count), with the min-max files/sec of all runs added."""
    runs = sorted(runs, key=lambda r: r["files_per_sec"])
    return dict(runs[(len(runs) - 1) // 2],
                files_per_sec_range=[runs[0]["files_per_sec"],
                                     runs[-1]["files_per_sec"]])


def headline(history: list[dict], n_files: int, n_cores: int) -> dict:
    """Median efficiency, its min-max and the run count over the
    history rows at one protocol (table size, N) that carry no
    ``excluded`` reason. Rows written before N was recorded ran N=2."""
    effs = sorted(h["efficiency"] for h in history
                  if not h.get("excluded") and h["n_files"] == n_files
                  and h.get("n_cores", 2) == n_cores)
    return {"median": statistics.median(effs), "min": effs[0],
            "max": effs[-1], "runs": len(effs)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=8_000_000)
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--n-cores", type=int,
                    default=max(1, len(os.sched_getaffinity(0)) // 4))
    ap.add_argument("--out", default=os.path.join("BENCH", "BASELINE.md"),
                    help="report path relative to the repo root")
    ap.add_argument("--label", default="run",
                    help="name for this run in the history table")
    args = ap.parse_args()
    n4 = args.n_cores * 4

    # a scaling comparison on a contended host is garbage (an r04 run
    # overlapped a pytest suite and recorded 0.70 on code that measures
    # 0.81-0.97 quiet) — refuse to measure unless the host is idle.
    # Sampled BEFORE the synthesize subprocess: sampling after it read
    # the bench's own table-build back as "contention" and self-tripped
    # every cold run (r05 review)
    load_at_start = os.getloadavg()[0]
    if load_at_start > 2.0:
        print(f"host busy (1-min load {load_at_start:.2f} > 2.0): "
              f"refusing to run a scaling measurement; retry when idle",
              file=sys.stderr)
        sys.exit(2)

    synth_dir = os.path.join(tempfile.gettempdir(),
                             f"sgs_synth_{args.files}")
    if not os.path.exists(os.path.join(synth_dir, "_SUCCESS")):
        # --synthesize-only: materialize the parquet table WITHOUT also
        # running a full (discarded) validation pass — the warm-up leg
        # below is the one that should pay that cost, once
        subprocess.run(
            [sys.executable, RUNNER, "--synthesize", str(args.files),
             "--synthesize-only", "--cpus", str(n4)],
            capture_output=True, text=True, check=True, cwd=REPO)
        # let the 1-min loadavg decay from the build before the timed
        # legs start (the guard above already proved the host idle)
        import time
        for _ in range(24):
            if os.getloadavg()[0] <= 2.0:
                break
            time.sleep(5)

    print(f"warm-up leg ({n4} cores)...", file=sys.stderr)
    run_leg(synth_dir, n4, args.files)

    legs = {}
    for cpus in (args.n_cores, n4):
        runs = []
        for i in range(args.repeats):
            print(f"timed leg cpus={cpus} run {i + 1}/{args.repeats}...",
                  file=sys.stderr)
            runs.append(run_leg(synth_dir, cpus, args.files))
        legs[cpus] = median_leg(runs)

    thr_n, thr_4n = (legs[args.n_cores]["files_per_sec"],
                     legs[n4]["files_per_sec"])
    eff = thr_4n / (4.0 * thr_n)
    report = {
        "metric": "scaling_efficiency_N_vs_4N",
        "value": round(eff, 4),
        "unit": "ratio",
        "n_cores": args.n_cores,
        "n4_cores": n4,
        "n_files": args.files,
        "files_per_sec_N": thr_n,
        "files_per_sec_4N": thr_4n,
        "files_per_sec_range_N": legs[args.n_cores]["files_per_sec_range"],
        "files_per_sec_range_4N": legs[n4]["files_per_sec_range"],
        "wall_sec_N": legs[args.n_cores]["wall_sec"],
        "wall_sec_4N": legs[n4]["wall_sec"],
        "pass_rate": legs[n4]["pass_rate"],
        "threshold": 0.8,
        "meets_threshold": eff >= 0.8,
        # per-leg summed executor task time, split by overlapped job
        # group (r04 verdict #7: makes an overlap-induced small-leg
        # contention penalty visible instead of averaged into the ratio)
        "task_time_sec": {c: legs[c].get("task_time_sec", {})
                          for c in legs},
        "legs": legs,
    }
    md = os.path.join(REPO, args.out)
    os.makedirs(os.path.dirname(md), exist_ok=True)

    # append-only run history: this host's virtualized CPUs carry
    # documented ±25-30% day-to-day variance, so a single run's
    # efficiency is meaningless without the series — keep every run and
    # render the table into the report instead of overwriting it away
    hist_path = os.path.join(os.path.dirname(md), "scaling_history.jsonl")
    hist_row = {"label": args.label,
                "efficiency": report["value"],
                "files_per_sec_N": thr_n, "files_per_sec_4N": thr_4n,
                "wall_sec_N": report["wall_sec_N"],
                "wall_sec_4N": report["wall_sec_4N"],
                "task_time_sec": report["task_time_sec"],
                "n_files": args.files, "n_cores": args.n_cores,
                "repeats": args.repeats,
                # pre-run load (sampled at the idle-guard): the load the
                # MEASUREMENT ran under — sampling here would read the
                # bench's own legs back as "contention"
                "loadavg_1m": round(load_at_start, 2)}
    with open(hist_path, "a") as f:
        f.write(json.dumps(hist_row) + "\n")
    with open(hist_path) as f:
        history = [json.loads(ln) for ln in f]
    head = headline(history, args.files, args.n_cores)
    report["headline"] = head
    print(json.dumps(report))
    hist_lines = [
        f"| {h.get('label', 'run')} | {h['n_files']:,} "
        f"| {h.get('n_cores', 2)} | {h['efficiency']:.3f} "
        f"| {h['files_per_sec_4N']:,.0f} | {h.get('loadavg_1m', '?')} "
        f"| {h.get('excluded', '')} |" for h in history]
    hist_md = ("\n## Run history (every row is real; an excluded row "
               "says why)\n\n"
               "| run | files | N | efficiency | files/sec at 4N "
               "| 1-min load | excluded |\n"
               "|---|---|---|---|---|---|---|\n"
               + "\n".join(hist_lines) + "\n")
    with open(md, "w") as f:
        f.write(f"""# BENCH/BASELINE — measured throughput + scaling efficiency

North-rule criterion (`BASELINE.json`): throughput scaling efficiency
>= 0.8 between N- and 4N-executor clusters. No real cluster exists in
this sandbox, so the two cluster sizes are evidenced as `local[{args.n_cores}]`
vs `local[{n4}]` (same JVM heap, {args.n_cores} vs {n4} executor threads,
on a host where this process may run on {len(os.sched_getaffinity(0))}
CPUs) running the
identical end-to-end validation job (`schema_guru_spark/run_validation.py`)
on the same materialized {args.files:,}-file repo table
(`(repo, path, commit, lang, content, content_sha)` parquet, 128 splits,
deterministic seed 42, ~30% mega-repo skew).

Throughput is validated files/sec measured inside each session (schema
inference scan + per-bucket merge + sha/lang checks + violation rows +
full constraint suite: HLL-vs-exact uniqueness, referential anti-joins,
PSI drift). Median of {args.repeats} runs per leg (min-max in the
table) after a warm-up leg
(OS page cache equalized); each leg also performs one unmeasured
in-process warm-up pass, so the reported number is steady-state engine
throughput — Python-worker-pool spawn and codegen JIT are one-time
per-process costs that do not grow with data size and would otherwise
bias the comparison toward the smaller thread pool.

| leg | cores | wall sec | validated files/sec | min-max files/sec | task-time: validate (s) | task-time: constraints (s) |
|---|---|---|---|---|---|---|
| N | {args.n_cores} | {legs[args.n_cores]['wall_sec']} | {thr_n:,.1f} | {legs[args.n_cores]['files_per_sec_range'][0]:,.1f}-{legs[args.n_cores]['files_per_sec_range'][1]:,.1f} | {legs[args.n_cores].get('task_time_sec', {}).get('timed-validate', '?')} | {legs[args.n_cores].get('task_time_sec', {}).get('timed-constraints', '?')} |
| 4N | {n4} | {legs[n4]['wall_sec']} | {thr_4n:,.1f} | {legs[n4]['files_per_sec_range'][0]:,.1f}-{legs[n4]['files_per_sec_range'][1]:,.1f} | {legs[n4].get('task_time_sec', {}).get('timed-validate', '?')} | {legs[n4].get('task_time_sec', {}).get('timed-constraints', '?')} |

Task-time columns are summed executor run time per overlapped job
group (the constraint suite is submitted from a second thread into the
derive pass's idle task slots). If the overlap ever penalizes the
small leg disproportionately, its task-time-to-wall ratio inflates
here instead of hiding inside the efficiency average.

**Scaling efficiency = {head['median']:.3f}**, the median of the
{head['runs']} non-excluded history runs at {args.files:,} files and
N={args.n_cores} (min-max {head['min']:.3f}-{head['max']:.3f}; threshold
0.8: {"MET" if head['median'] >= 0.8 else "NOT MET"}). This run:
thr_4N / (4 x thr_N) = {eff:.3f}.

Constraint outcomes at 4N: pass_rate={legs[n4]['pass_rate']},
violations={legs[n4]['n_violation_rows']},
hll_rel_err={legs[n4]['constraints']['hll_rel_err']},
worst_bucket_psi={legs[n4]['constraints']['worst_bucket_psi']}.

Reproduce: `python bench_scaling.py --files {args.files} --repeats {args.repeats}`
{hist_md}
Raw legs:

```json
{json.dumps(legs, indent=2)}
```
""")
    print(f"wrote {md}", file=sys.stderr)


if __name__ == "__main__":
    main()
