"""One benchmark run's Spark driver: the timed legs of one workload.

Started by ``run.py`` as its own process (session leader), so the whole
tree it spawns — the JVM and Spark's Python workers — can be measured,
pinned and reaped as one unit. The process:

  1. boots ``get_spark`` at local[4] with every CPU allowed, builds or
     reuses the seeded inputs, warms the Python workers on a small slice
     (set-up ends at the first timed call);
  2. pins the whole tree to 4 CPUs and runs the timed 4-CPU leg, then
     the ground-truth checks;
  3. with ``--trace 1``: runs the per-layer probes, stops the context,
     boots local[1] in the same JVM, warms it on the slice, pins the
     whole tree to 1 CPU and runs the 1-CPU leg on the same input;
  4. writes one JSON result (and the spans) to files.

Timed calls go through the program's public entry points only:
``run_validation.main`` (json-skew) and ``incremental_validate`` plus
``append_snapshot`` (append-stream).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

N_BUCKETS, N_SALTS, MAX_ERR = 64, 8, 0.02


# ------------------------------------------------------------ process tree

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def pin_tree(cpus: set[int]) -> int:
    """Pin every thread of this process and all its descendants (JVM,
    Python worker daemon and workers). Two passes catch threads spawned
    during the first; threads and processes created later inherit the
    mask from their (pinned) creator."""
    n = 0
    for _ in range(2):
        for pid in tree_pids(os.getpid()):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    os.sched_setaffinity(int(tid), cpus)
                    n += 1
                except OSError:
                    pass
    return n


# ----------------------------------------------------------------- helpers

def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str)
                          .encode()).hexdigest()[:16]


def canon(obj):
    """Floats rounded to 9 digits so equal results compare equal."""
    if isinstance(obj, float):
        return round(obj, 9)
    if isinstance(obj, dict):
        return {str(k): canon(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [canon(v) for v in obj]
    return obj


class Checks:
    """Ground-truth check results, reported by run.py."""

    def __init__(self):
        self.results: list[dict] = []

    def expect(self, name: str, ok: bool, detail="") -> None:
        self.results.append({"check": name, "ok": bool(ok),
                             "detail": str(detail)[:300]})


@contextlib.contextmanager
def captured_validation():
    """Keep the ValidationResult that ``run_validation.main`` builds, so
    its (already cached) verdict rows can be read after the call without
    another pass over the table."""
    import schema_guru_spark.pipeline as pipeline
    orig, box = pipeline.validate_repo_table, {}

    def wrapper(*a, **kw):
        box["result"] = orig(*a, **kw)
        return box["result"]

    pipeline.validate_repo_table = wrapper
    try:
        yield box
    finally:
        pipeline.validate_repo_table = orig


def verdict_rows(df) -> list[dict]:
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda r: r["bucket"])


def quiet_call(fn, *a, **kw):
    with contextlib.redirect_stdout(sys.stderr):
        return fn(*a, **kw)


def new_session(cpus: int):
    from schema_guru_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------- json-skew workload

class TableWorkload:
    """The validation job as users submit it, on a parquet table."""

    name = "json-skew"

    def __init__(self, args, tracer, checks):
        self.args, self.tracer, self.checks = args, tracer, checks

    def prepare(self, spark) -> None:
        self.meta = gen.json_skew(spark, self.args.cache, self.args.work,
                                  self.args.seed, self.args.scale)

    def job(self, spark, table: str, cpus: int, name: str) -> dict:
        from schema_guru_spark import run_validation
        argv = ["--input", table, "--cpus", str(cpus),
                "--buckets", str(N_BUCKETS), "--salts", str(N_SALTS),
                "--max-err-rate", str(MAX_ERR)]
        with captured_validation() as box, \
                self.tracer.span(name, cpus=cpus) as sp:
            rep = quiet_call(run_validation.main, argv)
        with self.tracer.span("checks.verdict_rows"):
            rows = verdict_rows(box["result"].verdicts)   # cached, tiny
        spark.catalog.clearCache()   # the next job must not read caches
        return {"wall_s": sp["wall_s"], "rep": rep, "verdicts": rows,
                "verdict_digest": digest(rows),
                "failing": sorted(r["bucket"] for r in rows
                                  if not r["passed"]),
                "constraints_digest": digest(canon(rep["constraints"])),
                "span": sp}

    def warm(self, spark, cpus: int) -> None:
        self.job(spark, self.meta["slice"], cpus, "setup.warm")

    def units(self, seconds: float) -> int:
        return max(5, round(seconds / 3))

    def timed(self, spark, cpus: int, n: int) -> dict:
        runs = [self.job(spark, self.meta["table"], cpus,
                         f"job.validation@{cpus}cpu") for _ in range(n)]
        walls = [r["wall_s"] for r in runs]
        med = statistics.median(walls)
        rows = runs[0]["rep"]["rows"]
        digests = sorted({r["verdict_digest"] for r in runs})
        constraints = sorted({r["constraints_digest"] for r in runs})
        self.checks.expect(f"identical verdicts across jobs @{cpus}cpu",
                           len(digests) == 1, digests)
        self.checks.expect(f"identical constraints across jobs @{cpus}cpu",
                           len(constraints) == 1, constraints)
        return {"walls": walls, "files_per_sec": rows / med,
                "runs": runs,
                "digests": digests, "constraints": constraints,
                "exec_s": statistics.median(
                    r["span"].get("executor_run_s", 0.0) for r in runs)}

    def check(self, spark, leg: dict) -> None:
        import duckdb
        from pyspark.sql import functions as F

        from schema_guru_spark.pipeline import bucket_expr
        m, c = self.meta, self.checks
        rep = leg["runs"][0]["rep"]
        c.expect("rows", rep["rows"] == m["rows"], rep["rows"])
        c.expect("sha_bad == planted", rep["sha_bad"] == m["corrupt_shas"],
                 f"{rep['sha_bad']} vs {m['corrupt_shas']}")
        n_exact = rep["constraints"]["n_exact_distinct"]
        c.expect("n_exact_distinct == rows - dup_keys",
                 n_exact == m["rows"] - m["dup_keys"],
                 f"{n_exact} vs {m['rows'] - m['dup_keys']}")
        # the planted rows are file indexes [lo, hi) (repo_table.py)
        hi = m["rows"] - m["dup_keys"]
        lo = hi - m["corrupt_shas"]
        k = F.regexp_extract("path", r"file_(\d+)\.", 1).cast("long")
        planted = {r["b"] for r in spark.read.parquet(m["table"])
                   .where((k >= lo) & (k < hi))
                   .select(bucket_expr(N_BUCKETS, N_SALTS).alias("b"))
                   .distinct().collect()}
        rows = leg["runs"][0]["verdicts"]
        sha_bad = {r["bucket"] for r in rows if r["n_sha_bad"]}
        c.expect("sha-bad buckets == buckets of planted rows",
                 sha_bad == planted, f"{sorted(sha_bad)} vs {sorted(planted)}")
        # the verdict rule: any sha/lang violation, or a JSON error rate
        # above MAX_ERR, fails the bucket (the ~1% parse dirt crosses 2%
        # in a few small buckets, so failing is a superset of sha-bad)
        rule = {r["bucket"] for r in rows
                if r["n_sha_bad"] or r["n_lang_bad"]
                or r["n_json_err"] > MAX_ERR * (r["n_json_ok"]
                                                + r["n_json_err"])}
        c.expect("failing buckets == verdict rule",
                 set(leg["runs"][0]["failing"]) == rule,
                 f"{leg['runs'][0]['failing']} vs {sorted(rule)}")
        n_bad = duckdb.sql(
            "SELECT count(*) FROM read_parquet('%s/*.parquet') "
            "WHERE lang = 'json' AND (content IS NULL "
            "OR NOT json_valid(content) "
            "OR json_type(content) NOT IN ('OBJECT', 'ARRAY'))"
            % m["table"]).fetchone()[0]
        c.expect("json_err == duckdb invalid-json count",
                 rep["json_err"] == n_bad, f"{rep['json_err']} vs {n_bad}")

    def summary(self, leg: dict, n: int) -> dict:
        return {"digests": leg["digests"], "constraints": leg["constraints"]}

    def table_df(self, spark):
        return spark.read.parquet(self.meta["table"])

    def table_path(self) -> str:
        return self.meta["table"]


# --------------------------------------------------- append-stream workload

class StreamWorkload:
    """Appends committed one by one, each followed by an incremental
    validation against one checkpoint."""

    name = "append-stream"

    def __init__(self, args, tracer, checks, scale=None):
        self.args, self.tracer, self.checks = args, tracer, checks
        self.scale = scale or args.scale

    def prepare(self, spark) -> None:
        self.meta = gen.append_stream(spark, self.args.cache, self.args.seed,
                                      self.scale)
        self.append_rows = self.meta.pop("appends")

    def units(self, seconds: float) -> int:
        return max(3, min(len(self.append_rows), round(seconds / 4)))

    def _validate(self, spark, table, ckpt, name):
        from schema_guru_spark.plans.incremental import incremental_validate
        with self.tracer.span(name) as sp:
            rep = incremental_validate(spark, table, ckpt,
                                       n_buckets=N_BUCKETS, n_salts=N_SALTS,
                                       max_err_rate=MAX_ERR)
        spark.catalog.clearCache()
        return rep, sp

    def _baseline(self, spark, table, base_files, ckpt, name):
        """Restore ``table`` to its base and give ``ckpt`` the baseline
        validation of it: validated (and saved) the first time, copied
        from the saved one after that, so the 1-CPU leg starts from the
        byte-same history without paying for the base again."""
        import shutil
        gen.restore_base(table, base_files)
        shutil.rmtree(ckpt, ignore_errors=True)
        saved = os.path.join(self.args.work, "baseline-" +
                             os.path.basename(os.path.dirname(table)) +
                             "-" + os.path.basename(table))
        if os.path.isdir(saved):
            shutil.copytree(saved, ckpt)
            return None, None
        rep, sp = self._validate(spark, table, ckpt, name)
        shutil.copytree(ckpt, saved)
        return rep, sp

    def warm(self, spark, cpus: int) -> None:
        """One append + incremental validation on the slice table (plus
        its baseline, the first time): every code path of the timed
        chain, at a few thousand rows."""
        from schema_guru_spark.sources.iceberg_meta import append_snapshot
        m = self.meta
        ckpt = os.path.join(self.args.work, f"warm-{self.scale}-{cpus}")
        with self.tracer.span("setup.warm"):
            self._baseline(spark, m["slice"], m["slice_files"], ckpt,
                           "setup.warm.base")
            append_snapshot(m["slice"], gen.append_rows(m["slice_append"]),
                            gen.ICEBERG_SCHEMA, partition_by="lang")
            self._validate(spark, m["slice"], ckpt, "setup.warm.append")

    def begin(self, spark, cpus: int, name: str) -> dict:
        """Restore the base table and give a fresh checkpoint its
        baseline (the history every append is validated against)."""
        ckpt = os.path.join(self.args.work, f"ckpt-{self.scale}-{cpus}")
        rep, sp = self._baseline(spark, self.meta["table"],
                                 self.meta["base_files"], ckpt, name)
        if rep is not None:
            self.checks.expect("baseline rows",
                               rep["cumulative"]["rows"] ==
                               self.meta["base_rows"],
                               rep["cumulative"]["rows"])
        return {"ckpt": ckpt, "base_s": sp["wall_s"] if sp else None}

    def timed(self, spark, cpus: int, state: dict, n: int) -> dict:
        from schema_guru_spark.plans.incremental import cumulative_report
        from schema_guru_spark.sources.iceberg_meta import append_snapshot
        walls, commits, digests, runs, cum_s = [], [], [], [], []
        expect = self.meta["base_rows"]
        for j, rows in enumerate(self.append_rows[:n]):
            with self.tracer.span(f"sources.append_commit@{cpus}cpu") as sp:
                append_snapshot(self.meta["table"], rows, gen.ICEBERG_SCHEMA,
                                partition_by="lang")
            commits.append(sp["wall_s"])
            rep, sp = self._validate(spark, self.meta["table"], state["ckpt"],
                                     f"job.append_validate@{cpus}cpu")
            walls.append(sp["wall_s"])
            runs.append({"rep": rep, "span": sp})
            if self.tracer.enabled and j in (0, n - 1):
                # the driver-side cumulative merge alone, after the first
                # and the last append (it also runs inside every
                # incremental_validate)
                with self.tracer.span("incremental.cumulative_report") as cr:
                    cumulative_report(spark, state["ckpt"],
                                      max_err_rate=MAX_ERR)
                cum_s.append(cr["wall_s"])
            expect += len(rows)
            cum = rep["cumulative"]
            ok = (rep["mode"] == "incremental"
                  and rep["delta"]["rows"] == len(rows)
                  and cum["rows"] == expect and cum["n_deltas"] == j + 2
                  and cum["uniqueness"].get("uniq_ok") is True)
            self.checks.expect(f"append {j} accounted @{cpus}cpu", ok,
                               {"mode": rep["mode"],
                                "delta": rep["delta"]["rows"],
                                "cum": cum["rows"], "expect": expect})
            digests.append(digest(canon(cum)))
        med = statistics.median(walls)
        return {"walls": walls, "commit_walls": commits,
                "cumulative_report_walls": cum_s,
                "files_per_sec": len(self.append_rows[0]) / med,
                "runs": runs,
                "digests": digests, "base_s": state["base_s"],
                "ckpt": state["ckpt"],
                "exec_s": statistics.median(
                    r["span"].get("executor_run_s", 0.0) for r in runs)}

    def check(self, spark, leg: dict) -> None:
        """The final cumulative view must equal a from-scratch
        validation of the last snapshot, and its JSON error count an
        independent DuckDB count over the live data files."""
        import duckdb

        from schema_guru_spark.pipeline import validate_repo_table
        from schema_guru_spark.sources.iceberg_meta import (plan_scan,
                                                            read_iceberg)
        cum = leg["runs"][-1]["rep"]["cumulative"]
        res = validate_repo_table(spark, read_iceberg(spark,
                                                      self.meta["table"]),
                                  n_buckets=N_BUCKETS, n_salts=N_SALTS,
                                  max_err_rate=MAX_ERR)
        rows = verdict_rows(res.verdicts)
        spark.catalog.clearCache()
        scratch = {k: sum(r[f"n_{k}"] for r in rows)
                   for k in ("rows", "json_ok", "json_err", "sha_bad",
                             "lang_bad")}
        got = {k: cum[k] for k in scratch}
        self.checks.expect("cumulative counters == from-scratch",
                           got == scratch, f"{got} vs {scratch}")
        self.checks.expect(
            "cumulative verdicts == from-scratch",
            cum["buckets_passed"] == sum(r["passed"] for r in rows)
            and cum["buckets"] == len(rows),
            f"{cum['buckets_passed']}/{cum['buckets']} vs "
            f"{sum(r['passed'] for r in rows)}/{len(rows)}")
        bad = [r["bucket"] for r in rows
               if json.dumps(cum["bucket_schemas"].get(r["bucket"]),
                             sort_keys=True) != r["schema"]]
        self.checks.expect("cumulative bucket schemas == from-scratch",
                           not bad and
                           len(cum["bucket_schemas"]) == len(rows), bad)
        files = [f.path.replace("file://", "")
                 for f in plan_scan(self.meta["table"]).data]
        n_bad = duckdb.execute(
            "SELECT count(*) FROM read_parquet(?) WHERE lang = 'json' "
            "AND (content IS NULL OR NOT json_valid(content) "
            "OR json_type(content) NOT IN ('OBJECT', 'ARRAY'))",
            [files]).fetchone()[0]
        self.checks.expect("json_err == duckdb invalid-json count",
                           cum["json_err"] == n_bad,
                           f"{cum['json_err']} vs {n_bad}")

    def summary(self, leg: dict, n: int) -> dict:
        """Cumulative views after each of the first ``n`` appends."""
        return {"digests": leg["digests"][:n]}

    def table_df(self, spark):
        from schema_guru_spark.sources.iceberg_meta import read_iceberg
        return read_iceberg(spark, self.meta["table"])

    def table_path(self) -> str:
        return self.meta["table"]


WORKLOADS = {w.name: w for w in (TableWorkload, StreamWorkload)}


# ------------------------------------------------------------------- legs

def run_leg(w, spark, cpus: int, n: int) -> dict:
    """Pin the tree to ``cpus`` CPUs and run one timed leg of ``n``
    units (jobs, or appends of the chain)."""
    allowed = sorted(os.sched_getaffinity(0))
    # the 1-CPU leg takes the last CPU; run.py's sampler sits on the first
    pin_tree(set(allowed[-cpus:]))
    if w.name == "append-stream":
        state = w.begin(spark, cpus, f"incremental.base_validate@{cpus}cpu")
        leg = w.timed(spark, cpus, state, n)
    else:
        leg = w.timed(spark, cpus, n)
    return leg


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="wall clock at which the run spawned this process")
    ap.add_argument("--scale", default="full", choices=sorted(gen.SIZES))
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args(argv)
    os.makedirs(args.work, exist_ok=True)

    tracer, checks = Tracer(enabled=bool(args.trace)), Checks()
    w = WORKLOADS[args.workload](args, tracer, checks)
    out: dict = {"workload": args.workload, "seed": args.seed}

    all_cpus = os.sched_getaffinity(0)
    with tracer.span("session.get_spark") as sp:
        spark = new_session(4)
    out["get_spark_s"] = sp["wall_s"]
    tracer.bind(spark)
    booted = time.time() - args.t0
    with tracer.span("gen"):
        w.prepare(spark)
    with tracer.span("setup") as sp:
        w.warm(spark, 4)
    # process start -> first timed call, minus input generation
    out["setup_s"] = booted + sp["wall_s"]

    # a fixed number of units per --seconds (~3 s per job, ~4 s per
    # append at 4 CPUs), so every run does identical work; the traced
    # run needs only enough for its spans (3, as its 1-CPU leg)
    leg4 = run_leg(w, spark, 4, 3 if args.trace else w.units(args.seconds))
    with tracer.span("checks"):
        w.check(spark, leg4)
    out.update({"files_per_sec": leg4["files_per_sec"],
                "walls_4": leg4["walls"]})
    if w.name == "append-stream":
        out.update(base_validate_s=leg4["base_s"],
                   commit_walls=leg4["commit_walls"])

    if args.trace:
        import probes as P
        out["probes"] = P.run_all(w, spark, tracer, leg4, StreamWorkload)
        out["coverage_4"] = tracer.coverage()
        # the 1-CPU leg: same JVM, fresh local[1] context warmed on the
        # slice with every CPU allowed, then the tree pinned to 1 CPU
        t = time.perf_counter()
        spark.stop()
        pin_tree(all_cpus)
        spark = new_session(1)
        tracer.bind(spark)
        w.warm(spark, 1)
        out["setup_1cpu_s"] = time.perf_counter() - t
        leg1 = run_leg(w, spark, 1, 3)
        n = len(leg1["walls"])
        checks.expect("1-CPU leg == 4-CPU leg (verdict rows, constraint "
                      "results / cumulative views)",
                      w.summary(leg1, n) == w.summary(leg4, n))
        out.update({"files_per_sec_n1": leg1["files_per_sec"],
                    "walls_1": leg1["walls"],
                    "exec_s_4": leg4["exec_s"], "exec_s_1": leg1["exec_s"],
                    "coverage_1": tracer.coverage()})
    out["checks"] = checks.results
    tracer.dump(args.spans)
    with open(args.out, "w") as fh:
        json.dump(out, fh, sort_keys=True, default=str)
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # skip the JVM's orderly shutdown: run.py kills and reaps the whole
    # process tree once the result file is written
    os._exit(rc)
