"""Benchmark entry point: one run of one workload, one JSON summary line.

    python3 perfbench/run.py --workload json-skew --seed 1 --seconds 24 --trace 0

Run from the root of a checkout of the repository. The run:

  * refuses to start on a busy host (CPU already in use by others);
  * starts ``leg.py`` as its own session, samples the summed RSS of that
    process tree (driver, JVM, Python workers) from /proc, and reaps
    every process of the tree when it ends;
  * prints, as the last line of stdout, one compact JSON object with
    ``correct``, ``attempted``, ``failed`` and ``metrics`` (every metric
    by name, value and unit): the end-to-end metrics with ``--trace 0``,
    the per-layer metrics with ``--trace 1``.

``attempted`` and ``failed`` count the ground-truth checks (README.md).
Inputs, logs and span files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("json-skew", "append-stream")
RUN_LIMIT_S = 160          # the leg is killed past this; the run fails
BUSY_CORES_LIMIT = 1.5     # CPUs already busy before the run starts
PAGE = os.sysconf("SC_PAGE_SIZE")
ALL_CPUS = os.sched_getaffinity(0)

sys.path.insert(0, HERE)
from leg import tree_pids  # noqa: E402


def cpu_busy_cores(interval: float = 1.0) -> float:
    """CPUs busy over ``interval`` seconds, from /proc/stat."""
    def sample():
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[3] + v[4], sum(v)   # idle + iowait, total
    i0, t0 = sample()
    time.sleep(interval)
    i1, t1 = sample()
    frac = 1.0 - (i1 - i0) / max(t1 - t0, 1)
    return frac * (os.cpu_count() or 1)


def contention_guard() -> float:
    """Wait up to ~10 s for an idle host; refuse to measure otherwise."""
    for _ in range(10):
        busy = cpu_busy_cores()
        if busy <= BUSY_CORES_LIMIT:
            return busy
    print(f"host busy: {busy:.2f} CPUs in use before the run started "
          f"(limit {BUSY_CORES_LIMIT}); refusing to measure",
          file=sys.stderr)
    sys.exit(3)


def _start_time(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class TreeWatch(threading.Thread):
    """Samples the summed RSS of a process tree and remembers every
    process it saw, so the tree can be reaped after its root exits."""

    def __init__(self, root: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.peak = 0
        self.seen: dict[int, str] = {}
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = tree_pids(self.root)
            for p in pids:
                if p not in self.seen:
                    st = _start_time(p)
                    if st is not None:
                        self.seen[p] = st
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def reap(watch: TreeWatch, leader: int) -> None:
    """Kill what is left of the tree (orphans re-parented away from it
    are found by their remembered start time) and wait until it is
    gone."""
    try:
        os.killpg(leader, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p, st in watch.seen.items()
                 if p != os.getpid() and _start_time(p) == st]
        if not alive:
            return
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_leg(args, paths: dict) -> tuple[dict, int]:
    env = dict(os.environ)
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONUNBUFFERED": "1",
    })
    # the program's own heap knob (session.py): 1g holds these inputs
    # with room to spare, keeps the run small on a shared host, and the
    # heap reaches its cap early in a run, so the peak RSS does not
    # depend on how far a larger heap happened to grow
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    cmd = [sys.executable, os.path.join(HERE, "leg.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scale", args.scale, "--cache", paths["cache"],
           "--work", paths["work"], "--out", paths["out"],
           "--spans", paths["spans"]]
    log_path = paths["log"]
    with open(log_path, "w") as log:
        os.sched_setaffinity(0, ALL_CPUS)   # the leg starts unpinned
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=ROOT, env=env,
                                stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        # keep this process (and its sampler thread) off the CPU the
        # 1-CPU leg is pinned to (the last one)
        os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
        watch = TreeWatch(proc.pid)
        watch.start()
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = -1
        finally:
            watch.stop()
            reap(watch, proc.pid)
            if proc.poll() is None:
                proc.wait()
    if rc != 0 or not os.path.exists(paths["out"]):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        print(f"leg failed (exit {rc}); log {log_path}:\n{tail}",
              file=sys.stderr)
        sys.exit(1)
    with open(paths["out"]) as fh:
        return json.load(fh), watch.peak


def end_to_end(res: dict, peak_rss: int) -> dict:
    return {"files_per_sec": res["files_per_sec"], "setup_s": res["setup_s"],
            "peak_rss_mb": peak_rss / 2**20}


def per_layer(res: dict, load0: float, load1: float) -> dict:
    return {**res["probes"],
            "session.get_spark_s": res["get_spark_s"],
            "session.setup_1cpu_s": res["setup_1cpu_s"],
            "host.files_per_sec_n1": res["files_per_sec_n1"],
            "host.scaling_eff": (res["files_per_sec"]
                                 / (4 * res["files_per_sec_n1"])),
            "host.task_time_inflation": res["exec_s_4"] / res["exec_s_1"],
            "host.loadavg_1m_start": load0,
            "host.loadavg_1m_end": load1,
            "host.nproc": os.cpu_count(),
            "trace.coverage": min(res["coverage_4"], res["coverage_1"])}


def named(values: dict, key: str) -> dict:
    """Every metric BENCHMARK.json lists under ``key``, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[key]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "schema_guru_spark",
                                       "run_validation.py")):
        print(f"no schema_guru_spark package under {ROOT}: run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2

    contention_guard()
    load0 = os.getloadavg()[0]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    paths = {d: os.path.join(STATE, d) for d in
             ("cache", "work", "logs", "spans")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    paths.update(work=os.path.join(paths["work"], tag),
                 out=os.path.join(paths["work"], tag + ".json"),
                 log=os.path.join(paths["logs"], tag + ".log"),
                 spans=os.path.join(paths["spans"], tag + ".jsonl"))
    shutil.rmtree(paths["work"], ignore_errors=True)
    if os.path.exists(paths["out"]):
        os.remove(paths["out"])
    res, peak = run_leg(args, paths)
    load1 = os.getloadavg()[0]

    checks = res["checks"]
    failed = [c for c in checks if not c["ok"]]
    for c in failed:
        print(f"CHECK FAILED: {c['check']}: {c['detail']}", file=sys.stderr)
    metrics = (named(per_layer(res, load0, load1), "per_layer")
               if args.trace else named(end_to_end(res, peak), "end_to_end"))
    print(json.dumps({"correct": not failed, "attempted": len(checks),
                      "failed": len(failed), "metrics": metrics},
                     separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
