"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(workload, seed, scale)``: the same
seed always yields byte-identical tables. Inputs that do not depend on
the seed (warm-up slices, the append-stream base table) are cached in
the checkout; the seeded ones are rebuilt by every run, after
``get_spark`` and before the warm-up, so every run's JVM has done the
same work when its set-up ends. Generation time is excluded from
``setup_s`` and from every timed section.

Ground truth planted here (exact counts, read back by the checks):

  json-skew      ``corrupt_shas`` rows carry a wrong ``content_sha``;
                 ``dup_keys`` rows repeat an earlier (repo, path, commit)
  append-stream  an Iceberg v2 table (partitioned by lang) holding the
                 base rows (the same for every seed), plus the seed's
                 ``n_appends`` batches of append rows, committed one by
                 one by the run
"""

from __future__ import annotations

import json
import os
import shutil

# rows per workload and scale; "full" is what a run measures, "tiny"
# is the smoke test's size (same code paths, seconds instead of minutes)
SIZES = {
    "full": {"json_rows": 80_000, "slice_rows": 10_000,
             "base_rows": 100_000, "append_rows": 10_000, "n_appends": 5},
    "tiny": {"json_rows": 6_000, "slice_rows": 1_000,
             "base_rows": 4_000, "append_rows": 1_000, "n_appends": 3},
}

ICEBERG_SCHEMA = [("repo", "string"), ("path", "string"),
                  ("commit", "string"), ("lang", "string"),
                  ("content", "string"), ("content_sha", "string")]
COLS = [c for c, _ in ICEBERG_SCHEMA]


def planted(seed: int) -> dict:
    """Seed-dependent planted counts (small, exact, never zero)."""
    return {"corrupt_shas": 3 + seed % 5, "dup_keys": 7 + seed % 11}


def gen_seed(seed: int) -> int:
    # the synthesizer's hash seed; offset so seed 0 differs from the
    # repo's own default fixture (seed 42)
    return 1000 + seed


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_BENCH_DONE"))


def _mark(path: str, meta: dict) -> None:
    with open(os.path.join(path, "_BENCH_DONE"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "_BENCH_DONE")) as fh:
        return json.load(fh)


def _rows(spark, n: int, seed: int) -> list[dict]:
    from schema_guru_spark.sources.repo_table import synthesize_repo_table
    df = synthesize_repo_table(spark, n, seed=seed)
    return [r.asDict() for r in df.select(*COLS).collect()]


def json_skew(spark, cache: str, work: str, seed: int, scale: str) -> dict:
    """The default synthetic mix (40% JSON, each doc distinct, ~1%
    truncated; 30% of rows in one mega-repo) with planted sha
    mismatches and duplicate keys, written into the run's ``work`` dir,
    plus a small warm-up slice of the same mix (the same for every
    seed, cached)."""
    from schema_guru_spark.sources.repo_table import write_repo_table

    size, plant = SIZES[scale], planted(seed)
    slice_ = os.path.join(cache, f"json-skew-slice-{scale}")
    if not _done(slice_):
        shutil.rmtree(slice_, ignore_errors=True)
        write_repo_table(spark, slice_, size["slice_rows"], seed=7)
        _mark(slice_, {})
    table = os.path.join(work, "table")
    write_repo_table(spark, table, size["json_rows"], seed=gen_seed(seed),
                     **plant)
    return {"table": table, "slice": slice_, "rows": size["json_rows"],
            **plant}


def append_stream(spark, cache: str, seed: int, scale: str) -> dict:
    """Base Iceberg table + the seed's append batches (row lists). The
    base (and the warm-up slice) is the same for every seed and cached;
    the seed picks the appended rows. The base is committed in
    chunks (one snapshot each); the run restores the table to this base
    before every leg, so each leg replays the same append chain."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from schema_guru_spark.sources.iceberg_meta import append_snapshot

    size = SIZES[scale]
    base_root = os.path.join(cache, f"append-stream-base-{scale}")
    if not _done(base_root):
        shutil.rmtree(base_root, ignore_errors=True)
        os.makedirs(base_root)
        table = os.path.join(base_root, "table")
        chunk, done, i, snap = 50_000, 0, 0, None
        while done < size["base_rows"]:
            take = min(chunk, size["base_rows"] - done)
            snap = append_snapshot(table, _rows(spark, take, 7_000 + i),
                                   ICEBERG_SCHEMA, partition_by="lang")
            done, i = done + take, i + 1
        # warm-up slice: a one-snapshot table plus one append batch
        slice_ = os.path.join(base_root, "slice")
        append_snapshot(slice_, _rows(spark, size["slice_rows"], 7_900),
                        ICEBERG_SCHEMA, partition_by="lang")
        slice_append = os.path.join(base_root, "slice-append.parquet")
        pq.write_table(pa.Table.from_pylist(
            _rows(spark, size["slice_rows"] // 4, 7_901)), slice_append)
        _mark(base_root, {
            "table": table, "base_rows": size["base_rows"],
            "base_snapshot": snap, "base_files": sorted(_listing(table)),
            "slice": slice_, "slice_append": slice_append,
            "slice_files": sorted(_listing(slice_))})
    meta = _read_meta(base_root)
    meta["appends"] = [_rows(spark, size["append_rows"],
                             gen_seed(seed) * 100 + j)
                       for j in range(size["n_appends"])]
    return meta


def _listing(table: str) -> set:
    out = set()
    for d, _, files in os.walk(table):
        for f in files:
            out.add(os.path.relpath(os.path.join(d, f), table))
    return out


def restore_base(table: str, base_files: list) -> None:
    """Roll a cached Iceberg table back to its base snapshot: delete
    every file a previous leg's appends added and point the version
    hint back at the base metadata (manifests hold absolute paths, so
    the table is restored in place rather than copied)."""
    base = set(base_files)
    for rel in _listing(table) - base:
        os.remove(os.path.join(table, rel))
    versions = [int(f[1:-len(".metadata.json")])
                for f in os.listdir(os.path.join(table, "metadata"))
                if f.startswith("v") and f.endswith(".metadata.json")]
    with open(os.path.join(table, "metadata", "version-hint.text"),
              "w") as fh:
        fh.write(str(max(versions)))


def append_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq
    return pq.read_table(path).to_pylist()
