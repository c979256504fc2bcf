"""Pure-Python Apache Iceberg v2 metadata layer (reader + fixture writer).

The north rule names an Iceberg table of source-code repositories as
the engine's input. The iceberg-spark runtime jar is not obtainable in
this sandbox (no network), but the Iceberg *table format* is a public
specification (https://iceberg.apache.org/spec/) of JSON + Avro
metadata over parquet data files — so the parts of Iceberg the
north rule actually leans on can be exercised end-to-end without the
runtime:

  * **snapshot isolation / time travel**: pin ``snapshot_id`` and a
    resumed validation run sees EXACTLY the row set the original run
    checkpointed against, even after later appends;
  * **manifest-driven partition pruning**: a partition predicate
    eliminates data files from the manifest metadata alone — zero
    object-store listing, zero footer reads for pruned files.

  * **merge-on-read deletes**: v2 position-delete and equality-delete
    files are planned from the delete manifests and applied Spark-side
    — position deletes via an anti-join on
    ``(_metadata.file_path, _metadata.row_index)`` (Spark's parquet
    row-index IS Iceberg's ``pos`` ordinal), equality deletes via a
    null-safe anti-join on the ``equality_ids`` columns — with the
    spec's sequence-number applicability rules (position: delete.seq
    >= data.seq; equality: delete.seq > data.seq, so re-inserted rows
    survive earlier deletes).

Scope (documented, loud on violation): format-version 2; partition
pruning evaluates identity AND the spec's Appendix-B transforms —
``bucket[N]`` (32-bit Murmur3, verified against the published spec
vectors), ``truncate[W]``, ``year/month/day/hour`` — so a point
predicate on a ``bucket(16, repo)`` table opens 1/16 of the data
files; transforms/types outside that set are kept un-pruned (correct,
just less selective), never dropped. ``data_files`` (the metadata-inspection API) still raises
``NotImplementedError`` when the snapshot carries deletes, because a
caller consuming the data-file list alone would silently over-count;
``plan_scan``/``read_iceberg`` are the delete-aware surface. On a
production cluster, ``catalog.read_table`` with the iceberg-spark
runtime replaces this module entirely (same call sites); this module
is the sandbox-complete fallback and is also genuinely useful for
metadata inspection without a JVM.

Avro manifests are decoded by ``avro_ocf`` (pure Python), which is
interop-tested against the JVM Avro 1.12 implementation bundled with
Spark, so the fixture writer below is not self-certifying.

All of this is driver-side metadata work over files that the spec
sizes in megabytes; row data is read by Spark's parquet source as
usual (Iceberg data files contain ALL columns, including identity
partition columns, so a plain parquet read of the pruned file list
yields complete rows).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass
from typing import Any, Iterable, Optional

from .avro_ocf import read_ocf, write_ocf

_FIXED_TS_MS = 1723939200000  # deterministic fixture timestamp


def _strip_file_uri(p: str) -> str:
    if p.startswith("file://"):
        return p[len("file://"):]
    if p.startswith("file:"):
        return p[len("file:"):]
    return p


# ------------------------------------------------------------------ read

def _schema_by_id(meta: dict, schema_id: int) -> dict:
    for sch in meta["schemas"]:
        if sch["schema-id"] == schema_id:
            return sch
    raise LookupError(f"schema {schema_id} not in table metadata")


def _current_schema(meta: dict) -> dict:
    return _schema_by_id(meta, meta["current-schema-id"])


@dataclass
class DataFile:
    path: str
    record_count: int
    file_size_in_bytes: int
    partition: dict[str, Any]  # identity-transform fields only
    sequence_number: int = 0   # data sequence number (delete scoping)
    schema_id: int = 0         # schema the file was WRITTEN under
    #   (the adding snapshot's schema-id): a file written before a
    #   column rename carries the old physical name; the reader
    #   projects it to the current schema by FIELD ID


@dataclass
class DeleteFile:
    path: str
    content: int               # 1 = position deletes, 2 = equality
    record_count: int
    sequence_number: int
    equality_ids: list[int]    # schema field ids (content == 2 only)
    partition: dict[str, Any]
    schema_id: int = 0         # schema at write time (see DataFile)


@dataclass
class ScanPlan:
    data: list[DataFile]
    deletes: list[DeleteFile]


def _versions(mdir: str) -> list[int]:
    """The N of every ``v{N}.metadata.json`` in a metadata directory."""
    return [int(m.group(1)) for f in os.listdir(mdir)
            if (m := re.match(r"v(\d+)\.metadata\.json$", f))]


def load_table_metadata(table_path: str,
                        version: Optional[int] = None) -> dict:
    """Load ``metadata/v{N}.metadata.json`` (version-hint or latest)."""
    mdir = os.path.join(table_path, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(
            f"{table_path}: no metadata/ directory — not an Iceberg "
            "table location")
    if version is None:
        hint = os.path.join(mdir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as fh:
                version = int(fh.read().strip())
        else:
            versions = _versions(mdir)
            if not versions:
                raise FileNotFoundError(
                    f"{mdir}: no v*.metadata.json files")
            version = max(versions)
    with open(os.path.join(mdir, f"v{version}.metadata.json")) as fh:
        meta = json.load(fh)
    if meta.get("format-version") != 2:
        raise NotImplementedError(
            f"iceberg format-version {meta.get('format-version')} "
            "(only v2 is implemented)")
    return meta


def _select_snapshot(meta: dict, snapshot_id: Optional[int]) -> dict:
    snaps = meta.get("snapshots", [])
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            return {}  # empty table: no snapshot yet
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise LookupError(f"snapshot {snapshot_id} not in table metadata "
                      f"(have {[s['snapshot-id'] for s in snaps]})")


def _spec_fields(meta: dict, spec_id: int) -> list[dict]:
    """Every partition field of a spec (any transform):
    [{name, source, source_type, transform}], source names/types from
    the CURRENT schema so callers filter by today's column names even
    across renames (field ids are the stable key). Fields whose source
    column was dropped from the current schema are skipped — no
    current-schema filter can reference them, and a missing field only
    ever means 'don't prune on it', never an error."""
    cols = {f["id"]: (f["name"], f["type"])
            for sch in meta["schemas"] if sch["schema-id"] ==
            meta["current-schema-id"]
            for f in sch["fields"]}
    for spec in meta["partition-specs"]:
        if spec["spec-id"] == spec_id:
            return [{"name": f["name"],
                     "source": cols[f["source-id"]][0],
                     "source_type": cols[f["source-id"]][1],
                     "transform": f["transform"]}
                    for f in spec["fields"]
                    if f["source-id"] in cols]
    raise LookupError(f"partition spec {spec_id} not in metadata")


# ---------------------------------------------------------------------------
# Partition transforms (Iceberg spec Appendix B)
# https://iceberg.apache.org/spec/#appendix-b-32-bit-hash-requirements
# bucket[N] uses the 32-bit x86 Murmur3 hash, seed 0; int/long/date/
# time/timestamp hash their 8-byte little-endian long form, strings
# their UTF-8 bytes; bucket id = (hash & Integer.MAX_VALUE) % N.
# ---------------------------------------------------------------------------

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit x86 Murmur3 (public algorithm, Appendix B). Returns the
    UNSIGNED 32-bit value; spec vectors quoted as signed int32 compare
    via & 0xFFFFFFFF."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    body = n - n % 4
    for i in range(0, body, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[body:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


_INT_LIKE = ("int", "long", "date", "time", "timestamp", "timestamptz",
             "timestamp_ns", "timestamptz_ns")


def _bucket_hash(value: Any, ice_type: str) -> int:
    if ice_type in _INT_LIKE:
        return murmur3_32(
            int(value).to_bytes(8, "little", signed=True))
    if ice_type == "string":
        return murmur3_32(str(value).encode("utf-8"))
    if ice_type in ("binary", "fixed"):
        return murmur3_32(bytes(value))
    raise NotImplementedError(f"bucket over {ice_type}")


def transform_value(transform: str, value: Any, ice_type: str) -> Any:
    """Evaluate a partition transform on a SOURCE-column value, giving
    the partition-struct value a matching file carries (spec Partition
    Transforms table). Raises NotImplementedError for transforms/types
    outside the spec subset implemented here — pruning code treats
    that as 'not prunable', never as 'excluded'."""
    if transform == "identity":
        return _identity_value(value, ice_type)
    if value is None:
        return None
    m = re.match(r"^bucket\[(\d+)\]$", transform)
    if m:
        n = int(m.group(1))
        return (_bucket_hash(value, ice_type) & 0x7FFFFFFF) % n
    m = re.match(r"^truncate\[(\d+)\]$", transform)
    if m:
        w = int(m.group(1))
        if ice_type in ("int", "long"):
            v = int(value)
            return v - (v % w)  # Python % floors: matches v - ((v%W)+W)%W
        if ice_type == "string":
            return str(value)[:w]  # codepoint prefix
        raise NotImplementedError(f"truncate over {ice_type}")
    if transform in ("year", "month", "day", "hour"):
        return _time_transform(transform, value, ice_type)
    raise NotImplementedError(f"transform {transform}")


def _identity_value(value: Any, ice_type: str) -> Any:
    """Coerce an identity-transform value to the representation the
    partition struct STORES (spec Primitive Types: date = days from
    epoch int, timestamp = micros long), so pruning compares like with
    like — an ISO date string against stored int days used to fail raw
    equality and silently prune every file (r05 review). A value that
    cannot represent the column's type raises TypeError/ValueError,
    which the pruning caller treats as 'not prunable by this value',
    never as 'excluded'."""
    from datetime import date, datetime, timezone
    if value is None:
        return None
    if ice_type == "date":
        if isinstance(value, str):
            value = date.fromisoformat(value)
        if isinstance(value, datetime):
            raise TypeError("datetime value against a date partition")
        if isinstance(value, date):
            return (value - date(1970, 1, 1)).days
        if isinstance(value, bool) or not isinstance(value, int):
            raise TypeError(f"{type(value).__name__} against date")
        return value  # already days-from-epoch
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(value, str):
            value = datetime.fromisoformat(value.replace("Z", "+00:00"))
        if isinstance(value, datetime):
            epoch = (datetime(1970, 1, 1, tzinfo=timezone.utc)
                     if value.tzinfo else datetime(1970, 1, 1))
            return round((value - epoch).total_seconds() * 1e6)
        if isinstance(value, bool) or not isinstance(value, int):
            raise TypeError(f"{type(value).__name__} against {ice_type}")
        return value  # already micros-from-epoch
    if ice_type in ("int", "long"):
        if isinstance(value, bool) or not isinstance(value, int):
            if isinstance(value, float) and value.is_integer():
                return int(value)
            raise TypeError(f"{type(value).__name__} against {ice_type}")
        return value
    if ice_type == "string":
        if not isinstance(value, str):
            raise TypeError(f"{type(value).__name__} against string")
        return value
    if ice_type in ("float", "double"):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise TypeError(f"{type(value).__name__} against {ice_type}")
        return float(value)
    if ice_type == "boolean":
        if not isinstance(value, bool):
            raise TypeError(f"{type(value).__name__} against boolean")
        return value
    # uuid / binary / fixed / decimal: the caller must supply the exact
    # stored representation; raw equality as before
    return value


def _time_transform(transform: str, value: Any, ice_type: str) -> int:
    from datetime import date, datetime, timezone
    if ice_type == "date":
        if isinstance(value, str):
            value = date.fromisoformat(value)
        if isinstance(value, date) and not isinstance(value, datetime):
            days = (value - date(1970, 1, 1)).days
        else:
            days = int(value)  # already days-from-epoch
        dt = date(1970, 1, 1).fromordinal(
            date(1970, 1, 1).toordinal() + days)
        if transform == "day":
            return days
        if transform == "month":
            return (dt.year - 1970) * 12 + (dt.month - 1)
        if transform == "year":
            return dt.year - 1970
        raise NotImplementedError("hour over date")
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(value, str):
            value = datetime.fromisoformat(value.replace("Z", "+00:00"))
        if isinstance(value, datetime):
            epoch = (datetime(1970, 1, 1, tzinfo=timezone.utc)
                     if value.tzinfo else datetime(1970, 1, 1))
            micros = round((value - epoch).total_seconds() * 1e6)
        else:
            micros = int(value)  # already micros-from-epoch
        if transform == "hour":
            return micros // 3_600_000_000
        days = micros // 86_400_000_000
        if transform == "day":
            return days
        return _time_transform(transform, days, "date")
    raise NotImplementedError(f"{transform} over {ice_type}")


# a partition_filter value of one of these types allows each of its
# members; any other value is the one allowed value
_VALUE_SETS = (list, tuple, set, frozenset)


def _allowed_values(want: Any) -> list:
    """The values a ``partition_filter`` entry allows (see
    ``_VALUE_SETS``): the one reading shared by file pruning here, the
    residual row filter (``catalog._residual``) and the pinned
    checkpoint parameters (``plans.incremental._run_params``)."""
    return list(want) if isinstance(want, _VALUE_SETS) else [want]


def _partition_keeps_spec(raw_part: dict[str, Any], fields: list[dict],
                          partition_filter: Optional[dict[str, Any]],
                          ) -> bool:
    """Transform-aware pruning: a file survives unless SOME partition
    field derived from a filtered source column carries a value outside
    the transform image of the allowed set. Unknown transforms/types
    (NotImplementedError) and void make the field non-prunable — kept,
    never dropped (pruning must only ever be a subset of a full scan).
    The same applies to a filter value the transform can't digest
    (ValueError/TypeError — e.g. an ISO date string against a
    bucket[N] int field): the field is simply not prunable by that
    value; Spark's residual predicate still filters the rows."""
    if not partition_filter:
        return True
    for f in fields:
        if f["source"] not in partition_filter or \
                f["name"] not in raw_part:
            continue
        if f["transform"] == "void":
            continue  # every row maps to null: carries no information
        try:
            image = {transform_value(f["transform"], v, f["source_type"])
                     for v in _allowed_values(partition_filter[f["source"]])}
        except (NotImplementedError, ValueError, TypeError):
            continue
        if raw_part[f["name"]] not in image:
            return False
    return True


def _plan_manifests(table_path: str, meta: dict, manifests: Iterable[dict],
                    partition_filter: Optional[dict[str, Any]],
                    added_only: bool) -> ScanPlan:
    """Turn the entries of ``manifests`` into the data and delete files
    they list, pruned by ``partition_filter`` — the one manifest-entry
    decoder behind ``plan_scan`` and ``plan_incremental``.

    ``added_only`` keeps only the ADDED entries of each manifest's own
    snapshot (an incremental window); otherwise every entry that is not
    DELETED is live. Each file carries its inherited sequence number,
    its identity partition values and the schema it was WRITTEN under
    (the adding snapshot's schema-id, which resolves renamed columns by
    field id at read time)."""
    snap_schema = {s["snapshot-id"]: s.get("schema-id",
                                           meta["current-schema-id"])
                   for s in meta.get("snapshots", [])}
    data: list[DataFile] = []
    deletes: list[DeleteFile] = []
    # per-spec lookups hoisted out of the manifest loop: thousands of
    # manifests typically share one or two spec ids, and rebuilding the
    # current-schema column map per manifest is O(manifests x schema)
    # on the metadata-planning hot path
    spec_cache: dict[int, tuple[list, dict]] = {}
    for mf in manifests:
        spec_id = mf["partition_spec_id"]
        if spec_id not in spec_cache:
            fields = _spec_fields(meta, spec_id)
            spec_cache[spec_id] = (fields, {
                f["name"]: f["source"] for f in fields
                if f["transform"] == "identity"})
        fields, ident = spec_cache[spec_id]
        _, entries = read_ocf(_strip_file_uri(mf["manifest_path"]))
        for e in entries:
            if added_only:
                # an entry's snapshot_id, when present, must be the
                # manifest's adding snapshot; when null it inherits it
                if e["status"] != 1 or e.get("snapshot_id") not in (
                        None, mf["added_snapshot_id"]):
                    continue
            elif e["status"] == 2:  # DELETED
                continue
            df = e["data_file"]
            # sequence-number inheritance (spec): an ADDED entry with a
            # null sequence number inherits the manifest's
            seq = e.get("sequence_number")
            if seq is None:
                seq = mf.get("sequence_number", 0)
            part = {ident[k]: v for k, v in df["partition"].items()
                    if k in ident}
            # _partition_keeps_spec subsumes the identity-only check:
            # transform_value('identity', v) coerces the filter value
            # to the stored representation (_identity_value)
            if not _partition_keeps_spec(df["partition"], fields,
                                         partition_filter):
                continue
            content = df.get("content", 0)
            added_by = e.get("snapshot_id")
            if added_by is None:
                added_by = mf.get("added_snapshot_id")
            if added_by in snap_schema:
                file_schema = snap_schema[added_by]
            elif len(meta.get("schemas", [])) <= 1:
                # adding snapshot expired, but the table has only ever
                # had one schema — the default is provably right
                file_schema = meta["current-schema-id"]
            else:
                # The adding snapshot has been expired out of
                # meta['snapshots'] AND the table has evolved schemas.
                # Defaulting to the CURRENT schema would silently
                # mis-project files that predate a rename (post-rename
                # names selected from pre-rename parquet:
                # AnalysisException at best, silent nulls mixed with
                # newer files at worst) — fail loud, like
                # _ancestors_between does for expired parents.
                raise LookupError(
                    f"{table_path}: data file {df['file_path']!r} was "
                    f"added by snapshot {added_by}, which is no longer "
                    "in the table metadata's snapshot list (expired "
                    "history), and the table has multiple schemas — "
                    "its write-time schema id cannot be resolved for "
                    "field-id projection. Compact/rewrite the table, "
                    "or read it with a runtime that records per-file "
                    "schema ids.")
            if mf.get("content", 0) == 0:
                if content != 0:
                    raise ValueError(
                        f"{mf['manifest_path']}: delete file in a DATA "
                        "manifest — corrupt metadata")
                data.append(DataFile(
                    path=_strip_file_uri(df["file_path"]),
                    record_count=df["record_count"],
                    file_size_in_bytes=df["file_size_in_bytes"],
                    partition=part, sequence_number=seq,
                    schema_id=file_schema))
            else:
                if content not in (1, 2):
                    raise ValueError(
                        f"{mf['manifest_path']}: data file in a DELETE "
                        "manifest — corrupt metadata")
                deletes.append(DeleteFile(
                    path=_strip_file_uri(df["file_path"]),
                    content=content,
                    record_count=df["record_count"],
                    sequence_number=seq,
                    equality_ids=list(df.get("equality_ids") or []),
                    partition=part, schema_id=file_schema))
    return ScanPlan(data, deletes)


def plan_scan(table_path: str, snapshot_id: Optional[int] = None,
              partition_filter: Optional[dict[str, Any]] = None,
              ) -> ScanPlan:
    """Resolve a snapshot to its live data files AND the delete files
    that apply to them, pruning by partition values before any file is
    touched.

    ``partition_filter`` maps source column name -> value or list of
    values. It only prunes FILES: the rows of a kept file are not
    filtered, and a column that is not a partition source of a
    manifest's spec does not prune that manifest's files at all.
    ``catalog.read_table`` is the row-exact entry point (it adds the
    residual row filter). Delete files are pruned by the same partition
    predicate: a delete file can only reference rows of its own
    partition (position deletes name data files explicitly; equality
    deletes in a partitioned spec apply within their partition per the
    spec).
    """
    return _plan_scan(table_path, load_table_metadata(table_path),
                      snapshot_id, partition_filter)


def _plan_scan(table_path: str, meta: dict, snapshot_id: Optional[int],
               partition_filter: Optional[dict[str, Any]]) -> ScanPlan:
    snap = _select_snapshot(meta, snapshot_id)
    if not snap:
        return ScanPlan([], [])
    _, manifests = read_ocf(_strip_file_uri(snap["manifest-list"]))
    plan = _plan_manifests(table_path, meta, manifests, partition_filter,
                           added_only=False)
    if plan.deletes:
        # keep only deletes that can affect a surviving data file
        min_data_seq = min((d.sequence_number for d in plan.data),
                           default=0)
        plan.deletes = [d for d in plan.deletes
                        if (d.sequence_number >= min_data_seq
                            if d.content == 1
                            else d.sequence_number > min_data_seq)]
    return plan


def _ancestors_between(meta: dict, from_snapshot_id: int,
                       to_snapshot_id: int) -> list[dict]:
    """Snapshots strictly after ``from`` up to and including ``to``,
    oldest first, following the ``parent-snapshot-id`` chain from
    ``to``. Raises ``LookupError`` when ``from`` is not an ancestor of
    ``to`` (diverged or unrelated history — an incremental consumer
    must not silently skip or double-read commits).

    Snapshots written before this engine recorded parent ids fall back
    to the metadata's append-ordered ``snapshots`` list (our writers
    only ever produce linear history; real metadata.json preserves
    commit order too, and any snapshot that DOES carry a parent id is
    still verified against the chain).
    """
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if to_snapshot_id not in by_id:
        raise LookupError(f"snapshot {to_snapshot_id} not in table "
                          f"metadata (have {sorted(by_id)})")
    if from_snapshot_id not in by_id:
        raise LookupError(f"snapshot {from_snapshot_id} not in table "
                          f"metadata (have {sorted(by_id)})")
    chain: list[dict] = []
    cur = by_id[to_snapshot_id]
    ordered = meta.get("snapshots", [])
    while cur["snapshot-id"] != from_snapshot_id:
        chain.append(cur)
        parent = cur.get("parent-snapshot-id")
        if parent is None:
            # legacy linear fallback: the predecessor in commit order
            idx = next(i for i, s in enumerate(ordered)
                       if s["snapshot-id"] == cur["snapshot-id"])
            if idx == 0:
                raise LookupError(
                    f"snapshot {from_snapshot_id} is not an ancestor "
                    f"of {to_snapshot_id}")
            cur = ordered[idx - 1]
        else:
            if parent not in by_id:
                raise LookupError(
                    f"parent snapshot {parent} of {cur['snapshot-id']} "
                    "expired from table metadata — incremental window "
                    "too old, fall back to a full scan")
            cur = by_id[parent]
    chain.reverse()
    return chain


def plan_incremental(table_path: str, from_snapshot_id: int,
                     to_snapshot_id: Optional[int] = None,
                     partition_filter: Optional[dict[str, Any]] = None,
                     ) -> ScanPlan:
    """Plan an incremental APPEND scan: exactly the data files added by
    snapshots in ``(from, to]``, from the metadata alone.

    This is the resume-after-table-growth primitive at 10^12-file
    scale: re-validating a table after a daily append must plan only
    the appended files — never re-list, re-open, or re-read the
    petabytes already validated. Matches Iceberg's own
    ``appendsBetween`` semantics: every snapshot in the range must be
    a pure ``append`` (a delete/overwrite/replace in the window makes
    "only the new rows" ill-defined — rows also vanished), otherwise
    ``NotImplementedError`` tells the caller to fall back to a full
    scan of ``to``.

    Added files are found WITHOUT reading older manifests: only
    manifests whose ``added_snapshot_id`` is in the window are opened
    (a fast-append commit carries prior manifests forward untouched),
    and within them only status=ADDED entries of the window's
    snapshots are kept. ``partition_filter`` prunes files as in
    ``plan_scan`` and, like there, does not filter the rows of a kept
    file: ``catalog.read_table_appends`` is the row-exact entry point.
    Both ids must be in the table metadata (``LookupError`` otherwise),
    also when they are equal and the window is empty.
    """
    return _plan_incremental(table_path, load_table_metadata(table_path),
                             from_snapshot_id, to_snapshot_id,
                             partition_filter)


def _plan_incremental(table_path: str, meta: dict, from_snapshot_id: int,
                      to_snapshot_id: Optional[int],
                      partition_filter: Optional[dict[str, Any]]
                      ) -> ScanPlan:
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id")
        if to_snapshot_id in (None, -1):
            raise LookupError(f"{table_path}: empty table, no snapshot")
    window = _ancestors_between(meta, from_snapshot_id, to_snapshot_id)

    def added_manifests() -> Iterable[dict]:
        for snap in window:
            op = (snap.get("summary") or {}).get("operation", "append")
            if op != "append":
                raise NotImplementedError(
                    f"snapshot {snap['snapshot-id']} in the incremental "
                    f"window is '{op}', not 'append' — appends-between "
                    "is undefined across row-removing commits; "
                    "re-validate with a full scan of the target "
                    "snapshot")
            _, manifests = read_ocf(_strip_file_uri(snap["manifest-list"]))
            for mf in manifests:
                if mf["added_snapshot_id"] != snap["snapshot-id"]:
                    continue  # carried forward from an older commit
                if mf.get("content", 0) != 0:
                    raise NotImplementedError(
                        f"snapshot {snap['snapshot-id']} summary says "
                        "'append' but added a delete manifest — corrupt "
                        "or mislabeled metadata; full scan required")
                yield mf

    return _plan_manifests(table_path, meta, added_manifests(),
                           partition_filter, added_only=True)


def read_iceberg_incremental(spark, table_path: str,
                             from_snapshot_id: int,
                             to_snapshot_id: Optional[int] = None,
                             partition_filter: Optional[dict] = None):
    """DataFrame of the rows appended in ``(from, to]``: the
    ``read_iceberg`` read over the incrementally planned file list (no
    delete application: the window is append-only by construction, see
    ``plan_incremental``), so files written before a column rename are
    projected to the CURRENT schema by field id as there.

    ``partition_filter`` only prunes files; rows of the kept files are
    not filtered. ``catalog.read_table_appends`` is the row-exact entry
    point. The metadata is parsed once, and the plan is projected
    under the same version it was planned from."""
    meta = load_table_metadata(table_path)
    return _read_plan(spark, meta, _plan_incremental(
        table_path, meta, from_snapshot_id, to_snapshot_id,
        partition_filter))


def data_files(table_path: str, snapshot_id: Optional[int] = None,
               partition_filter: Optional[dict[str, Any]] = None,
               ) -> list[DataFile]:
    """Metadata-inspection API: live data files of a snapshot.

    Raises ``NotImplementedError`` when the snapshot carries delete
    files — a caller consuming this list alone would silently
    over-count rows. Use ``plan_scan`` (metadata) or ``read_iceberg``
    (DataFrame with deletes applied) for merge-on-read tables.
    """
    plan = plan_scan(table_path, snapshot_id, partition_filter)
    if plan.deletes:
        raise NotImplementedError(
            "delete manifests (merge-on-read): data_files() would "
            "over-count — use plan_scan()/read_iceberg(), which apply "
            "position/equality deletes")
    return plan.data


_ICE_TO_SPARK = {"string": "string", "long": "bigint", "int": "int",
                 "double": "double", "float": "float",
                 "boolean": "boolean", "binary": "binary",
                 # iceberg timestamp is tz-free micros; timestamptz is
                 # UTC-adjusted (spec Primitive Types)
                 "timestamp": "timestamp_ntz",
                 "timestamptz": "timestamp", "date": "date"}


def _spark_ddl(schema: dict) -> str:
    """The Spark DDL of an Iceberg schema's (primitive) fields."""
    return ", ".join(
        f"`{f['name'].replace('`', '``')}` {_ICE_TO_SPARK[f['type']]}"
        for f in schema["fields"])


# broadcast delete sets below this many rows (manifest record counts,
# known before any file is opened); above it, leave the join strategy
# to AQE — a 100 TB table's delete files can be shuffle-join material
_BROADCAST_DELETE_ROWS = 4_000_000


def _norm_path(col):
    """Normalize file URIs so manifest paths and Spark's
    ``_metadata.file_path`` compare equal (file:///x vs file:/x vs /x).
    """
    from pyspark.sql import functions as F
    return F.regexp_replace(col, "^file:/+", "/")


def _uri_quote(path: str) -> str:
    """Percent-encode a raw filesystem path the way Spark's
    ``_metadata.file_path`` reports it (java.net.URI path encoding:
    unreserved + pchar stay literal, everything else — spaces,
    non-ASCII, '%' — becomes %XX). Used to key the per-file sequence
    map by BOTH forms, since manifest paths are raw while Spark's
    column is URI-encoded (r05 review: a space in the table path made
    the seq join miss and deletes silently un-apply)."""
    from urllib.parse import quote
    return quote(path, safe="/:@!$&'()*+,;=")


# physical -> logical type widenings the spec allows under evolution
_WIDEN_OK = {("int", "long"), ("float", "double")}


def _project_to_schema(df, meta: dict, file_schema_id: int,
                       cur_schema: dict, keep: tuple = ()):
    """Project a DataFrame read from files written under
    ``file_schema_id`` to the table's current schema, resolving every
    column by FIELD ID (rename/reorder-proof) with spec-safe widening
    casts; columns added after the files were written read as null."""
    from pyspark.sql import functions as F

    old_by_id = {f["id"]: f
                 for f in _schema_by_id(meta, file_schema_id)["fields"]}
    cols = [F.col(k) for k in keep]
    for f in cur_schema["fields"]:
        of = old_by_id.get(f["id"])
        if of is None:
            cols.append(F.lit(None).cast(_ICE_TO_SPARK[f["type"]])
                        .alias(f["name"]))
        elif of["type"] == f["type"]:
            cols.append(F.col(of["name"]).alias(f["name"]))
        elif (of["type"], f["type"]) in _WIDEN_OK:
            cols.append(F.col(of["name"])
                        .cast(_ICE_TO_SPARK[f["type"]]).alias(f["name"]))
        else:
            raise NotImplementedError(
                f"schema evolution {of['type']} -> {f['type']} on "
                f"field id {f['id']} is not a spec-safe widening")
    return df.select(*cols)


def rename_column(table_path: str, old_name: str, new_name: str) -> int:
    """Metadata-only commit renaming a column (Iceberg `ALTER TABLE
    RENAME COLUMN`): appends a new schema with the SAME field ids and
    bumps ``current-schema-id`` — no snapshot, no data rewrite. Files
    written before the rename keep the old physical name; readers map
    them by field id (``_project_to_schema``). Returns the new
    schema-id."""
    table_path = os.path.abspath(table_path)
    meta = load_table_metadata(table_path)
    cur = _current_schema(meta)
    names = [f["name"] for f in cur["fields"]]
    if old_name not in names:
        raise ValueError(f"no column {old_name!r} (have {names})")
    if new_name in names:
        raise ValueError(f"column {new_name!r} already exists")
    new_id = max(s["schema-id"] for s in meta["schemas"]) + 1
    new_schema = {
        "type": "struct", "schema-id": new_id,
        "fields": [dict(f, name=new_name) if f["name"] == old_name
                   else dict(f) for f in cur["fields"]]}
    _commit_metadata(table_path, dict(meta, **{
        "schemas": meta["schemas"] + [new_schema],
        "current-schema-id": new_id,
        "last-updated-ms": meta["last-updated-ms"] + 1}))
    return new_id


def read_iceberg(spark, table_path: str,
                 snapshot_id: Optional[int] = None,
                 partition_filter: Optional[dict[str, Any]] = None):
    """Read an Iceberg table path into a DataFrame via the metadata
    layer: snapshot selection + manifest partition pruning, then a
    plain Spark parquet scan over only the surviving files, then
    merge-on-read delete application.

    ``partition_filter`` only prunes files (see ``plan_scan``): rows of
    the kept files are not filtered. ``catalog.read_table`` is the
    row-exact entry point. The metadata is parsed once, and the plan is
    projected under the same version it was planned from.
    """
    meta = load_table_metadata(table_path)
    return _read_plan(spark, meta, _plan_scan(table_path, meta, snapshot_id,
                                              partition_filter))


def _read_plan(spark, meta: dict, plan: ScanPlan):
    """The one projected read behind ``read_iceberg`` and
    ``read_iceberg_incremental``: a parquet scan of the planned data
    files, each projected to the current schema by field id, then the
    plan's deletes (if any) applied.

    Deletes are applied with anti-joins, all JVM-side:

      * position deletes — join key ``(file, pos)`` where the data
        side's key is ``(_metadata.file_path, _metadata.row_index)``:
        Spark's parquet row index is exactly Iceberg's ``pos`` (the
        ordinal of the row in its data file), so no Python touches a
        row. Applicable when delete.seq >= data-file.seq.
      * equality deletes — null-safe anti-join on the delete file's
        ``equality_ids`` columns; applicable when delete.seq >
        data-file.seq (strict, so a row re-inserted after the delete
        survives it). Files with the same column set are unioned into
        ONE anti-join, each row carrying its own sequence number.

    Small delete sets (known from manifest record counts) are
    broadcast; large ones are left to AQE.
    """
    from functools import reduce

    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    cur_schema = _current_schema(meta)
    if not plan.data:
        return spark.createDataFrame([], _spark_ddl(cur_schema))

    # group files by the schema they were written under and project
    # each group to the CURRENT schema by FIELD ID — renames map to
    # the new name, reorders normalize, dropped-then-readded or
    # late-added columns come back as nulls, int->long / float->double
    # widen. (Real Iceberg resolves the same way; name-based reads
    # would silently miss renamed columns.) Each group is read under
    # its write schema, known from the metadata, so the read runs no
    # footer-inference job.
    by_schema: dict[int, list[str]] = {}
    for f in plan.data:
        by_schema.setdefault(f.schema_id, []).append(f.path)
    parts = []
    for sid, paths in sorted(by_schema.items()):
        g = spark.read.schema(_spark_ddl(_schema_by_id(meta, sid))) \
            .parquet(*paths)
        if plan.deletes:
            g = (g.withColumn("__sg_path",
                              _norm_path(F.col("_metadata.file_path")))
                  .withColumn("__sg_pos", F.col("_metadata.row_index")))
        parts.append(_project_to_schema(
            g, meta, sid, cur_schema,
            keep=("__sg_path", "__sg_pos") if plan.deletes else ()))
    df = reduce(_DF.unionByName, parts)
    if not plan.deletes:
        return df

    def _maybe_broadcast(del_df, n_rows):
        return F.broadcast(del_df) if n_rows <= _BROADCAST_DELETE_ROWS \
            else del_df

    cols = [f["name"] for f in cur_schema["fields"]]
    # per-file data sequence numbers, joined in via a tiny broadcast
    # map (one row per data FILE, not per data row). Keyed by BOTH the
    # raw manifest path and its URI-encoded twin: Spark's
    # _metadata.file_path percent-encodes specials, manifest/delete
    # paths are raw — __sg_raw carries the canonical raw path forward
    # so the position-delete join compares raw-to-raw.
    seq_rows = []
    for f in plan.data:
        raw = f.path if f.path.startswith("/") else "/" + f.path
        for key in {raw, _uri_quote(raw)}:
            seq_rows.append((key, raw, f.sequence_number))
    seq_df = spark.createDataFrame(
        seq_rows, "__sg_path string, __sg_raw string, __sg_seq bigint")
    df = df.join(F.broadcast(seq_df), "__sg_path", "left")

    def _file_seq_map(dels, key_col: str, seq_col: str):
        # per-DELETE-FILE sequence numbers, attached the same way the
        # data side gets __sg_seq: ONE multi-path scan + a broadcast
        # (path -> seq) map keyed by _metadata.file_path, instead of
        # one scan + union node per delete file — hundreds of small
        # delete commits used to build an O(N)-relation union tree
        # (r05 review)
        rows = []
        for d in dels:
            raw = d.path if d.path.startswith("/") else "/" + d.path
            for key in {raw, _uri_quote(raw)}:
                rows.append((key, d.sequence_number))
        return spark.createDataFrame(rows,
                                     f"{key_col} string, {seq_col} bigint")

    pos_dels = [d for d in plan.deletes if d.content == 1]
    if pos_dels:
        del_df = (
            spark.read.parquet(*[d.path for d in pos_dels])
            .select(_norm_path(F.col("file_path")).alias("__del_path"),
                    F.col("pos").cast("bigint").alias("__del_pos"),
                    _norm_path(F.col("_metadata.file_path"))
                    .alias("__dseq_path"))
            .join(F.broadcast(_file_seq_map(pos_dels, "__dseq_path",
                                            "__del_seq")),
                  "__dseq_path")
            .drop("__dseq_path"))
        n = sum(d.record_count for d in pos_dels)
        cond = ((df["__sg_raw"] == del_df["__del_path"])
                & (df["__sg_pos"] == del_df["__del_pos"])
                & (del_df["__del_seq"] >= df["__sg_seq"]))
        df = df.join(_maybe_broadcast(del_df, n), cond, "left_anti")

    eq_dels = [d for d in plan.deletes if d.content == 2]
    if eq_dels:
        by_id = {f["id"]: f["name"] for f in cur_schema["fields"]}
        # group by (current column names, write-time schema): files in
        # a group share physical column names too, so each group is ONE
        # multi-path scan + broadcast seq map (not a per-file union)
        groups: dict[tuple, list[DeleteFile]] = {}
        for d in eq_dels:
            if not d.equality_ids:
                raise ValueError(
                    f"{d.path}: equality delete file without "
                    "equality_ids — corrupt metadata")
            names = tuple(by_id[i] for i in d.equality_ids)
            groups.setdefault((names, d.schema_id), []).append(d)
        for (names, sid), dels in groups.items():
            # the delete FILE's physical column names follow the
            # schema at ITS write time; alias them to the current
            # names by field id (same rename resolution as data)
            old = {f["id"]: f["name"]
                   for f in _schema_by_id(meta, sid)["fields"]}
            ids = dels[0].equality_ids
            del_df = (
                spark.read.parquet(*[d.path for d in dels])
                .select(*[F.col(old[i]).alias(f"__del_{by_id[i]}")
                          for i in ids],
                        _norm_path(F.col("_metadata.file_path"))
                        .alias("__dseq_path"))
                .join(F.broadcast(_file_seq_map(dels, "__dseq_path",
                                                "__del_seq")),
                      "__dseq_path")
                .drop("__dseq_path"))
            n = sum(d.record_count for d in dels)
            cond = del_df["__del_seq"] > df["__sg_seq"]
            for c in names:
                cond = cond & df[c].eqNullSafe(del_df[f"__del_{c}"])
            df = df.join(_maybe_broadcast(del_df, n), cond, "left_anti")

    return df.select(*cols)


# --------------------------------------------------------- fixture write

# Avro schemas for the two metadata file kinds — the v2-required field
# set of the spec's manifest-list and manifest-entry schemas, with the
# spec's field ids attached (iceberg.apache.org/spec/#manifest-lists,
# #manifests). Optional stats/summaries are omitted; readers (ours and
# the real runtime's) treat them as absent.

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ]}

_ICE_TO_AVRO = {"string": "string", "long": "long", "int": "int",
                "double": "double", "float": "float",
                "boolean": "boolean", "binary": "bytes",
                # day-transform partition values (days from epoch);
                # plain int on the wire, the logical type is implied by
                # the spec's transform result-type table
                "date": "int",
                # identity-partitioning by a time(stamp) column stores
                # the micros-from-epoch long in the partition struct
                # (spec Avro mapping: long wire type; the logical type
                # annotation is informational)
                "timestamp": "long", "timestamptz": "long",
                "time": "long"}


def _manifest_entry_schema(partition_fields: list[dict],
                           with_equality_ids: bool = False) -> dict:
    part_fields = [
        {"name": f["name"],
         "type": ["null", _ICE_TO_AVRO[f["ice_type"]]],
         "default": None, "field-id": f["field-id"]}
        for f in partition_fields]
    data_file_fields = [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "field-id": 102, "type": {
            "type": "record", "name": "r102", "fields": part_fields}},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long",
         "field-id": 104},
    ]
    if with_equality_ids:
        data_file_fields.append(
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int",
                               "element-id": 136}],
             "default": None, "field-id": 135})
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2,
             "type": {"type": "record", "name": "r2",
                      "fields": data_file_fields}},
        ]}


def append_snapshot(table_path: str, rows: list[dict],
                    schema: list[tuple[str, str]],
                    partition_by: Optional[str] = None) -> int:
    """Append ``rows`` to (or create) an Iceberg v2 table at
    ``table_path`` and return the new snapshot id.

    A spec-conformant single-writer subset: parquet data files (one
    per partition value, written with pyarrow), one manifest per
    snapshot, a manifest list carrying prior snapshots' manifests
    forward (fast-append), and a new ``v{N}.metadata.json`` +
    ``version-hint.text``. Deterministic throughout (fixed timestamp,
    uuid5 table id, sequential snapshot ids) so fixtures are
    byte-reproducible. ``schema`` is ``[(col, iceberg_type), ...]``.

    ``partition_by`` is either a bare column name (identity transform)
    or ``"col:transform"`` with a spec Appendix-B transform —
    ``"repo:bucket[16]"``, ``"path:truncate[8]"``, ``"ts:day"`` — the
    partition struct then stores the TRANSFORMED value computed by
    ``transform_value`` (the same function plan_scan prunes with, but
    pruning correctness is cross-checked against full-scan row sets in
    tests, not against the writer alone).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_path = os.path.abspath(table_path)
    mdir = os.path.join(table_path, "metadata")
    ddir = os.path.join(table_path, "data")
    os.makedirs(mdir, exist_ok=True)
    os.makedirs(ddir, exist_ok=True)

    # parse "col" or "col:transform"
    part_col, part_transform = None, "identity"
    if partition_by:
        part_col, _, tr = partition_by.partition(":")
        part_transform = tr or "identity"
    if part_transform == "identity":
        part_name = part_col
    else:
        suffix = re.sub(r"\[\d+\]$", "", part_transform)
        suffix = {"truncate": "trunc"}.get(suffix, suffix)
        part_name = f"{part_col}_{suffix}" if part_col else None

    prev = None
    if os.path.exists(os.path.join(mdir, "version-hint.text")):
        prev = load_table_metadata(table_path)
        if [(f["name"], f["type"])
                for f in _current_schema(prev)["fields"]] != list(schema):
            raise ValueError(
                "append_snapshot writes the CURRENT schema only "
                "(rename_column evolves it; other evolutions "
                "unsupported)")
        spec0 = next(s for s in prev["partition-specs"]
                     if s["spec-id"] == 0)
        if [(f["name"], f["transform"]) for f in spec0["fields"]] != \
                ([(part_name, part_transform)] if part_col else []):
            raise ValueError(
                "append_snapshot does not evolve partition specs")

    # field ids come from the live schema (stable across renames);
    # only a brand-new table assigns fresh positional ids
    field_ids = ({f["name"]: f["id"]
                  for f in _current_schema(prev)["fields"]}
                 if prev is not None
                 else {name: i + 1 for i, (name, _) in enumerate(schema)})
    types = dict(schema)
    part_fields_meta = []
    part_val_type = None
    if part_col:
        if part_col not in types:
            raise ValueError(f"unknown partition column {part_col}")
        part_fields_meta = [{
            "name": part_name, "transform": part_transform,
            "source-id": field_ids[part_col], "field-id": 1000}]
        # partition-struct value type per the spec's transform table
        if part_transform == "identity":
            part_val_type = types[part_col]
        elif part_transform.startswith("bucket["):
            part_val_type = "int"
        elif part_transform.startswith("truncate["):
            part_val_type = types[part_col]
        elif part_transform == "day":
            part_val_type = "date"
        else:  # year / month / hour
            part_val_type = "int"
    if prev is None:
        # a new table: the metadata every later commit carries forward
        # (schema history too: files written before a rename resolve
        # their old physical names by field id; _commit_snapshot fills
        # in the snapshot fields)
        prev = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL,
                                         "file://" + table_path)),
            "location": "file://" + table_path,
            "last-sequence-number": 0,
            "last-updated-ms": _FIXED_TS_MS,
            "last-column-id": len(schema),
            "current-schema-id": 0,
            "schemas": [{"type": "struct", "schema-id": 0, "fields": [
                {"id": field_ids[n], "name": n, "required": False,
                 "type": t} for n, t in schema]}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0,
                                 "fields": part_fields_meta}],
            "last-partition-id": 1000 if partition_by else 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [], "metadata-log": [],
        }
    snap_id = max((s["snapshot-id"] for s in prev["snapshots"]),
                  default=0) + 1

    pa_schema = pa.schema([(n, _arrow_type(t)) for n, t in schema])

    # -- data files: one parquet per (transformed) partition value
    groups: dict[Any, list[dict]] = {}
    for r in rows:
        pv = (transform_value(part_transform, r[part_col],
                              types[part_col]) if part_col else None)
        groups.setdefault(pv, []).append(r)
    files = []
    for i, (pval, grp) in enumerate(sorted(groups.items(),
                                           key=lambda kv: str(kv[0]))):
        sub = (os.path.join(ddir, f"{part_name}={pval}")
               if part_col else ddir)
        os.makedirs(sub, exist_ok=True)
        fpath = os.path.join(sub, f"{snap_id:05d}-{i:05d}.parquet")
        tbl = pa.Table.from_pylist(grp, schema=pa_schema)
        pq.write_table(tbl, fpath)
        files.append({
            "content": 0, "file_path": "file://" + fpath,
            "file_format": "PARQUET",
            "partition": ({part_name: pval} if part_col else {}),
            "record_count": len(grp),
            "file_size_in_bytes": os.path.getsize(fpath)})
    return _commit_snapshot(
        table_path, prev, snap_id, files, content=0, spec_id=0,
        part_fields=([{"name": part_name, "ice_type": part_val_type,
                       "field-id": 1000}] if part_col else []))


def _arrow_type(ice_type: str):
    """The pyarrow type the writers store an Iceberg primitive as.
    timestamp/timestamptz are micros: rows pass them as int
    micros-from-epoch (matches plan_scan's transform evaluation and
    Spark's parquet reader)."""
    import pyarrow as pa
    return {"string": pa.string(), "long": pa.int64(), "int": pa.int32(),
            "double": pa.float64(), "float": pa.float32(),
            "boolean": pa.bool_(), "binary": pa.binary(),
            "timestamp": pa.timestamp("us"),
            "timestamptz": pa.timestamp("us", tz="UTC"),
            "date": pa.date32()}[ice_type]


def _commit_snapshot(table_path: str, base: dict, snap_id: int,
                     files: list[dict], *, content: int, spec_id: int,
                     part_fields: list[dict]) -> int:
    """Commit snapshot ``snap_id`` (its sequence number is the same)
    whose only change is one new manifest listing ``files`` — data
    files (``content`` 0, an ``append``) or delete files (1, a
    ``delete``) under partition spec ``spec_id``. Writes that
    manifest, a manifest list with it first and the current snapshot's
    manifests carried forward (fast append), and the next metadata
    version: ``base`` plus the new snapshot. Returns ``snap_id``."""
    mdir = os.path.join(table_path, "metadata")
    seq = snap_id
    man_path = os.path.join(
        mdir, (f"manifest-{snap_id:05d}.avro" if content == 0
               else f"manifest-del-{snap_id:05d}.avro"))
    write_ocf(man_path,
              _manifest_entry_schema(part_fields,
                                     with_equality_ids=content == 1),
              [{"status": 1, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": f} for f in files],
              extra_meta={"format-version": b"2",
                          "content": b"data" if content == 0
                          else b"deletes",
                          "partition-spec-id": str(spec_id).encode()})
    manifest = {
        "manifest_path": "file://" + man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": spec_id, "content": content,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(files), "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(f["record_count"] for f in files),
        "existing_rows_count": 0, "deleted_rows_count": 0}
    cur = _select_snapshot(base, None)
    carried = (read_ocf(_strip_file_uri(cur["manifest-list"]))[1]
               if cur else [])
    mlist_path = os.path.join(mdir, f"snap-{snap_id}-manifest-list.avro")
    write_ocf(mlist_path, _MANIFEST_FILE_SCHEMA,
              [manifest] + list(carried),
              extra_meta={"format-version": b"2"})

    snapshot = {"snapshot-id": snap_id, "sequence-number": seq,
                "timestamp-ms": _FIXED_TS_MS + snap_id,
                "manifest-list": "file://" + mlist_path,
                "summary": {"operation": ("append" if content == 0
                                          else "delete")},
                "schema-id": base["current-schema-id"]}
    if cur:
        snapshot["parent-snapshot-id"] = cur["snapshot-id"]
    _commit_metadata(table_path, dict(base, **{
        "last-sequence-number": seq,
        "last-updated-ms": _FIXED_TS_MS + snap_id,
        "current-snapshot-id": snap_id,
        "snapshots": base["snapshots"] + [snapshot]}))
    return snap_id


def _commit_metadata(table_path: str, meta: dict) -> None:
    """Write ``meta`` as the table's next metadata version (one past
    the highest ``v{N}.metadata.json`` on disk) and point
    ``version-hint.text`` at it: the one commit step of every writer
    in this module."""
    mdir = os.path.join(table_path, "metadata")
    version = max(_versions(mdir), default=0) + 1
    with open(os.path.join(mdir, f"v{version}.metadata.json"),
              "w") as fh:
        json.dump(meta, fh, indent=1)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(version))


# ------------------------------------------------- delete-file writers

# position-delete column field ids, reserved by the spec
# (iceberg.apache.org/spec/#position-delete-files)
_POS_DELETE_PATH_ID = 2147483546
_POS_DELETE_POS_ID = 2147483545


def _pa_field(name, pa_type, field_id):
    import pyarrow as pa
    return pa.field(name, pa_type,
                    metadata={b"PARQUET:field_id":
                              str(field_id).encode()})


def _commit_delete_snapshot(table_path: str, meta: dict, tbl, kind: str,
                            content: int,
                            equality_ids: Optional[list[int]]) -> int:
    """Commit a snapshot whose only change is one delete file: ``tbl``
    written as ``data/{snapshot}-{kind}-deletes.parquet`` and listed in
    a delete manifest under an UNPARTITIONED spec (so the deletes apply
    table-wide and are never partition-pruned away)."""
    import pyarrow.parquet as pq

    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1
    path = os.path.join(table_path, "data",
                        f"{snap_id:05d}-{kind}-deletes.parquet")
    pq.write_table(tbl, path)

    specs = [dict(s) for s in meta["partition-specs"]]
    unpart = next((s["spec-id"] for s in specs if not s["fields"]),
                  None)
    if unpart is None:
        unpart = max(s["spec-id"] for s in specs) + 1
        specs.append({"spec-id": unpart, "fields": []})
    return _commit_snapshot(
        table_path, dict(meta, **{"partition-specs": specs}), snap_id,
        [{"content": content, "file_path": "file://" + path,
          "file_format": "PARQUET", "partition": {},
          "record_count": tbl.num_rows,
          "file_size_in_bytes": os.path.getsize(path),
          "equality_ids": equality_ids}],
        content=1, spec_id=unpart, part_fields=[])


def delete_positions(table_path: str,
                     deletes: list[tuple[str, int]]) -> int:
    """Commit a position-delete snapshot: ``deletes`` is a list of
    (data_file_path, row_ordinal) pairs. Returns the new snapshot id.

    Writes one spec-conformant position-delete parquet file —
    columns ``file_path`` (field id 2147483546) / ``pos`` (2147483545),
    sorted by (file_path, pos) as the spec requires — plus a delete
    manifest and a new metadata version.
    """
    import pyarrow as pa

    table_path = os.path.abspath(table_path)
    rows = sorted(
        ("file://" + _strip_file_uri(p) if not p.startswith("file://")
         else p, int(pos)) for p, pos in deletes)
    sch = pa.schema([
        _pa_field("file_path", pa.string(), _POS_DELETE_PATH_ID),
        _pa_field("pos", pa.int64(), _POS_DELETE_POS_ID)])
    return _commit_delete_snapshot(
        table_path, load_table_metadata(table_path),
        pa.table({"file_path": [r[0] for r in rows],
                  "pos": [r[1] for r in rows]}, schema=sch),
        "pos", content=1, equality_ids=None)


def delete_where_equal(table_path: str, rows: list[dict]) -> int:
    """Commit an equality-delete snapshot: each row in ``rows`` names
    the values a live row must match (on exactly the keys present, the
    same keys in every row) to be deleted. Applies only to data files
    with a STRICTLY smaller sequence number, per the spec — rows
    re-inserted later survive. Returns the new snapshot id.
    """
    import pyarrow as pa

    if not rows:
        raise ValueError("delete_where_equal needs at least one row")
    table_path = os.path.abspath(table_path)
    meta = load_table_metadata(table_path)
    by_name = {f["name"]: f for f in _current_schema(meta)["fields"]}
    names = list(rows[0].keys())
    if any(list(r.keys()) != names for r in rows):
        raise ValueError("every delete row must use the same key set")
    unknown = [n for n in names if n not in by_name]
    if unknown:
        raise ValueError(f"unknown delete columns {unknown}")
    sch = pa.schema([_pa_field(n, _arrow_type(by_name[n]["type"]),
                               by_name[n]["id"]) for n in names])
    return _commit_delete_snapshot(
        table_path, meta, pa.Table.from_pylist(rows, schema=sch), "eq",
        content=2, equality_ids=[by_name[n]["id"] for n in names])
