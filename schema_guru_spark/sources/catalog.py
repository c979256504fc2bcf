"""Catalog (Iceberg) read path for the repo table.

The north rule names an Iceberg table of source-code repositories as
the input. Every operator downstream is source-agnostic (they take a
DataFrame), so this module is deliberately thin: resolve a catalog
table when one is named, fall back to a parquet directory otherwise.
What Iceberg buys over raw parquet directories at 100 TB — and why the
production deployment should configure a catalog:

  * manifest-driven partition pruning + per-file min/max skipping:
    the validation job's resume filter (``bucket IN (<chunk>)``) and
    the constraint pass's lang/repo predicates eliminate data files
    from Iceberg's own metadata before a single file is opened — no
    object-store directory listing at all (the listing alone is a
    scaling wall for 10^8-file tables);
  * snapshot isolation for resumable jobs: pinning ``snapshot_id``
    makes a resumed run validate EXACTLY the row set the original run
    started on. Over a live table, a resume without it would process
    different rows than the checkpoint manifest's per-bucket 'done'
    accounting describes — the same class of corruption the
    ``_layout.json`` sidecar guards against on the bucket side;
  * column-id-based schema evolution, so a renamed/reordered content
    column maps correctly instead of positionally.

Wiring on a real cluster (spark-submit):

    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.catalog.repos=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.repos.type=hadoop   # or hive / rest
    --conf spark.sql.catalog.repos.warehouse=s3://bucket/warehouse

then ``read_table(spark, table="repos.db.source_files")``. In this
sandbox the runtime jar is not baked in (no network to fetch it), so
the integration test skips with that reason and the catalog path is
exercised against the session catalog instead — the code path is the
same ``spark.read.table`` resolution either way.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark runtime is on the JVM classpath."""
    try:
        (spark._jvm.java.lang.Class                      # noqa: SLF001
         .forName("org.apache.iceberg.catalog.Catalog"))
        return True
    except Exception:
        return False


def _is_iceberg_path(path: str) -> bool:
    import os
    return os.path.isdir(os.path.join(path, "metadata"))


def _residual(df: DataFrame, partition_filter: Optional[dict]) -> DataFrame:
    """The one row-level semantics every route shares: col in allowed
    set. Single definition so a semantics fix lands on all routes."""
    from pyspark.sql import functions as F

    from .iceberg_meta import _allowed_values
    for col, want in (partition_filter or {}).items():
        df = df.where(F.col(col).isin(_allowed_values(want)))
    return df


def _require_configured_catalog(spark: SparkSession, table: str,
                                option: str) -> None:
    """Snapshot options are plain reader options: a non-Iceberg source
    silently IGNORES them and reads the current table state — the
    exact corruption class the module docstring warns about. Require
    the table's catalog to be explicitly configured
    (spark.sql.catalog.<name>=...) before trusting the option
    (r05 review)."""
    cat = table.split(".")[0] if "." in table else None
    impl = (spark.conf.get(f"spark.sql.catalog.{cat}", None)
            if cat else None)
    if not impl:
        raise ValueError(
            f"{option} on table {table!r} requires a configured "
            "Iceberg catalog (spark.sql.catalog.<name> = SparkCatalog); "
            "the session catalog would silently ignore the option and "
            "read the CURRENT table state")


def read_table(spark: SparkSession, table: Optional[str] = None,
               path: Optional[str] = None,
               snapshot_id: Optional[int] = None,
               partition_filter: Optional[dict] = None) -> DataFrame:
    """Resolve the repo table: catalog table when named (Iceberg in
    production; any ``spark.read.table``-resolvable name works), else
    a filesystem path — an Iceberg table location (detected by its
    ``metadata/`` directory) goes through the pure-Python metadata
    layer (`iceberg_meta`, snapshot pinning + manifest pruning), a
    plain parquet directory through ``spark.read.parquet``.

    ``snapshot_id`` pins an Iceberg time-travel read; it needs
    snapshot lineage (catalog table or Iceberg path) — on a bare
    parquet directory it is a loud error rather than a silently
    ignored option.

    ``partition_filter`` ({col: value-or-list}) has ONE semantics on
    every route — rows where col is in the allowed set — but three
    physical strategies: Iceberg-path reads prune data files in the
    metadata layer before any file is opened (the residual row filter
    is still applied, since a manifest's spec may not identity-
    partition that column), while catalog tables and parquet
    directories get a plain ``isin`` predicate for Catalyst to push
    into the scan (on a real Iceberg catalog the runtime turns that
    predicate into the same manifest pruning).
    """
    if table:
        reader = spark.read
        if snapshot_id is not None:
            _require_configured_catalog(spark, table, "snapshot_id")
            reader = reader.option("snapshot-id", str(snapshot_id))
        return _residual(reader.table(table), partition_filter)
    if path:
        if _is_iceberg_path(path):
            from .iceberg_meta import read_iceberg
            return _residual(read_iceberg(
                spark, path, snapshot_id=snapshot_id,
                partition_filter=partition_filter), partition_filter)
        if snapshot_id is not None:
            raise ValueError(
                "snapshot_id requires a catalog table or an Iceberg "
                "table path; a parquet directory has no snapshot "
                "lineage")
        return _residual(spark.read.parquet(path), partition_filter)
    raise ValueError("read_table needs a table name or a parquet path")


def read_table_appends(spark: SparkSession, table: Optional[str] = None,
                       path: Optional[str] = None, *,
                       from_snapshot_id: int,
                       to_snapshot_id: Optional[int] = None,
                       partition_filter: Optional[dict] = None
                       ) -> DataFrame:
    """Rows appended to an Iceberg table in ``(from, to]`` — the
    incremental-consumption twin of ``read_table``.

    Catalog tables use the Iceberg runtime's own incremental read
    options (``start-snapshot-id``/``end-snapshot-id``, exclusive/
    inclusive, same appends-only semantics); Iceberg paths go through
    the pure-Python metadata layer's ``plan_incremental``. A bare
    parquet directory is a loud error — no snapshot lineage, no
    well-defined delta.
    """
    if table:
        _require_configured_catalog(spark, table, "start-snapshot-id")
        reader = (spark.read.option("start-snapshot-id",
                                    str(from_snapshot_id)))
        if to_snapshot_id is not None:
            reader = reader.option("end-snapshot-id",
                                   str(to_snapshot_id))
        return _residual(reader.table(table), partition_filter)
    if path:
        if _is_iceberg_path(path):
            from .iceberg_meta import read_iceberg_incremental
            return _residual(read_iceberg_incremental(
                spark, path, from_snapshot_id,
                to_snapshot_id=to_snapshot_id,
                partition_filter=partition_filter), partition_filter)
        raise ValueError(
            "incremental read requires a catalog table or an Iceberg "
            "table path; a parquet directory has no snapshot lineage")
    raise ValueError("read_table_appends needs a table name or a path")
