"""CLI: the reference's ``schema-guru schema`` command, Spark-backed.

    python -m schema_guru_spark.cli schema INPUT_DIR
        [--output FILE] [--ndjson] [--enum-cardinality K]
        [--enum-sets FILE ...] [--no-length] [--schema-by JSONPATH]
        [--errors-path DIR] [--vendor V --name N] [--cpus N]

Mirrors the reference CLI surface (cli/Parser.scala:30-186,
SchemaCommand.scala:92-179): derive one merged JSON Schema from a
directory of JSON/NDJSON files; segmented output with --schema-by;
predefined enum sets; self-describing header with --vendor/--name;
errors routed to --errors-path (as parquet) instead of stderr dumping.

Knob parity notes: quantity (the base64 guard input) is set from the
valid-doc count as the reference CLI does (SchemaCommand.scala:146 —
unlike its Spark job, which leaves it unset; SURVEY.md §3.2)."""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="schema-guru-spark")
    sub = ap.add_subparsers(dest="command", required=True)
    sp = sub.add_parser("schema", help="derive JSON Schema from documents")
    sp.add_argument("input")
    sp.add_argument("--output", default=None)
    sp.add_argument("--ndjson", action="store_true")
    sp.add_argument("--enum-cardinality", "--enum", dest="enum_cardinality",
                    type=int, default=0)
    sp.add_argument("--enum-sets", nargs="*", default=[])
    sp.add_argument("--no-length", action="store_true")
    sp.add_argument("--schema-by", default=None,
                    help="JSONPath to segment documents by")
    sp.add_argument("--errors-path", default=None)
    sp.add_argument("--vendor", default=None)
    sp.add_argument("--name", default=None)
    sp.add_argument("--schemaver", default="1-0-0",
                    help="version for the self-describing header "
                         "(MODEL-REVISION-ADDITION; Parser.scala:85-97)")
    sp.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))

    dp = sub.add_parser("ddl", help="generate Redshift DDL + JSONPaths "
                                    "from self-describing JSON Schemas")
    dp.add_argument("input", help="dir of self-describing JSON Schema files")
    dp.add_argument("--output", default=".",
                    help="root for the sql/ + jsonpaths/ tree")
    dp.add_argument("--schema-name", "--schema", dest="schema_name",
                    default="atomic")
    dp.add_argument("--db", default="redshift",
                    help="target database (only redshift supported, "
                         "like the reference — Parser.scala:146-150)")
    dp.add_argument("--varchar-size", type=int, default=4096)
    dp.add_argument("--with-json-paths", action="store_true",
                    help="also emit jsonpaths/ files (reference default "
                         "is off)")
    dp.add_argument("--raw-mode", action="store_true",
                    help="inputs are plain (non-self-describing) JSON "
                         "Schemas")
    dp.add_argument("--split-product", action="store_true",
                    help="split product types into one column per kind")
    dp.add_argument("--no-header", action="store_true",
                    help="omit the generated-file header comment")
    dp.add_argument("--force", action="store_true",
                    help="overwrite files even if manually modified "
                         "(K4 guarded overwrite, FileUtils.scala:70-98)")
    args = ap.parse_args(argv)
    if args.command == "schema" and args.enum_cardinality < 0:
        ap.error("--enum-cardinality must be >= 0")

    if args.command == "ddl":
        return _ddl_command(args)

    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.operators.infer import (
        infer_json_column, infer_json_column_by_key)
    from schema_guru_spark.operators.migrations import describe
    from schema_guru_spark.session import get_spark
    from schema_guru_spark.sources.readers import read_enum_sets, read_json_dir
    from pyspark.sql import functions as F

    spark = get_spark("sgs-cli", master=f"local[{args.cpus}]")
    docs = read_json_dir(spark, args.input, ndjson=args.ndjson)

    enum_sets = read_enum_sets(args.enum_sets) if args.enum_sets else []
    # quantity is the count of VALID (parseable) instances, per
    # produce() call, as the reference CLI does (SchemaCommand.scala:146
    # passes jsons.length where jsons survived parsing — unparseable
    # rows must not inflate the base64 small-instance-set guard). The
    # probe is JVM-side: try_parse_json is null exactly on invalid JSON.
    parse_ok = F.try_parse_json(F.col("content")).isNotNull()

    if args.schema_by:
        from schema_guru_spark.functions import normalize_segment_key
        ctx = SchemaContext.make(args.enum_cardinality, enum_sets,
                                 derive_length=not args.no_length)
        keyed = docs.withColumn(
            "segment",
            normalize_segment_key(F.get_json_object("content", args.schema_by)))
        # the reference prints parse errors after segmented output
        # (SchemaCommand.scala:127-130). The probe accepts top-level
        # scalars, which the derive pass's gate rejects, so every row
        # that is not plainly an object or array goes to the error pass
        # below, which yields at most one message per such row
        bad = ~parse_ok | ~F.col("content").rlike(r"^\s*[\[{]")
        # per-segment quantity (reference: produce(key, someJsons) gets
        # that segment's own count, SchemaCommand.scala:118-122), and
        # the bad rows counted in the same aggregate
        counts = (keyed.groupBy("segment")
                       .agg(F.count_if(parse_ok).alias("n"),
                            F.count_if(bad).alias("n_bad")).collect())
        qmap = {r["segment"]: r["n"] for r in counts if r["n"]}
        n_bad = sum(r["n_bad"] for r in counts)
        out = infer_json_column_by_key(keyed, "content", "segment", ctx,
                                       quantity_by_key=qmap)
        rows = out.collect()
        result = {}
        for r in rows:
            sch = json.loads(r["schema"])
            if args.vendor and args.name:
                sch = describe(sch, args.vendor, f"{args.name}.{r['segment']}",
                               args.schemaver)
            result[r["segment"]] = sch
        payload = json.dumps(result, indent=2, sort_keys=True)
        _report_errors(_parse_error_messages(docs.filter(bad), ctx),
                       n_bad, args.errors_path)
    else:
        ctx = SchemaContext.make(args.enum_cardinality, enum_sets,
                                 quantity=docs.filter(parse_ok).count(),
                                 derive_length=not args.no_length)
        res = infer_json_column(docs, "content", ctx)
        schema = res.schema(ctx)
        if args.vendor and args.name:
            schema = describe(schema, args.vendor, args.name,
                              args.schemaver)
        # the error rows are a lazy view of the inference scan: reading
        # them scans again, as the --schema-by branch's error pass does
        _report_errors(res.violations, res.n_err, args.errors_path)
        dupes = res.duplicated_keys()
        for a, b in sorted(dupes):
            print(f"warning: possibly duplicated keys: {a} ~ {b}",
                  file=sys.stderr)
        payload = json.dumps(schema, indent=2, sort_keys=True)

    if args.output:
        with open(args.output, "w") as f:
            f.write(payload + "\n")
    else:
        print(payload)
    return 0


def _report_errors(violations, n_max: int, errors_path) -> None:
    """Write the error rows (one ``error`` column) to ``errors_path`` as
    parquet, else print at most 20 of them to stderr. ``n_max`` bounds
    their count, and nothing is read when it is 0. Up to 20 rows are
    read in one plain collect: a limit the rows cannot reach would
    widen its scan over several jobs, each deriving again."""
    if not n_max:
        return
    if errors_path:
        violations.write.mode("overwrite").parquet(errors_path)
        return
    rows = (violations.collect() if n_max <= 20
            else violations.limit(20).collect())
    for row in rows:
        print(f"error: {row['error']}", file=sys.stderr)


def _parse_error_messages(bad, ctx):
    """Violation messages of the rows in ``bad`` that are not JSON
    objects or arrays, from the derive pass's own kernel
    (``fold_keyed``'s errors), so segmented-mode wording is the global
    path's ('null content' / 'invalid JSON: ...' / the reference's gate
    message for a top-level scalar). Distributed (mapInPandas)."""
    import pandas as pd

    from schema_guru_spark.core.accumulate_batch import fold_keyed
    from schema_guru_spark.worker import worker_fn

    @worker_fn
    def fn(batches):
        for pdf in batches:
            errors = fold_keyed(pdf["content"], None, ctx)[2]
            if errors:
                yield pd.DataFrame({"error": [msg for _, msg in errors]})

    return bad.select("content").mapInPandas(fn, "error string")


def _ddl_command(args) -> int:
    """Driver-only (no Spark): parse self-describing schema files, emit
    the sql/ + jsonpaths/ file tree (reference ddl command, K5)."""
    import glob

    from schema_guru_spark.operators.ddl import ddl_file_tree
    from schema_guru_spark.sources.fileutils import write_to_file

    if args.db != "redshift":
        print(f"error: DDL generation for {args.db} is not supported "
              "(redshift only, like the reference)", file=sys.stderr)
        return 1

    versions = []
    for p in sorted(glob.glob(os.path.join(args.input, "**", "*.json"),
                              recursive=True)):
        with open(p) as f:
            doc = json.load(f)
        self_desc = {} if args.raw_mode else doc.get("self", {})
        default_name = os.path.splitext(os.path.basename(p))[0]
        # raw mode (DdlCommand.scala:203-216): plain JSON Schemas, no
        # self-describing envelope — names come from the file, no vendor
        vendor = "" if args.raw_mode else self_desc.get("vendor", "com.unknown")
        name = self_desc.get("name", default_name)
        version = self_desc.get("version", "1-0-0")
        schema = {k: v for k, v in doc.items() if k not in ("self", "$schema")}
        versions.append((vendor, name, version, schema))

    tree = ddl_file_tree(versions, schema_name=args.schema_name,
                         varchar_size=args.varchar_size,
                         with_json_paths=args.with_json_paths,
                         split_product=args.split_product,
                         no_header=args.no_header,
                         raw_mode=args.raw_mode)
    rc = 0
    for rel, content in tree.items():
        dest = os.path.join(args.output, rel)
        # K4 guarded overwrite (FileUtils.scala:70-98): never clobber a
        # manually-edited file without --force
        ok, msg = write_to_file(os.path.basename(dest),
                                os.path.dirname(dest), content,
                                force=args.force)
        print(msg)
        if not ok:
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
