"""Schema inference and flat-column profile queries with their oracles.

The recursive schema render has no SQL twin (rows-only); the inference
engine's output is still oracle-pinned through flat projections: the
top-level key set, per-event-type key sets, encased numeric bounds and
the string annotations.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from driver_queries import table
from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.formats import BASE64_PATTERN
from schema_guru_spark.operators import stats as S
from schema_guru_spark.operators.infer import (
    infer_json_column,
    infer_json_column_by_key,
)

CTX = SchemaContext.make(0)

_UUID_RE = S.UUID_SQL_RE
_IPV4_RE = S.IPV4_SQL_RE
_URI_RE = S.URI_SQL_RE
_DT_RE = S.DATETIME_SQL_RE


def _encase_min_sql(mn: str, mx: str) -> str:
    """Reference T1 integer encasing (Helpers.scala:151-201) over SQL
    min/max expressions — shared by the flat numeric profile and the
    engine-path inference oracles."""
    return f"""(CASE WHEN {mn} >= 0 AND {mx} <= 32767 THEN 0
            WHEN {mn} >= -32768 AND {mx} <= 32767 THEN -32768
            WHEN {mn} >= 0 AND {mx} <= 2147483647 THEN 0
            WHEN {mn} >= -2147483648 AND {mx} <= 2147483647 THEN -2147483648
            WHEN {mn} >= 0 THEN 0
            ELSE -9223372036854775808 END)::BIGINT"""


def _encase_max_sql(mn: str, mx: str) -> str:
    return f"""(CASE WHEN {mn} >= 0 AND {mx} <= 32767 THEN 32767
            WHEN {mn} >= -32768 AND {mx} <= 32767 THEN 32767
            WHEN {mn} >= 0 AND {mx} <= 2147483647 THEN 2147483647
            WHEN {mn} >= -2147483648 AND {mx} <= 2147483647 THEN 2147483647
            ELSE 9223372036854775807 END)::BIGINT"""


# --- schema inference over events.props ------------------------------------

def _props_result(spark, sf):
    return infer_json_column(table(spark, sf, "events"), "props", CTX)


def top_keys(spark, sf):
    # the merged schema's top-level property set must equal DuckDB's
    # independent union of JSON object keys, and the ok/err counters
    # must match its json_valid accounting — pins P1/P2 routing and the
    # A5 object key-union merge without the full recursive render in SQL
    res = _props_result(spark, sf)
    keys = sorted((res.schema(CTX).get("properties") or {}).keys())
    return spark.createDataFrame(
        [(res.n_ok, res.n_err, ",".join(keys))],
        "n_ok long, n_err long, top_keys string")


TOP_KEYS = """
            WITH ok AS (
              SELECT props FROM events
              WHERE json_valid(props)
                AND json_type(props::JSON) IN ('OBJECT', 'ARRAY')),
            k AS (
              SELECT DISTINCT unnest(json_keys(props)) AS key
              FROM ok WHERE json_type(props::JSON) = 'OBJECT')
            SELECT (SELECT count(*) FROM ok)::BIGINT AS n_ok,
                   ((SELECT count(*) FROM events)
                    - (SELECT count(*) FROM ok))::BIGINT AS n_err,
                   (SELECT array_to_string(list_sort(list(key)), ',')
                    FROM k) AS top_keys
        """


def string_annotations(spark, sf):
    # pins the string-annotation surface (D2 lengths, D3-D8 format
    # priority chain, D7 base64 pattern, A2 eq-or-none merge, T2
    # maxLength fix) THROUGH the distributed engine, the way
    # numeric_bounds pins D9/A3/T1: build a 5-string-key JSON doc per
    # documents row (uuid / iso timestamp / uri / base64-ish hex /
    # free-text source), infer the merged schema, and project each
    # rendered property's (type, format, pattern, minLength, maxLength).
    # The oracle recomputes every annotation independently with SQL
    # regexes + all-agree aggregation over the same reconstructed values.
    d = F.col("doc_id")
    docs = table(spark, sf, "documents").select(F.to_json(F.struct(
        F.format_string("%016x", d).alias("b"),
        F.concat(F.lit("https://example.com/doc/"),
                 d.cast("string")).alias("h"),
        F.col("source").alias("s"),
        F.format_string("2024-01-%02dT%02d:%02d:05Z",
                        F.pmod(d, F.lit(28)) + 1, F.pmod(d, F.lit(24)),
                        F.pmod(d, F.lit(60))).alias("t"),
        F.format_string("%08x-0000-4000-8000-%012x", d, d).alias("u"),
    )).alias("doc"))
    res = infer_json_column(docs, "doc", CTX)
    props = res.schema(CTX).get("properties") or {}
    rows = [(k, p.get("type"), p.get("format"), p.get("pattern"),
             p.get("minLength"), p.get("maxLength"))
            for k, p in sorted(props.items())]
    return spark.createDataFrame(
        rows, "key string, v_type string, format string, pattern string, "
              "min_len long, max_len long")


STRING_ANNOTATIONS = f"""
            WITH vals AS (
              SELECT printf('%016x', doc_id) AS b,
                     'https://example.com/doc/' || doc_id::VARCHAR AS h,
                     source AS s,
                     printf('2024-01-%02dT%02d:%02d:05Z',
                            doc_id % 28 + 1, doc_id % 24, doc_id % 60) AS t,
                     printf('%08x-0000-4000-8000-%012x',
                            doc_id, doc_id) AS u
              FROM documents),
            long AS (
              UNPIVOT vals ON b, h, s, t, u INTO NAME key VALUE val),
            det AS (
              SELECT key, length(val) AS l,
                CASE WHEN regexp_matches(val, '{_UUID_RE}') THEN 'uuid'
                     WHEN length(val) > 10
                          AND regexp_matches(val, '{_DT_RE}')
                       THEN 'date-time'
                     WHEN regexp_matches(val, '{_IPV4_RE}') THEN 'ipv4'
                     WHEN regexp_matches(val, '{_URI_RE}') THEN 'uri'
                     END AS fmt,
                CASE WHEN regexp_matches(val, '{BASE64_PATTERN}') THEN 1 ELSE 0
                     END AS is_b64
              FROM long),
            agg AS (
              SELECT key,
                CASE WHEN count(fmt) = count(*) AND min(fmt) = max(fmt)
                     THEN min(fmt) END AS format,
                CASE WHEN sum(is_b64) = count(*) THEN '{BASE64_PATTERN}'
                     END AS pattern,
                min(l) AS min_len, max(l) AS max_len
              FROM det GROUP BY key)
            SELECT key, 'string' AS v_type, format, pattern,
                   min_len::BIGINT AS min_len,
                   (CASE WHEN format = 'ipv4' THEN 15
                         WHEN format = 'ipv6' THEN 39
                         WHEN format = 'uri' THEN 8192
                         ELSE max_len END)::BIGINT AS max_len
            FROM agg ORDER BY key
        """


def numeric_bounds(spark, sf):
    # pins derivation (D9) + integer merge (A3) + T1 encasing THROUGH
    # the distributed engine: the rendered property's type/min/max must
    # equal the SQL-side encasing of the observed json_extract range
    res = _props_result(spark, sf)
    k = (res.schema(CTX).get("properties") or {}).get("k", {})
    return spark.createDataFrame(
        [(k.get("type"), k.get("minimum"), k.get("maximum"))],
        "k_type string, k_min long, k_max long")


NUMERIC_BOUNDS = f"""
            WITH agg AS (
              SELECT min(json_extract(props, '$.k')::BIGINT) AS mn,
                     max(json_extract(props, '$.k')::BIGINT) AS mx
              FROM events WHERE json_valid(props))
            SELECT 'integer' AS k_type,
                   {_encase_min_sql("mn", "mx")} AS k_min,
                   {_encase_max_sql("mn", "mx")} AS k_max
            FROM agg
        """


def by_type_keys(spark, sf):
    # flat projection of the per-key (A8) merge output: per event_type,
    # the merged schema's key set and encased integer bounds — all
    # independently recomputable by the oracle from json_keys /
    # json_extract aggregates
    out = infer_json_column_by_key(table(spark, sf, "events"), "props",
                                   "event_type", CTX).collect()
    rows = []
    for r in out:
        props = json.loads(r["schema"]).get("properties") or {}
        kk = props.get("k", {})
        rows.append((r["event_type"], ",".join(sorted(props)),
                     kk.get("minimum"), kk.get("maximum")))
    return spark.createDataFrame(
        sorted(rows),
        "event_type string, top_keys string, k_min long, k_max long")


BY_TYPE_KEYS = f"""
            WITH ok AS (
              SELECT event_type, props FROM events
              WHERE json_valid(props)
                AND json_type(props::JSON) = 'OBJECT'),
            ks AS (
              SELECT event_type,
                     array_to_string(list_sort(list(DISTINCT k)), ',')
                       AS top_keys
              FROM (SELECT event_type, unnest(json_keys(props)) AS k
                    FROM ok)
              GROUP BY 1),
            agg AS (
              SELECT event_type,
                     min(json_extract(props, '$.k')::BIGINT) AS mn,
                     max(json_extract(props, '$.k')::BIGINT) AS mx
              FROM ok GROUP BY 1)
            SELECT ks.event_type, ks.top_keys,
                   {_encase_min_sql("mn", "mx")} AS k_min,
                   {_encase_max_sql("mn", "mx")} AS k_max
            FROM ks JOIN agg USING (event_type)
            ORDER BY event_type
        """


# rows-only: the recursive merge state is not SQL-expressible
# (SURVEY.md §2 A1/A8)

def props_schema(spark, sf):
    res = _props_result(spark, sf)
    rendered = json.dumps(res.schema(CTX), sort_keys=True)
    return spark.createDataFrame(
        [(rendered, res.n_ok, res.n_err)],
        "schema string, n_ok long, n_err long")


def by_event_type(spark, sf):
    return infer_json_column_by_key(table(spark, sf, "events"), "props",
                                    "event_type", CTX).orderBy("event_type")


# --- flat-column profiles --------------------------------------------------

def _string_profile_sql(name: str, col: str) -> str:
    return f"""
    SELECT count(*)::BIGINT AS n_rows,
           count({col})::BIGINT AS n_present,
           min(length({col})) AS min_len,
           max(length({col})) AS max_len,
           count(DISTINCT {col})::BIGINT AS n_distinct,
           sum(CASE WHEN regexp_matches({col}, '{_UUID_RE}') THEN 1 ELSE 0 END)::BIGINT AS n_uuid,
           sum(CASE WHEN regexp_matches({col}, '{_IPV4_RE}') THEN 1 ELSE 0 END)::BIGINT AS n_ipv4,
           sum(CASE WHEN regexp_matches({col}, '{_URI_RE}') THEN 1 ELSE 0 END)::BIGINT AS n_uri,
           sum(CASE WHEN regexp_matches({col}, '{_DT_RE}') THEN 1 ELSE 0 END)::BIGINT AS n_datetime
    FROM {name}
    """


def _numeric_profile_sql(name: str, col: str) -> str:
    return f"""
    WITH agg AS (
      SELECT count(*)::BIGINT AS n_rows, count({col})::BIGINT AS n_present,
             min({col})::DOUBLE AS min_val, max({col})::DOUBLE AS max_val
      FROM {name})
    SELECT n_rows, n_present, min_val, max_val,
      {_encase_min_sql("min_val", "max_val")} AS encased_min,
      {_encase_max_sql("min_val", "max_val")} AS encased_max
    FROM agg
    """


def doc_text_profile(spark, sf):
    return S.string_profile(table(spark, sf, "documents"), "text")


DOC_TEXT_PROFILE = _string_profile_sql("documents", "text")


def cname_profile(spark, sf):
    return S.string_profile(table(spark, sf, "customer"), "c_name")


CNAME_PROFILE = _string_profile_sql("customer", "c_name")


def quantity_profile(spark, sf):
    return S.numeric_profile(table(spark, sf, "lineitem"), "l_quantity")


QUANTITY_PROFILE = _numeric_profile_sql("lineitem", "l_quantity")


def acctbal_profile(spark, sf):
    # negative balances reach the -32768 encasing branch, which
    # l_quantity never does
    return S.numeric_profile(table(spark, sf, "customer"), "c_acctbal")


ACCTBAL_PROFILE = _numeric_profile_sql("customer", "c_acctbal")


def _enum(spark, sf, name, col, k):
    df = S.enum_candidates(table(spark, sf, name), col, k)
    return df.select("n_distinct",
                     F.array_join("enum", ",").alias("enum_csv"))


def _enum_sql(name: str, col: str, k: int) -> str:
    return f"""
            SELECT count(DISTINCT {col})::BIGINT AS n_distinct,
                   CASE WHEN count(DISTINCT {col}) <= {k}
                        THEN array_to_string(list_sort(list(DISTINCT {col})), ',')
                        END AS enum_csv
            FROM {name}
        """


def orderpriority_enum(spark, sf):
    return _enum(spark, sf, "orders", "o_orderpriority", 8)


ORDERPRIORITY_ENUM = _enum_sql("orders", "o_orderpriority", 8)


def event_type_enum(spark, sf):
    # tombstoned: > 3 distinct values at K=3 -> NULL (E1 elimination)
    return _enum(spark, sf, "events", "event_type", 3)


EVENT_TYPE_ENUM = _enum_sql("events", "event_type", 3)


def source_key_dupes(spark, sf):
    return S.duplicate_keys(table(spark, sf, "documents"), "source") \
            .orderBy("key_a", "key_b")


def source_key_dupes_distributed(spark, sf):
    # the past-the-guard plan (deletion-neighborhood equi-join + exact
    # levenshtein verify) must produce byte-identical pairs to the
    # driver-side reference pairing — same oracle SQL
    return S.duplicate_keys_distributed(table(spark, sf, "documents"),
                                        "source") \
            .orderBy("key_a", "key_b")


SOURCE_KEY_DUPES = """
            WITH keys AS (
              SELECT DISTINCT source AS k FROM documents
              WHERE source IS NOT NULL AND length(source) > 3)
            SELECT DISTINCT least(a.k, b.k) AS key_a, greatest(a.k, b.k) AS key_b
            FROM keys a CROSS JOIN keys b
            WHERE a.k <> b.k
              AND levenshtein(lower(regexp_replace(a.k, '[-_]', '', 'g')),
                              lower(regexp_replace(b.k, '[-_]', '', 'g'))) <= 1
            ORDER BY key_a, key_b
        """


def props_segments(spark, sf):
    return S.segment_counts(table(spark, sf, "events"), "props", "$.k")


PROPS_SEGMENTS = """
            WITH seg AS (
              SELECT CASE WHEN json_extract_string(props, '$.k') IS NULL
                            OR trim(json_extract_string(props, '$.k')) = ''
                          THEN 'unmatched'
                          ELSE regexp_replace(
                                 substring(json_extract_string(props, '$.k'), 1, 30),
                                 '[^a-zA-Z0-9.-]', '_', 'g') END AS segment
              FROM events)
            SELECT segment, count(*)::BIGINT AS n FROM seg
            GROUP BY segment ORDER BY segment
        """


# ts is TIMESTAMP_NTZ; DuckDB's epoch(naive ts) is UTC-naive. NTZ
# interval arithmetic gives the same number WITHOUT reading (or
# mutating) the session timezone, so the query fn stays pure.
# FLOOR semantics, not the interval cast's truncation: for a pre-1970
# fractional-second ts the oracle's floor(epoch(ts)) is -1 where
# CAST(interval AS BIGINT) rounds toward zero to 0. Exact integer
# micros, then pmod-based floor division (pmod >= 0, the subtraction
# leaves an exact multiple of 1e6, so the double division is exact).
EPOCH_NTZ_SQL = (
    "CAST((timestampdiff(MICROSECOND,"
    " TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    " - pmod(timestampdiff(MICROSECOND,"
    " TIMESTAMP_NTZ '1970-01-01 00:00:00', {col}), 1000000))"
    " / 1000000 AS BIGINT)")


def latest_event(spark, sf):
    out = S.group_with_latest(table(spark, sf, "events"), ["user_id"],
                              ["ts", "event_id"])
    epoch = F.expr(EPOCH_NTZ_SQL.format(col="ts"))
    return out.select("user_id", "event_id", "event_type",
                      epoch.alias("ts_epoch")) \
              .orderBy("user_id")


LATEST_EVENT = """
            -- floor() matches Spark's truncating timestamp->long cast
            SELECT user_id, event_id, event_type,
                   floor(epoch(ts))::BIGINT AS ts_epoch
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id
        """


def snakify(spark, sf):
    # F4 snakify over distinct values (camelCase -> snake_case)
    df = table(spark, sf, "customer").select("c_mktsegment").distinct()
    return df.select(F.col("c_mktsegment").alias("raw"),
                     S.snakify(F.col("c_mktsegment")).alias("snake")) \
             .orderBy("raw")


SNAKIFY = """
            SELECT raw, lower(regexp_replace(raw, '([^A-Z_])([A-Z])', '\\1_\\2', 'g')) AS snake
            FROM (SELECT DISTINCT c_mktsegment AS raw FROM customer)
            ORDER BY raw
        """
