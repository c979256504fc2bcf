"""Constraint-suite queries (uniqueness, RI, drift, KS, completeness,
functional dependency) with their oracles."""

from __future__ import annotations

from driver_queries import table
from schema_guru_spark.operators import constraints as C


def lineitem_pk_unique(spark, sf):
    return C.uniqueness_exact(table(spark, sf, "lineitem"),
                              ["l_orderkey", "l_linenumber"])


LINEITEM_PK_UNIQUE = """
            SELECT count(*)::BIGINT AS n_rows,
                   count(DISTINCT (l_orderkey, l_linenumber))::BIGINT AS n_distinct,
                   (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT AS n_duplicates,
                   count(*) = count(DISTINCT (l_orderkey, l_linenumber)) AS is_unique
            FROM lineitem
        """


def orders_customer_ri(spark, sf):
    return C.orphan_key_counts(table(spark, sf, "orders"),
                               table(spark, sf, "customer"),
                               "o_custkey", "c_custkey")


ORDERS_CUSTOMER_RI = """
            SELECT o_custkey, count(*)::BIGINT AS n_orphan_rows
            FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
            GROUP BY o_custkey ORDER BY o_custkey
        """


def events_user_dup_rows(spark, sf):
    return C.duplicate_key_rows(table(spark, sf, "events"), ["user_id"]) \
            .orderBy("user_id")


EVENTS_USER_DUP_ROWS = """
            SELECT user_id, count(*)::BIGINT AS n_occurrences
            FROM events GROUP BY user_id HAVING count(*) > 1
            ORDER BY user_id
        """


def psi(spark, sf):
    return C.psi(table(spark, sf, "lineitem"), "l_extendedprice",
                 "l_returnflag", "R", "N", n_bins=10)


PSI = """
    WITH sub AS (
      SELECT l_extendedprice AS v, l_returnflag AS g FROM lineitem
      WHERE l_returnflag IN ('R','N') AND l_extendedprice IS NOT NULL),
    bounds AS (SELECT min(v)::DOUBLE AS lo, max(v)::DOUBLE AS hi FROM sub),
    binned AS (
      SELECT least(9,
               floor((v - lo) / ((hi - lo) / 10 + 1e-12))::INT) AS bin,
             sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END)::BIGINT AS nb,
             sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END)::BIGINT AS nt
      FROM sub, bounds GROUP BY 1),
    tot AS (SELECT sum(nb) AS tb, sum(nt) AS tt FROM binned),
    terms AS (
      SELECT ((nt + 0.5) / (tt + 0.5 * 10)) AS pt,
             ((nb + 0.5) / (tb + 0.5 * 10)) AS pb
      FROM binned, tot)
    SELECT round(sum((pt - pb) * ln(pt / pb)), 6) AS psi FROM terms
    """


def ks(spark, sf):
    return C.ks_two_sample(table(spark, sf, "lineitem"), "l_quantity",
                           "l_linestatus", "O", "F")


KS = """
            WITH per_value AS (
              SELECT l_quantity AS v,
                     sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS d1,
                     sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS d2
              FROM lineitem
              WHERE l_linestatus IN ('O','F') AND l_quantity IS NOT NULL
              GROUP BY 1),
            counts AS (SELECT sum(d1) AS n1, sum(d2) AS n2 FROM per_value),
            cdfs AS (
              SELECT sum(d1) OVER (ORDER BY v) AS c1,
                     sum(d2) OVER (ORDER BY v) AS c2
              FROM per_value)
            SELECT round(max(abs(c1 / n1 - c2 / n2)), 6) AS ks_stat
            FROM cdfs, counts
        """


def ks_sketch(spark, sf):
    # the 100 TB KS path: one aggregation pass over mergeable quantile
    # sketches (percentile_approx). No SQL oracle — DuckDB cannot
    # reproduce Spark's QuantileSummaries cut-points — so rows-only; the
    # exact query above stays the oracle-confirmed twin and
    # test_ks_sketch_close_to_exact pins the two within ~0.01.
    v = C.ks_two_sample_sketch(table(spark, sf, "lineitem"), "l_quantity",
                               "l_linestatus", "O", "F")
    return spark.createDataFrame([(round(v, 6),)], "ks_stat_sketch double")


def drift(spark, sf):
    return C.drift_by_partition(table(spark, sf, "lineitem"),
                                "l_extendedprice", "l_returnflag")


DRIFT = """
            WITH sub AS (SELECT l_extendedprice AS v, l_returnflag AS p
                         FROM lineitem WHERE l_extendedprice IS NOT NULL),
            bounds AS (SELECT min(v)::DOUBLE AS lo, max(v)::DOUBLE AS hi FROM sub),
            binned AS (
              SELECT p, least(9, floor((v - lo) / ((hi - lo) / 10 + 1e-12))::INT)
                       AS bin,
                     count(*)::BIGINT AS n
              FROM sub, bounds GROUP BY 1, 2),
            gl AS (SELECT bin, sum(n) AS gn FROM binned GROUP BY 1),
            gtot AS (SELECT sum(gn) AS gt FROM gl),
            ptot AS (SELECT p, sum(n) AS pt_n FROM binned GROUP BY 1),
            terms AS (
              SELECT b.p,
                     ((b.n + 0.5) / (ptot.pt_n + 5.0)) AS pp,
                     ((g.gn + 0.5) / (gtot.gt + 5.0)) AS pg
              FROM binned b JOIN gl g USING (bin)
              JOIN ptot ON ptot.p = b.p, gtot)
            SELECT p AS l_returnflag, round(sum((pp - pg) * ln(pp / pg)), 6) AS psi
            FROM terms GROUP BY 1 ORDER BY 1
        """


def moment_drift(spark, sf):
    return C.moment_drift_by_partition(table(spark, sf, "lineitem"),
                                       "l_quantity", "l_returnflag")


def _moments_sql(n: str, s1: str, s2: str, s3: str, s4: str) -> dict:
    """Standardized moments from exact integer power sums — operation
    order mirrors constraints.moment_drift_by_partition verbatim so the
    IEEE doubles reproduce bit-for-bit."""
    mean = f"(({s1})::DOUBLE / ({n})::DOUBLE)"
    s2n = f"(({s2})::DOUBLE / ({n})::DOUBLE)"
    s3n = f"(({s3})::DOUBLE / ({n})::DOUBLE)"
    s4n = f"(({s4})::DOUBLE / ({n})::DOUBLE)"
    m2 = f"({s2n} - {mean} * {mean})"
    m3 = f"(({s3n} - ((3 * {mean}) * {s2n})) + (((2 * {mean}) * {mean}) * {mean}))"
    m4 = (f"((({s4n} - ((4 * {mean}) * {s3n})) + (((6 * {mean}) * {mean}) * {s2n}))"
          f" - ((((3 * {mean}) * {mean}) * {mean}) * {mean}))")
    skew = f"({m3} / sqrt(({m2} * {m2}) * {m2}))"
    kurt = f"(({m4} / ({m2} * {m2})) - 3)"
    return {"mean": mean, "m2": m2, "skew": skew, "kurt": kurt}


_PM = _moments_sql("n", "s1", "s2", "s3", "s4")
_GM = _moments_sql("gn", "gs1", "gs2", "gs3", "gs4")
MOMENT_DRIFT = f"""
            WITH per AS (
              SELECT l_returnflag AS p, count(*)::BIGINT AS n,
                     sum(l_quantity::BIGINT)::BIGINT AS s1,
                     sum(l_quantity::BIGINT * l_quantity::BIGINT)::BIGINT AS s2,
                     sum((l_quantity::BIGINT * l_quantity::BIGINT)
                         * l_quantity::BIGINT)::BIGINT AS s3,
                     sum(((l_quantity::BIGINT * l_quantity::BIGINT)
                          * l_quantity::BIGINT) * l_quantity::BIGINT)::BIGINT AS s4
              FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
            g AS (SELECT sum(n)::BIGINT AS gn, sum(s1)::BIGINT AS gs1,
                         sum(s2)::BIGINT AS gs2, sum(s3)::BIGINT AS gs3,
                         sum(s4)::BIGINT AS gs4 FROM per)
            SELECT p AS l_returnflag, n,
                   round({_PM['mean']}, 6) AS mean,
                   round({_PM['m2']}, 6) AS variance,
                   round({_PM['skew']}, 6) AS skewness,
                   round({_PM['kurt']}, 6) AS kurtosis_ex,
                   round(greatest(
                     abs({_PM['mean']} - {_GM['mean']}) / sqrt({_GM['m2']}),
                     abs(sqrt({_PM['m2']}) - sqrt({_GM['m2']})) / sqrt({_GM['m2']}),
                     abs({_PM['skew']} - {_GM['skew']}),
                     abs({_PM['kurt']} - {_GM['kurt']}) / 2.0
                   ), 6) AS moment_distance
            FROM per, g ORDER BY l_returnflag
        """


def completeness(spark, sf):
    return C.completeness(table(spark, sf, "orders"),
                          ["o_orderkey", "o_custkey", "o_orderpriority",
                           "o_totalprice"])


COMPLETENESS = """
            WITH base AS (
              SELECT count(*)::BIGINT AS n_rows,
                     count(o_orderkey)::BIGINT AS c1,
                     count(o_custkey)::BIGINT AS c2,
                     count(o_orderpriority)::BIGINT AS c3,
                     count(o_totalprice)::BIGINT AS c4
              FROM orders)
            SELECT "column", n_rows, n_present,
                   round(n_present / greatest(n_rows, 1), 6)
                     AS completeness
            FROM (
              SELECT 'o_orderkey' AS "column", n_rows, c1 AS n_present
              FROM base
              UNION ALL SELECT 'o_custkey', n_rows, c2 FROM base
              UNION ALL SELECT 'o_orderpriority', n_rows, c3 FROM base
              UNION ALL SELECT 'o_totalprice', n_rows, c4 FROM base)
            ORDER BY "column"
        """


def fd(spark, sf):
    # l_orderkey -> l_returnflag does NOT hold (12k of 14.7k orders mix
    # flags at sf0.01) — checks the violating-group accounting, not
    # just a trivial pass
    return C.functional_dependency(table(spark, sf, "lineitem"),
                                   ["l_orderkey"], ["l_returnflag"])


FD = """
            WITH per AS (
              SELECT l_orderkey,
                     count(DISTINCT l_returnflag)::BIGINT AS nd,
                     count(*)::BIGINT AS n
              FROM lineitem GROUP BY 1)
            SELECT count(*)::BIGINT AS n_groups,
                   sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT
                     AS n_violating_groups,
                   sum(CASE WHEN nd > 1 THEN n ELSE 0 END)::BIGINT
                     AS n_violating_rows,
                   sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
            FROM per
        """
