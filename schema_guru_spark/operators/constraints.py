"""Second-pass constraint suite — uniqueness, referential integrity,
distribution drift (north_rule extensions; no reference counterpart,
semantics from BASELINE.json — SURVEY.md §2 'Similarity / join-like ops'
note).

Built-in Spark — broadcast anti-joins, window-function CDFs, HLL++ via
approx_count_distinct in the standalone uniqueness screen
(``uniqueness_hashed``) — plus one mergeable key sketch: HyperLogLog
registers over ``key_hash`` values, folded in Python tasks
(``hll_registers``) and estimated on the driver (``hll_estimate``); the
validation job's uniqueness screen uses these.
Scale notes per operator inline.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def uniqueness_exact(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Exact uniqueness of a key tuple: one row
    (n_rows, n_distinct, n_duplicates, is_unique).

    count(distinct struct) is a two-stage hash aggregate with partial
    combine; no collect. The struct is never NULL, so NULL key parts
    compare equal at the same position (the ``key_hash`` rule). At
    100 TB prefer ``uniqueness_hashed`` as the cheap screen and this as
    the confirmation pass.
    """
    kc = F.struct(*[F.col(k) for k in keys])
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(kc).alias("n_distinct"),
    ).select(
        "n_rows", "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).alias("n_duplicates"),
        (F.col("n_rows") == F.col("n_distinct")).alias("is_unique"),
    )


def key_hash_sql(seed: int, keys: Sequence[str]) -> str:
    """64-bit xxhash64 of a key tuple under ``seed``, NULL-aware, as SQL
    text (``key_hash`` parses it; a projection can take it as is).

    ``xxhash64`` skips NULL inputs, so on its own ``(r, NULL, c)`` and
    ``(r, c, NULL)`` hash alike. The NULL positions therefore go in as
    one more input, a bigint bit mask that is itself NULL (skipped) when
    no key part is NULL: NULL-free keys keep exactly the hash they always
    had, and keys that differ only in where their NULLs sit separate.
    The rule: NULL parts compare equal at the same position — the
    certain-key reading of a key with NULLs, and the one
    ``count(DISTINCT struct(keys))`` and a GROUP BY over the keys apply
    (ICDE 2019, "Entity Integrity, Referential Integrity, and Query
    Optimization with Embedded Uniqueness Constraints").

    The hashes are pinned: key sketches (``KEY_SKETCH``) stored in
    checkpoints hold them, so the text must keep every input's value
    and type (an int seed, string keys, a bigint mask)."""
    cols = ["`" + k.replace("`", "``") + "`" for k in keys]
    nulls = [f"{c} IS NULL" for c in cols]
    mask = "CAST(0 AS BIGINT)"
    for n in nulls:
        mask = f"({mask} * 2 + CAST({n} AS BIGINT))"
    return (f"xxhash64({seed}, {', '.join(cols)}, "
            f"CASE WHEN {' OR '.join(nulls)} THEN {mask} END)")


def key_hash(seed: int, keys: Sequence[str]) -> Column:
    """``key_hash_sql`` as a Column: one parsed expression, where the
    same tree built from Column calls costs ~25 py4j round trips a
    call."""
    return F.expr(key_hash_sql(seed, keys))


# ---------------------------------------------- mergeable key sketch
#
# HyperLogLog registers over ``key_hash`` values, built in the
# validation scan's Python tasks and merged and estimated on the
# driver. ``KEY_SKETCH`` names the format (precision and hash); a store
# of sketches pins it, so registers of another format are never merged.

KEY_SKETCH = "hll-p14-xxhash64"
HLL_P = 14
HLL_M = 1 << HLL_P        # 16384 one-byte registers: 16 KiB a sketch
_HLL_Q = 64 - HLL_P       # hash bits left for the rank


def hll_registers(hashes, regs=None):
    """Fold 64-bit hashes into HyperLogLog registers (a ``uint8`` array
    of ``HLL_M``; ``regs`` is updated in place when given). The top
    ``HLL_P`` bits of a hash pick its register; the register keeps the
    largest rank seen, the 1-based position of the first 1 bit in the
    other ``_HLL_Q`` bits (``_HLL_Q + 1`` when they are all 0). The
    registers of A ∪ B are the element-wise max of A's and B's
    (``hll_merge``), however the hashes are split."""
    if regs is None:
        regs = np.zeros(HLL_M, np.uint8)
    u = np.ascontiguousarray(hashes, dtype=np.int64).view(np.uint64)
    idx = (u >> np.uint64(_HLL_Q)).astype(np.intp)
    w = u & np.uint64((1 << _HLL_Q) - 1)
    # frexp's exponent is the bit length of w, exactly: w < 2^50 is a
    # float64 without rounding (a log2 would round 2^k - 1 up to k)
    rank = _HLL_Q + 1 - np.frexp(w.astype(np.float64))[1]
    np.maximum.at(regs, idx, rank.astype(np.uint8))
    return regs


def hll_merge(sketches):
    """Element-wise max of register arrays (or their bytes): the
    sketch of the union of their inputs. No sketch is the empty one."""
    out = np.zeros(HLL_M, np.uint8)
    for s in sketches:
        np.maximum(out, np.frombuffer(s, np.uint8), out=out)
    return out


def hll_estimate(regs) -> float:
    """Distinct-count estimate of HyperLogLog registers: Ertl's improved
    raw estimator ("New cardinality estimation algorithms for
    HyperLogLog sketches", 2017, Algorithm 6). It is close to unbiased
    over the whole range, from a handful of keys to far beyond 2^32,
    without bias tables or a linear-counting switch; exactly 0 for
    empty registers. Relative standard error ~1.04/sqrt(HLL_M) =
    0.81%."""
    c = np.bincount(np.frombuffer(regs, np.uint8), minlength=_HLL_Q + 2)
    m = float(HLL_M)
    if c[0] == HLL_M:
        return 0.0
    z = m * _hll_tau(1.0 - c[_HLL_Q + 1] / m)
    for k in range(_HLL_Q, 0, -1):
        z = 0.5 * (z + c[k])
    z += m * _hll_sigma(c[0] / m)
    return m * m / (2.0 * math.log(2.0) * z)


def _hll_sigma(x: float) -> float:
    # x + sum_k x^(2^k) 2^(k-1), for x < 1 (Ertl 2017, eq. 28)
    y, z = 1.0, x
    while True:
        x *= x
        z_old, z = z, z + x * y
        y += y
        if z == z_old:
            return z


def _hll_tau(x: float) -> float:
    # (1 - x - sum_k (1 - x^(2^-k))^2 2^-k) / 3 (Ertl 2017, eq. 31)
    if x in (0.0, 1.0):
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = math.sqrt(x)
        y *= 0.5
        z_old, z = z, z - (1.0 - x) ** 2 * y
        if z == z_old:
            return z / 3.0


def uniqueness_hashed(df: DataFrame, keys: Sequence[str], rsd: float = 0.02,
                      tolerance: float = 0.05,
                      prehashed: bool = False) -> DataFrame:
    """HLL++ vs exact uniqueness screen (north_rule): one row (n_rows,
    n_exact, n_approx, rel_err, hll_ok) — the exact and the approx
    distinct count of the key tuple, their relative gap and a pass
    flag. The key tuple is pre-hashed to a 128-bit pair of
    independently-seeded xxhash64 columns so the distinct aggregate
    shuffles 16 bytes/row instead of the raw key strings (~10x less
    exchange volume on path-like keys).

    Width matters at the north-rule's 10¹²-row target: a single 64-bit
    hash has birthday expectation ~n²/2⁶⁵ ≈ 27 phantom collisions at
    10¹² keys — the screen would cry wolf on every run and force the
    expensive exact confirmation it exists to avoid. Two independent
    64-bit halves put the expectation at ~n²/2¹²⁹ ≈ 1.5e-15 at 10¹²:
    two distinct keys must collide on BOTH halves to alias. Still a
    screen — confirmed by ``uniqueness_exact`` / ``duplicate_key_rows``
    when it fails — but one that stays quiet at full scale.

    ``prehashed=True`` declares that ``keys`` ALREADY ARE the two
    independently-seeded 64-bit hash columns (a caller that projects
    them once and reuses the projection for several checks) — the
    distinct runs on them directly instead of hashing the hashes a
    second time per row. ``pipeline.key_counts`` computes the exact
    count from one groupBy of such a hash pair (its number of groups);
    the pipeline's approximate count is the key sketch's
    (``hll_registers``), not HLL++.

    Each half is ``key_hash``, so NULL key parts compare equal at the
    same position, as in ``uniqueness_exact``.
    """
    if prehashed:
        if len(keys) != 2:
            raise ValueError("prehashed=True expects exactly the two "
                             "64-bit hash columns")
        h = F.struct(F.col(keys[0]).alias("h1"), F.col(keys[1]).alias("h2"))
    else:
        # seed independence: xxhash64's seed feeds the initial
        # accumulator, so distinct literal seeds give (empirically)
        # independent 64-bit functions; seed column first => different
        # first-lane mixing
        h = F.struct(key_hash(0x5EED0, keys).alias("h1"),
                     key_hash(0x5EED1, keys).alias("h2"))
    # NEVER put count_distinct and approx_count_distinct in one agg: the
    # mixed distinct/non-distinct plan goes through Expand and runs ~15x
    # slower (measured 40.8s vs 2.6+2.4s on 8M rows). Two aggregates,
    # 1-row crossJoin.
    exact = df.agg(F.count(F.lit(1)).alias("n_rows"),
                   F.count_distinct(h).alias("n_exact"))
    approx = df.agg(F.approx_count_distinct(h, rsd).alias("n_approx"))
    rel_err = (F.abs(F.col("n_approx") - F.col("n_exact")) /
               F.greatest(F.col("n_exact"), F.lit(1)))
    return exact.crossJoin(approx).select(
        "n_rows", "n_exact", "n_approx", rel_err.alias("rel_err"),
        (rel_err <= tolerance).alias("hll_ok"))


def duplicate_key_rows(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Violation rows: key tuples appearing more than once, with their
    multiplicity. groupBy(keys) shuffles on the keys — at scale, skewed
    hot keys are handled by AQE skew mitigation; output is only the
    violating tuples."""
    return (df.groupBy(*keys)
              .agg(F.count(F.lit(1)).alias("n_occurrences"))
              .where(F.col("n_occurrences") > 1)
              .orderBy(*keys))


def referential_violations(facts: DataFrame, dims: DataFrame,
                           fk: str, pk: str) -> DataFrame:
    """Referential integrity: fact rows whose FK has no matching dim PK.
    Broadcast LEFT ANTI join — the dimension is broadcast to every
    executor, so the fact table is never shuffled (the whole point at
    100 TB: one scan, zero exchange of the big side)."""
    dim_keys = dims.select(F.col(pk).alias(fk)).distinct()
    return facts.join(F.broadcast(dim_keys), on=fk, how="left_anti")


def orphan_key_counts(facts: DataFrame, dims: DataFrame,
                      fk: str, pk: str) -> DataFrame:
    """Aggregated RI violations: orphan FK values + how many fact rows
    reference them (compact violation summary for the verdict table)."""
    return (referential_violations(facts, dims, fk, pk)
            .groupBy(fk).agg(F.count(F.lit(1)).alias("n_orphan_rows"))
            .orderBy(fk))


def psi(df: DataFrame, value_col: str, group_col: str,
        baseline, target, n_bins: int = 10) -> DataFrame:
    """Population Stability Index between two groups' distributions of a
    numeric column, on fixed-width bins over the GLOBAL [min, max].

    PSI = Σ (p_t - p_b) · ln(p_t / p_b), with Laplace-smoothed
    proportions so empty bins don't blow up. Two passes: a tiny global
    min/max aggregate (crossJoin of a 1-row frame — broadcast), then one
    groupBy(bin). Deterministic: exact counts, fixed bins; result rounded
    to 6 decimals for cross-engine comparison.
    """
    c = F.col(value_col)
    sub = df.where(F.col(group_col).isin([baseline, target]) & c.isNotNull())
    bounds = sub.agg(F.min(c).alias("lo"), F.max(c).alias("hi"))
    binned = (
        sub.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bin",
            F.least(
                F.lit(n_bins - 1),
                F.floor((c - F.col("lo")) /
                        ((F.col("hi") - F.col("lo")) / n_bins + 1e-12)).cast("int"),
            ),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col(group_col) == baseline, 1).otherwise(0)).alias("nb"),
            F.sum(F.when(F.col(group_col) == target, 1).otherwise(0)).alias("nt"),
        )
    )
    # n_bins rows — materialize once (lazily); tot and terms both derive
    # from it and would otherwise each re-scan the base table (4 scans)
    binned = binned.localCheckpoint(eager=False)
    tot = binned.agg(F.sum("nb").alias("tb"), F.sum("nt").alias("tt"))
    terms = (
        binned.crossJoin(F.broadcast(tot))
        .select(
            ((F.col("nb") + 0.5) / (F.col("tb") + 0.5 * n_bins)).alias("pb"),
            ((F.col("nt") + 0.5) / (F.col("tt") + 0.5 * n_bins)).alias("pt"),
        )
        .select(((F.col("pt") - F.col("pb")) * F.log(F.col("pt") / F.col("pb")))
                .alias("term"))
    )
    return terms.agg(F.round(F.sum("term"), 6).alias("psi"))


def ks_two_sample(df: DataFrame, value_col: str, group_col: str,
                  g1, g2, n_range_parts: int = 16) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic: max |CDF₁ - CDF₂| over the
    pooled sample — EXACT, rank-based, and fully distributed.

    Tie-correct: counts are aggregated PER DISTINCT VALUE first (the CDF
    only jumps at observed values), so everything downstream runs over
    the (value, d1, d2) frame, never the raw rows.

    The cumulative sums use a distributed prefix-sum instead of a global
    window (the previous plan's ``Window.orderBy(v)`` with no partition
    serialized the whole CDF on one task — the classic `WindowExec: No
    Partition Defined` scale bug):

      1. LOGICAL range buckets: pid = #(quantile boundaries < v), a
         pure function of the value (no physical partition ids, no
         dependence on exchange reuse or partitioner sampling).
      2. per-bucket subtotals of (d1, d2) — bounded by n_range_parts
         rows — turned into exclusive prefix offsets by a tiny
         triangular join, all in one DAG.
      3. windows partitioned BY the bucket id, offset-joined — every
         bucket computes its CDF slice in parallel.

    For continuous data at 100 TB where even |distinct| is unbounded,
    ``ks_two_sample_sketch`` computes the same statistic from mergeable
    quantile sketches in one aggregation pass. Result rounded to 6
    decimals.
    """
    c = F.col(value_col)
    sub = (df.where(F.col(group_col).isin([g1, g2]) & c.isNotNull())
             .select(c.alias("v"), F.col(group_col).alias("g")))
    per_value = sub.groupBy("v").agg(
        F.sum(F.when(F.col("g") == g1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("g") == g2, 1).otherwise(0)).alias("d2"),
    )
    # materialize the per-value reduction ONCE: four branches read it
    # (boundaries, bucket subtotals, group totals, the windowed CDF) and
    # without the checkpoint each branch re-runs the raw-row aggregate —
    # measured 2.9x the serial plan's wall-clock at 583k distinct values
    # purely from recompute (BENCH/REGRESSION_r03.md). eager=False:
    # construction stays side-effect-free; the first action materializes
    per_value = per_value.localCheckpoint(eager=False)
    # LOGICAL range buckets: pid is a pure function of the value (count
    # of quantile boundaries below it), not a physical partition id — so
    # correctness never depends on exchange reuse or partitioner seeds.
    # Boundaries come from one percentile_approx over the (already
    # reduced) per-value frame; 1-row broadcast. Accuracy only affects
    # bucket BALANCE (any boundary set gives the same statistic), so the
    # cheap sketch setting is correct.
    bnd = per_value.agg(F.percentile_approx(
        "v", [i / n_range_parts for i in range(1, n_range_parts)],
        1_000).alias("bs"))
    ranged = (per_value.crossJoin(F.broadcast(bnd))
              .withColumn("pid",
                          F.size(F.filter("bs",
                                          lambda b: b < F.col("v"))))
              .drop("bs"))
    # Exclusive prefix offsets per range bucket, computed WITHOUT a
    # global window or a driver collect: the per-pid subtotal frame is
    # bounded by n_range_parts rows, so the triangular (b.pid < a.pid)
    # self-join is a tiny broadcast nested loop and the whole statistic
    # stays one DAG.
    # n_range_parts rows — checkpointed because THREE consumers derive
    # from it (both sides of the triangular offset join and the totals);
    # unchecked, each consumer re-runs the full per-value bucket
    # aggregate (measured: 5 passes over the per-value frame instead of
    # 3 at 6M distinct values)
    pid_tot = ranged.groupBy("pid").agg(F.sum("d1").alias("s1"),
                                        F.sum("d2").alias("s2")) \
        .localCheckpoint(eager=False)
    a, b = pid_tot.alias("a"), pid_tot.alias("b")
    off = (a.join(b, F.col("b.pid") < F.col("a.pid"), "left")
           .groupBy(F.col("a.pid").alias("pid"))
           .agg(F.coalesce(F.sum("b.s1"), F.lit(0)).alias("off1"),
                F.coalesce(F.sum("b.s2"), F.lit(0)).alias("off2")))
    # an absent/empty group must surface as NULL (old behavior), not as
    # a clamped denominator that fakes ks_stat = 1.0 on a typo'd label
    tot = pid_tot.agg(
        F.when(F.sum("s1") > 0, F.sum("s1").cast("double")).alias("n1"),
        F.when(F.sum("s2") > 0, F.sum("s2").cast("double")).alias("n2"))
    w = (Window.partitionBy("pid").orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cdfs = (
        ranged
        .withColumn("c1", F.sum("d1").over(w))
        .withColumn("c2", F.sum("d2").over(w))
        .join(F.broadcast(off), "pid")
        .crossJoin(F.broadcast(tot))
        .select((F.abs((F.col("c1") + F.col("off1")) / F.col("n1")
                       - (F.col("c2") + F.col("off2")) / F.col("n2")))
                .alias("gap"))
    )
    return cdfs.agg(F.round(F.max("gap"), 6).alias("ks_stat"))


def drift_by_partition(df: DataFrame, value_col: str, part_col: str,
                       n_bins: int = 10) -> DataFrame:
    """Per-partition drift vs the global distribution: PSI of each
    partition's histogram against the all-partitions histogram, in ONE
    groupBy(partition, bin) pass + a broadcast of the tiny global
    histogram. This is the scale path (no per-partition jobs)."""
    c = F.col(value_col)
    sub = df.where(c.isNotNull())
    bounds = sub.agg(F.min(c).alias("lo"), F.max(c).alias("hi"))
    binned = (
        sub.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bin",
            F.least(
                F.lit(n_bins - 1),
                F.floor((c - F.col("lo")) /
                        ((F.col("hi") - F.col("lo")) / n_bins + 1e-12)).cast("int"),
            ),
        )
        .groupBy(part_col, "bin").agg(F.count(F.lit(1)).alias("n"))
    )
    # #parts x n_bins rows — materialize once (lazily): FOUR consumers
    # derive from it (terms directly, glob, gtot via glob, ptot) and
    # without the checkpoint each consumer re-scans the base table
    binned = binned.localCheckpoint(eager=False)
    glob = binned.groupBy("bin").agg(F.sum("n").alias("gn"))
    gtot = glob.agg(F.sum("gn").alias("gt"))
    ptot = binned.groupBy(part_col).agg(F.sum("n").alias("pt_n"))
    terms = (
        binned.join(F.broadcast(glob), "bin")
        .join(F.broadcast(gtot.crossJoin(ptot)), part_col)
        .select(
            part_col,
            ((F.col("n") + 0.5) / (F.col("pt_n") + 0.5 * n_bins)).alias("pp"),
            ((F.col("gn") + 0.5) / (F.col("gt") + 0.5 * n_bins)).alias("pg"),
        )
        .select(part_col,
                ((F.col("pp") - F.col("pg")) * F.log(F.col("pp") / F.col("pg")))
                .alias("term"))
    )
    return (terms.groupBy(part_col)
            .agg(F.round(F.sum("term"), 6).alias("psi"))
            .orderBy(part_col))


def drift_psi_report(df: DataFrame, value_col: str, part_col: str,
                     n_bins: int = 10) -> dict:
    """Fast path of ``drift_by_partition``: the same PSI-vs-global
    semantics, but the per-(partition, bin) histogram —
    partition-cardinality, ~#parts x n_bins rows regardless of table
    size — is collected and the PSI arithmetic runs on the driver.

    ``drift_by_partition`` chains ~8 AQE query stages (joins of tiny
    frames), each a scheduling barrier that costs the same at any
    parallelism; at 1M rows that fixed latency dominated the whole
    constraint pass (~4s serial, measured). This path is one min/max
    aggregate plus ONE groupBy shuffle of the histogram. Its bins depend
    on the whole column's [min, max], so its histograms do not merge
    across tables or appends; the validation job's drift
    (``pipeline.bucket_psi``) uses fixed log-spaced bins instead, so the
    scan can count them and every fold can sum them.

    Returns {part_value: psi} (floats, rounded 6dp like the SQL path);
    {} when every value is NULL.
    """
    import math

    c = F.col(value_col)
    lo, hi = df.agg(F.min(c), F.max(c)).collect()[0]
    if lo is None:
        return {}
    width = (hi - lo) / n_bins + 1e-12
    rows = (
        df.where(c.isNotNull())
        .withColumn(
            "bin",
            F.least(F.lit(n_bins - 1),
                    F.floor((c - F.lit(lo)) / F.lit(width)).cast("int")))
        .groupBy(part_col, "bin").agg(F.count(F.lit(1)).alias("n"))
        .collect())
    glob: dict = {}
    parts: dict = {}
    for r in rows:
        glob[r["bin"]] = glob.get(r["bin"], 0) + r["n"]
        parts.setdefault(r[part_col], {})[r["bin"]] = r["n"]
    gt = sum(glob.values())
    out = {}
    for p, hist in parts.items():
        pt = sum(hist.values())
        s = 0.0
        for b, gn in glob.items():
            # identical Laplace smoothing to the SQL path, which inner-
            # joins per-partition and global histograms — bins ABSENT
            # from this partition are therefore SKIPPED, not smoothed in
            # (drift_by_partition parity is the contract; an all-bins
            # PSI would be a different, larger statistic)
            n = hist.get(b)
            if n is None:
                continue
            pp = (n + 0.5) / (pt + 0.5 * n_bins)
            pg = (gn + 0.5) / (gt + 0.5 * n_bins)
            s += (pp - pg) * math.log(pp / pg)
        out[p] = round(s, 6)
    return out


def completeness(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column completeness (non-null fraction) — the standard data
    quality screen, one hash aggregate for ALL columns (no per-column
    jobs). Output: one row per column (column, n_rows, n_present,
    completeness 6dp), ordered by column name."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__p_{c}"))
    row = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"__p_{c}").alias("n_present"))
        for c in cols
    ])
    return (row.select("n_rows", F.explode(pairs).alias("e"))
            .select(F.col("e.column").alias("column"),
                    "n_rows",
                    F.col("e.n_present").alias("n_present"),
                    F.round(F.col("e.n_present") /
                            F.greatest(F.col("n_rows"), F.lit(1)), 6)
                    .alias("completeness"))
            .orderBy("column"))


def functional_dependency(df: DataFrame, lhs: Sequence[str],
                          rhs: Sequence[str]) -> DataFrame:
    """Does the functional dependency lhs -> rhs hold? One aggregate:
    group by the determinant tuple, count groups where the dependent
    tuple is not unique. Output: (n_groups, n_violating_groups,
    n_violating_rows, holds). The per-group state is two counters —
    map-side combined, skew-safe (a hot determinant costs one group).

    Null semantics: the dependent tuple is wrapped in a struct, so a
    NULL dependent counts as a distinct VALUE — a group containing
    {x, NULL} violates the dependency (strict FD semantics). Plain SQL
    ``count(DISTINCT col)`` skips NULLs and would let that group pass;
    mirror with ``count(DISTINCT ROW(col))``-style structs or filter
    nulls first when comparing engines on nullable dependents.
    """
    lt = F.struct(*[F.col(c) for c in lhs])
    rt = F.struct(*[F.col(c) for c in rhs])
    per = (df.groupBy(lt.alias("_l"))
           .agg(F.count_distinct(rt).alias("nd"),
                F.count(F.lit(1)).alias("n")))
    return per.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
         .alias("n_violating_groups"),
        F.sum(F.when(F.col("nd") > 1, F.col("n")).otherwise(0))
         .alias("n_violating_rows"),
    ).select(
        "n_groups", "n_violating_groups", "n_violating_rows",
        (F.col("n_violating_groups") == 0).alias("holds"),
    )


def moment_columns(n, s1, s2, s3, s4):
    """Standardized moments (mean, variance, skew, excess kurtosis) from
    power-sum Columns — ONE fixed operation order, mirrored verbatim in
    the DuckDB oracle SQL (`driver_queries.constraints._moments_sql`)
    so the IEEE doubles reproduce bit-for-bit. Shared by the batch
    per-partition screen and the streaming windowed monitor."""
    n = n.cast("double")
    s1, s2, s3, s4 = [s.cast("double") for s in (s1, s2, s3, s4)]
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    m4 = (s4 / n - 4 * mean * (s3 / n)
          + 6 * mean * mean * (s2 / n)
          - 3 * mean * mean * mean * mean)
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2) - 3
    return mean, m2, skew, kurt


def power_sum_aggs(value_col: str):
    """The five power-sum aggregate expressions (n, s1..s4) over an
    integral column — exact bigint sums, mergeable by construction."""
    v = F.col(value_col).cast("bigint")
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    ]


def moment_drift_by_partition(df: DataFrame, value_col: str,
                              part_col: str) -> DataFrame:
    """Moment-sketch drift screen (cf. "Moment-Based Quantile Sketches",
    VLDB 2018 — PAPERS.md): per partition accumulate the power sums
    (n, Σx, Σx², Σx³, Σx⁴) in ONE map-side-combined aggregate, then
    compare each partition's standardized moments (mean, variance,
    skewness, excess kurtosis) against the global ones. No histogram,
    no quantile pass, state is 5 numbers per partition — the cheapest
    possible mergeable drift statistic at 100 TB.

    Exact-integer fast path: the column is cast to bigint (caller
    guarantees an integral domain, e.g. counts/quantities), so the
    power sums are EXACT and identical across engines/partitionings —
    Σx⁴ of values up to ~10⁴ stays inside int64 up to ~10⁶ rows and is
    map-side combined as longs; for larger volumes or continuous
    columns use ``drift_by_partition`` (histogram PSI) or the KS
    sketch. Moment ratios are evaluated with one fixed operation order
    so the doubles reproduce bit-for-bit in the DuckDB oracle.
    """
    v = F.col(value_col).cast("bigint")
    sub = df.where(v.isNotNull())
    # #parts rows — materialize once; glob and the output projection
    # both derive from it (two base-table scans otherwise)
    per = sub.groupBy(F.col(part_col).alias("p")).agg(
        *power_sum_aggs(value_col)).localCheckpoint(eager=False)
    glob = per.agg(F.sum("n").alias("n"), F.sum("s1").alias("s1"),
                   F.sum("s2").alias("s2"), F.sum("s3").alias("s3"),
                   F.sum("s4").alias("s4"))

    def moments(prefix_n, prefix_s):
        return moment_columns(
            F.col(prefix_n), *[F.col(f"{prefix_s}{i}") for i in (1, 2, 3, 4)])

    pm, pv, ps, pk = moments("n", "s")
    gm, gv, gs, gk = moments("gn", "gs")
    g = glob.select(F.col("n").alias("gn"),
                    *[F.col(f"s{i}").alias(f"gs{i}") for i in (1, 2, 3, 4)])
    out = (per.crossJoin(F.broadcast(g))
           .select(
               F.col("p").alias(part_col),
               F.col("n"),
               F.round(pm, 6).alias("mean"),
               F.round(pv, 6).alias("variance"),
               F.round(ps, 6).alias("skewness"),
               F.round(pk, 6).alias("kurtosis_ex"),
               F.round(F.greatest(
                   F.abs(pm - gm) / F.sqrt(gv),
                   F.abs(F.sqrt(pv) - F.sqrt(gv)) / F.sqrt(gv),
                   F.abs(ps - gs),
                   F.abs(pk - gk) / F.lit(2.0),
               ), 6).alias("moment_distance"),
           )
           .orderBy(part_col))
    return out


def ks_two_sample_sketch(df: DataFrame, value_col: str, group_col: str,
                         g1, g2, n_quantiles: int = 200,
                         accuracy: int = 10000) -> float:
    """Sketch-based two-sample KS — the 100 TB path promised by
    ``ks_two_sample``'s docstring: ONE aggregation pass computes each
    group's quantile sketch via ``percentile_approx`` (Spark's
    QuantileSummaries — the t-digest-style mergeable quantile sketch,
    map-side combined like any aggregate), then the KS statistic is the
    max CDF gap over the pooled cut-points, evaluated on the driver
    over ~2*n_quantiles floats.

    Exactness: error is bounded by sketch accuracy + 1/n_quantiles;
    with the defaults the statistic lands within ~0.01 of the exact
    rank-based value (pinned by test_ks_sketch_close_to_exact). Unlike
    the exact path there is no per-distinct-value shuffle — the only
    data movement is the aggregate's partial sketches.
    """
    import bisect

    c = F.col(value_col)
    qs = [i / n_quantiles for i in range(n_quantiles + 1)]
    rows = (df.where(F.col(group_col).isin([g1, g2]) & c.isNotNull())
              .groupBy(group_col)
              .agg(F.percentile_approx(value_col, qs, accuracy).alias("qv"))
              .collect())
    sk = {r[group_col]: list(r["qv"]) for r in rows}
    if g1 not in sk or g2 not in sk:
        return 0.0
    a, b = sk[g1], sk[g2]

    def cdf(qv, x):
        # step-CDF estimate from a quantile vector: fraction of levels
        # whose cut-point is <= x
        return bisect.bisect_right(qv, x) / (len(qv) - 1)

    # evaluate BOTH step-CDFs at every pooled cut-point with the same
    # estimator — using the quantile level i/m directly is biased on
    # tied cut-points (integer-valued columns), where one value spans
    # many levels
    gap = 0.0
    for x in set(a) | set(b):
        gap = max(gap, abs(cdf(a, x) - cdf(b, x)))
    return min(gap, 1.0)
