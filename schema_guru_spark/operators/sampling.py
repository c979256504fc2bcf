"""Corpus selection and packing operators for training-data pipelines:
deterministic stratified sampling, hash-based train/val/test splits,
target-mixture reweighting plans, token-budget sequence packing, and
per-stratum quality top-k selection.

Beyond-reference extensions (like dedup.py / textstats.py /
similarity.py): operators a large-scale LLM training-data pipeline
needs that the reference engine has no analogue for. Every operator is
deterministic (no RNG — hashing through md5, so the sampling decision
is bit-reproducible in ANSI SQL) and each has a DuckDB oracle twin in
driver_queries/sampling.py.

Scale notes per operator:

  stratified_sample   map-only, ZERO shuffle: the keep/drop decision is
                      a pure function of (salt, id, stratum rate), so
                      it parallelizes embarrassingly and never moves a
                      row. Hash-threshold sampling also gives NESTED
                      samples: raising a stratum's rate strictly grows
                      its kept set (the r=0.25 sample is a subset of the
                      r=0.5 sample), which makes downsampling reruns and
                      A/B ablations consistent across jobs.
  hash_split          map-only, ZERO shuffle: exactly-one-label
                      assignment by cumulative hash thresholds; the
                      60% train region is a subset of the 80% one
                      (same order + salt), so re-splits are consistent.
  domain_mix_plan     one map-combined groupBy over #strata keys; the
                      rate arithmetic is a single IEEE division so the
                      plan is bit-identical across engines. apply_mix_
                      plan collects the tiny plan and feeds
                      stratified_sample — the row filter itself never
                      shuffles.
  pack_sequences      the global prefix sum is two-phase (per-range
                      partials + broadcast offsets), NOT a single
                      global window — a Window.orderBy with no
                      partitionBy collapses to one task and is the
                      classic 100 TB scale-killer this avoids.
  quality_topk        map-side per-partition top-k (bounded memory,
                      Arrow-batched) runs BEFORE the per-stratum
                      window, so the shuffle moves at most
                      k x n_partitions rows per stratum instead of the
                      corpus; a hot stratum can no longer spill the
                      window sort.

Streaming: stratified_sample is a stateless projection+filter and
applies UNCHANGED to a streaming DataFrame (append mode, no state
store — stream==batch pinned in tests/test_sampling.py). The other two
are inherently global (a corpus-order prefix sum / an unbounded
per-stratum top-k) and are batch/micro-batch-recompute operators by
design.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType, FloatType

from schema_guru_spark.worker import worker_fn

# sampling decisions hash through md5 over "<salt>:<id>" — the salt
# decorrelates this operator's keep set from every other md5-keyed
# decision in the pipeline (dedup digests, fingerprints)
DEFAULT_SALT = "sgs-sample"


def _rate_to_hex_threshold(rate: float) -> str | None:
    """Map a [0,1] keep rate to an 8-hex-char threshold: a doc is kept
    iff the first 8 hex chars of its md5 token compare lexicographically
    below the threshold. Fixed-width lowercase hex makes lexicographic
    order == numeric order (NEVER emit a 9-char threshold: 'f...' >
    '100000000' is false lexicographically). rate >= 1 returns None
    (keep everything) so the width-8 invariant holds."""
    if rate >= 1.0:
        return None
    if rate <= 0.0:
        return "00000000"
    # defensive clamp: the width-8 invariant must not depend on float
    # rounding at the boundary. For every double rate < 1.0 the product
    # already stays below 2^32 (the one exact-halfway case, rate
    # = 1 - 2^-53, rounds DOWN under round-half-even — pinned by
    # test_threshold_width_invariant_at_boundary), but the clamp makes
    # the contract structural rather than an accident of IEEE rounding.
    return format(min(int(rate * (1 << 32)), (1 << 32) - 1), "08x")


def stratified_sample(df: DataFrame, strata_col: str, id_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = DEFAULT_SALT) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    md5(salt:id)[0:8] < threshold(rate(stratum)).

    The rate table is small (strata are domains/sources — tens to
    thousands) so it compiles to a literal CASE chain: no join, no
    shuffle, no broadcast — the plan is scan + filter + project and
    Catalyst pushes nothing because there is nothing left to push.
    Output: (id, stratum, keep_token), ordered by the caller if needed.

    Determinism contract: the kept set is a pure function of
    (salt, id, rates) — independent of partitioning, run, cluster size,
    and engine (the same predicate is ANSI SQL, see the oracle twin).
    """
    if not 0.0 <= default_rate:
        raise ValueError(f"default_rate must be >= 0, got {default_rate}")
    bad = {s: r for s, r in rates.items() if r < 0.0}
    if bad:
        raise ValueError(f"negative rates: {bad}")
    tok = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        1, 8)
    if default_rate >= 1.0:
        keep = F.lit(True)
    else:
        keep = tok < F.lit(_rate_to_hex_threshold(default_rate))
    # sorted() so the compiled CASE chain is a deterministic function of
    # the rate dict, not of its insertion order
    for stratum in sorted(rates, reverse=True):
        thr = _rate_to_hex_threshold(rates[stratum])
        cond = F.lit(True) if thr is None else (tok < F.lit(thr))
        keep = F.when(F.col(strata_col) == stratum, cond).otherwise(keep)
    return (df.select(F.col(id_col).alias("id"),
                      F.col(strata_col).alias("stratum"),
                      tok.alias("keep_token"))
              .where(keep))


def hash_split(df: DataFrame, id_col: str, fractions: dict[str, float],
               salt: str = DEFAULT_SALT) -> DataFrame:
    """Deterministic train/val/test assignment: each row gets exactly
    one split label, decided by where md5(salt:id)[0:8] falls among the
    cumulative-fraction thresholds.

    ``fractions`` is an ORDERED mapping label -> fraction (insertion
    order defines which hash region each label owns — keep it stable
    across jobs or the assignment changes); fractions must be positive
    and sum to 1 within 1e-9, and every cumulative fraction before the
    last label must stay below 1.0 (ValueError from
    ``split_thresholds`` otherwise). The last label takes the open tail
    region (no 9-char threshold, see ``_rate_to_hex_threshold``), so
    float rounding in the cumulative sum can never orphan a row.

    Scale shape: map-only, ZERO shuffle — the label is a pure function
    of (salt, id, fractions), independent of partitioning, run, and
    cluster size, and the same predicate is ANSI SQL (oracle twin).
    Growing the first label's fraction (same order, same salt) strictly
    grows its region — the 60% train set is a subset of the 80% one —
    so re-splits stay consistent across ablations. Being a stateless
    projection it applies UNCHANGED to a streaming DataFrame.
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    bad = {s: f for s, f in fractions.items() if f <= 0.0}
    if bad:
        raise ValueError(f"non-positive fractions: {bad}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total!r}")
    tok = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        1, 8)
    split = F.lit(list(fractions)[-1])  # open tail region
    # walk the boundaries in reverse so the earliest label's WHEN lands
    # outermost: CASE WHEN tok < thr_1 THEN l_1 WHEN tok < thr_2 ...
    for label, thr in reversed(split_thresholds(fractions)):
        split = F.when(tok < F.lit(thr), F.lit(label)).otherwise(split)
    return df.select(F.col(id_col).alias("id"), split.alias("split"),
                     tok.alias("split_token"))


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, str]]:
    """The (label, upper-threshold-hex) boundary list ``hash_split``
    compiles, for callers that need the same literals elsewhere (the
    DuckDB oracle twin embeds them so both engines compute the
    boundaries from ONE cumulative sum, not two float re-derivations).
    The last label has no threshold (open tail) and is omitted.

    A non-tail cumulative fraction that reaches 1.0 (e.g. {'a': 0.5,
    'b': 0.5, 'c': 1e-10}, within the sum tolerance) has no 8-hex
    threshold: it is refused with ValueError rather than compiled to a
    NULL comparison that silently empties the label's region."""
    bounds, cum = [], 0.0
    for label in list(fractions)[:-1]:
        cum += fractions[label]
        thr = _rate_to_hex_threshold(cum)
        if thr is None:
            raise ValueError(
                f"cumulative fraction through {label!r} reaches "
                f"{cum!r} >= 1.0 before the last label; every label "
                f"but the last must end below 1.0")
        bounds.append((label, thr))
    return bounds


def domain_mix_plan(df: DataFrame, strata_col: str,
                    targets: dict[str, float], budget: int) -> DataFrame:
    """Turn a target corpus mixture into per-stratum sampling rates:
    given target proportions per domain/source and a total document
    budget, compute rate_s = min(1, target_s * budget / n_s) plus the
    expected kept count — the plan a DoReMi-style static data mixture
    feeds into ``stratified_sample``.

    A stratum can be UNDERFULL (n_s < target_s * budget): its rate caps
    at 1.0 and expected_kept == n_s, so the realized mixture shifts —
    the plan reports it honestly (expected_kept < target_s * budget)
    rather than silently over-sampling other strata. Strata absent from
    ``targets`` get rate 0.

    Scale shape: one map-combined groupBy over the strata column — the
    exchange moves at most (#strata x #partitions) partial counts, and
    the output is #strata rows. The arithmetic computes target*budget
    driver-side as ONE double literal so rate is a single IEEE division
    identical across engines (oracle twin).

    Output: (stratum, n_rows, target_frac, rate, expected_kept)
    ordered by stratum.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    bad = {s: t for s, t in targets.items() if t < 0.0}
    if bad:
        raise ValueError(f"negative targets: {bad}")
    total = sum(targets.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"targets must sum to <= 1, got {total!r}")
    per = df.groupBy(F.col(strata_col).alias("stratum")) \
            .agg(F.count(F.lit(1)).alias("n_rows"))
    tf = F.lit(0.0)
    want = F.lit(0.0)
    # sorted() so the compiled CASE chain is a deterministic function
    # of the target dict, not of its insertion order
    for stratum in sorted(targets, reverse=True):
        t = float(targets[stratum])
        tf = F.when(F.col("stratum") == stratum, F.lit(t)).otherwise(tf)
        want = F.when(F.col("stratum") == stratum,
                      F.lit(t * budget)).otherwise(want)
    rate = F.least(F.lit(1.0), want / F.col("n_rows"))
    return (per.select(
                "stratum", "n_rows", tf.alias("target_frac"),
                rate.alias("rate"),
                F.floor(rate * F.col("n_rows")).cast("long")
                 .alias("expected_kept"))
               .orderBy("stratum"))


def apply_mix_plan(df: DataFrame, strata_col: str, id_col: str,
                   targets: dict[str, float], budget: int,
                   salt: str = DEFAULT_SALT) -> DataFrame:
    """Compute the mix plan and apply it: collect the per-stratum rates
    (tiny — #strata rows, the only driver-side step) and hand them to
    ``stratified_sample``, so the actual row filter stays the zero-
    shuffle hash-threshold projection. Strata outside ``targets`` are
    dropped (default_rate 0)."""
    plan = domain_mix_plan(df, strata_col, targets, budget).collect()
    rates = {r["stratum"]: float(r["rate"]) for r in plan
             if r["rate"] > 0.0}
    return stratified_sample(df, strata_col, id_col, rates,
                             default_rate=0.0, salt=salt)


def pack_sequences(df: DataFrame, id_col: str, token_col: str,
                   budget: int, n_ranges: int = 32) -> DataFrame:
    """Pack documents (in id order) into fixed token-budget training
    sequences: concatenate the corpus token stream in id order and
    assign each document to the sequence where it STARTS
    (seq_id = floor(start_offset / budget)). A document that crosses a
    boundary belongs to the sequence it starts in, so a sequence's
    n_tokens may exceed the budget by at most one document's tail —
    standard document-boundary packing.

    Scale shape: the global prefix sum is TWO-PHASE. Range-partition by
    id, localCheckpoint (pins the sampled range bounds so both branches
    of the diamond see the same partitioning), sum per partition, prefix
    the per-partition totals with a window over n_ranges ROWS (driver-
    bounded, not data-bounded), broadcast-join the offsets back, and
    cumsum WITHIN each range partition. No stage ever sees more than
    1/n_ranges of the data in one task; the only single-task window
    runs over n_ranges rows.

    Output: one row per sequence: (seq_id, n_docs, n_tokens, first_doc,
    last_doc), ordered by seq_id.

    Contract: ids must be UNIQUE — the packing order is "id ascending",
    and duplicate ids would make the intra-partition cumsum order (and
    so the whole packing) nondeterministic. A NULL token count is
    coalesced to 0: the document still lands in exactly one sequence
    (the one the running offset is in) and adds no tokens, so both
    conservation laws hold (sum of n_docs == input rows, sum of
    n_tokens == SUM(token_col)). Left NULL, it would null the document's
    start offset and drop it into a NULL seq_id group.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_ranges < 1:
        raise ValueError(f"n_ranges must be >= 1, got {n_ranges}")
    src = df.select(F.col(id_col).alias("id"),
                    F.coalesce(F.col(token_col).cast("long"), F.lit(0))
                     .alias("n_tok"))
    ranged = (src.repartitionByRange(n_ranges, "id")
                 .withColumn("_pid", F.spark_partition_id())
                 .localCheckpoint(eager=False))
    ptot = ranged.groupBy("_pid").agg(F.sum("n_tok").alias("_ptot"))
    # n_ranges rows: the single-partition window is over the per-range
    # TOTALS, never the data
    w_off = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = ptot.select(
        "_pid",
        F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)).alias("_off"))
    w_in = Window.partitionBy("_pid").orderBy("id")
    packed = (ranged.join(F.broadcast(offsets), "_pid")
              .withColumn(
                  "_start",
                  F.col("_off") + F.sum("n_tok").over(w_in) - F.col("n_tok"))
              # integer DIV, not floor(double-/): exact at any corpus
              # size (floor(a/b) via double loses exactness past 2^53)
              .withColumn("seq_id", F.expr(f"_start DIV {int(budget)}")))
    return (packed.groupBy("seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("n_tokens"),
                 F.min("id").alias("first_doc"),
                 F.max("id").alias("last_doc"))
            .orderBy("seq_id"))


def _pd_topk(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    """Top-k rows per stratum under (quality DESC, id ASC) — the same
    total order the final window uses, so the local pass is a correct
    pre-filter (top-k under a total order is a monoid)."""
    return (pdf.sort_values(["stratum", "quality", "id"],
                            ascending=[True, False, True], kind="mergesort")
               .groupby("stratum", sort=False).head(k))


def topk_by_score(scored: DataFrame, strata_col: str, id_col: str,
                  score_col: str, k: int,
                  compact_every: int = 64 * 1024) -> DataFrame:
    """Keep the k best-scoring rows per stratum, ties broken by id
    ascending (fully deterministic, partition-independent).

    NaN/NULL rule: a NaN score is read as NULL (missing) and comes back
    as NULL. Missing scores rank after every real score (-inf
    included), ties among them broken by id ascending — the map-side
    pandas sort and the final Spark window agree on this order, so the
    pre-filter never evicts a row the window would keep.

    Scale shape: a map-side per-PARTITION top-k (mapInPandas — the
    generator folds all of a partition's Arrow batches, compacting the
    accumulator whenever it exceeds ``compact_every`` rows so memory is
    bounded by max(batch, k x strata) rows) runs before the per-stratum
    window, so the exchange moves at most k x n_partitions rows per
    stratum. A skewed stratum (half the corpus from one domain) costs
    map-side CPU, never a spilling window sort. Input must already be
    NARROW (id, stratum, score[, small extras]) — never the text.
    """
    if k < 1:
        # pandas head(k<0) means "all but the last |k|" — a negative k
        # would silently do WORK in the local pass before the window
        # filter empties the result; refuse instead
        raise ValueError(f"k must be >= 1, got {k}")
    # the extras pass through under their ORIGINAL names next to the
    # id/stratum/quality aliases — a passthrough column that already
    # uses one of those names would duplicate it and every downstream
    # F.col() reference turns ambiguous; refuse up front
    clash = {c for c in scored.columns
             if c not in (id_col, strata_col, score_col)} \
        & {"id", "stratum", "quality"}
    if clash:
        raise ValueError(
            f"passthrough column(s) {sorted(clash)} collide with the "
            f"operator's reserved output names (id, stratum, quality); "
            f"rename them before calling topk_by_score")
    # NaN -> NULL up front: Spark orders NaN above +inf (first under
    # DESC) while the pandas pre-filter sorts it last; both put NULL
    # last. The survivors' NaN also comes back from pandas as NULL
    # (the Arrow conversion masks it), so normalizing here states the
    # rule instead of resting on that serializer detail
    score, score_type = F.col(score_col), scored.schema[score_col].dataType
    if isinstance(score_type, (DoubleType, FloatType)):
        score = F.nanvl(score, F.lit(None).cast(score_type))
    narrow = scored.select(
        F.col(id_col).alias("id"), F.col(strata_col).alias("stratum"),
        score.alias("quality"),
        *[c for c in scored.columns
          if c not in (id_col, strata_col, score_col)])

    @worker_fn
    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        n = 0
        for b in batches:
            acc.append(b)
            n += len(b)
            if n > compact_every:
                acc = [_pd_topk(pd.concat(acc, ignore_index=True), k)]
                n = len(acc[0])
        if acc:
            yield _pd_topk(pd.concat(acc, ignore_index=True), k)

    survivors = narrow.mapInPandas(part_topk, schema=narrow.schema)
    w = Window.partitionBy("stratum").orderBy(F.desc("quality"), F.asc("id"))
    return (survivors
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("stratum", "rank", "id", "quality",
                    *[c for c in narrow.columns
                      if c not in ("stratum", "id", "quality")])
            .orderBy("stratum", "rank"))


def quality_topk_per_stratum(df: DataFrame, text_col: str, id_col: str,
                             strata_col: str, k: int,
                             lang: str = "en") -> DataFrame:
    """Select the k highest-quality documents per stratum using the
    pinned quality formula from textstats (the single source of truth —
    same signals as quality_scores / curation_report / source_mix).
    Computes the score JVM-side over the text, then drops the payload
    BEFORE the top-k machinery: the map-side pre-filter and the window
    only ever see (id, stratum, quality, n_chars)."""
    from schema_guru_spark.operators.textstats import _quality_cols
    q = _quality_cols(F.col(text_col), lang)
    scored = df.select(F.col(id_col).alias("id"),
                       F.col(strata_col).alias("stratum"),
                       q["quality"].alias("quality"),
                       q["n_chars"].alias("n_chars"))
    return topk_by_score(scored, "stratum", "id", "quality", k)
