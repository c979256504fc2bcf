"""Corpus-selection queries (stratified sampling, sequence packing,
per-source quality top-k, hash split, domain-mix plan) with their
oracles. Every keep/assign decision is a pure function of md5 tokens or
pinned formulas, so both engines compute it bit-for-bit."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import table
from driver_queries.text import _EN
from schema_guru_spark.operators import sampling as SMP
from schema_guru_spark.operators import textstats as TS


def stratified(spark, sf):
    # deterministic per-source mixture downsampling: src0 kept whole,
    # progressively heavier cuts on src1-3, default rate for the rest;
    # the keep set is a pure function of (salt, doc_id, rates) — zero
    # shuffle, nested across rate changes, bit-reproducible in SQL
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.125}
    return SMP.stratified_sample(table(spark, sf, "documents"), "source",
                                 "doc_id", rates, default_rate=0.0625) \
              .orderBy("id")


STRATIFIED = r"""
            -- same md5-threshold predicate as the Spark plan; the
            -- rate-1.0 stratum compares against 'g' because every
            -- 8-char lowercase-hex token is < 'g' (NEVER a 9-char
            -- threshold: lexicographic order breaks across widths)
            SELECT doc_id AS id, source AS stratum,
                   substr(md5('sgs-sample:' || doc_id::VARCHAR), 1, 8)
                     AS keep_token
            FROM documents
            WHERE substr(md5('sgs-sample:' || doc_id::VARCHAR), 1, 8) <
                  CASE source
                    WHEN 'src0' THEN 'g'
                    WHEN 'src1' THEN '80000000'
                    WHEN 'src2' THEN '40000000'
                    WHEN 'src3' THEN '20000000'
                    ELSE '10000000' END
            ORDER BY id
        """


def pack(spark, sf):
    # token-budget sequence packing for training batches: whitespace
    # token counts (same expression as token_stats.n_ws_tokens), docs
    # concatenated in id order, seq = floor(start_offset / 2048); the
    # global prefix sum is two-phase (per-range partials + broadcast
    # offsets), never a single-task global window
    docs = table(spark, sf, "documents")
    toks = TS.token_stats(docs, "text", "doc_id", sorted_output=False) \
             .select("id", F.col("n_ws_tokens").alias("n_tok"))
    return SMP.pack_sequences(toks, "id", "n_tok", budget=2048)


PACK = r"""
            WITH toks AS (
              SELECT doc_id AS id,
                     coalesce(len(regexp_split_to_array(lower(trim(text)),
                                                        '\s+')), 0)::BIGINT
                       AS n_tok
              FROM documents),
            cum AS (
              SELECT id, n_tok,
                     sum(n_tok) OVER (ORDER BY id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tok AS st
              FROM toks)
            SELECT (st // 2048)::BIGINT AS seq_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_tok)::BIGINT AS n_tokens,
                   min(id) AS first_doc,
                   max(id) AS last_doc
            FROM cum GROUP BY seq_id ORDER BY seq_id
        """


def quality_topk(spark, sf):
    # per-domain quality selection: keep the 5 best docs per source
    # under the pinned quality formula (ties by id); map-side bounded
    # top-k before the per-stratum window
    return SMP.quality_topk_per_stratum(table(spark, sf, "documents"),
                                        "text", "doc_id", "source", k=5)


QUALITY_TOPK = rf"""
            WITH base AS (
              SELECT doc_id AS id, source AS stratum,
                     length(text)::INT AS n_chars,
                     len(regexp_split_to_array(lower(trim(text)), '\s+'))::INT
                       AS n_words,
                     len(regexp_extract_all(text, '[^\w\s]'))::BIGINT AS n_punct,
                     len(list_intersect(
                       regexp_split_to_array(lower(trim(text)), '\s+'),
                       {_EN}))::INT
                       AS n_stop
              FROM documents),
            scored AS (
              SELECT id, stratum, n_chars,
                     round(
                       0.25 * (CASE WHEN n_chars >= 50 AND n_chars <= 100000
                                    THEN 1.0 ELSE 0.0 END)
                     + 0.25 * (1 - least(round(n_punct / greatest(n_chars, 1), 6)
                                         * 4, 1.0))
                     + 0.25 * (CASE WHEN n_stop >= 2 THEN 1.0 ELSE 0.0 END)
                     + 0.25 * (CASE WHEN round((n_chars - (n_words - 1))
                                              / greatest(n_words, 1), 6)
                                    BETWEEN 2.0 AND 12.0
                                    THEN 1.0 ELSE 0.0 END), 6) AS quality
              FROM base),
            ranked AS (
              SELECT stratum, id, quality, n_chars,
                     row_number() OVER (PARTITION BY stratum
                                        ORDER BY quality DESC, id) AS rk
              FROM scored)
            SELECT stratum, rk::INT AS rank, id, quality, n_chars
            FROM ranked WHERE rk <= 5 ORDER BY stratum, rank
        """


# hash_split / mix_plan share these constants with their oracle twins so
# both engines compile from ONE cumulative sum / ONE driver-side
# target*budget product (see sampling.split_thresholds)
_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
_MIX_TARGETS = {"src0": 0.3, "src1": 0.2, "src2": 0.1}
_MIX_BUDGET = 200


def hash_split(spark, sf):
    # deterministic train/val/test assignment: exactly one label per
    # doc by cumulative md5-threshold regions — zero shuffle, stable
    # across partitioning/cluster size, train region nested under
    # fraction growth
    return SMP.hash_split(table(spark, sf, "documents"), "doc_id",
                          _SPLIT_FRACTIONS).orderBy("id")


# the boundary literals come from sampling.split_thresholds over the
# SAME fraction dict, so both engines compile one cumulative sum (never
# two float re-derivations that could disagree at a boundary)
_TOK = "substr(md5('sgs-sample:' || doc_id::VARCHAR), 1, 8)"
_WHENS = "\n".join(
    f"                 WHEN {_TOK} < '{thr}' THEN '{label}'"
    for label, thr in SMP.split_thresholds(_SPLIT_FRACTIONS))
HASH_SPLIT = f"""
            SELECT doc_id AS id,
                   CASE
{_WHENS}
                 ELSE '{list(_SPLIT_FRACTIONS)[-1]}' END AS split,
                   {_TOK} AS split_token
            FROM documents ORDER BY id
        """


def mix_plan(spark, sf):
    # target-mixture reweighting plan: per-source sampling rates for a
    # 200-doc budget at 30/20/10% target shares; one map-combined
    # groupBy over the source column, #strata output rows
    return SMP.domain_mix_plan(table(spark, sf, "documents"), "source",
                               _MIX_TARGETS, _MIX_BUDGET)


# target_frac and the target*budget numerator are embedded as repr() of
# the SAME Python doubles the Spark plan compiles (repr round-trips
# exactly through DuckDB's decimal->DOUBLE parse), so rate is one
# identical IEEE division in both engines
_TF = "".join(f" WHEN '{s}' THEN {t!r}::DOUBLE"
              for s, t in sorted(_MIX_TARGETS.items()))
_WANT = "".join(f" WHEN '{s}' THEN {float(t * _MIX_BUDGET)!r}::DOUBLE"
                for s, t in sorted(_MIX_TARGETS.items()))
MIX_PLAN = f"""
            WITH per AS (
              SELECT source AS stratum, count(*)::BIGINT AS n_rows
              FROM documents GROUP BY source),
            plan AS (
              SELECT stratum, n_rows,
                     CASE stratum{_TF} ELSE 0.0::DOUBLE END AS target_frac,
                     least(1.0, CASE stratum{_WANT} ELSE 0.0::DOUBLE END
                                / n_rows) AS rate
              FROM per)
            SELECT stratum, n_rows, target_frac, rate,
                   floor(rate * n_rows)::BIGINT AS expected_kept
            FROM plan ORDER BY stratum
        """
