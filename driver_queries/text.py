"""Text-analysis queries (token stats, language id, quality, PII,
repetition, contamination, span census, curation, source mix,
fingerprints) with their oracles. Every textstats operator is pure JVM
expressions, so each has an exact DuckDB twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import table
from schema_guru_spark.operators import textstats as TS


def token_stats(spark, sf):
    return TS.token_stats(table(spark, sf, "documents"), "text", "doc_id")


TOKEN_STATS = r"""
            SELECT doc_id AS id,
                   len(regexp_split_to_array(lower(trim(text)), '\s+'))::INT
                     AS n_ws_tokens,
                   len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::INT AS n_bpe_tokens,
                   length(text)::INT AS n_chars
            FROM documents ORDER BY id
        """


# the stopword lists and PII regexes of textstats, spelled once for
# every text oracle
_EN = "['the','and','of','to','a','in','is','it','for','on']"
_DE = "['der','die','das','und','ist','nicht','ein','mit','auf','zu']"
_ES = "['el','la','los','y','es','un','una','de','en','por']"
_FR = "['le','la','les','et','est','un','une','des','dans','pour']"
_EMAIL = r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'"
_PHONE = r"'(?:\+?[0-9]{1,3}[-. ]?)?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}'"
_SSN = r"'[0-9]{3}-[0-9]{2}-[0-9]{4}'"
_IPV4 = (r"'(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
         r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}'")


# every word-level oracle splits text the way textstats does
_WORDS = r"""w AS (
              SELECT doc_id AS id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),"""


def lang_id(spark, sf):
    return TS.lang_id(table(spark, sf, "documents"), "text", "doc_id")


LANG_ID = rf"""
            WITH {_WORDS}
            h AS (
              SELECT id,
                len(list_intersect(words, {_DE}))::INT AS h_de,
                len(list_intersect(words, {_EN}))::INT AS h_en,
                len(list_intersect(words, {_ES}))::INT AS h_es,
                len(list_intersect(words, {_FR}))::INT AS h_fr
              FROM w)
            SELECT id, h_de, h_en, h_es, h_fr,
              CASE WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
                   WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                   WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                   WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                   ELSE 'fr' END AS lang_pred
            FROM h ORDER BY id
        """


def quality(spark, sf):
    return TS.quality_scores(table(spark, sf, "documents"), "text", "doc_id")


QUALITY = rf"""
            WITH base AS (
              SELECT doc_id AS id, text,
                     length(text)::INT AS n_chars,
                     len(regexp_split_to_array(lower(trim(text)), '\s+'))::INT AS n_words,
                     len(regexp_extract_all(text, '[^\w\s]'))::BIGINT AS n_punct,
                     len(list_intersect(
                       regexp_split_to_array(lower(trim(text)), '\s+'),
                       {_EN}))::INT AS n_stop
              FROM documents),
            derived AS (
              SELECT id, n_chars, n_words,
                     round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
                     round(n_stop / 10, 6) AS stopword_hits,
                     round((n_chars - (n_words - 1)) / greatest(n_words, 1), 6)
                       AS mean_word_len,
                     n_stop
              FROM base)
            SELECT id, n_chars, n_words, punct_ratio, stopword_hits,
                   mean_word_len,
                   round(
                     0.25 * (CASE WHEN n_chars >= 50 AND n_chars <= 100000
                                  THEN 1.0 ELSE 0.0 END)
                   + 0.25 * (1 - least(punct_ratio * 4, 1.0))
                   + 0.25 * (CASE WHEN n_stop >= 2 THEN 1.0 ELSE 0.0 END)
                   + 0.25 * (CASE WHEN mean_word_len >= 2.0
                                   AND mean_word_len <= 12.0
                                  THEN 1.0 ELSE 0.0 END), 6) AS quality
            FROM derived ORDER BY id
        """


def pii(spark, sf):
    # pii_scan's output is already id-sorted (narrow pre-sort inside
    # the operator; re-sorting here would recompute the regex pass)
    return TS.pii_scan(table(spark, sf, "documents"), "text", "doc_id")


PII = rf"""
            SELECT doc_id AS id,
                   len(regexp_extract_all(text,
                       {_EMAIL})) AS n_email,
                   len(regexp_extract_all(text,
                       {_PHONE})) AS n_phone,
                   len(regexp_extract_all(text,
                       {_SSN})) AS n_ssn,
                   len(regexp_extract_all(text,
                       {_IPV4})) AS n_ipv4,
                   (n_email + n_phone + n_ssn + n_ipv4) > 0 AS has_pii
            FROM documents ORDER BY id
        """


def repetition(spark, sf):
    # Gopher-style within-doc repetition signals (dup n-gram fractions,
    # top-bigram share) — pure per-row array expressions, zero shuffle
    return TS.repetition_signals(table(spark, sf, "documents"),
                                 "text", "doc_id")


REPETITION = rf"""
            WITH {_WORDS}
            g AS (
              SELECT id, len(words)::INT AS n_words,
                     list_transform(generate_series(1, len(words)-1),
                       i -> array_to_string(words[i:i+1], ' ')) AS g2,
                     list_transform(generate_series(1, len(words)-2),
                       i -> array_to_string(words[i:i+2], ' ')) AS g3
              FROM w),
            top AS (
              SELECT id, max(cnt) AS top_n FROM (
                SELECT id, gram, count(*) AS cnt
                FROM (SELECT id, unnest(g2) AS gram FROM g) GROUP BY 1, 2)
              GROUP BY 1)
            SELECT g.id, n_words, len(g2)::INT AS n_2grams,
                   CASE WHEN len(g2) > 0
                        THEN round(1 - len(list_distinct(g2))/len(g2), 6)
                        ELSE 0.0 END AS dup_2gram_frac,
                   CASE WHEN len(g3) > 0
                        THEN round(1 - len(list_distinct(g3))/len(g3), 6)
                        ELSE 0.0 END AS dup_3gram_frac,
                   coalesce(top_n, 0)::INT AS top_2gram_n,
                   CASE WHEN len(g2) > 0
                        THEN round(coalesce(top_n, 0)/len(g2), 6)
                        ELSE 0.0 END AS top_2gram_frac
            FROM g LEFT JOIN top ON g.id = top.id ORDER BY g.id
        """


def contamination(spark, sf):
    # benchmark decontamination: corpus docs (id >= 5) screened against
    # a broadcast benchmark gram set built from docs 0-4
    docs = table(spark, sf, "documents")
    return TS.contamination_check(
        docs.where(F.col("doc_id") >= 5), docs.where(F.col("doc_id") < 5),
        "text", "doc_id", n=5)


CONTAMINATION = rf"""
            WITH {_WORDS}
            g AS (
              SELECT id, list_distinct(list_transform(
                       generate_series(1, len(words)-4),
                       i -> array_to_string(words[i:i+4], ' '))) AS g5
              FROM w),
            bench AS (SELECT DISTINCT unnest(g5) AS gram FROM g WHERE id < 5),
            dg AS (SELECT id, unnest(g5) AS gram FROM g WHERE id >= 5),
            hits AS (SELECT id, count(*) AS n_cont
                     FROM dg JOIN bench USING (gram) GROUP BY 1)
            SELECT g.id, len(g5)::INT AS n_grams,
                   coalesce(n_cont, 0)::INT AS n_contaminated,
                   round(coalesce(n_cont, 0)/greatest(len(g5), 1), 6)
                     AS contam_frac,
                   coalesce(n_cont, 0) > 0 AS contaminated
            FROM g LEFT JOIN hits ON g.id = hits.id
            WHERE g.id >= 5 ORDER BY g.id
        """


def span_census(spark, sf):
    # cross-document duplicated word-8-gram census (C4-style span-dedup
    # discovery pass): one shuffle keyed by span
    return TS.interdoc_span_census(table(spark, sf, "documents"),
                                   "text", "doc_id", k=8)


SPAN_CENSUS = rf"""
            WITH {_WORDS}
            e AS (
              SELECT id, unnest(list_transform(
                       generate_series(1, len(words)-7),
                       i -> array_to_string(words[i:i+7], ' '))) AS span
              FROM w)
            SELECT span, count(DISTINCT id)::INT AS n_docs,
                   count(*)::INT AS n_total
            FROM e GROUP BY span HAVING count(DISTINCT id) >= 2
            ORDER BY span
        """


def curation(spark, sf):
    # end-product keep/drop verdict with reason codes, composing quality,
    # repetition caps, lang allow-list, PII, and benchmark contamination
    # (docs 0-4 as the broadcast benchmark set); thresholds chosen to
    # exercise every reason code on the fixture
    docs = table(spark, sf, "documents")
    return TS.curation_report(
        docs.where(F.col("doc_id") >= 5), "text", "doc_id",
        bench=docs.where(F.col("doc_id") < 5), contamination_n=5,
        quality_min=0.75, dup3_max=0.01, top2_max=0.06,
        allowed_langs=("en",))


CURATION = rf"""
            WITH w AS (
              SELECT doc_id AS id, text,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),
            grams AS (
              SELECT id,
                     list_transform(generate_series(1, len(words)-1),
                       i -> array_to_string(words[i:i+1], ' ')) AS g2,
                     list_transform(generate_series(1, len(words)-2),
                       i -> array_to_string(words[i:i+2], ' ')) AS g3,
                     list_distinct(list_transform(
                       generate_series(1, len(words)-4),
                       i -> array_to_string(words[i:i+4], ' '))) AS g5
              FROM w),
            top AS (
              SELECT id, max(cnt) AS top_n FROM (
                SELECT id, gram, count(*) AS cnt
                FROM (SELECT id, unnest(g2) AS gram FROM grams) GROUP BY 1, 2)
              GROUP BY 1),
            bench AS (SELECT DISTINCT unnest(g5) AS gram FROM grams
                      WHERE id < 5),
            cont AS (SELECT DISTINCT id
                     FROM (SELECT id, unnest(g5) AS gram FROM grams
                           WHERE id >= 5)
                     JOIN bench USING (gram)),
            base AS (
              SELECT w.id,
                     length(text) AS n_chars,
                     len(words) AS n_words,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(list_intersect(words, {_EN})) AS h_en,
                     len(list_intersect(words, {_DE})) AS h_de,
                     len(list_intersect(words, {_ES})) AS h_es,
                     len(list_intersect(words, {_FR})) AS h_fr,
                     len(regexp_extract_all(text, {_EMAIL}))
                     + len(regexp_extract_all(text, {_PHONE}))
                     + len(regexp_extract_all(text, {_SSN}))
                     + len(regexp_extract_all(text, {_IPV4}))
                       AS n_pii
              FROM w WHERE w.id >= 5),
            derived AS (
              SELECT id, n_chars, n_words, h_en, h_de, h_es, h_fr, n_pii,
                     round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
                     round((n_chars - (n_words - 1)) / greatest(n_words, 1), 6)
                       AS mean_word_len
              FROM base),
            sig AS (
              SELECT d.id,
                CASE WHEN greatest(h_de, h_en, h_es, h_fr) <= 0 THEN 'und'
                     WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                     WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                     WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                     ELSE 'fr' END AS lang_pred,
                round(
                  0.25 * (CASE WHEN n_chars >= 50 AND n_chars <= 100000
                               THEN 1.0 ELSE 0.0 END)
                + 0.25 * (1 - least(punct_ratio * 4, 1.0))
                + 0.25 * (CASE WHEN h_en >= 2 THEN 1.0 ELSE 0.0 END)
                + 0.25 * (CASE WHEN mean_word_len >= 2.0
                                AND mean_word_len <= 12.0
                               THEN 1.0 ELSE 0.0 END), 6) AS quality,
                CASE WHEN len(g.g3) > 0
                     THEN round(1 - len(list_distinct(g.g3))/len(g.g3), 6)
                     ELSE 0.0 END AS dup_3gram_frac,
                CASE WHEN len(g.g2) > 0
                     THEN round(coalesce(t.top_n, 0)/len(g.g2), 6)
                     ELSE 0.0 END AS top_2gram_frac,
                n_pii > 0 AS has_pii,
                (c.id IS NOT NULL) AS contaminated
              FROM derived d
              JOIN grams g ON g.id = d.id
              LEFT JOIN top t ON t.id = d.id
              LEFT JOIN cont c ON c.id = d.id)
            SELECT id, lang_pred, quality, dup_3gram_frac, top_2gram_frac,
                   has_pii, contaminated,
                   len(reasons_list) = 0 AS keep,
                   coalesce(array_to_string(list_sort(reasons_list), ','),
                            '') AS reasons
            FROM (
              SELECT *, list_filter([
                  CASE WHEN contaminated THEN 'contaminated' END,
                  CASE WHEN dup_3gram_frac > 0.01 THEN 'high_dup_3gram' END,
                  CASE WHEN top_2gram_frac > 0.06 THEN 'high_top_2gram' END,
                  CASE WHEN quality < 0.75 THEN 'low_quality' END,
                  CASE WHEN has_pii THEN 'pii' END,
                  CASE WHEN lang_pred <> 'en' THEN 'lang' END
                ], x -> x IS NOT NULL) AS reasons_list
              FROM sig)
            ORDER BY id
        """


def source_mix(spark, sf):
    # per-source data-mixing report (doc/char/token volumes, mean
    # quality, corpus share)
    return TS.source_mix_report(table(spark, sf, "documents"),
                                "text", "source")


SOURCE_MIX = rf"""
            WITH perdoc AS (
              SELECT source,
                     length(text) AS n_chars,
                     len(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS n_tokens,
                     round(
                       0.25 * (CASE WHEN length(text) >= 50
                                     AND length(text) <= 100000
                                    THEN 1.0 ELSE 0.0 END)
                     + 0.25 * (1 - least(round(
                         len(regexp_extract_all(text, '[^\w\s]'))
                         / greatest(length(text), 1), 6) * 4, 1.0))
                     + 0.25 * (CASE WHEN len(list_intersect(
                         regexp_split_to_array(lower(trim(text)), '\s+'),
                         {_EN}))
                         >= 2 THEN 1.0 ELSE 0.0 END)
                     + 0.25 * (CASE WHEN round((length(text)
                         - (len(regexp_split_to_array(lower(trim(text)), '\s+')) - 1))
                         / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1), 6)
                         BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6)
                       AS quality
              FROM documents),
            per AS (
              -- exact integer sum of the 1e-6-quantized quality, then
              -- one double division: bit-stable at any partitioning
              -- (mirrors source_mix_report's _q6 aggregation)
              -- ::BIGINT on the sums: DuckDB sum(BIGINT) is HUGEINT,
              -- which pandas materializes as float64 (73327.0) while
              -- Spark sum(long) is int64 — the driver hashes dtypes too
              SELECT source, count(*)::BIGINT AS n_docs,
                     sum(n_chars)::BIGINT AS n_chars,
                     sum(n_tokens)::BIGINT AS n_tokens,
                     round(sum(round(quality * 1e6)::BIGINT)
                           / (count(*) * 1e6), 6) AS mean_quality
              FROM perdoc GROUP BY source)
            SELECT source, n_docs, n_chars, n_tokens, mean_quality,
                   round(n_docs / (SELECT sum(n_docs) FROM per), 6)
                     AS doc_share
            FROM per ORDER BY source
        """


def winnow(spark, sf):
    return TS.fingerprints(table(spark, sf, "documents"), "text", "doc_id") \
             .select("id", "winnow_min", "winnow_fps")


WINNOW = r"""
            WITH d AS (SELECT doc_id AS id,
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
              FROM documents),
            pos AS (
              SELECT id, t, gs.i
              FROM d CROSS JOIN generate_series(1, 4000) gs(i)
              WHERE gs.i <= greatest(length(t) - 7, 1)),
            kh AS (
              SELECT id, i,
                ('0x' || substr(md5(substring(t, i, 8)), 1, 15))::BIGINT AS h
              FROM pos),
            wmin AS (
              SELECT id, i,
                     min(h) OVER (PARTITION BY id ORDER BY i
                                  ROWS BETWEEN CURRENT ROW
                                  AND 3 FOLLOWING) AS wm,
                     count(*) OVER (PARTITION BY id) AS n
              FROM kh),
            sel AS (SELECT DISTINCT id, wm FROM wmin
                    WHERE i <= greatest(n - 3, 1)),
            fps AS (SELECT id,
                           array_to_string(list_sort(list(wm)), ',')
                             AS winnow_fps
                    FROM sel GROUP BY id),
            mins AS (SELECT id, min(h) AS winnow_min FROM kh GROUP BY id)
            SELECT id, winnow_min, winnow_fps
            FROM fps JOIN mins USING (id) ORDER BY id
        """


def content_md5(spark, sf):
    return TS.fingerprints(table(spark, sf, "documents"), "text", "doc_id") \
             .select("id", "content_md5")


CONTENT_MD5 = r"""
            SELECT doc_id AS id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                     AS content_md5
            FROM documents ORDER BY id
        """
