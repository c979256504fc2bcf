"""Streaming curation: the batch keep/drop verdict, applied to a
continuously-ingested corpus.

Every per-document curation signal (quality, repetition caps, language
allow-list, PII) is a stateless per-row expression shared verbatim with
the batch path (operators/textstats.py::_curation_signals_df), so that
part of the streaming plan is a pure projection — no state store, no
watermark, any output mode.

Contamination is the one signal the batch path answers with a join +
per-id distinct, which streaming append mode cannot express (the
distinct is an unbounded stateful aggregation). The streaming path
replaces it with a per-row membership probe: the static benchmark's
distinct gram set is hashed JVM-side (xxhash64), collected ONCE into a
sorted int64 array (bounded by construction — benchmark/eval sets are
millions of grams at most, ~8 MB per million), broadcast to executors,
and each arriving document probes its own gram hashes with a single
Arrow-batched ``np.isin`` against the sorted array (binary search,
O(g log B) per doc), zero shuffle on the corpus side.

Precision: membership is decided on 64-bit HASH equality, so unlike
the batch path (curation_report joins on the raw gram strings) it has
a hash-collision false-positive rate of ~B/2^64 per probed gram
(B = benchmark grams; ~5e-14 at B = 1e6). A collision DROPS a clean
document — the conservative direction for contamination filtering —
and at corpus scale (10^12 docs x ~10^3 grams x B = 1e6) the expected
count is O(10) spurious drops, zero false NEGATIVES ever. Streams that
need the batch path's string-exact verdict re-check their drops
offline; the stream==batch parity tests hold because the fixtures are
collision-free, as any non-adversarial corpus is in practice.

Spark's built-in Bloom machinery would be the idiomatic JVM answer, but
``bloom_filter_agg``/``might_contain`` live in the internal function
registry (not user-callable), and ``DataFrame.stat.bloomFilter`` returns
a driver-side py4j handle unusable inside executors — so the broadcast
sorted-hash probe is the public-API plan; its false-positive rate is
also orders of magnitude below a practical Bloom filter's.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from schema_guru_spark.operators.textstats import (
    _curation_signals_df, _distinct_ngrams, _verdict_cols,
)
from schema_guru_spark.worker import worker_fn


def benchmark_gram_hashes(bench: DataFrame, text_col: str,
                          contamination_n: int = 13) -> np.ndarray:
    """Sorted xxhash64 values of the benchmark's distinct word n-grams.
    The distinct + hash run distributed (one small shuffle on the
    benchmark side only); the collect is bounded by the benchmark's
    distinct gram count by construction."""
    rows = (bench.select(F.explode(_distinct_ngrams(
                F.col(text_col), contamination_n)).alias("gram"))
            .select(F.xxhash64("gram").alias("h")).distinct().collect())
    return np.sort(np.array([r["h"] for r in rows], dtype=np.int64))


def streaming_curation(stream: DataFrame, text_col: str, id_col: str,
                       bench_hashes: np.ndarray = None,
                       contamination_n: int = 13,
                       quality_min: float = 0.5, dup3_max: float = 0.2,
                       top2_max: float = 0.18,
                       allowed_langs: tuple = None,
                       stopword_lang: str = "en") -> DataFrame:
    """Per-arrival keep/drop verdict with the batch reason codes
    (same output schema as curation_report, unordered — streams have no
    total order).

    ``bench_hashes`` is the sorted array from ``benchmark_gram_hashes``;
    when given, each document's gram hashes (computed JVM-side) are
    probed by one vectorized pandas UDF holding the broadcast array.
    Without it, ``contaminated`` is constant false and the whole plan is
    a stateless JVM projection.
    """
    base = _curation_signals_df(
        stream, text_col, id_col,
        stopword_lang=stopword_lang,
        extra={"_ghash": F.transform(
            _distinct_ngrams(F.col(text_col), contamination_n),
            lambda g: F.xxhash64(g))})
    if bench_hashes is not None:
        spark = SparkSession.getActiveSession()
        bc = spark.sparkContext.broadcast(
            np.ascontiguousarray(bench_hashes, dtype=np.int64))

        @pandas_udf("boolean")
        @worker_fn
        def _probe(ghash: Iterator[pd.Series]) -> Iterator[pd.Series]:
            bench = bc.value
            for s in ghash:
                # one np.isin per Arrow batch: flatten every doc's gram
                # hashes, probe once, segment-reduce back to per-doc any()
                arrs = [np.asarray(a, dtype=np.int64)
                        if a is not None else np.empty(0, np.int64)
                        for a in s]
                lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                                   count=len(arrs))
                if lens.sum() == 0:
                    yield pd.Series(np.zeros(len(arrs), dtype=bool))
                    continue
                hits = np.isin(np.concatenate(arrs), bench)
                seg = np.repeat(np.arange(len(arrs)), lens)
                yield pd.Series(np.bincount(
                    seg, weights=hits, minlength=len(arrs)) > 0)

        base = base.withColumn("contaminated", _probe(F.col("_ghash")))
    else:
        base = base.withColumn("contaminated", F.lit(False))
    keep, reasons = _verdict_cols(quality_min, dup3_max, top2_max,
                                  allowed_langs)
    return base.select(
        "id", "lang_pred", "quality", "dup_3gram_frac", "top_2gram_frac",
        "has_pii", "contaminated",
        keep.alias("keep"), reasons.alias("reasons"))
