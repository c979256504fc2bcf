"""Deduplication operators for large-scale corpus curation.

Four families, each with an explicit scale path:

  exact          hash-groupBy on a content digest (JVM md5/sha2; one
                 shuffle on the digest, column-pruned scan)
  minhash + LSH  shingle -> minhash signature (Arrow-batched numpy) ->
                 band buckets -> candidate pairs joined WITHIN buckets
                 only (shuffle is on band hashes, never all-pairs)
  simhash        60-bit weighted token fingerprint (md5-prefix token
                 hash, pure JVM, SQL-reproducible); pigeonhole banding
                 (hamming <= k => one of k+1 chunks equal) turns
                 near-dup search into equi-joins + popcount verify
  n-gram Jaccard exact verification path: JVM-native n-gram explode +
                 self-join on shared n-grams (used to verify LSH
                 candidates at small scale / sampled at 100 TB)

Determinism: no RNG anywhere — minhash mixes crc32 shingles through a
fixed splitmix64 family, simhash/winnowing hash through md5 prefixes —
so every signature is stable across runs, partitionings, and engines
(the md5-based ones bit-for-bit reproducible in ANSI SQL).
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from schema_guru_spark.functions import bind_once
from schema_guru_spark.worker import worker_fn
from pyspark.sql import DataFrame, Window, functions as F

def _hash_family(n: int) -> np.ndarray:
    """n fixed 64-bit seeds (deterministic — part of the spec)."""
    rng = np.random.RandomState(0x5EED)
    return rng.randint(0, 1 << 62, size=n).astype(np.uint64)


def _splitmix64(v: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer, vectorized over uint64 — wraparound
    multiplication is part of the algorithm (unlike an affine hash mod
    a prime, where a silent int64 wrap corrupts the math and a
    range-limited coefficient makes the map nearly monotonic, inflating
    minhash collision estimates; both failure modes were observed)."""
    v = (v ^ (v >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    v = (v ^ (v >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return v ^ (v >> np.uint64(31))


def exact_duplicates(df: DataFrame, content_col: str, id_col: str,
                     max_ids: int = 10_000) -> DataFrame:
    """Exact dedup via content digest: groups with multiplicity > 1,
    keeping the sorted id list per group. digest = md5 (cross-engine).

    The per-digest id list is bounded BEFORE aggregation: a sort-based
    window over the digest ranks ids and counts the group, rows past
    ``max_ids`` are dropped, and only then does ``collect_list`` run —
    so no aggregation buffer ever holds more than ``max_ids`` ids while
    ``n`` stays exact. A degenerate corpus (10^8 copies of one payload)
    sorts-and-spills in the window stage instead of materializing 10^8
    ids in a single in-memory buffer. The window and the groupBy share
    the digest hash partitioning, so this remains ONE data shuffle.
    """
    w = Window.partitionBy("digest")
    ranked = (
        df.select(F.md5(F.col(content_col)).alias("digest"),
                  F.col(id_col).alias("id"))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("_rn", F.row_number().over(w.orderBy("id")))
        .where((F.col("n") > 1) & (F.col("_rn") <= max_ids))
    )
    return (
        ranked.groupBy("digest")
        .agg(F.first("n").alias("n"),
             F.array_sort(F.collect_list("id")).alias("ids"))
        .orderBy("digest")
    )


def _shingles(text: str, k: int) -> np.ndarray:
    t = " ".join(text.lower().split())
    if len(t) < k:
        return np.array([zlib.crc32(t.encode())], dtype=np.uint64)
    arr = {zlib.crc32(t[i:i + k].encode()) for i in range(len(t) - k + 1)}
    return np.fromiter(arr, dtype=np.uint64, count=len(arr))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = 64, shingle_k: int = 5) -> DataFrame:
    """Per-doc minhash signature as array<long> — Arrow-batched numpy:
    the n_hashes mins are one vectorized (H x S) broadcast per doc."""
    seeds = _hash_family(n_hashes)

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for text in pdf[text_col]:
                x = _shingles(text or "", shingle_k)
                # (H,S) mix then min over shingles; >> 1 keeps the
                # signature in the non-negative int64 range for the
                # array<bigint> column
                m = _splitmix64(x[None, :] ^ seeds[:, None]) >> np.uint64(1)
                sigs.append(m.min(axis=1).astype(np.int64).tolist())
            yield pd.DataFrame({"id": pdf[id_col], "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(
        fn, f"id {dict(df.dtypes)[id_col]}, sig array<bigint>")


def band_explode(bands: int, r: int, sig_col: str = "sig"):
    """The canonical banding expression — (band, band_hash) rows from a
    minhash signature array. THE single definition shared by the batch
    candidate join and the streaming bucket emitter, so stream-static
    joins are hash-compatible by construction."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.hash(F.slice(sig_col, i * r + 1, r)),
        )
    )


def _lsh_candidates(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """Banded-LSH candidate pairs from a (id, sig) signature frame: a
    pair collides if any band's sub-signature matches exactly. The
    self-join key is (band_idx, band_hash) — cost is Σ|bucket|², never
    |docs|²."""
    banded = sigs.select(
        "id", band_explode(bands, r).alias("band", "band_hash"))
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, ["band", "band_hash"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def _char_shingle_array(text_col: str, k: int):
    """Distinct character k-shingle ARRAY expression — whole-stage-codegen
    JVM (normalize -> positional substrings -> array_distinct). Shingling
    matches the minhash kernel: lowercase, whitespace collapsed to single
    spaces; docs shorter than k contribute their whole text as one
    shingle."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    # bind norm: an unbound reference re-runs the regexp_replace once
    # per shingle inside the interpreted transform (functions.bind_once)
    return bind_once(norm, lambda nm: F.array_distinct(
        F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.length(nm) - (k - 1), F.lit(1))),
            lambda i: F.substring(nm, i, k))))


def char_shingle_arrays(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5) -> DataFrame:
    """(id, grams array<string>) — one row per doc, distinct shingles."""
    return df.select(F.col(id_col).alias("id"),
                     _char_shingle_array(text_col, k).alias("grams"))


def minhash_verified_pairs(df: DataFrame, id_col: str, text_col: str,
                           threshold: float = 0.6, shingle_k: int = 5,
                           n_hashes: int = 64,
                           bands: int = 16) -> DataFrame:
    """Near-duplicate pairs with EXACT char-shingle Jaccard >= threshold,
    candidate-pruned by banded minhash LSH.

    This is the oracle-checkable face of the LSH family: the output is
    defined purely in terms of exact Jaccard (SQL-expressible — the
    DuckDB twin computes all pairs directly), while the Spark plan only
    ever compares LSH-colliding candidates. With the default 16 bands of
    4 rows, a true pair at Jaccard j escapes all bands w.p.
    (1-j⁴)^16 — ≈7e-14 at j=0.96, ≈5e-2 at j=0.8 — so choose
    threshold/bands such that the detection gap is comfortably below the
    corpus' near-dup similarity floor (sf0.01 documents: true pairs sit
    at j>=0.96, next pair at 0.30). Exact verification then removes all
    false candidates, so precision is exact and recall is the banding
    probability above.
    """
    assert n_hashes % bands == 0
    sigs = minhash_signatures(df, id_col, text_col, n_hashes,
                              shingle_k).localCheckpoint()
    cand = _lsh_candidates(sigs, bands, n_hashes // bands).localCheckpoint()
    # PAIR-LOCAL verification: join each LSH candidate pair to the two
    # docs' distinct-shingle ARRAYS and intersect in place. Work and
    # shuffle are bounded by Σ_pairs(|A| + |B|) — linear in the candidate
    # set. The previous plan self-joined the candidate-restricted shingle
    # inverted index on ngram and only intersected with the candidate set
    # AFTER the pair groupBy, so one corpus-frequent shingle (whitespace-
    # normalized boilerplate / license headers — endemic in source-code
    # corpora) with n candidate docs generated n² intermediate rows: the
    # plan's single quadratic term at 100 TB. Pinned by
    # tests/test_scale_guards.py::test_minhash_verify_no_shingle_self_join.
    cand_ids = (cand.select(F.col("id_a").alias("id"))
                .unionByName(cand.select(F.col("id_b").alias("id")))
                .distinct())
    garr = (char_shingle_arrays(df, id_col, text_col, shingle_k)
            .join(cand_ids, "id", "left_semi")
            .localCheckpoint())
    ga = garr.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
    gb = garr.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
    common = F.size(F.array_intersect("ga", "gb"))
    sz_a, sz_b = F.size("ga"), F.size("gb")
    # threshold the RAW ratio (the oracle does too); round only for
    # display — filtering on the rounded value would admit pairs up to
    # 5e-7 below the threshold and break exact parity
    raw = common / (sz_a + sz_b - common)
    return (
        cand.join(ga, "id_a").join(gb, "id_b")
        .where(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n_hashes: int = 64, bands: int = 16,
                      shingle_k: int = 5,
                      min_est_jaccard: float = 0.5) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over minhash sigs.

    rows_per_band = n_hashes // bands; a pair collides if any band's
    sub-signature matches exactly. Pairs are generated by a self-join on
    (band_idx, band_hash) — the shuffle key is the bucket, so cost is
    Σ|bucket|², never |docs|². Estimated Jaccard = fraction of agreeing
    signature positions; pairs below ``min_est_jaccard`` are dropped.
    """
    assert n_hashes % bands == 0
    r = n_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k)
    # localCheckpoint, not persist: sigs feeds three branches (banding +
    # both sides of the verification join); checkpointed blocks are
    # dropped with the DataFrame reference instead of leaking in the
    # cache manager across calls
    sigs = sigs.localCheckpoint()
    cand = _lsh_candidates(sigs, bands, r)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                            lambda z: z)) / F.lit(n_hashes),
        )
        .where(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )
    return est


SIMHASH_BITS = 60  # md5-prefix token hash: 15 hex chars = 60 bits


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit simhash over whitespace tokens (weight = term frequency),
    computed ENTIRELY in JVM expressions: token explode -> md5-prefix
    hash (cross-engine: ``conv(substr(md5(tok),1,15),16,10)``) -> one
    hash aggregate with 60 per-bit weighted sign sums -> sign bits
    reassembled. No Python anywhere, and bit-for-bit reproducible in
    ANSI SQL — the DuckDB oracle in driver_queries/dedup.py mirrors it.

    Scale shape: ONE shuffle, on id, partial-aggregated map-side — the
    shuffle carries 60 sign-sum longs per doc per map partition, never
    the token frame. tf weighting is implicit: summing each occurrence's
    ±1 sign equals summing tf × sign over distinct tokens, so the
    earlier (id, token) tf pre-aggregation shuffle (which moved the
    ENTIRE token frame just to hash each distinct token once) is pure
    overhead — hashing per occurrence is map-side CPU and measured
    cheaper (sf0.1 warm 2.2s -> 1.6s, bit-identical output). Docs with
    no tokens get fp = 0 via the final left join.
    """
    from functools import reduce
    from operator import add

    ids = df.select(F.col(id_col).alias("id"))
    occ = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                              r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
        .withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, 15),
                                16, 10).cast("bigint"))
    )
    bit_sums = [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = occ.groupBy("id").agg(*bit_sums)
    fp = reduce(add, [
        F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(SIMHASH_BITS)
    ])
    fps = agg.select("id", fp.cast("bigint").alias("fp"))
    return ids.join(fps, "id", "left").na.fill({"fp": 0})


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3,
                            n_chunks: int | None = None) -> DataFrame:
    """Near-dup pairs with hamming(fp_a, fp_b) <= max_hamming — EXACT
    (unlike minhash LSH, recall here is 1 by construction).

    Pigeonhole banding: split the fingerprint into ``n_chunks`` disjoint
    chunks (default max_hamming + 1); a pair within ``max_hamming`` bit
    flips must agree on >= 1 chunk, so candidates come from equi-joins
    on (chunk_idx, chunk_value) and exact hamming verifies with
    bit_count. Cost is Σ|chunk-bucket|², never |docs|².
    """
    n_chunks = n_chunks or (max_hamming + 1)
    width = -(-SIMHASH_BITS // n_chunks)   # ceil
    mask = (1 << width) - 1
    fps = simhash_fingerprints(df, id_col, text_col).localCheckpoint()
    chunks = fps.select(
        "id", "fp",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("fp", i * width).bitwiseAND(F.lit(mask))
            for i in range(n_chunks)
        ])).alias("chunk", "cval"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(r, ["chunk", "cval"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.fp").alias("fp_a"), F.col("r.fp").alias("fp_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """JVM-native word n-gram explode: (id, ngram) distinct rows — whole
    stage codegen, no Python."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] and slice
    # would see start=0 — short docs get an empty gram array instead.
    # words is lambda-bound: interpreted transforms re-evaluate captured
    # expressions per element (functions.bind_once)
    grams = bind_once(words, lambda w: F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>")))
    return (df.select(F.col(id_col).alias("id"), F.explode(grams).alias("ngram"))
              .distinct())


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Inverted-index self-join: |A ∩ B| from grouping shared n-grams,
    |A ∪ B| = |A| + |B| - |A ∩ B|. Shuffles on n-gram then on the pair —
    the exact-verification path (quadratic only within shared n-grams).
    """
    grams = word_ngrams(df, id_col, text_col, n).localCheckpoint()
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    l, r = grams.alias("l"), grams.alias("r")
    inter = (
        l.join(r, "ngram")
        .where(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    raw = F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
    return (
        # no broadcast hint: sizes has one row per DOCUMENT — fine to
        # broadcast at test scale, fatal at 10^9 docs. AQE broadcasts it
        # when it is actually small.
        # threshold on the RAW ratio (matches the oracle); round for display
        inter.join(sa, "id_a").join(sb, "id_b")
        .where(raw >= threshold)
        .select("id_a", "id_b", F.round(raw, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def embedding_near_duplicates(df: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.95,
                              n_planes: int = 16,
                              bands: int = 4) -> DataFrame:
    """Embedding-cosine near-dup pairs: BANDED sign-LSH (fixed random
    hyperplanes, Arrow-batched numpy) -> exact cosine verify within
    candidate buckets via JVM array ops.

    Banding matters for recall: a single 16-plane bucket requires ALL
    sign bits to agree — at cosine 0.95 (angle ~18 deg) each plane
    agrees w.p. ~0.9, so a full match happens ~0.9^16 = 18% of the
    time. With 4 bands of 4 planes a pair is a candidate if ANY band
    matches: 1 - (1 - 0.9^4)^4 = 98.6% recall, same exact-verify
    precision. Candidates come from equi-joins on (band, band_bucket) —
    cost is sum of bucket sizes squared, never |docs|^2.
    """
    assert n_planes % bands == 0
    r_planes = n_planes // bands

    def plane_fn(dim: int) -> np.ndarray:
        r = np.random.RandomState(0xA11CE)
        return r.standard_normal((dim, n_planes))

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        shifts = np.arange(r_planes, dtype=np.int64)
        for pdf in batches:
            mats = np.array([np.asarray(v, dtype=np.float64)
                             for v in pdf[vec_col]])
            if planes is None and len(mats):
                planes = plane_fn(mats.shape[1])
            if len(mats) == 0:
                yield pd.DataFrame({"id": [], "band": [], "bucket": []})
                continue
            signs = (mats @ planes) > 0                    # (N, P)
            per_band = signs.reshape(len(mats), bands, r_planes)
            codes = (per_band.astype(np.int64) <<
                     shifts[None, None, :]).sum(axis=2)    # (N, B)
            ids = np.repeat(np.asarray(pdf[id_col]), bands)
            band_idx = np.tile(np.arange(bands, dtype=np.int64), len(mats))
            yield pd.DataFrame({"id": ids, "band": band_idx,
                                "bucket": codes.reshape(-1)})

    # lazy checkpoints: buckets feeds both sides of the candidate
    # self-join (a recompute diamond through the Python bucketing UDF)
    # and vecs feeds both verify joins — without them the embedding
    # table is scanned 8x and the hyperplane projection runs 2x
    buckets = df.select(id_col, vec_col).mapInPandas(
        fn, f"id {dict(df.dtypes)[id_col]}, band int, bucket bigint"
    ).localCheckpoint(eager=False)
    # double-cast BEFORE the dot product: float32 inputs widen exactly,
    # so the verify arithmetic is bit-identical to the (double-based)
    # oracle and to the numpy bucketing above
    vecs = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("v")
                     ).localCheckpoint(eager=False)
    l = buckets.alias("l")
    r = buckets.alias("r")
    cand = (l.join(r, ["band", "bucket"])
            .where(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("id_a"),
                    F.col("r.id").alias("id_b"))
            .distinct())
    va = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    # zero vectors collide in EVERY band (all sign bits 0) and would
    # reach the verify with 0/0 = NaN, which Spark orders ABOVE all
    # doubles — NaN >= threshold silently passes. Cosine with a zero
    # vector is undefined; define it as 0 so such pairs are excluded.
    den = norm("va") * norm("vb")
    raw = F.when(den > F.lit(0.0), dot / den).otherwise(F.lit(0.0))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .where(raw >= threshold)   # raw-ratio threshold; round for display
        .select("id_a", "id_b", F.round(raw, 6).alias("cosine"))
    )


def near_duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                            id_b: str = "id_b",
                            max_iters: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair list -> cluster
    assignment (id, cluster_id) with cluster_id = min id reachable.

    Training-data dedup needs CLUSTERS (keep one representative per
    component), not raw pairs — a doc can pair with many others and a
    chain a-b, b-c must collapse to one group.

    Distributed min-label propagation: each round joins current labels
    across the (symmetrized) edge list and keeps the per-vertex min —
    one shuffle per round, O(component diameter) rounds (near-dup
    graphs are shallow: cliques and short chains). Each round is
    localCheckpoint()ed to truncate the iterative join's lineage —
    without it the plan doubles every round. Convergence is detected by
    counting changed labels; ``max_iters`` bounds pathological chains.
    """
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst")))
             .distinct()
             .persist())
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("cluster_id", F.col("id"))
              .localCheckpoint())
    for _ in range(max_iters):
        # min neighbor label per vertex
        msgs = (edges.join(labels.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("cluster_id").alias("nbr_min")))
        updated = (labels.join(msgs, "id", "left")
                   .select("id",
                           F.least("cluster_id",
                                   F.coalesce("nbr_min", "cluster_id"))
                           .alias("cluster_id"))
                   .localCheckpoint())
        changed = (updated.alias("u")
                   .join(labels.alias("l"), "id")
                   .where(F.col("u.cluster_id") != F.col("l.cluster_id"))
                   .count())
        labels = updated
        if changed == 0:
            break
    edges.unpersist()
    return labels
