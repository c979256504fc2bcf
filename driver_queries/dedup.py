"""Dedup and similarity queries (exact dups, n-gram Jaccard, MinHash,
SimHash, clusters, keep list, cosine top-k, IVF, embedding near-dups,
k-NN join) with their oracles.

The LSH and banding plans are oracle-checked through their exact-output
faces: the Spark side prunes candidates, but the RESULT is defined by
exact similarity, which DuckDB computes directly over all pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import table
from schema_guru_spark.operators import dedup as D
from schema_guru_spark.operators import similarity as SIM


def exact_dups(spark, sf):
    return (D.exact_duplicates(table(spark, sf, "events"), "props",
                               "event_id")
            .select("digest", "n").orderBy("digest"))


EXACT_DUPS = """
            SELECT md5(props) AS digest, count(*)::BIGINT AS n
            FROM events GROUP BY 1 HAVING count(*) > 1 ORDER BY digest
        """


def unigram_jaccard(spark, sf):
    docs = table(spark, sf, "documents").where(F.col("doc_id") < 60)
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.6)


UNIGRAM_JACCARD = r"""
            WITH grams AS (
              SELECT DISTINCT doc_id AS id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS ngram
              FROM documents WHERE doc_id < 60),
            sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
              FROM grams a JOIN grams b USING (ngram)
              WHERE a.id < b.id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(common / (sa.sz + sb.sz - common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
            WHERE common / (sa.sz + sb.sz - common) >= 0.6
            ORDER BY id_a, id_b
        """


# Exact char-5-gram Jaccard pairs (doc_id < 200) — the all-pairs twin of
# the LSH-pruned Spark plan; shared by the pair, cluster and keep-list
# oracles.
_CHAR_JACCARD_PAIRS_CTE = r"""
    d AS (SELECT doc_id AS id,
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
          FROM documents WHERE doc_id < 200),
    grams AS (
      SELECT DISTINCT id, substring(t, gs.i, 5) AS g
      FROM d CROSS JOIN generate_series(1, 4000) gs(i)
      WHERE gs.i <= greatest(length(t) - 4, 1)),
    sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY 1),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      FROM grams a JOIN grams b USING (g)
      WHERE a.id < b.id GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b,
             round(common / (sa.sz + sb.sz - common), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
      WHERE common / (sa.sz + sb.sz - common) >= 0.6)
"""

# transitive closure of the exact pair set (min reachable id per doc
# matches min-label propagation); follows _CHAR_JACCARD_PAIRS_CTE
_REACH_CTE = """
            edges AS (
              SELECT id_a AS s, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT DISTINCT s AS id, s AS r FROM edges
              UNION
              SELECT e.dst, reach.r FROM reach JOIN edges e ON e.s = reach.id)"""


def _docs_200(spark, sf):
    return table(spark, sf, "documents").where(F.col("doc_id") < 200)


def _minhash_pairs(docs):
    return D.minhash_verified_pairs(docs, "doc_id", "text", threshold=0.6)


def minhash_pairs(spark, sf):
    return _minhash_pairs(_docs_200(spark, sf)).orderBy("id_a", "id_b")


MINHASH_PAIRS = f"""
            WITH {_CHAR_JACCARD_PAIRS_CTE}
            SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b
        """


def clusters(spark, sf):
    return D.near_duplicate_clusters(_minhash_pairs(_docs_200(spark, sf))) \
            .orderBy("id")


CLUSTERS = f"""
            -- transitive closure of the exact pair set; cluster_id =
            -- min reachable id (matches min-label propagation)
            WITH RECURSIVE {_CHAR_JACCARD_PAIRS_CTE},{_REACH_CTE}
            SELECT id, min(r)::BIGINT AS cluster_id
            FROM reach GROUP BY id ORDER BY id
        """


def keep_list(spark, sf):
    # the training-data dedup END PRODUCT: per near-dup cluster keep the
    # min-id representative, emit every doc with its keep/drop verdict
    # (docs in no cluster keep themselves). Derived from the same
    # verified-pair + connected-components plan the cluster oracle pins.
    docs = _docs_200(spark, sf)
    clustered = D.near_duplicate_clusters(_minhash_pairs(docs))
    ids = docs.select(F.col("doc_id").alias("id"))
    return (ids.join(clustered, "id", "left")
            .select("id",
                    F.coalesce("cluster_id", "id").alias("cluster_id"),
                    (F.coalesce("cluster_id", "id") == F.col("id"))
                    .alias("keep"))
            .orderBy("id"))


KEEP_LIST = f"""
            WITH RECURSIVE {_CHAR_JACCARD_PAIRS_CTE},{_REACH_CTE},
            clusters AS (SELECT id, min(r) AS cluster_id
                         FROM reach GROUP BY id),
            ids AS (SELECT DISTINCT id FROM d)
            SELECT i.id,
                   coalesce(c.cluster_id, i.id)::BIGINT AS cluster_id,
                   coalesce(c.cluster_id, i.id) = i.id AS keep
            FROM ids i LEFT JOIN clusters c USING (id) ORDER BY i.id
        """


# md5-prefix 60-bit simhash fingerprints (doc_id < 200) — the bit-exact
# twin of dedup.simhash_fingerprints; shared by the fp and pair oracles.
_SIMHASH_FPS_CTE = r"""
    d AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 200),
    toks AS (
      SELECT id, tok, count(*)::BIGINT AS cnt FROM (
        SELECT id, unnest(regexp_split_to_array(
            lower(trim(text)), '\s+')) AS tok FROM d)
      WHERE tok <> '' GROUP BY 1, 2),
    hashed AS (
      SELECT id, cnt, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM toks),
    bits AS (
      SELECT id, b.j, sum(cnt * (((h >> b.j) & 1) * 2 - 1)) AS s
      FROM hashed CROSS JOIN generate_series(0, 59) b(j)
      GROUP BY 1, 2),
    fps0 AS (
      SELECT id, sum(CASE WHEN s > 0 THEN 1::BIGINT << j
                          ELSE 0 END)::BIGINT AS fp
      FROM bits GROUP BY 1),
    fps AS (
      SELECT d.id, coalesce(fps0.fp, 0)::BIGINT AS fp
      FROM (SELECT DISTINCT id FROM d) d LEFT JOIN fps0 USING (id))
"""


def simhash_fps(spark, sf):
    return D.simhash_fingerprints(_docs_200(spark, sf), "doc_id", "text") \
            .orderBy("id")


SIMHASH_FPS = f"""
            WITH {_SIMHASH_FPS_CTE}
            SELECT id, fp FROM fps ORDER BY id
        """


def simhash_pairs(spark, sf):
    # pigeonhole banding has recall 1 by construction (a pair within
    # max_hamming flips must share a chunk), so the all-pairs oracle is
    # an exact twin, not a probabilistic one
    return D.simhash_near_duplicates(_docs_200(spark, sf), "doc_id", "text",
                                     max_hamming=6).orderBy("id_a", "id_b")


SIMHASH_PAIRS = f"""
            WITH {_SIMHASH_FPS_CTE}
            SELECT a.id AS id_a, b.id AS id_b,
                   bit_count(xor(a.fp, b.fp))::INT AS hamming
            FROM fps a JOIN fps b ON a.id < b.id
            WHERE bit_count(xor(a.fp, b.fp)) <= 6
            ORDER BY id_a, id_b
        """


def _query_vec(emb):
    return emb.where(F.col("vec_id") == 0).first()["embedding"]


def cosine_topk(spark, sf):
    emb = table(spark, sf, "embeddings")
    return SIM.cosine_topk(emb, _query_vec(emb), "embedding", "vec_id", k=20)


def _cosine_topk_sql(k: int, head: str = "") -> str:
    """Brute-force cosine top-k against vec_id 0."""
    return f"""
{head}            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id AS id,
                   round(list_inner_product(embedding::DOUBLE[], qv) /
                         (sqrt(list_inner_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[]))
                          * sqrt(list_inner_product(qv, qv)) + 1e-12), 6)
                     AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, id ASC LIMIT {k}
        """


COSINE_TOPK = _cosine_topk_sql(20)


def ivf_topk(spark, sf):
    # probe-all configuration: IVF must be LOSSLESS when every bucket is
    # probed — the oracle is the brute-force top-k, so a hash match
    # proves the quantize/assign/probe plumbing drops nothing. Partial
    # probing (the at-scale recall/cost dial) is pinned by
    # tests/test_similarity.py and the partition-pruning layout test.
    emb = table(spark, sf, "embeddings")
    return SIM.ivf_topk(emb, _query_vec(emb), "embedding", "vec_id", k=10,
                        n_centroids=8, n_probe=8)


IVF_TOPK = _cosine_topk_sql(
    10, "            -- probe-all IVF == brute force (losslessness oracle)\n")


def embedding_pairs(spark, sf):
    # banded sign-LSH embedding dedup: the fixture has no natural
    # near-dups (max pair cosine 0.51), so the query plants them — each
    # vec_id < 50 gets a deterministic perturbed twin (id + 1000) built
    # with JVM array ops, cosine ~0.999, leaving a huge gap to the
    # natural 0.51 ceiling. The Spark side prunes candidates with
    # 4x4-banded hyperplane LSH and verifies exactly; the DuckDB twin
    # computes all pairs directly. At cosine 0.999 a true pair escapes
    # all 4 bands w.p. ~1e-5 per pair on RANDOM planes — but the planes
    # are a fixed seed and the vectors fixed, so the parity is
    # deterministic (verified green, like the minhash fixture-gap
    # argument).
    emb = table(spark, sf, "embeddings").where(F.col("vec_id") < 50)
    base = emb.select("vec_id",
                      F.col("embedding").cast("array<double>").alias("e"))
    # rename the id first: a lateral column alias would otherwise make
    # the lambda's vec_id resolve to the ALIASED (vec_id + 1000) output
    # column, silently shifting the perturbation formula
    pert = base.withColumnRenamed("vec_id", "orig_id").select(
        (F.col("orig_id") + 1000).alias("vec_id"),
        F.transform(
            "e",
            lambda x, i: x + F.lit(0.003)
            * (((F.col("orig_id") + i + F.lit(1)) % 7).cast("double")
               - F.lit(3.0)),
        ).alias("e"))
    both = base.unionByName(pert)
    return D.embedding_near_duplicates(both, "vec_id", "e",
                                       threshold=0.9) \
            .orderBy("id_a", "id_b")


EMBEDDING_PAIRS = """
            -- all-pairs twin of the banded sign-LSH plan: same planted
            -- perturbation (1-based g.i == Spark's 0-based i + 1), same
            -- double arithmetic, exact cosine on every pair
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS e
              FROM embeddings WHERE vec_id < 50),
            pert AS (
              SELECT b.vec_id + 1000 AS vec_id,
                     list(b.e[g.i] + 0.003
                          * (((b.vec_id + g.i) % 7) - 3.0)
                          ORDER BY g.i) AS e
              FROM base b, generate_series(1, 512) g(i)
              WHERE g.i <= len(b.e)
              GROUP BY b.vec_id),
            all_v AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_inner_product(a.e, b.e)
                     / (sqrt(list_inner_product(a.e, a.e))
                        * sqrt(list_inner_product(b.e, b.e))) AS c
              FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(c, 6) AS cosine
            FROM pairs WHERE c >= 0.9 ORDER BY id_a, id_b
        """


def knn_join(spark, sf):
    # k-NN join face of the similarity family: top-3 right neighbors per
    # left vector by exact cosine. Broadcast crossJoin + window top-k —
    # explicitly gated behind IVF bucketing at scale (similarity.py
    # docstring); the oracle is the same all-pairs ranking in SQL.
    emb = table(spark, sf, "embeddings")
    left = emb.where(F.col("vec_id") < 20)
    right = emb.where(F.col("vec_id") >= 20)
    return SIM.pairwise_topk_join(left, right, "embedding", "vec_id", k=3)


KNN_JOIN = """
            WITH l AS (SELECT vec_id AS id_l, embedding::DOUBLE[] AS e
                       FROM embeddings WHERE vec_id < 20),
            r AS (SELECT vec_id AS id_r, embedding::DOUBLE[] AS e
                  FROM embeddings WHERE vec_id >= 20),
            scored AS (
              SELECT id_l, id_r,
                     round(list_inner_product(l.e, r.e)
                           / (sqrt(list_inner_product(l.e, l.e))
                              * sqrt(list_inner_product(r.e, r.e))
                              + 1e-12), 6) AS cosine
              FROM l CROSS JOIN r),
            ranked AS (
              SELECT *, row_number() OVER (
                  PARTITION BY id_l ORDER BY cosine DESC, id_r) AS rn
              FROM scored)
            SELECT id_l, id_r, cosine FROM ranked WHERE rn <= 3
            ORDER BY id_l, cosine DESC, id_r
        """
