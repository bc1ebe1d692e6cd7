"""Embedding similarity and ANN: exact cosine, LSH, IVF, PQ, SQ8, SemDeDup, k-means, hard negatives.

Split from the round-4 queries.py monolith; float determinism contract
in ``pyveb_spark.queries.__doc__``. Registry/gate-window order lives in
``pyveb_spark/queries/__init__.py`` only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyveb_spark.operators.cleaning import clean_old_dates
from pyveb_spark.operators.joins import asof_join
from pyveb_spark.queries._helpers import (
    QueryScratch,
    _dec,
    _query_vec,
    scratch_query,
)
from pyveb_spark.sources.readers import read_table



# ---------------------------------------------------------------------------
# LLM ops: brute-force cosine top-k (ANN baseline)
# ---------------------------------------------------------------------------

def q19_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyveb_spark.operators.similarity import cosine_topk

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    return cosine_topk(e, query_vec, k=10, id_col="vec_id", vec_col="embedding",
                       exclude_ids=[0]).select(
        "vec_id", "label", F.round("cosine_sim", 4).alias("cosine_sim")
    )


_Q19_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT vec_id, label,
           list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS sim
    FROM embeddings, q
    WHERE vec_id <> 0)
SELECT vec_id, label, ROUND(sim, 4) AS cosine_sim
FROM scored
ORDER BY sim DESC, vec_id ASC
LIMIT 10
"""


def q30_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN top-k (random-hyperplane LSH) — oracle-checked: the
    ±1 plane matrix is md5-derived (``_rademacher_planes``), so DuckDB
    rebuilds the buckets, probes the query's bucket, and rescores exactly
    like the Spark plan. Exact-baseline superset/ordering properties are
    additionally asserted in unit tests."""
    from pyveb_spark.operators.similarity import cosine_topk_lsh

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    return cosine_topk_lsh(
        e, query_vec, k=10, n_planes=6, exclude_ids=[0]
    ).select("vec_id", "label", F.round("cosine_sim", 4).alias("cosine_sim"))


# the ±1 plane entry for (plane j, dim d): md5('plane|42|j|d') parity —
# identical to similarity.py::_rademacher_planes(seed=42)
_Q30_SQL = """
WITH vecd AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                     unnest(embedding::DOUBLE[]) AS v
              FROM embeddings),
bits AS (SELECT vec_id, j,
                CASE WHEN SUM(v * (CASE WHEN (('0x' || substr(md5('plane|42|' || j || '|' || d), 1, 12))::BIGINT % 2) = 1
                                        THEN 1.0 ELSE -1.0 END)) >= 0
                     THEN 1 ELSE 0 END AS bit
         FROM vecd CROSS JOIN (SELECT unnest(range(0, 6)) AS j) jj
         GROUP BY vec_id, j),
bkt AS (SELECT vec_id, CAST(SUM(bit * (1::BIGINT << j)) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id),
q AS (SELECT b.bucket AS qb, e.embedding::DOUBLE[] AS qv
      FROM bkt b JOIN embeddings e ON e.vec_id = b.vec_id
      WHERE b.vec_id = 0),
scored AS (SELECT e.vec_id, e.label,
                  list_dot_product(e.embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv))) AS sim
           FROM embeddings e
           JOIN bkt ON e.vec_id = bkt.vec_id
           CROSS JOIN q
           WHERE bkt.bucket = q.qb AND e.vec_id <> 0)
SELECT vec_id, label, ROUND(sim, 4) AS cosine_sim
FROM scored
ORDER BY sim DESC, vec_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# LLM ops: embedding-cosine near-duplicate pairs (exact baseline)
# ---------------------------------------------------------------------------

def q36_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with round(cosine,4) ≥ 0.5 — the exact
    brute-force near-dup baseline; the LSH-blocked variant is q30's
    bucketing applied pairwise (rows-only)."""
    from pyveb_spark.operators.similarity import cosine_pairs

    e = read_table(spark, sf_dir, "embeddings")
    return cosine_pairs(
        e, threshold=0.5, id_col="vec_id", vec_col="embedding",
        extra_cols=["label"],
    ).orderBy("vec_id_a", "vec_id_b")


_Q36_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       a.label AS label_a, b.label AS label_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.5
ORDER BY vec_id_a, vec_id_b
"""


# ---------------------------------------------------------------------------
# LLM ops: IVF-Flat ANN probe — oracle-checked: the centroid sample is the
# portable md5-48 hash order (similarity.py::_seed_centroids), so DuckDB
# re-derives centroids, assignment, probe set, and rescoring exactly.
# ---------------------------------------------------------------------------

def q37_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyveb_spark.operators.similarity import ivf_index, ivf_search

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    indexed, centroids = ivf_index(e, n_lists=16)
    return ivf_search(
        indexed, centroids, query_vec, k=10, nprobe=4, exclude_ids=[0]
    ).select("vec_id", "label", F.round("cosine_sim", 4).alias("cosine_sim"))


_Q37_SQL = """
WITH ch AS (SELECT vec_id, embedding,
                   ('0x' || substr(md5('ivf|' || vec_id), 1, 12))::BIGINT AS h
            FROM embeddings),
cent AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS list_id,
                embedding::DOUBLE[] AS cv
         FROM ch
         QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16),
assign AS (SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                                       c.list_id) AS rk
    FROM embeddings e CROSS JOIN cent c) t
  WHERE rk = 1),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (SELECT c.list_id FROM cent c, q
          ORDER BY list_distance(c.cv, q.qv), c.list_id
          LIMIT 4),
scored AS (SELECT e.vec_id, e.label,
                  list_dot_product(e.embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv))) AS sim
           FROM embeddings e
           JOIN assign a ON a.vec_id = e.vec_id
           CROSS JOIN q
           WHERE a.list_id IN (SELECT list_id FROM probe) AND e.vec_id <> 0)
SELECT vec_id, label, ROUND(sim, 4) AS cosine_sim
FROM scored
ORDER BY sim DESC, vec_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# LLM ops: embedding-space dedup pipeline (pairs → clusters → keep-one)
# ---------------------------------------------------------------------------

def q62_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q41 dedup decision pipeline driven by *embedding* similarity
    instead of n-gram overlap: exact cosine pairs (Arrow block-matmul,
    q36's kernel) above 0.45 become edges, alternating large-star/
    small-star connected components cluster them, singletons rejoin, and
    the smallest vec_id in each cluster is kept — semantic dedup as a
    100 TB pipeline emits it. Oracle: same pairs in SQL + recursive-CTE
    min-label reachability."""
    from pyveb_spark.operators.dedup import duplicate_clusters
    from pyveb_spark.operators.similarity import cosine_pairs

    e = read_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(
        e, threshold=0.45, id_col="vec_id", vec_col="embedding"
    )
    clustered = duplicate_clusters(
        pairs, "vec_id_a", "vec_id_b",
        out_node="vec_id", out_cluster="cluster_id",
    )
    singles = e.select("vec_id").join(
        clustered, "vec_id", "left_anti"
    ).select(F.col("vec_id"), F.col("vec_id").alias("cluster_id"))
    labeled = clustered.union(singles)
    w = Window.partitionBy("cluster_id")
    return (
        labeled.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_kept",
            (F.col("vec_id") == F.min("vec_id").over(w)).cast("int"),
        )
        .orderBy("vec_id")
    )


_Q62_SQL = """
WITH RECURSIVE
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.45),
edges AS (SELECT u, w FROM pairs UNION SELECT w, u FROM pairs),
reach(u, x) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
    UNION
    SELECT e2.u, r.x FROM edges e2 JOIN reach r ON r.u = e2.w),
comp AS (SELECT u AS vec_id, MIN(x) AS cluster_id FROM reach GROUP BY u),
labeled AS (
    SELECT emb.vec_id, COALESCE(c.cluster_id, emb.vec_id) AS cluster_id
    FROM embeddings emb LEFT JOIN comp c ON c.vec_id = emb.vec_id)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(vec_id = MIN(vec_id) OVER (PARTITION BY cluster_id) AS INT)
           AS is_kept
FROM labeled
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# ML ops: k-means clustering over embeddings
# (rows-only: iterative float averaging isn't SQL-expressible; the
# numpy-equivalence contract is pinned in tests/test_packing_sketches.py)
# ---------------------------------------------------------------------------

def q57_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=10, the fixture's true label count) over the
    64-dim embeddings: fit distributed (assignment is a scan-stage argmin
    expression, update one k×dim shuffle), then report per-cluster size
    and label purity — majority true label over cluster size, the
    standard unsupervised-quality readout. Oracle-checked: the md5-ordered
    seed centroids and the Lloyd recurrence are both engine-portable, so
    the DuckDB oracle unrolls the same 6 iterations as CTEs (generated by
    ``_kmeans_sql``); early stopping is a no-op once assignments are
    stable, which the fixture reaches before the cap."""
    from pyveb_spark.operators.similarity import kmeans_assign, kmeans_fit

    e = read_table(spark, sf_dir, "embeddings")
    # 6 iterations with a 1e-4 movement tolerance: on this fixture the
    # assignment is stable after ~4 rounds; each extra round is a full
    # assign+update job pair, so the cap is the bench-relevant knob
    centroids = kmeans_fit(e, k=10, max_iter=6, tol=1e-4)
    labeled = kmeans_assign(e, centroids)
    top_label = (
        labeled.groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("cluster")
        .agg(
            F.max_by(
                "label",
                F.struct(F.col("n"), (-F.col("label")).alias("nl")),
            ).alias("majority_label"),
            F.max("n").alias("majority_n"),
            F.sum("n").alias("n_vecs"),
        )
    )
    return top_label.select(
        "cluster",
        "n_vecs",
        "majority_label",
        F.round(F.col("majority_n") / F.col("n_vecs"), 4).alias("purity"),
    ).orderBy("cluster")


def _kmeans_assign_ctes(k: int, iters: int) -> str:
    """Shared CTE body: unrolled Lloyd's k-means through the final
    assignment ``aF (vec_id, cluster)`` — one (assign, update) pair per
    iteration, mirroring ``similarity.kmeans_fit`` exactly: md5-ordered
    seed centroids, squared-L2 argmin with ties to the lowest centroid
    id, per-(cluster, dim) mean update, empty clusters keep the previous
    centroid. Used by both the q57 purity oracle and the q91 SemDeDup
    oracle so iteration count and k stay in lockstep with Spark."""
    parts = [
        f"""
vecd AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                unnest(embedding::DOUBLE[]) AS v
         FROM embeddings),
seedh AS (SELECT vec_id,
                 ('0x' || substr(md5('ivf|' || vec_id), 1, 12))::BIGINT AS h
          FROM embeddings),
seedv AS (SELECT vec_id,
                 ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS list_id
          FROM seedh
          QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= {k}),
cent0 AS (SELECT s.list_id, v.d, v.v AS c
          FROM seedv s JOIN vecd v ON v.vec_id = s.vec_id)"""
    ]
    for i in range(iters):
        parts.append(f"""
dist{i} AS (SELECT v.vec_id, c.list_id, SUM((v.v - c.c) * (v.v - c.c)) AS dist
            FROM vecd v JOIN cent{i} c ON c.d = v.d
            GROUP BY v.vec_id, c.list_id),
a{i} AS (SELECT vec_id, list_id
         FROM dist{i}
         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY dist, list_id) = 1),
u{i} AS (SELECT a.list_id, v.d, AVG(v.v) AS c
         FROM a{i} a JOIN vecd v ON v.vec_id = a.vec_id
         GROUP BY a.list_id, v.d),
cent{i + 1} AS (SELECT c0.list_id, c0.d, COALESCE(u.c, c0.c) AS c
                FROM cent{i} c0
                LEFT JOIN u{i} u ON u.list_id = c0.list_id AND u.d = c0.d)""")
    parts.append(f"""
distF AS (SELECT v.vec_id, c.list_id, SUM((v.v - c.c) * (v.v - c.c)) AS dist
          FROM vecd v JOIN cent{iters} c ON c.d = v.d
          GROUP BY v.vec_id, c.list_id),
aF AS (SELECT vec_id, list_id AS cluster
       FROM distF
       QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, list_id) = 1)""")
    return ",".join(parts)


def _kmeans_sql(k: int = 10, iters: int = 6) -> str:
    """q57 oracle: k-means assignment CTEs + per-cluster label purity."""
    body = _kmeans_assign_ctes(k, iters)
    return f"""
WITH {body},
bylabel AS (SELECT a.cluster, e.label, COUNT(*) AS n
            FROM aF a JOIN embeddings e ON e.vec_id = a.vec_id
            GROUP BY a.cluster, e.label)
SELECT cluster,
       CAST(SUM(n) AS BIGINT) AS n_vecs,
       MAX(CASE WHEN rk = 1 THEN label END) AS majority_label,
       ROUND(MAX(CASE WHEN rk = 1 THEN n END) * 1.0 / SUM(n), 4) AS purity
FROM (SELECT cluster, label, n,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY n DESC, label ASC) AS rk
      FROM bylabel)
GROUP BY cluster
ORDER BY cluster
"""


_Q57_SQL = _kmeans_sql(10, 6)


# ---------------------------------------------------------------------------
# LLM ops: product-quantization ANN (compressed-vector search)
# ---------------------------------------------------------------------------

def q87_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (product-quantization) ANN with exact re-rank: train m=4 × k=16
    sub-codebooks with the seeded Lloyd recurrence, encode every vector to
    4 code bytes (64× compression of a float32 corpus — the memory path
    that makes billion-vector ANN feasible), shortlist 50 candidates by
    asymmetric distance (an m×k driver lookup table + m literal lookups
    per row in a shuffle-free narrow scan of ONLY the codes column), then
    re-rank the shortlist by exact squared L2 on the full vectors — the
    standard two-stage PQ serving shape: the coarse pass touches no float
    vectors, the exact pass touches 50. Oracle-checked end-to-end: the
    md5-seeded per-subspace k-means, the encode argmin, the ADC sum (same
    explicit left-to-right addition order), and the re-rank are all
    replayed in DuckDB by ``_pq_sql``."""
    from pyveb_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    codebooks = pq_train(e, m=4, k=16, iters=2)
    encoded = pq_encode(e, codebooks)
    short = pq_adc_topk(encoded, codebooks, query_vec, k=50, exclude_ids=[0])
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            qarr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        short.join(F.broadcast(e.select("vec_id", "label", "embedding")),
                   "vec_id")
        .withColumn("l2_dist", exact)
        .select("vec_id", "label", F.round("l2_dist", 4).alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(10)
    )


def q88_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the composed 100 TB serving shape: the IVF coarse
    quantizer (16 full-dim seed centroids, q37's) prunes the scan to the
    4 lists nearest the query (partition pruning on a list-partitioned
    table), PQ asymmetric distance shortlists 50 candidates reading only
    the 4 code bytes per vector (q87's), and the exact-L2 re-rank
    finishes on 50 full vectors. Every stage reuses an independently
    oracle-verified component; the composed oracle is ``_pq_sql(...,
    nprobe=4)``. No-residual variant: codes quantize raw vectors, so one
    encoded table serves any nprobe without re-encoding."""
    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivfpq_search,
        pq_encode,
        pq_train,
    )

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    indexed, cents = ivf_index(e, n_lists=16)
    codebooks = pq_train(e, m=4, k=16, iters=2)
    encoded = pq_encode(indexed, codebooks)
    short = ivfpq_search(
        encoded, cents, codebooks, query_vec,
        nprobe=4, shortlist=50, exclude_ids=[0],
    )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            qarr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        short.join(F.broadcast(e.select("vec_id", "label", "embedding")),
                   "vec_id")
        .withColumn("l2_dist", exact)
        .select("vec_id", "label", F.round("l2_dist", 4).alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(10)
    )


def _pq_sql(m: int = 4, k: int = 16, iters: int = 2, dsub: int = 16,
            shortlist: int = 50, topk: int = 10,
            sample_size: int = 4096, nprobe: int | None = None,
            train_where: str | None = None) -> str:
    """Unrolled PQ pipeline as DuckDB CTEs — per-subspace seeded Lloyd
    over the md5-ordered training sample (same recurrence as
    ``_kmeans_sql``), final-codebook encode of the FULL corpus, the ADC
    lookup sum in the same explicit addition order as the Spark
    expression, the ADC shortlist cut, and the exact-L2 re-rank.
    Generated so m/k/iters/shortlist/sample stay in lockstep with q87.

    ``nprobe`` adds the IVF-PQ composition (q88): full-dim coarse
    centroids from the SAME k seed rows, every vector assigned to its
    nearest list, and the ADC shortlist restricted to the ``nprobe``
    lists nearest the query — the oracle form of ``ivfpq_search``.

    ``train_where`` restricts the TRAINING population (seed rows +
    Lloyd sample — i.e. the frozen quantizers) to a predicate while the
    encode/assign/search still covers every vector — the oracle form of
    the streaming admission lifecycle (q218): quantizers trained on the
    initial corpus, arrivals encoded against them frozen."""
    tw = f" WHERE {train_where}" if train_where else ""
    parts = [
        f"""
vecd AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                unnest(embedding::DOUBLE[]) AS v
         FROM embeddings),
seedh AS (SELECT vec_id,
                 ('0x' || substr(md5('ivf|' || vec_id), 1, 12))::BIGINT AS h
          FROM embeddings{tw}),
seedv AS (SELECT vec_id,
                 ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS list_id
          FROM seedh
          QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= {k}),
samp AS (SELECT vec_id FROM seedh
         QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= {sample_size})"""
    ]
    for j in range(m):
        lo, hi = j * dsub, (j + 1) * dsub
        parts.append(f"""
v{j} AS (SELECT vec_id, d - {lo} AS d, v FROM vecd
         WHERE d >= {lo} AND d < {hi}),
t{j} AS (SELECT v.* FROM v{j} v JOIN samp s ON s.vec_id = v.vec_id),
c{j}_0 AS (SELECT s.list_id, v.d, v.v AS c
           FROM seedv s JOIN v{j} v ON v.vec_id = s.vec_id)""")
        for i in range(iters):
            parts.append(f"""
d{j}_{i} AS (SELECT v.vec_id, c.list_id,
                    SUM((v.v - c.c) * (v.v - c.c)) AS dist
             FROM t{j} v JOIN c{j}_{i} c ON c.d = v.d
             GROUP BY v.vec_id, c.list_id),
a{j}_{i} AS (SELECT vec_id, list_id FROM d{j}_{i}
             QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY dist, list_id) = 1),
u{j}_{i} AS (SELECT a.list_id, v.d, AVG(v.v) AS c
             FROM a{j}_{i} a JOIN v{j} v ON v.vec_id = a.vec_id
             GROUP BY a.list_id, v.d),
c{j}_{i + 1} AS (SELECT c0.list_id, c0.d, COALESCE(u.c, c0.c) AS c
                 FROM c{j}_{i} c0
                 LEFT JOIN u{j}_{i} u
                   ON u.list_id = c0.list_id AND u.d = c0.d)""")
        parts.append(f"""
ed{j} AS (SELECT v.vec_id, c.list_id,
                 SUM((v.v - c.c) * (v.v - c.c)) AS dist
          FROM v{j} v JOIN c{j}_{iters} c ON c.d = v.d
          GROUP BY v.vec_id, c.list_id),
code{j} AS (SELECT vec_id, list_id AS code FROM ed{j}
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, list_id) = 1),
lut{j} AS (SELECT c.list_id, SUM((q.v - c.c) * (q.v - c.c)) AS dist
           FROM c{j}_{iters} c
           JOIN (SELECT d, v FROM v{j} WHERE vec_id = 0) q ON q.d = c.d
           GROUP BY c.list_id)""")
    adc_sum = " + ".join(f"l{j}.dist" for j in range(m))
    adc_joins = "\n        ".join(
        (
            f"FROM code0 c0 JOIN lut0 l0 ON l0.list_id = c0.code"
            if j == 0
            else f"JOIN code{j} c{j} ON c{j}.vec_id = c0.vec_id "
            f"JOIN lut{j} l{j} ON l{j}.list_id = c{j}.code"
        )
        for j in range(m)
    )
    if nprobe is not None:
        parts.append(f"""
idist AS (SELECT v.vec_id, c.list_id,
                 SUM((v.v - c.c) * (v.v - c.c)) AS dist
          FROM vecd v
          JOIN (SELECT s.list_id, w.d, w.v AS c
                FROM seedv s JOIN vecd w ON w.vec_id = s.vec_id) c
            ON c.d = v.d
          GROUP BY v.vec_id, c.list_id),
iassign AS (SELECT vec_id, list_id FROM idist
            QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, list_id) = 1),
iprobe AS (SELECT list_id FROM idist WHERE vec_id = 0
           ORDER BY dist, list_id LIMIT {nprobe})""")
        short_src = ("adc a JOIN iassign ia ON ia.vec_id = a.vec_id\n"
                     "          WHERE a.vec_id <> 0\n"
                     "            AND ia.list_id IN (SELECT list_id FROM iprobe)")
    else:
        short_src = "adc a WHERE a.vec_id <> 0"
    parts.append(f"""
adc AS (SELECT c0.vec_id, {adc_sum} AS adc_dist
        {adc_joins}),
short AS (SELECT a.vec_id FROM {short_src}
          ORDER BY a.adc_dist, a.vec_id LIMIT {shortlist}),
rerank AS (SELECT s.vec_id,
                  SUM((v.v - q.v) * (v.v - q.v)) AS l2_dist
           FROM short s
           JOIN vecd v ON v.vec_id = s.vec_id
           JOIN (SELECT d, v FROM vecd WHERE vec_id = 0) q ON q.d = v.d
           GROUP BY s.vec_id)""")
    body = ",".join(parts)
    return f"""
WITH {body}
SELECT r.vec_id, e.label, ROUND(r.l2_dist, 4) AS l2_dist
FROM rerank r JOIN embeddings e ON e.vec_id = r.vec_id
ORDER BY r.l2_dist, r.vec_id
LIMIT {topk}
"""


_Q87_SQL = _pq_sql(4, 16, 2, 16, 50, 10)
_Q88_SQL = _pq_sql(4, 16, 2, 16, 50, 10, nprobe=4)


# ---------------------------------------------------------------------------
# LLM ops: SemDeDup — semantic dedup via k-means + within-cluster cosine
# ---------------------------------------------------------------------------

def q91_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup): k-means the embeddings (k=10, the
    q57 Lloyd recurrence capped at THREE iterations — SemDeDup needs a
    coarse partition, not a converged clustering, and each extra Lloyd
    round is a full assign+update job pair; ``tol=0`` pins the exact
    iteration count so the oracle's unrolled CTEs stay in lockstep), then
    flag within-cluster rows whose rounded cosine to a lower-id row is
    ≥ 0.45. The quadratic step runs per-cluster (one shuffle on
    ``cluster``), which is the whole point of the procedure at scale; the
    rounded-to-4 cosine compare is the q36 float contract, and the
    per-iteration assignment margins (incl. the 3-iteration prefix) are
    guarded in ``test_float_margin``.
    """
    from pyveb_spark.operators.similarity import semdedup

    e = read_table(spark, sf_dir, "embeddings")
    return semdedup(
        e, k=10, tau=0.45, max_iter=3, tol=0.0,
        id_col="vec_id", vec_col="embedding",
    ).orderBy("vec_id")


def _semdedup_sql(k: int = 10, iters: int = 6, tau: float = 0.45) -> str:
    body = _kmeans_assign_ctes(k, iters)
    return f"""
WITH {body},
ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dups AS (SELECT DISTINCT b.vec_id
         FROM aF a JOIN aF b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         JOIN ev va ON va.vec_id = a.vec_id
         JOIN ev vb ON vb.vec_id = b.vec_id
         WHERE ROUND(list_dot_product(va.v, vb.v)
                     / (sqrt(list_dot_product(va.v, va.v))
                        * sqrt(list_dot_product(vb.v, vb.v))), 4) >= {tau})
SELECT f.vec_id, f.cluster,
       CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dup
FROM aF f LEFT JOIN dups d ON d.vec_id = f.vec_id
ORDER BY f.vec_id
"""


_Q91_SQL = _semdedup_sql(10, 3, 0.45)


def q140_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over int8 scalar-quantized codes (``similarity.py::sq8_ann``,
    the FAISS ScalarQuantizer recipe): per-dim min/max "codebook" from
    one scan, codes = round((x-lo)·255/(hi-lo)) — engine-exact integers
    — then a codes-only approximate scan (cut on round(approx, 6)),
    shortlist 40, EXACT re-rank to top 10. The 4× compression tier
    between full floats (q19) and PQ's 64× (q87); the oracle replays
    quantize → dequantize → shortlist → re-rank end to end."""
    from pyveb_spark.operators.similarity import sq8_ann

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    out = sq8_ann(
        e, query_vec, k=10, shortlist=40, exclude_ids=[0]
    )
    return out.select(
        "vec_id", F.round("cosine_sim", 4).alias("cosine_sim")
    )


def _sq8_sql(shortlist: int = 40, topk: int = 10) -> str:
    """Unrolled SQ8 pipeline as DuckDB CTEs (quantize → dequantize →
    approximate shortlist → exact re-rank), parameterized so q140 and
    the persisted-stats q214 replay the same kernel at their own
    shortlist/top-k points."""
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
stats AS (SELECT i, MIN(x) AS lo, MAX(x) AS hi
          FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i
                FROM base)
          GROUP BY i),
arrs AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
         FROM stats),
q AS (SELECT v AS qv FROM base WHERE vec_id = 0),
codes AS (SELECT vec_id,
                 list_transform(v, (x, i) -> CASE
                     WHEN hi[i] = lo[i] THEN 0
                     ELSE LEAST(255, GREATEST(0,
                          CAST(ROUND((x - lo[i]) * 255.0
                                     / (hi[i] - lo[i]), 0) AS INT)))
                 END) AS code
          FROM base, arrs),
dq AS (SELECT vec_id,
              list_transform(code, (c, i) ->
                  lo[i] + CAST(c AS DOUBLE) * (hi[i] - lo[i]) / 255.0)
                AS d
       FROM codes, arrs),
approx AS (SELECT vec_id,
                  ROUND(list_dot_product(d, qv)
                        / (sqrt(list_dot_product(d, d))
                           * sqrt(list_dot_product(qv, qv))), 6)
                    AS approx_sim
           FROM dq, q
           WHERE vec_id <> 0),
short AS (SELECT vec_id FROM approx
          ORDER BY approx_sim DESC, vec_id LIMIT {shortlist}),
rerank AS (SELECT b.vec_id,
                  list_dot_product(v, qv)
                  / (sqrt(list_dot_product(v, v))
                     * sqrt(list_dot_product(qv, qv))) AS sim
           FROM base b JOIN short USING (vec_id), q)
SELECT vec_id, ROUND(sim, 4) AS cosine_sim
FROM rerank
ORDER BY ROUND(sim, 6) DESC, vec_id LIMIT {topk}
"""


_Q140_SQL = _sq8_sql(40, 10)


def q146_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (``similarity.py::hard_negative_mining``, the DPR data-prep step):
    for each of the first five vectors, the 3 most-cosine-similar
    vectors with a DIFFERENT class label — the maximally confusing
    negatives a contrastive loss wants. Query batch broadcasts, corpus
    scans once, per-query top-k is a windowed heap on round(cos, 6)."""
    from pyveb_spark.operators.similarity import hard_negative_mining

    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    return hard_negative_mining(q, e, k=3).orderBy("vec_id", "rank")


_Q146_SQL = """
WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
              FROM embeddings),
q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM base
      WHERE vec_id < 5),
scored AS (
  SELECT q.qid AS vec_id, c.vec_id AS neg_id, c.label AS neg_label,
         ROUND(list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
  FROM base c JOIN q ON c.label <> q.ql),
ranked AS (
  SELECT vec_id, neg_id, neg_label, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine_sim DESC, neg_id) AS rank
  FROM scored)
SELECT vec_id, neg_id, neg_label, cosine_sim, rank::INT AS rank
FROM ranked WHERE rank <= 3
ORDER BY vec_id, rank
"""


def q162_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of the LSH ANN tier against the exact baseline
    (``similarity.py::ann_recall_audit``) over a 20-point query batch —
    the ann-benchmarks acceptance metric computed in-engine, per query
    point (under-filled buckets show as n_approx < 10, which a mean-only
    recall hides). Both paths cut on round(cosine, 6) + id, and the
    oracle replays the md5-derived hyperplanes, both joins, and both
    heaps end-to-end."""
    from pyveb_spark.operators.similarity import ann_recall_audit

    e = read_table(spark, sf_dir, "embeddings")
    return ann_recall_audit(
        e, n_queries=20, k=10, n_planes=6, seed=42
    ).orderBy("vec_id")


_Q162_SQL = """
WITH scored AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         ROUND(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               6) AS sim
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < 20 AND c.vec_id >= 20
),
exact AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
    FROM scored
  ) WHERE rk <= 10
),
vecd AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                unnest(embedding::DOUBLE[]) AS v
         FROM embeddings),
bits AS (SELECT vec_id, j,
                CASE WHEN SUM(v * (CASE WHEN (('0x' || substr(md5('plane|42|' || j || '|' || d), 1, 12))::BIGINT % 2) = 1
                                        THEN 1.0 ELSE -1.0 END)) >= 0
                     THEN 1 ELSE 0 END AS bit
         FROM vecd CROSS JOIN (SELECT unnest(range(0, 6)) AS j) jj
         GROUP BY vec_id, j),
bkt AS (SELECT vec_id, CAST(SUM(bit * (1::BIGINT << j)) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id),
approx AS (
  SELECT qid, cid FROM (
    SELECT s.qid, s.cid,
           ROW_NUMBER() OVER (PARTITION BY s.qid ORDER BY s.sim DESC, s.cid) AS rk
    FROM scored s
    JOIN bkt bq ON bq.vec_id = s.qid
    JOIN bkt bc ON bc.vec_id = s.cid
    WHERE bq.bucket = bc.bucket
  ) WHERE rk <= 10
),
n_e AS (SELECT qid, COUNT(*) AS n_exact FROM exact GROUP BY qid),
n_a AS (SELECT qid, COUNT(*) AS n_approx FROM approx GROUP BY qid),
hits AS (SELECT e.qid, COUNT(*) AS n_hits
         FROM exact e JOIN approx a ON e.qid = a.qid AND e.cid = a.cid
         GROUP BY e.qid)
SELECT n_e.qid AS vec_id,
       n_exact::BIGINT AS n_exact,
       COALESCE(n_approx, 0)::BIGINT AS n_approx,
       COALESCE(n_hits, 0)::BIGINT AS n_hits,
       ROUND(COALESCE(n_hits, 0) / 10.0, 4) AS recall
FROM n_e LEFT JOIN n_a USING (qid) LEFT JOIN hits USING (qid)
ORDER BY vec_id
"""


def q165_incremental_embedding_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental embedding-dedup admission
    (``similarity.py::lsh_cosine_lookup``) — the vector twin of q45:
    a new batch (vec_id < 20) checked against the LSH-bucketed corpus
    (vec_id ≥ 20) instead of re-running all-pairs; candidates from the
    bucket equijoin, exact rescoring, round(cosine,4) ≥ 0.3 (the q36
    compare at the looser admission threshold this fixture's
    cluster-noise geometry needs). The oracle replays the md5-derived hyperplanes, the
    bucket join, and the threshold bit-for-bit; q162 is the recall
    monitor for this exact serving path."""
    from pyveb_spark.operators.similarity import lsh_cosine_lookup

    e = read_table(spark, sf_dir, "embeddings")
    batch = e.where(F.col("vec_id") < 20)
    corpus = e.where(F.col("vec_id") >= 20)
    return lsh_cosine_lookup(
        batch, corpus, threshold=0.3, n_planes=6, seed=42
    ).orderBy("vec_id_new", "vec_id_corpus")


_Q165_SQL = """
WITH vecd AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                     unnest(embedding::DOUBLE[]) AS v
              FROM embeddings),
bits AS (SELECT vec_id, j,
                CASE WHEN SUM(v * (CASE WHEN (('0x' || substr(md5('plane|42|' || j || '|' || d), 1, 12))::BIGINT % 2) = 1
                                        THEN 1.0 ELSE -1.0 END)) >= 0
                     THEN 1 ELSE 0 END AS bit
         FROM vecd CROSS JOIN (SELECT unnest(range(0, 6)) AS j) jj
         GROUP BY vec_id, j),
bkt AS (SELECT vec_id, CAST(SUM(bit * (1::BIGINT << j)) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id),
scored AS (
  SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus,
         ROUND(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
               / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
               4) AS cosine_sim
  FROM bkt a JOIN bkt b ON a.bucket = b.bucket
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE a.vec_id < 20 AND b.vec_id >= 20)
SELECT * FROM scored
WHERE cosine_sim >= 0.3
ORDER BY vec_id_new, vec_id_corpus
"""


# ---------------------------------------------------------------------------
# LLM ops: cluster-balanced corpus sampling (sqrt-weighted quotas)
# ---------------------------------------------------------------------------

def q179_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-balanced subcorpus selection — the diversity-preserving
    sampling step of embedding-curated pipelines (the DataComp/SemDeDup
    family: cluster first, then sample ACROSS clusters so no single mode
    dominates). A 200-vector budget is apportioned over the k=10 k-means
    clusters with weights ``⌊√n_c⌋`` (the α=½ temperature idea applied to
    cluster sizes: between proportional — head clusters dominate — and
    equal — tiny clusters oversampled), via the same integer
    largest-remainder machinery as q176; each cluster then keeps exactly
    ``min(alloc, n_c)`` members by content-hash rank
    (``ranked_quota_sample`` — reproducible on any partitioning).

    Oracle: the shared unrolled-Lloyd CTE (q57/q91's recurrence) + the
    integer apportionment + the md5 rank — every stage replayable.
    ``⌊√n⌋`` is exact in both engines (correctly-rounded IEEE sqrt of an
    integer, floored). The k-means here runs TWO Lloyd iterations (not
    q57's six): q179 uniquely certifies the apportionment + ranked
    selection stages — the clustering recurrence itself is already
    certified by q57 at 6 iterations — and the assignment CTE is
    referenced twice downstream (sizes + ranked), which DuckDB inlines
    into two full Lloyd replays unless MATERIALIZED; 2 iterations + a
    MATERIALIZED ``aF`` cut the oracle from ~428 s to seconds at sf0.01
    with identical certification power (round-6 verdict, What's wrong #1).

    Scale: k-means as q57 (scan-stage argmin, k×dim updates); the quota
    table is k rows; selection is one rank window per cluster — the
    same shuffle the assignment already did.
    """
    from pyveb_spark.operators.sampling import (
        apportion_budget,
        ranked_quota_sample,
    )
    from pyveb_spark.operators.similarity import kmeans_assign, kmeans_fit

    e = read_table(spark, sf_dir, "embeddings")
    # tol=0: run exactly max_iter iterations so the unrolled oracle's
    # iteration count can never drift from an early convergence stop
    centroids = kmeans_fit(e, k=10, max_iter=2, tol=0.0)
    labeled = kmeans_assign(e, centroids).select("vec_id", "cluster")
    sizes = labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    weights = sizes.withColumn(
        "w", F.floor(F.sqrt(F.col("n_vecs").cast("double"))).cast("long")
    )
    quotas = apportion_budget(weights, "cluster", "w", budget=200).join(
        sizes, "cluster"
    ).select(
        "cluster",
        "n_vecs",
        "w",
        F.least(F.col("alloc"), F.col("n_vecs")).alias("quota"),
    )
    kept = ranked_quota_sample(
        labeled, "cluster", ["vec_id"], quotas.select("cluster", "quota"),
        seed="cbs",
    )
    kept_stats = kept.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("vec_id").alias("kept_id_sum"),
    )
    # LEFT from quotas: a zero-quota cluster still gets its report row
    # (n_kept 0, NULL checksum — the oracle's SUM-over-zero-rows shape)
    return (
        quotas.join(kept_stats, "cluster", "left")
        .select(
            "cluster",
            "n_vecs",
            "w",
            "quota",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            "kept_id_sum",
        )
        .orderBy("cluster")
    )


def _q179_sql() -> str:
    # 2 Lloyd iterations (see q179 docstring) + a MATERIALIZED assignment:
    # aF is consumed by BOTH sizes and ranked, and DuckDB inlines plain
    # CTEs, so without the materialization the whole unrolled Lloyd chain
    # executes twice.
    body = _kmeans_assign_ctes(10, 2)
    return f"""
WITH {body},
aM AS MATERIALIZED (SELECT * FROM aF),
sizes AS (SELECT cluster, COUNT(*) AS n_vecs FROM aM GROUP BY cluster),
wts AS (SELECT cluster, n_vecs,
               CAST(FLOOR(SQRT(CAST(n_vecs AS DOUBLE))) AS BIGINT) AS w
        FROM sizes),
f AS (SELECT cluster, n_vecs, w,
             (200 * w) // (SELECT SUM(w) FROM wts) AS fl,
             (200 * w) % (SELECT SUM(w) FROM wts) AS rem
      FROM wts),
q AS (SELECT cluster, n_vecs, w,
             LEAST(fl + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC,
                                                     cluster ASC)
                             <= 200 - (SELECT SUM(fl) FROM f)
                        THEN 1 ELSE 0 END,
                   n_vecs) AS quota
      FROM f),
ranked AS (SELECT a.cluster, a.vec_id,
                  ROW_NUMBER() OVER (
                    PARTITION BY a.cluster
                    ORDER BY substr(md5('cbs|' || a.vec_id), 1, 12),
                             a.vec_id) AS rk
           FROM aM a),
kept AS (SELECT r.cluster, r.vec_id
         FROM ranked r JOIN q ON q.cluster = r.cluster
         WHERE r.rk <= q.quota)
SELECT q.cluster,
       q.n_vecs::BIGINT AS n_vecs,
       q.w::BIGINT AS w,
       q.quota::BIGINT AS quota,
       COUNT(k.vec_id)::BIGINT AS n_kept,
       SUM(k.vec_id)::BIGINT AS kept_id_sum
FROM q LEFT JOIN kept k ON k.cluster = q.cluster
GROUP BY q.cluster, q.n_vecs, q.w, q.quota
ORDER BY q.cluster
"""


_Q179_SQL = _q179_sql()


# ---------------------------------------------------------------------------
# LLM ops: MMR diverse top-k (round-8 head)
# ---------------------------------------------------------------------------

def q183_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse top-10 — the diversity re-rank
    every RAG / eval-curation serving layer runs on its retrieval
    shortlist (Carbonell & Goldstein 1998): the distributed stage
    produces the 50-candidate cosine shortlist (``cosine_topk`` — a
    TakeOrderedAndProject heap scan, no global sort; at 100 TB the ANN
    index serves this), then ``mmr_select`` greedily picks 10 by
    ``0.7·rel − 0.3·max_sim_to_selected`` on the driver — O(k·50) work on
    a bounded, model-sized set.

    Oracle: the shortlist replays via q19's exact-cosine contract
    (left-to-right double accumulation ≡ ``list_dot_product``), and the
    10 greedy picks unroll as 10 CTE steps with the same exact-double
    score comparisons and lowest-id tie-breaks — every pick certified,
    not just the final set."""
    from pyveb_spark.operators.similarity import cosine_topk, mmr_select

    e = read_table(spark, sf_dir, "embeddings")
    qv = _query_vec(e)
    cand = cosine_topk(e, qv, k=50, exclude_ids=[0]).select(
        "vec_id", "label", "embedding", "cosine_sim"
    )
    rows = cand.collect()  # 50 rows by construction — the shortlist
    picks = mmr_select(
        [
            (r["vec_id"], r["label"], r["cosine_sim"],
             [float(x) for x in r["embedding"]])
            for r in rows
        ],
        k=10, lam=0.7, mu=0.3,
    )
    from pyveb_spark.session import local_df

    out = local_df(
        spark, picks,
        "rank int, vec_id long, label int, rel double, mmr double",
    )
    return out.select(
        "rank", "vec_id", "label",
        F.round("rel", 4).alias("rel"),
        F.round("mmr", 4).alias("mmr"),
    ).orderBy("rank")


def _q183_sql(k: int = 10, pool: int = 50) -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    # every CTE is MATERIALIZED: sel{i} references ALL previous picks, so
    # plain-CTE inlining re-expands the chain exponentially (the
    # q171/q179 DuckDB lesson — here it exhausts file handles re-opening
    # the parquet source before it exhausts time)
    parts = [f"""
q AS MATERIALIZED (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = 0),
cand AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                {cos('embedding::DOUBLE[]', 'qv')} AS rel
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY rel DESC, vec_id ASC LIMIT {pool}),
sel1 AS MATERIALIZED (SELECT vec_id, label, v, rel,
                             0.7 * rel - 0.3 * 0.0 AS mmr
         FROM cand ORDER BY mmr DESC, vec_id ASC LIMIT 1)"""]
    for i in range(2, k + 1):
        prev_ids = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, i)
        )
        prev_vs = " UNION ALL ".join(
            f"SELECT v FROM sel{j}" for j in range(1, i)
        )
        parts.append(f""",
sel{i} AS MATERIALIZED (SELECT vec_id, label, v, rel,
                  0.7 * rel - 0.3 * (
                    SELECT MAX({cos('c.v', 's.v')})
                    FROM ({prev_vs}) s) AS mmr
           FROM cand c
           WHERE c.vec_id NOT IN ({prev_ids})
           ORDER BY mmr DESC, vec_id ASC LIMIT 1)""")
    union = "\nUNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, label, ROUND(rel, 4) AS rel, "
        f"ROUND(mmr, 4) AS mmr FROM sel{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + "".join(parts) + f"\n{union}\nORDER BY rank"


_Q183_SQL = _q183_sql()


# ---------------------------------------------------------------------------
# Margin-based bitext mining (round-8 head)
# ---------------------------------------------------------------------------

def q189_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019 — the
    LASER/CCMatrix criterion behind the largest public bitext corpora):
    treat even-vec_id embeddings as the source side and odd as the
    target side (so every semantic region exists on both sides — the
    bitext shape), score cross-side pairs, and re-rank candidates by
    the ratio margin ``cos(x,y) / ((avg_k(x)+avg_k(y))/2)`` with k=4
    nearest-neighbour normalization — the hubness correction that raw
    cosine mining lacks. Candidates are gated at cosine ≥ 0.3 FIRST
    (the retrieval step — CCMatrix computes margins over retrieved
    top-k sets, never all pairs; an ungated formulation materializes
    n²/2 rows and was measured dying at 50 k vectors), and the
    neighbourhood averages are taken over each node's retrieved set.
    Emits the top-20 mined pairs by margin.

    Scale: candidate generation reuses ``cosine_pairs`` (blocked numpy
    matmul, no driver collect, blocks sized to the corpus so each cell's
    sim matrix stays ~100 MB) as the exact baseline; at 100 TB the
    candidate set comes from the LSH/IVF tier (``lsh_cosine_lookup``)
    and ``margin_bitext_mine`` re-scores it unchanged — margin cost is
    two keyed windows over candidates, not corpus-quadratic.
    Determinism: 4-decimal cosines, decimal-summed neighbourhood
    averages, single double division, margin round(6)."""
    from pyveb_spark.operators.similarity import (
        cosine_pairs,
        margin_bitext_mine,
    )

    e = read_table(spark, sf_dir, "embeddings")
    n = e.count()
    p = cosine_pairs(
        e, threshold=0.3, id_col="vec_id", vec_col="embedding",
        extra_cols=["label"], n_blocks=max(8, -(-n // 3000)),
    )
    cross = p.where(
        (F.col("vec_id_a") % 2) != (F.col("vec_id_b") % 2)
    )
    a_is_src = (F.col("vec_id_a") % 2) == 0
    directed = cross.select(
        F.when(a_is_src, F.col("vec_id_a")).otherwise(F.col("vec_id_b"))
        .alias("src_id"),
        F.when(a_is_src, F.col("label_a")).otherwise(F.col("label_b"))
        .alias("src_label"),
        F.when(a_is_src, F.col("vec_id_b")).otherwise(F.col("vec_id_a"))
        .alias("tgt_id"),
        F.when(a_is_src, F.col("label_b")).otherwise(F.col("label_a"))
        .alias("tgt_label"),
        "cosine_sim",
    )
    mined = margin_bitext_mine(directed, k=4)
    return (
        mined.orderBy(F.desc("margin"), "src_id", "tgt_id")
        .limit(20)
        .select(
            "src_id", "tgt_id", "src_label", "tgt_label",
            "cosine_sim", "margin",
        )
    )


_Q189_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
directed AS (
  SELECT * FROM (
    SELECT s.vec_id AS src_id, s.label AS src_label,
           t.vec_id AS tgt_id, t.label AS tgt_label,
           ROUND(list_dot_product(s.v, t.v)
                 / (sqrt(list_dot_product(s.v, s.v))
                    * sqrt(list_dot_product(t.v, t.v))), 4) AS cosine_sim
    FROM e s JOIN e t ON s.vec_id % 2 = 0 AND t.vec_id % 2 = 1)
  WHERE cosine_sim >= 0.3),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY src_id
                            ORDER BY cosine_sim DESC, tgt_id) AS rn_f,
         ROW_NUMBER() OVER (PARTITION BY tgt_id
                            ORDER BY cosine_sim DESC, src_id) AS rn_b
  FROM directed),
nf AS (SELECT src_id,
              CAST(SUM(CAST(cosine_sim AS DECIMAL(8,4))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS avg_src
       FROM ranked WHERE rn_f <= 4 GROUP BY src_id),
nb AS (SELECT tgt_id,
              CAST(SUM(CAST(cosine_sim AS DECIMAL(8,4))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS avg_tgt
       FROM ranked WHERE rn_b <= 4 GROUP BY tgt_id),
mined AS (
  SELECT r.src_id, r.tgt_id, r.src_label, r.tgt_label, r.cosine_sim,
         ROUND(r.cosine_sim / ((nf.avg_src + nb.avg_tgt)
                               / CAST(2 AS DOUBLE)), 6) AS margin
  FROM ranked r
  JOIN nf ON nf.src_id = r.src_id
  JOIN nb ON nb.tgt_id = r.tgt_id
  WHERE r.rn_f <= 4 OR r.rn_b <= 4)
SELECT src_id, tgt_id, src_label, tgt_label, cosine_sim, margin
FROM mined
ORDER BY margin DESC, src_id, tgt_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# LSH-tier margin bitext mining (round-9 head) — q189's production shape
# ---------------------------------------------------------------------------

def q200_bitext_lsh_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining over the LSH candidate tier — the
    production shape of q189 (Artetxe & Schwenk 2019), composed the way
    q45/q172 pair exact machinery with q17: candidates come from
    ``lsh_cosine_cross_pairs`` (even vec_ids = source side, odd = target
    side, hashed with the shared md5-derived hyperplanes; hot buckets
    capped; candidates vectorized-rescored, round(cosine,4) ≥ 0.3), and
    ``margin_bitext_mine`` re-scores that bounded set unchanged with
    k=4 hubness normalization. q189's exact O(n²) kernel stays
    registered as this path's recall yardstick (the q162-style audit:
    every pair mined here is scored identically there; only recall
    differs, by the single-probe LSH curve). The capped hot buckets are
    the hub regions — exactly what the margin criterion exists to
    demote.

    Scale: this is the shape that survives 100 TB — the bucket equijoin
    carries (id, bucket) rows only, the rescore is numpy over
    repartitioned Arrow batches (never the interpreted per-pair fold —
    a measured 10-minutes→seconds difference at 50 k vectors, see
    ``lsh_cosine_cross_pairs``), the margin stage is two keyed windows
    over candidates, and resolution (n_planes) is the knob that holds
    per-bucket density as the corpus grows —
    ``similarity.suggest_lsh_planes(n_vectors)`` picks it from the
    measured BASELINE.md response (6 planes fits this fixture's ~3 k
    vectors/side; the 50 k twin wants 10, the 150 k twin 12).
    Determinism: 4-decimal
    cosines, decimal-summed neighbourhood averages, single double
    division, margin round(6) — the q189 contract verbatim."""
    from pyveb_spark.operators.similarity import (
        lsh_cosine_cross_pairs,
        margin_bitext_mine,
    )

    e = read_table(spark, sf_dir, "embeddings")
    src = e.where(F.col("vec_id") % 2 == 0)
    tgt = e.where(F.col("vec_id") % 2 == 1)
    cand = lsh_cosine_cross_pairs(
        src, tgt, threshold=0.3, n_planes=6, seed=42, max_bucket_size=4000
    )
    labels = e.select("vec_id", "label")
    directed = (
        cand.select(
            F.col("vec_id_a").alias("src_id"),
            F.col("vec_id_b").alias("tgt_id"),
            "cosine_sim",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("src_id"),
                F.col("label").alias("src_label"),
            ),
            "src_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("tgt_id"),
                F.col("label").alias("tgt_label"),
            ),
            "tgt_id",
        )
    )
    mined = margin_bitext_mine(directed, k=4)
    return (
        mined.orderBy(F.desc("margin"), "src_id", "tgt_id")
        .limit(20)
        .select(
            "src_id", "tgt_id", "src_label", "tgt_label",
            "cosine_sim", "margin",
        )
    )


_Q200_SQL = """
WITH vecd AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                     unnest(embedding::DOUBLE[]) AS v
              FROM embeddings),
bits AS (SELECT vec_id, j,
                CASE WHEN SUM(v * (CASE WHEN (('0x' || substr(md5('plane|42|' || j || '|' || d), 1, 12))::BIGINT % 2) = 1
                                        THEN 1.0 ELSE -1.0 END)) >= 0
                     THEN 1 ELSE 0 END AS bit
         FROM vecd CROSS JOIN (SELECT unnest(range(0, 6)) AS j) jj
         GROUP BY vec_id, j),
bkt AS (SELECT vec_id, CAST(SUM(bit * (1::BIGINT << j)) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id),
okb AS (SELECT bucket FROM bkt GROUP BY bucket HAVING COUNT(*) <= 4000),
directed AS (
  SELECT * FROM (
    SELECT s.vec_id AS src_id, s.label AS src_label,
           t.vec_id AS tgt_id, t.label AS tgt_label,
           ROUND(list_dot_product(s.embedding::DOUBLE[], t.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(t.embedding::DOUBLE[], t.embedding::DOUBLE[]))),
                 4) AS cosine_sim
    FROM bkt a JOIN okb USING (bucket) JOIN bkt b ON a.bucket = b.bucket
    JOIN embeddings s ON s.vec_id = a.vec_id
    JOIN embeddings t ON t.vec_id = b.vec_id
    WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1)
  WHERE cosine_sim >= 0.3),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY src_id
                            ORDER BY cosine_sim DESC, tgt_id) AS rn_f,
         ROW_NUMBER() OVER (PARTITION BY tgt_id
                            ORDER BY cosine_sim DESC, src_id) AS rn_b
  FROM directed),
nf AS (SELECT src_id,
              CAST(SUM(CAST(cosine_sim AS DECIMAL(8,4))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS avg_src
       FROM ranked WHERE rn_f <= 4 GROUP BY src_id),
nb AS (SELECT tgt_id,
              CAST(SUM(CAST(cosine_sim AS DECIMAL(8,4))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS avg_tgt
       FROM ranked WHERE rn_b <= 4 GROUP BY tgt_id),
mined AS (
  SELECT r.src_id, r.tgt_id, r.src_label, r.tgt_label, r.cosine_sim,
         ROUND(r.cosine_sim / ((nf.avg_src + nb.avg_tgt)
                               / CAST(2 AS DOUBLE)), 6) AS margin
  FROM ranked r
  JOIN nf ON nf.src_id = r.src_id
  JOIN nb ON nb.tgt_id = r.tgt_id
  WHERE r.rn_f <= 4 OR r.rn_b <= 4)
SELECT src_id, tgt_id, src_label, tgt_label, cosine_sim, margin
FROM mined
ORDER BY margin DESC, src_id, tgt_id
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Embedding OOD screen (round-8 head)
# ---------------------------------------------------------------------------

def q193_embedding_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution screen for the embedding corpus
    (``operators/similarity.py::mahalanobis_outliers``): squared
    Mahalanobis distance to the corpus distribution under a diagonal
    covariance — the vector-space z-score that catches corrupt encoder
    output, wrong-modality rows, and truncated vectors before they enter
    an ANN index. Emits the top-10 most-OOD vectors.

    Scale: the model is dim-sized driver state (64 (mean, var) pairs —
    one tiny aggregate, the k x dim precedent); scoring is a pure
    scan-stage zip_with/aggregate fold — no shuffle, no join, no Python;
    top-10 is a per-partition heap (TakeOrderedAndProject)."""
    from pyveb_spark.operators.similarity import mahalanobis_outliers

    e = read_table(spark, sf_dir, "embeddings")
    scored = mahalanobis_outliers(e).select(
        "vec_id", "label", F.round("maha_sq", 4).alias("maha_sq")
    )
    return scored.orderBy(F.desc("maha_sq"), "vec_id").limit(10)


_Q193_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (
  SELECT vec_id, label, i AS pos, v[i] AS val
  FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) s),
st AS (
  SELECT pos, AVG(val) AS mu, var_samp(val) AS var
  FROM ex GROUP BY pos),
sc AS (
  SELECT vec_id, label,
         SUM(CASE WHEN var > 0 THEN (val - mu) * (val - mu) / var
                  ELSE 0 END) AS s
  FROM ex JOIN st USING (pos)
  GROUP BY vec_id, label)
SELECT vec_id, label, ROUND(s, 4) AS maha_sq
FROM sc
ORDER BY maha_sq DESC, vec_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# JL projection distortion audit (round-8 head)
# ---------------------------------------------------------------------------

_Q196_DIM_OUT = 16
_Q196_N = 40


def q196_jl_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit for
    ``operators/similarity.py::random_projection`` — the table an
    operator reads before swapping wide embeddings for cheap projected
    ones in the candidate tier: project 64 → 16 dims on the seeded
    Gaussian planes, l2-normalize BOTH representations
    (``l2_normalize`` — cosine becomes a plain dot product), and
    histogram |cos_projected − cos_original| over all pairs of a
    40-vector probe sample in 0.05-wide buckets. A mass pile-up in the
    low buckets says the projection preserves ranking; the tail width
    IS the JL error at this dim_out (≈ N(0, 1/√16) here — 16 dims is
    deliberately coarse so the audit shows a real trade-off).

    Determinism: cosines land on an integer 1e-4 grid before
    differencing, so the bucket arithmetic is pure BIGINT — no float
    boundary anywhere. The plane literals are generated by the same
    seeded function on both sides (the minhash-coeff precedent).
    Scale: projection + normalization are stateless scan expressions;
    the probe pair set is bounded (40 vectors) by construction."""
    from pyveb_spark.operators.similarity import (
        _dot,
        _as_double,
        l2_normalize,
        random_projection,
    )

    e = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _Q196_N
    )
    proj = random_projection(
        e, dim_in=64, dim_out=_Q196_DIM_OUT, vec_col="embedding",
        out_col="proj",
    )
    base = proj.select(
        "vec_id",
        l2_normalize(F.col("embedding")).alias("vo"),
        l2_normalize(F.col("proj")).alias("vp"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, F.col("a.vec_id") < F.col("b.vec_id")
    ).select(
        F.round(_dot(_as_double(F.col("a.vo")), _as_double(F.col("b.vo")))
                * F.lit(10000.0), 0).cast("bigint").alias("io"),
        F.round(_dot(_as_double(F.col("a.vp")), _as_double(F.col("b.vp")))
                * F.lit(10000.0), 0).cast("bigint").alias("ip"),
    )
    return (
        pairs.select(
            (F.abs(F.col("ip") - F.col("io")) / F.lit(500))
            .cast("bigint")
            .alias("distortion_bucket")
        )
        .groupBy("distortion_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("distortion_bucket")
    )


def _q196_sql() -> str:
    from pyveb_spark.operators.similarity import _random_hyperplanes

    planes = _random_hyperplanes(64, _Q196_DIM_OUT, seed=42)
    scale = 1.0 / (_Q196_DIM_OUT ** 0.5)
    comps = ",\n          ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in p)}]) * {scale!r}"
        for p in planes
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id < {_Q196_N}),
p AS (SELECT vec_id, v,
        [{comps}] AS pr
      FROM e),
n AS (SELECT vec_id,
        list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)),
                                            1e-12)) AS vo,
        list_transform(pr, x -> x / greatest(sqrt(list_dot_product(pr, pr)),
                                             1e-12)) AS vp
      FROM p),
pairs AS (
  SELECT CAST(ROUND(list_dot_product(a.vo, b.vo) * 10000.0, 0) AS BIGINT)
           AS io,
         CAST(ROUND(list_dot_product(a.vp, b.vp) * 10000.0, 0) AS BIGINT)
           AS ip
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT abs(ip - io) // 500 AS distortion_bucket,
       COUNT(*)::BIGINT AS n_pairs
FROM pairs
GROUP BY 1
ORDER BY distortion_bucket
"""


# ---------------------------------------------------------------------------
# Batch exact k-NN join (round-8 head)
# ---------------------------------------------------------------------------

def q197_batch_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batch k-NN join (``operators/similarity.py::knn_join``):
    the 20-vector query batch against the full corpus, 3 nearest
    neighbours each by cosine — the retrieval-evaluation prep step
    (ground-truth neighbour lists for recall@k audits like q162, hard
    negatives like q146). Broadcast query-batch shape: corpus scans
    once, per-query top-k is a windowed heap.

    Scale: exact batch kNN is the audit baseline; serving-path batch
    lookup is ``lsh_cosine_lookup`` (q165) with this as its recall
    reference."""
    from pyveb_spark.operators.similarity import knn_join

    e = read_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 20)
    return (
        knn_join(
            q, e, k=3, id_col="vec_id", vec_col="embedding",
            broadcast_side="left",
        )
        .select(
            "vec_id", "nn_id",
            F.round("cosine_sim", 4).alias("cosine_sim"), "rank",
        )
        .orderBy("vec_id", "rank")
    )


_Q197_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.qid AS vec_id, c.vec_id AS nn_id,
         list_dot_product(c.v, q.qv)
           / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(q.qv, q.qv))) AS sim
  FROM e c JOIN q ON c.vec_id <> q.qid),
ranked AS (
  SELECT vec_id, nn_id, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, nn_id) AS rank
  FROM scored)
SELECT vec_id, nn_id, ROUND(sim, 4) AS cosine_sim, rank::INT AS rank
FROM ranked WHERE rank <= 3
ORDER BY vec_id, rank
"""


# ---------------------------------------------------------------------------
# Mean-pool prototype assignment audit (round-8 head)
# ---------------------------------------------------------------------------

def q198_prototype_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label prototype audit (``operators/similarity.py::mean_pool``
    + ``nearest_centroid``): pool every label's vectors into a mean
    prototype (the chunk→document / cluster-prototype pooling shape),
    assign every vector to its nearest prototype by squared L2, and
    report per label how many members come home (nearest prototype ==
    own label) and the agreement fraction. The
    nearest-prototype classifier is the standard probe for whether a
    labeling carries geometric signal; on this near-random fixture the
    agreement fraction sits near chance — the honest null the oracle
    certifies (a clustered corpus drives it toward 1).

    Scale: mean_pool is one map-side-combinable shuffle; the prototype
    model is labels × dims driver state (the k×dim precedent); scoring
    is the scan-stage argmin fold shared with k-means. Prototype
    components are rounded to 6 decimals before entering the model (and
    the oracle's proto CTE mirrors the rounding) so both engines argmin
    over IDENTICAL values — Spark's distributed mean and DuckDB's
    sequential mean differ in the last float ulps, and an unrounded
    near-tie between two prototypes could flip an assignment."""
    from pyveb_spark.operators.similarity import mean_pool, nearest_centroid

    e = read_table(spark, sf_dir, "embeddings")
    protos = mean_pool(e, ["label"], vec_col="embedding", out_col="proto")
    model = [
        (int(r["label"]), [round(float(x), 6) for x in r["proto"]])
        for r in protos.orderBy("label").collect()
    ]
    assigned = e.select(
        "vec_id",
        "label",
        nearest_centroid(F.col("embedding"), model).alias("nc"),
    ).select(
        "label",
        (F.col("nc.list_id") == F.col("label")).alias("own"),
    )
    return (
        assigned.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.when(F.col("own"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_own"),
            F.round(
                F.sum(F.when(F.col("own"), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("frac_own"),
        )
        .orderBy("label")
    )


_Q198_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
ex AS (SELECT label, i AS pos, v[i] AS val
       FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) s),
proto AS (
  SELECT label AS plabel, pos, ROUND(AVG(val), 6) AS pv
  FROM ex GROUP BY 1, 2),
dists AS (
  SELECT a.vec_id, a.label, p.plabel,
         SUM((a.val - p.pv) * (a.val - p.pv)) AS dist
  FROM (SELECT vec_id, label, i AS pos, v[i] AS val
        FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) s
       ) a
  JOIN proto p ON p.pos = a.pos
  GROUP BY 1, 2, 3),
nearest AS (
  SELECT vec_id, label, plabel,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist, plabel) AS rk
  FROM dists)
SELECT label,
       COUNT(*)::BIGINT AS n_vectors,
       SUM(CASE WHEN plabel = label THEN 1 ELSE 0 END)::BIGINT AS n_own,
       ROUND(SUM(CASE WHEN plabel = label THEN 1 ELSE 0 END)
             / (COUNT(*) * 1.0), 6) AS frac_own
FROM nearest
WHERE rk = 1
GROUP BY label
ORDER BY label
"""


# ---------------------------------------------------------------------------
# IVF search over a PERSISTED (save → load) index — round-10 head
# ---------------------------------------------------------------------------

@scratch_query
def q207_ivf_persisted_search(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """ANN index persistence made first-class (``sinks/index_store.py``):
    build the q37 IVF-Flat index, SAVE it (postings partitioned by
    ``ivf_list``, centroids as a k×dim side table), RELOAD it in what
    could be a different session, and serve ``ivf_search`` from the
    reloaded frame. The search must return exactly what a fresh index
    returns — persistence is a layout change, never a semantic one — so
    the oracle is the same IVF replay as q37 (seed-centroid md5 ranks,
    argmin assignment, probe-3 shortlist) at this query's own
    k=8/nprobe=3 point.

    100 TB design: the probe over the reloaded index is PARTITION
    PRUNING at the scan (``PartitionFilters`` on ``ivf_list``,
    plan-gated in tests/test_plan_quality.py) — ~nprobe/n_lists of the
    corpus bytes read, the durable form of the warm-index property. The
    centroid reload is k×dim driver state (the coarse-quantizer
    convention)."""
    from pyveb_spark.operators.similarity import ivf_index, ivf_search
    from pyveb_spark.sinks.index_store import load_ivf_index, save_ivf_index

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    indexed, centroids = ivf_index(e, n_lists=16)
    ivf_dir = f"{s.dir}/ivf"
    save_ivf_index(indexed, centroids, ivf_dir)
    postings, cents, idx_meta = load_ivf_index(spark, ivf_dir)
    return (
        ivf_search(
            postings, cents, query_vec, k=8, nprobe=3,
            exclude_ids=[0], meta=idx_meta,
        )
        .select(
            "vec_id", "label",
            F.round("cosine_sim", 4).alias("cosine_sim"),
        )
    )


_Q207_SQL = """
WITH ch AS (SELECT vec_id, embedding,
                   ('0x' || substr(md5('ivf|' || vec_id), 1, 12))::BIGINT AS h
            FROM embeddings),
cent AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS list_id,
                embedding::DOUBLE[] AS cv
         FROM ch
         QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16),
assign AS (SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                                       c.list_id) AS rk
    FROM embeddings e CROSS JOIN cent c) t
  WHERE rk = 1),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (SELECT c.list_id FROM cent c, q
          ORDER BY list_distance(c.cv, q.qv), c.list_id
          LIMIT 3),
scored AS (SELECT e.vec_id, e.label,
                  list_dot_product(e.embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv))) AS sim
           FROM embeddings e
           JOIN assign a ON a.vec_id = e.vec_id
           CROSS JOIN q
           WHERE a.list_id IN (SELECT list_id FROM probe) AND e.vec_id <> 0)
SELECT vec_id, label, ROUND(sim, 4) AS cosine_sim
FROM scored
ORDER BY sim DESC, vec_id ASC
LIMIT 8
"""


# ---------------------------------------------------------------------------
# Incremental IVF admission: frozen quantizer + appended postings
# (round-10 head)
# ---------------------------------------------------------------------------

@scratch_query
def q210_ivf_incremental_admission(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The IVF serving lifecycle q207 left open: ADMIT new vectors into
    a persisted index without a rebuild. The coarse quantizer is trained
    on the original corpus only (vec_id ≥ 100) and FROZEN — the standard
    IVF serving contract (re-clustering is the rebuild path) — then the
    arriving batch (vec_id < 100) is assigned to its nearest existing
    centroid in one scan (``nearest_centroid`` — literal expressions, no
    shuffle) and appended into the postings' list partitions
    (``index_store.append_ivf_postings``: new files in existing
    directories, searchable immediately). The probe that follows reads
    the union — appended vectors rank in the top-k exactly as if the
    index had been built over everything with those centroids.

    The oracle replays centroid selection RESTRICTED to the original
    corpus (the frozen-quantizer semantics made SQL-visible), assignment
    over all vectors, and the nprobe-4 search — so "append then search"
    is certified equal to "assign-all then search", which is the whole
    claim.

    100 TB design: admission is a stateless scan of the batch (k×dim
    literal argmin) + a partitioned append — no corpus reads, no
    shuffle; searches keep paying only ~nprobe/n_lists of the (grown)
    corpus via partition pruning."""
    return _q210_frame(spark, sf_dir, s)


def _q210_frame(
    spark: SparkSession, sf_dir: str, s: QueryScratch, compact: bool = False
) -> DataFrame:
    """The q210 lifecycle over an index in ``s.dir``.

    ``compact=True`` inserts ``index_store.compact_ivf_postings``
    between the append and the search — the q217 lifecycle variant:
    compaction rewrites each grown list partition's small files into
    one and must be semantically invisible (same oracle)."""
    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        nearest_centroid,
    )
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        load_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, sf_dir, "embeddings")
    corpus0 = e.where(F.col("vec_id") >= 100)
    batch = e.where(F.col("vec_id") < 100)
    query_vec = _query_vec(e)

    indexed0, centroids = ivf_index(corpus0, n_lists=16)
    if not centroids:
        # degenerate split (original corpus empty — the 0.15× size twin):
        # no quantizer means no lists and no searchable index; the oracle's
        # empty assign CTE yields the same zero rows
        return spark.createDataFrame(
            [], "vec_id bigint, label int, cosine_sim double"
        )
    ivf_dir = f"{s.dir}/ivf"
    save_ivf_index(indexed0, centroids, ivf_dir)
    _, cents, _ = load_ivf_index(spark, ivf_dir)
    assigned = batch.withColumn(
        "ivf_list", nearest_centroid(F.col("embedding"), cents)["list_id"]
    )
    append_ivf_postings(assigned, ivf_dir)
    if compact:
        from pyveb_spark.sinks.index_store import compact_ivf_postings

        compact_ivf_postings(spark, ivf_dir)
    grown, cents2, idx_meta = load_ivf_index(spark, ivf_dir)
    return (
        ivf_search(
            grown, cents2, query_vec, k=10, nprobe=4,
            exclude_ids=[0], meta=idx_meta,
        )
        .select(
            "vec_id", "label",
            F.round("cosine_sim", 4).alias("cosine_sim"),
        )
    )


_Q210_SQL = """
WITH ch AS (SELECT vec_id, embedding,
                   ('0x' || substr(md5('ivf|' || vec_id), 1, 12))::BIGINT AS h
            FROM embeddings WHERE vec_id >= 100),
cent AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS list_id,
                embedding::DOUBLE[] AS cv
         FROM ch
         QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16),
assign AS (SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                                       c.list_id) AS rk
    FROM embeddings e CROSS JOIN cent c) t
  WHERE rk = 1),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (SELECT c.list_id FROM cent c, q
          ORDER BY list_distance(c.cv, q.qv), c.list_id
          LIMIT 4),
scored AS (SELECT e.vec_id, e.label,
                  list_dot_product(e.embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv))) AS sim
           FROM embeddings e
           JOIN assign a ON a.vec_id = e.vec_id
           CROSS JOIN q
           WHERE a.list_id IN (SELECT list_id FROM probe) AND e.vec_id <> 0)
SELECT vec_id, label, ROUND(sim, 4) AS cosine_sim
FROM scored
ORDER BY sim DESC, vec_id ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Post-append IVF index health audit — round-10 head
# ---------------------------------------------------------------------------

@scratch_query
def q211_ivf_index_health(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The monitoring half of the frozen-quantizer contract (q210): as
    batches append under centroids trained on the ORIGINAL corpus, list
    populations drift — hot regions of the new data pile into a few
    lists, probe cost per list grows unevenly, and at some imbalance the
    operator schedules the re-cluster/rebuild. This is the per-list
    decision table that drives that call, computed from the GROWN
    persisted postings: original vs appended membership, total, share of
    the corpus, and the appended-to-original ratio per list (NULL for a
    list the original corpus never populated — the strongest rebuild
    signal of all).

    Every IVF serving stack runs exactly this audit at compaction time;
    q162's recall audit is its quality-side companion. Scale: one scan
    of the postings (metadata-thin: id + list only, column-pruned from
    the partitioned layout) + one 16-group aggregation.

    Oracle: centroid selection restricted to vec_id ≥ 100 (the frozen
    quantizer), assignment argmin over all vectors, grouped split
    counts — the q210 CTEs plus integer arithmetic."""
    from pyveb_spark.operators.similarity import (
        ivf_index,
        nearest_centroid,
    )
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        load_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, sf_dir, "embeddings")
    corpus0 = e.where(F.col("vec_id") >= 100)
    batch = e.where(F.col("vec_id") < 100)
    indexed0, centroids = ivf_index(corpus0, n_lists=16)
    if not centroids:
        # degenerate split: an empty quantizer has no lists to audit
        # (oracle: empty assign CTE -> zero groups)
        return spark.createDataFrame(
            [],
            "list_id int, n_original bigint, n_appended bigint,"
            " n_total bigint, corpus_share double, growth_ratio double",
        )
    ivf_dir = f"{s.dir}/ivf"
    save_ivf_index(indexed0, centroids, ivf_dir)
    _, cents, _ = load_ivf_index(spark, ivf_dir)
    append_ivf_postings(
        batch.withColumn(
            "ivf_list",
            nearest_centroid(F.col("embedding"), cents)["list_id"],
        ),
        ivf_dir,
    )
    grown, _, _ = load_ivf_index(spark, ivf_dir)
    total_row = grown.count()
    return (
        grown.select("vec_id", "ivf_list")
        .groupBy("ivf_list")
        .agg(
            F.sum((F.col("vec_id") >= 100).cast("bigint"))
            .alias("n_original"),
            F.sum((F.col("vec_id") < 100).cast("bigint"))
            .alias("n_appended"),
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
        )
        .select(
            F.col("ivf_list").alias("list_id"),
            "n_original",
            "n_appended",
            "n_total",
            F.round(
                F.col("n_total").cast("double") / F.lit(float(total_row)),
                6,
            ).alias("corpus_share"),
            F.when(
                F.col("n_original") > 0,
                F.round(
                    F.col("n_appended").cast("double")
                    / F.col("n_original").cast("double"),
                    6,
                ),
            ).alias("growth_ratio"),
        )
        .orderBy("list_id")
    )


_Q211_SQL = """
WITH ch AS (SELECT vec_id, embedding,
                   ('0x' || substr(md5('ivf|' || vec_id), 1, 12))::BIGINT AS h
            FROM embeddings WHERE vec_id >= 100),
cent AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS list_id,
                embedding::DOUBLE[] AS cv
         FROM ch
         QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16),
assign AS (SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                                       c.list_id) AS rk
    FROM embeddings e CROSS JOIN cent c) t
  WHERE rk = 1),
tot AS (SELECT COUNT(*)::DOUBLE AS n FROM assign)
SELECT list_id,
       SUM(CASE WHEN vec_id >= 100 THEN 1 ELSE 0 END)::BIGINT AS n_original,
       SUM(CASE WHEN vec_id < 100 THEN 1 ELSE 0 END)::BIGINT AS n_appended,
       COUNT(*)::BIGINT AS n_total,
       ROUND(COUNT(*) / (SELECT n FROM tot), 6) AS corpus_share,
       CASE WHEN SUM(CASE WHEN vec_id >= 100 THEN 1 ELSE 0 END) > 0
            THEN ROUND(SUM(CASE WHEN vec_id < 100 THEN 1 ELSE 0 END)::DOUBLE
                       / SUM(CASE WHEN vec_id >= 100 THEN 1 ELSE 0 END), 6)
       END AS growth_ratio
FROM assign
GROUP BY list_id
ORDER BY list_id
"""


# ---------------------------------------------------------------------------
# Durable PQ / SQ8 / IVF-PQ tiers — round-11 heads (built round 10): the
# index_store durability story extended to the remaining ANN quantizers
# ---------------------------------------------------------------------------

@scratch_query
def q213_pq_persisted_search(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The PQ tier of the q207 durability contract: train the m=4 × k=16
    codebooks once (``pq_train`` — the seeded Lloyd recurrence), SAVE
    them as the m×k-row model table (``index_store.save_pq_codebooks``),
    persist the ENCODED codes table (id + 4 code bytes — the 64×-
    compressed serving artifact, written once per corpus build), then
    serve a query entirely from the two reloaded artifacts: driver-side
    ADC lookup tables from the reloaded codebooks, a narrow codes-only
    scan of the reloaded table for the shortlist, exact re-rank on the
    full vectors. Persistence must be bit-invisible — doubles round-trip
    parquet exactly — so the oracle is q87's replay (Lloyd + encode +
    ADC + re-rank) at this query's own shortlist-40/top-8 point.

    100 TB design: training is sample-bounded and paid once; the saved
    codes table is 64× smaller than the vectors, and every query scans
    ONLY it (shuffle-free TakeOrdered heap) — the reloaded-model serving
    shape every FAISS deployment runs."""
    import os

    from pyveb_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from pyveb_spark.sinks.index_store import (
        load_pq_codebooks,
        save_pq_codebooks,
    )

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    save_pq_codebooks(spark, pq_train(e, m=4, k=16, iters=2),
                      os.path.join(s.dir, "codebooks"))
    codebooks, cb_meta = load_pq_codebooks(
        spark, os.path.join(s.dir, "codebooks")
    )
    from pyveb_spark.operators.layout import widen_scan

    pq_encode(widen_scan(e), codebooks, meta=cb_meta).select(
        "vec_id", "pq_codes"
    ).write.mode("overwrite").parquet(os.path.join(s.dir, "codes"))
    codes = spark.read.parquet(os.path.join(s.dir, "codes"))
    short = pq_adc_topk(
        codes, codebooks, query_vec, k=40, exclude_ids=[0], meta=cb_meta
    )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            qarr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        short.join(F.broadcast(e.select("vec_id", "label", "embedding")),
                   "vec_id")
        .withColumn("l2_dist", exact)
        .select("vec_id", "label", F.round("l2_dist", 4).alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(8)
    )


_Q213_SQL = _pq_sql(4, 16, 2, 16, 40, 8)


@scratch_query
def q214_sq8_persisted_ann(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The SQ8 tier of the durability contract: the per-dimension
    (lo, hi) quantizer stats — SQ8's whole model — are computed once,
    persisted (``index_store.save_sq8_stats``), and the q140 serving
    path (codes-only approximate scan, shortlist, exact re-rank) runs
    against the RELOADED stats. Exact-double round trip ⇒ the codes and
    the search are bit-identical to the fresh model, so the oracle is
    q140's end-to-end replay at this query's shortlist-30/top-8 point.

    100 TB design: the stats table is dim rows; serving scans only the
    4×-compressed codes. In production the encode also persists (like
    q213's codes table) — kept in-plan here so the query certifies the
    STATS round trip in isolation."""
    import os

    from pyveb_spark.operators.similarity import sq8_ann, sq8_stats
    from pyveb_spark.sinks.index_store import (
        load_sq8_stats,
        save_sq8_stats,
    )

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    save_sq8_stats(spark, sq8_stats(e), os.path.join(s.dir, "stats"))
    stats, sq_meta = load_sq8_stats(spark, os.path.join(s.dir, "stats"))
    from pyveb_spark.operators.layout import widen_scan

    out = sq8_ann(
        widen_scan(e), query_vec, k=8, shortlist=30, stats=stats,
        exclude_ids=[0], meta=sq_meta,
    )
    return out.select(
        "vec_id", F.round("cosine_sim", 4).alias("cosine_sim")
    )


_Q214_SQL = _sq8_sql(30, 8)


@scratch_query
def q215_ivfpq_persisted_serving(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The fully durable IVF-PQ serving stack — the 100 TB ANN shape
    with NOTHING left in session state: the coarse quantizer's postings
    (carrying the PQ codes column) persist partitioned by ``ivf_list``
    (``save_ivf_index`` — probe = partition pruning, the q207 property)
    and the PQ codebooks persist as the m×k model table
    (``save_pq_codebooks``). A query then reloads two model-sized
    artifacts, prunes to the nprobe=3 nearest lists AT THE SCAN, ADC-
    shortlists 40 candidates reading only the code bytes within them,
    and exact-re-ranks to top 8. Both persistences are bit-invisible,
    so the oracle is q88's composed replay at the nprobe-3/40/8 point.

    100 TB design: bytes read per query ≈ (nprobe/n_lists) × corpus ×
    (m bytes/vector) — partition pruning multiplied by 64× compression,
    the two effects this tranche made durable, now composed."""
    import os

    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivfpq_search,
        pq_encode,
        pq_train,
    )
    from pyveb_spark.sinks.index_store import (
        load_ivf_index,
        load_pq_codebooks,
        save_ivf_index,
        save_pq_codebooks,
    )

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    indexed, cents = ivf_index(e, n_lists=16)
    save_pq_codebooks(spark, pq_train(e, m=4, k=16, iters=2),
                      os.path.join(s.dir, "codebooks"))
    codebooks, cb_meta = load_pq_codebooks(
        spark, os.path.join(s.dir, "codebooks")
    )
    save_ivf_index(
        pq_encode(indexed, codebooks, meta=cb_meta).select(
            "vec_id", "pq_codes", "ivf_list"
        ),
        cents,
        os.path.join(s.dir, "ivf"),
    )
    postings, loaded_cents, ivf_meta = load_ivf_index(
        spark, os.path.join(s.dir, "ivf")
    )
    short = ivfpq_search(
        postings, loaded_cents, codebooks, query_vec,
        nprobe=3, shortlist=40, exclude_ids=[0],
        ivf_meta=ivf_meta, pq_meta=cb_meta,
    )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            qarr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        short.join(F.broadcast(e.select("vec_id", "label", "embedding")),
                   "vec_id")
        .withColumn("l2_dist", exact)
        .select("vec_id", "label", F.round("l2_dist", 4).alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(8)
    )


_Q215_SQL = _pq_sql(4, 16, 2, 16, 40, 8, nprobe=3)


@scratch_query
def q217_ivf_compacted_search(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The compaction step of the IVF index lifecycle (the gap q210
    left open): after N admission batches each grown list partition
    holds N small files, so a probe pays N opens per pruned list.
    ``index_store.compact_ivf_postings`` rewrites every list partition
    into one right-sized file through ``layout.compact_files``'
    atomic directory swap — and must be SEMANTICALLY INVISIBLE, which
    is exactly what this query certifies: the q210 admit→append flow
    with compaction inserted before the search, against q210's own
    oracle (identical CTEs — a compaction that changed any row would
    go red). The file-count drop and the preserved ``PartitionFilters``
    pruning are pinned separately in test_index_store.py.

    100 TB design: compaction reads/writes each list partition once
    (no shuffle — ``repartition`` by the partition column), runs per
    partition and is throttleable; probes before and after read the
    same pruned byte ranges, just through fewer opens."""
    return _q210_frame(spark, sf_dir, s, compact=True)


_Q217_SQL = _Q210_SQL


# ---------------------------------------------------------------------------
# IVF REBUILD lifecycle (round-12 tranche): the re-cluster step q211's
# health audit exists to trigger, executed and certified
# ---------------------------------------------------------------------------

@scratch_query
def q222_ivf_rebuild_lifecycle(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The acting half of q211's index-health audit: q210 froze the
    coarse quantizer while batches appended (the serving contract), and
    the audit's drift table is pointless unless something ACTS on it —
    ``rebuild_ivf_index`` retrains the quantizer with Lloyd's k-means
    (k=16, 2 unrolled iterations, tol=0 — the engine-portable md5-seeded
    recurrence q57/q91 certified) on the GROWN population, re-assigns
    every posting by id-join (non-list columns untouched), and swaps the
    artifact version with the rename-aside discipline while the original
    serves. The lifecycle here: seed the index on the vec_id % 5 != 0
    corpus, admit the % 5 == 0 wave under the FROZEN quantizer (q210's
    shape), then rebuild over everything and serve q207's probe
    (k=8, nprobe=3) from the RELOADED rebuilt artifact.

    Correctness claim: the rebuilt artifact's state is fully determined
    by (population, k, iters) — the seed/append history is erased by
    re-clustering — so the served result equals a from-scratch
    full-population k-means IVF index: the ``_kmeans_assign_ctes``
    unroll (assignment = ``aF``, final centroids = ``cent2``) with
    q207's probe/score/rank tail. Persistence, the frozen-quantizer
    admission interlude, and the swap are all semantically invisible.

    100 TB design: the rebuild is one k-means fit + one assignment scan
    + one partitioned rewrite — initial-build cost, run at audit
    cadence, off the ingest and query paths; serving keeps q207's
    partition-pruned probe. Balance-improvement and crash-window
    recovery are pinned by tests (test_r12_operators.py)."""
    import os

    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        nearest_centroid,
    )
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        load_ivf_index,
        rebuild_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, sf_dir, "embeddings")
    query_vec = _query_vec(e)
    ivf_dir = os.path.join(s.dir, "ivf")

    # seed on the original corpus, admit the wave FROZEN (q210 shape)
    corpus0 = e.where(F.col("vec_id") % 5 != 0)
    wave = e.where(F.col("vec_id") % 5 == 0)
    indexed0, cents0 = ivf_index(corpus0, n_lists=16)
    save_ivf_index(indexed0, cents0, ivf_dir)
    _, frozen, _ = load_ivf_index(spark, ivf_dir)
    append_ivf_postings(
        wave.withColumn(
            "ivf_list",
            nearest_centroid(F.col("embedding"), frozen)["list_id"],
        ),
        ivf_dir,
    )

    # act on drift: retrain on the grown population, swap, serve
    rebuild_ivf_index(spark, ivf_dir, e, kmeans_iters=2, tol=0.0)
    postings, cents, meta = load_ivf_index(spark, ivf_dir)
    return ivf_search(
        postings, cents, query_vec, k=8, nprobe=3,
        exclude_ids=[0], meta=meta,
    ).select(
        "vec_id", "label", F.round("cosine_sim", 4).alias("cosine_sim")
    )


def _q222_sql() -> str:
    # the rebuilt state == from-scratch 2-iteration Lloyd over the full
    # population: aF assignments + cent2 centroids, then q207's probe
    # (3 nearest lists to the query, ties to the lower id) and
    # cosine-ranked top 8 excluding the query itself
    body = _kmeans_assign_ctes(16, 2)
    return f"""
WITH {body},
qd AS (SELECT generate_subscripts(embedding, 1) - 1 AS d,
              unnest(embedding::DOUBLE[]) AS v
       FROM embeddings WHERE vec_id = 0),
pdist AS (SELECT c.list_id, SUM((c.c - q.v) * (c.c - q.v)) AS dist
          FROM cent2 c JOIN qd q ON q.d = c.d
          GROUP BY c.list_id),
probe AS (SELECT list_id FROM pdist ORDER BY dist, list_id LIMIT 3),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (SELECT e.vec_id, e.label,
                  list_dot_product(e.embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                             e.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv))) AS sim
           FROM embeddings e
           JOIN aF a ON a.vec_id = e.vec_id
           CROSS JOIN q
           WHERE a.cluster IN (SELECT list_id FROM probe)
             AND e.vec_id <> 0)
SELECT vec_id, label, ROUND(sim, 4) AS cosine_sim
FROM scored
ORDER BY sim DESC, vec_id ASC
LIMIT 8
"""


_Q222_SQL = _q222_sql()
