"""Similarity search over embedding columns (north star, BASELINE.json).

``array<float>`` embeddings (FIXTURES.md ``embeddings`` table). Two tiers:

- ``cosine_topk`` / ``knn_join``: brute-force exact baselines, pure
  higher-order-function expressions (zip_with product, aggregate sum) —
  JVM-side, codegen'd, no Python.
- ``lsh_bucket`` + ``cosine_topk_lsh``: random-hyperplane LSH bucketing —
  the sub-linear scale path; candidates rescored exactly.

Scale notes: brute force against a single query vector is a full scan
(fine — that's the floor); all-pairs knn_join at 100 TB must go through the
LSH bucketing (cost = per-bucket cross products, bounded by bucket size) or
an IVF-style coarse quantizer over a sampled centroid table.
"""

from __future__ import annotations

import hashlib
import math
import random
from functools import lru_cache
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cosine_sim_expr",
    "cosine_topk",
    "mmr_select",
    "cosine_pairs",
    "knn_join",
    "lsh_bucket",
    "lsh_bucket_expr",
    "cosine_topk_lsh",
    "ivf_index",
    "ivf_search",
    "nearest_centroid",
    "kmeans_fit",
    "kmeans_assign",
    "random_projection",
    "l2_normalize",
    "mean_pool",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_search",
    "semdedup",
    "sq8_stats",
    "sq8_encode",
    "sq8_ann",
    "hard_negative_mining",
    "ann_recall_audit",
    "lsh_cosine_lookup",
    "margin_bitext_mine",
    "mahalanobis_outliers",
    "suggest_lsh_planes",
]

# Measured sign-LSH candidate-volume model (BASELINE.md round-8/9 rows,
# mult-100 / mult-300 twins): candidates-per-vector ≈ C0 · N^ALPHA · R^n
# for corpus size N and n hyperplanes. Log-space least squares over the
# four measured (N, n_planes, candidates) points —
#   (50 k, 6, 19.0 M), (50 k, 10, 10.3 M),
#   (150 k, 10, 38.8 M), (150 k, 12, 24.2 M)
# — reproduces each within ±7% (pinned by test). R < 1 is the banding
# s-curve: every extra plane multiplies expected candidates by ~0.84,
# which is why the production response to corpus growth is LOGARITHMIC
# in planes (6 → 10 → 12 across two measured decades).
_LSH_FIT_C0 = 160.13
_LSH_FIT_ALPHA = 0.17702
_LSH_FIT_R = 0.84395


def suggest_lsh_planes(
    n_vectors: int,
    target_candidates_per_vector: float = 200.0,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """The ``n_planes`` resolution knob for ``lsh_cosine_cross_pairs`` /
    ``lsh_bucket``, derived from the measured two-decade response in
    BASELINE.md instead of guesswork: the smallest plane count whose
    predicted candidate volume per vector stays at or under the target.

    The model ``cpv(N, n) = C0·N^α·R^n`` reproduces the four measured
    operator probes within ±7% and its integer picks match the recorded
    production choices (10 planes at the 50 k-vector twin, 12 at 150 k,
    target 200/vector). Outside the measured decades (≲10 k or ≳10⁶
    vectors) it extrapolates — clamp via ``min_planes``/``max_planes``
    and re-probe with a count-only run before committing a 100 TB job
    (the BASELINE.md protocol)."""
    if n_vectors <= 0:
        return int(min_planes)
    need = (
        math.log(_LSH_FIT_C0)
        + _LSH_FIT_ALPHA * math.log(n_vectors)
        - math.log(float(target_candidates_per_vector))
    ) / -math.log(_LSH_FIT_R)
    return max(int(min_planes), min(int(max_planes), math.ceil(need)))


def _as_double(vec_col) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def _lit_arr(values) -> Column:
    """A literal ``array<double>`` as ONE Literal node (numpy path of
    ``F.lit``) instead of ``F.array(*[F.lit(x) ...])``'s len(values)
    child Literals + CreateArray: Catalyst analyzes and constant-folds a
    single node, which measured 2× on the plan-compile-bound paths —
    the k×dim argmin folds re-analyzed per micro-batch in q218's
    streaming encode (1.0 s → 0.55 s per 16×64 argmin at 400 rows) and
    every literal-heavy ANN/model expression here. Evaluation semantics
    are identical (same doubles, same fold order — pinned by the
    unchanged oracles)."""
    import numpy as np

    return F.lit(np.asarray([float(x) for x in values], dtype=np.float64))


def _round_half_away(arr, decimals: int = 4):
    """Round a float ndarray half-AWAY-from-zero — the repo's single
    rounding convention for vectorized (numpy) rescores.

    ``np.round`` is half-to-even while DuckDB ``ROUND`` (``std::round``)
    and Spark ``F.round`` (``HALF_UP``) are half-away-from-zero; a cosine
    landing exactly on a ``.00005`` grid boundary would diverge between
    engine and oracle. Practically unreachable with binary doubles, but
    normalizing every numpy rescore to ``sign(x)·floor(|x|·10^d + 0.5)``
    removes the class outright instead of arguing probability."""
    import numpy as np

    scale = 10.0 ** decimals
    return np.sign(arr) * np.floor(np.abs(arr) * scale + 0.5) / scale


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_sim_expr(vec_col, query: Sequence[float]) -> Column:
    """Cosine similarity between an array column and a literal query vector,
    accumulated in double left-to-right (deterministic)."""
    q = _lit_arr(query)
    v = _as_double(vec_col)
    return _dot(v, q) / (F.sqrt(_dot(v, v)) * F.sqrt(_dot(q, q)))


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: Sequence[int] | None = None,
) -> DataFrame:
    """Exact top-k by cosine against one query vector. orderBy+limit
    compiles to TakeOrderedAndProject: per-partition heaps of size k, no
    global sort — scan-bound at any corpus size."""
    scored = df.withColumn("cosine_sim", cosine_sim_expr(F.col(vec_col), query))
    if exclude_ids:
        scored = scored.where(~F.col(id_col).isin(*[int(i) for i in exclude_ids]))
    return (
        scored.orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_same_id: bool = True,
    broadcast_side: str = "right",
) -> DataFrame:
    """Exact k-NN join: for every left vector, its k nearest right vectors
    by cosine. Brute force (broadcast one side, rank per left id) —
    correct baseline; use ``cosine_topk_lsh`` when neither side is
    broadcast-able.

    ``broadcast_side`` picks which frame ships to every task — broadcast
    the SMALLER one: ``"right"`` (default) for the big-left ⋈ small-dim
    shape; ``"left"`` when a small query batch probes a large corpus
    (the q197 shape). Getting this wrong doesn't just waste memory — a
    20-row broadcast-right probe runs the whole n×m score space inside
    the batch's single partition (measured 29 s for 20 × 50 k at sf1;
    broadcast-left distributes it across the corpus scan).

    ``exclude_same_id`` drops matches where the two ids are equal — the
    self-match guard for the common self-join case. Pass ``False`` when
    left and right are DIFFERENT tables whose id spaces coincide, or
    coincidentally-equal ids silently lose a legitimate neighbor."""
    if broadcast_side not in ("left", "right"):
        raise ValueError(f"broadcast_side must be left/right, got {broadcast_side!r}")
    r = right.select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("__rv")
    )
    l = left.select(F.col(id_col), F.col(vec_col).alias("__lv"))
    if broadcast_side == "right":
        r = F.broadcast(r)
    else:
        l = F.broadcast(l)
        # the scoring stage inherits the corpus scan's partitioning, and
        # a small parquet (50 k × 64-dim floats ≈ 13 MB → 1-4 splits)
        # starves the O(|batch|·|corpus|) CPU; one cheap exchange of the
        # corpus restores full parallelism (the pin_width rule — input
        # bytes understate output CPU)
        n = int(
            right.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        r = r.repartition(n)
    lv, rv = _as_double(F.col("__lv")), _as_double(F.col("__rv"))
    sim = _dot(lv, rv) / (F.sqrt(_dot(lv, lv)) * F.sqrt(_dot(rv, rv)))
    cond = (
        F.col(id_col) != F.col("nn_id") if exclude_same_id else F.lit(True)
    )
    scored = l.join(r, cond).withColumn("cosine_sim", sim)
    w = Window.partitionBy(id_col).orderBy(F.desc("cosine_sim"), F.asc("nn_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(id_col, "nn_id", "cosine_sim", F.col("__rk").alias("rank"))
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
    n_blocks: int = 8,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all ``(id_a < id_b)``
    pairs with ``round(cosine, 4) >= threshold``.

    Execution — fully distributed blocked matmul, **no driver collect**:
    every vector is hashed to one of ``n_blocks`` blocks, the pair space is
    the upper-triangular grid of block pairs (i ≤ j), and each row is
    replicated to the ``n_blocks`` grid cells its block participates in
    (one shuffle, ×``n_blocks`` amplification). Each cell is a single
    ``applyInPandas`` group that runs a float64 ``numpy`` matmul between its
    two blocks (upper triangle on the diagonal cell) — the vectorized Arrow
    path; a per-pair higher-order-function dot product allocates an
    intermediate array per pair and is ~50× slower. A pair (block i, block
    j) co-occurs in exactly cell (min(i,j), max(i,j)), so output pairs are
    emitted exactly once. Rounding to 4 decimals before the threshold makes
    the filter identical across engines despite accumulation-order noise.

    Scale notes: exact all-pairs is O(n²) by definition — this operator is
    the *baseline* (``lsh_bucket`` + exact rescore is the sub-quadratic
    path). Memory per task is two blocks ≈ ``2·n/n_blocks`` vectors, so
    size ``n_blocks`` to the corpus: 10⁷ × 256-dim float64 at
    ``n_blocks=64`` is ≈ 640 MB/cell; shuffle volume is
    ``n_blocks × corpus``. Compute (the true O(n²) term) is unchanged —
    blocking only bounds memory.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    a, b = f"{id_col}_a", f"{id_col}_b"
    B = int(n_blocks)

    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [
            StructField(a, in_fields[id_col].dataType),
            StructField(b, in_fields[id_col].dataType),
            *[
                StructField(f"{c}_{side}", in_fields[c].dataType)
                for c in extra_cols
                for side in ("a", "b")
            ],
            StructField("cosine_sim", DoubleType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    base = df.select(id_col, vec_col, *extra_cols).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int")
    )
    # Row in block b participates in cells {(min(b,x), max(b,x)) : x<B};
    # cell id = i*B + j with i <= j.
    cells = F.array(
        *[
            F.when(
                F.col("__blk") <= F.lit(x), F.col("__blk") * B + F.lit(x)
            ).otherwise(F.lit(x * B) + F.col("__blk"))
            for x in range(B)
        ]
    )
    exploded = base.withColumn("__cell", F.explode(cells))

    def _cell(key, pdf):
        cell = int(key[0])
        i, j = divmod(cell, B)
        ids = pdf[id_col].to_numpy()
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        if mat.size == 0:
            return pd.DataFrame({c: [] for c in out_cols})
        norms = np.sqrt((mat * mat).sum(axis=1))
        if i == j:
            sims = _round_half_away((mat @ mat.T) / np.outer(norms, norms), 4)
            ai, bi = np.nonzero(
                (sims >= threshold) & (ids[:, None] < ids[None, :])
            )
            sv = sims[ai, bi]
        else:
            blk = pdf["__blk"].to_numpy()
            li = np.nonzero(blk == i)[0]
            ri = np.nonzero(blk == j)[0]
            if li.size == 0 or ri.size == 0:
                return pd.DataFrame({c: [] for c in out_cols})
            sims = _round_half_away(
                (mat[li] @ mat[ri].T) / np.outer(norms[li], norms[ri]), 4
            )
            ai_, bi_ = np.nonzero(sims >= threshold)
            sv = sims[ai_, bi_]
            ai, bi = li[ai_], ri[bi_]
            swap = ids[ai] > ids[bi]
            ai, bi = np.where(swap, bi, ai), np.where(swap, ai, bi)
        out = {a: ids[ai], b: ids[bi], "cosine_sim": sv}
        for c in extra_cols:
            vals = pdf[c].to_numpy()
            out[f"{c}_a"] = vals[ai]
            out[f"{c}_b"] = vals[bi]
        return pd.DataFrame(out)[out_cols]

    return exploded.groupBy("__cell").applyInPandas(_cell, schema=out_schema)


def ivf_index(
    df: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF-Flat coarse quantizer: assign every vector to its nearest of
    ``n_lists`` centroids; returns (indexed df with ``ivf_list`` column,
    centroid table).

    Centroids are picked deterministically (the ``n_lists`` corpus vectors
    with the smallest ``xxhash64(id)`` — a seeded pseudo-random sample, no
    RNG state), then used as literal expressions: assignment is one scan,
    no shuffle. Production path: replace the sampler with
    ``pyspark.ml.clustering.KMeans`` centroids — the assign/search code is
    unchanged. At 100 TB, write the table partitioned/bucketed by
    ``ivf_list`` so a probe prunes partitions at the scan.

    The centroid table is O(n_lists × dim) — driver-resident by design
    (like every IVF implementation's coarse quantizer).

    The input is routed through ``layout.widen_scan`` (r12): the corpus
    is corpus-scale by this operator's contract, the assignment is a
    pure per-row expression (partitioning cannot change any value), and
    a single-split input would otherwise serialize the argmin encode
    onto one core. No-op at production split counts.
    """
    from pyveb_spark.operators.layout import widen_scan

    df = widen_scan(df)
    centroids = _seed_centroids(df, n_lists, id_col, vec_col)
    best = nearest_centroid(F.col(vec_col), centroids)
    return df.withColumn("ivf_list", best["list_id"]), centroids


def _seed_centroids(
    df: DataFrame, k: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random seed centroids: the ``k`` corpus vectors
    with the smallest portable md5-48 hash of ``'ivf|<id>'`` — no RNG
    state, identical on any partitioning, and replayable verbatim in ANSI
    SQL (``('0x' || substr(md5('ivf|' || id), 1, 12))::BIGINT``) so
    IVF/k-means queries can be oracle-checked. Ties (impossible in
    practice at 48 bits) break on the id."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.lit("ivf"), F.col(id_col).cast("string")
                ).cast("binary")
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    seeds = (
        df.select(id_col, vec_col)
        .withColumn("__h", h)
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    return [
        (i, [float(x) for x in row[vec_col]]) for i, row in enumerate(seeds)
    ]


def nearest_centroid(
    vec_col, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Struct Column ``(dist, list_id)`` of the nearest centroid by squared
    L2 — an argmin over literal centroid arrays, evaluated entirely in the
    scan stage (no shuffle, no UDF). Ties break to the first (lowest
    index) centroid, matching ``numpy.argmin``.

    Form note (measured twice, r11 then r12): the r11 per-candidate fold
    (``reduce`` over ``F.array`` of k ``(aggregate-fold, id)`` structs)
    already beat a "flat" per-dimension ``element_at`` add-chain 3-5× —
    but it still carried k independent ``aggregate``/``zip_with`` lambda
    trees, and on the plan-compile-bound paths (per-micro-batch encode in
    q218/q206, per-iteration re-plan in ``kmeans_fit``) Catalyst
    analysis of those k trees dominated wall-clock. The r12 form builds
    ONE ``transform`` over an array-of-literal-arrays (k Literal nodes,
    one distance lambda) and takes ``array_min`` +
    ``array_position`` — measured 3.8× on q218's per-batch encode
    (3.5-4.1 s → 0.94-1.11 s at sf0.1) with bit-identical output on the
    full corpus. ``array_position`` returns the FIRST index holding the
    min (the min is by construction an element of the array, compared on
    the exact same double), so tie behavior is unchanged."""
    if not centroids:
        # empty quantizer (empty training corpus): the argmin identity —
        # no list is nearest. F.array() with zero structs is VOID-typed
        # and crashes the field extract (found by the 0.15× size twin).
        return F.struct(
            F.lit(float("inf")).alias("dist"),
            F.lit(-1).alias("list_id"),
        )
    import numpy as np

    v = _as_double(vec_col)
    mat = F.array(*[_lit_arr(c) for _, c in centroids])
    dists = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    mn = F.array_min(dists)
    pos = F.array_position(dists, mn).cast("int")
    ids = F.lit(np.asarray([i for i, _ in centroids], dtype=np.int32))
    return F.struct(
        mn.alias("dist"), F.element_at(ids, pos).alias("list_id")
    )


def ivf_search(
    indexed: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: Sequence[int] | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` centroid lists nearest the query, brute-force
    exact cosine inside them. nprobe = n_lists degrades gracefully to the
    exact scan; with a list-partitioned table the filter is partition
    pruning, reading ~nprobe/n_lists of the corpus.

    ``meta`` — a persisted build manifest
    (``load_ivf_index``) — validates the probe
    against the artifact's geometry: a query of the wrong ``dim`` or a
    centroid set of the wrong ``n_lists`` scores garbage silently."""
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        check_index_meta(meta, dim=len(query), n_lists=len(centroids))
    qd = [float(x) for x in query]
    by_dist = sorted(
        centroids,
        key=lambda c: sum((a - b) ** 2 for a, b in zip(qd, c[1])),
    )
    probe = [i for i, _ in by_dist[:nprobe]]
    return cosine_topk(
        indexed.where(F.col("ivf_list").isin(probe)),
        query,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_ids=exclude_ids,
    ).drop("ivf_list")


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over an embedding column, Spark-native.

    Each iteration is two distributed steps: (1) assignment — the
    ``nearest_centroid`` argmin fold, a stateless scan expression; (2)
    update — ``posexplode`` the vectors and average per (cluster,
    dimension), one shuffle of k×dim running sums thanks to map-side
    partial aggregation. Only the k×dim centroid matrix ever reaches the
    driver (it is the model, same as every k-means implementation);
    data never does. Initialization is the deterministic hash sample
    (``_seed_centroids``), so runs are reproducible on any cluster size.
    Empty clusters keep their previous centroid. Stops early when the
    max centroid movement (squared L2) drops below ``tol``.
    """
    data = df.select(id_col, vec_col).persist()
    try:
        centroids = _seed_centroids(data, k, id_col, vec_col)
        for _ in range(max_iter):
            assigned = data.withColumn(
                "__c", nearest_centroid(F.col(vec_col), centroids)["list_id"]
            )
            rows = (
                assigned.select(
                    "__c", F.posexplode(_as_double(F.col(vec_col)))
                )
                .groupBy("__c", "pos")
                .agg(F.avg("col").alias("v"))
                .collect()
            )
            by_cluster: dict[int, dict[int, float]] = {}
            for r in rows:
                by_cluster.setdefault(r["__c"], {})[r["pos"]] = r["v"]
            new_centroids = []
            shift = 0.0
            for i, old in centroids:
                if i in by_cluster:
                    dims = by_cluster[i]
                    vec = [dims[p] for p in range(len(old))]
                else:
                    vec = old
                shift = max(
                    shift, sum((a - b) ** 2 for a, b in zip(vec, old))
                )
                new_centroids.append((i, vec))
            centroids = new_centroids
            if shift < tol:
                break
        return centroids
    finally:
        data.unpersist()


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Label every row with its nearest centroid — one narrow scan-stage
    expression, no shuffle; usable on data the model never saw (it is the
    predict step)."""
    return df.withColumn(
        out_col, nearest_centroid(F.col(vec_col), centroids)["list_id"]
    )


def l2_normalize(vec_col, eps: float = 1e-12) -> Column:
    """Unit-norm an embedding Column (zip-free HOF — scan-stage, no UDF).
    Pre-normalizing turns every downstream cosine into a dot product
    (one multiply-add per dim instead of three aggregates), the standard
    prep before ANN indexing. Zero vectors map to zero vectors (eps
    guard), not NaN."""
    v = _as_double(vec_col)
    norm = F.sqrt(_dot(v, v))
    return F.transform(
        v, lambda x: x / F.greatest(norm, F.lit(float(eps)))
    )


def mean_pool(
    df: DataFrame,
    keys: Sequence[str],
    vec_col: str = "embedding",
    out_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean of vectors per group (chunk→document pooling,
    cluster prototypes): posexplode → per-(key, dim) avg → re-assemble
    ordered by position. One shuffle with map-side partial aggregation —
    the same scale shape as the k-means update step, generalized."""
    exploded = df.select(
        *keys, F.posexplode(_as_double(F.col(vec_col)))
    )
    return (
        exploded.groupBy(*keys, "pos")
        .agg(F.avg("col").alias("__v"))
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "__v"))
            ).alias("__pairs")
        )
        .select(
            *keys,
            F.transform(F.col("__pairs"), lambda p: p["__v"]).alias(out_col),
        )
    )


def _random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _rademacher_planes(
    dim: int, n_planes: int, seed: int = 42
) -> list[list[float]]:
    """±1 (Rademacher) sign-LSH planes derived from md5 — a valid
    hyperplane-LSH family (collision prob still 1-θ/π in expectation) whose
    entries any SQL engine can recompute:
    ``md5('plane|<seed>|<j>|<d>')`` low-bit parity → +1/-1. Used by the
    LSH bucketing so ANN queries are oracle-checkable end-to-end; the JL
    ``random_projection`` keeps true Gaussian planes (distance-preservation
    constants assume Gaussian entries)."""
    return [
        [
            1.0
            if int(
                hashlib.md5(f"plane|{seed}|{j}|{d}".encode()).hexdigest()[
                    :12
                ],
                16,
            )
            % 2
            == 1
            else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def random_projection(
    df: DataFrame,
    dim_in: int,
    dim_out: int,
    vec_col: str = "embedding",
    out_col: str = "proj",
    seed: int = 42,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project ``vec_col``
    (length ``dim_in``) onto ``dim_out`` seeded Gaussian directions scaled
    by 1/√dim_out, preserving pairwise distances/cosines to within the JL
    distortion. The projection matrix is literal expressions (same seeded
    generator as the LSH planes — deterministic on any cluster), so the
    whole map is a stateless scan-stage expression: no shuffle, no UDF, no
    driver data movement. Use before the O(dim) similarity kernels when
    embeddings are wide (e.g. 4096-dim → 64-dim candidate filtering)."""
    planes = _random_hyperplanes(dim_in, dim_out, seed)
    scale = 1.0 / math.sqrt(dim_out)
    v = _as_double(F.col(vec_col))
    comps = [
        (
            F.aggregate(
                F.zip_with(
                    v,
                    _lit_arr(p),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale)
        )
        for p in planes
    ]
    return df.withColumn(out_col, F.array(*comps))


def lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    seed: int = 42,
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane (sign) LSH: each vector → an n_planes-bit bucket id.

    Deterministic (md5-derived ±1 plane matrix broadcast as literals —
    portable to the SQL oracle, see ``_rademacher_planes``). Vectors with
    high cosine similarity collide with probability
    (1 - θ/π)^n_planes. Multi-probe/multi-table variants stack extra
    ``lsh_bucket`` columns with different seeds.
    """
    return df.withColumn(
        bucket_col, lsh_bucket_expr(dim, n_planes, vec_col, seed)
    )


@lru_cache(maxsize=64)
def lsh_bucket_expr(
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    seed: int = 42,
) -> Column:
    """The df-independent bucket-id Column behind :func:`lsh_bucket` —
    the ``pq_code_expr`` shape (r12 change #15): a Column is an immutable
    expression tree, so one object evaluates against every frame.
    Memoized (r13, the dedup._minhash_cols_aliased rule): the expression
    is a pure function of its four scalar arguments, so each
    micro-batch's ``lsh_cosine_lookup`` probe and each LSH mining/
    recall-audit call gets the same Column back instead of re-running
    the plane-literal construction."""
    planes = _rademacher_planes(dim, n_planes, seed)
    if not planes:
        # n_planes=0 degenerate case (ADVICE r12): F.array() with no
        # elements is void-typed and the transform/aggregate below fails
        # analysis — mirror nearest_centroid's empty-centroids guard and
        # return the constant single-bucket id the pre-fold loop produced.
        return F.lit(0).cast("long")
    v = _as_double(F.col(vec_col))
    # One plane-matrix array of n_planes Literal nodes + a single
    # indexed transform fold (the nearest_centroid/_lit_arr shape, r12
    # change #1) instead of a Python loop emitting n_planes separate
    # when/shiftleft/add subtrees: Column construction and Catalyst
    # analysis stop scaling with the plane count — measured ~0.3 s of
    # pure per-call construction at n_planes=6, paid once per STREAMING
    # MICRO-BATCH on the q206 admission path. Same _dot fold per plane
    # in the same element order, and the bit sum is exact integer math
    # in the same plane order ⇒ bit-identical buckets (oracles
    # unchanged).
    mat = F.array(*[_lit_arr(p) for p in planes])
    bits = F.transform(
        mat,
        lambda p, i: F.call_function(
            "shiftleft",
            F.when(_dot(v, p) >= 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
            i,
        ),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def cosine_topk_lsh(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    exclude_ids: Sequence[int] | None = None,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: hash the corpus and the query with the same
    hyperplanes, scan only the query's bucket(s), rescore exactly.

    At 100 TB the bucket column is a partition/cluster key, so the bucket
    probe becomes partition pruning at the scan — the query reads
    ~n_probes/2^n_planes of the data. Recall is tunable on two axes:
    fewer planes → bigger buckets; more probes → **multi-probe LSH**
    (Lv et al., VLDB'07): also scan the buckets whose codes differ from
    the query's in the bits whose hyperplane margin |<q, plane>| is
    smallest — the flips most likely to separate true neighbors. n_probes
    counts buckets (1 = exact-bucket only, ≤ n_planes+1 supported here:
    the query bucket plus its lowest-margin single-bit flips), trading a
    linear increase in scanned data for exponentially better recall —
    cheaper than halving n_planes, which doubles EVERY query's bucket.
    """
    dim = len(query)
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(
            f"n_probes must be in [1, n_planes+1], got {n_probes}"
        )
    planes = _rademacher_planes(dim, n_planes, seed)
    qbits = 0
    margins: list[tuple[float, int]] = []
    for i, plane in enumerate(planes):
        dot = sum(float(a) * b for a, b in zip(query, plane))
        if dot >= 0:
            qbits |= 1 << i
        margins.append((abs(dot), i))
    margins.sort()  # least-confident bits first
    probes = [qbits] + [
        qbits ^ (1 << i) for _, i in margins[: n_probes - 1]
    ]
    bucketed = lsh_bucket(df, dim, n_planes, vec_col=vec_col, seed=seed)
    candidates = bucketed.where(F.col("lsh_bucket").isin(probes))
    return cosine_topk(
        candidates, query, k=k, id_col=id_col, vec_col=vec_col,
        exclude_ids=exclude_ids,
    ).drop("lsh_bucket")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-vector ANN
# ---------------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
) -> list[list[tuple[int, list[float]]]]:
    """Train per-subspace PQ codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` contiguous subspaces and run the deterministic
    seeded Lloyd recurrence (``kmeans_fit`` — md5-ordered seeds, so the
    whole model is oracle-replayable) with ``k`` codes per subspace.

    Returns ``codebooks[j] = [(code, sub_centroid), ...]``. Only the
    m×k×(dim/m) codebook matrix reaches the driver — it IS the model.

    The 100 TB point: an encoded vector is ``m`` small ints (m bytes at
    k ≤ 256) instead of ``dim`` floats — a 64-dim float32 corpus
    compresses 64×. ADC scans then read only the codes column.

    Training runs on a bounded deterministic SAMPLE, driver-side — the
    production PQ recipe (FAISS trains codebooks on ~10⁵ vectors however
    large the corpus; a quantizer needs a representative sample, not the
    data). The sample is the first ``sample_size`` vectors by the
    portable md5 order (``'ivf|<id>'`` — the same ordering that picks the
    k seeds, so seeds ⊂ sample and the whole model stays
    oracle-replayable); driver memory is sample_size×dim doubles (2 MB at
    the defaults), and the Lloyd recurrence matches the unrolled SQL
    oracle: squared-L2 argmin with ties to the lowest code, per-(cluster,
    dim) mean, empty clusters keep their previous centroid. Only ENCODE
    touches the full corpus, and it is a stateless scan.
    """
    import numpy as np

    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.lit("ivf"), F.col(id_col).cast("string")
                ).cast("binary")
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    rows = (
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
        .withColumn("__h", h)
        .orderBy("__h", id_col)
        .limit(int(sample_size))
        .collect()
    )
    X = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    if len(X) < k:
        raise ValueError(f"sample of {len(X)} vectors cannot seed k={k}")
    codebooks = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:k].copy()  # md5-order heads = the oracle's seed rows
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=-1)
            lab = d2.argmin(axis=1)  # first-minimum = lowest-code ties
            for c in range(k):
                mask = lab == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        codebooks.append([(c, [float(x) for x in C[c]]) for c in range(k)])
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    meta: dict | None = None,
) -> DataFrame:
    """Encode vectors to their per-subspace nearest-code ids — a stateless
    scan-stage argmin fold per subspace (no shuffle, no UDF), the
    distributed form of the PQ compressor. ``meta`` (the persisted
    codebook manifest) validates the codebooks' m/k/dim against the
    artifact's — codes written under mismatched geometry corrupt the
    serving table silently."""
    return df.withColumn(out_col, pq_code_expr(codebooks, vec_col, meta))


def pq_code_expr(
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    meta: dict | None = None,
) -> Column:
    """The ``pq_encode`` codes Column on its own — it depends only on the
    codebooks and the vector column NAME, never on a DataFrame, so a
    per-micro-batch admission loop (q218) can build it ONCE and reuse the
    immutable expression tree across batches: Column construction here is
    m × nearest_centroid trees (~0.7 s at m=4, k=16), a per-batch tax
    when rebuilt inside ``foreachBatch``."""
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        check_index_meta(
            meta,
            m=len(codebooks),
            k=len(codebooks[0]),
            dim=len(codebooks) * len(codebooks[0][0][1]),
        )
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    v = _as_double(F.col(vec_col))
    codes = [
        nearest_centroid(F.slice(v, j * dsub + 1, dsub), codebooks[j])[
            "list_id"
        ]
        for j in range(m)
    ]
    return F.array(*codes)


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    exclude_ids: Sequence[int] | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: precompute the m×k lookup
    table lut[j][c] = ‖query_sub_j − codebook_j[c]‖² on the driver (m·k·dsub
    flops — the model, not the data), then score every encoded vector with
    ``m`` literal-array lookups and take the k smallest.

    The plan is the PQ promise: a narrow scan of the codes column + a
    TakeOrdered heap — no shuffle, no join, no full-vector reads. Returns
    ``(id, adc_dist)`` ascending (approximate squared L2).

    ``meta`` (the persisted codebook manifest,
    ``load_pq_codebooks``) validates the reloaded
    model and query geometry against the artifact's build parameters.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    if len(query) != m * dsub:
        raise ValueError("query dim does not match codebooks")
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        check_index_meta(
            meta, m=m, k=len(codebooks[0]), dim=len(query)
        )
    luts = []
    for j in range(m):
        qs = [float(x) for x in query[j * dsub : (j + 1) * dsub]]
        luts.append(
            [
                sum((a - b) * (a - b) for a, b in zip(qs, c))
                for _, c in codebooks[j]
            ]
        )
    # left-to-right sum of m lookups — the same explicit addition order the
    # SQL oracle uses, so the only cross-engine delta is centroid rounding
    dist = None
    for j in range(m):
        lut = _lit_arr(luts[j])
        term = F.element_at(lut, F.element_at(F.col(codes_col), j + 1) + 1)
        dist = term if dist is None else dist + term
    out = encoded.withColumn("adc_dist", dist)
    if exclude_ids:
        out = out.where(~F.col(id_col).isin(list(exclude_ids)))
    return out.select(id_col, "adc_dist").orderBy("adc_dist", id_col).limit(k)


def ivfpq_search(
    indexed_encoded: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    exclude_ids: Sequence[int] | None = None,
    ivf_meta: dict | None = None,
    pq_meta: dict | None = None,
) -> DataFrame:
    """IVF-PQ: the 100 TB ANN serving shape, composed from the verified
    parts — IVF's coarse probe prunes to ``nprobe`` lists (partition
    pruning when the table is partitioned by ``ivf_list``), PQ's
    asymmetric distance shortlists within them reading ONLY the m code
    bytes per vector, and the caller exact-re-ranks the shortlist ids
    (see q88 for the pattern). This is the no-residual variant
    (ScaNN-style): codes quantize the raw vectors, not x − centroid, so
    the same encoded table serves any nprobe without re-encoding.

    ``indexed_encoded`` must carry ``ivf_list`` (``ivf_index``) and
    ``codes_col`` (``pq_encode``). Returns ``(id, adc_dist)`` ascending,
    ``shortlist`` rows. ``ivf_meta``/``pq_meta`` — the two artifacts'
    persisted build manifests — validate the composition's geometry
    (probe dim vs coarse quantizer, codebook m/k vs the codes table's
    build) before any byte is scanned.
    """
    if ivf_meta or pq_meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        if ivf_meta:
            check_index_meta(
                ivf_meta, dim=len(query), n_lists=len(centroids)
            )
        if pq_meta:
            check_index_meta(
                pq_meta,
                m=len(codebooks),
                k=len(codebooks[0]),
                dim=len(query),
            )
    qd = [float(x) for x in query]
    by_dist = sorted(
        centroids,
        key=lambda c: sum((a - b) ** 2 for a, b in zip(qd, c[1])),
    )
    probe = [i for i, _ in by_dist[:nprobe]]
    pruned = indexed_encoded.where(F.col("ivf_list").isin(probe))
    return pq_adc_topk(
        pruned,
        codebooks,
        query,
        k=shortlist,
        id_col=id_col,
        codes_col=codes_col,
        exclude_ids=exclude_ids,
    )


def semdedup(
    df: DataFrame,
    k: int = 10,
    tau: float = 0.45,
    max_iter: int = 6,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup (the SemDeDup procedure, Abbas et al. 2023):
    k-means-cluster the embeddings, then mark within-cluster duplicates —
    rows whose rounded cosine to a LOWER-id row in the same cluster is
    ≥ ``tau``. Columns: ``(<id>, cluster, is_dup)`` with ``is_dup`` an
    INT 0/1 flag (keep = 0).

    This is the scale-path complement to the exact ``cosine_pairs`` grid:
    clustering first makes the quadratic step per-cluster (the paper's
    point — k grows with the corpus so cluster sizes stay bounded), and
    the per-cluster self-joins are embarrassingly parallel: one shuffle
    on ``cluster``. The rounded-to-4 cosine compare is the engine-portable
    float contract shared with q36.
    """
    labeled = kmeans_assign(
        df.select(id_col, vec_col),
        kmeans_fit(df, k=k, max_iter=max_iter, tol=tol,
                   id_col=id_col, vec_col=vec_col),
        vec_col=vec_col,
    )
    a = labeled.select(
        F.col("cluster"),
        F.col(id_col).alias("__ida"),
        _as_double(F.col(vec_col)).alias("__va"),
    )
    b = labeled.select(
        F.col("cluster"),
        F.col(id_col).alias("__idb"),
        _as_double(F.col(vec_col)).alias("__vb"),
    )
    cos = _dot(F.col("__va"), F.col("__vb")) / (
        F.sqrt(_dot(F.col("__va"), F.col("__va")))
        * F.sqrt(_dot(F.col("__vb"), F.col("__vb")))
    )
    dups = (
        a.join(b, ["cluster"])
        .where(F.col("__ida") < F.col("__idb"))
        .where(F.round(cos, 4) >= tau)
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        labeled.join(dups, [id_col], "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar (int8) quantization — the 4× compression tier between full floats
# and PQ codes
# ---------------------------------------------------------------------------

def sq8_stats(df: DataFrame, vec_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the scalar-quantizer
    "codebook" (FAISS ``ScalarQuantizer`` recipe). One posexplode scan
    with map-side partial min/max; the shuffle carries ``dim`` keys and
    the collect is ``dim`` rows — a bounded model, like the k-means
    centroid table. Returns ``[(lo_0, hi_0), …]`` ordered by dimension."""
    rows = (
        df.select(
            F.posexplode(_as_double(F.col(vec_col))).alias("__dim", "__x")
        )
        .groupBy("__dim")
        .agg(F.min("__x").alias("lo"), F.max("__x").alias("hi"))
        .orderBy("__dim")
        .collect()
    )
    return [(float(r["lo"]), float(r["hi"])) for r in rows]


def _sq8_code_expr(vec, lo_arr: Column, hi_arr: Column, dim: int) -> Column:
    """uint8 code per dimension: round((x-lo)·255/(hi-lo)), clamped.
    Positive-argument ROUND agrees between Spark (HALF_UP) and DuckDB
    (half away from zero), so codes are engine-exact integers."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.when(
            F.element_at(hi_arr, i) == F.element_at(lo_arr, i), F.lit(0)
        ).otherwise(
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.round(
                        (F.element_at(vec, i) - F.element_at(lo_arr, i))
                        * F.lit(255.0)
                        / (
                            F.element_at(hi_arr, i)
                            - F.element_at(lo_arr, i)
                        ),
                        0,
                    ).cast("int"),
                ),
            )
        ),
    )


def sq8_encode(
    df: DataFrame,
    stats: Sequence[tuple[float, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "code",
    meta: dict | None = None,
) -> DataFrame:
    """Encode vectors to int8 codes (``array<int>`` holding 0..255) against
    driver-held per-dim stats — a stateless scan-stage map, 4× smaller at
    rest than float32 and SIMD-decodable. Returns ``(id, code)`` only:
    the codes table is the thing you SCAN at serving time; full vectors
    are only fetched for the re-rank shortlist. ``meta`` (the persisted
    stats manifest, ``load_sq8_stats``) validates
    the reloaded stats' dim — codes written against the wrong stats
    dequantize to garbage silently."""
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        check_index_meta(meta, dim=len(stats))
    lo = _lit_arr([l for l, _ in stats])
    hi = _lit_arr([h for _, h in stats])
    v = _as_double(F.col(vec_col))
    return df.select(
        F.col(id_col),
        _sq8_code_expr(v, lo, hi, len(stats)).alias(code_col),
    )


def sq8_ann(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    shortlist: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: Sequence[tuple[float, float]] | None = None,
    exclude_ids: Sequence[int] | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """ANN over scalar-quantized codes: score every code by cosine between
    the DEQUANTIZED vector (lo + code·(hi-lo)/255) and the query, heap a
    ``shortlist`` (cut on round(approx, 6) with id tie-break — rounding
    collapses float noise below the ranking signal so both engines cut
    identically), then re-rank the shortlist EXACTLY against the full
    vectors and return top ``k``.

    100 TB design: the serving scan touches ONLY the (id, code) table —
    4× fewer bytes than floats, no shuffle (TakeOrderedAndProject heap);
    the exact re-rank joins ``shortlist`` ids back to the vector store
    (broadcast the shortlist). Train/encode amortize across queries like
    the PQ tier; SQ8 trades PQ's 64× compression for zero codebook
    lookups and a tighter approximation. ``meta`` (the persisted stats
    manifest) validates reloaded ``stats`` against the artifact's dim."""
    if stats is None:
        stats = sq8_stats(df, vec_col)
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        check_index_meta(meta, dim=len(stats))
    codes = sq8_encode(df, stats, id_col, vec_col)
    if exclude_ids:
        codes = codes.where(
            ~F.col(id_col).isin(*[int(i) for i in exclude_ids])
        )
    lo = _lit_arr([l for l, _ in stats])
    hi = _lit_arr([h for _, h in stats])
    dim = len(stats)
    dq = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.element_at(lo, i)
        + F.element_at(F.col("code"), i).cast("double")
        * (F.element_at(hi, i) - F.element_at(lo, i))
        / F.lit(255.0),
    )
    q = _lit_arr(query)
    approx = _dot(dq, q) / (F.sqrt(_dot(dq, dq)) * F.sqrt(_dot(q, q)))
    short = (
        codes.select(id_col, F.round(approx, 6).alias("approx_sim"))
        .orderBy(F.desc("approx_sim"), F.asc(id_col))
        .limit(shortlist)
    )
    exact = df.select(
        id_col, cosine_sim_expr(F.col(vec_col), query).alias("cosine_sim")
    )
    # Cut the final top-k on round(cosine, 6) with an id tie-break — the
    # same treatment as the shortlist stage — so both engines select the
    # identical row set when ranks k/k+1 collide below ranking precision.
    return (
        exact.join(F.broadcast(short.select(id_col)), id_col)
        .orderBy(F.round("cosine_sim", 6).desc(), F.asc(id_col))
        .limit(k)
    )


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    data-prep step): for every query vector, the ``k`` most-similar
    corpus vectors whose LABEL DIFFERS — maximally confusing negatives.
    Ranking uses round(cosine, 6) with an id tie-break so the cut is
    engine-replayable (the q140 treatment). Returns
    ``(id, neg_id, neg_label, cosine_sim, rank)``.

    100 TB design: the brute-force form broadcasts the query batch
    (queries are the SMALL side — a training batch, not the corpus) and
    scans the corpus once; per-query top-k is a windowed heap over the
    broadcast-keyed join. When the query batch itself is corpus-sized,
    route the candidate generation through the ANN tiers (LSH/IVF-PQ)
    and only exact-score the shortlist — same shape as q88."""
    q = F.broadcast(
        queries.select(
            F.col(id_col),
            F.col(vec_col).alias("__qv"),
            F.col(label_col).alias("__ql"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("neg_label"),
    )
    qv, cv = _as_double(F.col("__qv")), _as_double(F.col("__cv"))
    sim = F.round(
        _dot(qv, cv) / (F.sqrt(_dot(qv, qv)) * F.sqrt(_dot(cv, cv))), 6
    )
    joined = c.join(q, F.col("__ql") != F.col("neg_label")).withColumn(
        "cosine_sim", sim
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neg_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "neg_id", "neg_label", "cosine_sim", "rank")
    )


def ann_recall_audit(
    df: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k audit of the LSH ANN tier against the exact baseline — the
    standard ANN-serving acceptance metric (what ann-benchmarks reports),
    computed IN-ENGINE over a batch of query points: vectors with
    ``id < n_queries`` play the query batch, the rest the corpus. Both
    paths run in one plan: exact = broadcast query batch × corpus scan
    with a per-query top-k heap; approx = both sides bucketed by the SAME
    md5-derived hyperplanes (``lsh_bucket``), bucket-equijoined, exactly
    rescored, same top-k. Both cuts use round(cosine, 6) + id (the q140
    boundary discipline) so the audit is engine-replayable. Returns
    ``(<id>, n_exact, n_approx, n_hits, recall)`` per query — recall =
    |approx ∩ exact| / k; ``n_approx < k`` reveals under-filled buckets
    (the plane-count/probe tuning signal), which a mean-only metric
    hides.

    100 TB design: the query batch broadcasts (it is batch-sized); the
    exact side is one corpus scan + heap; the approx side's bucket join
    is the partition-pruned serving shape measured at its real recall.
    Auditing on a sampled batch per ingest is how the ANN tier's recall
    is MONITORED at scale — assumed recall is how serving quietly rots.
    """
    queries = df.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("__qid"), F.col(vec_col).alias("__qv")
    )
    corpus = df.where(F.col(id_col) >= n_queries).select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")
    )
    qv, cv = _as_double(F.col("__qv")), _as_double(F.col("__cv"))
    sim = F.round(
        _dot(qv, cv) / (F.sqrt(_dot(qv, qv)) * F.sqrt(_dot(cv, cv))), 6
    )
    w = Window.partitionBy("__qid").orderBy(
        F.desc("__sim"), F.asc("__cid")
    )

    def topk(joined: DataFrame) -> DataFrame:
        return (
            joined.withColumn("__sim", sim)
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
            .select("__qid", "__cid")
        )

    exact = topk(corpus.join(F.broadcast(queries)))
    dim_row = df.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:  # empty table -> empty audit, not a crash
        return df.sparkSession.createDataFrame(
            [],
            f"{id_col} bigint, n_exact bigint, n_approx bigint, "
            "n_hits bigint, recall double",
        )
    dim = int(dim_row["d"])
    cb = lsh_bucket(
        corpus, dim, n_planes, vec_col="__cv", seed=seed, bucket_col="__b"
    )
    qb = lsh_bucket(
        queries, dim, n_planes, vec_col="__qv", seed=seed, bucket_col="__b"
    )
    approx = topk(cb.join(F.broadcast(qb), "__b"))
    # ONE full-outer join + ONE aggregation: consuming exact/approx once
    # each keeps both candidate plans single-execution (two separate
    # count aggregations would recompute the cross join and the bucket
    # join a second time — measured in the physical plan)
    pairs = exact.withColumn("__e", F.lit(1)).join(
        approx.withColumn("__a", F.lit(1)),
        ["__qid", "__cid"],
        "full_outer",
    )
    return (
        pairs.groupBy("__qid")
        .agg(
            F.sum(F.coalesce("__e", F.lit(0))).alias("n_exact"),
            F.sum(F.coalesce("__a", F.lit(0))).alias("n_approx"),
            F.sum(
                F.when(
                    F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_hits"),
        )
        .select(
            F.col("__qid").alias(id_col),
            "n_exact",
            "n_approx",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(k)), 4).alias("recall"),
        )
    )


def _vector_dim(df: DataFrame, vec_col: str) -> int | None:
    """Dimension of the first NON-NULL vector of ``df`` (one tiny job),
    or None when there is none — a NULL in row 1 must not crash the
    probe."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()
    )
    if row is None or row["d"] is None:
        return None
    return int(row["d"])


def _empty_cosine_pairs(
    df: DataFrame, id_col: str, a: str, b: str
) -> DataFrame:
    """The no-candidate result ``(a, b, cosine_sim)`` of an LSH cosine
    operator, typed from ``df``'s ACTUAL id column so the empty path and
    the populated path return the same schema for non-bigint ids (ADVICE
    r8)."""
    id_type = df.schema[id_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        [], f"{a} {id_type}, {b} {id_type}, cosine_sim double"
    )


def _cosine_rescore(
    cand: DataFrame,
    av: DataFrame,
    bv: DataFrame,
    a: str,
    b: str,
    threshold: float,
) -> DataFrame:
    """``(a, b, cosine_sim)`` for candidate id pairs ``(a, b)``, kept when
    ``round(cosine, 4) ≥ threshold`` — the one rescore of the sign-LSH
    lookup and cross-pairs. Candidates are ``repartition``ed off the
    skewed bucket key, vectors join back by id (``av``: ``(a, __va)``,
    ``bv``: ``(b, __vb)``), and the exact cosine runs vectorized in numpy
    over Arrow batches (``mapInPandas``). A NULL vector on either side
    drops its pairs: every NULL hashes to bucket 0, so two NULLs are a
    candidate (after any bucket cap, which counts them)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from pyveb_spark.operators.layout import pin_width

    av = av.where(F.col("__va").isNotNull())
    bv = bv.where(F.col("__vb").isNotNull())
    joined = pin_width(cand.select(a, b), a, b).join(av, a).join(bv, b)
    out_schema = StructType(
        [
            StructField(a, joined.schema[a].dataType),
            StructField(b, joined.schema[b].dataType),
            StructField("cosine_sim", DoubleType()),
        ]
    )

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            va = np.array(list(pdf["__va"]), dtype=np.float64)
            vb = np.array(list(pdf["__vb"]), dtype=np.float64)
            cos = _round_half_away(
                (va * vb).sum(axis=1)
                / (
                    np.sqrt((va * va).sum(axis=1))
                    * np.sqrt((vb * vb).sum(axis=1))
                ),
                4,
            )
            m = cos >= threshold
            yield pd.DataFrame(
                {
                    a: pdf[a].to_numpy()[m],
                    b: pdf[b].to_numpy()[m],
                    "cosine_sim": cos[m],
                }
            )

    return joined.mapInPandas(_score, schema=out_schema)


def lsh_cosine_lookup(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n_planes: int | str = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Incremental EMBEDDING near-dup admission — the vector twin of
    ``dedup.minhash_lsh_lookup``: check a new batch against the corpus
    through the LSH bucket structure instead of re-running all-pairs.
    Both sides hash with the same md5-derived hyperplanes
    (``lsh_bucket``); candidates come from the bucket equijoin and are
    exactly rescored, keeping pairs with ``round(cosine, 4) ≥
    threshold`` (the q36/q62 compare discipline). Returns
    ``(<id>_new, <id>_corpus, cosine_sim)``.

    Pass the persisted/bucketed corpus index as ``index`` (a frame
    already carrying ``lsh_bucket``) in production so admission cost
    scales with the BATCH; the default buckets ``corpus`` on the fly.
    When the index carries the vector column (every ``lsh_bucket`` /
    ``save_lsh_index`` artifact does), rescore vectors come from the
    INDEX, not ``corpus`` — a grown persisted index stays the admission
    ground truth even when the caller's corpus frame is stale (ADVICE
    r9). Recall follows the single-probe LSH curve — tune
    ``n_planes="auto"`` (``suggest_lsh_planes`` on the corpus count —
    the production default for growing corpora) or an explicit integer
    against q162's recall audit, which is the monitoring loop for
    exactly this path.

    100 TB design: with the index bucketed on disk the lookup is a
    bucket-pruned join touching ~|batch|·E[bucket] rows; no corpus
    scan, no cross join. The rescore is the one
    ``lsh_cosine_cross_pairs`` uses (``_cosine_rescore``) — the bucket
    equijoin carries (id, bucket) rows only, candidates are
    ``repartition``ed off the skewed bucket key, vectors join back by id,
    and the exact cosine runs vectorized in numpy over Arrow batches. The
    earlier form
    (vectors carried through the bucket join + interpreted ``zip_with``
    cosine on its output) was measured 7× slower on a 2.9 k-batch ×
    47 k-corpus admission (q206's 10× twin: 92 s → 13 s) — hot buckets
    make straggler tasks AND the slow HOF path multiplies per candidate.
    The 48-bit plane construction is portable, so the whole admission
    decision replays under the SQL oracle.
    """
    a_id, b_id = f"{id_col}_new", f"{id_col}_corpus"
    if dim is None:
        # probe the batch for the vector dimension — one tiny job. The
        # per-micro-batch admission loop should pass ``dim`` from the
        # index's build manifest instead (q206 does): the probe costs a
        # full scheduler round-trip per batch for a constant the
        # artifact already records.
        dim = _vector_dim(batch, vec_col)
        if dim is None:
            return _empty_cosine_pairs(batch, id_col, a_id, b_id)
    dim = int(dim)
    if n_planes == "auto":
        # the production resolution knob: pick the plane count from the
        # measured candidate-volume model on the CORPUS size, so bucket
        # density stays ~flat as the corpus grows (BASELINE.md's sf3
        # densification row is exactly the failure this removes). One
        # count over the id column — metadata-cheap next to the lookup.
        if index is not None:
            raise ValueError(
                "n_planes='auto' cannot re-derive the plane count a "
                "persisted index was BUILT with — pass the integer used "
                "at build time (suggest_lsh_planes at save time)"
            )
        n_planes = suggest_lsh_planes(corpus.select(id_col).count())
    if index is None:
        index = lsh_bucket(
            corpus, dim, n_planes, vec_col=vec_col, seed=seed,
            bucket_col="__b",
        )
    elif "__b" not in index.columns:
        raise ValueError("index must carry the '__b' bucket column")
    qb = batch.withColumn(
        "__b", lsh_bucket_expr(dim, n_planes, vec_col, seed)
    )
    a = qb.select(F.col(id_col).alias(a_id), "__b")
    b = index.select(F.col(id_col).alias(b_id), "__b")
    # single-probe LSH: each vector owns exactly ONE bucket, so a pair
    # shares at most one bucket — no distinct needed, multiplicity is
    # already 1 (semantics identical to the join-predicate form)
    cand = a.join(b, "__b").where(F.col(a_id) != F.col(b_id))
    # vector join-back by id; NULL embeddings contribute no candidate
    # (``_cosine_rescore`` drops them; the previous join-predicate form
    # nulled their cosine — same rows)
    av = batch.select(F.col(id_col).alias(a_id), F.col(vec_col).alias("__va"))
    # b-side vectors come from the INDEX when it carries them (ADVICE
    # r9): with a persisted index that has grown past the caller's
    # corpus frame (or vice versa), joining the corpus would silently
    # drop candidates / rescore against drifted vectors — the index's
    # own vectors are the admission ground truth. The corpus frame is
    # only consulted when the index is bucket-metadata-only.
    b_vec_src = index if vec_col in index.columns else corpus
    bvs = b_vec_src.select(
        F.col(id_col).alias(b_id), F.col(vec_col).alias("__vb")
    )
    return _cosine_rescore(cand, av, bvs, a_id, b_id, threshold)


def lsh_cosine_cross_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    threshold: float,
    n_planes: int | str = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 4000,
) -> DataFrame:
    """Cross-side cosine candidate pairs through the LSH bucket
    structure — the MINING shape (both sides corpus-sized), as
    ``lsh_cosine_lookup`` is the ADMISSION shape (tiny batch vs corpus).
    The distinction matters at scale and was measured, not guessed: a
    corpus×corpus bucket equijoin that evaluates the cosine as an
    interpreted ``zip_with`` join predicate runs per-candidate on the
    JVM's slow higher-order-function path AND inherits the bucket key's
    skew (a handful of hot-bucket tasks own nearly all candidates) — at
    50 k vectors that shape ran 10+ minutes where this one takes
    seconds. Three rules fix it:

    1. **Join ids, not vectors**: both sides hash with the shared
       md5-derived hyperplanes; the bucket equijoin carries only
       (id, bucket) rows, so the shuffle is corpus-thin.
    2. **Cap hot buckets BEFORE the join** (``max_bucket_size`` on the
       UNION membership — the minhash-LSH skew rule, SCALE.md): a
       bucket with m members is m_a×m_b candidate pairs in one join
       key. For sign-LSH the hot buckets are the HUB regions — vectors
       similar to everything — which margin-based consumers (q200)
       demote anyway; resolution (``n_planes``) is the production knob
       that splits them as the corpus grows.
    3. **Rescore vectorized off the bucket key**: candidates are
       ``repartition``ed (skew-free), joined back to their vectors, and
       exactly rescored in numpy over Arrow batches (``mapInPandas``) —
       the ``cosine_pairs`` discipline, never the per-pair interpreted
       fold (~50× slower).

    Returns ``(<id>_a, <id>_b, cosine_sim)`` with ``round(cosine, 4) ≥
    threshold``; pairs are distinct, sides keep their origin (a-side id
    in ``_a``). The whole construction — planes, buckets, cap, rounded
    rescore — replays under the SQL oracle."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    dim = _vector_dim(a_df, vec_col)
    if dim is None:
        return _empty_cosine_pairs(a_df, id_col, a, b)
    if n_planes == "auto":
        # resolution follows the TOTAL hashed population (both sides
        # land in the same bucket space) — the suggest_lsh_planes knob
        # as the default instead of a hand-picked constant
        n_planes = suggest_lsh_planes(
            a_df.select(id_col).count() + b_df.select(id_col).count()
        )
    ab = lsh_bucket(
        a_df.select(id_col, vec_col), dim, n_planes, vec_col=vec_col,
        seed=seed, bucket_col="__b",
    ).select(F.col(id_col).alias(a), "__b")
    bb = lsh_bucket(
        b_df.select(id_col, vec_col), dim, n_planes, vec_col=vec_col,
        seed=seed, bucket_col="__b",
    ).select(F.col(id_col).alias(b), "__b")
    ok = (
        ab.select("__b")
        .unionAll(bb.select("__b"))
        .groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__m"))
        .where(F.col("__m") <= int(max_bucket_size))
        .select("__b")
    )
    from pyveb_spark.operators.joins import broadcast_if_bounded

    ok = broadcast_if_bounded(ok)
    cand = ab.join(ok, "__b").join(bb, "__b").select(a, b).distinct()
    av = a_df.select(F.col(id_col).alias(a), F.col(vec_col).alias("__va"))
    bv = b_df.select(F.col(id_col).alias(b), F.col(vec_col).alias("__vb"))
    return _cosine_rescore(cand, av, bv, a, b, threshold)


def mmr_select(
    candidates: Sequence[tuple],
    k: int = 10,
    lam: float = 0.7,
    mu: float = 0.3,
) -> list[tuple]:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998)
    over a BOUNDED candidate shortlist: greedily pick the candidate
    maximizing ``lam*relevance - mu*max_cosine_to_already_selected`` —
    the standard diversity re-rank a RAG/eval-curation serving layer runs
    on its retrieval shortlist. ``candidates`` is a list of
    ``(id, label, relevance, vector)``; returns ``(rank, id, label,
    relevance, mmr_score)`` for the k picks.

    Runs on the driver BY DESIGN: the distributed stage is producing the
    shortlist (``cosine_topk`` / the ANN index); MMR is O(k·|shortlist|)
    on that bounded set — model-sized work, like the k×dim k-means
    centroids. Determinism contract: cosine accumulates left-to-right in
    double (bit-identical to ``cosine_sim_expr`` and DuckDB's
    ``list_dot_product``), ``lam``/``mu`` are EXPLICIT literals (never
    derive mu as 1-lam: ``1-0.7`` is not the double ``0.3``), scores
    compare exactly with ties to the lowest id — so an ANSI oracle can
    replay every pick."""
    import math

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    remaining = list(candidates)
    selected: list[tuple] = []
    out: list[tuple] = []
    for rank in range(1, min(int(k), len(remaining)) + 1):
        best_key, best_c, best_score = None, None, None
        for c in remaining:
            ms = max((cos(c[3], s[3]) for s in selected), default=0.0)
            score = lam * c[2] - mu * ms
            key = (score, -c[0])
            if best_key is None or key > best_key:
                best_key, best_c, best_score = key, c, score
        selected.append(best_c)
        remaining.remove(best_c)
        out.append((rank, best_c[0], best_c[1], best_c[2], best_score))
    return out


def margin_bitext_mine(
    pairs: DataFrame,
    k: int = 4,
    src_col: str = "src_id",
    tgt_col: str = "tgt_id",
    score_col: str = "cosine_sim",
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER criterion): re-score every candidate pair by
    ``margin = cos(x,y) / ((avg_k(x) + avg_k(y)) / 2)`` where ``avg_k``
    is the mean similarity to the node's k nearest cross-side
    neighbours. Raw cosine retrieves hubs — vectors globally similar to
    everything; the ratio margin normalizes by each node's neighbourhood
    density, the difference between ~50% and ~95% mined-bitext precision
    in the published benchmarks.

    Input: a DIRECTED bipartite candidate frame (one row per src→tgt
    candidate with a 4-decimal-rounded ``score_col``). Output: candidate
    rows where either endpoint ranks the other in its top-k, with
    ``margin`` attached (round 6).

    Determinism: neighbourhood averages sum DECIMAL(8,4)-cast rounded
    scores (exact, order-free) with a single final double division, so
    any engine replays the margin bit-for-bit. Scale: two keyed windows
    (by src, by tgt) + two k-row-per-node aggregates joined back —
    cost ∝ candidate count, which the caller bounds (LSH/IVF candidate
    generation at 100 TB; exact pairs as the audit baseline)."""
    from pyspark.sql import Window

    ws = Window.partitionBy(src_col).orderBy(
        F.desc(score_col), F.col(tgt_col)
    )
    wt = Window.partitionBy(tgt_col).orderBy(
        F.desc(score_col), F.col(src_col)
    )
    ranked = pairs.withColumn("rn_f", F.row_number().over(ws)).withColumn(
        "rn_b", F.row_number().over(wt)
    )
    dec = F.col(score_col).cast("decimal(8,4)")
    nf = (
        ranked.where(F.col("rn_f") <= k)
        .groupBy(src_col)
        .agg(
            (
                F.sum(dec).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_src")
        )
    )
    nb = (
        ranked.where(F.col("rn_b") <= k)
        .groupBy(tgt_col)
        .agg(
            (
                F.sum(dec).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_tgt")
        )
    )
    cand = ranked.where((F.col("rn_f") <= k) | (F.col("rn_b") <= k))
    return (
        cand.join(nf, src_col)
        .join(nb, tgt_col)
        .withColumn(
            "margin",
            F.round(
                F.col(score_col)
                / ((F.col("avg_src") + F.col("avg_tgt")) / F.lit(2.0)),
                6,
            ),
        )
        .drop("rn_f", "rn_b", "avg_src", "avg_tgt")
    )


def mahalanobis_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "maha_sq",
    stats: list[tuple[float, float]] | None = None,
) -> DataFrame:
    """Embedding OOD scoring: squared Mahalanobis distance to the corpus
    distribution under a DIAGONAL covariance — the vector-space
    generalization of the scalar z-score screen, and the standard cheap
    OOD detector for catching corrupt encoders, wrong-modality rows, and
    truncated vectors before they enter an ANN index.

    ``stats``: optional per-dim ``(mean, var_samp)`` list — pass the
    TRAINING snapshot's stats to score a new batch against the old
    distribution (the monitoring shape); default fits on ``df`` with one
    tiny aggregate. Either way the model is dim-sized driver state
    (64 doubles here — the k x dim precedent), and scoring is a pure
    scan-stage ``zip_with``/``aggregate`` fold: no shuffle, no join, no
    Python. Zero-variance dims are skipped (they carry no OOD signal and
    would divide by zero)."""
    if stats is None:
        ex = df.select(
            F.posexplode(F.col(vec_col)).alias("pos", "v")
        ).withColumn("v", F.col("v").cast("double"))
        rows = (
            ex.groupBy("pos")
            .agg(F.avg("v").alias("mu"), F.var_samp("v").alias("var"))
            .collect()
        )
        # index by position, not by collect order: ragged vector lengths
        # leave gaps that a positional zip would misalign; var_samp is
        # NULL on a single sample — coalesce to 0.0 (the v > 0 guard
        # below already skips zero-variance dims)
        by_pos = {r["pos"]: r for r in rows}
        n_dims = max(by_pos) + 1 if by_pos else 0
        stats = [
            (
                float(by_pos[p]["mu"] or 0.0) if p in by_pos else 0.0,
                float(by_pos[p]["var"] or 0.0) if p in by_pos else 0.0,
            )
            for p in range(n_dims)
        ]
    mus = _lit_arr([m for m, _ in stats])
    vars_ = _lit_arr([v for _, v in stats])
    diffs = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        mus,
        lambda x, m: x - m,
    )
    terms = F.zip_with(
        diffs,
        vars_,
        # d is NULL where a short (ragged) vector was NULL-padded by
        # zip_with — skip those dims instead of poisoning the fold
        lambda d, v: F.when(
            (v > 0) & d.isNotNull(), d * d / v
        ).otherwise(F.lit(0.0)),
    )
    score = F.aggregate(
        terms, F.lit(0.0), lambda acc, t: acc + t
    )
    return df.withColumn(out_col, score)
