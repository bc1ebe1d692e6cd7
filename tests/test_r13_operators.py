"""Round-13 optimization-round pins: the widen_scan call-site gates
(q149/q175 — the r12 VERDICT's two real regressions) must not change any
operator's VALUES, and the lsh_bucket n_planes=0 degenerate case (ADVICE
r12) returns the constant single-bucket id instead of failing analysis."""

from __future__ import annotations

from pyveb_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ngram_count_table_widen_flag_value_identity(spark):
    """widen only changes scan parallelism (round-robin repartition of the
    raw input); the count table must be value-identical with it on/off."""
    from pyveb_spark.operators.text import ngram_count_table

    d = read_table(spark, SF, "documents")
    for n, min_count in ((2, 2), (1, 1), (3, 5)):
        on = _rows(ngram_count_table(d, "text", n=n, min_count=min_count,
                                     widen=True))
        off = _rows(ngram_count_table(d, "text", n=n, min_count=min_count,
                                      widen=False))
        assert on == off and len(off) > 0


def test_cross_source_overlap_has_no_widen_flag():
    """The chunk-overlap matrix never widens its scan: the flag's only
    non-test caller (q149) used the default ``False``, so it is gone."""
    import inspect

    from pyveb_spark.operators.dedup import cross_source_overlap

    assert "widen" not in inspect.signature(cross_source_overlap).parameters


def test_lsh_bucket_expr_matches_lsh_bucket(spark):
    """lsh_bucket is now a thin wrapper over the df-independent
    lsh_bucket_expr Column; both forms (and a caller-prebuilt Column
    reused across frames — the q206 per-batch shape) must produce
    bit-identical buckets."""
    from pyspark.sql import functions as F

    from pyveb_spark.operators.similarity import lsh_bucket, lsh_bucket_expr

    e = read_table(spark, SF, "embeddings")
    expr = lsh_bucket_expr(64, 6, "embedding", seed=42)
    via_fn = _rows(lsh_bucket(e, 64, 6, seed=42).select(
        "vec_id", "lsh_bucket"))
    via_expr = _rows(e.withColumn("lsh_bucket", expr).select(
        "vec_id", "lsh_bucket"))
    assert via_fn == via_expr and len(via_fn) > 0
    # the SAME Column object evaluates against a different frame (what
    # the streaming admission loop does across micro-batches)
    half = e.where(F.col("vec_id") % 2 == 0)
    again = _rows(half.withColumn("lsh_bucket", expr).select(
        "vec_id", "lsh_bucket"))
    assert again == [r for r in via_fn if r[0] % 2 == 0]
    # memoized: called positionally, as lsh_cosine_lookup calls it per
    # micro-batch, the same arguments return the same Column object
    assert lsh_bucket_expr(64, 6, "embedding", 42) is lsh_bucket_expr(
        64, 6, "embedding", 42
    )


def test_lsh_cosine_lookup_equals_uncapped_cross_pairs(spark):
    """The sign-LSH lookup and cross-pairs share one bucket hash and one
    rescore: on disjoint sides, with the cross-pairs bucket cap above the
    total population (so nothing is capped), both return the same
    pairs."""
    from pyspark.sql import functions as F

    from pyveb_spark.operators.similarity import (
        lsh_cosine_cross_pairs,
        lsh_cosine_lookup,
    )

    e = read_table(spark, SF, "embeddings")
    a = e.where(F.col("vec_id") % 2 == 0)
    b = e.where(F.col("vec_id") % 2 == 1)
    cross = _rows(lsh_cosine_cross_pairs(
        a, b, threshold=0.3, max_bucket_size=a.count() + b.count(),
    ))
    lookup = _rows(lsh_cosine_lookup(a, b, threshold=0.3).select(
        F.col("vec_id_new").alias("vec_id_a"),
        F.col("vec_id_corpus").alias("vec_id_b"),
        "cosine_sim",
    ))
    assert cross == lookup and len(cross) > 0


def test_minhash_memoized_columns_value_identity(spark):
    """The memoized signature Columns (_minhash_cols_aliased /
    _band_arr_named) must equal freshly-constructed trees, and the SAME
    cached Column objects must serve different frames (the lifecycle
    queries call the builders 4x per run)."""
    from pyspark.sql import functions as F

    from pyveb_spark.operators.dedup import (
        _band_arr_named,
        _check_banding,
        _minhash_cols_aliased,
        _minhash_expr,
        minhash_lsh_index,
        minhash_signatures,
        portable_hash48,
    )

    import re

    d = read_table(spark, SF, "documents")
    # cached vs fresh expression trees are identical up to the lambda
    # variable gensym counter (x_<n>, a process-global name counter)
    norm = lambda c: re.sub(r"x_\d+", "x", str(c))  # noqa: E731
    fresh = [
        norm(_minhash_expr(F.col("__grams"), s).alias(f"mh_{s}"))
        for s in range(8)
    ]
    assert fresh == [norm(c) for c in _minhash_cols_aliased(8)]
    r = _check_banding(32, 8)
    fresh_bands = F.array(
        *[
            portable_hash48(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * r + i}") for i in range(r)]
                )
            )
            for b in range(8)
        ]
    )
    assert norm(fresh_bands) == norm(_band_arr_named(32, 8))
    # same cached band array reused across two different frames
    assert _band_arr_named(32, 8) is _band_arr_named(32, 8)
    idx_a = _rows(minhash_lsh_index(d.where("doc_id >= 200"), "doc_id",
                                    "text").select("doc_id", "__band",
                                                   "__h"))
    idx_b = _rows(minhash_lsh_index(d.where("doc_id < 200"), "doc_id",
                                    "text").select("doc_id", "__band",
                                                   "__h"))
    assert len(idx_a) > 0 and len(idx_b) > 0
    assert not ({r[0] for r in idx_a} & {r[0] for r in idx_b})
    sig = minhash_signatures(d.limit(20), "doc_id", "text", num_hashes=16)
    assert [c for c in sig.columns if c.startswith("mh_")] == [
        f"mh_{s}" for s in range(16)
    ]
    assert sig.count() > 0


def test_simhash_memoized_expr_value_identity(spark):
    """_simhash_fp_expr is memoized per text column name; the same cached
    Column must serve different frames and reproduce the pre-memo
    fingerprints (q29's oracle pins the absolute values — here we pin
    reuse-across-frames consistency)."""
    from pyveb_spark.operators.dedup import _simhash_fp_expr, simhash

    assert _simhash_fp_expr("text") is _simhash_fp_expr("text")
    d = read_table(spark, SF, "documents")
    full = {r.doc_id: r.simhash
            for r in simhash(d, "doc_id", "text").collect()}
    half = {r.doc_id: r.simhash
            for r in simhash(d.where("doc_id % 2 = 0"), "doc_id",
                             "text").collect()}
    assert len(full) > len(half) > 0
    assert all(full[k] == v for k, v in half.items())


def test_lsh_bucket_zero_planes_constant_bucket(spark):
    """ADVICE r12: n_planes=0 used to build F.array() (void-typed) and
    fail analysis inside the transform fold; the guard restores the
    pre-fold loop's behavior — every vector lands in constant bucket 0,
    typed long like the normal path."""
    from pyveb_spark.operators.similarity import lsh_bucket

    e = read_table(spark, SF, "embeddings").limit(5)
    out = lsh_bucket(e, dim=64, n_planes=0)
    assert dict(out.dtypes)["lsh_bucket"] == "bigint"
    assert [r.lsh_bucket for r in out.collect()] == [0] * 5
