"""Round-10 tranche: PQ/SQ8 quantizer persistence, index compaction in
the lifecycle, collision-proof packing temp columns, the auto LSH
resolution knob, and index-authoritative lookup rescoring."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from pyveb_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# PQ / SQ8 model persistence: exact round trips, persisted == fresh
# ---------------------------------------------------------------------------

def test_pq_codebooks_round_trip_bit_exact(spark, tmp_path):
    from pyveb_spark.operators.similarity import pq_train
    from pyveb_spark.sinks.index_store import (
        load_pq_codebooks,
        save_pq_codebooks,
    )

    e = read_table(spark, SF, "embeddings")
    fresh = pq_train(e, m=4, k=16, iters=2)
    save_pq_codebooks(spark, fresh, str(tmp_path / "cb"))
    loaded, _ = load_pq_codebooks(spark, str(tmp_path / "cb"))
    assert loaded == fresh  # doubles round-trip parquet exactly


def test_pq_persisted_search_equals_fresh(spark, tmp_path):
    from pyveb_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from pyveb_spark.queries._helpers import _query_vec
    from pyveb_spark.sinks.index_store import (
        load_pq_codebooks,
        save_pq_codebooks,
    )

    e = read_table(spark, SF, "embeddings")
    qv = _query_vec(e)
    fresh_cb = pq_train(e, m=4, k=16, iters=2)
    fresh = pq_adc_topk(
        pq_encode(e, fresh_cb), fresh_cb, qv, k=20, exclude_ids=[0]
    ).collect()

    save_pq_codebooks(spark, fresh_cb, str(tmp_path / "cb"))
    cb, _ = load_pq_codebooks(spark, str(tmp_path / "cb"))
    pq_encode(e, cb).select("vec_id", "pq_codes").write.parquet(
        str(tmp_path / "codes")
    )
    codes = spark.read.parquet(str(tmp_path / "codes"))
    warm = pq_adc_topk(codes, cb, qv, k=20, exclude_ids=[0]).collect()
    assert [(r.vec_id, r.adc_dist) for r in warm] == [
        (r.vec_id, r.adc_dist) for r in fresh
    ]


def test_sq8_stats_round_trip_and_identical_search(spark, tmp_path):
    from pyveb_spark.operators.similarity import sq8_ann, sq8_stats
    from pyveb_spark.queries._helpers import _query_vec
    from pyveb_spark.sinks.index_store import (
        load_sq8_stats,
        save_sq8_stats,
    )

    e = read_table(spark, SF, "embeddings")
    qv = _query_vec(e)
    fresh_stats = sq8_stats(e)
    save_sq8_stats(spark, fresh_stats, str(tmp_path / "stats"))
    loaded, _ = load_sq8_stats(spark, str(tmp_path / "stats"))
    assert loaded == fresh_stats

    fresh = sq8_ann(e, qv, k=10, shortlist=30, stats=fresh_stats,
                    exclude_ids=[0]).collect()
    warm = sq8_ann(e, qv, k=10, shortlist=30, stats=loaded,
                   exclude_ids=[0]).collect()
    assert [(r.vec_id, r.cosine_sim) for r in warm] == [
        (r.vec_id, r.cosine_sim) for r in fresh
    ]


def test_ivfpq_persisted_serving_plan_prunes_partitions(spark, tmp_path):
    """The q215 composition keeps the q207 physical property: the probe
    over the reloaded encoded postings is partition pruning at the scan
    (codes travel inside the pruned partitions)."""
    from pyveb_spark.operators.similarity import (
        ivf_index,
        pq_encode,
        pq_train,
    )
    from pyveb_spark.sinks.index_store import (
        load_ivf_index,
        load_pq_codebooks,
        save_ivf_index,
        save_pq_codebooks,
    )

    e = read_table(spark, SF, "embeddings")
    indexed, cents = ivf_index(e, n_lists=8)
    save_pq_codebooks(spark, pq_train(e, m=4, k=16, iters=2),
                      str(tmp_path / "cb"))
    cb, _ = load_pq_codebooks(spark, str(tmp_path / "cb"))
    save_ivf_index(
        pq_encode(indexed, cb).select("vec_id", "pq_codes", "ivf_list"),
        cents,
        str(tmp_path / "ivf"),
    )
    postings, _, _ = load_ivf_index(spark, str(tmp_path / "ivf"))
    plan = postings.where(
        F.col("ivf_list").isin([0, 1])
    )._jdf.queryExecution().executedPlan().toString()
    pf = next(
        (ln for ln in plan.splitlines() if "PartitionFilters" in ln), ""
    )
    assert "ivf_list" in pf, plan


# ---------------------------------------------------------------------------
# Compaction in the index lifecycle: fewer files, same answers, layout
# properties preserved
# ---------------------------------------------------------------------------

def _parquet_files(path):
    import pathlib

    return [
        p for p in pathlib.Path(path).rglob("*.parquet")
        if p.name.endswith(".parquet")
    ]


def test_compact_ivf_postings_drops_files_keeps_search(spark, tmp_path):
    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        nearest_centroid,
    )
    from pyveb_spark.queries._helpers import _query_vec
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        compact_ivf_postings,
        load_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, SF, "embeddings")
    qv = _query_vec(e)
    corpus0 = e.where(F.col("vec_id") >= 150)
    indexed0, cents = ivf_index(corpus0, n_lists=4)
    root = str(tmp_path / "ivf")
    save_ivf_index(indexed0, cents, root)
    _, loaded, _ = load_ivf_index(spark, root)
    # three admission waves -> small files accrete per list partition
    for lo, hi in [(0, 50), (50, 100), (100, 150)]:
        batch = e.where(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        )
        append_ivf_postings(
            batch.withColumn(
                "ivf_list",
                nearest_centroid(F.col("embedding"), loaded)["list_id"],
            ),
            root,
        )
    grown, cents2, _ = load_ivf_index(spark, root)
    before_rows = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_search(grown, cents2, qv, k=10, nprobe=2,
                            exclude_ids=[0]).collect()
    ]
    n_before = len(_parquet_files(root + "/postings"))

    compact_ivf_postings(spark, root)

    n_after = len(_parquet_files(root + "/postings"))
    assert n_after < n_before
    compacted, cents3, _ = load_ivf_index(spark, root)
    assert cents3 == cents2
    after_rows = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_search(compacted, cents3, qv, k=10, nprobe=2,
                            exclude_ids=[0]).collect()
    ]
    assert after_rows == before_rows
    # pruning property survives the rewrite
    plan = compacted.where(
        F.col("ivf_list").isin([0, 1])
    )._jdf.queryExecution().executedPlan().toString()
    pf = next(
        (ln for ln in plan.splitlines() if "PartitionFilters" in ln), ""
    )
    assert "ivf_list" in pf, plan


def test_compact_minhash_index_drops_files_keeps_lookup(spark, tmp_path):
    from pyveb_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_lookup,
    )
    from pyveb_spark.sinks.index_store import (
        append_minhash_index,
        compact_minhash_index,
        load_minhash_index,
        save_minhash_index,
    )

    d = read_table(spark, SF, "documents")
    batch = d.where(F.col("doc_id") < 50)
    table = f"t_cmp_{uuid.uuid4().hex[:8]}"
    postings_path = str(tmp_path / "postings")
    try:
        save_minhash_index(
            minhash_lsh_index(d.where("doc_id >= 200"), "doc_id", "text"),
            table,
            str(tmp_path / "hot"),
            path=postings_path,
        )
        # two append waves accrete files per bucket
        for lo, hi in [(100, 150), (150, 200)]:
            append_minhash_index(
                minhash_lsh_index(
                    d.where(f"doc_id >= {lo} AND doc_id < {hi}"),
                    "doc_id", "text",
                ),
                table,
            )
        idx, hot, _ = load_minhash_index(spark, table, str(tmp_path / "hot"))
        before = sorted(
            (r.doc_id_new, r.doc_id_corpus, round(r.jaccard, 9))
            for r in minhash_lsh_lookup(
                batch, idx, "doc_id", "text", threshold=0.8,
                hot_buckets=hot,
            ).collect()
        )
        rows_before = idx.count()
        n_before = len(_parquet_files(postings_path))

        compact_minhash_index(
            spark, table, hot_path=str(tmp_path / "hot")
        )

        n_after = len(_parquet_files(postings_path))
        assert n_after < n_before
        idx2, hot2, _ = load_minhash_index(spark, table, str(tmp_path / "hot"))
        assert idx2.count() == rows_before
        after = sorted(
            (r.doc_id_new, r.doc_id_corpus, round(r.jaccard, 9))
            for r in minhash_lsh_lookup(
                batch, idx2, "doc_id", "text", threshold=0.8,
                hot_buckets=hot2,
            ).collect()
        )
        assert after == before
        # the bucketed-layout property survives: band-key aggregation
        # over the compacted table still needs no Exchange
        plan = (
            idx2.groupBy("__band", "__h")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# ---------------------------------------------------------------------------
# Packing temp-column hygiene (ADVICE r9)
# ---------------------------------------------------------------------------

def test_distributed_ntile_preserves_existing_offset_columns(spark):
    from pyveb_spark.operators.packing import (
        distributed_ntile,
        with_token_offsets,
    )

    df = spark.createDataFrame(
        [(i, 10) for i in range(20)], "id bigint, n bigint"
    )
    packed = with_token_offsets(df, "n", "id")  # carries start/end_tok
    before = {
        r.id: (r.start_tok, r.end_tok) for r in packed.collect()
    }
    binned = distributed_ntile(packed, 4, ["id"])
    rows = binned.collect()
    # prior offsets survive untouched and the bins are still exact
    assert {r.id: (r.start_tok, r.end_tok) for r in rows} == before
    assert [r.bin for r in sorted(rows, key=lambda r: r.id)] == [
        1 + i // 5 for i in range(20)
    ]


def test_with_token_offsets_rejects_colliding_columns(spark):
    from pyveb_spark.operators.packing import with_token_offsets

    df = spark.createDataFrame(
        [(1, 2, 3)], "id bigint, n bigint, start_tok bigint"
    )
    with pytest.raises(ValueError, match="start_tok"):
        with_token_offsets(df, "n", "id")
    renamed = with_token_offsets(
        df, "n", "id", start_col="s2", end_col="e2"
    ).collect()
    assert renamed[0].s2 == 0 and renamed[0].e2 == 1
    assert renamed[0].start_tok == 3  # untouched


# ---------------------------------------------------------------------------
# LSH knobs: auto resolution + index-authoritative rescore
# ---------------------------------------------------------------------------

def test_lsh_lookup_auto_planes_matches_explicit(spark):
    from pyveb_spark.operators.similarity import (
        lsh_cosine_lookup,
        suggest_lsh_planes,
    )

    e = read_table(spark, SF, "embeddings")
    corpus = e.where(F.col("vec_id") >= 20)
    batch = e.where(F.col("vec_id") < 20)
    n = suggest_lsh_planes(corpus.count())
    explicit = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, corpus, threshold=0.3, n_planes=n
        ).collect()
    )
    auto = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, corpus, threshold=0.3, n_planes="auto"
        ).collect()
    )
    assert auto == explicit


def test_lsh_lookup_auto_rejects_prebuilt_index(spark):
    from pyveb_spark.operators.similarity import (
        lsh_bucket,
        lsh_cosine_lookup,
    )

    e = read_table(spark, SF, "embeddings")
    corpus = e.where(F.col("vec_id") >= 20)
    batch = e.where(F.col("vec_id") < 20)
    dim = len(corpus.select("embedding").first()[0])
    idx = lsh_bucket(corpus, dim, 6, bucket_col="__b")
    with pytest.raises(ValueError, match="auto"):
        lsh_cosine_lookup(
            batch, corpus, threshold=0.3, n_planes="auto", index=idx
        )


def test_local_df_is_a_local_relation(spark):
    """Regression pin for the r10 perf find: small driver-side tables
    must be JVM LocalRelations (Arrow path), never Python-RDD frames
    whose every scan pays a worker roundtrip per partition (measured
    ~4 s for a one-row frame on local[32]). Types — including array
    columns — must follow the DDL exactly."""
    from pyveb_spark.session import local_df

    df = local_df(
        spark, [(1, [1.0, 2.5]), (2, [3.0, 4.0])],
        "a int, v array<double>",
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan
    assert df.schema.simpleString() == "struct<a:int,v:array<double>>"
    assert df.orderBy("a").collect()[0].v == [1.0, 2.5]
    empty = local_df(spark, [], "a int, b bigint")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<a:int,b:bigint>"


def test_lsh_index_manifest_round_trip(spark, tmp_path):
    """Build parameters travel with the artifact: a persisted LSH index
    saved with meta reloads (frame, manifest), and a lookup driven by
    the manifest equals one driven by the remembered constants. An
    index without a manifest reloads with meta == {} (back-compat)."""
    from pyveb_spark.operators.similarity import (
        lsh_bucket,
        lsh_cosine_lookup,
    )
    from pyveb_spark.sinks.index_store import (
        load_lsh_index,
        save_lsh_index,
    )

    e = read_table(spark, SF, "embeddings")
    corpus = e.where(F.col("vec_id") >= 20)
    batch = e.where(F.col("vec_id") < 20)
    dim = len(corpus.select("embedding").first()[0])
    idx = lsh_bucket(corpus, dim, 7, seed=11, bucket_col="__b")
    save_lsh_index(
        idx, str(tmp_path / "lsh"),
        meta={"n_planes": 7, "seed": 11, "dim": dim},
    )
    warm, meta = load_lsh_index(spark, str(tmp_path / "lsh"))
    assert meta == {"n_planes": 7, "seed": 11, "dim": dim}
    # non-int values come back with their saved types
    typed = {**meta, "metric": "cosine", "threshold": 0.8}
    save_lsh_index(idx, str(tmp_path / "typed"), meta=typed)
    _, typed_meta = load_lsh_index(spark, str(tmp_path / "typed"))
    assert typed_meta == typed
    assert type(typed_meta["threshold"]) is float
    from_meta = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, corpus, threshold=0.3,
            n_planes=meta["n_planes"], seed=meta["seed"], index=warm,
        ).collect()
    )
    explicit = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, corpus, threshold=0.3, n_planes=7, seed=11,
        ).collect()
    )
    assert from_meta == explicit

    save_lsh_index(idx, str(tmp_path / "bare"))
    _, bare_meta = load_lsh_index(spark, str(tmp_path / "bare"))
    assert bare_meta == {}


def test_lsh_lookup_rescores_against_index_vectors(spark):
    """A grown persisted index must stay the admission ground truth:
    candidates present only in the INDEX (not the caller's stale corpus
    frame) are found and scored (ADVICE r9 — the old form inner-joined
    the corpus and silently dropped them)."""
    from pyveb_spark.operators.similarity import (
        lsh_bucket,
        lsh_cosine_lookup,
    )

    e = read_table(spark, SF, "embeddings")
    full_corpus = e.where(F.col("vec_id") >= 20)
    stale_corpus = e.where(F.col("vec_id") >= 300)  # missing 20..299
    batch = e.where(F.col("vec_id") < 20)
    dim = len(full_corpus.select("embedding").first()[0])
    idx = lsh_bucket(full_corpus, dim, 6, bucket_col="__b")

    want = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, full_corpus, threshold=0.3, n_planes=6, index=idx
        ).collect()
    )
    got = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, stale_corpus, threshold=0.3, n_planes=6, index=idx
        ).collect()
    )
    assert got == want
    assert any(20 <= c < 300 for _, c, _ in got)  # index-only matches
