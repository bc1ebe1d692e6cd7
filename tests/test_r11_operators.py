"""Round-11 tranche: crash-safe MinHash index compaction (stage commits
before any destructive step; documented + detected recovery state),
loud failures replacing silent defaults (bucket count, LSH manifest
reads, local_df without Arrow)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from pyveb_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def _build_index(spark, tmp_path, table):
    from pyveb_spark.operators.dedup import minhash_lsh_index
    from pyveb_spark.sinks.index_store import (
        append_minhash_index,
        save_minhash_index,
    )

    d = read_table(spark, SF, "documents")
    save_minhash_index(
        minhash_lsh_index(d.where("doc_id >= 200"), "doc_id", "text"),
        table,
        str(tmp_path / "hot"),
        path=str(tmp_path / "postings"),
    )
    append_minhash_index(
        minhash_lsh_index(
            d.where("doc_id >= 100 AND doc_id < 200"), "doc_id", "text"
        ),
        table,
    )
    return d.where(F.col("doc_id") < 50)


def _lookup(spark, tmp_path, table, batch):
    from pyveb_spark.operators.dedup import minhash_lsh_lookup
    from pyveb_spark.sinks.index_store import load_minhash_index

    idx, hot, _ = load_minhash_index(spark, table, str(tmp_path / "hot"))
    return sorted(
        (r.doc_id_new, r.doc_id_corpus, round(r.jaccard, 9))
        for r in minhash_lsh_lookup(
            batch, idx, "doc_id", "text", threshold=0.8, hot_buckets=hot
        ).collect()
    )


def test_compact_minhash_failed_stage_write_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """The ADVICE-r10 data-loss window: a failure during the expensive
    replacement write must leave the ORIGINAL table live and serving
    (previously the original was dropped first and the stage dropped in
    a finally — a mid-compaction crash lost both)."""
    from pyveb_spark.sinks import writers
    from pyveb_spark.sinks.index_store import compact_minhash_index

    table = f"t_crash_{uuid.uuid4().hex[:8]}"
    try:
        batch = _build_index(spark, tmp_path, table)
        before = _lookup(spark, tmp_path, table, batch)

        real = writers.write_bucketed_table

        def boom(*a, **kw):
            raise RuntimeError("injected mid-compaction failure")

        monkeypatch.setattr(writers, "write_bucketed_table", boom)
        with pytest.raises(RuntimeError, match="injected"):
            compact_minhash_index(
                spark, table, hot_path=str(tmp_path / "hot")
            )
        monkeypatch.setattr(writers, "write_bucketed_table", real)

        # original intact, stage gone, lookup identical
        assert spark.catalog.tableExists(table)
        assert not spark.catalog.tableExists(f"{table}__compact_stage")
        assert _lookup(spark, tmp_path, table, batch) == before
        # and a subsequent (un-sabotaged) compaction succeeds normally
        compact_minhash_index(spark, table, hot_path=str(tmp_path / "hot"))
        assert _lookup(spark, tmp_path, table, batch) == before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


def test_compact_minhash_crashed_swap_is_detected_and_recoverable(spark):
    """Simulate dying INSIDE the metadata swap (table dropped, stage
    committed): both compact_minhash_index and load_minhash_index must
    refuse with the recovery instruction, and the documented recovery
    (rename the stage back) must restore service."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import (
        compact_minhash_index,
        load_minhash_index,
    )
    from pyveb_spark.sinks.writers import write_bucketed_table

    table = f"t_swapcrash_{uuid.uuid4().hex[:8]}"
    stage = f"{table}__compact_stage"
    try:
        write_bucketed_table(
            local_df(
                spark,
                [(0, 7, "a"), (1, 9, "b")],
                "__band int, __h bigint, doc_id string",
            ),
            stage,
            ["__band", "__h"],
            num_buckets=4,
        )
        with pytest.raises(RuntimeError, match="RENAME TO"):
            compact_minhash_index(spark, table)
        with pytest.raises(RuntimeError, match="RENAME TO"):
            load_minhash_index(spark, table, "/nonexistent")
        # the documented one-line recovery
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
        assert spark.table(table).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {stage}")


def test_compact_minhash_raises_on_unbucketed_table(spark):
    """'Num Buckets' is load-bearing for the zero-shuffle join property;
    a missing row must raise, never silently default to 8."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import compact_minhash_index

    table = f"t_nobuckets_{uuid.uuid4().hex[:8]}"
    try:
        local_df(
            spark, [(0, 1, "x")], "__band int, __h bigint, doc_id string"
        ).write.saveAsTable(table)
        with pytest.raises(ValueError, match="Num Buckets"):
            compact_minhash_index(spark, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_minhash_missing_table_raises(spark):
    from pyveb_spark.sinks.index_store import compact_minhash_index

    with pytest.raises(ValueError, match="does not exist"):
        compact_minhash_index(spark, f"t_missing_{uuid.uuid4().hex[:8]}")


def test_load_lsh_index_corrupt_manifest_propagates(spark, tmp_path):
    """A manifest dir that EXISTS but fails to read must raise (the old
    bare-except mapped it to meta={}, indistinguishable from a
    pre-manifest artifact → silent wrong-plane hashing downstream)."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import load_lsh_index

    path = str(tmp_path / "lshidx")
    local_df(
        spark, [(0, [0.1, 0.2], 3)], "id int, vec array<double>, __b long"
    ).write.partitionBy("__b").parquet(path + "/buckets")
    meta_dir = tmp_path / "lshidx" / "manifest"
    meta_dir.mkdir()
    (meta_dir / "garbage.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        load_lsh_index(spark, path)
    # absent manifest still reads as a pre-manifest artifact
    import shutil

    shutil.rmtree(meta_dir)
    df, meta = load_lsh_index(spark, path)
    assert meta == {} and df.count() == 1


def test_local_df_raises_without_arrow(spark):
    """local_df's whole point is the LocalRelation; with Arrow disabled
    createDataFrame(pandas) silently degrades to the pickled-RDD path,
    so the helper must refuse instead."""
    from pyveb_spark.session import local_df

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        with pytest.raises(ValueError, match="arrow"):
            local_df(spark, [(1,)], "x int")
    finally:
        spark.conf.set(key, old)
    assert local_df(spark, [(1,)], "x int").count() == 1


# ---------------------------------------------------------------------------
# Build manifests on every index artifact (the round-10 LSH pattern,
# generalized): savers persist the build parameters next to the data,
# loaders return them, search/lookup helpers fail loudly on mismatch.
# ---------------------------------------------------------------------------


def test_ivf_manifest_round_trip_and_mismatch(spark, tmp_path):
    from pyveb_spark.operators.similarity import ivf_index, ivf_search
    from pyveb_spark.sinks.index_store import (
        load_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, SF, "embeddings")
    indexed, cents = ivf_index(e, n_lists=8)
    save_ivf_index(indexed, cents, str(tmp_path), meta={"metric": "cosine"})
    postings, loaded, meta = load_ivf_index(spark, str(tmp_path))
    dim = len(loaded[0][1])
    assert meta == {"n_lists": 8, "dim": dim, "metric": "cosine"}
    q = loaded[0][1]  # a real vector: cosine needs a nonzero norm
    assert ivf_search(postings, loaded, q, k=3, meta=meta).count() == 3
    # wrong probe dim and wrong quantizer size both fail loudly
    with pytest.raises(ValueError, match="build-manifest mismatch"):
        ivf_search(postings, loaded, [0.0] * (dim + 1), k=3, meta=meta)
    with pytest.raises(ValueError, match="build-manifest mismatch"):
        ivf_search(postings, loaded[:4], q, k=3, meta=meta)


def test_pq_manifest_round_trip_and_mismatch(spark, tmp_path):
    from pyveb_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )
    from pyveb_spark.sinks.index_store import (
        load_pq_codebooks,
        save_pq_codebooks,
    )

    e = read_table(spark, SF, "embeddings")
    cb = pq_train(e, m=4, k=8, iters=1)
    save_pq_codebooks(spark, cb, str(tmp_path / "cb"))
    loaded, meta = load_pq_codebooks(spark, str(tmp_path / "cb"))
    dim = 4 * len(loaded[0][0][1])
    assert meta == {"m": 4, "k": 8, "dim": dim}
    codes = pq_encode(e, loaded, meta=meta)
    assert pq_adc_topk(codes, loaded, [0.0] * dim, k=3, meta=meta).count() == 3
    # a codebook of the wrong geometry against this artifact's manifest
    with pytest.raises(ValueError, match="build-manifest mismatch"):
        pq_encode(e, loaded[:2], meta=meta)
    with pytest.raises(ValueError, match="build-manifest mismatch"):
        pq_adc_topk(codes, loaded[:2], [0.0] * (dim // 2), k=3, meta=meta)


def test_sq8_manifest_round_trip_and_mismatch(spark, tmp_path):
    from pyveb_spark.operators.similarity import sq8_encode, sq8_stats
    from pyveb_spark.sinks.index_store import (
        load_sq8_stats,
        save_sq8_stats,
    )

    e = read_table(spark, SF, "embeddings")
    stats = sq8_stats(e)
    save_sq8_stats(spark, stats, str(tmp_path / "st"), meta={"vec_col": "embedding"})
    loaded, meta = load_sq8_stats(spark, str(tmp_path / "st"))
    assert meta == {"dim": len(stats), "vec_col": "embedding"}
    assert sq8_encode(e, loaded, meta=meta).count() == e.count()
    with pytest.raises(ValueError, match="build-manifest mismatch"):
        sq8_encode(e, loaded[:3], meta=meta)


def test_minhash_manifest_survives_append_and_compaction(spark, tmp_path):
    """The MinHash manifest lives in TBLPROPERTIES so it travels with
    the table identity: it must survive append_minhash_index AND the
    compaction swap (the staged replacement is stamped BEFORE the swap),
    and a lookup with a conflicting explicit parameter must raise."""
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
    build = {"n": 3, "num_hashes": 16, "bands": 4}
    table = f"t_mhmeta_{uuid.uuid4().hex[:8]}"
    try:
        save_minhash_index(
            minhash_lsh_index(d.where("doc_id >= 150"), "doc_id", "text",
                              **build),
            table,
            str(tmp_path / "hot"),
            meta=build,
        )
        idx, hot, meta = load_minhash_index(
            spark, table, str(tmp_path / "hot")
        )
        assert meta == build
        batch = d.where(F.col("doc_id") < 50)
        # meta-driven lookup == explicit-params lookup (same constants)
        with_meta = sorted(
            (r.doc_id_new, r.doc_id_corpus)
            for r in minhash_lsh_lookup(
                batch, idx, "doc_id", "text", threshold=0.8,
                hot_buckets=hot, meta=meta,
            ).collect()
        )
        explicit = sorted(
            (r.doc_id_new, r.doc_id_corpus)
            for r in minhash_lsh_lookup(
                batch, idx, "doc_id", "text", threshold=0.8,
                hot_buckets=hot, **build,
            ).collect()
        )
        assert with_meta == explicit
        # a conflicting explicit parameter fails loudly
        with pytest.raises(ValueError, match="build-manifest mismatch"):
            minhash_lsh_lookup(
                batch, idx, "doc_id", "text", threshold=0.8,
                hot_buckets=hot, meta=meta, num_hashes=64,
            )
        # manifest survives an append and a full compaction swap
        append_minhash_index(
            minhash_lsh_index(
                d.where("doc_id >= 100 AND doc_id < 150"),
                "doc_id", "text", **build,
            ),
            table,
        )
        compact_minhash_index(spark, table, hot_path=str(tmp_path / "hot"))
        _, _, meta2 = load_minhash_index(spark, table, str(tmp_path / "hot"))
        assert meta2 == build
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


def test_pre_manifest_artifacts_load_with_empty_meta(spark, tmp_path):
    """Artifacts saved before the manifest pattern (or by hand) still
    load: meta={} and validation is vacuous."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import load_ivf_index

    local_df(
        spark, [(1, [0.1], 0)],
        "vec_id bigint, embedding array<double>, ivf_list int",
    ).write.partitionBy("ivf_list").parquet(str(tmp_path / "postings"))
    local_df(
        spark, [(0, [0.1])], "list_id int, centroid array<double>"
    ).write.parquet(str(tmp_path / "centroids"))
    postings, cents, meta = load_ivf_index(spark, str(tmp_path))
    assert meta == {} and postings.count() == 1 and len(cents) == 1


# ---------------------------------------------------------------------------
# q218: streaming admission over the durable IVF-PQ tier
# ---------------------------------------------------------------------------


def test_maybe_compact_ivf_postings_threshold(spark, tmp_path):
    """The trigger fires only past the per-list file-count cap, and the
    compaction it runs drops the count back to ~1 per list."""
    import os

    from pyveb_spark.operators.similarity import ivf_index
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        maybe_compact_ivf_postings,
        save_ivf_index,
    )

    e = read_table(spark, SF, "embeddings")
    indexed, cents = ivf_index(e, n_lists=4)
    root = str(tmp_path / "ivf")
    save_ivf_index(indexed.coalesce(1), cents, root)

    def files_per_list():
        counts = {}
        postings = os.path.join(root, "postings")
        for d in os.listdir(postings):
            if not d.startswith("ivf_list="):
                continue
            counts[d] = len(
                [f for f in os.listdir(os.path.join(postings, d))
                 if f.endswith(".parquet")]
            )
        return counts

    assert maybe_compact_ivf_postings(spark, root, max_files_per_list=8) \
        is False  # one file per list: under the cap, no rewrite
    for _ in range(3):
        append_ivf_postings(indexed.coalesce(1), root)
    assert max(files_per_list().values()) >= 4
    assert maybe_compact_ivf_postings(spark, root, max_files_per_list=3) \
        is True
    assert max(files_per_list().values()) == 1


def test_q218_stream_equals_batch(spark):
    """The q218 correctness claim, pinned directly: the streamed
    lifecycle (frozen-quantizer encode, idempotent append, threshold
    compaction) serves EXACTLY what a single-pass batch composition
    serves — encode everything against corpus-trained quantizers and
    search. Micro-batch boundaries, append order, and compaction must
    all be invisible."""
    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivfpq_search,
        nearest_centroid,
        pq_encode,
        pq_train,
    )
    from pyveb_spark.queries._helpers import _query_vec, lazy_frame
    from pyveb_spark.queries.streaming import q218_stream_ivfpq_admission

    with lazy_frame(spark, q218_stream_ivfpq_admission, SF) as frame:
        # the serve must prune the RELOADED grown postings at the scan
        # (q215's PartitionFilters property, inherited through the stream)
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert any(
            "PartitionFilters" in ln and "ivf_list" in ln
            for ln in plan.splitlines()
        ), plan
        streamed = [(r.vec_id, r.label, r.l2_dist) for r in frame.collect()]

    e = read_table(spark, SF, "embeddings")
    corpus = e.where(F.col("vec_id") % 17 != 0)
    arriving = e.where(F.col("vec_id") % 17 == 0)
    qv = _query_vec(e)
    cb = pq_train(corpus, m=4, k=16, iters=2)
    indexed0, cents = ivf_index(corpus, n_lists=16)
    all_assigned = indexed0.select(
        "vec_id", "embedding", "ivf_list"
    ).unionByName(
        arriving.withColumn(
            "ivf_list", nearest_centroid(F.col("embedding"), cents)["list_id"]
        ).select("vec_id", "embedding", "ivf_list")
    )
    short = ivfpq_search(
        pq_encode(all_assigned, cb), cents, cb, qv,
        nprobe=3, shortlist=40, exclude_ids=[0],
    )
    qarr = F.array(*[F.lit(float(x)) for x in qv])
    exact = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            qarr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    batch = [
        (r.vec_id, r.label, r.l2_dist)
        for r in short.join(
            F.broadcast(e.select("vec_id", "label", "embedding")), "vec_id"
        )
        .withColumn("l2_dist", exact)
        .select("vec_id", "label", F.round("l2_dist", 4).alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(8)
        .collect()
    ]
    assert streamed == batch


@pytest.mark.parametrize("external", [False, True])
def test_append_after_compaction_swap(spark, tmp_path, external):
    """The rename-based swap must hand back a table appends still work
    against (bucket spec + pyveb.index.* manifest + external location
    all preserved through the stage RENAME), with the zero-Exchange
    join property intact."""
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
    table = f"t_aac_{uuid.uuid4().hex[:8]}"
    try:
        save_minhash_index(
            minhash_lsh_index(d.where("doc_id >= 200"), "doc_id", "text"),
            table,
            str(tmp_path / "hot"),
            path=(str(tmp_path / "postings") if external else None),
            meta={"n": 2, "num_hashes": 32, "bands": 8},
        )
        compact_minhash_index(spark, table, hot_path=str(tmp_path / "hot"))
        append_minhash_index(
            minhash_lsh_index(
                d.where("doc_id >= 100 AND doc_id < 200"),
                "doc_id", "text",
            ),
            table,
            hot_path=str(tmp_path / "hot"),
        )
        idx, hot, meta = load_minhash_index(
            spark, table, str(tmp_path / "hot")
        )
        assert meta == {"n": 2, "num_hashes": 32, "bands": 8}
        assert minhash_lsh_lookup(
            d.where("doc_id < 50"), idx, "doc_id", "text",
            threshold=0.8, hot_buckets=hot, meta=meta,
        ).count() > 0
        plan = (
            idx.groupBy("__band", "__h").count()
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        if external:
            import os

            assert any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(str(tmp_path / "postings"))
                for f in fs
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


# ---------------------------------------------------------------------------
# Durable SimHash index tier (q219)
# ---------------------------------------------------------------------------


def test_simhash_lookup_matches_pairs_kernel(spark):
    """The lookup must have the identical fingerprint pipeline and
    pigeonhole recall as simhash_pairs: restricting the all-pairs
    result to (batch x corpus) pairs equals the index lookup."""
    from pyveb_spark.operators.dedup import (
        simhash_index,
        simhash_lookup,
        simhash_pairs,
    )

    d = read_table(spark, SF, "documents")
    corpus = d.where(F.col("doc_id") >= 100)
    batch = d.where(F.col("doc_id") < 100)
    via_index = sorted(
        (r.doc_id_new, r.doc_id_corpus, r.hamming)
        for r in simhash_lookup(
            batch, simhash_index(corpus, "doc_id", "text"),
            "doc_id", "text", max_hamming=3,
        ).collect()
    )
    allp = simhash_pairs(d, "doc_id", "text", max_hamming=3).collect()
    want = sorted(
        (min(r.doc_id_a, r.doc_id_b), max(r.doc_id_a, r.doc_id_b),
         r.hamming)
        for r in allp
        if (r.doc_id_a < 100) != (r.doc_id_b < 100)
    )
    assert via_index == want


def test_simhash_persisted_lifecycle(spark, tmp_path):
    """Persisted lookup == fresh lookup; the manifest round-trips and a
    conflicting explicit band count raises; append + the shared
    compaction keep the lookup identical with zero-Exchange intact."""
    from pyveb_spark.operators.dedup import simhash_index, simhash_lookup
    from pyveb_spark.sinks.index_store import (
        append_bucketed_index,
        compact_bucketed_index,
        load_bucketed_index,
        save_bucketed_index,
    )

    d = read_table(spark, SF, "documents")
    corpus = d.where(F.col("doc_id") >= 150)
    extra = d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150))
    batch = d.where(F.col("doc_id") < 100)
    table = f"t_sim_{uuid.uuid4().hex[:8]}"
    try:
        fresh_idx = simhash_index(corpus, "doc_id", "text")
        save_bucketed_index(
            fresh_idx, table, ["__band", "__h"],
            path=str(tmp_path / "postings"),
            meta={"bands": 4, "bits": 60},
        )
        idx, meta = load_bucketed_index(spark, table)
        assert meta == {"bands": 4, "bits": 60}

        def rows(frame):
            return sorted(
                (r.doc_id_new, r.doc_id_corpus, r.hamming)
                for r in frame.collect()
            )

        persisted = rows(simhash_lookup(
            batch, idx, "doc_id", "text", meta=meta))
        assert persisted == rows(simhash_lookup(
            batch, fresh_idx, "doc_id", "text"))
        with pytest.raises(ValueError, match="build-manifest mismatch"):
            simhash_lookup(
                batch, idx, "doc_id", "text", meta=meta, bands=6
            )
        # append + shared crash-safe compaction: manifest survives,
        # grown lookup identical before/after the rewrite
        append_bucketed_index(
            simhash_index(extra, "doc_id", "text"), table
        )
        before = rows(simhash_lookup(
            batch, spark.table(table), "doc_id", "text", meta=meta))
        compact_bucketed_index(spark, table)
        idx2, meta2 = load_bucketed_index(spark, table)
        assert meta2 == meta
        assert rows(simhash_lookup(
            batch, idx2, "doc_id", "text", meta=meta2)) == before
        plan = (
            idx2.groupBy("__band", "__h").count()
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")
