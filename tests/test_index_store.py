"""Durable index persistence (sinks/index_store.py): save → load round
trips must be semantically invisible (identical search/lookup results)
while buying the physical property each layout exists for — partition
pruning for IVF probes, zero index-side shuffle for MinHash lookups."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from pyveb_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def test_ivf_round_trip_identical_search_and_partition_pruning(
    spark, tmp_path
):
    from pyveb_spark.operators.similarity import ivf_index, ivf_search
    from pyveb_spark.queries._helpers import _query_vec
    from pyveb_spark.sinks.index_store import (
        load_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, SF, "embeddings")
    qv = _query_vec(e)
    indexed, centroids = ivf_index(e, n_lists=8)
    save_ivf_index(indexed, centroids, str(tmp_path / "ivf"))
    postings, cents, _ = load_ivf_index(spark, str(tmp_path / "ivf"))

    assert cents == centroids  # centroid table survives bit-for-bit
    assert postings.count() == indexed.count()

    fresh = ivf_search(indexed, centroids, qv, k=5, nprobe=2).collect()
    warm = ivf_search(postings, cents, qv, k=5, nprobe=2).collect()
    assert [(r.vec_id, r.cosine_sim) for r in warm] == [
        (r.vec_id, r.cosine_sim) for r in fresh
    ]

    # the probe over the RELOADED index is partition pruning at the scan
    probe_plan = postings.where(
        F.col("ivf_list").isin([0, 1])
    )._jdf.queryExecution().executedPlan().toString()
    pf = next(
        (ln for ln in probe_plan.splitlines() if "PartitionFilters" in ln),
        "",
    )
    assert "ivf_list" in pf, probe_plan


def test_lsh_round_trip_identical_lookup(spark, tmp_path):
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
    idx = lsh_bucket(corpus, dim, 6, seed=42, bucket_col="__b")
    save_lsh_index(idx, str(tmp_path / "lsh"))
    warm, _ = load_lsh_index(spark, str(tmp_path / "lsh"))
    assert warm.schema["__b"].dataType.simpleString() == "bigint"

    fresh = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, corpus, threshold=0.3, n_planes=6, seed=42
        ).collect()
    )
    reloaded = sorted(
        (r.vec_id_new, r.vec_id_corpus, r.cosine_sim)
        for r in lsh_cosine_lookup(
            batch, corpus, threshold=0.3, n_planes=6, seed=42, index=warm
        ).collect()
    )
    assert reloaded == fresh


def test_minhash_round_trip_identical_and_no_index_side_shuffle(
    spark, tmp_path
):
    from pyveb_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_lookup,
    )
    from pyveb_spark.sinks.index_store import (
        load_minhash_index,
        save_minhash_index,
    )

    d = read_table(spark, SF, "documents")
    corpus = d.where(F.col("doc_id") >= 100)
    batch = d.where(F.col("doc_id") < 100)
    table = f"t_idx_{uuid.uuid4().hex[:8]}"
    try:
        save_minhash_index(
            minhash_lsh_index(corpus, "doc_id", "text"),
            table,
            str(tmp_path / "hot"),
            path=str(tmp_path / "postings"),
        )
        idx, hot, _ = load_minhash_index(spark, table, str(tmp_path / "hot"))

        fresh = sorted(
            (r.doc_id_new, r.doc_id_corpus, round(r.jaccard, 9))
            for r in minhash_lsh_lookup(
                batch, minhash_lsh_index(corpus, "doc_id", "text"),
                "doc_id", "text", threshold=0.8,
            ).collect()
        )
        warm = sorted(
            (r.doc_id_new, r.doc_id_corpus, round(r.jaccard, 9))
            for r in minhash_lsh_lookup(
                batch, idx, "doc_id", "text", threshold=0.8,
                hot_buckets=hot,
            ).collect()
        )
        assert warm == fresh

        # zero INDEX-side shuffle: against the bucketed table the
        # candidate join reads matching buckets directly, so the plan
        # carries exactly one fewer band-key exchange than the same
        # lookup against a plain-parquet copy of the index (the
        # remaining exchanges are the probe side and — with broadcast
        # disabled to keep the sort-merge shape — the tiny blacklist)
        plain_path = str(tmp_path / "plain_idx")
        spark.table(table).write.mode("overwrite").parquet(plain_path)
        plain_idx = spark.read.parquet(plain_path)

        def band_exchanges(frame):
            plan = frame._jdf.queryExecution().executedPlan().toString()
            return sum(
                1
                for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln and "__band" in ln
            )

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            n_bucketed = band_exchanges(
                minhash_lsh_lookup(
                    batch, idx, "doc_id", "text", threshold=0.8,
                    hot_buckets=hot,
                )
            )
            n_plain = band_exchanges(
                minhash_lsh_lookup(
                    batch, plain_idx, "doc_id", "text", threshold=0.8,
                    hot_buckets=hot,
                )
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert n_bucketed == n_plain - 1, (n_bucketed, n_plain)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_q206_stream_matches_batch_admission(spark):
    """Streaming-vs-batch equivalence: the q206 micro-batched admission
    table equals the one-shot batch computation (static index + disjoint
    batches => batch boundaries are invisible)."""
    from pyveb_spark.operators.similarity import lsh_cosine_lookup
    from pyveb_spark.queries import QUERIES

    got = {
        r.vec_id: (r.n_matches, r.best_cosine, r.admitted)
        for r in QUERIES["q206_stream_lsh_admission"](spark, SF).collect()
    }

    e = read_table(spark, SF, "embeddings")
    arriving = e.where(F.col("vec_id") % 17 == 0)
    corpus = e.where(F.col("vec_id") % 17 != 0)
    matches = lsh_cosine_lookup(
        arriving, corpus, threshold=0.3, n_planes=6, seed=42
    )
    per = {
        r.vec_id_new: r
        for r in matches.groupBy("vec_id_new")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("cosine_sim").alias("best"),
        )
        .collect()
    }
    want = {}
    for r in arriving.select("vec_id").collect():
        m = per.get(r.vec_id)
        want[r.vec_id] = (
            (m.n, m.best, 0) if m is not None else (0, None, 1)
        )
    assert got == want and got  # non-empty at sf0.001


def test_minhash_append_grows_index_and_keeps_bucketed_join(
    spark, tmp_path
):
    from pyveb_spark.operators.dedup import minhash_lsh_index
    from pyveb_spark.sinks.index_store import (
        append_minhash_index,
        load_minhash_index,
        save_minhash_index,
    )

    d = read_table(spark, SF, "documents")
    table = f"t_evo_{uuid.uuid4().hex[:8]}"
    try:
        save_minhash_index(
            minhash_lsh_index(d.where("doc_id >= 200"), "doc_id", "text"),
            table,
            str(tmp_path / "hot"),
            path=str(tmp_path / "postings"),
        )
        before = spark.table(table).count()
        append_minhash_index(
            minhash_lsh_index(
                d.where("doc_id >= 100 AND doc_id < 200"),
                "doc_id", "text",
            ),
            table,
            hot_path=str(tmp_path / "hot"),
        )
        idx, hot, _ = load_minhash_index(spark, table, str(tmp_path / "hot"))
        assert idx.count() > before
        # the append must not break the bucketed layout: a band-key
        # aggregation over the grown table still needs no Exchange
        plan = (
            idx.groupBy("__band", "__h")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_q209_evolved_index_catches_wave1_duplicates(spark, tmp_path):
    """A wave-2 near-dup of an ADMITTED wave-1 document must be rejected
    with n_vs_admitted >= 1 — only possible if the index actually grew
    between the waves."""
    from pyveb_spark.queries import QUERIES

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from every hunter"
    )
    uniq = (
        "completely different words describing a database engine that "
        "shuffles partitions and aggregates columnar batches with vectors"
    )
    rows = [
        # corpus (>= 200): one unrelated doc
        (200, uniq, "en", "web", len(uniq)),
        # wave 1 (100-199): a NEW doc (admitted — no corpus match)
        (100, base, "en", "web", len(base)),
        # wave 2 (< 100): a near-identical copy of the wave-1 doc
        (1, base + " extra", "en", "web", len(base) + 6),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in QUERIES["q209_minhash_index_evolution"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[1].admitted == 0
    assert out[1].n_vs_admitted >= 1
    assert out[1].best_jaccard >= 0.8


def test_q210_append_search_equals_assign_all_search(spark, tmp_path):
    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        nearest_centroid,
    )
    from pyveb_spark.queries._helpers import _query_vec
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        load_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, SF, "embeddings")
    qv = _query_vec(e)
    corpus0 = e.where(F.col("vec_id") >= 100)
    batch = e.where(F.col("vec_id") < 100)
    indexed0, cents = ivf_index(corpus0, n_lists=8)
    save_ivf_index(indexed0, cents, str(tmp_path / "ivf"))
    postings, loaded, _ = load_ivf_index(spark, str(tmp_path / "ivf"))
    assigned = batch.withColumn(
        "ivf_list", nearest_centroid(F.col("embedding"), loaded)["list_id"]
    )
    append_ivf_postings(assigned, str(tmp_path / "ivf"))
    grown, _, _ = load_ivf_index(spark, str(tmp_path / "ivf"))
    assert grown.count() == e.count()

    # frozen-quantizer equivalence: search over the appended postings ==
    # search over an in-memory assign-all frame with the SAME centroids
    union_assigned = e.withColumn(
        "ivf_list", nearest_centroid(F.col("embedding"), loaded)["list_id"]
    )
    got = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_search(grown, loaded, qv, k=10, nprobe=3,
                            exclude_ids=[0]).collect()
    ]
    want = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_search(union_assigned, loaded, qv, k=10, nprobe=3,
                            exclude_ids=[0]).collect()
    ]
    assert got == want
    assert any(v < 100 for v, _ in got) or all(
        v >= 100 for v, _ in want
    )  # appended vectors are searchable (present when they rank)


def test_ivf_empty_corpus_split_degenerates_to_empty(spark, tmp_path):
    """Found by the 0.15x size twin: a corpus split that is EMPTY (all
    vec_ids below the split point) must yield an empty search/audit, not
    a VOID-typed F.array() crash in nearest_centroid."""
    from pyveb_spark.operators.similarity import nearest_centroid
    from pyveb_spark.queries import QUERIES

    # operator-level: empty centroid list -> argmin identity struct
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    row = df.select(
        nearest_centroid(F.col("embedding"), [])["list_id"].alias("l")
    ).first()
    assert row.l == -1

    # query-level: write a tiny embeddings fixture whose ids never reach
    # the corpus split (>= 100); both queries must return zero rows with
    # their full schemas (matching the oracle's empty assign CTE)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(40)],
        "vec_id bigint, embedding array<double>, label int",
    )
    emb.write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    search = QUERIES["q210_ivf_incremental_admission"](
        spark, str(tmp_path)
    )
    assert search.count() == 0
    assert search.columns == ["vec_id", "label", "cosine_sim"]
    audit = QUERIES["q211_ivf_index_health"](spark, str(tmp_path))
    assert audit.count() == 0
    assert audit.columns == [
        "list_id", "n_original", "n_appended", "n_total",
        "corpus_share", "growth_ratio",
    ]


def test_appends_follow_the_catalog_bucket_spec(spark, tmp_path):
    """Every tier's append reads the bucket count and columns from the
    catalog: tables saved with 4 buckets keep 4 through
    ``append_bucketed_index``, ``append_bm25_index`` and
    ``append_ngram_index`` (an append with any other count raises
    'Specified bucketing does not match'), and a self-join on the
    bucket columns still needs no Exchange."""
    from pyveb_spark.operators.dedup import simhash_index
    from pyveb_spark.operators.retrieval import (
        build_bm25_postings,
        build_ngram_index,
    )
    from pyveb_spark.sinks.index_store import (
        append_bm25_index,
        append_bucketed_index,
        append_ngram_index,
    )
    from pyveb_spark.sinks.writers import write_bucketed_table

    d = read_table(spark, SF, "documents")
    corpus = d.where(F.col("doc_id") >= 100)
    wave = d.where(F.col("doc_id") < 100)
    dl = str(tmp_path / "doclens")
    bm25_postings, doclens = build_bm25_postings(corpus)
    doclens.write.parquet(dl)
    suffix = uuid.uuid4().hex[:8]
    cases = {
        f"t_sim4_{suffix}": (
            simhash_index(corpus, "doc_id", "text"),
            ["__band", "__h"],
            lambda t: append_bucketed_index(
                simhash_index(wave, "doc_id", "text"), t
            ),
        ),
        f"t_bm4_{suffix}": (
            bm25_postings,
            ["token"],
            lambda t: append_bm25_index(wave, t, dl),
        ),
        f"t_ng4_{suffix}": (
            build_ngram_index(corpus, 3),
            ["__h"],
            lambda t: append_ngram_index(wave, t, 3),
        ),
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for table, (postings, cols, append) in cases.items():
            write_bucketed_table(postings, table, cols, num_buckets=4)
            before = spark.table(table).count()
            append(table)
            idx = spark.table(table)
            assert idx.count() > before, table
            described = {
                r.col_name.strip(): (r.data_type or "").strip()
                for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
                if r.col_name
            }
            assert described["Num Buckets"] == "4", table
            plan = (
                idx.alias("a")
                .join(idx.alias("b"), cols)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Exchange" not in plan, (table, plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for table in cases:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_manifest_of_earlier_int_format_loads_the_same(spark, tmp_path):
    """``save_lsh_index`` writes its manifest with the shared typed
    writer (bigint columns); a manifest in the earlier int-column format
    at ``<path>/manifest`` must load to the same dict."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import load_lsh_index, save_lsh_index

    rows = local_df(spark, [(1, 3), (2, 5)], "vec_id bigint, __b bigint")
    meta = {"dim": 16, "n_planes": 6, "seed": 42}
    new, old = str(tmp_path / "new"), str(tmp_path / "old")
    save_lsh_index(rows, new, meta=meta)
    rows.write.partitionBy("__b").parquet(old + "/buckets")
    local_df(
        spark, [(16, 6, 42)], "dim int, n_planes int, seed int"
    ).coalesce(1).write.parquet(old + "/manifest")

    _, new_meta = load_lsh_index(spark, new)
    _, old_meta = load_lsh_index(spark, old)
    assert new_meta == old_meta == meta
    assert all(type(v) is int for v in (*new_meta.values(), *old_meta.values()))
