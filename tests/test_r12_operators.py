"""Round-12 tranche part 1: the ADVICE-r11 hardening items — rename-aside
external compaction swap (the original survives every crash window),
actionable external recovery messages, typed TBLPROPERTIES manifests
(string values that parse numerically round-trip as strings),
single-source lookup defaults, and the maybe-compact existence guard."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from pyveb_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


def _mini_index(spark):
    from pyveb_spark.operators.dedup import minhash_lsh_index

    d = read_table(spark, SF, "documents")
    return minhash_lsh_index(d.where("doc_id >= 200"), "doc_id", "text")


def test_external_compaction_swap_is_rename_aside(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: the external-table swap previously DELETED the
    original directory before renaming the stage in — a crash between
    the delete and the rename destroyed the pre-compaction copy. The
    rename-aside swap must keep BOTH datasets on disk through every
    window: inject a failure at the SET LOCATION step (after the
    directory renames) and assert the compacted data serves from the
    index location while the original survives under the aside dir."""
    import os

    from pyveb_spark.sinks.index_store import compact_minhash_index

    table = f"t_aside_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / "postings")
    try:
        from pyveb_spark.sinks.index_store import save_minhash_index

        save_minhash_index(
            _mini_index(spark), table, str(tmp_path / "hot"), path=loc
        )
        n_before = spark.table(table).count()
        assert n_before > 0

        real_sql = spark.sql

        def sabotaged_sql(q, *a, **kw):
            if "SET LOCATION" in q:
                raise RuntimeError("injected SET LOCATION failure")
            return real_sql(q, *a, **kw)

        monkeypatch.setattr(spark, "sql", sabotaged_sql)
        with pytest.raises(RuntimeError, match="injected"):
            compact_minhash_index(spark, table)
        monkeypatch.setattr(spark, "sql", real_sql)

        # compacted data fully in place at the index location...
        assert spark.read.parquet(loc).count() == n_before
        # ...AND the original survives aside — nothing was destroyed
        old_loc = loc.rstrip("/") + "__compact_old"
        assert os.path.isdir(old_loc)
        assert spark.read.parquet(old_loc).count() == n_before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


def test_external_compaction_completes_and_cleans_aside(spark, tmp_path):
    """The happy path of the rename-aside swap: the aside dir is gone
    after the swap commits, the table serves the same rows from the
    ORIGINAL location (path is part of the external table's identity),
    and the build manifest survived the swap."""
    import os

    from pyveb_spark.sinks.index_store import (
        compact_minhash_index,
        load_minhash_index,
        save_minhash_index,
    )

    table = f"t_asideok_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / "postings")
    try:
        save_minhash_index(
            _mini_index(spark),
            table,
            str(tmp_path / "hot"),
            path=loc,
            meta={"n": 2, "num_hashes": 32, "bands": 8},
        )
        n_before = spark.table(table).count()
        compact_minhash_index(spark, table, hot_path=str(tmp_path / "hot"))
        assert not os.path.isdir(loc.rstrip("/") + "__compact_old")
        _, _, meta = load_minhash_index(spark, table, str(tmp_path / "hot"))
        assert meta == {"n": 2, "num_hashes": 32, "bands": 8}
        assert spark.table(table).count() == n_before
        described = {
            r.col_name.strip(): (r.data_type or "").strip()
            for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
            if r.col_name
        }
        assert described["Location"].endswith(loc.lstrip("/"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


def test_load_errors_name_external_set_location_recovery(spark):
    """ADVICE r11: the load-time crashed-swap messages previously gave
    only the plain-RENAME recovery, which for an external table that
    crashed AFTER the directory swap re-attaches the stage to a
    now-missing path. Both loaders must name the SET LOCATION step."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import (
        load_bucketed_index,
        load_minhash_index,
    )
    from pyveb_spark.sinks.writers import write_bucketed_table

    table = f"t_recmsg_{uuid.uuid4().hex[:8]}"
    stage = f"{table}__compact_stage"
    try:
        write_bucketed_table(
            local_df(
                spark,
                [(0, 7, "a")],
                "__band int, __h bigint, doc_id string",
            ),
            stage,
            ["__band", "__h"],
            num_buckets=4,
        )
        with pytest.raises(RuntimeError, match="SET LOCATION"):
            load_minhash_index(spark, table, "/nonexistent")
        with pytest.raises(RuntimeError, match="SET LOCATION"):
            load_bucketed_index(spark, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {stage}")


def test_table_meta_type_tags_round_trip(spark):
    """ADVICE r11: TBLPROPERTIES manifest values are strings, and the
    blind int/float re-parse on read turned a string value that parses
    numerically ('007', '1e3') into a number — making check_index_meta
    spuriously mismatch the original. Typed tags must round-trip every
    manifest type exactly; untagged legacy values keep the heuristic."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import (
        _get_table_meta,
        _set_table_meta,
        check_index_meta,
    )

    table = f"t_meta_{uuid.uuid4().hex[:8]}"
    try:
        local_df(spark, [(1,)], "x int").write.saveAsTable(table)
        meta = {
            "n": 2,
            "threshold": 0.8,
            "version": "007",
            "note": "1e3",
            "metric": "l2",
        }
        _set_table_meta(spark, table, meta)
        got = _get_table_meta(spark, table)
        assert got == meta
        assert isinstance(got["version"], str)
        assert isinstance(got["note"], str)
        assert isinstance(got["n"], int)
        assert isinstance(got["threshold"], float)
        # the exact failure mode the fix closes: comparing the original
        # string against the round-tripped value must NOT raise
        check_index_meta(got, version="007", note="1e3", n=2)
        # legacy untagged property still re-types heuristically
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            "('pyveb.index.legacy'='42')"
        )
        assert _get_table_meta(spark, table)["legacy"] == 42
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lookup_defaults_are_single_source():
    """ADVICE r11: the lookups' manifest conflict-detection compares
    explicit arguments against the signature defaults — a hardcoded
    copy drifts silently if a default changes. The signatures must BE
    the module constants."""
    import inspect

    from pyveb_spark.operators.dedup import (
        MINHASH_DEFAULTS,
        SIMHASH_DEFAULTS,
        minhash_lsh_lookup,
        simhash_lookup,
    )

    mh = inspect.signature(minhash_lsh_lookup).parameters
    assert {k: mh[k].default for k in MINHASH_DEFAULTS} == MINHASH_DEFAULTS
    sh = inspect.signature(simhash_lookup).parameters
    assert {k: sh[k].default for k in SIMHASH_DEFAULTS} == SIMHASH_DEFAULTS


def test_maybe_compact_missing_postings_raises_actionably(spark, tmp_path):
    """ADVICE r11: a never-seeded index path must produce the module's
    loud ValueError naming the missing postings dir, not a raw Py4J
    FileNotFoundException from fs.listFiles."""
    from pyveb_spark.sinks.index_store import maybe_compact_ivf_postings

    with pytest.raises(ValueError, match="postings"):
        maybe_compact_ivf_postings(spark, str(tmp_path / "no_such_index"))


# ---------------------------------------------------------------------------
# Round-12 tranche part 2: the durable LEXICAL (BM25 + n-gram phrase)
# index tier — round-trip, append stats, shared compaction, manifest
# validation, bucket pruning
# ---------------------------------------------------------------------------


def _docs(spark):
    return read_table(spark, SF, "documents")


QTOKS = ["hash", "merge", "scan", "window"]


def _bm25_rows(df):
    return [
        (r[0], round(r[1], 9), r[2])
        for r in df.collect()
    ]


def test_bm25_persisted_equals_fresh_through_lifecycle(spark, tmp_path):
    """save → append → compact → refresh → reload → search must equal
    the in-session bm25_search over the full corpus — persistence,
    appends, the shared compaction, and the df-from-matched-postings
    derivation are all semantically invisible (the q220 claim, as a
    unit invariant)."""
    from pyveb_spark.operators.retrieval import (
        bm25_search,
        bm25_search_indexed,
        build_inverted_index,
    )
    from pyveb_spark.sinks.index_store import (
        append_bm25_index,
        compact_bucketed_index,
        load_bm25_index,
        refresh_bm25_stats,
        save_bm25_index,
    )

    d = _docs(spark)
    table = f"t_bm25_{uuid.uuid4().hex[:8]}"
    dl = str(tmp_path / "doclens")
    try:
        save_bm25_index(
            d.where("doc_id >= 100"), table, dl,
            path=str(tmp_path / "postings"),
        )
        append_bm25_index(d.where("doc_id < 100"), table, dl)
        # incremental stats must already equal the exact recompute —
        # the refresh is a self-heal, not a correction of normal flow
        from pyveb_spark.sinks.index_store import _get_table_meta

        incremental = _get_table_meta(spark, table)
        fresh_stats = refresh_bm25_stats(spark, table, dl)
        assert incremental["n_docs"] == fresh_stats["n_docs"]
        assert incremental["sum_dl"] == fresh_stats["sum_dl"]

        compact_bucketed_index(spark, table)
        p, dls, meta = load_bm25_index(spark, table, dl)
        got = bm25_search_indexed(
            p, dls, meta["n_docs"], meta["sum_dl"], QTOKS, k=10
        )
        postings, docstats = build_inverted_index(d, "doc_id", "text")
        want = bm25_search(postings, docstats, QTOKS, k=10)
        assert _bm25_rows(got) == _bm25_rows(want)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


def test_bm25_indexed_search_bucket_prunes_and_stays_jvm(spark, tmp_path):
    """The serving promise of the token-bucketed layout: the query
    tokens' IN-filter must prune buckets at the scan
    (SelectedBucketsCount < total), and the whole search plan must be
    Python-free."""
    import re

    from pyveb_spark.operators.retrieval import bm25_search_indexed
    from pyveb_spark.sinks.index_store import (
        load_bm25_index,
        save_bm25_index,
    )

    table = f"t_bm25p_{uuid.uuid4().hex[:8]}"
    dl = str(tmp_path / "doclens")
    try:
        save_bm25_index(_docs(spark), table, dl)
        p, dls, meta = load_bm25_index(spark, table, dl)
        res = bm25_search_indexed(
            p, dls, meta["n_docs"], meta["sum_dl"], ["hash", "merge"], k=5
        )
        phys = res._jdf.queryExecution().executedPlan().toString()
        m = re.search(
            r"SelectedBucketsCount: (\d+) out of (\d+)", phys
        )
        assert m, "no bucket pruning in the indexed BM25 search plan"
        assert int(m.group(1)) < int(m.group(2))
        assert "BatchEvalPython" not in phys
        assert "EvalPython" not in phys
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bm25_compaction_reduces_files_keeps_bucket_spec(spark, tmp_path):
    """compact_bucketed_index on a token-bucketed table (bucket columns
    READ from the catalog, not hardcoded): file count drops after
    multi-wave appends, 'Num Buckets' and bucket columns survive, and
    the manifest travels through the swap."""
    import os

    from pyveb_spark.sinks.index_store import (
        append_bm25_index,
        compact_bucketed_index,
        load_bm25_index,
        save_bm25_index,
    )

    d = _docs(spark)
    table = f"t_bm25c_{uuid.uuid4().hex[:8]}"
    dl = str(tmp_path / "doclens")
    loc = str(tmp_path / "postings")
    try:
        save_bm25_index(d.where("doc_id >= 300"), table, dl, path=loc)
        for lo, hi in ((200, 300), (100, 200), (0, 100)):
            append_bm25_index(
                d.where(f"doc_id >= {lo} AND doc_id < {hi}"), table, dl
            )

        def nfiles():
            return sum(
                1
                for f in os.listdir(loc)
                if f.endswith(".parquet")
            )

        before = nfiles()
        compact_bucketed_index(spark, table)
        after = nfiles()
        assert after < before
        meta_rows = {
            r.col_name.strip(): (r.data_type or "").strip()
            for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
            if r.col_name
        }
        assert int(meta_rows["Num Buckets"]) == 8
        assert "token" in meta_rows["Bucket Columns"]
        _, _, manifest = load_bm25_index(spark, table, dl)
        assert manifest["n_docs"] == d.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


def test_phrase_index_lifecycle_and_width_mismatch(spark, tmp_path):
    """n-gram tier: persisted+appended+compacted index serves the same
    phrase hits as the fresh in-session index; a probe whose token
    count differs from the manifest's window width raises loudly
    (silent-empty is the failure mode the manifest closes)."""
    from pyveb_spark.operators.retrieval import phrase_search
    from pyveb_spark.sinks.index_store import (
        append_ngram_index,
        compact_bucketed_index,
        load_bucketed_index,
        save_ngram_index,
    )

    d = _docs(spark)
    row = d.where(F.col("doc_id") == 0).select("text").first()
    phrase = " ".join(row["text"].split(" ")[:3])
    table = f"t_ng_{uuid.uuid4().hex[:8]}"
    try:
        save_ngram_index(
            d.where("doc_id >= 100"), table, 3,
            path=str(tmp_path / "ngrams"),
        )
        append_ngram_index(d.where("doc_id < 100"), table, 3)
        compact_bucketed_index(spark, table)
        idx, meta = load_bucketed_index(spark, table)
        assert meta["n"] == 3
        got = sorted(
            tuple(r)
            for r in phrase_search(
                None, phrase, index=idx, meta=meta
            ).collect()
        )
        want = sorted(
            tuple(r) for r in phrase_search(d, phrase).collect()
        )
        assert got == want and len(got) > 0
        with pytest.raises(ValueError, match="built with"):
            phrase_search(None, "two tokens", index=idx, meta=meta)
        with pytest.raises(ValueError, match="corpus df"):
            phrase_search(None, phrase)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compact_stage")


def test_bm25_loader_detects_crashed_swap(spark, tmp_path):
    """The shared crashed-swap state is detected by the lexical loaders
    too (they joined the same convention)."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import (
        load_bm25_index,
        load_bucketed_index,
    )
    from pyveb_spark.sinks.writers import write_bucketed_table

    table = f"t_bmcrash_{uuid.uuid4().hex[:8]}"
    stage = f"{table}__compact_stage"
    try:
        write_bucketed_table(
            local_df(
                spark,
                [("hash", 1, 2)],
                "token string, doc_id int, tf bigint",
            ),
            stage,
            ["token"],
            num_buckets=4,
        )
        with pytest.raises(RuntimeError, match="SET LOCATION"):
            load_bm25_index(spark, table, str(tmp_path / "dl"))
        with pytest.raises(RuntimeError, match="SET LOCATION"):
            load_bucketed_index(spark, table)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {stage}")


# ---------------------------------------------------------------------------
# Round-12 tranche part 3: Bloom-gated streaming admission (the q218
# per-batch corpus-id-scan fix) — equivalence, laziness, crash ordering
# ---------------------------------------------------------------------------


def test_bloom_gated_anti_join_equals_exact(spark, tmp_path):
    """The prefilter must be semantically invisible: for batches with
    and without overlap, bloom_gated_anti_join == plain left_anti. The
    exact-ids side must be constructed ONLY when the filter reports
    possible hits (the whole point — a fresh batch never touches
    corpus-scale state)."""
    from pyveb_spark.operators.sketches import bloom_gated_anti_join
    from pyveb_spark.sinks.index_store import load_id_bloom, save_id_bloom

    e = read_table(spark, SF, "embeddings")
    corpus = e.where("vec_id % 17 != 0").select("vec_id")
    path = str(tmp_path / "bloom")
    save_id_bloom(corpus, path)
    bloom, meta, _ = load_id_bloom(spark, path)
    calls = []

    def exact_ids():
        calls.append(1)
        return corpus

    # overlap batch: half seen, half new
    batch = e.where("vec_id % 2 = 0").select("vec_id", "label")
    got = sorted(
        r.vec_id
        for r in bloom_gated_anti_join(
            batch, bloom, exact_ids, "vec_id",
            int(meta["num_bits"]), int(meta["num_hashes"]),
        ).collect()
    )
    want = sorted(
        r.vec_id
        for r in batch.join(corpus, "vec_id", "left_anti").collect()
    )
    assert got == want and len(calls) == 1

    # fresh batch (ids far outside the corpus): the exact side must
    # never be constructed...
    from pyveb_spark.session import local_df

    fresh_only = local_df(
        spark,
        [(10_000_019,), (10_000_037,)],
        "vec_id bigint",
    )
    calls.clear()
    got2 = sorted(
        r.vec_id
        for r in bloom_gated_anti_join(
            fresh_only, bloom, exact_ids, "vec_id",
            int(meta["num_bits"]), int(meta["num_hashes"]),
        ).collect()
    )
    # ...unless one of them happens to be a Bloom false positive, in
    # which case constructing it is exactly the designed behavior
    assert got2 == [10_000_019, 10_000_037]
    assert len(calls) in (0, 1)


def test_id_bloom_update_then_replay_is_noop(spark, tmp_path):
    """The streaming restart contract through the filter: after a batch
    is admitted (filter updated + ids appended), replaying the same
    batch admits nothing — and the incremental filter equals a
    from-scratch rebuild (bit_or merge is exact union)."""
    from pyveb_spark.operators.sketches import bloom_gated_anti_join
    from pyveb_spark.sinks.index_store import (
        load_id_bloom,
        save_id_bloom,
        update_id_bloom,
    )

    e = read_table(spark, SF, "embeddings")
    corpus = e.where("vec_id < 200").select("vec_id")
    batch = e.where(
        "vec_id >= 200 AND vec_id < 260"
    ).select("vec_id")
    path = str(tmp_path / "bloom")
    _, meta0, words0 = save_id_bloom(corpus, path, num_bits=8192)
    update_id_bloom(batch, path, words0, meta0)
    grown = corpus.unionByName(batch)
    bloom, meta, _ = load_id_bloom(spark, path)
    replayed = bloom_gated_anti_join(
        batch.withColumn("label", F.lit("x")), bloom, grown, "vec_id",
        int(meta["num_bits"]), int(meta["num_hashes"]),
    )
    assert replayed.count() == 0
    # incremental == rebuild, word for word
    save_id_bloom(grown, str(tmp_path / "rebuilt"), num_bits=8192)
    a = sorted(tuple(r) for r in bloom.collect())
    b = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(tmp_path / "rebuilt" / "words")
        ).collect()
    )
    assert a == b


def test_id_bloom_over_approximation_is_safe(spark, tmp_path):
    """The crash-window ordering contract: keys ORed into the filter
    whose append never landed (filter-before-postings, then crash) must
    still be admitted on replay — they bloom-hit, fall to the exact
    check, and come through. Nothing is ever lost to the filter."""
    from pyveb_spark.operators.sketches import bloom_gated_anti_join
    from pyveb_spark.sinks.index_store import (
        load_id_bloom,
        save_id_bloom,
        update_id_bloom,
    )

    e = read_table(spark, SF, "embeddings")
    corpus = e.where("vec_id < 100").select("vec_id")
    lost_batch = e.where(
        "vec_id >= 100 AND vec_id < 130"
    ).select("vec_id")
    path = str(tmp_path / "bloom")
    _, meta0, words0 = save_id_bloom(corpus, path, num_bits=8192)
    # simulate the crash: filter updated, postings never appended
    update_id_bloom(lost_batch, path, words0, meta0)
    bloom, meta, _ = load_id_bloom(spark, path)
    readmitted = bloom_gated_anti_join(
        lost_batch, bloom, corpus, "vec_id",
        int(meta["num_bits"]), int(meta["num_hashes"]),
    )
    assert readmitted.count() == lost_batch.count()


def test_id_bloom_threaded_state_equals_parquet(spark, tmp_path):
    """The r12 per-batch state threading: update_id_bloom returns the
    merged (word_idx, word) list, and passing it back as ``words`` on
    the next call (with the load-time manifest as ``meta``) produces
    the same filter — word for word — as a loop restarted before every
    batch, which reloads its state with load_id_bloom. The returned
    state always equals what the parquet holds, so a restarted loop
    reloading from disk sees identical state."""
    from pyveb_spark.sinks.index_store import (
        bloom_words_frame,
        load_id_bloom,
        save_id_bloom,
        update_id_bloom,
    )

    e = read_table(spark, SF, "embeddings")
    corpus = e.where("vec_id < 150").select("vec_id")
    b1 = e.where("vec_id >= 150 AND vec_id < 180").select("vec_id")
    b2 = e.where("vec_id >= 180 AND vec_id < 210").select("vec_id")

    fast = str(tmp_path / "fast")
    slow = str(tmp_path / "slow")
    save_id_bloom(corpus, fast, num_bits=8192)
    save_id_bloom(corpus, slow, num_bits=8192)

    _, meta, words = load_id_bloom(spark, fast)
    words = update_id_bloom(b1, fast, words=words, meta=meta)
    words = update_id_bloom(b2, fast, words=words, meta=meta)
    for b in (b1, b2):
        _, slow_meta, slow_words = load_id_bloom(spark, slow)
        update_id_bloom(b, slow, words=slow_words, meta=slow_meta)

    on_disk = sorted(
        (int(r["word_idx"]), int(r["word"]))
        for r in spark.read.parquet(os.path.join(fast, "words")).collect()
    )
    slow_disk = sorted(
        (int(r["word_idx"]), int(r["word"]))
        for r in spark.read.parquet(os.path.join(slow, "words")).collect()
    )
    assert words == on_disk  # returned state IS the parquet
    assert on_disk == slow_disk  # threaded == re-read-per-batch
    # and the probe frame built from driver state matches a fresh load
    frame_rows = sorted(
        tuple(r) for r in bloom_words_frame(spark, words).collect()
    )
    load_rows = sorted(
        tuple(r) for r in load_id_bloom(spark, fast)[0].collect()
    )
    assert frame_rows == load_rows


def test_save_id_bloom_state_equals_load(spark, tmp_path):
    """save_id_bloom must return exactly the triple a fresh
    load_id_bloom would — same manifest geometry, same words, same
    probe-frame rows — and the parquet it writes must equal a second
    save's, word for word."""
    from pyveb_spark.sinks.index_store import load_id_bloom, save_id_bloom

    ids = read_table(spark, SF, "embeddings").where(
        "vec_id < 150"
    ).select("vec_id")
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    frame, meta, words = save_id_bloom(ids, a)
    save_id_bloom(ids, b)

    lframe, lmeta, lwords = load_id_bloom(spark, a)
    assert {k: int(v) for k, v in lmeta.items() if k != "key_col"} == {
        k: int(v) for k, v in meta.items() if k != "key_col"
    }
    assert words == lwords
    assert sorted(tuple(r) for r in frame.collect()) == sorted(
        tuple(r) for r in lframe.collect()
    )
    plain = sorted(
        (int(r["word_idx"]), int(r["word"]))
        for r in spark.read.parquet(os.path.join(b, "words")).collect()
    )
    assert words == plain


def test_update_id_bloom_without_manifest_raises(spark, tmp_path):
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import update_id_bloom

    with pytest.raises(ValueError, match="save_id_bloom"):
        update_id_bloom(
            local_df(spark, [(1,)], "vec_id bigint"),
            str(tmp_path / "nope"),
            words=[],
            meta={},
        )


# ---------------------------------------------------------------------------
# Round-12 tranche part 4: rebuild_ivf_index — the act-on-drift
# lifecycle step (balance restoration, crash-safe version swap,
# sidecar survival, source-coverage guard)
# ---------------------------------------------------------------------------


def _hotspot_index(spark, tmp_path):
    """Seed an IVF index on the real embeddings, then admit a HOT-SPOT
    wave: 120 new ids whose vectors all sit in one tiny region (a dense
    arrival cluster the frozen quantizer funnels into one list) — the
    drift scenario q211's audit flags."""
    import numpy as np

    from pyveb_spark.operators.similarity import (
        ivf_index,
        nearest_centroid,
    )
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        load_ivf_index,
        save_ivf_index,
    )

    e = read_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf")
    indexed0, cents0 = ivf_index(e, n_lists=16)
    save_ivf_index(indexed0, cents0, path)
    _, frozen, _ = load_ivf_index(spark, path)
    base = np.asarray(
        e.where(F.col("vec_id") == 1).first()["embedding"], dtype=float
    )
    rows = []
    for i in range(120):
        v = base.copy()
        v[0] += (i % 7) * 1e-3  # deterministic micro-jitter
        rows.append((100_000 + i, int(i % 3), [float(x) for x in v]))
    wave = local_df(
        spark, rows, "vec_id bigint, label int, embedding array<float>"
    )
    append_ivf_postings(
        wave.withColumn(
            "ivf_list",
            nearest_centroid(F.col("embedding"), frozen)["list_id"],
        ),
        path,
    )
    full = e.select("vec_id", "embedding").unionByName(
        wave.select("vec_id", "embedding")
    )
    return path, full


def test_rebuild_ivf_restores_balance_and_serves(spark, tmp_path):
    """Hot-spot drift piles the wave into one list; the k-means rebuild
    over the grown population must reduce the max/mean imbalance AND
    the rebuilt artifact must keep the exact id set with non-list
    columns untouched."""
    from pyveb_spark.sinks.index_store import (
        load_ivf_index,
        rebuild_ivf_index,
    )

    path, full = _hotspot_index(spark, tmp_path)
    report = rebuild_ivf_index(spark, path, full, kmeans_iters=3)
    assert report["n_rows"] == full.count()
    assert report["after_imbalance"] < report["before_imbalance"], report
    postings, cents, meta = load_ivf_index(spark, path)
    assert meta["n_lists"] == 16 and len(cents) == 16
    # id set preserved exactly; labels (non-list columns) intact
    assert postings.select("vec_id").distinct().count() == report["n_rows"]
    assert (
        postings.where("vec_id >= 100000")
        .select("label")
        .distinct()
        .count()
        == 3
    )


def test_rebuild_ivf_crashed_swap_detected_and_recoverable(
    spark, tmp_path, monkeypatch
):
    """Kill the rebuild between the two directory renames (index moved
    aside, stage not yet installed): both datasets must survive,
    load_ivf_index must refuse with the recovery naming the stage, and
    the documented rename must restore service."""
    from pyveb_spark.sinks import writers
    from pyveb_spark.sinks.index_store import (
        load_ivf_index,
        rebuild_ivf_index,
    )

    path, full = _hotspot_index(spark, tmp_path)
    spark_jvm = spark._jvm
    HPath = spark_jvm.org.apache.hadoop.fs.Path
    fs = HPath(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def crashing_swap(*a, **kw):
        # the stage artifact is fully written when the commit starts:
        # simulate the crash window by aborting before any rename
        raise RuntimeError("injected post-stage crash")

    monkeypatch.setattr(writers, "swap_dir", crashing_swap)
    with pytest.raises(RuntimeError, match="injected"):
        rebuild_ivf_index(spark, path, full, kmeans_iters=1)
    monkeypatch.undo()
    # manufacture the exact mid-swap state: original renamed aside
    aside = path.rstrip("/") + "__save_old"
    stage = path.rstrip("/") + "__save_stage"
    assert os.path.isdir(stage)  # complete new artifact survived
    fs.rename(HPath(path), HPath(aside))
    with pytest.raises(RuntimeError, match="__save_stage"):
        load_ivf_index(spark, path)
    # the documented recovery: install the complete new artifact
    fs.rename(HPath(stage), HPath(path))
    postings, cents, _ = load_ivf_index(spark, path)
    assert postings.count() == full.count() and len(cents) == 16


def test_rebuild_ivf_copies_sidecars_and_guards_coverage(
    spark, tmp_path
):
    """(1) Sidecar artifacts in the index dir (the q218 admission
    Bloom) must survive the version swap; (2) a source that does not
    cover the postings ids must abort BEFORE the swap with the original
    artifact untouched."""
    import os

    from pyveb_spark.sinks.index_store import (
        load_id_bloom,
        load_ivf_index,
        rebuild_ivf_index,
        save_id_bloom,
    )

    path, full = _hotspot_index(spark, tmp_path)
    bloom_path = os.path.join(path, "idbloom")
    save_id_bloom(full, bloom_path, key_col="vec_id", num_bits=8192)
    before_words = sorted(
        tuple(r) for r in load_id_bloom(spark, bloom_path)[0].collect()
    )
    n_before = load_ivf_index(spark, path)[0].count()

    # under-covering source: missing the hot-spot ids
    with pytest.raises(ValueError, match="cover"):
        rebuild_ivf_index(
            spark, path, full.where("vec_id < 100000"), kmeans_iters=0
        )
    assert load_ivf_index(spark, path)[0].count() == n_before

    rebuild_ivf_index(spark, path, full, kmeans_iters=0)
    bloom2, meta2, _ = load_id_bloom(spark, bloom_path)
    assert sorted(tuple(r) for r in bloom2.collect()) == before_words
    assert int(meta2["num_bits"]) == 8192
