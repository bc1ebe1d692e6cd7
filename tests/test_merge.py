"""Merge-sink tests: append/overwrite/upsert semantics + idempotence
(FIXTURES.md fixture 6; rs_client.py:103-125,242-337 parity)."""

from __future__ import annotations

import os
import tempfile

import pytest

from pyveb_spark.sinks.merge import ParquetMergeSink, merge_frames, upsert_frames


@pytest.fixture()
def frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (2, "b", 3.0), (3, "c", 4.0)],
        "k1 int, k2 string, v double",
    )
    stage = spark.createDataFrame(
        [(2, "a", 20.0), (4, "d", 40.0)], "k1 int, k2 string, v double"
    )
    return target, stage


def test_upsert_composite_key(spark, frames):
    target, stage = frames
    out = upsert_frames(target, stage, keys=["k1", "k2"])
    rows = {(r.k1, r.k2): r.v for r in out.collect()}
    # (2,'a') replaced; (2,'b') survives (composite key semantics,
    # rs_client.py:115-117); (4,'d') inserted
    assert rows == {
        (1, "a"): 1.0, (2, "a"): 20.0, (2, "b"): 3.0, (3, "c"): 4.0, (4, "d"): 40.0,
    }


def test_upsert_single_key_removes_all_matches(spark, frames):
    target, stage = frames
    rows = {(r.k1, r.k2) for r in upsert_frames(target, stage, keys=["k1"]).collect()}
    # single-key upsert: BOTH (2,a) and (2,b) deleted, stage's (2,a) in
    assert rows == {(1, "a"), (2, "a"), (3, "c"), (4, "d")}


def test_merge_dispatcher_modes(spark, frames):
    target, stage = frames
    assert merge_frames(target, stage, "append").count() == 6
    assert merge_frames(target, stage, "overwrite").count() == 2
    assert merge_frames(target, stage, "upsert", keys=["k1", "k2"]).count() == 5
    with pytest.raises(ValueError):
        merge_frames(target, stage, "upsert")
    with pytest.raises(ValueError):
        merge_frames(target, stage, "nope")


def test_sink_upsert_idempotent(spark, frames):
    target, stage = frames
    with tempfile.TemporaryDirectory() as tmp:
        sink = ParquetMergeSink(spark, os.path.join(tmp, "tbl"))
        sink.overwrite(target)
        sink.upsert(stage, keys=["k1", "k2"])
        once = sorted((r.k1, r.k2, r.v) for r in sink.read().collect())
        sink.upsert(stage, keys=["k1", "k2"])  # idempotence (SURVEY §5.3)
        twice = sorted((r.k1, r.k2, r.v) for r in sink.read().collect())
        assert once == twice and len(once) == 5


def test_sink_upsert_creates_table(spark, frames):
    target, _ = frames
    with tempfile.TemporaryDirectory() as tmp:
        sink = ParquetMergeSink(spark, os.path.join(tmp, "new_tbl"))
        assert not sink.exists()
        sink.upsert(target, keys=["k1"])
        assert sink.exists() and sink.read().count() == 4


@pytest.mark.parametrize("session_mode", ["dynamic", "static"])
def test_partitioned_upsert_touches_only_stage_partitions(spark, session_mode):
    # "static" is a plain SparkSession's default: the sink must not rely on
    # get_spark's session-wide dynamic partition overwrite.
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(conf_key)
    spark.conf.set(conf_key, session_mode)
    try:
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "ptbl")
            sink = ParquetMergeSink(spark, path)
            base = spark.createDataFrame(
                [(1, "2024-01-01", 1.0), (2, "2024-01-01", 2.0), (3, "2024-01-02", 3.0)],
                "k int, day string, v double",
            )
            sink.upsert_partitioned(base, keys=["k"], partition_cols=["day"])
            stage = spark.createDataFrame(
                [(1, "2024-01-01", 10.0), (4, "2024-01-01", 40.0)],
                "k int, day string, v double",
            )
            sink.upsert_partitioned(stage, keys=["k"], partition_cols=["day"])
            rows = {r.k: (r.day, r.v) for r in sink.read().collect()}
            assert rows == {
                1: ("2024-01-01", 10.0),
                2: ("2024-01-01", 2.0),
                3: ("2024-01-02", 3.0),  # untouched partition intact
                4: ("2024-01-01", 40.0),
            }
    finally:
        spark.conf.set(conf_key, saved)


def test_upsert_if_changed_skips_noop_updates(spark):
    from pyveb_spark.sinks.merge import upsert_if_changed

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30)], "k int, v string, w int"
    )
    stage = spark.createDataFrame(
        [(1, "a", 10),      # identical -> target version survives untouched
         (2, "B", 20),      # changed v -> replaced
         (3, None, 30),     # identical incl. NULL (null-safe) -> untouched
         (4, "d", 40)],     # new key -> inserted
        "k int, v string, w int",
    )
    out = {r["k"]: (r["v"], r["w"]) for r in upsert_if_changed(target, stage, ["k"]).collect()}
    assert out == {1: ("a", 10), 2: ("B", 20), 3: (None, 30), 4: ("d", 40)}
    # compare_cols narrows the change predicate: w-only change is a no-op
    stage2 = spark.createDataFrame([(1, "a", 99)], "k int, v string, w int")
    out2 = {r["k"]: (r["v"], r["w"]) for r in upsert_if_changed(target, stage2, ["k"], compare_cols=["v"]).collect()}
    assert out2[1] == ("a", 10)


def test_apply_changelog_latest_wins_and_deletes(spark):
    from pyveb_spark.sinks.merge import apply_changelog

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    # key 1: U then D (seq 2 latest) -> deleted despite the earlier update
    # key 2: D then U (seq 2 latest) -> update wins, row replaced
    # key 4: I -> inserted; key 3 untouched -> survives
    log = spark.createDataFrame(
        [(1, "a2", "U", 1), (1, None, "D", 2),
         (2, None, "D", 1), (2, "b2", "U", 2),
         (4, "d", "I", 1)],
        "k int, v string, op string, seq int",
    )
    out = {r.k: r.v for r in
           apply_changelog(target, log, ["k"], ["seq"]).collect()}
    assert out == {2: "b2", 3: "c", 4: "d"}
    # idempotent: re-applying the same changelog changes nothing
    once = apply_changelog(target, log, ["k"], ["seq"])
    twice = apply_changelog(once, log, ["k"], ["seq"])
    assert sorted(once.collect()) == sorted(twice.collect())


def test_history_from_events_and_snapshot_asof(spark):
    from pyspark.sql import functions as F
    from pyveb_spark.sinks.merge import history_from_events, snapshot_asof

    ev = spark.createDataFrame(
        [(1, "v1", "2020-01-01"), (1, "v2", "2020-03-01"),
         (2, "w1", "2020-02-01"),
         # equal-timestamp pair: tiebreak makes n=3 a zero-width version
         (3, "x1", "2020-01-01"), (3, "x2", "2020-01-01")],
        "k int, v string, d string",
    ).select("k", "v", F.col("d").cast("timestamp").alias("ts"))
    hist = history_from_events(ev, ["k"], "ts", tiebreak_cols=["v"])
    assert hist.count() == 5
    assert hist.where("is_current").count() == 3  # one open version per key

    snap = {r.k: r.v for r in snapshot_asof(hist, "2020-02-15").collect()}
    assert snap == {1: "v1", 2: "w1", 3: "x2"}  # x1 zero-width: excluded
    later = {r.k: r.v for r in snapshot_asof(hist, "2020-03-01").collect()}
    assert later[1] == "v2"  # boundary: valid_from <= ts is inclusive
    before = snapshot_asof(hist, "2019-12-31")
    assert before.count() == 0


def test_snapshot_diff_roundtrip_law(spark):
    """apply_changelog(old, snapshot_diff(old, new)) == new — diff and
    apply are exact inverses, so recovered CDC is lossless."""
    from pyspark.sql import functions as F
    from pyveb_spark.sinks.merge import apply_changelog, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k int, v string, w double",
    )
    new = spark.createDataFrame(
        [(2, "B", 20.0),          # changed v -> U
         (3, "c", None),          # identical incl. NULL -> no row
         (4, "d", 40.0)],         # new key -> I; key 1 gone -> D
        "k int, v string, w double",
    )
    diff = snapshot_diff(old, new, ["k"])
    ops = {r.k: r.op for r in diff.collect()}
    assert ops == {1: "D", 2: "U", 4: "I"}
    d2 = {r.k: (r.v, r.w) for r in diff.collect()}
    assert d2[1] == ("a", 10.0)   # D carries the OLD payload
    assert d2[2] == ("B", 20.0)   # U carries the NEW payload

    applied = apply_changelog(
        old, diff.withColumn("seq", F.lit(1)), ["k"], ["seq"]
    )
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, new.collect())
    )


# ---------------------------------------------------------------------------
# A crash inside the directory commit (writers.swap_dir), for every caller:
# the swap dies between its two renames. No row may be lost, the caller's
# next read/upsert/load must name the recovery rename, and doing that
# rename must restore service.
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _dir_swap(live, stage, rows, **case):
    """A case whose recovery is the directory rename stage -> live."""
    return dict(
        live=live,
        stage=stage,
        aside=stage.removesuffix("_stage") + "_old",
        rows=rows,
        hint=f"{stage!r} -> {live!r}",
        recover=lambda: os.rename(stage, live),
        read=lambda: rows(live),
        **case,
    )


def _merge_sink_case(spark, tmp_path, mode):
    sink = ParquetMergeSink(spark, str(tmp_path / "tbl"))
    sink.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    batch = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    commit = {
        "overwrite": lambda: sink.overwrite(batch),
        "upsert": lambda: sink.upsert(batch, keys=["k"]),
    }[mode]
    return _dir_swap(
        sink.path,
        sink.path + "__merge_stage",
        lambda d: _rows(spark.read.parquet(d)),
        commit=commit,
        after={
            "overwrite": [(2, "B"), (3, "C")],
            "upsert": [(1, "a"), (2, "B"), (3, "C")],
        }[mode],
        # an upsert must not read the crashed table as missing and
        # replace it with the batch
        next_ops=[
            sink.read,
            sink.exists,
            lambda: sink.upsert(batch, keys=["k"]),
            lambda: sink.append(batch),
            lambda: sink.overwrite(batch),
        ],
    )


def _ivf(spark, tmp_path, sf_dir):
    from pyveb_spark.operators.similarity import ivf_index
    from pyveb_spark.sinks.index_store import save_ivf_index
    from pyveb_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings").where("vec_id < 120")
    path = str(tmp_path / "ivf")
    indexed, cents = ivf_index(e, n_lists=4)
    save_ivf_index(indexed, cents, path)
    return e, path


def _compact_postings_case(spark, tmp_path, sf_dir):
    from pyveb_spark.sinks.index_store import (
        compact_ivf_postings,
        load_ivf_index,
        maybe_compact_ivf_postings,
    )

    _, path = _ivf(spark, tmp_path, sf_dir)
    postings = os.path.join(path, "postings")

    def ids(d):
        return _rows(spark.read.parquet(d).select("vec_id"))

    return _dir_swap(
        postings,
        postings + "__compact_stage",
        ids,
        commit=lambda: compact_ivf_postings(spark, path),
        after=ids(postings),
        next_ops=[
            lambda: load_ivf_index(spark, path),
            lambda: compact_ivf_postings(spark, path),
            lambda: maybe_compact_ivf_postings(spark, path),
        ],
    )


def _rebuild_case(spark, tmp_path, sf_dir):
    from pyveb_spark.sinks.index_store import (
        load_ivf_index,
        rebuild_ivf_index,
    )

    e, path = _ivf(spark, tmp_path, sf_dir)

    def ids(d):
        return _rows(load_ivf_index(spark, d)[0].select("vec_id"))

    return _dir_swap(
        path,
        path + "__save_stage",
        ids,
        commit=lambda: rebuild_ivf_index(spark, path, e),
        after=ids(path),
        next_ops=[
            lambda: load_ivf_index(spark, path),
            lambda: rebuild_ivf_index(spark, path, e),
        ],
    )


def _resave_case(path, rows, save, commit):
    """A commit into an existing directory artifact: ``save`` makes the
    artifact the crash must preserve; ``commit`` is the crashing save.
    ``rows`` reads an artifact directory through its loader (data and
    manifest), and the expected result is ``commit`` run on a twin."""
    save(path)
    save(path + "_expected")
    commit(path + "_expected")
    return _dir_swap(
        path,
        path + "__save_stage",
        rows,
        commit=lambda: commit(path),
        after=rows(path + "_expected"),
        next_ops=[lambda: rows(path), lambda: commit(path)],
    )


def _ivf_resave_case(spark, tmp_path, sf_dir):
    from pyveb_spark.operators.similarity import ivf_index
    from pyveb_spark.sinks.index_store import load_ivf_index, save_ivf_index
    from pyveb_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    first = ivf_index(e.where("vec_id < 120"), n_lists=4)
    second = ivf_index(e.where("vec_id < 60"), n_lists=2)

    def rows(d):
        postings, centroids, meta = load_ivf_index(spark, d)
        return _rows(postings.select("vec_id")), centroids, meta

    return _resave_case(
        str(tmp_path / "ivf"),
        rows,
        lambda d: save_ivf_index(*first, d),
        lambda d: save_ivf_index(*second, d),
    )


def _lsh_case(spark, tmp_path):
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import load_lsh_index, save_lsh_index

    def index(n):
        return local_df(
            spark, [(i, i % 4) for i in range(n)], "vec_id bigint, __b bigint"
        )

    def rows(d):
        df, meta = load_lsh_index(spark, d)
        return _rows(df.select("vec_id", "__b")), meta

    return _resave_case(
        str(tmp_path / "lsh"),
        rows,
        lambda d: save_lsh_index(index(20), d, meta={"seed": 1}),
        lambda d: save_lsh_index(index(30), d, meta={"seed": 2}),
    )


def _bloom_case(spark, tmp_path, update):
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import (
        load_id_bloom,
        save_id_bloom,
        update_id_bloom,
    )

    def ids(lo, hi):
        return local_df(spark, [(i,) for i in range(lo, hi)], "vec_id bigint")

    state = {}

    def save(d):
        _, state["meta"], state["words"] = save_id_bloom(ids(0, 40), d)

    def commit(d):
        if update:
            update_id_bloom(ids(40, 80), d, state["words"], state["meta"])
        else:
            save_id_bloom(ids(0, 80), d)

    return _resave_case(
        str(tmp_path / "bloom"),
        lambda d: load_id_bloom(spark, d)[1:],
        save,
        commit,
    )


def _pq_case(spark, tmp_path):
    from pyveb_spark.sinks.index_store import (
        load_pq_codebooks,
        save_pq_codebooks,
    )

    def codebooks(x):
        return [
            [(0, [x, 1.0]), (1, [1.0, x])],
            [(0, [0.5, x]), (1, [x, 0.25])],
        ]

    return _resave_case(
        str(tmp_path / "pq"),
        lambda d: load_pq_codebooks(spark, d),
        lambda d: save_pq_codebooks(spark, codebooks(0.0), d),
        lambda d: save_pq_codebooks(spark, codebooks(2.0), d, meta={"v": 2}),
    )


def _sq8_case(spark, tmp_path):
    from pyveb_spark.sinks.index_store import load_sq8_stats, save_sq8_stats

    return _resave_case(
        str(tmp_path / "sq8"),
        lambda d: load_sq8_stats(spark, d),
        lambda d: save_sq8_stats(spark, [(0.0, 1.0), (-1.0, 2.0)], d),
        lambda d: save_sq8_stats(spark, [(0.5, 1.5)], d, meta={"v": 2}),
    )


def _bucketed_case(spark, tmp_path):
    import uuid

    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.index_store import (
        compact_bucketed_index,
        load_bm25_index,
    )
    from pyveb_spark.sinks.writers import write_bucketed_table

    table = f"t_swapcrash_{uuid.uuid4().hex[:8]}"
    loc = str(tmp_path / "postings")
    rows = [("hash", i, i % 3) for i in range(40)]
    write_bucketed_table(
        local_df(spark, rows, "token string, doc_id int, tf bigint")
        .repartition(4),
        table,
        ["token"],
        num_buckets=4,
        path=loc,
    )
    stage_table = f"{table}__compact_stage"
    recovery = f"ALTER TABLE {stage_table} RENAME TO {table}"
    return dict(
        live=loc,
        stage=loc + "__compact_stage",
        aside=loc + "__compact_old",
        rows=lambda d: _rows(spark.read.parquet(d)),
        hint=recovery,
        recover=lambda: spark.sql(recovery),
        read=lambda: _rows(spark.table(table)),
        commit=lambda: compact_bucketed_index(spark, table),
        after=sorted(rows),
        next_ops=[
            lambda: compact_bucketed_index(spark, table),
            lambda: load_bm25_index(spark, table, str(tmp_path / "dl")),
        ],
        cleanup=lambda: [
            spark.sql(f"DROP TABLE IF EXISTS {t}") for t in (table, stage_table)
        ],
    )


@pytest.mark.parametrize(
    "caller",
    [
        "merge_overwrite",
        "merge_upsert",
        "compact_ivf_postings",
        "rebuild_ivf_index",
        "compact_bucketed_index_external",
        "save_ivf_index",
        "save_lsh_index",
        "save_id_bloom",
        "update_id_bloom",
        "save_pq_codebooks",
        "save_sq8_stats",
    ],
)
def test_crash_between_swap_renames_loses_nothing(
    spark, sf_dir, tmp_path, monkeypatch, caller
):
    from pyveb_spark.sinks import writers

    case = {
        "merge_overwrite": lambda: _merge_sink_case(spark, tmp_path, "overwrite"),
        "merge_upsert": lambda: _merge_sink_case(spark, tmp_path, "upsert"),
        "compact_ivf_postings": lambda: _compact_postings_case(
            spark, tmp_path, sf_dir
        ),
        "rebuild_ivf_index": lambda: _rebuild_case(spark, tmp_path, sf_dir),
        "compact_bucketed_index_external": lambda: _bucketed_case(
            spark, tmp_path
        ),
        "save_ivf_index": lambda: _ivf_resave_case(spark, tmp_path, sf_dir),
        "save_lsh_index": lambda: _lsh_case(spark, tmp_path),
        "save_id_bloom": lambda: _bloom_case(spark, tmp_path, update=False),
        "update_id_bloom": lambda: _bloom_case(spark, tmp_path, update=True),
        "save_pq_codebooks": lambda: _pq_case(spark, tmp_path),
        "save_sq8_stats": lambda: _sq8_case(spark, tmp_path),
    }[caller]()
    try:
        before = case["rows"](case["live"])
        real_rename = writers._rename

        def crashing_rename(fs, HPath, src, dst):
            if src.endswith("_stage"):  # the second rename: stage -> live
                raise RuntimeError("injected crash between the renames")
            real_rename(fs, HPath, src, dst)

        monkeypatch.setattr(writers, "_rename", crashing_rename)
        with pytest.raises(RuntimeError, match="injected"):
            case["commit"]()
        monkeypatch.setattr(writers, "_rename", real_rename)

        # no row lost: the previous data sits aside, the commit in the stage
        assert not os.path.exists(case["live"])
        assert case["rows"](case["aside"]) == before
        assert case["rows"](case["stage"]) == case["after"]
        # the next operation refuses, naming the one recovery rename
        for op in case["next_ops"]:
            with pytest.raises(RuntimeError) as err:
                op()
            assert case["hint"] in str(err.value)
        assert case["rows"](case["stage"]) == case["after"]
        case["recover"]()
        assert case["read"]() == case["after"]
        # and the next commit goes through
        case["commit"]()
        assert case["read"]() == case["after"]
    finally:
        case.get("cleanup", lambda: None)()


def test_partial_first_write_is_not_a_crashed_swap(spark, tmp_path):
    """A kill during the stage write of a brand-new merge-sink table
    leaves a stage without Hadoop's ``_SUCCESS`` marker and no aside:
    the table does not exist yet, and the next overwrite replaces the
    stage. A stage that holds ``_SUCCESS`` is a complete commit and
    still raises with the recovery rename."""
    sink = ParquetMergeSink(spark, str(tmp_path / "t"))
    os.makedirs(os.path.join(sink.path + "__merge_stage", "_temporary", "0"))
    assert sink.exists() is False
    sink.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    assert _rows(sink.read()) == [(1, "a")]

    done = ParquetMergeSink(spark, str(tmp_path / "u"))
    stage = done.path + "__merge_stage"
    spark.createDataFrame([(2, "b")], "k int, v string").write.parquet(stage)
    assert os.path.exists(os.path.join(stage, "_SUCCESS"))
    with pytest.raises(RuntimeError) as err:
        done.exists()
    assert f"{stage!r} -> {done.path!r}" in str(err.value)
