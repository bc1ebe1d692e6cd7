"""Regression tests for the round-1 code-review findings: NULL handling,
duplicate-value collapse, typed partitions, parameter validation."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pyveb_spark.operators.joins import asof_join, fuzzy_top1_join
from pyveb_spark.operators.nested import argmax_in_array
from pyveb_spark.sinks.merge import ParquetMergeSink


def test_asof_join_carries_whole_right_rows_with_null_fields(spark):
    """A NULL field in the nearest right row must NOT be backfilled from an
    older right row (per-column carry would stitch a row that never
    existed)."""
    left = spark.createDataFrame([(1, 10)], "k int, lt int")
    right = spark.createDataFrame(
        [(1, 0, 1, 7), (1, 5, 5, None)],
        "k int, rt int, x int, y int",
    )
    row = asof_join(
        left, right, on="k", left_ts="lt", right_ts="rt"
    ).first()
    # nearest right row is (rt=5, x=5, y=NULL) — y must be NULL, not 7
    assert row.x == 5 and row.y is None and row.rt == 5


def test_asof_join_no_match_is_all_null(spark):
    left = spark.createDataFrame([(1, 10)], "k int, lt int")
    right = spark.createDataFrame([(1, 20, 9)], "k int, rt int, x int")
    row = asof_join(
        left, right, on="k", left_ts="lt", right_ts="rt"
    ).first()
    assert row.x is None and row.rt is None


def test_fuzzy_top1_keeps_duplicate_left_rows(spark):
    left = spark.createDataFrame(
        [(1, "report.pdf"), (2, "report.pdf"), (3, "summary.doc")],
        "id int, name string",
    )
    right = spark.createDataFrame(
        [("report_v2.pdf",), ("summary.docx",)], "fname string"
    )
    out = fuzzy_top1_join(left, right, "name", "fname").collect()
    assert len(out) == 3  # both 'report.pdf' rows survive
    by_id = {r.id: r.fname for r in out}
    assert by_id[1] == by_id[2] == "report_v2.pdf"
    assert by_id[3] == "summary.docx"


def test_argmax_skips_null_sort_fields(spark):
    df = spark.createDataFrame(
        [(1, [(None, "a"), (5, "b"), (3, "c")])],
        "id int, arr array<struct<score:int,v:string>>",
    )
    row = argmax_in_array(df, "arr", "score").first()
    assert row.arr.v == "b"  # not the NULL-scored first element
    # all-NULL keys: falls back to the first element instead of vanishing
    df2 = spark.createDataFrame(
        [(1, [(None, "a"), (None, "b")])],
        "id int, arr array<struct<score:int,v:string>>",
    )
    assert argmax_in_array(df2, "arr", "score").first().arr.v == "a"


def test_upsert_partitioned_with_int_partition_column(spark):
    tmp = tempfile.mkdtemp(prefix="updint_")
    sink = ParquetMergeSink(spark, os.path.join(tmp, "t"))
    day1 = spark.createDataFrame(
        [(1, 20240101, "a"), (2, 20240101, "b"), (3, 20240102, "c")],
        "id int, day int, v string",
    )
    sink.upsert_partitioned(day1, keys=["id"], partition_cols=["day"])
    # second batch touches day 20240101 only; row 1 updates, row 4 inserts
    batch = spark.createDataFrame(
        [(1, 20240101, "a2"), (4, 20240101, "d")],
        "id int, day int, v string",
    )
    sink.upsert_partitioned(batch, keys=["id"], partition_cols=["day"])
    rows = {r.id: (r.v,) for r in sink.read().collect()}
    assert rows == {1: ("a2",), 2: ("b",), 3: ("c",), 4: ("d",)}


def test_chunk_stats_null_text_is_empty_doc(spark):
    from pyveb_spark.operators.dedup import chunk_stats

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x y")],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r
        for r in chunk_stats(df, "doc_id", "text", chunk_tokens=2).collect()
    }
    assert set(rows) == {1, 2, 3}  # NULL docs don't vanish
    assert rows[1].n_chunks == 1 and rows[3].n_dup_chunks == 0


def test_lsh_banding_validation(spark):
    from pyveb_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=8, bands=16)
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs(df, "doc_id", "text", num_hashes=32, bands=12)


def test_knn_join_cross_table_keeps_equal_ids(spark):
    from pyveb_spark.operators.similarity import knn_join

    vecs = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    left = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    right = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    incl = knn_join(left, right, k=1, exclude_same_id=False)
    # with self-matches allowed, every vector's top-1 is itself (cos=1)
    assert all(r.vec_id == r.nn_id for r in incl.collect())
    excl = knn_join(left, right, k=1)
    assert all(r.vec_id != r.nn_id for r in excl.collect())


def test_redact_pii_international_phone_prefix(spark):
    from pyveb_spark.operators.cleaning import redact_pii

    df = spark.createDataFrame(
        [(1, "call +123-456-7890 now")], "id int, note string"
    )
    row = redact_pii(df, ["note"]).first()
    assert "+" not in row.note  # the '+' is part of the redacted span
    assert "[PII]" in row.note and row.note_pii_count == 1


def test_winsorize_ungrouped_all_null_passthrough(spark):
    # r4 advice: ungrouped winsorize crossJoined an EMPTY bounds table when
    # every value was NULL, dropping all rows; constant-key left join keeps them
    from pyveb_spark.operators.profile import winsorize

    df = spark.createDataFrame(
        [(1, None), (2, None)], "id int, v double"
    )
    rows = winsorize(df, "v").collect()
    assert len(rows) == 2
    assert all(r.v_winsorized is None for r in rows)
    # non-degenerate ungrouped path still clips
    df2 = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id int, v double"
    )
    out = {
        r.id: r.v_winsorized
        for r in winsorize(df2, "v", lo_pct=5, hi_pct=95).collect()
    }
    assert out[1] == 5.0 and out[100] == 95.0 and out[50] == 50.0


def test_winsorize_ungrouped_empty_input(spark):
    from pyveb_spark.operators.profile import winsorize

    df = spark.createDataFrame([], "id int, v double")
    assert winsorize(df, "v").count() == 0  # no crash, no phantom rows


def test_bloom_probe_null_key_passes_through(spark):
    # r4 advice: inner join back dropped NULL-key rows; they must survive
    # with bloom_hit=0 (a NULL key is trivially not a member)
    from pyveb_spark.operators.sketches import bloom_build, bloom_probe

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "beta")], "id int, k string"
    )
    bloom = bloom_build(df.where(F.col("k") == "alpha"), "k", 256, 3)
    rows = {r.id: r.bloom_hit for r in bloom_probe(df, bloom, "k", 256, 3).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] == 1 and rows[2] == 0


def test_validate_expectations_empty_table_passes(spark):
    # r4 advice: SUM over zero rows is NULL -> n_violations/passed were NULL;
    # an empty table violates nothing (except row_count_between lower bounds)
    from pyveb_spark.operators.profile import validate_expectations

    df = spark.createDataFrame([], "a string, b int")
    out = {
        (r.rule, r.column): (r.n_violations, r.passed)
        for r in validate_expectations(
            df,
            [
                ("not_null", "a"),
                ("unique", "a"),
                ("accepted_values", "a", ["x"]),
                ("between", "b", 0, 10),
                ("row_count_between", 1, 5),
            ],
        ).collect()
    }
    for key in [("not_null", "a"), ("unique", "a"),
                ("accepted_values", "a"), ("between", "b")]:
        assert out[key] == (0, True), key
    assert out[("row_count_between", "*")] == (1, False)


def test_sq8_ann_final_cut_uses_rounded_key(spark):
    # r4 advice: the final top-k must cut on round(cosine, 6) + id in BOTH
    # engines; ties at the boundary must resolve to the lower id
    from pyveb_spark.operators.similarity import sq8_ann

    # two vectors exactly tied in cosine vs the query, plus one clear winner
    vecs = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),   # tied with id 3
        (3, [0.0, 2.0]),   # same direction as id 2 -> same cosine
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    out = sq8_ann(df, [1.0, 1.0], k=2, shortlist=3).collect()
    ids = sorted(r.vec_id for r in out)
    # ids 1..3 all have identical cosine (0.7071...): the id tie-break keeps 1,2
    assert ids == [1, 2]


def test_compaction_plan_tied_order_values_use_rows_frame(spark):
    # r7 advice: duplicate order_cols values under the default RANGE frame
    # pooled tied files' sizes into one cumulative sum, so tied files could
    # pack into a group exceeding target + max_file
    from pyveb_spark.operators.layout import compaction_plan

    files = spark.createDataFrame(
        [("p", 0, 60), ("p", 0, 60), ("p", 0, 60)],
        "part string, mtime int, bytes bigint",
    )
    out = compaction_plan(
        files, ["part"], ["mtime"], "bytes", target_bytes=100
    ).collect()
    sizes = {}
    for r in out:
        sizes[r.compaction_group] = sizes.get(r.compaction_group, 0) + r.bytes
    # ROWS frame: before = 0,60,120 -> groups 0,0,1; RANGE frame would have
    # put all three at before=120 -> one 180-byte group
    assert max(sizes.values()) <= 100 + 60, sizes
    assert len(sizes) == 2


def test_mahalanobis_single_row_and_ragged_vectors(spark):
    # r7 advice: var_samp is NULL on a single sample (float(None) crash) and
    # ragged vector lengths leave position gaps that misaligned mus/vars
    from pyveb_spark.operators.similarity import mahalanobis_outliers

    one = spark.createDataFrame([(1, [1.0, 2.0])], "id int, embedding array<double>")
    row = mahalanobis_outliers(one).first()
    assert row.maha_sq == 0.0  # zero-variance dims are skipped

    ragged = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [2.0, 2.0]), (3, [4.0, 4.0, 8.0])],
        "id int, embedding array<double>",
    )
    rows = {r.id: r.maha_sq for r in mahalanobis_outliers(ragged).collect()}
    # dim0: mu=2 var=4; dim1: mu=2 var=4; dim2 (ids 1,3 only): mu=4 var=32
    assert rows[1] == pytest.approx(1.0 + 1.0 + 0.5)
    assert rows[2] == pytest.approx(0.0 + 0.0)  # short vector: fold stops at len 2
    assert rows[3] == pytest.approx(1.0 + 1.0 + 0.5)


def test_prefix_cache_lcp_capped_at_shortest_member(spark, tmp_path):
    # r7 advice: a group of identical docs shorter than the 16-token cap
    # produced no per-pos rows past their length, so lcp reported the CAP
    from pyveb_spark.queries.text import q199_prefix_cache_grouping

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e f")],
        "doc_id bigint, text string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = q199_prefix_cache_grouping(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.lcp_tokens == 6  # the docs' actual length, not the 16 cap
    assert r.cached_tokens_saved == (3 - 1) * 6


def test_binary_auc_single_class_group_is_null(spark):
    # found by the half-size seed twin: a group with one class has no
    # defined AUC; ANSI mode raised DIVIDE_BY_ZERO instead of NULL
    from pyveb_spark.operators.profile import binary_auc

    df = spark.createDataFrame(
        [("g1", 7, True), ("g1", 5, False), ("g2", 3, True), ("g2", 9, True)],
        "grp string, score int, label boolean",
    )
    rows = {r.grp: r for r in
            binary_auc(df, "score", F.col("label"), ["grp"]).collect()}
    assert rows["g1"].auc == 1.0  # positive outranks negative
    assert rows["g2"].auc is None  # no negatives: undefined, not a crash
    assert rows["g2"].n_neg == 0


def test_ab_proportion_test_degenerate_pool_is_null(spark):
    # found by the half-size seed twin: zero conversions on both sides
    # make the pooled se 0; z must be NULL, not DIVIDE_BY_ZERO
    from pyveb_spark.operators.profile import ab_proportion_test

    none_convert = spark.createDataFrame(
        [("a", 0), ("a", 0), ("b", 0), ("b", 0)],
        "variant string, converted int",
    )
    r = ab_proportion_test(none_convert, "variant",
                           F.col("converted") == 1).first()
    assert r.z is None and r.rate_a == 0.0 and r.rate_b == 0.0

    one_sided = spark.createDataFrame(
        [("a", 1), ("a", 0)], "variant string, converted int"
    )
    r = ab_proportion_test(one_sided, "variant",
                           F.col("converted") == 1).first()
    assert r.n_b == 0 and r.rate_b is None and r.z is None and r.diff is None


def test_bradley_terry_zero_strength_pair_does_not_divide_by_zero():
    # ADVICE r8: round(9) can underflow a weak side's strength to exactly
    # 0.0; if two zero-strength sides share a match the MM denominator
    # divided by zero. The clamp keeps the fit finite.
    from pyveb_spark.operators.text import bradley_terry

    # a crushes b and c; b and c only ever play each other evenly, so
    # after a few renormalized iterations their strengths can underflow
    wins = {("a", "b"): 10**6, ("a", "c"): 10**6, ("b", "c"): 1,
            ("c", "b"): 1}
    p = bradley_terry(wins, iters=50)
    assert all(v >= 0.0 and v == v for v in p.values())  # finite, no NaN
    assert p["a"] > p["b"] and p["a"] > p["c"]


def test_lsh_cross_pairs_empty_input_keeps_id_schema(spark):
    # ADVICE r8: the empty-input early return hardcoded bigint ids, so a
    # string-id frame got a different schema on the empty path than the
    # populated path; a NULL embedding in row 1 also crashed the dim probe.
    # The lookup shares the probe and the empty result.
    from pyveb_spark.operators.similarity import (
        lsh_cosine_cross_pairs,
        lsh_cosine_lookup,
    )

    empty = spark.createDataFrame(
        [], "vec_id string, embedding array<double>"
    )
    out = empty.sparkSession.createDataFrame(
        [("x", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    nullfirst = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    for op, a, b in (
        (lsh_cosine_cross_pairs, "vec_id_a", "vec_id_b"),
        (lsh_cosine_lookup, "vec_id_new", "vec_id_corpus"),
    ):
        res = op(empty, out, threshold=0.9)
        assert res.columns == [a, b, "cosine_sim"]
        assert res.schema[a].dataType.simpleString() == "string"
        assert res.schema[b].dataType.simpleString() == "string"
        assert res.count() == 0

        # NULL embedding in the first row: probe must skip it, not crash
        pairs = op(
            nullfirst, nullfirst.where("vec_id = 2"), threshold=0.9,
            n_planes=2,
        )
        assert {r[a] for r in pairs.collect()} <= {1, 2}


def test_lsh_cosine_null_vectors_on_both_sides(spark):
    # Every NULL vector hashes to bucket 0 (all sign bits 0), so a NULL
    # on each side made a candidate pair whose numpy rescore crashed in
    # cross-pairs; both operators must drop NULL vectors alike.
    from pyveb_spark.operators.similarity import (
        lsh_cosine_cross_pairs,
        lsh_cosine_lookup,
    )

    schema = "vec_id bigint, embedding array<double>"
    a = spark.createDataFrame([(1, None), (2, [-1.0, -1.0])], schema)
    b = spark.createDataFrame([(3, [-1.0, -1.0]), (4, None)], schema)
    cross = lsh_cosine_cross_pairs(a, b, threshold=0.3, n_planes=2)
    look = lsh_cosine_lookup(a, b, threshold=0.3, n_planes=2)
    assert [tuple(r) for r in cross.collect()] == [(2, 3, 1.0)]
    assert [tuple(r) for r in look.collect()] == [(2, 3, 1.0)]


def test_round_half_away_matches_duckdb_round():
    # ADVICE r8: numpy rescores now share ONE rounding rule
    # (half-away-from-zero) with DuckDB ROUND and F.round
    import duckdb
    import numpy as np

    from pyveb_spark.operators.similarity import _round_half_away

    vals = np.array([0.12345, -0.12345, 0.00005, -0.00005, 0.99995,
                     0.12344999, 0.1234501, 0.0, 1.0, -1.0])
    got = _round_half_away(vals, 4)
    want = [
        duckdb.sql(f"SELECT ROUND(CAST({v!r} AS DOUBLE), 4)").fetchone()[0]
        for v in vals
    ]
    assert got.tolist() == pytest.approx(want, abs=0.0)
