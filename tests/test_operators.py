"""Unit tests pinning reference operator semantics (FIXTURES.md micro-fixtures).

Each fixture cites the reference behavior it pins (SURVEY.md §2.3/§2.9).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyveb_spark.operators.cleaning import (
    ascii_sanitize,
    clean_old_dates,
    nan_to_null,
    parse_timestamp,
)
from pyveb_spark.operators.nested import (
    argmax_in_array,
    explode_column,
    filter_array,
    flatten_struct,
)
from pyveb_spark.operators.schema import (
    apply_schema,
    enforce_schema,
    reindex_cols,
    rename_columns,
    sanitize_column_names,
)
from pyveb_spark.operators.sets import unite_by_name


# 1. dirty_strings → nan_to_null (spark_client.py:463-481)
def test_nan_to_null(spark):
    df = spark.createDataFrame(
        [(1, "nan"), (2, "NULL"), (3, ""), (4, "  "), (5, " x "), (6, "NaT"), (7, None)],
        "id int, s string",
    )
    out = {r.id: r.s for r in nan_to_null(df).collect()}
    assert out == {1: None, 2: None, 3: None, 4: None, 5: " x ", 6: None, 7: None}


def test_nan_to_null_float_nan(spark):
    df = spark.createDataFrame([(1, float("nan")), (2, 1.5)], "id int, v double")
    out = {r.id: r.v for r in nan_to_null(df).collect()}
    assert out[1] is None and out[2] == 1.5


# 2. old_dates → clean_old_dates boundary (spark_client.py:445-461)
def test_clean_old_dates_boundary(spark):
    df = spark.createDataFrame(
        [
            (1, "1800-05-05 00:00:00"),
            (2, "1899-12-31 23:59:59"),
            (3, "1900-01-01 00:00:00"),
            (4, "2020-06-01 12:00:00"),
            (5, None),
        ],
        "id int, t string",
    )
    out = {r.id: r.t for r in clean_old_dates(df, ["t"]).collect()}
    floor = datetime.datetime(1900, 1, 1)
    assert out[1] == floor and out[2] == floor
    assert out[3] == floor
    assert out[4] == datetime.datetime(2020, 6, 1, 12)
    assert out[5] is None


# 3. drifted_schemas → unite_by_name + enforce/apply_schema
def test_union_drift_and_enforce(spark):
    a = spark.createDataFrame([(1, 2.0)], "k int, v double")
    b = spark.createDataFrame([(2, "x")], "k int, s string")
    u = unite_by_name([a, b])
    assert set(u.columns) == {"k", "v", "s"}
    assert u.count() == 2
    target = StructType(
        [
            StructField("k", LongType()),
            StructField("v", IntegerType()),
            StructField("s", StringType()),
            StructField("missing", DoubleType()),
        ]
    )
    applied = apply_schema(u, target)
    assert [f.name for f in applied.schema.fields] == ["k", "v", "s", "missing"]
    assert applied.schema["k"].dataType == LongType()
    assert applied.schema["v"].dataType == IntegerType()
    rows = applied.orderBy("k").collect()
    assert rows[0].v == 2 and rows[0].missing is None


def test_apply_schema_invalid_to_null(spark):
    # try_cast semantics: invalid timestamp/int → NULL (reference UDF parity,
    # spark_client.py:281-307)
    df = spark.createDataFrame(
        [("notadate", "12"), ("2020-01-02 03:04:05", "x")], "t string, i string"
    )
    target = StructType(
        [StructField("t", TimestampType()), StructField("i", IntegerType())]
    )
    rows = apply_schema(df, target).collect()
    assert rows[0].t is None and rows[0].i == 12
    assert rows[1].t == datetime.datetime(2020, 1, 2, 3, 4, 5) and rows[1].i is None


def test_enforce_schema_order_and_cast(spark):
    df = spark.createDataFrame([(1.9, "7")], "a double, b string")
    target = StructType([StructField("b", IntegerType()), StructField("a", IntegerType())])
    out = enforce_schema(df, target)
    assert out.columns == ["b", "a"]
    r = out.first()
    assert r.b == 7 and r.a == 1  # strict cast truncates like the reference int()


# 4. stringified_lists → explode_column both branches (spark_client.py:505-540)
def test_explode_string_list(spark):
    df = spark.createDataFrame(
        [(1, "['a1', 'b2', 'c3']"), (2, "[]"), (3, None)], "k int, v string"
    )
    out = explode_column(df, "v")
    rows = [(r.k, r.v) for r in out.orderBy("k").collect()]
    assert rows == [(1, "a1"), (1, "b2"), (1, "c3"), (2, None), (3, None)]


def test_explode_array_branch(spark):
    df = spark.createDataFrame([(1, ["x", "y"]), (2, []), (3, None)],
                               "k int, v array<string>")
    rows = [(r.k, r.v) for r in explode_column(df, "v").orderBy("k").collect()]
    assert rows == [(1, "x"), (1, "y"), (2, None), (3, None)]


# 5. nested_structs → flatten / filter_array / argmax (spark_client.py:321-395,483-503)
def test_nested_struct_ops(spark):
    data = [
        Row(
            k=1,
            payload=Row(
                a=10,
                items=[
                    Row(ts="t1", score=3, tags=["x"]),
                    Row(ts="t2", score=9, tags=[]),
                    Row(ts="t3", score=5, tags=["y", "z"]),
                ],
            ),
        )
    ]
    df = spark.createDataFrame(data)
    flat = flatten_struct(df, "payload")
    assert set(flat.columns) == {"k", "a", "items"}

    filtered = filter_array(flat, "items", lambda x: F.size(x["tags"]) > 0)
    assert len(filtered.first().items) == 2  # t2 dropped (empty tags)

    best = argmax_in_array(flat, "items", "score").first().items
    assert best.ts == "t2" and best.score == 9

    empty = spark.createDataFrame(
        [(1, [])], "k int, items array<struct<ts:string,score:int>>"
    )
    assert argmax_in_array(empty, "items", "score").first().items is None


# 7. meta_columns
def test_add_metadata(spark, sf_dir):
    from pyveb_spark.operators.cleaning import add_metadata
    from pyveb_spark.sources.readers import read_table

    df = add_metadata(read_table(spark, sf_dir, "region"), partition_date="2024-03-01")
    r = df.first()
    assert r.META_file_name.endswith(".parquet")
    assert r.META_partition_date == datetime.date(2024, 3, 1)
    assert isinstance(r.META_processing_date_utc, datetime.datetime)


# misc §2.3 operators
def test_rename_reindex_sanitize(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "c (raw)"])
    df2 = sanitize_column_names(df)
    assert df2.columns == ["a", "b", "c_raw"]
    df3 = rename_columns(df2, {"a": "x"})
    assert reindex_cols(df3, ["c_raw", "x"]).columns == ["c_raw", "x"]


def test_ascii_sanitize_and_parse_timestamp(spark):
    df = spark.createDataFrame([("v1.2 — béta", "2020-01-02 03:04:05.678901")],
                               "version string, t string")
    out = ascii_sanitize(df, ["version"])
    assert out.first().version == "v1.2  bta"
    ts = parse_timestamp(df, ["t"]).first().t
    # reference strips subseconds before strptime (spark_client.py:294-307)
    assert ts == datetime.datetime(2020, 1, 2, 3, 4, 5)


def test_unite_by_name_column_order_independence(spark):
    # property: union result independent of column order (SURVEY §5.3)
    a = spark.createDataFrame([(1, "x")], "k int, s string")
    b = spark.createDataFrame([("y", 2)], "s string, k int")
    rows = sorted((r.k, r.s) for r in unite_by_name([a, b]).collect())
    assert rows == [(1, "x"), (2, "y")]


def test_range_join_basic(spark):
    from pyveb_spark.operators.joins import range_join

    l = spark.createDataFrame([(1, 5), (1, 15), (2, 7), (3, 1)], "k int, ts int")
    r = spark.createDataFrame(
        [(1, 0, 10, "a"), (2, 5, 9, "b"), (2, 0, 5, "c")], "k int, s int, e int, tag string"
    )
    out = range_join(l, r, "k", "ts", "s", "e")
    got = sorted((row["k"], row["ts"], row["tag"]) for row in out.collect())
    # (1,5)->a in [0,10); (1,15)->no match (left join keeps row); (2,7)->b; (3,1)->none
    assert got == [(1, 5, "a"), (1, 15, None), (2, 7, "b"), (3, 1, None)]


def test_salted_join_equals_plain_join(spark):
    from pyveb_spark.operators.joins import salted_join

    # skewed left: key 1 dominates
    l = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 1)], "k int, v int"
    )
    r = spark.createDataFrame([(1, "hot"), (2, "cold")], "k int, tag string")
    for how in ("inner", "left"):
        plain = l.join(r, "k", how)
        salted = salted_join(l, r, "k", how=how, salt_buckets=8)
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )
    with pytest.raises(ValueError):
        salted_join(l, r, "k", how="full")


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key join without an Exchange —
    the co-located-join contract of write_bucketed_table."""
    from pyveb_spark.sinks.writers import write_bucketed_table

    a = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("w", F.col("id") + 1)
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    write_bucketed_table(a, "bkt_a", ["id"], num_buckets=4, sort_cols=["id"])
    write_bucketed_table(b, "bkt_b", ["id"], num_buckets=4, sort_cols=["id"])
    ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ta.join(tb, "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_distributed_map_error_capture(spark):
    """common.py:137-208 parity: per-item results/errors, no job failure."""
    from pyveb_spark.operators.parallel import distributed_map

    df = spark.createDataFrame([(1,), (2,), (0,), (4,)], "x int")
    out = distributed_map(df, lambda rec: str(10 // rec["x"]))
    rows = {r["x"]: (r["result"], r["error"]) for r in out.collect()}
    assert rows[1] == ("10", None) and rows[2] == ("5", None)
    assert rows[0][0] is None and "ZeroDivisionError" in rows[0][1]
    assert out.count() == 4  # rows never disappear


def test_distributed_map_stringifies_returns(spark):
    from pyveb_spark.operators.parallel import distributed_map

    df = spark.createDataFrame([(3,), (4,)], "x int")
    out = distributed_map(df, lambda rec: rec["x"] * 10)  # returns int
    rows = {r["x"]: r["result"] for r in out.collect()}
    assert rows == {3: "30", 4: "40"}


def test_range_join_self_join_and_name_collision(spark):
    from pyveb_spark.operators.joins import range_join

    ev = spark.createDataFrame(
        [(1, 5, 0, 10, "a"), (1, 20, 15, 25, "b")], "k int, ts int, s int, e int, tag string"
    )
    # self-join shape: intervals from the same frame
    out = range_join(ev, ev.select("k", "s", "e"), "k", "ts", "s", "e")
    got = sorted((r["k"], r["ts"], r["s"], r["e"]) for r in out.collect())
    assert got == [(1, 5, 0, 10), (1, 20, 15, 25)]
    # left column colliding with a right payload column → suffixed
    l = spark.createDataFrame([(1, 5, "ltag")], "k int, ts int, tag string")
    r = spark.createDataFrame([(1, 0, 10, "rtag")], "k int, s int, e int, tag string")
    out2 = range_join(l, r, "k", "ts", "s", "e")
    assert "tag" in out2.columns and "tag_right" in out2.columns
    row = out2.collect()[0]
    assert row["tag"] == "ltag" and row["tag_right"] == "rtag"


def test_duplicate_clusters_chain_and_components(spark):
    from pyveb_spark.operators.dedup import duplicate_clusters

    # one 6-node chain (worst case for naive propagation), one triangle,
    # one isolated pair, with duplicate + reversed edges thrown in
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (12, 10),
         (21, 20), (20, 21)],
        "a long, b long",
    )
    got = {
        (r.node_id, r.cluster_id)
        for r in duplicate_clusters(pairs, "a", "b").collect()
    }
    want = (
        {(i, 1) for i in range(1, 7)}
        | {(i, 10) for i in (10, 11, 12)}
        | {(20, 20), (21, 20)}
    )
    assert got == want


def test_duplicate_clusters_string_ids(spark):
    from pyveb_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("docB", "docA"), ("docB", "docC")], "a string, b string"
    )
    got = {
        (r.node_id, r.cluster_id)
        for r in duplicate_clusters(pairs, "a", "b").collect()
    }
    assert got == {("docA", "docA"), ("docB", "docA"), ("docC", "docA")}


def test_hash_sample_deterministic_and_nested(spark):
    from pyveb_spark.operators.sampling import hash_sample

    df = spark.range(2000).withColumnRenamed("id", "k")
    s20 = {r.k for r in hash_sample(df, 0.2, ["k"], seed="s").collect()}
    s20_again = {r.k for r in hash_sample(df, 0.2, ["k"], seed="s").collect()}
    s50 = {r.k for r in hash_sample(df, 0.5, ["k"], seed="s").collect()}
    assert s20 == s20_again          # run-to-run determinism
    assert s20 <= s50                # nested-sample property
    assert 0.15 < len(s20) / 2000 < 0.25
    assert 0.45 < len(s50) / 2000 < 0.55
    # edge fractions
    assert hash_sample(df, 1.0, ["k"]).count() == 2000
    assert hash_sample(df, 0.0, ["k"]).count() == 0


def test_hash_split_disjoint_exhaustive(spark):
    from pyveb_spark.operators.sampling import hash_split

    df = spark.range(1000).withColumnRenamed("id", "k")
    out = hash_split(
        df, {"train": 0.8, "valid": 0.1, "test": 0.1}, ["k"], seed="sp"
    )
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 1000      # exhaustive, disjoint
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] > 700
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(df, {"a": 0.5, "b": 0.6}, ["k"])


def test_source_mix_rates(spark):
    from pyveb_spark.operators.sampling import source_mix

    rows = [(i, "keep_all" if i % 3 == 0 else ("half" if i % 3 == 1 else "unlisted"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, grp string")
    out = source_mix(df, {"keep_all": 1.0, "half": 0.5}, "grp", ["k"], seed="m")
    counts = {r.grp: r.n for r in
              out.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("keep_all") == 1000    # rate 1.0 keeps everything
    assert "unlisted" not in counts          # default_rate=0 drops
    assert 400 < counts.get("half", 0) < 600


def test_regex_tokens_bpe_style(spark):
    from pyveb_spark.operators.text import regex_tokens

    df = spark.createDataFrame([("foo,bar baz42  x!?",)], "s string")
    [row] = df.select(regex_tokens(F.col("s")).alias("t")).collect()
    assert row.t == ["foo", ",", "bar", "baz", "42", "x", "!?"]


def test_winnow_fingerprints_guarantee_and_edges(spark):
    from pyveb_spark.operators.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = k+w-1 run
    df = spark.createDataFrame(
        [
            (1, "one two " + shared + " three"),
            (2, shared + " nine ten eleven"),
            (3, "totally unrelated words here friend"),
            (4, "tiny doc"),        # < k tokens → no grams
            (5, "just three tokens"),  # 1 gram < w → single overall min
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fingerprints for r in
           winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect()}
    # winnowing guarantee: a shared run of >= k+w-1 tokens yields >= 1
    # shared fingerprint
    assert set(out[1]) & set(out[2])
    assert not set(out[1]) & set(out[3])
    assert out[4] == []
    assert len(out[5]) == 1
    # fingerprints are sorted distinct 12-hex strings
    for fps in out.values():
        assert fps == sorted(set(fps))
        assert all(len(f) == 12 for f in fps)


def test_repetition_stats_metrics_and_tiebreak(spark):
    from pyveb_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df, n=2).collect()}
    r1 = rows[1]  # bigrams: "a b","b a","a b","b a"
    assert (r1.n_ngrams, r1.n_distinct) == (4, 2)
    assert r1.dup_ngram_frac == 0.5 and r1.top_ngram_frac == 0.5
    assert r1.top_ngram == "b a"  # tie on count=2 → lexicographically max
    r2 = rows[2]
    assert (r2.n_ngrams, r2.n_distinct, r2.dup_ngram_frac) == (2, 2, 0.0)
    assert 3 not in rows  # < n tokens → no grams → absent (UNNEST parity)


def test_redact_pii_patterns_and_counts(spark):
    from pyveb_spark.operators.cleaning import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call 555-123-4567 or ping 192.168.001.1"),
            (3, "clean text, nothing to scrub"),
            (4, "digits-in-local 123-456-7890@x.co stay one email"),
        ],
        "id long, s string",
    )
    out = {r.id: r for r in redact_pii(df, ["s"]).collect()}
    assert out[1].s == "mail [PII] now" and out[1].s_pii_count == 1
    assert out[2].s == "call [PII] or ping [PII]" and out[2].s_pii_count == 2
    assert out[3].s_pii_count == 0 and out[3].s == "clean text, nothing to scrub"
    # email pattern consumes the whole address before the phone pattern
    # can see the digits in the local part
    assert out[4].s == "digits-in-local [PII] stay one email"
    assert out[4].s_pii_count == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        redact_pii(df, ["s"], kinds=("email", "ssn"))


def test_hll_sketch_error_and_rollup_associativity(spark):
    from pyveb_spark.operators.sketches import (
        hll_distinct,
        hll_partial,
        hll_rollup,
    )

    df = spark.range(20000).select(
        (F.col("id") % 4).alias("g"),
        (F.col("id") % 40).alias("sub"),
        (F.col("id") % 3000).alias("u"),
    )
    # error bound: DataSketches HLL at lgK=12 has ~1.6% RSE; assert 5%
    direct = {
        r.g: r.approx
        for r in df.groupBy("g").agg(hll_distinct("u").alias("approx")).collect()
    }
    exact = {
        r.g: r.exact
        for r in df.groupBy("g")
        .agg(F.count_distinct("u").alias("exact"))
        .collect()
    }
    for g in exact:
        assert abs(direct[g] - exact[g]) / exact[g] < 0.05
    # mergeability: every rollup path (one-step, and two-step through an
    # intermediate union grain) honors the error bound vs exact — sketch
    # estimates are path-dependent only within that bound
    from pyveb_spark.operators.sketches import hll_merge

    fine = hll_partial(df, ["g", "sub"], "u")
    one_step = {
        r.g: r.approx_distinct for r in hll_rollup(fine, ["g"]).collect()
    }
    mid = hll_merge(
        fine.withColumn("mid", F.col("sub") % 5), ["g", "mid"]
    )
    two_step = {
        r.g: r.approx_distinct for r in hll_rollup(mid, ["g"]).collect()
    }
    for g in exact:
        assert abs(one_step[g] - exact[g]) / exact[g] < 0.05
        assert abs(two_step[g] - exact[g]) / exact[g] < 0.05


def test_approx_quantiles_brackets_exact_median(spark):
    from pyveb_spark.operators.sketches import approx_quantiles

    df = spark.range(10001).select(
        F.lit("a").alias("g"), F.col("id").cast("double").alias("v")
    )
    [row] = approx_quantiles(df, ["g"], "v", probabilities=(0.5,)).collect()
    assert abs(row.approx_quantiles[0] - 5000.0) <= 10


def test_profile_table_one_pass_all_types(spark):
    from pyveb_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, 2.5, "a", None), (2, None, "b", None), (2, 7.5, None, None)],
        "k bigint, x double, s string, z string",
    )
    prof = {r.col_name: r for r in profile_table(df).collect()}
    assert set(prof) == {"k", "x", "s", "z"}
    k = prof["k"]
    assert (k.n_rows, k.n_nonnull, k.n_nulls, k.n_distinct) == (3, 3, 0, 2)
    assert (k.min_value, k.max_value) == ("1", "2")
    x = prof["x"]
    assert (x.n_nonnull, x.n_distinct) == (2, 2)
    assert x.data_type == "double" and x.min_value == "2.5"
    z = prof["z"]
    assert (z.n_nonnull, z.n_distinct, z.min_value) == (0, 0, None)

    # approximate path: no Expand (multi-distinct) operator in the plan
    approx = profile_table(df, exact=False)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    a = {r.col_name: r for r in approx.collect()}
    assert a["k"].n_distinct == 2  # HLL exact at this tiny cardinality

    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_table(df, columns=["nope"])


def test_column_histogram_edges_and_clamp(spark):
    from pyveb_spark.operators.profile import column_histogram

    df = spark.createDataFrame(
        [(float(v),) for v in [0, 1, 2, 3, 4, 5, 5, 5]] + [(None,)],
        "x double",
    )
    # explicit bounds: width 1, max value clamps into the last bin
    h = {r.bin: r for r in column_histogram(df, "x", n_bins=5, lo=0.0, hi=5.0).collect()}
    assert {b: h[b].n for b in sorted(h)} == {0: 1, 1: 1, 2: 1, 3: 1, 4: 4}
    assert h[0].lo_edge == 0.0 and h[4].hi_edge == 5.0

    # derived bounds path + out-of-range filtering with explicit bounds
    h2 = column_histogram(df, "x", n_bins=2, lo=1.0, hi=3.0).collect()
    assert sum(r.n for r in h2) == 3  # 1,2,3 inside; 0,4,5s excluded

    import pytest as _pytest

    with _pytest.raises(ValueError):
        column_histogram(df, "x", n_bins=0)
    empty = spark.createDataFrame([], "x double")
    with _pytest.raises(ValueError):
        column_histogram(empty, "x")


def test_zscore_outliers_flags_extreme_only(spark):
    from pyveb_spark.operators.profile import zscore_outliers

    rows = [("a", float(v)) for v in [10, 10, 10, 10, 10, 10, 10, 10, 10, 100]]
    rows += [("b", 5.0), ("b", 5.0), ("b", 5.0)]  # constant group -> no NaN
    df = spark.createDataFrame(rows, "g string, value double")
    out = zscore_outliers(df, "value", ["g"], z_threshold=2.0).collect()
    assert [(r.g, r.value) for r in out] == [("a", 100.0)]
    assert out[0].z > 2.0

    # ungrouped mode (global stats via crossJoin broadcast)
    glob = zscore_outliers(df.select("value"), "value", z_threshold=2.0).collect()
    assert [r.value for r in glob] == [100.0]


def test_zscore_outliers_ignores_nulls(spark):
    """NULL values must not bias the moments: SUM skips them, so the
    count must too (COUNT(value), not COUNT(*)) — otherwise the mean is
    pulled toward 0 and variance can go negative for every null-bearing
    group."""
    from pyveb_spark.operators.profile import zscore_outliers

    base = [("a", float(v)) for v in [10, 10, 10, 10, 10, 10, 10, 10, 10, 100]]
    nulls = [("a", None)] * 20  # 2/3 of the group is NULL
    df = spark.createDataFrame(base + nulls, "g string, value double")
    out = zscore_outliers(df, "value", ["g"], z_threshold=2.0).collect()
    # identical verdict to the null-free test: stats over non-null values
    assert [(r.g, r.value) for r in out] == [("a", 100.0)]
    assert out[0].z > 2.0
    # with COUNT(*) the 30-row count vs 10-value sum would have yielded
    # mean≈6.3 and a NEGATIVE sq/n - mean^2 clamped to 1e-300 -> every
    # non-null row "outlier"; assert that pathology is absent
    assert len(out) == 1


def test_fill_time_gaps_zero_fills_only_inside_range(spark):
    import datetime

    from pyveb_spark.operators.timeseries import fill_time_gaps, time_spine

    t = lambda h: datetime.datetime(2024, 1, 1, h)
    agg = spark.createDataFrame(
        [("a", t(0), 5), ("a", t(3), 2), ("b", t(1), 7)],
        "k string, h timestamp, n long",
    )
    dense = fill_time_gaps(agg, "h", "1 hour", keys=["k"]).orderBy("k", "h")
    rows = [(r.k, r.h.hour, r.n) for r in dense.collect()]
    # key a: hours 0..3 dense with 1,2 zero-filled; key b: single slot only
    assert rows == [
        ("a", 0, 5), ("a", 1, 0), ("a", 2, 0), ("a", 3, 2), ("b", 1, 7),
    ]

    # custom fill value + spine-only view
    dense2 = fill_time_gaps(agg, "h", "1 hour", keys=["k"], fill={"n": -1})
    assert sorted(r.n for r in dense2.collect()) == [-1, -1, 2, 5, 7]
    spine = time_spine(agg, "h", "1 hour", keys=["k"])
    assert spine.count() == 5


def test_fill_time_gaps_passes_non_numeric_through(spark):
    """Non-numeric measures (labels, timestamps) must pass through
    un-filled — coalescing them with lit(0) would fail analysis or
    silently coerce. Numeric columns still zero-fill; an explicit fill
    entry overrides either way."""
    import datetime

    from pyveb_spark.operators.timeseries import fill_time_gaps

    t = lambda h: datetime.datetime(2024, 1, 1, h)
    agg = spark.createDataFrame(
        [("a", t(0), 5, "x"), ("a", t(2), 2, "y")],
        "k string, h timestamp, n long, label string",
    )
    dense = fill_time_gaps(agg, "h", "1 hour", keys=["k"]).orderBy("h")
    rows = [(r.h.hour, r.n, r.label) for r in dense.collect()]
    assert rows == [(0, 5, "x"), (1, 0, None), (2, 2, "y")]

    # explicit fill for a string measure still honored
    dense2 = fill_time_gaps(
        agg, "h", "1 hour", keys=["k"], fill={"label": "missing"}
    ).orderBy("h")
    assert [r.label for r in dense2.collect()] == ["x", "missing", "y"]


def test_funnel_window_and_filters(spark):
    import datetime

    from pyveb_spark.operators.funnel import funnel_stages, funnel_summary

    t = lambda d, h=0: datetime.datetime(2024, 1, d, h)
    rows = [
        # u1 completes: view d1, click d2, purchase d3 (value 200)
        (1, t(1), "view", 0.0), (1, t(2), "click", 0.0), (1, t(3), "purchase", 200.0),
        # u2 clicks OUTSIDE the 3-day window -> drops at stage 2
        (2, t(1), "view", 0.0), (2, t(6), "click", 0.0), (2, t(7), "purchase", 200.0),
        # u3 purchase below the value filter -> drops at stage 3
        (3, t(1), "view", 0.0), (3, t(2), "click", 0.0), (3, t(3), "purchase", 50.0),
        # u4 events in the WRONG order (purchase before click) -> stage 2 only
        (4, t(1), "view", 0.0), (4, t(3), "click", 0.0), (4, t(2), "purchase", 200.0),
        # u5 never views -> not even stage 1
        (5, t(1), "click", 0.0), (5, t(2), "purchase", 200.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string, value double"
    )
    reach = funnel_stages(
        df, ["view", "click", "purchase"], within="3 days",
        filters={"purchase": F.col("value") > 100},
    )
    got = {r.user_id: (r.t1 is not None, r.t2 is not None, r.t3 is not None)
           for r in reach.collect()}
    assert got == {
        1: (True, True, True),
        2: (True, False, False),
        3: (True, True, False),
        4: (True, True, False),
    }

    summary = funnel_summary(
        df, ["view", "click", "purchase"], within="3 days",
        filters={"purchase": F.col("value") > 100},
    ).collect()
    assert [(r.stage, r.n_users) for r in summary] == [(1, 4), (2, 3), (3, 1)]
    # exact lag: u1 click-purchase = 1 day = 86400e6 us
    assert summary[2].total_lag_us == 86_400_000_000


def test_iqr_outliers_discrete_quartiles(spark):
    from pyveb_spark.operators.profile import iqr_outliers

    # group a: 1..12 plus an extreme; discrete q1 = value at rank ceil(13*.25)=4,
    # q3 at rank ceil(13*.75)=10 -> q1=4, q3=10, IQR=6, fences [-5, 19] -> only 100
    vals = [float(v) for v in range(1, 13)] + [100.0]
    rows = [("a", v) for v in vals] + [("a", None)] * 5  # NULLs must not shift ranks
    df = spark.createDataFrame(rows, "g string, value double")
    out = iqr_outliers(df, "value", ["g"]).collect()
    assert [(r.g, r.value) for r in out] == [("a", 100.0)]
    assert out[0].fence_lo == -5.0 and out[0].fence_hi == 19.0

    # ungrouped mode
    glob = iqr_outliers(df.select("value"), "value").collect()
    assert [r.value for r in glob] == [100.0]


def test_rolling_stats_head_frames(spark):
    import datetime

    from pyveb_spark.operators.timeseries import rolling_stats

    t = lambda h: datetime.datetime(2024, 1, 1, h)
    df = spark.createDataFrame(
        [("a", t(i), i + 1) for i in range(5)], "k string, h timestamp, n long"
    )
    out = rolling_stats(df, "h", "n", keys=["k"], window=3).orderBy("h").collect()
    # frames grow to 3 then slide: sums 1,3,6,9,12; counts 1,2,3,3,3
    assert [r.mov_sum for r in out] == [1, 3, 6, 9, 12]
    assert [r.mov_n for r in out] == [1, 2, 3, 3, 3]
    assert out[3].mov_avg == 9 / 3


def test_bpe_merge_candidates_counts_and_tie_order(spark):
    from pyveb_spark.operators.text import bpe_merge_candidates

    df = spark.createDataFrame(
        [("abab zz",), ("ab a",)], "text string"
    )
    got = [(r.pair, r.n) for r in bpe_merge_candidates(df, top_k=10).collect()]
    # 'abab' -> ab,ba,ab ; 'zz' -> zz ; 'ab' -> ab ; 'a' -> none
    # counts: ab=3, ba=1, zz=1 ; ties (ba, zz) break lexicographically
    assert got == [("ab", 3), ("ba", 1), ("zz", 1)]


def test_ngram_count_table_and_guard(spark):
    from pyveb_spark.operators.text import ngram_count_table

    df = spark.createDataFrame(
        [("the cat sat on the mat",), ("the cat ran",), ("x",)], "text string"
    )
    bi = {r.gram: r.n_occurrences for r in ngram_count_table(df, n=2).collect()}
    assert bi["the cat"] == 2 and bi["cat sat"] == 1 and len(bi) == 6
    # short docs (< n tokens) contribute nothing; descending-sequence guard
    tri = {r.gram: r.n_occurrences
           for r in ngram_count_table(df, n=3, min_count=1).collect()}
    assert "the cat sat" in tri and "x" not in " ".join(tri)
    pruned = ngram_count_table(df, n=2, min_count=2).collect()
    assert [(r.gram, r.n_occurrences) for r in pruned] == [("the cat", 2)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ngram_count_table(df, n=0)


def test_bigram_lm_score_hand_computed(spark):
    """Pin the smoothing formula against a hand computation:
    P = (c2 + 0.1) / (c1 + 0.1 * V) with V=7 distinct corpus tokens."""
    import math

    from pyveb_spark.operators.text import bigram_lm_score

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ran"), (3, "x")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_score(df, min_count=1).collect()}
    V, a = 7, 0.1
    exp2 = (
        math.log((2 + a) / (3 + a * V))   # 'the cat': c2=2, c1('the')=3
        + math.log((1 + a) / (2 + a * V))  # 'cat ran': c2=1, c1('cat')=2
    ) / 2
    assert out[2].n_bigrams == 2
    assert abs(out[2].avg_logp - exp2) < 1e-12
    assert 3 not in out  # single-token doc: no bigrams, no score
    # pruning unseen bigrams exercises the smoothing floor: score drops
    pruned = {r.doc_id: r.avg_logp
              for r in bigram_lm_score(df, min_count=2).collect()}
    assert pruned[2] < out[2].avg_logp


def test_key_skew_profile_known_distribution(spark):
    from pyveb_spark.operators.profile import key_skew_profile

    # keys a..d with counts 1, 1, 2, 6 -> n_keys=4, n_rows=10, max=6
    rows = [("a",)] + [("b",)] + [("c",)] * 2 + [("d",)] * 6
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_profile(df, ["k"]).first()
    assert (r.n_keys, r.n_rows, r.max_n) == (4, 10, 6)
    # sorted counts [1,1,2,6]; p50 at rank ceil(2)=2 -> 1, p90/p99 at rank 4 -> 6
    assert (r.p50_n, r.p90_n, r.p99_n) == (1, 6, 6)
    # gini = 2*(1*1+2*1+3*2+4*6)/(4*10) - 5/4 = 2*33/40 - 1.25 = 0.4
    assert abs(r.gini - 0.4) < 1e-12

    # uniform distribution -> gini near 0
    uni = spark.createDataFrame([(str(i),) for i in range(10)] * 3, "k string")
    assert abs(key_skew_profile(uni, ["k"]).first().gini) < 1e-12


def test_quantile_bins_even_split_and_nulls(spark):
    from pyveb_spark.operators.profile import quantile_bins

    rows = [(i, float(i)) for i in range(10)] + [(99, None)]
    df = spark.createDataFrame(rows, "id int, v double")
    out = quantile_bins(df, "v", n_bins=5, tiebreak_cols=["id"]).collect()
    bins = {r.id: r.bin for r in out}
    assert 99 not in bins  # NULLs excluded, not bucketed
    # 10 values into 5 bins -> 2 each, in value order
    assert [bins[i] for i in range(10)] == [1, 1, 2, 2, 3, 3, 4, 4, 5, 5]


def test_pairwise_correlations_known_values(spark):
    from pyveb_spark.operators.profile import pairwise_correlations

    # y = 2x (corr 1), z anti-correlated with x (corr -1), w uncorrelated
    rows = [(1.0, 2.0, 3.0, 1.0), (2.0, 4.0, 2.0, 1.0),
            (3.0, 6.0, 1.0, 1.0), (4.0, 8.0, 0.0, 1.0)]
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    got = {(r.col_a, r.col_b): r.corr
           for r in pairwise_correlations(df, ["x", "y", "z"]).collect()}
    assert abs(got[("x", "y")] - 1.0) < 1e-12
    assert abs(got[("x", "z")] + 1.0) < 1e-12
    assert abs(got[("y", "z")] + 1.0) < 1e-12

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pairwise_correlations(df, ["x"])


def test_chunk_documents_stride_and_edges(spark):
    from pyveb_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(1, 11))), (2, "a b c"), (3, "")],
        "doc_id int, text string",
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=2).orderBy(
        "doc_id", "chunk_no"
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.tok_start, r.n_tokens, r.chunk_text))
    # 10 tokens, chunk 4, stride 2 -> starts 1,3,5,7; full coverage w/ overlap
    assert by_doc[1] == [
        (1, 4, "w1 w2 w3 w4"), (3, 4, "w3 w4 w5 w6"),
        (5, 4, "w5 w6 w7 w8"), (7, 4, "w7 w8 w9 w10"),
    ]
    assert by_doc[2] == [(1, 3, "a b c")]  # short doc: one remainder chunk
    assert 3 not in by_doc  # empty doc: no chunks

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_join_size_estimate_exact(spark):
    from pyveb_spark.operators.joins import join_size_estimate

    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k int")
    b = spark.createDataFrame([(1,), (2,), (2,), (9,)], "k int")
    r = join_size_estimate(a, b, ["k"]).first()
    # matches: k=1 -> 2*1, k=2 -> 1*2; k=3/k=9 unmatched
    assert (r.left_rows, r.right_rows, r.n_join_keys, r.est_rows) == (4, 4, 2, 4)
    assert a.join(b, "k").count() == r.est_rows  # estimate is EXACT
    # disjoint keys -> 0, not NULL
    c = spark.createDataFrame([(7,)], "k int")
    assert join_size_estimate(a, c, ["k"]).first().est_rows == 0


def test_pagerank_known_graphs(spark):
    from pyveb_spark.operators.graph import pagerank

    # symmetric 2-cycle: stationary at 0.5/0.5, invariant under iteration
    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    r = {x.node: x.rank for x in pagerank(cyc, iters=4).collect()}
    assert abs(r["a"] - 0.5) < 1e-12 and abs(r["b"] - 0.5) < 1e-12

    # chain with a dangling tail: hand-computed single iteration
    chain = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    r1 = {x.node: x.rank for x in pagerank(chain, iters=1).collect()}
    third = 1.0 / 3.0
    assert abs(r1["a"] - 0.05) < 1e-12                 # no in-edges: base only
    assert abs(r1["b"] - (0.05 + 0.85 * third)) < 1e-12
    assert abs(r1["c"] - (0.05 + 0.85 * third)) < 1e-12
    # dangling mass dropped -> total rank < 1 (documented simplification)
    assert sum(r1.values()) < 1.0


def test_triangle_counts_known_graphs(spark):
    from pyveb_spark.operators.graph import triangle_counts

    # K4 plus noise the canonicalizer must absorb: reversed duplicates and
    # a self-loop. K4 has 4 triangles; every node is in C(3,2) = 3.
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (2, 1), (4, 3),            # reversed duplicates
        (1, 1),                    # self-loop
    ]
    e = spark.createDataFrame(edges, "src int, dst int")
    r = {x.node: x.triangles for x in triangle_counts(e).collect()}
    assert r == {1: 3, 2: 3, 3: 3, 4: 3}

    # star graph: wedges everywhere, zero closures
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src int, dst int"
    )
    assert triangle_counts(star).count() == 0


def test_binary_auc_hand_computed(spark):
    from pyveb_spark.operators.profile import binary_auc

    # perfect separation -> 1.0; anti-separation -> 0.0
    rows = [(1.0, 1), (2.0, 1), (0.5, 0), (0.2, 0)]
    df = spark.createDataFrame(rows, "s double, y int")
    assert binary_auc(df, "s", "y").first().auc == 1.0
    flipped = df.selectExpr("s", "1 - y AS y")
    assert binary_auc(flipped, "s", "y").first().auc == 0.0

    # ties: pos scores {3,3,2}, neg {1,3} -> U = 1 + 2 + 0.5*2 = 4,
    # AUC = 4 / (3*2)
    rows = [(3, 1), (3, 1), (2, 1), (1, 0), (3, 0)]
    df = spark.createDataFrame(rows, "s int, y int")
    r = binary_auc(df, "s", "y").first()
    assert (r.n_pos, r.n_neg) == (3, 2)
    assert abs(r.auc - 4.0 / 6.0) < 1e-12

    # per-group + boolean Column label
    from pyspark.sql import functions as F
    rows = [("a", 5, "en"), ("a", 1, "fr"), ("b", 1, "en"), ("b", 5, "fr")]
    df = spark.createDataFrame(rows, "g string, s int, lang string")
    r = {
        x.g: x.auc
        for x in binary_auc(
            df, "s", F.col("lang") == F.lit("en"), ["g"]
        ).collect()
    }
    assert r == {"a": 1.0, "b": 0.0}


def test_ohlc_bars_known_series(spark):
    from pyspark.sql import functions as F
    from pyveb_spark.operators.timeseries import ohlc_bars

    rows = [
        # day 1, key a: open=10 (earliest), close=30 (latest), high=40, low=5
        ("a", "2020-01-01 00:05:00", 1, 10.0),
        ("a", "2020-01-01 06:00:00", 2, 40.0),
        ("a", "2020-01-01 12:00:00", 3, 5.0),
        ("a", "2020-01-01 23:00:00", 4, 30.0),
        # day 2, key a: single event -> all four equal
        ("a", "2020-01-02 01:00:00", 5, 7.0),
        # equal timestamps: tiebreak id decides open (id 6) and close (id 7)
        ("b", "2020-01-01 09:00:00", 6, 1.0),
        ("b", "2020-01-01 09:00:00", 7, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "k string, d string, id int, v double"
    ).select("k", F.col("d").cast("timestamp").alias("ts"), "id", "v")
    bars = {
        (r.k, str(r.bucket_start)): (r.open, r.high, r.low, r.close, r.n)
        for r in ohlc_bars(df, "ts", "v", "1 day", ["k"], ["id"]).collect()
    }
    assert bars[("a", "2020-01-01 00:00:00")] == (10.0, 40.0, 5.0, 30.0, 4)
    assert bars[("a", "2020-01-02 00:00:00")] == (7.0, 7.0, 7.0, 7.0, 1)
    assert bars[("b", "2020-01-01 00:00:00")] == (1.0, 2.0, 1.0, 2.0, 2)


def test_fuzzy_pairs_blocked(spark):
    from pyspark.sql import functions as F
    from pyveb_spark.operators.joins import fuzzy_pairs_blocked

    df = spark.createDataFrame(
        [(1, "red bolt"), (2, "rad bolt"), (3, "blue bolt"),
         (4, "red widget"),   # different block: never paired with bolts
         (5, "red bolt")],    # exact duplicate name, distinct id
        "id int, name string",
    )
    out = fuzzy_pairs_blocked(
        df, "name",
        [F.element_at(F.split(F.col("name"), " "), 2)],
        max_distance=2, id_cols=["id"],
    ).collect()
    pairs = {(r.a_name, r.b_name, r.a_id, r.b_id, r.dist) for r in out}
    # red~rad (dist 1) twice (ids 1,5 each vs 2), dup pair (dist 0),
    # blue~red dist 3 excluded, widget in another block
    assert pairs == {
        ("rad bolt", "red bolt", 2, 1, 1),
        ("rad bolt", "red bolt", 2, 5, 1),
        ("red bolt", "red bolt", 1, 5, 0),
    }


def test_build_vocab_and_encode(spark):
    from pyveb_spark.operators.text import build_vocab, encode_with_vocab

    docs = [(1, "b a b c"), (2, "a b zz")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    # counts: b=3, a=2, c=1, zz=1 -> vocab_size=3 keeps b,a,c (count desc,
    # token asc breaks the c/zz tie in favor of 'c')
    vocab = {r.token: (r.token_id, r.n)
             for r in build_vocab(df, 3).collect()}
    assert vocab == {"b": (0, 3), "a": (1, 2), "c": (2, 1)}

    v = build_vocab(df, 3)
    enc = {r.doc_id: (list(r.ids), r.n_tokens, r.oov_rate)
           for r in encode_with_vocab(df, v).collect()}
    assert enc[1] == ([0, 1, 0, 2], 4, 0.0)
    assert enc[2] == ([1, 0, -1], 3, 1.0 / 3.0)  # zz is OOV


def test_ewma_level_hand_computed(spark):
    from pyspark.sql import functions as F
    from pyveb_spark.operators.timeseries import ewma_level

    rows = [
        ("a", "2020-01-01", 10.0),
        ("a", "2020-01-02", 20.0),
        ("a", "2020-01-03", 0.0),
        ("b", "2020-01-01", 5.0),  # single point: level = the point
    ]
    df = spark.createDataFrame(rows, "k string, d string, v double").select(
        "k", F.col("d").cast("timestamp").alias("ts"), "v"
    )
    out = {r.k: (r.ewma, r.n_points) for r in
           ewma_level(df, ["k"], "ts", "v", alpha=0.5).collect()}
    # a: seed 10 -> 0.5*20+0.5*10 = 15 -> 0.5*0+0.5*15 = 7.5
    assert out["a"] == (7.5, 3)
    assert out["b"] == (5.0, 1)
    # rows arriving in reverse order fold identically (order from data)
    rev = df.orderBy(F.desc("ts"))
    out2 = {r.k: r.ewma for r in
            ewma_level(rev, ["k"], "ts", "v", alpha=0.5).collect()}
    assert out2 == {"a": 7.5, "b": 5.0}


def test_association_rules_hand_computed(spark):
    from pyveb_spark.operators.rules import association_rules

    # 4 baskets: {a,b}, {a,b}, {a,c}, {c}; duplicate (1,'a') row absorbed
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b"),
            (3, "a"), (3, "c"), (4, "c")]
    df = spark.createDataFrame(rows, "b int, it string")
    out = {(r.item_a, r.item_b): r for r in
           association_rules(df, "b", "it").collect()}
    ab = out[("a", "b")]
    assert (ab.n_pairs, ab.n_a, ab.n_b) == (2, 3, 2)
    assert ab.support == 2 / 4
    assert ab.conf_a_to_b == 2 / 3
    assert ab.conf_b_to_a == 2 / 2
    assert abs(ab.lift - (2 * 4) / (3 * 2)) < 1e-15
    ac = out[("a", "c")]
    assert ac.n_pairs == 1 and abs(ac.lift - (1 * 4) / (3 * 2)) < 1e-15
    # apriori prune: min_item_count=3 keeps only 'a' -> no pairs at all
    assert association_rules(df, "b", "it", min_item_count=3).count() == 0


def test_transition_matrix_hand_computed(spark):
    from pyspark.sql import functions as F
    from pyveb_spark.operators.funnel import transition_matrix

    rows = [  # user 1: a->b->a ; user 2: a->a ; user 3: lone event
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"),
        (2, 1, "a"), (2, 2, "a"),
        (3, 1, "b"),
    ]
    df = spark.createDataFrame(rows, "u int, t int, s string").select(
        "u", F.col("t").cast("timestamp").alias("ts"), "s"
    )
    out = {(r.from_state, r.to_state): (r.n, r.p) for r in
           transition_matrix(df, ["u"], "ts", "s").collect()}
    # from 'a': a->b once, a->a once  -> p = 0.5 each
    assert out[("a", "b")] == (1, 0.5)
    assert out[("a", "a")] == (1, 0.5)
    assert out[("b", "a")] == (1, 1.0)
    assert ("b", "b") not in out  # lone events produce no transition


def test_fk_orphan_stats_detects_and_clears(spark):
    from pyveb_spark.operators.profile import fk_orphan_stats

    child = spark.createDataFrame(
        [(1, "x"), (2, "y"), (9, "z"), (None, "n")], "fk int, v string"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
    out = {r.check_name: r for r in fk_orphan_stats([
        ("ok_and_orphan", child, ["fk"], parent, ["pk"]),
        ("all_ok", child.where("fk < 3"), ["fk"], parent, ["pk"]),
    ]).collect()}
    r = out["ok_and_orphan"]
    # 4 child rows, 1 NULL fk (not an orphan), 1 orphan (fk=9) of 3 checked
    assert (r.n_child, r.n_null_fk, r.n_checked, r.n_orphans) == (4, 1, 3, 1)
    assert abs(r.orphan_rate - 1.0 / 3.0) < 1e-15
    r2 = out["all_ok"]
    assert (r2.n_orphans, r2.orphan_rate) == (0, 0.0)


def test_weighted_sample_properties(spark):
    from pyveb_spark.operators.sampling import weighted_sample

    rows = [(i, "g", float(1 + i % 7)) for i in range(200)]
    rows += [(1000 + i, "h", 1.0) for i in range(5)]
    rows += [(2000, "g", 0.0), (2001, "g", None)]  # never sampled
    df = spark.createDataFrame(rows, "id long, g string, w double")

    kept = weighted_sample(df, 10, "w", ["id"], ["g"], seed="t")
    by_g = {g: [r.id for r in rs] for g, rs in (
        ("g", kept.where("g = 'g'").collect()),
        ("h", kept.where("g = 'h'").collect()),
    )}
    assert len(by_g["g"]) == 10
    assert sorted(by_g["h"]) == [1000, 1001, 1002, 1003, 1004]  # all 5 kept
    assert 2000 not in by_g["g"] and 2001 not in by_g["g"]
    # deterministic: identical keep-set on a differently-partitioned input
    kept2 = weighted_sample(
        df.repartition(7), 10, "w", ["id"], ["g"], seed="t"
    )
    assert sorted(r.id for r in kept2.collect()) == sorted(
        r.id for r in kept.collect()
    )
    # seed changes the sample
    kept3 = weighted_sample(df, 10, "w", ["id"], ["g"], seed="u")
    assert sorted(r.id for r in kept3.collect()) != sorted(
        r.id for r in kept.collect()
    )


def test_calibration_curve_hand_computed(spark):
    from pyveb_spark.operators.profile import calibration_curve

    # 4 rows, 2 bins: bin1 = scores {1,2} labels {1,0}; bin2 = {3,4},{1,1}
    rows = [(1, 1, 1), (2, 2, 0), (3, 3, 1), (4, 4, 1)]
    df = spark.createDataFrame(rows, "id int, s int, y int")
    out = {r.bin: (r.n, r.mean_score, r.n_pos, r.pos_rate) for r in
           calibration_curve(df, "s", "y", n_bins=2,
                             tiebreak_cols=["id"]).collect()}
    assert out[1] == (2, 1.5, 1, 0.5)
    assert out[2] == (2, 3.5, 2, 1.0)


def test_distinctive_terms_drops_universal_tokens(spark):
    from pyveb_spark.operators.text import distinctive_terms

    docs = [
        ("a", "the the code code code the the"),
        ("b", "the the news news news the the"),
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    out = {(r.grp, r.token): (r.tf_g, r.gf) for r in
           distinctive_terms(df, "source", "text", top_k=5).collect()}
    # 'the' is in both groups -> ln(2/2) = 0 -> dropped everywhere
    assert ("a", "the") not in out and ("b", "the") not in out
    assert out[("a", "code")] == (3, 1)
    assert out[("b", "news")] == (3, 1)


def test_cohort_retention_hand_computed(spark):
    from pyspark.sql import functions as F
    from pyveb_spark.operators.funnel import cohort_retention

    # Mondays: 2020-01-06 (w0) and 2020-01-13 (w1)
    rows = [
        (1, "2020-01-06"), (1, "2020-01-14"),   # cohort w0, active w0+w1
        (2, "2020-01-07"),                       # cohort w0, w0 only
        (3, "2020-01-13"),                       # cohort w1
    ]
    df = spark.createDataFrame(rows, "u int, d string").select(
        "u", F.col("d").cast("timestamp").alias("ts")
    )
    out = {(str(r.cohort)[:10], r.period_offset):
           (r.n_active, r.cohort_size, r.retention)
           for r in cohort_retention(df, "u", "ts", "week").collect()}
    assert out[("2020-01-06", 0)] == (2, 2, 1.0)
    assert out[("2020-01-06", 1)] == (1, 2, 0.5)
    assert out[("2020-01-13", 0)] == (1, 1, 1.0)


def test_mutual_information_known_values(spark):
    import math

    from pyveb_spark.operators.profile import mutual_information

    # perfectly dependent: y == x -> MI = H(X) = ln 2 for a 50/50 split
    dep = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")], "x string, y string"
    )
    r = mutual_information(dep, "x", "y").first()
    assert (r.n, r.n_x, r.n_y, r.n_cells) == (4, 2, 2, 2)
    assert abs(r.mi - math.log(2)) < 1e-12

    # independent uniform 2x2 -> MI = 0
    ind = spark.createDataFrame(
        [("a", "u"), ("a", "v"), ("b", "u"), ("b", "v")], "x string, y string"
    )
    assert abs(mutual_information(ind, "x", "y").first().mi) < 1e-12


def test_trend_fit_known_line(spark):
    from pyveb_spark.operators.timeseries import trend_fit

    # exact line y = 2x + 1 -> slope 2, intercept 1, r2 = 1
    rows = [("a", i, 2.0 * i + 1.0) for i in range(10)]
    # noisy flat series -> slope ~0, r2 small
    rows += [("b", i, 5.0 if i % 2 else 4.0) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, x int, y double")
    out = {r.k: r for r in trend_fit(df, ["k"], "x", "y").collect()}
    a = out["a"]
    assert a.n == 10
    assert abs(a.slope - 2.0) < 1e-9
    assert abs(a.intercept - 1.0) < 1e-9
    assert abs(a.r2 - 1.0) < 1e-9
    assert abs(out["b"].slope) < 0.2 and out["b"].r2 < 0.5


def test_correlation_pca_matches_numpy(spark):
    import numpy as np

    from pyveb_spark.operators.profile import correlation_pca

    rng = np.random.RandomState(7)
    base = rng.randn(300)
    X = np.stack([
        base + 0.1 * rng.randn(300),        # a, b strongly correlated
        base + 0.1 * rng.randn(300),
        rng.randn(300),                     # c independent
    ], axis=1).round(2)
    df = spark.createDataFrame(
        [tuple(map(float, r)) for r in X], "a double, b double, c double"
    )
    r = correlation_pca(df, ["a", "b", "c"], iters=20).first()
    C = np.corrcoef(X.round(2).T)
    evals, evecs = np.linalg.eigh(C)
    top = evecs[:, -1] * (1 if evecs[0, -1] >= 0 else -1)
    got = np.array([r.loading_a, r.loading_b, r.loading_c])
    # power iteration converges linearly at rate λ2/λ1 ≈ 0.5: 20 iters
    # puts the vector within ~1e-6 and the Rayleigh quotient far closer
    assert abs(r.eigenvalue - evals[-1]) < 1e-8
    assert np.allclose(got, top, atol=1e-5)
    # the correlated pair dominates the component
    assert abs(r.loading_a) > abs(r.loading_c)


def test_pr_curve_hand_computed(spark):
    from pyveb_spark.operators.profile import pr_curve

    # scores desc: 3(pos), 2(neg), 1(pos)
    rows = [(3, 1), (2, 0), (1, 1)]
    df = spark.createDataFrame(rows, "s int, y int")
    out = {r.threshold: (r.n_pred, r.tp, r.precision, r.recall)
           for r in pr_curve(df, "s", "y").collect()}
    assert out[3] == (1, 1, 1.0, 0.5)
    assert out[2] == (2, 1, 0.5, 0.5)
    assert out[1] == (3, 2, 2.0 / 3.0, 1.0)
    # f1 at full recall
    r1 = [r for r in pr_curve(df, "s", "y").collect() if r.threshold == 1][0]
    p, rec = 2.0 / 3.0, 1.0
    assert abs(r1.f1 - 2 * p * rec / (p + rec + 1e-300)) < 1e-15


def test_dhash_images_parses_real_bytes(spark):
    """The dHash kernel must read the BMP for REAL: header offsets,
    bottom-up row order, stride — verified against the arithmetic
    reference of the shared _pix formula, plus a top-down (negative
    height) variant the generator never emits."""
    from pyspark.sql import functions as F
    from pyveb_spark.operators.multimodal import (
        DHASH_BITS,
        dhash_images,
        synth_bmp_pixels,
    )

    def pix(seed, x, y):
        return ((seed + 1) * (x + 3) * (y + 5) * 17) % 256

    def ref(seed):
        v = 0
        for y in range(8):
            for x in range(8):
                bit = y * 8 + x
                if bit >= DHASH_BITS:
                    continue
                if pix(seed, x + 1, y) > pix(seed, x, y):
                    v |= 1 << bit
        return v

    df = spark.createDataFrame(
        [(i, i % 5) for i in range(10)], "doc_id long, seed int"
    )
    bmp = df.select(
        "doc_id", synth_bmp_pixels(F.col("seed")).alias("payload")
    )
    out = {r.doc_id: r.dhash
           for r in dhash_images(bmp, "doc_id", "payload").collect()}
    assert out == {i: ref(i % 5) for i in range(10)}

    # top-down BMP (negative height): same image content, same hash
    row = bmp.where("doc_id = 0").first()
    b = bytearray(bytes(row.payload))
    h = int.from_bytes(b[22:26], "little")
    b[22:26] = (-h).to_bytes(4, "little", signed=True)
    # flip the pixel rows so top-down content equals the bottom-up image
    off, stride = 54, 28
    rows = [bytes(b[off + r * stride: off + (r + 1) * stride])
            for r in range(8)]
    b[off:off + 8 * stride] = b"".join(reversed(rows))
    td = spark.createDataFrame([(99, bytes(b))], "doc_id long, payload binary")
    assert dhash_images(td, "doc_id", "payload").first().dhash == ref(0)


def test_hamming_pairs_generalized(spark):
    from pyveb_spark.operators.dedup import hamming_pairs

    rows = [(1, 0b1111), (2, 0b1110), (3, 0b0000), (4, 0b1111)]
    df = spark.createDataFrame(rows, "id long, h long")
    out = {(r.id_a, r.id_b): r.hamming
           for r in hamming_pairs(df, "id", "h", max_hamming=2,
                                  bands=4, bits=60).collect()}
    # 1-2 differ by 1 bit, 1-4 identical, 2-4 by 1; 3 is ≥3 bits from all
    assert out == {(1, 2): 1, (1, 4): 0, (2, 4): 1}


def test_reconcile_tables_hand_computed(spark):
    from pyveb_spark.operators.profile import reconcile_tables

    left = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
        "k int, v string, w double",
    )
    right = spark.createDataFrame(
        [(2, "B", 20.0),      # v differs, w equal
         (3, None, 30.0),     # identical incl. NULL (null-safe equal)
         (4, "d", 40.0)],     # right-only
        "k int, v string, w double",
    )
    out = {r.col_name: r for r in
           reconcile_tables(left, right, ["k"]).collect()}
    v = out["v"]
    assert (v.n_left, v.n_right, v.n_both) == (3, 3, 2)
    assert (v.n_only_left, v.n_only_right) == (1, 1)
    assert (v.n_equal, v.n_diff) == (1, 1)
    assert v.match_rate == 0.5
    w = out["w"]
    assert (w.n_equal, w.n_diff, w.match_rate) == (2, 0, 1.0)


def test_ab_proportion_test_hand_computed(spark):
    import math

    from pyveb_spark.operators.profile import ab_proportion_test

    # a: 4 trials 1 success; b: 4 trials 3 successes
    rows = [("a", 1), ("a", 0), ("a", 0), ("a", 0),
            ("b", 1), ("b", 1), ("b", 1), ("b", 0),
            ("c", 1)]  # unknown variant rows are excluded
    df = spark.createDataFrame(rows, "variant string, y int")
    r = ab_proportion_test(df, "variant", "y").first()
    assert (r.n_a, r.x_a, r.n_b, r.x_b) == (4, 1, 4, 3)
    assert r.rate_a == 0.25 and r.rate_b == 0.75
    pooled = 4 / 8
    se = math.sqrt(pooled * (1 - pooled) * (1 / 4 + 1 / 4))
    assert abs(r.z - (0.75 - 0.25) / se) < 1e-12


def test_bpe_train_hand_computed_merges(spark):
    """Pin the full greedy merge loop against the classic hand example:
    corpus 'low low lower' -> merges (l,o)x3 [tie with (o,w) broken
    lexicographically], (lo,w)x3, then (e,r) [tie with (low,e)]."""
    from pyveb_spark.operators.text import bpe_train

    df = spark.createDataFrame([("low low",), ("lower",)], "text string")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_train(df, num_merges=3).orderBy("merge_rank").collect()
    ]
    assert got == [
        (0, "l", "o", "lo", 3),
        (1, "lo", "w", "low", 3),
        (2, "e", "r", "er", 1),
    ]
    # exhausting the pair supply stops early instead of erroring
    tiny = spark.createDataFrame([("ab",)], "text string")
    from pyveb_spark.operators.text import bpe_train as bt

    few = bt(tiny, num_merges=5).collect()
    assert len(few) == 1 and few[0].merged == "ab"
    with pytest.raises(ValueError):
        bpe_train(df, num_merges=0)


def test_label_propagation_two_triangles(spark):
    """Two triangles bridged by one edge resolve into two communities
    under the deterministic (vote desc, label asc) tie-break."""
    from pyveb_spark.operators.graph import label_propagation

    und = [("a", "b"), ("a", "c"), ("b", "c"),
           ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "src string, dst string"
    )
    got = {
        r.node: r.community
        for r in label_propagation(edges, iters=4).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "c", "e": "c", "f": "c"}
    # isolated node (self-loop only graph edge case): keeps its own label
    solo = spark.createDataFrame([("z", "z")], "src string, dst string")
    assert label_propagation(solo, iters=2).collect()[0].community == "z"


def test_sq8_encode_and_ann_rerank(spark):
    from pyveb_spark.operators.similarity import (
        sq8_ann,
        sq8_encode,
        sq8_stats,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 10.0]), (3, [2.0, 20.0])],
        "vec_id long, embedding array<double>",
    )
    stats = sq8_stats(df)
    assert stats == [(0.0, 2.0), (0.0, 20.0)]
    codes = {
        r.vec_id: list(r.code) for r in sq8_encode(df, stats).collect()
    }
    # (1-0)*255/2 = 127.5 -> HALF_UP 128; endpoints hit 0 / 255 exactly
    assert codes == {1: [0, 0], 2: [128, 128], 3: [255, 255]}
    # degenerate dimension (hi == lo) encodes 0, not a div-by-zero
    flat = spark.createDataFrame(
        [(1, [5.0, 1.0]), (2, [5.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    fstats = sq8_stats(flat)
    fcodes = {r.vec_id: list(r.code) for r in sq8_encode(flat, fstats).collect()}
    assert fcodes[1][0] == 0 and fcodes[2][0] == 0
    # ann: exact re-rank returns the true top-k
    basis = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = [r.vec_id for r in sq8_ann(basis, [1.0, 0.0], k=2).collect()]
    assert got == [1, 3]


def test_bloom_no_false_negatives_and_portable_bits(spark):
    """The membership contract plus the md5 bit arithmetic replicated in
    plain Python — every probe's hit equals the hand-computed value."""
    import hashlib

    from pyveb_spark.operators.sketches import bloom_build, bloom_probe

    m, h = 256, 3
    members = ["apple", "banana", "cherry"]
    probes = members + ["durian", "elderberry", "fig", "grape"]

    def positions(key):
        return {
            int(hashlib.md5(f"bf{i}|{key}".encode()).hexdigest()[:12], 16)
            % m
            for i in range(h)
        }

    member_bits = set().union(*[positions(k) for k in members])
    mdf = spark.createDataFrame([(k,) for k in members], "k string")
    pdf = spark.createDataFrame([(k,) for k in probes], "k string")
    bloom = bloom_build(mdf, "k", num_bits=m, num_hashes=h)
    assert all(r.word_idx < (m + 62) // 63 for r in bloom.collect())
    got = {
        r.k: r.bloom_hit
        for r in bloom_probe(pdf, bloom, "k", num_bits=m, num_hashes=h).collect()
    }
    for k in probes:
        expected = 1 if positions(k) <= member_bits else 0
        assert got[k] == expected, k
    assert all(got[k] == 1 for k in members)  # no false negatives, ever


def test_winsorize_nearest_rank_bounds(spark):
    from pyveb_spark.operators.profile import winsorize

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 11)] + [("g", None)],
        "k string, v double",
    )
    out = winsorize(df, "v", ["k"], lo_pct=10, hi_pct=90)
    rows = {r.v: r for r in out.collect() if r.v is not None}
    # k_lo = ceil(10*10/100) = 1 -> bound 1.0 ; k_hi = ceil(900/100)=9 -> 9.0
    assert rows[1.0]["__lo"] == 1.0
    assert rows[1.0]["__hi"] == 9.0
    assert rows[10.0].v_winsorized == 9.0
    assert rows[5.0].v_winsorized == 5.0
    # NULL passes through unclipped
    nulls = [r for r in out.collect() if r.v is None]
    assert len(nulls) == 1 and nulls[0].v_winsorized is None
    # a group that is ALL NULLs has no bounds row — its rows must
    # survive (left join), not silently drop
    withnull = df.unionByName(
        spark.createDataFrame([("h", None), ("h", None)], "k string, v double")
    )
    hrows = [
        r for r in winsorize(withnull, "v", ["k"]).collect() if r.k == "h"
    ]
    assert len(hrows) == 2 and all(r.v_winsorized is None for r in hrows)


def test_validate_expectations_one_pass_counts(spark):
    from pyveb_spark.operators.profile import validate_expectations

    df = spark.createDataFrame(
        [(1, "ok", 5.0), (2, "ok", 50.0), (2, "bad", None), (None, "ok", 7.0)],
        "id int, status string, x double",
    )
    out = {
        (r.rule, r.column): (r.n_violations, r.passed)
        for r in validate_expectations(
            df,
            [
                ("not_null", "id"),
                ("unique", "id"),
                ("accepted_values", "status", ["ok"]),
                ("between", "x", 0.0, 10.0),
                ("row_count_between", 1, 3),
            ],
        ).collect()
    }
    assert out[("not_null", "id")] == (1, False)
    assert out[("unique", "id")] == (1, False)  # 3 non-null, 2 distinct
    assert out[("accepted_values", "status")] == (1, False)
    assert out[("between", "x")] == (1, False)  # 50.0; NULL not counted
    assert out[("row_count_between", "*")] == (1, False)  # 4 rows > 3
    with pytest.raises(ValueError):
        validate_expectations(df, [("no_such_rule", "id")])


def test_bpe_apply_round_trips_training(spark):
    """Applying the learned merges reproduces training's final
    segmentation: 'low lower' under merges (l,o),(lo,w),(e,r) tokenizes
    to [low] and [low, er]."""
    from pyveb_spark.operators.text import bpe_apply, bpe_train

    corpus = spark.createDataFrame([("low low",), ("lower",)], "text string")
    merges = [
        (r.left_sym, r.right_sym)
        for r in bpe_train(corpus, num_merges=3).orderBy("merge_rank").collect()
    ]
    doc = spark.createDataFrame([("low lower",)], "text string")
    out = bpe_apply(doc, merges).collect()[0]
    assert list(out.bpe_tokens) == ["low", "low", "er"]
    # unmerged unseen characters stay as single symbols
    unseen = bpe_apply(
        spark.createDataFrame([("xyz",)], "text string"), merges
    ).collect()[0]
    assert list(unseen.bpe_tokens) == ["x", "y", "z"]


def test_gopher_rules_each_rule_fires(spark):
    from pyveb_spark.operators.text import gopher_quality_filter

    good = "the cats sat near the mats and it was good to rest in sunny fields " * 3
    docs = spark.createDataFrame(
        [
            (1, good.strip()),                    # passes everything
            (2, "short doc only"),                # fails word count
            (3, ("a " * 60).strip()),             # fails mean word len (1.0)
            (4, ("1234 " * 60).strip()),          # fails alpha fraction
            (5, ("xyzzy " * 60).strip()),         # fails stopword minimum
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in gopher_quality_filter(docs, min_words=20).collect()
    }
    assert out[1].keep
    assert not out[2].rule_word_count and not out[2].keep
    assert not out[3].rule_word_len and not out[3].keep
    assert not out[4].rule_alpha and not out[4].keep
    assert out[5].rule_alpha and not out[5].rule_stopwords and not out[5].keep


def test_mlm_mask_deterministic_and_rate(spark):
    import hashlib

    from pyveb_spark.operators.text import mlm_mask

    docs = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(200)))],
        "doc_id long, text string",
    )
    out = mlm_mask(docs, rate_pct=15).collect()[0]
    toks = out.masked_text.split(" ")

    def should_mask(doc_id, pos):
        h = int(hashlib.md5(f"{doc_id}|{pos}".encode()).hexdigest()[:12], 16)
        return h % 100 < 15

    expected = [
        "<mask>" if should_mask(7, i) else f"w{i}" for i in range(200)
    ]
    assert toks == expected  # bit-for-bit the hash schedule, 0-based
    assert out.n_masked == sum(t == "<mask>" for t in expected)
    # two runs agree (no RNG state) and rate lands near 15%
    again = mlm_mask(docs, rate_pct=15).collect()[0]
    assert again.masked_text == out.masked_text
    assert 0.05 < out.n_masked / 200 < 0.30


def test_hard_negative_mining_excludes_same_label(spark):
    from pyveb_spark.operators.similarity import hard_negative_mining

    rows = [
        (0, [1.0, 0.0], 0),   # query
        (1, [1.0, 0.01], 0),  # same label: nearest but NOT a negative
        (2, [1.0, 0.1], 1),   # hard negative (closest other-label)
        (3, [0.0, 1.0], 1),   # easy negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = hard_negative_mining(
        df.where(F.col("vec_id") == 0), df, k=2
    ).collect()
    assert [(r.neg_id, r.rank) for r in got] == [(2, 1), (3, 2)]
    assert all(r.neg_label != 0 for r in got)


def test_shard_assign_deterministic_and_bounds(spark):
    from pyveb_spark.operators.sampling import shard_assign

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    a = {r.doc_id: r.shard for r in shard_assign(df, 8, ["doc_id"]).collect()}
    b = {r.doc_id: r.shard for r in shard_assign(df, 8, ["doc_id"]).collect()}
    assert a == b                       # pure function of the key
    assert set(a.values()) <= set(range(8))
    assert len(set(a.values())) > 1     # actually spreads
    one = shard_assign(df, 1, ["doc_id"]).select("shard").distinct().collect()
    assert [r.shard for r in one] == [0]
    with pytest.raises(ValueError):
        shard_assign(df, 0, ["doc_id"])


def test_cross_source_overlap_hand_computed(spark):
    from pyveb_spark.operators.dedup import cross_source_overlap

    docs = spark.createDataFrame(
        [("s1", "a b c d"), ("s2", "a b x y"), ("s3", "zz qq")],
        "source string, text string",
    )
    got = cross_source_overlap(
        docs, "source", "text", chunk_tokens=2
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.group_a, r.group_b, r.shared_chunks) == ("s1", "s2", 1)
    assert r.chunks_a == 2 and r.chunks_b == 2
    assert abs(r.jaccard - round(1 / 3, 6)) < 1e-9


def test_k_anonymity_classes_and_guard(spark):
    from pyveb_spark.operators.profile import k_anonymity

    df = spark.createDataFrame(
        [("us", "a"), ("us", "a"), ("us", "a"), ("de", "b"), (None, "b")],
        "country string, seg string",
    )
    got = {
        (r.country, r.seg): (r.class_size, r.at_risk)
        for r in k_anonymity(df, ["country", "seg"], k=2).collect()
    }
    assert got[("us", "a")] == (3, False)
    assert got[("de", "b")] == (1, True)
    assert got[(None, "b")] == (1, True)  # NULL is its own class
    with pytest.raises(ValueError):
        k_anonymity(df, ["country"], k=0)


def test_audio_fingerprint_parses_real_wav_bytes(spark):
    """The kernel must parse the RIFF layout for real: its fingerprint
    equals a plain-Python replay of the generator arithmetic, and
    identical seeds collide while different seeds (generally) do not."""
    from pyveb_spark.operators.multimodal import (
        AFP_BITS,
        AFP_FRAMES,
        AFP_SAMPLES,
        fingerprint_audio,
        synth_wav_samples,
    )
    from pyspark.sql import functions as F2

    d = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 0), (3, 5)], "doc_id long, seed int"
    )
    wav = d.select(
        "doc_id", synth_wav_samples(F2.col("seed")).alias("payload")
    )
    raw = {r.doc_id: bytes(r.payload) for r in wav.collect()}
    assert raw[0][:4] == b"RIFF" and raw[0][36:40] == b"data"
    assert len(raw[0]) == 44 + AFP_SAMPLES * 2

    def py_fp(seed):
        frame_len = AFP_SAMPLES // AFP_FRAMES
        def amp(k):
            lo = ((seed + 2) * (k + 3) * 17) % 256
            hi = ((seed + 3) * (k + 5) * 13) % 256
            v = lo + 256 * hi
            return abs(v - 65536 if v >= 32768 else v)
        e = [
            sum(amp(f * frame_len + j) for j in range(frame_len))
            for f in range(AFP_FRAMES)
        ]
        return sum(
            1 << f for f in range(AFP_BITS) if e[f + 1] > e[f]
        )

    got = {
        r.doc_id: r.afp
        for r in fingerprint_audio(wav, "doc_id", "payload").collect()
    }
    assert got == {0: py_fp(0), 1: py_fp(1), 2: py_fp(0), 3: py_fp(5)}
    assert got[0] == got[2] and got[0] != got[1]


def test_cache_slots_reuse_identical_plans_and_evict_new_ones(spark):
    """``cached_once`` keeps one frame per slot: an identical repeated
    call reuses it, a call on new input unpersists it, so repeated
    ``ngram_jaccard_pairs`` calls on three inputs leave one cached frame
    in each of its two slots. A renamed input is a new plan."""
    from pyveb_spark.operators import cache
    from pyveb_spark.operators.dedup import ngram_jaccard_pairs

    slots = ("dedup.pairs.shingle_sets", "dedup.ngram_jaccard_pairs.prefixes")
    words = [f"w{i}" for i in range(30)]

    def docs(shift):
        texts = [" ".join(words[s + shift:s + shift + 12]) for s in (0, 6)]
        return spark.createDataFrame(
            [(1, texts[0]), (2, texts[0] + " x"), (3, texts[1])],
            "doc_id long, text string",
        )

    try:
        first = docs(0)
        pairs = ngram_jaccard_pairs(first, "doc_id", "text").collect()
        assert [(r.doc_id_a, r.doc_id_b) for r in pairs] == [(1, 2)]
        held = {s: cache._SLOTS[s] for s in slots}
        ngram_jaccard_pairs(first, "doc_id", "text").collect()
        assert all(cache._SLOTS[s] is held[s] for s in slots)
        assert all(held[s].storageLevel.useMemory for s in slots)

        seen = {s: [held[s]] for s in slots}
        for shift in (1, 2):
            ngram_jaccard_pairs(docs(shift), "doc_id", "text").collect()
            for s in slots:
                seen[s].append(cache._SLOTS[s])
        for s in slots:
            *old, live = seen[s]
            assert len({id(f) for f in seen[s]}) == 3
            assert live.storageLevel.useMemory
            assert not any(
                f.storageLevel.useMemory or f.storageLevel.useDisk
                for f in old
            )
        # sameResult ignores output names: a renamed input is a new frame
        r = spark.range(3)
        for name in ("a", "b"):
            got = cache.cached_once(r.withColumnRenamed("id", name), slots[0])
            assert got.columns == [name]
    finally:
        for s in slots:
            cache.clear_slot(s)
