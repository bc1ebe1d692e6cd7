"""Streaming tests (SURVEY §5.4): the events table replayed as a file
stream; window counts must equal the batch computation; foreachBatch upsert
must equal the batch merge; stateful dedup across micro-batches."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pyveb_spark.sinks.merge import ParquetMergeSink
from pyveb_spark.sources.readers import read_table
from pyveb_spark.streaming import (
    foreach_batch_upsert,
    read_file_stream,
    run_available_now,
    stateful_dedup,
    windowed_agg,
)


@pytest.fixture(scope="module")
def events_dir(spark):
    """sf0.001 events re-staged as multiple parquet drops (a file stream)."""
    tmp = tempfile.mkdtemp()
    src = read_table(spark, "/root/testdata/sf0.001", "events")
    # 4 drops ≈ 4 micro-batches with maxFilesPerTrigger=1
    src.repartition(4).write.mode("overwrite").parquet(os.path.join(tmp, "drops"))
    schema = src.schema
    return os.path.join(tmp, "drops"), schema


def test_stream_window_counts_equal_batch(spark, events_dir):
    path, schema = events_dir
    stream = read_file_stream(spark, path, schema, max_files_per_trigger=1)
    # no watermark: the drops are in random time order, so a watermark would
    # (correctly) drop late rows — that behavior is pinned separately in
    # test_watermark_drops_late_events
    windowed = windowed_agg(
        stream,
        ts_col="ts",
        window_duration="1 day",
        aggs={"n_events": F.count(F.lit(1))},
        group_by=["event_type"],
    )
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            windowed, os.path.join(ckpt, "ck"), output_mode="complete",
            fmt="memory", query_name="win_counts",
        )
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = read_table(spark, "/root/testdata/sf0.001", "events")
    expected = {
        (r.w.start, r.event_type): r.n
        for r in batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_watermark_drops_late_events(spark):
    """Deterministic late-data drop via two sequential AvailableNow passes
    over one checkpoint (watermark state persists across restarts):

    pass 1: Jan-1 00:10 event + Jan-3 12:00 event → watermark advances to
            Jan-3 11:00, closing the day-1 window with count 1.
    pass 2: late Jan-1 00:30 event — behind the persisted watermark → must
            be dropped (day-1 window already emitted, never re-emitted).
    """
    tmp = tempfile.mkdtemp()
    drops = os.path.join(tmp, "drops")
    ck = os.path.join(tmp, "ck")
    schema = "event_id long, ts timestamp, event_type string"

    def _write(rows, sub):
        spark.createDataFrame(rows, "event_id long, ts_s string, event_type string").select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
        ).coalesce(1).write.parquet(os.path.join(drops, sub))

    out = os.path.join(tmp, "out")

    def _run():
        stream = read_file_stream(spark, drops + "/*", schema)
        windowed = windowed_agg(
            stream, ts_col="ts", window_duration="1 day",
            aggs={"n_events": F.count(F.lit(1))}, watermark="1 hour",
        )
        run_available_now(
            windowed, ck, output_mode="append", fmt="parquet", path=out
        )
        return spark.read.parquet(out).collect()

    _write([(1, "2024-01-01 00:10:00", "click"), (2, "2024-01-03 12:00:00", "click")], "d0")
    rows1 = _run()
    day1 = [r for r in rows1 if r.window_start.day == 1]
    assert len(day1) == 1 and day1[0].n_events == 1  # day-1 window closed

    _write([(3, "2024-01-01 00:30:00", "click")], "d1")
    rows2 = _run()
    # the late Jan-1 event is behind the watermark: the day-1 window was
    # emitted once (count 1) and never re-emitted or corrected
    day1_after = [r for r in rows2 if r.window_start.day == 1]
    assert len(day1_after) == 1 and day1_after[0].n_events == 1


def test_foreach_batch_upsert_equals_batch_merge(spark, events_dir):
    path, schema = events_dir
    stream = read_file_stream(spark, path, schema, max_files_per_trigger=1)
    with tempfile.TemporaryDirectory() as tmp:
        sink = ParquetMergeSink(spark, os.path.join(tmp, "tbl"))
        run_available_now(
            stream,
            os.path.join(tmp, "ck"),
            foreach_batch=foreach_batch_upsert(sink, keys=["event_id"]),
            output_mode="append",
        )
        batch = read_table(spark, "/root/testdata/sf0.001", "events")
        assert sink.read().count() == batch.count()
        # spot-check content equality via checksum of event_ids
        s = sink.read().agg(F.sum("event_id")).first()[0]
        b = batch.agg(F.sum("event_id")).first()[0]
        assert s == b


def test_stateful_dedup_across_batches(spark, events_dir):
    path, schema = events_dir
    stream = read_file_stream(spark, path, schema, max_files_per_trigger=1)
    deduped = stateful_dedup(stream, keys=["user_id"])  # heavy dup key
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            deduped, os.path.join(ckpt, "ck"), output_mode="append",
            fmt="memory", query_name="dedup_out",
        )
    n = spark.sql("SELECT count(DISTINCT user_id) c, count(*) n FROM dedup_out").first()
    assert n.c == n.n  # exactly one row per user survived across batches


def test_stateful_running_totals_accumulate_across_batches(spark, events_dir):
    """applyInPandasWithState custom operator: final per-key state after a
    multi-batch replay equals the batch aggregate."""
    from pyveb_spark.streaming.stream import stateful_running_totals

    path, schema = events_dir
    stream = read_file_stream(spark, path, schema, max_files_per_trigger=1)
    totals = stateful_running_totals(stream, keys=["user_id"], value_col="value")
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            totals, os.path.join(ckpt, "ck"), output_mode="update",
            fmt="memory", query_name="run_totals",
        )
    # update mode re-emits a key on every batch that touches it; the row
    # with the highest n_events per key is the final state
    emitted = spark.sql("SELECT * FROM run_totals").collect()
    assert len(emitted) > 0
    final = {}
    for r in emitted:
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r
    batch = (
        read_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
    )
    for r in batch.collect():
        got = final[r.user_id]
        assert got.n_events == r.n
        assert abs(got.total_value - r.t) < 1e-6


def test_stream_maintained_sketch_equals_batch_estimate(spark, events_dir):
    """Composition: foreachBatch maintains a per-event-type HLL sketch
    table across micro-batches (merge = union of sketches); the final
    rollup must equal the single-pass batch estimate — the incremental
    metrics-pipeline pattern that replaces nightly full recomputes."""
    from pyveb_spark.operators.sketches import hll_partial, hll_rollup
    from pyveb_spark.streaming import run_available_now

    path, schema = events_dir
    stream = read_file_stream(spark, path, schema, max_files_per_trigger=1)
    state: dict[str, object] = {"table": None}

    def merge_batch(batch_df, batch_id):
        part = hll_partial(batch_df, ["event_type"], "user_id")
        prev = state["table"]
        if prev is None:
            merged = part
        else:
            merged = (
                prev.unionByName(part)
                .groupBy("event_type")
                .agg(F.hll_union_agg("sketch").alias("sketch"))
            )
        # localCheckpoint: materialize the tiny sketch table so state
        # doesn't chain lineage across micro-batches
        state["table"] = merged.localCheckpoint()

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", os.path.join(ckpt, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = {
        r.event_type: r.approx_users
        for r in hll_rollup(
            state["table"], ["event_type"], out_col="approx_users"
        ).collect()
    }
    batch = read_table(spark, "/root/testdata/sf0.001", "events")
    exact = {
        r.event_type: r.n
        for r in batch.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        # lgK=12 → ~1.6% RSE; allow 5 sigma
        assert abs(est - exact[k]) <= max(3, 0.08 * exact[k]), (k, est, exact[k])


def test_stream_enrich_equals_batch_join(spark, events_dir):
    """Stream-static enrichment: per-micro-batch broadcast join against a
    static dimension must equal the batch join, including left-outer NULLs
    for unmatched keys."""
    from pyveb_spark.streaming import stream_enrich

    path, schema = events_dir
    dim = spark.createDataFrame(
        [(u, "tier_%d" % (u % 3)) for u in range(0, 50, 2)],
        "user_id bigint, tier string",
    )
    enriched = stream_enrich(
        read_file_stream(spark, path, schema, max_files_per_trigger=1),
        dim,
        keys=["user_id"],
    ).select("event_id", "user_id", "tier")
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            enriched, os.path.join(ckpt, "ck"), output_mode="append",
            fmt="memory", query_name="enriched_stream",
        )
    got = {
        tuple(r)
        for r in spark.sql("SELECT * FROM enriched_stream").collect()
    }
    batch = read_table(spark, "/root/testdata/sf0.001", "events")
    expected = {
        tuple(r)
        for r in batch.join(dim, ["user_id"], "left")
        .select("event_id", "user_id", "tier")
        .collect()
    }
    assert got == expected and len(got) > 0
    # both matched and unmatched (NULL-tier) rows must exist for the
    # equivalence to be meaningful
    assert any(t[2] is None for t in got)
    assert any(t[2] is not None for t in got)


def test_stream_interval_join_equals_batch(spark, events_dir):
    from pyveb_spark.streaming import stream_interval_join

    path, schema = events_dir
    # clicks → purchases by the same user within 2 days (attribution)
    def split(df):
        clicks = df.where(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("ts_click"),
            F.col("event_id").alias("click_id"),
        )
        buys = df.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("ts_buy"),
            F.col("event_id").alias("buy_id"),
        )
        return clicks, buys

    s_clicks, s_buys = split(read_file_stream(spark, path, schema))
    joined = stream_interval_join(
        s_clicks, s_buys, keys=["user_id"],
        left_ts="ts_click", right_ts="ts_buy",
        max_delay="2 days", watermark="1 day",
    ).select("user_id", "click_id", "buy_id")
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            joined, os.path.join(ckpt, "ck"), output_mode="append",
            fmt="memory", query_name="attr_join",
        )
    got = {
        (r.user_id, r.click_id, r.buy_id)
        for r in spark.sql("SELECT * FROM attr_join").collect()
    }
    b_clicks, b_buys = split(read_table(spark, "/root/testdata/sf0.001", "events"))
    expected = {
        tuple(r)
        for r in b_clicks.join(b_buys, "user_id")
        .where(
            (F.col("ts_buy") >= F.col("ts_click"))
            & (F.col("ts_buy") <= F.col("ts_click") + F.expr("INTERVAL 2 days"))
        )
        .select("user_id", "click_id", "buy_id")
        .collect()
    }
    assert got == expected and len(got) > 0


def test_stream_session_windows_equal_batch(spark, events_dir):
    """F.session_window through a multi-batch replay (complete mode — no
    watermark, so late arrivals merge rather than drop) must converge to
    the batch sessionization. Session merging across micro-batches is the
    stateful behavior under test."""
    from pyveb_spark.streaming import session_window_agg

    path, schema = events_dir
    stream = read_file_stream(spark, path, schema, max_files_per_trigger=1)
    sess = session_window_agg(
        stream,
        ts_col="ts",
        gap="30 minutes",
        aggs={"n_events": F.count(F.lit(1))},
        group_by=["user_id"],
    )
    with tempfile.TemporaryDirectory() as ckpt:
        run_available_now(
            sess, os.path.join(ckpt, "ck"), output_mode="complete",
            fmt="memory", query_name="sess_counts",
        )
    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in spark.sql("SELECT * FROM sess_counts").collect()
    }
    batch = session_window_agg(
        read_table(spark, "/root/testdata/sf0.001", "events"),
        ts_col="ts",
        gap="30 minutes",
        aggs={"n_events": F.count(F.lit(1))},
        group_by=["user_id"],
    )
    expected = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in batch.collect()
    }
    assert got == expected and len(got) > 0


def test_kafka_gate_behavior(spark, tmp_path):
    """Without the spark-sql-kafka jar the source/sink must raise the
    GUIDED classpath error (and only for the missing-source signal —
    the read_avro lesson: other failures re-raise untouched)."""
    from pyveb_spark.streaming.stream import (
        _is_missing_source,
        read_kafka_stream,
    )

    try:
        df = read_kafka_stream(spark, "localhost:9", "t")
    except RuntimeError as e:
        assert "spark-sql-kafka" in str(e)  # gated: guided message
    else:
        # jar present in this environment: the standard Kafka schema
        cols = set(df.columns)
        assert {"key", "value", "topic", "partition", "offset"} <= cols
    # classifier: only missing-source signals match
    assert _is_missing_source(Exception("Failed to find data source: kafka"))
    assert _is_missing_source(Exception("[DATA_SOURCE_NOT_FOUND] ..."))
    assert not _is_missing_source(Exception("PATH_NOT_FOUND: x.kafka"))
    assert not _is_missing_source(Exception("Connection to broker failed"))
