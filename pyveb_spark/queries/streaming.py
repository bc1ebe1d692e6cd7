"""Structured Streaming: windows, watermark dedup, stream-stream and stream-static joins, foreachBatch upserts.

Split from the round-4 queries.py monolith; float determinism contract
in ``pyveb_spark.queries.__doc__``. Registry/gate-window order lives in
``pyveb_spark/queries/__init__.py`` only.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyveb_spark.operators.cleaning import clean_old_dates
from pyveb_spark.operators.joins import asof_join
from pyveb_spark.queries._helpers import (
    QueryScratch,
    _dec,
    _query_vec,
    scratch_query,
)
from pyveb_spark.sources.readers import read_table


@contextmanager
def _state_width(spark: SparkSession) -> Iterator[None]:
    """Narrow the streaming state width to 4 for an AvailableNow replay.
    One state store per shuffle partition is created at the checkpoint's
    FIRST start and initialized every micro-batch; at replay scale 4
    stores cover the key space, so don't pay 32 store inits per batch.
    Every caller runs on a fresh checkpoint, which makes the narrowed
    setting safe; the session value is restored on exit."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


# ---------------------------------------------------------------------------
# §2.11 tumbling window (batch twin of the streaming window; F.window)
# ---------------------------------------------------------------------------

def q15_daily_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day ``F.window`` — identical semantics to the Structured
    Streaming window used in ``pyveb_spark.streaming`` (epoch-aligned
    buckets, matching DuckDB's time_bucket)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start_us", "event_type")
    )


_Q15_SQL = """
SELECT epoch_us(time_bucket(INTERVAL '1 day', ts)) AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start_us, event_type
"""


# ---------------------------------------------------------------------------
# §2.6/§2.11 sessionization (batch form: gap > 30 min starts a new session)
# ---------------------------------------------------------------------------

def q25_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — cumulative-sum-of-gap-flags windowing (the
    streaming twin is ``streaming.session_window_agg``). One shuffle on
    user_id drives both window passes.

    The gap compares exact MICROSECONDS on both engines (found by the
    seed-71 round-10 twin): the earlier second-granularity form — Spark
    ``cast(ts as long)`` (truncates) vs DuckDB ``epoch()`` (fractional
    DOUBLE) — disagreed on a pair whose true gap was 1800.97 s, i.e.
    exactly the truncation window above the threshold. Integer micros
    remove the class on both sides."""
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(
            gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sessioned = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessioned.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
        )
        .orderBy("user_id", "session_no")
    )


_Q25_SQL = """
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessioned AS (
    SELECT user_id, ts,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
    FROM flagged
)
SELECT user_id, session_no,
       COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us
FROM sessioned
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""


# ---------------------------------------------------------------------------
# §2.11 streaming: file-drop replay through Structured Streaming.
# Oracle-checked: a completed AvailableNow replay of a tumbling-window agg
# in complete mode materializes exactly the batch daily rollup (no
# watermark → nothing dropped), so the DuckDB oracle is the batch SQL —
# the stream==batch equivalence the unit tests pin, now under the driver
# gate too.
# ---------------------------------------------------------------------------

@scratch_query
def q40_stream_replay(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """events replayed as a file stream → daily windowed counts per type via
    an AvailableNow pass (the backfill execution mode); returns the
    materialized result. Exercises readStream → window agg → memory sink
    under the driver's rows-only gate."""
    import os

    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
        windowed_agg,
    )

    src = read_table(spark, sf_dir, "events")
    drops = os.path.join(s.dir, "drops")
    src.repartition(2).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(
        spark, drops, src.schema, max_files_per_trigger=1
    )
    windowed = windowed_agg(
        stream,
        ts_col="ts",
        window_duration="1 day",
        aggs={"n_events": F.count(F.lit(1))},
        group_by=["event_type"],
    )
    name = s.name("sink")
    with _state_width(spark):
        run_available_now(
            windowed,
            os.path.join(s.dir, "ck"),
            output_mode="complete",
            fmt="memory",
            query_name=name,
        )
    return (
        spark.table(name)
        .select(
            F.date_format("window_start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
        )
        .orderBy("day", "event_type")
    )


# F.window(ts, '1 day') buckets are epoch-aligned UTC days — identical to
# date_trunc('day') under the UTC session read_table pins.
_Q40_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY day, event_type
ORDER BY day, event_type
"""


# ---------------------------------------------------------------------------
# §2.11 streaming: stream-stream interval (attribution) join
# (rows-only: streaming execution; stream==batch equivalence pinned in
# tests/test_streaming.py::test_stream_interval_join_equals_batch)
# ---------------------------------------------------------------------------

@scratch_query
def q49_stream_attribution(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """events replayed as TWO file streams (clicks, purchases) joined
    stream-to-stream on user within a 2-day interval — the attribution
    shape. Watermarks on both sides + both-bounded time condition keep the
    join state evictable (the property that survives unbounded streams).
    Returns per-user attributed-pair counts. Oracle-checked: inner
    stream-stream joins emit every matched pair regardless of watermark,
    and the AvailableNow replay processes the whole fixture, so the final
    count table equals the batch interval join the DuckDB oracle runs."""
    import os

    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
        stream_interval_join,
    )

    src = read_table(spark, sf_dir, "events")
    drops = os.path.join(s.dir, "drops")
    src.repartition(2).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(spark, drops, src.schema)
    clicks = stream.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ts_click"),
        F.col("event_id").alias("click_id"),
    )
    buys = stream.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ts_buy"),
        F.col("event_id").alias("buy_id"),
    )
    joined = stream_interval_join(
        clicks,
        buys,
        keys=["user_id"],
        left_ts="ts_click",
        right_ts="ts_buy",
        max_delay="2 days",
        watermark="1 day",
    ).select("user_id", "click_id", "buy_id")
    name = s.name("sink")
    # one state store per shuffle partition, ×2 join sides
    with _state_width(spark):
        run_available_now(
            joined,
            os.path.join(s.dir, "ck"),
            output_mode="append",
            fmt="memory",
            query_name=name,
        )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .orderBy("user_id")
    )


_Q49_SQL = """
WITH c AS (SELECT user_id, ts AS ts_click FROM events WHERE event_type = 'click'),
b AS (SELECT user_id, ts AS ts_buy FROM events WHERE event_type = 'purchase')
SELECT c.user_id, COUNT(*) AS n_attributed
FROM c JOIN b ON c.user_id = b.user_id
              AND b.ts_buy >= c.ts_click
              AND b.ts_buy <= c.ts_click + INTERVAL 2 DAY
GROUP BY c.user_id
ORDER BY c.user_id
"""


@scratch_query
def q46_stream_stateful_dedup(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """events replayed as a file stream through
    ``dropDuplicatesWithinWatermark`` on (user, type, day) — bounded-state
    cross-batch dedup, the streaming form of daily-active rollups. The
    deduped append stream lands in a memory sink and a batch aggregation
    counts surviving rows; a full AvailableNow replay dedups exactly, so
    the oracle is the batch COUNT(DISTINCT (user, day)) per type.

    Oracle-equality depends on the whole drop being consumed in ONE
    micro-batch (asserted below): with ``maxFilesPerTrigger`` set or more
    drop files, the 1-day watermark over this multi-day fixture would
    evict keys between batches and legitimately re-emit their later
    duplicates — correct streaming semantics, but no longer equal to the
    batch DISTINCT. Keep the drop a single-trigger load (or widen the
    watermark past the fixture's day span) when changing file layout."""
    import os

    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
        stateful_dedup,
    )

    src = read_table(spark, sf_dir, "events")
    drops = os.path.join(s.dir, "drops")
    src.repartition(2).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(spark, drops, src.schema)
    dd = stateful_dedup(
        stream.select(
            "user_id", "event_type", F.to_date("ts").alias("day"), "ts"
        ),
        ["user_id", "event_type", "day"],
        ts_col="ts",
        watermark="1 day",
    ).drop("ts")
    name = s.name("sink")
    with _state_width(spark):
        q = run_available_now(
            dd,
            os.path.join(s.dir, "ck"),
            output_mode="append",
            fmt="memory",
            query_name=name,
        )
    # pin the single-micro-batch dependence the docstring explains:
    # every input row must arrive in batch 0 (later batches are only
    # the empty state-cleanup trigger AvailableNow appends)
    late_rows = sum(
        p["numInputRows"]
        for p in q.recentProgress
        if p["batchId"] > 0
    )
    if late_rows:
        raise AssertionError(
            f"q46 drop spanned multiple micro-batches ({late_rows} "
            "rows after batch 0) — watermark eviction can now re-emit "
            "duplicates and the batch oracle no longer applies; see "
            "docstring"
        )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy("event_type")
    )


_Q46_SQL = """
SELECT event_type,
       COUNT(DISTINCT (user_id, CAST(ts AS DATE))) AS n_user_days
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@scratch_query
def q47_stream_enrich(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """events replayed as a file stream, enriched per micro-batch with the
    customer dimension via a broadcast stream-static join (no stream-side
    shuffle, no streaming state — the right shape for dimension lookup at
    any stream rate), then rolled up per market segment and event type.
    The enrichment is stateless, so the full replay equals the batch join
    the oracle runs."""
    import os

    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
        stream_enrich,
    )

    src = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    drops = os.path.join(s.dir, "drops")
    src.repartition(2).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(spark, drops, src.schema)
    enriched = stream_enrich(
        stream.select("event_id", "user_id", "event_type"),
        cust,
        keys=["user_id"],
        how="inner",
    )
    name = s.name("sink")
    with _state_width(spark):
        run_available_now(
            enriched,
            os.path.join(s.dir, "ck"),
            output_mode="append",
            fmt="memory",
            query_name=name,
        )
    return (
        spark.table(name)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("c_mktsegment", "event_type")
    )


_Q47_SQL = """
SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n_events
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment, e.event_type
ORDER BY c.c_mktsegment, e.event_type
"""


@scratch_query
def q26_stream_upsert(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The continuous-materialization pattern end-to-end: a purchase
    stream's running per-user counts (update-mode aggregation) land in a
    ``ParquetMergeSink`` through ``foreachBatch`` upsert — each micro-batch
    merges with the same delete-then-insert algebra as the batch loader,
    so the final table equals the batch aggregate REGARDLESS of how the
    replay was micro-batched (later updates overwrite earlier ones by
    key). That multi-batch-safe equivalence is exactly what the oracle
    checks."""
    import os

    from pyveb_spark.sinks.merge import ParquetMergeSink
    from pyveb_spark.streaming.stream import (
        foreach_batch_upsert,
        read_file_stream,
        run_available_now,
    )

    src = read_table(spark, sf_dir, "events")
    drops = os.path.join(s.dir, "drops")
    src.repartition(2).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(spark, drops, src.schema)
    agg = (
        stream.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    sink = ParquetMergeSink(spark, os.path.join(s.dir, "table"))
    with _state_width(spark):
        run_available_now(
            agg,
            os.path.join(s.dir, "ck"),
            foreach_batch=foreach_batch_upsert(sink, ["user_id"]),
            output_mode="update",
        )
    return sink.read().select("user_id", "n_purchases").orderBy("user_id")


_Q26_SQL = """
SELECT user_id, COUNT(*) AS n_purchases
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
"""


def q31_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``F.session_window`` sessionization (batch mode — the operator is
    batch/stream-unified; q25 is the lag-based formulation of the same
    semantics modulo boundary: session_window merges events strictly
    CLOSER than the gap, so the oracle's new-session condition is
    ``diff >= gap``). session_end = last event + gap by definition; both
    bounds emitted as exact integer microseconds."""
    from pyveb_spark.streaming.stream import session_window_agg

    e = read_table(spark, sf_dir, "events")
    out = session_window_agg(
        e,
        ts_col="ts",
        gap="30 minutes",
        aggs={"n_events": F.count(F.lit(1))},
        group_by=["user_id"],
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
    ).orderBy("user_id", "start_us")


_Q31_SQL = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessioned AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
    FROM flagged
)
SELECT user_id,
       epoch_us(MIN(ts)) AS start_us,
       epoch_us(MAX(ts)) + 1800000000 AS end_us,
       COUNT(*) AS n_events
FROM sessioned
GROUP BY user_id, session_no
ORDER BY user_id, start_us
"""


@scratch_query
def q119_stream_sliding_windows(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """events replayed as a file stream through a SLIDING window
    aggregation (1-day windows every 12 hours — each event lands in two
    overlapping windows) per event type, complete-mode memory sink. The
    overlap is what tumbling q15 can't express: a smoothed daily rate
    refreshed twice a day. Complete mode emits every window, so the full
    AvailableNow replay equals the batch oracle (each event contributes
    to exactly the two 12h-aligned window starts covering it);
    production streams switch to append + a watermark (``windowed_agg``
    takes both) and trade the tail windows for bounded state."""
    import os

    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
        windowed_agg,
    )

    src = read_table(spark, sf_dir, "events")
    drops = os.path.join(s.dir, "drops")
    src.repartition(2).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(spark, drops, src.schema)
    win = windowed_agg(
        stream,
        "ts",
        "1 day",
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": F.sum(_dec("value")).cast("double"),
        },
        slide_duration="12 hours",
        group_by=["event_type"],
    )
    name = s.name("sink")
    with _state_width(spark):
        run_available_now(
            win,
            os.path.join(s.dir, "ck"),
            output_mode="complete",
            fmt="memory",
            query_name=name,
        )
    return (
        spark.table(name)
        .select(
            F.unix_micros("window_start").alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start_us", "event_type")
    )


_Q119_SQL = """
WITH starts AS (
    SELECT time_bucket(INTERVAL '12 hours', ts) AS ws, event_type, value
    FROM events
    UNION ALL
    SELECT time_bucket(INTERVAL '12 hours', ts) - INTERVAL '12 hours' AS ws,
           event_type, value
    FROM events)
SELECT epoch_us(ws) AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM starts
GROUP BY ws, event_type
ORDER BY window_start_us, event_type
"""


@scratch_query
def q164_stream_admission(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """STREAMING corpus admission: the documents table replayed as a file
    stream through the Gopher quality gates
    (``text.py::gopher_quality_filter`` — pure scan-stage expressions,
    which is exactly what makes them legal in a streaming plan with no
    watermark), aggregated per (source, keep) in complete mode. The
    streaming-vs-batch equivalence IS the point: stateless admission
    gates must produce identical counts whether the corpus arrives as a
    drop or a stream, and the oracle is the batch replay. Returns
    ``(source, n_admitted, n_rejected)``."""
    import os

    from pyveb_spark.operators.text import gopher_quality_filter
    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
    )

    src = read_table(spark, sf_dir, "documents")
    drops = os.path.join(s.dir, "drops")
    src.repartition(2).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(spark, drops, src.schema)
    gated = gopher_quality_filter(stream, min_words=30)
    counts = gated.groupBy("source").agg(
        F.sum(F.col("keep").cast("int")).alias("n_admitted"),
        F.sum((~F.col("keep")).cast("int")).alias("n_rejected"),
    )
    name = s.name("sink")
    run_available_now(
        counts,
        os.path.join(s.dir, "ck"),
        output_mode="complete",
        fmt="memory",
        query_name=name,
    )
    return (
        spark.table(name)
        .select("source", "n_admitted", "n_rejected")
        .orderBy("source")
    )


_Q164_SQL = """
WITH t AS (
  SELECT source,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks
  FROM documents),
s AS (
  SELECT source,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
           / len(toks) AS mean_len,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
              AS DOUBLE) / len(toks) AS alpha_frac,
         len(list_filter(toks, w -> list_contains(
             ['the','a','of','and','to','in','is','it'], lower(w))))
           AS n_stop
  FROM t),
gated AS (
  SELECT source,
         ((n_words >= 30 AND n_words <= 100000)
          AND (mean_len >= 3.0 AND mean_len <= 10.0)
          AND (alpha_frac >= 0.8) AND (n_stop >= 2)) AS keep
  FROM s)
SELECT source,
       SUM(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_admitted,
       SUM(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_rejected
FROM gated
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# Streaming LSH embedding admission against a PERSISTED warm index
# (round-10 head, built round 9)
# ---------------------------------------------------------------------------

_Q206_THRESHOLD = 0.3
_Q206_PLANES = 6


@scratch_query
def q206_stream_lsh_admission(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """STREAMING embedding near-dup admission — q165's warm-index lookup
    married to the q164/q26 streaming machinery, against an index that
    SURVIVES sessions (``sinks/index_store.py``): the corpus (vec_id %
    17 != 0) is sign-LSH bucketed once and persisted partitioned by
    bucket; the arriving vectors (vec_id % 17 == 0) replay as a file
    stream (``maxFilesPerTrigger=1`` → real multi-batch execution), and
    each micro-batch probes the RELOADED index via
    ``lsh_cosine_lookup(index=...)``, upserting per-vector admission
    decisions through a ``ParquetMergeSink`` (restart-idempotent — a
    replayed batch merges to the same state, the q26 contract). A vector
    is admitted when no corpus match reaches cosine 0.3 (q165's fixture
    threshold).

    The streaming-vs-batch equivalence IS the correctness claim: the
    index is static and batches are disjoint, so the admission table is
    independent of micro-batch boundaries and the oracle is the batch
    replay of the same md5-derived plane construction (q165's SQL, plus
    the per-vector aggregation and the no-match left join).

    100 TB design: per-batch cost is |batch| hashing + a bucket equijoin
    against the persisted index + an id-keyed merge — the corpus is
    never rescanned (the q45/q165 warm-index property, now durable
    across sessions AND across stream restarts). The fixture pins
    ``n_planes=6`` so the oracle replays the exact plane construction;
    the PRODUCTION configuration is ``suggest_lsh_planes(corpus_count)``
    at index-BUILD time (``n_planes="auto"`` on the batch path) — the
    measured response to bucket densification as the corpus grows
    (BASELINE.md sf3 row: 6 planes → 11 at the 141 k-vector twin cuts
    the candidate stage back to its sf1 density). Returns ``(vec_id,
    n_matches, best_cosine, admitted)`` for every streamed vector."""
    import os

    from pyveb_spark.operators.similarity import lsh_bucket, lsh_cosine_lookup
    from pyveb_spark.sinks.index_store import load_lsh_index, save_lsh_index
    from pyveb_spark.sinks.merge import ParquetMergeSink
    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
    )

    e = read_table(spark, sf_dir, "embeddings")
    arriving = e.where(F.col("vec_id") % 17 == 0)
    corpus = e.where(F.col("vec_id") % 17 != 0)
    dim = int(
        corpus.select(F.size("embedding").alias("d")).first()["d"]
    )

    # build parameters travel WITH the artifact (the manifest): the
    # admission side below hashes with the reloaded n_planes/seed,
    # never a remembered constant — the pattern that makes
    # suggest_lsh_planes-at-build-time safe across sessions
    save_lsh_index(
        lsh_bucket(
            corpus, dim, _Q206_PLANES, vec_col="embedding",
            seed=42, bucket_col="__b",
        ),
        os.path.join(s.dir, "index"),
        meta={"n_planes": _Q206_PLANES, "seed": 42, "dim": dim},
    )
    warm, idx_meta = load_lsh_index(spark, os.path.join(s.dir, "index"))
    # Pin the reloaded index for the stream's lifetime: every
    # micro-batch joins it TWICE (bucket equijoin + the
    # index-authoritative vector join-back, ADVICE r9), and
    # re-scanning the bucket-partitioned small files per batch
    # doubled the admission cost (measured 6.1 s → 13.5 s at
    # sf0.1). One eager materialization serves all batches — the
    # warm-index cache every production ANN server keeps; on a
    # cluster this is persist(MEMORY_AND_DISK) over the same
    # frame, and the DISK layout remains the restart/recovery
    # source of truth.
    warm = warm.localCheckpoint(eager=True)

    drops = os.path.join(s.dir, "drops")
    arriving.repartition(3).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(
        spark, drops, arriving.schema, max_files_per_trigger=1
    )
    sink = ParquetMergeSink(spark, os.path.join(s.dir, "admitted"))

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        matches = lsh_cosine_lookup(
            batch_df, corpus, threshold=_Q206_THRESHOLD,
            n_planes=idx_meta["n_planes"], seed=idx_meta["seed"],
            index=warm,
            # geometry from the build manifest — skips one probe job
            # per micro-batch (the dim is an artifact constant)
            dim=int(idx_meta["dim"]),
        )
        per = matches.groupBy("vec_id_new").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.max("cosine_sim").alias("best_cosine"),
        )
        decided = (
            batch_df.select("vec_id")
            .join(per, F.col("vec_id") == F.col("vec_id_new"), "left")
            .select(
                "vec_id",
                F.coalesce("n_matches", F.lit(0).cast("bigint"))
                .alias("n_matches"),
                "best_cosine",
                F.col("vec_id_new").isNull().cast("int")
                .alias("admitted"),
            )
        )
        sink.upsert(decided, keys=["vec_id"])

    run_available_now(
        stream, os.path.join(s.dir, "ck"), foreach_batch=_admit
    )
    return (
        sink.read()
        .select("vec_id", "n_matches", "best_cosine", "admitted")
        .orderBy("vec_id")
    )


_Q206_SQL = """
WITH vecd AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                     unnest(embedding::DOUBLE[]) AS v
              FROM embeddings),
bits AS (SELECT vec_id, j,
                CASE WHEN SUM(v * (CASE WHEN (('0x' || substr(md5('plane|42|' || j || '|' || d), 1, 12))::BIGINT % 2) = 1
                                        THEN 1.0 ELSE -1.0 END)) >= 0
                     THEN 1 ELSE 0 END AS bit
         FROM vecd CROSS JOIN (SELECT unnest(range(0, 6)) AS j) jj
         GROUP BY vec_id, j),
bkt AS (SELECT vec_id, CAST(SUM(bit * (1::BIGINT << j)) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id),
scored AS (
  SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus,
         ROUND(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
               / (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
               4) AS cosine_sim
  FROM bkt a JOIN bkt b ON a.bucket = b.bucket
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE a.vec_id % 17 = 0 AND b.vec_id % 17 <> 0),
hits AS (SELECT * FROM scored WHERE cosine_sim >= 0.3),
per AS (SELECT vec_id_new,
               COUNT(*)::BIGINT AS n_matches,
               MAX(cosine_sim) AS best_cosine
        FROM hits GROUP BY vec_id_new)
SELECT e.vec_id,
       COALESCE(per.n_matches, 0)::BIGINT AS n_matches,
       per.best_cosine,
       CASE WHEN per.vec_id_new IS NULL THEN 1 ELSE 0 END::INT AS admitted
FROM embeddings e
LEFT JOIN per ON per.vec_id_new = e.vec_id
WHERE e.vec_id % 17 = 0
ORDER BY e.vec_id
"""


# ---------------------------------------------------------------------------
# Streaming admission over the DURABLE IVF-PQ tier (round-11 head):
# frozen-quantizer encode + append + threshold-triggered compaction,
# then serving from the reloaded artifacts only
# ---------------------------------------------------------------------------


@scratch_query
def q218_stream_ivfpq_admission(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """STREAMING ingest into the durable IVF-PQ serving stack — the
    composition q215 (fully durable IVF-PQ) and q206 (streaming
    admission against a persisted index) both stopped short of: the
    corpus (vec_id % 17 != 0) trains the quantizers ONCE (PQ codebooks
    + coarse centroids, both persisted with build manifests) and seeds
    the encoded postings; arrivals (vec_id % 17 == 0) replay as a file
    stream (``maxFilesPerTrigger=1`` → real multi-batch execution) and
    each micro-batch is (a) admitted idempotently through the
    PERSISTED id-Bloom screen (``bloom_gated_anti_join``: keys the
    filter has never seen are new by construction — no false
    negatives; only possible-hits pay the exact anti-join against the
    postings' id column, so a replayed batch is a no-op and a fresh
    batch never touches corpus-scale state; filter updated BEFORE the
    append so a crash between the two only over-approximates, which
    the exact check absorbs) — (b) assigned to its coarse list and
    PQ-encoded against the FROZEN reloaded quantizers (the standard
    IVF serving contract: re-clustering is the rebuild path), (c)
    appended into the list-partitioned postings, and (d) followed by
    ``maybe_compact_ivf_postings`` — the threshold-triggered lifecycle
    compaction (file-count listing per list, rewrite only past the
    cap), exercising ``compact_ivf_postings`` INSIDE a lifecycle
    rather than before a search. The final search reloads everything
    from disk (zero session state) and runs q215's serve: nprobe-3
    partition-pruned scan of code bytes, ADC shortlist 40, exact
    re-rank to top 8.

    Correctness claim: with frozen quantizers the final index contents
    are batch-order-independent, appends are disjoint, and compaction
    is semantically invisible — so the served result equals the batch
    replay where ALL vectors are encoded against corpus-trained
    quantizers: ``_pq_sql(train_where=...)``, the q215 oracle with the
    training population restricted to the corpus.

    100 TB design: per-batch cost is |batch| × (m argmin folds + one
    coarse argmin + the fixed-size Bloom probe) + an append into its
    lists' partitions — the corpus is never rescanned, never
    re-encoded, and (since round 12) its id column is never re-listed
    either: the admission screen is a broadcast word table whose size
    is fixed by the filter geometry, refreshed exactly at compaction
    time. Compaction amortizes to one rewrite per ~cap batches per
    list, off the query path (staged swap — probes see old or new
    layout, never half)."""
    import os

    from pyveb_spark.operators.similarity import (
        ivf_index,
        ivfpq_search,
        nearest_centroid,
        pq_code_expr,
        pq_train,
    )
    from pyveb_spark.operators.sketches import bloom_gated_anti_join
    from pyveb_spark.sinks.index_store import (
        append_ivf_postings,
        bloom_words_frame,
        load_ivf_index,
        load_pq_codebooks,
        maybe_compact_ivf_postings,
        save_id_bloom,
        save_ivf_index,
        save_pq_codebooks,
        update_id_bloom,
    )
    from pyveb_spark.streaming.stream import (
        read_file_stream,
        run_available_now,
    )

    e = read_table(spark, sf_dir, "embeddings")
    arriving = e.where(F.col("vec_id") % 17 == 0)
    corpus = e.where(F.col("vec_id") % 17 != 0)
    query_vec = _query_vec(e)
    ivf_dir = os.path.join(s.dir, "ivf")

    # ---- build once: quantizers trained on the corpus, persisted ----
    save_pq_codebooks(spark, pq_train(corpus, m=4, k=16, iters=2),
                      os.path.join(s.dir, "codebooks"))
    codebooks, cb_meta = load_pq_codebooks(
        spark, os.path.join(s.dir, "codebooks")
    )
    indexed0, cents = ivf_index(corpus, n_lists=16)
    # Build the df-independent encode Columns ONCE: the quantizers are
    # FROZEN for the stream's lifetime, and rebuilding these expression
    # trees inside foreachBatch cost ~1 s of driver-side Column
    # construction per micro-batch (measured r12; values unchanged —
    # the same immutable expression evaluated against each batch).
    code_col = pq_code_expr(codebooks, "embedding", meta=cb_meta)
    save_ivf_index(
        indexed0.withColumn("pq_codes", code_col).select(
            "vec_id", "pq_codes", "ivf_list"
        ),
        cents,
        ivf_dir,
    )
    _, frozen_cents, ivf_meta = load_ivf_index(spark, ivf_dir)
    assign_col = nearest_centroid(F.col("embedding"), frozen_cents)[
        "list_id"
    ]
    # the admission screen: a persisted Bloom filter over the postings'
    # id column, so per-batch idempotence checking is O(batch × filter)
    # instead of a corpus-id scan per micro-batch (the round-11 scale
    # watch). The exact anti-join still backs the possible-hit rows —
    # semantics identical, pinned by test.
    postings_dir = os.path.join(ivf_dir, "postings")
    bloom_path = os.path.join(ivf_dir, "idbloom")
    bloom0, bmeta, bwords = save_id_bloom(
        spark.read.parquet(postings_dir).select("vec_id"), bloom_path
    )

    # ---- stream: admit → frozen-quantizer encode → append → compact ----
    drops = os.path.join(s.dir, "drops")
    arriving.repartition(3).write.mode("overwrite").parquet(drops)
    stream = read_file_stream(
        spark, drops, arriving.schema, max_files_per_trigger=1
    )

    # Bloom driver state threaded ACROSS batches (r12): the filter is
    # only ever mutated by this loop's own build/update/refresh calls,
    # so the (frame, meta, words) triple save_id_bloom returns (no
    # save→load round trip) seeds the loop, and each update's merged
    # words seed the next batch's probe frame — batches pay zero
    # filter-load jobs. The artifact stays authoritative: a restarted
    # loop gets the same triple from load_id_bloom (the recovery path).
    bstate = {"words": bwords, "frame": bloom0}

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        # localized words (LocalRelation): probe plans embed the filter
        # state, so the update below cannot race its own read
        bloom = bstate["frame"]
        fresh = bloom_gated_anti_join(
            batch_df,
            bloom,
            # constructed ONLY when the filter reports possible hits —
            # replayed batches take this path; fresh batches never
            # touch corpus-scale state
            lambda: spark.read.parquet(postings_dir).select("vec_id"),
            "vec_id",
            int(bmeta["num_bits"]),
            int(bmeta["num_hashes"]),
        )
        # batch-sized eager pin: the admitted set feeds BOTH the filter
        # update and the encode/append below — without it the probe's
        # join/agg pipeline would re-execute per consumer (measured
        # +10% on the sf3 lifecycle)
        fresh = fresh.localCheckpoint(eager=True)
        # filter BEFORE postings (update_id_bloom's ordering contract):
        # a crash between the two over-approximates — replayed keys
        # fall back to the exact check — never double-admits. The
        # merged words come back as this loop's driver state: the next
        # batch probes a frame that already includes THIS batch's ids
        # without re-reading the filter from parquet.
        bstate["words"] = update_id_bloom(
            fresh.select("vec_id"), bloom_path,
            words=bstate["words"], meta=bmeta,
        )
        bstate["frame"] = bloom_words_frame(spark, bstate["words"])
        encoded = (
            fresh.withColumn("ivf_list", assign_col)
            .withColumn("pq_codes", code_col)
            .select("vec_id", "pq_codes", "ivf_list")
        )
        append_ivf_postings(encoded, ivf_dir)
        # cap 3 with 3 micro-batches over a 1-file-per-list seed index:
        # the threshold trips on the LAST batch, so every run exercises
        # both the cheap no-op checks and one real in-lifecycle rewrite
        if maybe_compact_ivf_postings(spark, ivf_dir, max_files_per_list=3):
            # compaction-time refresh: exact rebuild from the postings
            # ids sheds any crash-window over-approximation, same
            # geometry (the artifact's manifest stays authoritative)
            # the rebuild replaces the parquet wholesale and hands the
            # new state straight back — no post-rebuild reload jobs
            bstate["frame"], _, bstate["words"] = save_id_bloom(
                spark.read.parquet(postings_dir).select("vec_id"),
                bloom_path,
                num_bits=int(bmeta["num_bits"]),
                num_hashes=int(bmeta["num_hashes"]),
            )

    run_available_now(stream, os.path.join(s.dir, "ck"), foreach_batch=_admit)

    # ---- serve from the RELOADED grown artifacts only ----
    grown, cents2, meta2 = load_ivf_index(spark, ivf_dir)
    short = ivfpq_search(
        grown, cents2, codebooks, query_vec,
        nprobe=3, shortlist=40, exclude_ids=[0],
        ivf_meta=meta2, pq_meta=cb_meta,
    )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            qarr,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        short.join(F.broadcast(e.select("vec_id", "label", "embedding")),
                   "vec_id")
        .withColumn("l2_dist", exact)
        .select("vec_id", "label", F.round("l2_dist", 4).alias("l2_dist"))
        .orderBy("l2_dist", "vec_id")
        .limit(8)
    )


def _q218_sql() -> str:
    from pyveb_spark.queries.similarity import _pq_sql

    # q215's composed IVF-PQ oracle with the TRAINING population (seed
    # rows + Lloyd sample → the frozen quantizers) restricted to the
    # corpus; encode/assign/search still cover every vector — exactly
    # the final state of the streamed lifecycle above.
    return _pq_sql(4, 16, 2, 16, 40, 8, nprobe=3,
                   train_where="vec_id % 17 <> 0")


_Q218_SQL = _q218_sql()
