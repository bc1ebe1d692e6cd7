"""Structured Streaming surface (SURVEY.md §2.11, build plan Phase 6).

The reference "streams" only in the batch-cursor sense — serial DB cursors
staged to S3 files with Airflow scheduling the loop and idempotency done by
delete-prefix-and-rewrite (``lynx_client.py:128-131``, ``s3_client.py:110-133``).
Real Structured Streaming subsumes that pattern: file sources pick up new
drops incrementally, watermarks bound state for late data, and
``foreachBatch`` feeds every micro-batch through the SAME merge sinks the
batch path uses (``pyveb_spark.sinks.merge``) — one transform library, two
execution modes.

Design for scale: every helper here returns/accepts plain DataFrames so the
identical code runs in batch backfills (``Trigger.AvailableNow`` over a
partitioned history) and low-latency incremental mode; state size is bounded
by watermarks, and dedup state by ``dropDuplicatesWithinWatermark``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

__all__ = [
    "read_file_stream",
    "windowed_agg",
    "session_window_agg",
    "stateful_dedup",
    "stateful_running_totals",
    "stream_interval_join",
    "stream_enrich",
    "foreach_batch_upsert",
    "run_available_now",
    "read_kafka_stream",
    "write_kafka_stream",
]


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """File-drop source — the streaming twin of the reference's "new S3
    object per batch" staging convention. ``maxFilesPerTrigger`` bounds
    micro-batch size (the reference's ``batch_size`` analogue)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: dict[str, object],
    slide_duration: str | None = None,
    group_by: Sequence[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling/sliding window aggregation, batch- and stream-compatible.

    ``aggs``: output-name → Column aggregate. With ``watermark`` set (e.g.
    '10 minutes') late rows beyond the watermark are dropped and window
    state is evictable — mandatory for unbounded streams (state would
    otherwise grow without bound at 100 TB/day rates).
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, window_duration, slide_duration)
        if slide_duration
        else F.window(ts_col, window_duration)
    )
    out = df.groupBy(win.alias("window"), *group_by).agg(
        *[c.alias(name) for name, c in aggs.items()]
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *group_by,
        *aggs.keys(),
    )


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggs: dict[str, object],
    group_by: Sequence[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based sessionization) — ``F.session_window``.
    Watermark required in streaming mode for state eviction."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    out = df.groupBy(
        F.session_window(ts_col, gap).alias("session"), *group_by
    ).agg(*[c.alias(name) for name, c in aggs.items()])
    return out.select(
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        *group_by,
        *aggs.keys(),
    )


def stateful_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Cross-micro-batch dedup by key.

    With a watermark, uses ``dropDuplicatesWithinWatermark`` so the seen-key
    state is evicted once the key can no longer recur (bounded state — the
    only scalable form). Without one, plain ``dropDuplicates`` (batch mode,
    or streams with naturally bounded keys).
    """
    if watermark is not None and ts_col is not None:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def stateful_running_totals(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum) maintained in
    the state store across micro-batches via ``applyInPandasWithState``.

    The template for arbitrary stateful logic the built-in operators can't
    express (escalating alert levels, CDC reconciliation, per-entity
    models): state is an explicit typed tuple, updates are Arrow-batched
    pandas, and each batch emits the refreshed totals for exactly the keys
    it touched (``update`` semantics). State is partitioned by key — scale
    = number of live keys × state row size, independent of stream length.

    For production unbounded key spaces, add a timeout policy
    (``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.setTimeoutDuration``)
    so idle keys evict — omitted here to keep replay/backfill deterministic.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    keys = list(keys)
    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[k] for k in keys]
        + [
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def _update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        out = {k: [key[i]] for i, k in enumerate(keys)}
        out["n_events"] = [n]
        out["total_value"] = [total]
        yield pd.DataFrame(out)

    return df.groupBy(*keys).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    keys: Sequence[str],
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join — the streaming twin of the
    reference's driver-side lookup merge (``common.py:326-354``) and
    ``api_id``/``fk_*`` param-echo enrichment. The static side is
    re-evaluated every micro-batch, so a dimension backed by a live table
    picks up updates between batches without restarting the query; with
    ``broadcast`` (the default — dimensions are small by definition) each
    micro-batch joins map-side with no stream-side shuffle and no
    streaming state at all, which is why this is the right shape for
    enrichment even though ``stream_interval_join`` exists for the
    fact-to-fact case."""
    d = F.broadcast(dim_df) if broadcast else dim_df
    return stream_df.join(d, list(keys), how)


def foreach_batch_upsert(
    sink, keys: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """Adapter: a ``ParquetMergeSink`` (or anything with ``.upsert``) as a
    ``foreachBatch`` target — each micro-batch merges with the same
    delete-then-insert algebra as the batch loader (``rs_client.py:242-283``
    parity), making stream restarts idempotent (a replayed batch upserts to
    the same state)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        sink.upsert(batch_df, keys=keys)

    return _apply


def run_available_now(
    stream_df: DataFrame,
    checkpoint: str,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
    fmt: str | None = None,
    path: str | None = None,
    query_name: str | None = None,
) -> StreamingQuery:
    """Start a ``Trigger.AvailableNow`` run: process everything currently
    available, then stop — the Structured-Streaming form of the reference's
    Airflow-scheduled incremental backfill (``common.py:63-124`` CLI
    contract).

    Waits for the run it starts: returns the terminated
    ``StreamingQuery`` (its ``recentProgress`` stays readable) once the
    available input is processed. A stream still running after 300 s is
    stopped and ``TimeoutError`` raised; a stream that fails raises its
    ``StreamingQueryException`` from the wait."""
    writer = stream_df.writeStream.option("checkpointLocation", checkpoint).outputMode(
        output_mode
    ).trigger(availableNow=True)
    if query_name:
        writer = writer.queryName(query_name)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif fmt is not None:
        writer = writer.format(fmt)
        if path is not None:
            writer = writer.option("path", path)
    q = writer.start()
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            f"stream {query_name or checkpoint} did not finish within 300 s"
        )
    return q


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval (attribution) join: pair each left event with
    right events on the same ``keys`` whose timestamp falls in
    ``[left_ts, left_ts + max_delay]`` — the click→purchase attribution
    shape. Works identically on batch DataFrames (watermarks are a no-op
    there), keeping the one-transform-library contract.

    Both sides get a watermark and the join condition bounds both event
    times, which is exactly what Structured Streaming needs to evict join
    state: each side's buffered rows are dropped once the other side's
    watermark passes ``max_delay + watermark``. Without the time bounds
    the state store grows without bound — the difference between a join
    that survives a 100 TB/day stream and one that OOMs. ``left_ts`` and
    ``right_ts`` must be distinct names (rename before calling); the
    right side's key columns are dropped from the output.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else cond & c
    cond = (
        cond
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    out = lw.join(rw, cond, how)
    for k in keys:
        out = out.drop(rw[k])
    return out


_KAFKA_GATE_MSG = (
    "Kafka support requires the spark-sql-kafka package on the classpath "
    "(spark.jars.packages="
    "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>)."
)


def _is_missing_source(exc: Exception) -> bool:
    # Match ONLY missing-classpath signals (the read_avro lesson): an
    # unreachable broker or a bad topic must re-raise as-is.
    msg = str(exc)
    return (
        "DATA_SOURCE_NOT_FOUND" in msg
        or "Failed to find data source" in msg
        or "Failed to find the data source" in msg
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka micro-batch source — the production edge for the streaming
    operators in this module (the file-drop source stands in for it in
    tests; both yield the same downstream plans). Returns the standard
    Kafka schema (key/value binary, topic, partition, offset,
    timestamp); decode ``value`` with ``cast('string')``/``from_json``
    (or ``read_avro``'s module for Avro payloads).

    ``spark-sql-kafka`` is an external module; absence raises a guided
    error instead of an opaque ClassNotFoundException mid-job. At scale,
    Kafka partitions map 1:1 to input tasks — parallelism is the TOPIC's
    partition count, so size that (not Spark) for throughput.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - classpath-dependent
        if _is_missing_source(exc):
            raise RuntimeError(_KAFKA_GATE_MSG) from exc
        raise


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    options: dict[str, str] | None = None,
):
    """Kafka sink for a streaming DataFrame: expects ``key``/``value``
    (binary or string) columns per the Kafka connector contract.
    Exactly-once within a topic-partition comes from the checkpointed
    offsets plus Kafka's idempotent producer; cross-system transactions
    need the foreachBatch upsert path instead. Same classpath gate as
    :func:`read_kafka_stream`."""
    writer = (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    try:
        return writer.start()
    except Exception as exc:  # pragma: no cover - classpath-dependent
        if _is_missing_source(exc):
            raise RuntimeError(_KAFKA_GATE_MSG) from exc
        raise
