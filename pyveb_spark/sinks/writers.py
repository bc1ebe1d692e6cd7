"""Plain file writers — direct, partitioned, idempotent.

↔ ``write_to_parquet`` (``spark_client.py:207-230``): the reference wrote to
``./data`` with ``maxRecordsPerFile=100000`` then looped boto3 uploads,
skipping ``.crc``/``_SUCCESS`` — a single-node bottleneck. These writers go
straight to the destination; on object stores the committer config in
``session.py`` keeps that safe. Partitioned layout ↔ the reference's
``year=/month=/day=`` prefix scheme (``common.py:47-61``,
``config.py:77-106``) via ``partitionBy`` + dynamic partition overwrite
(replacing the delete-prefix-then-rewrite idempotency at
``s3_client.py:110-133``).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "write_parquet",
    "write_csv",
    "write_json",
    "write_orc",
    "write_text",
    "write_avro",
    "write_jdbc",
    "write_bucketed_table",
    "with_date_partitions",
    "write_tar_shards",
    "swap_dir",
    "raise_if_swap_crashed",
]

# reference default: spark_client.py:207,213
DEFAULT_MAX_RECORDS_PER_FILE = 100_000


def with_date_partitions(
    df: DataFrame, ts_col: str, granularity: str = "day"
) -> DataFrame:
    """Derive year/month/day[/hour] partition columns from a timestamp
    ↔ partition-key computation (``common.py:47-61``, granularity variant
    ``config.py:77-106``). Zero-padded strings match the reference layout."""
    levels = ["year", "month", "day", "hour", "minute", "second"]
    if granularity not in levels:
        raise ValueError(f"granularity must be one of {levels}")
    fmts = {
        "year": "yyyy", "month": "MM", "day": "dd",
        "hour": "HH", "minute": "mm", "second": "ss",
    }
    out = df
    for level in levels[: levels.index(granularity) + 1]:
        out = out.withColumn(level, F.date_format(F.col(ts_col), fmts[level]))
    return out


def _writer(df: DataFrame, mode: str, partition_by: Sequence[str] | None,
            max_records_per_file: int):
    w = df.write.mode(mode).option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    _writer(df, mode, partition_by, max_records_per_file).parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    delimiter: str = ";",
    header: bool = True,
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """↔ ``s3_client.py:233-253`` (StringIO buffer upload; ';' default kept)."""
    (
        _writer(df, mode, partition_by, max_records_per_file)
        .option("sep", delimiter)
        .option("header", str(header).lower())
        .csv(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """Save as a hash-bucketed (and optionally sort-ordered) catalog table.

    The co-located-join primitive the reference has no analogue for: two
    tables bucketed on the same keys with the same bucket count join with
    ZERO shuffle (SortMergeJoin reads matching buckets directly) — at
    100 TB, pre-bucketing fact tables on their join key converts every
    downstream join/agg on that key from a full shuffle into a local merge.
    Bucket pruning also serves point lookups. Requires ``saveAsTable``
    (bucket metadata lives in the catalog, not the files). ``path`` makes
    it an EXTERNAL table at that location (index artifacts, tests)."""
    w = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """ORC sink — columnar alternative for Hive-era warehouse targets; same
    partitioned/idempotent layout contract as ``write_parquet``."""
    _writer(df, mode, partition_by, max_records_per_file).orc(path)


def write_text(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """Single-string-column text sink (one line per row). Pair with
    ``F.to_json(F.struct(...))`` upstream for JSONL exports where the JSON
    writer's schema inference is unwanted."""
    w = df.write.mode(mode)
    if compression is not None:
        w = w.option("compression", compression)
    w.text(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int = DEFAULT_MAX_RECORDS_PER_FILE,
) -> None:
    """↔ list-of-dicts → S3 JSON (``common.py:305-324``, ``s3_client.py:159-186``)."""
    _writer(df, mode, partition_by, max_records_per_file).json(path)


def write_avro(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    compression: str | None = None,
) -> None:
    """Avro sink — the symmetric half of ``sources.readers.read_avro`` for
    Kafka-edge pipelines that WRITE row-oriented interchange files as often
    as they read them.

    ``spark-avro`` is an external module; like the reader, a missing
    classpath raises a guided error instead of an opaque
    ``ClassNotFoundException`` mid-write. Only genuine missing-data-source
    signals are rewrapped — path or analysis errors re-raise unchanged.
    """
    w = df.write.format("avro").mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression is not None:
        w = w.option("compression", compression)
    try:
        w.save(path)
    except Exception as exc:  # pragma: no cover - classpath-dependent
        msg = str(exc)
        if (
            "DATA_SOURCE_NOT_FOUND" in msg
            or "Failed to find data source" in msg
            or "Failed to find the data source" in msg
        ):
            raise RuntimeError(
                "Avro support requires the spark-avro package on the "
                "classpath (spark.jars.packages="
                "org.apache.spark:spark-avro_2.13:<spark-version>)."
            ) from exc
        raise


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict | None = None,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    truncate: bool = False,
    shuffle: bool = True,
) -> None:
    """Generic JDBC sink — executor-parallel batched INSERTs.

    The symmetric half of ``sources.readers.read_jdbc``: each partition
    opens one connection and inserts ``batch_size`` rows per round trip;
    ``num_partitions`` caps the connection count (a 1000-task write is a
    1000-connection stampede — size it to what the database tolerates).
    ``truncate=True`` keeps the table's DDL on overwrite (TRUNCATE instead
    of DROP+CREATE), preserving grants/indexes.

    For *warehouse* loads prefer the staged path the reference uses
    (``rs_client.py:83-98``): stage Parquet + ``plans/ddl.py`` COPY +
    ``sinks/lakehouse.py`` MERGE — row-wise INSERT through JDBC is the
    slow lane at bulk scale. This sink is for operational targets (the
    reference's SQL-Server-style endpoints) and modest volumes.
    """
    # Connection-count capping: repartition (default) pays one shuffle but
    # keeps the upstream computation at full parallelism; shuffle=False
    # uses coalesce, which is free of the shuffle but folds the cap INTO
    # the upstream stage (an aggregation feeding a 4-connection write then
    # runs on 4 tasks) — choose it only when the plan above is cheap.
    # (Probing df.rdd.getNumPartitions() to pick automatically is a trap:
    # it finalizes the AQE plan by EXECUTING the upstream stages, so the
    # query would run twice.)
    if num_partitions:
        out = (
            df.repartition(num_partitions)
            if shuffle
            else df.coalesce(num_partitions)
        )
    else:
        out = df
    w = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .option("truncate", str(truncate).lower())
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        w = w.option(k, v)
    w.save()


def write_tar_shards(
    df: DataFrame,
    out_dir: str,
    member_col: str = "member",
    payload_col: str = "content",
    max_members: int = 10_000,
    n_shards: int | None = None,
) -> DataFrame:
    """WebDataset-style tar-shard EXPORT — the write half of
    ``sources.readers.read_tar_members``: pack ``(member, content)`` rows
    into ``shard-{part:05d}-{seq:04d}.tar`` archives under ``out_dir``,
    executor-parallel (each Spark partition writes its own shard
    sequence, rolling at ``max_members``). Returns the manifest as a
    DataFrame: ``(shard, n_members, n_bytes)`` — the caller persists it
    next to the shards (training loaders shard-shuffle off the manifest).

    Member bytes are BIT-REPRODUCIBLE: members are sorted within each
    partition and every tar header is normalized (mtime=0, uid/gid=0,
    mode=0644), so a task retry — or a full job rerun over the same
    partitioning — re-emits byte-identical shards (the engine's
    deterministic-output rule; verified by double-write hash equality in
    tests). Pass ``n_shards`` to repartition by member hash first —
    shard membership then depends only on the data, not on upstream
    partitioning.

    Scale notes: this is the standard export for multimodal training
    corpora — millions of small samples become thousands of sequential-
    read archives. Size shards into the 100 MB – 1 GB band via
    ``max_members`` × expected sample size; parallelism = input
    partitions. The payload never routes through the driver; manifest
    rows (one per shard) are the only small output.
    """
    import io
    import os
    import tarfile
    from collections.abc import Iterator as _It

    import pandas as pd
    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    src = df.select(
        F.col(member_col).cast("string").alias("member"),
        F.col(payload_col).cast("binary").alias("content"),
    )
    if n_shards is not None:
        src = src.repartition(int(n_shards), "member")
    src = src.sortWithinPartitions("member")

    def _pack(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        pid = TaskContext.get().partitionId()
        seq = 0
        buf: io.BytesIO | None = None
        tf: tarfile.TarFile | None = None
        count = 0
        out = {"shard": [], "n_members": [], "n_bytes": []}

        def flush():
            nonlocal buf, tf, seq, count
            if tf is None:
                return
            tf.close()
            data = buf.getvalue()
            path = os.path.join(out_dir, f"shard-{pid:05d}-{seq:04d}.tar")
            tmp = path + ".inprogress"
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, path)  # atomic publish (retry-safe)
            out["shard"].append(os.path.basename(path))
            out["n_members"].append(count)
            out["n_bytes"].append(len(data))
            seq += 1
            buf, tf, count = None, None, 0

        for pdf in batches:
            for member, blob in zip(pdf["member"], pdf["content"]):
                if tf is None:
                    buf = io.BytesIO()
                    tf = tarfile.open(fileobj=buf, mode="w")
                data = bytes(blob) if blob is not None else b""
                info = tarfile.TarInfo(str(member))
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
                count += 1
                if count >= max_members:
                    flush()
        flush()
        yield pd.DataFrame(out)

    return src.mapInPandas(
        _pack, schema="shard string, n_members long, n_bytes long"
    )


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path class) for ``path``: file://, hdfs:// or s3a://."""
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    return HPath(path).getFileSystem(spark._jsc.hadoopConfiguration()), HPath


def _rename(fs, HPath, src: str, dst: str) -> None:
    # Hadoop reports most rename failures as False, not as an exception
    if not fs.rename(HPath(src), HPath(dst)):
        raise RuntimeError(f"could not rename {src!r} to {dst!r}")


def _raise_if_crashed(
    fs, HPath, live: str, aside: str, stage: str | None = None
) -> None:
    if fs.exists(HPath(live)):
        return
    has_aside = fs.exists(HPath(aside))
    # Without the aside, the stage is a committed copy only if it holds
    # Hadoop's job-commit marker; otherwise it is a partial first write,
    # which the next write replaces.
    if stage is not None and fs.exists(
        HPath(stage if has_aside else stage + "/_SUCCESS")
    ):
        copy = stage
    elif has_aside:
        copy = aside
    else:
        return
    raise RuntimeError(
        f"{live!r} is missing but {copy!r} exists: a swap_dir "
        "commit died between its renames. Recover with one "
        f"rename: {copy!r} -> {live!r}"
    )


def raise_if_swap_crashed(spark, stage: str, live: str) -> None:
    """Raise if a :func:`swap_dir` from ``stage`` into ``live`` died
    midway, naming the rename that recovers it, so readers never take a
    crashed commit for "no table". That is: ``live`` is missing and the
    aside exists, or the stage holds a complete job (``_SUCCESS``). A
    stage without either is a partial first write: ``live`` does not
    exist yet."""
    fs, HPath = _hadoop_fs(spark, live)
    _raise_if_crashed(
        fs, HPath, live, stage.removesuffix("_stage") + "_old", stage
    )


@contextmanager
def swap_dir(spark, stage: str, live: str) -> Iterator[None]:
    """Install the complete directory ``stage`` (``<live>__<tag>_stage``)
    as ``live`` by rename-aside. The engine's one directory commit: the
    merge sink, ``compact_files``, every directory index artifact's save
    (``index_store._save_artifact``) and the external
    ``compact_bucketed_index`` all use it.

    - On entry: if ``live`` is missing while the aside
      (``<live>__<tag>_old``) exists, an earlier swap died between its
      renames; raise with the rename that recovers it. Otherwise drop a
      stale aside, rename ``live`` → aside (when ``live`` exists), then
      ``stage`` → ``live``.
    - The ``with`` body runs with the new directory in place (catalog
      updates that must follow it).
    - On clean exit the aside is deleted. On an exception, in a rename
      or in the body, both copies stay on disk and it propagates.

    So the data survives a crash at every step, and
    :func:`raise_if_swap_crashed` names the recovery to readers. Renames
    are metadata-only on local filesystems and HDFS; object stores copy
    on rename, so there the crash windows last as long as the copy."""
    fs, HPath = _hadoop_fs(spark, live)
    aside = stage.removesuffix("_stage") + "_old"
    _raise_if_crashed(fs, HPath, live, aside)
    fs.delete(HPath(aside), True)
    if fs.exists(HPath(live)):
        _rename(fs, HPath, live, aside)
    _rename(fs, HPath, stage, live)
    yield
    fs.delete(HPath(aside), True)
