"""Data-layout operators: multi-dimensional (Z-order) clustering for scans.

Parquet/ORC scans prune row groups and files with min/max statistics; the
stats only help if the file layout makes them tight. Sorting on one column
gives perfect pruning on that column and none on any other; interleaving
the bits of several columns (a Morton / Z-order key) gives good-but-not-
perfect pruning on *all* of them — the layout trick behind Delta's
``OPTIMIZE ZORDER BY`` and ClickHouse/Iceberg equivalents, built here from
native Spark expressions (no lakehouse dependency).

The reference's only layout control is date partition keys
(``common.py:47-61``) — correct for time pruning, useless for the
second-dimension scans (user, key range) a 100 TB table also serves.

Scale notes: computing the key is a stateless per-row expression; the only
shuffle is the ``repartitionByRange`` that physically clusters by key —
the same single global-sort-shaped exchange any layout rewrite pays. The
min/max normalization bounds come from one tiny aggregate (or caller-
provided constants for incremental rewrites, so appending a new partition
never rescans history).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "morton_interleave",
    "zorder_key",
    "zorder_rank_key",
    "zorder_layout",
    "compact_files",
    "compaction_plan",
    "pin_width",
    "widen_scan",
]


def _file_listing(spark, path: str) -> list[tuple[str, int, int]]:
    """(file path, bytes, mtime) of every file under ``path``, listed
    recursively; a path that is itself a file lists as that one file.
    Local paths (every test/bench artifact dir) are walked with ``os``:
    the Hadoop iterator costs several Py4J roundtrips PER FILE (~0.5-1 s
    on a few dozen files, paid per micro-batch by the IVF compaction
    trigger) where ``os.walk`` is sub-millisecond. Remote stores (HDFS,
    s3a, ...) take the Hadoop listing. A missing path lists as empty."""
    from urllib.parse import urlparse

    from pyveb_spark.sinks.writers import _hadoop_fs

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        root = parsed.path or path
        if os.path.isfile(root):
            files = [root]
        else:
            files = [
                os.path.join(d, f)
                for d, _dirs, names in os.walk(root)
                for f in names
            ]
        out = []
        for p in files:
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
        return out
    fs, HPath = _hadoop_fs(spark, path)
    if not fs.exists(HPath(path)):
        return []
    out = []
    it = fs.listFiles(HPath(path), True)
    while it.hasNext():
        f = it.next()
        out.append(
            (f.getPath().toString(), f.getLen(), f.getModificationTime())
        )
    return out


def _parquet_files(spark, path: str) -> list[tuple[str, int]]:
    """(parent directory name, bytes) of every ``.parquet`` file under
    ``path`` (``_file_listing``)."""
    return [
        (os.path.basename(os.path.dirname(p)), size)
        for p, size, _mtime in _file_listing(spark, path)
        if p.endswith(".parquet")
    ]


def widen_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Scale-adaptive scan-parallelism floor (guide §2.5 "one huge
    unsplittable file": repartition immediately after the read): when the
    input yields fewer splits than half the cluster's cores — a single
    Parquet row group, one gzip member, a small dimension dump — the
    expensive scan-stage expressions downstream (md5-per-shingle MinHash
    pipelines, SimHash token folds, window hashing) serialize onto those
    few cores while the rest idle. A round-robin ``repartition`` of the
    RAW input rows (cheap: the text/ids move once, before any fan-out)
    restores parallelism.

    No-op whenever the scan already has ≥ max(2, target/2) splits — at
    production scale inputs arrive with thousands of splits and this
    never fires, so no corpus-sized shuffle is ever added. Apply ONLY to
    integer-exact pipelines (hashes, counts, set intersections): a
    round-robin redistribution changes per-partition double-sum order,
    which the float-determinism contract does not allow on the
    float-accumulating paths."""
    sc = df.sparkSession.sparkContext
    n = int(target or sc.defaultParallelism)
    if df.rdd.getNumPartitions() >= max(2, n // 2):
        return df
    return df.repartition(n)


def pin_width(df: DataFrame, *keys: str, n: int | None = None) -> DataFrame:
    """Pin the partition width of the next exchange: explicit
    ``repartition(n, *keys)`` with a user-specified count AQE will NOT
    coalesce (``REPARTITION_BY_NUM`` shuffle origin), hash-distributed on
    exactly the keys the downstream keyed join/window needs — so the pin
    replaces the exchange that was coming anyway and adds none.

    Apply wherever an exchange's INPUT BYTES understate its OUTPUT CPU
    (the q17 rule, SCALE.md): candidate self-joins over banded postings
    (LSH/SimHash/dHash), wedge enumeration over oriented edges, blacklist
    lookups against a persisted index. AQE sizes post-shuffle parallelism
    from the map-side bytes it can see — with
    ``canChangeCachedPlanOutputPartitioning=true`` (session.py) it reaches
    inside cached-plan consumers too — so a byte-tiny posting table whose
    self-join output is quadratic lands on 1-3 tasks (measured 2.6× the
    whole q17 operator at sf0.1 before the pin). ``n`` defaults to the
    session's ``spark.sql.shuffle.partitions``."""
    if n is None:
        n = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    return df.repartition(int(n), *[F.col(k) for k in keys])


def morton_interleave(cols: Sequence[Column], bits: int = 16) -> Column:
    """Bit-interleave ``len(cols)`` non-negative integer Columns (each
    already scaled into [0, 2**bits)) into one Morton key: output bit
    ``b*k + i`` is input ``i``'s bit ``b``. Total bits must fit a signed
    64-bit long. Pure Catalyst bit arithmetic — codegen-friendly, no UDF."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols × {bits} bits exceeds a 64-bit key")
    parts = [
        F.shiftleft(
            F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1)),
            b * k + i,
        )
        for i, c in enumerate(cols)
        for b in range(bits)
    ]
    return reduce(lambda a, x: a.bitwiseOR(x), parts)


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 16,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> Column:
    """Z-order key Column for ``cols`` (numeric or timestamp): each column
    is affinely scaled to [0, 2**bits) using its min/max (one small
    aggregate, or caller-pinned ``bounds`` so incremental rewrites use the
    same grid as the base layout), then bit-interleaved."""
    if bounds is None:
        row = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
        ).first()
        bounds = {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = bounds[c]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.greatest(
                    F.lit(0),
                    (
                        (F.col(c).cast("double") - F.lit(float(mn)))
                        / F.lit(float(span))
                        * F.lit(float(top))
                    ).cast("bigint"),
                ),
            )
        )
    return morton_interleave(scaled, bits)


def zorder_rank_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    tiebreak: str | None = None,
    out_col: str = "zkey",
) -> DataFrame:
    """Equi-depth Z-order key: each column is bucketed by RANK
    (exact ``ntile(2**bits)`` semantics) before interleaving, so every
    bucket holds the same row count regardless of the value distribution
    — Delta's ``OPTIMIZE ZORDER BY`` interleaves range-partition ids for
    exactly this reason (equi-width grids collapse under skew: a
    lognormal money column puts most rows in a handful of cells and the
    curve locality is lost). ``tiebreak`` (a unique id column) makes the
    rank — and thus the key — deterministic under ties. Returns ``df``
    with the interleaved key added as ``out_col``.

    Scale note: each per-column bucketing is
    ``packing.distributed_ntile`` — the ``repartitionByRange`` + prefix
    count formulation, NOT a global ``Window.orderBy`` ntile (a
    single-task sort at any scale; SCALE.md's no-unpartitioned-window
    rule) — while staying bit-identical to ntile, so the key is exact
    and oracle-replayable. One range exchange per clustered column, the
    same count of exchanges the window form pays, with no serial
    bottleneck. EAGER, not lazy: each ``distributed_ntile`` call runs a
    ``localCheckpoint`` + a per-partition-totals collect + a scalar
    count, so calling this triggers k sequential Spark jobs up front —
    callers composing layouts lazily should compute the key once and
    reuse the returned frame, not re-invoke per consumer (ADVICE r9).
    For the physical rewrite itself ``zorder_layout``'s single
    ``repartitionByRange`` over the interleaved key computes equi-depth
    boundaries by reservoir sampling instead."""
    from pyveb_spark.operators.packing import distributed_ntile

    n = 1 << bits
    out = df
    bucket_cols = []
    for c in cols:
        order = [c] + ([tiebreak] if tiebreak else [])
        bcol = f"__zb_{c}"
        out = distributed_ntile(out, n, order, out_col=bcol)
        bucket_cols.append(bcol)
    key = morton_interleave(
        [(F.col(b) - F.lit(1)).cast("bigint") for b in bucket_cols], bits
    )
    return out.withColumn(out_col, key).drop(*bucket_cols)


def zorder_layout(
    df: DataFrame,
    cols: Sequence[str],
    n_files: int,
    bits: int = 16,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Physically cluster ``df`` for multi-dimensional scan pruning: range-
    partition into ``n_files`` partitions of the Z-order key and sort
    within each, so every output file covers a compact hyper-rectangle and
    min/max stats prune on *every* clustered column. Write the result with
    any §2.2 writer."""
    key = zorder_key(df, cols, bits, bounds)
    return (
        df.withColumn("__z", key)
        .repartitionByRange(int(n_files), "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def compaction_plan(
    files: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    bytes_col: str,
    target_bytes: int,
    group_col: str = "compaction_group",
) -> DataFrame:
    """Small-files compaction PLAN: assign every file to a merge group
    without moving a byte — the decision table Delta's ``OPTIMIZE``
    planner computes before the rewrite. Files are ordered within their
    partition (never across partition boundaries — a merge across them
    would break partition pruning), prefix-summed by size, and grouped
    by ``(running_bytes_before_file) DIV target_bytes``: consecutive
    files pack into ~target-sized groups, a file larger than the target
    lands alone, and a singleton group means "already right-sized, skip".

    Scale: one keyed window per partition + pure integer arithmetic on
    the FILE LISTING (metadata, not data) — planning a 10⁸-file table
    costs a scan of 10⁸ tiny rows. The physical rewrite of each group is
    ``compact_files``' repartition-and-swap, executable group-by-group
    (resumable, throttleable). Deterministic given the listing, provided
    ``order_cols`` is unique within each partition (a file path is); ties
    are broken by ``bytes_col`` so the frame is explicit ROWS, never the
    default RANGE frame that would pool tied files' sizes into one
    cumulative sum and overflow the target+max_file packing bound."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols, bytes_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(bytes_col)).over(w)
    before = (cum - F.col(bytes_col)).cast("bigint")
    return (
        files.withColumn("__before", before)
        .withColumn(
            group_col, F.expr(f"__before div {int(target_bytes)}")
        )
        .drop("__before")
    )


def compact_files(
    spark,
    path: str,
    target_mb: int = 256,
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a Parquet directory into
    ``ceil(total_bytes / target_mb)`` right-sized files (the ``OPTIMIZE``
    half of Delta's OPTIMIZE ZORDER, format-free).

    The small-files problem is the classic death of streaming /
    per-batch-upsert tables at scale: a 100 TB table accreting 1 MB files
    costs 10⁸ opens per scan and starves the driver on listing. This
    rewrites with ``repartition(n)`` (round-robin — size-balanced without
    any key assumption) or, with ``partition_cols``, one file per
    partition value via ``repartition(cols)`` + dynamic overwrite, into
    ``<path>__compact_stage``, then commits it over ``path`` with
    ``sinks.writers.swap_dir``.

    Returns the target file count. Sizing reads the FileSystem listing
    only — no data scan beyond the rewrite itself.
    """
    import math

    from pyveb_spark.sinks.writers import (
        _hadoop_fs,
        raise_if_swap_crashed,
        swap_dir,
    )

    stage = path.rstrip("/") + "__compact_stage"
    raise_if_swap_crashed(spark, stage, path)
    total = sum(size for _, size in _parquet_files(spark, path))
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    # a stage left by a run that failed before its swap: dynamic
    # partition overwrite would keep its partitions the rewrite lacks
    fs, HPath = _hadoop_fs(spark, stage)
    fs.delete(HPath(stage), True)
    if partition_cols:
        (
            df.repartition(*[F.col(c) for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(stage)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(stage)
    with swap_dir(spark, stage, path):
        pass
    return n_files
