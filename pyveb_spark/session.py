"""SparkSession builder profiles.

Reference parity: ``spark_client.py:51-103`` builds a ``local[physical cores]``
session with UTC timezone, LEGACY parquet rebase, S3A tuning, and whole-stage
codegen *disabled* (64KB-codegen workaround, ``spark_client.py:58,69,82``).

Deliberate divergences (documented in SURVEY.md §4):

- **Whole-stage codegen ON** — Spark 3/4 fixed the code-size blowup the
  reference worked around; wide schemas are handled by
  ``spark.sql.codegen.hugeMethodLimit`` falling back per-operator.
- **Codegen cache of 1000 classes** — Spark's default LRU of 100 generated
  classes is smaller than one pass of the ``llm_curation`` benchmark
  (q94 + q26, ~114 classes) and about the size of q41 or q185 alone, so
  a long-lived driver recompiled every class on every repeat run. At
  1000 a repeat pass compiles none.
- **AQE ON** — runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic join-strategy switching replace the reference's hand-tuned
  batch sizes.
- **Direct cloud writes** — no local-disk staging then serial upload
  (``spark_client.py:207-230``); committer config makes ``s3a://`` writes
  safe and parallel on a real cluster.

Scale design: every conf here is chosen so the same code runs unchanged on a
1000-executor cluster — only ``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "local_df", "DEFAULT_SHUFFLE_PARTITIONS"]

# On local[N] keep the shuffle width at N so every core has exactly one
# post-shuffle task; on a real cluster this is overridden (AQE coalesces
# down from a deliberately-high initial number).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pyveb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters mirror the reference's env-keyed profiles
    (``spark_client.py:51-99``) but collapse local/dev/prd into one builder:
    the *only* things that change per environment are master URL and memory,
    which callers pass explicitly.
    """
    import pyveb_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    root = os.path.dirname(os.path.dirname(os.path.abspath(pyveb_spark.__file__)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- determinism / timestamp semantics (reference parity) ---
        # UTC session tz: spark_client.py:70,83
        .config("spark.sql.session.timeZone", "UTC")
        # micro-precision timestamps on write: s3_client.py:213-220 coerces
        # to 'us' for Redshift Parquet COPY compatibility.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # pre-1582 date rebase handled CORRECTED end-to-end (the reference
        # uses LEGACY, spark_client.py:71-72,84-85, because it round-trips
        # through pandas; we stay in the JVM so CORRECTED is right).
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        # --- performance (deliberate divergences, SURVEY §4) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # compiled-class cache sized to the working set (module docstring):
        # at Spark's default of 100, one q94 + q26 pass (~114 classes)
        # evicted each class before its next use, so every pass recompiled
        # them all
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # let AQE keep optimizing INSIDE persisted plans — without this a
        # .persist() freezes the cached subtree's shuffle partitioning
        # (no runtime coalescing), which made the operator-level caches
        # (operators/cache.py) slower than the recomputation they saved
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for every pandas interchange (pandas_udf / toPandas /
        # createDataFrame) — the reference round-trips through pickle.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Idempotent partitioned rewrites: replaces the reference's
        # delete-prefix-then-rewrite (s3_client.py:110-133) with native
        # dynamic partition overwrite.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Declared-schema engine (SURVEY §1.2): partition directory values
        # stay strings instead of being type-inferred, so a partitioned
        # table reads back with the schema it was written with (the
        # reference's year=/month=/day= keys are strings, common.py:47-61).
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # Broadcast threshold: small dims (region/nation/supplier at any SF)
        # must broadcast; 64MB is safe with 128GiB executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Local mode housekeeping
        .config("spark.ui.enabled", "false")
        # Python workers import pyveb_spark to unpickle UDFs, from any cwd
        .config("spark.executorEnv.PYTHONPATH", root)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark, rows, ddl_schema: str):
    """Small driver-side table as a JVM **LocalRelation**, not a Python
    RDD: ``spark.createDataFrame(list, ddl)`` parallelizes the rows into
    ``defaultParallelism`` pickled partitions, and EVERY downstream scan
    pays one Python-worker roundtrip per partition — measured 3.7-4.0 s
    for a ONE-ROW frame on ``local[32]`` (32 sequential worker inits
    under ``coalesce(1)``), the hidden constant behind every tiny model
    write (index manifests, centroid tables, codebooks) and the
    prefix-sum offset join. Routing the same rows through pandas + the
    session's Arrow conversion yields a ``LocalRelation``: rows live in
    the JVM plan, scans spawn no Python workers (0.2 s for the same
    write, 20×), size stats are exact so broadcast decisions are sound.

    ``ddl_schema`` is the same DDL string ``createDataFrame`` accepts;
    empty ``rows`` falls back to the classic path (already job-free).

    The LocalRelation property DEPENDS on the Arrow conversion conf
    (``get_spark`` sets it): with Arrow disabled,
    ``createDataFrame(pandas)`` silently degrades to exactly the
    pickled-RDD path this helper exists to remove — so a disabled conf
    raises here instead of quietly costing 20×. Semantics note: the
    pandas route converts float NaN to NULL (the list route keeps NaN);
    model tables (centroids, codebooks, manifests, offsets) contain no
    NaN by construction, and callers that need literal NaN should use
    ``createDataFrame`` directly."""
    import pandas as pd
    from pyspark.sql.types import StructType

    if not rows:
        return spark.createDataFrame([], ddl_schema)
    if (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "true")
        .lower()
        != "true"
    ):
        raise ValueError(
            "local_df requires spark.sql.execution.arrow.pyspark.enabled"
            "=true (get_spark sets it): without Arrow, "
            "createDataFrame(pandas) degrades to the pickled-RDD path "
            "this helper exists to avoid"
        )
    schema = StructType.fromDDL(ddl_schema)
    pdf = pd.DataFrame([tuple(r) for r in rows], columns=schema.names)
    return spark.createDataFrame(pdf, schema=schema)
