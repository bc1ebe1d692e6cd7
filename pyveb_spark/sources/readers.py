"""Batch readers — one multi-path scan, schema enforced, pushdown-friendly.

Design-for-scale notes:

- All readers return *lazy* DataFrames; filters/projections applied by the
  caller reach the Parquet scan (check ``.explain``: ``PushedFilters`` /
  ``ReadSchema``). Never collect here.
- Schema enforcement is done with ``try_cast`` projections (NULL on invalid)
  instead of the reference's row-level Python UDF repairs
  (``spark_client.py:269-319``), keeping the whole read inside codegen.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver's synthetic star schema (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

__all__ = [
    "TESTDATA_TABLES",
    "read_parquet",
    "read_csv",
    "read_json",
    "read_orc",
    "read_avro",
    "read_text",
    "read_binary_files",
    "read_tar_members",
    "read_jdbc",
    "read_records",
    "read_table",
    "load_tables",
]


def read_parquet(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: StructType | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Read one or many Parquet paths as a single scan.

    Replaces ``read_parquet``/``read_single_parquet_file``/
    ``read_multiple_parquet_files`` (``spark_client.py:107-196``). The
    reference's per-file union loop created N scan nodes and a driver-side
    fold; a single multi-path read lets the datasource plan splits once and
    ``mergeSchema`` absorbs the per-file schema drift the reference worked
    around by hand (rationale at ``spark_client.py:108-113``).
    """
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read.option("mergeSchema", str(merge_schema).lower())
    df = reader.parquet(*paths)
    if schema is not None:
        from pyveb_spark.operators.schema import apply_schema

        df = apply_schema(df, schema)
    return df


def read_csv(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: StructType | None = None,
    header: bool = True,
    delimiter: str = ";",
) -> DataFrame:
    """CSV scan; defaults mirror ``read_single_csv_file``
    (``spark_client.py:117-134``: header='true', delimiter=';')."""
    if isinstance(paths, str):
        paths = [paths]
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(list(paths))


def read_json(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON scan ↔ ``s3_client.py:291-299`` (driver get+json.loads) — here
    the executors read in parallel."""
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(list(paths))


def read_orc(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: StructType | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning profile as Parquet.

    The reference's staging layer is Parquet-only (``config.py:77-106``); a
    warehouse migrating off Hive will have ORC fact tables, so the engine
    reads them natively (predicate pushdown + column pruning reach the ORC
    reader exactly like Parquet — verified in ``tests/test_formats.py``).
    """
    if isinstance(paths, str):
        paths = [paths]
    df = spark.read.option("mergeSchema", str(merge_schema).lower()).orc(*paths)
    if schema is not None:
        from pyveb_spark.operators.schema import apply_schema

        df = apply_schema(df, schema)
    return df


def read_avro(
    spark: SparkSession,
    paths: str | Sequence[str],
    schema: StructType | None = None,
) -> DataFrame:
    """Avro scan — row-oriented interchange format common at Kafka edges.

    ``spark-avro`` is an external module (shipped with Spark distributions
    but not always on the classpath); this raises a clear error when absent
    instead of an opaque ``ClassNotFoundException`` mid-job.
    """
    if isinstance(paths, str):
        paths = [paths]
    try:
        df = spark.read.format("avro").load(list(paths))
    except Exception as exc:  # pragma: no cover - classpath-dependent
        # Match ONLY missing-classpath signals; a PATH_NOT_FOUND whose
        # message merely contains a '*.avro' filename must re-raise as-is.
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
    if schema is not None:
        from pyveb_spark.operators.schema import apply_schema

        df = apply_schema(df, schema)
    return df


def read_text(
    spark: SparkSession,
    paths: str | Sequence[str],
    whole_text: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Raw text scan: one row per line, or per file with ``whole_text=True``.

    The whole-file mode is the document-corpus ingest path (one training
    document per file → ``documents``-shaped table); per-line mode covers
    log shipping. Splittable per-line; whole-file rows are bounded by the
    source file sizes, so compact giant files upstream (SCALE.md §sources).
    """
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    # NB: must be the reader kwarg — the string option spelling is ignored.
    return reader.text(list(paths), wholetext=whole_text)


def read_binary_files(
    spark: SparkSession,
    paths: str | Sequence[str],
    path_glob: str | None = None,
) -> DataFrame:
    """Binary-file scan → (path, modificationTime, length, content) rows.

    The multimodal ingest edge: images/audio/video land as opaque ``binary``
    ``content`` with typed metadata, feeding the ``operators/multimodal``
    mapInPandas kernels. ``pathGlobFilter`` prunes at *listing* time — at
    100 TB of mixed media, filtering by extension here avoids even opening
    non-matching objects.
    """
    if isinstance(paths, str):
        paths = [paths]
    reader = spark.read.format("binaryFile")
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.load(list(paths))


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetchsize: int = 50_000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Partitioned parallel JDBC read.

    Replaces every serial cursor streamer in the reference
    (``rs_client.py:537-551``, ``lynx_client.py:138-147``,
    ``sql_terra_client.py:134-143``, ``solid_rs_client.py:33-50``): instead of
    one server-side cursor yielding ``batch_size`` rows to the driver, N
    executors each read a key-range slice concurrently. ``fetchsize`` keeps
    the reference's 50k example batch (``solid_rs_client.py:113``) as the
    per-roundtrip row count.
    """
    if partition_column is not None and (
        lower_bound is None or upper_bound is None
    ):
        # fail before touching the session — str(None) would otherwise
        # reach the JDBC source and die in a NumberFormatException
        raise ValueError(
            "read_jdbc: partition_column requires lower_bound and "
            "upper_bound"
        )
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def read_records(
    spark: SparkSession,
    records: Iterable[dict],
    schema: StructType | None = None,
) -> DataFrame:
    """List-of-dicts → DataFrame ↔ ``common.py:386-390`` /
    ``dbt_client.py:660-672`` (which went through pandas)."""
    records = list(records)
    if schema is not None:
        return spark.createDataFrame(records, schema)
    return spark.createDataFrame(records)


# Columns stored as Parquet TIMESTAMP(NANOS) — normalized to TimestampType
# by ``read_table``.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def nanos_to_timestamp(df: DataFrame, col: str) -> DataFrame:
    """Long epoch-nanos → TimestampType via exact integer division (floor
    to microseconds — double math would lose precision above 2^53 ns)."""
    return df.withColumn(
        col, F.timestamp_micros(F.expr(f"`{col}` div 1000").cast("long"))
    )


# Session confs that change the Spark schema inferred from a Parquet
# footer (Spark 4.1's ``ParquetToSparkSchemaConverter`` and the inference
# itself) and that ``read_table`` does not pin: part of each memo entry's
# stamp, so a session that sets one differently re-infers.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

# path -> (stamp, inferred schema); one entry per path, replaced when the
# stamp changes. Entries are written whole, so concurrent misses on one
# path at worst infer twice.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    listing: the inference is a Spark job per call, a read with a known
    schema launches none. The stamp is the listing's (name, size, mtime)
    per file plus the ``_SCHEMA_CONFS`` values, so any write to the path
    re-infers."""
    from pyveb_spark.operators.layout import _file_listing

    listing = _file_listing(spark, path)
    if not listing:
        # nothing to fingerprint (a missing path, a glob): no memo, and a
        # missing path raises the reader's own error
        return spark.read.parquet(path)
    stamp = (
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
        tuple(sorted(listing)),
    )
    hit = _schemas.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (stamp, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic testdata table (TESTDATA.md).

    Session-independent: the events fixture is Parquet ``TIMESTAMP(NANOS)``,
    whose read type varies by session conf. The engine contract is
    TimestampType (LTZ) under a UTC session, so this function owns the
    read policy (the confs are runtime-settable; the driver uses a plain
    session, not ``get_spark``): with ``inferTimestampNTZ`` off, Spark 4.1
    reads the column as ``TIMESTAMP`` under either ``nanosAsLong`` value;
    a Spark that honours ``nanosAsLong`` reads long nanos, converted here
    with exact integer math.

    The schema is inferred once per file listing and memoized in the
    process (``_read_parquet_memo``): later reads pass it to the reader
    and launch no Spark job. The memo holds one entry per path, keyed on
    the (name, size, mtime) of every file under it and on the session
    values of the confs that change the inferred types
    (``_SCHEMA_CONFS``); a rewrite, an appended file or a changed conf
    re-infers and replaces the entry.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Engine semantics are UTC end-to-end (session.py); pin it so results
    # are identical under any caller session regardless of host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet_memo(spark, f"{sf_dir}/{name}.parquet")
    for c in _NANOS_TS_COLS.get(name, ()):
        if c not in df.columns:
            continue
        t = df.schema[c].dataType.typeName()
        if t in ("long", "bigint"):
            df = nanos_to_timestamp(df, c)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: Sequence[str] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the star schema as a dict of lazy DataFrames and register temp
    views so ``spark.sql`` works over the same names."""
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def add_ingest_metadata(df: DataFrame, partition_date: str | None = None) -> DataFrame:
    """Append META columns ↔ ``add_metadata`` (``spark_client.py:399-416``,
    ``parser.py:8-12``): file provenance + partition date + processing time,
    computed natively instead of via driver-side literals."""
    out = (
        df.withColumn("META_file_name", F.input_file_name())
        .withColumn("META_processing_date_utc", F.current_timestamp())
    )
    part = F.lit(partition_date).cast("date") if partition_date else F.current_date()
    return out.withColumn("META_partition_date", part)


def read_tar_members(
    spark: SparkSession,
    path: str,
    glob: str = "*.tar",
    member_suffixes: "Sequence[str] | None" = None,
) -> DataFrame:
    """WebDataset-style archive ingestion: scan ``*.tar`` shards with the
    ``binaryFile`` source (one input partition per shard — the planner
    parallelizes across archives) and explode each into one row per
    member: ``(archive, member, n_bytes, content)``. This is the standard
    large-scale multimodal layout — millions of small image/audio/text
    files packed into thousand-member tar shards so object storage serves
    sequential reads instead of per-file requests; downstream, pair the
    payload with the decode kernels in ``operators/multimodal``.

    Extraction runs executor-side in an Arrow-batched kernel (stdlib
    ``tarfile`` over an in-memory shard — shards are sized to fit, that
    is the POINT of sharding). ``member_suffixes`` prunes members before
    they enter Spark rows (e.g. ``('.jpg', '.json')``).

    Scale notes: parallelism = shard count; keep shards in the 100 MB –
    1 GB band. The payload column follows the binary-column convention —
    project it away in metadata-only queries so the scan prunes it.
    """
    import io
    import tarfile
    from collections.abc import Iterator as _It

    import pandas as pd

    suffixes = tuple(member_suffixes) if member_suffixes else None
    shards = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def _explode(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            rows = {"archive": [], "member": [], "n_bytes": [], "content": []}
            for apath, blob in zip(pdf["path"], pdf["content"]):
                with tarfile.open(
                    fileobj=io.BytesIO(bytes(blob)), mode="r:*"
                ) as tf:
                    for m in tf.getmembers():
                        if not m.isfile():
                            continue
                        if suffixes and not m.name.endswith(suffixes):
                            continue
                        data = tf.extractfile(m).read()
                        rows["archive"].append(apath)
                        rows["member"].append(m.name)
                        rows["n_bytes"].append(len(data))
                        rows["content"].append(data)
            yield pd.DataFrame(rows)

    return shards.mapInPandas(
        _explode,
        schema="archive string, member string, n_bytes long, content binary",
    )
