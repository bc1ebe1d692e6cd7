"""Shared helpers for the query-suite package."""

from __future__ import annotations

import functools
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyveb_spark.operators.cleaning import clean_old_dates
from pyveb_spark.operators.joins import asof_join
from pyveb_spark.sources.readers import read_table


def _dec(col: str, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def _query_vec(e: DataFrame, vec_id: int = 0) -> list[float]:
    """Driver-side query vector for the ANN queries (one tiny lookup —
    the query point is model input, not data)."""
    row = e.where(F.col("vec_id") == vec_id).select("embedding").first()
    if row is None:
        raise ValueError(f"no embedding row with vec_id={vec_id}")
    return [float(x) for x in row[0]]


@dataclass
class QueryScratch:
    """What one query run creates: a private directory and the names
    handed out by :meth:`name`."""

    prefix: str
    dir: str
    names: list[str] = field(default_factory=list)

    def name(self, label: str) -> str:
        """A fresh catalog-table or memory-sink name, dropped on exit."""
        n = f"{self.prefix}_{label}_{uuid.uuid4().hex[:8]}"
        self.names.append(n)
        return n


@contextmanager
def query_scratch(spark: SparkSession, prefix: str) -> Iterator[QueryScratch]:
    """Scratch state for one self-cleaning query run — the reference's
    stage-into-a-UUID-twin-and-drop-it load (``rs_client.py:119-124``).

    Yields a fresh ``tempfile`` directory (``.dir``, prefixed
    ``<prefix>_``) and unique names (``.name(label)``). Cleanup contract:
    on exit, whether the body returned or raised, every handed-out name
    is dropped as a memory-sink view, as a catalog table and as its
    ``__compact_stage`` twin, and then the directory is removed. Nothing
    the run created outlives it, so a frame the query returns must be
    materialized inside the ``with``; :func:`scratch_query` does that
    for every registered query that uses one.
    """
    s = QueryScratch(prefix, tempfile.mkdtemp(prefix=f"{prefix}_"))
    try:
        yield s
    finally:
        try:
            for n in s.names:
                spark.catalog.dropTempView(n)
                spark.sql(f"DROP TABLE IF EXISTS {n}")
                spark.sql(f"DROP TABLE IF EXISTS {n}__compact_stage")
        finally:
            shutil.rmtree(s.dir, ignore_errors=True)


def scratch_query(
    builder: Callable[[SparkSession, str, QueryScratch], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Turn a self-cleaning builder ``f(spark, sf_dir, s)`` into a
    registry query ``(spark, sf_dir)``: it runs the builder inside
    :func:`query_scratch` (prefix ``qNNN`` from the builder's name) and
    returns its frame materialized by ``localCheckpoint(eager=True)``
    before the scratch is cleaned up — a checkpoint, not
    collect-and-rebuild, whose Python-RDD frame pays a worker round trip
    per partition on every scan (``session.local_df`` docstring). The
    lazy builder stays reachable as ``__wrapped__``; :func:`lazy_frame`
    runs it for plan inspection."""
    prefix = builder.__name__.split("_", 1)[0]

    @functools.wraps(builder)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        with query_scratch(spark, prefix) as s:
            return builder(spark, sf_dir, s).localCheckpoint(eager=True)

    return run


@contextmanager
def lazy_frame(
    spark: SparkSession, query: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
) -> Iterator[DataFrame]:
    """The frame a registry query builds, before any final
    materialization, for plan inspection: a :func:`scratch_query`
    query's lazy builder runs inside a fresh scratch and its frame is
    valid until exit; any other query's frame is yielded as is."""
    builder = getattr(query, "__wrapped__", None)
    if builder is None:
        yield query(spark, sf_dir)
        return
    with query_scratch(spark, builder.__name__.split("_", 1)[0]) as s:
        yield builder(spark, sf_dir, s)
