"""Shared helpers for the query-suite package."""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Iterator
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
    materialized (``localCheckpoint(eager=True)``) inside the ``with``.
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
