"""Self-cleaning query runs (``queries/_helpers.scratch_query`` over
``query_scratch``): whatever a query creates — a temp directory, catalog
tables, memory-sink views — is gone when it returns, and also when it
raises; the frame it returns is materialized and outlives its scratch."""

from __future__ import annotations

import tempfile

import pytest

from pyveb_spark.queries import QUERIES

_MEMORY_SINK_QUERIES = (
    "q40_stream_replay",
    "q46_stream_dedup",
    "q47_stream_enrich",
    "q49_stream_attribution",
    "q119_stream_sliding_windows",
    "q164_stream_admission",
)


def _table_names(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def test_memory_sink_queries_leave_no_tables(spark, sf_dir):
    """Repeated runs in one session must not pile up memory-sink tables
    (each holds its rows on the driver), and the returned frames must
    stay readable after their sink is dropped."""
    before = _table_names(spark)
    for _ in range(2):
        for name in _MEMORY_SINK_QUERIES:
            out = QUERIES[name](spark, sf_dir)
            assert out.count() > 0, name
            assert _table_names(spark) - before == set(), name


def test_returned_frame_outlives_its_scratch(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """A non-stream self-cleaning query (q213, persisted PQ codes): its
    directory is gone when it returns, and its frame still counts its
    rows, so the frame reads nothing from that directory."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = QUERIES["q213_pq_persisted_search"](spark, sf_dir)
    assert list(tmp_path.glob("q213*")) == []
    assert out.count() > 0


def test_failed_stream_run_removes_its_dir(spark, sf_dir, tmp_path,
                                           monkeypatch):
    import pyveb_spark.streaming.stream as stream

    def _fail(*args, **kwargs):
        raise RuntimeError("planted stream failure")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(stream, "run_available_now", _fail)
    with pytest.raises(RuntimeError, match="planted"):
        QUERIES["q164_stream_admission"](spark, sf_dir)
    assert list(tmp_path.glob("q164*")) == []


def test_failed_index_run_drops_its_table_and_dir(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """The failure comes after the index table exists, so the drop on
    the failure path is what removes it."""
    import pyveb_spark.sinks.index_store as index_store

    save = index_store.save_bucketed_index

    def _save_then_fail(*args, **kwargs):
        save(*args, **kwargs)
        raise RuntimeError("planted failure after the table write")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(index_store, "save_bucketed_index", _save_then_fail)
    before = _table_names(spark)
    with pytest.raises(RuntimeError, match="planted"):
        QUERIES["q208_minhash_persisted_admission"](spark, sf_dir)
    assert _table_names(spark) - before == set()
    assert list(tmp_path.glob("q208*")) == []
