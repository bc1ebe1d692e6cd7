from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from pyveb_spark.session import get_spark

    s = get_spark("pyveb-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


# ---------------------------------------------------------------------------
# Markers: the full suite is the release gate (~15 min serial); the fast
# path `pytest tests/ -m "not slow"` keeps a sub-5-minute loop for
# iterating. Marking is centralized here by module/test name so adding a
# test never silently misses its marker.
# ---------------------------------------------------------------------------

_SLOW_FILES = {
    # the 205+-query DuckDB oracle sweep — the certification gate itself;
    # selfcheck.py covers the same surface on demand per query
    "test_oracle.py",
    # multi-stage corpus pipelines run end-to-end
    "test_llm_pipeline_e2e.py",
    # Hypothesis property suites (many examples per test)
    "test_properties.py",
    # numeric ANN/k-means reference comparisons (matmul-heavy)
    "test_layout_kmeans.py",
    # Structured Streaming replays / embedded Derby (also carry their
    # own markers; both are integration surfaces, not the edit loop)
    "test_streaming.py",
    "test_jdbc.py",
    # index-lifecycle integration: full save/append/compact/stream
    # cycles with real table swaps and a multi-batch stream (q218) —
    # certification-grade, not the edit loop
    "test_r11_operators.py",
    "test_r12_operators.py",
}
_SLOW_TESTS = {
    # whole-registry physical-plan sweeps (build every query's plan)
    "test_no_row_python_udf_anywhere",
    "test_no_unpartitioned_window_over_corpus",
    "test_pin_width_on_fanout_joins",
    # multi-batch stream-state probes (tools/stream_state_probe.py)
    "test_stream_state_bounded_under_zipf_hot_key_skew",
    "test_stream_state_stays_bounded_across_many_batches",
    # twelve streaming query replays (tests/test_query_scratch.py)
    "test_memory_sink_queries_leave_no_tables",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: oracle sweeps, e2e pipelines, plan sweeps, "
        "Hypothesis suites (excluded by the fast path -m 'not slow')"
    )
    config.addinivalue_line(
        "markers", "streaming: Structured Streaming replays"
    )
    config.addinivalue_line(
        "markers", "derby: embedded-Derby JDBC round trips"
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.fspath.basename
        name = item.name.split("[")[0]
        if base in _SLOW_FILES or name in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
        if base == "test_streaming.py":
            item.add_marker(pytest.mark.streaming)
        if base == "test_jdbc.py":
            item.add_marker(pytest.mark.derby)
