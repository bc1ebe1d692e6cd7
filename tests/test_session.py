"""Session builder: Python workers import pyveb_spark from any working
directory, operator caches survive a session restart, and a repeat run
reuses its compiled classes."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pyveb_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(pyveb_spark.__file__)))


def test_arrow_udf_query_runs_outside_the_package_root(sf_dir, tmp_path):
    """q38 decodes payloads in a ``mapInPandas`` kernel that names
    pyveb_spark functions, so its Python workers must import the package.
    The driver finds it through ``sys.path`` and the workers, started in
    ``tmp_path`` without PYTHONPATH, only through the session conf."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyveb_spark.queries import QUERIES
        from pyveb_spark.session import get_spark

        spark = get_spark("cwd-check")
        q = QUERIES["q38_multimodal_decode"]
        print(len(q(spark, {sf_dir!r}).collect()))
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert int(done.stdout.split()[-1]) > 0


def test_operator_caches_survive_a_session_restart(tmp_path):
    """A long-lived driver stops and restarts sessions in one process.
    The persist slots (``operators/cache.cached_once``) and the memoized
    Column builders must serve the second session exactly like the first:
    a slot holding a frame of the stopped context is dropped, never
    returned or unpersisted."""
    script = textwrap.dedent(
        f"""
        import json
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyveb_spark.operators.cache import cached_once, clear_slot
        from pyveb_spark.operators.dedup import (
            minhash_lsh_index,
            minhash_lsh_lookup,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
            simhash,
        )
        from pyveb_spark.operators.similarity import lsh_bucket_expr
        from pyveb_spark.operators.text import winnow_pairs
        from pyveb_spark.session import get_spark

        words = [f"w{{i}}" for i in range(40)]
        base = [" ".join(words[s:s + 20]) for s in range(0, 20, 4)]
        rows = [(i, t) for i, t in enumerate(base)]
        rows += [(10 + i, t + " tail") for i, t in enumerate(base)]

        def run(spark):
            docs = spark.createDataFrame(rows, "doc_id bigint, text string")
            vecs = spark.createDataFrame(
                [(i, [float(i - 2), 1.0, -0.5 * i, 2.0]) for i in range(6)],
                "id bigint, embedding array<double>",
            )
            index = minhash_lsh_index(docs.where("doc_id < 10"), "doc_id", "text")
            probe = docs.where("doc_id >= 10")
            out = {{
                "ngram": ngram_jaccard_pairs(docs, "doc_id", "text"),
                "minhash": minhash_lsh_pairs(docs, "doc_id", "text"),
                "winnow": winnow_pairs(docs),
                "lookup": minhash_lsh_lookup(probe, index, "doc_id", "text"),
                "slot": cached_once(spark.range(7).selectExpr("id * 3 AS v"),
                                    "test.restart.slot"),
                "lsh": vecs.select("id", lsh_bucket_expr(4, 3)),
                "simhash": simhash(docs, "doc_id", "text"),
            }}
            return {{k: sorted(map(list, df.collect())) for k, df in out.items()}}

        spark = get_spark("restart-check")
        first = run(spark)
        spark.stop()
        spark = get_spark("restart-check")
        second = run(spark)
        clear_slot("test.restart.slot")
        print(json.dumps([first, second]))
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    first, second = json.loads(done.stdout.strip().splitlines()[-1])
    assert first == second
    assert all(first[k] for k in first), first


def test_repeat_run_compiles_no_generated_class(spark, sf_dir):
    """A long-lived driver compiles each generated class once. One
    q94 + q26 round needs ~114 classes; with Spark's default codegen
    cache of 100 the second round recompiled all of them."""
    from pyveb_spark.queries import QUERIES

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_in_one_round():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in ("q94_llm_data_pipeline", "q26_stream_upsert"):
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles_in_one_round()
    assert compiles_in_one_round() == 0
