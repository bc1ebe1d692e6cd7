#!/usr/bin/env python
"""Isolated per-query profiler for the optimization rounds (guide §1).

Runs one or more named queries on the bench session, timing each with the
noop sink (computes every column, discards output — §1.4) after a warmup,
and optionally dumps ``.explain("formatted")`` to a file. Next to each
timed run it prints how many classes Spark's code generator compiled
during it (``CodegenMetrics``): a warm repeat run should compile none, so
a nonzero count is a query whose generated code misses the codegen cache.
It also prints how many Spark jobs each run launched while BUILDING the
frame (job ids submitted during ``fn(spark, dir)``, before the timed
action): eager work inside a builder shows there, not in the action.

Usage::

    python tools/profile_query.py q41 q185 --runs 3 --sf-dir /root/testdata/sf0.1
    python tools/profile_query.py q17 --explain plans/r12/q17_before.txt

Accepts name prefixes (q41 matches q41_dup_clusters). The timed action is
the noop write; pass --count to time ``df.count()`` instead (the bench's
historical action) for comparability.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyveb_spark.queries import QUERIES  # noqa: E402
from pyveb_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--count", action="store_true",
                    help="time df.count() (bench action) instead of noop")
    ap.add_argument("--explain", default=None,
                    help="write explain('formatted') of the LAST query here")
    ap.add_argument("--conf", action="append", default=[],
                    help="runtime SQL conf k=v to set before profiling")
    args = ap.parse_args()

    spark = get_spark("pyveb-profile")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    # job ids are 0 .. numTotalJobs-1, so the delta is the jobs submitted
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    selected = []
    for want in args.names:
        hits = [n for n in QUERIES if n.startswith(want)]
        if not hits:
            print(f"no query matches {want!r}", file=sys.stderr)
            return 2
        selected.extend(hits)

    for name in selected:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")

        def run_once() -> tuple[float, int, int]:
            """Seconds, generated-class compiles and build jobs of one
            run."""
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            j0 = dag.numTotalJobs()
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            build_jobs = dag.numTotalJobs() - j0
            if args.count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            return (time.perf_counter() - t0,
                    codegen.METRIC_COMPILATION_TIME().getCount() - c0,
                    build_jobs)

        for _ in range(args.warmup):
            run_once()
        times, compiles, build_jobs = zip(
            *(run_once() for _ in range(args.runs))
        )
        print(
            f"{name}: median {statistics.median(times):.3f}s "
            f"min {min(times):.3f}s runs {[round(t, 3) for t in times]} "
            f"compiles {list(compiles)} build_jobs {list(build_jobs)}"
        )
        if args.explain:
            df = fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(args.explain, "w") as fh:
                fh.write(plan)
            print(f"  plan -> {args.explain}")
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
