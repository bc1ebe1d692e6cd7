#!/usr/bin/env python
"""Dump .explain("formatted") for a list of queries to plans/<tag>/ files.

Usage::

    python tools/dump_plans.py --tag r12 --suffix before q41 q28 ...

Writes plans/<tag>/<full_query_name>_<suffix>.txt for each name (prefix
match against the registry, like tools/profile_query.py). Plan-only — the
single action cost is whatever eager jobs the query runs at construction
time. A self-cleaning query (``queries._helpers.scratch_query``) is
explained before its final checkpoint: its lazy builder runs inside its
own scratch, which is cleaned up after the plan is written.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyveb_spark.queries import QUERIES  # noqa: E402
from pyveb_spark.queries._helpers import lazy_frame  # noqa: E402
from pyveb_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--out-root", default=None,
                    help="plans dir root (default: <repo>/plans)")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(args.out_root or os.path.join(repo, "plans"),
                           args.tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("pyveb-plans")
    spark.sparkContext.setLogLevel("ERROR")

    selected = []
    for want in args.names:
        hits = [n for n in QUERIES if n.startswith(want)]
        if not hits:
            print(f"no query matches {want!r}", file=sys.stderr)
            return 2
        selected.extend(hits)

    for name in selected:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        with lazy_frame(spark, QUERIES[name], args.sf_dir) as df:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name} -> {path}")
        spark.sparkContext.setJobDescription(None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
