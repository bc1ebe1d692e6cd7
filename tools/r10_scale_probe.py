#!/usr/bin/env python
"""Round-10 scale probe: time the durable PQ/SQ8/IVF-PQ + compaction
queries (q213-q217) at sf0.1 and the persisted mult-100/mult-300 twins,
and measure the auto-planes candidate-volume cut on the sf3 twin's
admission split (the BASELINE.md q206 resolution-knob row).

Usage: python tools/r10_scale_probe.py [--dirs sf0.1:/root/testdata/sf0.1
       sf1:/tmp/twin_sf1 sf3:/tmp/twin_sf3] [--runs 2] [--planes-only]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyveb_spark.session import get_spark  # noqa: E402

NEW = [
    "q213_pq_persisted_search",
    "q214_sq8_persisted_ann",
    "q215_ivfpq_persisted_serving",
    "q216_minhash_compacted_evolution",
    "q217_ivf_compacted_search",
]


def probe_planes(spark, sf_dir: str) -> dict:
    """Candidate volume + lookup wall-clock at fixture vs auto planes."""
    from pyspark.sql import functions as F

    from pyveb_spark.operators.similarity import (
        lsh_cosine_lookup,
        suggest_lsh_planes,
    )
    from pyveb_spark.sources.readers import read_table

    e = read_table(spark, sf_dir, "embeddings")
    arriving = e.where(F.col("vec_id") % 17 == 0)
    corpus = e.where(F.col("vec_id") % 17 != 0)
    n = corpus.count()
    auto = suggest_lsh_planes(n)
    out = {"corpus": n, "auto_planes": auto}
    for label, planes in [("fixture6", 6), (f"auto{auto}", auto)]:
        t0 = time.time()
        cnt = lsh_cosine_lookup(
            arriving, corpus, threshold=0.3, n_planes=planes, seed=42
        ).count()
        out[label] = {
            "planes": planes,
            "matches": cnt,
            "sec": round(time.time() - t0, 2),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--dirs",
        nargs="+",
        default=[
            "sf0.1:/root/testdata/sf0.1",
            "sf1:/tmp/twin_sf1",
            "sf3:/tmp/twin_sf3",
        ],
    )
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--planes-only", action="store_true")
    ap.add_argument("--out", default="/tmp/r10_scale.json")
    args = ap.parse_args()

    from pyveb_spark.queries import QUERIES

    spark = get_spark("r10-scale")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {}
    for spec in args.dirs:
        label, path = spec.split(":", 1)
        results[label] = {}
        if not args.planes_only:
            for name in NEW:
                best = None
                for _ in range(args.runs):
                    t0 = time.time()
                    QUERIES[name](spark, path).collect()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                results[label][name] = round(best, 2)
                print(f"{label} {name}: {results[label][name]}s",
                      flush=True)
        if label in ("sf1", "sf3"):
            results[label]["planes_probe"] = probe_planes(spark, path)
            print(f"{label} planes: {results[label]['planes_probe']}",
                  flush=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
