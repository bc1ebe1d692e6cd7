#!/usr/bin/env python
"""Measure state-store growth across micro-batches — the watermark-bounded
-state claim, measured instead of asserted.

Stages the events table as N time-ordered file drops (mtime-sequenced so
FileStreamSource processes them oldest-first), replays two stateful
queries over them with ``maxFilesPerTrigger=1``:

- ``dedup``: ``dropDuplicatesWithinWatermark`` on event_id (every key
  unique → worst case for dedup state),
- ``window``: 1-hour tumbling counts per event_type,

and prints per-batch ``stateOperators`` metrics (rows in state, rows
updated, rows dropped by watermark, memory). On an UNBOUNDED design the
state-row curve tracks cumulative input; with the watermark it must
plateau at ≈ one watermark-horizon of keys regardless of how many batches
have passed — that plateau is the number SCALE.md records.

``--skew H`` re-keys the feed the way a real 100 TB/day feed is keyed:
a Zipf(≈1) key distribution (P(k) ∝ 1/k over [1, n_keys]) plus an
explicit hot key taking fraction H of ALL events (the bot-user / default-
tenant failure mode). Both probes then run on ``skew_key`` instead of the
uniform ``event_id``/``event_type`` keys, so the per-batch metrics show
what eviction and peak state do when one state partition is hammered.

Usage::

    python tools/gen_twin.py --mult 100 --out /tmp/twin_sf1   # 1M events
    python tools/stream_state_probe.py --sf-dir /tmp/twin_sf1 --drops 25
    python tools/stream_state_probe.py --sf-dir /tmp/twin_sf1 --drops 25 \\
        --skew 0.2                      # Zipf keys, hot key = 20% of feed
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def with_skewed_key(df, hot_frac: float, n_keys: int):
    """Add a deterministic ``skew_key``: Zipf(≈1) over [1, n_keys]
    (log-uniform ``floor(exp(u·ln n))`` gives P(k) ∝ 1/k), with an
    explicit hot key 0 taking ``hot_frac`` of all rows on top. Stateless
    md5-derived uniforms — reproducible on any partitioning, no RNG
    state to break streaming retries."""
    grid = float(1 << 20)

    def _u(salt: str):
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(salt), F.col("event_id"))),
                1, 12,
            ),
            16, 10,
        ).cast("long")
        return (h % F.lit(1 << 20)) / F.lit(grid)

    zipf = (
        F.floor(F.exp(_u("zipf") * F.log(F.lit(float(n_keys)))))
        .cast("long")
    )
    key = F.when(_u("hot") < F.lit(hot_frac), F.lit(0)).otherwise(zipf)
    return df.withColumn("skew_key", key)


def stage_time_ordered_drops(
    spark, sf_dir: str, out: str, n_drops: int, skew: float = 0.0
):
    """Split events into n_drops contiguous time ranges, one parquet file
    each, written (and mtime-stamped) in time order so the file stream
    replays them as an in-order feed. ``skew > 0`` adds the Zipf+hot
    ``skew_key`` column (see :func:`with_skewed_key`)."""
    from pyveb_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events")
    if skew > 0:
        ev = with_skewed_key(ev, skew, max(int(ev.count()), 2))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo).total_seconds() + 1
    os.makedirs(out, exist_ok=True)
    tmp = tempfile.mkdtemp()
    bucket = F.least(
        F.lit(n_drops - 1),
        F.floor(
            (F.col("ts").cast("double") - F.lit(lo.timestamp()))
            / F.lit(span / n_drops)
        ).cast("int"),
    )
    ev.withColumn("__b", bucket).write.partitionBy("__b").mode(
        "overwrite"
    ).parquet(tmp)
    for i in range(n_drops):
        src_dir = os.path.join(tmp, f"__b={i}")
        parts = [f for f in os.listdir(src_dir) if f.endswith(".parquet")]
        assert len(parts) == 1, "expected one file per time bucket"
        dst = os.path.join(out, f"drop_{i:04d}.parquet")
        shutil.copyfile(os.path.join(src_dir, parts[0]), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    shutil.rmtree(tmp)
    return ev.schema, int(ev.count())


def run_probe(
    spark, drops_path, schema, mode: str, watermark: str,
    key_cols: list[str] | None = None,
):
    from pyveb_spark.streaming import (
        read_file_stream,
        run_available_now,
        stateful_dedup,
        windowed_agg,
    )

    stream = read_file_stream(
        spark, drops_path, schema, max_files_per_trigger=1
    )
    if mode == "dedup":
        q_df = stateful_dedup(
            stream, key_cols or ["event_id"], ts_col="ts",
            watermark=watermark,
        )
        out_mode = "append"
    else:
        q_df = windowed_agg(
            stream,
            ts_col="ts",
            window_duration="1 hour",
            aggs={"n": F.count(F.lit(1))},
            group_by=key_cols or ["event_type"],
            watermark=watermark,
        )
        out_mode = "append"
    with tempfile.TemporaryDirectory() as ck:
        q = run_available_now(
            q_df,
            os.path.join(ck, "ck"),
            output_mode=out_mode,
            fmt="noop",
        )
        progress = [json.loads(p.json) for p in q.recentProgress]
    rows = []
    for p in progress:
        for so in p.get("stateOperators", []):
            rows.append(
                {
                    "batch": p["batchId"],
                    "input_rows": p.get("numInputRows", 0),
                    "state_rows": so.get("numRowsTotal"),
                    "updated": so.get("numRowsUpdated"),
                    "evicted": so.get("numRowsRemoved"),
                    "state_bytes": so.get("memoryUsedBytes"),
                }
            )
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--drops", type=int, default=25)
    ap.add_argument("--watermark", default="2 hours")
    ap.add_argument(
        "--skew", type=float, default=0.0,
        help="hot-key fraction; >0 re-keys the feed Zipf(1)+hot and "
             "runs both probes on skew_key",
    )
    args = ap.parse_args()

    from pyveb_spark.session import get_spark

    spark = get_spark("stream-state-probe")
    spark.sparkContext.setLogLevel("ERROR")
    drops = tempfile.mkdtemp(prefix="drops_")
    schema, n_events = stage_time_ordered_drops(
        spark, args.sf_dir, drops, args.drops, skew=args.skew
    )
    key_cols = ["skew_key"] if args.skew > 0 else None
    print(f"staged {n_events} events into {args.drops} time-ordered drops")
    if args.skew > 0:
        staged = spark.read.parquet(os.path.join(drops, "*.parquet"))
        key_stats = staged.agg(
            F.countDistinct("skew_key").alias("n_keys"),
            (F.sum((F.col("skew_key") == 0).cast("long"))
             / F.count(F.lit(1))).alias("hot_share"),
        ).first()
        print(
            f"skewed keys: {key_stats['n_keys']} distinct, hot key 0 = "
            f"{key_stats['hot_share']:.1%} of all events "
            f"(requested {args.skew:.0%} + Zipf mass)"
        )
    for mode in ("dedup", "window"):
        rows = run_probe(
            spark, drops, schema, mode, args.watermark, key_cols=key_cols
        )
        peak = max((r["state_rows"] or 0) for r in rows)
        final = rows[-1]["state_rows"] if rows else None
        peak_mb = max((r["state_bytes"] or 0) for r in rows) / 1e6
        print(f"\n== {mode}: watermark={args.watermark}, "
              f"{len(rows)} stateful batches ==")
        for r in rows:
            print(
                f"  batch {r['batch']:>3}  in={r['input_rows']:>8}  "
                f"state_rows={r['state_rows']:>8}  upd={r['updated']:>7}  "
                f"evicted={r['evicted']:>7}  state={r['state_bytes']/1e6:.1f}MB"
            )
        print(
            json.dumps(
                {
                    "mode": mode,
                    "skew": args.skew,
                    "n_events": n_events,
                    "n_batches": len(rows),
                    "peak_state_rows": peak,
                    "final_state_rows": final,
                    "peak_state_mb": round(peak_mb, 1),
                    "peak_state_fraction_of_input": round(
                        peak / n_events, 4
                    ),
                }
            )
        )
    shutil.rmtree(drops)


if __name__ == "__main__":
    main()
