"""Streaming micro-benchmark — measured micro-batch throughput for the
SStream dialect shapes (the batch bench.py analog; writes STREAM_BENCH.md).

Method: drive each pipeline from a rate source for a fixed wall-clock
window, then read processed-row counts from StreamingQueryProgress
(numInputRows summed over completed batches — the engine's own
accounting, not sink counts, so sink cost is excluded). local[N]
throughput is a floor, not a ceiling: every shape here scales by
partitioning (state is keyed) on a real cluster.

Usage: python tools/bench_streaming.py [seconds_per_pipeline]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from kioss_spark.session import get_spark  # noqa: E402
from kioss_spark.streaming import SStream  # noqa: E402

RATE = 200_000  # rows/sec offered load — far above what local micro-batches drain


def run(spark, name, build, seconds):
    s = build(SStream.rate(spark, rows_per_second=RATE, partitions=8))
    q = s.to_memory(f"sb_{name}", output_mode=getattr(s, "_bench_mode", "append"))
    t0 = time.time()
    rows = 0
    batches = 0
    try:
        while time.time() - t0 < seconds:
            time.sleep(0.25)
        for p in q.recentProgress:
            rows += p["numInputRows"]
            batches += p["batchId"] >= 0
    finally:
        q.stop()
    secs = time.time() - t0
    return rows, batches, rows / secs if secs else 0.0


def main() -> int:
    seconds = float(sys.argv[1]) if len(sys.argv) > 1 else 8.0
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    def agg_mode(s):
        s._bench_mode = "complete"
        return s

    def upd_mode(s):
        s._bench_mode = "update"
        return s

    pipelines = [
        ("map_filter", lambda s: s.map(v=F.col("value") * 2).filter(F.col("v") % 4 == 0)),
        ("window_agg_10s", lambda s: agg_mode(s.window_agg(10, F.count(F.lit(1)).alias("n")))),
        (
            "keyed_window_agg",
            lambda s: agg_mode(
                s.map(timestamp=F.col("timestamp"), k=(F.col("value") % 64)).window_agg(
                    10, F.count(F.lit(1)).alias("n"), keys=("k",)
                )
            ),
        ),
        (
            "hll_distinct_64keys",
            lambda s: agg_mode(
                s.map(
                    timestamp=F.col("timestamp"),
                    k=(F.col("value") % 64),
                    v=F.col("value").cast("string"),
                ).distinct_count_approx("v", 10, keys=("k",))
            ),
        ),
        (
            "watermark_dedup",
            lambda s: s.map(
                timestamp=F.col("timestamp"), k=(F.col("value") % 100000)
            ).distinct(key="k"),
        ),
        (
            # round-5: stateful per-key trailing-rate anomaly (bounded
            # applyInPandasWithState — the per-entity monitor shape)
            "rate_anomaly_64keys",
            lambda s: s.map(
                k=(F.col("value") % 64),
                bucket=(F.col("value") / F.lit(64)).cast("long"),
                cnt=(F.col("value") % 7 + 1).cast("long"),
            ).rate_anomaly("k", bucket="bucket", count_col="cnt"),
        ),
        (
            # round-5 continuation: SpaceSaving heavy hitters — 16 slots x
            # 64 counters of state forever, Zipf-ish key mix so evictions
            # actually fire; update-mode sink (summary rows re-emit per batch)
            "heavy_hitters_16x64",
            lambda s: upd_mode(
                s.map(
                    item=(F.col("value") % (F.col("value") % 97 + 3)).cast(
                        "string"
                    )
                ).heavy_hitters("item", k=64, slots=16)
            ),
        ),
    ]
    lines = [
        "# STREAM_BENCH — SStream micro-batch throughput",
        "",
        f"Generated by `tools/bench_streaming.py` ({seconds:.0f}s per pipeline, "
        f"rate source offering {RATE:,} rows/s on local micro-batches;",
        "rows = numInputRows summed over StreamingQueryProgress — engine",
        "accounting, sink cost excluded). Floors, not ceilings: all state",
        "is keyed, so a real cluster scales these by partitioning.",
        "",
        "| pipeline | rows processed | rows/sec |",
        "|---|---|---|",
    ]
    for name, build in pipelines:
        rows, batches, rps = run(spark, name, build, seconds)
        lines.append(f"| {name} | {rows:,} | {rps:,.0f} |")
        print(name, rows, f"{rps:,.0f}/s", flush=True)
    out = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "STREAM_BENCH.md"), "w") as f:
        f.write(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
