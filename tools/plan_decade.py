"""Many-file manifest PLANNING decade audit (round-14 verdict ask 1
"Done =" criterion): show that candidate selection cost is
O(candidates) on the driver and scales sub-linearly in wall time as the
FILE COUNT grows 10x — the 100 TB planning shape (10^5-10^6 files).

Planning never opens data files, so a synthetic stats table exercises
the full path.  For each file count the script measures the Spark-side
``manifest_candidates_df`` (the round-14 path) against the driver-side
``manifest_candidates`` on collected rows (the pre-round-14 path),
reporting wall time, DRIVER ROWS HELD (the scaling contract:
candidates-only vs files x cols), and the candidate count — which stays
FIXED across decades, so the Spark path's driver rows stay flat while
the legacy path's grow 10x per decade.

Run:  python tools/plan_decade.py [n_files ...]   (default 500 5000 50000)
"""

from __future__ import annotations

import os
import sys
import time


def synth_stats(spark, n_files: int, n_cands: int):
    return spark.range(n_files).selectExpr(
        "concat('f', lpad(cast(id as string), 8, '0'), '.parquet') "
        "as file_path",
        "1024L as file_bytes",
        "100L as file_rows",
        f"if(id < {n_cands}, id * 10L, 1000000 + id) as __base__",
    ).selectExpr(
        "file_path",
        "file_bytes",
        "file_rows",
        "inline(array("
        "struct('u' as col, 'int' as kind, __base__ as lo, "
        "__base__ + 5L as hi, 0L as n_nulls, "
        "cast(null as string) as lo_str, cast(null as string) as hi_str, "
        "false as hi_inexact), "
        "struct('w' as col, 'int' as kind, 0L as lo, 9L as hi, "
        "0L as n_nulls, cast(null as string) as lo_str, "
        "cast(null as string) as hi_str, false as hi_inexact)))",
    )


def main() -> None:
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pyspark.sql import SparkSession

    from kioss_spark.operators.skew import (
        manifest_candidates,
        manifest_candidates_df,
    )

    sizes = [int(a) for a in sys.argv[1:]] or [500, 5000, 50000]
    n_cands = 10
    spark = (
        SparkSession.builder.master("local[*]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    ranges = {"u": (0, 99)}
    print(
        f"{'n_files':>8} {'spark_s':>8} {'spark_driver_rows':>18} "
        f"{'legacy_s':>9} {'legacy_driver_rows':>19} {'cands':>6}"
    )
    for n in sizes:
        # materialize the synthetic stats as parquet so both paths read
        # the same physical table (a real manifest snapshot's shape)
        import tempfile

        d = tempfile.mkdtemp(prefix="plan_decade_")
        synth_stats(spark, n, n_cands).write.mode("overwrite").parquet(d)
        stats = spark.read.parquet(d)
        for _ in range(2):  # warm + measured
            t0 = time.time()
            cand, _, _ = manifest_candidates_df(spark, stats, ranges)
            t_spark = time.time() - t0
        spark_rows = len(cand)
        for _ in range(2):
            t0 = time.time()
            rows = stats.where(stats.col.isin(list(ranges))).collect()
            files, _, _ = manifest_candidates(spark, rows, ranges)
            t_legacy = time.time() - t0
        legacy_rows = len(rows)
        assert [r["file_path"] for r in cand] == files
        print(
            f"{n:>8} {t_spark:>8.2f} {spark_rows:>18} "
            f"{t_legacy:>9.2f} {legacy_rows:>19} {len(files):>6}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
