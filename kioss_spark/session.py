"""SparkSession factory tuned for the test environment (local[N]) while
keeping settings that carry to a real multi-executor cluster.

Scale notes (100 TB target):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion are the main levers when static planning
  guesses wrong at 1000-executor scale.
- shuffle.partitions is sized to local cores here; on a cluster this should
  be ~2-3x total executor cores (or left to AQE's coalescing with a high
  initial value).
- Arrow enabled: every pandas-UDF operator in this package crosses the
  JVM/Python boundary in columnar Arrow batches, never row-at-a-time.
- Generated-code cache sized to the working set (``CODEGEN_CACHE_ENTRIES``).
  Spark's default of 100 classes is far below what the queries generate:
  one pass over bench.py's 124 headliners at sf0.1 compiles ~2,500
  distinct classes (the perfbench queries ~430), so with 100 entries the
  LRU thrashes and every repeat of a query re-runs Janino, and then the
  JIT, on classes it compiled moments ago. With 4,000 entries a second
  headliner pass in the same session compiles ~140 (whole-stage ids in
  class names follow AQE's stage order, so a rerun can name identical
  code anew) and metaspace stays near 215 MB. The working set counts the
  distinct plan shapes a session serves, not rows, so the bound does not
  grow with the data; each entry is one class of a few KB of bytecode.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` (a static, JVM-wide conf): the
#: ~2,500 distinct classes of one pass over bench.py's 124 headline queries
#: at sf0.1, with 60% headroom for the rest of the registry.
CODEGEN_CACHE_ENTRIES = 4000


def get_spark(app_name: str = "kioss_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "90g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # bucketed-table tests/demos need a writable warehouse; keep it out
        # of the repo (static conf — must be set before session creation)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "kioss_spark_warehouse"),
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
