"""Warm-session reuse: a long-lived session keeps the whole-stage classes it
compiled (``session.CODEGEN_CACHE_ENTRIES``) and the parquet schemas it
inferred (``sources.load_table``'s memo) instead of redoing that work on
every query."""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from kioss_spark.operators import dedup
from kioss_spark.session import CODEGEN_CACHE_ENTRIES
from kioss_spark.sources import load_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _load_counting_jobs(spark, sf_dir, name):
    """``load_table`` under a fresh job group: (df, Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_loop_query_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    docs = load_table(spark, sf_dir, "documents")

    def run():
        pairs = dedup.jaccard_pairs(docs, threshold=0.5)
        return sorted(dedup.connected_components(pairs, docs).collect())

    # AQE off for the two runs: under AQE the whole-stage ids baked into
    # the generated class names follow the order in which concurrently
    # running stages finish, so a rerun can name identical code anew
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = run()
        before = _compiles(spark)
        second = run()
        assert _compiles(spark) - before == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert first == second


def test_schema_memo_hit_runs_no_job(spark, tmp_path):
    sf = str(tmp_path)
    spark.range(6).selectExpr("id", "id * 2 AS x").write.parquet(f"{sf}/t.parquet")
    first, jobs = _load_counting_jobs(spark, sf, "t")
    assert jobs >= 1  # the miss infers the schema with a Spark job
    second, jobs = _load_counting_jobs(spark, sf, "t")
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_schema_memo_sees_a_rewrite(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, sf, "t")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, sf, "t").columns == ["a"]
    assert load_table(spark, sf, "t").columns == ["a"]  # a hit
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df, jobs = _load_counting_jobs(spark, sf, "t")
    assert jobs >= 1
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert df.collect()[0]["b"] == "x"


def test_schema_memo_events_stay_ntz_and_key_on_inference_confs(spark, sf_dir):
    want = sorted(load_table(spark, sf_dir, "events").collect())
    hit, jobs = _load_counting_jobs(spark, sf_dir, "events")
    assert jobs == 0
    assert dict(hit.dtypes)["ts"] == "timestamp_ntz"
    old = {k: spark.conf.get(k) for k in (NANOS_AS_LONG, INFER_NTZ)}
    try:
        # a changed inference conf is a miss, not a stale hit
        spark.conf.set(NANOS_AS_LONG, "true")
        _, jobs = _load_counting_jobs(spark, sf_dir, "events")
        assert jobs >= 1
        # without NTZ inference ts reads as a session-zoned timestamp, so
        # the memo holds a non-NTZ schema and to_ntz must run on its hits
        spark.conf.set(INFER_NTZ, "false")
        miss, jobs = _load_counting_jobs(spark, sf_dir, "events")
        assert jobs >= 1
        hit, jobs = _load_counting_jobs(spark, sf_dir, "events")
        assert jobs == 0
        for df in (miss, hit):
            assert dict(df.dtypes)["ts"] == "timestamp_ntz"
            assert sorted(df.collect()) == want
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
