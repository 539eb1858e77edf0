"""Manifest I/O on every Hadoop scheme.

- The driver-side parquet reader (``_HadoopFile``) goes through the
  Hadoop ``FileSystem`` and reads only a footer when asked for a schema.
- A lost commit race is decided by the ``_writer_{token}`` check alone:
  Hadoop's rename nests the loser inside the winner's ``v{seq}``, the
  loser cleans up and lands once at the next seq.
- A steady-state delta commit runs the same Spark jobs on a bare path
  and on ``viewfs``.
- The streaming ``manifest_feed`` planner (no py4j, so no Hadoop
  FileSystem) refuses a non-local path instead of planning it as empty.
"""

import uuid

import pytest
from pyspark.sql import functions as F


def _mk(spark, n=300, batches=3):
    return spark.range(n).select(
        (F.col("id") % 64).alias("u"),
        F.col("id").alias("payload"),
        (F.col("id") % batches).alias("b"),
    )


def _names(spark, d):
    from kioss_spark.operators.skew import _hadoop_fs

    P, fs = _hadoop_fs(spark, d)
    return sorted(st.getPath().getName() for st in fs.listStatus(P(d)))


def _is_delta(spark, man, seq):
    from kioss_spark.operators.skew import _hadoop_fs

    P, fs = _hadoop_fs(spark, man)
    return fs.exists(P(f"{man}/v{seq}/_delta"))


def test_hadoop_file_reads_footer_only(spark, tmp_path, viewfs_root):
    """A schema probe through ``_HadoopFile`` reads a small tail of a
    ~1 MB file, and a full read round-trips the table, on viewfs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kioss_spark.operators import skew

    tbl = pa.table(
        {"x": np.random.default_rng(0).integers(0, 2**62, 131072)}
    )
    pq.write_table(tbl, str(tmp_path / "big.parquet"), compression="none")
    path = f"{viewfs_root}/big.parquet"
    P, fs = skew._hadoop_fs(spark, path)
    size = fs.getFileStatus(P(path)).getLen()
    assert size > 1_000_000

    read = []

    class Counting(skew._HadoopFile):
        def read(self, n=-1):
            out = super().read(n)
            read.append(len(out))
            return out

    with Counting(fs, P(path)) as f:
        assert pq.read_schema(f).names == ["x"]
    assert 0 < sum(read) < size // 8
    assert skew._read_parquet(fs, P(path)).equals(tbl)


def test_lost_race_lands_once_at_next_seq(spark, fs_root, monkeypatch):
    """A stale first listing makes the commit target the existing head
    ``v{seq}``: the token check must reject the nested rename, the loser
    must leave no ``.tmp_v*`` anywhere, and the retry lands exactly once
    at the next seq with the head reading every batch."""
    from kioss_spark.operators import skew

    data, man = f"{fs_root}/d", f"{fs_root}/m"
    df = _mk(spark)
    sink = skew.manifest_sink(data, man, ["u"])
    for b in range(2):
        sink(df.where(F.col("b") == b).drop("b"), b)
    head_before = _names(spark, f"{man}/v1")

    real = skew._snapshot_seqs
    calls = []

    def stale_once(spark_, d):
        complete, all_seqs = real(spark_, d)
        calls.append(d)
        if len(calls) == 1:
            return complete[:-1], all_seqs[:-1]
        return complete, all_seqs

    monkeypatch.setattr(skew, "_snapshot_seqs", stale_once)
    sink(df.where(F.col("b") == 2).drop("b"), 2)
    monkeypatch.undo()

    assert len(calls) == 2  # one lost attempt, one winning retry
    complete, all_seqs = skew._snapshot_seqs(spark, man)
    assert complete == all_seqs == [0, 1, 2]
    assert _is_delta(spark, man, 2)
    # the winner's dir is untouched: only its own writer token, no
    # nested leftover
    assert _names(spark, f"{man}/v1") == head_before
    assert len([n for n in head_before if n.startswith("_writer_")]) == 1
    for d in (man, f"{man}/v1", f"{man}/v2"):
        assert not [n for n in _names(spark, d) if n.startswith(".tmp_v")]
    got = skew.read_via_manifest(spark, man)
    assert sorted(r["payload"] for r in got.collect()) == list(range(300))


def _commit_jobs(spark, root):
    """Spark jobs of the third (steady-state delta) manifest_sink commit
    under ``root``."""
    from kioss_spark.operators import skew

    df = _mk(spark)
    man = f"{root}/m"
    sink = skew.manifest_sink(f"{root}/d", man, ["u"])
    for b in range(2):
        sink(df.where(F.col("b") == b).drop("b"), b)
    sc = spark.sparkContext
    group = f"manifest-commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sink(df.where(F.col("b") == 2).drop("b"), 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _is_delta(spark, man, 2)
    # the delta layout: one fixed-schema part file plus the four markers
    # (Hadoop .crc sidecars aside)
    names = [n for n in _names(spark, f"{man}/v2") if not n.endswith(".crc")]
    assert len(names) == 5 and {"_SUCCESS", "_delta"} <= set(names)
    for prefix in ("part-", "_writer_", "_ts_"):
        assert sum(n.startswith(prefix) for n in names) == 1, names
    part = next(n for n in names if n.startswith("part-"))
    P, fs = skew._hadoop_fs(spark, man)
    assert skew._read_parquet(fs, P(f"{man}/v2/{part}")).schema.names == [
        n for n, _ in skew._SNAPSHOT_FIELDS
    ] + ["__action__"]
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_delta_commit_jobs_match_across_schemes(spark, tmp_path, viewfs_root):
    bare = _commit_jobs(spark, str(tmp_path / "bare"))
    assert bare > 0
    assert _commit_jobs(spark, f"{viewfs_root}/viewfs") == bare


def test_manifest_feed_refuses_non_local_paths():
    from kioss_spark.streaming.manifest_source import _complete_snapshots

    with pytest.raises(ValueError, match="local paths only"):
        _complete_snapshots("viewfs://cluster/m")
