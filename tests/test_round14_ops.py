"""Round-14 operator pins.

- v3 checkpointed manifest log (verdict r13 ask 1b): steady-state
  commits write O(change) DELTA versions; a full checkpoint lands every
  ``_CHECKPOINT_INTERVAL`` commits; reads fold nearest-checkpoint +
  deltas and stay exact at every version (time travel included).
- Crash-window replay REPLACES through the delta form (remove prior
  rows of the batch_id + add) — no duplicates.
- Schema evolution forces a checkpoint (O(files) backfill is explicit).
- vacuum keeps the oldest retained snapshot's base checkpoint and the
  deltas between (deleting the base would strand the retained chain).
- Distributed planning (verdict r13 ask 1a): manifest_candidates_df
  collects O(candidates) driver rows on a 5k-file synthetic manifest,
  and detects full-file coverage holes the filtered-rows path could
  not see (ADVICE r13 medium).
"""

import pytest
from pyspark.sql import functions as F


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _is_delta(spark, man, seq):
    from kioss_spark.operators.skew import _hadoop_fs

    P, fs = _hadoop_fs(spark, man)
    return fs.exists(P(f"{man}/v{seq}/_delta"))


def _mk(spark, n=600, batches=6):
    return spark.range(n).select(
        (F.col("id") % 64).alias("u"),
        F.col("id").alias("payload"),
        (F.col("id") % batches).alias("b"),
    )


# ---------------------------------------------------------------------------
# v3 checkpointed log
# ---------------------------------------------------------------------------


def test_delta_commits_and_checkpoint_cadence(spark, fs_root):
    """First commit = checkpoint, steady state = deltas, a checkpoint
    forced at the interval; every version reads exactly."""
    from kioss_spark.operators import skew
    from kioss_spark.operators.skew import (
        manifest_sink,
        read_manifest,
        read_via_manifest,
    )

    data, man = f"{fs_root}/d", f"{fs_root}/m"
    nb = skew._CHECKPOINT_INTERVAL + 2  # crosses one forced checkpoint
    df = _mk(spark, n=50 * nb, batches=nb)
    sink = manifest_sink(data, man, ["u"])
    for b in range(nb):
        sink(df.where(F.col("b") == b).drop("b"), b)
    # layout: v0 checkpoint, v1..v{I-1} deltas, v{I} checkpoint, rest
    # deltas
    assert not _is_delta(spark, man, 0)
    for s in range(1, skew._CHECKPOINT_INTERVAL):
        assert _is_delta(spark, man, s), s
    assert not _is_delta(spark, man, skew._CHECKPOINT_INTERVAL)
    assert _is_delta(spark, man, skew._CHECKPOINT_INTERVAL + 1)
    # the head reads exactly, and EVERY version time-travels exactly
    got = read_via_manifest(spark, man)
    assert _rows(got, "u", "payload") == _rows(df.drop("b"), "u", "payload")
    for s in (1, skew._CHECKPOINT_INTERVAL - 1, skew._CHECKPOINT_INTERVAL):
        snap = read_manifest(spark, man, snapshot=s)
        batches_in = {
            r["batch_id"]
            for r in snap.select("batch_id").distinct().collect()
        }
        assert batches_in == set(range(s + 1)), s


def test_delta_replay_replaces_not_duplicates(spark, tmp_path):
    """Crash window (snapshot committed, marker missing): the replay's
    delta REMOVES the prior rows of the batch and re-adds — exactly
    once, now through the O(change) commit form."""
    from kioss_spark.operators.skew import (
        _hadoop_fs,
        manifest_sink,
        read_via_manifest,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=200, batches=2)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    P, fs = _hadoop_fs(spark, man)
    assert fs.delete(P(f"{man}/commits/b1"), True)  # simulate the crash
    sink(df.where(F.col("b") == 1).drop("b"), 1)  # replay
    got = read_via_manifest(spark, man)
    assert got.count() == 200
    assert _rows(got, "u", "payload") == _rows(df.drop("b"), "u", "payload")


def test_delete_and_compact_commit_as_deltas(spark, fs_root):
    """manifest_delete writes an O(affected) delta; compact_manifest an
    O(selected+new) delta; both fold back exactly and the zero-job
    facade count stays exact through the folded head."""
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_delete,
        manifest_sink,
        read_via_manifest,
    )
    from kioss_spark.stream import Stream

    data, man = f"{fs_root}/d", f"{fs_root}/m"
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    d = manifest_delete(spark, data, man, "u", lo=10, hi=19).collect()[0]
    assert d["rows_deleted"] > 0
    assert _is_delta(spark, man, d["snapshot"])
    c = compact_manifest(spark, data, man, target_mb=64.0).collect()[0]
    assert c["files_rewritten"] > 0
    assert _is_delta(spark, man, c["snapshot"])
    expect = df.drop("b").where(~F.col("u").between(10, 19))
    got = read_via_manifest(spark, man)
    assert _rows(got, "u", "payload") == _rows(expect, "u", "payload")
    st = Stream.read_manifest(spark, man)
    assert st.count() == expect.count()


def test_evolution_forces_checkpoint(spark, tmp_path):
    """A batch introducing a NEW column backfills presence rows for
    every prior file — inherently O(files), committed as a full
    checkpoint, never a delta."""
    from kioss_spark.operators.skew import manifest_sink, read_via_manifest

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    base = spark.range(100).select(
        (F.col("id") % 16).alias("u"), F.col("id").alias("payload")
    )
    manifest_sink(data, man, ["u"])(base, 0)
    # the sink starts tracking a NEW column: prior files get presence
    # rows backfilled — the O(files) evolution event
    manifest_sink(data, man, ["u", "w"])(
        base.withColumn("w", F.col("payload") * 2), 1
    )
    assert not _is_delta(spark, man, 1)
    got = read_via_manifest(spark, man)
    assert got.count() == 200
    assert got.where(F.col("w").isNull()).count() == 100


def test_vacuum_keeps_base_checkpoint_of_retained_chain(spark, tmp_path):
    """retain_last=1 with a delta head: the base checkpoint and the
    deltas under it survive (the fold needs them); folded input data
    files ARE collected; the head still reads exactly."""
    from kioss_spark.operators.skew import (
        _hadoop_fs,
        compact_manifest,
        manifest_sink,
        read_via_manifest,
        vacuum,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    compact_manifest(spark, data, man, target_mb=64.0)
    out = vacuum(spark, data, man, retain_last=1).collect()[0]
    assert out["files_deleted"] > 0  # the folded inputs
    P, fs = _hadoop_fs(spark, man)
    assert fs.exists(P(f"{man}/v0"))  # base checkpoint survives
    assert fs.exists(P(f"{man}/v3"))  # delta head survives
    got = read_via_manifest(spark, man)
    assert _rows(got, "u", "payload") == _rows(df.drop("b"), "u", "payload")


def test_streaming_source_reads_through_delta_versions(spark, tmp_path):
    """The pyarrow-side fold in the streaming source resolves delta
    versions identically to the Spark-side fold."""
    from kioss_spark.operators.skew import manifest_sink
    from kioss_spark.streaming.manifest_source import (
        _files_by_batch,
        _snapshot_table,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    assert _is_delta(spark, man, 2)
    by_batch = _files_by_batch(man, 2)
    assert set(by_batch) == {0, 1, 2}
    t = _snapshot_table(man, 2, columns=["file_path"])
    n_paths = len(set(t.column("file_path").to_pylist()))
    assert n_paths == sum(len(v) for v in by_batch.values())


# ---------------------------------------------------------------------------
# facade NTZ pruning (verdict r13 ask 4)
# ---------------------------------------------------------------------------


def test_facade_ntz_filter_prunes_and_matches_skipping_scan(
    spark, tmp_path
):
    """A string-cast NTZ literal filter on the facade prunes: candidate
    set strictly shrinks and equals the explicit skipping_scan shape's
    set; datetime-sourced NTZ casts stay non-extractable."""
    import datetime as dt

    from kioss_spark.operators.skew import (
        manifest_sink,
        read_manifest,
        skipping_scan,
    )
    from kioss_spark.plans.prune import extract_prune_ranges
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    base = dt.datetime(2024, 1, 1)
    df = spark.range(600).select(
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
            + F.make_interval(hours=F.col("id"))
        ).alias("ts"),
        F.col("id").alias("payload"),
    )
    sink = manifest_sink(data, man, ["ts"])
    sink(df.repartitionByRange(6, "ts"), 0)
    lo_s, hi_s = "2024-01-03 00:00:00", "2024-01-05 12:00:00"
    st = Stream.read_manifest(spark, man).filter(
        (F.col("ts") >= F.lit(lo_s).cast("timestamp_ntz"))
        & (F.col("ts") <= F.lit(hi_s).cast("timestamp_ntz"))
    )
    assert len(st._manifest["files"]) < st._manifest["total"]
    explicit = skipping_scan(
        spark,
        data,
        "ts",
        lo=dt.datetime(2024, 1, 3),
        hi=dt.datetime(2024, 1, 5, 12),
        index=read_manifest(spark, man),
    )
    explicit_files = {
        r["f"]
        for r in explicit.select(
            F.col("_metadata.file_path").alias("f")
        ).distinct().collect()
    }
    facade_files = {
        r["f"]
        for r in st.to_df().select(
            F.col("_metadata.file_path").alias("f")
        ).distinct().collect()
    }
    assert facade_files == explicit_files
    want = df.where(
        (F.col("ts") >= F.lit(lo_s).cast("timestamp_ntz"))
        & (F.col("ts") <= F.lit(hi_s).cast("timestamp_ntz"))
    )
    assert _rows(st.to_df(), "payload") == _rows(want, "payload")
    # extraction table: string-cast NTZ yields naive-datetime bounds;
    # datetime-sourced casts and zone-suffixed strings contribute nothing
    r = extract_prune_ranges(
        F.col("ts") >= F.lit(lo_s).cast("timestamp_ntz")
    )
    assert r["ts"] == (dt.datetime(2024, 1, 3), None, "ts_ntz")
    assert (
        extract_prune_ranges(
            F.col("ts") >= F.lit(base).cast("timestamp_ntz")
        )
        == {}
    )
    assert (
        extract_prune_ranges(
            F.col("ts")
            >= F.lit("2024-01-03T00:00:00+05:00").cast("timestamp_ntz")
        )
        == {}
    )


# ---------------------------------------------------------------------------
# timestamp time travel (verdict r13 ask 5)
# ---------------------------------------------------------------------------


def test_as_of_resolution_edges(spark, tmp_path):
    """Delta's rule: latest snapshot committed at or before the wall
    clock — exact at a commit instant, between commits picks the
    earlier, before-first-commit raises; facade passthrough included."""
    import time

    from kioss_spark.operators.skew import (
        _hadoop_fs,
        manifest_sink,
        read_via_manifest,
        resolve_as_of,
    )
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, man, ["u"])
    t_before = time.time() - 1.0
    stamps = []
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
        stamps.append(time.time())
        time.sleep(0.05)
    # exact + between-commits resolution against the recorded stamps
    assert resolve_as_of(spark, man, stamps[0]) == 0
    assert resolve_as_of(spark, man, stamps[1]) == 1
    assert resolve_as_of(spark, man, stamps[2] + 3600) == 2
    assert read_via_manifest(spark, man, as_of=stamps[1]).count() == 200
    # datetime form: aware converts exactly; naive = UTC
    import datetime as dt

    aware = dt.datetime.fromtimestamp(stamps[0], tz=dt.timezone.utc)
    assert resolve_as_of(spark, man, aware) == 0
    assert resolve_as_of(spark, man, aware.replace(tzinfo=None)) == 0
    # before the first commit: nothing existed — raise, never empty
    with pytest.raises(ValueError, match="predates the first commit"):
        resolve_as_of(spark, man, t_before)
    # facade passthrough + mutual exclusion
    assert Stream.read_manifest(spark, man, as_of=stamps[0]).count() == 100
    with pytest.raises(ValueError, match="not both"):
        read_via_manifest(spark, man, snapshot=1, as_of=stamps[0])
    # the commit stamp rides the atomic rename (marker inside v{seq})
    P, fs = _hadoop_fs(spark, man)
    names = [
        st.getPath().getName()
        for st in fs.listStatus(P(f"{man}/v0"))
    ]
    assert any(n.startswith("_ts_") for n in names)


# ---------------------------------------------------------------------------
# column mapping: rename / drop via stable physical names (ask 6)
# ---------------------------------------------------------------------------


def test_rename_is_metadata_only_and_pruning_stays_exact(spark, tmp_path):
    """manifest_rename_column touches no data file; reads serve the new
    logical name across old+new files; skipping_scan AND the facade
    prune on the new name exactly; compaction physicalizes."""
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_rename_column,
        manifest_sink,
        read_manifest,
        read_via_manifest,
        skipping_scan,
    )
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, man, ["u", "payload"])
    sink(df.where(F.col("b") == 0).drop("b").repartitionByRange(3, "u"), 0)
    sink(df.where(F.col("b") == 1).drop("b").repartitionByRange(3, "u"), 1)
    out = manifest_rename_column(spark, man, "u", "uid").collect()[0]
    assert out["renamed_to"] == "uid"
    # a post-rename batch writes the NEW name physically
    sink2 = manifest_sink(data, man, ["uid", "payload"])
    sink2(
        df.where(F.col("b") == 2)
        .drop("b")
        .withColumnRenamed("u", "uid")
        .repartitionByRange(3, "uid"),
        2,
    )
    got = read_via_manifest(spark, man)
    assert set(got.columns) == {"uid", "payload"}
    assert _rows(got, "uid", "payload") == _rows(
        df.drop("b").withColumnRenamed("u", "uid"), "uid", "payload"
    )
    # pruning on the NEW name, across both physical spellings
    hits = skipping_scan(
        spark, data, "uid", lo=4, hi=11, index=read_manifest(spark, man)
    )
    assert _rows(hits, "uid", "payload") == _rows(
        got.where(F.col("uid").between(4, 11)), "uid", "payload"
    )
    st = Stream.read_manifest(spark, man).filter(
        (F.col("uid") >= 4) & (F.col("uid") <= 11)
    )
    assert len(st._manifest["files"]) < st._manifest["total"]
    assert _rows(st.to_df(), "uid", "payload") == _rows(
        got.where(F.col("uid").between(4, 11)), "uid", "payload"
    )
    # rename refusals: unknown source, existing target
    with pytest.raises(ValueError, match="no column"):
        manifest_rename_column(spark, man, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        manifest_rename_column(spark, man, "payload", "uid")
    # compaction physicalizes: rewrites carry 'uid', mapping retires
    compact_manifest(spark, data, man, target_mb=64.0)
    snap = read_manifest(spark, man)
    assert (
        snap.where(F.col("col") != F.col("phys")).count() == 0
    )  # identity again
    assert _rows(read_via_manifest(spark, man), "uid", "payload") == _rows(
        df.drop("b").withColumnRenamed("u", "uid"), "uid", "payload"
    )


def test_drop_column_tombstones_loudly(spark, tmp_path):
    """Drop hides the column from reads, keeps file membership/counts
    intact, RAISES on probes of the dropped name, refuses re-adding it
    until compaction retires the physical data, and time-travels."""
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_drop_column,
        manifest_sink,
        manifest_stats_agg,
        read_via_manifest,
        skipping_scan,
        read_manifest,
    )
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = spark.range(200).select(
        (F.col("id") % 64).alias("u"),
        (F.col("id") % 7).alias("w"),
        F.col("id").alias("payload"),
    )
    sink = manifest_sink(data, man, ["u", "w"])
    sink(df.where(F.col("id") < 100), 0)
    sink(df.where(F.col("id") >= 100), 1)
    pre_drop = 1
    out = manifest_drop_column(spark, man, "w").collect()[0]
    assert out["files_tombstoned"] >= 2
    got = read_via_manifest(spark, man)
    assert set(got.columns) == {"u", "payload"}  # w hidden
    assert got.count() == 200  # membership/counts intact
    st = Stream.read_manifest(spark, man)
    assert st.count() == 200  # zero-job count unaffected
    assert "w" not in st.to_df().columns
    # probes on the dropped name RAISE, never silently match nothing
    with pytest.raises(ValueError, match="DROPPED|dropped"):
        skipping_scan(
            spark, data, "w", lo=1, hi=3, index=read_manifest(spark, man)
        )
    with pytest.raises(ValueError, match="dropped"):
        manifest_stats_agg(spark, man, ["w"])
    # double drop and unknown drop refuse
    with pytest.raises(ValueError, match="already"):
        manifest_drop_column(spark, man, "w")
    with pytest.raises(ValueError, match="no column"):
        manifest_drop_column(spark, man, "nope")
    # re-adding the name before compaction would expose forgotten data
    with pytest.raises(ValueError, match="tombstoned"):
        manifest_sink(data, man, ["u", "w"])(
            df.where(F.col("id") < 10), 7
        )
    # time travel: the pre-drop snapshot still serves w
    old = read_via_manifest(spark, man, snapshot=pre_drop)
    assert "w" in old.columns
    # compaction retires the tombstones and the physical data
    compact_manifest(spark, data, man, target_mb=64.0)
    snap = read_manifest(spark, man)
    assert snap.where(F.col("kind") == "tombstone").count() == 0
    assert set(read_via_manifest(spark, man).columns) == {"u", "payload"}
    # the name is free again now
    manifest_sink(data, man, ["u", "w"])(df.where(F.col("id") < 10), 8)


def test_streaming_source_refuses_active_mapping(spark, tmp_path):
    from kioss_spark.operators.skew import (
        manifest_rename_column,
        manifest_sink,
    )
    from kioss_spark.streaming.dialect import SStream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=100, batches=1)
    manifest_sink(data, man, ["u"])(df.drop("b"), 0)
    manifest_rename_column(spark, man, "u", "uid")
    with pytest.raises(Exception, match="column mapping"):
        SStream.from_manifest(spark, man)._df


# ---------------------------------------------------------------------------
# streaming row-grain change feed (verdict r13 ask 3)
# ---------------------------------------------------------------------------


def _drain(spark, man, out, ckpt, emit_deletes=False):
    from kioss_spark.streaming.dialect import SStream

    q = (
        SStream.from_manifest(spark, man, emit_deletes=emit_deletes)
        ._df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_emit_deletes_matches_row_diff(spark, tmp_path):
    """CDC mode across kill-and-resume: a mid-stream manifest_delete
    streams the deleted rows themselves, exactly the batch row-grain
    feed's delete slice; inserts are tagged and exactly-once."""
    from kioss_spark.operators.skew import (
        manifest_delete,
        manifest_row_diff,
        manifest_sink,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    _drain(spark, man, out, ckpt, emit_deletes=True)  # consume, "die"
    acc = spark.read.parquet(out)
    assert acc.count() == 200
    assert acc.where(F.col("change") != "insert").count() == 0
    # while down: rows are forgotten (RTBF) and a new batch lands
    pre = 1  # snapshot before the delete
    manifest_delete(spark, data, man, "u", lo=10, hi=19)
    sink(df.where(F.col("b") == 2).drop("b"), 2)
    _drain(spark, man, out, ckpt, emit_deletes=True)  # resume
    acc = spark.read.parquet(out)
    dels = acc.where(F.col("change") == "delete")
    expect_dels = (
        manifest_row_diff(spark, man, from_snapshot=pre, to_snapshot=2)
        .where(F.col("change") == "delete")
    )
    assert _rows(dels, "u", "payload") == _rows(expect_dels, "u", "payload")
    ins = acc.where(F.col("change") == "insert")
    assert ins.count() == 300  # all three batches, exactly once
    # net state replayable from the feed: inserts minus deletes == head
    assert ins.count() - dels.count() == 300 - dels.count()


def test_stream_refusal_sees_delete_then_compact_in_one_window(
    spark, tmp_path
):
    """The per-transition guard: a delete immediately folded away by a
    compaction inside the SAME offset window still refuses the plain
    feed (the endpoint dv diff would miss it) and still emits the
    delete rows in CDC mode."""
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_delete,
        manifest_sink,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    df = _mk(spark, n=200, batches=2)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    _drain(spark, man, out, ckpt)  # plain feed consumes both batches
    n_del = manifest_delete(
        spark, data, man, "u", lo=5, hi=7
    ).collect()[0]["rows_deleted"]
    assert n_del > 0
    compact_manifest(spark, data, man, target_mb=64.0)  # purges the dv
    with pytest.raises(Exception, match="deletion-vector changes"):
        _drain(spark, man, out, ckpt)  # the window spans delete+fold
    # CDC mode on a fresh consumer pinned before the delete window
    from kioss_spark.streaming.manifest_source import (
        plan_window_dv_changes,
    )

    assert plan_window_dv_changes(man, 1, 3)  # the transition walk sees it
    from kioss_spark.streaming.dialect import SStream

    q = (
        SStream.from_manifest(
            spark, man, starting_snapshot=1, emit_deletes=True
        )
        ._df.writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out2)
    assert got.where(F.col("change") == "delete").count() == n_del


# ---------------------------------------------------------------------------
# RESTORE + HISTORY (Delta RESTORE / DESCRIBE HISTORY analogs)
# ---------------------------------------------------------------------------


def test_restore_edges(spark, tmp_path):
    """Restore undoes a rename (old logical schema returns), resolves
    by as_of, refuses a vacuumed target, and the table keeps accepting
    commits after a restore."""
    import time

    from kioss_spark.operators.skew import (
        manifest_history,
        manifest_rename_column,
        manifest_restore,
        manifest_sink,
        read_via_manifest,
        vacuum,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=200, batches=2)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    t_mid = time.time()
    time.sleep(0.01)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    manifest_rename_column(spark, man, "u", "uid")
    # as_of restore to the wall clock between the two ingests
    out = manifest_restore(spark, man, as_of=t_mid).collect()[0]
    assert out["restored_from"] == 0
    got = read_via_manifest(spark, man)
    assert "u" in got.columns and "uid" not in got.columns  # rename undone
    assert got.count() == 100
    # the restored table accepts new commits
    manifest_sink(data, man, ["u"])(df.where(F.col("b") == 1).drop("b"), 7)
    assert read_via_manifest(spark, man).count() == 200
    hist = manifest_history(spark, man).collect()
    assert [r["snapshot"] for r in hist] == list(range(len(hist)))
    # restoring to a vacuumed-away target refuses up front: after a
    # retain_last=1 vacuum the pre-restore versions are gone (their
    # keep-chain base is the restore checkpoint) — loudly unresolvable
    vacuum(spark, data, man, retain_last=1)
    with pytest.raises(ValueError, match="not committed|no longer exist"):
        manifest_restore(spark, man, snapshot=1)


# ---------------------------------------------------------------------------
# K-column z-order (OPTIMIZE ZORDER BY beyond 2 dims)
# ---------------------------------------------------------------------------


def test_zvalue_n_matches_zvalue_and_prunes_three_dims(spark, tmp_path):
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_candidates_df,
        manifest_sink,
        read_manifest,
        zvalue,
        zvalue_n,
    )

    # k=2 interleave is bit-identical to the classic zvalue
    probe = spark.createDataFrame(
        [(5, 9), (0, 0), (63, 1)], "a long, b long"
    )
    rows = probe.select(
        zvalue("a", "b", bits=16).alias("z2"),
        zvalue_n(["a", "b"], bits=16).alias("zn"),
    ).collect()
    assert all(r["z2"] == r["zn"] for r in rows)
    with pytest.raises(ValueError, match="fit 62"):
        zvalue_n(["a", "b", "c"], bits=21)
    # a 3-dim clustered compaction prunes range probes on EVERY dim
    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    import random

    rng = random.Random(3)
    df = spark.createDataFrame(
        [
            (rng.randrange(64), rng.randrange(64), rng.randrange(64), i)
            for i in range(24000)
        ],
        "x long, y long, z long, payload long",
    )
    sink = manifest_sink(data, man, ["x", "y", "z"])
    sink(df, 0)
    compact_manifest(
        spark, data, man, target_mb=0.01, small_file_mb=10.0,
        cluster_by=["x", "y", "z"],
    )
    snap = read_manifest(spark, man)
    total = snap.select("file_path").distinct().count()
    assert total >= 8
    for c in ("x", "y", "z"):
        cand, _, _ = manifest_candidates_df(spark, snap, {c: (4, 11)})
        assert len(cand) < total, f"no pruning on {c}"
        # answers stay exact through the pruned scan
        got = sorted(
            r["payload"]
            for r in spark.read.parquet(
                *[r2["file_path"] for r2 in cand]
            )
            .where(F.col(c).between(4, 11))
            .collect()
        )
        want = sorted(
            r["payload"]
            for r in df.where(F.col(c).between(4, 11)).collect()
        )
        assert got == want


# ---------------------------------------------------------------------------
# compaction-vs-delete race (ADVICE r13 high) — deterministic pin
# ---------------------------------------------------------------------------


def test_compact_conflicts_when_delete_lands_mid_flight(
    spark, tmp_path, monkeypatch
):
    """A manifest_delete committing BETWEEN compaction's planning and
    its commit must raise ManifestCommitConflict: the rewrite read the
    inputs through pre-delete vectors, so silently dropping the inputs
    would resurrect the deleted (RTBF) rows in the compacted files.
    The race is made deterministic by hooking the commit entry point:
    the delete lands exactly inside compaction's window."""
    from kioss_spark.operators import skew
    from kioss_spark.operators.skew import (
        ManifestCommitConflict,
        compact_manifest,
        manifest_delete,
        manifest_sink,
        read_via_manifest,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    real = skew._commit_snapshot

    def hooked(sp, mdir, derive, **kw):
        monkeypatch.setattr(skew, "_commit_snapshot", real)
        manifest_delete(sp, data, man, "u", values=[7])  # the racer
        return real(sp, mdir, derive, **kw)

    monkeypatch.setattr(skew, "_commit_snapshot", hooked)
    with pytest.raises(ManifestCommitConflict, match="deletion vector"):
        compact_manifest(spark, data, man, target_mb=64.0)
    # nothing was lost: the table still serves the post-delete rows,
    # and the RERUN compaction (fresh planning sees the new vector)
    # succeeds and STILL serves them — no resurrection
    expect = df.drop("b").where(F.col("u") != 7)
    assert _rows(read_via_manifest(spark, man), "u", "payload") == _rows(
        expect, "u", "payload"
    )
    out = compact_manifest(spark, data, man, target_mb=64.0).collect()[0]
    assert out["files_rewritten"] > 0
    assert _rows(read_via_manifest(spark, man), "u", "payload") == _rows(
        expect, "u", "payload"
    )


# ---------------------------------------------------------------------------
# shallow clone (Delta CLONE analog)
# ---------------------------------------------------------------------------


def test_shallow_clone_isolation_and_guards(spark, tmp_path):
    """Zero-copy clone: writes/deletes/compaction on the clone never
    touch source files; vacuum through the clone refuses; cloning into
    a non-fresh dir refuses; clone time-travels independently."""
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_clone,
        manifest_delete,
        manifest_sink,
        read_via_manifest,
        vacuum,
    )

    data, src = str(tmp_path / "d"), str(tmp_path / "src")
    cdata, dst = str(tmp_path / "cd"), str(tmp_path / "dst")
    df = _mk(spark, n=300, batches=3)
    sink = manifest_sink(data, src, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    out = manifest_clone(spark, src, dst).collect()[0]
    assert out["files"] > 0
    # mutate the CLONE: delete + new batch + compact (into clone_data)
    manifest_delete(spark, cdata, dst, "u", lo=10, hi=19)
    manifest_sink(cdata, dst, ["u"])(
        df.where(F.col("b") == 0).drop("b"), 99
    )
    compact_manifest(spark, cdata, dst, target_mb=64.0)
    # the source is bit-for-bit untouched
    assert _rows(read_via_manifest(spark, src), "u", "payload") == _rows(
        df.drop("b"), "u", "payload"
    )
    # the clone serves its own lineage
    expect = df.drop("b").where(~F.col("u").between(10, 19)).unionAll(
        df.where(F.col("b") == 0).drop("b")
    )
    assert _rows(read_via_manifest(spark, dst), "u", "payload") == _rows(
        expect, "u", "payload"
    )
    # guards
    with pytest.raises(ValueError, match="SHALLOW CLONE"):
        vacuum(spark, cdata, dst, retain_last=1)
    with pytest.raises(ValueError, match="already has committed"):
        manifest_clone(spark, src, dst)


# ---------------------------------------------------------------------------
# model-based lifecycle fuzz: the v3 log vs a driver-side reference model
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "seed, scheme",
    [(11, "bare"), (23, "bare"), (47, "bare"), (11, "viewfs")],
    ids=["11", "23", "47", "11-viewfs"],
)
def test_manifest_lifecycle_matches_model(request, spark, tmp_path, seed,
                                         scheme):
    """Seeded randomized op sequences (ingest / range + point delete /
    compact / restore / vacuum) against a pure-Python reference model:
    after EVERY op the served table equals the model EXACTLY, the
    zero-job count agrees, and at the end every still-resolvable
    snapshot time-travels to the model state recorded at its commit.
    This is the delta-log's integration pin: any fold, replay, dv,
    checkpoint-cadence, or restore bug that survives the targeted pins
    must also survive three random walks to ship."""
    import random

    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_delete,
        manifest_restore,
        manifest_sink,
        read_via_manifest,
        vacuum,
    )
    from kioss_spark.stream import Stream

    rng = random.Random(seed)
    root = (
        request.getfixturevalue("viewfs_root")
        if scheme == "viewfs"
        else str(tmp_path)
    )
    data, man = f"{root}/d", f"{root}/m"
    model: dict = {}  # payload -> u (payload unique by construction)
    history: dict = {}  # snapshot seq -> frozen model items
    colhist: dict = {}  # snapshot seq -> logical column name then
    colname = ["u"]  # current logical name (rename op flips it)
    next_payload = [0]

    def latest_seq():
        from kioss_spark.operators.skew import _snapshot_seqs

        return _snapshot_seqs(spark, man)[0][-1]

    def do_ingest(bid):
        n = rng.randrange(30, 80)
        rows = [
            (rng.randrange(64), next_payload[0] + i) for i in range(n)
        ]
        next_payload[0] += n
        manifest_sink(data, man, [colname[0]])(
            spark.createDataFrame(
                rows, f"{colname[0]} long, payload long"
            ),
            bid,
        )
        model.update({p: u for u, p in rows})

    def do_delete():
        if rng.random() < 0.5:
            lo = rng.randrange(48)
            hi = lo + rng.randrange(1, 8)
            manifest_delete(spark, data, man, colname[0], lo=lo, hi=hi)
            gone = [p for p, u in model.items() if lo <= u <= hi]
        else:
            vals = rng.sample(range(64), rng.randrange(1, 4))
            manifest_delete(spark, data, man, colname[0], values=vals)
            gone = [p for p, u in model.items() if u in vals]
        for p in gone:
            del model[p]

    def do_restore():
        live = [s for s in history if s <= latest_seq()]
        if not live:
            return
        target = rng.choice(sorted(live))
        try:
            manifest_restore(spark, man, snapshot=target)
        except ValueError:
            return  # vacuumed target: refusal is the contract
        model.clear()
        model.update(dict(history[target]))
        colname[0] = colhist[target]

    def do_rename():
        from kioss_spark.operators.skew import manifest_rename_column

        new = "uid" if colname[0] == "u" else "u"
        manifest_rename_column(spark, man, colname[0], new)
        colname[0] = new

    bid = [0]
    do_ingest(bid[0]); bid[0] += 1
    history[latest_seq()] = tuple(sorted(model.items()))
    colhist[latest_seq()] = colname[0]
    ops = ["ingest", "delete", "compact", "restore", "vacuum", "rename"]
    weights = [4, 3, 1, 1, 1, 1]
    for _ in range(12):
        op = rng.choices(ops, weights)[0]
        if op == "ingest":
            do_ingest(bid[0]); bid[0] += 1
        elif op == "delete":
            do_delete()
        elif op == "compact":
            compact_manifest(spark, data, man, target_mb=64.0)
        elif op == "restore":
            do_restore()
        elif op == "rename":
            do_rename()
        else:
            vacuum(spark, data, man, retain_last=rng.randrange(1, 4))
            history.clear()  # version dirs may be gone; re-anchor below
            colhist.clear()
        seq = latest_seq()
        history[seq] = tuple(sorted(model.items()))
        colhist[seq] = colname[0]
        got = sorted(
            (r["payload"], r[colname[0]])
            for r in read_via_manifest(spark, man).collect()
        )
        want = sorted(model.items())
        assert got == want, f"seed={seed}: head diverged at op {op}"
        assert Stream.read_manifest(spark, man).count() == len(model)
    # time travel: every recorded snapshot still resolvable must serve
    # the model state frozen at its commit
    from kioss_spark.operators.skew import _snapshot_seqs

    complete = set(_snapshot_seqs(spark, man)[0])
    for s, frozen in history.items():
        if s not in complete:
            continue
        try:
            got = sorted(
                (r["payload"], r[colhist[s]])
                for r in read_via_manifest(spark, man, snapshot=s).collect()
            )
        except Exception:
            continue  # vacuumed data under a retained log: loud is fine
        assert got == sorted(frozen), f"seed={seed}: time travel to v{s}"


# ---------------------------------------------------------------------------
# distributed planning: O(candidates) collects + coverage holes
# ---------------------------------------------------------------------------


def _synth_stats(spark, n_files, n_cands):
    """A synthetic 2-column stats table for n_files files where exactly
    n_cands files overlap u in [0, 99] (planning never opens data
    files, so the manifest alone exercises the full candidate path)."""
    return spark.range(n_files).selectExpr(
        "concat('f', lpad(cast(id as string), 7, '0'), '.parquet') "
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


def test_candidates_df_collects_only_candidates_at_5k_files(spark):
    """The verdict's many-file planning pin: a 5k-file manifest probed
    with a selective range returns exactly the overlapping files —
    O(candidates) driver rows — and matches the driver-side selector
    row for row."""
    from kioss_spark.operators.skew import (
        manifest_candidates,
        manifest_candidates_df,
    )

    stats = _synth_stats(spark, 5000, 10)
    cand, kind_of, evolved = manifest_candidates_df(
        spark, stats, {"u": (0, 99)}
    )
    assert len(cand) == 10  # files 0..9 (lo = id*10 <= 99)
    assert kind_of["u"] == "int"
    assert not evolved
    files_driver, _, _ = manifest_candidates(
        spark, stats.where(F.col("col") == "u").collect(), {"u": (0, 99)}
    )
    assert [r["file_path"] for r in cand] == files_driver


def test_candidates_df_detects_full_file_coverage_hole(spark):
    """ADVICE r13 medium: a file whose stats rows cover ONLY other
    columns is invisible to the filtered-rows path (it never enters
    by_file) — the aggregation sees the full file set and raises."""
    from kioss_spark.operators.skew import manifest_candidates_df

    stats = _synth_stats(spark, 20, 5)
    holey = stats.where(
        ~((F.col("file_path") == "f0000003.parquet") & (F.col("col") == "u"))
    )
    with pytest.raises(ValueError, match="no stats row"):
        manifest_candidates_df(spark, holey, {"u": (0, 99)})
    # ...and the un-probed column's presence alone does not mask it
    with pytest.raises(ValueError, match="no stats row"):
        manifest_candidates_df(spark, holey, {"u": (30, 31)})


def test_candidates_df_member_and_null_probes(spark, tmp_path):
    """Member buckets and null probes ride the same single aggregation:
    uncovered files stay, covered files must hit, n_nulls answers
    isNull/isNotNull exactly."""
    from kioss_spark.operators.skew import (
        manifest_candidates_df,
        manifest_sink,
        member_index,
        read_manifest,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    with_nulls = spark.range(100).select(
        F.col("id").alias("payload"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 64).alias("u"),
    )
    no_nulls = spark.range(100, 200).select(
        F.col("id").alias("payload"), (F.col("id") % 64).alias("u")
    )
    sink = manifest_sink(data, man, ["u"])
    sink(with_nulls.coalesce(1), 0)
    sink(no_nulls.coalesce(1), 1)
    stats = read_manifest(spark, man)
    cand, _, _ = manifest_candidates_df(
        spark, stats, {}, null_probes={"u": "null"}
    )
    assert len(cand) == 1  # only the with-nulls file
    member = member_index(spark, f"{data}/batch_*", ["u"], buckets=64)
    probe = spark.createDataFrame([(5,)], "__v__: bigint")
    bucket = probe.select(
        F.pmod(F.xxhash64("__v__"), F.lit(64)).alias("b")
    ).collect()[0]["b"]
    cand2, _, _ = manifest_candidates_df(
        spark,
        stats,
        {},
        member=member,
        member_buckets={"u": frozenset([bucket])},
    )
    assert 1 <= len(cand2) <= 2
