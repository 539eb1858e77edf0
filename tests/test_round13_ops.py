"""Round-13 operator pins.

- NaN-safe fractional stats bounds (ADVICE r12 medium): a file holding
  {NaN, large finite} keeps its finite rows reachable.
- Manifest format guard (ADVICE r12 medium): a pre-round-12 delta-dir
  layout is refused with a migration hint, never silently served;
  newer-format markers are refused too.
- compact_manifest folds COMMITTED batches only (ADVICE r12 low): the
  crash-after-snapshot-before-marker replay window cannot duplicate.
- skipping_scan per-file coverage guard (ADVICE r12 low): a merged
  index missing one file's stats row for a probed column raises.
- Optimistic concurrent manifest commit: two interleaved threaded
  writers both land exactly once; compact-during-ingest both land.
- manifest_row_diff: row-grain catch-up exact across a folding
  compaction; read_manifest_changes(on_compaction='row_diff') fallback.
- Schema evolution: add-column ingest, pruned scan on the new column,
  time travel to a pre-evolution snapshot, unsound-evolution refusal,
  stats-only agg over the evolved column.
"""

import threading

import pytest
from pyspark.sql import functions as F


def _mk_events(spark, n=300, batches=3):
    return spark.range(n).select(
        (F.col("id") % 64).alias("u"),
        F.col("id").alias("payload"),
        (F.col("id") % batches).alias("b"),
    )


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# NaN-safe fractional bounds
# ---------------------------------------------------------------------------


def test_nan_file_keeps_finite_rows_reachable(spark, tmp_path):
    from kioss_spark.operators.skew import skipping_scan, stats_index

    path = str(tmp_path / "nan")
    spark.createDataFrame(
        [(1, float("nan")), (2, 1e9), (3, 2.5)], "id long, x double"
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(4, 0.5)], "id long, x double"
    ).coalesce(1).write.mode("append").parquet(path)

    idx = stats_index(spark, path, ["x"])
    nan_file = [r for r in idx.collect() if r["file_rows"] == 3][0]
    # NaN max widens to the +int64 sentinel, never to 0 (the ADVICE bug)
    assert nan_file["hi"] == 2**63 - 1
    assert nan_file["lo"] == 2  # floor(2.5); min() skips past NaN
    hits = skipping_scan(spark, path, "x", lo=5e8, hi=2e9, index=idx)
    assert _rows(hits, "id", "x") == [(2, 1e9)]


def test_all_nan_file_stays_candidate_everywhere(spark, tmp_path):
    from kioss_spark.operators.skew import skipping_scan, stats_index

    path = str(tmp_path / "allnan")
    spark.createDataFrame(
        [(1, float("nan")), (2, float("nan"))], "id long, x double"
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(3, 7.0)], "id long, x double"
    ).coalesce(1).write.mode("append").parquet(path)
    idx = stats_index(spark, path, ["x"])
    all_nan = [r for r in idx.collect() if r["file_rows"] == 2][0]
    # min()=max()=NaN: both sentinels — the file stays a candidate for
    # any probe (widening only), and the residual predicate never
    # matches NaN, so the answer stays exact
    assert (all_nan["lo"], all_nan["hi"]) == (-(2**63), 2**63 - 1)
    hits = skipping_scan(spark, path, "x", lo=6, hi=8, index=idx)
    assert _rows(hits, "id") == [(3,)]


# ---------------------------------------------------------------------------
# manifest format guard
# ---------------------------------------------------------------------------


def test_pre_snapshot_manifest_layout_is_refused(spark, fs_root):
    from kioss_spark.operators.skew import read_manifest, stats_index

    data = f"{fs_root}/data"
    man = f"{fs_root}/man"
    df = _mk_events(spark, 60)
    # fake the pre-round-12 layout: per-batch stats DELTAS in v{batch}
    # dirs, no batch_id column
    for b in range(2):
        out = f"{data}/batch_{b}"
        df.where(F.col("b") == b).drop("b").write.parquet(out)
        stats_index(spark, out, ["u"]).write.parquet(f"{man}/v{b}")
    with pytest.raises(ValueError, match="predates the snapshot format"):
        read_manifest(spark, man)


def test_newer_format_marker_is_refused(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink, read_manifest

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    sink = manifest_sink(data, man, ["u"])
    sink(_mk_events(spark, 30).drop("b"), 0)
    jvm = spark.sparkContext._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(man).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.mkdirs(P(f"{man}/_format_v99"))
    with pytest.raises(ValueError, match="declares format v99"):
        read_manifest(spark, man)


# ---------------------------------------------------------------------------
# per-file coverage guard
# ---------------------------------------------------------------------------


def test_skipping_scan_per_file_coverage_hole_raises(spark, tmp_path):
    from kioss_spark.operators.skew import (
        skipping_scan,
        stats_index,
        stats_index_merge,
    )

    p1 = str(tmp_path / "a")
    p2 = str(tmp_path / "b")
    spark.createDataFrame([(1, 10), (2, 20)], "u long, v long").coalesce(
        1
    ).write.parquet(p1)
    spark.createDataFrame([(3, 30), (4, 40)], "u long, v long").coalesce(
        1
    ).write.parquet(p2)
    # merged index built over DIFFERENT column sets: p2 has no v row
    idx = stats_index_merge(
        stats_index(spark, p1, ["u", "v"]), stats_index(spark, p2, ["u"])
    )
    with pytest.raises(ValueError, match="no stats row for probed"):
        skipping_scan(
            spark, str(tmp_path), ranges={"u": (1, 4), "v": (10, 40)},
            index=idx,
        )


# ---------------------------------------------------------------------------
# committed-batches-only folding (the replay-duplicate window)
# ---------------------------------------------------------------------------


def test_compaction_skips_uncommitted_batch_and_replay_stays_exact(
    spark, tmp_path
):
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_sink,
        read_via_manifest,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b").coalesce(1), b)
    # simulate the crash window: batch 2's snapshot committed but the
    # commits/b2 marker never landed
    jvm = spark.sparkContext._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(man).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.delete(P(f"{man}/commits/b2"), True)

    res = compact_manifest(spark, data, man, target_mb=64.0).collect()[0]
    # batches 0/1 folded; batch 2's file left out of the rewrite
    assert res["files_rewritten"] == 2
    # the replay re-commits batch 2 by replacing its batch_id rows —
    # with the fold guard, exactly once
    sink(df.where(F.col("b") == 2).drop("b"), 2)
    got = read_via_manifest(spark, man)
    assert got.count() == 300
    assert got.select("payload").distinct().count() == 300


# ---------------------------------------------------------------------------
# optimistic concurrent commit
# ---------------------------------------------------------------------------


def test_two_interleaved_writers_both_land_exactly_once(spark, tmp_path):
    from kioss_spark.operators.skew import (
        manifest_sink,
        read_manifest,
        read_via_manifest,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 400, batches=8)
    sink = manifest_sink(data, man, ["u"])
    errs = []

    def writer(batch_ids):
        try:
            for b in batch_ids:
                sink(df.where(F.col("b") == b).drop("b"), b)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=writer, args=([0, 2, 4, 6],))
    t2 = threading.Thread(target=writer, args=([1, 3, 5, 7],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = read_via_manifest(spark, man)
    assert got.count() == 400
    assert got.select("payload").distinct().count() == 400
    # every batch visible in the head snapshot exactly once
    snap = read_manifest(spark, man)
    batches = sorted(
        r["batch_id"]
        for r in snap.select("batch_id").distinct().collect()
    )
    assert batches == [0, 1, 2, 3, 4, 5, 6, 7]


def test_compaction_racing_ingest_both_land(spark, tmp_path):
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_sink,
        read_via_manifest,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 400, batches=8)
    sink = manifest_sink(data, man, ["u"])
    for b in range(4):
        sink(df.where(F.col("b") == b).drop("b"), b)
    errs = []

    def ingest():
        try:
            for b in range(4, 8):
                sink(df.where(F.col("b") == b).drop("b"), b)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def compact():
        try:
            compact_manifest(spark, data, man, target_mb=64.0)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=ingest)
    t2 = threading.Thread(target=compact)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = read_via_manifest(spark, man)
    assert got.count() == 400
    assert got.select("payload").distinct().count() == 400


# ---------------------------------------------------------------------------
# row-grain change feed
# ---------------------------------------------------------------------------


def _fold_fixture(spark, tmp_path):
    """commit b0, b1 -> compaction folds them -> commit b2; a consumer
    pinned at v0 (b0 only) catches up across the fold."""
    from kioss_spark.operators.skew import compact_manifest, manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    compact_manifest(spark, data, man, target_mb=64.0)
    sink(df.where(F.col("b") == 2).drop("b"), 2)
    return data, man, df


def test_row_diff_exact_across_folding_compaction(spark, tmp_path):
    from kioss_spark.operators.skew import (
        manifest_row_diff,
        read_manifest_changes,
    )

    _, man, df = _fold_fixture(spark, tmp_path)
    # file-grain catch-up REFUSES (batch 1 folded away)...
    with pytest.raises(ValueError, match="manifest_row_diff"):
        read_manifest_changes(spark, man, from_snapshot=0)
    # ...row grain is exact
    rd = manifest_row_diff(spark, man, from_snapshot=0)
    exp = _rows(df.where(F.col("b").isin(1, 2)).drop("b"), "u", "payload")
    ins = rd.where(F.col("change") == "insert")
    assert _rows(ins, "u", "payload") == exp
    assert rd.where(F.col("change") == "delete").count() == 0
    # and the fallback routes through it
    fb = read_manifest_changes(
        spark, man, from_snapshot=0, on_compaction="row_diff"
    )
    assert _rows(fb, "u", "payload") == exp


def test_row_diff_pure_append_window_short_circuits(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_row_diff, manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 200, batches=2)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    rd = manifest_row_diff(spark, man, from_snapshot=0)
    # nothing removed -> no exceptAll in the plan (no diff shuffle)
    assert "Except" not in rd._jdf.queryExecution().toString()
    exp = _rows(df.where(F.col("b") == 1).drop("b"), "u", "payload")
    assert _rows(rd.where(F.col("change") == "insert"), "u", "payload") == exp


def test_row_diff_same_snapshot_is_empty(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_row_diff, manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    sink = manifest_sink(data, man, ["u"])
    sink(_mk_events(spark, 50).drop("b"), 0)
    rd = manifest_row_diff(spark, man, from_snapshot=0, to_snapshot=0)
    assert rd.count() == 0
    assert "change" in rd.columns


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------


def _evolved_fixture(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    old = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    for b in range(2):
        sink(old.where(F.col("b") == b).drop("b"), b)
    new = spark.range(300, 400).select(
        (F.col("id") % 64).alias("u"),
        F.col("id").alias("payload"),
        (F.col("id") % 7).alias("v"),
    )
    sink2 = manifest_sink(data, man, ["u", "v"])
    sink2(new, 2)
    return data, man, old, new


def test_evolution_add_column_ingest_and_merged_read(spark, tmp_path):
    from kioss_spark.operators.skew import read_manifest, read_via_manifest

    data, man, old, new = _evolved_fixture(spark, tmp_path)
    head = read_via_manifest(spark, man)
    assert set(head.columns) == {"u", "payload", "v"}
    assert head.count() == 300  # old rows (new batch appended 100 more)
    assert head.where(F.col("v").isNull()).count() == 200
    # presence rows: one 'absent' v-row per pre-evolution file
    snap = read_manifest(spark, man)
    absent = snap.where(F.col("kind") == "absent")
    assert absent.select("col").distinct().collect()[0]["col"] == "v"
    assert (
        absent.select("file_path").distinct().count()
        == snap.where(F.col("batch_id").isin(0, 1))
        .select("file_path")
        .distinct()
        .count()
    )


def test_evolution_pruned_scan_on_new_column(spark, tmp_path):
    from kioss_spark.operators.skew import read_manifest, skipping_scan

    data, man, old, new = _evolved_fixture(spark, tmp_path)
    idx = read_manifest(spark, man)
    hits = skipping_scan(spark, data, "v", lo=2, hi=3, index=idx)
    exp = _rows(new.where(F.col("v").between(2, 3)), "u", "payload", "v")
    assert _rows(hits, "u", "payload", "v") == exp
    # physical pin: pre-evolution files are skipped outright
    n_files = hits.select(F.col("_metadata.file_path")).distinct().count()
    pre = (
        idx.where(F.col("batch_id").isin(0, 1))
        .select("file_path")
        .distinct()
        .count()
    )
    total = idx.select("file_path").distinct().count()
    assert n_files <= total - pre


def test_evolution_time_travel_serves_old_schema(spark, tmp_path):
    from kioss_spark.operators.skew import read_via_manifest

    _, man, old, _ = _evolved_fixture(spark, tmp_path)
    tt = read_via_manifest(spark, man, snapshot=1)
    assert set(tt.columns) == {"u", "payload"}
    assert tt.count() == 200


def test_evolution_refused_when_old_files_hold_values(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = spark.range(100).select(
        (F.col("id") % 64).alias("u"),
        F.col("id").alias("payload"),
        (F.col("id") % 7).alias("v"),  # v EXISTS with real values
    )
    sink = manifest_sink(data, man, ["u"])  # ...but is not stat'd
    sink(df, 0)
    sink2 = manifest_sink(data, man, ["u", "v"])
    with pytest.raises(ValueError, match="already hold non-NULL values"):
        sink2(df.withColumn("payload", F.col("payload") + 1000), 1)


def test_evolution_stats_only_agg_stays_exact(spark, tmp_path):
    from kioss_spark.operators.skew import (
        manifest_stats_agg,
        read_via_manifest,
    )

    _, man, old, new = _evolved_fixture(spark, tmp_path)
    got = manifest_stats_agg(spark, man, ["v"]).collect()[0]
    full = read_via_manifest(spark, man)
    exp = full.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.sum(F.col("v").isNull().cast("long")).alias("nulls"),
    ).collect()[0]
    assert (got["n_rows"], got["v_min"], got["v_max"], got["v_nulls"]) == (
        exp["n"], exp["mn"], exp["mx"], exp["nulls"]
    )


def test_evolution_batch_missing_stat_column_gets_presence_row(
    spark, tmp_path
):
    from kioss_spark.operators.skew import (
        manifest_sink,
        read_manifest,
        skipping_scan,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    wide = spark.range(100).select(
        (F.col("id") % 64).alias("u"), (F.col("id") % 7).alias("v")
    )
    narrow = spark.range(100, 150).select((F.col("id") % 64).alias("u"))
    sink = manifest_sink(data, man, ["u", "v"])
    sink(wide, 0)
    sink(narrow, 1)  # batch predates/drops v: presence row, not a crash
    idx = read_manifest(spark, man)
    assert (
        idx.where(
            (F.col("kind") == "absent") & (F.col("batch_id") == 1)
        ).count()
        > 0
    )
    hits = skipping_scan(spark, data, "v", lo=2, hi=3, index=idx)
    assert _rows(hits, "u", "v") == _rows(
        wide.where(F.col("v").between(2, 3)), "u", "v"
    )


# ---------------------------------------------------------------------------
# vacuum: optimistic-commit leftovers
# ---------------------------------------------------------------------------


def test_vacuum_collects_commit_race_leftovers(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink, vacuum

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    sink = manifest_sink(data, man, ["u"])
    sink(_mk_events(spark, 60).drop("b"), 0)
    sink(_mk_events(spark, 60).drop("b"), 1)
    jvm = spark.sparkContext._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(man).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    # a crashed attempt targeting an already-taken seq, and a loser's
    # nested leftover inside the winning snapshot
    fs.mkdirs(P(f"{man}/.tmp_v1_deadbeef"))
    fs.mkdirs(P(f"{man}/v1/.tmp_v1_cafebabe"))
    # an in-flight FUTURE attempt must be left alone
    fs.mkdirs(P(f"{man}/.tmp_v9_inflight"))
    vacuum(spark, data, man, retain_last=2)
    assert not fs.exists(P(f"{man}/.tmp_v1_deadbeef"))
    assert not fs.exists(P(f"{man}/v1/.tmp_v1_cafebabe"))
    assert fs.exists(P(f"{man}/.tmp_v9_inflight"))


# ---------------------------------------------------------------------------
# fluent facade: automatic candidate pruning
# ---------------------------------------------------------------------------


def _facade_fixture(spark, tmp_path):
    from kioss_spark.operators.skew import compact_manifest, manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = spark.range(3000).select(
        (F.col("id") % 256).alias("u"), F.col("id").alias("payload")
    )
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("id") % 3 == b), b)
    compact_manifest(
        spark, data, man, target_mb=0.01, small_file_mb=10.0, cluster_by="u"
    )
    return data, man, df


def test_facade_filter_prunes_and_matches_skipping_scan(spark, tmp_path):
    from kioss_spark.operators.skew import read_manifest, skipping_scan
    from kioss_spark.stream import Stream

    data, man, df = _facade_fixture(spark, tmp_path)
    st = Stream.read_manifest(spark, man).filter(
        (F.col("u") >= 4) & (F.col("u") <= 11)
    )
    # plan-budget pin: strictly fewer candidate files than the snapshot
    total = st._manifest["total"]
    chosen = len(st._manifest["files"])
    assert chosen < total
    # ...and exactly the files the explicit skipping_scan shape opens
    explicit = skipping_scan(
        spark, data, "u", lo=4, hi=11, index=read_manifest(spark, man)
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
    assert facade_files <= set(st._manifest["files"])
    assert facade_files == explicit_files
    got = _rows(st.to_df(), "u", "payload")
    assert got == _rows(df.where(F.col("u").between(4, 11)), "u", "payload")


def test_facade_chained_filters_intersect_candidates(spark, tmp_path):
    from kioss_spark.stream import Stream

    _, man, df = _facade_fixture(spark, tmp_path)
    st = (
        Stream.read_manifest(spark, man)
        .filter(F.col("u") >= 4)
        .filter(F.col("u") <= 11)
    )
    assert len(st._manifest["files"]) < st._manifest["total"]
    got = _rows(st.to_df(), "u", "payload")
    assert got == _rows(df.where(F.col("u").between(4, 11)), "u", "payload")


def test_facade_unsupported_predicate_falls_back_exactly(spark, tmp_path):
    from kioss_spark.stream import Stream

    _, man, df = _facade_fixture(spark, tmp_path)
    st = Stream.read_manifest(spark, man).filter(F.col("payload") % 2 == 0)
    assert st._plan[-1] == "filter(expr)"  # no pruning claimed
    assert st.count() == df.where(F.col("payload") % 2 == 0).count()


def test_facade_disjoint_range_reads_zero_files_schema_stable(
    spark, tmp_path
):
    from kioss_spark.stream import Stream

    _, man, _ = _facade_fixture(spark, tmp_path)
    st = Stream.read_manifest(spark, man).filter(F.col("u") > 10_000)
    assert len(st._manifest["files"]) == 0
    out = st.to_df()
    assert out.count() == 0
    assert {"u", "payload"} <= set(out.columns)


def test_facade_in_predicate_prunes(spark, tmp_path):
    from kioss_spark.stream import Stream

    _, man, df = _facade_fixture(spark, tmp_path)
    st = Stream.read_manifest(spark, man).filter(F.col("u").isin(5, 6, 7))
    assert len(st._manifest["files"]) < st._manifest["total"]
    assert _rows(st.to_df(), "u", "payload") == _rows(
        df.where(F.col("u").isin(5, 6, 7)), "u", "payload"
    )


def test_prune_extraction_rules():
    """Pure extraction-table checks (no data): conservative shapes."""
    import datetime as dt

    from kioss_spark.plans.prune import extract_prune_ranges

    r = extract_prune_ranges(
        (F.col("u") >= 4) & (F.col("u") < 11) & (F.lit(2) <= F.col("w"))
    )
    assert r["u"] == (4, 11, "num")  # strict < widened to inclusive
    assert r["w"] == (2, None, "num")
    r = extract_prune_ranges(F.col("s").between("a", "bz"))
    assert r["s"] == ("a", "bz", "str")
    r = extract_prune_ranges(F.col("u").isin(3, 9, 5))
    assert r["u"] == (3, 9, "num")
    r = extract_prune_ranges(F.col("u") == 7)
    assert r["u"] == (7, 7, "num")
    # OR contributes nothing; the AND'd conjunct still does
    r = extract_prune_ranges(
        ((F.col("x") > 2) | (F.col("y") < 3)) & (F.col("u") >= 4)
    )
    assert set(r) == {"u"}
    # timestamp literal -> absolute epoch seconds
    r = extract_prune_ranges(
        F.col("ts") <= F.lit(dt.datetime(2024, 1, 2, 3, 4, 5))
    )
    (lo, hi, t) = r["ts"]
    assert lo is None and t == "ts" and isinstance(hi, float)
    # date literal -> epoch days
    r = extract_prune_ranges(F.col("d") >= F.lit(dt.date(1970, 1, 11)))
    assert r["d"] == (10, None, "date")
    # column-vs-column and pure-OR: nothing extractable
    assert extract_prune_ranges(F.col("a") > F.col("b")) == {}
    assert extract_prune_ranges((F.col("a") > 1) | (F.col("a") < 0)) == {}


# ---------------------------------------------------------------------------
# streaming manifest source
# ---------------------------------------------------------------------------


def test_manifest_stream_kill_and_resume_exactly_once(spark, tmp_path):
    from kioss_spark.operators.skew import compact_manifest, manifest_sink
    from kioss_spark.streaming.dialect import SStream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    df = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)

    def drain():
        q = (
            SStream.from_manifest(spark, man)
            ._df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # consume, then "die"
    assert spark.read.parquet(out).count() == 200
    # while down: a compaction FOLDS the consumed batches, a new batch
    # lands
    compact_manifest(spark, data, man, target_mb=64.0)
    sink(df.where(F.col("b") == 2).drop("b"), 2)
    drain()  # resume from the checkpoint
    acc = spark.read.parquet(out)
    assert acc.count() == 300
    assert _rows(acc.select("u", "payload"), "u", "payload") == _rows(
        df.drop("b"), "u", "payload"
    )


def test_manifest_stream_offset_gated_on_commit_markers(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink
    from kioss_spark.streaming.manifest_source import (
        ManifestFeedStreamReader,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 200, batches=2)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    jvm = spark.sparkContext._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(man).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    reader = ManifestFeedStreamReader(None, {"manifest_dir": man})
    assert reader.latestOffset() == {"snapshot": 1}
    # simulate batch 1's crash window: snapshot committed, marker gone —
    # its files may yet be replaced by the replay, so the offset must
    # NOT advance past snapshot 0
    assert fs.delete(P(f"{man}/commits/b1"), True)
    assert reader.latestOffset() == {"snapshot": 0}
    fs.mkdirs(P(f"{man}/commits/b1"))
    assert reader.latestOffset() == {"snapshot": 1}


def test_manifest_stream_replay_replacement_never_double_emits(
    spark, tmp_path
):
    from kioss_spark.operators.skew import manifest_sink
    from kioss_spark.streaming.manifest_source import plan_window_files

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 200, batches=2)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    jvm = spark.sparkContext._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(man).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    # crash window + replay: batch 1 recommits, REPLACING its files
    assert fs.delete(P(f"{man}/commits/b1"), True)
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    files = plan_window_files(man, -1, 10**6)
    # exactly batch 0's files + batch 1's REPLACEMENT files (under the
    # replay suffix); the superseded originals are dropped
    assert files
    assert not any("batch_1/" in f for f in files)
    assert any("batch_1_r1" in f for f in files)
    got = spark.read.parquet(*files)
    assert got.count() == 200
    assert got.select("payload").distinct().count() == 200


def test_manifest_stream_starting_snapshot_skips_consumed(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink
    from kioss_spark.streaming.manifest_source import plan_window_files

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    files = plan_window_files(man, 0, 2)
    got = spark.read.parquet(*files)
    assert _rows(got, "u", "payload") == _rows(
        df.where(F.col("b").isin(1, 2)).drop("b"), "u", "payload"
    )


# ---------------------------------------------------------------------------
# adaptive max-score serving
# ---------------------------------------------------------------------------


def _tiny_corpus(spark):
    rows = [
        (1, "a b b c"), (2, "a c c d"), (3, "b d d e"),
        (4, "a a e f"), (5, "c e f f"), (6, "a b f"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )


def test_bm25_serve_auto_picks_unpruned_below_threshold(spark):
    from kioss_spark.operators import retrieval

    tfdl, df, g = retrieval.bm25_stats(_tiny_corpus(spark))
    mode, mass = retrieval.bm25_plan_choice(
        df.select(F.lit(0).alias("query_id"), "term", "df")
    , df)
    assert mode == "unpruned" and 0 < mass < 100


def test_bm25_serve_auto_picks_pruned_above_threshold(spark):
    from kioss_spark.operators import retrieval

    # synthetic vocabulary-grain stats: one common term carrying the
    # posting mass of the large-corpus regime (plan choice reads ONLY
    # the df table — no corpus needed to pin the selection rule)
    df = spark.createDataFrame(
        [("the", retrieval.BM25_PRUNE_MASS_THRESHOLD), ("zephyr", 3)],
        "term string, df long",
    )
    q = df.select(F.lit(0).alias("query_id"), "term", "df")
    mode, mass = retrieval.bm25_plan_choice(q, df)
    assert mode == "pruned"
    assert mass == retrieval.BM25_PRUNE_MASS_THRESHOLD + 3


def test_bm25_serve_modes_agree_bit_for_bit(spark):
    from kioss_spark.operators import retrieval

    tfdl, df, g = retrieval.bm25_stats(_tiny_corpus(spark))
    q = df.select(
        (F.xxhash64("term") % 2).cast("long").alias("query_id"),
        "term",
        "df",
    )
    never = retrieval.bm25_serve_topk(tfdl, df, g, q, k=3, prune="never")
    always = retrieval.bm25_serve_topk(tfdl, df, g, q, k=3, prune="always")
    auto = retrieval.bm25_serve_topk(tfdl, df, g, q, k=3, prune="auto")
    cols = ["query_id", "rnk", "doc_id", "score_e6"]
    assert _rows(never, *cols) == _rows(always, *cols) == _rows(auto, *cols)


def test_bm25_serve_rejects_unknown_mode(spark):
    from kioss_spark.operators import retrieval

    tfdl, df, g = retrieval.bm25_stats(_tiny_corpus(spark))
    with pytest.raises(ValueError, match="prune must be"):
        retrieval.bm25_serve_topk(tfdl, df, g, df, prune="maybe")


def test_facade_count_answers_from_manifest_with_zero_jobs(spark, tmp_path):
    from kioss_spark.stream import Stream

    _, man, df = _facade_fixture(spark, tmp_path)
    st = Stream.read_manifest(spark, man)
    n = st.count()
    assert n == df.count()
    # the count itself is pure driver arithmetic over the collected
    # snapshot: read_manifest runs its (bounded, metadata-grain) collect
    # at construction, after which counting adds ZERO Spark jobs
    tracker = spark.sparkContext.statusTracker()
    st2 = Stream.read_manifest(spark, man)
    before = set(tracker.getJobIdsForGroup(None))
    assert st2.count() == n
    assert set(tracker.getJobIdsForGroup(None)) == before
    # a filtered stream leaves the fast path (rows must actually flow)
    assert st.filter(F.col("u") <= 3).count() == df.where(
        F.col("u") <= 3
    ).count()


def test_facade_member_index_routes_point_lookup(spark, tmp_path):
    from kioss_spark.operators.skew import (
        manifest_sink,
        member_index,
        member_scan,
    )
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    # payload is UNIQUE and the layout is NOT clustered by it: min/max
    # ranges are useless, membership is the only pruning that can work
    df = spark.range(2000).select(
        (F.col("id") % 64).alias("u"), F.col("id").alias("payload")
    )
    sink = manifest_sink(data, man, ["u"])
    for b in range(4):
        sink(df.where(F.col("id") % 4 == b).coalesce(1), b)
    midx = member_index(spark, f"{data}/batch_*", ["payload"], buckets=4096)
    st = Stream.read_manifest(spark, man, member_index=midx).filter(
        F.col("payload").isin(7, 1500)
    )
    # plan budget: strictly fewer candidate files than the snapshot...
    assert len(st._manifest["files"]) < st._manifest["total"]
    # ...exactly the files the explicit member_scan opens...
    explicit = {
        r["f"]
        for r in member_scan(
            spark, f"{data}/batch_*", "payload", [7, 1500], index=midx
        ).select(F.col("_metadata.file_path").alias("f")).distinct().collect()
    }
    got_files = {
        r["f"]
        for r in st.to_df()
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    }
    assert got_files <= explicit
    # ...and the answer is exact
    assert _rows(st.to_df(), "u", "payload") == _rows(
        df.where(F.col("payload").isin(7, 1500)), "u", "payload"
    )


def test_facade_member_index_composes_with_range(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink, member_index
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = spark.range(2000).select(
        (F.col("id") % 64).alias("u"), F.col("id").alias("payload")
    )
    sink = manifest_sink(data, man, ["u"])
    for b in range(4):
        sink(df.where(F.col("id") % 4 == b).coalesce(1), b)
    midx = member_index(spark, f"{data}/batch_*", ["payload"], buckets=4096)
    st = Stream.read_manifest(spark, man, member_index=midx).filter(
        (F.col("u") >= 2) & (F.col("u") <= 40)
        & F.col("payload").isin(130, 131)
    )
    assert len(st._manifest["files"]) < st._manifest["total"]
    assert _rows(st.to_df(), "u", "payload") == _rows(
        df.where(
            F.col("u").between(2, 40) & F.col("payload").isin(130, 131)
        ),
        "u",
        "payload",
    )


def test_facade_member_uncovered_files_stay_candidates(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink, member_index
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = spark.range(400).select(
        (F.col("id") % 64).alias("u"), F.col("id").alias("payload")
    )
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("id") < 200).coalesce(1), 0)
    sink(df.where(F.col("id") >= 200).coalesce(1), 1)
    # member index built over batch 0's files ONLY: batch 1 uncovered
    midx = member_index(spark, f"{data}/batch_0", ["payload"])
    st = Stream.read_manifest(spark, man, member_index=midx).filter(
        F.col("payload") == 300  # lives in the UNCOVERED file
    )
    assert _rows(st.to_df(), "u", "payload") == _rows(
        df.where(F.col("payload") == 300), "u", "payload"
    )


def test_stream_write_manifest_roundtrip(spark, tmp_path):
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 200, batches=2)
    Stream.from_df(df.where(F.col("b") == 0).drop("b")).write_manifest(
        data, man, ["u"], batch_id=0
    )
    Stream.from_df(df.where(F.col("b") == 1).drop("b")).write_manifest(
        data, man, ["u"], batch_id=1
    )
    # a second batch-side write with a committed batch_id RAISES
    # (ADVICE r14: the silent exactly-once skip is for streaming
    # foreachBatch replays; an interactive double-write would lose data)
    with pytest.raises(ValueError, match="already committed"):
        Stream.from_df(df.where(F.col("b") == 1).drop("b")).write_manifest(
            data, man, ["u"], batch_id=1
        )
    got = Stream.read_manifest(spark, man)
    assert got.count() == 200
    assert _rows(got.to_df(), "u", "payload") == _rows(
        df.drop("b"), "u", "payload"
    )


def test_facade_null_probes_prune_exactly(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink
    from kioss_spark.stream import Stream

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    with_nulls = spark.range(100).select(
        F.col("id").alias("payload"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 64).alias("u"),
    )
    no_nulls = spark.range(100, 200).select(
        F.col("id").alias("payload"), (F.col("id") % 64).alias("u")
    )
    all_nulls = spark.range(200, 250).select(
        F.col("id").alias("payload"), F.lit(None).cast("long").alias("u")
    )
    sink = manifest_sink(data, man, ["u"])
    sink(with_nulls.coalesce(1), 0)
    sink(no_nulls.coalesce(1), 1)
    sink(all_nulls.coalesce(1), 2)
    full = with_nulls.unionByName(no_nulls).unionByName(all_nulls)

    st_null = Stream.read_manifest(spark, man).filter(F.col("u").isNull())
    assert "pruned" in st_null._plan[-1]
    assert len(st_null._manifest["files"]) == 2  # no-nulls file skipped
    assert _rows(st_null.to_df(), "payload") == _rows(
        full.where(F.col("u").isNull()), "payload"
    )

    st_nn = Stream.read_manifest(spark, man).filter(F.col("u").isNotNull())
    assert len(st_nn._manifest["files"]) == 2  # all-nulls file skipped
    assert _rows(st_nn.to_df(), "payload") == _rows(
        full.where(F.col("u").isNotNull()), "payload"
    )

    # composes with a range: IS NOT NULL AND u <= 10
    st_mix = Stream.read_manifest(spark, man).filter(
        F.col("u").isNotNull() & (F.col("u") <= 10)
    )
    assert _rows(st_mix.to_df(), "payload") == _rows(
        full.where(F.col("u").isNotNull() & (F.col("u") <= 10)), "payload"
    )


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read row deletes)
# ---------------------------------------------------------------------------


def _dv_fixture(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_delete, manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    manifest_delete(spark, data, man, "u", values=[5, 17])
    live = df.where(~F.col("u").isin(5, 17)).drop("b")
    return data, man, df, live


def test_delete_vectors_read_exact_and_time_travel(spark, tmp_path):
    from kioss_spark.operators.skew import read_via_manifest

    _, man, df, live = _dv_fixture(spark, tmp_path)
    got = read_via_manifest(spark, man)
    assert _rows(got, "u", "payload") == _rows(live, "u", "payload")
    # reader isolation: the pre-delete snapshot still serves every row
    assert read_via_manifest(spark, man, snapshot=2).count() == 300


def test_delete_without_stats_column_scans_all_never_retains(
    spark, tmp_path
):
    from kioss_spark.operators.skew import manifest_delete, read_via_manifest

    data, man, df, live = _dv_fixture(spark, tmp_path)
    # payload has NO stats rows: pruning impossible -> full scan, exact
    res = manifest_delete(
        spark, data, man, "payload", lo=100, hi=110
    ).collect()[0]
    assert res["rows_deleted"] == 11
    exp = live.where(~F.col("payload").between(100, 110))
    assert _rows(read_via_manifest(spark, man), "u", "payload") == _rows(
        exp, "u", "payload"
    )


def test_delete_is_idempotent_and_composes(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_delete, read_via_manifest

    data, man, df, live = _dv_fixture(spark, tmp_path)
    res = manifest_delete(spark, data, man, "u", values=[5, 17]).collect()[0]
    assert res["rows_deleted"] == 0  # already gone
    res2 = manifest_delete(spark, data, man, "u", values=[17, 33]).collect()[0]
    exp2 = live.where(F.col("u") != 33)
    assert res2["rows_deleted"] == df.where(F.col("u") == 33).count()
    assert read_via_manifest(spark, man).count() == exp2.count()


def test_delete_count_fast_path_and_stats_guard(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_stats_agg
    from kioss_spark.stream import Stream

    _, man, df, live = _dv_fixture(spark, tmp_path)
    assert Stream.read_manifest(spark, man).count() == live.count()
    assert (
        manifest_stats_agg(spark, man).collect()[0]["n_rows"] == live.count()
    )
    with pytest.raises(ValueError, match="deletion vectors"):
        manifest_stats_agg(spark, man, ["u"])


def test_facade_pruned_filter_applies_vectors(spark, tmp_path):
    from kioss_spark.stream import Stream

    _, man, df, live = _dv_fixture(spark, tmp_path)
    st = Stream.read_manifest(spark, man).filter(
        (F.col("u") >= 2) & (F.col("u") <= 9)
    )
    assert _rows(st.to_df(), "u", "payload") == _rows(
        live.where(F.col("u").between(2, 9)), "u", "payload"
    )


def test_row_diff_carries_deletes(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_row_diff

    _, man, df, live = _dv_fixture(spark, tmp_path)
    rd = manifest_row_diff(spark, man, from_snapshot=2)
    deleted = df.where(F.col("u").isin(5, 17)).drop("b")
    assert _rows(
        rd.where(F.col("change") == "delete"), "u", "payload"
    ) == _rows(deleted, "u", "payload")
    assert rd.where(F.col("change") == "insert").count() == 0


def test_compaction_purges_vectors_and_restores_stats(spark, tmp_path):
    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_stats_agg,
        read_manifest,
        read_via_manifest,
    )

    data, man, df, live = _dv_fixture(spark, tmp_path)
    compact_manifest(spark, data, man, target_mb=64.0)
    head = read_manifest(spark, man)
    assert head.where(F.col("dv_path").isNotNull()).count() == 0
    assert _rows(read_via_manifest(spark, man), "u", "payload") == _rows(
        live, "u", "payload"
    )
    # column stats servable again after the physical purge
    got = manifest_stats_agg(spark, man, ["u"]).collect()[0]
    assert got["n_rows"] == live.count()


def test_vacuum_retains_referenced_vectors(spark, tmp_path):
    from kioss_spark.operators.skew import read_via_manifest, vacuum

    data, man, df, live = _dv_fixture(spark, tmp_path)
    # all snapshots retained: the dv dir is live, nothing of it deleted
    vacuum(spark, data, man, retain_last=10)
    assert read_via_manifest(spark, man).count() == live.count()
    assert read_via_manifest(spark, man, snapshot=2).count() == 300


def test_file_feed_refuses_delete_on_consumed_file(spark, tmp_path):
    from kioss_spark.operators.skew import read_manifest_changes

    _, man, df, live = _dv_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="deletion-vector changes"):
        read_manifest_changes(spark, man, from_snapshot=1)
    # the row-grain fallback serves the insert slice exactly
    fb = read_manifest_changes(
        spark, man, from_snapshot=1, on_compaction="row_diff"
    )
    exp = live.where(F.col("payload") % 3 == 2)  # batch 2, minus deletes
    assert _rows(fb, "u", "payload") == _rows(exp, "u", "payload")


def test_streaming_source_delete_guard_and_dv_application(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_delete, manifest_sink
    from kioss_spark.streaming.dialect import SStream
    from kioss_spark.streaming.manifest_source import (
        ManifestFeedStreamReader,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    df = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    sink(df.where(F.col("b") == 0).drop("b"), 0)
    # delete BEFORE first consumption: the emitted files carry vectors,
    # read() applies them — the consumer never sees deleted rows
    manifest_delete(spark, data, man, "u", values=[5])
    q = (
        SStream.from_manifest(spark, man)
        ._df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    exp0 = df.where((F.col("b") == 0) & (F.col("u") != 5)).drop("b")
    assert _rows(spark.read.parquet(out), "u", "payload") == _rows(
        exp0, "u", "payload"
    )
    # delete hitting the CONSUMED file: the planner refuses...
    manifest_delete(spark, data, man, "u", values=[7])
    sink(df.where(F.col("b") == 1).drop("b"), 1)
    reader = ManifestFeedStreamReader(None, {"manifest_dir": man})
    start = {"snapshot": 1}  # the snapshot the consumer finished at
    end = reader.latestOffset()
    with pytest.raises(ValueError, match="cannot retract"):
        reader.partitions(start, end)
    # ...and ignore_deletes opts in (append semantics, stale consumed
    # rows accepted; the new batch still arrives dv-applied)
    reader2 = ManifestFeedStreamReader(
        None, {"manifest_dir": man, "ignore_deletes": "true"}
    )
    parts = reader2.partitions(start, end)
    assert parts  # batch 1's files flow


def test_concurrent_deletes_same_files_conflict_then_rerun_exact(
    spark, tmp_path
):
    from kioss_spark.operators.skew import (
        ManifestCommitConflict,
        manifest_delete,
        manifest_sink,
        read_via_manifest,
    )

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = _mk_events(spark, 300)
    sink = manifest_sink(data, man, ["u"])
    for b in range(3):
        sink(df.where(F.col("b") == b).drop("b"), b)
    results = {"conflicts": 0, "errs": []}
    import threading as _t

    def run(vals):
        try:
            manifest_delete(spark, data, man, "u", values=vals)
        except ManifestCommitConflict:
            results["conflicts"] += 1
            # reruns are idempotent: recompute against the new head
            manifest_delete(spark, data, man, "u", values=vals)
        except Exception as e:  # pragma: no cover
            results["errs"].append(e)

    t1 = _t.Thread(target=run, args=([5],))
    t2 = _t.Thread(target=run, args=([7],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not results["errs"]
    # whichever interleaving happened, BOTH deletes landed exactly
    exp = df.where(~F.col("u").isin(5, 7)).drop("b")
    got = read_via_manifest(spark, man)
    assert _rows(got, "u", "payload") == _rows(exp, "u", "payload")


# ---------------------------------------------------------------------------
# MERGE INTO (CDC upsert on the manifest table)
# ---------------------------------------------------------------------------


def _merge_fixture(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_sink

    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    df = spark.range(300).select(
        (F.col("id") % 64).alias("u"),
        F.col("id").alias("payload"),
        (F.col("id") % 2).alias("b"),
    )
    sink = manifest_sink(data, man, ["payload"])
    for b in range(2):
        sink(df.where(F.col("b") == b).drop("b"), b)
    updates = spark.range(10, 20).select(
        (F.col("id") % 64 + 1000).alias("u"),
        F.col("id").alias("payload"),
        F.lit(False).alias("dead"),
    )
    tombs = spark.range(50, 55).select(
        F.lit(None).cast("long").alias("u"),
        F.col("id").alias("payload"),
        F.lit(True).alias("dead"),
    )
    inserts = spark.range(1000, 1005).select(
        (F.col("id") % 64).alias("u"),
        F.col("id").alias("payload"),
        F.lit(False).alias("dead"),
    )
    changes = updates.unionByName(tombs).unionByName(inserts)
    exp = (
        df.drop("b")
        .where(
            ~F.col("payload").between(10, 19)
            & ~F.col("payload").between(50, 54)
        )
        .unionByName(updates.drop("dead"))
        .unionByName(inserts.drop("dead"))
    )
    return data, man, changes, exp


def test_manifest_merge_upsert_tombstone_insert_exact(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_merge, read_via_manifest

    data, man, changes, exp = _merge_fixture(spark, tmp_path)
    res = manifest_merge(
        spark, data, man, changes, key="payload", batch_id=2,
        cols=["payload"], tombstone="dead",
    ).collect()[0]
    assert (res["rows_deleted"], res["rows_upserted"],
            res["rows_tombstoned"]) == (15, 15, 5)
    got = read_via_manifest(spark, man)
    assert _rows(got, "u", "payload") == _rows(exp, "u", "payload")


def test_manifest_merge_replay_windows_are_exactly_once(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_merge, read_via_manifest

    data, man, changes, exp = _merge_fixture(spark, tmp_path)

    def merge():
        return manifest_merge(
            spark, data, man, changes, key="payload", batch_id=2,
            cols=["payload"], tombstone="dead",
        ).collect()[0]

    merge()
    # full replay (marker present): no-op
    res2 = merge()
    assert (res2["rows_deleted"], res2["rows_upserted"]) == (0, 0)
    assert _rows(read_via_manifest(spark, man), "u", "payload") == _rows(
        exp, "u", "payload"
    )
    # crash window: delete applied + batch appended, marker LOST — the
    # replay must not delete the merge's own appended rows (batch-id
    # exclusion) and must re-land the batch by replacement
    jvm = spark.sparkContext._jvm
    P = jvm.org.apache.hadoop.fs.Path
    fs = P(man).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.delete(P(f"{man}/commits/b2"), True)
    merge()
    assert _rows(read_via_manifest(spark, man), "u", "payload") == _rows(
        exp, "u", "payload"
    )


def test_manifest_merge_empty_changeset_noop(spark, tmp_path):
    from kioss_spark.operators.skew import manifest_merge, read_via_manifest

    data, man, changes, _ = _merge_fixture(spark, tmp_path)
    empty = changes.where(F.lit(False))
    res = manifest_merge(
        spark, data, man, empty, key="payload", batch_id=2,
        cols=["payload"], tombstone="dead",
    ).collect()[0]
    assert res["rows_deleted"] == 0 and res["rows_upserted"] == 0
    assert read_via_manifest(spark, man).count() == 300


def test_sstream_to_manifest_roundtrip(spark, tmp_path):
    """files source -> SStream.to_manifest -> Stream.read_manifest:
    the full streaming-lakehouse loop through the fluent surfaces."""
    from kioss_spark.stream import Stream
    from kioss_spark.streaming.dialect import SStream

    src = str(tmp_path / "src")
    data, man = str(tmp_path / "d"), str(tmp_path / "m")
    ckpt = str(tmp_path / "ck")
    df = _mk_events(spark, 200, batches=2)
    df.where(F.col("b") == 0).drop("b").write.parquet(src)
    q = SStream.files(
        spark, src, schema="u long, payload long"
    ).to_manifest(data, man, ["u"], checkpoint=ckpt)
    q.processAllAvailable(); q.stop()
    df.where(F.col("b") == 1).drop("b").write.mode("append").parquet(src)
    q2 = SStream.files(
        spark, src, schema="u long, payload long"
    ).to_manifest(data, man, ["u"], checkpoint=ckpt)
    q2.processAllAvailable(); q2.stop()
    got = Stream.read_manifest(spark, man)
    assert got.count() == 200  # zero-job metadata count
    assert _rows(got.to_df(), "u", "payload") == _rows(
        df.drop("b"), "u", "payload"
    )
