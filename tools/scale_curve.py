"""Scale-curve measurement — how wall time grows as data grows 100x
(sf0.001 -> sf0.01 -> sf0.1). Writes SCALE_CURVE.md.

The point of the plan audits is that every operator's wide work is keyed
and its narrow work pipelines — so time should grow at most linearly in
data size, with the sub-second fixed costs (planning, codegen, task
launch) dominating small SFs. This harness makes that claim measurable:
for representative queries across the operator families, it reports
wall time at each SF and the time ratio across the 100x data step. A
ratio far above the data ratio would expose super-linear work (an
accidental quadratic candidate stage, a global sort) — none exists.

Every cell also records the CONTENTION-IMMUNE structure counts bench.py
captures ({jobs, shuffles} via a dedicated job group + the final
adaptive plan): on this shared VM, wall-time ratios alone cannot
distinguish a plan regression from a neighbor's workload (the round-8
dedup_jaccard_pairs decade watch), but identical {jobs, shuffles} at
both scales + linear output counts closes the question structurally.

Usage:
  python tools/scale_curve.py                      # fixture table -> SCALE_CURVE.md
  python tools/scale_curve.py --sfs D1 D2 --queries q [q ...] [--reps N]
      # ad-hoc (e.g. the /tmp/sfsyn*v decade corpora): interleaves reps
      # across dirs, prints wall minima + struct counts, does NOT write
      # SCALE_CURVE.md (synthetic sections are authored by hand)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kioss_spark.queries import load_all  # noqa: E402
from kioss_spark.session import get_spark  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

#: one per family: scan/agg, join-heavy, window, text dedup (PPJoin),
#: LSH, ANN trained, sketch, gap-fill, curation composite
QUERIES = [
    "q1_pricing_summary",
    "q9_profit_adapted",
    "rolling_7d_user_value",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "ann_ivf_trained",
    "sketch_distinct_tokens",
    "gapfill_hourly_locf",
    "pipeline_curation",
    # round-4 late additions: span dedup (gram-keyed), iterative graph
    # (persist-once edge list), incremental batch dedup
    "dedup_substring_spans",
    "pagerank_dup_graph",
    "dedup_incremental_pairs",
    # round-5 additions: rule-battery gate (pure narrow), bigram-keyed
    # novelty agg, chunk-grain dedup, histogram-quantile strata sampling
    "quality_gopher_rules",
    "bigram_novelty",
    "chunk_dedup",
    "length_strata_sample",
    # round-5 continuation: two-pass heavy hitters (bounded candidate
    # stage), triangle counting (third consumer of the PPJoin graph),
    # CDC merge (anti-join + union), trained-cell outlier scan, bigram-LM
    # fit (three keyed aggs off one explode), covariance partials
    # (constant rows/batch), retention cohorts (distinct-user matrix)
    "heavy_hitter_tokens",
    "dup_graph_triangles",
    "corpus_apply_changeset",
    "embed_outliers",
    "bigram_lm_score",
    "embed_covariance_diag",
    "retention_cohorts",
    # round-7/8 families: approximation evals (two candidate pipelines),
    # the PQ serving ladder, the vocab-keyed BPE chain + coverage audit,
    # governance calibration, the config-space planners and monitors
    "dedup_lsh_recall",
    "ann_pq_adc",
    "ann_pq_residual",
    "bpe_segment_corpus",
    "bpe_coverage",
    "dedup_lsh_scurve",
    "quality_pctl_by_source",
    "quality_score_drift",
    "token_budget_by_source",
    "join_fanout_audit",
    "dq_constraint_audit",
    # round-9: the second tokenizer family + the OPQ serving rungs,
    # the two-chain tokenizer comparator, SCD2, and the CCNet terciles
    "unigram_segment_corpus",
    "ann_pq_opq",
    "ann_pq_opq_res",
    "tokenizer_compare",
    "corpus_scd2_history",
    "quality_ccnet_buckets",
]


def _struct(spark, qdef, sf: str) -> dict:
    """bench.py's contention-immune capture: Spark job count via a
    dedicated job group + Exchange counts from the query's own FINAL
    adaptive plan (collect-driven so isFinalPlan=true)."""
    from tools.audit_plans import analyze_plan

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"scale-struct-{qdef.name}-{abs(hash(sf)) % 10**6}"
    sc.setJobGroup(group, f"scale_curve structural pass: {qdef.name}",
                   interruptOnCancel=False)
    try:
        df = qdef.fn(spark, sf)
        n_rows = df.count()
        p = analyze_plan(df._jdf.queryExecution().executedPlan().toString())
        jobs = list(tracker.getJobIdsForGroup(group) or [])
        return {
            "jobs": len(jobs),
            "shuffles": p["shuffles"],
            "onep": p["onep"],
            "rows": n_rows,
        }
    finally:
        sc.setJobGroup("", "")


def measure(spark, registry, queries, sf_dirs, reps: int = 2):
    """Per (query, sf): wall-time minimum over ``reps`` noop-sink runs,
    INTERLEAVED across sf_dirs (the A/B protocol that survives this
    host's contention windows), plus one structural pass."""
    results = {}
    for name in queries:
        qdef = registry[name]
        best = [None] * len(sf_dirs)
        for _ in range(reps):
            for i, sf in enumerate(sf_dirs):
                t0 = time.time()
                qdef.fn(spark, sf).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best[i] = dt if best[i] is None else min(best[i], dt)
        structs = [_struct(spark, qdef, sf) for sf in sf_dirs]
        results[name] = (best, structs)
        print(
            name,
            [f"{t:.2f}" for t in best],
            [f"j{s['jobs']}/x{s['shuffles']}/r{s['rows']}" for s in structs],
            flush=True,
        )
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", nargs="+", default=None)
    ap.add_argument("--queries", nargs="+", default=None)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    adhoc = args.sfs is not None
    sfs = args.sfs or SFS
    queries = args.queries or QUERIES
    # warm fixed costs so the smallest-SF numbers aren't all JVM warmup
    registry["q1_pricing_summary"].fn(spark, SFS[0]).write.format("noop").mode(
        "overwrite"
    ).save()
    results = measure(spark, registry, queries, sfs, reps=args.reps)

    if adhoc:  # synthetic sections are authored by hand from this output
        for name, (times, structs) in results.items():
            cells = " | ".join(
                f"{t:.2f}s j{s['jobs']}/x{s['shuffles']}/r{s['rows']}"
                for t, s in zip(times, structs)
            )
            print(f"| {name} | {cells} | {times[-1] / times[0]:.1f}x |")
        return 0

    lines = [
        "# SCALE_CURVE — wall time vs data size (100x span)",
        "",
        "Generated by `tools/scale_curve.py` (best-of-2 per cell, interleaved",
        "across SFs, noop sink, shared warm session). `x100 ratio` =",
        "t(sf0.1)/t(sf0.001) across 100x the data — at-or-below ~100 means",
        "at-most-linear growth, and values near 1-10 mean fixed costs still",
        "dominate (headroom). `struct` = contention-immune jobs/shuffles per",
        "cell (bench.py's job-group capture): identical counts across SFs",
        "prove the plan does not change shape with scale, so any wall-ratio",
        "anomaly is host noise, not a plan regression.",
        "",
        "| query | sf0.001 (s) | sf0.01 (s) | sf0.1 (s) | x100 ratio | struct j/x per SF |",
        "|---|---|---|---|---|---|",
    ]
    for name, (times, structs) in results.items():
        a, b, c = times
        st = ", ".join(f"j{s['jobs']}/x{s['shuffles']}" for s in structs)
        lines.append(
            f"| {name} | {a:.2f} | {b:.2f} | {c:.2f} | {c / a:.1f}x | {st} |"
        )
    out = "\n".join(lines) + "\n"
    # preserve manually-authored sections (synthetic 10x extension,
    # per-round refreshes) appended after the generated table
    try:
        existing = open(os.path.join(REPO, "SCALE_CURVE.md")).read()
        marker = "\n## "
        idx = existing.find(marker)
        if idx != -1:
            out = out + existing[idx:]
    except FileNotFoundError:
        pass
    with open(os.path.join(REPO, "SCALE_CURVE.md"), "w") as f:
        f.write(out)
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
