"""Plan audit — inspects every registered query's physical plan for the
properties the 100 TB target demands and writes PLAN_AUDIT.md.

Checked per query:
- pushdown:   parquet scan carries PushedFilters (when the query filters)
- broadcast:  BroadcastHashJoin present when any join exists (small dims
              must broadcast; a SortMergeJoin is flagged for review)
- codegen:    WholeStageCodegen spans exist (JVM fast path)
- global1p:   'Exchange SinglePartition' occurrences (each must be a tiny
              stats/aggregate subplan, never the data path)
- pythonudf:  ArrowEvalPython / mapInPandas operators (allowed only where
              the operator is deliberately Python: amap, multimodal, pyfn)

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from kioss_spark.session import get_spark  # noqa: E402
from kioss_spark.queries import load_all  # noqa: E402

#: queries where Python-in-the-plan is the point, not a regression
PYTHON_OK = {"op_catch_pyfn", "op_amap_enrich", "op_foreach_passthrough",
             "mm_image_meta", "mm_frame_sample", "mm_audio_chunks",
             # deliberate Arrow-batched partial top-k between JVM scoring and
             # the rank window (see operators.similarity.cosine_topk): bounds
             # the window's shuffle to |queries| x k x batches rows
             "ann_cosine_topk",
             # its dense lane IS cosine_topk — same partial-top-k seam;
             # the sparse lane and the RRF fusion are pure JVM
             "hybrid_rrf_topk",
             # two cosine_topk passes (full + truncated dims) — same
             # deliberate partial-top-k seam as ann_cosine_topk
             "ann_matryoshka_agreement",
             # its truth side IS cosine_topk — same partial-top-k seam
             "ann_recall_eval",
             # same partial pattern: per-batch bottom-k partial KMV sketches
             # bound the keyed rank's shuffle (operators.sketch.kmv_distinct)
             "sketch_distinct_tokens",
             # the same KMV partial bottom-k seam, twice (base + batch
             # state builds — operators.sketch.kmv_state)
             "sketch_state_ingest",
             # rides the frame_sample mapInPandas fan-out (the multimodal
             # decode seam); the dedup agg itself is JVM-side
             "mm_frame_dedup",
             # the resize/thumbnail codec seam — Arrow-batched by design
             "mm_image_resize",
             # bounded per-batch candidate pass (<= k-1 survivors/batch,
             # pigeonhole-lossless) before the exact broadcast-semi-join
             # recount (operators.sketch.heavy_hitters)
             "heavy_hitter_tokens",
             # per-Arrow-batch numpy X^T X partials — CONSTANT d(d+1)/2
             # rows per batch (operators.similarity.embed_covariance);
             # the JVM alternative explodes d^2 rows per VECTOR
             "embed_covariance_diag",
             # round-6 addition: per-batch partial top-k between JVM scoring
             # and the rank window (operators.similarity.hard_negatives) —
             # bounds the window's shuffle to |anchors| x k x batches rows,
             # same seam as ann_cosine_topk
             "hard_negative_mining"}


def analyze_plan(plan: str) -> dict:
    """Extract the audited physical-plan properties from an executedPlan
    string — shared by the PLAN_AUDIT.md generator and the
    tests/test_plan_budget.py regression gate.

    An executed AdaptiveSparkPlan's toString appends the pre-AQE "Initial
    Plan" section, which double-counts every Exchange; only the final plan
    (the part before that marker) is audited."""
    plan = plan.split("== Initial Plan ==")[0]
    scan_widths = [
        rs.count(":") for rs in re.findall(r"ReadSchema: struct<([^>\n]*)", plan)
    ]
    return {
        "pushdown": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "broadcast": "BroadcastHashJoin" in plan
        or "BroadcastNestedLoopJoin" in plan,
        "smj": "SortMergeJoin" in plan,
        "codegen": "WholeStageCodegen" in plan
        or bool(re.search(r"\*\(\d+\)", plan)),
        "onep": plan.count("Exchange SinglePartition"),
        "shuffles": len(
            re.findall(r"Exchange (?:hash|range)partitioning", plan)
        ),
        "scancols": max(scan_widths) if scan_widths else 0,
        "python": bool(
            re.search(r"ArrowEvalPython|MapInPandas|PythonUDF", plan)
        ),
    }


def executed_plan(spark, q, sf_dir: str) -> str:
    """Run the query and return ITS OWN final adaptive plan string (a noop
    write would execute a copy, leaving this plan isFinalPlan=false)."""
    df = q.fn(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    # without these, long plans truncate mid-struct ("...") and the
    # ReadSchema regex swallows following plan text (q7 read as "28 scan
    # cols" in round 4): maxToStringFields caps field count,
    # maxMetadataStringLength caps the metadata string (default 100 chars)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    registry = load_all()
    lines = [
        "# PLAN_AUDIT — physical-plan properties per registered query",
        "",
        f"Generated by tools/audit_plans.py at {sf_dir} "
        "(re-run after operator changes).",
        "",
        "| query | pushdown | broadcast join | SMJ | codegen | shuffles | 1-part exch | scan cols | python |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    flags = []
    for name, q in registry.items():
        if name == "op_observe_metrics":
            continue  # runs an action internally; plan is the tiny literal DF
        try:
            # AQE reveals the final join strategy / codegen stages only
            # after the run
            plan = executed_plan(spark, q, sf_dir)
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {str(exc)[:60]} | | | | | |")
            flags.append(name)
            continue
        p = analyze_plan(plan)
        py_note = "yes" if p["python"] else ""
        if p["python"] and name not in PYTHON_OK:
            py_note = "**UNEXPECTED**"
            flags.append(name)
        lines.append(
            f"| {name} | {'yes' if p['pushdown'] else ''} "
            f"| {'yes' if p['broadcast'] else ''} "
            f"| {'yes' if p['smj'] else ''} | {'yes' if p['codegen'] else ''} "
            f"| {p['shuffles'] or ''} | {p['onep'] or ''} "
            f"| {p['scancols'] or ''} | {py_note} |"
        )
    lines += [
        "",
        "Notes:",
        "- SMJ (SortMergeJoin) is acceptable for fact-to-fact joins "
        "(dedup pair verification); dimension joins must broadcast.",
        "- Every `Exchange SinglePartition` was manually traced to a tiny "
        "subplan (per-partition stats rows, top-k final, or <=25-row dims) — "
        "never the data path (see Stream._ranked docstring).",
        "- Python operators appear exactly where Python is the feature "
        "(Arrow-batched callables, multimodal decode), never on the "
        "relational/LLM hot path.",
        "- `shuffles` counts hash/range-partitioning Exchanges in the FINAL "
        "adaptive plan — the wide-op budget that must stay flat as data "
        "scales 1000x (iterative CC queries show per-round exchanges; their "
        "round count is O(component diameter), not O(data)).",
        "- `scan cols` is the widest parquet ReadSchema struct: column-"
        "pruning evidence (documents has 6 columns, lineitem 16 — narrower "
        "reads mean the projection reached the scan).",
    ]
    out = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write(out)
    print(out)
    print(f"flagged: {flags}" if flags else "no unexpected plan properties")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
