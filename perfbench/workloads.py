"""The benchmark's workloads: registry query names, run as one closed-loop
client.

Two workloads, each a cut of its layers' query families, chosen so that one
run takes about a minute at most on a 4-core host, although each run starts
its own JVM and runs a cold correctness pass before it times anything.
``LEFT_OUT`` names the family members not run and why; every one
of them matched its DuckDB oracle on the generated inputs of seeds 42 and 7,
so none was dropped for a wrong result.  ``sample_stratified`` was added to
``curate`` so that ``operators.curation`` is measured.

Predicted interactions (layer metric of the traced run -> end-to-end metric
it should move, on which workload, and where it should not).  The bounded
end-to-end metrics are CPU seconds; the wall-clock ``latency.*`` figures of
the traced run move the same way.

- ``operators.dedup.self_s``, ``operators.graph.self_s``,
  ``spark.driver_gap_s``, ``queries.build_jobs`` -> ``build_cpu_s`` and
  ``query_cpu_s.p90`` on ``curate`` (the loop queries are its tail); not on
  ``etl``.
- ``operators.similarity.self_s`` (``train_*``), ``operators.retrieval.self_s``
  -> ``build_cpu_s`` on ``curate``; not on ``etl``.
- ``operators.skew.write.self_s``, ``operators.skew.write.jobs``,
  ``py4j.calls`` -> ``build_cpu_s``, ``query_cpu_s.p90`` and ``pass_cpu_s``
  on ``etl`` (the manifest queries are its tail); not on ``curate``.
- ``operators.skew.read.self_s``, ``spark.input_bytes`` -> ``action_cpu_s``
  on ``etl``; not on ``curate``.
- ``catalyst.*_s``, ``stream.self_s``, ``spark.executor_cpu_s``,
  ``spark.shuffle_*_bytes`` -> ``action_cpu_s`` and ``pass_cpu_s``, shown
  most by ``etl``.
- memo and cache sizes inside ``operators.skew`` -> ``process.peak_rss_mb``
  of the traced ``etl`` run; not of ``curate``.
"""

from __future__ import annotations

#: input size every timed run uses (see gen.SIZES)
SIZE = "small"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # the Stream facade and relational work (no eager jobs: Catalyst and the
    # executor do the work) beside the manifest table format (commits at
    # build, pruned and membership scans at the action)
    "etl": (
        "op_map_revenue", "op_flatten_tokens", "op_distinct_first",
        "op_catch_pyfn", "q1_pricing_summary", "q3_shipping_priority",
        "q5_nation_revenue", "sessionize_events", "manifest_ingest_scan",
        "member_scan_events",
    ),
    # the LLM-data pipeline: the connected-components and PageRank loops over
    # the near-dup graph, IVF training, BM25 indexing, the text rule battery
    # and a stratified sample
    "curate": (
        "dedup_cluster_best", "pagerank_dup_graph", "quality_gopher_rules",
        "ann_ivf_trained", "bm25_topk", "sample_stratified",
    ),
}

#: nominal seconds of one timed pass on an idle 4-core host; a run makes
#: round(--seconds / PASS_S) passes, so their number never depends on timing
#: (two for ``etl`` and one for ``curate`` at the benchmark's 10 s)
PASS_S = {"etl": 5.5, "curate": 11.0}

_BUDGET = "left out to fit the run budget"

LEFT_OUT: dict[str, dict[str, str]] = {
    "etl": {
        "op_filter_highvalue": f"{_BUDGET}; filter shape already in q1_pricing_summary",
        "op_groupby_key": f"{_BUDGET}; keyed shuffle already in op_flatten_tokens",
        "op_catch_replacement": f"{_BUDGET}; catch already in op_catch_pyfn",
        "asof_last_signup": f"{_BUDGET}; window shape already in sessionize_events",
        "manifest_compact_scan": f"{_BUDGET}; 4-8 s per call; commits already in manifest_ingest_scan",
        "op_group_batches": f"{_BUDGET}; global-order window, single-partition sort",
        "op_skip_truncate": f"{_BUDGET}; global-order window, single-partition sort",
        "op_concat_streams": f"{_BUDGET}; union shape already in op_flatten_tokens",
        "op_amap_enrich": f"{_BUDGET}; Python-worker path already in op_catch_pyfn",
        "op_foreach_passthrough": f"{_BUDGET}; Python-worker path already in op_catch_pyfn",
        "op_observe_metrics": f"{_BUDGET}; runs an eager action at build",
        "zip_customers_suppliers": _BUDGET,
        "q9_profit_adapted": f"{_BUDGET}; join shape already in q5_nation_revenue",
        "q16_supplier_variety_adapted": _BUDGET,
        "top3_customers_per_segment": f"{_BUDGET}; window shape already in sessionize_events",
        "manifest_merge_scan": f"{_BUDGET}; 3-5 s per call",
        "manifest_delete_scan": f"{_BUDGET}; 3-13 s per call",
        "manifest_changes_scan": _BUDGET,
        "manifest_row_changes_scan": _BUDGET,
        "manifest_stats_only": _BUDGET,
        "facade_pruned_scan": _BUDGET,
        "facade_member_scan": _BUDGET,
        "skipping_scan_events": _BUDGET,
    },
    "curate": {
        "dedup_exact": f"{_BUDGET}; one keyed aggregation, no loop",
        "dedup_minhash_lsh": _BUDGET,
        "dedup_jaccard_pairs": f"{_BUDGET}; its pair pipeline runs inside dedup_cluster_best",
        "quality_ensemble": _BUDGET,
        "pipeline_curation": _BUDGET,
        "tfidf_keywords": _BUDGET,
        "bpe_segment_corpus": _BUDGET,
        "decontaminate_eval": _BUDGET,
        "ann_pq_adc": f"{_BUDGET}; IVF training already in ann_ivf_trained",
        "ann_pq_opq_res": f"{_BUDGET}; IVF training already in ann_ivf_trained",
        "hybrid_rrf_topk": _BUDGET,
    },
}
