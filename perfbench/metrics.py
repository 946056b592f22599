"""Names, units and directions of every metric the benchmark reports.
``BENCHMARK.json`` lists the same metrics; ``perfbench/tests`` checks the
two agree."""

from __future__ import annotations

# (name, unit, better, bound). Every workload reports every one.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("e2e_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
]

# The pass: registry queries by the module that does their work. Four of
# the twenty candidate queries (hits_top20, semantic_dedup_stats,
# ann_topk_ivfpq, recs_customer_cf) are left out so that a cold run fits
# the time a run is given; each group keeps at least one query.
BATCH_GROUPS = {
    "operators": [
        "pricing_summary", "brand_revenue", "returnflag_cube",
        "local_supplier_volume", "events_asof_last_order",
    ],
    "recs": ["top_cooccurrence_pairs"],
    "graph": [
        "pagerank_top20", "sssp_top20", "triangle_stats", "betweenness_sample_top20",
    ],
    "dedup": ["ngram_jaccard_pairs", "embedding_neardup_pairs", "tfidf_neardup_pairs"],
    "similarity": ["ann_topk_ivf", "bm25_doc_topk"],
    "streaming": ["streaming_event_windows"],
}

# Layers whose Spark stage records are rolled up (stats.stage_summary).
STAGE_SCOPES = ["lake"] + [f"batch.{g}" for g in BATCH_GROUPS] + ["recs", "ivm"]
STAGE_FIELDS = [
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("max_stage_tasks", "count", "higher"),
    ("core_util", "ratio", "higher"),
    ("shuffle_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
]


def _per_layer() -> list[tuple[str, str, str]]:
    out = [
        ("session.start_s", "s", "lower"),
        ("lake.build_s", "s", "lower"),
        ("lake.warm_s", "s", "lower"),
        ("recs.took_p50_ms", "ms", "lower"),
        ("serve.overhead_p50_ms", "ms", "lower"),
        ("recs.primary_hit_ratio", "ratio", "higher"),
        ("recs.empty_frac", "ratio", "lower"),
        ("recs.p50_ms", "ms", "lower"),
        ("recs.tail_ms", "ms", "lower"),
        ("recs.tail_pct", "pct", "higher"),
        ("recs.product_p50_ms", "ms", "lower"),
        ("recs.customer_p50_ms", "ms", "lower"),
        ("recs.requests", "count", "higher"),
    ]
    out += [(f"batch.{g}_s", "s", "lower") for g in BATCH_GROUPS]
    out += [(f"q.{q}_s", "s", "lower") for qs in BATCH_GROUPS.values() for q in qs]
    out += [
        ("ivm.first_round_s", "s", "lower"),
        ("ivm.round_p50_s", "s", "lower"),
        ("ivm.round_max_s", "s", "lower"),
        ("ivm.rows_per_s", "1/s", "higher"),
        ("ivm.state_mb", "MB", "lower"),
        ("ivm.state_files", "count", "lower"),
        ("ivm.read_product_p50_ms", "ms", "lower"),
        ("ivm.read_customer_p50_ms", "ms", "lower"),
    ]
    out += [
        (f"{scope}.{f}", unit, better)
        for scope in STAGE_SCOPES
        for f, unit, better in STAGE_FIELDS
    ]
    out += [
        ("host.peak_rss_mb", "MB", "lower"),
        ("host.steal_frac", "ratio", "lower"),
        ("host.calibrate_s", "s", "lower"),
        ("host.spark_probe_s", "s", "lower"),
        ("checks.attempted", "count", "higher"),
        ("checks.fail_frac", "ratio", "lower"),
        ("trace.spans", "count", "higher"),
        ("trace.read_s", "s", "lower"),
    ]
    out += [(f"traced.{n}", u, b) for n, u, b, _ in END_TO_END]
    return out


PER_LAYER = _per_layer()
