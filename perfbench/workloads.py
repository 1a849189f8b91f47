"""Workload definitions shared by the runner and the expected-output tool.

Both workloads read catalog tables generated at ``TABLE_SF`` from the
fixed ``TABLE_SEED``; the run seed permutes query order.  ``tabular`` also
runs the reference's preprocessing flow on a MAT database it generates
from the run seed.
"""

from __future__ import annotations

# Scale factor of the generated catalog tables (lineitem = 6e6 x sf rows).
TABLE_SF = 0.01
TABLE_SEED = 42

# Star-schema queries, then the registered sinks that ride along with the
# reference flow.  Workloads leave out queries whose module keeps others
# and that bench.py's HEADLINE omits (manifest.json "dropped"), to keep
# one pass short.
TABULAR = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q8_market_share",
    "window_topk_per_group",
    "window_running_sum",
    "agg_count_distinct",
    "events_sessionize",
    "events_user_retention",
    "sink_bucketed_join",
    "sink_csv_roundtrip",
]

LLM_CORPUS = [
    "dedup_minhash_lsh",
    "dedup_contamination",
    "text_quality_score",
    "text_unigram_perplexity",
    "sim_cosine_topk",
    "corpus_filter_funnel",
    "pipeline_pretrain_corpus",
    "mm_decode_features",
]

# Workloads whose queries run Python workers (pandas UDFs); only their
# set-up warms the worker pool.
PYTHON_WORKERS = {"llm_corpus"}

QUERIES = {
    "tabular": TABULAR,
    "llm_corpus": LLM_CORPUS,
}

# Workloads whose passes start with the reference flow (MAT database ->
# parquet -> PreProcessEngine -> folds -> ParamGrid).
REFERENCE_FLOW = {"tabular"}

# The reference-layout database and preprocessing settings.
MAT_CLASSES = 8
MAT_SAMPLES = 400  # per class, +-20%
MAT_DIMS = 32
KEY_STRIDE = 100_000  # vec_id = label * KEY_STRIDE + sample_id
PROCESS = {"cv": 5, "train": 0.7, "extend": True, "center": True}
PARAM_GRID = {"lr": [0.1, 0.01, 0.001], "reg": [1, 10, 100], "depth": [2, 4]}

# Tables each workload scans; their row counts are the workload's input rows.
TABLES = {
    "tabular": [
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    ],
    "llm_corpus": ["documents", "embeddings"],
}
