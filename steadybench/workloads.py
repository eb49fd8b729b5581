"""The three workloads' query ids and the fixed pass counts.

``WARMUP_PASSES`` passes (the first one is the cold pass that also checks
every output) run before timing; then ``TIMED_PASSES`` passes are measured.
Both counts are fixed so that every run samples the same points of the
warm-up curve (see ``results/curve_*.json``); they are never derived from a
time budget.
"""

from __future__ import annotations

WARMUP_PASSES = 1
TIMED_PASSES = 3

WORKLOADS: dict[str, dict] = {
    # The reference's daily batch: many short queries, so plan construction,
    # catalog handles, cleaning expressions, the ML fit and source reads
    # carry the pass; dedup and similarity operators barely run.
    "listings_batch": {
        "ids": [
            "q_clean_price", "q_clean_sqft", "q_split_citystatezip", "q_keyword_flags",
            "q_dedup_exact", "q_pricing_summary", "q_ml_price_coeffs", "q_jdbc_roundtrip",
        ],
    },
    # Text dedup for corpus curation: long shuffle-heavy actions in
    # operators.dedup and operators.bloom plus persists; cleaning, ML and
    # writes do almost nothing.
    "corpus_dedup": {
        "ids": ["q_minhash_pairs_murmur3", "q_neardup_ngram", "q_bloom_decontaminate"],
    },
    # The write side: eager mk jobs, streaming availableNow micro-batches
    # (including applyInPandasWithState), warehouse writes and quantization.
    "index_ingest": {
        "ids": [
            "q_stream_sessionize", "q_scd2_merge", "q_zorder_stats", "q_quantize_int8",
            "q_csv_roundtrip",
        ],
    },
}

# Engine modules whose public functions get spans in a traced run.
TRACED_MODULES = [
    "catalog",
    "functions.cleaning", "functions.text", "functions.vectors",
    "operators.dedup", "operators.similarity", "operators.bloom", "operators.quantize",
    "operators._ckpt",
    "sources.warehouse", "sources.formats", "sources.partitioned_csv", "sources.registry",
    "streaming.jobs",
    "ml.price_model",
]
