"""The benchmark's workloads: which registry queries each one times, which
base tables its set-up loads, and whether those tables are cached.

Every workload is a closed loop with one client; the seed fixes the order
of the queries in each pass (README.md explains each list).
"""

TPCH_TABLES = ["region", "nation", "customer", "orders", "events"]
CORPUS_TABLES = ["documents", "embeddings"]

INTERACTIVE = [
    "q3_join_inner",      # inner join + group-by
    "q5_merge_lookup",    # merge_lookup join
    "q22_pivot",          # reshape: pivot
    "q83_asof_exec",      # as-of join (custom AsofJoinExec)
    "q219_tpch_q22",      # TPC-H Q22
]

CURATION = [
    "q27_exact_dedup",        # Dedup: exact content hash
    "q26_tokens",             # Text: tokenizer
    "q237_kmeans",            # Similarity: k-means (driver jobs)
    "q222_drift_metrics",     # Curate: drift counts (registry frame)
    "q228_binned_psi",        # Curate: binned PSI (registry frame)
]

COLD = [
    "q135_tpch_q6",
    "q5_merge_lookup",
    "q27_exact_dedup",
    "q222_drift_metrics",
    "q113_hash_split",
]

WORKLOADS = {
    "riptable_interactive": {
        "queries": INTERACTIVE, "tables": TPCH_TABLES, "cache": True,
        "cold": False},
    "llm_curation": {
        "queries": CURATION, "tables": CORPUS_TABLES, "cache": True,
        "cold": False},
    "cold_state": {
        "queries": COLD, "tables": ["customer", "nation", "lineitem", "documents"],
        "cache": False, "cold": True},
}
