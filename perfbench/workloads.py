"""Workload definitions: the registered ops one pass runs, in order."""

from __future__ import annotations

# The seed used while the benchmark was written, and a second seed kept
# aside so a later performance claim can be re-checked on inputs that
# were not used to develop it.
DEV_SEED = 1
HOLDOUT_SEED = 7919

WORKLOADS = {
    # The TPC-DI ETL program: SCD2 windows, fact builds, the FINWIRE
    # fixed-width scan and the multi-table audit. At the benchmark's sf0.01
    # input, per-job fixed cost dominates, not data movement. Calls nothing
    # in `llm`.
    "tpcdi_warehouse": (
        "tpcdi_batch_e2e",
        "tpcdi_dim_security",
        "tpcdi_fact_market_history",
        "tpcdi_fact_holdings",
        "audit_data_quality",
    ),
    # LLM-corpus near-dup clustering: cost sits in op construction (eager
    # connected-components supersteps, LSH banding). Covers the
    # llm.components, llm.minhash and llm.simhash layers. Calls nothing in
    # `tpcdi`.
    "llm_dedup": (
        "dedup_cluster_cc",
        "dedup_semantic_cluster",
        "dedup_simhash",
    ),
}
