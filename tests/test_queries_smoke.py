"""Registry contract: the driver entry point, one oracle per query, and the
certification window (the first 50 registry entries)."""

from __future__ import annotations

import os

import pyveb_spark
from pyveb_spark.queries import ORACLE_SQL, QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(pyveb_spark.__file__)))


def test_entry_contract(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod", os.path.join(ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    df = m.entry(spark)
    assert len(df.collect()) > 0
    assert set(m.oracle_sql()) <= set(m.queries())


def test_every_query_has_an_oracle():
    """Round-2 invariant: ZERO rows-only queries — every registered query
    must carry a DuckDB oracle (the portable-hash design exists precisely
    so this holds; see COVERAGE.md status). A new query without an oracle
    is a regression, not a choice."""
    missing = sorted(set(QUERIES) - set(ORACLE_SQL))
    assert missing == [], f"queries without oracles: {missing}"
    dangling = sorted(set(ORACLE_SQL) - set(QUERIES))
    assert dangling == [], f"oracles without queries: {dangling}"
    # The other half of the invariant — every oracled query NON-EMPTY at
    # sf0.01 — is enforced inside test_oracle.py::test_query_matches_oracle
    # (which already collects each result, so the assert is free there).


# The driver's CORRECTNESS gate certifies only the first 50 registry
# entries; this is that window, in registry order.
GATE_WINDOW = [
    "q01_pricing_summary", "q03_revenue_by_nation", "q06_window_topn",
    "q08_rollup", "q10_set_ops", "q12_json_props", "q31_session_windows",
    "q48_last_shipper", "q117_vocab_encode", "q181_dpo_pairs",
    "q182_ul2_denoiser_mix", "q183_mmr_diverse_topk",
    "q184_rag_context_assembly", "q185_quality_survivorship",
    "q187_zorder_pruning_audit", "q190_gdpr_cascade_audit",
    "q193_embedding_ood", "q194_padding_waste_audit",
    "q195_dedup_signal_agreement", "q198_prototype_assignment",
    "q199_prefix_cache_grouping", "q74_market_share",
    "q200_bitext_lsh_mining", "q201_bradley_terry_sources",
    "q202_preference_length_bias", "q203_group_advantage",
    "q204_kmv_quantiles", "q205_threshold_sweep_lsh",
    "q53_idle_rich_customers", "q58_order_count_distribution",
    "q68_promo_revenue_share", "q69_supplier_part_counts",
    "q72_local_supplier_volume", "q73_returned_item_customers",
    "q77_cheapest_supplier", "q79_excess_stock",
    "q206_stream_lsh_admission", "q207_ivf_persisted_search",
    "q208_minhash_persisted_admission", "q209_minhash_index_evolution",
    "q210_ivf_incremental_admission", "q211_ivf_index_health",
    "q212_dataset_datasheet", "q213_pq_persisted_search",
    "q214_sq8_persisted_ann", "q215_ivfpq_persisted_serving",
    "q216_minhash_compacted_evolution", "q217_ivf_compacted_search",
    "q218_stream_ivfpq_admission", "q219_simhash_persisted_admission",
]

# Queries moved out of the window to make room for newer ones; each keeps
# a family sibling inside it and is verified by selfcheck.py instead.
DISPLACED = [
    "q51_part_value_concentration", "q52_top_supplier",
    "q59_disjunctive_revenue", "q60_large_orders", "q70_bilateral_volume",
    "q71_shipmode_priority", "q83_small_qty_revenue",
    "q186_dedup_threshold_sweep", "q188_kmv_set_algebra",
    "q189_bitext_margin_mining", "q191_compaction_plan",
    "q197_batch_knn_join", "q192_embedding_drift",
    "q196_jl_distortion_audit",
]


def test_gate_window_composition():
    """The first 50 registry entries are exactly ``GATE_WINDOW``, in
    order, and every displaced query is still registered outside it."""
    window = list(QUERIES)[:50]
    assert len(window) == 50
    assert len(set(GATE_WINDOW)) == 50
    missing = [q for q in GATE_WINDOW if q not in window]
    assert missing == [], f"expected in the gate window: {missing}"
    assert window == GATE_WINDOW
    for q in DISPLACED:
        assert q in QUERIES and q not in window, q
