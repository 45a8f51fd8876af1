"""Plan hygiene sweep: no accidental nested-loop or cartesian joins in
any gate query. Queries that intentionally cross a broadcast-small side
against the corpus (ANN scoring, geo range demo) are whitelisted."""

from __future__ import annotations

import pytest

from moloch_spark.plans import formatted_plan
from moloch_spark.registry import ORACLE_WAIVERS, all_oracles, all_queries

SF = "/root/testdata/sf0.001"

# intentional broadcast cross products: a bounded query set (≤5 vectors)
# against the corpus — the broadcast side is tiny by construction
# (ann_lsh_bucketed_topk left this list when it became a (table, code)
# equi-join — keep it out)
INTENTIONAL_NESTED_LOOP = {
    "ann_brute_force_topk",
    "embedding_near_dups",
    # kNN label vote's neighbor source IS brute_force_topk (bounded
    # query set broadcast, one corpus scan); the vote tail adds only a
    # broadcast of the |q| x k candidate rows
    "knn_label_vote",
    # semantic decontamination: the model-sized EVAL embedding set
    # broadcast against one train scan (per-row max, no train shuffle)
    "decontaminate_semantic",
    # hybrid fusion's dense leg IS brute_force_topk (bounded query set);
    # the indexed variant only swaps the lexical leg's physical source
    "hybrid_rrf_search",
    "hybrid_rrf_indexed",
    # scalar-avg subquery: a 1-row aggregate broadcast against customer
    "tpch_q22_global_sales_opportunity",
    # fraction-of-total: the 1-row global total broadcast against vals
    "tpch_q11_important_stock",
    # DSIR smoothing: the 1-row (t_total, r_total) aggregate broadcast
    # against the ≤4096-row bucket-weight dimension — both sides bounded
    "dsir_importance_select",
    # Stupid-Backoff floor: the 1-row total-token-count aggregate
    # broadcast against the scored bigram stream
    "ppl_filter_stupid_backoff",
    "ppl_lang_buckets",
    "ccnet_pipeline_e2e",
    # BM25: the 1-row (n_docs, avgdl) aggregate broadcast against the
    # query-matched postings
    "bm25_topk_search",
    # PQ ADC: codes.crossJoin(broadcast(qdf)) where qdf is the bounded
    # (≤5-row, query_max_id) LUT side — same class as ann_brute_force_topk
    "ann_pq_adc_topk",
    # int8 scan: broadcast of the bounded query-code set (≤5 rows)
    # against the corpus codes — same class as ann_brute_force_topk
    "ann_int8_topk",
}

# windows allowed to run unpartitioned: they operate on a frame that is
# BOUNDED BY CONSTRUCTION (the 256-row bucket-offset summaries of the
# two-phase curation rank), not on a fact table
INTENTIONAL_GLOBAL_WINDOW = {
    "curate_global_shuffle",
    "curate_pack_sequences",
    "curate_weighted_sample",
}

SKIP = {
    "streaming_sessionize_closed",    # starts a streaming job
    "streaming_state_cap",            # starts a streaming job
    "streaming_dedup_incremental",    # starts a streaming job
}


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an empty partition spec in the optimized
    logical plan — each one is a move-everything-to-one-partition stage
    at execution time (the WindowExec warning)."""
    hits = []

    def walk(node):
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                hits.append(node)
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().optimizedPlan())
    return len(hits)


@pytest.mark.parametrize("name", sorted(set(all_queries()) - SKIP))
def test_no_accidental_nested_loops(spark, name):
    df = all_queries()[name](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in INTENTIONAL_NESTED_LOOP:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join"
        )
    # row-at-a-time Python UDFs never belong in a gate plan; every Python
    # touchpoint must be Arrow-batched (ArrowEvalPython / mapInPandas)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in INTENTIONAL_GLOBAL_WINDOW:
        n = _unpartitioned_windows(df)
        assert n == 0, (
            f"{name}: {n} unpartitioned Window node(s) — single-partition "
            "sort of the whole frame at scale"
        )


def test_every_query_has_oracle_or_reason():
    qs, os_ = all_queries(), all_oracles()
    missing = set(qs) - set(os_)
    # rows-only queries are exactly the registry's written waivers
    # (bpe_train_and_apply and quality_classifier_filter gained full
    # DuckDB oracles in r11; streaming_sessionize_closed regained its
    # oracle in r4)
    assert missing == set(ORACLE_WAIVERS), missing
    assert all(ORACLE_WAIVERS.values())


def test_bench_subset_rejects_unknown_names():
    import bench

    registry = all_queries()
    name = sorted(registry)[0]
    assert list(bench.select_queries(registry, f" {name} ,")) == [name]
    assert bench.select_queries(registry, None) is registry
    with pytest.raises(ValueError, match="no_such_gate"):
        bench.select_queries(registry, f"{name},no_such_gate")
