"""Query/oracle registry shared by all query modules.

Every operator exposed to the driver registers here: a (spark, sf_dir)
-> DataFrame callable plus (when SQL-expressible) a DuckDB oracle SQL
string with IDENTICAL column names/types.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Gates registered without an oracle, each with the reason; every other
# gate must carry one (tests/test_plan_hygiene.py).
ORACLE_WAIVERS = {
    "embedding_pca_whiten": (
        "every output column is a projection onto eigenvectors of the "
        "embedding covariance, and DuckDB has no eigendecomposition; "
        "loadings, eigenvalues, projections and unit whitened variance "
        "are pinned against numpy in tests/test_similarity.py"
    ),
}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _load_registrants() -> None:
    # import registrants lazily to avoid import cycles
    import moloch_spark.queries  # noqa: F401
    import moloch_spark.queries_api  # noqa: F401
    import moloch_spark.queries_curate  # noqa: F401
    import moloch_spark.queries_enrich  # noqa: F401
    import moloch_spark.queries_llm  # noqa: F401
    import moloch_spark.queries_pcap  # noqa: F401
    import moloch_spark.queries_stream  # noqa: F401
    import moloch_spark.queries_tpch  # noqa: F401


# The driver's correctness harness checks only the FIRST ~50 declared
# queries per round, so ordering decides what gets a CORRECTNESS row.
# ROUND-12 rotation (the r11 ROUND-12 NOTE, executed as written —
# there were no r11 reds and no new r12 gates):
#   (a) gates whose SEMANTICS were refreshed in r12:
#       dsir_importance_select (per-doc weight sum moved to exact
#       integer micros + the oracle's ROUND normalized for IEEE -0.0,
#       closing the sf0.1-only FP-tie divergence — VERDICT r11 item 9;
#       its r11 row predates the change),
#   (b) the full 43-gate r8-rowed block, in r8 check order (the r11
#       registry's section (d), pre-declared as the r12 head),
#   (c) the 6 oldest r9-rowed gates, in their r9 check order — with
#       (a)+(b) the ~50 cap lands exactly after them.
#   (d) past the cap: the 44 remaining r9-rowed gates (the r13 head),
#       then the r10/r11-rowed gates in registration order — all
#       hash-green at their latest driver row and pytest-oracle-green
#       locally this round.
# After r12 no gate's latest row is older than r9.
# ROUND-13 NOTE: next head = any r12 reds, any new r13 gates, then the
# 44 remaining r9-rowed gates in r9 check order (CORRECTNESS_r09.json
# order, minus the 6 rotated here); the cap lands inside it — continue
# the remainder in r14, then the oldest r10-rowed gates.
_CHECK_PRIORITY = (
    # --- (a) semantics refreshed in r12 ---
    "dsir_importance_select",       # integer-micros sum + -0.0 fix
    # --- (b) the 43-gate r8-rowed block (pre-declared r12 head) ---
    "ppl_lang_buckets", "embedding_pca_whiten", "pq_encode_codes",
    "ccnet_pipeline_e2e", "warc_ingest_roundtrip", "hybrid_rrf_search",
    "hunt_job_control", "streaming_state_cap", "tpch_q1_pricing_summary",
    "sessions_search_events", "timeline_events_hourly",
    "timeline_events_dense", "cardinality_fields", "multiunique_user_event",
    "spiview_events", "spigraph_sum_metric_rank", "spigraph_event_type_daily",
    "spigraph_hierarchy_orders", "connections_nation_graph",
    "connections_baseline_events", "expr_bool_and_list",
    "expr_ne_null_semantics", "expr_wildcard_date_range",
    "expr_textfield_phrase", "expr_shortcut_semijoin",
    "connections_components", "session_tag_update", "multies_scatter_gather",
    "dstats_derived_rates", "sessions_page_offset", "curate_split_assign",
    "curate_global_shuffle", "curate_pack_sequences",
    "curate_weighted_sample", "enrich_region_rollup", "drophash_filter",
    "asof_feed_enrich", "text_stats", "lang_id", "token_counts",
    "doc_fingerprint", "dedup_exact", "dedup_minhash_signatures",
    # --- (c) the 6 oldest r9-rowed gates; the ~50 cap lands after ---
    "multimodal_near_dup", "ann_alias_rebuild_serve",
    "decontaminate_semantic_lsh", "geo_enrich_range_join",
    "oui_enrich_mac_prefix", "decode_pipeline_http_b64",
)


def _prioritized(d: dict) -> dict:
    head = {n: d[n] for n in _CHECK_PRIORITY if n in d}
    return head | {n: v for n, v in d.items() if n not in head}


def all_queries() -> dict[str, QueryFn]:
    _load_registrants()
    return _prioritized(dict(_QUERIES))


def all_oracles() -> dict[str, str]:
    _load_registrants()
    return _prioritized(dict(_ORACLES))
