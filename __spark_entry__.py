"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: single-pass per-rule quality metrics over the
documents table at sf0.001 (the engine's headline shape: k rules, ONE scan).

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, each with a DuckDB-runnable ANSI-SQL oracle producing identical
column names and values.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from data_quality_spark.queries import q_rule_metrics

    return q_rule_metrics(spark, "/root/testdata/sf0.001")


# The driver's per-round correctness gate verifies the FIRST 50 entries of
# ``queries()`` in dict order.  Round-5 window (the FINAL rotation — after it,
# every registry query has a green driver row from rounds 2-5):
#   - slots 1-8: the only entries without a round-3+ green row (2 never
#     driver-verified round-4 additions + 6 last verified in rounds 1-2),
#   - next: round-5 additions (registered this round — zero rows ever),
#   - rest: canaries for every code path touched this round (graph dangling
#     mass + weight clamp, interval state fingerprint, multimodal real header
#     decode, span-removal machinery, latest-snapshot tie contract, pipeline
#     artifact IO, host-rank broadcast gating) plus the flagship rule_metrics.
DRIVER_PRIORITY = [
    # -- never driver-verified (registered after the round-4 window froze) --
    "graph_host_rank_wt", "graph_trust_rank",
    # -- stale: last green in rounds 1-2 --
    "text_langid_heur", "text_token_counts", "text_top_tokens",
    "text_group_stats", "text_normalize", "host_quota",
    # -- round-5 additions (never driver-verified — zero rows ever) --
    "graph_personal_rank", "graph_conn_comp", "graph_harmonic",
    "graph_harmonic_hll", "graph_anchor_stats", "sketch_distinct_hll",
    "sketch_token_cms", "sketch_cms_heavy", "text_len_quantiles",
    "text_reg_domain",
    "dedup_span_removal_para", "text_crawl_latest_tied", "multimodal_real_meta",
    "graph_hits", "graph_degree_stats", "text_readability",
    "text_weighted_sample", "sim_decontaminate", "text_ngram_novelty",
    "text_vocab_growth", "qf_host_keep_rates",
    # -- round-5 change canaries: graph tier (dangling mass, weight clamp) --
    "graph_host_rank",
    # -- intervals (state fingerprint) --
    "period_overlap_global", "period_intersection",
    # -- multimodal (real PNG/JPEG header decode) --
    "multimodal_meta", "multimodal_frames",
    # -- span-removal machinery (shared window-hash + keeper) --
    "dedup_span_removal", "dedup_span_removal_tok", "dedup_dup_spans",
    # -- latest-snapshot tie contract --
    "text_crawl_latest",
    # -- pipeline artifact IO (Hadoop-FS metadata route) + host-rank join --
    "qf_pipeline_annotate", "qf_scrub", "qf_heuristic_keep",
    "qf_rule_ablation", "dedup_bloom", "dedup_para_bloom",
    # -- flagship + recent-round canaries (backfill to 50) --
    "rule_metrics", "dedup_minhash_lsh", "dedup_minhash_drop",
    "dedup_minhash_incr", "dedup_cluster_drop", "dedup_para_minhash",
    "dedup_simhash", "dedup_semantic", "sim_pq_topk", "sim_ivfpq_rerank",
    "text_url_spam", "text_fertility", "text_clf_score", "text_clf_inrow",
    "text_decontaminate", "text_dsir_weights", "text_pr_curve",
    "text_pii_counts", "text_badwords", "text_mix_balance",
    "doc_fingerprint", "text_datasheet", "duplicate_count",
    "match_dimension", "dates_order_dim",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from data_quality_spark import queries as Q
    from data_quality_spark import queries_ops as QO

    merged = {**Q.CHECK_QUERIES, **QO.OPS_QUERIES}
    out = {name: merged[name] for name in DRIVER_PRIORITY if name in merged}
    out.update(merged)  # remaining entries keep their registry order
    return out


def oracle_sql() -> dict[str, str]:
    from data_quality_spark import queries as Q
    from data_quality_spark import queries_ops as QO

    out = dict(Q.CHECK_ORACLES)
    out.update(QO.OPS_ORACLES)
    return out
