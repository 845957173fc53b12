"""Driver-facing query registry: Spark implementations + DuckDB oracles.

Each entry exercises one operator family from SURVEY.md §2 over the
driver-provided tables at ``sf_dir``. The ER-stage queries run over a
DERIVED ADDRESS column built with identical deterministic arithmetic in
both engines (documents.doc_id → address string), so DuckDB can
oracle-check normalization, extraction regexes, blocking, candidate
pairs, similarity scoring and transitive clustering end-to-end.

Column names are aliased identically on both sides (driver hash-compares
by sorted column name).

One module per family, each holding its queries and their oracle SQL:
``er``, ``dedup``, ``sim``, ``text``, ``train`` (``train_``, ``split_``
and ``corpus_`` keys) and ``relational`` (``agg_``, ``join_``,
``window_``, ``events_`` and ``set_ops_`` keys); ``_common`` holds what
more than one family reads. Import a query from its family module; this
package exports only ``SPARK_QUERIES`` and ``oracle_sqls``.
"""

from indian_address_parser_spark.queries import dedup, er, relational, sim, text, train


def oracle_sqls(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """DuckDB oracle per query. ``sf_dir`` matters only for oracles that
    embed data-trained literals (the learned-IVF centroids): it must point
    at the SAME tables the Spark side will read — the default is the sf
    the driver gate runs at. Oracles exist only for keys registered in
    ``SPARK_QUERIES`` (the driver's 50-entry gate — see the note above
    ``SPARK_QUERIES``)."""
    return {
        **er.oracles(),
        **dedup.oracles(),
        **sim.oracles(sf_dir),
        **text.oracles(),
        **train.oracles(),
        **relational.oracles(),
    }


# The driver's correctness gate records at most 50 ``queries()`` entries
# (r4 lesson: entries past the cap silently get NO evidence row). The
# registry therefore carries exactly the non-subsumed set. The ``q_*``
# functions left out of it, each with its caller (a tripwire in
# tests/test_entry_contract.py keeps this list exact):
#   q_er_synth_addr         -> __spark_entry__.entry (fixture echo)
#   q_dedup_ngram_jaccard   -> tests/test_dedup_sim.py (no DF cap; _dfcap is
#                              the production shape)
#   q_dedup_simhash64       -> tests/test_dedup_sim.py (signature projection
#                              of dedup_simhash_pairs)
#   q_train_sample_weights  -> q_train_weighted_sample (its intermediate)
SPARK_QUERIES = {
    "er_normalize": er.q_er_normalize,
    "er_extract_fields": er.q_er_extract_fields,
    "er_block_key": er.q_er_block_key,
    "er_candidate_pairs": er.q_er_candidate_pairs,
    "er_pair_scores": er.q_er_pair_scores,
    "er_edges": er.q_er_edges,
    "er_clusters": er.q_er_clusters,
    "er_cluster_sizes": er.q_er_cluster_sizes,
    "er_pipeline_cluster_sizes": er.q_er_pipeline_cluster_sizes,
    "er_incremental_cluster_sizes": er.q_er_incremental_cluster_sizes,
    "er_reconciled_cluster_sizes": er.q_er_reconciled_cluster_sizes,
    "er_extract_mention_counts": er.q_er_extract_mention_counts,
    "dedup_exact": dedup.q_dedup_exact,
    "dedup_minhash128_band_pairs": dedup.q_dedup_minhash128_band_pairs,
    "dedup_minhash128_xxhash_band_pairs": dedup.q_dedup_minhash128_xxhash_band_pairs,
    "dedup_ngram_jaccard_dfcap": dedup.q_dedup_ngram_jaccard_dfcap,
    "dedup_simhash_pairs": dedup.q_dedup_simhash_pairs,
    "sim_lsh_topk": sim.q_sim_lsh_topk,
    "dedup_embedding_cosine": dedup.q_dedup_embedding_cosine,
    "train_entity_weights": train.q_train_entity_weights,
    "train_weighted_sample": train.q_train_weighted_sample,
    "text_token_stats": text.q_text_token_stats,
    "text_quality": text.q_text_quality,
    "text_fingerprint": text.q_text_fingerprint,
    "text_lang_distribution": text.q_text_lang_distribution,
    "text_token_freq": text.q_text_token_freq,
    "split_train_val_test": train.q_split_train_val_test,
    "sim_cosine_topk": sim.q_sim_cosine_topk,
    "sim_topk_ivf_label": sim.q_sim_topk_ivf_label,
    "sim_topk_ivf_kmeans": sim.q_sim_topk_ivf_kmeans,
    "agg_pricing_summary": relational.q_agg_pricing_summary,
    "join_mktsegment_orders": relational.q_join_mktsegment_orders,
    "window_top_order_per_cust": relational.q_window_top_order_per_cust,
    "join_regional_revenue": relational.q_join_regional_revenue,
    "agg_pricing_rollup": relational.q_agg_pricing_rollup,
    "agg_events_windowed": relational.q_agg_events_windowed,
    "dedup_canonical_keep": dedup.q_dedup_canonical_keep,
    "train_stratified_sample": train.q_train_stratified_sample,
    "corpus_select": train.q_corpus_select,
    "join_asof_events": relational.q_join_asof_events,
    "events_sessionize": relational.q_events_sessionize,
    "corpus_decontaminate": train.q_corpus_decontaminate,
    "agg_quantiles": relational.q_agg_quantiles,
    "set_ops_custkeys": relational.q_set_ops_custkeys,
    "text_tfidf_top_terms": text.q_text_tfidf_top_terms,
    "agg_distinct_users": relational.q_agg_distinct_users,
    "agg_events_sliding": relational.q_agg_events_sliding,
}
