"""The session-lifetime memo inventory, turned into a failing test.

The engine deliberately keeps a small set of persisted frames alive for
the session × corpus lifetime — cross-query work-sharing memos whose
cold costs are carried in SCALE.md's spread columns. That design is
only sound while the set stays SMALL and CLOSED: any future
`.persist()` that slips into a query path without joining the
documented inventory would accumulate CacheManager entries per call
(or per corpus) and eventually evict the legitimate memos. This test
pins both properties:

- STEADY STATE: running the representative consumer sweep a second
  time adds ZERO new persisted RDDs — every persist in the swept paths
  is either plan-deduped against a standing entry or explicitly
  unpersisted before the query returns.
- BOUNDED: the first (cold) sweep adds at most the documented number
  of entries for the families it touches.

If this test goes red after adding an operator, either the new persist
belongs in the inventory below (raise the bound AND document the memo
+ its cold cost in SCALE.md) or it is a leak — fix the operator.
"""

from __future__ import annotations

from .conftest import SF_SMOKE

#: family -> (representative consumers, max NEW persisted-RDD entries
#: the family may register for one corpus). One RDD entry per
#: materialized InMemoryRelation.
MEMO_INVENTORY = {
    # decontamination screens: the distinct-shingle sset frame
    # (text_decontaminate / overlap_runs / verdict panel share it via
    # plan-dedup) + the positional variant + the KN bigram LM's
    # broadcast model tables (perplexity_decontaminate)
    "decontaminate": 6,
    # winnowing per-doc fingerprint frame (panel + explode consumer)
    "winnowing": 1,
    # quality classifier: the z-scored feature frame held by the
    # _qc_trained session-memo entry (training passes + scoring +
    # calibration rebuild share it); the logreg train loop's own
    # projection is unpersisted before return
    "quality_classifier": 2,
    # the verified-cluster map (the _verified_components session-memo
    # entry) shared by representatives / impact / datasheet_v3, + the
    # component-edges base it is built from
    "cluster_map": 4,
    # exact-substring family: the shared (doc_id, pos, h) occ frame
    "exact_substring": 1,
    # PMI bigram counts (persist=True leg)
    "pmi": 1,
    # the shared (source, w, c) word-count frame consumed by
    # the tokenizer/sketch family (wordpiece/viterbi/roundtrip, BPE,
    # count-min, HLL)
    "word_counts": 1,
    # the (doc_id, mh0..mh7) MinHash signature frame shared
    # by dedup_minhash_lsh / lsh_verified / estimate-error panel /
    # stream_neardup_ingest batch twin
    "minhash_sig": 1,
    # the per-doc datasheet signal frame shared by
    # corpus_datasheet_v2/v3 (copy counts fold out of its h column)
    "datasheet_per_doc": 1,
    # the HLL union matrix's per-source register-array frame
    # (three references inside the one query; plan-deduped across
    # invocations)
    "hll_register_arrays": 1,
    # the BPE trainer (the _bpe_train session-memo entry) — the words
    # frame is a localCheckpoint chain (initial + one per merge round,
    # bounded by BPE_N_MERGES but ~2 on real data); the memo pins ONE
    # chain per (session, corpus) where the un-memoized loop
    # re-checkpointed per consumer invocation
    "bpe": 4,
    # the (i, j, s, n, si) covariance-moment
    # table — d(d+1)/2 rows — shared by embedding_covariance_panel /
    # embedding_principal_direction / embedding_abtt_residuals
    "cov_stats": 1,
    # the corpus KN model frame (w1, w2, pair_count, p_kn) held by the
    # lm_kn_bigram session-memo entry — bigram-type-bounded — shared
    # with lm_perplexity_bucket (which embeds it as the scoring join's
    # build side)
    "kn_corpus_model": 1,
}

#: consumers, in sweep order (each returns a DataFrame; .count() is
#: enough to materialize every persist on its path)
def _sweep(spark):
    from flink_tornadovm_artifact_spark.queries.llm import (
        bpe_encode_fertility,
        bpe_merge_table,
        dedup_cluster_representatives,
        embedding_abtt_residuals,
        dedup_impact_panel,
        dup_ngram_exposure,
        exact_substring_removal,
        lm_kn_bigram,
        perplexity_decontaminate,
        sketch_hll_union_matrix,
        text_decontaminate,
        text_pmi_bigrams,
        winnowing_fingerprint_panel,
    )
    from flink_tornadovm_artifact_spark.queries.pipeline import (
        quality_calibration_panel,
        quality_classifier_score,
    )

    for q in (
        text_decontaminate,
        perplexity_decontaminate,
        winnowing_fingerprint_panel,
        quality_classifier_score,
        quality_calibration_panel,
        dedup_cluster_representatives,
        dedup_impact_panel,
        exact_substring_removal,
        dup_ngram_exposure,
        text_pmi_bigrams,
        bpe_merge_table,
        bpe_encode_fertility,
        sketch_hll_union_matrix,
        embedding_abtt_residuals,
        lm_kn_bigram,
    ):
        q(spark, SF_SMOKE).count()


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_memo_occupancy_bounded_and_steady(spark):
    before = _n_persisted(spark)
    _sweep(spark)
    after_cold = _n_persisted(spark)
    _sweep(spark)
    after_warm = _n_persisted(spark)
    # CLOSED SET: a repeat sweep registers nothing new — the signature
    # of an undocumented per-call persist is GROWTH here. Shrinkage is
    # fine: unpersist(blocking=False) stragglers from the swept paths
    # are reclaimed asynchronously between the two counts (observed
    # 9 -> 6 on a quiet run).
    assert after_warm <= after_cold, (
        f"persisted-RDD count grew {after_cold} -> {after_warm} on a "
        "repeat sweep: some query path persists a NEW frame per call "
        "instead of plan-deduping against (or unpersisting) it"
    )
    # BOUNDED: the cold sweep stays inside the documented inventory
    # (earlier tests may have pre-populated some families, so the
    # observed delta can only be <= the documented total)
    bound = sum(MEMO_INVENTORY.values())
    assert after_cold - before <= bound, (
        f"cold sweep added {after_cold - before} persisted RDDs, "
        f"documented inventory allows {bound} — a new memo joined "
        "without being documented here and in SCALE.md"
    )
