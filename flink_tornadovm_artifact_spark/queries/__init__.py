"""Declared query registry.

Aggregates every query module's ``QUERIES`` (name → callable(spark, sf_dir)
→ DataFrame) and ``ORACLE`` (name → DuckDB SQL) into flat dicts consumed by
``__spark_entry__.py``. Queries without an oracle entry get the driver's
weaker rows-only check (non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import behavior, cep, gelly, iot, llm, ml, pipeline, procedural, relational, temporal_q, tpch, utils_q, windows

_MODULES = (relational, tpch, iot, ml, windows, llm, pipeline, procedural, cep, gelly, utils_q, temporal_q, behavior)

#: The verification driver oracle-checks only the FIRST 50 registry
#: entries, so registration order is itself a correctness-coverage
#: decision (round-1 lesson: module order left q20-q22 and the whole LLM
#: suite unchecked). The window below holds exactly 50 names.
#:
#: ROTATION POLICY (applied each round):
#: 1. Anything that CHANGED this round — new queries, queries whose plan
#:    or predicate was edited, queries fixed after a red/weak verdict —
#:    goes INTO the window.
#: 2. Never-driver-checked queries rotate in ahead of long-green ones.
#: 3. Rotated OUT: entries driver-green in ≥2 consecutive rounds whose
#:    operator surface stays covered by other window entries and by the
#:    full 80-oracle pytest sweep at sf0.01 (test_queries_oracle.py runs
#:    every oracle regardless of the window).
#:
#: Round-4 rotation: IN — the 5 de-vacuized queries (q51's LIKE, q44's
#: anti-join cutoff, q48's revenue threshold, ngram-jaccard and
#: embedding-cosine thresholds: predicates changed, so their topologies
#: are exercised with data for the first time), the 4 new directed
#: Gelly analytics (global/average CC, 16-class triadic census, edge
#: metrics), the 3 new CEP quantifiers (oneOrMore / optional /
#: times(from,to)), adamic_adar_similarity (weight projection moved to
#: try_divide — plan changed), the full round-3 overflow backlog of 16
#: never-driver-checked queries (community detection, the undirected
#: clustering/census/metrics family, the round-3 directed trio,
#: summarization, zip/sample contracts, temporal as-of join,
#: decontamination), and 5 more never-driver-checked entries
#: (similarity_ivf, multimodal_feature_extract, q53/q55 TPC-H shapes,
#: q32 correlated subquery). OUT — everything driver-green in BOTH
#: rounds 2 and 3: q03, q19-q22 window family, the 13 LLM-suite
#: entries, the 4 kernels, CC/PageRank/logreg pipelines, and the
#: held-over q36/q29/q23/q30 (all remain under the identical DuckDB
#: differential at sf0.01 in pytest, which runs every oracle regardless
#: of the window).
#:
#: KEPT (single-round-green, per policy rule 3): kmeans/sssp, the 6
#: round-3 TPC-H extras, the 4 round-3 CEP patterns, and the 5 round-3
#: Gelly queries.
#:
#: Round-6 rotation (executes the two-rounds-overdue policy — the r5
#: window was byte-identical to r4's, so CORRECTNESS_r05 re-checked the
#: same 50 names):
#: IN — every never-driver-checked query (21: the AfterMatchSkip /
#: followedByAny / groupPattern / notNext / oneOrMore-until /
#: allowCombinations CEP family, the five round-4 text operators,
#: embedding_outlier_score, dedup_cluster_representatives, both corpus
#: datasheets, bipartite_projection_suppliers, asm_vertex_degrees,
#: generator_hypercube_degrees, q54_tpch_q20 — q49_approx_aggregates is
#: the deliberate exception, see below), plus everything CHANGED per
#: rule 1: text_quality_score + corpus_datasheet_v2 (alpha_ratio moved
#: to ANSI-safe try_divide), corpus_datasheet_v3 (new), and the whole
#: undirected Gelly clustering family re-routed through the shared
#: persisted UndirectedGraphBase (triangle_enum, local/global/average
#: CC, triadic_census_q, vertex/edge metrics — plans changed, answers
#: must be re-verified by the driver exactly as the directed family was
#: in round 5).
#: OUT — entries driver-green in BOTH rounds 4 and 5 whose surface
#: stays covered by the full-oracle pytest sweep: most of the r3 CEP
#: set, the directed Gelly family (8), community_detection/
#: summarization, zip/sample contracts, temporal_join_events,
#: text_decontaminate, similarity_ivf, multimodal_feature_extract, and
#: the 2×-green TPC-H extras beyond the kept core. jaccard/adamic stay
#: IN: their plans changed with the UndirectedGraphBase re-route.
#: Round-7 rotation (STALENESS-DRIVEN — the round-6 ledger guard in
#: tests/test_driver_ledger.py makes this mandatory: a window slot held
#: by a ≤2-round-old green entry while a ≥4-round-stale query waits is
#: now a red test). Every never-checked query got its row in round 6,
#: so the debt is now AGE: 64 queries' last driver row is from rounds
#: 1-3. IN — 16 new operators (release mechanics, passage dedup,
#: overlap matrix, quantization, BPE pair, mixture/shards, covariance)
#: and the 4 whose plans changed (the three global-window restructures
#: + the k_core cache-leak fix), then the 30 stalest by last-green
#: round: the 10 remaining r1-cohort, the 13 r2-cohort picks, and 8 of
#: the r3-cohort chosen for operator diversity (iteration pipelines,
#: dedup family, windows, interval join). OUT — the round-6 window's
#: 2×-green incumbents (CEP completion family, datasheets, undirected
#: Gelly family, TPC-H heavies) — every one stays under the
#: full-oracle pytest sweep at both SFs.
#:
#: Round-8 rotation. IN — quality_retention_curve FIRST (the one
#: registered query with zero driver rows — VERDICT r7 Next 1; its
#: threshold domain also changed to the full 0..20 grid), the 3 whose
#: plans changed this round (bpe_merge_table + bpe_encode_fertility:
#: the merge loop now batches top-M non-conflicting merges per round;
#: dedup_incremental: intra-batch min-doc_id representative), the 14
#: new round-8 operators (batch 1: sequence packing, SemDeDup, KN
#: bigram LM, char entropy, snapshot delta, hard negatives; batch 2,
#: queries/pipeline.py: PII pattern audit, CCNet perplexity buckets,
#: Zipf panel, column profile, DQ constraint suite, length buckets;
#: batch 3: containment dedup, JS token drift, principal direction;
#: batch 4: Gopher rule panel, n-gram novelty, Bradley-Terry, ABTT
#: residuals, dedup recall panel; batch 5: BM25 retrieval top-k,
#: curriculum length phases, HLL union matrix; batch 6: lang-ID
#: confusion matrix; batch 7: hypertable gapfill+LOCF, funnel
#: conversion; batch 8: WordPiece greedy fertility, unigram-LM
#: Viterbi fertility; batch 9: k-anonymity audit, retrieval eval
#: panel; batch 10, queries/behavior.py: cohort retention, Markov
#: transitions, Kaplan-Meier survival, A/B z-test, session paths,
#: RFM segments), then the remaining stale backlog: all 4 r1-cohort,
#: all 5 r2-cohort, 1 of 23 r3-cohort (batch 10's six displaced six
#: more r3 slots under rule 1 — dedup_lsh_verified [recall panel
#: cross-checks its row count and containment/incremental hold the
#: dedup slots], matmul_rows_kernel [dft_events keeps kernels],
#: q21_sliding_window [q18/q21-session green r7 keep windows],
#: similarity_lsh_bucketed [hard_negatives holds ANN],
#: text_rolling_hash + text_udtf_ngrams [the confusion-matrix and
#: novelty entries keep the text-expression surface; udtf stays
#: pinned in pytest] — all six head the r9 staleness queue).
#: OUT — the entire r7 window's 50 green entries except
#: the keep-fresh trio, all eight r5-cohort diversity picks, and
#: SIXTEEN r3 entries displaced by rule 1 with their family still
#: holding a slot (pi_estimation_weyl + vector_add_kernel — dft/matmul keep the
#: kernels family; q21_tumbling_window + q21_session_window_dynamic —
#: q21_sliding_window keeps the window family; text_fingerprint +
#: text_token_count + text_lang_id — rolling_hash/udtf_ngrams keep
#: the text r2 family; similarity_topk — similarity_lsh_bucketed
#: keeps the ANN family and is the scale path; dedup_simhash —
#: lsh_verified + the new containment/recall entries keep dedup;
#: q29_reduce_group — the grouped-reduce surface stays under
#: q02/q26/q38 and the confusion matrix re-exercises the displaced
#: text_lang_id's prediction expression verbatim; q19_iot_outliers +
#: q23_tpch_q10 — q20 keeps the iot family, q30/q36 + the r1 quartet
#: keep TPC-H, and the new events ops add fresh events-table
#: coverage; multimodal_binary_meta — its magic-byte surface is
#: re-swept by the full pytest run and multimodal_feature_extract's
#: kernels stay pinned in tests/test_multimodal.py; q36_json_extract —
#: q52's from_json struct keeps the JSON surface; q20_kmeans_assign +
#: q30_tpch_q5 — kmeans_pipeline's assignment step and the q23/q45
#: join shapes in the bench set, plus the r1 TPC-H quartet, keep both
#: families swept).
#: Rule 1's "new queries must be driver-verified" outranks both
#: diversity and the oldest tail; the displaced entries head the r9
#: staleness queue; the ≥4-round guard holds because no
#: ≤2-round-green incumbent outside WINDOW_KEEP_FRESH holds a slot —
#: all stay under the full-oracle pytest sweep at both SFs every run.
#: Round-9 rotation (VERDICT r8 Next 1 + Next 5 — verification-debt
#: round, registry growth FROZEN at 220):
#: IN — FIRST the 16 batch-13-to-18 queries registered after the r8
#: window froze (the never-driver-checked set; the ledger guard makes
#: scheduling them mandatory), then dedup_semantic under rule 1 (its
#: plan changed this round: the SemDeDup hyperplane-signature width is
#: now derived from the corpus size instead of the fixed 8 planes —
#: VERDICT r8 What's-wrong 4), then the full 29-query staleness queue
#: whose last green row is r≤3 (the r1 pair q01/q02 displaced in r8,
#: the r2 cohort q10/q12/q16 + q26/q33, and the 22-strong r3 cohort:
#: the q21 window trio, q19/q20/q23/q29/q30/q36, the kernels trio
#: vadd/matmul/pi, the r2-era text family fingerprint/token_count/
#: lang_id/rolling_hash/udtf_ngrams, dedup_simhash/lsh_verified,
#: similarity_topk/lsh_bucketed, multimodal_binary_meta), then 4
#: diversity picks from the 30-strong r5 cohort — cep_followed_by
#: (CEP NFA), similarity_ivf (the ANN scale path), temporal_join_events
#: (as-of join), community_detection_labels (delta-iteration) — so the
#: window still spans every §2 family.
#: OUT — the entire r8 window's 50 green rows (all 1-round-fresh;
#: rule 3 keeps them under the full-oracle pytest sweep at both SFs
#: every run). No new queries were registered this round, so rule 1
#: claims exactly one slot (dedup_semantic) and the never-checked set
#: claims 16; the remaining 33 go to age.
#: Round-10 rotation (VERDICT r9 Next 1 + Next 5 — registry UNFROZEN
#: with the per-round cap: 11 new operators, inside the 10-12
#: ceiling):
#: IN — FIRST the rule-1 set: the 11 round-10 debuts
#: (multimodal_phash_neardup: banded dHash near-dup, the image analog
#: of SimHash; tokenizer_roundtrip_qa: encode→decode fidelity + OOV
#: panel over the WordPiece vocab; url_canonicalize_hostdedup: URL
#: canonicalization + host-level dedup keys; bloom_decontaminate_screen;
#: then the second batch: text_normalize_panel, ann_recall_panel,
#: epoch_shuffle_contract, multimodal_frame_sample, phrase_search_topk,
#: entity_resolution_blocking, minhash_estimate_error_panel — the
#: sketch-QA companion for the MinHash family) and q49_approx_aggregates,
#: whose OUTPUT changed to the tolerance-banded boolean panel and which
#: is now oracle-backed — the ledger's last never-green query (VERDICT
#: r9 What's-wrong 1). THEN the full 26-query r5-stale cohort (the
#: r9-designated staleness queue), then 12 of the 47-query r6 cohort
#: picked for family diversity: the 7-strong CEP completion family,
#: both iteration pipelines (kmeans bulk, sssp delta), one TPC-H heavy
#: (q53), one temporal-table op (hypertable rollup), and the
#: dedup-representatives op (corpus_datasheet ceded its slot to the
#: fourth debut; the second-batch debuts displaced adamic_adar /
#: asm_vertex_degrees / average_clustering_coefficient_q /
#: bipartite_projection / generator_hypercube / q51 /
#: range_join_events — all expressions stay swept by the
#: full-oracle pytest run). The remaining 35 r6-cohort queries
#: head the r11 staleness queue.
#: OUT — the entire r9 window's 50 green rows (all 1-round-fresh; rule
#: 3 keeps them under the full-oracle pytest sweep at both SFs every
#: run). WINDOW_KEEP_FRESH is EMPTY this round: dedup_semantic's r10
#: change moved only the plane-sizing count job (memoized metadata-only
#: count on the raw parquet); the derived width and the query plan are
#: byte-identical at every SF, so no recently-green entry needs a
#: rule-1 re-verify slot.
#: Round-11 rotation (VERDICT r10 Next 2 + Next 6):
#: IN — FIRST the rule-1 set: the 3 round-11 debuts
#: (quality_classifier_score: logreg trained on the Gopher gates as
#: weak labels, the fastText-quality-filter analog, with an
#: unrolled-GD DuckDB twin; perplexity_decontaminate: KN bigram LM
#: trained on the benchmark split scoring the exact screen's overlap
#: candidates — the soft companion to text_decontaminate/Bloom;
#: multimodal_audio_window_panel: the audio leg — windowed amplitude/
#: checksum panel under the standing stubbed-codec policy) and
#: ann_recall_panel (its ORACLE changed: n_hit is now COUNT(DISTINCT),
#: ADVICE r10 — in WINDOW_KEEP_FRESH since it is 1-round green).
#: THEN the FULL 35-query r6-stale cohort (the r10-designated
#: staleness queue; jaccard_similarity and adamic_adar_similarity are
#: in it AND plan-changed this round — the hub-skew salted wedge
#: join, functions/graph.py:_wedge_pairs). THEN 11 of the 47-query r7
#: cohort picked for family diversity: the three iteration pipelines
#: (CC, PageRank, logreg — logreg doubly apt: the new classifier
#: shares its kernel), dedup_minhash_lsh (dedup family), kcore
#: (peel loop), q03/q56 (the two TPC-H bench outliers cleared as box
#: noise this round — a fresh driver row re-pins their answers),
#: q18 (IoT windows), q22 (interval join), sketch_hyperloglog_tokens
#: (sketch family).
#: OUT — the entire r10 window's 50 green rows (all 1-round-fresh;
#: rule 3 keeps them under the full-oracle pytest sweep at both SFs
#: every run). The remaining 39 r7-cohort queries head the r12
#: staleness queue.
#: Round-12 rotation (VERDICT r11 Next 1 + Next 2):
#: IN — FIRST the rule-1 set: the 6 round-12 debuts
#: (stream_neardup_ingest: the incremental MinHash-LSH admission gate
#: a crawl ingest runs — first-writer-wins on band buckets, with the
#: streaming leg in streaming/neardup.py pinned by replay/restart
#: tests; exact_substring_spans / exact_substring_removal /
#: dup_ngram_exposure: the Lee-et-al-2022 token-granular ExactSubstr
#: family composed from k-gram fingerprints + islands run extension,
#: never a corpus suffix array; epoch_repetition_budget /
#: mixture_epoch_schedule: the data-constrained-scaling release
#: planners off the dedup keep-set mass). THEN the FULL 44-query
#: r7-stale cohort — the r11-designated staleness queue (the 47-query
#: r7 slice minus logreg/q03/q56, re-greened r11), including the four
#: displaced diversity picks (CC/PageRank/kcore/minhash-lsh), the
#: relational q04-q52 core slice, and the release-mechanics set.
#: 6 + 44 = 50 exactly: VERDICT r11 Next 1's "fill the remaining 6
#: slots from the r8 cohort" is realized as the 6 debut slots rule 1
#: mandates (the r11 precedent — debuts displace fill picks; the r8
#: cohort heads the r13 staleness queue untouched).
#: dedup_minhash_lsh is in the cohort AND rule-1 apt: its oracle was
#: refactored onto the shared _LSH_BANDS_CTE this round (semantically
#: identical, but the text changed — a fresh driver row re-pins it).
#: OUT — the entire r11 window's 50 green rows (all 1-round-fresh;
#: rule 3 keeps them under the full-oracle pytest sweep at both SFs
#: every run). WINDOW_KEEP_FRESH is EMPTY this round: no
#: recently-green entry has an oracle or plan change pending
#: re-verify (the memo-eviction rework in _util.py touches lookup
#: hygiene only — same keys, same frames, byte-identical plans).
#: Round-13 rotation (optimization round — no debuts; the r12 ledger
#: fold left the 49-query r8 cohort as the oldest green rows, so it IS
#: the window, per the staleness guard):
#: IN — FIRST the rule-1 set: the 3 queries whose PLANS changed with
#: the round-13 ADVICE fix to `_plane_sign` (the literal hyperplane
#: fold is now width-guarded — dedup_semantic, similarity_lsh_bucketed,
#: and ann_recall_panel, which embeds the LSH leg; the first two are
#: r9-stale anyway, ann_recall_panel is 3 rounds old). THEN 47 of the
#: 49-query r8-stale cohort — including embedding_principal_direction
#: and embedding_abtt_residuals, whose ORACLE text changed this round
#: (CTEs materialized — semantically identical, but the r12
#: dedup_minhash_lsh precedent says a fresh driver row re-pins them),
#: and hypertable_gapfill_locf, whose plan gained the ADVICE r12
#: not-null guard. Queries optimized later this round join rule 1 as
#: their plans change (see WINDOW_KEEP_FRESH below for any that are
#: ≤2-round green).
#: DEFERRED to the r14 queue (the cohort is 49 and rule 1 claims 5:
#: the three _plane_sign consumers plus sssp_pipeline and
#: connected_components_pipeline, whose delta iterations now batch two
#: relaxations per checkpoint): bpe_encode_fertility (bpe_merge_table
#: keeps the BPE family's slot — both run the same memoized trainer),
#: markov_stationary_panel (markov_event_transitions keeps the Markov
#: family; the stationary panel composes its transition table
#: verbatim), experiment_cuped_panel (experiment_ab_ztest keeps the
#: experiment family), dq_k_anonymity (dq_referential_checks +
#: dq_table_profile keep the DQ family), and — displaced by the
#: batched-checkpoint rule-1 pair pagerank_pipeline +
#: label_propagation_communities — cohort_retention_weekly and
#: scd2_dimension_build (the behavior family still holds five slots:
#: survival_km, rfm, session_path, ab_ztest, markov_transitions), and
#: — displaced by the kcore_social degree-decrement rewrite (rule 1)
#: — langid_confusion_matrix (the text-expression family holds
#: char_entropy, ngram_novelty, zipf, burstiness-adjacent slots). All
#: seven stay under the full-oracle pytest sweep at both SFs every
#: run.
#: OUT — the entire r12 window's 50 green rows (all 1-round-fresh;
#: rule 3 keeps them under the full-oracle pytest sweep at both SFs
#: every run).
WINDOW_KEEP_FRESH: dict[str, str] = {
    # round-13 plan changes on recently-green entries (rule 1); grows
    # as the round's work log lands.
    "ann_recall_panel": (
        "plan changed round 13: its LSH leg embeds _plane_sign, whose "
        "literal hyperplane fold gained the ADVICE r12 width guard"
    ),
    "connected_components_pipeline": (
        "plan changed round 13: the delta iteration batches TWO label "
        "propagations per localCheckpoint (functions/graph.py) — "
        "identical fixpoint, re-pinned by a fresh driver row"
    ),
    "pagerank_pipeline": (
        "plan changed round 13: ranks checkpoint every SECOND superstep "
        "(single-reference lineage, zero re-execution) — re-pinned by a "
        "fresh driver row"
    ),
    "kcore_social": (
        "plan changed round 13: the peel is now the degree-decrement "
        "form (vertex-sized state, edge frame never rewritten) — "
        "re-pinned by a fresh driver row"
    ),
}

PRIORITY_WINDOW: tuple[str, ...] = (
    # rule 1 — plans changed this round (_plane_sign width guard; the
    # batched-relaxation delta iterations)
    "dedup_semantic",
    "similarity_lsh_bucketed",
    "ann_recall_panel",
    "sssp_pipeline",
    "connected_components_pipeline",
    "pagerank_pipeline",
    "label_propagation_communities",
    "kcore_social",
    # the r8-stale cohort (last driver-green round 8), 42 of 49
    "anomaly_mad_events",
    "bpe_merge_table",
    "corpus_drift_js",
    "corpus_snapshot_delta",
    "curriculum_length_phases",
    "dedup_containment",
    "dedup_incremental",
    "dedup_recall_panel",
    "dft_events",
    "dq_referential_checks",
    "dq_table_profile",
    "embedding_abtt_residuals",
    "embedding_principal_direction",
    "experiment_ab_ztest",
    "funnel_conversion_events",
    "hypertable_gapfill_locf",
    "lm_kn_bigram",
    "lm_perplexity_bucket",
    "market_basket_rules",
    "markov_event_transitions",
    "pii_pattern_audit",
    "pref_bradley_terry",
    "q34_explode_tokens",
    "q38_tpch_q6",
    "quality_gopher_rules",
    "quality_retention_curve",
    "release_length_buckets",
    "release_sequence_packing",
    "retrieval_bm25_topk",
    "retrieval_eval_panel",
    "rfm_segment_panel",
    "session_path_topk",
    "similarity_hard_negatives",
    "sketch_cms_heavy_hitters",
    "sketch_hll_union_matrix",
    "sketch_quantile_doc_length",
    "survival_km_purchase",
    "text_char_entropy",
    "text_ngram_novelty",
    "unigram_viterbi_panel",
    "wordpiece_fertility_panel",
    "zipf_token_panel",
)

_ALL: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

for _m in _MODULES:
    for _name, _fn in _m.QUERIES.items():
        if _name in _ALL:
            raise ValueError(f"duplicate query name {_name!r}")
        _ALL[_name] = _fn
    ORACLE.update(_m.ORACLE)

#: The registry serves each query's BUILT lazy DataFrame from
#: ``_util.session_memo``, except the queries named here: their build
#: executes corpus-scale work of its own (a driver loop, a training
#: run, an eager checkpoint or collect of corpus state), so a memoized
#: plan would hand later calls materialized state instead of a plan.
PLAN_MEMO_EXCLUDE = frozenset(
    {
        "sssp_pipeline",
        "connected_components_pipeline",
        "pagerank_pipeline",
        "label_propagation_communities",
        "community_detection_labels",
        "kcore_social",
        "hits_scores",
        "kmeans_pipeline",
        "logreg_pipeline",
        "decontaminate_verdict_panel",
        "wordpiece_fertility_panel",
        "tokenizer_roundtrip_qa",
        "multimodal_phash_neardup",
        "embedding_abtt_residuals",
        "embedding_principal_direction",
        "dedup_simhash",
        "dedup_semantic",
        "bipartite_projection_suppliers",
        "dft_events",
    }
)

_unknown_excl = PLAN_MEMO_EXCLUDE - set(_ALL)
if _unknown_excl:
    raise ValueError(
        f"plan-memo exclusions not registered: {sorted(_unknown_excl)}"
    )

from ._util import session_memo  # noqa: E402

for _name, _fn in list(_ALL.items()):
    if _name not in PLAN_MEMO_EXCLUDE and not hasattr(_fn, "__wrapped__"):
        _ALL[_name] = session_memo(_fn)

_unknown = set(PRIORITY_WINDOW) - set(_ALL)
if _unknown:
    raise ValueError(f"priority window names not registered: {sorted(_unknown)}")
if len(PRIORITY_WINDOW) != len(set(PRIORITY_WINDOW)):
    raise ValueError("duplicate names in priority window")

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    n: _ALL[n] for n in PRIORITY_WINDOW
}
QUERIES.update((n, f) for n, f in _ALL.items() if n not in QUERIES)

_missing = set(ORACLE) - set(QUERIES)
if _missing:
    raise ValueError(f"oracle entries without queries: {sorted(_missing)}")
