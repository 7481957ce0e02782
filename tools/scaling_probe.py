"""Empirical scaling probe: time the heavy operators at sf0.001 /
sf0.01 / sf0.1 and print observed growth factors per 10× data step.

The plan audit (PLAN_AUDIT.md) proves the STATIC shape is scale-safe
(no cartesians, pushed filters, bounded wedges); this probe adds the
DYNAMIC evidence — that runtime grows near-linearly with input across
two decades of scale factor, the empirical signature that the same
plans survive the jump from test SF to a 100 TB cluster where each
partition sees roughly this much data. Super-linear growth (factor
well above ~10 per decade after fixed overhead) is the smell this
table exists to catch; sub-linear factors just mean fixed job overhead
still dominates at these sizes.

Timing uses the noop sink (as bench.py does) so the FULL plan executes:
a .count() would let Catalyst prune the projected aggregate columns and
under-measure exactly the expression-heavy operators this table
certifies.

Usage: python tools/scaling_probe.py [query ...]   (default: the heavy set)
Data root: $SPARK_GRAFT_TESTDATA (default /root/testdata), so the probe
is reproducible wherever the parquet lives.
Appends nothing; prints a markdown table to stdout for SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "q51_tpch_q9",            # widest TPC-H join tree
    "q55_tpch_q21",           # 4-way fact self-joins
    "dedup_minhash_lsh",      # band/bucket shuffle
    "dedup_lsh_verified",     # LSH + exact verify
    "dedup_cluster_representatives",  # + CC iteration
    "corpus_datasheet_v3",    # full composition
    "triangle_enum",          # wedge join (graph saturates at sf0.1)
    "triadic_census_q",       # closed-form census off the shared base
    "text_bigram_lm_score",   # n-gram model build + scoring joins
    "text_chunk_windows",     # shuffle-free corpus transform
    "similarity_ivf",         # ANN probe path
    "sssp_pipeline",          # delta iteration
    # round-7 additions: the shingle-join leakage audit (the heaviest
    # new path), the HLL register sketch (shuffle bounded at 512 rows
    # per task), and the WindowGroupLimit domain cap
    "split_leakage_audit",
    "sketch_hyperloglog_tokens",
    "text_domain_cap",
    # round-7 later batches: window-hash passage dedup, the dim-keyed
    # quantization panel, the 8-round BPE driver loops (train and
    # train+apply), the hub-capped overlap self-join, and the two
    # release panels
    "text_duplicate_passages",
    "embedding_quantize_int8",
    "bpe_merge_table",
    "bpe_encode_fertility",
    "source_overlap_matrix",
    "corpus_mixture_weights",
    "release_shard_manifest",
    "embedding_covariance_panel",
    # round-8: the remaining release-mechanics family (VERDICT r7 Next
    # 7) and the six new operators
    "corpus_train_split",
    "sample_stratified_lang",
    "quality_retention_curve",
    "release_sequence_packing",
    "dedup_semantic",
    "lm_kn_bigram",
    "text_char_entropy",
    "corpus_snapshot_delta",
    "similarity_hard_negatives",
]

SFS = ["0.001", "0.01", "0.1"]


def main() -> None:
    from flink_tornadovm_artifact_spark.queries import QUERIES
    from flink_tornadovm_artifact_spark.session import get_spark

    names = sys.argv[1:] or HEAVY
    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    spark = get_spark(app_name="scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in names:
        fn = QUERIES[name]
        times = []
        for sf in SFS:
            sf_dir = os.path.join(base, f"sf{sf}")
            best = None
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            times.append(best)
        g1 = times[1] / times[0]
        g2 = times[2] / times[1]
        rows.append((name, *times, g1, g2))
        print(f"# {name}: {times} x{g1:.1f} x{g2:.1f}", file=sys.stderr)

    print("| query | sf0.001 s | sf0.01 s | sf0.1 s | ×/decade (1→2) | ×/decade (2→3) |")
    print("|---|---|---|---|---|---|")
    for name, t1, t2, t3, g1, g2 in rows:
        print(f"| {name} | {t1:.2f} | {t2:.2f} | {t3:.2f} | {g1:.1f}× | {g2:.1f}× |")


if __name__ == "__main__":
    main()
