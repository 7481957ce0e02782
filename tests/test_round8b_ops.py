"""Semantic invariants for the round-8 second-batch operators
(queries/pipeline.py) — properties the DuckDB differential can't
express: PII redaction accounting against the fixture's known ID
shapes, perplexity-tercile ordering and partition completeness, Zipf
slope sign and fit bounds, profile/constraint consistency, and
power-of-two bucket arithmetic."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from flink_tornadovm_artifact_spark.queries.pipeline import (
    LENGTH_BUCKET_FLOOR,
    ZIPF_TOP,
    dq_referential_checks,
    dq_table_profile,
    lm_perplexity_bucket,
    pii_pattern_audit,
    release_length_buckets,
    zipf_token_panel,
)
from flink_tornadovm_artifact_spark.tables import load

from .conftest import SF_SMOKE, stamp_batch


def test_pii_audit_matches_fixture_shapes(spark):
    """The fixture's c_name values are 'Customer#%09d' — every value
    contains BOTH a ≥6 digit run and the word#digits ID pattern, and
    redaction removes the full 18-char value. c_mktsegment is a clean
    enum (zero hits); p_brand is 'Brand#N' (ID hit, digits too short
    for a run); no column anywhere contains an email."""
    rows = {
        (r.table_name, r.column_name): r
        for r in pii_pattern_audit(spark, SF_SMOKE).collect()
    }
    cname = rows[("customer", "c_name")]
    assert cname.digit_run_hits == cname.n_values
    assert cname.id_hits == cname.n_values
    assert cname.redacted_chars == cname.n_values * len("Customer#000000000")
    seg = rows[("customer", "c_mktsegment")]
    assert seg.digit_run_hits == seg.id_hits == seg.redacted_chars == 0
    brand = rows[("part", "p_brand")]
    assert brand.id_hits == brand.n_values
    assert brand.digit_run_hits == 0
    sname = rows[("supplier", "s_name")]
    assert sname.id_hits == sname.n_values
    assert all(r.email_hits == 0 for r in rows.values())
    assert all(r.n_values > 0 for r in rows.values())


def test_perplexity_buckets_partition_and_order(spark):
    """Buckets partition the scored docs per language; tercile labels
    come from disjoint quantized-entropy ranges, so mean cross-entropy
    must be strictly ordered head < middle < tail within a language
    (when all three buckets are populated)."""
    rows = lm_perplexity_bucket(spark, SF_SMOKE).collect()
    assert {r.bucket for r in rows} <= {"head", "middle", "tail"}
    by_lang = defaultdict(dict)
    for r in rows:
        by_lang[r.lang][r.bucket] = r
    langs = {
        r.lang
        for r in load(spark, SF_SMOKE, "documents").select("lang").distinct().collect()
    }
    assert set(by_lang) == langs
    for lang, buckets in by_lang.items():
        assert sum(r.n_docs for r in buckets.values()) > 0
        if len(buckets) == 3:
            assert (
                buckets["head"].avg_xent
                < buckets["middle"].avg_xent
                < buckets["tail"].avg_xent
            ), lang
        for r in buckets.values():
            # ppl = exp(xent) per doc; Jensen: avg_ppl >= exp(avg_xent)
            assert r.avg_ppl >= math.exp(r.avg_xent) - 1e-9, (lang, r.bucket)


def test_zipf_slope_negative_and_fit_bounded(spark):
    rows = zipf_token_panel(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 < r.n_types <= ZIPF_TOP
        assert r.zipf_slope < 0, r.source
        assert 0.0 <= r.r2 <= 1.0 + 1e-12, r.source


def test_table_profile_consistency(spark):
    rows = {r.column_name: r for r in dq_table_profile(spark, SF_SMOKE).collect()}
    n_orders = load(spark, SF_SMOKE, "orders").count()
    assert set(rows) == {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    }
    for r in rows.values():
        assert r.n_rows == n_orders
        assert 0 < r.n_nonnull <= r.n_rows
        assert 0 < r.n_distinct <= r.n_nonnull
        assert r.min_value is not None and r.max_value is not None
    # PK: every order key distinct
    assert rows["o_orderkey"].n_distinct == n_orders
    # low-cardinality enum
    assert rows["o_orderstatus"].n_distinct <= 3


def test_referential_checks_pass_on_fixture(spark):
    rows = {r.check_name: r for r in dq_referential_checks(spark, SF_SMOKE).collect()}
    assert len(rows) == 7
    n_orders = load(spark, SF_SMOKE, "orders").count()
    n_li = load(spark, SF_SMOKE, "lineitem").count()
    assert rows["orders_pk_unique"].n_checked == n_orders
    assert rows["lineitem_fk_orders"].n_checked == n_li
    for r in rows.values():
        assert r.n_violations == 0 and bool(r.passed), r.check_name


def test_length_buckets_pow2_and_conservation(spark):
    rows = release_length_buckets(spark, SF_SMOKE).collect()
    docs = (
        load(spark, SF_SMOKE, "documents")
        .select(F.size(F.split("text", " ")).alias("n"))
        .collect()
    )
    assert sum(r.n_docs for r in rows) == len(docs)
    assert sum(r.total_tokens for r in rows) == sum(d.n for d in docs)
    for r in rows:
        b = r.bucket_len
        assert b >= LENGTH_BUCKET_FLOOR and (b & (b - 1)) == 0, b
        assert r.padded_tokens == b * r.n_docs
        assert r.total_tokens <= r.padded_tokens
        assert 0.0 <= r.waste_frac < 1.0
    # python recompute of bucket membership
    expect = defaultdict(lambda: [0, 0])
    for d in docs:
        b = max(LENGTH_BUCKET_FLOOR, 2 ** math.ceil(math.log2(d.n)))
        expect[b][0] += 1
        expect[b][1] += d.n
    got = {r.bucket_len: (r.n_docs, r.total_tokens) for r in rows}
    assert got == {b: tuple(v) for b, v in expect.items()}


def test_containment_bounds_and_exact_dup_recovery(spark):
    """Containment scores are valid probabilities ordered against
    Jaccard (jac <= min(c_ab, c_ba) <= max <= 1); every exact-duplicate
    pair (identical shingle sets) that shares a rare shingle must
    surface with containment 1.0 both ways; and no emitted pair beats
    the threshold test."""
    from flink_tornadovm_artifact_spark.queries.llm import (
        CONTAIN_THRESHOLD,
        dedup_containment,
    )

    rows = dedup_containment(spark, SF_SMOKE).collect()
    assert rows, "containment query is vacuous on the fixture"
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        lo, hi = sorted((r.containment_ab, r.containment_ba))
        assert r.jaccard <= lo + 1e-12 and hi <= 1.0 + 1e-12
        assert hi >= CONTAIN_THRESHOLD
        assert r.doc_a < r.doc_b
    # exact-dup pairs: same text => containment 1.0 both directions
    docs = {
        r.doc_id: r.text
        for r in load(spark, SF_SMOKE, "documents").collect()
    }
    for r in rows:
        if docs[r.doc_a] == docs[r.doc_b]:
            assert r.containment_ab == 1.0 and r.containment_ba == 1.0


def test_hll_stream_matches_batch_registers(spark, tmp_path):
    """The streaming HLL twin, fed the documents fixture split across
    two micro-batch files, must equal the batch register table exactly
    — max is the merge, so cumulative streaming state == one-shot
    batch. Uses the ExternalQueryableState upsert store (the
    StreamingDatasheet serving pattern)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_tornadovm_artifact_spark.queries.llm import (
        sketch_hll_registers_stream,
        sketch_hyperloglog_tokens,
    )
    from flink_tornadovm_artifact_spark.streaming.core import (
        ExternalQueryableState,
    )

    batch = {
        r.bucket: r.rho_max
        for r in sketch_hyperloglog_tokens(spark, SF_SMOKE).collect()
    }

    collected = (
        load(spark, SF_SMOKE, "documents").orderBy("doc_id").collect()
    )
    src = tmp_path / "hll_stream"
    src.mkdir()
    half = len(collected) // 2
    for i, (name, part) in enumerate(
        (("b0", collected[:half]), ("b1", collected[half:]))
    ):
        pq.write_table(
            pa.table({"text": pa.array([r.text for r in part], pa.string())}),
            str(src / f"{name}.parquet"),
        )
        stamp_batch(src / f"{name}.parquet", i)
    stream = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    store = ExternalQueryableState("__ckey", str(tmp_path / "hll_store"))
    regs = sketch_hll_registers_stream(stream).withColumn(
        "__ckey", F.col("bucket")
    )
    q = (
        regs.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .foreachBatch(store.on_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        r.bucket: r.rho_max
        for r in store.snapshot_df(spark).drop("__ckey").collect()
    }
    assert streamed == batch


def test_drift_js_bounds_and_type_consistency(spark):
    """JS divergence is bounded in [0, ln 2]; shared types never exceed
    either side; a source with BOTH sides populated and identical
    uniform-ish token pools scores strictly inside the bounds; and the
    type counts agree with a direct recompute of the md5 split."""
    from flink_tornadovm_artifact_spark.queries.llm import _md5_bucket
    from flink_tornadovm_artifact_spark.queries.pipeline import corpus_drift_js

    rows = corpus_drift_js(spark, SF_SMOKE).collect()
    assert rows
    ln2 = math.log(2.0)
    for r in rows:
        assert -1e-12 <= r.js_divergence <= ln2 + 1e-12, r.source
        assert r.n_types_shared <= min(r.n_types_new, r.n_types_base)
        if r.n_types_new == 0 or r.n_types_base == 0:
            # one side ABSENT (zero mass, not a distribution): only the
            # present half contributes, so the score is exactly ln2/2 —
            # the documented sentinel, distinguishable from true
            # disjoint-support drift (ln2) and from agreement (0)
            assert r.js_divergence == pytest.approx(ln2 / 2)
        elif r.n_types_shared == 0:
            # both sides populated on disjoint token support => maximum
            assert r.js_divergence == pytest.approx(ln2)
    # direct recompute of per-side type counts for one source
    docs = load(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text",
        (_md5_bucket(F.col("doc_id").cast("string"), "#snap", 10) == 0).alias(
            "is_new"
        ),
    ).collect()
    src = rows[0].source
    new_types = {
        w for d in docs if d.source == src and d.is_new for w in d.text.split(" ")
    }
    base_types = {
        w
        for d in docs
        if d.source == src and not d.is_new
        for w in d.text.split(" ")
    }
    got = next(r for r in rows if r.source == src)
    assert got.n_types_new == len(new_types)
    assert got.n_types_base == len(base_types)
    assert got.n_types_shared == len(new_types & base_types)


def test_principal_direction_matches_numpy_eigh(spark):
    """The fixed-step power iterate must align with numpy's exact top
    eigenvector of the same covariance matrix (|cos angle| >= 0.999),
    its Rayleigh eigenvalue within 1% of eigh's lambda_1, loadings
    unit-norm with the component-sum >= 0 sign convention held
    non-marginally, and var_share = lambda1/trace in (0, 1]."""
    import numpy as np

    from flink_tornadovm_artifact_spark.queries.llm import (
        embedding_principal_direction,
    )

    rows = sorted(
        embedding_principal_direction(spark, SF_SMOKE).collect(),
        key=lambda r: r.dim,
    )
    v = np.array([r.loading for r in rows])
    lam1 = rows[0].lambda1
    share = rows[0].var_share
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    assert v.sum() > 1e-6  # sign convention, non-marginal
    assert 0.0 < share <= 1.0 + 1e-12

    emb = np.array(
        [
            list(r.embedding)
            for r in load(spark, SF_SMOKE, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    cov = np.cov(emb, rowvar=False, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    assert abs(float(np.dot(v, top))) >= 0.999
    assert abs(lam1 - w[-1]) <= 0.01 * abs(w[-1])
    assert share == pytest.approx(lam1 / np.trace(cov), rel=1e-6)


def test_dq_profile_approx_flip_within_rsd(spark):
    """The approx=True scale path (HLL++ NDVs) must agree with the
    exact profile within the declared 5% relative standard deviation on
    every column, leave every other field bit-identical, and carry NO
    Expand in its plan (the exact variant's six-way Expand is the thing
    the flip removes at 100 TB)."""
    from flink_tornadovm_artifact_spark.queries.pipeline import (
        dq_table_profile,
    )

    exact = {
        r.column_name: r for r in dq_table_profile(spark, SF_SMOKE).collect()
    }
    approx_df = dq_table_profile(spark, SF_SMOKE, approx=True)
    approx = {r.column_name: r for r in approx_df.collect()}
    assert set(exact) == set(approx)
    for c, e in exact.items():
        a = approx[c]
        assert (a.n_rows, a.n_nonnull, a.min_value, a.max_value) == (
            e.n_rows,
            e.n_nonnull,
            e.min_value,
            e.max_value,
        ), c
        # 4 sigma of the declared 5% rsd — deterministic for a given
        # HLL++ implementation, so this pins, not flakes
        assert abs(a.n_distinct - e.n_distinct) <= max(
            1, 0.2 * e.n_distinct
        ), (c, a.n_distinct, e.n_distinct)
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    exact_plan = (
        dq_table_profile(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in exact_plan
