"""Data-release pipeline operators: audits, profiling, and packing.

Round-8 additions beyond the reference's own operator set (the brief's
"operations a large-scale training-data pipeline would need" axis, same
category as queries/llm.py's dedup/release families):

- ``pii_pattern_audit``     — regex PII/ID-pattern audit over the string
                              columns of the release tables (redaction
                              volume accounting included).
- ``lm_perplexity_bucket``  — CCNet-style head/middle/tail perplexity
                              terciles per language, scored with the
                              Kneser-Ney bigram model from
                              ``lm_kn_bigram`` (Wenzek et al. 2020).
- ``zipf_token_panel``      — per-source Zipf rank-frequency fit (log-log
                              regression slope + fit quality) over the
                              top-K token types; a corpus-health signal
                              (natural text ≈ -1; spam/boilerplate
                              deviates).
- ``dq_table_profile``      — Deequ-style per-column profile
                              (completeness, exact NDV, min/max) of the
                              ``orders`` table (Schelter et al. 2018).
- ``dq_referential_checks`` — declarative constraint suite: PK
                              uniqueness, FK integrity, domain and range
                              checks, one row per check.
- ``release_length_buckets``— padding-efficiency panel: docs bucketed to
                              power-of-two sequence lengths, per-bucket
                              padding waste (the batch-shape companion to
                              ``release_sequence_packing``).
- ``corpus_drift_js``       — per-source Jensen-Shannon divergence of the
                              incoming batch's token distribution vs the
                              standing corpus (the statistical drift
                              companion to ``corpus_snapshot_delta``).

Every operator is pure JVM expressions / keyed aggregates (no Python on
the hot path); scale notes are per-op below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.sizing import spread_scan
from ..tables import load
from ._util import ORACLE, register, session_memo
from .llm import lm_kn_bigram


# ---------------------------------------------------------------------------
# PII / identifier pattern audit. A release audit scans every free-text
# column for account-number-shaped digit runs, entity#id patterns, and
# emails, and accounts for how many characters redaction would remove —
# the pre-publication privacy panel. Patterns are RE2-safe (no
# backtracking constructs) so Java regex and the DuckDB oracle agree.
# Plan / 100 TB: one scan per table computing all column aggregates in a
# single pass (map-side partial aggregation to a 1-row frame), then a
# constant-width stack unpivot and a tiny union — the scans never
# shuffle row data, only the per-column counter rows.
# ---------------------------------------------------------------------------
PII_ID_PATTERN = "[A-Za-z]+#[0-9]+"
PII_EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_DIGIT_RUN = "[0-9]{6,}"
PII_ANY = f"({PII_ID_PATTERN}|{PII_EMAIL_PATTERN}|{PII_DIGIT_RUN})"

#: table -> string columns audited (the release's free-text surface)
PII_COLUMNS: dict[str, tuple[str, ...]] = {
    "customer": ("c_name", "c_mktsegment"),
    "supplier": ("s_name",),
    "part": ("p_name", "p_brand", "p_type"),
}


def pii_pattern_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for table, cols in PII_COLUMNS.items():
        df = load(spark, sf_dir, table)
        aggs = []
        for c in cols:
            v = F.col(c)
            aggs += [
                F.count(v).alias(f"nv_{c}"),
                F.sum(v.rlike(PII_DIGIT_RUN).cast("int")).alias(f"dr_{c}"),
                F.sum(v.rlike(PII_ID_PATTERN).cast("int")).alias(f"id_{c}"),
                F.sum(v.rlike(PII_EMAIL_PATTERN).cast("int")).alias(
                    f"em_{c}"
                ),
                F.sum(
                    F.length(v) - F.length(F.regexp_replace(v, PII_ANY, ""))
                ).alias(f"rc_{c}"),
            ]
        one = df.agg(*aggs)
        stack = ", ".join(
            f"'{c}', nv_{c}, dr_{c}, id_{c}, em_{c}, rc_{c}" for c in cols
        )
        frames.append(
            one.select(
                F.lit(table).alias("table_name"),
                F.expr(
                    f"stack({len(cols)}, {stack}) AS "
                    "(column_name, n_values, digit_run_hits, id_hits, "
                    "email_hits, redacted_chars)"
                ),
            ).select(
                "table_name",
                "column_name",
                F.col("n_values").cast("bigint").alias("n_values"),
                F.col("digit_run_hits").cast("bigint").alias("digit_run_hits"),
                F.col("id_hits").cast("bigint").alias("id_hits"),
                F.col("email_hits").cast("bigint").alias("email_hits"),
                F.col("redacted_chars").cast("bigint").alias("redacted_chars"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _pii_oracle_one(table: str, col: str) -> str:
    return f"""
SELECT '{table}' AS table_name, '{col}' AS column_name,
       CAST(COUNT({col}) AS BIGINT) AS n_values,
       CAST(SUM(CASE WHEN regexp_matches({col}, '{PII_DIGIT_RUN}')
                THEN 1 ELSE 0 END) AS BIGINT) AS digit_run_hits,
       CAST(SUM(CASE WHEN regexp_matches({col}, '{PII_ID_PATTERN}')
                THEN 1 ELSE 0 END) AS BIGINT) AS id_hits,
       CAST(SUM(CASE WHEN regexp_matches({col}, '{PII_EMAIL_PATTERN}')
                THEN 1 ELSE 0 END) AS BIGINT) AS email_hits,
       CAST(SUM(length({col})
                - length(regexp_replace({col}, '{PII_ANY}', '', 'g')))
            AS BIGINT) AS redacted_chars
FROM {table}"""


register(
    pii_pattern_audit,
    "\nUNION ALL\n".join(
        _pii_oracle_one(t, c) for t, cols in PII_COLUMNS.items() for c in cols
    ),
)


# ---------------------------------------------------------------------------
# PII redaction TRANSFORM (round 11) — the audit's action leg: rewrite
# the text with typed placeholders (<EMAIL>/<PHONE>/<IP>) and account
# for what was removed, the scrubbing pass a release actually applies
# before publication (pii_pattern_audit only counts). The corpus is
# synthetic and contains no real PII, so — exactly the
# text_normalize_panel fixture-injection discipline (llm.py
# _MESSY_TEXT_SQL) — a deterministic "leaky" column is derived in BOTH
# engines from doc_id via the shared _PII_LEAKY_SQL expression (email /
# phone / IPv4 shaped spans on modular doc_id classes), then redacted
# by the shared pattern chain. Patterns are RE2-safe AND
# backslash-free-literal-safe: the Spark side applies them through the
# DataFrame API (no SQL string escaping), the DuckDB side interpolates
# the same Python constants into standard single-quoted literals
# (DuckDB does not process backslash escapes there). Idempotence —
# redact(redact(x)) == redact(x), i.e. placeholders never re-match —
# is emitted as a per-row boolean so the driver hash pins it.
#
# Plan / 100 TB: pure per-row regexp expressions inside whole-stage
# codegen; ZERO shuffles. The transform is a scan.
# ---------------------------------------------------------------------------
PII_PHONE_PATTERN = "\\(555\\) [0-9]{3}-[0-9]{4}"
PII_IP_PATTERN = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

#: deterministic synthetic-PII injection (fixture, marked as such):
#: identical SQL text in Spark (F.expr) and DuckDB — string concat of
#: integers is an implicit cast in both dialects, and no backslash
#: appears so literal parsing cannot diverge.
_PII_LEAKY_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id"
    "      || '@mail.example.com' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN ' call (555) 867-'"
    "      || lpad('' || (doc_id % 10000), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || (doc_id % 256)"
    "      || '.0.' || (doc_id % 200 + 1) ELSE '' END"
)


def _pii_redact(col):  # Spark-side chain, DataFrame API (no SQL escaping)
    r = F.regexp_replace(col, PII_EMAIL_PATTERN, "<EMAIL>")
    r = F.regexp_replace(r, PII_PHONE_PATTERN, "<PHONE>")
    return F.regexp_replace(r, PII_IP_PATTERN, "<IP>")


def pii_redact_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PII_LEAKY_SQL).alias("leaky")
    )
    red = _pii_redact(F.col("leaky"))
    return docs.select(
        "doc_id",
        F.regexp_count("leaky", F.lit(PII_EMAIL_PATTERN))
        .cast("bigint")
        .alias("n_emails"),
        F.regexp_count("leaky", F.lit(PII_PHONE_PATTERN))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_count("leaky", F.lit(PII_IP_PATTERN))
        .cast("bigint")
        .alias("n_ips"),
        (F.length("leaky") - F.length(red))
        .cast("bigint")
        .alias("chars_removed"),
        (_pii_redact(red) == red).alias("idempotent"),
        F.md5(red).alias("redacted_hash"),
    )


def _pii_redact_sql(col: str) -> str:  # DuckDB twin of _pii_redact
    r = f"regexp_replace({col}, '{PII_EMAIL_PATTERN}', '<EMAIL>', 'g')"
    r = f"regexp_replace({r}, '{PII_PHONE_PATTERN}', '<PHONE>', 'g')"
    return f"regexp_replace({r}, '{PII_IP_PATTERN}', '<IP>', 'g')"


register(
    pii_redact_transform,
    f"""
WITH leaky AS (
  SELECT doc_id, {_PII_LEAKY_SQL} AS leaky FROM documents
), red AS (
  SELECT doc_id, leaky, {_pii_redact_sql("leaky")} AS r FROM leaky
)
SELECT doc_id,
       CAST(len(regexp_extract_all(leaky, '{PII_EMAIL_PATTERN}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(leaky, '{PII_PHONE_PATTERN}')) AS BIGINT)
         AS n_phones,
       CAST(len(regexp_extract_all(leaky, '{PII_IP_PATTERN}')) AS BIGINT)
         AS n_ips,
       CAST(length(leaky) - length(r) AS BIGINT) AS chars_removed,
       {_pii_redact_sql("r")} = r AS idempotent,
       md5(r) AS redacted_hash
FROM red
""",
)


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
# document with the corpus's own Kneser-Ney bigram model
# (lm_kn_bigram), then split each language into head/middle/tail
# perplexity terciles. The tercile boundaries are computed EXACTLY but
# scalably: per-doc cross-entropy is quantized to integer millinats and
# histogrammed per language (a keyed aggregate with map-side combine),
# the cumulative window then runs over the HISTOGRAM — whose row count
# is bounded by the quantized entropy range (a few thousand keys), not
# the corpus — and the tercile keys broadcast back onto the per-doc
# frame. A per-language ntile() over the document table would be the
# 1/n_langs-partition sort this construction exists to avoid (the same
# scale rule that restructured text_vocab_coverage in round 7).
# Plan / 100 TB: bigram explode (corpus-linear, map-side combined on
# the model join key), model join is vocabulary-sized, histogram agg +
# bounded window + broadcast join; no corpus-sized windows.
# ---------------------------------------------------------------------------
def lm_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = lm_kn_bigram(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.split("text", " ")
    prs = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p.w2.isNotNull(),
    )
    pairs = docs.select(
        "doc_id", "lang", F.explode(prs).alias("p")
    ).select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    scored = (
        pairs.join(model, ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg((-F.avg(F.log("p_kn"))).alias("xent"))
        .withColumn(
            "qx", F.floor(F.col("xent") * 1000).cast("bigint")
        )
    )
    hist = scored.groupBy("lang", "qx").agg(F.count(F.lit(1)).alias("c"))
    wc = W.partitionBy("lang").orderBy("qx")
    cum = hist.withColumn(
        "cum", F.sum("c").over(wc)
    ).withColumn("n", F.sum("c").over(W.partitionBy("lang")))
    bounds = cum.groupBy("lang").agg(
        F.min(F.when(F.col("cum") >= F.col("n") / 3.0, F.col("qx"))).alias(
            "k1"
        ),
        F.min(
            F.when(F.col("cum") >= 2.0 * F.col("n") / 3.0, F.col("qx"))
        ).alias("k2"),
    )
    bucket = (
        F.when(F.col("qx") <= F.col("k1"), "head")
        .when(F.col("qx") <= F.col("k2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(bounds), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.avg("xent").alias("avg_xent"),
            F.avg(F.exp("xent")).alias("avg_ppl"),
        )
    )


# the model CTE is the lm_kn_bigram oracle verbatim (composition in
# the oracle mirrors composition in the Spark code)
register(lm_perplexity_bucket, f"""
WITH model AS ({ORACLE["lm_kn_bigram"]}),
dpr AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(0, len(t) - 1),
                               i -> {{'w1': t[i + 1], 'w2': t[i + 2]}})) AS p
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
),
scored AS (
  SELECT doc_id, lang, -AVG(ln(p_kn)) AS xent
  FROM dpr JOIN model ON dpr.p.w1 = model.w1 AND dpr.p.w2 = model.w2
  GROUP BY 1, 2
),
q AS (
  SELECT doc_id, lang, xent,
         CAST(FLOOR(xent * 1000) AS BIGINT) AS qx
  FROM scored
),
hist AS (SELECT lang, qx, COUNT(*) AS c FROM q GROUP BY 1, 2),
cum AS (
  SELECT lang, qx,
         SUM(c) OVER (PARTITION BY lang ORDER BY qx) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
bounds AS (
  SELECT lang,
         MIN(CASE WHEN cum >= n / 3.0 THEN qx END) AS k1,
         MIN(CASE WHEN cum >= 2.0 * n / 3.0 THEN qx END) AS k2
  FROM cum GROUP BY 1
)
SELECT q.lang,
       CASE WHEN qx <= k1 THEN 'head'
            WHEN qx <= k2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       AVG(xent) AS avg_xent,
       AVG(exp(xent)) AS avg_ppl
FROM q JOIN bounds ON q.lang = bounds.lang
GROUP BY 1, 2
""")


# ---------------------------------------------------------------------------
# Zipf rank-frequency panel: per source, fit ln(freq) = a + slope *
# ln(rank) over the top-K token types and report the slope (natural
# text ≈ -1, Zipf 1935 / Piantadosi 2014) plus r² fit quality —
# boilerplate-heavy or spammy sources bend the curve. Rank is
# row_number over (freq DESC, token ASC) per source, filtered to
# ZIPF_TOP immediately so Spark's WindowGroupLimit rewrites the window
# into a per-partition top-K heap (the text_domain_cap pattern) —
# vocabulary-sized input, never a full sort at scale; the regression is
# a per-source closed-form aggregate (covar_pop / var_pop).
# Plan / 100 TB: token explode with map-side combine onto the type
# table; top-K heap per source; sources-sized output.
# ---------------------------------------------------------------------------
ZIPF_TOP = 500


def zipf_token_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("source", "text")
    freq = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = W.partitionBy("source").orderBy(
        F.col("freq").desc(), F.col("t").asc()
    )
    top = freq.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= ZIPF_TOP
    )
    lnr = F.log(F.col("rk").cast("double"))
    lnf = F.log(F.col("freq").cast("double"))
    return top.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        (F.covar_pop(lnr, lnf) / F.var_pop(lnr)).alias("zipf_slope"),
        F.pow(F.corr(lnr, lnf), F.lit(2.0)).alias("r2"),
    )


register(
    zipf_token_panel,
    f"""
WITH freq AS (
  SELECT source, u.t AS t, COUNT(*) AS freq
  FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
  GROUP BY 1, 2
),
top AS (
  SELECT source, freq,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY freq DESC, t ASC) AS rk
  FROM freq
  QUALIFY rk <= {ZIPF_TOP}
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
       covar_pop(ln(CAST(rk AS DOUBLE)), ln(CAST(freq AS DOUBLE)))
         / var_pop(ln(CAST(rk AS DOUBLE))) AS zipf_slope,
       pow(corr(ln(CAST(rk AS DOUBLE)), ln(CAST(freq AS DOUBLE))), 2) AS r2
FROM top GROUP BY 1
""",
)


# ---------------------------------------------------------------------------
# Deequ-style column profile (Schelter et al. 2018) of the orders
# table: completeness (non-null count), EXACT distinct count, and
# min/max rendered as strings, one row per column. All six columns
# profile in ONE scan — the multi-count-distinct agg expands the input
# 6× behind map-side partial aggregation (Spark's Expand operator),
# which is the standard exact-NDV trade; a 100 TB profile would flip
# the NDV leg to approx_count_distinct, and the q49_approx_aggregates
# entry already covers that sketch path.
# ---------------------------------------------------------------------------
PROFILE_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

#: The string-typed profile columns — their min/max live in a separate
#: keyless aggregate so the NDV Expand leg stays hash-aggregable (see
#: dq_table_profile).
STRING_PROFILE_COLUMNS = frozenset({"o_orderstatus", "o_orderpriority"})


def dq_table_profile(
    spark: SparkSession, sf_dir: str, approx: bool = False
) -> DataFrame:
    """``approx=True`` is the 100 TB flip, as a MECHANISM (round 9; the
    SemDeDup lesson — scale paths must be code, not docstring prose):
    every exact ``countDistinct`` becomes HLL++
    ``approx_count_distinct(rsd=0.05)``, turning the six-way Expand over
    the fact table into six fixed-size mergeable register sets — one
    map-side-combined pass, shuffle bytes independent of cardinality.
    The registered (oracle-checked) variant stays exact;
    tests/test_round8b_ops.py pins the approx profile within the 5% rsd
    of the exact one on every column."""
    orders = load(spark, sf_dir, "orders")
    nd = (
        (lambda c: F.approx_count_distinct(c, rsd=0.05))
        if approx
        else F.countDistinct
    )
    # Round 12 (guide §1.2/§7.2): min/max over STRING columns have
    # variable-width aggregation buffers, which disqualifies
    # HashAggregateExec — with them in the multi-NDV aggregate the WHOLE
    # plan fell back to SortAggregate, fully sorting the 7x-Expanded
    # row set (~1M rows at sf0.1, 13 columns wide, one task) on a
    # 7-part group key. Hiving the two string min/max pairs into their
    # own KEYLESS aggregate (grouping keys [] ⇒ no Sort at all) lets
    # the Expand/NDV leg hash-aggregate; the string leg is a plain
    # columnar scan of the two string columns. One extra (pruned) scan
    # traded for the sort of the expanded set — measured 3.2 s → see
    # OPTIMIZATION_r12.md. crossJoin of two 1-row aggregates.
    str_cols = [c for c in PROFILE_COLUMNS if c in STRING_PROFILE_COLUMNS]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLUMNS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            nd(c).alias(f"nd_{c}"),
        ]
        if c not in STRING_PROFILE_COLUMNS:
            aggs += [
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            ]
    str_aggs = []
    for c in str_cols:
        str_aggs += [
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs).crossJoin(orders.agg(*str_aggs))
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in PROFILE_COLUMNS
    )
    return one.select(
        F.expr(
            f"stack({len(PROFILE_COLUMNS)}, {stack}) AS "
            "(column_name, n_nonnull, n_distinct, min_value, max_value)"
        ),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    ).select(
        "column_name",
        "n_rows",
        F.col("n_nonnull").cast("bigint").alias("n_nonnull"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_value",
        "max_value",
    )


register(
    dq_table_profile,
    "\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""
        for c in PROFILE_COLUMNS
    ),
)


# ---------------------------------------------------------------------------
# Declarative data-quality constraint suite (the Deequ check DSL
# reduced to its evaluation semantics): PK uniqueness, two FK
# referential checks, and four domain/range checks — one row per
# check with the violation count and verdict. Each FK check is a LEFT
# join + conditional count in a single pass (no separate count job, no
# 1-row crossJoin); the key-side projections shuffle only the join
# keys. Domain checks are single-scan conditional aggregates.
# Plan / 100 TB: two key-hash shuffles (the FK joins — dimension side
# broadcast where it fits, orders→customer would be shuffle at scale
# and is written as a plain equi-join so AQE picks the strategy) and
# map-side-combined 1-row aggregates for everything else.
# ---------------------------------------------------------------------------
def dq_referential_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")

    def row(name: str, checked, viol) -> DataFrame:
        return checked.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            F.sum(viol.cast("int")).cast("bigint").alias("n_violations"),
        ).withColumn("passed", F.col("n_violations") == 0)

    pk = orders.agg(
        F.lit("orders_pk_unique").alias("check_name"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("n_violations"),
    ).withColumn("passed", F.col("n_violations") == 0)

    fk_li = row(
        "lineitem_fk_orders",
        lineitem.select("l_orderkey").join(
            orders.select(F.col("o_orderkey").alias("_ok")),
            F.col("l_orderkey") == F.col("_ok"),
            "left",
        ),
        F.col("_ok").isNull(),
    )
    fk_cu = row(
        "orders_fk_customer",
        orders.select("o_custkey").join(
            customer.select(F.col("c_custkey").alias("_ck")),
            F.col("o_custkey") == F.col("_ck"),
            "left",
        ),
        F.col("_ck").isNull(),
    )
    price = row(
        "orders_totalprice_nonneg", orders, F.col("o_totalprice") < 0
    )
    status = row(
        "orders_status_domain",
        orders,
        ~F.col("o_orderstatus").isin("O", "F", "P"),
    )
    qty = row(
        "lineitem_quantity_range",
        lineitem,
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    disc = row(
        "lineitem_discount_range",
        lineitem,
        (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
    )
    out = pk
    for f in (fk_li, fk_cu, price, status, qty, disc):
        out = out.unionByName(f)
    return out


register(
    dq_referential_checks,
    """
SELECT 'orders_pk_unique' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
       COUNT(*) - COUNT(DISTINCT o_orderkey) = 0 AS passed
FROM orders
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'orders_fk_customer',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'orders_totalprice_nonneg',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'orders_status_domain',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
           THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'lineitem_quantity_range',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
           THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_discount < 0 OR l_discount > 1
           THEN 1 ELSE 0 END) = 0
FROM lineitem
""",
)


# ---------------------------------------------------------------------------
# Sequence-length bucketing panel: the padding-efficiency twin of
# release_sequence_packing. Each document's token count is rounded up
# to the next power-of-two bucket (floor 16 — the dynamic-batching
# scheme in Tensor2Tensor / fairseq-style loaders); per bucket:
# document count, real tokens, padded slots, and waste fraction. A
# trainer reading this panel picks bucket boundaries (or decides
# packing beats padding — compare against release_sequence_packing's
# exact fill).
# Plan / 100 TB: one per-doc expression, one ≤~20-key groupBy with
# map-side combine. Nothing else.
# ---------------------------------------------------------------------------
LENGTH_BUCKET_FLOOR = 16


def release_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("double").alias("n_tok")
    )
    bucket = F.greatest(
        F.lit(LENGTH_BUCKET_FLOOR),
        F.pow(F.lit(2.0), F.ceil(F.log2("n_tok"))).cast("bigint"),
    ).alias("bucket_len")
    per = docs.select(bucket, F.col("n_tok").cast("bigint").alias("n_tok"))
    return (
        per.groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "total_tokens",
            (F.col("bucket_len") * F.col("n_docs")).alias("padded_tokens"),
            (
                F.lit(1.0)
                - F.col("total_tokens")
                / (F.col("bucket_len") * F.col("n_docs")).cast("double")
            ).alias("waste_frac"),
        )
    )


register(
    release_length_buckets,
    f"""
WITH per AS (
  SELECT GREATEST({LENGTH_BUCKET_FLOOR},
                  CAST(pow(2, CEIL(log2(CAST(len(string_split(text, ' '))
                                             AS DOUBLE)))) AS BIGINT))
           AS bucket_len,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
)
SELECT bucket_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST(bucket_len * COUNT(*) AS BIGINT) AS padded_tokens,
       1.0 - SUM(n_tok) / CAST(bucket_len * COUNT(*) AS DOUBLE) AS waste_frac
FROM per GROUP BY 1
""",
)


# ---------------------------------------------------------------------------
# Token-distribution drift (Jensen-Shannon divergence): the statistical
# companion to corpus_snapshot_delta's vocabulary delta — per source,
# JS(P_incoming || P_standing) over token unigram distributions, the
# bounded-symmetric divergence a continuously-ingesting corpus
# monitors for "this source changed character" (Lin 1991; 0 = same
# distribution, ln 2 = disjoint support). The incoming batch is the
# SAME deterministic md5-10% split as corpus_snapshot_delta (one
# definition of "the new crawl" across both panels). A side with no
# mass AT ALL (zero docs — not a distribution) contributes p = 0
# everywhere, so only the present half sums and the score is exactly
# ln2/2: a deliberate sentinel (flagged by n_types_* = 0)
# distinguishable from both agreement (0) and true disjoint-support
# drift between two populated sides (ln 2).
# Plan / 100 TB: one token explode map-side-combined onto the
# (source, token) TYPE table carrying both sides' counts (sub-linear,
# Heaps' law), a sources-sized totals broadcast, and a per-source
# rollup. No windows, no corpus-sized shuffles.
# ---------------------------------------------------------------------------
def corpus_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm import _md5_bucket

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    is_new = _md5_bucket(F.col("doc_id").cast("string"), "#snap", 10) == 0
    tok = docs.select(
        "source",
        is_new.alias("is_new"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    cnt = tok.groupBy("source", "w").agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("c_new"),
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).alias("c_base"),
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c_new").alias("t_new"), F.sum("c_base").alias("t_base")
    )
    j = cnt.join(F.broadcast(tot), "source")
    p = F.when(F.col("t_new") > 0, F.col("c_new") / F.col("t_new")).otherwise(
        F.lit(0.0)
    )
    q = F.when(
        F.col("t_base") > 0, F.col("c_base") / F.col("t_base")
    ).otherwise(F.lit(0.0))
    m = (p + q) / 2.0
    term = F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
        q > 0, 0.5 * q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    return j.groupBy("source").agg(
        F.sum(term).alias("js_divergence"),
        F.sum((F.col("c_new") > 0).cast("int")).cast("bigint").alias("n_types_new"),
        F.sum((F.col("c_base") > 0).cast("int"))
        .cast("bigint")
        .alias("n_types_base"),
        F.sum(((F.col("c_new") > 0) & (F.col("c_base") > 0)).cast("int"))
        .cast("bigint")
        .alias("n_types_shared"),
    )


register(
    corpus_drift_js,
    """
WITH tok AS (
  SELECT source,
         CAST(concat('0x', substr(md5(CAST(doc_id AS STRING) || '#snap'), 1, 8))
              AS BIGINT) % 10 = 0 AS is_new,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), cnt AS (
  SELECT source, w,
         SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS c_new,
         SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS c_base
  FROM tok GROUP BY 1, 2
), tot AS (
  SELECT source, SUM(c_new) AS t_new, SUM(c_base) AS t_base
  FROM cnt GROUP BY 1
), terms AS (
  SELECT cnt.source,
         CASE WHEN t_new > 0 THEN c_new / t_new ELSE 0.0 END AS p,
         CASE WHEN t_base > 0 THEN c_base / t_base ELSE 0.0 END AS q,
         c_new, c_base
  FROM cnt JOIN tot ON cnt.source = tot.source
)
SELECT source,
       SUM(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2.0)) ELSE 0.0 END
           + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2.0)) ELSE 0.0 END)
         AS js_divergence,
       CAST(SUM(CASE WHEN c_new > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_new,
       CAST(SUM(CASE WHEN c_base > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_base,
       CAST(SUM(CASE WHEN c_new > 0 AND c_base > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_types_shared
FROM terms GROUP BY 1
""",
)


# ---------------------------------------------------------------------------
# Gopher-style quality rule panel (Rae et al. 2021, §A1.1): the
# rule-by-rule filter audit a curation pass publishes BEFORE dropping
# documents — per source, how many docs each rule would remove and how
# many survive all of them. Rules (canonical thresholds where they
# exist; the repetition rule is the single-line analog of Gopher's
# duplicate-line family, threshold noted):
#   wordcount  — 50 <= n_tokens <= 100_000
#   meanlen    — mean token length in [3, 10] chars
#   alpha      — >= 80% of tokens contain an alphabetic character
#   stopword   — >= 2 DISTINCT stopwords present (the "real prose" test)
#   repeat     — distinct-token ratio >= 1/3 (single-line analog of the
#                duplicate-line fraction rules; docs below it are
#                boilerplate-grade repetitive)
# A rule that removes nothing on a given corpus still gets its zero —
# the panel reports the rule suite, not just the binding rules.
# Plan / 100 TB: every rule is a per-doc JVM expression (split /
# aggregate / filter higher-order functions, whole-stage codegen); the
# only shuffle is the final sources-sized rollup with map-side partial
# aggregation. No windows, no joins, no Python.
# ---------------------------------------------------------------------------
GOPHER_WC_MIN, GOPHER_WC_MAX = 50, 100_000
GOPHER_MEANLEN_MIN, GOPHER_MEANLEN_MAX = 3.0, 10.0
GOPHER_ALPHA_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 2
GOPHER_DISTINCT_RATIO = 1.0 / 3.0


def _gopher_signal_cols() -> dict:
    """The five per-doc quality SIGNALS (Columns over a ``text`` field)
    and their rule flags — ONE definition shared by the batch panel,
    its streaming twin, AND the round-11 weak-label classifier (the
    datasheet_signals no-drift discipline: the classifier must be
    trained on exactly the gates the panel reports)."""
    from .llm import _STOPWORDS

    toks = F.split("text", " ")
    n_tok = F.size(toks)
    mean_len = F.try_divide(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)),
        n_tok,
    )
    alpha_frac = F.try_divide(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))), n_tok
    )
    n_stop_types = F.size(
        F.filter(F.array_distinct(toks), lambda t: t.isin(*_STOPWORDS))
    )
    distinct_ratio = F.try_divide(F.size(F.array_distinct(toks)), n_tok)
    return {
        "n_tok": n_tok,
        "mean_len": mean_len,
        "alpha_frac": alpha_frac,
        "n_stop_types": n_stop_types,
        "distinct_ratio": distinct_ratio,
        "f_wc": (n_tok < GOPHER_WC_MIN) | (n_tok > GOPHER_WC_MAX),
        "f_ml": (mean_len < GOPHER_MEANLEN_MIN)
        | (mean_len > GOPHER_MEANLEN_MAX),
        "f_al": alpha_frac < GOPHER_ALPHA_FRAC,
        "f_st": n_stop_types < GOPHER_MIN_STOPWORDS,
        "f_rp": distinct_ratio < GOPHER_DISTINCT_RATIO,
    }


def _gopher_flag_frame(docs: DataFrame) -> DataFrame:
    """Per-doc rule flags for a (source, text) frame — selects from the
    shared :func:`_gopher_signal_cols` definition."""
    s = _gopher_signal_cols()
    return docs.select(
        "source",
        s["f_wc"].cast("int").alias("f_wc"),
        s["f_ml"].cast("int").alias("f_ml"),
        s["f_al"].cast("int").alias("f_al"),
        s["f_st"].cast("int").alias("f_st"),
        s["f_rp"].cast("int").alias("f_rp"),
    )


def _gopher_panel(flags: DataFrame) -> DataFrame:
    """Sources-sized rollup of the flag frame — shared by batch and
    streaming twins; every aggregate is additive (count/sum) or a ratio
    of additives (avg), so the update-mode streaming state merges to
    exactly the batch answer."""
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_wc").cast("bigint").alias("fail_wordcount"),
        F.sum("f_ml").cast("bigint").alias("fail_meanlen"),
        F.sum("f_al").cast("bigint").alias("fail_alpha"),
        F.sum("f_st").cast("bigint").alias("fail_stopword"),
        F.sum("f_rp").cast("bigint").alias("fail_repeat"),
        F.sum(
            (
                (F.col("f_wc") + F.col("f_ml") + F.col("f_al")
                 + F.col("f_st") + F.col("f_rp")) == 0
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_pass"),
        F.avg(
            (
                (F.col("f_wc") + F.col("f_ml") + F.col("f_al")
                 + F.col("f_st") + F.col("f_rp")) == 0
            ).cast("double")
        ).alias("pass_rate"),
    )


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gopher_panel(
        _gopher_flag_frame(
            load(spark, sf_dir, "documents").select("source", "text")
        )
    )


def quality_gopher_rules_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming twin of :func:`quality_gopher_rules`: the live
    curation-QA card, maintained as an update-mode per-source aggregate
    over the ingest stream. The flag expressions and the rollup are the
    batch ones verbatim (``_gopher_flag_frame`` / ``_gopher_panel``),
    and every aggregate is additive, so cumulative streaming state per
    source equals the batch panel over everything ingested so far
    (differential-pinned in tests/test_round8c_ops.py with the fixture
    split across micro-batches).

    100 TB note: state is sources-sized (one row per source), the
    stateless flag expressions stream through map tasks — this card is
    free at any ingest rate. Serve via ``ExternalQueryableState`` keyed
    on source (upsert-latest is correct: update-mode output is already
    cumulative)."""
    return _gopher_panel(_gopher_flag_frame(docs_stream))


def _gopher_oracle() -> str:
    from .llm import _STOPWORDS

    stop_in = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
WITH d AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
), m AS (
  SELECT source,
         len(t) AS n_tok,
         list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) AS mean_len,
         len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
           / len(t) AS alpha_frac,
         len(list_filter(list_distinct(t), x -> x IN ({stop_in})))
           AS n_stop_types,
         len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio
  FROM d
), f AS (
  SELECT source,
         CASE WHEN n_tok < {GOPHER_WC_MIN} OR n_tok > {GOPHER_WC_MAX}
              THEN 1 ELSE 0 END AS f_wc,
         CASE WHEN mean_len < {GOPHER_MEANLEN_MIN}
                OR mean_len > {GOPHER_MEANLEN_MAX} THEN 1 ELSE 0 END AS f_ml,
         CASE WHEN alpha_frac < {GOPHER_ALPHA_FRAC} THEN 1 ELSE 0 END AS f_al,
         CASE WHEN n_stop_types < {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END
           AS f_st,
         CASE WHEN distinct_ratio < {GOPHER_DISTINCT_RATIO} THEN 1 ELSE 0 END
           AS f_rp
  FROM m
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f_wc) AS BIGINT) AS fail_wordcount,
       CAST(SUM(f_ml) AS BIGINT) AS fail_meanlen,
       CAST(SUM(f_al) AS BIGINT) AS fail_alpha,
       CAST(SUM(f_st) AS BIGINT) AS fail_stopword,
       CAST(SUM(f_rp) AS BIGINT) AS fail_repeat,
       CAST(SUM(CASE WHEN f_wc + f_ml + f_al + f_st + f_rp = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       AVG(CASE WHEN f_wc + f_ml + f_al + f_st + f_rp = 0
           THEN 1.0 ELSE 0.0 END) AS pass_rate
FROM f GROUP BY 1
"""


register(quality_gopher_rules, _gopher_oracle())


# ---------------------------------------------------------------------------
# N-gram novelty panel: for each held-out split (val, test) and each
# n in {1, 2, 3}, the fraction of DISTINCT n-gram types that never
# occur in the train split — the memorization-risk / generalization
# read-out that complements split_leakage_audit (leakage counts docs
# sharing ANY shingle; novelty measures the type-level overlap mass).
# Composes the release's own _split_expr so the measured splits ARE the
# assigned ones.
# Plan / 100 TB: one token pass per n (constant ×3 in a single union),
# distinct on the (split, n, gram) key, then an eval ⋈ train LEFT
# join on the gram key. No broadcast HINT is given: at test SF the
# size-based planner broadcasts the train gram table (correct — it is
# tiny), and at 100 TB the train side is corpus-sized, blows the
# autoBroadcastJoinThreshold, and AQE plans the shuffled join — the
# same size-adaptive shape as split_leakage_audit. Output is 6 rows.
# ---------------------------------------------------------------------------
NOVELTY_NGRAM_NS = (1, 2, 3)


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm import _split_expr

    docs = load(spark, sf_dir, "documents").select(
        _split_expr(F.col("doc_id")).alias("split"),
        F.split("text", " ").alias("t"),
    )
    frames = []
    for n in NOVELTY_NGRAM_NS:
        grams = F.transform(
            F.sequence(F.lit(1), F.size("t") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("t", i + k) for k in range(n)]
            ),
        )
        frames.append(
            docs.filter(F.size("t") >= n).select(
                "split",
                F.lit(n).cast("int").alias("n"),
                F.explode(grams).alias("gram"),
            )
        )
    g = frames[0]
    for fr in frames[1:]:
        g = g.unionByName(fr)
    d = g.distinct()
    train = d.filter(F.col("split") == "train").select("n", "gram")
    ev = d.filter(F.col("split") != "train")
    hit = train.withColumn("seen", F.lit(1))
    joined = ev.join(hit, ["n", "gram"], "left")
    return joined.groupBy("split", "n").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        F.avg(F.when(F.col("seen").isNull(), 1.0).otherwise(0.0)).alias(
            "novelty_frac"
        ),
    )


def _novelty_oracle() -> str:
    from .llm import _SPLIT_SQL

    legs = []
    for n in NOVELTY_NGRAM_NS:
        concat = " || ' ' || ".join(f"t[i + {k + 1}]" for k in range(n))
        legs.append(
            f"""SELECT split, CAST({n} AS INTEGER) AS n,
       UNNEST(list_transform(range(0, len(t) - {n - 1}), i -> {concat}))
         AS gram
FROM toks WHERE len(t) >= {n}"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH toks AS (
  SELECT {_SPLIT_SQL} AS split, string_split(text, ' ') AS t FROM documents
), g AS (
{union}
), d AS (SELECT DISTINCT split, n, gram FROM g),
tr AS (SELECT DISTINCT n, gram FROM d WHERE split = 'train'),
ev AS (SELECT split, n, gram FROM d WHERE split <> 'train')
SELECT ev.split, ev.n, CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(CASE WHEN tr.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       AVG(CASE WHEN tr.gram IS NULL THEN 1.0 ELSE 0.0 END) AS novelty_frac
FROM ev LEFT JOIN tr ON ev.n = tr.n AND ev.gram = tr.gram
GROUP BY 1, 2
"""


register(text_ngram_novelty, _novelty_oracle())


# ---------------------------------------------------------------------------
# Bradley-Terry preference aggregation (Bradley & Terry 1952; MM
# algorithm per Hunter 2004): the operator a preference-data pipeline
# runs to turn pairwise comparisons into per-item strengths — the
# classical core of RLHF reward-data QA and of arena-style model
# ranking. Comparisons are derived deterministically from the events
# fixture: within each user, every pair of event types is one game,
# won by the type with the higher per-user mean value (ties dropped).
# The MM update p_i <- W_i / sum_j n_ij / (p_i + p_j), renormalized to
# sum 1, runs a FIXED BT_MM_ITERS steps so both engines compute the
# identical iterate (the fixed-step contract of
# embedding_principal_direction; convergence needs every item to have
# >= 1 win — guaranteed on the fixture and asserted in tests).
# Plan / 100 TB: the corpus-sized work is the (user, item) aggregate
# and the within-user pair join (items-squared rows per user, items is
# small and fixed); the wins matrix is items²-bounded, so the MM loop
# runs DRIVER-SIDE on the collected matrix — the kmeans bounded-collect
# discipline. The oracle unrolls the same MM steps as a CTE chain.
# ---------------------------------------------------------------------------
BT_MM_ITERS = 30


def pref_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ua = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.avg("value").alias("v"))
    )
    a = ua.select(
        "user_id", F.col("event_type").alias("ia"), F.col("v").alias("va")
    )
    b = ua.select(
        "user_id", F.col("event_type").alias("ib"), F.col("v").alias("vb")
    )
    pr = a.join(b, "user_id").filter(F.col("ia") < F.col("ib"))
    wp = pr.groupBy("ia", "ib").agg(
        F.sum((F.col("va") > F.col("vb")).cast("int")).alias("w_ab"),
        F.sum((F.col("vb") > F.col("va")).cast("int")).alias("w_ba"),
    )
    m = wp.filter((F.col("w_ab") + F.col("w_ba")) > 0)
    rows = m.collect()  # items²-bounded — event-type count, not corpus

    n: dict[tuple[str, str], int] = {}
    w: dict[str, int] = {}
    g: dict[str, int] = {}
    for r in rows:
        games = r.w_ab + r.w_ba
        n[(r.ia, r.ib)] = n[(r.ib, r.ia)] = games
        w[r.ia] = w.get(r.ia, 0) + r.w_ab
        w[r.ib] = w.get(r.ib, 0) + r.w_ba
        g[r.ia] = g.get(r.ia, 0) + games
        g[r.ib] = g.get(r.ib, 0) + games
    items = sorted(g)
    p = {i: 1.0 / len(items) for i in items}
    for _ in range(BT_MM_ITERS):
        nxt = {
            i: w.get(i, 0)
            / sum(
                n[(i, j)] / (p[i] + p[j]) for j in items if (i, j) in n
            )
            for i in items
        }
        tot = sum(nxt.values())
        p = {i: v / tot for i, v in nxt.items()}
    out = [(i, p[i], w.get(i, 0), g[i]) for i in items]
    return spark.createDataFrame(
        out, "item string, strength double, wins bigint, games bigint"
    )


def _bt_oracle() -> str:
    steps = []
    for k in range(1, BT_MM_ITERS + 1):
        steps.append(
            # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs,
            # and each step references the previous one three times —
            # an inlined 30-step chain explodes exponentially
            f"""x{k} AS MATERIALIZED (
  SELECT m.i AS item, MIN(wt.w_total) / SUM(m.n / (pa.p + pb.p)) AS p
  FROM m JOIN p{k - 1} pa ON pa.item = m.i
         JOIN p{k - 1} pb ON pb.item = m.j
         JOIN wt ON wt.i = m.i
  GROUP BY 1
), p{k} AS MATERIALIZED (
  SELECT item, p / (SELECT SUM(p) FROM x{k}) AS p FROM x{k}
),"""
        )
    unroll = "\n".join(steps)
    return f"""
WITH ua AS (
  SELECT user_id, event_type, AVG(value) AS v FROM events GROUP BY 1, 2
), pr AS (
  SELECT a.event_type AS ia, b.event_type AS ib,
         CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS wa,
         CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS wb
  FROM ua a JOIN ua b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
), wp AS (
  SELECT ia, ib, SUM(wa) AS w_ab, SUM(wb) AS w_ba FROM pr GROUP BY 1, 2
), m AS (
  SELECT ia AS i, ib AS j, w_ab + w_ba AS n, w_ab AS w
  FROM wp WHERE w_ab + w_ba > 0
  UNION ALL
  SELECT ib, ia, w_ab + w_ba, w_ba FROM wp WHERE w_ab + w_ba > 0
), wt AS (
  SELECT i, CAST(SUM(w) AS DOUBLE) AS w_total,
         CAST(SUM(w) AS BIGINT) AS wins,
         CAST(SUM(n) AS BIGINT) AS games
  FROM m GROUP BY 1
), items AS (SELECT DISTINCT i AS item FROM m),
p0 AS (
  SELECT item, 1.0 / (SELECT COUNT(*) FROM items) AS p FROM items
),
{unroll}
fin AS (SELECT item, p FROM p{BT_MM_ITERS})
SELECT wt.i AS item, fin.p AS strength, wt.wins AS wins, wt.games AS games
FROM wt JOIN fin ON fin.item = wt.i
"""


register(pref_bradley_terry, _bt_oracle())


# ---------------------------------------------------------------------------
# BM25 retrieval top-k (Robertson & Zaragoza 2009, Okapi k1/b form):
# the retrieval primitive a curation pipeline uses for targeted corpus
# search — finding the documents most relevant to a probe query
# (contamination hunting, topical subset extraction, eval-set
# sourcing). A fixed deterministic probe-query set scores against the
# corpus; idf is the standard ln(1 + (N - df + 0.5)/(df + 0.5)).
# Plan / 100 TB: the term filter lands BEFORE the tf groupBy, so the
# only corpus-sized pass is the token explode and the shuffle carries
# tf rows for QUERY TERMS ONLY (a constant-sized vocabulary slice);
# df/N/avgdl are 1-row or terms-sized broadcasts; the per-query top-k
# is a rank-limit window planned as WindowGroupLimit (map-side k-row
# heap per query, same shape as text_domain_cap). Ranks are
# deterministic: score desc, then doc_id asc.
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5
#: probe queries (terms drawn from the fixture vocabulary)
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "q_join": ("fast", "merge", "join"),
    "q_stream": ("window", "batch", "stream"),
    "q_orders": ("customer", "order", "data"),
}


def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    dl = docs.select("doc_id", F.size("t").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    all_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    tf = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(*all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES.items() for t in ts],
        "query_id string, term string",
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = idf * (
        F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1
            * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum(term_score).alias("score")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOPK)
        .select(
            "query_id", "doc_id", "score", F.col("rk").cast("int").alias("rk")
        )
    )


def _bm25_oracle() -> str:
    all_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    terms_in = ", ".join(f"'{t}'" for t in all_terms)
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, ts in BM25_QUERIES.items() for t in ts
    )
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), dl AS (SELECT doc_id, len(t) AS dl FROM d),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM d)
  WHERE term IN ({terms_in})
  GROUP BY 1, 2
),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
q(query_id, term) AS (VALUES {qvals}),
per_doc AS (
  SELECT q.query_id, tf.doc_id,
         SUM(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
             * tf.tf * ({BM25_K1} + 1)
             / (tf.tf + {BM25_K1}
                * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))) AS score
  FROM tf JOIN q ON tf.term = q.term
          JOIN dft ON tf.term = dft.term
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rk
  FROM per_doc
)
SELECT query_id, doc_id, score, rk FROM ranked WHERE rk <= {BM25_TOPK}
"""


register(retrieval_bm25_topk, _bm25_oracle())


# ---------------------------------------------------------------------------
# Curriculum phases by sequence length (the "sequence length warmup"
# schedule — train on short documents first and grow the length budget;
# Li et al. 2022's stability/efficiency curriculum): docs are assigned
# to 4 phases by the EXACT quartiles of their token count, and the
# panel reports each phase's per-source composition — what the loader
# will actually feed in each stage. Quartiles of an INTEGER length are
# interpolated halves, exact in binary floating point, so the phase
# boundaries are engine-independent (this is why the curriculum keys on
# length, not on a float quality score whose ulp could flip a
# boundary doc).
# Plan / 100 TB: one pass for lengths, a 1-row exact-percentile
# aggregate broadcast onto the stream (percentile over an int column —
# at true scale swap for approx_percentile with a documented epsilon,
# the thresholds are schedule knobs, not answers), a per-doc CASE, and
# a (phase, source)-sized rollup. No global sort, no window.
# ---------------------------------------------------------------------------
def curriculum_length_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    th = docs.agg(
        F.expr("percentile(n_tok, array(0.25, 0.5, 0.75))").alias("t")
    ).select(
        F.col("t")[0].alias("t1"),
        F.col("t")[1].alias("t2"),
        F.col("t")[2].alias("t3"),
    )
    phased = docs.crossJoin(F.broadcast(th)).select(
        "source",
        "n_tok",
        F.when(F.col("n_tok") <= F.col("t1"), 1)
        .when(F.col("n_tok") <= F.col("t2"), 2)
        .when(F.col("n_tok") <= F.col("t3"), 3)
        .otherwise(4)
        .cast("int")
        .alias("phase"),
    )
    return phased.groupBy("phase", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("n_tok").cast("bigint").alias("min_tok"),
        F.max("n_tok").cast("bigint").alias("max_tok"),
    )


register(
    curriculum_length_phases,
    """
WITH d AS (
  SELECT source, len(string_split(text, ' ')) AS n_tok FROM documents
), th AS (
  SELECT quantile_cont(n_tok, 0.25) AS t1,
         quantile_cont(n_tok, 0.50) AS t2,
         quantile_cont(n_tok, 0.75) AS t3
  FROM d
), p AS (
  SELECT source, n_tok,
         CAST(CASE WHEN n_tok <= t1 THEN 1
                   WHEN n_tok <= t2 THEN 2
                   WHEN n_tok <= t3 THEN 3
                   ELSE 4 END AS INTEGER) AS phase
  FROM d, th
)
SELECT phase, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(MIN(n_tok) AS BIGINT) AS min_tok,
       CAST(MAX(n_tok) AS BIGINT) AS max_tok
FROM p GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# k-anonymity audit (Sweeney 2002): the privacy companion to the regex
# PII panel — group the release's person-adjacent tables by their
# QUASI-IDENTIFIER columns and report how many equivalence classes
# fall below k (and how many records that re-identification risk mass
# covers). The regex audit finds direct identifiers; this finds the
# linkage risk that survives redaction.
# Plan / 100 TB: one keyed aggregate per table (class sizes — bounded
# by QI-combination cardinality, map-side combined), then a 1-row
# rollup per table unioned into the panel. Nothing row-sized leaves
# the aggregate.
# ---------------------------------------------------------------------------
K_ANON_K = 5
#: table -> quasi-identifier columns (the linkable attributes)
K_ANON_QI: dict[str, tuple[str, ...]] = {
    "customer": ("c_mktsegment", "c_nationkey"),
    "supplier": ("s_nationkey",),
}


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for table, qi in K_ANON_QI.items():
        classes = (
            load(spark, sf_dir, table)
            .groupBy(*qi)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        frames.append(
            classes.agg(
                F.lit(table).alias("table_name"),
                F.lit(",".join(qi)).alias("quasi_identifiers"),
                F.lit(K_ANON_K).cast("int").alias("k"),
                F.count(F.lit(1)).alias("n_classes"),
                F.sum((F.col("n") < K_ANON_K).cast("int"))
                .cast("bigint")
                .alias("n_below_k"),
                F.sum(F.when(F.col("n") < K_ANON_K, F.col("n")).otherwise(0))
                .cast("bigint")
                .alias("records_at_risk"),
                F.min("n").cast("bigint").alias("min_class_size"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _k_anon_oracle() -> str:
    legs = []
    for table, qi in K_ANON_QI.items():
        cols = ", ".join(qi)
        legs.append(
            f"""SELECT '{table}' AS table_name,
       '{",".join(qi)}' AS quasi_identifiers,
       CAST({K_ANON_K} AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN n < {K_ANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below_k,
       CAST(SUM(CASE WHEN n < {K_ANON_K} THEN n ELSE 0 END) AS BIGINT)
         AS records_at_risk,
       CAST(MIN(n) AS BIGINT) AS min_class_size
FROM (SELECT {cols}, COUNT(*) AS n FROM {table} GROUP BY {cols})"""
        )
    return "\nUNION ALL\n".join(legs)


register(dq_k_anonymity, _k_anon_oracle())


# ---------------------------------------------------------------------------
# Retrieval evaluation panel: score retrieval_bm25_topk against
# conjunctive-match ground truth (a document is relevant to a probe
# query iff it contains EVERY query term) — per query, the relevant
# count, hits@k, recall@k, and MRR@k. This is the eval loop a
# retrieval-assisted curation pipeline closes before trusting BM25
# triage: ground truth is derivable (boolean AND of term membership),
# so the panel runs with no human labels.
# Plan / 100 TB: ground truth is one per-doc boolean expression per
# probe query (constant-sized union over the query set) aggregated to
# queries-sized counts; the top-k side is retrieval_bm25_topk's plan
# (query-term-sliced shuffle + WindowGroupLimit); the join is on the
# queries-sized key. Output is one row per probe query.
# ---------------------------------------------------------------------------
def retrieval_eval_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    rel_frames = []
    for qid, terms in BM25_QUERIES.items():
        cond = F.lit(True)
        for t in terms:
            cond = cond & F.array_contains("t", t)
        rel_frames.append(
            docs.filter(cond).select(
                F.lit(qid).alias("query_id"), "doc_id"
            )
        )
    rel = rel_frames[0]
    for fr in rel_frames[1:]:
        rel = rel.unionByName(fr)
    n_rel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    topk = retrieval_bm25_topk(spark, sf_dir)
    hits = topk.join(
        rel.withColumn("is_rel", F.lit(1)), ["query_id", "doc_id"], "left"
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce("is_rel", F.lit(0))).cast("bigint").alias(
            "hits_at_k"
        ),
        F.min(F.when(F.col("is_rel") == 1, F.col("rk"))).alias("first_rel_rk"),
    )
    return (
        per_q.join(F.broadcast(n_rel), "query_id")
        .select(
            "query_id",
            "n_relevant",
            "hits_at_k",
            F.try_divide(
                F.col("hits_at_k"),
                F.least(F.col("n_relevant"), F.lit(BM25_TOPK).cast("bigint")),
            ).alias("recall_at_k"),
            F.coalesce(
                F.try_divide(F.lit(1.0), F.col("first_rel_rk")), F.lit(0.0)
            ).alias("mrr_at_k"),
        )
    )


def _retrieval_eval_oracle() -> str:
    legs = []
    for qid, terms in BM25_QUERIES.items():
        conds = " AND ".join(
            f"list_contains(t, '{t}')" for t in terms
        )
        legs.append(
            f"""SELECT '{qid}' AS query_id, doc_id
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
WHERE {conds}"""
        )
    rel_union = "\nUNION ALL\n".join(legs)
    return f"""
WITH topk AS (
{ORACLE["retrieval_bm25_topk"].strip()}
), rel AS (
{rel_union}
), n_rel AS (
  SELECT query_id, COUNT(*) AS n_relevant FROM rel GROUP BY 1
), hits AS (
  SELECT tk.query_id,
         CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel,
         tk.rk
  FROM topk tk LEFT JOIN rel r
    ON tk.query_id = r.query_id AND tk.doc_id = r.doc_id
), per_q AS (
  SELECT query_id, CAST(SUM(is_rel) AS BIGINT) AS hits_at_k,
         MIN(CASE WHEN is_rel = 1 THEN rk END) AS first_rel_rk
  FROM hits GROUP BY 1
)
SELECT p.query_id, CAST(n.n_relevant AS BIGINT) AS n_relevant, p.hits_at_k,
       p.hits_at_k * 1.0 / LEAST(n.n_relevant, {BM25_TOPK}) AS recall_at_k,
       COALESCE(1.0 / p.first_rel_rk, 0.0) AS mrr_at_k
FROM per_q p JOIN n_rel n ON p.query_id = n.query_id
"""


register(retrieval_eval_panel, _retrieval_eval_oracle())


# ---------------------------------------------------------------------------
# DP noisy-count release (Dwork et al. 2006 Laplace mechanism): the
# per-source document counts released with Laplace(Δf/ε) noise
# (Δf = 1 for a counting query), next to the k-anonymity and PII
# panels in the privacy family. The noise draw is DETERMINISTIC from
# md5(source) — the engine-portable inverse-CDF construction the
# weighted sampler uses — which makes the release differentially
# testable across engines; a production release re-seeds per
# publication (the seed, not the mechanism, is the demo
# simplification, stated here honestly).
# Plan / 100 TB: one sources-sized keyed count + a per-row expression
# (uniform → inverse Laplace CDF). Nothing else.
# ---------------------------------------------------------------------------
DP_EPSILON = 1.0


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..tables import load

    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("source"), F.lit("#dp"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(1.0 / DP_EPSILON)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return counts.select(
        "source",
        "n_true",
        u.alias("rand_u"),
        noise.alias("noise"),
        (F.col("n_true") + noise).alias("n_noisy"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


register(
    dp_noisy_counts,
    f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM documents GROUP BY 1
), drawn AS (
  SELECT source, n_true,
         (CAST(CAST(concat('0x', substr(md5(source || '#dp'), 1, 8))
                    AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS rand_u
  FROM counts
)
SELECT source, n_true, rand_u,
       -(1.0 / {DP_EPSILON}) * sign(rand_u - 0.5)
         * ln(1.0 - 2.0 * abs(rand_u - 0.5)) AS noise,
       n_true + (-(1.0 / {DP_EPSILON}) * sign(rand_u - 0.5)
                 * ln(1.0 - 2.0 * abs(rand_u - 0.5))) AS n_noisy,
       CAST({DP_EPSILON} AS DOUBLE) AS epsilon
FROM drawn
""",
)


# ---------------------------------------------------------------------------
# URL canonicalization + host-level dedup keys (round 10 — the crawl
# half of the dedup family: before any content dedup, a web pipeline
# collapses URL aliases and keys work by host). The fixture has no URL
# column, so a deterministic MESSY url is derived per document from
# (source, doc_id) with the alias classes a crawler actually sees —
# scheme/host case variation, explicit default port, trailing slash,
# utm_* tracking params, fragments — using identical arithmetic in both
# engines; the OPERATOR under test is the canonicalizer:
#   lowercase scheme+host, strip the scheme-default port, drop the
#   fragment, drop utm_* params (keeping the rest, order preserved),
#   strip the trailing slash, and key by host minus its 'www.' prefix
#   (the path stays case-sensitive per RFC 3986 §6.2.2.1).
# is_host_rep marks the min-doc_id representative per host key — the
# host-level dedup decision, same representative rule as the content
# dedup family.
# Plan / 100 TB: canonicalization is pure per-row JVM string
# expressions (one scan, no Python); the representative flag is one
# window min over the host key — the only shuffle, keyed on hosts
# (bounded cardinality, heavy hosts are exactly the hot keys a crawl
# frontier shards the same way).
# ---------------------------------------------------------------------------
_MESSY_URL_SQL = """
(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
(CASE WHEN doc_id % 4 < 2 THEN 'WWW.' ELSE 'www.' END) ||
source || '.Example.COM' ||
(CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
'/Path/' || CAST(doc_id % 7 AS STRING) ||
(CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
'?id=' || CAST(doc_id AS STRING) || '&utm_source=feed' ||
(CASE WHEN doc_id % 2 = 0 THEN '&utm_campaign=x&ref=rss' ELSE '' END) ||
(CASE WHEN doc_id % 3 = 0 THEN '#section-2' ELSE '' END)
"""

#: shared (Spark == DuckDB) regex pieces over the messy url column `u`
_URL_SCHEME = "lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
_URL_HOST = "lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1))"
_URL_PORT = "regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]+:([0-9]+)', 1)"
_URL_PATH = "regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)"
_URL_QUERY = "regexp_extract(u, '[?]([^#]*)', 1)"


def _url_canon_sql(
    split_fn: str, filter_fn: str, join_fn: str, sw_fn: str
) -> str:
    """The canonical-url expression, parameterized only by the engines'
    function names (split/filter/join/startswith differ; everything
    else is the shared dialect subset)."""
    scheme, host, port, path, query = (
        _URL_SCHEME,
        _URL_HOST,
        _URL_PORT,
        _URL_PATH,
        _URL_QUERY,
    )
    keep_q = (
        f"{join_fn}({filter_fn}({split_fn}({query}, '&'),"
        f" p -> NOT {sw_fn}(p, 'utm_')), '&')"
    )
    keep_port = (
        f"CASE WHEN {port} = '' THEN ''"
        f" WHEN {scheme} = 'https' AND {port} = '443' THEN ''"
        f" WHEN {scheme} = 'http' AND {port} = '80' THEN ''"
        f" ELSE ':' || {port} END"
    )
    clean_path = (
        f"CASE WHEN {path} <> '/' AND {path} LIKE '%/'"
        f" THEN substr({path}, 1, length({path}) - 1) ELSE {path} END"
    )
    return (
        f"{scheme} || '://' || {host} || {keep_port} || {clean_path}"
        f" || CASE WHEN {keep_q} = '' THEN '' ELSE '?' || {keep_q} END"
    )


def _host_key_sql(sw_fn: str) -> str:
    return (
        f"CASE WHEN {sw_fn}({_URL_HOST}, 'www.')"
        f" THEN substr({_URL_HOST}, 5) ELSE {_URL_HOST} END"
    )


def url_canonicalize_hostdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    canon = _url_canon_sql("split", "filter", "array_join", "startswith")
    raw = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_MESSY_URL_SQL).alias("u")
    )
    keyed = raw.select(
        "doc_id",
        F.expr(canon).alias("canon_url"),
        F.expr(_host_key_sql("startswith")).alias("host_key"),
    )
    w = W.partitionBy("host_key")
    return keyed.select(
        "doc_id",
        "canon_url",
        "host_key",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_host_rep"),
    )


register(
    url_canonicalize_hostdedup,
    f"""
WITH raw AS (
  SELECT doc_id, {_MESSY_URL_SQL} AS u FROM documents
), keyed AS (
  SELECT doc_id,
         {_url_canon_sql("string_split", "list_filter", "array_to_string", "starts_with")}
           AS canon_url,
         {_host_key_sql("starts_with")} AS host_key
  FROM raw
)
SELECT doc_id, canon_url, host_key,
       doc_id = MIN(doc_id) OVER (PARTITION BY host_key) AS is_host_rep
FROM keyed
""",
)


# ---------------------------------------------------------------------------
# Phrase search top-k — multi-token exact-phrase retrieval, the query
# class BM25 (retrieval_bm25_topk) cannot express: unigram bag scoring
# loses adjacency, so "new york" matches docs with the words far
# apart. Classic engines answer phrases from POSITIONAL postings; the
# Spark-native equivalent derives adjacent-bigram postings per row
# (transform over the token array — ZERO self-join: the pos+1
# adjacency is resolved inside the row before the explode) and joins
# them against the query phrases.
#
# Query set: the corpus's own top-3 bigrams (count desc, phrase asc) —
# self-contained and deterministic, no magic phrase constants.
# Relationship to neighbors: text_pmi_bigrams / text_boilerplate_ngrams
# compute corpus-level n-gram STATISTICS; this is per-query document
# RETRIEVAL over the same postings shape.
#
# Plan / 100 TB: the bigram explode is corpus-linear with map-side
# combine into (phrase, doc) partial counts; the query set arrives by
# BROADCAST (3 rows); top-3 selection plans as TakeOrderedAndProject
# (per-partition heap + k-merge, no global window); the only wide
# shuffle keys on phrase — stopword-skewed in natural text, where the
# salting path of the dedup family applies unchanged.
# ---------------------------------------------------------------------------
PHRASE_TOP_QUERIES = 3
PHRASE_TOP_DOCS = 5


def phrase_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    big = docs.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i ->"
                " concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("phrase"),
    )
    top_q = (
        big.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("corpus_freq"))
        .orderBy(F.desc("corpus_freq"), F.asc("phrase"))
        .limit(PHRASE_TOP_QUERIES)
        .select("phrase")
    )
    per_doc = (
        big.join(F.broadcast(top_q), "phrase")
        .groupBy("phrase", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    w = W.partitionBy("phrase").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    return (
        per_doc.withColumn("doc_rank", F.row_number().over(w))
        .filter(F.col("doc_rank") <= PHRASE_TOP_DOCS)
        .select(
            "phrase",
            "doc_id",
            "n_occurrences",
            F.col("doc_rank").cast("int").alias("doc_rank"),
        )
    )


register(
    phrase_search_topk,
    f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(t) - 1),
                               i -> t[i + 1] || ' ' || t[i + 2])) AS phrase
  FROM toks WHERE len(t) >= 2
), top_q AS (
  SELECT phrase FROM big GROUP BY phrase
  ORDER BY COUNT(*) DESC, phrase ASC LIMIT {PHRASE_TOP_QUERIES}
), per_doc AS (
  SELECT b.phrase, b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM big b JOIN top_q USING (phrase) GROUP BY 1, 2
)
SELECT phrase, doc_id, n_occurrences, CAST(rn AS INTEGER) AS doc_rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY phrase
                                   ORDER BY n_occurrences DESC, doc_id ASC)
               AS rn
      FROM per_doc)
WHERE rn <= {PHRASE_TOP_DOCS}
""",
)


# ---------------------------------------------------------------------------
# Entity resolution by blocked dictionary matching — canonicalize dirty
# entity mentions against a clean reference dictionary (the record-
# linkage primitive: product-catalog dedup, author normalization,
# gazetteer matching). Deterministic typos are INJECTED into p_name by
# p_partkey (the _MESSY_URL_SQL discipline — the fixture is clean):
# duplicated char / dropped char / adjacent transposition, all
# edit-distance <= 2 and all preserving the FIRST character.
#
# Two-stage shape every scalable ER system uses:
# 1. BLOCKING — equi-join on a cheap robust key (first char) keeps the
#    candidate space linear in the dictionary; the length band (+-1)
#    prunes further. The dictionary (distinct entity names) is a
#    dimension — broadcast, so blocking is a broadcast HASH join, not
#    a nested loop.
# 2. VERIFY — exact levenshtein only on blocked candidates; argmin per
#    record, ties broken (lev asc, name asc). `is_correct` records
#    honest collisions where a foreign dictionary entry ties or beats
#    the true name — the precision accounting a real linkage run
#    reports.
#
# Plan / 100 TB: one scan of the fact side; dictionary broadcast;
# per-record argmin is a bounded window over the blocked candidates
# (fan-out <= dictionary entries sharing the block key). No all-pairs:
# candidates = records x avg-block-size, not records x dictionary.
# ---------------------------------------------------------------------------
_MESSY_NAME_SQL = """
CASE p_partkey % 4
  WHEN 0 THEN p_name
  WHEN 1 THEN substr(p_name, 1, 3) || substr(p_name, 3)
  WHEN 2 THEN substr(p_name, 1, 1) || substr(p_name, 3)
  ELSE substr(p_name, 1, 1) || substr(p_name, 3, 1)
       || substr(p_name, 2, 1) || substr(p_name, 4)
END
"""

ER_LEV_MAX = 2


def entity_resolution_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    src = part.select(
        "p_partkey",
        "p_name",
        F.expr(_MESSY_NAME_SQL).alias("messy"),
    ).withColumn("bkey", F.substring("messy", 1, 1))
    dict_ = (
        part.select(F.col("p_name").alias("cand"))
        .distinct()
        .withColumn("bkey", F.substring("cand", 1, 1))
    )
    cand = (
        src.join(F.broadcast(dict_), "bkey")
        .filter(F.abs(F.length("messy") - F.length("cand")) <= 1)
        .withColumn("lev", F.levenshtein("messy", "cand"))
        .filter(F.col("lev") <= ER_LEV_MAX)
    )
    w = W.partitionBy("p_partkey").orderBy(F.asc("lev"), F.asc("cand"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            F.col("messy").alias("messy_name"),
            F.col("cand").alias("matched_name"),
            F.col("lev").cast("int").alias("lev_dist"),
            (F.col("cand") == F.col("p_name")).alias("is_correct"),
        )
    )


register(
    entity_resolution_blocking,
    f"""
WITH src AS (
  SELECT p_partkey, p_name, {_MESSY_NAME_SQL} AS messy FROM part
), dict AS (
  SELECT DISTINCT p_name AS cand FROM part
), cand AS (
  SELECT s.p_partkey, s.p_name, s.messy, d.cand,
         levenshtein(s.messy, d.cand) AS lev
  FROM src s JOIN dict d
    ON substr(s.messy, 1, 1) = substr(d.cand, 1, 1)
  WHERE abs(length(s.messy) - length(d.cand)) <= 1
    AND levenshtein(s.messy, d.cand) <= {ER_LEV_MAX}
)
SELECT p_partkey, messy AS messy_name, cand AS matched_name,
       CAST(lev AS INTEGER) AS lev_dist, cand = p_name AS is_correct
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey
                                   ORDER BY lev ASC, cand ASC) AS rn
      FROM cand)
WHERE rn = 1
""",
)


# ---------------------------------------------------------------------------
# Weak-label quality classifier (round 11) — the fastText-quality-filter
# analog (Joulin et al. 2017; the CommonCrawl "is this page
# Wikipedia-grade?" filter of GPT-3/CCNet lineage, distilled here from
# the corpus's OWN rule gates): logistic regression trained on the
# Gopher rule panel's pass/fail verdict as the weak label, over six
# cheap per-doc signals, then the whole corpus is scored with the
# learned soft probability. The panel gives binary gates; the
# classifier gives the RANKING a curation pass thresholds or
# importance-samples against (and generalizes the gates to documents
# near the boundaries). Signals and gates are the SHARED
# _gopher_signal_cols definition — the classifier trains on exactly
# what quality_gopher_rules reports, by construction.
#
# Training: functions/logreg.py's full-batch GD kernel (the reference's
# LogisticRegression.java:71-88 SGD loop re-expressed as Arrow-batched
# partial-gradient passes) — QC_ITERS distributed passes, each an
# Arrow kernel per partition + a (dim)-float driver reduce. The DuckDB
# oracle trains ITS OWN twin by unrolling the same GD recurrence as
# chained CTEs (the logreg_pipeline discipline; measured cross-engine
# weight drift there: ~2e-18, far below the driver's round(…,4) hash).
#
# Plan / 100 TB: the feature frame is one pure-expression scan
# (persisted by the kernel for the training passes); each GD iteration
# is scan + map-side partial gradients (no shuffle — the reduce is
# dim+1 floats to the driver); scoring is one more expression pass
# with the weights as literals. Nothing vocabulary- or pair-shaped.
# ---------------------------------------------------------------------------
QC_DIM = 6
QC_ITERS = 20
QC_LR = 2.0


def _qc_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, features array<double>, label double): bias plus the
    five signals Z-SCORED against the corpus (population moments via a
    1-row aggregate broadcast back with a crossJoin — full-batch GD on
    the raw scales needed ~10× the iterations for the same fit, and
    the oracle's unrolled recurrence is depth-bounded by DuckDB's
    binder, so conditioning the features is the mechanism, not a
    bigger iteration count). Label = passes ALL five Gopher gates."""
    s = _gopher_signal_cols()
    raw = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .select(
            "doc_id",
            F.log(F.lit(1.0) + s["n_tok"]).alias("s1"),
            s["mean_len"].alias("s2"),
            s["alpha_frac"].alias("s3"),
            s["n_stop_types"].cast("double").alias("s4"),
            s["distinct_ratio"].alias("s5"),
            (
                ~(s["f_wc"] | s["f_ml"] | s["f_al"] | s["f_st"] | s["f_rp"])
            )
            .cast("double")
            .alias("label"),
        )
    )
    stats = raw.agg(
        *[F.avg(f"s{i}").alias(f"mu{i}") for i in range(1, 6)],
        *[F.stddev_pop(f"s{i}").alias(f"sd{i}") for i in range(1, 6)],
    )

    def z(i: int):
        sd = F.when(F.col(f"sd{i}") == 0.0, F.lit(1.0)).otherwise(
            F.col(f"sd{i}")
        )
        return (F.col(f"s{i}") - F.col(f"mu{i}")) / sd

    return raw.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        F.array(F.lit(1.0), z(1), z(2), z(3), z(4), z(5)).alias("features"),
        "label",
    )


#: The session memo holds (trained weights, the persisted feature frame
#: they were trained on): the weight vector is a pure function of the
#: (corpus, QC_* constants) pair, and the calibration panel rebuilds the
#: scored frame — without the memo every panel build re-pays the
#: QC_ITERS distributed GD passes (measured: the panel dropped from the
#: registry's most expensive query to roughly the classifier's
#: single-scan scoring cost once the second training run went away).
#: Holding the frame IN the memo entry (rather than re-persisting per
#: call) is what lets eviction unpersist it.
@session_memo
def _qc_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[tuple[float, ...], DataFrame]:
    """(weights, persisted feature frame) for this session and corpus."""
    from pyspark import StorageLevel

    from ..functions.logreg import train

    # persisted across train + score: train() persists only its own
    # (features, label) projection and unpersists it before the scoring
    # pass runs, which would otherwise re-execute the full feature build
    # (corpus scan + the 1-row z-score moments aggregate); the
    # calibration panel's rebuild also reuses this frame via
    # CacheManager plan-dedup
    data = _qc_data(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    w = tuple(
        float(x) for x in train(data, dim=QC_DIM, iterations=QC_ITERS, lr=QC_LR)
    )
    return w, data


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    w, data = _qc_trained(spark, sf_dir)
    wlit = F.array(*[F.lit(float(x)) for x in w])
    dot = F.aggregate(
        F.zip_with("features", wlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-dot))
    return data.select(
        "doc_id",
        F.col("label").cast("int").alias("weak_pass"),
        score.alias("quality_score"),
        (score >= 0.5).alias("pred_pass"),
    )


def _qc_oracle_sql() -> str:
    """The GD loop as a RECURSIVE CTE carrying (iteration, weight list)
    — NOT the logreg_pipeline unrolled-CTE chain: each unrolled step
    binds ~6 scalar-subquery levels deep, and DuckDB's binder caps
    recursion at 128, so the unroll tops out near 20 iterations. The
    recursive form has CONSTANT binder depth at any iteration count
    and reproduces the kernel's recurrence to 1 ulp (prototyped: max
    |Δw| = 1.1e-16 vs NumPy at 20 iterations)."""
    from .llm import _STOPWORDS

    stop_in = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
WITH RECURSIVE m AS (
  SELECT doc_id,
         len(t) AS n_tok,
         list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t) AS mean_len,
         len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
           / len(t) AS alpha_frac,
         len(list_filter(list_distinct(t), x -> x IN ({stop_in})))
           AS n_stop_types,
         len(list_distinct(t)) * 1.0 / len(t) AS distinct_ratio
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
), raw AS (
  SELECT doc_id,
         ln(1.0 + n_tok) AS s1,
         mean_len AS s2,
         alpha_frac AS s3,
         CAST(n_stop_types AS DOUBLE) AS s4,
         distinct_ratio AS s5,
         CASE WHEN (n_tok < {GOPHER_WC_MIN} OR n_tok > {GOPHER_WC_MAX})
                OR (mean_len < {GOPHER_MEANLEN_MIN}
                    OR mean_len > {GOPHER_MEANLEN_MAX})
                OR alpha_frac < {GOPHER_ALPHA_FRAC}
                OR n_stop_types < {GOPHER_MIN_STOPWORDS}
                OR distinct_ratio < {GOPHER_DISTINCT_RATIO}
              THEN 0.0 ELSE 1.0 END AS y
  FROM m
), stats AS (
  SELECT {", ".join(f"AVG(s{i}) AS mu{i}, stddev_pop(s{i}) AS sd{i}" for i in range(1, 6))}
  FROM raw
), data AS (
  SELECT doc_id,
         [1.0,
          {", ".join(
              f"(s{i} - mu{i}) / (CASE WHEN sd{i} = 0.0 THEN 1.0 ELSE sd{i} END)"
              for i in range(1, 6)
          )}] AS f,
         y
  FROM raw CROSS JOIN stats
),
nn AS (SELECT COUNT(*) AS cnt FROM data),
dims AS (SELECT range AS d FROM range(0, {QC_DIM})),
gd(it, w) AS (
  SELECT 0, list_transform(range(0, {QC_DIM}), d -> CAST(0.0 AS DOUBLE))
  UNION ALL
  SELECT it + 1,
         (SELECT list(nw ORDER BY d) FROM (
            SELECT dims.d AS d,
                   gd.w[dims.d + 1]
                   - ({QC_LR} * SUM((1.0 / (1.0
                        + exp(-list_dot_product(gd.w, data.f))) - data.y)
                        * data.f[dims.d + 1]))
                     / (SELECT cnt FROM nn) AS nw
            FROM data CROSS JOIN dims
            GROUP BY dims.d
         ))
  FROM gd WHERE it < {QC_ITERS}
),
wfinal AS (SELECT w FROM gd WHERE it = {QC_ITERS})
SELECT doc_id,
       CAST(y AS INTEGER) AS weak_pass,
       1.0 / (1.0 + exp(-list_dot_product((SELECT w FROM wfinal), f)))
         AS quality_score,
       1.0 / (1.0 + exp(-list_dot_product((SELECT w FROM wfinal), f))) >= 0.5
         AS pred_pass
FROM data
"""


register(quality_classifier_score, _qc_oracle_sql())


# ---------------------------------------------------------------------------
# Classifier calibration panel (round 11) — the estimator-QA companion
# for quality_classifier_score, in the series q49 (HLL/percentile
# sketches) → ann_recall_panel (ANN indexes) → minhash_estimate_error
# (MinHash) → this (the weak-label classifier): a reliability table
# (Guo et al. 2017's ECE binning) over the classifier's own scores.
# Scores are binned into QC_CAL_BINS equal-width probability bins; per
# bin: doc count, mean predicted probability, empirical weak-pass
# rate, and the |confidence − accuracy| gap — plus the corpus-level
# expected calibration error as the count-weighted gap mean, the
# number a threshold-picking curation pass actually needs (a
# mis-calibrated 0.9 is not a 90% precision gate).
#
# Each engine trains and scores its OWN classifier twin and bins its
# own scores (the q49 discipline); bin ids are floor(score·B) clamped
# to B-1, and the measured cross-engine score drift (~1e-16, the
# logreg_pipeline bound) sits 11 orders below a 0.1-wide bin edge.
#
# Plan / 100 TB: one expression pass over the scored frame into a
# B-row keyed aggregate, plus a 1-row total for the weights — nothing
# beyond the classifier's own cost.
# ---------------------------------------------------------------------------
QC_CAL_BINS = 10


def quality_calibration_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = quality_classifier_score(spark, sf_dir)
    b = F.least(
        F.floor(F.col("quality_score") * QC_CAL_BINS).cast("int"),
        F.lit(QC_CAL_BINS - 1),
    )
    bins = (
        scored.select(
            b.alias("bin"),
            "quality_score",
            F.col("weak_pass").cast("double").alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.avg("quality_score").alias("mean_confidence"),
            F.avg("y").alias("empirical_pass_rate"),
        )
    )
    # ECE as a second 1-row aggregate riding back via crossJoin
    # broadcast — NOT a global window (the bins frame is only B rows,
    # but the repo bans unpartitioned Window nodes outside the audited
    # allowlist; the 1-row-aggregate shape is the standing idiom)
    ece = bins.agg(
        (
            F.sum(
                F.col("n_docs")
                * F.abs(
                    F.col("mean_confidence") - F.col("empirical_pass_rate")
                )
            )
            / F.sum("n_docs")
        ).alias("ece")
    )
    return bins.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n_docs",
        "mean_confidence",
        "empirical_pass_rate",
        F.abs(
            F.col("mean_confidence") - F.col("empirical_pass_rate")
        ).alias("calibration_gap"),
        "ece",
    )


register(
    quality_calibration_panel,
    f"""
WITH scored AS (
{ORACLE["quality_classifier_score"].strip()}
), bins AS (
  SELECT CAST(LEAST(CAST(FLOOR(quality_score * {QC_CAL_BINS}) AS INTEGER),
                    {QC_CAL_BINS - 1}) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         AVG(quality_score) AS mean_confidence,
         AVG(CAST(weak_pass AS DOUBLE)) AS empirical_pass_rate
  FROM scored GROUP BY 1
)
SELECT bin, n_docs, mean_confidence, empirical_pass_rate,
       ABS(mean_confidence - empirical_pass_rate) AS calibration_gap,
       (SELECT SUM(n_docs * ABS(mean_confidence - empirical_pass_rate))
               / SUM(n_docs) FROM bins) AS ece
FROM bins
""",
)


# ---------------------------------------------------------------------------
# Epoch/repetition budget panel (round 12) — the data-constrained
# scaling step (Muennighoff et al. 2023, "Scaling Data-Constrained
# Language Models"): once dedup has shifted the per-source token mass,
# how many EPOCHS does each source run at the training budget, and how
# much of the repeated data still counts? Composition closing the
# release-planning loop (VERDICT r11 Next 2c): the per-source UNIQUE
# token mass is the dedup keep-set's (dedup_impact_panel: n_tokens −
# tokens_removed, lang rolled up), the temperature-softened mixture
# weights are re-derived over that DEDUPED mass (the exact re-check
# the impact panel's docstring promises — corpus_mixture_weights
# computes them on raw mass), the budget is MIX_BUDGET_EPOCHS × the
# deduped corpus, and the repetition penalty is the paper's fitted
# exponential: effective tokens after x epochs of U unique =
# U·(min(x,1) + R*·(1 − e^−max(x−1,0)/R*)) with R* = RD_STAR — the
# "repeating data is worth less" decay, continuous at x = 1.
#
# Plan / 100 TB: the keep-set rides the session's _verified_components
# memo (llm.py); everything after the per-source aggregate runs on a
# #sources-row table with totals as 1-row aggregate broadcasts (the
# allowlisted pattern, same as corpus_mixture_weights).
# ---------------------------------------------------------------------------
RD_STAR = 15.0  # the paper's fitted repetition half-life (R_D* ≈ 15)


def epoch_repetition_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .llm import MIX_ALPHA, MIX_BUDGET_EPOCHS, dedup_impact_panel

    per = (
        dedup_impact_panel(spark, sf_dir)
        .groupBy("source")
        .agg(
            (F.sum("n_tokens") - F.sum("tokens_removed"))
            .cast("bigint")
            .alias("unique_tokens")
        )
    )
    tot = per.agg(F.sum("unique_tokens").cast("double").alias("t"))
    w = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("raw_share", F.col("unique_tokens") / F.col("t"))
        .withColumn("pa", F.pow("raw_share", F.lit(MIX_ALPHA)))
    )
    z = w.agg(F.sum("pa").alias("s"))
    b = w.crossJoin(F.broadcast(z)).select(
        "source",
        "unique_tokens",
        (F.col("pa") / F.col("s")).alias("weight"),
        (
            (F.col("pa") / F.col("s"))
            * F.lit(MIX_BUDGET_EPOCHS)
            * F.col("t")
        ).alias("alloc_tokens"),
    )
    epochs = F.col("alloc_tokens") / F.col("unique_tokens")
    reps = F.greatest(epochs - F.lit(1.0), F.lit(0.0))
    eff = F.col("unique_tokens") * (
        F.least(epochs, F.lit(1.0))
        + F.lit(RD_STAR) * (F.lit(1.0) - F.exp(-reps / F.lit(RD_STAR)))
    )
    return b.select(
        "source",
        "unique_tokens",
        "weight",
        "alloc_tokens",
        epochs.alias("epochs"),
        eff.alias("effective_tokens"),
        (eff / F.col("alloc_tokens")).alias("efficiency"),
    )


#: the budget chain as a CTE fragment ending in a `b` relation with
#: (source, unique_tokens, weight, alloc_tokens, epochs) — ONE home
#: shared by the budget panel and the per-epoch schedule below, so the
#: allocation rule cannot diverge between them. Nests the
#: dedup_impact_panel oracle wholesale (the quality_calibration_panel
#: precedent: a CTE body may carry its own WITH RECURSIVE).
def _epoch_budget_ctes() -> str:
    from .llm import MIX_ALPHA, MIX_BUDGET_EPOCHS

    return f"""impact AS (
{ORACLE["dedup_impact_panel"].strip()}
), per AS (
  SELECT source,
         CAST(SUM(n_tokens) - SUM(tokens_removed) AS BIGINT)
           AS unique_tokens
  FROM impact GROUP BY source
), tot AS (SELECT CAST(SUM(unique_tokens) AS DOUBLE) AS t FROM per),
w AS (
  SELECT source, unique_tokens,
         unique_tokens / t AS raw_share,
         POWER(unique_tokens / t, {MIX_ALPHA}) AS pa
  FROM per, tot
), z AS (SELECT SUM(pa) AS s FROM w),
b AS (
  SELECT source, unique_tokens,
         pa / s AS weight,
         (pa / s) * {MIX_BUDGET_EPOCHS} * t AS alloc_tokens,
         (pa / s) * {MIX_BUDGET_EPOCHS} * t / unique_tokens AS epochs
  FROM w, z, tot
)"""


register(
    epoch_repetition_budget,
    f"""
WITH {_epoch_budget_ctes()}
SELECT source, unique_tokens, weight, alloc_tokens, epochs,
       unique_tokens * (LEAST(epochs, 1.0)
         + {RD_STAR} * (1.0 - EXP(-GREATEST(epochs - 1.0, 0.0) / {RD_STAR})))
         AS effective_tokens,
       unique_tokens * (LEAST(epochs, 1.0)
         + {RD_STAR} * (1.0 - EXP(-GREATEST(epochs - 1.0, 0.0) / {RD_STAR})))
         / alloc_tokens AS efficiency
FROM b
""",
)


def mixture_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, epoch) training schedule rows off the budget panel:
    tokens consumed in each epoch (partial final epoch included),
    cumulative effective tokens at that point on the decay curve, and
    the marginal value per token of THAT epoch — the "is another epoch
    of this source worth it" number a mixture re-weighting reads.
    Epoch count per source = ceil(epochs), rounded at 9 dp first so a
    cross-engine float ulp at an integer boundary cannot change the
    row count. Pure composition; the explode fan-out is bounded by
    ceil(epochs) per source (single digits at any corpus shape)."""
    b = epoch_repetition_budget(spark, sf_dir).select(
        "source", "unique_tokens", "epochs"
    )
    n_ep = F.ceil(F.round(F.col("epochs"), 9)).cast("int")
    ex = b.select(
        "source",
        "unique_tokens",
        "epochs",
        F.explode(F.sequence(F.lit(1), n_ep)).alias("epoch_no"),
    )
    u = F.col("unique_tokens").cast("double")

    def eff(x):
        return u * (
            F.least(x, F.lit(1.0))
            + F.lit(RD_STAR)
            * (
                F.lit(1.0)
                - F.exp(-F.greatest(x - F.lit(1.0), F.lit(0.0)) / F.lit(RD_STAR))
            )
        )

    e = F.col("epoch_no").cast("double")
    x_end = F.least(e, F.col("epochs"))
    x_start = e - F.lit(1.0)
    tokens = u * (x_end - x_start)
    marginal = eff(x_end) - eff(x_start)
    return ex.select(
        "source",
        F.col("epoch_no").cast("int").alias("epoch_no"),
        tokens.alias("tokens_this_epoch"),
        eff(x_end).alias("cum_effective"),
        marginal.alias("marginal_effective"),
        (marginal / tokens).alias("marginal_value"),
    )


register(
    mixture_epoch_schedule,
    f"""
WITH {_epoch_budget_ctes()},
ex AS (
  SELECT source, CAST(unique_tokens AS DOUBLE) AS u, epochs,
         CAST(epoch_no AS INTEGER) AS epoch_no
  FROM b, UNNEST(range(1, CAST(CEIL(ROUND(epochs, 9)) AS BIGINT) + 1))
           AS un(epoch_no)
),
x AS (
  SELECT source, u, epoch_no,
         LEAST(CAST(epoch_no AS DOUBLE), epochs) AS x_end,
         CAST(epoch_no AS DOUBLE) - 1.0 AS x_start
  FROM ex
)
SELECT source, epoch_no,
       u * (x_end - x_start) AS tokens_this_epoch,
       u * (LEAST(x_end, 1.0)
         + {RD_STAR} * (1.0 - EXP(-GREATEST(x_end - 1.0, 0.0) / {RD_STAR})))
         AS cum_effective,
       u * (LEAST(x_end, 1.0)
         + {RD_STAR} * (1.0 - EXP(-GREATEST(x_end - 1.0, 0.0) / {RD_STAR})))
       - u * (LEAST(x_start, 1.0)
         + {RD_STAR} * (1.0 - EXP(-GREATEST(x_start - 1.0, 0.0) / {RD_STAR})))
         AS marginal_effective,
       (u * (LEAST(x_end, 1.0)
         + {RD_STAR} * (1.0 - EXP(-GREATEST(x_end - 1.0, 0.0) / {RD_STAR})))
       - u * (LEAST(x_start, 1.0)
         + {RD_STAR} * (1.0 - EXP(-GREATEST(x_start - 1.0, 0.0) / {RD_STAR}))))
       / (u * (x_end - x_start)) AS marginal_value
FROM x
""",
)
