"""Data-audit operators: the Deequ/Great-Expectations-shaped surface of the
validation engine, plus corpus-level distribution drift and crawl planning.

The flagship ``validate()`` pipeline evaluates *configured* constraints; a
production validation engine also needs the inverse direction — profile an
unknown table and *propose* the constraints (the Deequ "constraint
suggestion" workflow, Schelter et al., VLDB 2018), audit functional
dependencies, and score corpus-level distribution drift between crawl
snapshots. Each query here is the one-pass Spark shape of that workflow over
the shared ``_derived_pages`` fixture (or ``documents``), paired with a
bit-identical DuckDB oracle.

Reference analog: none in wfloutier/skyline — these extend the engine's
validation scope per the north rule ("schema + constraint validation engine:
column stats, uniqueness, referential, distribution-drift checks"), the same
way the sketch family extends the checkpoint digests.

Cross-engine float discipline (the PSI/ccnet pattern throughout): every
ratio is a single correctly-rounded division of exact int64s followed by the
portable r6 floor-rounding; the JS divergence's one transcendental, ln, is
floor-quantized at 2^20 from an argument built of exact-int products, and
its per-lang sums are pure int64 addition — associative under any
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import text as X
from .crawl_queries import _canon_url_sql
from .flagship_queries import _ALLOWED_LANGS, _PAGES_SQL, _derived_pages
from .registry import load, query
from .text_queries import (
    DUP_3GRAM_FRAC_T,
    FILTER_MIN_QUALITY,
    FILTER_MIN_TOKENS,
    _DUP3_SQL,
    _dupf_expr,
    _spread,
    _tgs_expr,
    _url_raw_expr,
    url_canonical_expr,
    word_grams_sql,
)

__all__ = [
    "column_profile",
    "constraint_suggestion",
    "fd_check",
    "corpus_divergence_js",
    "ngram_dup_rate",
    "crawl_fetch_plan",
    "lang_confusion_matrix",
    "source_scorecard",
    "expectations_enforce",
]


# ---------------------------------------------------------------------------
# shared single-pass profile aggregate (column_profile + constraint_suggestion)
# ---------------------------------------------------------------------------
#
# One wide aggregate row over the pages table: row count, per-column non-null
# counts, per-column exact distinct counts, text-length moments, timestamp
# range, and the sorted lang domain. Spark compiles the multi-column
# count(DISTINCT) into ONE Expand-based aggregate (rows × 5 before the
# partial agg — the standard multi-distinct plan; at 10^12 rows each
# count(DISTINCT c) becomes approx_count_distinct / the checkpoint HLL, which
# this engine already carries — plans/stats.py uses exactly that swap). The
# oracle is exact, so the test-scale profile stays exact too.

_PROFILE_COLS = ["url", "warc_ts", "text", "lang"]  # html = binary twin of text

_PROFILE_AGG_SQL = (
    _PAGES_SQL
    + """
, prof AS (
  SELECT count(*)::BIGINT AS n,
         count(url)::BIGINT AS nn_url,
         count(warc_ts)::BIGINT AS nn_warc_ts,
         count(text)::BIGINT AS nn_text,
         count(lang)::BIGINT AS nn_lang,
         count(DISTINCT url)::BIGINT AS nd_url,
         count(DISTINCT warc_ts)::BIGINT AS nd_warc_ts,
         count(DISTINCT text)::BIGINT AS nd_text,
         count(DISTINCT lang)::BIGINT AS nd_lang,
         min(length(text))::BIGINT AS len_min,
         max(length(text))::BIGINT AS len_max,
         sum(length(text))::BIGINT AS len_sum,
         min(warc_ts) AS ts_min,
         max(warc_ts) AS ts_max,
         string_agg(DISTINCT lang, ',' ORDER BY lang) AS lang_domain
  FROM pages
)"""
)


def _profile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _derived_pages(spark, sf_dir)
    aggs = [F.count("*").cast("long").alias("n")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).cast("long").alias(f"nn_{c}"))
    for c in _PROFILE_COLS:
        aggs.append(F.countDistinct(c).cast("long").alias(f"nd_{c}"))
    aggs += [
        F.min(F.length("text")).cast("long").alias("len_min"),
        F.max(F.length("text")).cast("long").alias("len_max"),
        F.sum(F.length("text")).cast("long").alias("len_sum"),
        F.min("warc_ts").alias("ts_min"),
        F.max("warc_ts").alias("ts_max"),
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias(
            "lang_domain"
        ),
    ]
    return pages.agg(*aggs)


def _ratio(num: F.Column, den: F.Column) -> F.Column:
    """r6 of one correctly-rounded int64/int64 division (both engines).
    NULL when the denominator is 0 (an empty table/column) — guarded
    identically in the oracles via :func:`_ratio_sql`; unguarded, ANSI
    Spark throws DIVIDE_BY_ZERO where DuckDB yields NaN."""
    return F.when(den != 0, X.r6(num.cast("double") / den.cast("double")))


def _ratio_sql(num: str, den: str) -> str:
    return f"CASE WHEN {den} <> 0 THEN {X.r6_sql(f'{num}::DOUBLE / {den}::DOUBLE')} END"


_COLUMN_PROFILE_ORACLE = (
    _PROFILE_AGG_SQL
    + "\n"
    + "\nUNION ALL\n".join(
        [
            f"SELECT '{c}' AS col_name, 'completeness' AS metric, "
            f"{_ratio_sql(f'nn_{c}', 'n')} AS value FROM prof"
            for c in _PROFILE_COLS
        ]
        + [
            f"SELECT '{c}', 'distinct_count', nd_{c}::DOUBLE FROM prof"
            for c in _PROFILE_COLS
        ]
        + [
            f"SELECT '{c}', 'distinctness', "
            f"{_ratio_sql(f'nd_{c}', f'nn_{c}')} FROM prof"
            for c in _PROFILE_COLS
        ]
        + [
            "SELECT 'text', 'len_min', len_min::DOUBLE FROM prof",
            "SELECT 'text', 'len_max', len_max::DOUBLE FROM prof",
            "SELECT 'text', 'len_avg', "
            + _ratio_sql("len_sum", "nn_text")
            + " FROM prof",
            "SELECT 'warc_ts', 'epoch_min', floor(epoch(ts_min))::DOUBLE FROM prof",
            "SELECT 'warc_ts', 'epoch_max', floor(epoch(ts_max))::DOUBLE FROM prof",
        ]
    )
    + "\nORDER BY col_name, metric"
)


@query(
    "column_profile",
    _COLUMN_PROFILE_ORACLE,
    doc="Deequ-style single-pass column profiler over the synthesized pages "
        "table, long format (col_name, metric, value): completeness, exact "
        "distinct_count/distinctness per column (the multi-distinct Expand "
        "aggregate; at 10^12 rows each swaps to the checkpoint's HLL — "
        "plans/stats.py already makes that trade), text-length min/avg/max "
        "and the warc_ts epoch range — the profile a validation engine "
        "computes BEFORE any constraint is configured; every ratio is one "
        "correctly-rounded int64 division + portable r6",
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _profile_agg(spark, sf_dir)
    rows = []
    for c in _PROFILE_COLS:
        rows.append((F.lit(c), F.lit("completeness"), _ratio(F.col(f"nn_{c}"), F.col("n"))))
        rows.append((F.lit(c), F.lit("distinct_count"), F.col(f"nd_{c}").cast("double")))
        rows.append((F.lit(c), F.lit("distinctness"), _ratio(F.col(f"nd_{c}"), F.col(f"nn_{c}"))))
    rows += [
        (F.lit("text"), F.lit("len_min"), F.col("len_min").cast("double")),
        (F.lit("text"), F.lit("len_max"), F.col("len_max").cast("double")),
        (F.lit("text"), F.lit("len_avg"), _ratio(F.col("len_sum"), F.col("nn_text"))),
        # cast ts→long truncates sub-second toward zero; floor(epoch()) in
        # the oracle matches for every post-epoch timestamp
        (F.lit("warc_ts"), F.lit("epoch_min"), F.col("ts_min").cast("long").cast("double")),
        (F.lit("warc_ts"), F.lit("epoch_max"), F.col("ts_max").cast("long").cast("double")),
    ]
    structs = F.array(
        *[
            F.struct(c.alias("col_name"), m.alias("metric"), v.alias("value"))
            for c, m, v in rows
        ]
    )
    return (
        p.select(F.explode(structs).alias("r"))
        .select("r.col_name", "r.metric", "r.value")
        .orderBy("col_name", "metric")
    )


# ---------------------------------------------------------------------------
# constraint suggestion (the Deequ suggestion engine, from the same profile)
# ---------------------------------------------------------------------------
#
# Rules, applied uniformly per column so the output is a deterministic
# function of the profile:
#   completeness family: nn == n            → not_null        (support 1)
#                        otherwise          → completeness_ge floor-2dp
#   uniqueness family:   nd == nn           → unique           (support 1)
#                        otherwise          → distinctness_ge floor-2dp
#   categorical domain:  string col, nd<=16 → is_in sorted-csv (support 1)
#   value range:         text               → length_between min..max
#                        warc_ts            → ts_between yyyy-mm-dd..yyyy-mm-dd
#
# The suggestions describe OBSERVED data — the planted 'error' lang lands in
# the is_in domain and the dup-day urls pull url's distinctness below 1.
# Promoting a suggestion to an enforced rule is the human step, exactly as in
# Deequ; the point of the query is that the engine derives the candidate
# rules in one profile pass.

_MAX_DOMAIN = 16


def _pct_floor_sql(num: str, den: str) -> str:
    # floor to 2dp as a string: '0.' || lpad((num*100)//den, 2, '0')
    return f"'0.' || lpad((({num}) * 100 // ({den}))::VARCHAR, 2, '0')"


# every arm is gated on n > 0: an EMPTY table yields zero suggestions (no
# data, no proposals) — ungated, the pct floor divides by zero and Spark's
# empty collect_set ('') disagrees with DuckDB's empty string_agg (NULL)
_SUGGESTION_ARMS_SQL = []
for _c in _PROFILE_COLS:
    _SUGGESTION_ARMS_SQL.append(
        f"SELECT '{_c}' AS col_name, "
        f"CASE WHEN nn_{_c} = n THEN 'not_null' ELSE 'completeness_ge' END AS constraint_kind, "
        f"CASE WHEN nn_{_c} = n THEN '' ELSE {_pct_floor_sql(f'nn_{_c}', 'n')} END AS params, "
        f"{_ratio_sql(f'nn_{_c}', 'n')} AS support FROM prof WHERE n > 0"
    )
    _SUGGESTION_ARMS_SQL.append(
        f"SELECT '{_c}', "
        f"CASE WHEN nd_{_c} = nn_{_c} THEN 'unique' ELSE 'distinctness_ge' END, "
        f"CASE WHEN nd_{_c} = nn_{_c} THEN '' ELSE {_pct_floor_sql(f'nd_{_c}', f'nn_{_c}')} END, "
        # _ratio_sql, not a bare division: an all-NULL column in a NON-empty
        # table has nn_c = 0, where DuckDB 0.0/0.0 = NaN but Spark's guarded
        # _ratio is NULL — the same class of divergence the n > 0 gate fixes
        f"{_ratio_sql(f'nd_{_c}', f'nn_{_c}')} FROM prof WHERE n > 0"
    )
_SUGGESTION_ARMS_SQL += [
    f"SELECT 'lang', 'is_in', lang_domain, 1.0 FROM prof "
    f"WHERE n > 0 AND nd_lang <= {_MAX_DOMAIN}",
    "SELECT 'text', 'length_between', len_min::VARCHAR || '..' || len_max::VARCHAR, "
    "1.0 FROM prof WHERE n > 0",
    "SELECT 'warc_ts', 'ts_between', strftime(ts_min, '%Y-%m-%d') || '..' || "
    "strftime(ts_max, '%Y-%m-%d'), 1.0 FROM prof WHERE n > 0",
]

_CONSTRAINT_SUGGESTION_ORACLE = (
    _PROFILE_AGG_SQL
    + "\n"
    + "\nUNION ALL\n".join(_SUGGESTION_ARMS_SQL)
    + "\nORDER BY col_name, constraint_kind"
)


@query(
    "constraint_suggestion",
    _CONSTRAINT_SUGGESTION_ORACLE,
    doc="Deequ-style constraint-suggestion engine (Schelter et al. 2018) "
        "from the one-pass profile: not_null / completeness_ge, unique / "
        "distinctness_ge per column, is_in over small categorical domains, "
        "length_between and ts_between ranges — the rules a validation "
        "engine PROPOSES for an unprofiled table before a human promotes "
        "them; suggestions describe observed data, so the planted 'error' "
        "lang lands inside the suggested domain and dup-day urls pull the "
        "url distinctness suggestion below 1",
)
def constraint_suggestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _profile_agg(spark, sf_dir)
    n = F.col("n")
    rows = []
    for c in _PROFILE_COLS:
        nn, nd = F.col(f"nn_{c}"), F.col(f"nd_{c}")
        rows.append(
            (
                F.lit(c),
                F.when(nn == n, F.lit("not_null")).otherwise(F.lit("completeness_ge")),
                F.when(nn == n, F.lit("")).otherwise(_pct_floor2(nn, n)),
                _ratio(nn, n),
            )
        )
        rows.append(
            (
                F.lit(c),
                F.when(nd == nn, F.lit("unique")).otherwise(F.lit("distinctness_ge")),
                F.when(nd == nn, F.lit("")).otherwise(_pct_floor2(nd, nn)),
                _ratio(nd, nn),
            )
        )
    # ONE concatenated struct array exploded once — a separate union branch
    # would embed the corpus-profile subtree twice in the plan
    per_col = F.array(
        *[
            F.struct(
                c.alias("col_name"),
                k.alias("constraint_kind"),
                pa.alias("params"),
                s.alias("support"),
            )
            for c, k, pa, s in rows
        ]
    )
    empty = F.array().cast(
        "array<struct<col_name:string,constraint_kind:string,"
        "params:string,support:double>>"
    )
    suggestions = F.concat(
        per_col,
        F.when(
            F.col("nd_lang") <= _MAX_DOMAIN,
            F.array(
                F.struct(
                    F.lit("lang").alias("col_name"),
                    F.lit("is_in").alias("constraint_kind"),
                    F.col("lang_domain").alias("params"),
                    F.lit(1.0).alias("support"),
                )
            ),
        ).otherwise(empty),
        F.array(
            F.struct(
                F.lit("text").alias("col_name"),
                F.lit("length_between").alias("constraint_kind"),
                F.concat(
                    F.col("len_min").cast("string"),
                    F.lit(".."),
                    F.col("len_max").cast("string"),
                ).alias("params"),
                F.lit(1.0).alias("support"),
            ),
            F.struct(
                F.lit("warc_ts").alias("col_name"),
                F.lit("ts_between").alias("constraint_kind"),
                F.concat(
                    F.date_format("ts_min", "yyyy-MM-dd"),
                    F.lit(".."),
                    F.date_format("ts_max", "yyyy-MM-dd"),
                ).alias("params"),
                F.lit(1.0).alias("support"),
            ),
        ),
    )
    # n > 0 gate (oracle twin: WHERE n > 0 on every arm): empty table →
    # zero suggestions; explode of the empty array drops the profile row
    return (
        p.select(F.explode(F.when(n > 0, suggestions).otherwise(empty)).alias("r"))
        .select("r.col_name", "r.constraint_kind", "r.params", "r.support")
        .orderBy("col_name", "constraint_kind")
    )


def _pct_floor2(num: F.Column, den: F.Column) -> F.Column:
    """'0.NN' with NN = floor(num*100/den) — exact integer arithmetic."""
    pct = ((num * 100) - F.pmod(num * 100, den)) / den
    return F.concat(F.lit("0."), F.lpad(pct.cast("long").cast("string"), 2, "0"))


# ---------------------------------------------------------------------------
# functional-dependency audit
# ---------------------------------------------------------------------------

_FD_ORACLE = (
    _PAGES_SQL
    + """
, per_url AS (
  SELECT url,
         count(*)::BIGINT AS n_rows,
         count(DISTINCT lang)::BIGINT AS nd_lang,
         count(DISTINCT coalesce(length(text), -1))::BIGINT AS nd_len
  FROM pages GROUP BY url
)
SELECT fd, n_keys, violating_keys, violating_rows,
       (violating_keys = 0) AS holds
FROM (
  -- coalesce: sums over an EMPTY table are NULL in both engines; an empty
  -- table has zero violations and the FD holds vacuously
  SELECT 'url->lang' AS fd,
         count(*)::BIGINT AS n_keys,
         coalesce(sum((nd_lang > 1)::INT), 0)::BIGINT AS violating_keys,
         coalesce(sum(CASE WHEN nd_lang > 1 THEN n_rows ELSE 0 END), 0)::BIGINT AS violating_rows
  FROM per_url
  UNION ALL
  SELECT 'url->text_len',
         count(*)::BIGINT,
         coalesce(sum((nd_len > 1)::INT), 0)::BIGINT,
         coalesce(sum(CASE WHEN nd_len > 1 THEN n_rows ELSE 0 END), 0)::BIGINT
  FROM per_url
)
ORDER BY fd
"""
)


@query(
    "fd_check",
    _FD_ORACLE,
    doc="functional-dependency audit: does url determine lang (holds by "
        "construction) and text_len (violated — the planted dup-day urls "
        "collapse many rows with different lengths/nulls onto one key)? "
        "ONE hash shuffle: groupBy(url) computing both RHS distinct counts "
        "(NULL folded to -1 so nullability differences count as "
        "violations), then a tiny two-row rollup; at 10^12 rows this is "
        "the same plan with the per-key frame partial-aggregated map-side",
)
def fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _derived_pages(spark, sf_dir)
    per_url = pages.groupBy("url").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("lang").cast("long").alias("nd_lang"),
        F.countDistinct(F.coalesce(F.length("text"), F.lit(-1)))
        .cast("long")
        .alias("nd_len"),
    )
    # both FDs roll up from the same per-key frame in one pass
    zero = F.lit(0).cast("long")
    roll = per_url.agg(
        F.count("*").cast("long").alias("n_keys"),
        # coalesce: sums over an empty frame are NULL; zero violations and
        # a vacuously-holding FD is the right empty-table answer
        F.coalesce(F.sum((F.col("nd_lang") > 1).cast("int")).cast("long"), zero).alias("vk_lang"),
        F.coalesce(
            F.sum(F.when(F.col("nd_lang") > 1, F.col("n_rows")).otherwise(0)).cast("long"), zero
        ).alias("vr_lang"),
        F.coalesce(F.sum((F.col("nd_len") > 1).cast("int")).cast("long"), zero).alias("vk_len"),
        F.coalesce(
            F.sum(F.when(F.col("nd_len") > 1, F.col("n_rows")).otherwise(0)).cast("long"), zero
        ).alias("vr_len"),
    )
    out = roll.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("url->lang").alias("fd"),
                    F.col("n_keys").alias("n_keys"),
                    F.col("vk_lang").alias("violating_keys"),
                    F.col("vr_lang").alias("violating_rows"),
                ),
                F.struct(
                    F.lit("url->text_len").alias("fd"),
                    F.col("n_keys").alias("n_keys"),
                    F.col("vk_len").alias("violating_keys"),
                    F.col("vr_len").alias("violating_rows"),
                ),
            )
        ).alias("r")
    ).select("r.fd", "r.n_keys", "r.violating_keys", "r.violating_rows")
    return out.withColumn("holds", F.col("violating_keys") == 0).orderBy("fd")


# ---------------------------------------------------------------------------
# corpus-level distribution drift: Jensen-Shannon divergence between snapshots
# ---------------------------------------------------------------------------
#
# PSI (flagship_queries.drift_psi) scores ONE column's bucketed shape day
# over day; this scores the whole TOKEN DISTRIBUTION between two crawl
# snapshots per language — the corpus-drift gauge a training-data pipeline
# watches across crawls (vocabulary shift, boilerplate changes, spam bursts).
# JS = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m=(p+q)/2 — symmetric, bounded by ln 2,
# zero iff the distributions match.
#
# Snapshot A = documents as-is; snapshot B = documents with a PLANTED
# vocabulary shift: lang 'de' loses every occurrence of the token 'value'
# (an SQL-expressible transform both engines apply identically, the
# _derived_pages planting pattern). Every other lang is byte-identical in
# both snapshots, so its JS is exactly 0 — ln(1) quantizes to 0 — and only
# 'de' must report drifted.
#
# Exactness: with p_i = ca_i/Ta, q_i = cb_i/Tb, the log ratio
# p_i/m_i = 2·ca_i·Tb / (ca_i·Tb + cb_i·Ta) is a ratio of exact int64
# products (< 2^53 at any per-lang corpus this sandbox reaches — the PSI
# clamp note applies beyond that); ln is floor-quantized at 2^20, per-lang
# sums Σ ca_i·l_fp are pure int64, and the final js double is the same
# 3-operation expression in both engines.
#
# Known residual risk (accepted): the quantization assumes JVM Math.log and
# DuckDB's libm log agree to the last ulp at every argument the fixture
# produces; a 1-ulp disagreement exactly at a floor knife-edge would flip
# one l_fp by 1. The same pattern holds for PSI/ccnet and has never flaked;
# if it ever does, widen the margin (floor(x·S + 0.5 ± eps) band) or route
# ln through a shared lookup table.

_JS_LN_SCALE = 1 << 20
_JS_DRIFT_T = 0.005
_JS_SHIFT_LANG = "de"
_JS_SHIFT_TOKEN = "value"

_JS_ORACLE = f"""
WITH snap AS (
  SELECT lang, text AS text_a,
         CASE WHEN lang = '{_JS_SHIFT_LANG}'
              THEN replace(text, '{_JS_SHIFT_TOKEN}', '')
              ELSE text END AS text_b
  FROM documents
), toks AS (
  SELECT lang, t, 1::BIGINT AS ca, 0::BIGINT AS cb
  FROM snap, unnest({X.tokens_sql("text_a")}) AS u(t)
  UNION ALL
  SELECT lang, t, 0::BIGINT, 1::BIGINT
  FROM snap, unnest({X.tokens_sql("text_b")}) AS u(t)
), cnt AS (
  SELECT lang, t, sum(ca)::BIGINT AS ca, sum(cb)::BIGINT AS cb
  FROM toks GROUP BY lang, t
), tot AS (
  SELECT lang, sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb,
         count(*)::BIGINT AS vocab
  FROM cnt GROUP BY lang
), terms AS (
  SELECT c.lang, c.ca, c.cb, t.ta, t.tb,
         c.ca::DOUBLE * t.tb::DOUBLE + c.cb::DOUBLE * t.ta::DOUBLE AS den,
         CASE WHEN c.ca > 0 THEN floor(ln(
           (2.0 * (c.ca::DOUBLE * t.tb::DOUBLE)) /
           (c.ca::DOUBLE * t.tb::DOUBLE + c.cb::DOUBLE * t.ta::DOUBLE)
         ) * {_JS_LN_SCALE} + 0.5)::BIGINT ELSE 0 END AS la_fp,
         CASE WHEN c.cb > 0 THEN floor(ln(
           (2.0 * (c.cb::DOUBLE * t.ta::DOUBLE)) /
           (c.ca::DOUBLE * t.tb::DOUBLE + c.cb::DOUBLE * t.ta::DOUBLE)
         ) * {_JS_LN_SCALE} + 0.5)::BIGINT ELSE 0 END AS lb_fp
  FROM cnt c JOIN tot t ON t.lang = c.lang
), summed AS (
  SELECT lang, max(ta)::BIGINT AS tokens_a, max(tb)::BIGINT AS tokens_b,
         count(*)::BIGINT AS vocab,
         sum(ca * la_fp)::BIGINT AS s1, sum(cb * lb_fp)::BIGINT AS s2
  FROM terms GROUP BY lang
)
SELECT lang, tokens_a, tokens_b, vocab,
       {X.r6_sql(f"(s1::DOUBLE / (2.0 * tokens_a::DOUBLE) + s2::DOUBLE / (2.0 * tokens_b::DOUBLE)) / {float(_JS_LN_SCALE)}")} AS js,
       ({X.r6_sql(f"(s1::DOUBLE / (2.0 * tokens_a::DOUBLE) + s2::DOUBLE / (2.0 * tokens_b::DOUBLE)) / {float(_JS_LN_SCALE)}")} > {_JS_DRIFT_T}) AS drifted
FROM summed ORDER BY lang
"""


def _js_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, token, ca, cb) counts across the two snapshots — the one
    corpus-sized shuffle (exactly two corpus scans, one per snapshot;
    plan-shape-pinned on this pre-checkpoint frame)."""
    docs = load(spark, sf_dir, "documents")
    text_b = F.when(
        F.col("lang") == _JS_SHIFT_LANG,
        F.replace(F.col("text"), F.lit(_JS_SHIFT_TOKEN), F.lit("")),
    ).otherwise(F.col("text"))
    a = docs.select(
        "lang",
        F.explode(X.tokens_expr(F.col("text"))).alias("t"),
        F.lit(1).cast("long").alias("ca"),
        F.lit(0).cast("long").alias("cb"),
    )
    b = docs.select(
        "lang",
        F.explode(X.tokens_expr(text_b)).alias("t"),
        F.lit(0).cast("long").alias("ca"),
        F.lit(1).cast("long").alias("cb"),
    )
    return (
        a.unionAll(b)
        .groupBy("lang", "t")
        .agg(F.sum("ca").cast("long").alias("ca"), F.sum("cb").cast("long").alias("cb"))
    )


@query(
    "corpus_divergence_js",
    _JS_ORACLE,
    doc="corpus-level distribution drift between two crawl snapshots: "
        "per-lang Jensen-Shannon divergence of the unigram token "
        "distributions (symmetric, bounded by ln 2 — the cross-crawl twin "
        "of drift_psi's one-column day-over-day shape score); snapshot B "
        f"plants a vocabulary shift (lang '{_JS_SHIFT_LANG}' loses the "
        f"token '{_JS_SHIFT_TOKEN}'), so exactly that lang must report "
        "drifted and every other lang's JS is exactly 0; ln floor-"
        "quantized at 2^20 from exact-int products, per-lang sums pure "
        "int64 (order-free), two corpus scans (two snapshots), ONE token "
        "shuffle",
)
def corpus_divergence_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lineage cut (the drift_psi pattern): without it the lang-totals side
    # re-plans the whole corpus subtree — 4 corpus scans, not 2
    cnt = _js_token_counts(spark, sf_dir).localCheckpoint(eager=False)
    tot = cnt.groupBy("lang").agg(
        F.sum("ca").cast("long").alias("ta"),
        F.sum("cb").cast("long").alias("tb"),
    )
    j = cnt.join(F.broadcast(tot), "lang")
    ca_d = F.col("ca").cast("double")
    cb_d = F.col("cb").cast("double")
    ta_d = F.col("ta").cast("double")
    tb_d = F.col("tb").cast("double")
    den = ca_d * tb_d + cb_d * ta_d
    ln_scale = F.lit(float(_JS_LN_SCALE))
    la = F.when(
        F.col("ca") > 0,
        F.floor(F.ln((F.lit(2.0) * (ca_d * tb_d)) / den) * ln_scale + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    lb = F.when(
        F.col("cb") > 0,
        F.floor(F.ln((F.lit(2.0) * (cb_d * ta_d)) / den) * ln_scale + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    summed = (
        j.select("lang", "ca", "cb", "ta", "tb", la.alias("la_fp"), lb.alias("lb_fp"))
        .groupBy("lang")
        .agg(
            F.max("ta").cast("long").alias("tokens_a"),
            F.max("tb").cast("long").alias("tokens_b"),
            F.count("*").cast("long").alias("vocab"),
            F.sum(F.col("ca") * F.col("la_fp")).cast("long").alias("s1"),
            F.sum(F.col("cb") * F.col("lb_fp")).cast("long").alias("s2"),
        )
    )
    js = X.r6(
        (
            F.col("s1").cast("double") / (F.lit(2.0) * F.col("tokens_a").cast("double"))
            + F.col("s2").cast("double") / (F.lit(2.0) * F.col("tokens_b").cast("double"))
        )
        / F.lit(float(_JS_LN_SCALE))
    )
    return summed.select(
        "lang",
        "tokens_a",
        "tokens_b",
        "vocab",
        js.alias("js"),
        (js > _JS_DRIFT_T).alias("drifted"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Wimbd-style n-gram duplication analysis
# ---------------------------------------------------------------------------
#
# "What's In My Big Data?" (Elazar et al. 2024) reports, per corpus slice,
# how much of the n-gram mass is duplicated and which n-grams dominate —
# the summary that catches boilerplate floods before they hit training.
# Occurrence-counted trigrams (NOT the per-doc-distinct shingles the dedup
# family uses — duplication mass needs every occurrence).

_NGRAM_K = 3
# the Spark side builds grams with text_queries._tgs_expr, whose k is fixed
# at 3 — changing _NGRAM_K alone would silently update only the oracle.
# A raise (not assert) so the guard survives `python -O`.
if _NGRAM_K != 3:
    raise ValueError(
        "ngram_dup_rate's Spark side (_tgs_expr) is 3-gram-only; "
        "update both sides together"
    )

_NGRAM_ORACLE = f"""
WITH toks AS (
  SELECT lang, {X.tokens_sql("text")} AS tk FROM documents
), grams AS (
  SELECT lang, g, count(*)::BIGINT AS cnt
  FROM toks, unnest({word_grams_sql("tk", _NGRAM_K)}) AS u(g)
  GROUP BY lang, g
), ranked AS (
  SELECT lang, g, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g) AS rk
  FROM grams
)
SELECT lang,
       sum(cnt)::BIGINT AS total_grams,
       count(*)::BIGINT AS distinct_grams,
       sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_occurrences,
       {X.r6_sql("sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt)::DOUBLE")} AS dup_rate,
       min(CASE WHEN rk = 1 THEN g END) AS top_gram,
       max(CASE WHEN rk = 1 THEN cnt END)::BIGINT AS top_gram_count
FROM ranked GROUP BY lang ORDER BY lang
"""


@query(
    "ngram_dup_rate",
    _NGRAM_ORACLE,
    doc="Wimbd-style n-gram duplication analysis (Elazar et al. 2024): per "
        f"lang, occurrence-counted token {_NGRAM_K}-grams → total/distinct "
        "gram mass, the fraction of occurrences belonging to repeated "
        "grams, and the single most-frequent gram (total order: count "
        "desc, gram asc) — the boilerplate-flood gauge; one corpus explode "
        "+ ONE gram shuffle with map-side partials, then a lang-sized "
        "rollup; unlike the dedup family's per-doc-distinct shingles, "
        "every occurrence counts",
)
def ngram_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the gram rule is _tgs_expr / word_grams_sql — the SAME single
    # definition the repetition gates use. Tokens are bound into their OWN
    # column before the gram lambda references them — inlining tokens_expr
    # puts a split inside every element_at call (O(k·tokens) splits per
    # row, the filter_pipeline hazard; measured 11.9 s vs ~1 s at sf0.1)
    tok = _spread(load(spark, sf_dir, "documents")).select(
        "lang", X.tokens_expr(F.col("text")).alias("toks")
    )
    grams = (
        tok.select("lang", F.explode(_tgs_expr(F.col("toks"))).alias("g"))
        .groupBy("lang", "g")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("g"))
    ranked = grams.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("total_grams"),
            F.count("*").cast("long").alias("distinct_grams"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("dup_occurrences"),
            X.r6(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("dup_rate"),
            F.min(F.when(F.col("rk") == 1, F.col("g"))).alias("top_gram"),
            F.max(F.when(F.col("rk") == 1, F.col("cnt")))
            .cast("long")
            .alias("top_gram_count"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# crawl politeness planner
# ---------------------------------------------------------------------------
#
# A 10^12-page recrawl cannot hit one host with unbounded concurrency: the
# fetch frontier is sliced per host into rate-capped slots (one slot = one
# crawl-delay window), the planning stage every polite crawler (Heritrix,
# Nutch) runs. Deterministic slot assignment: urls rank within their host by
# the portable h32 (so the plan is reproducible across runs/engines and
# resumable mid-crawl — the corpus_shuffle_shards argument), slot =
# (rank-1) // cap.

_FETCH_CAP = 8

_FETCH_PLAN_ORACLE = f"""
WITH urls AS (
  SELECT DISTINCT {_canon_url_sql()} AS url FROM events
), hosted AS (
  SELECT regexp_extract(url, '^https?://([^/:]+)', 1) AS host, url,
         {X.h32_sql("'fetch:' || url")} AS h
  FROM urls
), planned AS (
  SELECT host, url,
         (row_number() OVER (PARTITION BY host ORDER BY h, url) - 1)
           // {_FETCH_CAP} AS slot
  FROM hosted
)
SELECT host, slot::BIGINT AS slot, count(*)::BIGINT AS n_urls,
       min(url) AS first_url
FROM planned GROUP BY host, slot ORDER BY host, slot
"""


@query(
    "crawl_fetch_plan",
    _FETCH_PLAN_ORACLE,
    doc="crawl politeness planner (the Heritrix/Nutch frontier-slicing "
        f"stage): per-host rate-capped fetch slots of {_FETCH_CAP} urls — "
        "slot = one crawl-delay window; urls rank within their host by the "
        "portable h32 so the plan is reproducible and resumable mid-crawl; "
        "one distinct-url shuffle + one host window (at 10^12 urls the "
        "window becomes repartition(host) + sortWithinPartitions, the "
        "corpus_shuffle_shards shape)",
)
def crawl_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    urls = ev.select(
        url_canonical_expr(_url_raw_expr()).alias("url")
    ).distinct()
    hosted = urls.select(
        F.regexp_extract("url", r"^https?://([^/:]+)", 1).alias("host"),
        "url",
        X.h32(F.concat(F.lit("fetch:"), F.col("url"))).alias("h"),
    )
    w = Window.partitionBy("host").orderBy("h", "url")
    planned = hosted.withColumn(
        "slot", ((F.row_number().over(w) - 1) / _FETCH_CAP).cast("long")
    )
    return (
        planned.groupBy("host", "slot")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.min("url").alias("first_url"),
        )
        .orderBy("host", "slot")
    )


# ---------------------------------------------------------------------------
# classifier-vs-label agreement audit: language-ID confusion matrix
# ---------------------------------------------------------------------------
#
# The validation check for any model-scored column: cross-tabulate the
# STORED label (documents.lang, what upstream claims) against the engine's
# own cheap predictor (the stopword-gate lang_id the filter pipeline uses).
# Disagreement rates per label are the canary for label rot or a predictor
# regression — the same audit shape as fd_check, but between a column and a
# derived signal instead of two columns. One aggregate pass (the label×
# prediction grid is tiny), rates are label-conditioned (rows of the
# confusion matrix sum to 1).

_CONFUSION_ORACLE = f"""
WITH scored AS (
  SELECT lang, {X.lang_id_sql("text")} AS predicted FROM documents
), cells AS (
  SELECT lang, predicted, count(*)::BIGINT AS n
  FROM scored GROUP BY lang, predicted
), totals AS (
  SELECT lang, sum(n)::BIGINT AS label_total FROM cells GROUP BY lang
)
SELECT c.lang, c.predicted, c.n,
       {X.r6_sql("c.n::DOUBLE / t.label_total::DOUBLE")} AS rate
FROM cells c JOIN totals t ON t.lang = c.lang
ORDER BY c.lang, c.predicted
"""


@query(
    "lang_confusion_matrix",
    _CONFUSION_ORACLE,
    doc="classifier-vs-label agreement audit: confusion matrix of the "
        "stored lang label against the engine's stopword-gate lang_id "
        "prediction, with label-conditioned rates (matrix rows sum to 1) "
        "— the canary for label rot or predictor regressions, the same "
        "audit shape as fd_check but between a column and a derived "
        "signal; one scan + one tiny-grid aggregate",
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cells = (
        docs.select("lang", X.lang_id_expr(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("lang")
    return (
        cells.withColumn("label_total", F.sum("n").over(w))
        .select(
            "lang",
            "predicted",
            "n",
            X.r6(F.col("n").cast("double") / F.col("label_total").cast("double")).alias(
                "rate"
            ),
        )
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# per-source league table (the "source scorecard")
# ---------------------------------------------------------------------------
#
# The rollup a data-acquisition team negotiates with: for each upstream
# source — volume (docs, token mass), quality (mean heuristic score), how
# much survives the standard filter gates (and the surviving token mass,
# which is what the mixture planner actually budgets), and language spread.
# Composes existing per-doc signals (filter_pipeline's gates sans the lang
# gate — the scorecard keeps multilingual sources comparable, the
# curation_verdicts precedent) into ONE map stage + one tiny per-source
# aggregate: no shuffle beyond the source rollup, because every signal is a
# Catalyst expression over the row's own text.
#
# Float discipline: the quality score is r6-rounded per doc (an exact
# multiple of 1e-6), so it sums as int64 micro-units — order-free, unlike a
# double sum; the mean divides once at the end.

#: the quality-floor gate in exact micro-units (q is r6-rounded, an exact
#: multiple of 1e-6): q_fp >= min_q·1e6 — integer, knife-edge-free
_MIN_Q_FP = round(FILTER_MIN_QUALITY * 1_000_000)

_SCORECARD_ORACLE = f"""
WITH tok AS (
  SELECT source, lang, {X.tokens_sql("text")} AS t,
         {X.quality_score_sql("text")} AS q
  FROM documents
), sig AS (
  SELECT source, lang,
         len(t)::BIGINT AS ntok,
         floor(q * 1000000 + 0.5)::BIGINT AS q_fp,
         (len(t) >= {FILTER_MIN_TOKENS}
          AND floor(q * 1000000 + 0.5) >= {_MIN_Q_FP}
          AND ({_DUP3_SQL}) <= {DUP_3GRAM_FRAC_T}) AS kept
  FROM tok
)
SELECT source,
       count(*)::BIGINT AS docs,
       sum(ntok)::BIGINT AS tokens,
       {X.r6_sql("sum(q_fp)::DOUBLE / (count(*)::DOUBLE * 1000000.0)")} AS mean_quality,
       sum(kept::INT)::BIGINT AS kept_docs,
       {X.r6_sql("sum(kept::INT)::DOUBLE / count(*)::DOUBLE")} AS kept_rate,
       sum(CASE WHEN kept THEN ntok ELSE 0 END)::BIGINT AS kept_tokens,
       count(DISTINCT lang)::BIGINT AS langs
FROM sig GROUP BY source ORDER BY source
"""


@query(
    "source_scorecard",
    _SCORECARD_ORACLE,
    doc="per-source league table for mix negotiation: volume (docs, "
        "token mass), mean quality (r6 scores summed as int64 "
        "micro-units — order-free), survival through the standard "
        "filter gates (sans the lang gate, keeping multilingual "
        "sources comparable) with the SURVIVING token mass the "
        "mixture planner budgets, and language spread; one pure map "
        "stage + one tiny per-source aggregate — at 10^12 docs the "
        "only shuffle is source-cardinality-sized",
)
def source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", "lang", X.tokens_expr(F.col("text")).alias("toks")
    )
    tg = tok.select(
        "source", "lang", "toks", _tgs_expr(F.col("toks")).alias("tgs")
    )
    # q_fp bound once; the quality gate compares in exact micro-units
    sig = tg.select(
        "source",
        "lang",
        F.size("toks").cast("long").alias("ntok"),
        F.floor(
            X.quality_score_from_tokens_expr(F.col("toks")) * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("q_fp"),
        (_dupf_expr(F.col("tgs")) <= DUP_3GRAM_FRAC_T).alias("dup_ok"),
    ).select(
        "source",
        "lang",
        "ntok",
        "q_fp",
        (
            (F.col("ntok") >= FILTER_MIN_TOKENS)
            & (F.col("q_fp") >= _MIN_Q_FP)
            & F.col("dup_ok")
        ).alias("kept"),
    )
    return (
        sig.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("docs"),
            F.sum("ntok").cast("long").alias("tokens"),
            X.r6(
                F.sum("q_fp").cast("double")
                / (F.count("*").cast("double") * F.lit(1_000_000.0))
            ).alias("mean_quality"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("kept_docs"),
            X.r6(
                F.sum(F.col("kept").cast("int")).cast("double")
                / F.count("*").cast("double")
            ).alias("kept_rate"),
            F.sum(F.when(F.col("kept"), F.col("ntok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            F.countDistinct("lang").cast("long").alias("langs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# declarative expectation enforcement (warn/drop actions + ledger)
# ---------------------------------------------------------------------------
#
# The enforcement half of the validation engine: expectations with ACTIONS,
# the Delta-Live-Tables/Great-Expectations shape — `expect_or_drop` removes
# failing rows, `expect` (warn) only counts them. Expectations apply in
# declared order with SEQUENTIAL semantics (a row dropped by an earlier
# expectation never reaches a later one — so a duplicate whose keeper was
# already dropped is NOT a duplicate among survivors), and the output is the
# ledger: per expectation, rows flagged among those that reached it, rows
# dropped, and rows remaining after it.
#
# Declared suite over the pages fixture:
#   1. text_not_null        drop   (planted NULL text)
#   2. lang_in_allowlist    drop   (planted 'error' lang)
#   3. len_within_bound     warn   (planted ×3 length-shift day — flagged,
#                                   kept: warn = monitor without mutating)
#   4. url_unique           drop   (planted dup-day urls; keeper = first by
#                                   (warc_ts, len) among SURVIVORS)
#
# One corpus pass: every flag is a projection expression; the uniqueness
# rank is one window keyed (url, survived-so-far); the ledger is a single
# aggregate exploded to 4 rows. Which row of an exactly-identical tie group
# is kept is engine-arbitrary, but every LEDGER number is tie-invariant.

#: above the un-shifted max (180) and below the planted ×3-day max (540),
#: so the warn expectation flags exactly the length-shift day's long rows
_EXP_LEN_BOUND = 360

_EXPECT_ORACLE = (
    _PAGES_SQL
    + f"""
, flagged AS (
  SELECT lang, url, warc_ts,
         (text IS NULL) AS f1,
         (text IS NOT NULL AND lang NOT IN ({", ".join(f"'{g}'" for g in _ALLOWED_LANGS)})) AS f2,
         length(text) AS tl
  FROM pages
), reach AS (
  SELECT *,
         (NOT f1 AND NOT f2) AS survives12,
         (NOT f1 AND NOT f2 AND tl > {_EXP_LEN_BOUND}) AS f3
  FROM flagged
), ranked AS (
  SELECT *,
         CASE WHEN survives12 THEN
           row_number() OVER (
             PARTITION BY url, survives12
             ORDER BY warc_ts, coalesce(tl, -1)
           ) END AS rn
  FROM reach
), agg AS (
  -- coalesce: an EMPTY table's sums are NULL in both engines; the ledger
  -- should read 0 flagged / 0 dropped / 0 remaining instead
  SELECT count(*)::BIGINT AS n,
         coalesce(sum(f1::INT), 0)::BIGINT AS d1,
         coalesce(sum(f2::INT), 0)::BIGINT AS d2,
         coalesce(sum(f3::INT), 0)::BIGINT AS w3,
         coalesce(sum((survives12 AND rn > 1)::INT), 0)::BIGINT AS d4
  FROM ranked
)
SELECT * FROM (
  SELECT 1 AS ord, 'text_not_null' AS expectation, 'drop' AS action,
         d1 AS flagged, d1 AS dropped, (n - d1)::BIGINT AS rows_after FROM agg
  UNION ALL
  SELECT 2, 'lang_in_allowlist', 'drop', d2, d2, (n - d1 - d2)::BIGINT FROM agg
  UNION ALL
  SELECT 3, 'len_within_bound', 'warn', w3, 0::BIGINT, (n - d1 - d2)::BIGINT FROM agg
  UNION ALL
  SELECT 4, 'url_unique', 'drop', d4, d4, (n - d1 - d2 - d4)::BIGINT FROM agg
) ORDER BY ord
"""
)


@query(
    "expectations_enforce",
    _EXPECT_ORACLE,
    doc="declarative expectation ENFORCEMENT (the Delta-Live-Tables / "
        "Great-Expectations action model): expectations with warn/drop "
        "actions applied in declared order under sequential semantics — a "
        "row dropped earlier never reaches later expectations, so "
        "survivor-uniqueness is ranked only among rows that survived the "
        "null/allowlist drops; output is the per-expectation ledger "
        "(flagged among reached, dropped, rows remaining). One corpus "
        "pass: projection flags + one (url, survived) window + a single "
        "aggregate exploded to the 4 ledger rows; every number is "
        "tie-invariant even where the kept-row choice is engine-arbitrary",
)
def expectations_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _derived_pages(spark, sf_dir)
    f1 = F.col("text").isNull()
    f2 = ~f1 & ~F.col("lang").isin(*_ALLOWED_LANGS)
    flagged = pages.select(
        "url",
        "warc_ts",
        f1.alias("f1"),
        f2.alias("f2"),
        F.length("text").alias("tl"),
    )
    reach = flagged.select(
        "*",
        (~F.col("f1") & ~F.col("f2")).alias("survives12"),
        (~F.col("f1") & ~F.col("f2") & (F.col("tl") > _EXP_LEN_BOUND)).alias("f3"),
    )
    w = Window.partitionBy("url", "survives12").orderBy(
        "warc_ts", F.coalesce("tl", F.lit(-1))
    )
    ranked = reach.select(
        "*",
        F.when(F.col("survives12"), F.row_number().over(w)).alias("rn"),
    )
    zero = F.lit(0).cast("long")
    agg = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum(F.col("f1").cast("int")).cast("long"), zero).alias("d1"),
        F.coalesce(F.sum(F.col("f2").cast("int")).cast("long"), zero).alias("d2"),
        F.coalesce(F.sum(F.col("f3").cast("int")).cast("long"), zero).alias("w3"),
        F.coalesce(
            F.sum((F.col("survives12") & (F.col("rn") > 1)).cast("int")).cast("long"),
            zero,
        ).alias("d4"),
    )
    n, d1, d2, w3, d4 = (F.col(c) for c in ("n", "d1", "d2", "w3", "d4"))
    ledger = F.array(
        F.struct(
            F.lit(1).alias("ord"), F.lit("text_not_null").alias("expectation"),
            F.lit("drop").alias("action"), d1.alias("flagged"),
            d1.alias("dropped"), (n - d1).cast("long").alias("rows_after"),
        ),
        F.struct(
            F.lit(2).alias("ord"), F.lit("lang_in_allowlist").alias("expectation"),
            F.lit("drop").alias("action"), d2.alias("flagged"),
            d2.alias("dropped"), (n - d1 - d2).cast("long").alias("rows_after"),
        ),
        F.struct(
            F.lit(3).alias("ord"), F.lit("len_within_bound").alias("expectation"),
            F.lit("warn").alias("action"), w3.alias("flagged"),
            F.lit(0).cast("long").alias("dropped"),
            (n - d1 - d2).cast("long").alias("rows_after"),
        ),
        F.struct(
            F.lit(4).alias("ord"), F.lit("url_unique").alias("expectation"),
            F.lit("drop").alias("action"), d4.alias("flagged"),
            d4.alias("dropped"), (n - d1 - d2 - d4).cast("long").alias("rows_after"),
        ),
    )
    return (
        agg.select(F.explode(ledger).alias("r"))
        .select(
            "r.ord", "r.expectation", "r.action", "r.flagged", "r.dropped",
            "r.rows_after",
        )
        .orderBy("ord")
    )


# ---------------------------------------------------------------------------
# winsorize audit: type-1 p99 clamp of document length, integer-exact
# ---------------------------------------------------------------------------

WINSOR_Q_NUM = 99   # p99 as an exact rational (99/100) — no float quantile
WINSOR_Q_DEN = 100


@query(
    "winsorize_doclen",
    f"""
WITH c AS (
  SELECT lang, n_chars, count(*)::BIGINT AS k FROM documents GROUP BY 1, 2
), cum AS (
  SELECT lang, n_chars,
         sum(k) OVER (PARTITION BY lang ORDER BY n_chars) AS cm,
         sum(k) OVER (PARTITION BY lang) AS n
  FROM c
), p AS (
  -- type-1 inverted-CDF p99: smallest value whose cumulative count reaches
  -- ceil(0.99 * n), computed as integer ceil((99*n)/100)
  SELECT lang,
         min(CASE WHEN cm * {WINSOR_Q_DEN} >= {WINSOR_Q_NUM} * max_n
                  THEN n_chars END)::BIGINT AS p99,
         max(max_n)::BIGINT AS n_docs
  FROM (SELECT lang, n_chars, cm, n AS max_n FROM cum)
  GROUP BY lang
)
SELECT d.lang, p.n_docs, p.p99,
       count(*) FILTER (WHERE d.n_chars > p.p99)::BIGINT AS n_clipped,
       sum(d.n_chars)::BIGINT AS mass_before,
       sum(least(d.n_chars, p.p99))::BIGINT AS mass_after
FROM documents d JOIN p ON p.lang = d.lang
GROUP BY d.lang, p.n_docs, p.p99
ORDER BY d.lang
""",
    doc="winsorization audit — the outlier-clamp every length-sensitive "
        "training pipeline applies before token budgeting: per-lang exact "
        "type-1 p99 of n_chars (integer ceil((99·n)/100) rank — no float "
        "quantile), documents clamped to it, clipped count and char mass "
        "before/after reported integer-exact; at scale the p99 comes from "
        "the checkpoint's log-histogram digests and this exact form is the "
        "audit",
)
def winsorize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang", "n_chars").agg(F.count("*").cast("long").alias("k"))
    wcum = Window.partitionBy("lang").orderBy("n_chars")
    wall = Window.partitionBy("lang")
    cum = c.select(
        "lang", "n_chars",
        F.sum("k").over(wcum).alias("cm"),
        F.sum("k").over(wall).alias("n"),
    )
    p = cum.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("cm") * WINSOR_Q_DEN >= WINSOR_Q_NUM * F.col("n"),
                F.col("n_chars"),
            )
        ).cast("long").alias("p99"),
        F.max("n").cast("long").alias("n_docs"),
    )
    return (
        d.join(F.broadcast(p), "lang")
        .groupBy("lang", "n_docs", "p99")
        .agg(
            F.count(F.when(F.col("n_chars") > F.col("p99"), 1)).cast("long")
            .alias("n_clipped"),
            F.sum("n_chars").cast("long").alias("mass_before"),
            F.sum(F.least("n_chars", "p99")).cast("long").alias("mass_after"),
        )
        .select(
            "lang", "n_docs", "p99", "n_clipped", "mass_before", "mass_after"
        )
        .orderBy("lang")
    )
