"""Count-Min-Sketch heavy hitters — the streaming-counts member of the
mergeable-sketch family.

The checkpoint already carries two mergeable digests for VALUES (log-
histogram, bounded value error) and RANKS (Greenwald-Khanna, bounded rank
error); ``heavy_hitters_cms`` adds the classic one for COUNTS (Cormode &
Muthukrishnan 2005): a ``CMS_D x CMS_W`` grid of integer cells where cell
``(i, h_i(x))`` accumulates every occurrence of ``x``. Point estimate =
min over the D rows; always an OVERcount, and with probability
``1-(1/2)^D`` the overcount is at most ``(e/W)·N``. The grid is cell-wise
additive, so per-partition sketches merge by summing — the property that
lets a 10^12-token corpus build it in one scan with map-side partials
(D·W longs per partial), stream it incrementally, or union sketches
across crawls.

Like ``checkpoint_digest_quantiles``, the catalog query judges the sketch
against exact ground truth: estimate each of the TOP_K exact-top tokens
and emit the overcount plus a ``within_bound`` verdict against the ε·N
line (fixed-point integer comparison, no float). Everything is int64
arithmetic on the portable h32, so Spark's partition-parallel sums and
DuckDB's single-threaded CTEs agree bit-for-bit.

Scale shape: token-count agg (the one corpus-sized shuffle, shared with
the candidate top-K) → CMS grid as D probe rows per distinct token + hash
agg to ≤ D·W cells → the K audited candidates probe the (tiny, broadcast)
grid. At production scale the candidate set comes from the same counts
pass (or a previous crawl's hitters); the sketch itself never needs exact
counts — they are computed here BECAUSE the query's point is to audit the
sketch against them.

Reference analog: none — this extends the reference's scope alongside the
checkpoint's log-histogram digest (SURVEY north-star "mergeable sketches").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import text as X
from .registry import load, query
from .text_queries import _spread

#: sketch depth (rows) — overcount-bound failure probability (1/2)^D
CMS_D = 4
#: sketch width (buckets per row) — overcount bound (e/W)·N
CMS_W = 64
#: audited heavy hitters (the exact top-K tokens by count, ties by token)
CMS_TOP_K = 24

#: ceil(e/W · 2^20): both engines check the probabilistic bound in fixed
#: point — overcount·2^20 <= EPS_FP·N  ⇔  overcount <= (e/W)·N — keeping
#: the verdict column pure integer arithmetic
EPS_FP = 44_561


def _bucket_sql(i: int, tok: str = "t") -> str:
    inner = f"{tok} || ':cms{i}'"
    return f"{X.h32_sql(inner)} % {CMS_W}"


def _probes_sql(src: str) -> str:
    """D rows per token of ``src`` (which must expose t, cnt): (t, cnt, i,
    bucket_i). Generated UNION ALL keeps the oracle plain ANSI."""
    return "\nUNION ALL\n".join(
        f"SELECT t, cnt, {i} AS i, {_bucket_sql(i)} AS bucket FROM {src}"
        for i in range(CMS_D)
    )


_CMS_ORACLE = f"""
WITH toks AS (
  SELECT t, count(*)::BIGINT AS cnt
  FROM documents, unnest({X.tokens_sql("text")}) AS u(t)
  GROUP BY t
),
total AS (SELECT sum(cnt)::BIGINT AS n FROM toks),
probes AS (
{_probes_sql("toks")}
),
cells AS (
  SELECT i, bucket, sum(cnt)::BIGINT AS cell FROM probes GROUP BY i, bucket
),
topk AS (
  SELECT t, cnt FROM toks ORDER BY cnt DESC, t LIMIT {CMS_TOP_K}
),
tprobes AS (
{_probes_sql("topk")}
),
est AS (
  SELECT tp.t, tp.cnt, min(c.cell)::BIGINT AS est
  FROM tprobes tp JOIN cells c ON c.i = tp.i AND c.bucket = tp.bucket
  GROUP BY tp.t, tp.cnt
)
SELECT est.t AS token,
       est.cnt AS exact_cnt,
       est.est AS est_cnt,
       (est.est - est.cnt)::BIGINT AS overcount,
       ((est.est - est.cnt) * 1048576 <= {EPS_FP} * total.n) AS within_bound
FROM est, total
ORDER BY exact_cnt DESC, token
"""


def _bucket_expr(i: int, tok: F.Column) -> F.Column:
    return F.pmod(X.h32(F.concat(tok, F.lit(f":cms{i}"))), F.lit(CMS_W))


@query(
    "heavy_hitters_cms",
    _CMS_ORACLE,
    doc="Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan 2005): a "
        f"{CMS_D}x{CMS_W} int64 grid built in one pass (cell-wise additive "
        "→ map-side partials, mergeable across partitions/crawls like the "
        "checkpoint's log-histogram digest), then the exact top-"
        f"{CMS_TOP_K} tokens are point-estimated (min over rows — always "
        "an overcount) and judged against the (e/W)·N bound in fixed-point "
        "integer arithmetic; the oracle rebuilds the identical grid from "
        "the same h32 row-hashes, so estimates match bit-for-bit",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load(spark, sf_dir, "documents")).select("text")
    # toks feeds three consumers (grid build, candidate top-K, the N total)
    # — cut the lineage once so the corpus scan + token agg run once instead
    # of once per consumer (same pattern as link_graph_pagerank's nodes cut)
    toks = (
        docs.select(F.explode(X.tokens_expr(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = toks.agg(F.sum("cnt").cast("long").alias("n"))

    def probes(src: DataFrame) -> DataFrame:
        rows = F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    _bucket_expr(i, F.col("t")).alias("bucket"),
                )
                for i in range(CMS_D)
            ]
        )
        return src.select(
            "t", "cnt", F.explode(rows).alias("p")
        ).select("t", "cnt", F.col("p.i").alias("i"), F.col("p.bucket").alias("bucket"))

    cells = (
        probes(toks)
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cell"))
    )
    topk = toks.orderBy(F.col("cnt").desc(), "t").limit(CMS_TOP_K)
    est = (
        probes(topk)
        .join(cells, ["i", "bucket"])
        .groupBy("t", "cnt")
        .agg(F.min("cell").cast("long").alias("est"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            F.col("t").alias("token"),
            F.col("cnt").alias("exact_cnt"),
            F.col("est").alias("est_cnt"),
            (F.col("est") - F.col("cnt")).cast("long").alias("overcount"),
            (
                (F.col("est") - F.col("cnt")) * F.lit(1_048_576)
                <= F.lit(EPS_FP) * F.col("n")
            ).alias("within_bound"),
        )
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


# ---------------------------------------------------------------------------
# t-digest round trip: per-partition digests → one-level merge → corpus
# quantiles judged against exact ranks
# ---------------------------------------------------------------------------
#
# north_star names "quantile sketches via t-digest/GK"; the production
# checkpoint blob carries the log-histogram digest instead
# (flagship_queries.checkpoint_digest_quantiles), and the GK sketch is a
# standalone operator (operators/gk.py, tests/test_gk.py).
# This query exercises the t-digest leg (operators/tdigest.py) over the SAME
# deterministic page table and length histogram: build one k0 merging digest
# per (partition_date, lang) from the histogram rows, merge each lang's
# partition digests in ONE level (merge_many — interleaving loss paid once),
# and judge every quantile estimate against the exact type-1 corpus quantile
# within the envelope pinned by tests/test_tdigest.py:
# |true_rank(est) − ceil(q·n)| ≤ td_rank_tol(n) = 2·ceil(2n/δ)+1.
#
# Scale shape: length_histogram (the one validate() reads) sums the
# url_groups scan+agg into one len-sorted (len, cnt) array per
# partition×lang, bounded by the distinct lengths at any table size; the
# digest build is a grouped-map over those bounded groups (never
# the raw pages); the corpus-exact arrays join back broadcast. The digests
# themselves are what a 10^12-row run would persist in checkpoint lineage —
# O(δ) floats per partition — and merging them replaces ever re-scanning
# closed partitions.

_TD_QS = (0.25, 0.5, 0.9, 0.99)

_TD_PART_SCHEMA = "lang string, td_json string"
_TD_OUT_SCHEMA = "lang string, q double, exact_len double, n long, td_rank_ok boolean"


def _td_build_fn(pdf):
    """One (partition_date, lang) histogram group → one serialized digest."""
    import json as _json

    import pandas as pd

    from ..operators.tdigest import TDigest

    pdf = pdf.sort_values("len")
    td = TDigest.from_value_counts(
        pdf["len"].astype("float64").tolist(), pdf["cnt"].astype("int64").tolist()
    )
    return pd.DataFrame(
        {"lang": [pdf["lang"].iat[0]], "td_json": [_json.dumps(td.to_dict())]}
    )


def _td_judge_fn(pdf):
    """One lang group: merge every partition digest at one level, judge each
    q against the exact corpus histogram carried in as bounded arrays."""
    import json as _json
    import math as _math

    import numpy as np
    import pandas as pd

    from ..operators.tdigest import TDigest, td_rank_tol

    lang = pdf["lang"].iat[0]
    merged = TDigest.merge_many(
        [TDigest.from_dict(_json.loads(b)) for b in pdf["td_json"] if b]
    )
    lens = np.asarray(pdf["_lens"].iat[0], dtype=np.float64)
    cnts = np.asarray(pdf["_cnts"].iat[0], dtype=np.int64)
    order = np.argsort(lens)
    lens, cnts = lens[order], cnts[order]
    cum = np.cumsum(cnts)
    n = int(cum[-1])
    tol = td_rank_tol(n)
    out = []
    for q in _TD_QS:
        need = max(1, _math.ceil(q * n))
        exact = float(lens[np.searchsorted(cum, need)])
        est = merged.quantile(q)
        i_lo = int(np.searchsorted(lens, est, side="left"))
        i_hi = int(np.searchsorted(lens, est, side="right"))
        if i_hi > i_lo:  # est IS an observed value: its occupied ranks
            rank_lo = int(cum[i_lo - 1]) + 1 if i_lo > 0 else 1
            rank_hi = int(cum[i_hi - 1])
        elif i_lo == 0:  # below the observed minimum: nearest rank 1
            rank_lo = rank_hi = 1
        elif i_lo == len(lens):  # above the observed maximum: nearest rank n
            rank_lo = rank_hi = n
        else:  # interpolated between two observed values: bracketing ranks
            rank_lo = int(cum[i_lo - 1])
            rank_hi = rank_lo + 1
        err = max(0, rank_lo - need, need - rank_hi)
        ok = bool(merged.n == n and err <= tol)
        out.append((lang, float(q), exact, n, ok))
    return pd.DataFrame(
        out, columns=["lang", "q", "exact_len", "n", "td_rank_ok"]
    )


def _td_oracle() -> str:
    from .flagship_queries import _PAGES_SQL, exact_quantile_oracle_sql

    return _PAGES_SQL + exact_quantile_oracle_sql(_TD_QS, ["td_rank_ok"])


def _register_tdigest() -> None:
    @query(
        "tdigest_quantiles",
        _td_oracle(),
        doc="north-star t-digest leg: one k0 merging digest (Dunning & Ertl "
            "2019) per partition×lang built from the bounded length "
            "histogram, merged per lang in ONE level (merge_many), every "
            "quantile estimate judged against the exact type-1 corpus "
            "quantile within the tested envelope 2·ceil(2n/δ)+1 ranks; the "
            "oracle pins the exact quantiles and asserts the verdicts",
    )
    def tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..plans.stats import length_histogram, url_groups
        from .flagship_queries import _derived_pages

        len_hist = length_histogram(url_groups(_derived_pages(spark, sf_dir)))
        part_digests = (
            len_hist.select("partition_date", "lang", F.inline("len_hist"))
            .groupBy("partition_date", "lang")
            .applyInPandas(_td_build_fn, _TD_PART_SCHEMA)
        )
        corpus = (
            len_hist.groupBy("lang")
            .agg(F.sort_array(F.flatten(F.collect_list("len_hist"))).alias("_h"))
            .select(
                "lang",
                F.transform("_h", lambda s: s["len"].cast("double")).alias("_lens"),
                F.transform("_h", lambda s: s["cnt"].cast("long")).alias("_cnts"),
            )
        )
        joined = part_digests.join(F.broadcast(corpus), "lang")
        return joined.groupBy("lang").applyInPandas(_td_judge_fn, _TD_OUT_SCHEMA)


_register_tdigest()


# ---------------------------------------------------------------------------
# KMV theta sketch: mergeable distinct counts with SET OPERATIONS
# ---------------------------------------------------------------------------
#
# The fourth mergeable-sketch member, and the one with set algebra: a
# K-minimum-values theta sketch (Bar-Yossef et al. 2002; the Apache
# DataSketches theta family) keeps the K smallest normalized hashes of a
# set; distinct-count estimate = (K−1)/θ where θ is the K-th smallest
# hash / 2^32. Union of sketches = K smallest of the pooled mins (exactly
# a re-sketch of the union), intersection via inclusion–exclusion — the
# algebra HyperLogLog lacks, and the question a crawl planner actually
# asks: "how many NEW urls does snapshot B add to A?".
#
# Cross-engine exactness: the sketch is a deterministic function of the
# h32 values (K smallest distinct integers — no randomness, no float), so
# both engines build bit-identical sketches; the estimate divides the same
# exact integers in IEEE double and the ±3σ verdicts compare the same
# doubles. When a scope has fewer than K distinct hashes the sketch IS the
# exact set (est = n, bound 0) — the standard KMV exact regime, branch
# identical in both engines.
#
# Scale shape: ONE distinct-hash shuffle per snapshot (bounded rows out),
# then a K-row-per-scope rank — at 10^12 urls the per-partition K-min sets
# merge by pooling, the same map-side-partial story as the CMS grid.

THETA_K = 256             # ±3/√K = 18.75% at 3σ — K kept under
                          # spark.sql.optimizer.windowGroupLimitThreshold
                          # (1000) so the rank prune actually plans
_THETA_BOUND_NUM = 3      # 3σ envelope
_SQRT_K = 16              # √256, exact


def _theta_scopes_sql() -> str:
    from .crawl_queries import _canon_url_sql

    return f"""
WITH caps AS (
  SELECT {_canon_url_sql()} AS url,
         CASE WHEN (event_id // 200) % 2 = 0 THEN 'snap_a' ELSE 'snap_b' END AS snap
  FROM events
),
dh AS (SELECT DISTINCT snap, {X.h32_sql("url")} AS hu FROM caps),
du AS (SELECT DISTINCT hu FROM dh),
sc AS (
  SELECT snap AS scope, hu FROM dh
  UNION ALL
  SELECT 'union' AS scope, hu FROM du
),
rk AS (
  SELECT scope, hu,
         row_number() OVER (PARTITION BY scope ORDER BY hu) AS r
  FROM sc
),
agg AS (
  SELECT scope, count(*)::BIGINT AS n,
         max(CASE WHEN r = {THETA_K} THEN hu END) AS theta
  FROM rk GROUP BY scope
),
e AS (
  SELECT scope, n,
         CASE WHEN n < {THETA_K} THEN n * 1.0
              ELSE ({THETA_K - 1}) * 4294967296.0 / theta END AS est,
         CASE WHEN n < {THETA_K} THEN 0.0
              ELSE {_THETA_BOUND_NUM} * n * 1.0 / {_SQRT_K} END AS bound
  FROM agg
),
piv AS (
  SELECT
    max(CASE WHEN scope = 'snap_a' THEN n END) AS na,
    max(CASE WHEN scope = 'snap_b' THEN n END) AS nb,
    max(CASE WHEN scope = 'union' THEN n END) AS nu,
    max(CASE WHEN scope = 'snap_a' THEN est END) AS ea,
    max(CASE WHEN scope = 'snap_b' THEN est END) AS eb,
    max(CASE WHEN scope = 'union' THEN est END) AS eu,
    max(CASE WHEN scope = 'snap_a' THEN bound END) AS ba,
    max(CASE WHEN scope = 'snap_b' THEN bound END) AS bb,
    max(CASE WHEN scope = 'union' THEN bound END) AS bu
  FROM e
)
SELECT scope, {X.r6_sql("est")} AS est_distinct, n AS exact_distinct,
       (abs(est - n) <= bound) AS within_bound
FROM e
UNION ALL
SELECT 'intersect' AS scope,
       {X.r6_sql("ea + eb - eu")} AS est_distinct,
       (na + nb - nu)::BIGINT AS exact_distinct,
       (abs((ea + eb - eu) - (na + nb - nu)) <= ba + bb + bu) AS within_bound
FROM piv
ORDER BY scope
"""


def _theta_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-scope (n, est, bound) frame BEFORE the lineage cut — kept
    separate so the plan-shape test can pin WindowGroupLimit on the rank
    subtree (a localCheckpoint hides it from the final query's explain)."""
    from pyspark.sql import Window

    from .text_queries import _url_raw_expr, url_canonical_expr

    ev = load(spark, sf_dir, "events")
    caps = ev.select(
        url_canonical_expr(_url_raw_expr()).alias("url"),
        F.when(
            F.pmod(F.floor(F.col("event_id") / 200), F.lit(2)) == 0,
            F.lit("snap_a"),
        )
        .otherwise(F.lit("snap_b"))
        .alias("snap"),
    )
    dh = caps.select("snap", X.h32(F.col("url")).alias("hu")).distinct()
    du = dh.select("hu").distinct()
    sc = dh.select(F.col("snap").alias("scope"), "hu").unionByName(
        du.select(F.lit("union").alias("scope"), "hu")
    )
    # n and theta split on purpose: the exact count is a plain hash agg,
    # while the K-th-smallest rank carries an early `r <= K` filter so
    # Spark plans WindowGroupLimit — every partition forwards at most K
    # rows into the per-scope sort instead of the full distinct-hash set
    # (the plan-shape difference between "sort 10^12 hashes" and "sort
    # K per partition"); tests/test_plan_shapes.py pins it
    n_by = sc.groupBy("scope").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = (
        sc.select(
            "scope", "hu",
            F.row_number()
            .over(Window.partitionBy("scope").orderBy("hu"))
            .alias("r"),
        )
        .where(F.col("r") <= THETA_K)
    )
    theta_by = rk.groupBy("scope").agg(
        F.max(F.when(F.col("r") == THETA_K, F.col("hu"))).alias("theta")
    )
    agg = n_by.join(theta_by, "scope")
    return agg.select(
        "scope", "n",
        F.when(F.col("n") < THETA_K, F.col("n") * 1.0)
        .otherwise(F.lit(float(THETA_K - 1)) * 4294967296.0 / F.col("theta"))
        .alias("est"),
        F.when(F.col("n") < THETA_K, F.lit(0.0))
        .otherwise(F.lit(_THETA_BOUND_NUM) * F.col("n") * 1.0 / _SQRT_K)
        .alias("bound"),
    )


@query(
    "theta_sketch_urls",
    _theta_scopes_sql(),
    doc="KMV theta sketch distinct-count algebra over canonical urls "
        f"(Bar-Yossef et al. 2002 / the DataSketches theta family, K={THETA_K}): "
        "per-snapshot sketches, their UNION (K smallest of the pooled "
        "mins — exactly a re-sketch of the union set), and the "
        "inclusion–exclusion INTERSECTION — 'how many new urls does crawl "
        "B add?'; sketches are deterministic K-min sets of h32 values so "
        "both engines build them bit-identically, estimates divide the "
        "same exact integers, and every scope is audited against the "
        "exact distinct count inside the ±3/√K envelope (exact regime "
        "n<K: est ≡ n)",
)
def theta_sketch_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cut once: e feeds the per-scope rows AND the intersection pivot
    e = _theta_estimates(spark, sf_dir).localCheckpoint(eager=False)
    scopes = e.select(
        "scope",
        X.r6(F.col("est")).alias("est_distinct"),
        F.col("n").alias("exact_distinct"),
        (F.abs(F.col("est") - F.col("n")) <= F.col("bound")).alias(
            "within_bound"
        ),
    )
    piv = e.groupBy().agg(
        *[
            F.max(F.when(F.col("scope") == sname, F.col(col))).alias(
                f"{col[0]}{suffix}"
            )
            for sname, suffix in (("snap_a", "a"), ("snap_b", "b"), ("union", "u"))
            for col in ("n", "est", "bound")
        ]
    )
    inter = piv.select(
        F.lit("intersect").alias("scope"),
        X.r6(F.col("ea") + F.col("eb") - F.col("eu")).alias("est_distinct"),
        (F.col("na") + F.col("nb") - F.col("nu"))
        .cast("long")
        .alias("exact_distinct"),
        (
            F.abs(
                (F.col("ea") + F.col("eb") - F.col("eu"))
                - (F.col("na") + F.col("nb") - F.col("nu"))
            )
            <= F.col("ba") + F.col("bb") + F.col("bu")
        ).alias("within_bound"),
    )
    return scopes.unionByName(inter).orderBy("scope")


# ---------------------------------------------------------------------------
# HLL audit: Spark's built-in approx_count_distinct vs exact, bound-judged
# ---------------------------------------------------------------------------

#: requested relative standard deviation for approx_count_distinct
HLL_RSD = 0.02
#: accepted deviation = 3·rsd, checked in integer fixed-point (per-mille):
#: |approx − exact| · 1000 ≤ 60 · exact
HLL_BOUND_PM = int(3 * HLL_RSD * 1000)


@query(
    "hll_daily_users",
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(DISTINCT user_id)::BIGINT AS n_users,
       true AS hll_within_3rsd
FROM events GROUP BY 1 ORDER BY 1
""",
    doc="HyperLogLog distinct-count audit (the third sketch family: counts "
        "have CMS, ranks GK, values log-histogram — cardinality gets HLL): "
        "per-day distinct users via Spark's built-in HLL++ "
        f"(approx_count_distinct, rsd {HLL_RSD}) judged in-query against "
        "the exact distinct count with a 3·rsd fixed-point bound; the "
        "oracle pins the exact count and the bound verdict (the estimate "
        "itself is engine-specific and deliberately not emitted). At "
        "10^12 rows the exact count is the audit-only part — production "
        "keeps just the mergeable HLL sketch, one map-side partial per "
        "partition",
)
def hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    agg = ev.groupBy(day).agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.approx_count_distinct("user_id", HLL_RSD).cast("long").alias("hll"),
    )
    dev_pm = F.abs(F.col("hll") - F.col("n_users")) * 1000
    return agg.select(
        "day",
        "n_users",
        (dev_pm <= HLL_BOUND_PM * F.col("n_users")).alias("hll_within_3rsd"),
    ).orderBy("day")
