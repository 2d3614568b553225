"""Explicit skew handling: salted two-phase aggregation + kernel replay.

The north rule requires partitioning/shuffle/skew handled *explicitly*.
Spark's hash aggregation already does map-side partial aggregation for
algebraic aggs (so plain groupBy is skew-immune there); the patterns that
DO need explicit help are non-algebraic collections and per-key windows.
``salted_group_count`` demonstrates the two-phase salt→merge shape with a
plain-GROUP-BY oracle proving result equivalence; the same shape backs the
bounded sample collection in plans/stats.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..functions import text as X
from .registry import load, query

N_SALTS = 16


@query(
    "salted_group_count",
    """
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       floor(avg(n_chars) * 1000000 + 0.5) / 1000000 AS avg_chars
FROM documents GROUP BY source ORDER BY source
""",
    doc="salted two-phase aggregation: group by (key, salt) partials, then "
        "merge by key — identical result to the plain GROUP BY oracle, but a "
        "hot key's rows spread over N_SALTS reducers (the explicit-skew "
        "pattern for non-algebraic aggs; algebraic aggs get this free from "
        "map-side partial aggregation)",
)
def salted_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    salted = d.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(N_SALTS)))
    partial = salted.groupBy("source", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum("n_chars").alias("pchars"),
    )
    return (
        partial.groupBy("source")
        .agg(
            F.sum("pn").cast("long").alias("n_docs"),
            F.sum("pchars").cast("long").alias("total_chars"),
            # r6, not native round(): the engines resolve exact half-way
            # 6th decimals differently (see functions/text.py::r6)
            X.r6(F.sum("pchars") / F.sum("pn")).alias("avg_chars"),
        )
    )


#: exact type-1 quantiles emitted by salted_host_quantiles, as (name, pct)
HOST_QUANTILES = (("p50", 50), ("p90", 90), ("p99", 99))


@query(
    "salted_host_quantiles",
    """
WITH counts AS (
  SELECT source, n_chars AS v, count(*)::BIGINT AS c
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT source, v, c,
         sum(c) OVER (PARTITION BY source ORDER BY v) AS cc,
         sum(c) OVER (PARTITION BY source) AS n
  FROM counts
)
SELECT source,
       max(n)::BIGINT AS n_docs,
       min(CASE WHEN cc >= (50 * n + 99) // 100 THEN v END)::BIGINT AS p50,
       min(CASE WHEN cc >= (90 * n + 99) // 100 THEN v END)::BIGINT AS p90,
       min(CASE WHEN cc >= (99 * n + 99) // 100 THEN v END)::BIGINT AS p99
FROM cum GROUP BY source ORDER BY source
""",
    doc="EXACT per-host quantiles via the skew-immune two-phase value-"
        "histogram shape: phase 1 groups by (host, value) — map-side partial "
        "aggregation spreads a hot host's rows across every input task, so a "
        "host holding 50% of the corpus costs no straggler — phase 2 runs a "
        "cumulative window over the per-host COUNT VECTOR (bounded by "
        "distinct values, not rows) and picks the type-1 (inverted-CDF) "
        "order statistic min{v : cum(v) >= ceil(p*n)}; the ceil is integer "
        "arithmetic ((k*n+99) div 100) so both engines agree bit-exactly. "
        "This is the naive groupBy(host).collect-then-numpy kernel's "
        "scale-safe replacement — the same two-level shape the stats pass "
        "uses for its length histogram (plans/stats.py) — and the salted "
        "counterpart of salted_group_count for a NON-algebraic statistic "
        "(VERDICT r4 ask #5; probe evidence vs the naive grouped-map plan "
        "on a planted 50%-hot host: SCALE_PROBE_r05.json 'skew' section)",
)
def salted_host_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL values are excluded in BOTH engines (quantiles of known lengths,
    # n = non-null count): leaving them in would diverge — Spark's ASC
    # window default is NULLS FIRST, DuckDB's is NULLS LAST, so a NULL
    # group would inflate every non-null cum count on the Spark side only
    d = load(spark, sf_dir, "documents").where(F.col("n_chars").isNotNull())
    counts = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("source")
    cum = counts.withColumn("cc", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_all)
    )
    qs = [
        F.min(
            F.when(
                F.col("cc") >= F.expr(f"({pct} * n + 99) div 100"), F.col("v")
            )
        )
        .cast("long")
        .alias(name)
        for name, pct in HOST_QUANTILES
    ]
    return cum.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"), *qs
    )


# ---------------------------------------------------------------------------
# crucible: full-ensemble sliding replay (rows-only; kernels not SQL-able)
# ---------------------------------------------------------------------------

_REPLAY_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("index", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("consensus_count", T.IntegerType()),
        # comma-joined (reference emits a list into anomalies.csv,
        # crucible_algorithms.py:540-607) — serialized so row-level tooling
        # can sort/hash the rows
        T.StructField("triggered_algorithms", T.StringType()),
        # self-describing truncation: true when the series exceeded
        # REPLAY_MAX_POINTS and `index` is therefore relative to the kept
        # tail window rather than the full series
        T.StructField("truncated", T.BooleanType()),
        # absolute position of the kept window's first point in the full
        # series (0 when not truncated) — index + window_start is the
        # full-series index
        T.StructField("window_start", T.LongType()),
    ]
)

REPLAY_MAX_POINTS = 512


def _replay_group(pdf: pd.DataFrame, algos: dict | None = None) -> pd.DataFrame:
    """Reference semantics: for index in range(10, len(ts)) run each detector
    on the prefix ts[:index]; group triggers per timestamp and emit rows with
    consensus_count (crucible/crucible_algorithms.py:441-516, 540-607)."""
    from ..operators.detectors import ALGORITHMS, DetectorParams

    if algos is None:
        algos = ALGORITHMS
    n_full = len(pdf)
    pdf = pdf.sort_values(["ts", "event_id"]).tail(REPLAY_MAX_POINTS)
    truncated = n_full > len(pdf)
    window_start = n_full - len(pdf)
    ts = pdf["ts"].astype("int64").to_numpy() / 1e9
    values = pdf["value"].to_numpy(np.float64)
    et = pdf["event_type"].iat[0]
    span = max(ts[-1] - ts[0], 1.0)
    params = DetectorParams(full_duration=int(span))
    out = []
    # reference loop: `sliced = timeseries[:index]` — the prefix EXCLUDES
    # point `index`, so the verdict attaches to sliced[-1] = point index-1
    # (prefix lengths 10..n-1, never the full series)
    for i in range(10, len(ts)):
        prefix_ts, prefix_v = ts[:i], values[:i]
        now = float(prefix_ts[-1])
        triggered = [
            name
            for name, fn in algos.items()
            if fn(prefix_ts, prefix_v, now, params) is True
        ]
        if triggered:
            out.append(
                {
                    "event_type": et,
                    "index": i - 1,
                    "value": float(prefix_v[-1]),
                    "consensus_count": len(triggered),
                    "triggered_algorithms": ",".join(triggered),
                    "truncated": truncated,
                    "window_start": window_start,
                }
            )
    cols = [f.name for f in _REPLAY_SCHEMA]
    return pd.DataFrame(out, columns=cols) if out else pd.DataFrame(columns=cols)


@query(
    "replay_full_ensemble",
    None,
    doc="Crucible sliding replay of the FULL 9-detector ensemble: every "
        "prefix of each series re-scored in a grouped-map pandas UDF "
        "(crucible_algorithms.py:441-607); emits the anomalies.csv shape "
        "(index, value, consensus_count, triggered_algorithms). NOTE: replay "
        f"is O(n²) per series by reference semantics, so each series is "
        f"truncated to its last {REPLAY_MAX_POINTS} points — the output is "
        "self-describing via `truncated` + `window_start` (index + "
        "window_start = full-series index). Algorithm-set "
        "selection per `crucible_algorithms.py:458-481`: skyline_app/"
        "algorithms kwargs resolve the kernel subset (default: the full "
        "registered ensemble, the reference's ['all'])",
)
def replay_full_ensemble(
    spark: SparkSession,
    sf_dir: str,
    skyline_app: str = "crucible",
    algorithms: list[str] | None = None,
) -> DataFrame:
    from ..operators.ensemble import resolve_algorithm_set

    algos = resolve_algorithm_set(skyline_app, algorithms)
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "event_id", "value")

    # a named one-argument function, not functools.partial: PySpark
    # inspects the UDF's signature and warns it cannot infer the eval type
    # of a partial
    def replay_group(pdf):
        return _replay_group(pdf, algos=algos)

    return ev.groupBy("event_type").applyInPandas(replay_group, _REPLAY_SCHEMA)


# ---------------------------------------------------------------------------
# crucible replay, oracled: the 8 SQL-expressible detectors per prefix
# ---------------------------------------------------------------------------

#: the SQL-expressible replay subset in registered ensemble order — all nine
#: minus ks_test (its p-value critical line is closed-form, but the ADF
#: stationarity sub-gate needs AIC lag selection over multi-regressor OLS
#: fits; the gate arithmetic is oracled standalone by detector_ks_gate /
#: detector_adf_tau, catalog/series_queries.py)
REPLAY_SQLABLE = [
    "histogram_bins",
    "first_hour_average",
    "stddev_from_average",
    "grubbs",
    "mean_subtraction_cumulation",
    "median_absolute_deviation",
    "stddev_from_moving_average",
    "least_squares",
]


def _replay_rel_oracle() -> str:
    """DuckDB restatement of the Crucible prefix replay for the 8-detector
    subset. Crucible runs every detector INDEPENDENTLY per prefix (plain
    list comprehension, `crucible_algorithms.py:441-516` — no early exit,
    no padding), groups triggers per point and emits rows where any
    triggered (`:540-607`). Prefix lengths L = 10..n-1 over the kept tail
    window (last REPLAY_MAX_POINTS points); detector params are the replay
    kernel's: tail_points=3, full_duration = int(max(span_of_kept_window,
    1)). Grubbs thresholds G(L) come from the same stats_math.t_isf the
    kernel calls, embedded as a VALUES lookup (lazy oracle: ~500 bisections
    run on first oracle request, not at catalog import)."""
    from .flagship_queries import _grubbs_g

    m = REPLAY_MAX_POINTS
    gtab = ", ".join(f"({n}, {_grubbs_g(n)!r})" for n in range(10, m))
    return f"""
WITH base AS (
  SELECT event_type, value,
         epoch_ms(ts) / 1000.0 AS tsec,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rf,
         count(*) OVER (PARTITION BY event_type) AS nf
  FROM events
), kept AS (
  SELECT event_type, value AS hv, tsec,
         (rf - greatest(nf - {m}, 0))::BIGINT AS rn,
         least(nf, {m})::BIGINT AS n,
         (nf > {m}) AS truncated,
         greatest(nf - {m}, 0)::BIGINT AS window_start
  FROM base WHERE rf > nf - {m}
), span AS (
  SELECT event_type,
         floor(greatest(max(tsec) - min(tsec), 1.0))::BIGINT AS fd
  FROM kept GROUP BY 1
), pfx AS (
  SELECT k.event_type, k.n, k.truncated, k.window_start, u.L
  FROM (SELECT DISTINCT event_type, n, truncated, window_start FROM kept) k,
       unnest(range(10, k.n)) AS u(L)
), pairs AS (
  SELECT p.event_type, p.L, k.rn, k.hv, k.tsec AS ht
  FROM pfx p JOIN kept k ON k.event_type = p.event_type AND k.rn <= p.L
), w AS (
  SELECT event_type, L,
         count(*) AS eff,
         max(CASE WHEN rn = L THEN hv END) AS lastv,
         max(CASE WHEN rn = L THEN ht END) AS nowt,
         avg(hv) FILTER (WHERE rn > L - 3) AS tail3,
         avg(hv) AS mean_all,
         stddev_samp(hv) AS std_all,
         stddev_pop(hv) AS stdp_all,
         min(hv) AS mn, max(hv) AS mx,
         avg(hv) FILTER (WHERE rn < L) AS mean_head,
         stddev_samp(hv) FILTER (WHERE rn < L) AS std_head,
         median(hv) AS med,
         covar_pop(ht, hv) / nullif(var_pop(ht), 0) AS ls_m,
         avg(hv) - covar_pop(ht, hv) / nullif(var_pop(ht), 0) * avg(ht) AS ls_c,
         sum(pow(50.0/51.0, L - rn)) AS sw,
         sum(pow(50.0/51.0, 2.0*(L - rn))) AS sw2,
         sum(pow(50.0/51.0, L - rn) * hv) AS swx,
         sum(pow(50.0/51.0, L - rn) * hv * hv) AS swx2
  FROM pairs GROUP BY 1, 2
), fha AS (
  -- first_hour_average baseline: points older than now - (fd - 3600)
  SELECT p.event_type, p.L, avg(p.hv) AS bmean, stddev_samp(p.hv) AS bstd
  FROM pairs p
  JOIN w ON w.event_type = p.event_type AND w.L = p.L
  JOIN span s ON s.event_type = p.event_type
  WHERE p.ht < w.nowt - (s.fd - 3600)
  GROUP BY 1, 2
), madc AS (
  SELECT p.event_type, p.L,
         median(abs(p.hv - w.med)) AS mad_dev,
         max(CASE WHEN p.rn = p.L THEN abs(p.hv - w.med) END) AS dem_last
  FROM pairs p JOIN w ON w.event_type = p.event_type AND w.L = p.L
  GROUP BY 1, 2
), lsr AS (
  SELECT p.event_type, p.L,
         stddev_pop(p.hv - (w.ls_m * p.ht + w.ls_c)) AS ls_std,
         avg(p.hv - (w.ls_m * p.ht + w.ls_c)) FILTER (WHERE p.rn > p.L - 3) AS ls_t
  FROM pairs p JOIN w ON w.event_type = p.event_type AND w.L = p.L
  GROUP BY 1, 2
), histc AS (
  SELECT p.event_type, p.L,
         count(*) FILTER (WHERE
           least(14, greatest(0, floor((p.hv - w.mn) * 15.0 / (w.mx - w.mn))))
           = least(14, greatest(0, floor((w.tail3 - w.mn) * 15.0 / (w.mx - w.mn)))))
           AS t_bin_count
  FROM pairs p JOIN w ON w.event_type = p.event_type AND w.L = p.L
  WHERE w.mx > w.mn
  GROUP BY 1, 2
), gtab(gn, g) AS (
  SELECT * FROM (VALUES {gtab})
), det AS (
  SELECT w.*,
    -- reference loop quirks (`analyzer/algorithms.py:337-367`): bin-0 fires
    -- only at t == min; t == max matches no half-open check; a constant
    -- window lands numpy's center bin (count = eff)
    CASE WHEN w.mx = w.mn THEN w.eff <= 20
         WHEN w.tail3 = w.mx THEN false
         WHEN w.tail3 = w.mn
              OR least(14, greatest(0,
                   floor((w.tail3 - w.mn) * 15.0 / (w.mx - w.mn)))) >= 1
           THEN coalesce(h.t_bin_count, 0) <= 20
         ELSE false END AS a_hist,
    coalesce(abs(w.tail3 - f.bmean) > 3 * f.bstd, false) AS a_fha,
    coalesce(abs(w.tail3 - w.mean_all) > 3 * w.std_all, false) AS a_std,
    coalesce((w.tail3 - w.mean_all) / nullif(w.stdp_all, 0.0) > g.g,
             false) AS a_grubbs,
    coalesce(abs(w.lastv - w.mean_head) > 3 * w.std_head, false) AS a_msc,
    coalesce(m.mad_dev > 0 AND m.dem_last / m.mad_dev > 6, false) AS a_mad,
    coalesce(abs(w.lastv - w.swx / w.sw) > 3 * sqrt(greatest(0.0,
        (w.swx2 / w.sw - (w.swx / w.sw) * (w.swx / w.sw))
        * (w.sw * w.sw / (w.sw * w.sw - w.sw2)))), false) AS a_ewm,
    coalesce(abs(l.ls_t) > 3 * l.ls_std
             AND round(l.ls_std) <> 0 AND round(l.ls_t) <> 0, false) AS a_ls
  FROM w
  LEFT JOIN fha f   ON f.event_type = w.event_type AND f.L = w.L
  LEFT JOIN madc m  ON m.event_type = w.event_type AND m.L = w.L
  LEFT JOIN lsr l   ON l.event_type = w.event_type AND l.L = w.L
  LEFT JOIN histc h ON h.event_type = w.event_type AND h.L = w.L
  LEFT JOIN gtab g  ON g.gn = w.eff
)
SELECT d.event_type,
       (d.L - 1)::BIGINT AS index,
       d.lastv AS value,
       (a_hist::INT + a_fha::INT + a_std::INT + a_grubbs::INT + a_msc::INT
        + a_mad::INT + a_ewm::INT + a_ls::INT)::INT AS consensus_count,
       concat_ws(',',
         CASE WHEN a_hist THEN 'histogram_bins' END,
         CASE WHEN a_fha THEN 'first_hour_average' END,
         CASE WHEN a_std THEN 'stddev_from_average' END,
         CASE WHEN a_grubbs THEN 'grubbs' END,
         CASE WHEN a_msc THEN 'mean_subtraction_cumulation' END,
         CASE WHEN a_mad THEN 'median_absolute_deviation' END,
         CASE WHEN a_ewm THEN 'stddev_from_moving_average' END,
         CASE WHEN a_ls THEN 'least_squares' END) AS triggered_algorithms,
       p.truncated, p.window_start
FROM det d
JOIN (SELECT DISTINCT event_type, truncated, window_start FROM kept) p
  ON p.event_type = d.event_type
WHERE a_hist OR a_fha OR a_std OR a_grubbs OR a_msc OR a_mad OR a_ewm OR a_ls
ORDER BY d.event_type, index
"""


@query(
    "replay_ensemble_relational",
    _replay_rel_oracle,
    doc="the Crucible consensus-CSV analog, fully oracled (r3 ask #4): the "
        "REAL prefix-replay kernel path (_replay_group — every prefix "
        "10..n-1 of each series re-scored, detectors run independently, no "
        "early exit, per `crucible_algorithms.py:441-607`) restricted via "
        "the algorithm-set selection surface to the 8 SQL-expressible "
        "detectors (all nine minus ks_test, whose ADF sub-gate needs AIC "
        "multi-regressor OLS; grubbs joins via the same t_isf-derived G(N) "
        "table the 9-of-9 flagship twins use, here as a VALUES lookup up "
        f"to the {REPLAY_MAX_POINTS}-point replay cap); DuckDB restates "
        "every prefix verdict, trigger list and consensus count",
)
def replay_ensemble_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = replay_full_ensemble(
        spark, sf_dir, skyline_app="crucible", algorithms=REPLAY_SQLABLE
    )
    return out.orderBy("event_type", "index")
