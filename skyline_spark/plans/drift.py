"""Distribution-drift verdicts over per-partition stat series.

This is the Spark restatement of Skyline's analysis sweep (SURVEY §3.2):

    stats table (small)
      → groupBy(lang, stat): one row per series, its points packed into a
        date-sorted list<struct<partition_date, value[, is_target][, sample]>>
      → mapInArrow(worker): every series of an Arrow batch judged at once
      → one verdict row per (target partition, lang, stat)

The *expensive* work (scanning the 10^12-row page table) happened in
``plans.stats``; this stage only touches the tiny stats table (partitions ×
langs × stats rows) — the same shape as Skyline analyzing 250k small Redis
series, not the raw datapoints. Each series crosses the Python boundary as
ONE row: the worker reads the list offsets and the flat child arrays as
numpy (``date32`` as int days; no Python ``date`` is built), cuts every
target's lookback window out of the flat buffers, and runs the ensemble
one detector slot at a time over all windows of one length
(``operators.detectors.kernel_rows``: batched numpy forms, scalar kernels
for the rest). Do not reintroduce per-point grouped maps here.

Semantics per (lang, stat) series:
- each partition step is mapped to ``partition_seconds`` of pseudo-time, so
  the reference kernels run unchanged with rescaled DetectorParams;
- the "latest datapoint" for a target partition is that partition's stat
  value; history = the prior ``lookback_partitions`` values (Skyline's
  FULL_DURATION window, `settings.py:89`);
- the ks_test slot runs on raw value *samples* (reference = prior
  partitions' samples, probe = the target's — SURVEY §2.1 #9) via the same
  kernel with window parameters selecting [prior | current];
- gates: TOO_SHORT when history < min_history; BORING when the skyline
  boredom rule fires on the stat series OR the target partition's sample is
  constant (constant column → skip drift, SURVEY §2.2); consensus is the
  reference's k-of-n with None counting toward k.

``_series_verdicts`` is the scalar statement of exactly these semantics,
one series and one target at a time; it is the oracle the batched worker
is pinned to (tests/test_batched_detectors.py).
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..config import (
    STATUS_BORING,
    STATUS_FAIL,
    STATUS_OK,
    STATUS_TOO_SHORT,
    ValidationConfig,
)
from ..operators.detectors import ALGORITHMS, DetectorParams, kernel_rows, ks_test
from ..operators.ensemble import consensus_anomalous
from .stats import DRIFT_STATS, PARTITION_COLS, SAMPLE_STAT

__all__ = ["drift_verdicts", "DRIFT_SCHEMA", "SAMPLE_BACKED_STATS"]

# stats whose ks_test slot is fed by the raw text_len sample
SAMPLE_BACKED_STATS = {"text_len_avg", "text_len_p50", "text_len_p95"}

DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("partition_date", T.DateType()),
        T.StructField("lang", T.StringType()),
        T.StructField("stat", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("anomalous", T.BooleanType()),
        T.StructField("ensemble", T.ArrayType(T.BooleanType(), containsNull=True)),
        T.StructField("triggered", T.ArrayType(T.StringType())),
        T.StructField("datapoint", T.DoubleType()),
    ]
)


def _series_verdicts(
    dates: np.ndarray,
    ts_all: np.ndarray,
    values_all: np.ndarray,
    samples_all,
    target_idx: np.ndarray,
    lang: str,
    stat: str,
    cfg: ValidationConfig,
    sample_backed: set,
    out: dict,
    algorithms: dict | None = None,
) -> None:
    """Ensemble for each target index of ONE series, appending to column
    lists — the scalar oracle of the batched worker (``_verdict_batch``)."""
    P = cfg.partition_seconds
    ens_cfg = cfg.ensemble
    algos = ALGORITHMS if algorithms is None else algorithms
    n_detectors = len(algos)
    max_false = n_detectors - ens_cfg.consensus + 1
    has_samples = samples_all is not None and stat in sample_backed

    for i in target_idx:
        lo = max(0, i + 1 - cfg.lookback_partitions)
        ts = ts_all[lo : i + 1]
        values = values_all[lo : i + 1]
        now = float(ts_all[i])

        out["partition_date"].append(dates[i])
        out["lang"].append(lang)
        out["stat"].append(stat)
        out["datapoint"].append(float(values_all[i]))

        # --- gates (surfaced as statuses, SURVEY §2.2) -------------------
        sample_i = samples_all[i] if has_samples else None
        boring_sample = (
            sample_i is not None
            and len(sample_i) >= 2
            and len(set(np.asarray(sample_i).tolist())) == ens_cfg.boredom_set_size
        )
        tail = values[-ens_cfg.max_tolerable_boredom :]
        boring_series = (
            len(values) >= ens_cfg.max_tolerable_boredom
            and len(set(tail.tolist())) == ens_cfg.boredom_set_size
        )
        if len(values) < cfg.min_history:
            out["status"].append(STATUS_TOO_SHORT)
            out["anomalous"].append(False)
            out["ensemble"].append([])
            out["triggered"].append([])
            continue
        if boring_sample or boring_series:
            out["status"].append(STATUS_BORING)
            out["anomalous"].append(False)
            out["ensemble"].append([])
            out["triggered"].append([])
            continue

        # --- ordered ensemble with optimized early-exit ------------------
        # windows scale with the EFFECTIVE history (short early series get a
        # proportionally placed first-hour baseline, like Skyline's 1h/24h).
        # full_duration is the ACTUAL ts span, not (eff-1)*P: ts carries
        # real calendar ordinals, so a date gap inside the lookback makes
        # the span exceed the index count and an index-derived duration
        # would shift first_hour_average's baseline cutoff into the middle
        # of the window. Identical on gapless data (span == (eff-1)*P).
        eff = len(values)
        span = int(ts[-1] - ts[0]) if eff > 1 else P
        params = DetectorParams(
            full_duration=max(span, P),
            baseline_head_seconds=max(P, eff // 3 * P),
            # the anomalous window is exactly one partition (see DetectorParams)
            tail_points=1,
        )
        ensemble: list[bool | None] = []
        consensus_possible = True
        for name in algos:
            if not consensus_possible:
                ensemble.append(False)  # padded False (`algorithms.py:637-638`)
                continue
            if name == "ks_test":
                verdict = _ks_on_sample_arrays(
                    ts_all, samples_all if has_samples else None, i, lo, now, cfg
                )
            else:
                verdict = algos[name](ts, values, now, params)
            ensemble.append(verdict)
            if ens_cfg.run_optimized_workflow and ensemble.count(False) >= max_false:
                consensus_possible = False

        anomalous = consensus_anomalous(ensemble, ens_cfg.consensus)
        out["status"].append(STATUS_FAIL if anomalous else STATUS_OK)
        out["anomalous"].append(anomalous)
        out["ensemble"].append(ensemble)
        out["triggered"].append([n for n, v in zip(algos, ensemble) if v is True])


def _ks_on_sample_arrays(ts_all, samples_all, i, lo, now, cfg):
    """ks_test over raw-value samples: prior partitions vs the target.

    Reuses the reference kernel unchanged by assigning every sample point its
    partition's pseudo-timestamp and choosing windows that select
    [prior partitions | target partition].
    """
    if samples_all is None:
        return False  # no sample → insufficient points, reference returns False
    ts_parts: list[np.ndarray] = []
    val_parts: list[np.ndarray] = []
    for j in range(lo, i + 1):
        s = samples_all[j]
        if s is None or len(s) == 0:
            continue
        arr = np.asarray(s, dtype=np.float64)
        ts_parts.append(np.full(arr.size, ts_all[j]))
        val_parts.append(arr)
    if not ts_parts:
        return False
    P = cfg.partition_seconds
    params = DetectorParams(
        full_duration=cfg.lookback_partitions * P,
        ks_reference_seconds=cfg.lookback_partitions * P,
        ks_probe_seconds=P // 2,
    )
    return ks_test(np.concatenate(ts_parts), np.concatenate(val_parts), now, params)


def drift_verdicts(
    stats_long: DataFrame,
    samples: DataFrame,
    cfg: ValidationConfig | None = None,
    targets_df: DataFrame | None = None,
    drift_stats: list[str] | None = None,
    sample_backed: set[str] | None = None,
    latest_only: bool = False,
    algorithms: dict | None = None,
) -> DataFrame:
    """stats + samples → per-(partition, lang, stat) drift verdict rows.

    ``targets_df``: (partition_date, lang) pairs to validate (e.g. the not-
    yet-checkpointed ones, for resume); None = every partition. Non-target
    rows still flow into the worker as baseline history — the left join only
    *flags* targets (broadcast: the pair list is tiny by construction).

    ``latest_only``: steady-state sweep shape — validate each series' NEWEST
    partition only, selected *inside* the worker (it sees the whole
    ordered series, so "latest" is the last index). Skips the target-flag
    broadcast join entirely; with one target per series that broadcast is
    one row per series — a driver-side collect+rebroadcast that is pure
    fixed cost at any cluster size.

    ``drift_stats`` / ``sample_backed``: which stat series run the ensemble
    and which of them feed their ks_test slot from the raw-value sample;
    defaults are the page-table stat names (plans/stats.py).

    ``algorithms``: ordered kernel dict to run instead of the full registry
    (the reference's per-app algorithm-set selection,
    ``crucible_algorithms.py:458-481``) — e.g. the SQL-expressible subset
    for the oracled flagship twins; None = every registered kernel.
    """
    cfg = cfg or ValidationConfig()
    drift_stats = DRIFT_STATS if drift_stats is None else drift_stats
    sample_backed = SAMPLE_BACKED_STATS if sample_backed is None else sample_backed
    # project to exactly the worker's columns — anything else (fingerprint,
    # carrier columns) would be shuffled AND pushed through the Arrow
    # boundary. Null partition keys are excluded: pages whose warc_ts/lang
    # failed the schema coercion produce null-keyed stat rows, which the
    # constraints layer already reports as violations, and a NULL date has
    # no place on a date-sorted series (the report-not-crash contract in
    # plans/validate.py)
    points = (
        stats_long.where(F.col("stat").isin(drift_stats))
        .where(
            F.col(PARTITION_COLS[0]).isNotNull()
            & F.col(PARTITION_COLS[1]).isNotNull()
        )
        .select(*PARTITION_COLS, "stat", "value")
    )
    fields = [F.col("partition_date"), F.col("value")]
    if not latest_only and targets_df is not None:
        flags = targets_df.select(*PARTITION_COLS).withColumn("is_target", F.lit(True))
        points = points.join(F.broadcast(flags), PARTITION_COLS, "left")
        fields.append(F.coalesce(F.col("is_target"), F.lit(False)).alias("is_target"))
    backed = [s for s in drift_stats if s in sample_backed]
    if backed:
        # samples are one bounded row per (partition, lang) — broadcast so
        # the stats side never shuffles for this join. Only sample-backed
        # series match (the condition sits in the join, so no other row
        # copies the array); the rest carry NULL, read as "no sample"
        samp = samples.where(F.col("stat") == SAMPLE_STAT).select(
            *(F.col(c).alias(f"_s_{c}") for c in PARTITION_COLS), F.col("sample")
        )
        on = F.col("stat").isin(backed)
        for c in PARTITION_COLS:
            on &= F.col(c) == F.col(f"_s_{c}")
        points = points.join(F.broadcast(samp), on, "left")
        fields.append(F.col("sample"))
    # one row per series: sort_array orders the structs by their first
    # field, partition_date
    series = points.groupBy("lang", "stat").agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("points")
    )
    # snapshot the registry DRIVER-side into the closure: Spark's python
    # workers re-import this module and would otherwise see only built-ins,
    # silently dropping kernels added via register_detector (cloudpickle
    # serializes the dict, including by-value user functions)
    algos = dict(ALGORITHMS if algorithms is None else algorithms)
    backed_set = set(backed)

    def judge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = _verdict_batch(batch, cfg, backed_set, algos, latest_only)
            if out.num_rows:
                yield out

    return series.mapInArrow(judge, DRIFT_SCHEMA)


# --------------------------------------------------------------------------
# the worker: one Arrow batch of packed series → verdict rows
# --------------------------------------------------------------------------

_EPOCH_ORDINAL = _dt.date(1970, 1, 1).toordinal()
_STATUSES = pa.array([STATUS_OK, STATUS_FAIL, STATUS_TOO_SHORT, STATUS_BORING])
_OK, _FAIL, _TOO_SHORT, _BORING = range(4)
_ARROW_SCHEMA = pa.schema(
    [
        ("partition_date", pa.date32()),
        ("lang", pa.string()),
        ("stat", pa.string()),
        ("status", pa.string()),
        ("anomalous", pa.bool_()),
        ("ensemble", pa.list_(pa.bool_())),
        ("triggered", pa.list_(pa.string())),
        ("datapoint", pa.float64()),
    ]
)


def _list_parts(arr: pa.ListArray) -> tuple[np.ndarray, pa.Array]:
    """(int64 offsets from 0, flat child) of a list array; null lists
    count as empty, and ``flatten`` drops whatever child values back them."""
    lens = np.diff(arr.offsets.to_numpy()).astype(np.int64)
    if arr.null_count:
        lens[arr.is_null().to_numpy(zero_copy_only=False)] = 0
    return np.concatenate(([0], np.cumsum(lens))), arr.flatten()


def _verdict_batch(
    batch: pa.RecordBatch,
    cfg: ValidationConfig,
    backed: set[str],
    algos: dict,
    latest_only: bool,
) -> pa.RecordBatch:
    """Every target of every series in ``batch``, judged as
    ``_series_verdicts`` judges them, with the ensemble batched per
    window length."""
    P = cfg.partition_seconds
    ens_cfg = cfg.ensemble
    stats = batch.column("stat").to_pylist()
    offs, pts = _list_parts(batch.column("points"))
    days = pts.field("partition_date").cast(pa.int32()).to_numpy()
    values = pts.field("value").to_numpy(zero_copy_only=False).astype(np.float64)
    names = {f.name for f in pts.type}
    flags = (
        pts.field("is_target").to_numpy(zero_copy_only=False)
        if "is_target" in names
        else None
    )
    if "sample" in names:
        soffs, sflat = _list_parts(pts.field("sample"))
        sflat = sflat.to_numpy(zero_copy_only=False).astype(np.float64)
    else:
        soffs, sflat = np.zeros(len(values) + 1, np.int64), np.empty(0)
    has_samples = np.array([s in backed for s in stats], dtype=bool)
    sid = np.repeat(np.arange(len(stats)), np.diff(offs))

    # nonNegativeDerivative (skyline_functions.py:1044-1100): consecutive
    # diffs; counter resets (negative diffs) and each series' first point
    # are DROPPED — a reset point gets no verdict, exactly like the
    # reference skipping it from analysis. Series shorter than 2 stay raw.
    deriv = np.array([s in cfg.derivative_stats for s in stats], dtype=bool)
    deriv &= np.diff(offs) >= 2
    if deriv.any():
        on = deriv[sid]
        dv = np.empty_like(values)
        dv[0] = np.nan
        dv[1:] = values[1:] - values[:-1]
        first = np.zeros(len(values), dtype=bool)
        first[offs[:-1][offs[:-1] < offs[1:]]] = True
        keep = ~on | (~first & (dv >= 0))
        values = np.where(on, dv, values)[keep]
        days, sid = days[keep], sid[keep]
        if flags is not None:
            flags = flags[keep]
        slens = np.diff(soffs)
        sflat = sflat[np.repeat(keep, slens)]
        soffs = np.concatenate(([0], np.cumsum(slens[keep])))
        offs = np.concatenate(([0], np.cumsum(np.bincount(sid, minlength=len(stats)))))

    if latest_only:
        tgt = offs[1:][offs[1:] > offs[:-1]] - 1
    elif flags is None:
        tgt = np.arange(len(values))
    else:
        tgt = np.flatnonzero(flags)
    t_sid = sid[tgt]
    start = np.maximum(offs[t_sid], tgt + 1 - cfg.lookback_partitions)
    width = tgt + 1 - start
    ts = (days.astype(np.int64) + _EPOCH_ORDINAL).astype(np.float64) * P

    # --- gates (surfaced as statuses, SURVEY §2.2) -----------------------
    status = np.full(len(tgt), _OK, dtype=np.int64)
    boring = np.zeros(len(tgt), dtype=bool)
    mtb, bss = ens_cfg.max_tolerable_boredom, ens_cfg.boredom_set_size
    for k in np.flatnonzero(width >= mtb):
        tail = values[start[k] : tgt[k] + 1][-mtb:]
        boring[k] = len(set(tail.tolist())) == bss
    for k in np.flatnonzero(has_samples[t_sid] & (np.diff(soffs)[tgt] >= 2)):
        sample = sflat[soffs[tgt[k]] : soffs[tgt[k] + 1]]
        boring[k] |= len(set(sample.tolist())) == bss
    status[boring] = _BORING
    status[width < cfg.min_history] = _TOO_SHORT

    # --- the ensemble, one window length at a time -----------------------
    n_det = len(algos)
    codes = np.zeros((len(tgt), n_det), dtype=np.int8)
    judged = status == _OK
    ks_params = DetectorParams(
        full_duration=cfg.lookback_partitions * P,
        ks_reference_seconds=cfg.lookback_partitions * P,
        ks_probe_seconds=P // 2,
    )
    for w, rows in _window_groups(width, judged):
        window = start[rows][:, None] + np.arange(w)
        ts_w, values_w = ts[window], values[window]
        # full_duration is the ACTUAL ts span, not (w-1)*P: a date gap
        # inside the lookback makes the span exceed the index count
        span = (ts_w[:, -1] - ts_w[:, 0]).astype(np.int64)
        params = DetectorParams(
            full_duration=np.maximum(span, P) if w > 1 else np.full(len(rows), P),
            baseline_head_seconds=max(P, w // 3 * P),
            # the anomalous window is exactly one partition (see DetectorParams)
            tail_points=1,
        )

        def ks_slot(r: np.ndarray) -> np.ndarray:
            # sample-fed ks_test: the window's samples are one contiguous
            # slice of the flat buffer, each point stamped with its
            # partition's pseudo-timestamp
            out = np.zeros(len(r), dtype=np.int8)
            for n, k in enumerate(rows[r]):
                lo, hi = start[k], tgt[k] + 1
                if not has_samples[t_sid[k]] or soffs[lo] == soffs[hi]:
                    continue
                sample_ts = np.repeat(ts[lo:hi], np.diff(soffs[lo : hi + 1]))
                verdict = ks_test(
                    sample_ts, sflat[soffs[lo] : soffs[hi]], ts[tgt[k]], ks_params
                )
                out[n] = -1 if verdict is None else int(verdict)
            return out

        codes[rows] = _ensemble_codes(
            ts_w, values_w, ts_w[:, -1], params, algos, ens_cfg, ks_slot
        )
    n_false = (codes == 0).sum(axis=1)
    anomalous = judged & (n_false <= n_det - ens_cfg.consensus)
    status[anomalous] = _FAIL

    # --- verdict rows, built as Arrow arrays ------------------------------
    judged_codes = codes[judged]
    ens_offsets = np.concatenate(([0], np.cumsum(judged * n_det)))
    flat = judged_codes.ravel()
    ensemble = pa.ListArray.from_arrays(
        pa.array(ens_offsets, pa.int32()), pa.array(flat == 1, mask=flat == -1)
    )
    hit_rows, hit_slots = np.nonzero(codes == 1)
    trig_offsets = np.concatenate(([0], np.cumsum(np.bincount(hit_rows, minlength=len(tgt)))))
    triggered = pa.ListArray.from_arrays(
        pa.array(trig_offsets, pa.int32()),
        pa.array(list(algos), pa.string()).take(pa.array(hit_slots)),
    )
    datapoint = values[tgt]
    take = pa.array(t_sid)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(days[tgt], pa.int32()).cast(pa.date32()),
            batch.column("lang").take(take),
            batch.column("stat").take(take),
            _STATUSES.take(pa.array(status)),
            pa.array(anomalous),
            ensemble,
            triggered,
            # NULL for a NaN datapoint, as a pandas → Arrow conversion writes it
            pa.array(datapoint, mask=np.isnan(datapoint)),
        ],
        schema=_ARROW_SCHEMA,
    )


#: cells per [rows × window] matrix the worker builds at once — bounds its
#: memory when a first run judges every partition of a long calendar
_WINDOW_CELLS = 1 << 20


def _window_groups(width: np.ndarray, judged: np.ndarray):
    """(w, target indices) for every window length among the judged
    targets, in chunks of at most ``_WINDOW_CELLS`` cells."""
    for w in np.unique(width[judged]):
        rows = np.flatnonzero(judged & (width == w))
        step = max(1, _WINDOW_CELLS // int(w))
        for lo in range(0, len(rows), step):
            yield int(w), rows[lo : lo + step]


def _ensemble_codes(ts, values, now, params, algos, ens_cfg, ks_slot) -> np.ndarray:
    """Ordered ensemble over the rows of one window length → int8 codes
    (1 True, 0 False, -1 None), ``[rows × detectors]``.

    Slot by slot, only over rows whose consensus is still reachable: once
    a row has ``n − k + 1`` Falses its later slots stay 0 — the padded
    False of the optimized workflow (`algorithms.py:637-638`)."""
    m = values.shape[0]
    codes = np.zeros((m, len(algos)), dtype=np.int8)
    live = np.ones(m, dtype=bool)
    n_false = np.zeros(m, dtype=np.int64)
    max_false = len(algos) - ens_cfg.consensus + 1
    finite = np.isfinite(values.max(axis=1) - values.min(axis=1))
    for j, (name, kernel) in enumerate(algos.items()):
        r = np.flatnonzero(live)
        if r.size == 0:
            break
        if name == "ks_test":
            col = ks_slot(r)
        else:
            col = kernel_rows(kernel, ts, values, now, params, r, finite)
        codes[r, j] = col
        if ens_cfg.run_optimized_workflow:
            n_false[r] += col == 0
            live &= n_false < max_false
    return codes
