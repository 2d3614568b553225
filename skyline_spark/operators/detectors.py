"""The nine Skyline consensus detectors, re-implemented as vectorized kernels.

Each kernel takes the ordered series of a single group — ``ts`` (seconds,
float64) and ``values`` (float64) — plus the anchor time ``now`` and the
window length ``full_duration``, and returns ``True`` (the latest datapoint
is anomalous), ``False``, or ``None`` (kernel errored; per the reference's
error contract every exception is trapped and reported as None —
`analyzer/algorithms.py:421-456`).

Semantics are byte-parity reimplementations of
/root/reference/skyline/analyzer/algorithms.py (file:line cited per kernel).
They are NOT copies: the reference iterates python lists of (ts, value)
tuples; these kernels are numpy/pandas vectorized over one series.

Batched forms. Six built-ins also carry a ``.batched`` attribute: the same
verdict for every row of a ``[rows × window]`` matrix in one numpy pass,
which is how the drift stage (plans/drift.py) judges thousands of short
series per Arrow batch. A batched form takes ``ts``/``values`` as 2-D
float64 arrays, ``now`` as a 1-D array, and a ``DetectorParams`` whose
``full_duration``/``baseline_head_seconds`` may be per-row int arrays; it
returns a bool array and is only handed rows whose values (and value span)
are finite. :func:`kernel_rows` is the one dispatcher: batched form where
one exists, the scalar kernel per row otherwise (``stddev_from_moving_
average``'s pandas EWM, ``least_squares``' lstsq, ``ks_test``, plugins,
non-finite rows). The scalar kernels are the golden oracle; the equality
battery (tests/test_batched_detectors.py) pins every batched form to them
row by row, and ``kernel_self_test`` re-checks both at startup.

Wall-clock anchoring in the reference (`algorithms.py:183,379-380` call
``time()``) is replaced by the explicit ``now`` parameter so verdicts are
deterministic and testable (FIXTURES.md F2 mocks time the same way the
reference's own tests do, `tests/algorithms_test.py:45-48`).
"""

from __future__ import annotations

import dataclasses
import functools
import math
from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np
import pandas as pd

from .stats_math import adfuller, ks_2samp, t_isf

__all__ = [
    "ALGORITHMS",
    "DETECTOR_VERSIONS",
    "register_detector",
    "unregister_detector",
    "DetectorParams",
    "tail_avg",
    "median_absolute_deviation",
    "grubbs",
    "first_hour_average",
    "stddev_from_average",
    "stddev_from_moving_average",
    "mean_subtraction_cumulation",
    "least_squares",
    "histogram_bins",
    "ks_test",
    "kernel_rows",
]

Verdict = Optional[bool]


@dataclass(frozen=True)
class DetectorParams:
    """Window parameters of the kernels.

    Defaults are the reference's hardcoded constants; the partition-axis
    validation plan rescales them (one partition step ≈ one "second"-unit
    multiple) so the same kernels run on per-partition stat series.
    """

    # settings.py:89 — length of the rolling window
    full_duration: int = 86400
    # algorithms.py:183 — first_hour_average baseline = oldest this-many
    # seconds of the window (the reference's literal "first hour")
    baseline_head_seconds: int = 3600
    # algorithms.py:379-380 — ks_test reference window = [now-ref, now-probe),
    # probe window = [now-probe, now]
    ks_reference_seconds: int = 3600
    ks_probe_seconds: int = 600
    # algorithms.py:384 — both ks windows need at least this many points
    ks_min_points: int = 20
    # algorithms.py:78-89 — tail_avg over the last N points. The reference
    # pins 3 (anomalies persist ~3 minutely datapoints); on the partition
    # axis the anomalous window is exactly ONE partition, so the validation
    # plan sets 1 — otherwise a single-partition spike is diluted 3x and the
    # z-score detectors can never reach 3 sigma.
    tail_points: int = 3


_REFERENCE_PARAMS = DetectorParams()


def _kernel(fn: Callable[..., bool]) -> Callable[..., Verdict]:
    """Reference error contract: any exception → None (`algorithms.py:103-107`)."""

    @functools.wraps(fn)
    def wrapped(
        ts: np.ndarray,
        values: np.ndarray,
        now: float,
        params: DetectorParams = _REFERENCE_PARAMS,
    ) -> Verdict:
        try:
            return fn(ts, values, now, params)
        except Exception:
            return None

    return wrapped


def tail_avg(values: np.ndarray, n: int = 3) -> float:
    """Mean of the last n datapoints; the last value if fewer than n.

    Reference: `analyzer/algorithms.py:78-89` (n=3, IndexError fallback when
    the series is shorter than 3).
    """
    if values.size >= n:
        return float(np.mean(values[-n:]))
    return float(values[-1])


@_kernel
def median_absolute_deviation(ts, values, now, params) -> bool:
    """|last − median| / median(|x − median|) > 6; False when MAD == 0.

    Reference: `analyzer/algorithms.py:92-139` uses ``pandas.Series.median``
    (skipna). For all-finite series np.median is numerically identical and
    ~5x cheaper; NaN-bearing series take the pandas path for skipna parity.
    """
    if np.isnan(values).any():
        series = pd.Series(values)
        median = series.median()
        demedianed = (series - median).abs()
        median_deviation = demedianed.median()
        if median_deviation == 0:
            return False
        return bool(demedianed.iat[-1] / median_deviation > 6)
    median = np.median(values)
    demedianed = np.abs(values - median)
    median_deviation = np.median(demedianed)
    if median_deviation == 0:
        return False
    return bool(demedianed[-1] / median_deviation > 6)


@_kernel
def grubbs(ts, values, now, params) -> bool:
    """Grubbs outlier test on the tail average.

    Reference: `analyzer/algorithms.py:142-172`. Population std (scipy.std is
    ddof=0); False when std == 0; threshold from the Student-t inverse
    survival function at .05 / (2N) with N−2 dof.
    """
    std_dev = float(np.std(values))  # ddof=0, parity with scipy.std
    if std_dev == 0:
        return False
    mean = float(np.mean(values))
    tail_average = tail_avg(values, params.tail_points)
    z_score = (tail_average - mean) / std_dev
    return bool(z_score > _grubbs_score(values.size))


@functools.lru_cache(maxsize=4096)
def _grubbs_score(n: int) -> float:
    """Grubbs critical value for N points — a function of N alone, so the
    ~200-step t_isf bisection runs once per window length."""
    threshold = t_isf(0.05 / (2.0 * n), n - 2)
    threshold_sq = threshold * threshold
    return ((n - 1) / math.sqrt(n)) * math.sqrt(threshold_sq / (n - 2 + threshold_sq))


@_kernel
def first_hour_average(ts, values, now, params) -> bool:
    """Tail average vs mean/std of the OLDEST hour of the window.

    Reference: `analyzer/algorithms.py:175-194`. Baseline = points with
    ts < now − (full_duration − 3600); sample std (pandas ddof=1). An empty
    or single-point baseline yields NaN stats → False (NaN comparisons are
    False), matching the reference's pandas behaviour.
    """
    cutoff = now - (params.full_duration - params.baseline_head_seconds)
    baseline = values[ts < cutoff]
    if np.isnan(baseline).any():
        b = pd.Series(baseline)
        mean, std_dev = b.mean(), b.std()
    elif baseline.size == 0:
        return False  # NaN mean/std → all comparisons False
    else:
        mean = float(np.mean(baseline))
        std_dev = float(np.std(baseline, ddof=1)) if baseline.size > 1 else float("nan")
    t = tail_avg(values, params.tail_points)
    return bool(abs(t - mean) > 3 * std_dev)


@_kernel
def stddev_from_average(ts, values, now, params) -> bool:
    """|tail_avg − mean| > 3 · sample-std of the whole series.

    Reference: `analyzer/algorithms.py:197-216` (pandas ddof=1 std).
    """
    if np.isnan(values).any():
        series = pd.Series(values)
        mean, std_dev = series.mean(), series.std()
    else:
        mean = float(np.mean(values))
        std_dev = float(np.std(values, ddof=1)) if values.size > 1 else float("nan")
    t = tail_avg(values, params.tail_points)
    return bool(abs(t - mean) > 3 * std_dev)


@_kernel
def stddev_from_moving_average(ts, values, now, params) -> bool:
    """|last − EWMA| > 3 · EWM-std at the last point.

    Reference: `analyzer/algorithms.py:219-244`. EWM parameters are pinned:
    com=50, adjust=True, ignore_na=False, min_periods=0, std bias=False —
    no Catalyst equivalent exists, so this stays a pandas kernel (SURVEY.md
    §2.1 #5 watch-list item).
    """
    series = pd.Series(values)
    ewm = series.ewm(ignore_na=False, min_periods=0, adjust=True, com=50)
    exp_average = ewm.mean()
    std_dev = ewm.std(bias=False)
    return bool(abs(series.iat[-1] - exp_average.iat[-1]) > 3 * std_dev.iat[-1])


@_kernel
def mean_subtraction_cumulation(ts, values, now, params) -> bool:
    """|last − mean(head)| > 3 · std(head) where head = all but the last.

    Reference: `analyzer/algorithms.py:247-273`. The reference coerces falsy
    values (None and literal 0.0) to 0 — with float input only NaN can stand
    in for None, and NaN is truthy in python, so the float64 series is used
    as-is; sample std (ddof=1).
    """
    if np.isnan(values).any():
        series = pd.Series(values)
        series = series - series[0 : len(series) - 1].mean()
        std_dev = series[0 : len(series) - 1].std()
        return bool(abs(series.iat[-1]) > 3 * std_dev)
    head = values[:-1]
    if head.size == 0:
        return False  # NaN mean/std → all comparisons False
    mean = float(np.mean(head))
    std_dev = float(np.std(head, ddof=1)) if head.size > 1 else float("nan")
    return bool(abs(values[-1] - mean) > 3 * std_dev)


@_kernel
def least_squares(ts, values, now, params) -> bool:
    """OLS trend residual tail test.

    Reference: `analyzer/algorithms.py:276-334`. Fit y = m·x + c with
    ``np.linalg.lstsq(rcond=-1)`` (rcond pinned for parity); residual
    population-std; anomalous iff |mean of last 3 residuals| > 3σ AND
    round(σ) != 0 AND round(t) != 0; False with fewer than 3 residuals.
    """
    x = np.asarray(ts, dtype=np.float64)
    y = np.asarray(values, dtype=np.float64)
    A = np.vstack([x, np.ones(len(x))]).T
    m, c = np.linalg.lstsq(A, y, rcond=-1)[0]
    errors = y - (m * x + c)
    if errors.size < max(3, params.tail_points):
        return False
    std_dev = float(np.std(errors))  # ddof=0, parity with scipy.std
    t = float(np.mean(errors[-params.tail_points :]))
    return bool(abs(t) > std_dev * 3 and round(std_dev) != 0 and round(t) != 0)


@_kernel
def histogram_bins(ts, values, now, params) -> bool:
    """Tail average falls in a 15-bin histogram bin with ≤ 20 members.

    Reference: `analyzer/algorithms.py:337-367`, including the first-bin
    edge case (t <= bins[0]) and the half-open upper bins.
    """
    t = tail_avg(values, params.tail_points)
    counts, bins = np.histogram(values, bins=15)
    for index, bin_size in enumerate(counts):
        if bin_size <= 20:
            if index == 0:
                if t <= bins[0]:
                    return True
            elif bins[index] <= t < bins[index + 1]:
                return True
    return False


@_kernel
def ks_test(ts, values, now, params) -> bool:
    """Distribution drift: last 10 minutes vs the prior 50 minutes.

    Reference: `analyzer/algorithms.py:370-401`. False unless both windows
    have ≥ 20 points; anomalous iff KS p < .05 AND D > .5 AND the reference
    window is stationary (ADF p < .05, maxlag 10).
    """
    hour_ago = now - params.ks_reference_seconds
    ten_minutes_ago = now - params.ks_probe_seconds
    ref_mask = (ts >= hour_ago) & (ts < ten_minutes_ago)
    probe_mask = ts >= ten_minutes_ago
    reference = values[ref_mask]
    probe = values[probe_mask]
    if reference.size < params.ks_min_points or probe.size < params.ks_min_points:
        return False
    ks_d, ks_p_value = ks_2samp(reference, probe)
    if ks_p_value < 0.05 and ks_d > 0.5:
        _, adf_p, _ = adfuller(reference, 10)
        if adf_p < 0.05:
            return True
    return False


# ---------------------------------------------------------------------------
# batched forms: one numpy pass over a [rows × window] matrix
# ---------------------------------------------------------------------------
# Each reproduces its scalar kernel's arithmetic operation for operation: a
# row reduction of a 2-D array (axis=1) sums in the same pairwise order as
# the 1-D reduction of that row, so means, stds and medians are bitwise the
# scalar ones. Variable-length slices (first_hour_average's baseline) are
# grouped by length for the same reason — zero padding would change the
# pairwise association.


def _batched_form(kernel: Callable[..., Verdict]):
    """Attach the decorated function as ``kernel.batched``."""

    def attach(fn):
        kernel.batched = fn
        return fn

    return attach


def _tail_avg_rows(values: np.ndarray, n: int) -> np.ndarray:
    if values.shape[1] >= n:
        return np.mean(values[:, -n:], axis=1)
    return values[:, -1]


def _mean_std1_rows(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row mean and sample std (ddof=1; NaN for one column), as the scalar
    kernels compute them."""
    mean = np.mean(x, axis=1)
    if x.shape[1] > 1:
        return mean, np.std(x, axis=1, ddof=1)
    return mean, np.full(x.shape[0], np.nan)


@_batched_form(median_absolute_deviation)
def _median_absolute_deviation_rows(ts, values, now, params):
    median = np.median(values, axis=1)
    demedianed = np.abs(values - median[:, None])
    median_deviation = np.median(demedianed, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        return (median_deviation != 0) & (demedianed[:, -1] / median_deviation > 6)


@_batched_form(grubbs)
def _grubbs_rows(ts, values, now, params):
    std_dev = np.std(values, axis=1)
    mean = np.mean(values, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        z_score = (_tail_avg_rows(values, params.tail_points) - mean) / std_dev
    return (std_dev != 0) & (z_score > _grubbs_score(values.shape[1]))


@_batched_form(first_hour_average)
def _first_hour_average_rows(ts, values, now, params):
    cutoff = now - (params.full_duration - params.baseline_head_seconds)
    in_base = ts < np.reshape(cutoff, (-1, 1))
    k = in_base.sum(axis=1)
    t = _tail_avg_rows(values, params.tail_points)
    out = np.zeros(values.shape[0], dtype=bool)
    # ts ascends on every caller's rows, so the baseline is a prefix; any
    # row where it is not falls back to the scalar kernel
    prefix = (in_base == (np.arange(values.shape[1]) < k[:, None])).all(axis=1)
    for r in np.flatnonzero(~prefix):
        out[r] = bool(first_hour_average(ts[r], values[r], now[r], _params_at(params, r)))
    for n in np.unique(k[prefix]):
        if n == 0:
            continue  # empty baseline → NaN stats → False
        rows = np.flatnonzero(prefix & (k == n))
        mean, std_dev = _mean_std1_rows(values[rows, :n])
        out[rows] = np.abs(t[rows] - mean) > 3 * std_dev
    return out


@_batched_form(stddev_from_average)
def _stddev_from_average_rows(ts, values, now, params):
    mean, std_dev = _mean_std1_rows(values)
    return np.abs(_tail_avg_rows(values, params.tail_points) - mean) > 3 * std_dev


@_batched_form(mean_subtraction_cumulation)
def _mean_subtraction_cumulation_rows(ts, values, now, params):
    if values.shape[1] < 2:
        return np.zeros(values.shape[0], dtype=bool)
    mean, std_dev = _mean_std1_rows(values[:, :-1])
    return np.abs(values[:, -1] - mean) > 3 * std_dev


@_batched_form(histogram_bins)
def _histogram_bins_rows(ts, values, now, params):
    """np.histogram(bins=15)'s uniform-bin path, restated per row: edges by
    its linspace arithmetic, indices by its ±1-ULP corrected division."""
    bins = 15
    first = values.min(axis=1)
    last = values.max(axis=1)
    flat = first == last
    first = np.where(flat, first - 0.5, first)
    last = np.where(flat, last + 0.5, last)
    delta = last - first
    step = delta / bins
    j = np.arange(bins + 1, dtype=np.float64)
    edges = np.where(
        (step == 0)[:, None],  # linspace's denormal branch
        (j / bins)[None, :] * delta[:, None],
        j[None, :] * step[:, None],
    ) + first[:, None]
    edges[:, -1] = last
    rows = np.arange(values.shape[0])[:, None]
    idx = (((values - first[:, None]) / delta[:, None]) * bins).astype(np.intp)
    idx[idx == bins] -= 1
    idx[values < edges[rows, idx]] -= 1
    idx[(values >= edges[rows, idx + 1]) & (idx != bins - 1)] += 1
    m = values.shape[0]
    counts = np.bincount((rows * bins + idx).ravel(), minlength=m * bins).reshape(m, bins)
    t = _tail_avg_rows(values, params.tail_points)[:, None]
    sparse = counts <= 20
    hit = sparse[:, 0] & (t[:, 0] <= edges[:, 0])
    hit |= (sparse[:, 1:] & (edges[:, 1:bins] <= t) & (t < edges[:, 2:])).any(axis=1)
    return hit


def _params_at(params: DetectorParams, index) -> DetectorParams:
    """``params`` with each per-row array field indexed by ``index`` — an
    int gives one row's scalar params, an index array a sub-batch's."""
    per_row = {
        f.name: v[index]
        for f in dataclasses.fields(params)
        if isinstance(v := getattr(params, f.name), np.ndarray)
    }
    return dataclasses.replace(params, **per_row) if per_row else params


def _code(v) -> int:
    """Verdict → int8 code: 1 True, 0 False, -1 None (errored)."""
    return -1 if v is None else int(bool(v))


def kernel_rows(
    kernel: Callable[..., Verdict],
    ts: np.ndarray,
    values: np.ndarray,
    now: np.ndarray,
    params: DetectorParams,
    rows: np.ndarray | None = None,
    finite: np.ndarray | None = None,
) -> np.ndarray:
    """One kernel over the ``rows`` (default: all) of a ``[rows × window]``
    batch → int8 verdict codes, one per row (1 True, 0 False, -1 None).

    Rows go through ``kernel.batched`` when the kernel has one and the row
    is ``finite`` (values and their span; computed when not given); every
    other row — and every row of a batched call that raises — runs the
    scalar kernel, whose error contract then applies. ``params`` fields may
    be per-row arrays. A non-bool verdict is recorded by truthiness, as the
    self-test judges it.
    """
    rows = np.arange(values.shape[0]) if rows is None else rows
    out = np.empty(rows.size, dtype=np.int8)
    fast = getattr(kernel, "batched", None)
    if fast is None:
        use = np.zeros(rows.size, dtype=bool)
    elif finite is None:
        use = np.isfinite(values[rows].max(axis=1) - values[rows].min(axis=1))
    else:
        use = finite[rows].copy()
    if use.any():
        sub = rows[use]
        try:
            out[use] = fast(ts[sub], values[sub], now[sub], _params_at(params, sub))
        except Exception:
            use[:] = False
    for k in np.flatnonzero(~use):
        r = rows[k]
        out[k] = _code(kernel(ts[r], values[r], float(now[r]), _params_at(params, r)))
    return out


# Ensemble order is load-bearing: the persisted ensemble array and the
# optimized early-exit both depend on it (`settings.py:457-467`).
ALGORITHMS: dict[str, Callable[..., Verdict]] = {
    "histogram_bins": histogram_bins,
    "first_hour_average": first_hour_average,
    "stddev_from_average": stddev_from_average,
    "grubbs": grubbs,
    "ks_test": ks_test,
    "mean_subtraction_cumulation": mean_subtraction_cumulation,
    "median_absolute_deviation": median_absolute_deviation,
    "stddev_from_moving_average": stddev_from_moving_average,
    "least_squares": least_squares,
}

# Version tags recorded in the checkpoint table's lineage (north_star:
# "detector versions" per partition). Bump when kernel semantics change.
DETECTOR_VERSIONS: dict[str, str] = {name: "1.0.0" for name in ALGORITHMS}


def register_detector(
    name: str,
    fn: Callable[..., bool],
    version: str = "1.0.0",
    before: str | None = None,
) -> None:
    """Register a user detector kernel into the consensus ensemble.

    The reference's custom-algorithm surface (its plugin contract is the
    UDF test `tests/algorithms_test.py:79-102`): a registered kernel runs in
    ensemble order, counts toward CONSENSUS exactly like a built-in, and is
    version-tagged in the checkpoint lineage — so registering or bumping a
    kernel changes ``detector_version_hash`` and forces re-validation.

    ``fn(ts, values, now, params) -> bool`` is wrapped in the reference
    error contract (any exception → None verdict). ``before`` inserts the
    kernel ahead of an existing one (the reference's run_before_3sigma
    ordering knob); default appends.
    """
    if name in ALGORITHMS:
        raise ValueError(f"detector {name!r} is already registered")
    wrapped = _kernel(fn)
    if before is None:
        ALGORITHMS[name] = wrapped
    else:
        if before not in ALGORITHMS:
            raise KeyError(f"unknown detector {before!r}")
        items: list[tuple[str, Callable[..., Verdict]]] = []
        for k, v in list(ALGORITHMS.items()):
            if k == before:
                items.append((name, wrapped))
            items.append((k, v))
        ALGORITHMS.clear()
        ALGORITHMS.update(dict(items))
    DETECTOR_VERSIONS[name] = version


def unregister_detector(name: str) -> None:
    """Remove a registered kernel (built-ins can be removed too — the
    reference lets custom algorithm sets replace the 3-sigma set)."""
    ALGORITHMS.pop(name, None)
    DETECTOR_VERSIONS.pop(name, None)
