"""The batched detector forms and the series-packed drift worker, pinned to
the scalar kernels they restate.

Two layers:
- every batched form (``kernel.batched``) and the ``kernel_rows``
  dispatcher give, row by row, the verdict of the scalar kernel on that
  row — on constant windows, every length from ``min_history`` to
  ``lookback_partitions``, NaN-bearing windows, gapped timestamps, values
  exactly on ``histogram_bins`` edges and ties at the median;
- ``drift_verdicts`` end to end equals the scalar ``_series_verdicts``
  oracle column for column (ensemble padding and None slots, triggered,
  NULL datapoints), over derivative stats with counter resets,
  ``latest_only``, a registered plugin and sample-backed stats.
"""

from __future__ import annotations

import datetime
import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from skyline_spark.config import EnsembleConfig, ValidationConfig
from skyline_spark.operators.detectors import (
    ALGORITHMS,
    DetectorParams,
    _code,
    _params_at,
    kernel_rows,
    register_detector,
    unregister_detector,
)
from skyline_spark.plans.drift import SAMPLE_BACKED_STATS, _series_verdicts, drift_verdicts

P = 86_400
CFG = ValidationConfig()
BATCHED = [name for name, fn in ALGORITHMS.items() if hasattr(fn, "batched")]

# the scalar kernels' pandas/numpy paths warn on NaN windows (empty slices)
pytestmark = pytest.mark.filterwarnings("ignore::RuntimeWarning")


@st.composite
def window_batches(draw):
    """A [rows × window] batch laid out as the drift worker lays it out:
    ascending partition pseudo-timestamps, the target last."""
    w = draw(st.integers(CFG.min_history, CFG.lookback_partitions) | st.integers(1, 5))
    m = draw(st.integers(1, 6))
    kind = draw(st.sampled_from(["random", "constant", "edges", "median_ties", "nan"]))
    rows = []
    for _ in range(m):
        if kind == "constant":
            row = [draw(st.floats(-1e6, 1e6))] * w
        elif kind == "edges":
            # integer multiples of (hi - lo) / 15 from lo: every value sits
            # on a histogram_bins edge
            lo = draw(st.integers(-50, 50))
            step = draw(st.sampled_from([1.0, 0.5, 3.0, 0.1]))
            ks = draw(st.lists(st.integers(0, 15), min_size=w, max_size=w))
            row = [lo + k * step for k in ks]
        elif kind == "median_ties":
            row = draw(st.lists(st.sampled_from([1.0, 2.0, 2.0, 2.0, 3.0]), min_size=w, max_size=w))
        else:
            row = draw(st.lists(st.floats(-1e3, 1e3), min_size=w, max_size=w))
            if kind == "nan":
                for i in draw(st.lists(st.integers(0, w - 1), min_size=1, max_size=3)):
                    row[i] = math.nan
        if draw(st.booleans()):
            row[-1] += draw(st.sampled_from([50.0, -50.0, 1e4]))
        rows.append(row)
    values = np.array(rows, dtype=np.float64)
    # gapped calendars: steps of 1..4 partitions
    gaps = np.array([draw(st.lists(st.integers(1, 4), min_size=w, max_size=w)) for _ in range(m)])
    ts = (737_000 + np.cumsum(gaps, axis=1)).astype(np.float64) * P
    span = (ts[:, -1] - ts[:, 0]).astype(np.int64)
    params = DetectorParams(
        full_duration=np.maximum(span, P),
        baseline_head_seconds=max(P, w // 3 * P),
        tail_points=1,
    )
    return ts, values, ts[:, -1].copy(), params


@settings(max_examples=300, deadline=None)
@given(batch=window_batches())
def test_kernel_rows_match_scalar_kernels(batch):
    ts, values, now, params = batch
    for name, kernel in ALGORITHMS.items():
        got = kernel_rows(kernel, ts, values, now, params)
        want = [
            _code(kernel(ts[r], values[r], float(now[r]), _params_at(params, r)))
            for r in range(len(now))
        ]
        assert got.tolist() == want, name


@pytest.mark.parametrize("name", BATCHED)
@settings(max_examples=150, deadline=None)
@given(batch=window_batches())
def test_batched_form_matches_scalar_on_finite_rows(name, batch):
    ts, values, now, params = batch
    kernel = ALGORITHMS[name]
    finite = np.flatnonzero(np.isfinite(values).all(axis=1))
    if finite.size == 0:
        return
    got = kernel.batched(ts[finite], values[finite], now[finite], _params_at(params, finite))
    want = [
        bool(kernel(ts[r], values[r], float(now[r]), _params_at(params, r)))
        for r in finite
    ]
    assert got.tolist() == want


def test_batched_forms_cover_the_vectorizable_builtins():
    assert set(BATCHED) == {
        "histogram_bins", "first_hour_average", "stddev_from_average", "grubbs",
        "mean_subtraction_cumulation", "median_absolute_deviation",
    }


def test_first_hour_average_unsorted_rows_fall_back():
    """A row whose baseline is not a prefix (ts not ascending) still gets the
    scalar verdict."""
    kernel = ALGORITHMS["first_hour_average"]
    ts = np.array([[5.0, 1.0, 2.0, 9.0, 10.0], [1.0, 2.0, 3.0, 9.0, 10.0]]) * P
    values = np.array([[1.0, 9.0, 1.0, 1.5, 40.0], [1.0, 1.2, 0.9, 1.1, 40.0]])
    now = ts[:, -1].copy()
    params = DetectorParams(full_duration=9 * P, baseline_head_seconds=3 * P, tail_points=1)
    want = [bool(kernel(ts[r], values[r], now[r], params)) for r in range(2)]
    assert kernel.batched(ts, values, now, params).tolist() == want


# ---------------------------------------------------------------------------
# drift_verdicts end to end vs the scalar oracle
# ---------------------------------------------------------------------------

BASE = datetime.date(2024, 1, 1)


def _oracle(stats_rows, sample_rows, cfg, drift_stats, backed, algos, targets, latest_only):
    """The scalar path: per (lang, stat) series sorted by date, the
    derivative transform, then ``_series_verdicts`` per target."""
    samples = {(d, lang): s for d, lang, _, s in sample_rows}
    series: dict = {}
    for d, lang, stat, _, value in stats_rows:
        if stat in drift_stats:
            series.setdefault((lang, stat), []).append((d, value))
    out = {f: [] for f in ("partition_date", "lang", "stat", "status", "anomalous",
                           "ensemble", "triggered", "datapoint")}
    for (lang, stat), pts in sorted(series.items()):
        pts.sort()
        dates = np.array([d for d, _ in pts], dtype=object)
        values = np.array([math.nan if v is None else v for _, v in pts], dtype=np.float64)
        smp = np.empty(len(pts), dtype=object)
        smp[:] = [samples.get((d, lang), []) if stat in backed else [] for d in dates]
        flags = np.array([(d, lang) in targets if targets is not None else True for d in dates])
        if stat in cfg.derivative_stats and len(values) >= 2:
            dv = np.diff(values)
            keep = dv >= 0
            values, dates, smp, flags = dv[keep], dates[1:][keep], smp[1:][keep], flags[1:][keep]
        if latest_only:
            tgt = np.array([len(values) - 1]) if len(values) else np.array([], int)
        else:
            tgt = np.flatnonzero(flags)
        ts = np.array([d.toordinal() for d in dates], dtype=np.float64) * cfg.partition_seconds
        _series_verdicts(dates, ts, values, smp, tgt, lang, stat, cfg, backed, out, algos)
    return out


def _rows(out):
    keys = list(out)
    rows = []
    for vals in zip(*out.values()):
        r = dict(zip(keys, vals))
        r["datapoint"] = None if r["datapoint"] is None or math.isnan(r["datapoint"]) else r["datapoint"]
        r["ensemble"] = tuple(r["ensemble"])
        r["triggered"] = tuple(r["triggered"])
        rows.append(tuple(r[k] for k in keys))
    return sorted(rows, key=repr)


def _fixture_rows():
    """Series that reach every branch of the worker."""
    rng = np.random.default_rng(3)
    stats, samples = [], []
    langs = ["en", "de", "fr", "ja"]
    gap_days = {7, 8, 15}  # 'fr' skips these: gapped calendar
    for li, lang in enumerate(langs):
        counter = 0.0
        for i in range(40):
            if lang == "fr" and i in gap_days:
                continue
            d = BASE + datetime.timedelta(days=i)
            avg = 100 + 5 * math.sin(i + li) + (80.0 if (lang == "en" and i in (25, 39)) else 0.0)
            stats.append((d, lang, "text_len_avg", 0, avg))
            stats.append((d, lang, "text_len_p50", 0, float(round(avg))))
            # a constant series (BORING on the series side needs a long
            # lookback; here it exercises ties and zero spreads)
            stats.append((d, lang, "row_count", 0, 50.0 if lang == "de" else 50.0 + (i % 4)))
            # a counter with resets on 'ja' (the reset points get no verdict)
            counter = 3.0 if (lang == "ja" and i in (12, 30)) else counter + 10 + (i % 3) + (300 if i == 35 else 0)
            stats.append((d, lang, "row_count_total", 0, counter))
            # NaN / NULL values inside windows
            v = None if (lang == "fr" and i in (20, 33)) else float(i % 5)
            stats.append((d, lang, "null_rate_text", 0, v))
            size = 0 if (lang == "de" and i == 10) else int(rng.integers(15, 60))
            if lang == "de" and i == 36:
                sample = [7.0] * 30  # constant sample → BORING
            else:
                shift = 3.0 if (lang == "en" and i >= 34) else 0.0
                sample = (rng.normal(100 + 40 * shift, 5, size)).round(1).tolist()
            samples.append((d, lang, "text_len", sample))
    return stats, samples


@pytest.fixture(scope="module")
def drift_inputs(spark):
    stats_rows, sample_rows = _fixture_rows()
    stats = spark.createDataFrame(
        stats_rows, "partition_date date, lang string, stat string, fingerprint long, value double"
    )
    samples = spark.createDataFrame(
        sample_rows, "partition_date date, lang string, stat string, sample array<double>"
    )
    return stats_rows, sample_rows, stats, samples


DRIFT_STATS = ["text_len_avg", "text_len_p50", "row_count", "row_count_total", "null_rate_text"]


@pytest.mark.parametrize("mode", ["all", "targets", "latest"])
def test_drift_verdicts_match_scalar_oracle(spark, drift_inputs, mode):
    stats_rows, sample_rows, stats, samples = drift_inputs
    cfg = ValidationConfig(
        min_history=4,
        lookback_partitions=12,
        derivative_stats=frozenset({"row_count_total"}),
    )
    targets = None
    targets_df = None
    if mode == "targets":
        targets = {(d, lang) for d, lang, *_ in stats_rows if d.day % 3 == 0 or d.day > 36}
        targets_df = spark.createDataFrame(sorted(targets), "partition_date date, lang string")
    got = drift_verdicts(
        stats, samples, cfg, targets_df=targets_df, drift_stats=DRIFT_STATS,
        latest_only=mode == "latest",
    ).collect()
    want = _oracle(stats_rows, sample_rows, cfg, DRIFT_STATS, SAMPLE_BACKED_STATS,
                   dict(ALGORITHMS), targets, mode == "latest")
    assert _rows({k: [r[k] for r in got] for k in want}) == _rows(want)
    statuses = {r["status"] for r in got}
    if mode == "all":
        # every branch was reached
        assert statuses == {"OK", "FAIL", "TOO_SHORT", "BORING"}
        assert any("ks_test" in r["triggered"] for r in got)
        assert any(r["datapoint"] is None for r in got)


def test_drift_verdicts_match_oracle_with_plugin_and_full_workflow(spark, drift_inputs):
    """A registered plugin (scalar-only slot, here one that errors on some
    rows → None) and the unoptimized workflow (no padding)."""
    stats_rows, sample_rows, stats, samples = drift_inputs

    def odd_days_raise(ts, values, now, params):
        if int(now // P) % 2:
            raise ValueError("plugin error → None verdict")
        return float(values[-1]) > float(np.median(values))

    register_detector("odd_days_raise", odd_days_raise, before="ks_test")
    try:
        for ens in (EnsembleConfig(), EnsembleConfig(run_optimized_workflow=False, consensus=4)):
            cfg = ValidationConfig(min_history=5, lookback_partitions=9, ensemble=ens)
            got = drift_verdicts(stats, samples, cfg, drift_stats=DRIFT_STATS).collect()
            want = _oracle(stats_rows, sample_rows, cfg, DRIFT_STATS, SAMPLE_BACKED_STATS,
                           dict(ALGORITHMS), None, False)
            assert _rows({k: [r[k] for r in got] for k in want}) == _rows(want)
            assert any(None in r["ensemble"] for r in got)
    finally:
        unregister_detector("odd_days_raise")


def test_worker_chunking_does_not_change_verdicts(monkeypatch):
    """The worker cuts large window groups into bounded chunks; the rows it
    returns must not depend on the chunk size."""
    import pyarrow as pa

    from skyline_spark.plans import drift

    rng = np.random.default_rng(11)
    n_series, n_pts = 40, 25
    values = rng.normal(50, 4, (n_series, n_pts))
    values[::7, -1] += 60
    days = np.tile(np.arange(19_000, 19_000 + n_pts, dtype=np.int32), n_series)
    samples = [rng.normal(10, 1, int(rng.integers(0, 30))).tolist() for _ in range(n_series * n_pts)]
    pts = pa.StructArray.from_arrays(
        [
            pa.array(days).cast(pa.date32()),
            pa.array(values.ravel()),
            pa.array(rng.random(n_series * n_pts) < 0.5),
            pa.array(samples, pa.list_(pa.float64())),
        ],
        ["partition_date", "value", "is_target", "sample"],
    )
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"l{i // 2}" for i in range(n_series)]),
            pa.array(["text_len_avg", "row_count"] * (n_series // 2)),
            pa.ListArray.from_arrays(pa.array(np.arange(n_series + 1) * n_pts, pa.int32()), pts),
        ],
        ["lang", "stat", "points"],
    )
    cfg = ValidationConfig(min_history=4, lookback_partitions=12)
    args = (batch, cfg, {"text_len_avg"}, dict(ALGORITHMS), False)
    whole = drift._verdict_batch(*args)
    monkeypatch.setattr(drift, "_WINDOW_CELLS", 7)
    assert drift._verdict_batch(*args).equals(whole)
    assert whole.num_rows > 200 and "FAIL" in whole.column("status").to_pylist()
