"""Custom-detector plugin contract (the reference's UDF/plugin surface,
tests/algorithms_test.py:79-102: register a user kernel, assert the ensemble
invokes it in order and its verdict counts toward consensus)."""

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from skyline_spark.config import EnsembleConfig, ValidationConfig
from skyline_spark.operators.detectors import (
    ALGORITHMS,
    DETECTOR_VERSIONS,
    register_detector,
    unregister_detector,
)
from skyline_spark.operators.ensemble import run_ensemble
from skyline_spark.plans.checkpoint import detector_version_hash
from skyline_spark.plans.drift import drift_verdicts

NOW = 1_400_000_000.0


def _spike_series():
    ts = np.arange(NOW - 86400, NOW + 1, 60.0)
    v = np.ones(ts.size)
    v[-1] = 1000.0
    return ts, v


@pytest.fixture
def custom_kernel():
    """Register a user kernel for the duration of one test."""

    def last_value_over_500(ts, values, now, params):
        return float(values[-1]) > 500.0

    register_detector("last_value_over_500", last_value_over_500, version="2.1.0")
    yield "last_value_over_500"
    unregister_detector("last_value_over_500")
    assert "last_value_over_500" not in ALGORITHMS


def test_registered_kernel_runs_in_ensemble_order(custom_kernel):
    ts, v = _spike_series()
    res = run_ensemble(ts, v, NOW)
    assert len(res.ensemble) == 10
    # appended → last slot in the pinned order, and it triggered
    assert list(ALGORITHMS)[-1] == custom_kernel
    assert custom_kernel in res.triggered
    assert res.anomalous


def test_registered_kernel_counts_toward_consensus():
    """A custom always-True kernel can tip a 5-of-9 near-miss into consensus."""

    def always_true(ts, values, now, params):
        return True

    ts, v = _spike_series()
    baseline = run_ensemble(ts, v, NOW, EnsembleConfig(consensus=8))
    assert not baseline.anomalous  # 7 of 9 built-ins trigger on the spike
    register_detector("always_true", always_true)
    try:
        res = run_ensemble(ts, v, NOW, EnsembleConfig(consensus=8))
        assert res.anomalous  # 8 of 10 with the plugin
        assert "always_true" in res.triggered
    finally:
        unregister_detector("always_true")


def test_erroring_kernel_follows_reference_error_contract():
    """Exceptions inside a plugin kernel → None verdict (None counts toward
    consensus, algorithms.py:679-687), never a crash."""

    def broken(ts, values, now, params):
        raise RuntimeError("boom")

    register_detector("broken", broken)
    try:
        ts, v = _spike_series()
        res = run_ensemble(ts, v, NOW)
        idx = list(ALGORITHMS).index("broken")
        assert res.ensemble[idx] is None
    finally:
        unregister_detector("broken")


def test_registration_changes_version_hash_forcing_revalidation():
    h0 = detector_version_hash()
    register_detector("vh_probe", lambda ts, v, now, p: False, version="9.9.9")
    try:
        assert DETECTOR_VERSIONS["vh_probe"] == "9.9.9"
        assert detector_version_hash() != h0
    finally:
        unregister_detector("vh_probe")
    assert detector_version_hash() == h0


def test_before_insertion_position():
    register_detector("early", lambda ts, v, now, p: False, before="grubbs")
    try:
        names = list(ALGORITHMS)
        assert names.index("early") == names.index("grubbs") - 1
    finally:
        unregister_detector("early")


def test_custom_kernel_reaches_spark_workers(spark, custom_kernel):
    """Driver-side registration must survive the applyInPandas closure: the
    python workers re-import the module, so the registry snapshot in
    drift_verdicts is what carries the plugin to executors."""
    base = datetime.date(2020, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), "eng", "value_avg", 0,
         1000.0 if i == 14 else 10.0 + (i % 3))
        for i in range(15)
    ]
    stats = spark.createDataFrame(
        rows, "partition_date date, lang string, stat string, fingerprint long, value double"
    )
    samples = stats.limit(0).select(
        "partition_date", "lang", "stat", F.array().cast("array<double>").alias("sample")
    )
    out = drift_verdicts(
        stats, samples, ValidationConfig(min_history=4), drift_stats=["value_avg"]
    ).collect()
    spike = [r for r in out if r["partition_date"] == base + datetime.timedelta(days=14)]
    assert len(spike) == 1
    assert len(spike[0]["ensemble"]) == 10
    assert custom_kernel in spike[0]["triggered"]


def test_algorithm_set_selection():
    """Crucible/Mirage algorithm-set selection (settings.ALGORITHMS vs
    MIRAGE_ALGORITHMS, crucible_algorithms.py:32-54): the ensemble runs an
    arbitrary named subset, consensus arithmetic follows the subset size."""
    from skyline_spark.operators.detectors import ALGORITHMS

    subset_names = ["median_absolute_deviation", "grubbs", "stddev_from_average"]
    subset = {n: ALGORITHMS[n] for n in subset_names}
    ts, v = _spike_series()
    res = run_ensemble(ts, v, NOW, EnsembleConfig(consensus=2), algorithms=subset)
    assert len(res.ensemble) == 3
    assert set(res.triggered) <= set(subset_names)
    assert res.anomalous  # 3-of-3 trigger on the spike, consensus 2 reached


# ---------------------------------------------------------------------------
# startup kernel self-test (`analyzer/agent.py:86-104`)
# ---------------------------------------------------------------------------

def test_kernel_self_test_clean_registry():
    from skyline_spark.operators.ensemble import kernel_self_test

    assert kernel_self_test() == []


def test_kernel_self_test_catches_broken_and_always_true():
    from skyline_spark.operators.ensemble import kernel_self_test

    def broken(ts, values, now, params):
        raise ZeroDivisionError("boom")

    def always_true(ts, values, now, params):
        return True

    register_detector("st_broken", broken, version="0.0.1")
    register_detector("st_always", always_true, version="0.0.1")
    try:
        assert sorted(kernel_self_test()) == ["st_always", "st_broken"]
    finally:
        unregister_detector("st_broken")
        unregister_detector("st_always")
    assert kernel_self_test() == []


def test_validate_refuses_broken_kernel(spark):
    from skyline_spark.plans.validate import validate
    from skyline_spark.sources.synth import synth_pages

    register_detector("st_boom", lambda ts, v, now, p: 1 / 0, version="0.0.1")
    try:
        with pytest.raises(RuntimeError, match="self-test"):
            validate(
                synth_pages(spark, n_rows=50, n_days=2, defects=False),
                ValidationConfig(min_history=2),
                run_ts=NOW,
            )
    finally:
        unregister_detector("st_boom")


@pytest.mark.parametrize("form", ["fires", "raises"])
def test_kernel_self_test_checks_batched_forms(monkeypatch, form):
    """The drift stage runs the batched forms, so the self-test runs them
    too: a batched form that fires (or raises) on the flat series flags its
    kernel even though the scalar kernel is healthy."""
    from skyline_spark.operators.ensemble import kernel_self_test

    def broken_batched(ts, values, now, params):
        if form == "raises":
            raise ValueError("boom")
        return np.ones(values.shape[0], dtype=bool)

    monkeypatch.setattr(ALGORITHMS["grubbs"], "batched", broken_batched)
    assert kernel_self_test() == ["grubbs"]


def test_kernel_self_test_accepts_numpy_bool_plugins():
    """A plugin returning np.bool_ (any numpy-comparison kernel) is healthy
    when it doesn't fire — the self-test must judge truthiness, not the
    Python False singleton."""
    from skyline_spark.operators.ensemble import kernel_self_test

    def np_kernel(ts, values, now, params):
        return np.bool_(values[-1] > np.mean(values) + 3 * np.std(values))

    register_detector("st_npbool", np_kernel, version="0.0.1")
    try:
        assert kernel_self_test() == []
    finally:
        unregister_detector("st_npbool")


def test_kernel_self_test_is_not_memoized():
    """Re-registering a broken kernel under a previously-healthy name (same
    default version) must be caught — a stale cached PASS here would launch
    cluster work with a poisoned consensus."""
    from skyline_spark.operators.ensemble import kernel_self_test

    register_detector("st_swap", lambda ts, v, now, p: False)
    try:
        assert kernel_self_test() == []
        unregister_detector("st_swap")
        register_detector("st_swap", lambda ts, v, now, p: True)
        assert kernel_self_test() == ["st_swap"]
    finally:
        unregister_detector("st_swap")
