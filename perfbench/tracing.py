"""Spans around the calls into each layer, and the detector-kernel microbench.

A traced operation is the same operation as an untraced one: the tracer
only rebinds the layer functions that ``plans.validate`` (and the drift
workload) look up by module attribute, so each call runs inside a span
named ``<layer>.<function>``. A span forces the lazy DataFrame it returns
(``cache()`` + ``count()``) so the layer's work happens inside it, and
holds a lock so spans run one at a time even when ``validate()`` calls two
layers from its thread pool. Jobs carry the span name as their job group
(see status.py for why groups rather than job-id ranges). The forcing is
the tracing overhead, reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import contextlib
import importlib
import threading
import time
from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from status import Counters, JobSet

#: span name -> (module, attribute) rebound while tracing
_PATCHES = {
    "ensemble.kernel_self_test": [("validate", "kernel_self_test")],
    "stats.slim_pages": [("validate", "slim_pages")],
    "stats.partition_stats": [("validate", "partition_stats")],
    "stats.stat_samples": [("validate", "stat_samples")],
    "stats.narrow_partition_keys": [("validate", "narrow_partition_keys")],
    "stats.stat_digest_blobs": [("validate", "stat_digest_blobs")],
    "checkpoint.load_checkpoint": [("validate", "load_checkpoint")],
    "checkpoint.pending_partitions": [("validate", "pending_partitions")],
    "checkpoint.checkpoint_history": [("validate", "checkpoint_history")],
    "drift.drift_verdicts": [("validate", "drift_verdicts"), ("drift", "drift_verdicts")],
    "constraints.violations": [
        ("validate", "schema_violations"),
        ("validate", "uniqueness_violations"),
        ("validate", "referential_violations"),
        ("validate", "static_rule_violations"),
    ],
}

#: spans opened by the operation's own code rather than by a rebinding
_OP_SPANS = ("checkpoint.append_checkpoint", "table_format.outputs_write")

#: spans with Spark counters; ensemble.kernel_self_test is driver-side numpy
SPARK_SPANS = tuple(s for s in _PATCHES if s != "ensemble.kernel_self_test") + _OP_SPANS
SPAN_COUNTERS = ("cpu_s", "run_s", "shuffle_bytes", "input_rows", "spill_bytes", "jobs", "tasks")
#: job group of the drift counts the tracer takes; not a layer
_COUNTS_GROUP = "trace.counts"


def unit(metric: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if metric.endswith("_us"):
        return "us"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_rows"):
        return "rows"
    if metric.endswith("_s"):
        return "s"
    if metric == "kernel.ensembles_per_s_core":
        return "1/s"
    if metric == "trace.coverage":
        return "ratio"
    return "count"


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._lock = threading.RLock()
        self._saved: list[tuple[object, str, object]] = []
        self._cached: list[DataFrame] = []
        self.wall: dict[str, float] = defaultdict(float)
        self.drift = {"series": 0, "buckets": 0, "ensembles": 0}

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            self._sc.setLocalProperty("spark.jobGroup.id", name)
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.wall[name] += time.perf_counter() - t0
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _force(self, out):
        if isinstance(out, DataFrame):
            out = out.cache()
            out.count()
            self._cached.append(out)
        elif isinstance(out, tuple):
            out = tuple(self._force(o) for o in out)
        return out

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                out = self._force(fn(*args, **kwargs))
            if name == "drift.drift_verdicts":
                with self.span(_COUNTS_GROUP):
                    self._count_drift(out)
            return out

        return traced

    def _count_drift(self, out: DataFrame) -> None:
        """Counts read off the forced drift output: the (lang, stat) series
        it judged, the ensembles it ran, and the tasks of its grouped-map
        stage (the cached output has one partition per such task)."""
        series, ensembles = out.agg(
            F.count_distinct("lang", "stat"),
            F.sum((F.size("ensemble") > 0).cast("int")),
        ).collect()[0]
        self.drift["series"] += series
        self.drift["ensembles"] += ensembles or 0
        self.drift["buckets"] += out.rdd.getNumPartitions()

    def __enter__(self) -> "Tracer":
        for name, targets in _PATCHES.items():
            for mod_name, attr in targets:
                # the package re-exports validate() under the module's name
                mod = importlib.import_module(f"skyline_spark.plans.{mod_name}")
                fn = getattr(mod, attr)
                self._saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(name, fn))
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def metrics(self, jobs: JobSet, op_wall_s: float) -> dict[str, float]:
        """Per-span counters of one traced operation, plus residual and coverage."""
        out = {"ensemble.kernel_self_test.wall_s": self.wall["ensemble.kernel_self_test"]}
        for span in SPARK_SPANS:
            c = jobs.by_group.get(span, Counters())
            out[f"{span}.wall_s"] = self.wall[span]
            for k in SPAN_COUNTERS:
                out[f"{span}.{k}"] = getattr(c, k)
        covered = sum(v for k, v in self.wall.items() if k != _COUNTS_GROUP)
        out["validate.residual_s"] = op_wall_s - covered - self.wall[_COUNTS_GROUP]
        out["trace.coverage"] = covered / (op_wall_s - self.wall[_COUNTS_GROUP])
        out["drift.series"] = self.drift["series"]
        out["drift.buckets"] = self.drift["buckets"]
        out["drift.ensembles"] = self.drift["ensembles"]
        return out


def kernel_bench(series: list[np.ndarray], min_seconds: float = 1.0) -> dict[str, float]:
    """Single-thread detector kernels with no Spark, on one set of series
    laid out on the partition axis the way ``plans.drift`` lays them out.

    ``kernel.ensembles_per_s_core`` runs ``run_ensemble`` (gates, the nine
    kernels in order with the consensus early exit); ``kernel.<name>_us`` is
    the mean time of one call of each registered kernel.
    """
    from skyline_spark.config import EnsembleConfig
    from skyline_spark.operators.detectors import ALGORITHMS, DetectorParams
    from skyline_spark.operators.ensemble import run_ensemble

    period = 86_400
    n = len(series[0])
    ts = np.arange(n, dtype=np.float64) * period
    params = DetectorParams(
        full_duration=int(ts[-1] - ts[0]),
        baseline_head_seconds=max(period, n // 3 * period),
        tail_points=1,
    )
    cfg = EnsembleConfig()
    now = float(ts[-1])

    def rate(fn, seconds: float) -> float:
        calls, t0 = 0, time.perf_counter()
        while True:
            for values in series:
                fn(values)
            calls += len(series)
            elapsed = time.perf_counter() - t0
            if elapsed >= seconds:
                return calls / elapsed

    out = {
        "kernel.ensembles_per_s_core": rate(
            lambda v: run_ensemble(ts, v, now, cfg, params=params), min_seconds
        )
    }
    for name, kernel in ALGORITHMS.items():
        per_s = rate(lambda v: kernel(ts, v, now, params), min_seconds / 5)
        out[f"kernel.{name}_us"] = 1e6 / per_s
    return out
