"""Gates + consensus ensemble — the reference's ``run_selected_algorithm``.

Reimplements `/root/reference/skyline/analyzer/algorithms.py:537-690` as a
pure function over numpy arrays (one call per series), with the three
gates surfaced as *statuses* instead of exceptions so they become
first-class rows in the pass/fail table (SURVEY.md §2.2).

Key parity details:
- gate order: TooShort → Stale → Boring (`algorithms.py:583-593`)
- detectors run in the pinned ALGORITHMS order (`settings.py:457-467`)
- optimized early-exit: once ``count(False) >= n - k + 1`` consensus is
  unreachable; remaining detectors are *recorded as False* without running
  (`algorithms.py:637-638,667-668`)
- consensus: anomalous iff ``ensemble.count(False) <= n - k`` — errored
  detectors (None) count TOWARD consensus (`algorithms.py:679-687`)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np

from ..config import (
    STATUS_BORING,
    STATUS_FAIL,
    STATUS_OK,
    STATUS_STALE,
    STATUS_TOO_SHORT,
    EnsembleConfig,
)
from .detectors import ALGORITHMS, DetectorParams, Verdict

__all__ = [
    "EnsembleResult",
    "run_ensemble",
    "consensus_anomalous",
    "gate_status",
    "kernel_self_test",
    "resolve_algorithm_set",
]


@dataclass
class EnsembleResult:
    status: str                      # OK | FAIL | TOO_SHORT | STALE | BORING
    anomalous: bool
    ensemble: list[Verdict]          # per-detector verdicts in ALGORITHMS order
    triggered: list[str]             # names of detectors that returned True
    datapoint: Optional[float]       # the latest value (None when gated)


def gate_status(ts: np.ndarray, values: np.ndarray, now: float, cfg: EnsembleConfig) -> Optional[str]:
    """TooShort/Stale/Boring gates (`algorithms.py:583-593`); None = pass.

    These are also expressed relationally (plans/gates.py) so partitions can
    be filtered *before* the expensive UDF — this function is the in-kernel
    authority used for parity tests.
    """
    if len(ts) < cfg.min_tolerable_length:
        return STATUS_TOO_SHORT
    if now - ts[-1] > cfg.stale_period:
        return STATUS_STALE
    tail = values[-cfg.max_tolerable_boredom:]
    # reference builds set(item[1] for ...) over python floats; NaN-safe here
    if len(set(tail.tolist())) == cfg.boredom_set_size:
        return STATUS_BORING
    return None


def consensus_anomalous(ensemble: list[Verdict], consensus: int) -> bool:
    """Anomalous iff count(False) <= n − k (`algorithms.py:679-687`)."""
    return ensemble.count(False) <= len(ensemble) - consensus


def kernel_self_test(
    algorithms: dict | None = None,
    now: float = 1_400_000_000.0,
    full_duration: int = 86_400,
) -> list[str]:
    """Startup self-test (`analyzer/agent.py:86-104`): run every registered
    kernel — built-ins and plugins alike — on the reference's flat
    86,401-point series before launching cluster work.

    The reference agent refuses to start if any algorithm raises; this is
    the same check with the error contract folded in (an erroring kernel
    returns ``None``), strengthened to also flag a kernel that *fires* on
    flat data (always-True plugins would silently poison every consensus).
    A kernel with a batched form (what the drift stage runs) is also run
    that way, on the same series as a one-row matrix, and flagged if the
    batched verdict fires, raises or differs from the scalar one.
    Returns the failing kernel names; empty list = healthy. Driver-side
    pure numpy (~100 ms for the built-in nine) — no Spark job is launched,
    and no memoization: a re-registered kernel under an unchanged name must
    re-test, so every call runs fresh.
    """
    algos = ALGORITHMS if algorithms is None else algorithms
    ts = np.arange(now - full_duration, now + 1, 1.0)
    values = np.ones(ts.shape[0])
    params = DetectorParams(full_duration=full_duration)
    bad = []
    for name, fn in algos.items():
        try:
            v = fn(ts, values, now, params)
        except Exception:  # kernels trap internally; belt and braces
            v = None
        # healthy = a falsy non-None verdict; truthiness (not identity) so
        # plugins returning numpy bools pass like the built-ins do
        healthy = v is not None and not bool(v)
        batched = getattr(fn, "batched", None)
        if healthy and batched is not None:
            try:
                rows = batched(ts[None, :], values[None, :], np.array([now]), params)
                healthy = bool(rows[0]) == bool(v)
            except Exception:
                healthy = False
        if not healthy:
            bad.append(name)
    return bad


def resolve_algorithm_set(
    skyline_app: str = "crucible",
    algorithms: list[str] | None = None,
) -> dict:
    """Algorithm-set selection (`crucible/crucible_algorithms.py:458-481`,
    SURVEY §2.7): ``algorithms=None`` (the reference's ``['all']``) resolves
    to the per-app kernel list — analyzer/mirage/crucible all run the full
    registered ensemble (the reference's MIRAGE_ALGORITHMS defaults to the
    same nine; its crucible extra ``detect_drop_off_cliff`` is a Boundary
    static op here, `catalog/series_queries.py::boundary_drop_off_cliff`,
    not a series kernel) — while an explicit name list selects that subset
    in registered ensemble order, unknown names rejected loudly instead of
    the reference's silent fall-through to the full list.

    Returns an ordered name→kernel dict accepted by ``run_ensemble``'s
    ``algorithms=`` parameter.
    """
    if skyline_app not in ("analyzer", "mirage", "crucible", "boundary"):
        raise ValueError(f"unknown skyline_app {skyline_app!r}")
    if algorithms is None:
        if skyline_app == "boundary":
            # the reference requires boundary callers to pass their list
            # (crucible_algorithms.py:466-468); no default set exists
            raise ValueError("boundary requires an explicit algorithm list")
        return dict(ALGORITHMS)
    if not algorithms:
        # an empty subset would run a zero-detector replay that silently
        # returns no rows — reject it like an unknown name
        raise ValueError("empty algorithm list")
    unknown = [a for a in algorithms if a not in ALGORITHMS]
    if unknown:
        raise ValueError(f"unknown algorithms {unknown!r}")
    # subset keeps REGISTERED order: consensus early-exit and the padded-
    # False ensemble positions depend on the pinned order, not caller order
    return {k: v for k, v in ALGORITHMS.items() if k in set(algorithms)}


def run_ensemble(
    ts: np.ndarray,
    values: np.ndarray,
    now: float,
    cfg: EnsembleConfig | None = None,
    full_duration: int | None = None,
    params: DetectorParams | None = None,
    algorithms: dict | None = None,
) -> EnsembleResult:
    """Gates → ordered detector ensemble (with optional early-exit) → consensus.

    ``full_duration`` (or a full ``params`` override) re-parameterizes the
    kernels: the Mirage second-pass re-check runs the same kernels at a longer
    resolution (`mirage/mirage_algorithms.py:485-502`, SURVEY.md §2.5) and the
    partition-axis validation plan rescales all windows.
    """
    cfg = cfg or EnsembleConfig()
    if params is None:
        duration = full_duration if full_duration is not None else cfg.full_duration
        params = DetectorParams(full_duration=duration)
    ts = np.asarray(ts, dtype=np.float64)
    values = np.asarray(values, dtype=np.float64)

    status = gate_status(ts, values, now, cfg)
    if status is not None:
        return EnsembleResult(status, False, [], [], None)

    algos = ALGORITHMS if algorithms is None else algorithms
    names = list(algos)
    n = len(names)
    max_false = n - cfg.consensus + 1
    ensemble: list[Verdict] = []
    consensus_possible = True
    for name in names:
        if consensus_possible:
            result = algos[name](ts, values, now, params)
        else:
            # skipped detectors are padded False (`algorithms.py:637-638`)
            result = False
        ensemble.append(result)
        if cfg.run_optimized_workflow and ensemble.count(False) >= max_false:
            consensus_possible = False

    anomalous = consensus_anomalous(ensemble, cfg.consensus)
    triggered = [name for name, v in zip(names, ensemble) if v is True]
    return EnsembleResult(
        status=STATUS_FAIL if anomalous else STATUS_OK,
        anomalous=anomalous,
        ensemble=ensemble,
        triggered=triggered,
        datapoint=float(values[-1]),
    )
