"""Engine configuration.

Defaults mirror the reference's settings.py (file:line cited per field) so
the golden parity tests (FIXTURES.md F2/F4) reproduce the reference's
verdicts exactly. At validation time the same knobs are reinterpreted on the
partition axis: FULL_DURATION becomes the lookback window over per-partition
stat series, STALE_PERIOD the max age of the newest stat point, etc.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EnsembleConfig:
    """Knobs of the consensus ensemble (reference settings.py)."""

    # settings.py:475 — k of n detectors must trigger
    consensus: int = 6
    # settings.py:89 — rolling window seconds
    full_duration: int = 86400
    # settings.py:418 — gate: series shorter than this raises TooShort
    min_tolerable_length: int = 1
    # settings.py:393 — gate: newest point older than this raises Stale
    stale_period: int = 500
    # settings.py:425 — gate: look at this many trailing values for boredom
    max_tolerable_boredom: int = 100
    # settings.py:435 — gate: boring iff distinct trailing values == this
    boredom_set_size: int = 1
    # settings.py:482 — consensus early-exit (skipped detectors recorded False)
    run_optimized_workflow: bool = True


@dataclass(frozen=True)
class ValidationConfig:
    """Drift-validation settings on the partition axis.

    The unit of analysis is a (group keys..., stat) series whose "timestamps"
    are partition epochs; ``full_duration`` spans ``lookback`` partitions at
    ``partition_seconds`` apiece, so the reference's window semantics
    (first-hour baseline, staleness) translate proportionally.
    """

    ensemble: EnsembleConfig = field(default_factory=EnsembleConfig)
    # how many trailing partitions form the drift baseline
    lookback_partitions: int = 30
    # seconds represented by one partition step (days(warc_ts) → 86400)
    partition_seconds: int = 86400
    # minimum history length before drift checks run (else TOO_SHORT status)
    min_history: int = 6
    # partitions with fewer rows are skipped entirely (TOO_SHORT status)
    min_partition_rows: int = 20
    # per-(partition, lang) cap on the ks_test value sample
    sample_cap: int = 512
    # cap on per-partition violation example rows (counts stay exact)
    max_violation_examples: int = 20
    # Pruned resume: when a checkpoint_path is given, detect changed
    # partitions with a NARROW scan (url/warc_ts/lang only — parquet column
    # pruning skips the multi-KB html), scan the heavy columns ONLY for
    # pending partition dates (partition pruning / parquet min-max skipping
    # on the date predicate), and rebuild drift baselines for unchanged
    # partitions from the checkpoint's stat_values/sample columns. Verdicts
    # are identical to the unpruned path (tests/test_validate_e2e.py pins
    # equality); the heavy-column bytes read drop from O(table) to
    # O(changed partitions). Requires a checkpoint written by a run that
    # carried stat_values (any run of this version); refuses legacy
    # checkpoints loudly. Default off: the unpruned path has no driver-side
    # collect, while pruning collects the pending DATE list (bounded by the
    # calendar, not the data).
    pruned_resume: bool = False
    # STALE on the partition axis (reference algorithms.py:588-589,
    # settings.py:393 STALE_PERIOD): a lang whose NEWEST partition is more
    # than this many days behind the run date has stopped emitting — its
    # newest verdict becomes STALE. None disables the gate.
    stale_after_partitions: int | None = 3
    # periodic re-validation (reference analyzer.py:305-449 Mirage periodic
    # checks): checkpoint rows older than this many days no longer suppress
    # re-validation, so long-lived partitions get re-checked even without a
    # data/kernel change. None disables.
    revalidate_after_days: float | None = None
    # stats whose series are monotonic counters: transformed to the
    # non-negative derivative before the ensemble (reference
    # analyse_derivatives, skyline_functions.py:1044-1100 — consecutive
    # diffs, counter resets dropped), so drift is detected on the RATE
    derivative_stats: frozenset = frozenset()


# Status labels for the pass/fail table (FIXTURES.md F5)
STATUS_OK = "OK"
STATUS_FAIL = "FAIL"
STATUS_TOO_SHORT = "TOO_SHORT"
STATUS_STALE = "STALE"
STATUS_BORING = "BORING"
