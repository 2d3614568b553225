"""The benchmark tracer rebinds layer functions by module attribute: every
name it patches must resolve, or ``perfbench/run.py --trace 1`` fails at
start-up instead of here."""

import importlib
import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def test_tracer_patches_resolve(monkeypatch):
    monkeypatch.syspath_prepend(str(PERFBENCH))
    sys.modules.pop("tracing", None)
    tracing = importlib.import_module("tracing")
    targets = [t for ts in tracing._PATCHES.values() for t in ts]
    assert targets
    for mod_name, attr in targets:
        mod = importlib.import_module(f"skyline_spark.plans.{mod_name}")
        assert callable(getattr(mod, attr, None)), f"{mod_name}.{attr}"


def test_pruned_resume_calls_every_rebound_function(spark, monkeypatch, tmp_path):
    """A span the tracer opens around a ``plans.validate`` function measures
    nothing if validate() no longer calls it: a pruned resume whose targets
    fail the uniqueness and referential checks calls every one."""
    from skyline_spark.config import ValidationConfig
    from skyline_spark.sources.synth import synth_pages

    monkeypatch.syspath_prepend(str(PERFBENCH))
    sys.modules.pop("tracing", None)
    tracing = importlib.import_module("tracing")
    plan = importlib.import_module("skyline_spark.plans.validate")
    rebound = {
        attr for ts in tracing._PATCHES.values() for mod_name, attr in ts
        if mod_name == "validate"
    }
    called = set()
    for attr in rebound:
        def spy(*args, _attr=attr, _real=getattr(plan, attr), **kwargs):
            called.add(_attr)
            return _real(*args, **kwargs)

        monkeypatch.setattr(plan, attr, spy)
    res = plan.validate(
        synth_pages(spark, 4_000, 10),
        ValidationConfig(pruned_resume=True, min_partition_rows=2),
        checkpoint_path=str(tmp_path / "ckpt"), run_ts=1_786_406_400.0,
    )
    checks = {r["check"] for r in res.violations.select("check").distinct().collect()}
    res.release()
    assert {"uniqueness", "referential"} <= checks
    assert called == rebound
