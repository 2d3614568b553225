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
