"""Benchmark of the ``validate()`` path: one workload per run.

    python3 perfbench/run.py --workload daily_resume --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run starts one local Spark session
sized to this host, builds the workload's inputs from ``--seed``, then sends
one operation at a time (a closed loop, one client: the next operation
starts when the previous one has returned) for ``--seconds`` seconds, and
checks every operation's output. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
same loop runs untraced first, then one operation runs with a span around
every layer call, and the metrics are the per-layer ones (see tracing.py).
The line before it holds the details: op-time quartiles, set-up times and
the host sizing. Everything the run writes goes under ``.perfbench_work/``
in the checkout, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from host import PeakRss, ProcTree, host_cpu, host_info, steal_share

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOAD_NAMES = ("daily_resume", "wide_drift")



def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Meter:
    """Times one operation: wall seconds, CPU seconds of the Spark process
    tree, and the Spark jobs it ran. Reusable; each ``with`` starts over."""

    def __init__(self, tree: ProcTree, store):
        self._tree = tree
        self._store = store
        self.wall_s = self.cpu_s = 0.0
        self.jobs = None

    def __enter__(self) -> "Meter":
        self._first_job = self._store.next_job_id()
        self._cpu0 = self._tree.sample()[0]
        self._t0 = time.perf_counter()
        return self

    def elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def __exit__(self, *exc) -> None:
        self.wall_s = self.elapsed()
        self.cpu_s = self._tree.sample()[0] - self._cpu0
        self.jobs = self._store.jobs_since(self._first_job)


def _environment(info: dict) -> None:
    """Size the driver to this host and keep every file inside WORK; must
    run before the JVM starts."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_DRIVER_MEMORY"] = info["heap"]
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(tmp)


def _start_session(cores: int):
    from skyline_spark import packaging
    from skyline_spark.session import get_spark

    # the package zip goes to WORK instead of the shared temp directory
    zip_path = str(WORK / "skyline_spark_pyfiles.zip")
    packaging.attach_package = lambda spark: spark.sparkContext.addPyFile(
        packaging.build_pyfiles_zip(zip_path)
    )
    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _run_op(wl, meter: Meter, span=None):
    """One operation: (Op, None) or (None, error text)."""
    try:
        op = wl.op(meter) if span is None else wl.op(meter, span)
    except Exception as exc:  # counted in `failed`; the loop goes on
        log(traceback.format_exc())
        return None, f"{type(exc).__name__}: {exc}"[:500]
    return op, None if op.ok else op.note


def _set_up(wl, meter: Meter) -> float:
    t0 = time.perf_counter()
    wl.setup()
    for _ in range(wl.warmup_ops):  # run and checked, not measured
        op, err = _run_op(wl, meter)
        if err:
            raise RuntimeError(f"warm-up operation failed: {err}")
    return time.perf_counter() - t0


def _closed_loop(wl, meter: Meter, seconds: float):
    """Operations back to back for ``seconds``, at least one: the completed
    ones, the errors, and the number attempted."""
    done, errors, attempted = [], [], 0
    t_end = time.perf_counter() + seconds
    while True:
        attempted += 1
        op, err = _run_op(wl, meter)
        if op is not None:
            done.append((op, meter.wall_s, meter.cpu_s, meter.jobs))
        if err:
            errors.append(err)
            log(f"operation failed: {err}")
        if time.perf_counter() >= t_end:
            return done, errors, attempted


def _quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test is the checkout's own package
    sys.path.insert(0, str(ROOT))
    import workloads  # noqa: E402  (imports skyline_spark: fails outside a checkout)
    from status import StatusStore

    shutil.rmtree(WORK, ignore_errors=True)
    cpu0 = host_cpu()
    info = host_info()
    _environment(info)
    t0 = time.perf_counter()
    spark = _start_session(info["cores"])
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tree = ProcTree(jvm_pid)
        meter = Meter(tree, StatusStore(spark.sparkContext))
        with PeakRss(tree) as peak:
            wl = workloads.WORKLOADS[args.workload](spark, WORK, args.seed)
            setup_s = _set_up(wl, meter)
            log(f"session {session_s:.2f}s, set-up {setup_s:.2f}s")
            done, errors, attempted = _closed_loop(wl, meter, args.seconds)
            if not done:
                raise RuntimeError(f"no operation completed: {errors}")
            op_walls = [d[1] for d in done]
            op_s = statistics.median(op_walls)
            if args.trace:
                attempted += 1
                metrics, err = _traced(spark, wl, meter, args.seed, session_s, op_s, done[-1][3])
                errors += [err] if err else []
        if not args.trace:
            ensembles = statistics.median(d[0].ensembles for d in done)
            metrics = {
                "setup_s": (session_s + setup_s, "s"),
                "op_s": (op_s, "s"),
                "rows_per_s": (wl.input_rows / op_s, "rows/s"),
                "ensembles_per_s": (ensembles / op_s, "1/s"),
                "cpu_s": (statistics.median(d[2] for d in done), "s"),
                "peak_rss_mb": (peak.peak_mb, "MB"),
                "heavy_rows_scanned": (statistics.median(d[0].heavy_rows for d in done), "rows"),
                "read_rows": (statistics.median(d[3].total.input_rows for d in done), "rows"),
                "lineage_bytes": (statistics.median(d[0].lineage_bytes for d in done), "bytes"),
            }
        print(json.dumps({
            "workload": args.workload,
            "seed": args.seed,
            "host": info,
            "steal": steal_share(cpu0, host_cpu()),
            "session_s": session_s,
            "setup_s": setup_s,
            "ops": len(op_walls),
            "op_s_quartiles": _quartiles(op_walls),
            "op_s_min_max": [min(op_walls), max(op_walls)],
            "errors": errors,
        }))
        print(json.dumps({
            "correct": not errors,
            "attempted": attempted,
            "failed": len(errors),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        _stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


def _traced(spark, wl, meter: Meter, seed: int, session_s: float, op_s: float, untraced_jobs):
    """One traced operation plus the kernel microbench: the per-layer metrics."""
    import tracing
    import workloads

    with tracing.Tracer(spark) as tracer:
        op, err = _run_op(wl, meter, tracer.span)
        if op is None:
            raise RuntimeError(f"traced operation failed: {err}")
        out = tracer.metrics(meter.jobs, meter.wall_s)
    out.update(tracing.kernel_bench(workloads.drift_series(seed)))
    run_s = out["drift.drift_verdicts.run_s"]
    out["drift.arrow_s"] = run_s - out["drift.ensembles"] / out["kernel.ensembles_per_s_core"]
    out["session.start_s"] = session_s
    out["validate.jobs"] = untraced_jobs.total.jobs
    out["validate.stages"] = untraced_jobs.total.stages
    out["validate.tasks"] = untraced_jobs.total.tasks
    out["trace.overhead_s"] = meter.wall_s - op_s
    return {k: (v, tracing.unit(k)) for k, v in out.items()}, err


if __name__ == "__main__":
    sys.exit(main())
