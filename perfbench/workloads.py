"""The workloads: inputs made from a seed, one operation, and its check.

Each workload builds its inputs in ``setup()`` and then runs ``op()`` in a
closed loop. ``op()`` times only the operation itself inside ``meter``;
resetting state and checking the output happen outside it. ``span`` opens
a traced span around the calls the operation itself makes into a layer
(the tracer rebinds the rest).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skyline_spark.config import STATUS_BORING, STATUS_FAIL, STATUS_TOO_SHORT, ValidationConfig
from skyline_spark.plans import drift as drift_plan
from skyline_spark.plans.checkpoint import append_checkpoint, append_run_metrics
from skyline_spark.plans.stats import with_partition
from skyline_spark.plans.validate import validate
from skyline_spark.sources.synth import defect_days, synth_pages
from skyline_spark.sources.table_format import DEFAULT_FORMAT


def _no_span(name):
    return contextlib.nullcontext()


@dataclass
class Op:
    ok: bool
    ensembles: int  # detector ensembles the operation ran
    heavy_rows: int  # rows whose payload columns the operation read
    lineage_bytes: int  # bytes the operation wrote
    note: str = ""


def _dir_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _, names in os.walk(path)
        for name in names
    )


# --------------------------------------------------------------- daily_resume


class DailyResume:
    """Steady-state daily sweep over a hive-partitioned ``synth_pages``
    table: ``validate(pruned_resume=True)`` over DAYS days plus one new day,
    from a checkpoint that holds every day but the new one, followed by the
    writes ``submit_validate.py`` makes. Every operation starts from a copy
    of that seeded checkpoint."""

    DAYS = 30
    ROWS_PER_DAY = 2_000
    #: the set-up already runs one full validation
    warmup_ops = 0

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        # synth_pages takes no seed: the seed picks the host population,
        # which moves urls, html, the duplicated and the kept rows, and so
        # the fingerprints. The calendar stays fixed: the dates decide which
        # shuffle partitions the (partition, lang) pairs hash to, and so how
        # many small files each write makes, which a seeded calendar made
        # swing lineage_bytes by a fifth from seed to seed
        self.base = dt.date(2026, 1, 1)
        self.n_hosts = 200 + seed % 1801
        self.pages = work / "pages"
        self.seeded = work / "seeded" / "checkpoint"
        self.reference: dict = {}
        self.new_pairs: set = set()
        self.seed_bytes = 0
        self.input_rows = 0

    def _epoch(self, day: int) -> float:
        when = dt.datetime.combine(self.base + dt.timedelta(days=day), dt.time(6), dt.timezone.utc)
        return when.timestamp()

    def _write_pages(self, n_days: int, first_day: int, defects: bool, mode: str) -> None:
        pages = synth_pages(
            self.spark,
            n_rows=self.ROWS_PER_DAY * n_days,
            n_days=n_days,
            base_date=(self.base + dt.timedelta(days=first_day)).isoformat(),
            n_hosts=self.n_hosts,
            defects=defects,
        )
        (
            with_partition(pages).repartition("partition_date")
            .write.mode(mode).partitionBy("partition_date").parquet(str(self.pages))
        )

    def setup(self) -> None:
        """Write the table and the new day, then validate all of it once
        with no checkpoint. That one run seeds the checkpoint
        with every day but the new one, and its verdicts are the reference
        for every pair a pruned resume validates."""
        shutil.rmtree(self.seeded.parent, ignore_errors=True)
        self._write_pages(self.DAYS, 0, defects=True, mode="overwrite")
        self._write_pages(1, self.DAYS, defects=False, mode="append")
        self.input_rows = self.spark.read.parquet(str(self.pages)).count()
        new_day = self.base + dt.timedelta(days=self.DAYS)
        # pruned_resume with an empty checkpoint prunes nothing (every pair
        # is pending and every baseline comes from the scan), but it runs
        # the pruned path once, so the measured operations find it warm
        res = validate(
            self.spark.read.parquet(str(self.pages)), ValidationConfig(pruned_resume=True),
            checkpoint_path=str(self.seeded), run_id="seed", run_ts=self._epoch(self.DAYS + 1),
        )
        try:
            rows = res.verdicts.collect()
            append_checkpoint(res.checkpoint.where(F.col("partition_date") < new_day), str(self.seeded))
        finally:
            res.release()
        problems = _defect_plan_problems([r for r in rows if r.partition_date < new_day], self.base, self.DAYS)
        if problems:
            raise RuntimeError("seed run broke the defect plan: " + "; ".join(problems))
        self.seed_bytes = _dir_bytes(self.seeded)
        self.reference = {(r.partition_date, r.lang): _canon(r) for r in rows}
        self.new_pairs = {k for k in self.reference if k[0] == new_day}

    def op(self, meter, span=_no_span) -> Op:
        out = self.work / "op"
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.seeded, out / "checkpoint")
        ckpt = str(out / "checkpoint")
        with meter:
            res = validate(
                self.spark.read.parquet(str(self.pages)), ValidationConfig(pruned_resume=True),
                checkpoint_path=ckpt, run_id="resume", run_ts=self._epoch(self.DAYS + 1),
            )
            with span("table_format.outputs_write"):
                DEFAULT_FORMAT.overwrite(res.verdicts, str(out / "verdicts"))
                DEFAULT_FORMAT.overwrite(res.violations, str(out / "violations"))
            with span("checkpoint.append_checkpoint"):
                append_checkpoint(res.checkpoint, ckpt)
            with span("table_format.outputs_write"):
                append_run_metrics(
                    res.run_metrics.withColumn("run_time_s", F.lit(meter.elapsed())),
                    str(out / "runs"),
                )
        try:
            # the stats table has one row_count per (partition, lang) the
            # heavy scan produced, so its sum is the rows that scan read
            heavy = res.stats.where(F.col("stat") == "row_count").agg(F.sum("value")).collect()[0][0]
        finally:
            res.release()
        rows = self.spark.read.parquet(str(out / "verdicts")).collect()
        lineage = _dir_bytes(out) - self.seed_bytes
        shutil.rmtree(out)
        # every pair the resume judged (the new day's, and any stale lang's
        # newest re-surfaced) must be judged as the full run judged it
        problems = [
            f"{r.partition_date} {r.lang} is {r.status}, not as in the full run"
            for r in rows
            if self.reference.get((r.partition_date, r.lang)) != _canon(r)
        ]
        missing = self.new_pairs - {(r.partition_date, r.lang) for r in rows}
        if missing:
            problems.append(f"new-day pairs not validated: {sorted(l for _, l in missing)}")
        ok = not problems
        note = "; ".join(problems) or f"{len(rows)} verdicts as in the full run"
        ensembles = sum(1 for r in rows for v in (r.ensemble or {}).values() if v)
        return Op(ok, ensembles, int(heavy or 0), lineage, note)


def _canon(r) -> str:
    """One verdict row as text, for comparing runs."""
    return json.dumps([
        str(r.partition_date), r.lang, r.status, r.checks_run, r.checks_failed,
        sorted((r.ensemble or {}).items()), sorted((r.consensus or {}).items()),
    ])


def _defect_plan_problems(rows, base: dt.date, n_days: int) -> list[str]:
    """How a full run's verdicts miss the synth table's planted defect days:
    FAIL on the dup/lang/null/len-shift days, BORING on the constant day,
    only TOO_SHORT on the last day."""
    status = defaultdict(set)
    for r in rows:
        status[(r.partition_date - base).days].add(r.status)
    days = defect_days(n_days)
    problems = [
        f"{k} day has {sorted(status[days[k]])}, no FAIL"
        for k in ("dup", "lang", "null_text", "len_shift")
        if STATUS_FAIL not in status[days[k]]
    ]
    if STATUS_BORING not in status[days["constant"]]:
        problems.append(f"constant day has {sorted(status[days['constant']])}, no BORING")
    if status[days["too_short"]] != {STATUS_TOO_SHORT}:
        problems.append(f"last day has {sorted(status[days['too_short']])}, not only TOO_SHORT")
    return problems


# ------------------------------------------------------------------ wide_drift


def _phase(seed: int) -> float:
    return (seed % 1000) * 0.618


def drift_series(seed: int, n: int = 400) -> list:
    """The first ``n`` series ``WideDrift`` stores for ``seed``, built in
    numpy with the same formula."""
    step = np.arange(WideDrift.POINTS)
    out = []
    for sid in range(n):
        v = np.sin(sid + step * 0.7 + _phase(seed)) * 10.0 + (step + seed) % 7
        if (sid + seed) % WideDrift.SPIKE_EVERY == 0:
            v[-1] += WideDrift.SPIKE
        out.append(v)
    return out


class WideDrift:
    """``drift_verdicts`` over a stored stats table of many short series,
    each series' newest partition the target, a spike planted on every
    SPIKE_EVERY-th series; the verdict rows are written to parquet. No page
    scan."""

    SERIES = 5_000
    POINTS = 60
    SPIKE_EVERY = 50
    SPIKE = 500.0
    warmup_ops = 2

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.seed = seed
        self.path = str(work / "stats")
        self.out = str(work / "drift_out")
        self.ref_digest: int | None = None
        self.input_rows = self.SERIES * self.POINTS
        self.samples = spark.createDataFrame(
            [],
            T.StructType([
                T.StructField("partition_date", T.DateType()),
                T.StructField("lang", T.StringType()),
                T.StructField("stat", T.StringType()),
                T.StructField("sample", T.ArrayType(T.DoubleType())),
            ]),
        )

    def setup(self) -> None:
        sid = F.col("id") % self.SERIES
        step = (F.col("id") / self.SERIES).cast("int")
        planted = (step == self.POINTS - 1) & (F.pmod(sid + self.seed, F.lit(self.SPIKE_EVERY)) == 0)
        # the seed salts the phase and the weekly offset of every series
        value = (
            F.sin(sid + step * 0.7 + _phase(self.seed)) * 10.0
            + F.pmod(step + self.seed, F.lit(7)).cast("double")
            + F.when(planted, F.lit(self.SPIKE)).otherwise(F.lit(0.0))
        )
        (
            self.spark.range(self.SERIES * self.POINTS)
            .select(
                F.date_add(F.to_date(F.lit("2020-01-01")), step).alias("partition_date"),
                F.concat(F.lit("s"), sid.cast("string")).alias("lang"),
                F.lit("value_avg").alias("stat"),
                value.alias("value"),
            )
            .write.mode("overwrite").parquet(self.path)
        )
        self.ref_digest = None

    def op(self, meter, span=_no_span) -> Op:
        with meter:
            stats = self.spark.read.parquet(self.path)
            targets = stats.groupBy("lang").agg(F.max("partition_date").alias("partition_date"))
            verdicts = drift_plan.drift_verdicts(
                stats, self.samples, ValidationConfig(),
                targets_df=targets, drift_stats=["value_avg"],
            )
            with span("table_format.outputs_write"):
                DEFAULT_FORMAT.overwrite(verdicts, self.out)
        written = self.spark.read.parquet(self.out)
        sid = F.substring("lang", 2, 12).cast("long")
        planted = F.pmod(sid + self.seed, F.lit(self.SPIKE_EVERY)) == 0
        anomalous = F.col("anomalous").cast("int")
        n_rows, ensembles, fails, planted_fails, digest = written.agg(
            F.count(F.lit(1)),
            F.sum((F.size("ensemble") > 0).cast("int")),
            F.sum(anomalous),
            F.sum(F.when(planted, anomalous).otherwise(0)),
            F.bit_xor(F.xxhash64(*written.columns)),
        ).collect()[0]
        want = self.SERIES // self.SPIKE_EVERY
        ok = n_rows == self.SERIES and fails == planted_fails == want
        if self.ref_digest is None and ok:
            self.ref_digest = digest
        ok = ok and digest == self.ref_digest
        note = f"rows={n_rows} fails={fails} planted_fails={planted_fails} digest={digest}"
        return Op(ok, ensembles, self.input_rows, _dir_bytes(Path(self.out)), note)


WORKLOADS = {"daily_resume": DailyResume, "wide_drift": WideDrift}
