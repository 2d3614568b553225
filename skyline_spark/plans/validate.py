"""End-to-end validation pipeline — the engine's main entry point.

Spark restatement of the Analyzer sweep (SURVEY §3.2):

    read table → per-partition stats (one agg pass over the big table)
               → drift ensemble over the tiny stats table (one packed row
                 per series → mapInArrow, detectors batched across series)
               → constraint checks: one rule judges each pair's stats row,
                 example rows fetched only for the pairs that fail
               → pass/fail verdicts + violation sidecar + checkpoint rows

Resume: with a ``checkpoint_path``, a (partition, lang) pair whose latest
checkpoint row records its current snapshot under the current detector
versions is anti-joined away; only new, changed or rolled-back partitions
(and each lang's stale newest one) are (re)validated. Baseline history always flows through the
stats table, never the raw data — the 10^12-row posture is that detectors
see only checkpoint-sized inputs.
"""

from __future__ import annotations

import datetime as _dt
import time as _time
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ..config import (
    STATUS_BORING,
    STATUS_FAIL,
    STATUS_OK,
    STATUS_STALE,
    STATUS_TOO_SHORT,
    ValidationConfig,
)
from ..operators.detectors import ALGORITHMS, DETECTOR_VERSIONS
from ..operators.ensemble import kernel_self_test
from ..sources.synth import PAGE_SCHEMA
from .checkpoint import (
    checkpoint_history,
    detector_version_hash,
    file_set_metrics,
    load_checkpoint,
    pending_partitions,
    recorded_under,
    run_metrics_rows,
    unchanged_dates,
)
from .constraints import (
    DEFAULT_LANG_ALLOWLIST,
    StaticRule,
    failed_checks,
    referential_violations,
    schema_violations,
    static_rule_violations,
    uniqueness_violations,
)
from .drift import drift_verdicts
from .stats import (
    PARTITION_COLS,
    duplicate_url_rows,
    length_histogram,
    long_form,
    narrow_partition_keys,
    pair_join,
    partition_file_sets,
    partition_stats,
    slim_pages,
    stat_digest_blobs,
    stat_samples,
    url_groups,
)

__all__ = ["ValidationResult", "validate", "VERDICT_SCHEMA", "DEFAULT_STATIC_RULES"]

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("partition_date", T.DateType()),
        T.StructField("lang", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("checks_run", T.IntegerType()),
        T.StructField("checks_failed", T.IntegerType()),
        T.StructField("ensemble", T.MapType(T.StringType(), T.ArrayType(T.BooleanType(), True))),
        T.StructField("consensus", T.MapType(T.StringType(), T.BooleanType())),
    ]
)

def _local_ckpt_rdd_id(df: DataFrame) -> int:
    """The persisted RDD id behind a localCheckpoint'ed frame — read off
    its LogicalRDD plan node. ``df.rdd.id`` would mint a NEW python-facing
    RDD whose id never matches the block manager's."""
    return df._jdf.queryExecution().analyzed().rdd().id()


def _delete_path(spark, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API, so
    scratch cleanup works for any scheme the cluster writes (file://, hdfs://,
    s3a://) — not just the local filesystem."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    if fs.exists(p):
        fs.delete(p, True)


# Boundary-style defaults (SURVEY §2.6): a partition must not be near-empty
# and null rates must stay sane even if drift has no baseline yet.
DEFAULT_STATIC_RULES = (
    StaticRule("row_count", "less_than", 1.0),
    StaticRule("null_rate_text", "greater_than", 0.5),
)


@dataclass
class _RunStorage:
    """The storage one validate() run materializes: its barriers (RDD ids
    of the localCheckpoint blocks, or the scratch-table directory when the
    run materializes to storage instead). validate() caches no frame.

    localCheckpoint blocks are NOT released by DataFrame.unpersist() — they
    live until the driver GCs the RDD handle, so a long-lived session
    running validate() repeatedly (a resident validation service, the
    bench, the scaling harness) strands ~hundreds of MB of block-manager
    memory per run unless released explicitly. Each barrier records its
    OWN RDD id (off the frame's LogicalRDD plan node) as it is made, so
    release() drops exactly these blocks — on success and on failure. A
    global storage-info before/after diff would race with concurrent
    validate() runs or caller-side caching on the same session and free
    someone else's lineage-truncated blocks, unrecoverable for the victim."""

    spark: SparkSession
    scratch_run_dir: str | None = None
    rdd_ids: list = field(default_factory=list)

    def barrier(self, df: DataFrame, name: str) -> DataFrame:
        """Materialize ``df`` eagerly; later plans read it as one leaf."""
        if self.scratch_run_dir is not None:
            path = f"{self.scratch_run_dir}/{name}"
            df.write.mode("errorifexists").parquet(path)
            return self.spark.read.parquet(path)
        out = df.localCheckpoint(eager=True)
        self.rdd_ids.append(_local_ckpt_rdd_id(out))
        return out

    def release(self) -> None:
        if self.rdd_ids:
            jsc = self.spark.sparkContext._jsc.sc()
            live = {info.id() for info in jsc.getRDDStorageInfo()}
            for rid in self.rdd_ids:
                if rid in live:
                    jsc.unpersistRDD(rid, False)
            self.rdd_ids.clear()
        if self.scratch_run_dir is not None:
            _delete_path(self.spark, self.scratch_run_dir)
            self.scratch_run_dir = None


@dataclass
class ValidationResult:
    """One run's outputs plus the storage that backs them.

    ``verdicts`` and ``violations`` are materialized before validate()
    returns: each is a barrier (a localCheckpoint, or a scratch table under
    ``scratch_dir``), so every plan over them — the caller's writes
    included — starts from one leaf instead of re-planning the pipeline.
    ``checkpoint`` and ``run_metrics`` stay lazy, over barrier leaves.

    Every frame here is independent of later lineage writes: the input
    checkpoint is read once, as its latest row per pair, behind a barrier,
    so no frame's plan reads the checkpoint location. Appending ``checkpoint`` (or run metrics, or
    overwriting verdicts/violations) in any order leaves ``verdicts``,
    ``violations`` and ``run_metrics`` describing this run's targets, and
    re-runs none of the validation."""

    verdicts: DataFrame
    violations: DataFrame
    checkpoint: DataFrame
    stats: DataFrame
    samples: DataFrame
    #: ONE RUN_METRICS_SCHEMA row (plans/checkpoint.py) — the reference's
    #: end-of-run accounting (run totals, exception stats, per-detector
    #: anomaly breakdown; analyzer.py:2343-2413) as persisted lineage.
    #: ``run_time_s`` is NULL in the lazy frame; stamp wall time before
    #: appending: ``res.run_metrics.withColumn("run_time_s", F.lit(t))``.
    run_metrics: DataFrame | None = None
    run_id: str = ""
    config: ValidationConfig = field(default_factory=ValidationConfig)
    _storage: _RunStorage | None = field(default=None, repr=False)

    def release(self) -> None:
        """Free every block this run materialized. The result's DataFrames
        are NOT usable afterwards — call only when fully consumed."""
        if self._storage is not None:
            self._storage.release()


def validate(
    pages: DataFrame,
    cfg: ValidationConfig | None = None,
    checkpoint_path: str | None = None,
    run_id: str = "run-0",
    run_ts: float | None = None,
    static_rules: Sequence[StaticRule] = DEFAULT_STATIC_RULES,
    lang_allowlist: Sequence[str] = tuple(DEFAULT_LANG_ALLOWLIST),
    drift_stats: Sequence[str] | None = None,
    sample_backed: set[str] | None = None,
    algorithms: dict | None = None,
    scratch_dir: str | None = None,
) -> ValidationResult:
    """``drift_stats`` / ``sample_backed`` / ``algorithms``: forwarded to
    :func:`..plans.drift.drift_verdicts` — restrict which stat series run
    the ensemble and which kernels vote (the reference's algorithm-set
    selection). Defaults run the full registry over DRIFT_STATS.

    ``scratch_dir``: materialize the pipeline barriers (the checkpoint's
    latest rows, narrow, slim, stats, gated, drift, violations, verdicts)
    as parquet scratch tables under ``scratch_dir/<run token>/``
    instead of ``localCheckpoint``. This is the shape a 10^12-row cluster run
    wants: localCheckpoint truncates lineage into executor-LOCAL blocks, so
    losing any executor mid-run is unrecoverable (Spark cannot recompute a
    checkpointed partition whose block died with its host) — a scratch table
    survives executor churn, costs no block-manager memory, and downstream
    scans get parquet column pruning. On local[N] the in-memory barrier is
    faster, so it stays the default. ``release()`` deletes the run's scratch
    directory (any Hadoop-visible scheme: file://, hdfs://, s3a://)."""
    cfg = cfg or ValidationConfig()
    spark = pages.sparkSession
    run_ts = run_ts if run_ts is not None else _time.time()

    # ---- stage -1: kernel self-test (`analyzer/agent.py:86-104`) ----------
    # refuse to launch cluster work if any registered kernel — built-in or
    # plugin — errors (or fires) on the reference's flat series; ~100 ms of
    # driver-side numpy, memoized per (kernel, version) set
    bad = kernel_self_test()
    if bad:
        raise RuntimeError(
            f"kernel self-test failed for {bad!r}: a registered detector "
            "errors or fires on a flat series; fix or unregister it before "
            "validating (reference: analyzer/agent.py:86-104)"
        )

    # ---- stage 0: schema check, then conform the input --------------------
    # a wrong-typed or missing column is *reported* (schema violations) and
    # then coerced (try_cast / null-fill) so every downstream check still
    # runs instead of crashing mid-plan
    schema_viol = schema_violations(pages, PAGE_SCHEMA)
    # the pruned path's file listing, from the caller's frame before the
    # conform projection below hides its file index (None: not a bare
    # hive-partitioned file scan, so every date is narrow-scanned)
    file_sets = (
        partition_file_sets(pages)
        if cfg.pruned_resume and checkpoint_path is not None
        else None
    )
    # a hive-partitioned layout materializes the days(warc_ts) partition
    # spec as a physical `partition_date` column (Iceberg keeps it hidden in
    # metadata) — carry it under an internal name so the pruned-resume
    # filter can hit PartitionFilters; everything else derives the key from
    # warc_ts as usual
    conform = [
        (F.col(f.name).try_cast(f.dataType) if f.name in pages.columns
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in PAGE_SCHEMA.fields
    ]
    if "partition_date" in pages.columns:
        conform.append(
            F.col("partition_date").try_cast(T.DateType())
            .alias("_native_partition_date")
        )
    pages = pages.select(*conform)

    # ---- stage 1: ONE scan of the heavy columns → slim derived frame -----
    # html (multi-KB/row) and text are read exactly once; every stage below
    # aggregates the ~100-byte/row slim projection instead of re-scanning.
    #
    # The materialization is EAGER (localCheckpoint, not a lazy persist):
    # the pipeline fans out into many concurrent jobs below (broadcast
    # exchanges, the verdict action, the violations action), and a lazy
    # persist lets those jobs race to compute the same partitions on
    # DIFFERENT executors before any block is published — measured as an
    # absolute slowdown when ADDING executors (27s at 1 → 71s at 4 in
    # round 1). Checkpointing also truncates lineage, so no downstream job
    # can ever re-touch the multi-KB html column. At 10^12 rows pass
    # ``scratch_dir`` and the same barrier becomes a parquet scratch-table
    # write (fault-tolerant: survives executor loss); the shape is identical.
    scratch_run_dir = None
    if scratch_dir is not None:
        # unique per run: concurrent validate() calls on one session must
        # not clobber each other's scratch tables
        scratch_run_dir = (
            f"{scratch_dir.rstrip('/')}/{run_id}-{int(run_ts)}-{id(pages):x}"
        )
    store = _RunStorage(spark, scratch_run_dir)
    try:
        return _validate_body(
            pages, cfg, checkpoint_path, run_id, run_ts, static_rules,
            lang_allowlist, drift_stats, sample_backed, algorithms,
            spark, schema_viol, file_sets, store,
        )
    except BaseException:
        # a failed run must not strand multi-GB scratch tables or barrier
        # blocks: the only handle that frees them (ValidationResult.release)
        # is built at the very end of the pipeline, so release here on any
        # error
        try:
            store.release()
        except Exception:
            pass
        raise


def _prune_predicate(
    dates: list, keep_null_ts: bool, use_native: bool = False
) -> F.Column:
    """Scan filter keeping only the pending partition dates.

    Three conjuncts, each earning its keep at a different layer:
    - a [min, max+1d) envelope on raw ``warc_ts`` — plain comparisons, so
      parquet row-group min/max stats skip whole blocks even on an
      unpartitioned layout (``to_date(warc_ts) IN (...)`` is a function
      call and never reaches PushedFilters);
    - the exact ``to_date(warc_ts) IN dates`` membership (post-scan, makes
      sparse date sets correct inside the envelope);
    - when ``use_native`` (the layout materializes the days(warc_ts)
      partition spec as a physical column — hive-style; Iceberg keeps it in
      metadata — AND the narrow scan audited every row as agreeing with the
      derived key), the same membership on that column — this is what
      becomes PartitionFilters and skips unchanged days' FILES entirely.
      The caller only sets it after the audit: a layout whose column
      disagrees with days(warc_ts) would silently drop rows here, so it
      falls back to the warc_ts-only conjuncts (correct, just no file-level
      pruning).
    ``keep_null_ts`` preserves null/uncastable-timestamp rows: they belong
    to the null partition group, which is always a (re)validation target
    (its fingerprint can never match a checkpoint row)."""
    if dates:
        keep = (
            (F.col("warc_ts") >= F.lit(dates[0]).cast("timestamp"))
            & (F.col("warc_ts") < F.to_timestamp(F.date_add(F.lit(dates[-1]), 1)))
            & F.to_date("warc_ts").isin(dates)
        )
    else:
        keep = F.lit(False)
    if keep_null_ts:
        keep = keep | F.col("warc_ts").isNull()
    if use_native and dates:
        nat = F.col("_native_partition_date")
        keep = keep & (nat.isin(dates) | nat.isNull())
    return keep


def _validate_body(
    pages, cfg, checkpoint_path, run_id, run_ts, static_rules,
    lang_allowlist, drift_stats, sample_backed, algorithms,
    spark, schema_viol, file_sets, store,
) -> ValidationResult:
    vhash = detector_version_hash()
    # the run date of the staleness gate (stage 3b)
    run_date = F.lit(
        _dt.datetime.fromtimestamp(run_ts, _dt.timezone.utc).date()
    )
    # the checkpoint is read ONCE, as its latest row per pair, behind the
    # barrier every resume question reads: no frame this run returns keeps
    # the checkpoint relation in its plan, so the caller's own
    # append_checkpoint can never make a re-plan of them see this run's rows
    # and anti-join its own targets away
    latest = (
        store.barrier(
            checkpoint_history(load_checkpoint(spark, checkpoint_path)),
            "checkpoint_in",
        )
        if checkpoint_path is not None
        else None
    )

    def _flag(fps: DataFrame) -> DataFrame:
        """Stage 2: ``fps`` (one row per pair with its ``fingerprint``) with
        ``is_stale`` (stage 3b) and ``target``: the pair needs work."""
        # ---- stage 3b: STALE gate on the partition axis -------------------
        # the reference marks a metric Stale when its newest datapoint is
        # older than STALE_PERIOD (`analyzer/algorithms.py:588-589`,
        # `settings.py:393`); here a lang whose NEWEST partition trails the
        # run date by more than ``stale_after_partitions`` days has stopped
        # emitting — that newest partition's verdict surfaces as STALE.
        # Per-lang newest is a window, so the plan reads ``fps`` once (a
        # second reader of the narrow scan would scan the files again); a
        # NULL lang has no newest partition
        if cfg.stale_after_partitions is None:
            fps = fps.withColumn("is_stale", F.lit(False))
        else:
            newest = F.when(
                F.col("lang").isNotNull(),
                F.max("partition_date").over(Window.partitionBy("lang")),
            )
            fps = fps.withColumn(
                "is_stale",
                (F.col("partition_date") == newest)
                & (F.datediff(run_date, newest) > cfg.stale_after_partitions),
            )
        if latest is None:
            return fps.withColumn("target", F.lit(True))
        # a stale newest partition is a target whatever the checkpoint
        # holds: its lang STOPPED emitting, so nothing else changed (the
        # reference surfaces Stale metrics on every sweep)
        return pending_partitions(
            fps, latest, vhash, run_ts=run_ts,
            max_age_days=cfg.revalidate_after_days,
        ).withColumn(
            "target", F.coalesce(F.col("is_stale"), F.lit(False)) | F.col("pending")
        ).drop("pending")

    # ---- stage 1.5 (pruned resume only): narrow change detection ---------
    # fingerprint + row count per pair from a scan of (url, warc_ts, lang)
    # ONLY — column pruning skips the multi-KB html — then restrict the
    # heavy scan below to the target partition DATES. The collected date
    # lists are bounded by the calendar, not the data.
    #
    # The narrow scan itself reads only the dates whose file set changed
    # since the checkpoint recorded it (plans.stats partition_file_sets) or
    # that have no record; every other date's fingerprints come from the
    # checkpoint's latest rows — the parquet analog of knowing unchanged
    # Iceberg partitions from snapshot metadata. Its date filter on the
    # physical column becomes PartitionFilters.
    pruned = cfg.pruned_resume and latest is not None
    recorded: dict = {}
    if pruned:
        native = (
            "_native_partition_date"
            if "_native_partition_date" in pages.columns
            else None
        )
        # one collect: the skippable dates, and the legacy-row guard
        skip = unchanged_dates(latest, file_sets)

        def _narrow(frame, reused, name):
            # barrier: every current pair's fingerprint — the narrow scan's
            # rows plus the reused ones — flagged is_stale and target,
            # checkpoint-sized. It feeds the gated barrier and the drift
            # baselines. One collect reads it per date: the pair count and
            # mismatching rows of the layout audit, and the targets that
            # decide the heavy scan
            fps = narrow_partition_keys(frame, native_col=native)
            if reused is not None:
                fps = fps.unionByName(reused)
            out = store.barrier(_flag(fps), name)
            per_date = out.coalesce(1).groupBy("partition_date").agg(
                F.count(F.lit(1)).alias("pairs"),
                (F.sum("native_mismatch") if native else F.lit(0)).alias("bad"),
                F.count(F.when(F.col("target"), 1)).alias("targets"),
            ).collect()
            return out, {r["partition_date"]: r for r in per_date}

        if skip:
            # the skipped dates' pairs: exactly the rows recorded under the
            # current file set (an older row of a lang the date no longer
            # holds carries another file_set), audited clean when recorded
            reused = latest.where(
                recorded_under({d: file_sets[d] for d in skip})
            ).select(
                *PARTITION_COLS, "fingerprint",
                F.lit(0).cast("long").alias("native_mismatch"),
            )
            nat = F.col(native)
            changed = sorted(set(file_sets) - skip)
            narrow, audit = _narrow(
                pages.where(nat.isin(changed) | nat.isNull()), reused, "narrow"
            )
        else:
            narrow, audit = _narrow(pages, None, "narrow")
        bad = sum(r["bad"] or 0 for r in audit.values())
        if bad and skip:
            # a row in a changed directory can belong to a skipped date:
            # audit (and fingerprint) the whole table instead
            skip = set()
            narrow, audit = _narrow(pages, None, "narrow_all")
            bad = sum(r["bad"] or 0 for r in audit.values())
        flags = narrow
        # only trust the physical layout for file-level pruning after
        # auditing that every row's partition column equals days(warc_ts) —
        # a disagreeing layout (e.g. partitioned by ingest date) would
        # silently lose rows to the native conjunct; fall back to the
        # warc_ts-only filter instead (correct, no file-level pruning)
        use_native = False
        if native is not None:
            if bad:
                import warnings

                warnings.warn(
                    f"partition_date disagrees with days(warc_ts) on {bad} "
                    "rows — pruning on warc_ts only (no PartitionFilters); "
                    "repartition the table by days(warc_ts) to restore "
                    "file-level pruning",
                    stacklevel=2,
                )
            else:
                use_native = True
                # a clean audit covers every date: the scanned ones just now,
                # the skipped ones when their record was written. Record
                # each listed date's file set and pair count for the
                # checkpoint rows. A mismatch anywhere records nothing: a
                # misplaced row is counted under its warc_ts date, not under
                # the directory that holds it, so no date can be vouched for
                recorded = {
                    d: (h, audit[d]["pairs"])
                    for d, h in (file_sets or {}).items()
                    if d in audit
                }
        pend = [d for d, r in audit.items() if r["targets"]]
        dates = sorted(d for d in pend if d is not None)
        pages = pages.where(
            _prune_predicate(
                dates,
                keep_null_ts=len(dates) != len(pend),
                use_native=use_native,
            )
        )

    slim = store.barrier(slim_pages(pages), "slim")
    # barrier "stats": ONE row per (partition, lang) in the checkpoint's own
    # shape — fingerprint, stat_values, stat_digests, sample — plus the
    # uniqueness check's phase-1 count, dup_url_rows. Every consumer
    # below reads columns of it; the long stats/samples frames come from
    # long_form's one explode. Its plan reads slim TWICE: the wide per-pair
    # aggregate, and the url-group aggregate (one row per pair, url hash,
    # sampling bucket, order hash and length), whose exchange AQE reuses
    # for the length histogram, the sample and the duplicate count. The
    # histogram is one len-sorted array per pair; the p50/p95, the digest
    # and the keep-rates fold it. Per-pair frames join on non-nullable key
    # columns (plans.stats _with_pair_rows): a bare pair-column join would
    # push its inferred filters into one branch's copy of the url-group
    # aggregate, which would then scan slim again, and a null-safe one is
    # sized as a product, which the barrier keeps, turning later joins over
    # it into shuffles and planting runtime bloom filters
    groups = url_groups(slim)
    len_hist = length_histogram(groups)
    hists = stat_samples(groups, len_hist, cfg.sample_cap)
    pairs = stat_digest_blobs(partition_stats(slim, hists))
    pair_stats = store.barrier(duplicate_url_rows(pairs, groups), "stats")
    stats, samples = long_form(pair_stats)
    # ---- stage 2: resume — which (partition, lang) pairs need work? ------
    # In pruned mode the narrow barrier carries the flags; otherwise derive
    # them from the stats barrier, read once by the gated barrier below
    if not pruned:
        flags = _flag(pair_stats.select(*PARTITION_COLS, "fingerprint"))

    # drift baselines: in pruned mode the heavy scan only covered target
    # dates, so the other pairs' stat vectors + ks samples come from their
    # latest checkpoint rows, which describe their current content (else
    # they would be targets); anti-joined on the freshly scanned pairs, as
    # a target DATE also rescans that date's other langs
    drift_stats_in, drift_samples_in = stats, samples
    if pruned:
        # semi-join on the CURRENT table's pairs: a partition deleted since
        # its checkpoint row (retention trim, purge) must not haunt the
        # baselines — a full rescan would never see it, and the pruned path
        # must produce identical verdicts
        history = latest.select(
            *PARTITION_COLS, "fingerprint", "stat_values", "sample"
        ).join(
            F.broadcast(narrow.select(*PARTITION_COLS)),
            PARTITION_COLS, "left_semi",
        ).join(
            F.broadcast(pair_stats.select(*PARTITION_COLS)),
            PARTITION_COLS, "left_anti",
        )
        drift_stats_in, drift_samples_in = long_form(
            pair_stats.drop("stat_digests", "dup_url_rows").unionByName(history)
        )

    # ---- stage 3: partition row-count gate (TooShort, FIXTURES F4) -------
    # each target (flagged is_stale in stage 2) with its stats row. A pair
    # whose date or lang is NULL is a target on every run (no checkpoint
    # row can match it), and it is judged on its real row count like any
    # other: the join is null-safe
    gated = pair_join(
        flags.where(F.col("target")).select(*PARTITION_COLS, "is_stale"),
        pair_stats.select(*PARTITION_COLS, "stat_values", "dup_url_rows"),
        "left",
    ).withColumn(
        "too_short",
        F.coalesce(F.col("stat_values")["row_count"], F.lit(0))
        < cfg.min_partition_rows,
    )

    # barrier "gated": one row per target, read by the drift targets, the
    # constraint rule and the verdicts — without it each re-runs its joins
    gated = store.barrier(gated, "gated")

    drift_targets = gated.where(~F.col("too_short")).select(*PARTITION_COLS)

    # ---- stage 4: drift ensemble over the stats table ---------------------
    # barrier "drift": drift rows are checkpoint-sized (one per
    # partition×lang×stat) and feed two consumers (verdict assembly, the
    # violation sidecar) — without it each re-runs the ensemble UDF and its
    # joins. A barrier rather than a cache: a cached frame that feeds
    # another cached frame nests its whole plan inside the other's, and
    # every later plan (the lineage writes) re-plans the nest — MBs of plan
    # text per write
    drift = store.barrier(drift_verdicts(
        drift_stats_in,
        drift_samples_in,
        cfg,
        targets_df=drift_targets,
        drift_stats=list(drift_stats) if drift_stats is not None else None,
        sample_backed=sample_backed,
        algorithms=algorithms,
    ), "drift")

    # ---- stage 5: constraints — one rule on the pair rows ------------------
    # the driver collects the tiny set of failing (pair, check) rows once and
    # plans an example query only for a check that failed, restricted by a
    # join against the failing rows — never by per-run literals, which
    # compile new generated classes on every run. A clean day runs none
    failing = failed_checks(gated, static_rules, lang_allowlist)
    failed = {r["check"] for r in failing.select("check").collect()}
    parts = [static_rule_violations(failing)]
    if "uniqueness" in failed:
        parts.append(uniqueness_violations(slim, failing, cfg.max_violation_examples))
    if "referential" in failed:
        parts.append(referential_violations(slim, failing, cfg.max_violation_examples))
    parts.append(
        drift.where(F.col("anomalous"))
        .select(
            "partition_date",
            "lang",
            F.lit("drift").alias("check"),
            F.col("stat").alias("column"),
            F.col("datapoint").cast("string").alias("observed"),
            # n derives from the kernel set that actually voted:
            # register_detector() grows the ensemble, and an algorithm-subset
            # run (the oracled twins) shrinks it — never a hardcoded 9
            F.lit(
                "consensus < "
                f"{cfg.ensemble.consensus} of "
                f"{len(ALGORITHMS if algorithms is None else algorithms)}"
            ).alias("expected"),
            F.col("triggered").alias("triggered_algorithms"),
        )
    )
    violations = schema_viol
    for part in parts:  # a column a part lacks (url, algorithms) is NULL
        violations = violations.unionByName(part, allowMissingColumns=True)
    # barrier "violations": the sidecar is example-capped (tiny) but
    # PRODUCING it may scan slim (the example queries), and it has two
    # consumers — the returned sidecar and the per-pair constraint counts
    # folded into verdicts below. Without the barrier each action pays the
    # example scans again. The union keeps every branch's partitions, and
    # a barrier keeps its input's partitioning, so rebalance first: AQE
    # coalesces the tiny sidecar, and each read of it is one task or two.
    violations = store.barrier(violations.hint("rebalance"), "violations")

    # ---- stage 6: per-(partition, lang) verdict assembly -------------------
    drift_agg = drift.groupBy(*PARTITION_COLS).agg(
        F.count(F.lit(1)).cast("int").alias("drift_checks"),
        F.sum(F.col("anomalous").cast("int")).cast("int").alias("drift_failed"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("stat"), F.col("ensemble")))
        ).alias("ensemble"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("stat"), F.col("anomalous")))
        ).alias("consensus"),
        F.max((F.col("status") == STATUS_BORING).cast("int")).alias("any_boring"),
        F.max((F.col("status") != STATUS_TOO_SHORT).cast("int")).alias("any_history"),
    )
    # constraint failures per pair: distinct (check, column, expected), so
    # two static rules on one stat are two checks; uniqueness counts once
    # phase 2 confirmed it. A set, as count_distinct plans a second shuffle
    pair_viol = (
        violations.where(~F.col("check").isin("drift", "schema"))
        .groupBy(*PARTITION_COLS)
        .agg(
            F.size(F.collect_set(F.struct("check", "column", "expected")))
            .cast("int").alias("constraint_failed")
        )
    )
    n_constraint_checks = 3 + len(static_rules)  # uniqueness + lang + warc_ts + statics

    # barrier "verdicts": one row per partition×lang, consumed by the caller
    # AND the checkpoint and run-metrics rows below
    verdicts = store.barrier((
        pair_join(
            gated.join(F.broadcast(drift_agg), PARTITION_COLS, "left"),
            pair_viol, "left",
        )
        .fillna(0, ["drift_checks", "drift_failed", "constraint_failed",
                    "any_boring", "any_history"])
        .select(
            *PARTITION_COLS,
            F.when(F.col("too_short"), F.lit(STATUS_TOO_SHORT))
            # constraint violations (uniqueness/referential/static) are not
            # gated by staleness — only detector ANALYSIS is, per the
            # reference gate order (`analyzer/algorithms.py:583-593`): a
            # stale series skips drift, so STALE outranks drift verdicts but
            # not constraint failures
            .when(F.col("constraint_failed") > 0, F.lit(STATUS_FAIL))
            .when(F.col("is_stale"), F.lit(STATUS_STALE))
            .when(F.col("drift_failed") > 0, F.lit(STATUS_FAIL))
            .when(F.col("any_boring") == 1, F.lit(STATUS_BORING))
            .when(F.col("any_history") == 0, F.lit(STATUS_TOO_SHORT))
            .otherwise(F.lit(STATUS_OK))
            .alias("status"),
            (F.col("drift_checks") + F.lit(n_constraint_checks)).cast("int").alias("checks_run"),
            (F.col("drift_failed") + F.col("constraint_failed")).cast("int").alias("checks_failed"),
            F.col("ensemble"),
            F.col("consensus"),
        )
    ), "verdicts")

    # ---- stage 7: checkpoint rows ------------------------------------------
    # timestamp_seconds: the stored INSTANT is the epoch run_ts regardless
    # of spark.sql.session.timeZone — a naive datetime literal would be
    # read in the session zone, shifting lineage by its UTC offset
    validated_at = F.timestamp_seconds(F.lit(float(run_ts)))
    version_map = F.map_from_arrays(
        F.array(*[F.lit(k) for k in DETECTOR_VERSIONS]),
        F.array(*[F.lit(v) for v in DETECTOR_VERSIONS.values()]),
    )
    metrics = F.map_from_arrays(
        F.array(F.lit("checks_run"), F.lit("checks_failed")),
        F.array(F.col("checks_run").cast("double"), F.col("checks_failed").cast("double")),
    )
    # plus the date's file-set record (CHECKPOINT_SCHEMA.metrics)
    metrics = file_set_metrics(metrics, recorded)
    # the stats barrier row IS the checkpoint payload: the digest blob, and
    # the partition's full stat vector + capped sample, which let a later
    # PRUNED resume rebuild drift baselines without rescanning this
    # partition (checkpoint_history) — bounded: ~13 doubles + <=sample_cap
    # doubles per row. Every target's date was heavy-scanned, so its stats
    # row holds its fingerprint: one join of one-row-per-pair leaves, no
    # regroup
    checkpoint = (
        verdicts.join(pair_stats, PARTITION_COLS)
        .select(
            *PARTITION_COLS,
            F.col("fingerprint").alias("snapshot_id"),
            F.lit(vhash).alias("detector_version_hash"),
            version_map.alias("detector_versions"),
            F.col("stat_digests"),
            F.coalesce(F.col("stat_values")["row_count"], F.lit(0))
            .cast("long").alias("row_count"),
            F.lit(run_id).alias("run_id"),
            validated_at.alias("validated_at"),
            metrics.alias("metrics"),
            F.col("stat_values"),
            F.col("sample"),
        )
    )

    # ---- stage 8: per-run metrics row (analyzer.py:2343-2413 analog) ------
    # lazy like everything else; run_time_s is NULL here — the writer stamps
    # wall time once its actions finish (ValidationResult.run_metrics docs)
    run_metrics = run_metrics_rows(
        verdicts,
        run_id,
        run_ts,
        version_hash=vhash,
        # `is None`, not truthiness — drift_verdicts treats an explicit {}
        # as "run no kernels", and the lineage row must record that same
        # (empty) detector set, not the full mutable registry
        algorithm_names=(
            list(algorithms) if algorithms is not None else list(ALGORITHMS)
        ),
    )

    return ValidationResult(
        verdicts=verdicts,
        violations=violations,
        checkpoint=checkpoint,
        stats=stats,
        samples=samples,
        run_metrics=run_metrics,
        run_id=run_id,
        config=cfg,
        _storage=store,
    )
