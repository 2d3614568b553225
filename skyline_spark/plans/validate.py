"""End-to-end validation pipeline — the engine's main entry point.

Spark restatement of the Analyzer sweep (SURVEY §3.2):

    read table → per-partition stats (one agg pass over the big table)
               → drift ensemble over the tiny stats table (one packed row
                 per series → mapInArrow, detectors batched across series)
               → constraint checks (uniqueness / referential / schema /
                 static), scans pruned to target partitions
               → pass/fail verdicts + violation sidecar + checkpoint rows

Resume: with a ``checkpoint_path``, already-validated (partition, lang,
snapshot, detector-version) tuples are anti-joined away; only new or changed
partitions are (re)validated. Baseline history always flows through the
stats table, never the raw data — the 10^12-row posture is that detectors
see only checkpoint-sized inputs.
"""

from __future__ import annotations

import datetime as _dt
import json
import time as _time
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, functions as F
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
    load_checkpoint,
    pending_partitions,
    run_metrics_rows,
)
from .constraints import (
    DEFAULT_LANG_ALLOWLIST,
    StaticRule,
    VIOLATION_SCHEMA,
    referential_violations,
    schema_violations,
    static_rule_violations,
    uniqueness_violations,
)
from .drift import drift_verdicts
from .stats import (
    PARTITION_COLS,
    SAMPLE_STAT,
    length_histogram,
    narrow_partition_keys,
    partition_stats,
    slim_pages,
    stat_digest_blobs,
    stat_samples,
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
class ValidationResult:
    """One run's lazy outputs plus the storage that backs them.

    Every frame here is independent of later lineage writes: the input
    checkpoint is read once behind a barrier, so no frame's plan reads the
    checkpoint location. Appending ``checkpoint`` (or run metrics, or
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
    # storage-backed state created by this run: cached DataFrames plus the
    # RDD ids of the localCheckpoint barriers (checkpoint read, slim, stats,
    # samples), or the scratch-table directory when the run materialized to
    # storage instead.
    # localCheckpoint blocks are NOT released by DataFrame.unpersist() — they
    # live until the driver GCs the RDD handle, so a long-lived session
    # running validate() repeatedly (a resident validation service, the
    # bench, the scaling harness) strands ~hundreds of MB of block-manager
    # memory per run unless released explicitly.
    _cached: list = field(default_factory=list, repr=False)
    _ckpt_rdd_ids: list = field(default_factory=list, repr=False)
    _scratch_run_dir: str | None = field(default=None, repr=False)

    def release(self) -> None:
        """Free every block this run materialized. The result's DataFrames
        are NOT usable afterwards — call only when fully consumed."""
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass
        if self._ckpt_rdd_ids:
            jsc = self.verdicts.sparkSession.sparkContext._jsc.sc()
            live = {info.id() for info in jsc.getRDDStorageInfo()}
            for rid in self._ckpt_rdd_ids:
                if rid in live:
                    jsc.unpersistRDD(rid, False)
            self._ckpt_rdd_ids.clear()
        if self._scratch_run_dir is not None:
            _delete_path(self.verdicts.sparkSession, self._scratch_run_dir)
            self._scratch_run_dir = None
        self._cached.clear()


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

    ``scratch_dir``: materialize the pipeline barriers (the checkpoint
    read, slim / stats / samples) as parquet scratch tables under
    ``scratch_dir/<run token>/`` instead of ``localCheckpoint``. This is the shape a 10^12-row cluster run
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

        def _barrier(df: DataFrame, name: str) -> DataFrame:
            path = f"{scratch_run_dir}/{name}"
            df.write.mode("errorifexists").parquet(path)
            return spark.read.parquet(path)

    else:

        def _barrier(df: DataFrame, name: str) -> DataFrame:
            return df.localCheckpoint(eager=True)

    try:
        return _validate_body(
            pages, cfg, checkpoint_path, run_id, run_ts, static_rules,
            lang_allowlist, drift_stats, sample_backed, algorithms,
            spark, schema_viol, _barrier, scratch_run_dir,
        )
    except BaseException:
        # a failed run must not strand multi-GB scratch tables: the only
        # handle that deletes them (ValidationResult.release) is built at
        # the very end of the pipeline, so clean up here on any error
        if scratch_run_dir is not None:
            try:
                _delete_path(spark, scratch_run_dir)
            except Exception:
                pass
        raise


def _prune_predicate(
    pages: DataFrame, dates: list, keep_null_ts: bool, use_native: bool = False
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
    spark, schema_viol, _barrier, scratch_run_dir,
) -> ValidationResult:
    vhash = detector_version_hash()
    # the checkpoint is read ONCE, behind the same barrier as slim/stats/
    # samples: no frame this run caches or returns keeps the checkpoint
    # relation in its plan, so the caller's own append_checkpoint (parquet
    # append or Iceberg writeTo) can neither invalidate those caches — Spark
    # re-caches every plan reading a written path — nor make a re-run of
    # them see this run's rows and anti-join its own targets away
    ckpt = (
        _barrier(load_checkpoint(spark, checkpoint_path), "checkpoint_in")
        if checkpoint_path is not None
        else None
    )

    def _resume_targets(fps: DataFrame) -> DataFrame:
        """Stage 2: which (partition, lang) pairs need work — checkpoint
        anti-join plus the stale-newest re-add (see the STALE comment
        below). ``fps``: one row per pair with ``snapshot_id``."""
        if ckpt is None:
            return fps
        t = pending_partitions(
            fps, ckpt, vhash, run_ts=run_ts,
            max_age_days=cfg.revalidate_after_days,
        )
        # STALE must surface even when nothing else changed: a lang that
        # STOPPED emitting has unchanged fingerprints and detector hash, so
        # the checkpoint anti-join would remove its newest partition from
        # targets and the stage-3b staleness verdict could never attach to
        # any row. Re-add each lang's newest partition whenever it has gone
        # stale — the reference surfaces Stale metrics on every sweep, not
        # only on change (`analyzer/algorithms.py:588-589`).
        if cfg.stale_after_partitions is not None:
            _run_date = F.lit(_dt.datetime.utcfromtimestamp(run_ts).date())
            stale_newest = (
                fps.groupBy("lang")
                .agg(F.max("partition_date").alias("partition_date"))
                .where(
                    F.datediff(_run_date, F.col("partition_date"))
                    > cfg.stale_after_partitions
                )
                .join(fps, PARTITION_COLS, "inner")  # restore snapshot_id
                .select(*t.columns)
            )
            t = t.unionByName(stale_newest).distinct()
        return t

    # ---- stage 1.5 (pruned resume only): narrow change detection ---------
    # fingerprint + row count per pair from a scan of (url, warc_ts, lang)
    # ONLY — column pruning skips the multi-KB html — then restrict the
    # heavy scan below to the pending partition DATES. The collected date
    # list is bounded by the calendar, not the data (the one deliberate
    # driver-side collect in this pipeline).
    pruned = cfg.pruned_resume and ckpt is not None
    hist_cache = None
    narrow_cache = None
    if pruned:
        native = (
            "_native_partition_date"
            if "_native_partition_date" in pages.columns
            else None
        )
        # cached: the aggregated frame is checkpoint-sized, and it feeds the
        # targets collect, the stale-newest broadcast (stage 3b), the
        # layout audit, and the stage-7 checkpoint join — without the cache
        # each would re-run the O(table) narrow scan
        narrow = narrow_partition_keys(pages, native_col=native).cache()
        narrow_cache = narrow
        fingerprints = narrow.select(
            *PARTITION_COLS, F.col("fingerprint").alias("snapshot_id")
        )
        # only trust the physical layout for file-level pruning after
        # auditing that every row's partition column equals days(warc_ts) —
        # a disagreeing layout (e.g. partitioned by ingest date) would
        # silently lose rows to the native conjunct; fall back to the
        # warc_ts-only filter instead (correct, no file-level pruning)
        use_native = False
        if native is not None:
            bad = narrow.agg(F.sum("native_mismatch")).collect()[0][0] or 0
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
        targets = _resume_targets(fingerprints).cache()
        pend = [r[0] for r in targets.select("partition_date").distinct().collect()]
        dates = sorted(d for d in pend if d is not None)
        pages = pages.where(
            _prune_predicate(
                pages, dates,
                keep_null_ts=len(dates) != len(pend),
                use_native=use_native,
            )
        )

    slim = _barrier(slim_pages(pages), "slim")
    # stats/samples are checkpoint-sized (one row per partition×lang[×stat])
    # — materialize them once too, collapsing every downstream branch
    # (row-count gate, drift, statics, digests, fingerprints) into trivial
    # scans of in-memory tables instead of repeated agg jobs over slim.
    # Submitted CONCURRENTLY: both read the already-materialized slim blocks
    # (no recompute race — that was the round-1 bug with a LAZY persist), and
    # the two small agg jobs would otherwise serialize their fixed stage
    # latencies back-to-back
    import concurrent.futures as _cf

    with _cf.ThreadPoolExecutor(2) as _ex:
        _f_stats = _ex.submit(lambda: _barrier(partition_stats(slim), "stats"))
        _f_samples = _ex.submit(
            lambda: _barrier(stat_samples(slim, cfg.sample_cap), "samples")
        )
        stats = _f_stats.result()
        samples = _f_samples.result()
    # these three barriers and the checkpoint read are the only
    # localCheckpoints in the run — record THEIR OWN RDD ids (off each
    # frame's LogicalRDD plan node) so release() can drop exactly these
    # blocks. A global storage-info before/after diff would race with
    # concurrent validate() runs or caller-side caching on the same session
    # and free someone else's lineage-truncated blocks — unrecoverable for
    # the victim run.
    _ckpt_rdd_ids = (
        []
        if scratch_run_dir is not None
        else [
            _local_ckpt_rdd_id(df)
            for df in (ckpt, slim, stats, samples)
            if df is not None
        ]
    )

    # ---- stage 2: resume — which (partition, lang) pairs need work? ------
    # In pruned mode both were computed from the narrow scan before the
    # barrier; otherwise derive them from the checkpointed stats table
    # (cache is cheap to fill from it).
    if not pruned:
        fingerprints = (
            stats.select(*PARTITION_COLS, F.col("fingerprint").alias("snapshot_id"))
            .distinct()
        )
        targets = _resume_targets(fingerprints).cache()

    # drift baselines: in pruned mode the heavy scan only covered pending
    # dates, so unchanged partitions' stat series + ks samples come back
    # from the checkpoint (anti-joined on the freshly scanned pairs — a
    # pending DATE also rescans that date's unchanged langs, and those
    # pairs must not appear twice in one series)
    drift_stats_in, drift_samples_in = stats, samples
    if pruned:
        hist_stats, hist_samples, hist_cache = checkpoint_history(ckpt)
        fresh_keys = stats.select(*PARTITION_COLS).distinct()
        # semi-join on the CURRENT table's pairs: a partition deleted since
        # its checkpoint row (retention trim, purge) must not haunt the
        # baselines — a full rescan would never see it, and the pruned path
        # must produce identical verdicts
        live_keys = fingerprints.select(*PARTITION_COLS)

        def _hist(df):
            return df.join(
                F.broadcast(live_keys), PARTITION_COLS, "left_semi"
            ).join(F.broadcast(fresh_keys), PARTITION_COLS, "left_anti")

        drift_stats_in = stats.unionByName(_hist(hist_stats))
        drift_samples_in = samples.unionByName(_hist(hist_samples))

    # ---- stage 3: partition row-count gate (TooShort, FIXTURES F4) -------
    row_counts = stats.where(F.col("stat") == "row_count").select(
        *PARTITION_COLS, F.col("value").alias("row_count")
    )
    gated = targets.join(row_counts, PARTITION_COLS, "left").withColumn(
        "too_short", F.coalesce(F.col("row_count"), F.lit(0)) < cfg.min_partition_rows
    )

    # ---- stage 3b: STALE gate on the partition axis -----------------------
    # the reference marks a metric Stale when its newest datapoint is older
    # than STALE_PERIOD (`analyzer/algorithms.py:588-589`, `settings.py:393`);
    # here a lang whose NEWEST partition trails the run date by more than
    # ``stale_after_partitions`` days has stopped emitting — that newest
    # partition's verdict surfaces as STALE (per-lang newest is a tiny
    # broadcast aggregate of the fingerprint table)
    if cfg.stale_after_partitions is not None:
        run_date = F.lit(_dt.datetime.utcfromtimestamp(run_ts).date())
        newest = fingerprints.groupBy("lang").agg(
            F.max("partition_date").alias("_newest_partition")
        )
        gated = (
            gated.join(F.broadcast(newest), "lang", "left")
            .withColumn(
                "is_stale",
                (F.col("partition_date") == F.col("_newest_partition"))
                & (
                    F.datediff(run_date, F.col("_newest_partition"))
                    > cfg.stale_after_partitions
                ),
            )
            .drop("_newest_partition")
        )
    else:
        gated = gated.withColumn("is_stale", F.lit(False))

    drift_targets = gated.where(~F.col("too_short")).select(*PARTITION_COLS)

    # ---- stage 4: drift ensemble over the stats table ---------------------
    # cached: drift rows are checkpoint-sized (one per partition×lang×stat)
    # and feed THREE consumers (verdict assembly, the violation sidecar, the
    # checkpoint rows) — without the cache each downstream action re-runs
    # the ensemble UDF and its joins
    drift = drift_verdicts(
        drift_stats_in,
        drift_samples_in,
        cfg,
        targets_df=drift_targets,
        drift_stats=list(drift_stats) if drift_stats is not None else None,
        sample_backed=sample_backed,
        algorithms=algorithms,
    ).cache()

    # ---- stage 5: constraints, scans pruned to target partitions ----------
    target_pages = slim.join(
        F.broadcast(drift_targets), PARTITION_COLS, "left_semi"
    )
    violations = (
        schema_viol
        .unionAll(uniqueness_violations(target_pages, "url", cfg.max_violation_examples))
        .unionAll(
            referential_violations(
                target_pages, lang_allowlist, max_examples=cfg.max_violation_examples
            )
        )
        .unionAll(static_rule_violations(stats.join(
            F.broadcast(targets.select(*PARTITION_COLS)), PARTITION_COLS, "left_semi"
        ), static_rules))
    )
    drift_viol = (
        drift.where(F.col("anomalous"))
        .select(
            "partition_date",
            "lang",
            F.lit("drift").alias("check"),
            F.col("stat").alias("column"),
            F.lit(None).cast("string").alias("url"),
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
    # cached: the sidecar is example-capped (tiny) but PRODUCING it scans
    # slim twice (uniqueness shuffle + referential), and it has two
    # consumers — the returned sidecar and the per-pair constraint counts
    # folded into verdicts below. Without the cache each action pays the
    # constraint scans again.
    violations = violations.unionAll(drift_viol).cache()

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
    # constraint failures per pair (partition-level schema rows excluded)
    pair_viol = (
        violations.where(F.col("partition_date").isNotNull())
        .where(F.col("check") != "drift")
        .groupBy(*PARTITION_COLS)
        .agg(F.count_distinct("check", "column").cast("int").alias("constraint_failed"))
    )
    n_constraint_checks = 3 + len(static_rules)  # uniqueness + lang + warc_ts + statics

    verdicts = (
        gated.join(drift_agg, PARTITION_COLS, "left")
        .join(pair_viol, PARTITION_COLS, "left")
        .select(
            *PARTITION_COLS,
            F.col("too_short"),
            F.col("is_stale"),
            F.coalesce(F.col("drift_checks"), F.lit(0)).alias("drift_checks"),
            F.coalesce(F.col("drift_failed"), F.lit(0)).alias("drift_failed"),
            F.coalesce(F.col("constraint_failed"), F.lit(0)).alias("constraint_failed"),
            F.col("ensemble"),
            F.col("consensus"),
            F.coalesce(F.col("any_boring"), F.lit(0)).alias("any_boring"),
            F.coalesce(F.col("any_history"), F.lit(0)).alias("any_history"),
        )
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
    ).cache()  # one row per partition×lang; consumed by the caller AND the
    # checkpoint rows below

    # ---- stage 7: checkpoint rows ------------------------------------------
    # timestamp_seconds: the stored INSTANT is the epoch run_ts regardless
    # of spark.sql.session.timeZone — a naive datetime literal would be
    # read in the session zone, shifting lineage by its UTC offset
    validated_at = F.timestamp_seconds(F.lit(float(run_ts)))
    # both digest legs derive from ONE histogram scan of slim: the
    # log-histogram re-bins it, the GK sketch folds it — the page table is
    # not re-touched for either. Cached (tiny: distinct lengths per
    # partition x lang) so the two joins share the scan instead of each
    # re-aggregating the slim blocks.
    len_hist = length_histogram(slim).cache()
    stat_digests = stat_digest_blobs(stats, len_hist)
    version_map = F.map_from_arrays(
        F.array(*[F.lit(k) for k in DETECTOR_VERSIONS]),
        F.array(*[F.lit(v) for v in DETECTOR_VERSIONS.values()]),
    )
    # the partition's full stat vector + capped sample ride along so a later
    # PRUNED resume can rebuild drift baselines without rescanning this
    # partition (checkpoint_history) — bounded: ~13 doubles + <=sample_cap
    # doubles per row
    stat_values_df = stats.groupBy(*PARTITION_COLS).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("stat"), F.col("value")))
        ).alias("stat_values")
    )
    sample_df = samples.where(F.col("stat") == SAMPLE_STAT).select(
        *PARTITION_COLS, "sample"
    )
    checkpoint = (
        verdicts.join(fingerprints, PARTITION_COLS)
        .join(row_counts, PARTITION_COLS, "left")
        .join(stat_digests, PARTITION_COLS, "left")
        .join(stat_values_df, PARTITION_COLS, "left")
        .join(sample_df, PARTITION_COLS, "left")
        .select(
            *PARTITION_COLS,
            F.col("snapshot_id"),
            F.lit(vhash).alias("detector_version_hash"),
            version_map.alias("detector_versions"),
            F.col("stat_digests"),
            F.coalesce(F.col("row_count"), F.lit(0)).cast("long").alias("row_count"),
            F.lit(run_id).alias("run_id"),
            validated_at.alias("validated_at"),
            F.map_from_arrays(
                F.array(F.lit("checks_run"), F.lit("checks_failed")),
                F.array(F.col("checks_run").cast("double"), F.col("checks_failed").cast("double")),
            ).alias("metrics"),
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
        _cached=[targets, drift, violations, verdicts, len_hist]
        + [c for c in (hist_cache, narrow_cache) if c is not None],
        _ckpt_rdd_ids=_ckpt_rdd_ids,
        _scratch_run_dir=scratch_run_dir,
    )
