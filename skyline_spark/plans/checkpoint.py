"""Checkpoint / lineage table — resumable validation runs.

The Panorama-anomalies + Redis-TTL-dedup restatement (SURVEY §2.3, §3.3):
one row per validated (partition_date, lang) carrying the partition content
fingerprint (snapshot id), the detector versions that produced the verdict,
a digest of the stats, and run metrics (FIXTURES F5 ``checkpoint`` schema).

Resume reads only the LATEST row per (partition_date, lang)
(:func:`checkpoint_history`). A pair needs (re)validation unless that row
records its current content fingerprint (snapshot id) under the current
detector-version hash, within ``revalidate_after_days``: changed data,
changed kernels and age force it, and so does a rollback to an earlier
recorded state, once. Each lang's STALE newest partition is a target on
every run whatever the checkpoint holds (plans/validate.py). So a pair that
is not a target has a latest row describing its current content, which a
pruned resume reads as its drift baseline.

Storage is plain parquet (append-only, partitioned by run) so it works
anywhere; on an Iceberg deployment this table maps 1:1 to an Iceberg table
with snapshot isolation (optimistic concurrency is then native, replacing
Roomba's WATCH/retry loop — `horizon/roomba.py:60-196`).
"""

from __future__ import annotations

import json
import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..operators.detectors import DETECTOR_VERSIONS
from .stats import PARTITION_COLS

__all__ = [
    "CHECKPOINT_SCHEMA",
    "RUN_METRICS_SCHEMA",
    "detector_version_hash",
    "load_checkpoint",
    "append_checkpoint",
    "pending_partitions",
    "checkpoint_history",
    "recorded_under",
    "unchanged_dates",
    "file_set_metrics",
    "run_metrics_rows",
    "append_run_metrics",
    "load_run_metrics",
]

CHECKPOINT_SCHEMA = T.StructType(
    [
        # one row per run that validated the pair; resume reads only the
        # latest by (validated_at, run_id)
        T.StructField("partition_date", T.DateType()),
        T.StructField("lang", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("detector_version_hash", T.StringType()),
        T.StructField("detector_versions", T.MapType(T.StringType(), T.StringType())),
        T.StructField("stat_digests", T.BinaryType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("validated_at", T.TimestampType()),
        # checks_run / checks_failed; a pruned run whose layout audit was
        # clean also records the date's ``file_set`` (52-bit hash of its
        # file listing, plans.stats ``partition_file_sets``) and
        # ``date_pairs`` (the (date, lang) pairs the date held under that
        # file set), which let a later pruned run skip the date's narrow
        # scan (:func:`unchanged_dates`). Absent = not recorded: the date is
        # scanned.
        T.StructField("metrics", T.MapType(T.StringType(), T.DoubleType())),
        # the partition's full stat vector + capped ks_test sample, carried
        # so a PRUNED resume (ValidationConfig.pruned_resume) can rebuild
        # drift baselines from the latest rows instead of rescanning
        # already-validated partitions. Bounded: ~13 doubles + <=sample_cap
        # doubles per (partition, lang) row. Old checkpoints (written before
        # these columns) read back as NULL: the pruned path refuses a latest
        # row without them loudly (:func:`unchanged_dates`) rather than
        # silently shortening baselines; the full path ignores them.
        T.StructField("stat_values", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("sample", T.ArrayType(T.DoubleType())),
    ]
)


#: per-run lineage metrics — the Spark restatement of the Analyzer's
#: end-of-run accounting (`analyzer/analyzer.py:2343-2413`: run_time,
#: total metrics / analyzed / anomalies, the exceptions dict and the
#: per-algorithm anomaly_breakdown it logs and ships to Graphite), persisted
#: as ONE row per run_id next to the checkpoint instead of log lines, so
#: production-run forensics live in the lineage table (VERDICT r4 item 3).
RUN_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("validated_at", T.TimestampType()),
        # wall seconds, supplied by the writer once actions finished (the
        # frame itself is lazy, so build time cannot know it); NULL when the
        # caller did not measure
        T.StructField("run_time_s", T.DoubleType()),
        T.StructField("total_partitions", T.LongType()),
        T.StructField("total_analyzed", T.LongType()),
        T.StructField("total_anomalies", T.LongType()),
        # skip statuses, keyed TOO_SHORT / STALE / BORING (always all three
        # keys — stable map shape, zero-filled)
        T.StructField(
            "exceptions", T.MapType(T.StringType(), T.LongType(), False)
        ),
        # per-detector trigger counts over consensus-anomalous stat series
        # (always every detector key, zero-filled)
        T.StructField(
            "anomaly_breakdown", T.MapType(T.StringType(), T.LongType(), False)
        ),
        T.StructField("detector_version_hash", T.StringType()),
    ]
)


def detector_version_hash(versions: dict[str, str] | None = None) -> str:
    versions = versions or DETECTOR_VERSIONS
    blob = json.dumps(sorted(versions.items())).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def load_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    """Empty frame iff the checkpoint does not exist yet (first run).

    ONLY the missing-table case maps to "no checkpoint": a permission
    error, corrupted footer, or transient store failure must raise —
    swallowing it would silently mark every partition pending and
    re-validate the whole 10^12-row table with no signal that anything
    went wrong. Routed through the table-format seam
    (sources/table_format.py): parquet in-sandbox, Iceberg by swapping
    DEFAULT_FORMAT."""
    from ..sources.table_format import DEFAULT_FORMAT

    return DEFAULT_FORMAT.read_or_empty(spark, path, CHECKPOINT_SCHEMA)


def append_checkpoint(df: DataFrame, path: str) -> None:
    from ..sources.table_format import DEFAULT_FORMAT

    DEFAULT_FORMAT.append(df, path)


def pending_partitions(
    current: DataFrame,
    latest: DataFrame,
    version_hash: str | None = None,
    run_ts: float | None = None,
    max_age_days: float | None = None,
) -> DataFrame:
    """``current`` (one row per (partition_date, lang) with its content
    ``fingerprint``) plus a boolean ``pending``: the pair needs validation
    unless its row in ``latest`` (:func:`checkpoint_history`) records that
    fingerprint under ``version_hash``. No driver collect (SURVEY §4
    "Resumability"); a NULL date or lang matches no row, so is pending. The
    done rows are grouped on the join keys: Catalyst sizes a left join
    against a side unique on its keys by the other side, but a join
    against a bare leaf as the product of the two.

    ``max_age_days``: periodic re-validation (the batch restatement of the
    reference's hourly Mirage periodic checks, `analyzer.py:305-449`) — a
    latest row whose ``validated_at`` is more than this many days before
    ``run_ts`` stops suppressing re-validation, so every partition is
    re-checked at least that often even with unchanged data and kernels.
    """
    version_hash = version_hash or detector_version_hash()
    done = latest.where(F.col("detector_version_hash") == version_hash)
    if max_age_days is not None and run_ts is not None:
        cutoff = F.to_timestamp(F.lit(run_ts - max_age_days * 86400.0))
        done = done.where(F.col("validated_at") >= cutoff)
    keys = [*PARTITION_COLS, "fingerprint"]
    done = done.select(*keys).distinct().withColumn("_done", F.lit(True))
    return current.join(done, keys, "left").withColumn(
        "pending", F.col("_done").isNull()
    ).drop("_done")


def checkpoint_history(checkpoint: DataFrame) -> DataFrame:
    """The checkpoint as resume reads it: its LATEST row per (partition_date,
    lang), by (validated_at, run_id), as ``(partition_date, lang,
    fingerprint, detector_version_hash, validated_at, stat_values, sample,
    file_set, date_pairs)`` — the stats barrier's shape plus the resume
    fields, so ``long_form`` explodes it like freshly computed pairs.
    ``file_set``/``date_pairs`` are NULL when not recorded
    (``CHECKPOINT_SCHEMA.metrics``); rows older than ``stat_values`` and
    ``sample`` read those as NULL. validate() reads the checkpoint only
    through this frame, behind one barrier."""
    payload = F.struct(
        F.col("snapshot_id").alias("fingerprint"),
        "detector_version_hash", "validated_at", "stat_values", "sample",
        F.col("metrics")["file_set"].alias("file_set"),
        F.col("metrics")["date_pairs"].alias("date_pairs"),
    )
    order = F.struct(F.col("validated_at"), F.col("run_id"))
    return checkpoint.groupBy(*PARTITION_COLS).agg(
        F.max_by(payload, order).alias("p")
    ).select(*PARTITION_COLS, "p.*")


def recorded_under(file_sets: dict) -> F.Column:
    """Whether a latest row is recorded under its date's file set in
    ``file_sets`` (``{date: hash}``, plans.stats ``partition_file_sets``)."""
    listed = F.create_map(
        *(c for d, h in file_sets.items() for c in (F.lit(d), F.lit(float(h))))
    )
    return F.col("file_set") == listed[F.col("partition_date")]


def unchanged_dates(latest: DataFrame, file_sets: dict | None) -> set:
    """The pruned resume's one question to the checkpoint, one collect of a
    row per date: the dates whose narrow scan can be skipped. A date's
    listed file set hashes to h, and exactly the recorded ``date_pairs`` of
    its latest rows carry ``file_set`` h — counting the rows keeps a
    checkpoint holding only some of a date's pairs (a lang-filtered append,
    a row older than a file change) from passing.

    Raises if any latest row lacks ``stat_values``: silently shortening
    drift baselines would change verdicts with no signal. The count is a
    plain aggregate, never a ``limit``, whose JVM-wide counter name would
    make a resident session compile its code afresh on every run."""
    aggs = [F.count(F.when(F.col("stat_values").isNull(), 1)).alias("legacy")]
    if file_sets:
        under = recorded_under(file_sets)
        aggs += [
            F.count(F.when(under, 1)).alias("n"),
            F.min(F.when(under, F.col("date_pairs"))).alias("lo"),
            F.max(F.when(under, F.col("date_pairs"))).alias("hi"),
        ]
    # one partition of the checkpoint-sized frame: the group needs no
    # shuffle, so the collect is one job
    rows = latest.coalesce(1).groupBy("partition_date").agg(*aggs).collect()
    if sum(r["legacy"] for r in rows):
        raise RuntimeError(
            "pruned resume needs stat_values/sample in every pair's latest "
            "checkpoint row, but some predate those columns. Refresh: run "
            "validate() once without pruned_resume and with "
            "ValidationConfig(revalidate_after_days=0), which re-validates "
            "every pair in the table, and append its checkpoint (rows of "
            "pairs no longer in the table stay until vacuum_checkpoint's "
            "retention trims them)"
        )
    if not file_sets:
        return set()
    return {
        r["partition_date"] for r in rows
        if r["n"] and r["n"] == r["lo"] == r["hi"]
    }


def file_set_metrics(metrics: F.Column, recorded: dict) -> F.Column:
    """``metrics`` plus the row's date's ``file_set`` and ``date_pairs`` in
    ``recorded`` (``{date: (hash, pairs)}``), if it has them."""
    if not recorded:
        return metrics
    record = F.create_map(*(c for d, (h, n) in recorded.items() for c in (
        F.lit(d), F.create_map(F.lit("file_set"), F.lit(float(h)),
                               F.lit("date_pairs"), F.lit(float(n))),
    )))[F.col("partition_date")]
    return F.when(record.isNull(), metrics).otherwise(F.map_concat(metrics, record))


def run_metrics_rows(
    verdicts: DataFrame,
    run_id: str,
    run_ts: float,
    run_time_s: float | None = None,
    version_hash: str | None = None,
    algorithm_names: list[str] | None = None,
) -> DataFrame:
    """ONE RUN_METRICS_SCHEMA row from a run's verdict table.

    Mirrors the reference's end-of-run accounting exactly
    (`analyzer/analyzer.py:2343-2413`):
      total_analyzed  = total − Σ exceptions (TooShort/Stale/Boring skips),
      total_anomalies = partitions whose verdict is FAIL,
      anomaly_breakdown[algo] = over every consensus-anomalous stat series,
        how many recorded ensembles show that detector triggered (the
        reference increments per triggered_algorithms entry of each
        anomalous metric).
    Pure DataFrame aggregation over the checkpoint-sized verdict frame; the
    three 1-row legs meet in broadcast crossJoins (house pattern)."""
    from ..config import STATUS_BORING, STATUS_FAIL, STATUS_STALE, STATUS_TOO_SHORT

    names = list(algorithm_names or DETECTOR_VERSIONS)
    skip = [STATUS_TOO_SHORT, STATUS_STALE, STATUS_BORING]

    def _n(status):
        return F.coalesce(
            F.sum(F.when(F.col("status") == status, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    totals = verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("total_partitions"),
        (
            F.count(F.lit(1))
            - sum(_n(s) for s in skip)  # noqa: B905 — column sum
        ).cast("long").alias("total_analyzed"),
        _n(STATUS_FAIL).alias("total_anomalies"),
        F.map_from_arrays(
            F.array(*[F.lit(s) for s in skip]),
            F.array(*[_n(s) for s in skip]),
        ).alias("exceptions"),
    )
    # consensus-anomalous stats → their recorded ensemble arrays → per-slot
    # trigger counts (slot order = the run's algorithm dict order)
    fired = (
        verdicts.select(
            F.explode_outer("consensus").alias("stat", "anom"), "ensemble"
        )
        .where(F.col("anom"))
        .select(F.element_at("ensemble", F.col("stat")).alias("arr"))
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.element_at("arr", i + 1), 1).otherwise(0)
                    ),
                    F.lit(0),
                ).cast("long").alias(f"_t{i}")
                for i in range(len(names))
            ]
        )
    )
    breakdown = fired.select(
        F.map_from_arrays(
            F.array(*[F.lit(n) for n in names]),
            F.array(*[F.col(f"_t{i}") for i in range(len(names))]),
        ).alias("anomaly_breakdown")
    )
    # session-TZ-independent instant (see plans/validate.py stage 7 note)
    validated_at = F.timestamp_seconds(F.lit(float(run_ts)))
    return (
        totals.crossJoin(F.broadcast(breakdown))
        .select(
            F.lit(run_id).alias("run_id"),
            validated_at.alias("validated_at"),
            F.lit(run_time_s).cast("double").alias("run_time_s"),
            "total_partitions",
            "total_analyzed",
            "total_anomalies",
            "exceptions",
            "anomaly_breakdown",
            F.lit(version_hash or detector_version_hash()).alias(
                "detector_version_hash"
            ),
        )
    )


def append_run_metrics(df: DataFrame, path: str) -> None:
    from ..sources.table_format import DEFAULT_FORMAT

    DEFAULT_FORMAT.append(df, path)


def load_run_metrics(spark: SparkSession, path: str) -> DataFrame:
    """Empty frame iff the run-metrics table does not exist yet; any other
    read failure raises (same loud-failure contract as load_checkpoint)."""
    from ..sources.table_format import DEFAULT_FORMAT

    return DEFAULT_FORMAT.read_or_empty(spark, path, RUN_METRICS_SCHEMA)
