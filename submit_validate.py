"""spark-submit entry point for a cluster validation run.

    spark-submit \
      --py-files $(python -c 'from skyline_spark.packaging import build_pyfiles_zip as b; print(b())') \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.execution.arrow.pyspark.enabled=true \
      submit_validate.py \
      --table  <path-or-iceberg-table-of-pages> \
      --output <warehouse-dir-for-verdicts/violations/checkpoint> \
      --run-id <id>

Reads the subject table (``url, warc_ts, html, text, lang``), runs the full
validation pipeline (stats → gates → drift ensemble → constraints), writes
the pass/fail table, violation sidecar and checkpoint rows under
``--output``, and resumes from the checkpoint on re-runs (only partitions
whose content fingerprint or detector versions changed are revalidated).

On a cluster the SparkSession comes from spark-submit's conf (no
master/memory settings here); local smoke runs fall back to the session
factory defaults.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True, help="parquet path or Iceberg table of pages")
    ap.add_argument("--output", required=True, help="output warehouse directory")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--lookback", type=int, default=30)
    ap.add_argument("--min-history", type=int, default=6)
    ap.add_argument(
        "--scratch-dir",
        default=None,
        help="materialize pipeline barriers as parquet scratch tables here "
        "instead of localCheckpoint — the fault-tolerant choice on a real "
        "cluster (survives executor loss; any Hadoop scheme). The scratch "
        "run directory is deleted after the outputs are written.",
    )
    ap.add_argument(
        "--pruned-resume",
        action="store_true",
        help="detect changed partitions with a narrow (url/warc_ts/lang) "
        "scan and restrict the heavy scan to pending partition dates; "
        "drift baselines for unchanged partitions come from the checkpoint "
        "(stat_values/sample). Verdicts are identical to a full rescan. "
        "Requires each pair's latest checkpoint row to carry "
        "stat_values/sample: a checkpoint with older rows is refused; "
        "refresh it with one validate() run with "
        "ValidationConfig(revalidate_after_days=0) and no pruning, and "
        "append its checkpoint. The steady-state daily-sweep mode at "
        "10^12 rows.",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("skyline-spark-validate").getOrCreate()
    from skyline_spark.config import ValidationConfig
    from skyline_spark.packaging import attach_package
    from skyline_spark.plans.checkpoint import (
        append_checkpoint,
        append_run_metrics,
    )
    from skyline_spark.plans.validate import validate

    attach_package(spark)

    run_id = args.run_id or f"run-{int(time.time())}"
    pages = (
        spark.read.table(args.table)
        if "." in args.table and "/" not in args.table
        else spark.read.parquet(args.table)
    )
    cfg = ValidationConfig(
        lookback_partitions=args.lookback,
        min_history=args.min_history,
        pruned_resume=args.pruned_resume,
    )
    ckpt_path = f"{args.output}/checkpoint"
    t0 = time.time()
    res = validate(
        pages,
        cfg,
        checkpoint_path=ckpt_path,
        run_id=run_id,
        scratch_dir=args.scratch_dir,
    )

    from skyline_spark.sources.table_format import DEFAULT_FORMAT

    try:
        DEFAULT_FORMAT.overwrite(res.verdicts, f"{args.output}/verdicts/{run_id}")
        DEFAULT_FORMAT.overwrite(
            res.violations, f"{args.output}/violations/{run_id}"
        )
        append_checkpoint(res.checkpoint, ckpt_path)

        summary = {
            "run_id": run_id,
            "verdicts": res.verdicts.count(),
            "failed": res.verdicts.where("status = 'FAIL'").count(),
        }
        # per-run lineage metrics, stamped with the measured wall time now
        # that every action above has finished (analyzer.py:2343-2413
        # analog; plans/checkpoint.py RUN_METRICS_SCHEMA)
        from pyspark.sql import functions as F

        append_run_metrics(
            res.run_metrics.withColumn(
                "run_time_s", F.lit(time.time() - t0)
            ),
            f"{args.output}/runs",
        )
    finally:
        # release even when an output write raises — otherwise a failed run
        # strands the scratch tables / checkpoint blocks until session exit
        res.release()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
