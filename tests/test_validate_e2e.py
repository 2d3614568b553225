"""End-to-end validation pipeline tests (FIXTURES F1 expectations + F5
schemas + resume semantics)."""

import datetime

import pytest
from pyspark.sql import functions as F

from skyline_spark.config import ValidationConfig
from skyline_spark.plans.checkpoint import append_checkpoint, load_checkpoint
from skyline_spark.plans.validate import validate, VERDICT_SCHEMA
from skyline_spark.plans.constraints import VIOLATION_SCHEMA
from skyline_spark.sources.synth import defect_days, synth_pages

N_ROWS = 40_000
N_DAYS = 16
BASE = datetime.date(2026, 8, 1)
DD = {k: BASE + datetime.timedelta(days=v) for k, v in defect_days(N_DAYS).items()}
RUN_TS = 1_787_000_000.0


@pytest.fixture(scope="module")
def result(spark):
    pages = synth_pages(spark, N_ROWS, N_DAYS)
    res = validate(pages, run_ts=RUN_TS)
    res.verdicts.cache().count()
    res.violations.cache().count()
    return res


@pytest.fixture(scope="module")
def verdict_map(result):
    rows = result.verdicts.collect()
    return {(r["partition_date"], r["lang"]): r for r in rows}


def test_verdict_schema(result):
    assert [(f.name, f.dataType) for f in result.verdicts.schema] == [
        (f.name, f.dataType) for f in VERDICT_SCHEMA
    ]


def test_violation_schema(result):
    assert [(f.name, f.dataType) for f in result.violations.schema] == [
        (f.name, f.dataType) for f in VIOLATION_SCHEMA
    ]


def test_dup_day_fails_uniqueness(result, verdict_map):
    for lang in ("eng", "deu", "fra", "spa", "zho"):
        assert verdict_map[(DD["dup"], lang)]["status"] == "FAIL"
    v = result.violations.where(
        (F.col("check") == "uniqueness") & (F.col("partition_date") == DD["dup"])
    )
    assert v.count() > 0
    # example rows carry the duplicated url and its exact count
    row = v.first()
    assert row["url"].startswith("https://")
    assert row["observed"].startswith("count=")


def test_bad_lang_day_fails_referential(result, verdict_map):
    assert verdict_map[(DD["lang"], "xx")]["status"] == "FAIL"
    v = result.violations.where(
        (F.col("check") == "referential") & (F.col("column") == "lang")
    )
    assert v.count() > 0
    assert {r["partition_date"] for r in v.select("partition_date").distinct().collect()} == {DD["lang"]}


def test_null_rate_drift_fails(result, verdict_map):
    for lang in ("eng", "deu", "fra", "spa", "zho"):
        r = verdict_map[(DD["null_text"], lang)]
        assert r["status"] == "FAIL"
        assert r["consensus"]["null_rate_text"] is True
        # the persisted ensemble reaches CONSENSUS=6 (None counts toward k)
        ens = r["ensemble"]["null_rate_text"]
        assert len(ens) == 9
        assert sum(1 for x in ens if x is False) <= 3


def test_len_shift_drift_fails(result, verdict_map):
    for lang in ("eng", "deu", "fra", "spa", "zho"):
        r = verdict_map[(DD["len_shift"], lang)]
        assert r["status"] == "FAIL"
        assert r["consensus"]["text_len_p50"] is True
    # drift violations carry the triggered algorithms like Panorama's
    # triggered_algorithms column (skyline.sql:103)
    v = result.violations.where(
        (F.col("check") == "drift") & (F.col("partition_date") == DD["len_shift"])
    ).first()
    assert "grubbs" in v["triggered_algorithms"]


def test_constant_day_is_boring(verdict_map):
    for lang in ("eng", "deu", "fra", "spa", "zho"):
        assert verdict_map[(DD["constant"], lang)]["status"] == "BORING"


def test_near_empty_day_too_short(verdict_map):
    for lang in ("eng", "deu", "fra", "spa", "zho"):
        assert verdict_map[(DD["too_short"], lang)]["status"] == "TOO_SHORT"


def test_clean_middle_days_ok(verdict_map):
    for day_off in (7, 8, 9):
        d = BASE + datetime.timedelta(days=day_off)
        for lang in ("eng", "deu", "fra", "spa", "zho"):
            assert verdict_map[(d, lang)]["status"] == "OK", (d, lang)


RUN_TS_AUG11 = 1_786_406_400.0  # 2026-08-11 — "now" for 10-day fixtures


def test_no_defects_all_clean(spark):
    pages = synth_pages(spark, 8_000, 10, defects=False)
    res = validate(pages, run_ts=RUN_TS_AUG11)
    statuses = {r["status"] for r in res.verdicts.collect()}
    assert statuses <= {"OK", "TOO_SHORT"}  # early days lack history
    assert res.violations.where("check != 'drift'").count() == 0


def test_stale_lang_is_flagged(spark):
    """A lang that stops emitting partitions surfaces STALE on its newest
    partition (reference Stale gate, algorithms.py:588-589 / settings.py:393,
    reinterpreted on the partition axis)."""
    pages = synth_pages(spark, 8_000, 16, defects=False)
    cutoff = datetime.datetime(2026, 8, 10)
    pages = pages.where(~((F.col("lang") == "zho") & (F.col("warc_ts") >= F.lit(cutoff))))
    res = validate(pages, run_ts=RUN_TS)  # run date 2026-08-17
    rows = {(r["partition_date"], r["lang"]): r["status"] for r in res.verdicts.collect()}
    # zho's newest partition (Aug 9) trails the run date by 8 > 3 days
    assert rows[(datetime.date(2026, 8, 9), "zho")] == "STALE"
    # live langs' newest partitions (Aug 16, 1 day old) are not stale
    assert rows[(datetime.date(2026, 8, 16), "eng")] != "STALE"
    # zho's OLDER partitions keep their real verdicts — staleness marks only
    # the newest one
    assert rows[(datetime.date(2026, 8, 8), "zho")] in ("OK", "TOO_SHORT")


def test_periodic_revalidation(spark, tmp_path):
    """Aged checkpoint rows become pending again without any data or kernel
    change (batch restatement of Mirage periodic checks, analyzer.py:305-449)."""
    ckpt = str(tmp_path / "ckpt_age")
    pages = synth_pages(spark, 6_000, 10, defects=False)
    res1 = validate(pages, checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11)
    n1 = res1.verdicts.count()
    assert n1 > 0
    append_checkpoint(res1.checkpoint, ckpt)

    # fresh checkpoint suppresses re-validation...
    cfg = ValidationConfig(revalidate_after_days=7.0)
    res2 = validate(pages, cfg, checkpoint_path=ckpt, run_id="r2", run_ts=RUN_TS_AUG11 + 3600)
    assert res2.verdicts.count() == 0
    # ...but once the rows age past the trigger, everything is pending again
    res3 = validate(
        pages, cfg, checkpoint_path=ckpt, run_id="r3", run_ts=RUN_TS_AUG11 + 10 * 86400
    )
    assert res3.verdicts.count() == n1


def test_checkpoint_resume(spark, tmp_path):
    """Interrupt/rerun: second run revalidates nothing; new data only the
    new partition; kernel version change everything (north_star resume)."""
    ckpt = str(tmp_path / "ckpt")
    # run date right after the data's newest day: nothing is STALE, so the
    # resume semantics show pure (fingerprint, version) anti-join behavior
    pages = synth_pages(spark, 8_000, 10, defects=False)
    res1 = validate(pages, checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11)
    n1 = res1.verdicts.count()
    assert n1 > 0
    append_checkpoint(res1.checkpoint, ckpt)

    # same data, same versions → nothing pending
    res2 = validate(pages, checkpoint_path=ckpt, run_id="r2", run_ts=RUN_TS_AUG11 + 60)
    assert res2.verdicts.count() == 0

    # more days → only the new partitions pending
    pages2 = synth_pages(spark, 8_800, 11, defects=False)
    res3 = validate(pages2, checkpoint_path=ckpt, run_id="r3", run_ts=RUN_TS_AUG11 + 120)
    pending_days = {
        r["partition_date"] for r in res3.verdicts.select("partition_date").distinct().collect()
    }
    # day 0..9 content changed too (different row ids per day) — at minimum
    # the brand-new day must be pending
    assert datetime.date(2026, 8, 11) in pending_days


def test_stale_surfaces_on_resumed_runs(spark, tmp_path):
    """A lang that STOPPED emitting has unchanged fingerprints, so the
    checkpoint anti-join alone would suppress it forever; staleness is
    run-date-dependent, so each lang's newest partition must re-enter the
    targets once it goes stale — the reference surfaces Stale metrics on
    every sweep (algorithms.py:588-589)."""
    ckpt = str(tmp_path / "ckpt_stale")
    pages = synth_pages(spark, 6_000, 10, defects=False)  # newest: Aug 10
    res1 = validate(pages, checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11)
    assert res1.verdicts.count() > 0
    append_checkpoint(res1.checkpoint, ckpt)

    # next day: nothing stale, nothing changed → nothing pending
    res2 = validate(
        pages, checkpoint_path=ckpt, run_id="r2", run_ts=RUN_TS_AUG11 + 86400
    )
    assert res2.verdicts.count() == 0

    # a week later with no new data: exactly the per-lang newest partitions
    # come back, all STALE
    res3 = validate(
        pages, checkpoint_path=ckpt, run_id="r3", run_ts=RUN_TS_AUG11 + 7 * 86400
    )
    rows = res3.verdicts.collect()
    assert rows, "stale langs must surface on resumed runs"
    assert all(r["status"] == "STALE" for r in rows)
    newest = datetime.date(2026, 8, 10)
    assert {r["partition_date"] for r in rows} == {newest}


def test_null_partition_keys_report_not_crash(spark):
    """Pages whose warc_ts or lang is null (schema coercion leaves nulls)
    must flow through as reportable rows, not crash the drift kernel
    (None has no .toordinal(); np.unique cannot sort None vs str)."""
    from skyline_spark.sources.synth import PAGE_SCHEMA

    pages = synth_pages(spark, 4_000, 6, defects=False)
    extra = spark.createDataFrame(
        [
            ("https://nullts.example.org/x", None, None, "null ts text", "eng"),
            (
                "https://nulllang.example.org/y",
                datetime.datetime(2026, 8, 3, 12, 0, 0),
                None,
                "null lang text",
                None,
            ),
        ],
        PAGE_SCHEMA,
    )
    res = validate(pages.unionByName(extra), run_ts=RUN_TS_AUG11)
    # no exception end-to-end, and the real partitions still got verdicts
    verdicts = res.verdicts.collect()
    res.violations.count()
    assert sum(r["lang"] is not None and r["partition_date"] is not None for r in verdicts) > 0


def test_checkpoint_lineage_columns(result, spark, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    append_checkpoint(result.checkpoint, ckpt)
    stored = load_checkpoint(spark, ckpt)
    row = stored.first()
    assert row["snapshot_id"] is not None
    assert row["detector_versions"]["grubbs"] == "1.0.0"
    assert row["run_id"] == "run-0"
    assert row["validated_at"] == datetime.datetime.utcfromtimestamp(RUN_TS)
    assert b"row_count" in bytes(row["stat_digests"])
    assert row["metrics"]["checks_run"] > 0


def test_checkpoint_rows_explode_to_the_run_stats(result, spark, tmp_path):
    """The stats barrier and the checkpoint row share one shape and one
    explode: a full run's checkpoint, read back through checkpoint_history
    and long_form, gives the run's own stats and samples."""
    from skyline_spark.plans.checkpoint import checkpoint_history
    from skyline_spark.plans.stats import long_form

    ckpt = str(tmp_path / "ckpt_round_trip")
    append_checkpoint(result.checkpoint, ckpt)
    history = checkpoint_history(load_checkpoint(spark, ckpt))
    stats, samples = long_form(history)

    def rows(df):
        return {tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.collect()}

    assert stats.columns == result.stats.columns
    assert samples.columns == result.samples.columns
    assert rows(stats) == rows(result.stats)
    assert rows(samples) == rows(result.samples)
    assert rows(samples)
    history.unpersist()


def test_scratch_dir_mode_matches_localcheckpoint(result, spark, tmp_path):
    """scratch_dir materializes the barriers as parquet scratch tables (the
    fault-tolerant cluster shape) — verdicts and violations must be
    identical to the default localCheckpoint run, and release() must delete
    the run's scratch directory."""
    import os

    scratch = str(tmp_path / "scratch")
    pages = synth_pages(spark, N_ROWS, N_DAYS)
    res = validate(pages, run_ts=RUN_TS, scratch_dir=scratch)

    def key(r):
        return (r["partition_date"], r["lang"])

    got = {key(r): (r["status"], r["checks_run"], r["checks_failed"])
           for r in res.verdicts.collect()}
    want = {key(r): (r["status"], r["checks_run"], r["checks_failed"])
            for r in result.verdicts.collect()}
    assert got == want
    assert res.violations.count() == result.violations.count()

    # the seven barriers landed as parquet under one per-run directory
    run_dirs = os.listdir(scratch)
    assert len(run_dirs) == 1
    assert sorted(os.listdir(os.path.join(scratch, run_dirs[0]))) == [
        "drift", "len_hist", "slim", "stats", "targets", "verdicts",
        "violations",
    ]
    res.release()
    assert not os.path.exists(os.path.join(scratch, run_dirs[0]))


def test_scratch_dir_cleaned_up_on_failure(spark, tmp_path):
    """A validate() that fails AFTER the barriers are written must delete
    its scratch run directory on the way out — release() is unreachable on
    the exception path and a multi-GB slim table would leak per failed run."""
    import os
    from skyline_spark.plans.constraints import StaticRule

    scratch = str(tmp_path / "scratch_fail")
    pages = synth_pages(spark, 2_000, 4, defects=False)
    with pytest.raises(ValueError, match="unknown op"):
        validate(
            pages,
            run_ts=RUN_TS,
            scratch_dir=scratch,
            static_rules=(StaticRule("row_count", "no_such_op", 1.0),),
        )
    # parent may exist, but no per-run directory (and no parquet) survives
    leftovers = os.listdir(scratch) if os.path.exists(scratch) else []
    assert leftovers == []


@pytest.mark.parametrize("pruned", [False, True], ids=["full", "pruned"])
def test_failed_run_releases_its_blocks(spark, tmp_path, pruned):
    """A validate() that fails after its barriers and caches are filled
    must free them on the way out: release() is unreachable on the
    exception path, and a long-lived session would keep every failed run's
    localCheckpoint blocks."""
    from skyline_spark.plans.constraints import StaticRule

    pages_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    synth_pages(spark, 2_000, 4, defects=False).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    if pruned:
        seed = validate(pages, checkpoint_path=ckpt, run_id="seed", run_ts=RUN_TS)
        append_checkpoint(seed.checkpoint, ckpt)
        seed.release()
    jsc = spark.sparkContext._jsc.sc()

    def live_rdds():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    before = live_rdds()
    with pytest.raises(ValueError, match="unknown op"):
        validate(
            pages,
            ValidationConfig(pruned_resume=pruned),
            checkpoint_path=ckpt,
            run_ts=RUN_TS,
            static_rules=(StaticRule("row_count", "no_such_op", 1.0),),
        )
    assert live_rdds() <= before


# ---------------------------------------------------------------------------
# pruned resume (ValidationConfig.pruned_resume): identical verdicts, heavy
# scan restricted to pending partition dates, loud refusal of legacy
# checkpoints
# ---------------------------------------------------------------------------


def _canon_rows(df):
    def norm(v):
        return tuple(v) if isinstance(v, list) else v

    return sorted(
        tuple(norm(v) for v in row) for row in (tuple(r) for r in df.collect())
    )


def test_pruned_resume_matches_full(spark, tmp_path):
    """After appending one day, a pruned resume (narrow change scan + date-
    pruned heavy scan + checkpoint-rebuilt baselines) must produce byte-
    identical verdicts and violations to the full-rescan resume — and its
    fresh stats frame must prove the heavy path only touched the new day."""
    pages_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    cfg_full = ValidationConfig(min_history=4, stale_after_partitions=None)
    cfg_pruned = ValidationConfig(
        min_history=4, stale_after_partitions=None, pruned_resume=True
    )
    synth_pages(spark, 8_000, 10).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    res1 = validate(
        pages, cfg_full, checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11
    )
    assert res1.verdicts.count() > 0
    append_checkpoint(res1.checkpoint, ckpt)

    synth_pages(
        spark, 800, 1, base_date="2026-08-11", defects=False
    ).write.mode("append").parquet(pages_path)
    pages2 = spark.read.parquet(pages_path)

    res_full = validate(
        pages2, cfg_full, checkpoint_path=ckpt, run_id="rf",
        run_ts=RUN_TS_AUG11 + 86400,
    )
    res_pruned = validate(
        pages2, cfg_pruned, checkpoint_path=ckpt, run_id="rf",
        run_ts=RUN_TS_AUG11 + 86400,
    )
    new_day = datetime.date(2026, 8, 11)
    assert _canon_rows(res_pruned.verdicts) == _canon_rows(res_full.verdicts)
    assert _canon_rows(res_pruned.violations) == _canon_rows(res_full.violations)
    assert {r["partition_date"] for r in res_pruned.verdicts.collect()} == {new_day}
    # the behavioral proof of pruning: the pruned run's freshly computed
    # stats cover ONLY the pending date, the full run's cover every day
    pruned_days = {
        r["partition_date"]
        for r in res_pruned.stats.select("partition_date").distinct().collect()
    }
    full_days = {
        r["partition_date"]
        for r in res_full.stats.select("partition_date").distinct().collect()
    }
    assert pruned_days == {new_day}
    assert len(full_days) == 11
    # and the pruned run's checkpoint rows are pruning-capable themselves
    ck = res_pruned.checkpoint.collect()
    assert all(r["stat_values"] for r in ck)
    res_full.release()
    res_pruned.release()


def test_pruned_resume_stale_readd(spark, tmp_path):
    """The stale-newest re-add happens BEFORE the date list is collected, so
    a pruned sweep over week-old data still scans and re-verdicts each
    lang's newest partition as STALE — pruning must never suppress the
    staleness contract."""
    ckpt = str(tmp_path / "ckpt_stale_pruned")
    pages = synth_pages(spark, 6_000, 10, defects=False)
    res1 = validate(pages, checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11)
    append_checkpoint(res1.checkpoint, ckpt)
    cfg = ValidationConfig(pruned_resume=True)
    res3 = validate(
        pages, cfg, checkpoint_path=ckpt, run_id="r3",
        run_ts=RUN_TS_AUG11 + 7 * 86400,
    )
    rows = res3.verdicts.collect()
    assert rows and all(r["status"] == "STALE" for r in rows)
    assert {r["partition_date"] for r in rows} == {datetime.date(2026, 8, 10)}


def test_pruned_resume_refuses_legacy_checkpoint(spark, tmp_path):
    """A checkpoint written before stat_values/sample existed cannot feed
    baselines; the pruned path must refuse it loudly instead of silently
    shortening drift history."""
    ckpt = str(tmp_path / "ckpt_legacy")
    pages = synth_pages(spark, 4_000, 8, defects=False)
    res1 = validate(pages, checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11)
    legacy = res1.checkpoint.drop("stat_values", "sample")
    legacy.write.mode("append").parquet(ckpt)
    cfg = ValidationConfig(pruned_resume=True)
    with pytest.raises(RuntimeError, match="stat_values"):
        validate(
            pages, cfg, checkpoint_path=ckpt, run_id="r2",
            run_ts=RUN_TS_AUG11 + 60,
        )


def test_prune_predicate_reaches_the_scan(spark, tmp_path):
    """The three-conjunct prune filter must actually reach the storage
    layer: PartitionFilters on a hive-partitioned layout (files of other
    days never open), PushedFilters on the warc_ts envelope for a flat
    layout (row-group min/max skipping)."""
    import contextlib
    import io

    from skyline_spark.plans.stats import with_partition
    from skyline_spark.plans.validate import _prune_predicate

    flat = str(tmp_path / "flat")
    part = str(tmp_path / "part")
    pages = synth_pages(spark, 2_000, 6, defects=False)
    pages.write.mode("overwrite").parquet(flat)
    with_partition(pages).write.mode("overwrite").partitionBy(
        "partition_date"
    ).parquet(part)
    dates = [datetime.date(2026, 8, 6)]

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    df_flat = spark.read.parquet(flat)
    p_flat = plan_of(df_flat.where(_prune_predicate(df_flat, dates, False)))
    assert "PushedFilters" in p_flat
    assert "warc_ts" in p_flat.split("PushedFilters", 1)[1].split("\n", 1)[0]

    df_part = spark.read.parquet(part).withColumnRenamed(
        "partition_date", "_native_partition_date"
    )
    p_part = plan_of(
        df_part.where(_prune_predicate(df_part, dates, False, use_native=True))
    )
    pf = [
        line for line in p_part.splitlines() if "PartitionFilters" in line
    ]
    assert pf and "partition_date" in pf[0]


def test_pruned_resume_ignores_deleted_partitions(spark, tmp_path):
    """A partition deleted since its checkpoint row (retention trim, purge)
    must not haunt drift baselines: the pruned run's verdicts must still
    equal a full rescan's, which never sees the deleted data."""
    pages_path = str(tmp_path / "pages_del")
    ckpt = str(tmp_path / "ckpt_del")
    cfg_full = ValidationConfig(min_history=4, stale_after_partitions=None)
    cfg_pruned = ValidationConfig(
        min_history=4, stale_after_partitions=None, pruned_resume=True
    )
    synth_pages(spark, 8_000, 10).write.mode("overwrite").parquet(pages_path)
    res1 = validate(
        spark.read.parquet(pages_path), cfg_full,
        checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11,
    )
    append_checkpoint(res1.checkpoint, ckpt)
    # delete the OLDEST day entirely and append a new one
    kept = spark.read.parquet(pages_path).where(
        F.to_date("warc_ts") > datetime.date(2026, 8, 1)
    )
    trimmed_path = str(tmp_path / "pages_trimmed")
    kept.write.mode("overwrite").parquet(trimmed_path)
    synth_pages(
        spark, 800, 1, base_date="2026-08-11", defects=False
    ).write.mode("append").parquet(trimmed_path)
    pages2 = spark.read.parquet(trimmed_path)
    res_full = validate(
        pages2, cfg_full, checkpoint_path=ckpt, run_id="rf",
        run_ts=RUN_TS_AUG11 + 86400,
    )
    res_pruned = validate(
        pages2, cfg_pruned, checkpoint_path=ckpt, run_id="rf",
        run_ts=RUN_TS_AUG11 + 86400,
    )
    assert _canon_rows(res_pruned.verdicts) == _canon_rows(res_full.verdicts)
    assert _canon_rows(res_pruned.violations) == _canon_rows(res_full.violations)
    res_full.release()
    res_pruned.release()


def test_pruned_resume_audits_native_layout(spark, tmp_path):
    """A physical partition_date that disagrees with days(warc_ts) (e.g. an
    ingest-date layout) must never silently drop rows: the narrow-scan audit
    falls back to warc_ts-only pruning with a warning, and verdicts still
    match the full rescan."""
    import warnings as _w

    from skyline_spark.plans.stats import with_partition

    pages_path = str(tmp_path / "pages_skewed")
    ckpt = str(tmp_path / "ckpt_skewed")
    cfg_full = ValidationConfig(min_history=4, stale_after_partitions=None)
    cfg_pruned = ValidationConfig(
        min_history=4, stale_after_partitions=None, pruned_resume=True
    )
    # physical partition column shifted +1 day from the warc_ts-derived key
    skewed = with_partition(synth_pages(spark, 6_000, 8)).withColumn(
        "partition_date", F.date_add("partition_date", 1)
    )
    skewed.write.mode("overwrite").partitionBy("partition_date").parquet(pages_path)
    res1 = validate(
        spark.read.parquet(pages_path), cfg_full,
        checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11,
    )
    append_checkpoint(res1.checkpoint, ckpt)
    with_partition(
        synth_pages(spark, 600, 1, base_date="2026-08-11", defects=False)
    ).withColumn("partition_date", F.date_add("partition_date", 1)).write.mode(
        "append"
    ).partitionBy("partition_date").parquet(pages_path)
    pages2 = spark.read.parquet(pages_path)
    res_full = validate(
        pages2, cfg_full, checkpoint_path=ckpt, run_id="rf",
        run_ts=RUN_TS_AUG11 + 86400,
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        res_pruned = validate(
            pages2, cfg_pruned, checkpoint_path=ckpt, run_id="rf",
            run_ts=RUN_TS_AUG11 + 86400,
        )
        verd_p = _canon_rows(res_pruned.verdicts)
    assert any("days(warc_ts)" in str(w.message) for w in caught)
    assert verd_p == _canon_rows(res_full.verdicts)
    res_full.release()
    res_pruned.release()


def test_run_metrics_persist_and_readback(spark, tmp_path):
    """Per-run lineage metrics (VERDICT r4 item 3 — analyzer.py:2343-2413
    analog): one RUN_METRICS_SCHEMA row per run, append-only next to the
    checkpoint, readable back after two runs, and arithmetically consistent
    with the verdict table (totals, exception stats, per-detector anomaly
    breakdown)."""
    from skyline_spark.operators.detectors import ALGORITHMS
    from skyline_spark.plans.checkpoint import (
        RUN_METRICS_SCHEMA,
        append_run_metrics,
        load_run_metrics,
    )

    pages = synth_pages(spark, 20_000, N_DAYS)
    path = str(tmp_path / "runs")
    r1 = validate(pages, run_ts=RUN_TS, run_id="m-1")
    assert [(f.name, f.dataType) for f in r1.run_metrics.schema] == [
        (f.name, f.dataType) for f in RUN_METRICS_SCHEMA
    ]
    verd = r1.verdicts.collect()
    append_run_metrics(
        r1.run_metrics.withColumn("run_time_s", F.lit(1.5)), path
    )
    r2 = validate(pages, run_ts=RUN_TS + 60.0, run_id="m-2")
    append_run_metrics(r2.run_metrics, path)

    rows = {r["run_id"]: r for r in load_run_metrics(spark, path).collect()}
    assert set(rows) == {"m-1", "m-2"}
    m = rows["m-1"]
    total = len(verd)
    fails = sum(1 for v in verd if v["status"] == "FAIL")
    skips = sum(1 for v in verd if v["status"] in ("TOO_SHORT", "STALE", "BORING"))
    assert m["total_partitions"] == total
    assert m["total_anomalies"] == fails > 0
    assert m["total_analyzed"] == total - skips
    assert set(m["exceptions"]) == {"TOO_SHORT", "STALE", "BORING"}
    assert sum(m["exceptions"].values()) == skips
    # breakdown == recount from the recorded ensembles of consensus-anomalous
    # stats (the reference increments per triggered algorithm of each
    # anomalous metric)
    names = list(ALGORITHMS)
    expect = dict.fromkeys(names, 0)
    for v in verd:
        for stat, anom in (v["consensus"] or {}).items():
            if anom:
                for i, fired in enumerate(v["ensemble"][stat]):
                    if fired:
                        expect[names[i]] += 1
    assert dict(m["anomaly_breakdown"]) == expect
    assert sum(expect.values()) > 0
    assert m["run_time_s"] == 1.5
    assert rows["m-2"]["run_time_s"] is None
    assert m["detector_version_hash"] == rows["m-2"]["detector_version_hash"]
    r1.release()
    r2.release()


@pytest.mark.parametrize(
    "pruned,scratch", [(False, False), (True, False), (False, True)],
    ids=["full", "pruned", "full-scratch"],
)
def test_run_metrics_match_written_verdicts_in_submit_order(
    spark, tmp_path, pruned, scratch
):
    """submit_validate.py's write order — overwrite verdicts and
    violations, append the checkpoint, THEN append run metrics — must
    persist a run-metrics row describing the verdicts it wrote, and
    res.verdicts must not change under the checkpoint append: the frames
    validate() returns never read the checkpoint location."""
    import os

    from skyline_spark.plans.checkpoint import append_run_metrics, load_run_metrics
    from skyline_spark.sources.table_format import DEFAULT_FORMAT

    pages_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    synth_pages(spark, 6_000, 10).write.parquet(pages_path)
    seed = validate(
        spark.read.parquet(pages_path), checkpoint_path=ckpt, run_id="seed",
        run_ts=RUN_TS_AUG11,
    )
    append_checkpoint(seed.checkpoint, ckpt)
    seed.release()
    synth_pages(
        spark, 600, 1, base_date="2026-08-11", defects=False
    ).write.mode("append").parquet(pages_path)

    scratch_dir = str(tmp_path / "scratch") if scratch else None
    res = validate(
        spark.read.parquet(pages_path), ValidationConfig(pruned_resume=pruned),
        checkpoint_path=ckpt, run_id="day", run_ts=RUN_TS_AUG11 + 86400,
        scratch_dir=scratch_dir,
    )
    before = _canon_rows(res.verdicts)
    assert before
    DEFAULT_FORMAT.overwrite(res.verdicts, str(out / "verdicts"))
    DEFAULT_FORMAT.overwrite(res.violations, str(out / "violations"))
    append_checkpoint(res.checkpoint, ckpt)
    append_run_metrics(res.run_metrics, str(out / "runs"))
    # both the already-planned frame and a fresh plan over it (which picks
    # up whatever the cache manager holds after the append)
    assert _canon_rows(res.verdicts) == before
    assert _canon_rows(res.verdicts.select("*")) == before

    written = spark.read.parquet(str(out / "verdicts")).collect()
    assert len(written) == len(before)
    (m,) = load_run_metrics(spark, str(out / "runs")).collect()
    skips = ("TOO_SHORT", "STALE", "BORING")
    assert m["total_partitions"] == len(written)
    assert m["total_anomalies"] == sum(r["status"] == "FAIL" for r in written)
    assert dict(m["exceptions"]) == {
        s: sum(r["status"] == s for r in written) for s in skips
    }
    # the checkpoint read is one more barrier (the pruned run adds
    # "narrow"), and release() frees them all
    jsc = spark.sparkContext._jsc.sc()

    def live_rdds():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    barrier_rdds = set(res._storage.rdd_ids)
    if scratch:
        (run_dir,) = os.listdir(scratch_dir)
        assert "checkpoint_in" in os.listdir(os.path.join(scratch_dir, run_dir))
    else:
        assert len(barrier_rdds) == (9 if pruned else 8)
        assert barrier_rdds <= live_rdds()
    res.release()
    assert not barrier_rdds & live_rdds()
    if scratch:
        assert os.listdir(scratch_dir) == []
