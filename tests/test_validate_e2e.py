"""End-to-end validation pipeline tests (FIXTURES F1 expectations + F5
schemas + resume semantics)."""

import datetime

import pytest
from pyspark.sql import functions as F

from skyline_spark.config import ValidationConfig
from skyline_spark.plans.checkpoint import append_checkpoint, load_checkpoint
from skyline_spark.plans.validate import validate, VERDICT_SCHEMA
from skyline_spark.plans.constraints import VIOLATION_SCHEMA, StaticRule
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


def _digest(rows) -> str:
    import hashlib

    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def test_constraint_output_pinned(result, spark):
    """The non-drift violation rows and every verdict's (status, checks_run,
    checks_failed) on the e2e fixture, pinned by digest: example caps,
    example order and observed/expected text included. The row-level
    examples are also checked against a direct computation: per failing
    pair, the duplicated urls by count descending then url, and the
    off-allowlist rows by url, each cut at the cap."""
    cap = result.config.max_violation_examples
    rows = [
        (str(r["partition_date"]), r["lang"], r["check"], r["column"],
         r["url"], r["observed"], r["expected"])
        for r in result.violations.where("check != 'drift'").collect()
    ]
    per_check: dict = {}
    for r in rows:
        per_check.setdefault(r[:4], []).append(r)
    assert per_check and all(len(v) <= cap for v in per_check.values())
    # the fixture exercises the cap on both row-level checks
    assert {k[2] for k, v in per_check.items() if len(v) == cap} == {
        "uniqueness", "referential"
    }
    pages = synth_pages(spark, N_ROWS, N_DAYS).withColumn(
        "partition_date", F.to_date("warc_ts")
    )
    dups = (
        pages.groupBy("partition_date", "lang", "url").count()
        .where("count > 1").collect()
    )
    want: dict = {}
    for r in sorted(dups, key=lambda r: (-r["count"], r["url"])):
        key = (str(r["partition_date"]), r["lang"], "uniqueness", "url")
        want.setdefault(key, []).append(r["url"])
    for r in sorted(pages.where("lang = 'xx'").collect(), key=lambda r: r["url"]):
        key = (str(r["partition_date"]), r["lang"], "referential", "lang")
        want.setdefault(key, []).append(r["url"])
    assert {k: sorted(v[:cap]) for k, v in want.items()} == {
        k: sorted(r[4] for r in per_check.get(k, [])) for k in want
    }
    assert (len(rows), _digest(rows)) == (87, "fed60517fd9c4a8d")
    verdicts = [
        (str(r["partition_date"]), r["lang"], r["status"], r["checks_run"],
         r["checks_failed"])
        for r in result.verdicts.collect()
    ]
    assert (len(verdicts), _digest(verdicts)) == (81, "dd4eabe1c498eb2e")


def test_stats_barrier_pinned(spark, monkeypatch):
    """Every row of the "stats" barrier on the e2e fixture plus a NULL-lang
    and a NULL-warc_ts pair (each with duplicated urls and spread lengths),
    pinned by digest: the pair, fingerprint, stat_values, the stat_digests
    bytes, the ks sample and dup_url_rows."""
    storage, rows = _validate_module()._RunStorage, []
    real = storage.barrier

    def spy(self, df, name):
        out = real(self, df, name)
        if name == "stats":
            rows.extend(out.collect())
        return out

    monkeypatch.setattr(storage, "barrier", spy)
    day = datetime.datetime(2026, 8, 3, 12, 0, 0)
    spread = lambda i: "t" * (i % 13) if i % 5 else None  # noqa: E731
    pages = synth_pages(spark, N_ROWS, N_DAYS).unionByName(
        _one_pair(spark, "nulllang", 40, day, None, text=spread, copies=3)
    ).unionByName(
        _one_pair(spark, "nullts", 40, None, "eng", text=spread, copies=2)
    )
    res = validate(pages, run_ts=RUN_TS)
    res.release()
    pinned = [
        (str(r["partition_date"]), str(r["lang"]), r["fingerprint"],
         sorted(r["stat_values"].items()), bytes(r["stat_digests"]),
         r["sample"], r["dup_url_rows"])
        for r in rows
    ]
    keys = {(d, lang) for d, lang, *_ in pinned}
    assert len(keys) == len(pinned)
    assert {(str(day.date()), "None"), ("None", "eng")} <= keys
    assert (len(pinned), _digest(pinned)) == (83, "601d625108f44b8d")


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


def _one_pair(spark, tag, n, ts, lang, text=lambda i: "some text", copies=1):
    """``n`` rows of one pair, each url held by ``copies`` consecutive rows."""
    from skyline_spark.sources.synth import PAGE_SCHEMA

    return spark.createDataFrame(
        [(f"https://{tag}.example.org/{i // copies:03d}", ts, None, text(i), lang)
         for i in range(n)],
        PAGE_SCHEMA,
    )


def test_null_keyed_pairs_fail_referential(spark):
    """A pair with a NULL lang or a NULL warc_ts is judged on its real row
    count: FAIL on the referential check, with url examples — never
    TOO_SHORT for want of a row count."""
    day = datetime.datetime(2026, 8, 3, 12, 0, 0)
    pages = _one_pair(spark, "nulllang", 30, day, None).unionByName(
        _one_pair(spark, "nullts", 30, None, "eng")
    ).unionByName(_one_pair(spark, "ok", 30, day, "eng"))
    cfg = ValidationConfig(min_partition_rows=20)
    res = validate(pages, cfg, run_ts=RUN_TS_AUG11)
    verdicts = {(r["partition_date"], r["lang"]): r for r in res.verdicts.collect()}
    for key, column in (((day.date(), None), "lang"), ((None, "eng"), "warc_ts")):
        assert verdicts[key]["status"] == "FAIL", key
        assert verdicts[key]["checks_failed"] == 1, key
        v = res.violations.where(
            F.col("partition_date").eqNullSafe(F.lit(key[0]))
            & F.col("lang").eqNullSafe(F.lit(key[1]))
        ).collect()
        assert {(r["check"], r["column"]) for r in v} == {("referential", column)}
        assert len(v) == cfg.max_violation_examples
        assert all(r["url"] and r["observed"] is None for r in v)
    assert verdicts[(day.date(), "eng")]["checks_failed"] == 0


def test_null_keyed_pair_reports_duplicate_urls(spark):
    """A pair with a NULL lang counts its duplicated urls like any other
    pair: 10 urls held by 3 rows each give 10 uniqueness rows, next to the
    referential failure."""
    day = datetime.datetime(2026, 8, 3, 12, 0, 0)
    pages = _one_pair(spark, "dupnull", 30, day, None, copies=3)
    res = validate(pages, ValidationConfig(min_partition_rows=20), run_ts=RUN_TS_AUG11)
    (verdict,) = res.verdicts.collect()
    assert verdict["lang"] is None
    uniq = res.violations.where("check = 'uniqueness'").collect()
    assert len(uniq) == 10
    assert {r["observed"] for r in uniq} == {"count=3"}
    assert all(r["lang"] is None for r in uniq)
    assert verdict["checks_failed"] == 2


def test_two_static_rules_on_one_stat_both_count(spark):
    """Each failing static rule is its own failed check, also when two
    rules watch the same stat."""
    day = datetime.datetime(2026, 8, 3, 12, 0, 0)
    pages = _one_pair(
        spark, "halfnull", 30, day, "eng",
        text=lambda i: None if i % 2 else "some text",
    )
    rules = (
        StaticRule("null_rate_text", "greater_than", 0.3),
        StaticRule("null_rate_text", "greater_than", 0.4),
    )
    res = validate(pages, static_rules=rules, run_ts=RUN_TS_AUG11)
    (verdict,) = res.verdicts.collect()
    static = res.violations.where("check = 'static'").collect()
    assert sorted(r["expected"] for r in static) == [
        "not greater_than 0.3", "not greater_than 0.4"
    ]
    assert verdict["status"] == "FAIL"
    assert verdict["checks_failed"] == 2


def _violations_plans(monkeypatch):
    """The optimized plan of each frame validate() materializes as its
    "violations" barrier, collected as the runs happen."""
    storage = _validate_module()._RunStorage
    real, plans = storage.barrier, []

    def spy(self, df, name):
        if name == "violations":
            plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real(self, df, name)

    monkeypatch.setattr(storage, "barrier", spy)
    return plans


def _windows(plan: str) -> int:
    import re

    return len(re.findall(r"\bWindow \[", plan))


def test_clean_day_plans_no_example_query(spark, monkeypatch):
    """With no failing check, the violations barrier is the schema, static
    and drift rows only: no example query, so no Window and no scan of
    the page rows."""
    plans = _violations_plans(monkeypatch)
    plan, called = _validate_module(), []
    for name in ("uniqueness_violations", "referential_violations"):
        monkeypatch.setattr(plan, name, lambda *a, _n=name, **k: called.append(_n))
    res = validate(synth_pages(spark, 8_000, 10, defects=False), run_ts=RUN_TS_AUG11)
    assert res.violations.where("check != 'drift'").count() == 0
    assert called == []
    assert len(plans) == 1 and _windows(plans[0]) == 0, plans


def test_both_referential_checks_share_one_window(spark, monkeypatch):
    """A pair failing both referential checks (off-allowlist lang and NULL
    warc_ts) gets both sets of example rows, the same first urls, from
    one window."""
    plans = _violations_plans(monkeypatch)
    pages = _one_pair(spark, "both", 30, None, "xx").unionByName(
        _one_pair(spark, "ok", 30, datetime.datetime(2026, 8, 3, 12), "eng")
    )
    cfg = ValidationConfig(min_partition_rows=20)
    res = validate(pages, cfg, run_ts=RUN_TS_AUG11)
    v = res.violations.where("check = 'referential'").collect()
    first = [f"https://both.example.org/{i:03d}" for i in range(cfg.max_violation_examples)]
    for column, observed in (("lang", {"xx"}), ("warc_ts", {None})):
        rows = [r for r in v if r["column"] == column]
        assert sorted(r["url"] for r in rows) == first, column
        assert {r["observed"] for r in rows} == observed, column
    assert {(r["partition_date"], r["lang"]) for r in v} == {(None, "xx")}
    verdicts = {(r["partition_date"], r["lang"]): r for r in res.verdicts.collect()}
    assert verdicts[(None, "xx")]["checks_failed"] == 2
    assert len(plans) == 1 and _windows(plans[0]) == 1, plans


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

    # the six barriers landed as parquet under one per-run directory
    run_dirs = os.listdir(scratch)
    assert len(run_dirs) == 1
    assert sorted(os.listdir(os.path.join(scratch, run_dirs[0]))) == [
        "drift", "gated", "slim", "stats", "verdicts", "violations",
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
    """A validate() that fails after its barriers are filled must free
    them on the way out: release() is unreachable on the
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


def test_legacy_checkpoint_remedy_enables_pruned_resume(spark, tmp_path):
    """The refusal's remedy works: one unpruned run with
    revalidate_after_days=0 re-validates every pair, and once its
    checkpoint is appended a pruned resume runs and matches a full one."""
    ckpt = str(tmp_path / "ckpt_legacy_remedy")
    pages = synth_pages(spark, 4_000, 8, defects=False)
    res1 = validate(pages, checkpoint_path=ckpt, run_id="r1", run_ts=RUN_TS_AUG11)
    res1.checkpoint.drop("stat_values", "sample").write.mode("append").parquet(ckpt)
    pruned = ValidationConfig(pruned_resume=True)
    with pytest.raises(RuntimeError, match=r"revalidate_after_days=0"):
        validate(pages, pruned, checkpoint_path=ckpt, run_id="r2",
                 run_ts=RUN_TS_AUG11 + 60)
    refresh = validate(
        pages, ValidationConfig(revalidate_after_days=0), checkpoint_path=ckpt,
        run_id="refresh", run_ts=RUN_TS_AUG11 + 60,
    )
    assert refresh.verdicts.count() == res1.verdicts.count()
    append_checkpoint(refresh.checkpoint, ckpt)
    refresh.release()
    res_pruned = validate(pages, pruned, checkpoint_path=ckpt, run_id="r3",
                          run_ts=RUN_TS_AUG11 + 120)
    res_full = validate(pages, checkpoint_path=ckpt, run_id="r3",
                        run_ts=RUN_TS_AUG11 + 120)
    assert _canon_rows(res_pruned.verdicts) == _canon_rows(res_full.verdicts)
    res_pruned.release()
    res_full.release()


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
    p_flat = plan_of(df_flat.where(_prune_predicate(dates, False)))
    assert "PushedFilters" in p_flat
    assert "warc_ts" in p_flat.split("PushedFilters", 1)[1].split("\n", 1)[0]

    df_part = spark.read.parquet(part).withColumnRenamed(
        "partition_date", "_native_partition_date"
    )
    p_part = plan_of(
        df_part.where(_prune_predicate(dates, False, use_native=True))
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


# ---------------------------------------------------------------------------
# file-set change detection: on a hive partition_date= layout a pruned
# resume narrow-scans only the dates whose file listing changed since the
# checkpoint recorded it, or that have no record. Every risk below also
# compares the pruned run's verdicts, violations and drift baselines with a
# full rescan's.
#
# Outside the contract (plans.stats narrow_partition_keys): an in-place
# rewrite that keeps a file's path and length AND restores its old mtime
# looks unchanged. The Iceberg analog of any rewrite is a new snapshot.
# ---------------------------------------------------------------------------

HIVE_DAYS = 8  # 2026-08-01 .. 2026-08-08
HIVE_DATES = {str(BASE + datetime.timedelta(days=i)) for i in range(HIVE_DAYS)}
NEW_DAY = BASE + datetime.timedelta(days=HIVE_DAYS)
CFG_FULL = ValidationConfig(min_history=4, stale_after_partitions=None)
CFG_PRUNED = ValidationConfig(
    min_history=4, stale_after_partitions=None, pruned_resume=True
)


def _write_hive(spark, path, n_rows, n_days, base_date="2026-08-01",
                defects=True, mode="overwrite", shift_days=0):
    """``synth_pages`` written under ``partition_date=`` directories, one
    file per directory; ``shift_days`` moves the directory off the
    days(warc_ts) key."""
    from skyline_spark.plans.stats import with_partition

    pages = with_partition(
        synth_pages(spark, n_rows, n_days, base_date=base_date, defects=defects)
    ).withColumn("partition_date", F.date_add("partition_date", shift_days))
    pages.repartition("partition_date").write.mode(mode).partitionBy(
        "partition_date"
    ).parquet(path)


def _day_files(pages, day):
    import os

    d = os.path.join(pages, f"partition_date={day}")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def _seed_hive(spark, tmp_path, cfg=CFG_PRUNED, extra=None):
    """A HIVE_DAYS-day hive table plus the checkpoint of one run over it
    (a pruned run records every date's file set). ``extra(pages)`` edits
    the table before the run."""
    pages = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    _write_hive(spark, pages, 4_000, HIVE_DAYS)
    if extra is not None:
        extra(pages)
    seed = validate(
        spark.read.parquet(pages), cfg, checkpoint_path=ckpt, run_id="seed",
        run_ts=RUN_TS_AUG11,
    )
    append_checkpoint(seed.checkpoint, ckpt)
    seed.release()
    return pages, ckpt


def _append_new_day(spark, pages):
    _write_hive(spark, pages, 500, 1, base_date=str(NEW_DAY), defects=False,
                mode="append")


def _validate_module():
    # the package re-exports validate() under the module's own name
    import importlib

    return importlib.import_module("skyline_spark.plans.validate")


def _resume_both(spark, monkeypatch, frame, ckpt):
    """A full rescan and a pruned resume of ``frame`` from ``ckpt``, whose
    verdicts, violations and drift baselines (the (date, lang, stat, value)
    rows and the samples fed to drift_verdicts) must agree. Returns the
    pruned result, the baseline pairs and, per narrow_partition_keys call
    of the pruned run, the date directories its input frame reads plus that
    frame's row count. The directories come from ``input_file_name()`` —
    the files the scan opens after partition pruning; ``inputFiles()`` lists
    the relation's whole file index whatever the filter."""
    plan = _validate_module()
    baselines = []
    real_drift = plan.drift_verdicts

    def drift_spy(stats, samples, *args, **kwargs):
        baselines.append((
            _canon_rows(stats.select("partition_date", "lang", "stat", "value")),
            _canon_rows(samples.select("partition_date", "lang", "stat", "sample")),
        ))
        return real_drift(stats, samples, *args, **kwargs)

    monkeypatch.setattr(plan, "drift_verdicts", drift_spy)
    full = validate(frame, CFG_FULL, checkpoint_path=ckpt, run_id="rf",
                    run_ts=RUN_TS_AUG11 + 86400)
    scans = []
    real = plan.narrow_partition_keys

    def spy(pages, *args, **kwargs):
        dirs = pages.select(
            F.regexp_extract(
                F.input_file_name(), r"partition_date=([^/]+)", 1
            ).alias("d")
        ).distinct().collect()
        scans.append(({r["d"] for r in dirs} - {""}, pages.count()))
        return real(pages, *args, **kwargs)

    monkeypatch.setattr(plan, "narrow_partition_keys", spy)
    pruned = validate(frame, CFG_PRUNED, checkpoint_path=ckpt, run_id="rp",
                      run_ts=RUN_TS_AUG11 + 86400)
    monkeypatch.undo()
    assert _canon_rows(pruned.verdicts) == _canon_rows(full.verdicts)
    assert _canon_rows(pruned.violations) == _canon_rows(full.violations)
    assert baselines[0][0] == baselines[1][0]
    assert baselines[0][1] == baselines[1][1]
    full.release()
    return pruned, scans, {(d, lang) for d, lang, _, _ in baselines[1][0]}


def _recorded(res):
    """``{date: (file_set, date_pairs)}`` over a run's checkpoint rows."""
    return {
        r["partition_date"]: (r["metrics"].get("file_set"),
                              r["metrics"].get("date_pairs"))
        for r in res.checkpoint.collect()
    }


def test_file_sets_narrow_scan_only_the_new_day(spark, tmp_path, monkeypatch):
    """(a) After one appended day, the narrow scan reads only the new
    day's directory, and the run records that day's file set in turn."""
    pages, ckpt = _seed_hive(spark, tmp_path)
    _append_new_day(spark, pages)
    pruned, scans, _ = _resume_both(spark, monkeypatch, spark.read.parquet(pages), ckpt)
    assert [dirs for dirs, _ in scans] == [{str(NEW_DAY)}]
    assert {r["partition_date"] for r in pruned.verdicts.collect()} == {NEW_DAY}
    rec = _recorded(pruned)
    assert set(rec) == {NEW_DAY}
    file_set, date_pairs = rec[NEW_DAY]
    assert file_set is not None and date_pairs == pruned.verdicts.count()
    pruned.release()


def test_file_sets_rewritten_file_rescans_its_date(spark, tmp_path, monkeypatch):
    """(b) A file rewritten with the same length and a later mtime gets
    its date re-scanned."""
    import os

    day = BASE + datetime.timedelta(days=2)
    pages, ckpt = _seed_hive(spark, tmp_path)
    (f,) = _day_files(pages, day)
    with open(f, "rb") as fh:
        data = fh.read()
    with open(f, "wb") as fh:
        fh.write(data)
    st = os.stat(f)
    os.utime(f, (st.st_atime, st.st_mtime + 60))
    _append_new_day(spark, pages)
    pruned, scans, _ = _resume_both(spark, monkeypatch, spark.read.parquet(pages), ckpt)
    assert [dirs for dirs, _ in scans] == [{str(day), str(NEW_DAY)}]
    pruned.release()


def test_file_sets_moved_file_rescans_both_dates(spark, tmp_path, monkeypatch):
    """(c) A file moved between two date directories gets both dates
    re-scanned. Its rows now disagree with their directory, so the audit
    then falls back to a narrow scan of the whole table, and the run
    records no file set: recording ``dst`` would let a later run skip it
    while it holds ``src``'s rows, and fingerprint ``src`` without them."""
    import os
    import warnings as _w

    src = BASE + datetime.timedelta(days=1)
    dst = BASE + datetime.timedelta(days=4)
    second = []

    def second_file(pages):
        # a second file under ``src``, so the directory outlives the move
        before = set(_day_files(pages, src))
        _write_hive(spark, pages, 300, 1, base_date=str(src), defects=False,
                    mode="append")
        second.extend(set(_day_files(pages, src)) - before)

    pages, ckpt = _seed_hive(spark, tmp_path, extra=second_file)
    (f,) = second
    to = os.path.join(os.path.dirname(_day_files(pages, dst)[0]), os.path.basename(f))
    os.rename(f, to)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.rename(crc, os.path.join(os.path.dirname(to), os.path.basename(crc)))
    # new rows make ``dst``'s pairs targets, so the run writes their rows
    _write_hive(spark, pages, 300, 1, base_date=str(dst), defects=False,
                mode="append")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        pruned, scans, _ = _resume_both(
            spark, monkeypatch, spark.read.parquet(pages), ckpt
        )
    assert [dirs for dirs, _ in scans] == [{str(src), str(dst)}, HIVE_DATES]
    assert any("days(warc_ts)" in str(w.message) for w in caught)
    rec = _recorded(pruned)
    assert dst in rec and set(rec.values()) == {(None, None)}
    pruned.release()


def test_file_sets_deleted_date_leaves_verdicts_and_baselines(
    spark, tmp_path, monkeypatch
):
    """(d) A deleted date directory appears neither in the verdicts nor in
    the drift baselines."""
    import shutil

    gone = BASE
    pages, ckpt = _seed_hive(spark, tmp_path)
    shutil.rmtree(f"{pages}/partition_date={gone}")
    _append_new_day(spark, pages)
    pruned, scans, baselines = _resume_both(
        spark, monkeypatch, spark.read.parquet(pages), ckpt
    )
    assert [dirs for dirs, _ in scans] == [{str(NEW_DAY)}]
    dates = {d for d, _ in baselines}
    assert gone not in dates and NEW_DAY in dates
    assert gone not in {r["partition_date"] for r in pruned.verdicts.collect()}
    pruned.release()


def test_file_sets_reuse_only_rows_of_the_current_file_set(
    spark, tmp_path, monkeypatch
):
    """A skipped date's fingerprints are exactly its rows recorded under
    the current file set: a lang the date no longer holds keeps an older
    latest row, which must not come back as a pair or a baseline."""
    import os

    day = BASE + datetime.timedelta(days=1)  # no defect, so no "xx" lang
    pages, ckpt = _seed_hive(spark, tmp_path)
    # rewrite ``day`` without zho, with new rows for each other lang, so the
    # next run re-validates, and re-records, every pair the date still holds
    rewrite = str(tmp_path / "rewrite")
    spark.read.parquet(pages).where(F.col("partition_date") == day).drop(
        "partition_date"
    ).unionByName(
        synth_pages(spark, 400, 1, base_date=str(day), defects=False)
    ).where(F.col("lang") != "zho").coalesce(1).write.parquet(rewrite)
    (old,) = _day_files(pages, day)
    os.remove(old)
    for f in os.listdir(rewrite):
        if f.endswith(".parquet"):
            os.rename(os.path.join(rewrite, f),
                      os.path.join(os.path.dirname(old), f))
    second = validate(
        spark.read.parquet(pages), CFG_PRUNED, checkpoint_path=ckpt,
        run_id="r2", run_ts=RUN_TS_AUG11 + 3600,
    )
    append_checkpoint(second.checkpoint, ckpt)
    second.release()
    assert load_checkpoint(spark, ckpt).where(
        (F.col("partition_date") == day) & (F.col("lang") == "zho")
    ).count()
    _append_new_day(spark, pages)
    pruned, scans, baselines = _resume_both(
        spark, monkeypatch, spark.read.parquet(pages), ckpt
    )
    assert [dirs for dirs, _ in scans] == [{str(NEW_DAY)}]
    assert (day, "eng") in baselines and (day, "zho") not in baselines
    pruned.release()


def test_file_sets_reverted_date_is_revalidated(spark, tmp_path, monkeypatch):
    """A date whose content goes A -> B -> A is revalidated on the revert:
    its pairs' latest rows describe B, so a pruned resume must not read
    them as the baselines of content A. Both paths feed drift A's values
    and re-verdict the date."""
    import os
    import shutil

    day = BASE + datetime.timedelta(days=2)
    pages, ckpt = _seed_hive(spark, tmp_path)
    a_pairs = {
        (day, r["lang"]) for r in spark.read.parquet(pages)
        .where(F.col("partition_date") == day).select("lang").distinct().collect()
    }
    (orig,) = _day_files(pages, day)
    saved = str(tmp_path / "content_a.parquet")
    shutil.copy2(orig, saved)
    rewrite = str(tmp_path / "content_b")
    spark.read.parquet(pages).where(F.col("partition_date") == day).drop(
        "partition_date"
    ).unionByName(
        synth_pages(spark, 400, 1, base_date=str(day), defects=False)
    ).coalesce(1).write.parquet(rewrite)
    os.remove(orig)
    (b_file,) = (f for f in os.listdir(rewrite) if f.endswith(".parquet"))
    b_path = os.path.join(os.path.dirname(orig), b_file)
    os.rename(os.path.join(rewrite, b_file), b_path)
    second = validate(
        spark.read.parquet(pages), CFG_PRUNED, checkpoint_path=ckpt,
        run_id="r2", run_ts=RUN_TS_AUG11 + 3600,
    )
    assert {(r["partition_date"], r["lang"]) for r in second.verdicts.collect()} >= a_pairs
    append_checkpoint(second.checkpoint, ckpt)
    second.release()
    os.remove(b_path)
    shutil.copy2(saved, orig)
    _append_new_day(spark, pages)
    pruned, _, _ = _resume_both(spark, monkeypatch, spark.read.parquet(pages), ckpt)
    judged = {(r["partition_date"], r["lang"]) for r in pruned.verdicts.collect()}
    assert {k for k in judged if k[0] == day} == a_pairs
    assert {d for d, _ in judged} == {day, NEW_DAY}
    pruned.release()


@pytest.mark.parametrize("origin", ["full_run", "pre_change"])
def test_file_sets_unrecorded_checkpoint_scans_everything(
    spark, tmp_path, monkeypatch, origin
):
    """(e) A checkpoint without file-set records — written by a full-mode
    run, or before the records existed — leads to a full narrow scan."""
    if origin == "full_run":
        pages, ckpt = _seed_hive(spark, tmp_path, cfg=CFG_FULL)
    else:
        pages, recorded = _seed_hive(spark, tmp_path)
        ckpt = str(tmp_path / "ckpt_pre_change")
        load_checkpoint(spark, recorded).withColumn(
            "metrics",
            F.map_filter(
                "metrics", lambda k, v: ~k.isin("file_set", "date_pairs")
            ),
        ).write.parquet(ckpt)
    assert all(
        set(r["metrics"]) == {"checks_run", "checks_failed"}
        for r in load_checkpoint(spark, ckpt).collect()
    )
    _append_new_day(spark, pages)
    pruned, scans, _ = _resume_both(spark, monkeypatch, spark.read.parquet(pages), ckpt)
    assert [dirs for dirs, _ in scans] == [HIVE_DATES | {str(NEW_DAY)}]
    # the pruned run records the new day's file set (the only target date)
    assert set(_recorded(pruned)) == {NEW_DAY}
    pruned.release()


def test_file_sets_lang_filtered_append_rescans_the_date(
    spark, tmp_path, monkeypatch
):
    """(f) A checkpoint appended with one lang filtered out gets that date
    re-scanned: the date's latest rows under its file set fall short of
    the pairs it holds."""
    day = BASE + datetime.timedelta(days=3)
    pages, ckpt = _seed_hive(spark, tmp_path)
    # new rows under ``day`` change the fingerprint of each of its langs,
    # so the next run re-validates (and re-records) every pair of the date
    _write_hive(spark, pages, 600, 1, base_date=str(day), defects=False,
                mode="append")
    second = validate(
        spark.read.parquet(pages), CFG_PRUNED, checkpoint_path=ckpt,
        run_id="r2", run_ts=RUN_TS_AUG11 + 3600,
    )
    langs = {r["lang"] for r in second.verdicts.collect() if r["partition_date"] == day}
    assert len(langs) > 1
    append_checkpoint(second.checkpoint.where(F.col("lang") != "eng"), ckpt)
    second.release()
    pruned, scans, _ = _resume_both(spark, monkeypatch, spark.read.parquet(pages), ckpt)
    assert [dirs for dirs, _ in scans] == [{str(day)}]
    pruned.release()


@pytest.mark.parametrize("shape", ["where", "in_memory"])
def test_file_sets_need_a_bare_file_scan(spark, tmp_path, monkeypatch, shape):
    """(g) A frame that is not a bare file scan — a filter on top, or an
    in-memory frame — leads to a full narrow scan: its file listing need
    not describe its rows."""
    from skyline_spark.plans.stats import partition_file_sets

    pages, ckpt = _seed_hive(spark, tmp_path)
    _append_new_day(spark, pages)
    bare = spark.read.parquet(pages)
    assert set(map(str, partition_file_sets(bare))) == HIVE_DATES | {str(NEW_DAY)}
    frame = (
        bare.where(F.col("url").isNotNull()) if shape == "where"
        else bare.localCheckpoint()
    )
    assert partition_file_sets(frame) is None
    pruned, scans, _ = _resume_both(spark, monkeypatch, frame, ckpt)
    assert [n for _, n in scans] == [frame.count()]
    assert set(_recorded(pruned).values()) == {(None, None)}
    pruned.release()


def test_file_sets_mismatched_changed_dir_scans_everything(
    spark, tmp_path, monkeypatch
):
    """(h) A changed directory whose rows disagree with days(warc_ts)
    leads to a narrow scan of the whole table plus the layout warning, and
    the run records no file set."""
    import warnings as _w

    pages, ckpt = _seed_hive(spark, tmp_path)
    # the new day's rows land one directory late
    _write_hive(spark, pages, 500, 1, base_date=str(NEW_DAY), defects=False,
                mode="append", shift_days=1)
    late = str(NEW_DAY + datetime.timedelta(days=1))
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        pruned, scans, _ = _resume_both(
            spark, monkeypatch, spark.read.parquet(pages), ckpt
        )
    assert [dirs for dirs, _ in scans] == [{late}, HIVE_DATES | {late}]
    assert any("days(warc_ts)" in str(w.message) for w in caught)
    assert set(_recorded(pruned).values()) == {(None, None)}
    pruned.release()


#: classes the third identical pruned resume and its writes may compile.
#: Over 12 runs, each in a fresh session, the third run compiled 0-10
#: (median 1; the larger counts are a plan AQE picked in that run only),
#: against ~250 in every run with Spark's default 100-entry codegen cache
MAX_STEADY_COMPILES = 16


def test_repeated_pruned_resume_reuses_generated_classes(spark, tmp_path):
    """A resident session re-plans the same stages on every daily sweep:
    with the codegen cache sized to the run's working set (session.py) and
    no per-run limit counter in any plan, a third identical run from a
    fresh copy of the same checkpoint, with the writes submit_validate.py
    makes, finds almost every generated class already compiled."""
    import shutil

    from skyline_spark.plans.checkpoint import append_run_metrics
    from skyline_spark.sources.table_format import DEFAULT_FORMAT

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    pages, seeded = _seed_hive(spark, tmp_path)
    _append_new_day(spark, pages)
    compiled = []
    for i in range(3):
        out = tmp_path / f"op{i}"
        ckpt = str(out / "ckpt")
        shutil.copytree(seeded, ckpt)
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        res = validate(
            spark.read.parquet(pages), CFG_PRUNED, checkpoint_path=ckpt,
            run_id="resume", run_ts=RUN_TS_AUG11 + 86400,
        )
        DEFAULT_FORMAT.overwrite(res.verdicts, str(out / "verdicts"))
        DEFAULT_FORMAT.overwrite(res.violations, str(out / "violations"))
        append_checkpoint(res.checkpoint, ckpt)
        append_run_metrics(res.run_metrics, str(out / "runs"))
        res.release()
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[2] <= MAX_STEADY_COMPILES, compiled


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
        assert len(barrier_rdds) == (8 if pruned else 7)
        assert barrier_rdds <= live_rdds()
    res.release()
    assert not barrier_rdds & live_rdds()
    if scratch:
        assert os.listdir(scratch_dir) == []
