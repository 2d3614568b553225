"""Declarative schema / uniqueness / referential / static constraints.

The Boundary restatement (SURVEY §2.6): per-metric static-threshold tuples
become declarative specs evaluated as Column predicates; violations are rows
in the sidecar table (FIXTURES F5 schema), never driver-side loops.

ONE rule judges every per-pair check on its stats row (:func:`failed_checks`),
as Deequ judges constraints over metrics of the scans already made
(Schelter et al., PVLDB 11(12), 2018). Example rows are fetched only for
failing pairs, capped per pair with a rank-window (counts stay exact).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from ..sources.table_format import literal_frame
from .stats import PARTITION_COLS, pair_join

__all__ = [
    "VIOLATION_SCHEMA",
    "StaticRule",
    "DEFAULT_LANG_ALLOWLIST",
    "failed_checks",
    "schema_violations",
    "uniqueness_violations",
    "referential_violations",
    "static_rule_violations",
]

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("partition_date", T.DateType()),
        T.StructField("lang", T.StringType()),
        T.StructField("check", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("url", T.StringType()),          # null for partition-level
        T.StructField("observed", T.StringType()),
        T.StructField("expected", T.StringType()),
        T.StructField("triggered_algorithms", T.ArrayType(T.StringType())),
    ]
)

# ISO-639-3 subset the synthetic crawl may legally contain (FIXTURES F1)
DEFAULT_LANG_ALLOWLIST = [
    "eng", "deu", "fra", "spa", "zho", "por", "ita", "nld", "rus", "jpn",
    "kor", "ara", "hin", "ben", "pol", "tur", "vie", "tha", "swe", "ces",
]


@dataclass(frozen=True)
class StaticRule:
    """Boundary-style static threshold on a per-partition stat.

    ops mirror `boundary/boundary_algorithms.py`: ``less_than`` fires when
    the stat is below ``trigger`` (:104-123), ``greater_than`` when above
    (:126-142).
    """

    stat: str
    op: str           # "less_than" | "greater_than"
    trigger: float


def schema_violations(pages: DataFrame, expected: T.StructType) -> DataFrame:
    """Expected StructType vs actual — table-level, evaluated on the driver
    (schema is metadata, not data; no job is launched)."""
    actual = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    rows = []
    for f in expected.fields:
        got = actual.get(f.name)
        want = f.dataType.simpleString()
        if got is None:
            rows.append((f.name, "<missing>", want))
        elif got != want:
            rows.append((f.name, got, want))
    for name in actual:
        # a DATE-typed `partition_date` is the declared partition spec
        # (days(warc_ts)) materialized as a physical column by the
        # hive-parquet layout — Iceberg keeps the same transform hidden in
        # metadata, so its presence is a storage-layout detail, not a
        # schema deviation. Any OTHER type under that name is still
        # reported: it is not the partition spec, and the pruned-resume
        # path separately audits even a date-typed column's VALUES against
        # days(warc_ts) before trusting it (plans/validate.py).
        if (
            name not in {f.name for f in expected.fields}
            and not name.startswith("_")
            and not (name == "partition_date" and actual[name] == "date")
        ):
            rows.append((name, actual[name], "<unexpected column>"))
    return literal_frame(
        pages.sparkSession,
        [(None, None, "schema", c, None, o, e, None) for c, o, e in rows],
        VIOLATION_SCHEMA,
    )


def failed_checks(
    pairs: DataFrame,
    static_rules: Sequence[StaticRule],
    lang_allowlist: Sequence[str] = tuple(DEFAULT_LANG_ALLOWLIST),
) -> DataFrame:
    """The ONE rule: every check is a count over a row of ``pairs`` (pair
    key, ``stat_values``, ``dup_url_rows``, ``too_short``), failed when it
    is > 0; one ``(pair, check, column, expected, observed)`` row per
    failure. Uniqueness counts phase-1 candidates
    (plans.stats ``duplicate_url_rows``). Referential checks are
    predicates on the pair key — ``lang`` is a key column, ``partition_date``
    = days(warc_ts) and the window bounds are midnights — so a pair fails
    for all of its rows or for none. A static rule fires on ``stat_values``,
    its stat ``observed``. A too-short pair skips the row-level checks, as
    it skips drift."""
    row_level = ~F.col("too_short")
    rows = F.col("stat_values")["row_count"]
    lang, day = F.col("lang"), F.col("partition_date")
    ts_min, ts_max = "2000-01-01", "2100-01-01"
    bad_lang = lang.isNull() | ~lang.isin(list(lang_allowlist))
    bad_ts = day.isNull() | (day < F.lit(ts_min).cast("date")) | (
        day >= F.lit(ts_max).cast("date")
    )
    checks = [
        ("uniqueness", "url", "count=1",
         F.when(row_level, F.col("dup_url_rows")), None),
        ("referential", "lang", f"one of {len(lang_allowlist)} ISO-639-3 codes",
         F.when(row_level & bad_lang, rows), None),
        ("referential", "warc_ts", f"[{ts_min}, {ts_max})",
         F.when(row_level & bad_ts, rows), None),
    ]
    for rule in static_rules:
        value = F.col("stat_values")[rule.stat]
        fires = {"less_than": value < rule.trigger,
                 "greater_than": value > rule.trigger}.get(rule.op)
        if fires is None:
            raise ValueError(f"unknown op {rule.op!r}")
        checks.append(("static", rule.stat, f"not {rule.op} {rule.trigger}",
                       F.when(fires, 1), value))
    entries = F.array(*(
        F.struct(
            F.lit(check).alias("check"),
            F.lit(column).alias("column"),
            F.lit(expected).alias("expected"),
            F.lit(observed).cast("string").alias("observed"),
            count.cast("double").alias("n"),
        )
        for check, column, expected, count, observed in checks
    ))
    return (
        pairs.select(*PARTITION_COLS, F.inline(entries))
        .where(F.col("n") > 0)
        .drop("n")
    )


def uniqueness_violations(
    pages: DataFrame, failing: DataFrame, max_examples: int = 20
) -> DataFrame:
    """Duplicated-url examples of the pairs whose phase-1 count is non-zero
    (``failing``: :func:`failed_checks` rows, few and broadcast). Phase 2
    re-groups only those pairs' rows by the url itself: exact, so a 64-bit
    collision fails no pair. The most duplicated url first, then by url."""
    cand = failing.where(F.col("check") == "uniqueness").select(*PARTITION_COLS)
    dups = (
        pair_join(pages, cand, "left_semi")
        .groupBy(*PARTITION_COLS, "url")
        .count()
        .where(F.col("count") > 1)
    )
    w = Window.partitionBy(*PARTITION_COLS).orderBy(F.col("count").desc(), "url")
    return (
        dups.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= max_examples)
        .select(
            *PARTITION_COLS, "url",
            F.lit("uniqueness").alias("check"),
            F.lit("url").alias("column"),
            F.lit("count=1").alias("expected"),
            F.concat(F.lit("count="), F.col("count")).alias("observed"),
        )
    )


def referential_violations(
    pages: DataFrame, failing: DataFrame, max_examples: int = 20
) -> DataFrame:
    """Example rows of the pairs failing a referential check (``failing``:
    :func:`failed_checks` rows). Every row of such a pair fails, so ONE
    url-ordered window yields the examples of both checks, ``observed``
    being the row's lang or warc_ts."""
    ref = failing.where(F.col("check") == "referential").drop("observed")
    w = Window.partitionBy(*PARTITION_COLS, "column").orderBy("url")
    return (
        pair_join(pages.select(*PARTITION_COLS, "url", "warc_ts"), ref, "inner")
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= max_examples)
        .withColumn("observed", F.when(F.col("column") == "lang", F.col("lang"))
                    .otherwise(F.col("warc_ts").cast("string")))
        .drop("_rank", "warc_ts")
    )


def static_rule_violations(failing: DataFrame) -> DataFrame:
    """Boundary static thresholds: the static rows of :func:`failed_checks`,
    judged on the (tiny) stats rows."""
    return failing.where(F.col("check") == "static")
