"""Per-partition column statistics — the relational heart of the engine.

One columnar scan of the subject table produces, per (partition_date, lang):

- one row in the checkpoint's own per-pair shape: the partition content
  ``fingerprint``, a ``stat_values`` map (row_count, null rates, text-length
  aggregates, approx url cardinality via HyperLogLog), the ``stat_digests``
  blob, and a bounded, deterministic value *sample* of ``text_len``, used
  by the ks_test detector (reference = prior partitions' samples, probe =
  current — SURVEY §2.1 #9);
- the long frames ``(partition_date, lang, stat, value)`` and
  ``(partition_date, lang, stat, sample)`` that drift, the static rules and
  ``ValidationResult`` read come from ONE explode of those rows
  (:func:`long_form`), whether they were just computed or read back from
  the checkpoint.

Scale notes (10^12 rows):
- everything is a single ``groupBy(partition_cols).agg`` — map-side partial
  aggregation, one shuffle of pre-aggregated data, no collect;
- the sample is hash-selected (``xxhash64(url) % K < r``), NOT rand(), so
  retries/speculative tasks produce identical rows; the rate is derived
  from the length histogram's per-partition totals so each partition lands
  ≈ sample_cap rows regardless of partition size (no unbounded
  collect_list);
- the content fingerprint is a commutative SUM of row hashes — mergeable,
  order-independent, and usable as a snapshot id for resume (a changed
  partition changes its fingerprint). Equivalent to an Iceberg snapshot-id
  in spirit (SURVEY §1.2) without requiring an Iceberg catalog.

The reference analog: Skyline's per-metric series living in Redis
(`horizon/worker.py:208-217`); here the "series" is the per-partition stat
vector persisted in the checkpoint table.
"""

from __future__ import annotations

import datetime
import hashlib

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "stat_digest_blobs",
    "partition_stats",
    "partition_file_sets",
    "narrow_partition_keys",
    "stat_samples",
    "slim_pages",
    "length_histogram",
    "length_digest",
    "long_form",
    "duplicate_url_rows",
    "pair_join",
    "DRIFT_STATS",
    "PARTITION_COLS",
    "DIGEST_BINS_PER_OCTAVE",
]

PARTITION_COLS = ["partition_date", "lang"]

# stats whose per-partition series feed the drift ensemble
DRIFT_STATS = [
    "row_count",
    "null_rate_text",
    "text_len_avg",
    "text_len_p50",
    "text_len_p95",
    "url_distinct_ratio",
]

# the stat whose raw per-row values are sampled for ks_test
SAMPLE_STAT = "text_len"

# DateType's internal value is days since this date
_EPOCH = datetime.date(1970, 1, 1)


def with_partition(df: DataFrame) -> DataFrame:
    """Derive the partition key — days(warc_ts), the Iceberg partition spec."""
    return df.withColumn("partition_date", F.to_date("warc_ts"))


def pair_join(rows: DataFrame, pairs: DataFrame, how: str) -> DataFrame:
    """``rows`` joined to the tiny, broadcast ``pairs`` on the pair key,
    NULL-safe, so a NULL date or lang matches itself. Catalyst sizes a
    null-safe join as a product: use it only where a side can hold a
    NULL-keyed pair."""
    right = pairs.withColumnsRenamed({c: f"_pair_{c}" for c in PARTITION_COLS})
    on = [F.col(c).eqNullSafe(F.col(f"_pair_{c}")) for c in PARTITION_COLS]
    out = rows.join(F.broadcast(right), on, how)
    return out.drop(*(f"_pair_{c}" for c in PARTITION_COLS))


def slim_pages(pages: DataFrame) -> DataFrame:
    """Project the page table down to the derived columns every validation
    stage needs — ONE scan of the heavy columns (html is multi-KB per row;
    text is hundreds of bytes) instead of one per stage. validate() persists
    this frame: ~100 bytes/row, so at any scale it is ~50x smaller than the
    source table; at 10^12 rows it would be written to a scratch table
    instead of memory, same shape."""
    if "text_len" in pages.columns:
        return pages  # already slim
    return with_partition(pages).select(
        "partition_date",
        "lang",
        "url",
        "warc_ts",
        F.length("text").alias("text_len"),
        F.col("text").isNull().alias("text_null"),
        F.col("html").isNull().alias("html_null"),
    )


def _fingerprint_expr() -> F.Column:
    """Commutative content fingerprint → snapshot id for resume (decimal
    accumulator: ANSI-safe at 10^12 rows, folded back to long). Shared by
    the full stats pass and the narrow change-detection pass so the two can
    never disagree on what "changed" means."""
    return F.pmod(
        F.sum(F.xxhash64("url", "warc_ts", "lang").cast("decimal(38,0)")),
        F.lit(2**61 - 1).cast("decimal(38,0)"),
    ).cast("long")


def partition_file_sets(pages: DataFrame) -> dict | None:
    """``{partition_date: file-set hash}`` of a hive ``partition_date=``
    layout, read off the scan's own file index on the driver — no Spark
    job, no row read.

    The hash is a 52-bit integer (exact as a double, so it rides in the
    checkpoint's ``metrics`` map) over the sorted (path, length, mtime) of
    the date's files: adding, deleting, moving or rewriting a file changes
    it. Directories with a NULL partition value are left out (the caller
    always scans them).

    ``None`` unless ``pages`` is a bare file scan — a ``LogicalRelation``
    over a ``HadoopFsRelation`` whose partition schema has a DATE
    ``partition_date``. A filter or projection on top, an in-memory frame,
    a flat layout or a catalog table all return ``None``: the listing would
    not describe the rows the frame holds."""
    plan = pages._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    schema = rel.partitionSchema()
    if "partition_date" not in list(schema.fieldNames()):
        return None
    idx = schema.fieldIndex("partition_date")
    if schema.apply(idx).dataType().typeName() != "date":
        return None
    jvm = pages.sparkSession.sparkContext._jvm
    no_filters = jvm.org.apache.spark.api.python.PythonUtils.toSeq(
        jvm.java.util.ArrayList()
    )
    files: dict = {}
    dirs = rel.location().listFiles(no_filters, no_filters).iterator()
    while dirs.hasNext():
        d = dirs.next()
        if d.values().isNullAt(idx):
            continue
        day = _EPOCH + datetime.timedelta(days=d.values().getInt(idx))
        it = d.files().iterator()
        while it.hasNext():
            st = it.next().fileStatus()
            files.setdefault(day, []).append(
                f"{st.getPath().toString()}\t{st.getLen()}\t{st.getModificationTime()}"
            )
    out = {}
    for day, fs in files.items():
        digest = hashlib.blake2b("\n".join(sorted(fs)).encode(), digest_size=7)
        out[day] = int.from_bytes(digest.digest(), "big") >> 4  # 56 → 52 bits
    return out


def narrow_partition_keys(pages: DataFrame, native_col: str | None = None) -> DataFrame:
    """Change detection WITHOUT touching the heavy columns: per
    (partition_date, lang), the content fingerprint from a scan of
    (url, warc_ts, lang) only — parquet column pruning skips html/text
    entirely, so on a 10^12-row table this pass reads a few percent of the
    bytes the full stats pass would. Used by the pruned-resume path
    (plans/validate.py) to decide which partitions need the heavy scan.

    On Iceberg, unchanged partitions are known from snapshot metadata with
    NO scan (SURVEY §1.2). The parquet analog is the file listing
    (:func:`partition_file_sets`): the pruned path feeds this function only
    the dates whose file set changed since the checkpoint recorded it, and
    takes every other date's fingerprints from the checkpoint. Outside that
    contract: an in-place rewrite that keeps every file's path and length
    AND restores its old mtime looks unchanged (on Iceberg any rewrite is a
    new snapshot).

    ``native_col``: name of a physical partition column to AUDIT against
    the derived days(warc_ts) key in the same pass — adds a
    ``native_mismatch`` count per pair (rows where the two disagree,
    null-safe). The pruned-resume filter only trusts the physical layout
    for file-level pruning when every partition's count is zero."""
    cols = ["url", "warc_ts", "lang"] + ([native_col] if native_col else [])
    narrow = with_partition(pages.select(*cols))
    aggs = [_fingerprint_expr().alias("fingerprint")]
    if native_col:
        aggs.append(
            F.sum(
                (~F.col(native_col).eqNullSafe(F.col("partition_date")))
                .cast("long")
            ).alias("native_mismatch")
        )
    return narrow.groupBy(*PARTITION_COLS).agg(*aggs)


def partition_stats(pages: DataFrame, len_hist: DataFrame) -> DataFrame:
    """One row per (partition, lang): the content ``fingerprint`` and the
    ``stat_values`` map of the pair's stats, from one codegen'd agg pass
    plus the exact length percentiles read off ``len_hist``.

    The pass: all algebraic/sketch aggregates (count, null rates, avg, HLLs,
    fingerprint) — one whole-stage-codegen HashAggregate, map-side partials,
    one shuffle of pre-aggregated rows.

    EXACT text-length percentiles come from ``len_hist``
    (:func:`length_histogram` of the same pages) + a window cumsum.
    ``percentile_approx`` is an ObjectHashAggregate (row-at-a-time, no
    codegen) and measured ~30x slower than the histogram at 2M rows.
    Exact percentiles also make the stat series noise-free for drift.
    """
    pages = slim_pages(pages)
    text_len = F.col("text_len")
    wide = pages.groupBy(*PARTITION_COLS).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.avg(F.col("text_null").cast("double")).alias("null_rate_text"),
        F.avg(F.col("html_null").cast("double")).alias("null_rate_html"),
        F.avg(text_len).alias("text_len_avg"),
        F.approx_count_distinct("url").alias("url_approx_distinct"),
        # HLL, NOT count_distinct: an exact distinct triggers Catalyst's
        # two-phase expand rewrite, which keys the partial aggregation on
        # (partition, lang, text_len) and drags every other agg buffer
        # through |distinct lengths|x more groups — measured 25x slower
        F.approx_count_distinct(text_len).alias("text_len_distinct"),
        # snapshot id for resume — shared with narrow_partition_keys
        _fingerprint_expr().alias("fingerprint"),
    )
    wide = wide.withColumn(
        "url_distinct_ratio",
        F.col("url_approx_distinct") / F.greatest(F.col("row_count"), F.lit(1)),
    )

    pct = _exact_length_percentiles(len_hist)
    wide = wide.join(pct, PARTITION_COLS, "left")

    stat_cols = DRIFT_STATS + ["null_rate_html", "text_len_distinct"]
    stat_values = F.create_map(
        *(c for s in stat_cols for c in (F.lit(s), F.col(s).cast("double")))
    )
    return wide.select(*PARTITION_COLS, "fingerprint", stat_values.alias("stat_values"))


def duplicate_url_rows(pairs: DataFrame, pages: DataFrame) -> DataFrame:
    """``pairs`` (one row per pair) plus phase 1 of the uniqueness check:
    the pair's rows of ``pages`` whose ``xxhash64(url)`` another row of the
    pair shares, as ``dup_url_rows``. It shuffles 8-byte hashes, not url
    strings. A 64-bit collision can only over-count, so phase 2
    (plans.constraints ``uniqueness_violations``) decides.

    Grouped and joined on each pair column's NULL flag plus its value with
    NULL filled in, so a NULL date or lang matches itself and no real value
    (a bare filler would merge a real ``''`` lang with NULL), in a plain
    equi-join: Catalyst sizes a null-safe one as a product."""
    key = {
        "_date_null": F.col("partition_date").isNull(),
        "_date": F.coalesce(F.col("partition_date"), F.lit(_EPOCH)),
        "_lang_null": F.col("lang").isNull(),
        "_lang": F.coalesce(F.col("lang"), F.lit("")),
    }
    per_hash = pages.groupBy(
        *(c.alias(n) for n, c in key.items()),
        F.xxhash64(F.col("url").cast("string")).alias("_kh"),
    ).count()
    dups = per_hash.groupBy(*key).agg(
        F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0))
        .alias("dup_url_rows")
    )
    return pairs.withColumns(key).join(dups, list(key), "left").drop(*key)


def long_form(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ONE explode of per-pair rows — the stats barrier, checkpoint rows
    (plans/checkpoint.py ``checkpoint_history``), or a union of both —
    into ``(stats_long, samples)``: ``(partition_date, lang, fingerprint,
    stat, value)`` with one row per entry of ``stat_values``, and
    ``(partition_date, lang, stat, sample)`` for the pairs that have a
    sample."""
    stats_long = pairs.select(
        *PARTITION_COLS,
        "fingerprint",
        F.explode("stat_values").alias("stat", "value"),
    )
    samples = pairs.where(F.col("sample").isNotNull()).select(
        *PARTITION_COLS, F.lit(SAMPLE_STAT).alias("stat"), "sample"
    )
    return stats_long, samples


def _exact_length_percentiles(hist: DataFrame) -> DataFrame:
    """Exact p50/p95 of text_len from its (partition, lang, len) histogram.

    Inverted-CDF (type-1) quantile: smallest value whose cumulative count
    reaches ceil(q * total). One tiny window over the histogram rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*PARTITION_COLS).orderBy("len")
    wp = Window.partitionBy(*PARTITION_COLS)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(wp)
    )
    return cum.groupBy(*PARTITION_COLS).agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("total") * 0.5), F.col("len"))
        ).cast("double").alias("text_len_p50"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.col("total") * 0.95), F.col("len"))
        ).cast("double").alias("text_len_p95"),
    )


# log-spaced bins per octave for the mergeable quantile digest: boundaries
# are GLOBAL constants (bin b covers [2^(b/K)−1, 2^((b+1)/K)−1)), so merging
# digests across partitions/snapshots is exact count addition; quantile
# estimates carry ≤ 2^(1/K)−1 ≈ 9% relative error
DIGEST_BINS_PER_OCTAVE = 8


def length_histogram(pages: DataFrame) -> DataFrame:
    """Per-(partition, lang, text_len) counts of the non-null lengths — the
    ONE count of the page lengths. validate() plans it once, inside the
    stats barrier's plan, where AQE reuses its exchange across the exact
    p50/p95 (:func:`partition_stats`), the sampling
    keep-rates (:func:`stat_samples`: a pair's total is its non-null text
    count) and the checkpoint digest (:func:`stat_digest_blobs`). text_len
    is a bounded integer, so the group count is bounded by partitions x
    langs x distinct lengths at any table size and the agg stays
    whole-stage-codegen'd."""
    pages = slim_pages(pages)
    return (
        pages.where(F.col("text_len").isNotNull())
        .groupBy(*PARTITION_COLS, F.col("text_len").alias("len"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def length_digest(hist: DataFrame) -> DataFrame:
    """Mergeable per-(partition, lang) quantile digest of text_len, re-binned
    from :func:`length_histogram`'s tiny pre-aggregated counts.

    north_star: the checkpoint carries "stat digests (mergeable sketches)".
    A fixed-boundary log histogram is the simplest digest with the t-digest/
    KLL merge property (merge = add counts — no interpolation, no ordering
    concerns), is fully codegen'd (no UDF), and its size is bounded by
    K·log2(max_len) entries regardless of row count. Quantiles of any UNION
    of partitions come from the merged counts (operators/digest.py).
    """
    b = (
        F.floor(F.log2(F.col("len") + F.lit(1.0)) * DIGEST_BINS_PER_OCTAVE)
        .cast("int")
    )
    binned = hist.groupBy(*PARTITION_COLS, b.alias("bin")).agg(
        F.sum("cnt").alias("cnt")
    )
    return binned.groupBy(*PARTITION_COLS).agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("bin", "cnt")))
        ).alias("len_digest")
    )


#: hash-space denominator of the sampling keep-rate
SAMPLE_DENOM = 1_000_000


def _keep_rate_expr(count_col, sample_cap: int):
    """keep_below threshold in [1, SAMPLE_DENOM] for a partition of
    ``count_col`` rows — expected survivors ≈ 2·sample_cap.

    greatest(1, ...): past ~1e9 rows the quotient drops below 1 and a bare
    cast('long') truncates to 0, keeping NOTHING — which would silently
    null-sample every sample-backed detector at exactly the 10^12-row scale
    this module targets. A floor of 1 keeps ≈ count/SAMPLE_DENOM rows (the
    collect is bounded by sample_cap regardless).
    """
    return F.greatest(
        F.lit(1),
        F.least(
            F.lit(SAMPLE_DENOM),
            (F.lit(SAMPLE_DENOM) * F.lit(2) * sample_cap / count_col).cast("long"),
        ),
    )


def stat_samples(
    pages: DataFrame, len_hist: DataFrame, sample_cap: int = 512
) -> DataFrame:
    """Deterministic ≤ sample_cap text-length sample per (partition, lang):
    ``(partition_date, lang, sample)``, one row per pair with non-null text.

    The per-partition keep-rate comes from ``len_hist``'s totals (the
    non-null text count of each pair, :func:`length_histogram`); then one
    hash-filtered scan + bounded collect. The joined rate table is tiny
    (one row per partition) → broadcast join, no extra shuffle of page data.
    """
    pages = slim_pages(pages).where(~F.col("text_null"))
    denom = SAMPLE_DENOM
    rates = len_hist.groupBy(*PARTITION_COLS).agg(
        _keep_rate_expr(F.sum("cnt"), sample_cap).alias("keep_below")
    )
    return (
        pages.join(F.broadcast(rates), PARTITION_COLS)
        .where(F.pmod(F.xxhash64("url", F.lit("sample")), F.lit(denom)) < F.col("keep_below"))
        .groupBy(*PARTITION_COLS)
        .agg(
            # collect_list order is nondeterministic across shuffles; sorting
            # by a per-row hash fixes BOTH determinism and a pseudo-random
            # arrival order for the ADF stationarity gate inside ks_test
            F.transform(
                F.slice(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.xxhash64("url", F.lit("order")).alias("k"),
                                F.col("text_len").cast("double").alias("v"),
                            )
                        )
                    ),
                    1,
                    sample_cap,
                ),
                lambda s: s["v"],
            ).alias("sample")
        )
    )


def stat_digest_blobs(stat_rows: DataFrame, len_hist: DataFrame) -> DataFrame:
    """``stat_rows`` (one row per pair with ``stat_values``, as
    :func:`partition_stats` returns) plus the checkpoint blob column
    ``stat_digests``: ``{"stats": stat_values, "len_digest": log-histogram}``
    as one JSON binary.

    The north-star "stat digests (mergeable sketches)" column, one digest
    per pair: the log-histogram re-binned from ``len_hist``. Its bin
    boundaries are global constants, so digests from any set of checkpoint
    rows merge by count addition with a bounded relative VALUE error
    (operators/digest.py). Factored out of validate() so the round-trip
    query (catalog/flagship_queries.py ``checkpoint_digest_quantiles``)
    exercises the production assembly.
    """
    return stat_rows.join(length_digest(len_hist), PARTITION_COLS, "left").select(
        *stat_rows.columns,
        F.to_json(
            F.struct(F.col("stat_values").alias("stats"), F.col("len_digest"))
        ).cast("binary").alias("stat_digests"),
    )
