"""Per-partition column statistics — the relational heart of the engine.

Two aggregates over the slim projection of the subject table produce, per
(partition_date, lang):

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

The two passes: :func:`partition_stats`' wide per-pair aggregate (its url
HLL hashes the url strings), and :func:`url_groups`, one row per (pair,
url hash, sampling bucket, order hash, length) with its row count. The
length histogram, the duplicate-url count and the ks sample are all
mergeable summaries of those groups (:func:`length_histogram`,
:func:`duplicate_url_rows`, :func:`stat_samples`), so no third read of the
rows is needed.

Scale notes (10^12 rows):
- the wide pass is one ``groupBy(partition_cols).agg`` — map-side partial
  aggregation, one shuffle of pre-aggregated data, no collect;
- the url-group pass shuffles each row's pair, three url hashes and length
  once; everything derived from it is bounded per pair (distinct lengths,
  ≤ 2·sample_cap sampled groups) except the per-url-hash duplicate count,
  which runs in the same stage;
- the histogram is one len-sorted ``(len, cnt)`` array per pair, which
  the p50/p95, the log-bin digest and the sampling keep-rate fold with
  higher-order functions — no window, no re-bin shuffle;
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
    "url_groups",
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


def _pair_key(null_matches: bool = True) -> dict:
    """The pair key as four columns: each pair column's value with NULL
    filled in, and its NULL flag (a bare filler would merge a real ``''``
    lang with NULL). Without ``null_matches`` the flag of a NULL value is
    NULL itself, so a NULL-keyed pair equals no pair, as in a plain
    equi-join on the pair columns."""
    key = {}
    for name, col, filler in (("date", "partition_date", _EPOCH), ("lang", "lang", "")):
        c = F.col(col)
        key[f"_{name}_null"] = (
            c.isNull() if null_matches else F.when(c.isNotNull(), F.lit(False))
        )
        key[f"_{name}"] = F.coalesce(c, F.lit(filler))
    return key


def _by_pair(df: DataFrame):
    """``df`` grouped by its pair's :func:`_pair_key` columns."""
    key = _pair_key()
    return df.withColumns(key).groupBy(*key)


def _with_pair_rows(
    rows: DataFrame, per_pair: DataFrame, null_pairs_match: bool = False
) -> DataFrame:
    """``rows`` plus the other columns of ``per_pair`` (built from
    :func:`url_groups`, aggregated :func:`_by_pair`), left-joined on the
    :func:`_pair_key` columns with ``per_pair`` broadcast; a NULL-keyed
    pair of ``rows`` finds its row only if ``null_pairs_match``.

    ``per_pair`` is grouped by the join keys, so Catalyst knows it unique on
    them and sizes the join by ``rows``, not as a product (which a barrier
    would keep). No key column is a bare pair column, so the optimizer
    carries nothing it knows of ``rows``' pair columns (the pruned scan's
    date list, which a barrier keeps) across the join, and infers no IS
    NOT NULL on ``per_pair``'s side: either would become a filter below the
    url-group aggregate, and that branch would scan ``pages`` again instead
    of reusing the aggregate's exchange."""
    key = list(_pair_key())
    return (
        rows.withColumns(_pair_key(null_pairs_match))
        .join(F.broadcast(per_pair), key, "left")
        .drop(*key)
    )


#: hash-space denominator of the sampling keep-rate
SAMPLE_DENOM = 1_000_000


def url_groups(pages: DataFrame) -> DataFrame:
    """Pass 2 of the stats barrier: the rows of ``pages`` counted per
    (partition, lang, ``url_hash``, ``sample_bucket``, ``order_key``,
    ``text_len``) as ``cnt``. The three url hashes are the uniqueness
    check's ``xxhash64(url)``, the sampling bucket and the sample's sort
    key. Rows that share a group agree on everything the length histogram,
    the duplicate count and the ks sample read, so all three come from
    this one aggregate exactly (:func:`length_histogram`,
    :func:`duplicate_url_rows`, :func:`stat_samples`).

    The rows are shuffled by (partition, lang, url_hash) before they are
    counted, so the per-url-hash count of :func:`duplicate_url_rows` runs
    in the same stage, with no second shuffle of a url-sized frame. That
    forgoes a map-side combine, which would only merge rows sharing a url
    within one task."""
    pages = slim_pages(pages)
    rows = pages.select(
        *PARTITION_COLS,
        F.xxhash64(F.col("url").cast("string")).alias("url_hash"),
        F.pmod(F.xxhash64("url", F.lit("sample")), F.lit(SAMPLE_DENOM))
        .alias("sample_bucket"),
        F.xxhash64("url", F.lit("order")).alias("order_key"),
        "text_len",
    )
    return (
        rows.repartition(*PARTITION_COLS, "url_hash")
        .groupBy(*rows.columns)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def length_histogram(groups: DataFrame) -> DataFrame:
    """``(partition_date, lang, len_hist)``: per pair with a non-null
    text, its length histogram as ONE len-sorted array of ``(len, cnt)``,
    summed from :func:`url_groups`, aggregated :func:`_by_pair` (whose key
    columns it keeps). Its readers fold the array with
    higher-order functions, per pair: the exact p50/p95
    (:func:`partition_stats`), the checkpoint digest
    (:func:`stat_digest_blobs`) and the sampling keep-rate's non-null total
    (:func:`stat_samples`). text_len is a bounded integer, so an array
    holds at most the pair's distinct lengths at any table size."""
    # NULL lengths drop out of the collect and the pairs left empty after
    # it, not in a filter on text_len: the optimizer pushes a filter on a
    # group key below the url-group aggregate, and a filtered copy of it
    # would scan ``pages`` again instead of reusing its exchange
    length = F.col("len")
    per_len = groups.groupBy(*PARTITION_COLS, F.col("text_len").alias("len")).agg(
        F.sum("cnt").alias("cnt")
    )
    hists = _by_pair(per_len).agg(
        F.sort_array(
            F.collect_list(F.when(length.isNotNull(), F.struct(length, "cnt")))
        ).alias("len_hist")
    )
    return hists.where(F.size("len_hist") > 0).withColumns({
        "partition_date": F.when(~F.col("_date_null"), F.col("_date")),
        "lang": F.when(~F.col("_lang_null"), F.col("_lang")),
    })


def _hist_total(hist: F.Column) -> F.Column:
    """The number of lengths a ``len_hist`` array counts."""
    return F.aggregate(hist, F.lit(0).cast("long"), lambda acc, e: acc + e["cnt"])


def _hist_quantile(hist: F.Column, total: F.Column, q: float) -> F.Column:
    """Exact type-1 (inverted-CDF) quantile of a ``len_hist`` array: the
    smallest length whose cumulative count reaches ceil(q * total)."""
    target = F.ceil(total * q)

    def step(acc, e):
        cum = acc["cum"] + e["cnt"]
        return F.when(acc["len"].isNotNull(), acc).otherwise(
            F.struct(cum.alias("cum"), F.when(cum >= target, e["len"]).alias("len"))
        )

    start = F.struct(
        F.lit(0).cast("long").alias("cum"), F.lit(None).cast("int").alias("len")
    )
    return F.aggregate(hist, start, step, lambda acc: acc["len"].cast("double"))


def partition_stats(pages: DataFrame, hists: DataFrame) -> DataFrame:
    """One row per (partition, lang): the content ``fingerprint`` and the
    ``stat_values`` map of the pair's stats — pass 1 of the stats barrier,
    one codegen'd agg over ``pages`` — plus the ``len_hist`` and ``sample``
    of ``hists`` (:func:`stat_samples`), joined broadcast. A NULL-keyed
    pair gets neither, nor exact percentiles.

    The pass: all algebraic/sketch aggregates (count, null rates, avg, HLLs,
    fingerprint) — one whole-stage-codegen HashAggregate, map-side partials,
    one shuffle of pre-aggregated rows. ``approx_count_distinct(url)``
    hashes the url strings, so this pass cannot read :func:`url_groups`.

    EXACT text-length percentiles are folded from the joined ``len_hist``.
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

    hist = F.col("len_hist")
    wide = _with_pair_rows(wide, hists).withColumn("_total", _hist_total(hist))
    wide = wide.withColumns({
        "text_len_p50": _hist_quantile(hist, F.col("_total"), 0.5),
        "text_len_p95": _hist_quantile(hist, F.col("_total"), 0.95),
    })

    stat_cols = DRIFT_STATS + ["null_rate_html", "text_len_distinct"]
    stat_values = F.create_map(
        *(c for s in stat_cols for c in (F.lit(s), F.col(s).cast("double")))
    )
    return wide.select(
        *PARTITION_COLS, "fingerprint", stat_values.alias("stat_values"),
        "len_hist", "sample",
    )


def duplicate_url_rows(pairs: DataFrame, groups: DataFrame) -> DataFrame:
    """``pairs`` (one row per pair) plus phase 1 of the uniqueness check:
    the pair's rows whose ``xxhash64(url)`` another row of the pair shares,
    as ``dup_url_rows``, summed from :func:`url_groups` per (pair, url
    hash) in the stage that counts the groups. A 64-bit collision can only
    over-count, so phase 2 (plans.constraints ``uniqueness_violations``)
    decides. A NULL date or lang matches itself and no real value, so a
    NULL-keyed pair gets its count too."""
    per_hash = groups.groupBy(*PARTITION_COLS, "url_hash").agg(
        F.sum("cnt").alias("count")
    )
    dups = _by_pair(per_hash).agg(
        F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0))
        .alias("dup_url_rows")
    )
    return _with_pair_rows(pairs, dups, null_pairs_match=True)


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


# log-spaced bins per octave for the mergeable quantile digest: boundaries
# are GLOBAL constants (bin b covers [2^(b/K)−1, 2^((b+1)/K)−1)), so merging
# digests across partitions/snapshots is exact count addition; quantile
# estimates carry ≤ 2^(1/K)−1 ≈ 9% relative error
DIGEST_BINS_PER_OCTAVE = 8


def _digest_expr(hist: F.Column) -> F.Column:
    """A ``len_hist`` array re-binned into the log bins, by one fold: the
    array is sorted by length, so a bin's lengths are adjacent and the fold
    only ever adds to its last bin."""

    def bin_of(e):
        return (
            F.floor(F.log2(e["len"] + F.lit(1.0)) * DIGEST_BINS_PER_OCTAVE)
            .cast("int")
        )

    def closed(acc):
        # the finished bins plus the open one
        return F.concat(acc["done"], F.array(F.struct(acc["bin"], acc["cnt"])))

    def step(acc, e):
        same = F.struct(acc["done"], acc["bin"], (acc["cnt"] + e["cnt"]).alias("cnt"))
        nxt = F.struct(
            F.when(acc["bin"].isNull(), acc["done"]).otherwise(closed(acc)).alias("done"),
            bin_of(e).alias("bin"),
            e["cnt"].alias("cnt"),
        )
        return F.when(acc["bin"] == bin_of(e), same).otherwise(nxt)

    start = F.struct(
        F.array().cast("array<struct<bin:int,cnt:bigint>>").alias("done"),
        F.lit(None).cast("int").alias("bin"),
        F.lit(0).cast("long").alias("cnt"),
    )
    return F.aggregate(hist, start, step, lambda acc: F.map_from_entries(closed(acc)))


def length_digest(len_hist: DataFrame) -> DataFrame:
    """Mergeable per-(partition, lang) quantile digest of text_len,
    ``len_digest``, re-binned from the :func:`length_histogram` arrays with
    no shuffle.

    north_star: the checkpoint carries "stat digests (mergeable sketches)".
    A fixed-boundary log histogram is the simplest digest with the t-digest/
    KLL merge property (merge = add counts — no interpolation, no ordering
    concerns), needs no UDF, and its size is bounded by
    K·log2(max_len) entries regardless of row count. Quantiles of any UNION
    of partitions come from the merged counts (operators/digest.py).
    """
    return len_hist.select(
        *PARTITION_COLS, _digest_expr(F.col("len_hist")).alias("len_digest")
    )


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
    groups: DataFrame, len_hist: DataFrame, sample_cap: int = 512
) -> DataFrame:
    """One row per pair with a non-null text, aggregated :func:`_by_pair`:
    its ``len_hist`` and ``sample``, a deterministic ≤ sample_cap
    text-length sample of the pair, NULL if nothing was sampled.

    The per-pair keep-rate comes from ``len_hist``'s totals (the non-null
    text count of each pair), joined broadcast; the :func:`url_groups` rows
    whose sampling bucket falls under it are collected, each group's length
    repeated ``cnt`` times (at most sample_cap), sorted by (order hash,
    length) and cut at sample_cap — the multiset a hash-filtered scan of
    the rows would collect. The histogram rows ride the same aggregate, so
    the pair's histogram and sample reach :func:`partition_stats` in one
    join.
    """
    key = list(_pair_key())
    rates = len_hist.select(
        *key,
        _keep_rate_expr(_hist_total(F.col("len_hist")), sample_cap).alias("keep_below"),
    )
    # a NULL length fails the keep test above the join, not a filter on
    # text_len, which would be pushed below the url-group aggregate
    kept = F.when(F.col("text_len").isNotNull(), F.col("sample_bucket"))
    sampled = (
        groups.withColumns(_pair_key())
        .join(F.broadcast(rates), key)
        .where(kept < F.col("keep_below"))
        .select(
            *PARTITION_COLS,
            F.struct(
                F.col("order_key").alias("k"),
                F.col("text_len").cast("double").alias("v"),
                F.least("cnt", F.lit(sample_cap)).cast("int").alias("n"),
            ).alias("_s"),
        )
    )
    # collect_list order is nondeterministic across shuffles; sorting by a
    # per-url hash fixes BOTH determinism and a pseudo-random arrival order
    # for the ADF stationarity gate inside ks_test
    sample = F.slice(
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list("_s")),
                lambda s: F.array_repeat(s["v"], s["n"]),
            )
        ),
        1,
        sample_cap,
    )
    return _by_pair(len_hist.unionByName(sampled, allowMissingColumns=True)).agg(
        F.max("len_hist").alias("len_hist"),
        F.when(F.count("_s") > 0, sample).alias("sample"),
    )


def stat_digest_blobs(stat_rows: DataFrame) -> DataFrame:
    """``stat_rows`` (one row per pair with ``stat_values`` and
    ``len_hist``, as :func:`partition_stats` returns) with its
    ``len_hist`` replaced by the checkpoint blob column ``stat_digests``:
    ``{"stats": stat_values, "len_digest": log-histogram}`` as one JSON
    binary.

    The north-star "stat digests (mergeable sketches)" column, one digest
    per pair, re-binned from the histogram (:func:`length_digest`). Its bin
    boundaries are global constants, so digests from any set of checkpoint
    rows merge by count addition with a bounded relative VALUE error
    (operators/digest.py). Factored out of validate() so the round-trip
    query (catalog/flagship_queries.py ``checkpoint_digest_quantiles``)
    exercises the production assembly.
    """
    blob = F.to_json(
        F.struct(
            F.col("stat_values").alias("stats"),
            _digest_expr(F.col("len_hist")).alias("len_digest"),
        )
    ).cast("binary")
    return stat_rows.select(
        *(blob.alias("stat_digests") if c == "len_hist" else c for c in stat_rows.columns)
    )
