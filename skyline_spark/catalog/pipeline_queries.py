"""Pipeline-level queries: the actual validation engine end to end.

These exercise the non-SQL-expressible core (the 9-kernel consensus
ensemble with EWM / Grubbs-threshold / ADF-gated KS inside the drift
stage's ``mapInArrow`` worker), so they have no DuckDB oracle — the driver records
rows-only checks, and kernel-level parity is covered by the golden tests
(tests/test_detectors_golden.py replicates the reference's
tests/algorithms_test.py fixture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import ValidationConfig
from ..functions import text as X
from .registry import load, query


def _events_stats_long(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Adapt events into the engine's (partition_date, lang, stat, value)
    stat-series shape: one series per (day, event_type) — event_type plays
    the role of the lang/partition column, exactly as a Redis metric name
    played it in the reference."""
    ev = load(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts")).alias("partition_date")
    wide = ev.groupBy(day, F.col("event_type").alias("lang")).agg(
        F.count("*").cast("double").alias("row_count"),
        F.avg("value").alias("value_avg"),
        F.percentile_approx("value", 0.5, 10_000).cast("double").alias("value_p50"),
        F.max("value").alias("value_max"),
    )
    stats = wide.select(
        "partition_date",
        "lang",
        F.lit(0).cast("long").alias("fingerprint"),
        F.expr(
            "stack(4, 'row_count', row_count, 'value_avg', value_avg, "
            "'value_p50', value_p50, 'value_max', value_max) as (stat, value)"
        ),
    )
    samples = (
        ev.groupBy(day, F.col("event_type").alias("lang"))
        .agg(
            F.transform(
                F.slice(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.xxhash64("event_id").alias("k"),
                                F.col("value").alias("v"),
                            )
                        )
                    ),
                    1,
                    256,
                ),
                lambda s: s["v"],
            ).alias("sample")
        )
        .withColumn("stat", F.lit("text_len"))
    )
    return stats, samples


@query(
    "drift_ensemble_daily",
    None,
    doc="the flagship: full 9-detector consensus ensemble (series-packed "
        "mapInArrow kernels, reference order settings.py:457-467, CONSENSUS=6 k-of-n "
        "with None counting toward k) over per-(day, event_type) stat series",
)
def drift_ensemble_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.drift import drift_verdicts

    cfg = ValidationConfig(min_history=6, lookback_partitions=30)
    stats, samples = _events_stats_long(spark, sf_dir)
    out = drift_verdicts(
        stats,
        samples,
        cfg,
        drift_stats=["row_count", "value_avg", "value_p50", "value_max"],
        sample_backed={"value_avg", "value_p50"},
    )
    return out.select(
        F.date_format("partition_date", "yyyy-MM-dd").alias("day"),
        F.col("lang").alias("event_type"),
        "stat",
        "status",
        "anomalous",
        # serialized (not ArrayType) so downstream row-level tooling can
        # sort/hash the output; the internal drift plan keeps the array form
        F.concat_ws(",", "triggered").alias("triggered"),
        F.round("datapoint", 6).alias("datapoint"),
    )


@query(
    "validate_pages_full",
    None,
    doc="full validation pipeline (stats → gates → drift → constraints → "
        "verdicts) on the deterministic synthetic page table (BASELINE.json "
        "input_hint schema: url, warc_ts, html:binary, text, lang)",
)
def validate_pages_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.validate import validate
    from ..sources.synth import synth_pages

    pages = synth_pages(spark, n_rows=4000, n_days=10)
    res = validate(pages, ValidationConfig(min_history=4), run_ts=1_700_000_000.0)
    return res.verdicts.select(
        F.date_format("partition_date", "yyyy-MM-dd").alias("partition_date"),
        "lang",
        "status",
        "checks_run",
        "checks_failed",
    )


# --- multimodal, real stdlib codecs + analytic oracles (r3 ask #5) ---------
#
# Payload parameters are derived from `events` with integer-only rules, the
# Spark side synthesizes REAL BMP/WAV bytes (functions/media_codecs.py),
# runs the REAL decoder on them inside Arrow-batched mapInPandas, and emits
# decoded statistics. The DuckDB oracle computes the same statistics
# ANALYTICALLY from the generation rules — it never decodes — so a green
# row certifies the encode→decode round trip reproduces the closed-form
# ground truth. The legacy opaque-payload plumbing (decode stub, chunked
# frame sampling) remains for formats without stdlib codecs and stays
# pinned by tests/test_multimodal.py.

_MM_SUBSET = "user_id % 3 = 0"
_MM_MAX_SIDE = 8      # resize bound — small enough that most BMPs shrink
_MM_FRAME = 40        # WAV frame = 40 samples (5 ms at 8 kHz)
_MM_STRIDE = 3        # sample every 3rd frame

_MM_PARAMS_SQL = f"""
WITH m AS (
  SELECT event_id::BIGINT AS media_id, user_id::BIGINT AS uid,
         CASE WHEN event_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS kind
  FROM events WHERE {_MM_SUBSET}
), bmp AS (
  SELECT media_id, (4 + uid % 13)::BIGINT AS w, (3 + media_id % 9)::BIGINT AS h,
         ((uid * 31 + media_id * 17) % 256)::BIGINT AS seed
  FROM m WHERE kind = 'bmp'
), wav AS (
  SELECT media_id, (50 + uid % 200)::BIGINT AS n,
         ((uid * 13 + media_id * 7) % 65536)::BIGINT AS seed
  FROM m WHERE kind = 'wav'
)"""

_MM_FEATURES_SQL = _MM_PARAMS_SQL + f"""
, bpx AS (
  SELECT b.media_id, ((xx.x * 7 + yy.y * 11 + b.seed) % 256)::BIGINT AS v
  FROM bmp b, unnest(range(0, b.w)) xx(x), unnest(range(0, b.h)) yy(y)
), bstat AS (
  SELECT p.media_id, count(*)::BIGINT AS n_units, sum(v)::BIGINT AS unit_sum,
         min(v)::BIGINT AS unit_min, max(v)::BIGINT AS unit_max
  FROM bpx p GROUP BY 1
), wpx AS (
  SELECT w.media_id, ((ii.i * 37 + w.seed) % 65536 - 32768)::BIGINT AS v
  FROM wav w, unnest(range(0, w.n)) ii(i)
), wstat AS (
  SELECT media_id, count(*)::BIGINT AS n_units, sum(v)::BIGINT AS unit_sum,
         min(v)::BIGINT AS unit_min, max(v)::BIGINT AS unit_max
  FROM wpx GROUP BY 1
)
SELECT b.media_id, 'bmp' AS kind,
       (54 + ((3 * b.w + 3) // 4 * 4) * b.h)::BIGINT AS n_bytes,
       b.w::INT AS width, b.h::INT AS height,
       s.n_units, s.unit_sum, s.unit_min, s.unit_max,
       0::BIGINT AS duration_ms
FROM bmp b JOIN bstat s USING (media_id)
UNION ALL
SELECT w.media_id, 'wav',
       (44 + 2 * w.n)::BIGINT,
       0::INT, 0::INT,
       s.n_units, s.unit_sum, s.unit_min, s.unit_max,
       (w.n * 1000 // 8000)::BIGINT
FROM wav w JOIN wstat s USING (media_id)
ORDER BY media_id
"""

_MM_OUT = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "n_units long, unit_sum long, unit_min long, unit_max long, "
    "duration_ms long"
)


def _mm_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.where(F.expr(_MM_SUBSET)).select(
        F.col("event_id").cast("long").alias("media_id"),
        F.when(F.col("event_id") % 2 == 0, F.lit("bmp"))
        .otherwise(F.lit("wav")).alias("kind"),
        (4 + F.pmod("user_id", F.lit(13))).cast("long").alias("w"),
        (3 + F.pmod("event_id", F.lit(9))).cast("long").alias("h"),
        F.pmod(F.col("user_id") * 31 + F.col("event_id") * 17, F.lit(256))
        .cast("long").alias("bseed"),
        (50 + F.pmod("user_id", F.lit(200))).cast("long").alias("n"),
        F.pmod(F.col("user_id") * 13 + F.col("event_id") * 7, F.lit(65536))
        .cast("long").alias("wseed"),
    )


def _mm_synth_payload(kind, w, h, bseed, n, wseed):
    import numpy as np

    from ..functions.media_codecs import encode_bmp, encode_wav

    if kind == "bmp":
        g = (
            (np.arange(w)[None, :] * 7 + np.arange(h)[:, None] * 11 + bseed) % 256
        ).astype(np.uint8)
        return encode_bmp(g)
    s = (((np.arange(n) * 37 + wseed) % 65536) - 32768).astype(np.int16)
    return encode_wav(s, 8000)


@query(
    "multimodal_media_features",
    _MM_FEATURES_SQL,
    doc="REAL stdlib media decode, oracled: BMP/WAV payloads are synthesized "
        "from integer rules, encoded and then DECODED by the real codecs "
        "(functions/media_codecs.py — headers walked, rows un-padded and "
        "un-flipped, RIFF chunks parsed) inside Arrow-batched mapInPandas; "
        "decoded pixel/sample statistics (count, sum, min, max, byte size, "
        "duration) must match the DuckDB oracle's ANALYTIC computation from "
        "the generation rules — the oracle never decodes, so a green row "
        "certifies the encode-decode round trip end to end",
)
def multimodal_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def _batches(batches):
        from ..functions.media_codecs import decode_bmp, decode_wav

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                payload = _mm_synth_payload(
                    r.kind, int(r.w), int(r.h), int(r.bseed), int(r.n), int(r.wseed)
                )
                if r.kind == "bmp":
                    g = decode_bmp(payload).astype("int64")
                    hh, ww = g.shape
                    out.append(
                        (r.media_id, "bmp", len(payload), ww, hh, g.size,
                         int(g.sum()), int(g.min()), int(g.max()), 0)
                    )
                else:
                    rate, s = decode_wav(payload)
                    s64 = s.astype("int64")
                    out.append(
                        (r.media_id, "wav", len(payload), 0, 0, s.size,
                         int(s64.sum()), int(s64.min()), int(s64.max()),
                         s.size * 1000 // rate)
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "kind", "n_bytes", "width", "height",
                    "n_units", "unit_sum", "unit_min", "unit_max",
                    "duration_ms",
                ],
            )

    return (
        _mm_params(spark, sf_dir)
        .mapInPandas(_batches, _MM_OUT)
        .orderBy("media_id")
    )


_MM_RESIZE_SQL = _MM_PARAMS_SQL + f"""
, geom AS (
  SELECT media_id, w, h, seed,
         CASE WHEN greatest(w, h) <= {_MM_MAX_SIDE} THEN w
              ELSE greatest(1, w * {_MM_MAX_SIDE} // greatest(w, h)) END AS ow,
         CASE WHEN greatest(w, h) <= {_MM_MAX_SIDE} THEN h
              ELSE greatest(1, h * {_MM_MAX_SIDE} // greatest(w, h)) END AS oh
  FROM bmp
), rpx AS (
  -- nearest-neighbor source pixel of output (i, j): ((i*w)//ow, (j*h)//oh)
  SELECT g.media_id,
         (((ii.i * g.w // g.ow) * 7 + (jj.j * g.h // g.oh) * 11 + g.seed)
          % 256)::BIGINT AS v
  FROM geom g, unnest(range(0, g.ow)) ii(i), unnest(range(0, g.oh)) jj(j)
), rstat AS (
  SELECT media_id, sum(v)::BIGINT AS resized_sum FROM rpx GROUP BY 1
), wgeom AS (
  SELECT media_id, n, seed, (n // {_MM_FRAME})::BIGINT AS n_frames
  FROM wav
), wsamp AS (
  SELECT g.media_id, ((ii.i * 37 + g.seed) % 65536 - 32768)::BIGINT AS v
  FROM wgeom g, unnest(range(0, g.n_frames * {_MM_FRAME})) ii(i)
  WHERE (ii.i // {_MM_FRAME}) % {_MM_STRIDE} = 0
), wstat AS (
  SELECT media_id, sum(v)::BIGINT AS frame_sum, count(*)::BIGINT AS n_sampled
  FROM wsamp GROUP BY 1
)
SELECT g.media_id, 'bmp' AS kind, g.ow::INT AS out_w, g.oh::INT AS out_h,
       (54 + ((3 * g.ow + 3) // 4 * 4) * g.oh)::BIGINT AS resized_bytes,
       r.resized_sum,
       0::BIGINT AS n_frames, 0::BIGINT AS frames_sampled,
       0::BIGINT AS frame_sum
FROM geom g JOIN rstat r USING (media_id)
UNION ALL
SELECT w.media_id, 'wav', 0::INT, 0::INT, 0::BIGINT, 0::BIGINT,
       w.n_frames,
       CASE WHEN w.n_frames = 0 THEN 0
            ELSE (w.n_frames + {_MM_STRIDE} - 1) // {_MM_STRIDE} END::BIGINT,
       coalesce(s.frame_sum, 0)::BIGINT
FROM wgeom w LEFT JOIN wstat s USING (media_id)
ORDER BY media_id
"""

_MM_RESIZE_OUT = (
    "media_id long, kind string, out_w int, out_h int, resized_bytes long, "
    "resized_sum long, n_frames long, frames_sampled long, frame_sum long"
)


@query(
    "multimodal_resize_frames",
    _MM_RESIZE_SQL,
    doc="REAL media transforms, oracled: BMPs take a true nearest-neighbor "
        f"downscale to {_MM_MAX_SIDE} px (integer-exact geometry: out = "
        "max(1, side*bound//max_side), source pixel (i*w//ow, j*h//oh)), "
        "are RE-ENCODED as BMP and RE-DECODED for the stats — a full "
        "encode-resize-encode-decode loop; WAVs are decoded and sliced "
        f"into {_MM_FRAME}-sample frames with every {_MM_STRIDE}rd frame "
        "sampled. The oracle computes resized pixel sums and sampled-frame "
        "sample sums analytically from the generation rules",
)
def multimodal_resize_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def _batches(batches):
        from ..functions.media_codecs import (
            decode_bmp,
            decode_wav,
            resize_bmp_nearest,
        )

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                payload = _mm_synth_payload(
                    r.kind, int(r.w), int(r.h), int(r.bseed), int(r.n), int(r.wseed)
                )
                if r.kind == "bmp":
                    resized, ow, oh = resize_bmp_nearest(payload, _MM_MAX_SIDE)
                    g = decode_bmp(resized).astype("int64")
                    out.append(
                        (r.media_id, "bmp", ow, oh, len(resized),
                         int(g.sum()), 0, 0, 0)
                    )
                else:
                    _, s = decode_wav(payload)
                    n_frames = s.size // _MM_FRAME
                    idx = range(0, n_frames, _MM_STRIDE)
                    frame_sum = sum(
                        int(s[f * _MM_FRAME : (f + 1) * _MM_FRAME].astype("int64").sum())
                        for f in idx
                    )
                    out.append(
                        (r.media_id, "wav", 0, 0, 0, 0,
                         n_frames, len(list(idx)), frame_sum)
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "kind", "out_w", "out_h", "resized_bytes",
                    "resized_sum", "n_frames", "frames_sampled", "frame_sum",
                ],
            )

    return (
        _mm_params(spark, sf_dir)
        .mapInPandas(_batches, _MM_RESIZE_OUT)
        .orderBy("media_id")
    )


# --- extracted-text parity, oracled (r3 ask #6) ----------------------------
#
# The north-star invariant is "extracted text byte-identical per url". The
# synth-table form of this check is pinned by tests/test_synth.py (the
# xxhash64-seeded fixture is not DuckDB-mirrorable); the CATALOG query now
# derives a page corpus from `events` with only SQL-expressible transforms,
# runs the REAL production extraction chain (functions/extract.py::
# extract_text_expr — the codegen regexp path used by plans/validate) on the
# Spark side, and the oracle regenerates the same corpus AND independently
# restates the extraction with DuckDB's RE2 engine — a genuine cross-engine
# check of the extraction semantics, anchored by per-row h32 sums rather
# than a bare 0 == 0.

_ETP_SRC = "paragraph text body " * 12  # 240 chars, shared literal
# ~1-in-17 rows get an article-less page with NULL stored text — exercises
# the extractor's NULL branch on both engines
_ETP_TEXT_SQL = (
    "array_to_string(list_transform(range(1, 2 + user_id % 3), "
    f"i -> substr('{_ETP_SRC}', 1, (1 + ((floor(value)::BIGINT + i * 7) % 120))::INT)), chr(10))"
)
_ETP_TEXT_SPARK = (
    "array_join(transform(sequence(1, cast(1 + user_id % 3 as int)), "
    f"i -> substring('{_ETP_SRC}', 1, cast(1 + ((cast(floor(value) as bigint) + i * 7) % 120) as int))), '\\n')"
)

_ETP_HTML_TMPL = (
    "'<html><head><title>h' || (user_id % 40) || '</title></head>"
    "<body><nav><a href=\"https://www.example.org/\">home</a></nav>"
    "<article><p>' || {body} || '</p></article>"
    "<footer>crawl</footer></body></html>'"
)

_ETP_SQL = f"""
WITH pages AS (
  SELECT 'https://h' || (user_id % 40) || '.example.org/p/' || event_id AS url,
         event_type,
         CASE WHEN user_id % 17 = 0 THEN NULL ELSE {_ETP_TEXT_SQL} END AS text,
         CASE WHEN user_id % 17 = 0
              THEN '<html><head><title>bare</title></head><body>no article</body></html>'
              ELSE {_ETP_HTML_TMPL.format(body=f"replace({_ETP_TEXT_SQL}, chr(10), '</p><p>')")}
              END AS page
  FROM events
), ex AS (
  SELECT event_type, text,
         nullif(regexp_replace(regexp_replace(
                  regexp_extract(page, '(?s)<article>(.*?)</article>', 1),
                  '(?s)</p>\\s*<p>', chr(10), 'g'),
                '(?s)</?p>', '', 'g'), '') AS extracted
  FROM pages
)
SELECT event_type,
       count(*)::BIGINT AS n_rows,
       count(*) FILTER (WHERE extracted IS DISTINCT FROM text)::BIGINT
         AS n_mismatched,
       count(extracted)::BIGINT AS n_extracted,
       coalesce(sum(length(extracted)), 0)::BIGINT AS extracted_chars,
       coalesce(sum({X.h32_sql('extracted')}), 0)::BIGINT AS extracted_h32_sum
FROM ex GROUP BY event_type ORDER BY event_type
"""


@query(
    "extracted_text_parity",
    _ETP_SQL,
    doc="north-star extraction invariant, oracled: a page corpus derived "
        "from events with only SQL-expressible transforms (multi-"
        "paragraph text, the synth HTML template, an article-less NULL "
        "branch) is extracted by the REAL production codegen chain "
        "(functions/extract.py::extract_text_expr) on the Spark side, "
        "while DuckDB independently regenerates the corpus and restates "
        "the extraction with its own RE2 regexps — mismatch counts plus "
        "length/h32 sums anchor the comparison to the actual bytes; the "
        "synth-fixture form of the invariant stays pinned by "
        "tests/test_synth.py",
)
def extracted_text_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.extract import extract_text_expr

    ev = load(spark, sf_dir, "events")
    text = F.expr(_ETP_TEXT_SPARK)
    page = F.concat(
        F.lit("<html><head><title>h"),
        F.pmod("user_id", F.lit(40)).cast("string"),
        F.lit(
            '''</title></head><body><nav><a href="https://www.example.org/">home</a></nav><article><p>'''
        ),
        F.regexp_replace(text, "\n", "</p><p>"),
        F.lit("</p></article><footer>crawl</footer></body></html>"),
    )
    bare = F.lit(
        "<html><head><title>bare</title></head><body>no article</body></html>"
    )
    is_bare = F.pmod("user_id", F.lit(17)) == 0
    pages = ev.select(
        "event_type",
        F.when(is_bare, F.lit(None).cast("string")).otherwise(text).alias("text"),
        F.encode(F.when(is_bare, bare).otherwise(page), "UTF-8").alias("html"),
    )
    ex = pages.select(
        "event_type",
        "text",
        extract_text_expr(F.col("html")).alias("extracted"),
    )
    return (
        ex.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count(
                F.when(~F.col("extracted").eqNullSafe(F.col("text")), 1)
            ).cast("long").alias("n_mismatched"),
            F.count("extracted").cast("long").alias("n_extracted"),
            F.coalesce(F.sum(F.length("extracted")), F.lit(0))
            .cast("long").alias("extracted_chars"),
            F.coalesce(F.sum(X.h32(F.col("extracted"))), F.lit(0))
            .cast("long").alias("extracted_h32_sum"),
        )
        .orderBy("event_type")
    )



# ---------------------------------------------------------------------------
# boilerplate line dedup (CCNet-style corpus-frequency paragraph removal)
# ---------------------------------------------------------------------------
#
# CCNet (Wenzek et al. 2020) removes lines/paragraphs whose hash appears in
# many documents — the nav/footer boilerplate sweep every crawl pipeline
# runs before LM training. The corpus here is the same SQL-derivable multi-
# paragraph table extracted_text_parity uses, PLUS one per-document unique
# tail line, so the operator demonstrably separates boilerplate (the ~120
# distinct shared paragraph values, corpus frequency in the thousands) from
# unique content (the tail lines, frequency 1). Counting is per-LINE-VALUE
# document frequency; all aggregates are integer-exact.

BOILERPLATE_DF_T = 100  # lines appearing in more than this many docs drop

_BLD_SQL = f"""
WITH pages AS (
  SELECT event_type,
         event_id::BIGINT AS doc_id,
         {_ETP_TEXT_SQL} || chr(10) || 'u' || user_id || '-' || event_id AS text
  FROM events WHERE user_id % 17 <> 0
), lines AS (
  SELECT event_type, doc_id, u.line
  FROM pages, unnest(string_split(text, chr(10))) AS u(line)
), df AS (
  SELECT line, count(DISTINCT doc_id)::BIGINT AS doc_freq
  FROM lines GROUP BY line
), judged AS (
  SELECT l.event_type, l.doc_id, l.line,
         (d.doc_freq > {BOILERPLATE_DF_T}) AS boilerplate
  FROM lines l JOIN df d USING (line)
)
SELECT event_type,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_lines,
       count(DISTINCT line)::BIGINT AS n_distinct_lines,
       count(*) FILTER (WHERE boilerplate)::BIGINT AS lines_removed,
       coalesce(sum(length(line)) FILTER (WHERE NOT boilerplate), 0)::BIGINT
         AS chars_kept,
       coalesce(sum(length(line)) FILTER (WHERE boilerplate), 0)::BIGINT
         AS chars_removed
FROM judged GROUP BY event_type ORDER BY event_type
"""


@query(
    "boilerplate_line_dedup",
    _BLD_SQL,
    doc="CCNet-style boilerplate removal (Wenzek et al. 2020): per-line "
        "corpus document frequency over the shared multi-paragraph corpus "
        f"(+ one unique tail line per doc); lines in more than "
        f"{BOILERPLATE_DF_T} docs are boilerplate and dropped, unique "
        "content survives — the funnel is reported per event_type with "
        "integer-exact char accounting. At 100 TB the line-hash df table "
        "is the only corpus-wide shuffle and is vocabulary-sized (shared "
        "boilerplate is low-cardinality by definition); the verdict join "
        "broadcasts it",
)
def boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    text = F.concat(
        F.expr(_ETP_TEXT_SPARK),
        F.lit("\nu"),
        F.col("user_id").cast("string"),
        F.lit("-"),
        F.col("event_id").cast("string"),
    )
    pages = ev.where(F.pmod("user_id", F.lit(17)) != 0).select(
        "event_type",
        F.col("event_id").cast("long").alias("doc_id"),
        text.alias("text"),
    )
    lines = pages.select(
        "event_type", "doc_id", F.explode(F.split("text", "\n")).alias("line")
    ).localCheckpoint(eager=False)
    # broadcast ONLY the lines already judged boilerplate: that set is
    # low-cardinality by definition (each member appears in >T docs, so at
    # most n_lines/T rows), while the full frequency table carries one row
    # per UNIQUE line — O(corpus) here because of the per-doc tail lines —
    # and would be an unbounded broadcast at scale. Left join + null test
    # replaces the equality on doc_freq.
    bp = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").cast("long").alias("doc_freq"))
        .where(F.col("doc_freq") > BOILERPLATE_DF_T)
        .select("line", F.lit(True).alias("bp"))
    )
    judged = lines.join(F.broadcast(bp), "line", "left").select(
        "event_type", "doc_id", "line",
        F.coalesce("bp", F.lit(False)).alias("boilerplate"),
    )
    return (
        judged.groupBy("event_type")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_lines"),
            F.count_distinct("line").cast("long").alias("n_distinct_lines"),
            F.count(F.when(F.col("boilerplate"), 1)).cast("long").alias(
                "lines_removed"
            ),
            F.coalesce(
                F.sum(F.when(~F.col("boilerplate"), F.length("line"))), F.lit(0)
            ).cast("long").alias("chars_kept"),
            F.coalesce(
                F.sum(F.when(F.col("boilerplate"), F.length("line"))), F.lit(0)
            ).cast("long").alias("chars_removed"),
        )
        .orderBy("event_type")
    )
