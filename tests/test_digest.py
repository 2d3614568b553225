"""Mergeable quantile digest: merge exactness + quantile error bound +
checkpoint blob round-trip (north_star: "stat digests (mergeable sketches)")."""

import json

import pytest
from pyspark.sql import functions as F

from skyline_spark.operators.digest import (
    digest_quantile,
    digest_total,
    merge_digests,
    parse_checkpoint_digest,
)
from skyline_spark.plans.stats import length_digest, length_histogram, url_groups
from skyline_spark.plans.validate import validate
from skyline_spark.sources.synth import synth_pages

REL_ERR = 2 ** (1 / 8) - 1  # bound from DIGEST_BINS_PER_OCTAVE = 8


def _digest_map(pages):
    return {
        (r["partition_date"], r["lang"]): dict(r["len_digest"])
        for r in length_digest(length_histogram(url_groups(pages))).collect()
    }


def test_merge_equals_digest_of_union(spark):
    pages = synth_pages(spark, 6_000, 6, defects=False)
    a = pages.where(F.xxhash64("url") % 2 == 0)
    b = pages.where(F.xxhash64("url") % 2 != 0)
    da, db = _digest_map(a), _digest_map(b)
    dall = _digest_map(pages)
    for key, expect in dall.items():
        merged = merge_digests(
            [d for d in (da.get(key), db.get(key)) if d is not None]
        )
        assert merged == expect, key


def test_quantile_within_relative_error(spark):
    pages = synth_pages(spark, 6_000, 6, defects=False)
    slim = pages.select(F.length("text").alias("text_len")).where(
        F.col("text_len").isNotNull()
    )
    exact = slim.agg(
        F.expr("percentile(text_len, 0.5)").alias("p50"),
        F.expr("percentile(text_len, 0.95)").alias("p95"),
    ).first()
    merged = merge_digests(_digest_map(pages).values())
    assert digest_total(merged) == slim.count()
    for q, ex in (("p50", exact["p50"]), ("p95", exact["p95"])):
        est = digest_quantile(merged, 0.5 if q == "p50" else 0.95)
        assert abs(est - ex) / ex <= REL_ERR + 0.02, (q, est, ex)


def test_checkpoint_blob_roundtrip_and_cross_partition_merge(spark):
    pages = synth_pages(spark, 5_000, 6, defects=False)
    res = validate(pages, run_ts=1_786_406_400.0)
    rows = res.checkpoint.select("stat_digests").collect()
    # one digest per pair: the blob holds the stats map and the log-histogram
    assert all(
        sorted(json.loads(bytes(r["stat_digests"]))) == ["len_digest", "stats"]
        for r in rows
    )
    parsed = [parse_checkpoint_digest(bytes(r["stat_digests"])) for r in rows]
    assert all("row_count" in p["stats"] for p in parsed)
    assert any(p["len_digest"] for p in parsed)
    merged = merge_digests(p["len_digest"] for p in parsed)
    # the merged digest spans the WHOLE table: totals must add up exactly
    n_nonnull = pages.where(F.col("text").isNotNull()).count()
    assert digest_total(merged) == n_nonnull
    est = digest_quantile(merged, 0.5)
    assert est == pytest.approx(
        pages.select(F.expr("percentile(length(text), 0.5)")).first()[0],
        rel=REL_ERR + 0.02,
    )


def test_blobs_with_a_gk_sketch_still_parse_and_merge():
    """Checkpoint rows written while the blob also carried a GK sketch
    (``len_gk``, a nested JSON string) parse to the same stats and digest,
    and merge with current rows by count addition."""
    stats = {"row_count": 5.0, "text_len_p50": 40.0}
    gk = '{"eps": 0.01, "n": 5, "v": [40.0, 47.0], "g": [3, 2], "d": [0, 0], "c": [3, 2]}'
    old = json.dumps(
        {"stats": stats, "len_digest": {"42": 3, "43": 2}, "len_gk": gk}
    ).encode()
    new = json.dumps({"stats": {"row_count": 4.0}, "len_digest": {"42": 1, "50": 3}})

    got = parse_checkpoint_digest(old)
    assert got == {"stats": stats, "len_digest": {42: 3, 43: 2}}
    assert parse_checkpoint_digest(new)["len_digest"] == {42: 1, 50: 3}
    merged = merge_digests(parse_checkpoint_digest(b)["len_digest"] for b in (old, new))
    assert merged == {42: 4, 43: 2, 50: 3}
    assert digest_total(merged) == 5 + 4
