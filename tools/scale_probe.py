"""sf1 scale probe for the heaviest stanzas (VERDICT r3 ask #7).

The fixed testdata dirs stop at sf0.1; before believing the 100× claim the
heaviest operators need one committed super-linearity probe. This tool
builds a 10×-sf0.1 ("sf1") input set from the deterministic generators —
events replicated 10× with disjoint id spaces (same day calendar, so
per-partition row counts grow 10×, the shape a bigger crawl actually has),
``synth_documents`` at 50k rows, ``synth_embeddings`` at 20k vectors — runs
each probe query at sf0.1 and at sf1, and reports the wall-time ratio and
the throughput (rows/sec) ratio. A healthy linear-ish operator shows a
time ratio ≈ the data ratio (10×) or better and a throughput ratio near
(or above) 1; a super-linear cliff shows a collapsing throughput ratio.

validate_pages is probed through its own generator (2M → 20M pages,
30 days, hive layout — the round-5 bench shape scaled 10×).

Writes SCALE_PROBE_r{N}.json (measured by this tool, not re-measured by
any benchmark run).

Usage: python tools/scale_probe.py [out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: the five heaviest r3 stanzas (VERDICT "Plan audit"), minus validate_pages
#: which is probed via its own generator
PROBE_QUERIES = [
    "dedup_embedding_lsh",
    "dedup_clusters",
    "theta_sketch_urls",
    "ionosphere_tsfresh_match",
]

#: input table each probe query actually scans (for the rows/sec metric)
DRIVER_TABLE = {
    "dedup_embedding_lsh": "embeddings",
    "dedup_clusters": "documents",
    "theta_sketch_urls": "events",
    "ionosphere_tsfresh_match": "events",
}


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def _build_sf1(spark, out_dir: str) -> dict[str, int]:
    """Materialize the 10x input set; returns per-table row counts."""
    from pyspark.sql import functions as F

    from skyline_spark.sources.synth import synth_documents, synth_embeddings

    counts: dict[str, int] = {}
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    reps = spark.range(10).withColumnRenamed("id", "_rep")
    ev10 = ev.crossJoin(reps).select(
        (F.col("event_id") + F.col("_rep") * F.lit(1_000_000_000)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("_rep") * F.lit(10_000_000)).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    ev10.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    counts["events"] = spark.read.parquet(f"{out_dir}/events.parquet").count()

    docs = synth_documents(spark, n_rows=50_000)
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    counts["documents"] = 50_000

    emb = synth_embeddings(spark, n_rows=20_000)
    emb.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    counts["embeddings"] = 20_000
    return counts


def _build_flood(spark, sf1_dir: str, out_dir: str) -> dict[str, int]:
    """Planted-duplicate-flood input at sf1 scale (VERDICT r4 item 1 'Done'
    criterion): the 50k-doc corpus plus 20k byte-identical copies of one
    page (the exact-collapse path) and 20k one-token variants of a
    boilerplate page (the band-cap path); embeddings get 10k epsilon-
    perturbed copies of one vector (same hyperplane signs -> one 10k-deep
    bucket per band) plus 10k byte-identical copies. Un-guarded, the
    variants alone are ~2x10^8 candidate pairs."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf1_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") == 0).select("text").first()["text"]
    boiler = " ".join(
        "breaking news widget gadget portal home about contact privacy "
        "terms subscribe newsletter login register search trending popular "
        "latest sports business technology science health entertainment "
        "weather copyright all rights reserved follow us on social media "
        "cookie policy".split()
    )
    exact = spark.range(20_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(base).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("flood").alias("source"),
        F.length(F.lit(base)).cast("long").alias("n_chars"),
    )
    near = spark.range(20_000).select(
        (F.col("id") + 20_000_000).alias("doc_id"),
        F.concat(
            F.lit(boiler + " article"), F.lpad(F.col("id").cast("string"), 6, "0")
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("flood").alias("source"),
        F.lit(len(boiler) + 14).cast("long").alias("n_chars"),
    )
    docs.unionByName(exact).unionByName(near).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    emb = spark.read.parquet(f"{sf1_dir}/embeddings.parquet")
    bvec = emb.where(F.col("vec_id") == 0).first()["embedding"]
    dim = len(bvec)
    near_e = spark.range(10_000).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        F.array(
            *[
                (
                    F.lit(float(bvec[j]))
                    + F.when(F.col("id") % dim == j,
                             (F.col("id") % 97 + 1).cast("double") * 1e-6)
                    .otherwise(F.lit(0.0))
                ).cast("float")
                for j in range(dim)
            ]
        ).alias("embedding"),
        F.lit(0).alias("label"),
    )
    exact_e = spark.range(10_000).select(
        (F.col("id") + 20_000_000).alias("vec_id"),
        F.array(*[F.lit(float(v)).cast("float") for v in bvec]).alias("embedding"),
        F.lit(0).alias("label"),
    )
    emb.unionByName(near_e).unionByName(exact_e).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    return {"documents": 90_000, "embeddings": 40_000}


def main(out_path: str = "SCALE_PROBE_r05.json") -> None:
    t_all = time.time()
    from pyspark.sql import functions as F

    from skyline_spark.catalog import QUERIES
    from skyline_spark.config import ValidationConfig
    from skyline_spark.plans.stats import with_partition
    from skyline_spark.plans.validate import validate
    from skyline_spark.session import get_spark
    from skyline_spark.sources.synth import synth_pages

    spark = get_spark("skyline-scale-probe", cores=CORES)
    tmp = tempfile.mkdtemp(prefix="skyline_sf1_")
    sf1_dir = os.path.join(tmp, "sf1")
    os.makedirs(sf1_dir, exist_ok=True)
    print("building sf1 inputs...", flush=True)
    counts1 = _build_sf1(spark, sf1_dir)
    import duckdb

    con = duckdb.connect()
    counts01 = {
        t: con.execute(
            f"SELECT count(*) FROM read_parquet('{SF01}/{t}.parquet')"
        ).fetchone()[0]
        for t in ("events", "documents", "embeddings")
    }

    results: dict = {
        "cores": CORES,
        "rows_sf01": counts01,
        "rows_sf1": counts1,
        "queries": {},
    }

    # warm-up
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v):
        return v * 1.0

    _noop(spark.range(1000).select(_warm(F.col("id").cast("double")).alias("w")))

    import gc

    for name in PROBE_QUERIES:
        per = {}
        for label, d in (("sf01", SF01), ("sf1", sf1_dir)):
            # best of 2 reps — one-shot numbers on this VM measure the
            # hypervisor as often as the engine (BASELINE.md)
            times = []
            for _ in range(2):
                t0 = time.time()
                _noop(QUERIES[name].build(spark, d))
                times.append(round(time.time() - t0, 3))
                gc.collect()
            per[label] = min(times)
            per[f"{label}_reps"] = times
        rows01 = counts01[DRIVER_TABLE[name]]
        rows1 = counts1[DRIVER_TABLE[name]]
        per["data_ratio"] = round(rows1 / rows01, 2)
        per["time_ratio"] = round(per["sf1"] / per["sf01"], 2)
        per["throughput_ratio"] = round(
            (rows1 / per["sf1"]) / (rows01 / per["sf01"]), 2
        )
        results["queries"][name] = per
        print(name, per, flush=True)

    # planted-flood probe: the guarded dedup paths must complete on a
    # 40k-doc flood at sf1 scale without candidate blow-up, and the guard
    # query must report the dropped mass
    flood_dir = os.path.join(tmp, "flood")
    os.makedirs(flood_dir, exist_ok=True)
    print("building flood inputs...", flush=True)
    flood_counts = _build_flood(spark, sf1_dir, flood_dir)
    flood: dict = {"rows": flood_counts, "queries": {}}
    for name in ("dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_lsh"):
        t0 = time.time()
        n_out = QUERIES[name].build(spark, flood_dir).count()
        flood["queries"][name] = {
            "wall_s": round(time.time() - t0, 3),
            "out_rows": n_out,
        }
        gc.collect()
        print("flood", name, flood["queries"][name], flush=True)
    t0 = time.time()
    guard_rows = QUERIES["dedup_band_guard"].build(spark, flood_dir).collect()
    flood["band_guard"] = {
        r["family"]: {
            "n_items": r["n_items"],
            "n_reps": r["n_reps"],
            "max_bucket": r["max_bucket"],
            "capped_buckets": r["capped_buckets"],
            "capped_items": r["capped_items"],
        }
        for r in guard_rows
    }
    flood["band_guard_wall_s"] = round(time.time() - t0, 3)
    results["flood"] = flood
    print("flood band_guard", flood["band_guard"], flush=True)

    # validate_pages through its own generator, 2M -> 20M pages
    vp = {}
    for label, n_rows in (("sf01", 2_000_000), ("sf1", 20_000_000)):
        pages_path = os.path.join(tmp, f"pages_{label}")
        t0 = time.time()
        with_partition(
            synth_pages(spark, n_rows=n_rows, n_days=30)
        ).repartition("partition_date").write.mode("overwrite").partitionBy(
            "partition_date"
        ).parquet(pages_path)
        vp[f"{label}_synth"] = round(time.time() - t0, 3)
        pages = spark.read.parquet(pages_path)
        times = []
        for _ in range(2):
            t0 = time.time()
            res = validate(
                pages, ValidationConfig(min_history=4), run_ts=1_700_000_000.0
            )
            res.verdicts.count()
            _noop(res.violations)
            times.append(round(time.time() - t0, 3))
            res.release()
            gc.collect()
        vp[label] = min(times)
        vp[f"{label}_reps"] = times
    vp["data_ratio"] = 10.0
    vp["time_ratio"] = round(vp["sf1"] / vp["sf01"], 2)
    vp["throughput_ratio"] = round(
        (20_000_000 / vp["sf1"]) / (2_000_000 / vp["sf01"]), 2
    )
    results["queries"]["validate_pages"] = vp
    print("validate_pages", vp, flush=True)

    # ---- planted-skewed-host probe (VERDICT r4 ask #5) --------------------
    # One host owns 50% of a 20M-row corpus, concentrated on one
    # (partition_date, lang) partition. Two claims need committed numbers:
    # (a) validate() on the skewed table costs about the same as on the
    #     uniform table at identical row count — the engine's stats pass is
    #     two-level/map-side-combined everywhere, so a hot partition never
    #     lands on one reducer as raw rows;
    # (b) for a NON-algebraic per-host statistic (exact quantiles), the
    #     naive groupBy(host).applyInPandas plan stalls on a 10M-row hot
    #     group while the engine's two-phase value-histogram shape
    #     (salted_host_quantiles) spreads it — identical results, no
    #     straggler (max phase-2 group = distinct values, not rows).
    skew: dict = {"rows": 20_000_000, "hot_fraction": 0.5}
    pages_skew_path = os.path.join(tmp, "pages_skew")
    t0 = time.time()
    base = synth_pages(spark, n_rows=20_000_000, n_days=30)
    hot = F.pmod(F.xxhash64("url", F.lit("hot")), F.lit(2)) == 0
    skewed = base.select(
        F.when(
            hot,
            F.regexp_replace("url", "^https://[^/]+/", "https://hot-host.example.com/"),
        )
        .otherwise(F.col("url"))
        .alias("url"),
        F.when(
            hot,
            F.to_timestamp(F.lit("2026-08-01"))
            + F.make_dt_interval(secs=F.unix_timestamp("warc_ts").cast("double") % 86_400),
        )
        .otherwise(F.col("warc_ts"))
        .alias("warc_ts"),
        "html",
        "text",
        F.when(hot, F.lit("en")).otherwise(F.col("lang")).alias("lang"),
    )
    with_partition(skewed).write.mode("overwrite").partitionBy(
        "partition_date"
    ).parquet(pages_skew_path)
    skew["synth_s"] = round(time.time() - t0, 3)
    pages_sk = spark.read.parquet(pages_skew_path)
    times = []
    for _ in range(2):
        t0 = time.time()
        res = validate(
            pages_sk, ValidationConfig(min_history=4), run_ts=1_700_000_000.0
        )
        res.verdicts.count()
        _noop(res.violations)
        times.append(round(time.time() - t0, 3))
        res.release()
        gc.collect()
    skew["validate_skewed_s"] = min(times)
    skew["validate_skewed_reps"] = times
    skew["validate_uniform_s"] = vp["sf1"]
    skew["validate_skew_ratio"] = round(min(times) / vp["sf1"], 3)

    # host-quantile A/B: derived documents table (source = url host)
    docs_skew_dir = os.path.join(tmp, "docs_skew")
    t0 = time.time()
    # NULL-text rows (the synth fixture's planted null_rate defect) carry no
    # length; the quantile probe measures skew behavior, not null handling
    pages_sk.where(F.col("text").isNotNull()).select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.regexp_extract("url", "^https://([^/]+)/", 1).alias("source"),
        "lang",
        F.length("text").cast("long").alias("n_chars"),
    ).write.mode("overwrite").parquet(os.path.join(docs_skew_dir, "documents.parquet"))
    skew["derive_docs_s"] = round(time.time() - t0, 3)

    t0 = time.time()
    two_phase = {
        r["source"]: (r["n_docs"], r["p50"], r["p90"], r["p99"])
        for r in QUERIES["salted_host_quantiles"].build(spark, docs_skew_dir).collect()
    }
    skew["two_phase_s"] = round(time.time() - t0, 3)
    gc.collect()

    import pandas as pd

    def _naive(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["n_chars"].sort_values().to_numpy()
        n = len(v)
        row = [pdf["source"].iat[0], n] + [
            int(v[(p * n + 99) // 100 - 1]) for p in (50, 90, 99)
        ]
        return pd.DataFrame(
            [row], columns=["source", "n_docs", "p50", "p90", "p99"]
        )

    docs_sk = spark.read.parquet(os.path.join(docs_skew_dir, "documents.parquet"))
    t0 = time.time()
    naive = {
        r["source"]: (r["n_docs"], r["p50"], r["p90"], r["p99"])
        for r in docs_sk.select("source", "n_chars")
        .groupBy("source")
        .applyInPandas(
            _naive, "source string, n_docs long, p50 long, p90 long, p99 long"
        )
        .collect()
    }
    skew["naive_grouped_map_s"] = round(time.time() - t0, 3)
    skew["speedup"] = round(skew["naive_grouped_map_s"] / skew["two_phase_s"], 2)
    skew["results_equal"] = naive == two_phase
    grp = (
        docs_sk.groupBy("source")
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("n_chars").alias("distinct_vals"),
        )
        .agg(F.max("rows"), F.max("distinct_vals"))
        .first()
    )
    skew["max_group_rows_naive"] = int(grp[0])
    skew["max_group_rows_two_phase"] = int(grp[1])
    results["skew"] = skew
    print("skew", skew, flush=True)

    results["wall_total"] = round(time.time() - t_all, 1)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "SCALE_PROBE_r05.json")
