"""Plan-shape regression tests: the scale-readiness claims, enforced.

Correctness tests prove the queries return the right rows at sf0.001; these
prove the PLANS are the ones that survive a 100x scale-up. Each assertion
pins a property the docs claim (README "Operator coverage", VERDICT round-1
scale notes) so a future edit cannot silently regress it:

- candidate generation in every LSH path is an equi-join (hash-partitionable
  Exchange), never a CartesianProduct / BroadcastNestedLoopJoin;
- small dimension tables broadcast (BroadcastHashJoin), the fact table is
  never shuffled for the join itself;
- filters reach the parquet scan (PushedFilters) and unused columns are
  pruned out of ReadSchema;
- aggregations are partial (map-side combine) before the shuffle;
- the pure-expression text family stays inside WholeStageCodegen with no
  row-at-a-time Python (BatchEvalPython) anywhere.

``df.explain`` only plans (no job runs), so these are cheap. AQE may later
improve a plan at runtime; asserting on the static plan is strictly
conservative.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from skyline_spark.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def build(spark, name: str):
    return QUERIES[name].build(spark, SF_DIR)


# Queries whose build() is a pure plan (no eager materialization) spanning
# every operator family with a Python boundary or a join. Kept explicit:
# some builds (kmeans_lloyd, dedup_* with eager localCheckpoint) run jobs
# during construction and are covered by the parity tests instead.
NO_ROWWISE_PYTHON = [
    "text_token_count",
    "text_quality",
    "text_lang_id",
    "text_fingerprint",
    "text_repetition",
    "text_pii_scrub",
    "text_char_diversity",
    "dedup_exact",
    "dedup_simhash",
    "join_orders_by_nation",
    "tpch_q1_pricing_summary",
    "window_top_orders_per_nation",
    "ann_cosine_topk",
    "detector_median_absolute_deviation",
    "detector_ks_2samp_d",
    "series_gates",
    "boundary_autoaggregate",
    "ionosphere_layers",
    "domain_cap_sample",
    "mixture_token_budget",
    "dedup_exact_substrings",
    "url_canonical_dedup",
    "mixture_temperature_sample",
    "mixture_epoch_plan",
    "pack_context_windows",
    "bloom_novelty",
    "asof_join_attribution",
    "range_join_incidents",
    "sessionize_events",
    "link_graph_pagerank",
    "link_graph_hits",
    "fk_orphan_check",
    # round-4 additions (Arrow-vectorized boundaries only; NFC/ks-gate/
    # adf-tau/multimodal use ArrowEvalPython / FlatMapGroupsInPandas /
    # MapInPandas — the sanctioned forms)
    "gopher_quality_rules",
    "boilerplate_line_dedup",
    "hll_daily_users",
    "winsorize_doclen",
    "bpe_char_coverage",
    "extracted_text_parity",
    "text_normalize_nfc",
    "detector_ks_gate",
    "detector_adf_tau",
    "replay_ensemble_relational",
    "multimodal_media_features",
    "multimodal_resize_frames",
]


@pytest.mark.parametrize("name", NO_ROWWISE_PYTHON)
def test_no_rowwise_python(spark, name):
    # row-at-a-time Python UDFs (BatchEvalPython) are the 10-100x slow path;
    # the only sanctioned Python boundaries are Arrow-vectorized
    # (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas)
    assert "BatchEvalPython" not in plan_of(build(spark, name))


@pytest.mark.parametrize(
    "name", ["ann_lsh_topk", "ann_ivf_topk", "dedup_embedding_lsh"]
)
def test_lsh_candidates_are_equi_joins(spark, name):
    # the round-1 ann_lsh shape (OR-of-band-equalities) planned a
    # BroadcastNestedLoopJoin — correct for 5 query vectors, quadratic for a
    # real query set. The exploded (vec_id, band_id, band_key) form must
    # plan a hash-partitionable equi-join at any input size.
    p = plan_of(build(spark, name))
    assert "CartesianProduct" not in p
    if name == "ann_ivf_topk":
        # the centroid-assignment cross join is sanctioned: corpus × K where
        # K is a compile-time constant (linear in corpus size; at scale the
        # centroids inline as plan literals). It appears twice in the tree —
        # once under the cell branch (full corpus) and once under the probe
        # branch, where the query-id filter is pushed to the scan so that
        # instance joins only the handful of query rows. Candidate
        # generation — probe query → cell members — must still hash-join.
        tree = p.split("\n\n", 1)[0]
        assert tree.count("BroadcastNestedLoopJoin Cross BuildRight") == 2
        assert "BroadcastHashJoin" in tree
    else:
        assert "BroadcastNestedLoopJoin" not in p


def test_small_dims_broadcast(spark):
    # customer and nation are the small sides: both joins must broadcast, so
    # the orders fact is never shuffled for the join (only the final group)
    p = plan_of(build(spark, "join_orders_by_nation"))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_scan_pushdown_and_pruning(spark):
    # Q1's shipdate filter must reach the parquet reader, and the scan must
    # not read columns the query never touches (l_comment is ~40% of the
    # row's bytes in TPC-H lineitem)
    p = plan_of(build(spark, "tpch_q1_pricing_summary"))
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "shipdate filter was not pushed to the scan"
    assert "l_comment" not in p, "scan reads a column the query never uses"
    assert "l_orderkey" not in p.split("ReadSchema", 1)[1].splitlines()[0]


def test_aggregation_is_partial(spark):
    # map-side combine before the shuffle: without it the groupBy ships
    # every input row across the wire
    p = plan_of(build(spark, "tpch_q1_pricing_summary"))
    assert "partial_sum" in p or "partial" in p.lower()


@pytest.mark.parametrize(
    "name", ["text_token_count", "text_quality", "text_pii_scrub"]
)
def test_text_family_stays_in_codegen(spark, name):
    # the pure-expression text analyzers must compile into whole-stage
    # codegen spans (JVM-side, vectorized) end to end. Higher-order
    # functions (F.filter/F.aggregate lambdas) are CodegenFallback and
    # eject their Project from the span — these two queries use the
    # codegen twins (token_count_codegen_expr / quality_score_codegen_expr)
    # precisely so that does not happen. In formatted mode a codegen'd
    # node is starred and carries a "[codegen id : N]" tag.
    p = plan_of(build(spark, name))
    assert "[codegen id :" in p
    for line in p.splitlines():
        stripped = line.strip()
        if stripped.startswith(("Project", "+- Project", ":- Project")):
            pytest.fail(f"Project fell out of whole-stage codegen: {line}")


def test_domain_cap_is_two_phase_and_pruned(spark):
    # the per-host cap must run the exact two-phase top-K (a salted local
    # rank bounding every sort partition, then the exact rank over
    # survivors) — exactly two Window nodes — and must never read the text
    # column: only (doc_id, source) leave the scan
    import re

    p = plan_of(build(spark, "domain_cap_sample"))
    assert len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 2, (
        "expected the salted + exact rank pair"
    )
    # Spark additionally plans WindowGroupLimit for the rank<=K filters —
    # the top-K is enforced BEFORE the sort/shuffle, the exact pushdown a
    # hot host needs
    assert "WindowGroupLimit" in p
    read = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "text" not in read and "n_chars" not in read


def test_mixture_budget_broadcasts_bucket_sums(spark):
    # the quota-fill two-phase plan: the per-(lang, bucket) running sums
    # (tiny) broadcast back to the corpus — never a shuffle join — and only
    # TWO windows exist: one over the tiny bucket-sum table, one over the
    # boundary bucket's docs (partitioned by lang AND bucket, so no
    # full-component sort can sneak back in)
    p = plan_of(build(spark, "mixture_token_budget"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    import re

    # EXACTLY ONE doc-level window, partitioned by (lang, bucket) — bucket
    # in the PARTITION list (no ASC marker), ordering by h. The prior
    # window (bucket as ORDER col, over the tiny bucket-sum table) may
    # appear once per Union branch; doc-level must not.
    doc_windows = re.findall(
        r"windowspecdefinition\(lang#\d+, _bucket#\d+L, h#", p
    )
    assert len(doc_windows) == 1, (
        f"expected one boundary-bucket window, saw {len(doc_windows)} — "
        "a full-component sort may have crept back in"
    )
    assert re.search(r"windowspecdefinition\(lang#\d+, _bucket#\d+L ASC", p), (
        "the running-prior window over the bucket-sum table is missing"
    )
    assert "BatchEvalPython" not in p
    # the documents scan is visible in this plan (no checkpoint truncation)
    # — pin that only (doc_id, lang, text) are read
    read = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "source" not in read and "n_chars" not in read


def test_exact_dedup_single_shuffle(spark):
    # exact dedup is one shuffle on text_hash: more than one Exchange over
    # the documents scan means a redundant repartition crept in
    p = plan_of(build(spark, "dedup_exact"))
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"expected <=2 hash exchanges, saw {n_exchanges}"


def test_tsfresh_matrix_stays_on_hash_aggregate(spark):
    # the 101-aggregate feature matrix must plan as codegen HashAggregate
    # with no Expand: ONE native median() among the aggregates silently
    # flips the whole node onto the interpreted ObjectHashAggregate path
    # (measured 15-18 s vs ~4 s at sf0.1), and one count(DISTINCT) triples
    # the rows through an Expand. The shared strings use the type-7 rank
    # ladder and the vfirst first-occurrence marker instead — pin that.
    p = plan_of(build(spark, "tsfresh_features"))
    assert "HashAggregate" in p
    assert "ObjectHashAggregate" not in p, (
        "a TypedImperative aggregate (median/percentile/mode) crept into "
        "the tsfresh shared strings — the whole matrix falls off codegen"
    )
    assert "Expand" not in p, (
        "a count(DISTINCT ...) crept into the tsfresh shared strings — "
        "the Expand multiplies every input row through the aggregate"
    )
    assert "BatchEvalPython" not in p


def test_url_canonical_is_pure_map_plus_one_agg(spark):
    # canonicalization must stay a Catalyst expression chain: no joins, no
    # Python boundary of any kind; the only exchange is the canonical-key agg
    p = plan_of(build(spark, "url_canonical_dedup"))
    assert "Join" not in p
    assert "EvalPython" not in p and "InPandas" not in p
    # the big first-level agg (per (canon, raw)) must be a HashAggregate
    # with a map-side partial — the shuffle ships one row per distinct
    # (canon, raw), not one per event. The canonicalize Project itself is
    # CodegenFallback (higher-order filter lambda) but still JVM-side —
    # the EvalPython assert above pins that no Python boundary appears.
    assert "HashAggregate" in p
    assert "partial" in p.lower()


def test_substring_dedup_joins_are_hash_equi(spark):
    # the dup-window join-back must be hash-partitionable (equi-join on the
    # window md5), never a nested loop over candidates
    p = plan_of(build(spark, "dedup_exact_substrings"))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_temperature_sample_broadcasts_quotas(spark):
    # the per-source quota side is O(|sources|) rows and must broadcast;
    # the corpus side is never nested-loop joined
    p = plan_of(build(spark, "mixture_temperature_sample"))
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_quality_classifier_is_zero_shuffle(spark):
    # the classifier doc claims inference is a pure map stage: score +
    # verdict computed inside one projection over the scan — no Exchange,
    # no join, no Python boundary anywhere in the plan
    p = plan_of(build(spark, "quality_classifier_score"))
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p and "InPandas" not in p


def test_ccnet_scoring_joins_broadcast(spark):
    # the bigram LM is capped at (V+1)^2 rows and the vocab at V rows —
    # the two vocab joins and the LM scoring join must all be broadcast
    # hash joins (the corpus side is never shuffled for a join), and the
    # whole pipeline stays JVM-side
    p = plan_of(build(spark, "ccnet_perplexity_buckets"))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "EvalPython" not in p and "InPandas" not in p


def test_semdedup_pairwise_is_grouped_arrow_kernel(spark):
    # the within-cluster pairwise leg must be ONE hash shuffle on cluster id
    # into a grouped-map Arrow kernel (the SemDeDup paper's per-cluster
    # numpy shape) — never a c²-row join or a nested loop over the corpus,
    # and never row-at-a-time Python
    p = plan_of(build(spark, "semdedup_prune"))
    assert "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p
    # the only nested loops are the two sanctioned Lloyd-assignment
    # crossJoins (corpus × K broadcast centroids, K a compile-time
    # constant — same exception as ann_ivf_topk); the pairwise prune
    # itself must contribute none
    tree = p.split("\n\n", 1)[0]
    assert tree.count("BroadcastNestedLoopJoin Cross BuildRight") == 2
    assert "BatchEvalPython" not in p


def test_curation_pipeline_is_one_scan_two_windows(spark):
    # four stages composed as columns must cost exactly one corpus scan and
    # two slim window shuffles (dedup-hash, per-lang budget) — no join, no
    # Python boundary, and the text column projected away before either
    # exchange
    p = plan_of(build(spark, "curation_verdicts"))
    assert "Join" not in p
    assert "EvalPython" not in p and "InPandas" not in p
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1
    assert tree.count("Window") == 2
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, "text column crossed a shuffle"


def test_packing_is_one_shuffle_without_text(spark):
    # concat-and-chunk packing must cost exactly one hash shuffle (by
    # shard) over slim (doc_id, ntok, pk) rows — token counting happens in
    # the scan projection, so the text column never crosses the exchange
    p = plan_of(build(spark, "pack_context_windows"))
    assert "Join" not in p
    assert "EvalPython" not in p and "InPandas" not in p
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1
    assert tree.count("Exchange") == 1
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, "text column crossed the shuffle"


def test_bloom_filter_is_broadcast_membership(spark):
    # the Bloom filter side must reduce to ONE broadcast row (the sorted
    # distinct-position array, the series_gates 1-row cross-join pattern);
    # the exact ground-truth leg is a broadcastable key equi-join. The
    # incoming scan is never shuffled and no nested loop ever touches more
    # than the 1-row filter side.
    p = plan_of(build(spark, "bloom_novelty"))
    tree = p.split("\n\n", 1)[0]
    assert tree.count("BroadcastNestedLoopJoin Cross BuildRight") == 1
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p and "InPandas" not in p


def test_asof_join_has_no_join_node(spark):
    # the as-of join must plan as union-and-carry: ONE hash exchange on the
    # key plus an in-partition sort/window — no join node of any kind, so
    # cost is linear in history and a hot user is a large sort group, never
    # a pair explosion
    p = plan_of(build(spark, "asof_join_attribution"))
    assert "Join" not in p
    assert "CartesianProduct" not in p
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Exchange") == 1
    assert tree.count("Window") == 1


def test_range_join_is_bucketed_equi_join(spark):
    # the range join must probe via the (user_id, bucket) equi-join — the
    # inequality form the oracle runs would plan a nested loop; bucket
    # width equals the window length so each interval explodes to <=2 keys
    p = plan_of(build(spark, "range_join_incidents"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # formatted mode prints the node as "Generate" with the explode in its
    # Arguments line
    assert "Generate" in p and "explode(sequence" in p
    assert (
        "BroadcastHashJoin" in p
        or "SortMergeJoin" in p
        or "ShuffledHashJoin" in p
    ), "bucketed probe must plan a hash-partitionable equi-join"


def test_sessionize_is_single_exchange(spark):
    # lag, the running session counter, and the island rollup must all
    # reuse the user_id partitioning: exactly one hash exchange, no join
    p = plan_of(build(spark, "sessionize_events"))
    assert "Join" not in p
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Exchange") == 1


def test_bpe_counting_is_two_hash_aggs_plus_topk(spark):
    # the corpus→vocab agg is the only corpus-sized shuffle; the pair agg
    # runs over the (Heaps-law-small) vocabulary; the final top-K must plan
    # TakeOrderedAndProject (per-partition heaps + single merge), never a
    # global Sort of the pair table
    p = plan_of(build(spark, "bpe_merge_candidates"))
    assert "TakeOrderedAndProject" in p
    assert "SortAggregate" not in p and "ObjectHashAggregate" not in p
    assert "Join" not in p and "BatchEvalPython" not in p
    tree = p.split("\n\n", 1)[0]
    # word agg + pair agg (+ the _spread repartition): no hidden shuffles
    assert tree.count("Exchange") <= 3


def test_snapshot_delta_is_single_shuffle_hash_agg(spark):
    # added/removed/changed/unchanged classification must come from ONE
    # groupBy(url) with conditional max_by aggregates — no self-join of the
    # two snapshots, and max_by (unlike max(struct)) keeps the aggregate on
    # codegen'd HashAggregates with map-side partials
    p = plan_of(build(spark, "crawl_snapshot_delta"))
    assert "Join" not in p
    assert "SortAggregate" not in p
    assert "HashAggregate" in p
    tree = p.split("\n\n", 1)[0]
    # one agg exchange + the output orderBy's range exchange
    assert tree.count("Exchange") == 2


def test_host_blocklist_joins_broadcast(spark):
    # the denylist side must broadcast (a production UT1 list is tens of
    # MB); the per-host fact side must never shuffle for the join itself
    p = plan_of(build(spark, "url_host_blocklist"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_cms_sketch_is_hash_agg_plus_topk(spark):
    # the grid build must be hash-aggregable (cell-wise additive → map-side
    # partials) and the candidate selection a TakeOrderedAndProject; the
    # probe join must be a hash equi-join on (i, bucket), never a sort-merge
    # over the token table
    p = plan_of(build(spark, "heavy_hitters_cms"))
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "SortAggregate" not in p and "ObjectHashAggregate" not in p


def test_tdigest_round_trip_is_two_grouped_maps_plus_broadcast(spark):
    # build leg: one codegen'd histogram agg feeding a grouped-map per
    # partition×lang; judge leg: grouped-map per lang with the corpus-exact
    # arrays joined BROADCAST (the digest frame is tiny, the corpus frame is
    # bounded) — never a sort-merge join, a cartesian, or per-row Python
    p = plan_of(build(spark, "tdigest_quantiles"))
    tree = p.split("\n\n", 1)[0]
    assert tree.count("FlatMapGroupsInPandas") == 2
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_fk_check_is_one_broadcast_join_pass(spark):
    # the child table must be scanned once: broadcast left join against the
    # parent keys with the per-partition verdict agg riding the same pass —
    # no sort-merge shuffle of the child, no per-row Python
    p = plan_of(build(spark, "fk_orphan_check"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_theta_sketch_rank_is_window_group_limited(spark):
    # the K-th-smallest rank must carry the r <= K filter into a
    # WindowGroupLimit (each partition forwards at most K rows into the
    # per-scope sort) — without it the sketch sorts every distinct hash.
    # Pin on the pre-checkpoint frame: the query's own explain hides the
    # rank subtree behind the lineage cut.
    from skyline_spark.catalog.sketch_queries import _theta_estimates

    p = plan_of(_theta_estimates(spark, SF_DIR))
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p


AUDIT_FAMILY = [
    "column_profile",
    "constraint_suggestion",
    "fd_check",
    "corpus_divergence_js",
    "ngram_dup_rate",
    "crawl_fetch_plan",
]


@pytest.mark.parametrize("name", AUDIT_FAMILY)
def test_audit_family_no_rowwise_python_or_nlj(spark, name):
    p = plan_of(build(spark, name))
    assert "BatchEvalPython" not in p
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p


def test_js_divergence_totals_broadcast(spark):
    # the per-lang totals join back onto the (lang, token) counts as a
    # BroadcastHashJoin (tot is lang-sized); candidate volume never
    # all-pairs, the one corpus-sized shuffle is the token aggregate
    # the corpus-sized work happens once, behind the lineage cut: pin the
    # pre-checkpoint frame at exactly two corpus explodes (one per
    # snapshot, never four) and one token shuffle
    from skyline_spark.catalog.audit_queries import _js_token_counts

    pre = plan_of(_js_token_counts(spark, SF_DIR))
    pre_tree = pre.split("\n\n", 1)[0]
    assert pre_tree.count("Generate") == 2
    assert pre_tree.count("Scan parquet") == 2
    assert pre_tree.count("Exchange") == 1
    # the final plan reuses that checkpointed frame on BOTH join sides
    # (two ExistingRDD scans), with the lang-sized totals broadcast
    p = plan_of(build(spark, "corpus_divergence_js"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan ExistingRDD") == 2
    assert tree.count("Scan parquet") == 0


def test_fetch_plan_rollup_reuses_window_partitioning(spark):
    # the (host, slot) rollup must NOT add an Exchange after the host
    # window's: slot grouping is a prefix-extension of the window
    # partitioning, so rows are already co-located. 3 exchanges total:
    # distinct urls, host window, final presentation sort.
    p = plan_of(build(spark, "crawl_fetch_plan"))
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Exchange") == 3


def test_fd_check_is_multi_distinct_expand_plus_tiny_rollup(spark):
    # both RHS distinct counts ride ONE Expand-based url aggregation (no
    # self-join, no second scan), then a 1-row rollup explodes back to the
    # two FD verdict rows
    p = plan_of(build(spark, "fd_check"))
    assert "Expand" in p
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree


def test_robots_rules_broadcast_no_corpus_self_join(spark):
    # the rules side is host-count-sized and must broadcast; the url side
    # makes one pass (prefix match inside the broadcast join + per-url
    # argmax window) — no SortMergeJoin, no nested loop
    p = plan_of(build(spark, "robots_policy_eval"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_anchor_text_single_scan_no_docs_join(spark):
    # anchor is computed in the edge-derivation projection: NO docs-to-docs
    # join — exactly two scans (the n_nodes count + the edge/anchor pass;
    # at scale the count comes from table metadata), count side broadcast
    p = plan_of(build(spark, "anchor_text_topk"))
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 2
    assert "BroadcastNestedLoopJoin Cross" in tree  # 1-row count broadcast
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p


def test_confusion_matrix_tiny_grid(spark):
    p = plan_of(build(spark, "lang_confusion_matrix"))
    assert "BatchEvalPython" not in p
    assert "Join" not in p.split("\n\n", 1)[0]  # window reuses the grid


def test_expectations_enforce_single_pass(spark):
    # the whole suite evaluates in ONE corpus pass: projection flags, one
    # (url, survived) window, a singleton aggregate exploded to the ledger
    p = plan_of(build(spark, "expectations_enforce"))
    tree = p.split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1
    assert "Join" not in tree
    assert "BatchEvalPython" not in p
    import re
    assert len(re.findall(r"^\s*[+:]- Window", tree, re.M)) == 1


@pytest.mark.parametrize(
    "name",
    ["boilerplate_line_dedup", "winsorize_doclen", "bpe_char_coverage"],
)
def test_round4_small_sides_broadcast(spark, name):
    # each of these claims its small side broadcasts (judged-boilerplate
    # lines, per-lang p99 row, the training character inventory) — the
    # fact side must never be shuffled for the join
    p = plan_of(build(spark, name))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_flood_guard_cap_is_broadcast_anti_join(spark):
    # round-5 guard shape: the over-cap key list is tiny on probed corpora,
    # so the cap plans a BroadcastHashJoin LeftAnti — never a shuffled
    # (SortMerge) join of the band table against its own bucket counts (the
    # first cut's semi-join shape, measured 1.5-2.7x on the dedup stanzas).
    # NOTE the broadcast comes from Catalyst's own estimate, NOT a static
    # F.broadcast hint: the hot-list size is data-dependent and unbounded,
    # and under AQE the final join strategy is re-decided from the ACTUAL
    # aggregate size — a pathological corpus degrades to a shuffled
    # anti-join instead of a driver OOM (_cap_band_buckets docstring).
    # So the pin reads AQE's FINAL plan, after an action. At the production
    # cap the fixture has no over-cap bucket and AQE prunes the empty
    # anti-join away entirely; cap 1 makes the guard drop rows, so the
    # runtime-chosen join is actually there to inspect.
    from pyspark.sql import functions as F

    from skyline_spark.catalog.registry import load
    from skyline_spark.catalog.text_queries import (
        SIMHASH_BAND_CAP,
        _cap_band_buckets,
        _simhash_bands,
    )
    from skyline_spark.functions import text as X

    d = load(spark, SF_DIR, "documents").select(
        "doc_id",
        X.text_hashes_udf()(F.col("text")).getField("simhash").alias("sh"),
    )
    bands = _simhash_bands(d)
    n_bands = bands.count()
    for cap in (SIMHASH_BAND_CAP, 1):
        capped = _cap_band_buckets(bands, ["band_id", "band_val"], cap)
        n_kept = len(capped.collect())  # the action that settles AQE's plan
        tree = plan_of(capped).split("\n\n", 1)[0]
        assert "== Final Plan ==" in tree
        final = tree.split("== Initial Plan ==", 1)[0]
        assert "SortMergeJoin" not in final
        assert "CartesianProduct" not in final
        if cap == 1:
            assert 0 < n_kept < n_bands
            assert "BroadcastHashJoin LeftAnti" in final


def test_exact_collapse_is_partial_agg_and_respread(spark):
    # the exact-dup pre-collapse must (a) partially aggregate map-side
    # before its shuffle (k copies of one page never cross the wire) and
    # (b) re-spread the aggregate output so AQE's post-shuffle coalescing
    # cannot single-task the downstream signature kernels
    from skyline_spark.catalog.registry import load
    from skyline_spark.catalog.text_queries import _collapse_exact_docs

    p = plan_of(_collapse_exact_docs(load(spark, SF_DIR, "documents")))
    # partial (map-side) min/min_by before the key exchange — min_by with a
    # string payload plans as SortAggregate, so assert the partial FUNCTIONS
    # rather than an aggregate-operator name
    assert "partial_min" in p
    assert "RoundRobinPartitioning" in p


def test_run_metrics_row_is_broadcast_assembly(spark):
    # the per-run metrics row meets its three 1-row legs via broadcast —
    # no sort-merge join, no row-wise Python
    from skyline_spark.plans.checkpoint import run_metrics_rows
    from skyline_spark.plans.validate import VERDICT_SCHEMA

    verd = spark.createDataFrame([], VERDICT_SCHEMA)
    p = plan_of(run_metrics_rows(verd, "r", 1_700_000_000.0))
    assert "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p


def test_train_profile_stays_arrow_free_and_equi_joined(spark):
    # the profile-training twin runs the 101-calculator relational matrix
    # (pure Catalyst aggregates) over three struct-keyed variants: no
    # row-wise Python anywhere, no cartesian explosion (the only sanctioned
    # nested-loop is the 1-row span broadcast)
    p = plan_of(build(spark, "ionosphere_train_profile"))
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_salted_host_quantiles_is_two_phase_no_python(spark):
    # the skew-immune quantile shape: phase 1 is a PARTIAL (map-side)
    # count aggregate keyed (host, value) — a 50%-hot host never lands on
    # one reducer as raw rows — and phase 2's window runs over the per-host
    # count VECTOR; no Python anywhere, no nested-loop join
    p = plan_of(build(spark, "salted_host_quantiles"))
    assert "partial_count" in p
    assert "Window" in p
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_lsh_recall_exact_side_restricted_to_reps(spark):
    # the recall gauge's exact side meets the rep id set via LeftSemi
    # (hash/broadcast) joins — the comparison corpus is the SAME collapsed
    # corpus the LSH side runs on, and no nested-loop sneaks in
    p = plan_of(build(spark, "dedup_lsh_recall"))
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def _plan_files(df) -> set[str]:
    """Every file ``df``'s plan reads: ``inputFiles()`` plus the files of
    each relation in the ANALYZED plan. The second matters because
    ``inputFiles()`` walks the optimized plan, where a cached subtree is an
    opaque InMemoryRelation leaf — exactly the subtrees Spark re-caches
    when a path they read is written."""
    files = set(df.inputFiles())
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            files.update(leaf.relation().inputFiles())
    return files


@pytest.mark.parametrize("pruned", [False, True], ids=["full", "pruned"])
def test_validation_result_never_reads_the_checkpoint(spark, tmp_path, pruned):
    # validate() reads the checkpoint once, behind a barrier: no frame it
    # returns (or caches under them) may plan a scan of the checkpoint
    # location, or the run's own append_checkpoint would re-cache those
    # frames and re-run the validation over its own rows
    import dataclasses
    from pathlib import Path

    from pyspark.sql import DataFrame

    from skyline_spark.config import ValidationConfig
    from skyline_spark.plans.checkpoint import append_checkpoint, load_checkpoint
    from skyline_spark.plans.validate import validate
    from skyline_spark.sources.synth import synth_pages

    pages_path = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    synth_pages(spark, 3_000, 6, defects=False).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    first = validate(pages, checkpoint_path=ckpt, run_id="r1", run_ts=1_786_060_800.0)
    append_checkpoint(first.checkpoint, ckpt)
    first.release()
    ckpt_dir = str(Path(ckpt).resolve())
    assert any(Path(ckpt).rglob("*.parquet"))

    res = validate(
        pages, ValidationConfig(pruned_resume=pruned), checkpoint_path=ckpt,
        run_id="r2", run_ts=1_786_060_900.0,
    )
    frames = {
        f.name: getattr(res, f.name)
        for f in dataclasses.fields(res)
        if isinstance(getattr(res, f.name), DataFrame)
    }
    assert {"verdicts", "violations", "checkpoint", "stats", "samples", "run_metrics"} <= set(frames)
    # the walk does see a checkpoint scan, cached or not
    direct = load_checkpoint(spark, ckpt).cache()
    assert any(ckpt_dir in p for p in _plan_files(direct))
    direct.unpersist()
    for name, df in frames.items():
        assert not [p for p in _plan_files(df) if ckpt_dir in p], name
    res.release()


@pytest.mark.parametrize("mode", ["targets", "latest"])
def test_drift_is_one_shuffle_into_map_in_arrow(spark, tmp_path, mode):
    # the drift stage ships one row per (lang, stat) series to the Python
    # worker: the groupBy that packs each series is the ONLY shuffle between
    # the stats scan and the Python node (targets and samples broadcast),
    # and no per-point grouped map or row-at-a-time UDF comes back
    import datetime
    import re

    from skyline_spark.plans.drift import drift_verdicts

    base = datetime.date(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), lang, stat, 0, float(i))
        for i in range(10)
        for lang in ("en", "de")
        for stat in ("text_len_avg", "row_count")
    ]
    path = str(tmp_path / "stats")
    spark.createDataFrame(
        rows, "partition_date date, lang string, stat string, fingerprint long, value double"
    ).write.parquet(path)
    samples = spark.createDataFrame(
        [(base, "en", "text_len", [1.0, 2.0])],
        "partition_date date, lang string, stat string, sample array<double>",
    )
    targets = spark.createDataFrame([(base, "en")], "partition_date date, lang string")
    out = drift_verdicts(
        spark.read.parquet(path), samples,
        targets_df=targets if mode == "targets" else None,
        drift_stats=["text_len_avg", "row_count"],
        latest_only=mode == "latest",
    )
    p = plan_of(out, "simple")
    assert "MapInArrow" in p
    assert "FlatMapGroupsInPandas" not in p and "BatchEvalPython" not in p
    assert len(re.findall(r"(?<!Broadcast)Exchange hashpartitioning\(lang#\d+, stat#\d+", p)) == 1
    assert len(re.findall(r"(?<!Broadcast)Exchange ", p)) == 1
    assert p.count("BroadcastExchange") == (2 if mode == "targets" else 1)
