"""Physical-plan quality gates (SURVEY.md §4; the 100 TB story).

Correctness tests prove the WHAT; these prove the HOW survives a
100x scale-up: filters reach the parquet scan, projections prune
columns, small dims broadcast, top-k uses per-partition heaps, the
banded theta join never degenerates into a nested loop, and aggregates
keep their map-side partial phase.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from hbasemapreduce_spark.registry import all_specs

from .conftest import SF_DIR, explain_text


def plan_of(spark, key: str, mode: str = "formatted") -> str:
    return explain_text(all_specs()[key].fn(spark, SF_DIR), mode)


def test_scan_project_prunes_columns(spark):
    plan = plan_of(spark, "scan_project")
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # untouched columns must NOT be read from parquet
    assert "l_comment" not in read_schema and "l_returnflag" not in read_schema


def test_scan_range_pushes_filters(spark):
    plan = plan_of(spark, "scan_range")
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "GreaterThanOrEqual(l_orderkey,1000" in pushed
    assert "LessThan(l_orderkey,2000" in pushed


def test_filter_value_pushes_predicate(spark):
    plan = plan_of(spark, "filter_value")
    assert "GreaterThan(l_quantity,45" in plan


def test_join_star_broadcasts_dims(spark):
    plan = plan_of(spark, "join_star")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    # TakeOrderedAndProject = per-partition heap + merge: O(k) memory per
    # task at any scale, never a global sort.
    assert "TakeOrderedAndProject" in plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan_of(spark, "page_limit")


def test_theta_range_is_equi_join(spark):
    # The banded rewrite must plan as a hash/sort-merge EQUI join on the
    # slot key; a nested-loop plan here would be O(n*m) at scale.
    plan = plan_of(spark, "join_theta_range")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_sum_has_partial_aggregate(spark):
    # partial+final HashAggregate = map-side combine (the Combiner the
    # MR reference had to hand-write).
    plan = plan_of(spark, "agg_group_sum")
    assert plan.count("HashAggregate") >= 2


def test_scan_full_uses_columnar_scan(spark):
    plan = plan_of(spark, "scan_full")
    assert "Scan parquet" in plan


@pytest.mark.parametrize("key", ["wordcount", "text_tf_topterms", "dedup_exact"])
def test_text_paths_stay_jvm_side(spark, key):
    # No Python evaluation in hot text paths — BatchEvalPython or
    # ArrowEvalPython in these plans would mean a 10-100x slowdown.
    plan = plan_of(spark, key)
    assert "EvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark):
    # Both sides pre-bucketed on the join key: the sort-merge join must
    # read bucket files directly — an Exchange here would mean the
    # ingest-time bucketing shuffle is being paid again on every query.
    plan = plan_of(spark, "x_join_bucketed")
    join_section = plan.split("HashAggregate")[0]  # up to the first agg
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_section


def test_compaction_reduces_file_count(spark, tmp_path):
    # Compaction must collapse a genuinely fragmented partitioned layout
    # (3 appended ingest batches x 2 files each = up to 6 files per
    # partition) to exactly ONE data file per partition with identical
    # rows — file-count reduction is the whole point and the SQL oracle
    # behind x_etl_compact cannot see it.  The fragmented source is
    # fabricated here because at sf0.001 AQE coalesces the salted sink
    # write into one task (the staged layout is already compact).
    import glob
    import os

    from pyspark.sql import functions as F

    from hbasemapreduce_spark.catalog import load_table
    from hbasemapreduce_spark.operators.scans import compact_partitioned
    from .conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    frag = str(tmp_path / "frag")
    for batch in range(3):  # streaming-ingest-style appends
        (
            orders.filter(F.pmod("o_orderkey", F.lit(3)) == batch)
            .repartition(2)
            .write.mode("append")
            .partitionBy("o_year")
            .parquet(frag)
        )
    out = compact_partitioned(spark, frag, str(tmp_path / "compact"), "o_year")

    frag_years = sorted(glob.glob(os.path.join(frag, "o_year=*")))
    out_years = sorted(glob.glob(os.path.join(out, "o_year=*")))
    assert [os.path.basename(d) for d in out_years] == [
        os.path.basename(d) for d in frag_years
    ] and frag_years
    assert any(len(glob.glob(os.path.join(d, "*.parquet"))) > 1 for d in frag_years)
    for d in out_years:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    # rows survive exactly
    a = spark.read.parquet(frag).groupBy("o_year").agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("s")
    )
    b = spark.read.parquet(out).groupBy("o_year").agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("s")
    )
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_partition_pruned_scan(spark):
    # The year-predicate must become a PartitionFilter (directory-level
    # pruning: files outside o_year=1997 are never listed or opened) —
    # NOT a PushedFilter evaluated per row group.
    plan = plan_of(spark, "x_scan_partition_pruned")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "o_year" in pf[0] and "1997" in pf[0]


def test_dpp_join_prunes_dynamically(spark):
    # The fact scan must carry a dynamicpruningexpression: the partition
    # list comes from executing the dim subquery at runtime, not from a
    # static predicate — Spark's mechanism for partition-wise fact
    # pruning behind a join.
    plan = plan_of(spark, "x_join_dpp")
    assert "dynamicpruning" in plan.lower()


def test_decile_targets_broadcast(spark):
    # The 10-rows-per-group boundary table joins back via broadcast —
    # the windowed frame must never be shuffled against it.
    plan = plan_of(spark, "x_agg_decile")
    assert "BroadcastHashJoin" in plan


def test_ivf_probe_is_equi_join(spark):
    # The inverted-list lookup (assigned ⋈ probes on cent_id) must be a
    # broadcast EQUI join — candidate generation cost is nprobe/nlist of
    # the corpus, never a pairwise comparison against all of it.
    plan = plan_of(spark, "x_sim_ivf")
    assert "BroadcastHashJoin" in plan


def test_knn_graph_ivf_candidates_are_equi_join(spark):
    # VERDICT r4 item 4: the kNN-graph scale variant's candidate join
    # (probes ⋈ assigned on cent_id) must be an EQUI join — both sides
    # are corpus-sized, so the per-pair work is bounded by list size.
    # The only nested-loop node allowed is the 1-row centroid-array
    # broadcast used for zero-shuffle probe selection.
    plan = plan_of(spark, "x_sim_knn_graph_ivf")
    assert any(
        n in plan for n in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), "candidate generation lost its equi-join"
    # The 1-row centroid-array broadcast appears once per branch (probes
    # and assigned both derive from it) — 2 BNLJ nodes, never more.
    # ") BroadcastNestedLoopJoin" matches the per-node detail header of
    # the formatted plan exactly once per node (the tree section renders
    # the same node again with a "+-"/":-" prefix, so a raw substring
    # count would double it).
    assert plan.count(") BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "key",
    [
        "x_text_unigram_lm",  # token-frequency dictionary
        "x_text_keywords",    # document-frequency dictionary
        "x_join_fuzzy",       # name-level aggregate (grows with |part|)
        "x_agg_skyline",      # Pareto front (sf-linear on correlated data)
    ],
)
def test_data_dependent_dims_broadcast_via_aqe(spark, key):
    # These dimension tables carry NO broadcast hint (r7: vocabularies,
    # name aggregates and skylines all grow with the data, so pinning
    # the broadcast would OOM exactly like the x_basket_lift item
    # dictionary ADVICE r6 flagged).  The scale contract is therefore
    # AQE's: at a sf where the dimension fits, the EXECUTED adaptive
    # plan must still converge to a broadcast join — proving the
    # hint-free formulation keeps the small-dimension fast path.
    df = all_specs()[key].fn(spark, SF_DIR)
    df.collect()  # executing df's own plan finalizes its AQE stages
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan


def test_contamination_broadcasts_benchmark(spark):
    plan = plan_of(spark, "x_contamination_ngram")
    assert "BroadcastHashJoin" in plan


def test_no_python_eval_outside_udx_multimodal(registry_plans):
    # Python (even Arrow-batched) belongs only where semantics demand
    # it; everywhere else the plan must stay inside the JVM.  The scan
    # covers every Python-exec node shape (row UDF = BatchEvalPython,
    # pandas UDF = ArrowEvalPython, mapInPandas / applyInPandas =
    # *InPandas), not just the EvalPython substring.
    allowed_categories = {"udx", "llm_multimodal"}
    # Pinned per-key exceptions:
    # - x_text_winnow: semantics are JVM-expressible but only at
    #   O(grams x w) in interpreted HOFs (measured 7 s at sf0.1); the
    #   Arrow monotonic-deque path is O(grams).  See functions/text.py.
    # - x_emb_gram_gemm: IS the documented numpy-GEMM scale path of
    #   x_emb_gram (mapInPandas partial GEMM per partition) — Python by
    #   design, oracle-identical to the JVM formulation.
    # - x_layout_hilbert: the stateful 16-level xy->d rotation loop is
    #   interpreted as a JVM HOF fold (8.6 s at sf0.1); the vectorized
    #   numpy bit loop over Arrow batches is the winnow-style fix, and
    #   the full-hash DuckDB oracle checks it end-to-end.
    allowed_keys = {"x_text_winnow", "x_emb_gram_gemm", "x_layout_hilbert"}
    python_nodes = ("EvalPython", "InPandas")
    offenders = []
    for key, s in all_specs().items():
        if s.category in allowed_categories or key in allowed_keys:
            continue
        plan = registry_plans[key].formatted()
        if any(n in plan for n in python_nodes):
            offenders.append(key)
    assert not offenders, f"Python in the hot path: {offenders}"


_BNLJ_WHITELIST = {
    # broadcast-of-content-bounded-side cross joins, each deliberate:
    "stream_late_data",   # 1-row max-ts scalar
    "sim_cosine_topk",    # brute-force baseline: broadcast query set
    "x_sim_bitext_margin",  # vec_id<200-bounded query-side broadcast
    "x_privacy_tcloseness",  # 1-row global-distribution scalar
    "x_agg_kmv_merge",       # 2x 1-row scalars (true count, shard count)
    "x_agg_kmv_intersect",   # 1-row theta/common/true scalars
    "x_agg_kmv_difference",  # same 1-row scalar shape as its twin
    "x_agg_hdr_quantiles",   # 3-literal-row percentile table broadcast
    "x_agg_hdr_merge",       # same 3-row percentile broadcast as its twin
    "x_sim_ivf",          # nlist-bounded centroid table
    "x_sim_knn_graph_ivf",  # 1-row centroid-ARRAY scalar (probe selection)
    "x_text_langid",      # n-languages-bounded profile table
    "x_cell_versions",    # 1-row TTL-cutoff scalar
    "x_layout_zorder",    # 1-row key-bounds scalar for z normalization
    "x_time_gapfill",     # spine synthesis: distinct types x hour sequence
    "x_win_distinct_rolling",  # 1-row end-of-series cutoff scalar
    "x_rank_bm25",        # 1-row corpus-stats scalar (n_docs, avgdl)
    "x_tpch_q11",         # 1-row national-total scalar threshold
    "x_tpch_q15",         # 1-row max-revenue scalar
    "x_tpch_q22",         # 1-row avg-positive-balance scalar threshold
    "x_graph_pagerank",   # 1-row base-rank scalar (10^12 DIV n_nodes)
    "x_graph_triangles",  # 4x 1-row census scalars cross-joined
    "x_agg_sketch_cms",   # 1-row total-tokens scalar threshold
    "x_agg_sketch_cms_portable",  # same 1-row total scalar as its twin
    "x_ml_centroid_classify",  # 1-row centroid-ARRAY scalar (|labels|-bounded)
    "x_ml_kmeans",        # 1-row centroid-ARRAY scalar (k-bounded), twice
    "x_quality_rules",    # 3x 1-row rule-summary scalars cross-joined
    "x_sim_maxsim",       # |Q|-bounded query-vector bag broadcast
    "x_ml_knn_classify",  # id-capped (<25) held-out query-set broadcast
    "x_text_bpe_train",   # 1-row best-pair scalar per merge round
    "x_sim_ivf_kmeans",   # k-bounded trained-centroid table (x_sim_ivf's shape)
    "x_stats_ks_drift",   # 1-row calendar-midpoint scalar
    "x_sim_sparse_topk",  # 1-row corpus-count scalar (max-df cut)
    "x_stream_chained_agg",  # 1-row max-ts scalar (finalization cut)
    "x_emb_pq",           # 4x 1-row sub-codebook ARRAY scalars
    "x_sim_ivfpq",        # coarse-centroid + sub-codebook ARRAY scalars
    "x_text_chi2_terms",  # 1-row corpus-count scalar (margin filter)
    "x_graph_modularity", # 1-row directed-edge-total scalar
    "x_pipeline_rag_index",  # k-bounded centroid ARRAY scalar (list assign)
    "x_text_collocations",  # 2x 1-row corpus-total scalars (n_tok, n_big)
    "x_rank_rrf",         # 1-row query-embedding scalar (dense arm)
    "x_data_mixture",     # 1-row corpus-total scalar (t_tokens, n_src)
    "x_eval_ann_recall",  # inherits both arms' content-bounded broadcasts
    "x_filter_bloom",     # 1-row bloom-bitmap ARRAY scalar (m-bounded)
    "x_stats_benford",    # 1-row total-count scalar against the 9-digit spine
    "x_eval_rank_corr",   # inherits x_rank_bm25's 1-row corpus-stats scalar
    "x_text_keywords",    # 1-row corpus-doc-count scalar (micro-idf)
    "x_text_lm_score",    # 1-row vocabulary-size scalar (add-one smoothing)
    "x_eval_ndcg",        # 1-row calendar-midpoint scalar (ks_drift pattern)
    "x_time_seasonal_anomaly",  # 1-row residual-moments scalar (n, S, SS)
    "x_ml_pca_power",     # 1-row normalization/Rayleigh scalars (m1, m2, ray)
    "x_contamination_semantic",  # benchmark-bounded embedding set broadcast
    "x_ml_gini_stump",    # 1-row parent-impurity scalar against the split grid
    "x_layout_hilbert",   # 1-row key-bounds scalar (x_layout_zorder pattern)
    "x_graph_hits",       # 1-row init-mass + renormalization-total scalars
    "x_stats_cramers_v",  # margin-table grid spine + 1-row totals scalar
    "x_stream_dup_rate",  # 1-row max-ts scalar (finalization cut)
    "x_basket_lift",      # 1-row basket-total scalar (lift denominator)
    "x_eval_classification",  # inherits the classifier's 1-row centroid scalar
    "x_eval_calibration",     # inherits the classifier's 1-row centroid scalar
    "x_eval_auc",             # inherits the classifier's 1-row centroid scalar
    "x_privacy_rr_freq",  # 1-row domain-list + 1-row total scalars
    "x_eval_langid",      # inherits x_text_langid's bounded profile broadcast
    "x_ml_boost_round",   # 1-row winning-split scalar between rounds
    "x_stream_srm",       # 1-row max-ts scalar (finalization cut)
    "x_stats_cuped",      # 1-row calendar-midpoint scalar (ks_drift pattern)
    "x_stats_did",        # 1-row calendar-midpoint scalar (ks_drift pattern)
    "x_eval_mrr",         # 1-row calendar-midpoint scalar (ndcg pattern)
    "x_eval_recall_at_k", # 1-row calendar-midpoint scalar (ndcg pattern)
    "x_region_split_points",  # 1-row cut-point array scalar (7 cuts, content-bounded)
    "x_agg_decay_topk",   # 1-row max-ts scalar (decay reference time)
    "x_agg_heavy_hitters",  # 2x 1-row scalars (merge threshold, error bound)
    "x_dedup_embedding",  # 1-row initial-nlist scalar (nprobe basis, ADVICE r11)
    "x_dedup_semantic",   # 1-row initial-nlist scalar (nprobe basis, ADVICE r11)
    "x_layout_zonemap",   # 2x 1-row row-count scalar (r13 ntile bucket arithmetic)
}


def test_nested_loop_joins_only_where_whitelisted(registry_plans):
    # A BroadcastNestedLoopJoin is O(n*m) compute even when one side is
    # small — acceptable ONLY when the broadcast side is bounded by
    # CONTENT (a scalar, a query set, centroids, language profiles),
    # never by corpus size.  Registry-wide audit, pinned to the known
    # deliberate cases so a new operator cannot silently regress.
    offenders = [
        key
        for key, s in all_specs().items()
        if key not in _BNLJ_WHITELIST
        and "BroadcastNestedLoopJoin" in registry_plans[key].formatted()
    ]
    assert not offenders, f"unexpected nested-loop joins: {offenders}"


def test_no_cartesian_product_anywhere(registry_plans):
    # A CartesianProduct node is O(n*m) with full materialization —
    # never acceptable; even the brute-force cosine top-k must be a
    # broadcast nested loop, not a shuffle cartesian.
    offenders = [
        key
        for key in all_specs()
        if "CartesianProduct" in registry_plans[key].formatted()
    ]
    assert not offenders, f"cartesian products: {offenders}"


def test_zorder_layout_tightens_both_key_spans(spark, tmp_path):
    # Z-order's payoff is physical: after repartitionByRange on the
    # normalized interleaved z-value, a typical output file covers only
    # a small fraction of the key range in BOTH dimensions, so parquet
    # min/max stats can skip files for predicates on either key.  A
    # single-key sort scores ~1.0 on the metric below (every file spans
    # the full second dimension); z-order must land far under it.  The
    # metric is a MEAN because a file straddling a z-quadrant boundary
    # legitimately covers a wide range — straddlers are a bounded
    # fraction of files, which is exactly what the mean captures.
    import glob

    from pyspark.sql import functions as F

    from hbasemapreduce_spark.catalog import load_table
    from hbasemapreduce_spark.functions.zorder import normalize, z_value
    from .conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    bounds = li.agg(
        F.min("l_orderkey").alias("ok_mn"),
        F.max("l_orderkey").alias("ok_mx"),
        F.min("l_partkey").alias("pk_mn"),
        F.max("l_partkey").alias("pk_mx"),
    )
    zed = (
        li.crossJoin(F.broadcast(bounds))
        .withColumn("an", normalize("l_orderkey", "ok_mn", "ok_mx"))
        .withColumn("bn", normalize("l_partkey", "pk_mn", "pk_mx"))
        .withColumn("zv", z_value("an", "bn"))
        .select("l_orderkey", "l_partkey", "zv")
    )
    out = str(tmp_path / "zorder")
    zed.repartitionByRange(16, "zv").sortWithinPartitions("zv").write.parquet(out)

    b = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.min("l_partkey"), F.max("l_partkey")
    ).collect()[0]
    ok_span, pk_span = b[1] - b[0], b[3] - b[2]

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 16
    import pyarrow.parquet as pq

    fracs = []
    for f in files:
        t = pq.read_table(f, columns=["l_orderkey", "l_partkey"])
        ok = t.column("l_orderkey").to_pylist()
        pk = t.column("l_partkey").to_pylist()
        fracs.append(
            max((max(ok) - min(ok)) / ok_span, (max(pk) - min(pk)) / pk_span)
        )
    mean_frac = sum(fracs) / len(fracs)
    # 16 z-range files over a 4x4 grid -> typical max-dimension fraction
    # ~0.25-0.3 plus a few straddlers; a single-key sort scores ~1.0
    assert mean_frac <= 0.6, f"z-order not tightening both keys: {mean_frac:.2f} {fracs}"


def test_hilbert_layout_at_least_as_tight_as_zorder(spark, tmp_path):
    # The x_layout_hilbert docstring's claim, measured: consecutive
    # Hilbert positions are always grid neighbours (no quadrant-seam
    # jumps), so on the same 16-file range layout its mean max-dimension
    # envelope fraction must land at or under Z-order's (observed:
    # ~0.30 vs ~0.41 at sf0.001; 5% tolerance absorbs file-boundary
    # placement noise).
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hbasemapreduce_spark.catalog import load_table
    from hbasemapreduce_spark.functions.zorder import (
        hilbert_map,
        normalize,
        z_value,
    )
    from .conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    bounds = li.agg(
        F.min("l_orderkey").alias("ok_mn"),
        F.max("l_orderkey").alias("ok_mx"),
        F.min("l_partkey").alias("pk_mn"),
        F.max("l_partkey").alias("pk_mx"),
    )
    base = (
        li.crossJoin(F.broadcast(bounds))
        .withColumn("an", normalize("l_orderkey", "ok_mn", "ok_mx"))
        .withColumn("bn", normalize("l_partkey", "pk_mn", "pk_mx"))
    )
    b = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.min("l_partkey"), F.max("l_partkey")
    ).collect()[0]
    ok_span, pk_span = b[1] - b[0], b[3] - b[2]

    def mean_frac(df, col, sub):
        out = str(tmp_path / sub)
        df.repartitionByRange(16, col).sortWithinPartitions(col).write.parquet(out)
        fracs = []
        for f in sorted(glob.glob(f"{out}/part-*.parquet")):
            t = pq.read_table(f, columns=["l_orderkey", "l_partkey"])
            ok = t.column("l_orderkey").to_pylist()
            pk = t.column("l_partkey").to_pylist()
            fracs.append(
                max((max(ok) - min(ok)) / ok_span, (max(pk) - min(pk)) / pk_span)
            )
        return sum(fracs) / len(fracs)

    z = mean_frac(
        base.withColumn("zv", z_value("an", "bn")).select(
            "l_orderkey", "l_partkey", "zv"
        ),
        "zv",
        "z",
    )
    h = mean_frac(
        hilbert_map(base, "an", "bn", keep=["l_orderkey", "l_partkey"], out="hv"),
        "hv",
        "h",
    )
    assert h <= z * 1.05, f"hilbert ({h:.3f}) looser than z-order ({z:.3f})"
    assert h <= 0.6, f"hilbert not tightening both keys: {h:.3f}"


def test_bulkload_files_are_disjoint_and_sorted(spark, tmp_path):
    # The bulk-load contract: one file per region, each internally
    # sorted on the row key, ranges pairwise disjoint — the property
    # that lets HBase adopt HFiles without compaction (and parquet
    # readers prune perfectly on the key).
    import glob

    import pyarrow.parquet as pq

    from hbasemapreduce_spark.catalog import load_table
    from hbasemapreduce_spark.operators.scans import bulkload_ranged
    from .conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    out = bulkload_ranged(orders, str(tmp_path / "bulk"), "o_orderkey", 8)
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 8
    ranges = []
    total = 0
    for f in files:
        keys = pq.read_table(f, columns=["o_orderkey"]).column("o_orderkey").to_pylist()
        assert keys == sorted(keys), f"file not sorted: {f}"
        ranges.append((keys[0], keys[-1]))
        total += len(keys)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping region ranges: {(lo1, hi1)} vs {(lo2, hi2)}"
    assert total == orders.count()


def test_tpch_q13_prunes_to_key_columns(spark):
    # The order-distribution query needs exactly two columns per side;
    # a scan reading more pays corpus-sized IO for nothing at 100 TB.
    plan = plan_of(spark, "x_tpch_q13")
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(reads) == 2
    cust = [r for r in reads if "c_custkey" in r][0]
    orders = [r for r in reads if "o_custkey" in r][0]
    assert "c_name" not in cust and "c_acctbal" not in cust
    assert "o_totalprice" not in orders and "o_orderdate" not in orders


def test_tpch_q4_pushes_quarter_filter(spark):
    # The one-quarter orders filter must reach the parquet scan, not
    # run post-read — partition pruning depends on it at scale.
    plan = plan_of(spark, "x_tpch_q4")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln and "GreaterThanOrEqual" in ln for ln in pushed)


def test_stats_abtest_single_fact_pass(spark):
    # The A/B readout must aggregate the fact stream ONCE; the variant
    # self-comparison happens on the tiny post-aggregate rows.
    plan = plan_of(spark, "x_stats_abtest")
    fact_scans = [
        ln for ln in plan.splitlines()
        if "Location" in ln and "events.parquet" in ln
    ]
    assert len(fact_scans) == 1, f"expected 1 events scan, saw {len(fact_scans)}"


def test_backfill_touches_only_the_corrected_partition(spark):
    """Dynamic partition overwrite: after x_etl_backfill runs, the
    non-corrected year directories still contain their ORIGINAL files
    (same names+sizes as after the base write), and only the earliest
    year was rewritten."""
    import os

    from hbasemapreduce_spark.operators.scans import _write_partitioned_orders
    from hbasemapreduce_spark.functions.staging import sink_dir
    from hbasemapreduce_spark.catalog import load_table

    orders = load_table(spark, SF_DIR, "orders")
    out = sink_dir("backfill_test", os.path.join(SF_DIR, "orders.parquet"))
    _write_partitioned_orders(orders, out)

    def snapshot():
        snap = {}
        for d in os.listdir(out):
            if d.startswith("o_year="):
                pdir = os.path.join(out, d)
                snap[d] = sorted(
                    (f, os.path.getsize(os.path.join(pdir, f)))
                    for f in os.listdir(pdir)
                    if f.endswith(".parquet")
                )
        return snap

    from hbasemapreduce_spark.operators.scans import backfill_earliest_year

    before = snapshot()
    backfill_earliest_year(spark, orders, out)
    after = snapshot()
    y0 = min(int(d.split("=")[1]) for d in before)
    changed = [d for d in before if before[d] != after.get(d)]
    assert changed == [f"o_year={y0}"], (changed, y0)


def test_bottomk_sketch_keys_use_window_group_limit(spark):
    # The bottom-k sketch family's scale claim: Spark rewrites the
    # rank<=k filter into WindowGroupLimit (per-partition partial
    # top-k BEFORE the shuffle) — k rows per partition per group cross
    # the wire, never the corpus.  Pin it for all three sketch keys.
    for key in (
        "x_agg_distinct_kmv",
        "x_agg_quantile_bottomk",
        "x_sample_priority",
        # rank<=k filters with the same claim in their docstrings:
        "x_eval_mrr",        # top-100 per type before the shuffle
        "x_compact_major",   # 2-version retention per cell
    ):
        assert "WindowGroupLimit" in plan_of(spark, key), key


def test_fuzzy_name_join_is_equi_join(spark):
    # PassJoin's candidate generation must be an equi-join on the
    # (seg, txt, plen) blocking key — never a nested-loop/cartesian
    # over the name domain.
    p = plan_of(spark, "x_join_fuzzy_name")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_zonemap_reads_only_needed_columns(spark):
    # The zonemap audit projects 3 columns; the scan must prune to
    # them (date + the two tie-break keys), not read the whole table.
    p = plan_of(spark, "x_layout_zonemap")
    assert "l_extendedprice" not in p
    assert "l_shipdate" in p


def test_sync_table_prunes_clean_ranges(spark):
    # x_sync_table's entire value over the naive diff (its oracle) is
    # that clean rowkey ranges never reach the row-level full-outer
    # join.  Assert on the DIGEST PHASE ITSELF (via _sync_frames, not
    # the final diff output, which would stay oracle-correct even if
    # the mismatch filter regressed to a tautology): (a) the dirty set
    # is a strict non-empty subset of the combined src∪tgt range
    # domain, (b) it equals exactly the ranges the diff output touches
    # — no false-dirty ranges, none missed — and (c) the dirty-range
    # filter is a broadcast SEMI join, so the row phase shuffles
    # nothing to prune.
    from hbasemapreduce_spark.operators.pipeline import (
        _SYNC_BUCKET,
        _sync_frames,
        _sync_row_diff,
    )

    src, tgt, dirty = _sync_frames(spark, SF_DIR)
    dirty_set = {r.bkt for r in dirty.collect()}
    bkt = f"o_orderkey DIV {_SYNC_BUCKET} AS bkt"
    domain = (
        src.selectExpr(bkt).union(tgt.selectExpr(bkt)).distinct().count()
    )
    # reuse the already-built frames — re-invoking the registry fn
    # would run the whole two-table digest subtree a second time
    out = _sync_row_diff(src, tgt, dirty).collect()
    # Spark's DIV truncates toward zero; Python's // floors.  The two
    # agree on the natural keys but diverge on the negated inserted
    # keys (-719 DIV 64 = -11 in Spark, -719 // 64 = -12 in Python),
    # so mirror the engine's semantics here.
    out_set = {int(r.o_orderkey / _SYNC_BUCKET) for r in out}
    assert out, "corruption model produced no diffs"
    assert 0 < len(dirty_set) < domain, (len(dirty_set), domain)
    # out ⊆ dirty always; equality additionally holds on THIS corpus
    # (unique keys -> no duplicate-multiset dirty-without-diff ranges)
    assert dirty_set == out_set
    p = plan_of(spark, "x_sync_table")
    assert "LeftSemi" in p and "BroadcastHashJoin" in p


def test_pass_at_k_is_single_scan_no_joins(spark):
    # The estimator is scalar arithmetic over one (type, problem)
    # aggregate: exactly one fact scan, zero joins — the shape the
    # docstring promises at 100 TB.
    p = plan_of(spark, "x_eval_pass_at_k")
    assert p.count("Scan parquet") // 2 <= 1  # formatted mode lists each node twice
    assert "Join" not in p


def test_range_frame_is_one_keyed_shuffle(spark):
    # rangeBetween must plan as ONE hash partition by user + in-window
    # sort — no extra exchange, no join.
    p = plan_of(spark, "x_win_range_frame")
    assert p.count("Exchange") // 2 <= 1
    assert "Join" not in p and "Window" in p


def test_permutation_test_scans_facts_once(spark):
    # The observed split is salt b=0 of the exploded aggregate, so the
    # fact table is scanned ONCE for observed + all 32 permutations.
    p = plan_of(spark, "x_stats_permutation")
    assert p.count("Scan parquet") // 2 <= 1


def test_sql_pipe_pushes_the_where_stage(spark):
    # The |> WHERE stage must reach the parquet scan exactly like the
    # ANSI form — pipe syntax is a front door, not a plan change.
    p = plan_of(spark, "x_sql_pipe")
    assert "EqualTo(o_orderstatus,F)" in p


def test_scalar_variant_is_pure_projection(spark):
    # parse-once + typed gets: no shuffle, no join — a single codegen
    # projection stage over the scan.
    p = plan_of(spark, "x_scalar_variant")
    assert "Join" not in p
    assert p.count("Exchange") == 0


def test_compact_minor_has_no_joins_and_bounded_shuffles(spark):
    # Minor compaction = union of selected files + aggregates: NO joins
    # anywhere (contrast compact_major's tombstone-mask join).  The
    # merge itself is shuffle-free; the summary pays exactly three
    # bounded keyed shuffles — the marker-file distinct and the
    # two-phase distinct-rowkey census (Spark plans countDistinct as
    # partial -> exchange -> exchange) — all keyed by (row, qualifier),
    # never by cell.
    p = plan_of(spark, "x_compact_minor")
    assert "Join" not in p
    assert p.count("Exchange") // 2 <= 3


def test_join_hint_forces_sort_merge(spark):
    # The merge hint must override the optimizer's broadcast choice
    # (nation is 25 rows — un-hinted this is a BroadcastHashJoin, as
    # join_star's gate proves); identical results are the oracle's job.
    p = plan_of(spark, "x_join_hint_strategy")
    assert "SortMergeJoin" in p
    join_section = p.split("HashAggregate")[0]
    assert "BroadcastHashJoin" not in join_section


def test_partition_evolution_prunes_both_levels(spark):
    # The evolved (o_year, o_month) layout must turn the year predicate
    # into a directory-level PartitionFilter (month rides the same
    # partition spec), and month directories must physically exist.
    import glob
    import os

    p = plan_of(spark, "x_etl_partition_evolution")
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "o_year" in pf[0] and "1997" in pf[0]
    from hbasemapreduce_spark.functions.staging import SCRATCH

    dirs = glob.glob(os.path.join(SCRATCH, "part_evo_*", "o_year=1997", "o_month=*"))
    assert len(dirs) >= 2, "month-level directories missing"


def test_source_snapshot_reads_only_manifest_files(spark):
    # Snapshot isolation is a FILE-SET property: the s1 read must open
    # exactly the files s1's manifest records — never c2's post-snapshot
    # commit files sitting in the same table directory (they contain
    # poison rows: repriced rewrites of s1's own keys).  inputFiles() is
    # the physical scan's file list, so this pins the claim at the plan
    # level; value correctness is the DuckDB oracle's job.
    import tests.conftest as c
    from hbasemapreduce_spark.operators.pipeline import (
        _stage_versioned_orders,
        source_snapshot,
    )

    df = source_snapshot(spark, c.SF_DIR)
    snaps = _stage_versioned_orders(spark, c.SF_DIR)
    opened = {f.replace("file://", "").replace("file:", "") for f in df.inputFiles()}
    s1 = set(snaps["s1"])
    s2_only = set(snaps["s2"]) - s1
    assert opened <= s1, f"scan opened non-manifest files: {opened - s1}"
    assert opened, "scan opened no files"
    assert not (opened & s2_only)
    # the poison commit really exists and really diverges: reading the
    # s2 manifest must change the aggregate (else isolation is vacuous)
    s1_total = df.agg({"cnt": "sum"}).collect()[0][0]
    s2_total = (
        spark.read.parquet(*snaps["s2"]).count()
    )
    assert s2_total > s1_total


def test_source_snapshot_delta_reads_only_new_commit_files(spark):
    # Incremental consumption must touch ONLY the s2-minus-s1 file set —
    # re-reading base files would make the "incremental" read O(table).
    import tests.conftest as c
    from hbasemapreduce_spark.operators.pipeline import (
        _stage_versioned_orders,
        source_snapshot_delta,
    )

    df = source_snapshot_delta(spark, c.SF_DIR)
    snaps = _stage_versioned_orders(spark, c.SF_DIR)
    delta = set(snaps["s2"]) - set(snaps["s1"])
    opened = {f.replace("file://", "").replace("file:", "") for f in df.inputFiles()}
    assert opened, "scan opened no files"
    assert opened <= delta, f"scan opened base files: {opened - delta}"


def test_etl_vacuum_opens_only_orphan_files(spark):
    # GC safety is two-sided: every opened file must be an orphan (no
    # live file is ever a reclaim candidate), and the orphan set must be
    # non-empty (the aborted commit exists) and disjoint from both
    # manifests' live sets.
    import os as _os

    import tests.conftest as c
    from hbasemapreduce_spark.operators.pipeline import (
        _stage_versioned_orders,
        etl_vacuum,
    )

    df = etl_vacuum(spark, c.SF_DIR)
    snaps = _stage_versioned_orders(spark, c.SF_DIR)
    live = set(snaps["s1"]) | set(snaps["s2"])
    opened = {f.replace("file://", "").replace("file:", "") for f in df.inputFiles()}
    assert opened, "vacuum opened no files"
    assert not (opened & live), f"vacuum would reclaim live files: {opened & live}"
    assert all("c0_aborted" in _os.path.dirname(f) for f in opened)


def test_ivf_pair_blocking_is_equi_join_no_label(spark):
    # VERDICT r10 item 2's plan-level pin: the embedding-dedup candidate
    # stage must be a hash EQUI-join on the quantizer list id — never a
    # cartesian/nested-loop pair generator, and never keyed on the
    # 10-value label column (the analyzed plan must not reference label
    # at all).  The two centroid-table broadcasts (training collapse +
    # probe scoring) are the only broadcast nodes expected; neither may
    # be a corpus-sized side.
    p = plan_of(spark, "x_dedup_embedding")
    assert "CartesianProduct" not in p
    assert "label" not in p
    # candidate generation shuffles on cent_id (an equi-join), and the
    # pair dedup is a hash aggregate (map-side partials included)
    assert "cent_id" in p
    assert "HashAggregate" in p
    p2 = plan_of(spark, "x_dedup_semantic")
    assert "CartesianProduct" not in p2
    assert "label" not in p2.split("LeftAnti")[0], (
        "label may appear only in the final projection after the "
        "anti-join, never in pair generation"
    )


def _count_jobs(spark, group: str, action) -> int:
    """Spark jobs started by ``action()`` under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _build_and_write(spark, key: str) -> None:
    all_specs()[key].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()


def test_dedup_clusters_job_budget(spark):
    # Connected components pays one job round-trip per materialization
    # barrier, so the barrier count is the cost to hold.  Build plus the
    # final write of x_dedup_clusters at sf0.001 run 11 jobs (3 rounds
    # per eager checkpoint, convergence observed on the checkpoint job);
    # the slack of one covers AQE re-planning, which can add or drop a
    # job depending on the completion order of concurrent query stages.
    group = "test_dedup_clusters_job_budget"
    n_jobs = _count_jobs(spark, group, lambda: _build_and_write(spark, "x_dedup_clusters"))
    assert n_jobs <= 12, f"x_dedup_clusters ran {n_jobs} jobs (budget 12)"


def test_sparse_topk_job_budget(spark):
    # x_sim_sparse_topk derives each TF-IDF intermediate once: df and the
    # doc norms are windows carried on the postings rather than
    # aggregates joined back, and one inline emits both directions of a
    # scored pair.  Build plus the final write at sf0.001 run 8 jobs (12
    # when the kept postings were re-derived for each of their four uses
    # and the pair aggregate was planned twice); slack of one as above.
    # The documents footer is read first, so a cold schema cache does
    # not count against the operator.
    from hbasemapreduce_spark.catalog import load_table

    load_table(spark, SF_DIR, "documents")
    group = "test_sparse_topk_job_budget"
    n_jobs = _count_jobs(spark, group, lambda: _build_and_write(spark, "x_sim_sparse_topk"))
    assert n_jobs <= 9, f"x_sim_sparse_topk ran {n_jobs} jobs (budget 9)"


def test_audio_energy_runs_one_job(spark):
    # The frame-energy kernel runs on the scan's own splits: build plus
    # the final write is one job with no shuffle (two when a
    # repartition by input bytes put an exchange under the kernel).
    from hbasemapreduce_spark.catalog import load_table

    load_table(spark, SF_DIR, "documents")
    group = "test_audio_energy_runs_one_job"
    n_jobs = _count_jobs(spark, group, lambda: _build_and_write(spark, "x_multimodal_audio_energy"))
    assert n_jobs == 1, f"x_multimodal_audio_energy ran {n_jobs} jobs (budget 1)"


@pytest.mark.parametrize(
    "key, budget",
    [
        # warm-build py4j round trips at sf0.001 as one SQL text per step;
        # the Column-API chains they replace made the counts on the right
        ("x_sim_sparse_topk", 40),  # 23; was 975
        ("x_dedup_ngram_jaccard", 40),  # 23; was 439
        ("x_dedup_clusters", 120),  # 85; was 1080
        ("x_ml_kmeans", 250),  # 193; was 2890
        ("x_emb_pq", 350),  # 281; was 3250
    ],
)
def test_sql_text_builders_round_trip_budget(spark, key, budget):
    # Every Column-API call is several py4j round trips (plus a Python
    # call-site capture), so a builder that chains hundreds of them
    # spends more time building than a small key spends executing.
    import bench

    spec = all_specs()[key]
    spec.fn(spark, SF_DIR)  # warm: schema cache and staged inputs
    with bench.Py4jCalls(spark) as py4j:
        py4j.wrap(key, spec).fn(spark, SF_DIR)
    calls = py4j.calls[key][0]
    assert calls <= budget, f"{key} build made {calls} py4j round trips (budget {budget})"


@pytest.mark.parametrize("key", ["x_source_snapshot", "x_etl_vacuum"])
def test_staged_snapshot_rebuild_runs_no_jobs(spark, key):
    # The staged commit files never change once staged, so their footer
    # schema is inferred once per file version (catalog.read_parquet): a
    # second build plans the scan without running any Spark job.
    fn = all_specs()[key].fn
    fn(spark, SF_DIR)
    n_jobs = _count_jobs(spark, f"test_staged_rebuild_{key}", lambda: fn(spark, SF_DIR))
    assert n_jobs == 0, f"second build of {key} ran {n_jobs} jobs"
