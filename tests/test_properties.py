"""Algebraic invariants (SURVEY.md §5.4) — cheap cross-checks that hold
at ANY scale factor, complementing the value-exact oracle tests.
"""

from __future__ import annotations

import ast

import pytest
from pyspark.sql import functions as F

from hbasemapreduce_spark.catalog import load_table
from hbasemapreduce_spark.functions.determinism import KNUTH
from hbasemapreduce_spark.registry import all_specs

from .conftest import SF_DIR, assert_frames_match, docstring_ids

SPECS = all_specs()


def q(spark, key):
    return SPECS[key].fn(spark, SF_DIR)


def test_union_all_counts_add(spark):
    urgent = load_table(spark, SF_DIR, "orders").filter(F.col("o_orderpriority") == "1-URGENT").count()
    high = load_table(spark, SF_DIR, "orders").filter(F.col("o_totalprice") > 100000).count()
    assert q(spark, "set_union_all").count() == urgent + high


def test_union_distinct_bounds(spark):
    ua, ud = q(spark, "set_union_all").count(), q(spark, "set_union_distinct").count()
    assert ud <= ua


def test_intersect_subset_of_sides(spark):
    inter = {r.custkey for r in q(spark, "set_intersect").collect()}
    building = {
        r.c_custkey
        for r in load_table(spark, SF_DIR, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .collect()
    }
    assert inter <= building


def test_semi_anti_partition_customers(spark):
    total = load_table(spark, SF_DIR, "customer").count()
    assert q(spark, "join_semi").count() + q(spark, "join_anti").count() == total


def test_sessions_bounded_by_events(spark):
    sessions = q(spark, "stream_session")
    n_events_total = load_table(spark, SF_DIR, "events").count()
    agg = sessions.agg(F.sum("n_events").alias("s"), F.count("*").alias("n")).collect()[0]
    assert agg.s == n_events_total  # sessions partition the events
    assert agg.n <= n_events_total
    assert sessions.filter(F.col("duration_us") < 0).count() == 0


def test_dedup_pairs_are_canonical(spark):
    for key in ("dedup_minhash", "x_dedup_simhash", "x_dedup_ngram_jaccard", "x_dedup_embedding"):
        df = SPECS[key].fn(spark, SF_DIR)
        assert df.filter(F.col("id_a") >= F.col("id_b")).count() == 0, key


def test_topk_per_group_bounded(spark):
    per_group = q(spark, "win_topk_per_group").groupBy("o_custkey").count()
    assert per_group.filter(F.col("count") > 3).count() == 0


def test_asof_matches_only_past_orders(spark):
    # matched order must belong to the event's synthetic customer key
    matched = q(spark, "join_asof").filter(F.col("matched_orderkey").isNotNull())
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    events = load_table(spark, SF_DIR, "events").select(
        "event_id", ((F.col("user_id") % 150) + 1).alias("expect_cust")
    )
    joined = matched.join(orders, matched.matched_orderkey == orders.o_orderkey).join(
        events, "event_id"
    )
    assert joined.filter(F.col("o_custkey") != F.col("expect_cust")).count() == 0


def test_wordcount_total_equals_token_count(spark):
    total_tokens = (
        load_table(spark, SF_DIR, "documents")
        .select(F.size(F.split("text", " ")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert q(spark, "wordcount").agg(F.sum("cnt")).collect()[0][0] == total_tokens


def test_sim_topk_exactly_k(spark):
    counts = q(spark, "sim_cosine_topk").groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in counts)


def test_ivf_recall_vs_brute_force(spark):
    # IVF probes nprobe of nlist inverted lists; its top-k must overlap
    # substantially with the exact brute-force top-k (and be exact on
    # whatever it probed: every IVF hit must appear in the exact ranking
    # or be a miss caused by an unprobed list, never a wrong similarity).
    exact = {
        (r.query_id, r.neighbor_id): r.sim
        for r in q(spark, "sim_cosine_topk").collect()
    }
    ivf_rows = SPECS["x_sim_ivf"].fn(spark, SF_DIR).collect()
    n_queries = len({qid for qid, _ in exact})
    hits = sum(1 for r in ivf_rows if (r.query_id, r.neighbor_id) in exact)
    recall = hits / len(exact)
    assert recall >= 0.4, f"IVF recall {recall:.2f} over {n_queries} queries"
    for r in ivf_rows:
        if (r.query_id, r.neighbor_id) in exact:
            assert abs(r.sim - exact[(r.query_id, r.neighbor_id)]) < 1e-9


def test_knn_graph_ivf_recall_vs_label_blocked_exact(spark):
    # The IVF-probed kNN graph (x_sim_knn_graph_ivf) vs the EXACT
    # brute-force top-3 graph over all vectors.  With the quantizer
    # TRAINED (one exact-integer Lloyd round, VERDICT r6 item 7) and
    # SUBLINEAR scaled probing — nprobe = max(7, ceil(nlist^0.75)) of
    # nlist = ceil(n/25) lists (r12, VERDICT r11 item 1) — measured
    # recall on the near-isotropic synthetic corpus is 0.837 at
    # sf0.001 / 0.843 at sf0.01 / 0.797 at sf0.1 (r11's fixed nprobe=7
    # sagged to 0.446 at sf0.1); the floor guards against a
    # regression in training/probe/assignment logic, and the
    # cross-sf sag test below guards the scaling rule itself.
    # Every edge the IVF graph DOES report must carry the exact
    # similarity — misses come only from unprobed lists, never from a
    # wrong score.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hbasemapreduce_spark.catalog import load_table
    from hbasemapreduce_spark.functions.vectors import dot, norm

    e = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .withColumn("nrm", norm(F.col("emb")))
    )
    a, b = e.alias("a"), e.alias("b")
    sim = F.round(
        dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"), sim.alias("sim")
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    exact = {
        (r.src, r.dst): r.sim
        for r in pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    ivf_rows = SPECS["x_sim_knn_graph_ivf"].fn(spark, SF_DIR).collect()
    recall = sum(1 for r in ivf_rows if (r.src, r.dst) in exact) / len(exact)
    assert recall >= 0.75, f"kNN-graph IVF recall {recall:.2f}"
    for r in ivf_rows:
        if (r.src, r.dst) in exact:
            assert abs(r.sim - exact[(r.src, r.dst)]) < 1e-9


def test_approx_distinct_error_bounded(spark):
    # agg_approx_distinct is rows-only at the driver (HLL++ != DuckDB's
    # sketch bit-for-bit); this pins it to the exact answer locally.
    # Default rsd = 0.05 -> generous 3x envelope, deterministic output.
    approx = q(spark, "agg_approx_distinct").collect()[0][0]
    exact = (
        load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert abs(approx - exact) <= max(3, 0.15 * exact), (approx, exact)


def test_winnow_shift_invariance(spark):
    # The winnowing guarantee: two texts sharing a substring of
    # >= k+w-1 = 23 chars MUST share a fingerprint, at any alignment —
    # the property that makes it a rolling-hash fingerprint rather than
    # a whole-document hash.
    from hbasemapreduce_spark.functions.text import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, "PREFIX SHIFTS ALIGNMENT >> " + base),
         (3, "utterly disjoint content sharing no twenty-three char windows")],
        "id long, text string",
    )
    fps = {
        r.id: set(r.fps)
        for r in winnow_fingerprints(df, "text").select("id", "fps").collect()
    }
    assert fps[1] & fps[2], "shared 23+-char substring must share a fingerprint"
    assert not fps[1] & fps[3], "disjoint texts must not collide"


def test_winnow_arrow_matches_hof_reference(spark):
    # The Arrow monotonic-deque path (what x_text_winnow ships) must
    # emit EXACTLY the fingerprint set of the interpreted-HOF reference
    # form, per document — on real corpus rows AND the length/unicode
    # edge cases (len < k, len = k+w-2 -> empty, len = k+w-1 -> one
    # window, multi-byte chars where char-slicing != byte-slicing).
    from hbasemapreduce_spark.functions.text import (
        winnow_fingerprint_rows,
        winnow_fingerprints,
    )

    corpus = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .limit(100)
    )
    edge = spark.createDataFrame(
        [
            (100001, ""),
            (100002, "short"),  # < k
            (100003, "x" * 22),  # k+w-2: grams < w -> no output
            (100004, "y" * 23),  # k+w-1: exactly one window
            (100005, "héllo wörld ünïcode — πολύγλωττος текст 😀" * 3),
            (100006, None),
        ],
        "doc_id long, text string",
    )
    docs = corpus.unionByName(edge)
    arrow = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprint_rows(docs, "doc_id", "text", "fp").collect()
    }
    hof = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(docs, "text")
        .select("doc_id", F.explode("fps").alias("fp"))
        .collect()
    }
    assert arrow == hof
    assert not any(d in (100001, 100002, 100003, 100006) for d, _ in arrow)
    assert sum(1 for d, _ in arrow if d == 100004) == 1


def test_approx_percentile_within_exact_decile_bounds(spark):
    # percentile_approx (KLL-style sketch, the 100 TB path) must land
    # inside [previous, next] exact decile boundary from x_agg_decile —
    # the sketch's rank error is far below one decile bin at accuracy
    # 10000 on these group sizes.
    exact = {
        (r.l_returnflag, r.decile): r.boundary
        for r in SPECS["x_agg_decile"].fn(spark, SF_DIR).collect()
    }
    approx = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_quantity", [i / 10.0 for i in range(1, 11)], 10000
            ).alias("p")
        )
        .collect()
    )
    for row in approx:
        for i, v in enumerate(row.p):
            d = i + 1
            lo = exact.get((row.l_returnflag, d - 1), float("-inf"))
            hi = exact.get((row.l_returnflag, d + 1), float("inf"))
            assert lo <= v <= hi, (row.l_returnflag, d, v, lo, hi)


def test_langid_structural(spark):
    # The synthetic corpus has no language signal (shared vocabulary,
    # max token lift ~1.2 — see the operator docstring), so accuracy is
    # chance by data construction; what must hold structurally: one
    # prediction per document, drawn from the closed language set.
    docs = load_table(spark, SF_DIR, "documents")
    out = SPECS["x_text_langid"].fn(spark, SF_DIR)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    assert {r.predicted_lang for r in out.select("predicted_lang").distinct().collect()} <= langs


def test_xxh64_plane_bits_match_spark(spark):
    """The build-time ±1 plane components (functions/vectors.py
    _xxh64_int — a pure-Python spelling of Spark's xxhash64 4-byte
    path) must match Spark's own xxhash64(p, d) bit-for-bit over the
    whole 32x64 (plane, dim) grid; a single drifting bit would silently
    re-bucket the LSH and change x_eval_ann_recall's hash."""
    from pyspark.sql import functions as F

    from hbasemapreduce_spark.functions.vectors import plane_component_bit

    grid = spark.createDataFrame(
        [(p, d) for p in range(32) for d in range(64)], "p int, d int"
    )
    rows = grid.select(
        "p", "d", (F.xxhash64("p", "d").bitwiseAND(F.lit(1))).alias("bit")
    ).collect()
    assert all(plane_component_bit(r.p, r.d) == r.bit for r in rows)


def test_lsh_recall_vs_brute_force(spark):
    # Multi-table hyperplane LSH (8 tables x 4 planes) must recall a
    # substantial fraction of the exact top-5 (measured 0.74 on this
    # corpus; the pre-fix single-table 8-plane form measured 0.0).
    exact = {
        (r.query_id, r.neighbor_id) for r in q(spark, "sim_cosine_topk").collect()
    }
    lsh = [
        (r.query_id, r.neighbor_id)
        for r in SPECS["x_sim_ann_lsh"].fn(spark, SF_DIR).collect()
    ]
    recall = sum(1 for p in lsh if p in exact) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall:.2f}"


def test_lsh_similarities_exact_and_ranks_total(spark):
    # VERDICT r4 item 6: x_sim_ann_lsh is rows-only by design (bucket
    # membership is approximate), so pin down everything about it that
    # IS exact, differentially against an independent brute-force
    # computation:
    #  - every reported (query, neighbor) pair's sim equals the exact
    #    cosine to 6 dp (approximation lives ONLY in candidate
    #    generation, never in scoring);
    #  - per query, ranks are 1..k contiguous and ordered by
    #    (sim desc, neighbor_id asc) — the total tie-broken ordering;
    #  - no self-pairs, no duplicate neighbors per query.
    import math

    from hbasemapreduce_spark.catalog import load_table

    emb = {
        r.vec_id: r.e
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .collect()
    }

    def exact_sim(a, b):
        va, vb = emb[a], emb[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        return round(dot / (na * nb), 6)

    rows = SPECS["x_sim_ann_lsh"].fn(spark, SF_DIR).collect()
    assert rows, "LSH returned no pairs at all"
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        # reported sim == exact cosine at 6 dp (driver-side float sum may
        # differ from the JVM fold by ULPs; 1e-6 is the rounding grain)
        assert abs(r.sim - exact_sim(r.query_id, r.neighbor_id)) <= 1.5e-6, (
            f"sim mismatch for {(r.query_id, r.neighbor_id)}"
        )
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1)), qid
        assert len({r.neighbor_id for r in rs}) == len(rs), qid
        ordered = sorted(rs, key=lambda r: (-r.sim, r.neighbor_id))
        assert [r.neighbor_id for r in ordered] == [r.neighbor_id for r in rs], qid


def test_pretrain_export_chain_equals_operator_composition(spark):
    # VERDICT r4 item 7: x_pipeline_pretrain_export claims to compose
    # five standalone operators into one dataflow.  Prove it: rebuild
    # the manifest OUTSIDE the chain, stage by stage, from the
    # standalone operators' own outputs —
    #   quality gate   <- x_text_tokencount (n_ws_tokens per doc)
    #   exact dedup    <- keep-first min(doc_id) per normalized text
    #                     (pandas recomputation, independent of Spark)
    #   decontaminate  <- x_contamination_ngram (containment per doc is
    #                     a pure per-doc function, so its full-corpus
    #                     output restricts to the chain's domain)
    #   train split    <- x_sample_split ('train' label)
    #   shard manifest <- pandas groupby on the Knuth shard hash
    # — and assert the chain's output equals it exactly.  Any stage of
    # the chain drifting from its standalone operator breaks this.
    docs = {
        r.doc_id: (r.text, r.source)
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    n_tok = {
        r.doc_id: r.n_ws_tokens
        for r in SPECS["x_text_tokencount"].fn(spark, SF_DIR).collect()
    }
    q_set = {
        d for d, (text, src) in docs.items() if src != "src0" and 20 <= n_tok[d] <= 95
    }
    keep: dict[str, int] = {}
    for d in q_set:
        norm = docs[d][0].strip().lower()
        keep[norm] = min(keep.get(norm, d), d)
    dedup_set = set(keep.values())
    containment = {
        r.doc_id: r.containment
        for r in SPECS["x_contamination_ngram"].fn(spark, SF_DIR).collect()
    }
    clean = {d for d in dedup_set if containment.get(d, 0.0) <= 0.1}
    train_label = {
        r.doc_id: r.split for r in SPECS["x_sample_split"].fn(spark, SF_DIR).collect()
    }
    train = {d for d in clean if train_label[d] == "train"}
    expected: dict[int, list[int]] = {}
    knuth = 2654435761
    for d in train:
        shard = (d * knuth) % 16
        agg = expected.setdefault(shard, [0, 0])
        agg[0] += 1
        agg[1] += n_tok[d]
    got = {
        r.shard: [r.n_docs, r.n_tokens]
        for r in SPECS["x_pipeline_pretrain_export"].fn(spark, SF_DIR).collect()
    }
    assert got == expected
    # the chain must be a funnel that actually filters on this corpus
    # (otherwise the composition test is vacuous); dedup may be lossless
    # at sf0.001 (the gated slice holds no exact duplicates)
    assert len(docs) > len(q_set) >= len(dedup_set) >= len(clean) > len(train) > 0


def test_pagerank_mass_conserved_and_positive(spark):
    # Integer PageRank invariants: every rank positive; total mass stays
    # within integer-truncation slack of the initial 10^12.  Truncation
    # losses are one unit per DIV: the share split loses up to
    # (outdeg - 1) units per node per iteration, so the bound scales
    # with EDGE count — measured deficit on this corpus is ~1.3e-9 of
    # total mass; a wrong damping factor or a dropped node would move
    # the total by percents, 6+ orders of magnitude more.  1e-6
    # relative slack separates the two regimes cleanly.
    rows = SPECS["x_graph_pagerank"].fn(spark, SF_DIR).collect()
    assert rows
    total = sum(r.pr for r in rows)
    assert all(r.pr > 0 for r in rows)
    assert 10**12 * (1 - 1e-6) <= total <= 10**12, total


def test_triangle_census_consistent(spark):
    # 3 * triangles <= wedges (every triangle closes exactly one wedge
    # under the a<b<c orientation... it closes the wedge at its middle
    # vertex: 1 wedge per triangle here), and the census must agree
    # with an independent pandas recomputation of the same graph.
    row = SPECS["x_graph_triangles"].fn(spark, SF_DIR).collect()[0]
    assert row.n_triangles <= row.n_wedges
    assert row.n_nodes > 0 and row.n_edges > 0
    # independent recomputation from x_basket_pairs (same edge rule)
    edges = {
        (r.part_a, r.part_b) for r in SPECS["x_basket_pairs"].fn(spark, SF_DIR).collect()
    }
    assert row.n_edges == len(edges)
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    assert row.n_nodes == len(nodes)
    tri = sum(
        1
        for (a, b) in edges
        for c in nodes
        if b < c and (b, c) in edges and (a, c) in edges
    )
    assert row.n_triangles == tri


def test_fill_forward_carry_semantics(spark):
    # Forward fill invariants, checked against a pandas groupby-ffill
    # recomputation: k_filled equals pandas ffill of k over the same
    # (ts, event_id) order, rows before a user's first observation stay
    # null, and k_filled == k wherever k is non-null.
    import pandas as pd

    sdf = (
        load_table(spark, SF_DIR, "events")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("tss"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .toPandas()
    )
    got = {
        (r.user_id, r.event_id): r.k_filled
        for r in SPECS["x_time_fill_forward"].fn(spark, SF_DIR).collect()
    }
    sdf = sdf.sort_values(["user_id", "tss", "event_id"])
    sdf["expect"] = sdf.groupby("user_id")["k"].ffill()
    for r in sdf.itertuples():
        g = got[(r.user_id, r.event_id)]
        if pd.isna(r.expect):
            assert g is None
        else:
            assert g == int(r.expect)


def test_importance_sampling_rate_tracks_weight(spark):
    # Inclusion probability must be ~ proportional to min(n_chars, 2000)
    # / 4000: the heavy half of the corpus (by weight) must be sampled
    # at a strictly higher rate than the light half, and the realized
    # overall rate must be within a loose binomial band of the expected
    # sum(weight)/4000.
    docs = [
        (r.doc_id, min(r.n_chars, 2000))
        for r in load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars").collect()
    ]
    sampled = {r.doc_id for r in SPECS["x_sample_importance"].fn(spark, SF_DIR).collect()}
    docs.sort(key=lambda t: t[1])
    half = len(docs) // 2
    light, heavy = docs[:half], docs[half:]
    rate = lambda part: sum(1 for d, _ in part if d in sampled) / len(part)  # noqa: E731
    exp_rate = lambda part: sum(w for _, w in part) / 4000 / len(part)  # noqa: E731
    # heavier docs sampled more often (expected rates differ materially
    # on this corpus; realized rates must preserve the ordering)
    if exp_rate(heavy) - exp_rate(light) > 0.05:
        assert rate(heavy) > rate(light)
    expected = sum(w for _, w in docs) / 4000
    sd = (expected * (1 - expected / len(docs))) ** 0.5
    assert abs(len(sampled) - expected) <= 5 * sd + 1


@pytest.mark.parametrize(
    "cms_key", ["x_agg_sketch_cms", "x_agg_sketch_cms_portable"]
)
def test_cms_never_underestimates_and_reports_all_heavy(spark, cms_key):
    # Count-Min guarantees, checked against the exact wordcount for
    # BOTH the xxhash64 original and its md5 portable twin:
    #  - est(t) >= true count for EVERY reported token (one-sided,
    #    deterministic — not probabilistic);
    #  - every truly-heavy token (true count >= total DIV 50) MUST be
    #    reported: overestimation can only add rows, never hide one;
    #  - overestimate bounded by eps*N with eps = e/w (loose check at
    #    3x slack — collisions on this vocab are rare-to-none).
    true = {r.token: r.cnt for r in q(spark, "wordcount").collect()}
    total = sum(true.values())
    rows = SPECS[cms_key].fn(spark, SF_DIR).collect()
    assert rows
    est = {r.tok: r.est for r in rows}
    for t, e in est.items():
        assert e >= true[t], f"CMS underestimated {t}"
        assert e <= true[t] + 3 * (2.718 * total / 1024) + 1, f"CMS blew up on {t}"
    heavy = {t for t, c in true.items() if c >= total // 50}
    assert heavy <= set(est), f"missing heavy hitters: {heavy - set(est)}"
    ranks = sorted(rows, key=lambda r: r.rk)
    assert [r.rk for r in ranks] == list(range(1, len(ranks) + 1))
    assert ranks == sorted(rows, key=lambda r: (-r.est, r.tok))


def test_label_prop_covers_graph_nodes(spark):
    # LPA must label EVERY graph node exactly once, with a community id
    # drawn from the node domain; communities cannot cross connected
    # components (a label can only propagate along edges).
    rows = SPECS["x_graph_label_prop"].fn(spark, SF_DIR).collect()
    edges = {
        (r.part_a, r.part_b)
        for r in SPECS["x_basket_pairs"].fn(spark, SF_DIR).collect()
    }
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    got = {r.node: r.community for r in rows}
    assert set(got) == nodes
    assert set(got.values()) <= nodes
    # union-find the components, then check no community spans two
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp_of_community: dict[int, int] = {}
    for n, c in got.items():
        comp = find(n)
        assert comp_of_community.setdefault(c, comp) == comp, (n, c)


def test_centroid_classifier_partitions_corpus(spark):
    # The confusion matrix must partition the corpus: counts sum to the
    # vector count, labels/predictions stay in the label domain, and a
    # self-consistency check — every label's centroid must classify at
    # least ITS OWN members somewhere (no label vanishes from the true
    # axis).
    rows = SPECS["x_ml_centroid_classify"].fn(spark, SF_DIR).collect()
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert sum(r.cnt for r in rows) == n
    assert {r.label for r in rows} == labels
    assert {r.predicted for r in rows} <= labels
    assert all(r.cnt > 0 for r in rows)


def test_hll_sketch_error_bounded(spark):
    rows = SPECS["x_agg_sketch_hll"].fn(spark, SF_DIR).collect()
    for r in rows:
        if r.event_type == "__all__":
            continue
        # lgConfigK=12 default: relative error ~1.6% at 3 sigma; these
        # cardinalities are small enough that estimates are near-exact
        assert abs(r.approx_users - r.exact_users) <= max(3, 0.05 * r.exact_users), r


def test_expand_bag_multiset_semantics(spark):
    from hbasemapreduce_spark.functions.minhash import expand_bag

    df = spark.createDataFrame(
        [(1, ["a", "a", "b"]), (2, ["b", "a", "a"]), (3, ["a", "b", "b"])],
        "id long, toks array<string>",
    )
    bags = {r.id: sorted(r.items) for r in expand_bag(df, id_col="id", tokens_col="toks").collect()}
    # multiset identity is order-insensitive: 1 and 2 are the same bag
    assert bags[1] == bags[2] == ["a#1", "a#2", "b#1"]
    # different multiplicities -> different elements, same sizes
    assert bags[3] == ["a#1", "b#1", "b#2"]


def test_funnel_stages_shrink(spark):
    # A strict sequential funnel can only lose users stage to stage,
    # and no stage can exceed the number of users with any events.
    rows = {r.stage: r.n_users for r in q(spark, "x_funnel_conversion").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] >= rows[2] >= rows[3] >= 0
    total_users = load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert rows[1] <= total_users


def test_retention_cohort_accounting(spark):
    # Offset 0 of each cohort counts exactly the users whose first week
    # is that cohort (everyone is active in their own first week), and
    # every later offset is bounded by its cohort's size.
    rows = q(spark, "x_retention_cohort").collect()
    week0 = {r.cohort_week: r.n_users for r in rows if r.week_offset == 0}
    for r in rows:
        assert r.week_offset >= 0
        assert r.n_users <= week0[r.cohort_week], r
    assert sum(week0.values()) == (
        load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )


def test_pack_chunks_offsets_are_contiguous(spark):
    # Within each language shard the token stream must be gapless:
    # sorted by doc_id, every doc starts exactly where the previous one
    # ended, chunk spans are consistent with the 256-token budget, and
    # no two docs overlap.
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in q(spark, "x_pack_chunks").collect():
        by_lang[r.lang].append(r)
    assert by_lang
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r.doc_id)
        expect_start = 0
        for r in rows:
            assert r.tok_start == expect_start, (lang, r.doc_id)
            assert r.first_chunk == r.tok_start // 256
            assert r.last_chunk == (r.tok_start + r.n_toks - 1) // 256
            assert r.first_chunk <= r.last_chunk
            expect_start += r.n_toks


def test_sample_split_is_total_and_stable(spark):
    # Every document gets exactly one split label; proportions land
    # near 80/10/10; and the assignment is a pure function of doc_id
    # (re-running yields identical labels).
    rows = {r.doc_id: r.split for r in q(spark, "x_sample_split").collect()}
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs
    from collections import Counter

    frac = {k: v / n_docs for k, v in Counter(rows.values()).items()}
    assert 0.70 <= frac.get("train", 0) <= 0.90
    assert 0.04 <= frac.get("val", 0) <= 0.16
    assert 0.04 <= frac.get("test", 0) <= 0.16
    again = {r.doc_id: r.split for r in q(spark, "x_sample_split").collect()}
    assert rows == again


def test_quantize_audit_bounds(spark):
    # int8 invariants: every |q_i| <= 127 means sum_abs_q <= 127 * 64 *
    # n_vecs; at least one element per vector quantizes to exactly +-127
    # (the max-|x| element by construction), so n_clip >= n_vecs; and
    # vector counts reconcile with the raw table.
    rows = q(spark, "x_embedding_quantize").collect()
    total = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == total
    for r in rows:
        assert r.sum_abs_q <= 127 * 64 * r.n_vecs
        assert r.n_clip >= r.n_vecs
        assert 0 <= r.n_zero <= 64 * r.n_vecs


def test_pii_mask_is_idempotent_and_reconciles(spark):
    # Masking already-masked text is a no-op ('<EMAIL>'/'<PHONE>' match
    # neither pattern), every doc gains exactly one synthetic email and
    # one synthetic phone, and post-mask marker count equals pre-mask
    # pattern count.
    rows = q(spark, "x_text_pii_mask").collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.n_emails >= r.n_docs  # the woven-in one, plus any collisions
        assert r.n_phones >= r.n_docs
        assert r.n_masked == r.n_emails + r.n_phones
        assert r.len_delta > 0  # '<EMAIL>'/'<PHONE>' are shorter than the PII


def test_interval_join_within_window(spark):
    # every attributed pair respects the 6-hour window and pairs a view
    # with a strictly-later-or-equal purchase
    rows = q(spark, "x_stream_interval_join").collect()
    assert rows
    for r in rows:
        assert 0 <= r.delta_us <= 6 * 3600 * 1_000_000


def test_zvalue_interleave_roundtrip(spark):
    # the interleave is a bijection: de-interleaving the z-value must
    # recover both normalized keys exactly (checked distributed, not in
    # the driver)
    from hbasemapreduce_spark.functions.zorder import ZBITS, z_value

    df = spark.range(0, 2000).select(
        (F.col("id") * 7919 % 65536).alias("a"), (F.col("id") * 104729 % 65536).alias("b")
    )
    z = df.withColumn("zv", z_value("a", "b"))
    back_a = F.lit(0).cast("long")
    back_b = F.lit(0).cast("long")
    for i in range(ZBITS):
        back_a = back_a.bitwiseOR(
            F.shiftleft(F.shiftright("zv", 2 * i).bitwiseAND(F.lit(1)), i)
        )
        back_b = back_b.bitwiseOR(
            F.shiftleft(F.shiftright("zv", 2 * i + 1).bitwiseAND(F.lit(1)), i)
        )
    bad = z.filter((back_a != F.col("a")) | (back_b != F.col("b"))).count()
    assert bad == 0


def test_scd2_intervals_partition_history(spark):
    # per user: versions are 1..n, intervals are non-overlapping and
    # CONTIGUOUS (valid_to of version k == valid_from of k+1), and
    # exactly one open-ended current row exists
    import itertools

    rows = q(spark, "x_etl_scd2").collect()
    assert rows
    INF = 9223372036854775807
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1)), uid
        for a, b in itertools.pairwise(rs):
            assert a.valid_to_us == b.valid_from_us, uid
            assert a.valid_from_us < a.valid_to_us, uid
        assert rs[-1].valid_to_us == INF, uid


def test_gapfill_conserves_counts_and_covers_spine(spark):
    # Zero-filling must neither invent nor lose events, and the spine
    # must be a complete hour x type grid over the observed span.
    out = q(spark, "x_time_gapfill").cache()
    ev = load_table(spark, SF_DIR, "events")
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()
    n_types = ev.select("event_type").distinct().count()
    lo, hi = out.agg(F.min("ws"), F.max("ws")).first()
    assert out.count() == n_types * ((hi - lo) // 3600 + 1)
    out.unpersist()


def test_ohlc_bar_invariants(spark):
    # low <= open/close <= high, and bars partition the event stream.
    out = q(spark, "x_time_ohlc").cache()
    bad = out.filter(
        (F.col("low") > F.col("high"))
        | (F.col("open") < F.col("low")) | (F.col("open") > F.col("high"))
        | (F.col("close") < F.col("low")) | (F.col("close") > F.col("high"))
    ).count()
    assert bad == 0
    assert out.agg(F.sum("n_events")).first()[0] == load_table(spark, SF_DIR, "events").count()
    out.unpersist()


def test_rolling_distinct_dominates_hourly(spark):
    # A trailing-24h distinct count can never be smaller than the
    # single-hour distinct count at the same bar.
    hourly = (
        load_table(spark, SF_DIR, "events")
        .select(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("ws"),
            "user_id",
        )
        .groupBy("ws")
        .agg(F.count_distinct("user_id").alias("h"))
    )
    joined = q(spark, "x_win_distinct_rolling").join(hourly, "ws", "left")
    assert joined.filter(F.col("h") > F.col("n_users_24h")).count() == 0


def test_outliers_rare_and_extreme(spark):
    # Chebyshev: at most 1/4 of any distribution sits beyond 2 sigma;
    # and every flagged row must be strictly outside +-2 sigma (|z|>2).
    out = q(spark, "x_stats_outliers").cache()
    n_all = load_table(spark, SF_DIR, "events").count()
    assert 0 < out.count() <= n_all / 4
    assert out.filter(F.abs(F.col("z_score")) <= 2.0).count() == 0
    out.unpersist()


def test_fuzzy_join_pairs_canonical_and_blocked(spark):
    # Pairs are canonical (a<b), within the distance cutoff, and every
    # pair genuinely shares a blocking token.
    out = q(spark, "x_join_fuzzy").cache()
    assert out.filter(F.col("name_a") >= F.col("name_b")).count() == 0
    assert out.filter(F.col("dist") > 3).count() == 0
    shares = F.arrays_overlap(
        F.split(F.col("name_a"), " "), F.split(F.col("name_b"), " ")
    )
    assert out.filter(~shares).count() == 0
    out.unpersist()


def test_index_inverted_equals_direct_filter(spark):
    # The secondary-index round trip must return exactly the rows a
    # direct value filter returns (count + anti-join emptiness).
    from hbasemapreduce_spark.operators.extras import _IDX_BRANDS

    out = q(spark, "x_index_inverted")
    direct = (
        load_table(spark, SF_DIR, "part")
        .filter(F.col("p_brand").isin(_IDX_BRANDS))
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )
    assert out.count() == direct.count()
    assert out.join(direct, ["p_brand", "p_partkey"], "left_anti").count() == 0


def test_bm25_rank_is_dense_and_scores_positive(spark):
    # Ranks are 1..k with no gaps, scores non-increasing and positive
    # (rational idf is >= 1 whenever df <= N/2, and tf term is > 0).
    rows = q(spark, "x_rank_bm25").orderBy("rnk").collect()
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.score for r in rows]
    assert all(s > 0 for s in scores)
    assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_basket_pairs_support_bounded_by_item_frequency(spark):
    # A pair's support cannot exceed either item's own order frequency.
    freq = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_orders"))
    )
    out = q(spark, "x_basket_pairs")
    ja = out.join(freq.withColumnRenamed("l_partkey", "part_a"), "part_a")
    assert ja.filter(F.col("support") > F.col("n_orders")).count() == 0
    jb = out.join(freq.withColumnRenamed("l_partkey", "part_b"), "part_b")
    assert jb.filter(F.col("support") > F.col("n_orders")).count() == 0


def test_abtest_tstat_antisymmetric_under_variant_swap(spark):
    # Swapping variant labels must exactly negate every t-statistic and
    # swap the per-variant columns — checked by recomputing with the
    # hash parity flipped.
    base = {r.event_type: r for r in q(spark, "x_stats_abtest").collect()}
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "value",
        (1 - F.pmod(F.col("user_id") * KNUTH, F.lit(2))).alias("variant"),
    )
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, v.cast("decimal(18,2)"))).cast("double").alias("s_a"),
        F.sum(F.when(F.col("variant") == 0, (v * v).cast("decimal(18,4)"))).cast("double").alias("ss_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, v.cast("decimal(18,2)"))).cast("double").alias("s_b"),
        F.sum(F.when(F.col("variant") == 1, (v * v).cast("decimal(18,4)"))).cast("double").alias("ss_b"),
    )
    swapped = {r.event_type: r for r in m.collect()}
    for et, r in base.items():
        s = swapped[et]
        assert (r.n_a, r.n_b) == (s.n_b, s.n_a), et
        assert r.mean_a == s.s_b / s.n_b and r.mean_b == s.s_a / s.n_a, et


def test_linreg_constant_series_has_zero_slope(spark):
    # A synthesized constant-valued series must regress to slope 0 and
    # intercept equal to the constant.
    import hbasemapreduce_spark.operators.stats_ml as sm

    rows = spark.range(100).select(
        F.lit("c").alias("event_type"),
        (F.col("id") % 30).cast("long").alias("x"),
        F.lit(7.25).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    m = rows.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(24,2)")).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    r = m.select(
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))).alias("slope"),
    ).first()
    assert r.slope == 0.0


def test_shard_manifest_conserves_totals(spark):
    # Shard totals must add up to the whole corpus — no doc lost or
    # double-counted by the hash assignment.
    man = q(spark, "x_shard_manifest")
    agg = man.agg(
        F.sum("n_docs").alias("d"), F.sum("n_bytes").alias("b")
    ).first()
    docs = load_table(spark, SF_DIR, "documents")
    tot = docs.agg(F.count("*").alias("d"), F.sum("n_chars").alias("b")).first()
    assert (agg.d, agg.b) == (tot.d, tot.b)


def test_cdc_apply_at_most_one_row_per_user(spark):
    out = q(spark, "x_etl_cdc_apply")
    assert out.groupBy("user_id").count().filter(F.col("count") > 1).count() == 0
    # tombstoned keys are really gone
    assert out.filter(F.col("last_type") == "error").count() == 0


def test_asof_tolerance_is_subset_of_plain_asof_semantics(spark):
    # Every non-null tolerance match must be a view at most 1h before
    # the purchase (recheck against the raw tables).
    out = q(spark, "x_join_asof_tolerance").filter(F.col("matched_view_id").isNotNull())
    ev = load_table(spark, SF_DIR, "events")
    p = ev.select(F.col("event_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    vw = ev.select(F.col("event_id").alias("matched_view_id"), F.col("user_id").alias("vu"), F.col("ts").alias("vts"))
    j = out.join(p, "event_id").join(vw, "matched_view_id")
    bad = j.filter(
        (F.col("vu") != F.col("pu"))
        | (F.col("vts") > F.col("pts"))
        | (F.col("vts") < F.col("pts") - F.expr("INTERVAL 1 HOUR"))
    )
    assert out.count() > 0 and bad.count() == 0


def test_gap_histogram_counts_every_consecutive_pair(spark):
    # #gaps = #events - #users-with-events (one lag-null per user)
    hist = q(spark, "x_time_gap_histogram")
    total = hist.agg(F.sum("n_gaps").alias("s")).first().s
    ev = load_table(spark, SF_DIR, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_overlap_concurrency_bounds(spark):
    # 1 <= max_concurrent <= events of that type (an event always
    # overlaps itself; concurrency can never exceed the type's count)
    rows = q(spark, "x_win_overlap_concurrency").collect()
    counts = {
        r.event_type: r.c
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type").agg(F.count("*").alias("c")).collect()
    }
    assert rows
    for r in rows:
        assert 1 <= r.max_concurrent <= counts[r.event_type], r


def test_knn_graph_degree_and_sim_bounds(spark):
    g = q(spark, "x_sim_knn_graph")
    # every src has at most 3 edges, ranks are 1..k dense, sims in [-1,1]
    bad_deg = g.groupBy("src").count().filter(F.col("count") > 3).count()
    assert bad_deg == 0
    assert g.filter((F.col("sim") < -1) | (F.col("sim") > 1)).count() == 0
    ranks = g.groupBy("src").agg(
        F.count("*").alias("n"), F.max("rk").alias("mx"), F.min("rk").alias("mn")
    )
    assert ranks.filter((F.col("mn") != 1) | (F.col("mx") != F.col("n"))).count() == 0


def test_pretrain_export_bounded_by_corpus(spark):
    # Export totals can never exceed the quality-passing corpus side.
    man = q(spark, "x_pipeline_pretrain_export")
    exported = man.agg(F.sum("n_docs").alias("d")).first().d
    docs = load_table(spark, SF_DIR, "documents")
    eligible = (
        docs.filter(F.col("source") != "src0")
        .filter(F.size(F.split("text", " ")).between(20, 95))
        .count()
    )
    assert 0 < exported <= eligible


# --- r5 additions: kmeans / bfs / bpe / maxsim / quality -------------


def test_kmeans_assignment_is_argmin(spark):
    """Every vector's reported d2 must equal the true minimum squared
    distance to the final centroids — recomputed here independently
    from the members' integer means (the Lloyd update definition)."""
    rows = SPECS["x_ml_kmeans"].fn(spark, SF_DIR).collect()
    import numpy as np

    emb = {
        r["vec_id"]: np.array(
            [round((round(x, 6) + 1) * 1_000_000) for x in r["embedding"]],
            dtype=np.int64,
        )
        for r in load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .collect()
    }
    # rebuild the round-1 assignment exactly as the operator defines it
    c0 = {cid: emb[cid] for cid in sorted(emb) if cid < 8}

    def assign(cents):
        out = {}
        for vid, m in emb.items():
            best = min(
                (int(((m - cm) ** 2).sum()), cid) for cid, cm in cents.items()
            )
            out[vid] = best
        return out

    a1 = assign(c0)
    members: dict[int, list] = {}
    for vid, (_, cid) in a1.items():
        members.setdefault(cid, []).append(emb[vid])
    c1 = {
        cid: np.floor_divide(np.sum(np.stack(ms), axis=0), len(ms))
        for cid, ms in members.items()
    }
    a2 = assign(c1)
    assert len(rows) == len(emb)
    for r in rows:
        d2, cid = a2[r["vec_id"]]
        assert r["cluster"] == cid and r["d2"] == d2, r["vec_id"]


def test_bfs_seed_and_frontier_invariants(spark):
    """Seeds have hops 0; every non-seed reached node has a neighbour
    exactly one hop closer (the BFS tree-edge certificate); hops <= 3."""
    dist = {r["node"]: r["hops"] for r in SPECS["x_graph_bfs"].fn(spark, SF_DIR).collect()}
    assert dist and all(0 <= h <= 3 for h in dist.values())
    from hbasemapreduce_spark.operators.graphs import _BFS_SEED_MOD, _undirected_edges

    edges = _undirected_edges(spark, SF_DIR, 2).collect()
    nbrs: dict[int, set] = {}
    for e in edges:
        nbrs.setdefault(e["src"], set()).add(e["dst"])
    for node, h in dist.items():
        if h == 0:
            assert node % _BFS_SEED_MOD == 0
        else:
            assert any(dist.get(n) == h - 1 for n in nbrs[node]), node


def test_bpe_merge_counts_nonincreasing_and_real(spark):
    """Merge ranks are 1..3; each merge's pair count is positive and
    counts never increase with rank (a later merge can never beat an
    earlier argmax, because merging only removes or preserves pairs)."""
    rows = sorted(
        SPECS["x_text_bpe_train"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["merge_rank"],
    )
    assert [r["merge_rank"] for r in rows] == [1, 2, 3]
    assert all(r["cnt"] > 0 for r in rows)
    assert all(a["cnt"] >= b["cnt"] for a, b in zip(rows, rows[1:]))
    assert all(len(r["left_sym"]) >= 1 and len(r["right_sym"]) >= 1 for r in rows)


def test_maxsim_score_bounds_and_rank_total(spark):
    """MaxSim over |Q| unit-bounded cosines lies in [-|Q|, |Q|]; ranks
    are a permutation of 1..n_labels ordered by (score desc, label)."""
    from hbasemapreduce_spark.operators.llm_similarity import _MAXSIM_Q

    rows = sorted(SPECS["x_sim_maxsim"].fn(spark, SF_DIR).collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(abs(r["score"]) <= _MAXSIM_Q + 1e-9 for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert (a["score"], -a["label"]) >= (b["score"], -b["label"])


def test_quality_rules_violations_bounded(spark):
    rows = SPECS["x_quality_rules"].fn(spark, SF_DIR).collect()
    assert len(rows) == 6
    for r in rows:
        assert 0 <= r["n_violations"] <= r["n_rows"]
        assert r["pass"] == (r["n_violations"] == 0)


def test_quality_monitor_totals_match_rules_discipline(spark):
    """Hourly monitor counters sum to the whole-table counts computed
    directly — the window split changes bucketing, never totals."""
    rows = SPECS["x_quality_monitor"].fn(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    bad_value = ev.filter(~F.col("value").between(0, 100)).count()
    bad_type = ev.filter(
        ~F.col("event_type").isin("click", "purchase", "signup", "view")
    ).count()
    assert sum(r["n_rows"] for r in rows) == n
    assert sum(r["v_value_range"] for r in rows) == bad_value
    assert sum(r["v_type_domain"] for r in rows) == bad_type


def test_ivf_kmeans_recall_beats_stride_centroids(spark):
    """The point of training the quantizer: k-means centroids (probing
    2/8 = 25% of lists) must recall more of the exact top-k than the
    untrained stride sample (4/20 = 20%) — measured 0.86 vs 0.48 at
    sf0.001; floors pinned below with slack.  Every trained-IVF hit
    must also carry the exact similarity (misses come only from
    unprobed lists, never wrong arithmetic)."""
    exact = {
        (r.query_id, r.neighbor_id): r.sim
        for r in q(spark, "sim_cosine_topk").collect()
    }
    trained = SPECS["x_sim_ivf_kmeans"].fn(spark, SF_DIR).collect()
    stride = SPECS["x_sim_ivf"].fn(spark, SF_DIR).collect()

    def recall(rows):
        return sum(1 for r in rows if (r.query_id, r.neighbor_id) in exact) / len(exact)

    r_trained, r_stride = recall(trained), recall(stride)
    assert r_trained >= 0.7, f"trained-IVF recall {r_trained:.2f}"
    assert r_trained > r_stride, (r_trained, r_stride)
    for r in trained:
        if (r.query_id, r.neighbor_id) in exact:
            assert abs(r.sim - exact[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ks_drift_statistic_bounds(spark):
    """0 <= D <= 1; the integer numerator is bounded by n_early*n_late;
    D is exactly num/(n_e*n_l); and the split halves conserve the
    per-type event count."""
    rows = q(spark, "x_stats_ks_drift").collect()
    assert rows, "corpus has no type with both halves populated"
    totals = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    for r in rows:
        assert 0 <= r.ks_num <= r.n_early * r.n_late
        assert 0.0 <= r.ks_d <= 1.0
        assert r.ks_d == r.ks_num / (r.n_early * r.n_late)
        assert r.n_early + r.n_late == totals[r.event_type]


def test_semantic_dedup_consistent_with_pair_operator(spark):
    """Kept set == corpus minus the distinct greater-id side of
    x_dedup_embedding's pairs; the min vec_id of every label block
    therefore always survives."""
    kept = {r.keep_id for r in q(spark, "x_dedup_semantic").collect()}
    pairs = q(spark, "x_dedup_embedding").collect()
    all_ids = {
        r.vec_id for r in load_table(spark, SF_DIR, "embeddings").select("vec_id").collect()
    }
    dropped = {r.id_b for r in pairs}
    assert kept == all_ids - dropped
    per_label_min = {
        r["mn"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .groupBy("label")
        .agg(F.min("vec_id").alias("mn"))
        .collect()
    }
    assert per_label_min <= kept


def test_jaccard_linkpred_candidates_are_nonedges(spark):
    """Predicted links are never existing edges; cn is bounded by the
    smaller neighbourhood; jacc in (0, 1]."""
    preds = q(spark, "x_graph_jaccard").collect()
    assert preds
    basket = {(r.part_a, r.part_b) for r in q(spark, "x_basket_pairs").collect()}
    for r in preds:
        assert (r.part_a, r.part_b) not in basket
        assert 0 < r.jacc <= 1.0


def test_sparse_topk_rank_and_sim_bounds(spark):
    """Per-doc neighbour lists: rnk dense in 1..3, sims non-increasing
    with rank, and every sim in (0, 1] (weights are non-negative)."""
    rows = q(spark, "x_sim_sparse_topk").collect()
    assert rows
    by_doc = {}
    for r in rows:
        assert 0.0 < r.sim <= 1.0
        by_doc.setdefault(r.doc_id, []).append((r.rnk, r.sim))
    for doc, lst in by_doc.items():
        lst.sort()
        assert [rk for rk, _ in lst] == list(range(1, len(lst) + 1))
        sims = [s for _, s in lst]
        assert sims == sorted(sims, reverse=True)


def test_sparse_topk_matches_oracle_on_edge_corpus(spark, tmp_path):
    """x_sim_sparse_topk against its DuckDB oracle on a corpus built to
    hit every cut: NULL and empty text, a double space (an empty token),
    a term in every doc (above the max-df cut), a doc whose terms all
    have df = 1 (a norm but no postings), a doc_id on two rows (their
    terms pool into one vector) and a NULL doc_id (counts toward df,
    never scored)."""
    import random

    import duckdb

    from hbasemapreduce_spark.operators.llm_similarity import sim_sparse_topk

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    rows = [
        (d, " ".join(["common", *rng.choices(vocab, k=rng.randint(1, 5))]))
        for d in range(36)
    ]
    rows += [
        (36, None),
        (37, ""),
        (38, ""),
        (39, "only1 only2"),
        (5, "w1 w1 extra5"),
        (40, "w2  w3 common"),
        (None, "w2 w3"),
    ]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(path)
    got = sim_sparse_topk(spark, str(tmp_path))
    assert got.count() > 0
    assert got.filter(F.col("doc_id").isin(36, 39)).count() == 0

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
    want = con.execute(SPECS["x_sim_sparse_topk"].oracle).df()
    con.close()
    assert_frames_match(got.toPandas(), want, "x_sim_sparse_topk")


def test_mad_outlier_summary_bounds(spark):
    """MAD <= max deviation, the median lies within the observed value
    range, and outlier counts never exceed the group size."""
    rows = q(spark, "x_stats_mad").collect()
    assert rows
    stats = {
        r["event_type"]: r
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"), F.count("*").alias("cnt"))
        .collect()
    }
    for r in rows:
        s = stats[r.event_type]
        assert s["mn"] <= r.med <= s["mx"]
        assert 0.0 <= r.mad <= r.max_absdev
        assert 0 <= r.n_outliers < s["cnt"]


def test_ema_is_convex_combination_of_window(spark):
    """EMA weights are positive and sum to the divisor, so every EMA
    lies within [min, max] of the user's trailing-8 window."""
    from pyspark.sql import Window as W

    ev = load_table(spark, SF_DIR, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-7, 0)
    bounds = ev.select(
        "event_id",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
    )
    joined = q(spark, "x_win_ema").join(bounds, "event_id")
    eps = 1e-9
    bad = joined.filter(
        (F.col("ema") < F.col("lo") - eps) | (F.col("ema") > F.col("hi") + eps)
    ).count()
    assert bad == 0


def test_entity_resolution_composes_fuzzy_pairs(spark):
    """Every x_join_fuzzy matched pair lands in one cluster; total_parts
    across golden records conserves the part rowcount; every canonical
    name is a real part name."""
    golden = q(spark, "x_pipeline_entity_resolution").collect()
    fuzzy = q(spark, "x_join_fuzzy").collect()
    # rebuild name -> cluster from a fresh run of the member relation:
    # the golden output only carries canonicals, so recover membership
    # by checking pair endpoints share totals via cluster ids
    assert sum(r.total_parts for r in golden) == load_table(spark, SF_DIR, "part").count()
    names = {r["p_name"] for r in load_table(spark, SF_DIR, "part").select("p_name").distinct().collect()}
    canon = {r.canonical_name for r in golden}
    assert canon <= names
    # pairs merge clusters: a matched pair means strictly fewer clusters
    # than names whenever at least one pair exists
    if fuzzy:
        assert len(golden) < len(names)


def test_interp_between_fill_bounds(spark):
    """Observed rows pass through unchanged; gap rows really do get
    interpolated values, and every interpolated value lies within the
    global observed range (convexity of linear interpolation)."""
    rows = q(spark, "x_time_interp").collect()
    assert rows
    nn = [r for r in rows if r.k is not None]
    assert nn and all(r.k_interp == float(r.k) for r in nn)
    gaps = [r for r in rows if r.k is None and r.k_interp is not None]
    assert gaps
    lo, hi = min(r.k for r in nn), max(r.k for r in nn)
    assert all(lo <= r.k_interp <= hi for r in gaps)


def test_feature_binning_equal_frequency(spark):
    """Buckets are 1..10 and equal-frequency: every per-type bucket
    holds floor(cnt/10) or ceil(cnt/10) rows."""
    import collections

    rows = q(spark, "x_feature_binning").collect()
    per = collections.Counter((r.event_type, r.bucket) for r in rows)
    tot = collections.Counter(r.event_type for r in rows)
    assert {b for _, b in per} <= set(range(1, 11))
    for (t, _b), n in per.items():
        lo, hi = tot[t] // 10, -(-tot[t] // 10)
        assert lo <= n <= hi, (t, _b, n, lo, hi)


def test_pq_codes_bounded_and_beats_coarse_quantizer(spark):
    """Codes live in [0, 16); reconstruction error is non-negative; and
    the 65536-cell product quantizer reconstructs the corpus strictly
    better on average than the 8-cell coarse k-means quantizer."""
    pq = q(spark, "x_emb_pq").collect()
    km = q(spark, "x_ml_kmeans").collect()
    assert pq and len(pq) == len(km)
    for r in pq:
        assert all(0 <= r[f"code_{s}"] < 16 for s in range(4))
        assert r.d2 >= 0
    mean_pq = sum(r.d2 for r in pq) / len(pq)
    mean_km = sum(r.d2 for r in km) / len(km)
    assert mean_pq < mean_km, (mean_pq, mean_km)


def test_ivfpq_refine_recall_and_exactness(spark):
    """IVF-PQ with exact refine: reported d2 equals the true integer
    L2 for every reported pair, and top-5 recall vs exact brute force
    clears the measured floor (0.86 measured at sf0.001 under the r12
    scaled shortlist; asserted with slack — the list-probe ceiling is
    0.86, and the cross-sf sag test guards the scaling rule)."""
    import numpy as np
    import pyarrow.parquet as pq_

    rows = q(spark, "x_sim_ivfpq").collect()
    t = pq_.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    m = np.round((np.round(np.stack(t.embedding.values).astype("float64"), 6) + 1) * 1e6).astype("int64")
    ids = t.vec_id.values
    order = np.argsort(ids)
    m, ids = m[order], ids[order]
    true = {}
    for qid in range(10):
        d2 = ((m - m[qid]) ** 2).sum(axis=1)
        true[qid] = set(np.argsort(d2, kind="stable")[1:6])
    got = {}
    for r in rows:
        exact = int(((m[r.neighbor_id] - m[r.query_id]) ** 2).sum())
        assert r.d2 == exact, (r.query_id, r.neighbor_id, r.d2, exact)
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    rec = sum(len(got.get(k, set()) & true[k]) for k in true) / (5 * len(true))
    assert rec >= 0.75, f"IVF-PQ refine recall {rec:.2f}"


def test_incremental_dedup_consistency(spark):
    """Every kept batch doc is from the 20% delta split and its norm is
    absent from the base split; batch copies >= 1."""
    rows = q(spark, "x_dedup_incremental").collect()
    assert rows
    K = 2654435761
    docs = load_table(spark, SF_DIR, "documents").select("doc_id").collect()
    delta_ids = {r.doc_id for r in docs if (r.doc_id * K) % 10 >= 8}
    for r in rows:
        assert r.keep_id in delta_ids
        assert r.n_batch_copies >= 1


def test_spc_flags_are_breaches_only(spark):
    """Flagged hours strictly exceed their type's control limit, and
    breaches are a small minority of the hourly grid (3-sigma)."""
    flagged = q(spark, "x_stats_spc").collect()
    grid = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts").cast("timestamp")))
        .count()
        .count()
    )
    for r in flagged:
        assert r.cnt > r.ucl
    assert len(flagged) <= max(1, grid // 10)


def test_rag_index_conserves_gated_corpus(spark):
    """The per-list manifest partitions the gated-and-embedded corpus:
    doc counts sum to the join cardinality, every list id is a trained
    k-means cluster, and id ranges are consistent."""
    rows = q(spark, "x_pipeline_rag_index").collect()
    assert rows
    gated = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_toks"))
        .filter(F.col("n_toks").between(20, 95))
    )
    vecs = load_table(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    expected = gated.join(vecs, "doc_id").count()
    assert sum(r.n_docs for r in rows) == expected
    for r in rows:
        assert 0 <= r.list_id < 8
        assert r.min_doc <= r.max_doc


def test_bpe_apply_token_count_bounds(spark):
    """Per doc: whitespace words <= BPE symbols <= characters-without-
    spaces; and 3 merges shrink the corpus total strictly (the trained
    pairs occur in the corpus by construction)."""
    rows = q(spark, "x_text_bpe_apply").collect()
    assert rows
    chars = {
        r["doc_id"]: r["nch"]
        for r in load_table(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            F.length(F.regexp_replace("text", " ", "")).alias("nch"),
        )
        .collect()
    }
    for r in rows:
        assert r.n_ws <= r.n_bpe <= chars[r.doc_id]
    assert sum(r.n_bpe for r in rows) < sum(chars.values())


def test_streak_bounded_by_active_days(spark):
    """A user's longest streak never exceeds their distinct active-day
    count, and every user with events gets exactly one row."""
    rows = q(spark, "x_win_streak").collect()
    days = {
        r["user_id"]: r["nd"]
        for r in load_table(spark, SF_DIR, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("nd"))
        .collect()
    }
    assert len(rows) == len(days)
    for r in rows:
        assert 1 <= r.longest_streak <= days[r.user_id]


def test_paragraph_boiler_bounded(spark):
    """Boilerplate spans per doc never exceed the doc's span count and
    the corpus really contains boilerplate (shared spans exist)."""
    rows = q(spark, "x_dedup_paragraph").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_paras


def test_modularity_conservation_and_bounds(spark):
    """Degree sums over communities account for every directed edge,
    intra-edge counts never exceed the total, and total Q lies in
    Newman's [-1, 1] range.  (At sf0.001 the 2-round LPA lands slightly
    NEGATIVE Q — the metric doing its job: on this tiny sparse graph
    two synchronous rounds have not found dense communities, which is
    exactly the information an evaluation operator exists to expose.)"""
    rows = q(spark, "x_graph_modularity").collect()
    assert rows
    e = sum(r.deg_sum for r in rows)  # each directed edge counted once at src
    assert sum(r.intra_edges for r in rows) <= e
    total_q = sum(r.q_contrib for r in rows)
    assert -1.0 <= total_q <= 1.0


def test_drawdown_nonneg_and_informative(spark):
    """Drawdowns are non-negative, bounded by peak - global minimum of
    the net series, and the mixed-sign spec produces real (> 0)
    drawdowns on this corpus."""
    rows = q(spark, "x_win_drawdown").collect()
    assert rows
    assert all(r.max_drawdown >= 0.0 for r in rows)
    assert any(r.max_drawdown > 0.0 for r in rows)


def test_kcore_idempotent_and_degree_bounded(spark):
    # A 4th peel round must be a no-op (the 3 unrolled rounds reached the
    # fixed point on this graph), and every survivor keeps deg >= k in the
    # ORIGINAL graph (peeling only removes edges).
    from hbasemapreduce_spark.operators.graphs import (
        _KCORE_K,
        _KCORE_SUPPORT,
        _undirected_edges,
    )

    core = q(spark, "x_graph_kcore")
    rows = {r.node: r.deg for r in core.collect()}
    assert rows, "3-core should be non-empty on the sf0.001 graph"
    assert all(d >= _KCORE_K for d in rows.values())
    full_deg = {
        r.node: r.deg
        for r in _undirected_edges(spark, SF_DIR, _KCORE_SUPPORT)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
        .collect()
    }
    assert all(rows[n] <= full_deg[n] for n in rows)
    # fixed point: peeling the reported core again removes nothing
    node_set = set(rows)
    edges = _undirected_edges(spark, SF_DIR, _KCORE_SUPPORT).collect()
    sub = [(e.src, e.dst) for e in edges if e.src in node_set and e.dst in node_set]
    from collections import Counter

    deg_in_core = Counter(s for s, _ in sub)
    assert all(deg_in_core[n] >= _KCORE_K for n in node_set)
    assert rows == dict(deg_in_core)


def test_collocations_lift_consistent_with_counts(spark):
    # Recompute each reported bigram's staged-rational lift from raw corpus
    # counts and check the reported value and support floor.
    out = q(spark, "x_text_collocations").collect()
    assert out and all(r.c_xy >= 5 for r in out)
    docs = load_table(spark, SF_DIR, "documents").select("text").collect()
    toks = [[t for t in d.text.split(" ") if t] for d in docs]
    from collections import Counter

    uni = Counter(t for ts in toks for t in ts)
    big = Counter((a, b) for ts in toks for a, b in zip(ts, ts[1:]))
    n_tok = sum(uni.values())
    n_big = sum(big.values())
    for r in out:
        expect = ((10000 * big[(r.w1, r.w2)] * n_tok) // (n_big * uni[r.w1])) * n_tok // uni[r.w2]
        assert r.lift_bp == expect and r.c_xy == big[(r.w1, r.w2)]


def test_rrf_fusion_is_exactly_the_two_arms(spark):
    fused = q(spark, "x_rank_rrf").collect()
    sparse = {r.doc_id: r.rnk for r in q(spark, "x_rank_bm25").collect()}
    fused_sparse = {r.doc_id: r.rnk_sparse for r in fused if r.rnk_sparse is not None}
    assert fused_sparse == sparse  # sparse arm embeds verbatim
    for r in fused:
        assert r.rnk_sparse is not None or r.rnk_dense is not None
        expect = 0
        if r.rnk_sparse is not None:
            expect += 1_000_000_000 // (60 + r.rnk_sparse)
        if r.rnk_dense is not None:
            expect += 1_000_000_000 // (60 + r.rnk_dense)
        assert r.rrf_ppb == expect
    # fused ranking is the (rrf desc, doc_id) total order
    ordered = sorted(fused, key=lambda r: (-r.rrf_ppb, r.doc_id))
    assert [r.fused_rnk for r in ordered] == list(range(1, len(fused) + 1))


def test_data_mixture_conserves_corpus(spark):
    out = q(spark, "x_data_mixture").collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs
    total = sum(r.n_tokens for r in out)
    # floor-division shares undershoot by < 1 ppm per source
    assert total > 0 and 1_000_000 - len(out) <= sum(r.share_ppm for r in out) <= 1_000_000
    for r in out:
        assert r.repeat_bp > 0
        # repeat factor ~ uniform target / own tokens (floor-staged)
        assert r.repeat_bp == ((total // len(out)) * 10000) // r.n_tokens


def test_ann_recall_operator_matches_direct_computation(spark):
    # The operator's per-query recall must equal recomputing it from the
    # two shipped arms, and recall is in [0, 1] ppm with n_hits <= k.
    out = {r.query_id: (r.n_hits, r.recall_ppm) for r in q(spark, "x_eval_ann_recall").collect()}
    exact = {}
    for r in q(spark, "sim_cosine_topk").collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in q(spark, "x_sim_ivf").collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(out) == set(exact)
    for qid, (n_hits, ppm) in out.items():
        expect = len(exact[qid] & approx.get(qid, set()))
        assert n_hits == expect and ppm == 1_000_000 * n_hits // 5
        assert 0 <= n_hits <= 5


def test_profile_skew_consistent_with_raw_counts(spark):
    from collections import Counter

    rows = {r.col: r for r in q(spark, "x_profile_skew").collect()}
    assert set(rows) == {"l_partkey", "l_suppkey"}
    li = load_table(spark, SF_DIR, "lineitem").select("l_partkey", "l_suppkey").collect()
    for col in rows:
        c = Counter(getattr(r, col) for r in li)
        r = rows[col]
        assert r.n_rows == len(li) and r.n_keys == len(c)
        assert r.max_cnt == max(c.values())
        top10 = sum(v for v in sorted(c.values(), reverse=True)[:10])
        assert r.top10_ppm == 1_000_000 * top10 // len(li)
        assert r.skew_x100 == (r.max_cnt * r.n_keys * 100) // r.n_rows


def test_bloom_triage_is_sound(spark):
    # A Bloom filter admits false positives but NEVER false negatives:
    # every true duplicate must be in the maybe set, so
    # n_maybe = n_true_dup + n_false_pos and the definite-new set is
    # exactly the complement.
    r = q(spark, "x_filter_bloom").collect()[0]
    assert r.n_delta == r.n_definite_new + r.n_maybe
    assert r.n_maybe == r.n_true_dup + r.n_false_pos
    assert 0 < r.n_bits_set <= min(3 * r.n_base_norms, 65536)


def test_pit_matrix_is_leakage_free(spark):
    # Recompute every label row's features from raw events and check the
    # strictly-before contract: no frame may include the label row itself.
    rows = q(spark, "x_feature_pit_matrix").collect()
    assert rows
    ev = load_table(spark, SF_DIR, "events").selectExpr(
        "event_id", "user_id", "unix_micros(ts) AS us", "value",
        "CAST(get_json_object(props, '$.k') AS LONG) AS k",
    ).collect()
    by_user = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    for u in by_user:
        by_user[u].sort(key=lambda e: (e.us, e.event_id))
    from decimal import Decimal

    for r in rows[:200]:
        hist = by_user[r.user_id]
        prior = [e for e in hist if (e.us, e.event_id) < (r.ts_us, r.event_id)]
        ks = [e.k for e in prior if e.k is not None]
        assert r.f_last_k == (ks[-1] if ks else None)
        win = [e for e in hist if r.ts_us - 7 * 86_400_000_000 <= e.us <= r.ts_us - 1]
        assert r.f_cnt_7d == len(win)
        expect = float(sum((Decimal(str(round(e.value, 2))) for e in win), Decimal(0)))
        assert r.f_sum_7d == expect


def test_rolling_median_is_element_and_robust(spark):
    # med must be an element of the trailing frame, and lie between the
    # frame's min and max (robustness sanity).
    out = q(spark, "x_win_rolling_median")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value", "ts"
    ).collect()
    frames = {}
    by_type = {}
    for e in sorted(ev, key=lambda e: (e.event_type, e.ts, e.event_id)):
        arr = by_type.setdefault(e.event_type, [])
        arr.append(e.value)
        frames[e.event_id] = sorted(arr[-10:])
    for r in out.collect():
        f = frames[r.event_id]
        assert r.med == f[(len(f) + 1) // 2 - 1]
        assert f[0] <= r.med <= f[-1]


def test_mask_spans_matches_direct_recompute(spark):
    rows = {r.doc_id: r for r in q(spark, "x_mask_spans").collect()}
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    assert len(rows) == len(docs)
    K1, K2 = 2654435761, 40503
    total_masked = total_tokens = 0
    for d in docs:
        toks = [t for t in d.text.split(" ") if t]
        masked = [i for i in range(1, len(toks) + 1) if (d.doc_id * K1 + i * K2) % 1000 < 150]
        spans = []
        for i in masked:
            if spans and i == spans[-1][1] + 1:
                spans[-1][1] = i
            else:
                spans.append([i, i])
        r = rows[d.doc_id]
        assert r.n_tokens == len(toks) and r.n_masked == len(masked)
        assert r.n_spans == len(spans)
        assert r.max_span == (max(b - a + 1 for a, b in spans) if spans else 0)
        total_masked += len(masked)
        total_tokens += len(toks)
    # the hash mask rate lands near the designed 15%
    assert 0.10 < total_masked / total_tokens < 0.20


def test_minhash_portable_equals_legacy_pairs_and_exact_jaccard(spark):
    # The portable (md5-hashed, oracle-checkable) LSH must find the SAME
    # pair set as the xxhash64 rows-only key — indirect driver-grade
    # evidence for dedup_minhash — and every pair's exact bag Jaccard
    # must clear the 0.8 threshold on recompute.
    from collections import Counter

    port = {
        (r.doc_a, r.doc_b): (r.inter_cnt, r.union_cnt)
        for r in q(spark, "x_dedup_minhash_portable").collect()
    }
    legacy = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in q(spark, "dedup_minhash").select("id_a", "id_b").collect()
    }
    assert set(port) == legacy
    docs = {
        d.doc_id: Counter(t for t in d.text.split(" ") if t)
        for d in load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    for (a, b), (inter, uni) in port.items():
        ca, cb = docs[a], docs[b]
        ei = sum((ca & cb).values())
        eu = sum((ca | cb).values())
        assert (inter, uni) == (ei, eu)
        assert 5 * inter >= 4 * uni


def test_simhash_portable_fingerprint_exact_and_recall(spark):
    # Recompute the md5-derived 60-bit fingerprints in pure Python and
    # check every reported pair's hamming; recall floor vs the exact
    # bag-Jaccard >= 0.8 pair set (simhash is lossier by design).
    import hashlib
    from collections import Counter

    docs = {
        d.doc_id: Counter(t for t in d.text.split(" ") if t)
        for d in load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }

    def fingerprint(cnt):
        sums = [0] * 60
        for tok, c in cnt.items():
            h = hashlib.md5(tok.encode()).hexdigest()
            for j in range(60):
                nib = int(h[j // 4], 16)
                bit = (nib >> (3 - j % 4)) & 1
                sums[j] += (2 * bit - 1) * c
        return sum((1 << j) for j in range(60) if sums[j] > 0)

    fps = {d: fingerprint(c) for d, c in docs.items()}
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in q(spark, "x_dedup_simhash_portable").collect()}
    assert pairs
    for (a, b), ham in pairs.items():
        expect = bin(fps[a] ^ fps[b]).count("1")
        assert ham == expect and ham <= 3
    truth = {(r.doc_a, r.doc_b) for r in q(spark, "x_dedup_minhash_portable").collect()}
    recall = len(truth & set(pairs)) / len(truth)
    assert recall >= 0.7, recall


def test_kanon_audit_matches_raw_class_census(spark):
    from collections import Counter

    r = q(spark, "x_privacy_kanon").collect()[0]
    cust = load_table(spark, SF_DIR, "customer").select(
        "c_nationkey", "c_mktsegment"
    ).collect()
    classes = Counter((c.c_nationkey, c.c_mktsegment) for c in cust)
    viol = {k: v for k, v in classes.items() if v < 10}
    assert r.n_classes == len(classes) and r.n_rows == len(cust)
    assert r.n_violating_classes == len(viol)
    assert r.n_violating_rows == sum(viol.values())
    assert r.min_class_size == min(classes.values())
    assert r.violating_ppm == 1_000_000 * sum(viol.values()) // len(cust)


def test_benford_shares_conserve_and_match_counts(spark):
    from collections import Counter

    rows = {r.digit: r for r in q(spark, "x_stats_benford").collect()}
    assert set(rows) == set(range(1, 10))
    vals = [
        e.value
        for e in load_table(spark, SF_DIR, "events").select("value").collect()
        if e.value > 0
    ]
    digits = Counter(int(str(int(round(v * 100)))[0]) for v in vals)
    n = sum(digits.values())
    for d, r in rows.items():
        assert r.cnt == digits.get(d, 0)
        assert r.share_ppm == 1_000_000 * r.cnt // n
        assert r.delta_ppm == r.share_ppm - r.expected_ppm
    assert sum(r.cnt for r in rows.values()) == n


def test_rank_corr_matches_scipy_free_recompute(spark):
    r = q(spark, "x_eval_rank_corr").collect()[0]
    bm = {x.doc_id: x.rnk for x in q(spark, "x_rank_bm25").collect()}
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    from collections import Counter

    tscore = Counter()
    for d in docs:
        for t in d.text.split(" "):
            if t in ("scan", "join", "filter"):
                tscore[d.doc_id] += 1
    tf_rank = {
        doc: i + 1
        for i, (doc, _) in enumerate(
            sorted(tscore.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        )
    }
    common = sorted(set(bm) & set(tf_rank))
    assert r.n_common == len(common)
    ra = {d: i + 1 for i, d in enumerate(sorted(common, key=lambda d: bm[d]))}
    rb = {d: i + 1 for i, d in enumerate(sorted(common, key=lambda d: tf_rank[d]))}
    sum_d2 = sum((ra[d] - rb[d]) ** 2 for d in common)
    assert r.sum_d2 == sum_d2
    n = len(common)
    if n >= 2:
        assert r.rho_ppm == 1_000_000 - (6_000_000 * sum_d2) // (n * (n * n - 1))
        assert -1_000_000 <= r.rho_ppm <= 1_000_000


def test_gini_bounds_and_direct_recompute(spark):
    from collections import Counter

    rows = {r.event_type: r for r in q(spark, "x_stats_gini").collect()}
    ev = load_table(spark, SF_DIR, "events").select("event_type", "user_id").collect()
    per = {}
    for e in ev:
        per.setdefault(e.event_type, Counter())[e.user_id] += 1
    for t, counts in per.items():
        xs = sorted(counts.values())
        n, s = len(xs), sum(xs)
        sic = sum((i + 1) * x for i, x in enumerate(xs))
        expect = (2 * sic - (n + 1) * s) / (n * s)
        r = rows[t]
        assert r.n == n and r.n_events == s
        assert abs(r.gini - expect) < 1e-12
        assert 0 <= r.gini < 1


def test_autocorr_bounds_and_consecutive_pairs_only(spark):
    rows = q(spark, "x_time_autocorr").collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.acf1 <= 1.0 and r.n >= 2


def test_binpack_groups_conserve_and_are_contiguous(spark):
    rows = sorted(q(spark, "x_compact_binpack").collect(), key=lambda r: r.grp)
    manifest = (
        load_table(spark, SF_DIR, "orders")
        .selectExpr("year(o_orderdate) AS y", "month(o_orderdate) AS m")
        .groupBy("y", "m")
        .count()
        .collect()
    )
    total_rows = sum(r["count"] for r in manifest)
    assert sum(r.n_rows for r in rows) == total_rows
    assert sum(r.n_files for r in rows) == len(manifest)
    # groups are contiguous in layout order: ranges never interleave
    for a, b in zip(rows, rows[1:]):
        assert b.grp > a.grp and a.last_file < b.first_file
    # every group except possibly the last spans past a target boundary
    for r in rows[:-1]:
        assert r.n_rows >= 1


def test_diversity_in_unit_interval_and_consistent_with_gini(spark):
    div = {r.event_type: r for r in q(spark, "x_agg_diversity").collect()}
    gin = {r.event_type: r for r in q(spark, "x_stats_gini").collect()}
    assert set(div) == set(gin)
    for t, r in div.items():
        assert 0 <= r.simpson < 1
        assert r.n_users == gin[t].n and r.n_events == gin[t].n_events
        # single-user degenerate would give simpson 0; many users ~ 1-1/n
        assert r.simpson <= 1 - 1 / r.n_users + 1e-12


def test_peaks_are_strict_local_maxima_with_margin(spark):
    rows = q(spark, "x_time_peaks").collect()
    assert rows  # the hourly series must contain at least one 20% spike
    for r in rows:
        assert 10_000 * r.c >= 12_000 * r.pc
        assert 10_000 * r.c >= 12_000 * r.nc
        assert r.c >= r.pc and r.c >= r.nc


def test_keywords_match_direct_recompute(spark):
    from collections import Counter

    out = {}
    for r in q(spark, "x_text_keywords").collect():
        out.setdefault(r.doc_id, []).append((r.rnk, r.term, r.weight))
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    tf = {d.doc_id: Counter(t for t in d.text.split(" ") if t) for d in docs}
    df = Counter(t for c in tf.values() for t in c)
    n_docs = sum(1 for c in tf.values() if c)
    for doc, counts in tf.items():
        wgt = {
            t: c * (1_000_000 * n_docs // df[t])
            for t, c in counts.items()
            if df[t] >= 2
        }
        expect = sorted(wgt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        got = sorted(out.get(doc, []))
        assert [(i + 1, t, w) for i, (t, w) in enumerate(expect)] == got, doc


# -- round-6 operators ---------------------------------------------------


def test_hits_mass_conservation_and_bipartite_sides(spark):
    # L1 renormalization to total mass 10^12 with floor division: each
    # side's scores must sum to AT MOST the scale and miss it by less
    # than one unit per node (truncation loses < 1 per row).
    rows = q(spark, "x_graph_hits").collect()
    for kind in ("auth", "hub"):
        side = [r.score for r in rows if r.kind == kind]
        assert side, kind
        assert all(s >= 0 for s in side)
        total = sum(side)
        assert total <= 10**12
        assert total > 10**12 - len(side), (kind, total, len(side))


def test_dedup_span_island_bounds(spark):
    # Each island is a merged run of 8-token grams: it spans at least
    # one gram (8 tokens) and never more tokens than the doc has; the
    # micro-ratio is consistent with the reported integers.
    for r in q(spark, "x_dedup_span").collect():
        assert r.n_dup_spans >= 1
        assert 8 <= r.dup_tokens <= r.n_tokens
        assert r.dup_micro == 1_000_000 * r.dup_tokens // r.n_tokens


def test_lm_score_bounds_and_coverage(spark):
    # Every multi-token doc is scored; the mean smoothed probability is
    # a genuine probability (micro in (0, 10^6]).
    rows = q(spark, "x_text_lm_score").collect()
    docs = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.size(F.split("text", " ")) >= 2)
        .count()
    )
    assert len(rows) == docs
    assert all(0 < r.lm_micro <= 1_000_000 for r in rows)


def test_ndcg_in_unit_interval_and_dcg_le_idcg(spark):
    for r in q(spark, "x_eval_ndcg").collect():
        assert 0 <= r.dcg_micro <= r.idcg_micro
        assert 0 <= r.ndcg_micro <= 1_000_000


def test_m4_buckets_conserve_points_and_order(spark):
    # Bucket point counts must sum to each series' length, and the four
    # M4 values must satisfy min <= first/last <= max within a bucket.
    rows = q(spark, "x_time_m4").collect()
    per_type = {}
    for r in rows:
        per_type[r.event_type] = per_type.get(r.event_type, 0) + r.n_points
        assert r.min_c <= r.first_c <= r.max_c
        assert r.min_c <= r.last_c <= r.max_c
        assert r.first_hr <= r.last_hr
        assert 0 <= r.bucket < 20
    h = (
        load_table(spark, SF_DIR, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr"),
        )
        .count()
        .groupBy("event_type")
        .count()
        .collect()
    )
    assert per_type == {r.event_type: r["count"] for r in h}


def test_cramers_v2_in_unit_interval(spark):
    r = q(spark, "x_stats_cramers_v").collect()[0]
    assert 0 <= r.v2_micro <= 1_000_000
    assert r.chi2_micro >= 0


def test_gini_stump_counts_conserve_and_split_is_optimal(spark):
    # The winning split's side counts must sum to the corpus, and no
    # candidate on a brute-force driver-side recompute may beat its
    # weighted impurity (equal is fine — ties break lexically).
    r = q(spark, "x_ml_gini_stump").collect()[0]
    ev = load_table(spark, SF_DIR, "events").select("event_type", "ts", "value").collect()
    n = len(ev)
    assert r.n_left + r.n_right == n
    import datetime as _dt

    feats = []
    for e in ev:
        y = 1 if e.event_type == "purchase" else 0
        hour = e.ts.hour
        dow = (e.ts.date().weekday() + 1) % 7 + 1  # Spark dayofweek: Sun=1
        vb = min(int(e.value // 20), 9)
        feats.append((y, {"hour": hour, "dow": dow, "vbucket": vb}))
    best = None
    for fname in ("hour", "dow", "vbucket"):
        bins = sorted({f[1][fname] for f in feats})
        for t in bins:
            pl = sum(y for y, f in feats if f[fname] <= t)
            nl = sum(1 - y for y, f in feats if f[fname] <= t)
            pr = sum(y for y, f in feats) - pl
            nr = sum(1 - y for y, f in feats) - nl
            if pl + nl == 0 or pr + nr == 0:
                continue
            gl = 1_000_000 - (pl * pl + nl * nl) * 1_000_000 // ((pl + nl) ** 2)
            gr = 1_000_000 - (pr * pr + nr * nr) * 1_000_000 // ((pr + nr) ** 2)
            w = ((pl + nl) * gl + (pr + nr) * gr) // n
            cand = (w, fname, t)
            if best is None or cand < best:
                best = cand
    assert best is not None
    assert (r.weighted_micro, r.feature, r.threshold) == best


def test_cusum_equals_direct_max_recursion(spark):
    # The reflection identity (prefix sum minus running min) must equal
    # the textbook recurrence S_t = max(0, S_{t-1} + (c_t - k - 1))
    # recomputed directly, and alarms must be exactly the S > h points.
    rows = q(spark, "x_time_cusum").collect()
    series = {}
    for r in rows:
        series.setdefault(r.event_type, []).append(r)
    h = (
        load_table(spark, SF_DIR, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr"),
        )
        .count()
        .collect()
    )
    counts = {}
    for r in h:
        counts.setdefault(r.event_type, {})[r.hr] = r["count"]
    for etype, rs in series.items():
        rs.sort(key=lambda r: r.hr)
        cs = counts[etype]
        k = sum(cs.values()) // len(cs)
        s = 0
        for r in rs:
            s = max(0, s + (cs[r.hr] - k - 1))
            assert r.cusum == s, (etype, r.hr, r.cusum, s)
            assert r.alarm == (s > k), (etype, r.hr)


# -- late-round-6 cross-operator equivalences ----------------------------


def test_boost_round_one_equals_var_stump(spark):
    """x_ml_boost_round's round-1 row IS x_ml_var_stump's winner — the
    composition claim checked, not narrated (the pretrain-chain test
    discipline)."""
    stump = q(spark, "x_ml_var_stump").collect()[0]
    r1 = [r for r in q(spark, "x_ml_boost_round").collect() if r["round"] == 1][0]
    assert (r1["feature"], r1["threshold"]) == (stump["feature"], stump["threshold"])
    assert (r1["n_left"], r1["n_right"]) == (stump["n_left"], stump["n_right"])
    assert r1["leaf_left_cents"] == stump["mean_left_cents"]
    assert r1["leaf_right_cents"] == stump["mean_right_cents"]


def test_bootstrap_ci_ordered_and_brackets_nothing_absurd(spark):
    """Poisson-bootstrap CI endpoints come from ordered replicate
    statistics, so lo <= hi always; the point estimate is a cents mean
    inside the replicate range's ballpark (within 10x either way)."""
    for r in q(spark, "x_stats_bootstrap").collect():
        assert r["ci_lo_cents"] <= r["ci_hi_cents"]
        assert r["ci_lo_cents"] * 0.1 <= r["mean_cents"] <= r["ci_hi_cents"] * 10


def test_mmr_first_pick_is_relevance_argmax(spark):
    """MMR's first pick has no redundancy penalty yet, so per query it
    must equal the plain cosine top-1 (sim_cosine_topk rnk=1)."""
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in q(spark, "sim_cosine_topk").collect()
        if r["rnk"] == 1
    }
    picks1 = {
        r["query_id"]: r["neighbor_id"]
        for r in q(spark, "x_rank_mmr").collect()
        if r["pick"] == 1
    }
    assert picks1 == top1
    # and the 3 picks per query are distinct
    from collections import defaultdict

    seen = defaultdict(set)
    for r in q(spark, "x_rank_mmr").collect():
        assert r["neighbor_id"] not in seen[r["query_id"]]
        seen[r["query_id"]].add(r["neighbor_id"])


def test_phash_clusters_cover_exactly_the_pair_endpoints(spark):
    """Every doc in a phash near-dup pair lands in exactly one cluster
    whose id is <= its own (min-label CC), and no other doc appears."""
    pairs = q(spark, "x_multimodal_phash_dedup").collect()
    endpoints = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    rows = q(spark, "x_dedup_phash_clusters").collect()
    assert {r["doc_id"] for r in rows} == endpoints
    assert all(r["cluster_id"] <= r["doc_id"] for r in rows)


def test_funnel_window_bounded_by_unconstrained_funnel(spark):
    """The 24h-deadline funnel can never convert MORE users per stage
    than the unconstrained funnel."""
    free = {r["stage"]: r["n_users"] for r in q(spark, "x_funnel_conversion").collect()}
    tight = {r["stage"]: r["n_users"] for r in q(spark, "x_funnel_window").collect()}
    assert tight[1] == free[1]  # stage 1 has no deadline
    assert all(tight[s] <= free[s] for s in free)


def test_cuped_never_increases_variance(spark):
    """var(Y - theta X) = var(Y) - cov^2/var(X) <= var(Y), and rho2 in
    [0, 1] — the whole point of CUPED, by construction."""
    for r in q(spark, "x_stats_cuped").collect():
        assert r["var_adj"] <= r["var_y"] + 1e-9
        assert -1e-9 <= r["rho2"] <= 1.0 + 1e-9


def test_srm_chi2_exact_at_broken_randomizer_scale(spark):
    # The SRM alarm exists to catch a BROKEN randomizer, where the
    # variant delta is ~n rather than ~sqrt(n).  1e6 * delta^2 passes
    # int64 already at delta > 3e6, so the shared expression must
    # route the mid-product through DECIMAL(38,0) — drive it with a
    # fully-broken 5e9-row group and check the exact closed form.
    from hbasemapreduce_spark.functions.determinism import srm_chi2_micro

    df = spark.createDataFrame(
        [("a", 5_000_000_000, 0), ("b", 3_000_000, 3_000_000)],
        "event_type string, obs_a long, obs_b long",
    )
    rows = {
        r.event_type: r.chi2
        for r in df.select("event_type", srm_chi2_micro().alias("chi2")).collect()
    }
    # 1e6 * (5e9)^2 / 5e9 = 1e6 * 5e9 — exact, and far beyond the
    # pre-fix ANSI overflow point
    assert rows["a"] == 1_000_000 * 5_000_000_000
    assert rows["b"] == 0


def test_gini_micro_exact_at_billion_row_splits(spark):
    # Same guard for the stump impurities: (pl^2 + nl^2) * 1e6 passes
    # int64 at ~3e6 rows per side.  Evaluate the operator's exact
    # expression shape at billion-row counts and check the closed form
    # 1e6 - 1e6*(pl^2+nl^2)//(pl+nl)^2.
    pl, nl = 4_000_000_000, 1_000_000_000
    df = spark.createDataFrame([(pl, nl)], "pl long, nl long")
    got = df.select(
        F.expr(
            "1000000 - CAST((CAST(pl AS DECIMAL(38,0))*pl "
            "+ CAST(nl AS DECIMAL(38,0))*nl) * 1000000 "
            "DIV (CAST(pl+nl AS DECIMAL(38,0))*(pl+nl)) AS BIGINT)"
        ).alias("g")
    ).collect()[0].g
    assert got == 1_000_000 - (pl * pl + nl * nl) * 1_000_000 // ((pl + nl) ** 2)


def test_lsh_portable_twin_recall_vs_brute_force(spark):
    # The full-hash portable twin (md5-literal Rademacher planes on
    # int8-quantized vectors) must hold the same S-curve recall as the
    # float LSH it twins — quantization measured ZERO recall change on
    # this corpus; plane-seed luck dominates (0.54-0.78 across md5
    # tags at 50 recall pairs).  Shipped seed measures 0.78 at sf0.001
    # and 0.68 at sf0.01; floor 0.6.
    exact = {
        (r.query_id, r.neighbor_id) for r in q(spark, "sim_cosine_topk").collect()
    }
    got = [
        (r.query_id, r.neighbor_id)
        for r in SPECS["x_sim_ann_lsh_portable"].fn(spark, SF_DIR).collect()
    ]
    recall = sum(1 for p in got if p in exact) / len(exact)
    assert recall >= 0.6, f"portable LSH recall {recall:.2f}"


def test_kmv_estimate_within_error_bound(spark):
    # KMV with k=64 has relative stddev ~ 1/sqrt(k) ~ 0.125; assert a
    # 3-sigma-ish bound so hash luck can't flake the suite (measured
    # 0.10 at sf0.001, 0.165 at sf0.01 — same value universe per
    # group, so per-group estimates coincide by construction).
    for r in SPECS["x_agg_distinct_kmv"].fn(spark, SF_DIR).collect():
        rel = abs(r.est_kmv - r.n_true) / r.n_true
        assert rel <= 0.4, f"{r.grp}: KMV rel error {rel:.3f} (true {r.n_true}, est {r.est_kmv})"


def test_rr_estimator_inverts_the_channel(spark):
    # Semantic checks the DuckDB oracle can't provide (it recomputes the
    # same formula — the engine-agreement blindness lesson from the DP
    # key's review): the report pass must conserve mass (every customer
    # reports exactly one category), the inversion must preserve the
    # total EXACTLY (sum over k categories of (4k*obs - n)/(3k) =
    # (4k*n - k*n)/(3k) = n, an algebraic identity), and each
    # category's estimate must land within ~3 sigma of ground truth.
    # The bound is DERIVED from n (ADVICE r7 item 1): sigma_est =
    # (4/3)*sqrt(n*q*(1-q)) <= (4/3)*sqrt(n/4) = (2/3)*sqrt(n), so
    # 3 sigma = 2*sqrt(n) (+2 slack for the integer-rational rounding
    # in the estimator) scales correctly when SF_DIR points at a larger
    # scale factor (error grows ~sqrt(n), not constant).  Measured max
    # error 4.33 at n=150 where the bound is 26.5.
    rows = SPECS["x_privacy_rr_freq"].fn(spark, SF_DIR).collect()
    assert rows
    n = rows[0].n
    bound = 2.0 * n**0.5 + 2.0
    assert sum(r.obs_cnt for r in rows) == n
    assert abs(sum(r.est_true for r in rows) - n) < 1e-9 * n
    for r in rows:
        assert abs(r.est_true - r.true_cnt) <= bound, (
            f"{r.seg}: est {r.est_true} vs true {r.true_cnt} (bound {bound:.1f})"
        )


def test_zonemap_layouts_tell_the_skipping_story(spark):
    # Data property behind x_layout_zonemap's docstring: the
    # shipdate-sorted layout must prune a majority of rows under the
    # 1997 predicate while the ingest layout (shipdate scattered per
    # zone) prunes nothing — the quantified reason sort-clustering /
    # z-ordering exists.
    rows = {r.layout: r for r in SPECS["x_layout_zonemap"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {"ingest", "shipdate_sorted"}
    for r in rows.values():
        assert r.zones_total == 64
        assert r.rows_total == r.rows_skipped + (r.rows_total - r.rows_skipped)
    assert rows["ingest"].skip_ratio == 0.0
    assert rows["shipdate_sorted"].skip_ratio > 0.5
    assert rows["shipdate_sorted"].zones_pruned > 32


def test_minhash_size_prefilter_is_lossless():
    # r13: both minhash verify paths drop candidate pairs whose SIZES
    # alone rule out the Jaccard threshold, before the element-level
    # verify.  Exhaustive grid pin of the losslessness claim: whenever
    # the final predicate passes (for ANY feasible intersection,
    # inter <= min(na, nb)), the prefilter must also pass.
    # Integer-rational form (x_dedup_minhash_portable, J >= 4/5):
    for na in range(1, 61):
        for nb in range(1, 61):
            feasible = any(
                5 * inter >= 4 * (na + nb - inter)
                for inter in range(0, min(na, nb) + 1)
            )
            if feasible:
                assert 4 * max(na, nb) <= 5 * min(na, nb), (na, nb)
    # Float form (minhash_pairs_from_occurrences, same double spelling
    # as the final filter — Python floats are the same IEEE doubles):
    for t in (0.5, 0.8, 0.9):
        for na in range(1, 61):
            for nb in range(1, 61):
                lo = min(na, nb)
                feasible = any(
                    float(inter) / float(na + nb - inter) >= t
                    for inter in range(0, lo + 1)
                )
                if feasible:
                    assert float(lo) / float(na + nb - lo) >= t, (t, na, nb)


def test_zonemap_rank_decomposition_matches_ntile(spark):
    # r13: x_layout_zonemap derives zone ids from a two-level rank
    # decomposition plus explicit SQL-ntile bucket arithmetic instead
    # of a single-partition ntile window.  Pin both halves against
    # F.ntile itself on strict total orders whose sizes exercise the
    # uneven-bucket branch (n % 64 != 0), including n < 64.
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    for n in (40, 64, 130, 1037, 4096):
        base = spark.range(1, n + 1).select(
            SF.col("id"), (SF.col("id") % 7).alias("g")
        )
        want = base.select(
            "id", SF.ntile(64).over(Window.orderBy("id")).alias("z")
        )
        # two-level rank over (g, id) is just row_number when the total
        # order key is id alone; here decompose by g to exercise the
        # offset+within machinery, then re-rank by id arithmetic
        off = (
            base.groupBy("g")
            .agg(SF.count("*").alias("c"))
            .select(
                "g", (SF.sum("c").over(Window.orderBy("g")) - SF.col("c")).alias("off")
            )
        )
        w_in = Window.partitionBy("g").orderBy("id")
        ranked = base.join(off, "g").select(
            "id", (SF.row_number().over(w_in) + SF.col("off")).alias("grn")
        )
        # bucket-arithmetic pin: apply the CASE formula to the true
        # global rank (= id here, ids are 1..n dense) and compare with
        # F.ntile over the same order
        got = base.crossJoin(
            base.groupBy().agg(SF.count("*").alias("n"))
        ).select(
            "id",
            SF.expr(
                "CASE WHEN id <= (n % 64) * (n DIV 64 + 1) "
                "THEN (id - 1) DIV (n DIV 64 + 1) + 1 "
                "ELSE (n % 64) + (id - (n % 64) * (n DIV 64 + 1) - 1) "
                "DIV (n DIV 64) + 1 END"
            ).cast("int").alias("z"),
        )
        assert sorted(map(tuple, want.collect())) == sorted(
            map(tuple, got.collect())
        ), f"bucket arithmetic != ntile at n={n}"
        # and the decomposed rank over (g, id) must be a permutation
        # bijection onto 1..n (strict total order, no gaps/dups)
        rns = [r.grn for r in ranked.collect()]
        assert sorted(rns) == list(range(1, n + 1)), f"rank not dense at n={n}"


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_name_blocking_lossless_on_adversarial_strings(spark):
    # The PassJoin pigeonhole must hold on edits the part corpus never
    # produces: substitutions in EVERY segment, deletions/insertions
    # shifting length by 1 and 2, edits straddling segment boundaries.
    # Expected = naive O(n^2) python levenshtein over the domain.
    from pyspark.sql import functions as SF

    from hbasemapreduce_spark.operators.joins import (
        _FZ_D,
        _FZ_IDX_KEYS,
        _FZ_PRB_KEYS,
    )

    base = "abcdefghij"
    domain = sorted(
        {
            base,
            "Xbcdefghij",  # sub in seg 0
            "abcdXfghij",  # sub in seg 1
            "abcdefghiX",  # sub in seg 2
            "bcdefghij",  # del at front (-1)
            "abcdefghi",  # del at back (-1)
            "acdefghij",  # del inside seg 0
            "abcdefgh",  # two dels (-2)
            "Zabcdefghij",  # ins at front (+1)
            "abcdefghijZ",  # ins at back (+1)
            "ZYabcdefghij",  # two ins (+2)
            "XbcdefghiY",  # subs in segs 0 and 2
            "abXdeXghij",  # subs in segs 0/1 boundary region
            "qrstuvwxyz",  # far string, no pair
            "mlkjihgfed",  # far string, no pair
        }
    )
    expected = {
        (a, b)
        for i, a in enumerate(domain)
        for b in domain[i + 1 :]
        if _lev(a, b) <= _FZ_D
    }
    assert len(expected) >= 10  # the set is genuinely adversarial
    grp = spark.createDataFrame([(n,) for n in domain], "nm string")
    idx = grp.select(
        SF.col("nm").alias("nm_i"), SF.explode(SF.expr(_FZ_IDX_KEYS)).alias("k")
    ).select("nm_i", "k.seg", "k.txt", "k.plen")
    prb = grp.select(
        SF.col("nm").alias("nm_p"), SF.explode(SF.expr(_FZ_PRB_KEYS)).alias("k")
    ).select("nm_p", "k.seg", "k.txt", "k.plen")
    got = {
        (r.a, r.b)
        for r in idx.join(prb, ["seg", "txt", "plen"])
        .select(
            SF.least("nm_i", "nm_p").alias("a"),
            SF.greatest("nm_i", "nm_p").alias("b"),
        )
        .filter(SF.col("a") < SF.col("b"))
        .distinct()
        .filter(SF.levenshtein("a", "b") <= _FZ_D)
        .collect()
    }
    assert got == expected


def test_bottomk_quantile_estimates_within_dkw_bound(spark):
    # x_agg_quantile_bottomk: the sample quantile's TRUE rank must land
    # within the DKW-style band around p*n — rank error ~ 1.36/sqrt(k)
    # at 95%, asserted at a loose 3x cushion (0.36 at k=128) so hash
    # luck can't flake the suite; plus the degeneracy guards (sample
    # quantiles ordered, exact when the group fits inside the sketch).
    import bisect

    rows = SPECS["x_agg_quantile_bottomk"].fn(spark, SF_DIR).collect()
    assert rows
    vals = {}
    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            F.col("event_type").alias("grp"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .collect()
    )
    for r in ev:
        vals.setdefault(r.grp, []).append(r.c)
    for g in vals:
        vals[g].sort()
    k = 128
    tol = 3 * 1.36 / (k**0.5)
    for r in rows:
        assert r.est_p25 <= r.est_p50 <= r.est_p75
        if r.n <= k:
            assert (r.est_p25, r.est_p50, r.est_p75) == (
                r.true_p25,
                r.true_p50,
                r.true_p75,
            )
            continue
        v = vals[r.grp]
        for p, est in ((0.25, r.est_p25), (0.5, r.est_p50), (0.75, r.est_p75)):
            # empirical CDF at the estimate (right-continuous)
            cdf = bisect.bisect_right(v, est) / len(v)
            assert abs(cdf - p) <= tol, (r.grp, p, est, cdf)


def test_stl_lite_decomposition_identities(spark):
    # x_time_stl_lite: the scaled-integer backing columns must satisfy
    # the exact decomposition identities — det24 = 24*c - trend_sum24
    # (so trend+seasonal+resid == c in exact rationals), and per-hod
    # residuals sum to zero (the seasonal means absorb all hod-level
    # mass).  Also the seasonal rational must be shared by every row of
    # the same hour-of-day.
    rows = SPECS["x_time_stl_lite"].fn(spark, SF_DIR).collect()
    assert len(rows) > 100
    from collections import defaultdict

    by_hod = defaultdict(list)
    for r in rows:
        assert r.trend_sum24 + r.det24 == 24 * r.c
        by_hod[r.hr % 24].append(r)
    assert len(by_hod) == 24
    for hod, rs in by_hod.items():
        assert len({(r.s_num, r.s_den) for r in rs}) == 1
        assert rs[0].s_den == len(rs)
        # sum of scaled residuals is exactly zero within the hod
        assert sum(r.det24 * r.s_den - r.s_num for r in rs) == 0


def test_priority_sample_estimator_error_and_exact_small_groups(spark):
    # x_sample_priority: subset-sum estimate within the ~1/sqrt(k-1)
    # band (3-sigma cushion: 3/sqrt(31) ~ 0.54); groups that fit inside
    # the sample reproduce the exact total with tau = 0; k_used is
    # min(n, k); the membership checksum is bounded by the id domain.
    rows = SPECS["x_sample_priority"].fn(spark, SF_DIR).collect()
    assert rows
    k = 32
    for r in rows:
        assert r.k_used == min(r.n_docs, k)
        if r.n_docs <= k:
            assert r.tau == 0
            assert r.est_total_chars == r.true_total_chars
        else:
            assert r.tau > 0
            rel = abs(r.est_total_chars - r.true_total_chars) / r.true_total_chars
            assert rel <= 3 / (k - 1) ** 0.5, (r.lang, rel)
        assert 0 < r.sample_id_sum


def test_verify_replication_conservation(spark):
    # The census must conserve both tables: every source id is exactly
    # one of {good, content-different, only-in-source}; the foreign-row
    # and redelivery counts match their generation moduli directly.
    r = SPECS["x_verify_replication"].fn(spark, SF_DIR).collect()[0]
    ev = load_table(spark, SF_DIR, "events")
    n_src = ev.count()
    assert r.goodrows + r.content_different + r.only_in_source == n_src
    assert r.only_in_target == ev.filter(F.col("event_id") % 19 == 0).count()
    assert r.only_in_source == ev.filter(F.col("event_id") % 17 == 0).count()
    assert r.duplicate_deliveries == ev.filter(
        (F.col("event_id") % 17 != 0) & (F.col("event_id") % 10 == 0)
    ).count()


def test_compact_major_retention_invariants(spark):
    # Post-compaction state: at most 2 versions per cell with ranks
    # dense from 1; nothing below the TTL floor; every tombstoned cell
    # ((user%11, click)) shows no version at or before the marker.
    import pandas as pd

    out = SPECS["x_compact_major"].fn(spark, SF_DIR).toPandas()
    g = out.groupby(["user_id", "event_type"])["version"]
    assert int(g.max().max()) <= 2
    assert (g.min() == 1).all()
    ttl_floor = pd.Timestamp("2024-01-05").value // 1000
    mark_ts = pd.Timestamp("2024-01-15").value // 1000
    assert int(out.ts_us.min()) >= ttl_floor
    marked = out[(out.user_id % 11 == 0) & (out.event_type == "click")]
    assert marked.empty or int(marked.ts_us.min()) > mark_ts


def test_funnel_attribution_credit_bounds(spark):
    # First- and last-touch totals both equal the number of converting
    # segments that had any touch, and linear credit never exceeds
    # 1e6 per conversion (integer truncation drops remainders).
    rows = SPECS["x_funnel_attribution"].fn(spark, SF_DIR).collect()
    assert rows
    n_ft = sum(r.first_touch_conv for r in rows)
    n_lt = sum(r.last_touch_conv for r in rows)
    assert n_ft == n_lt > 0
    total_linear = sum(r.linear_credit_micro for r in rows)
    assert total_linear <= n_ft * 1_000_000
    # the drop from exact 1e6/conversion is only truncation: strictly
    # less than n_touches per segment, so within n_touches_total overall
    assert n_ft * 1_000_000 - total_linear < sum(r.n_touches_total for r in rows)


def test_mann_whitney_matches_pandas_average_ranks(spark):
    # The exact-integer identity 2*R1 = sum m1*(2*below + m + 1) must
    # equal pandas' average-rank computation (rank(method='average'))
    # doubled — the naive model the windowed aggregate replaces.
    import pandas as pd

    got = {r.event_type: r for r in SPECS["x_stats_mann_whitney"].fn(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type",
        (F.col("user_id") * 2654435761 % 2).alias("variant"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    ).toPandas()
    for et, g in ev.groupby("event_type"):
        r2 = (g.cents.rank(method="average") * 2).round().astype("int64")
        want_r1x2 = int(r2[g.variant == 1].sum())
        assert got[et].r1_x2 == want_r1x2, et
        n1 = int((g.variant == 1).sum())
        assert got[et].n1 == n1 and got[et].n2 == len(g) - n1
        assert got[et].u1_x2 == want_r1x2 - n1 * (n1 + 1)
        # U1 + U2 = n1*n2 (doubled): recover U2 from the total rank sum
        n = len(g)
        u2_x2 = (n * (n + 1) - want_r1x2) - (n - n1) * (n - n1 + 1)
        assert got[et].u1_x2 + u2_x2 == 2 * n1 * (n - n1), et


def test_permutation_test_matches_naive_relabeling(spark):
    # Recompute all 32 salted relabelings naively in pandas and count
    # the extreme ones with exact integer cross-multiplication.
    got = {r.event_type: r for r in SPECS["x_stats_permutation"].fn(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events").select(
        "event_type",
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    ).toPandas()
    K = 2654435761
    for et, g in ev.groupby("event_type"):
        def split(salt):
            one = ((g.user_id + salt) * K) % 2 == 1
            return (
                int(g.cents[one].sum()), int(one.sum()),
                int(g.cents[~one].sum()), int((~one).sum()),
            )
        S1, N1, S0, N0 = split(0)
        obs = S1 * N0 - S0 * N1
        n_extreme = sum(
            1 for b in range(1, 33)
            for (s1, n1, s0, n0) in [split(b)]
            if abs(s1 * n0 - s0 * n1) * (N1 * N0) >= abs(obs) * (n1 * n0)
        )
        assert got[et].n_extreme == n_extreme, et
        assert got[et].n_perms == 32
        assert got[et].obs_sign == (0 if obs == 0 else (1 if obs > 0 else -1))
        assert got[et].obs_hi * 1073741824 + got[et].obs_lo == abs(obs)


def test_range_frame_matches_naive_hour_scan(spark):
    # The O(n) sliding frame cursor equals the O(n^2) naive per-row
    # hour re-scan (peers included) on the sf0.001 corpus.
    got = SPECS["x_win_range_frame"].fn(spark, SF_DIR).toPandas()
    byu = {u: g.sort_values("ts_us") for u, g in got.groupby("user_id")}
    import random

    rng = random.Random(7)
    rows = got.sample(n=min(200, len(got)), random_state=7)
    for r in rows.itertuples():
        g = byu[r.user_id]
        in_hour = g[(g.ts_us > r.ts_us - 3_600_000_000) & (g.ts_us <= r.ts_us)]
        assert r.hour_cents == int(in_hour.cents.sum()), r.event_id
        assert r.n_hour == len(in_hour), r.event_id


def test_kmv_algebra_is_consistent(spark):
    # The three theta-sketch legs must agree with each other and with
    # set algebra on the EXACT counters they emit: inside the shared
    # theta window, A's hashes split exactly into common + only
    # (n_common + n_only == A-below-theta), and the exact trues obey
    # inclusion-exclusion (|A| == |A ∩ B| + |A \ B|).
    inter = SPECS["x_agg_kmv_intersect"].fn(spark, SF_DIR).collect()[0]
    diff = SPECS["x_agg_kmv_difference"].fn(spark, SF_DIR).collect()[0]
    assert inter.theta == diff.theta and inter.n_union_sk == diff.n_union_sk
    a_true = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_returnflag") == "A")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert inter.n_true_inter + diff.n_true_diff == a_true
    # A-below-theta recomputed independently splits exactly
    from pyspark.sql import functions as FF

    ha = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(FF.col("l_returnflag") == "A")
        .select("l_partkey")
        .distinct()
        .select(
            FF.conv(
                FF.substring(FF.md5(FF.col("l_partkey").cast("string")), 1, 12),
                16,
                10,
            )
            .cast("long")
            .alias("h")
        )
        .distinct()
        .filter(FF.col("h") <= inter.theta)
        .count()
    )
    assert inter.n_common + diff.n_only == ha


def test_dedup_embedding_ivf_blocking_supersedes_label_blocking(spark):
    """VERDICT r10 item 2 differential: x_dedup_embedding's candidate
    blocking moved from the 10-value ``label`` column (O(n²/10) pair
    generation at scale) onto the trained IVF quantizer.  Prove the
    re-blocking is a strict quality upgrade, at BOTH test scale factors:

    1. the shipped IVF-blocked pair set CONTAINS the label-blocked
       truth (recall 1.0 measured at sf0.001 and sf0.01 — nothing the
       old operator reported is lost),
    2. recall vs the UNBLOCKED all-pairs truth has a floor (measured
       0.970 / 0.983; the label blocking managed 0.08),
    3. zero false positives: every reported pair really clears the
       raw-cosine threshold (exact rerank guarantees it).

    The Spark side is compared at sf0.001; the sf0.01 repetition runs
    both sides in DuckDB (the Spark≡oracle equivalence at sf0.01 is the
    driver hash gate's job, re-proven every window)."""
    import duckdb

    from hbasemapreduce_spark.operators.llm_similarity import IVF_PAIR_SQL

    def truth_sets(sf_dir):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        allp = set(
            map(
                tuple,
                con.execute(
                    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb"
                    "  FROM embeddings) "
                    "SELECT a.vec_id, b.vec_id FROM e a JOIN e b"
                    "  ON a.vec_id < b.vec_id "
                    "WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4"
                ).fetchall(),
            )
        )
        lab = set(
            map(
                tuple,
                con.execute(
                    "WITH e AS (SELECT vec_id, label,"
                    "  CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) "
                    "SELECT a.vec_id, b.vec_id FROM e a JOIN e b"
                    "  ON a.label = b.label AND a.vec_id < b.vec_id "
                    "WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4"
                ).fetchall(),
            )
        )
        ivf = set(
            map(
                tuple,
                con.execute(
                    "WITH " + IVF_PAIR_SQL + " SELECT id_a, id_b FROM epairs"
                    "  WHERE raw >= 0.4"
                ).fetchall(),
            )
        )
        con.close()
        return ivf, allp, lab

    shipped = {
        (r.id_a, r.id_b)
        for r in SPECS["x_dedup_embedding"].fn(spark, SF_DIR).collect()
    }
    # (sf_dir, spark pairs or None, label containment expected): with the
    # r12 SUBLINEAR probe rule — max(7, ceil(2*sqrt(nlist))) lists, so
    # pair generation is O(n^1.5) instead of r11's O(n²) constant-
    # fraction rule — measured recall is 0.970/0.983/0.909; strict
    # label-set CONTAINMENT is measured true at the small SFs, a floored
    # recall at sf0.1 (measured 0.930).
    for sf_dir, ivf_pairs, contain in (
        (SF_DIR, shipped, True),
        ("/root/testdata/sf0.01", None, True),
        ("/root/testdata/sf0.1", None, False),
    ):
        ivf_spec, allp, lab = truth_sets(sf_dir)
        ivf = ivf_spec if ivf_pairs is None else ivf_pairs
        if ivf_pairs is not None:  # Spark twin matches the SQL spec exactly
            assert ivf == ivf_spec
        if contain:
            assert lab <= ivf, f"{sf_dir}: lost label-blocked pairs {lab - ivf}"
        else:
            lab_recall = len(ivf & lab) / len(lab)
            assert lab_recall >= 0.9, f"{sf_dir}: label recall {lab_recall:.2f}"
        assert not (ivf - allp), f"{sf_dir}: false positives {ivf - allp}"
        recall = len(ivf & allp) / len(allp)
        assert recall >= 0.85, f"{sf_dir}: all-pairs recall {recall:.2f}"


_TRAINED_STRUCTURE_SAG_CASES = [
    # (key, select cols, exact-truth SQL, floor, max sag sf0.001 -> sf0.1)
    #
    # The probe-scaling lesson (VERDICT r11 item 6: in round 11 a fixed
    # nprobe=7 let the dedup blocker's pair recall sag 0.97 -> 0.69 from
    # sf0.001 to sf0.1, because nlist grows with the corpus) as a test:
    # any key that probes a TRAINED structure (IVF lists, PQ shortlists)
    # must scale its probe/shortlist budget with the structure, or
    # recall silently decays as the corpus grows.  Each case runs the
    # key's own SQL oracle at sf0.001 AND sf0.1 against exact
    # brute-force truth and pins both an absolute floor and a maximum
    # cross-sf sag.
    (
        "x_sim_knn_graph_ivf",
        ("src", "dst"),
        # exact top-3 cosine graph
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        "p AS (SELECT a.vec_id AS src, b.vec_id AS dst, "
        "  round(list_cosine_similarity(a.emb, b.emb), 6) AS sim "
        "  FROM e a JOIN e b ON a.vec_id <> b.vec_id), "
        "r AS (SELECT src, dst, row_number() OVER ("
        "  PARTITION BY src ORDER BY sim DESC, dst) AS rk FROM p) "
        "SELECT src, dst FROM r WHERE rk <= 3",
        0.70,  # measured 0.837 / 0.843 / 0.797 (nprobe = nlist^0.75)
        0.10,
    ),
    (
        "x_sim_ivf_kmeans",
        ("query_id", "neighbor_id"),
        # exact top-5 cosine for the 10 query vectors
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        "q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10), "
        "p AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
        "  round(list_cosine_similarity(q.q_emb, e.emb), 6) AS sim "
        "  FROM q JOIN e ON e.vec_id <> q.query_id), "
        "r AS (SELECT query_id, neighbor_id, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM p) "
        "SELECT query_id, neighbor_id FROM r WHERE rk <= 5",
        0.75,  # measured 0.860 / 0.860 / 0.820 (nprobe 2 of FIXED k=8:
        0.10,  # constant probed fraction of a fixed structure holds)
    ),
    (
        "x_sim_ivfpq",
        ("query_id", "neighbor_id"),
        # exact top-5 integer-micros L2 for the 10 query vectors
        "WITH em AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), "
        "  x -> CAST(round((round(x, 6) + 1) * 1000000) AS BIGINT)) AS m "
        "  FROM embeddings), "
        "q AS (SELECT vec_id AS query_id, m AS qm FROM em WHERE vec_id < 10), "
        "p AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
        "  CAST(list_sum(list_transform(list_zip(q.qm, e.m), "
        "    t -> (t[1] - t[2]) * (t[1] - t[2]))) AS BIGINT) AS d2 "
        "  FROM q JOIN em e ON e.vec_id <> q.query_id), "
        "r AS (SELECT query_id, neighbor_id, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY d2, neighbor_id) AS rk FROM p) "
        "SELECT query_id, neighbor_id FROM r WHERE rk <= 5",
        0.70,  # measured 0.860 / 0.840 / 0.780 (shortlist = 6*sqrt(n),
        # tuned against the measured 0.860/0.820 list-probe ceiling;
        # the old FIXED 50 shortlist sagged to 0.400, which this bar
        # catches.  Finer PQ codes were measured NOT to be the lever:
        # m=8/dsub=8 at fixed-50 scored 0.460 — on a near-isotropic
        # corpus shortlist width, not code bits, recovers recall.)
        0.10,
    ),
]


@pytest.mark.parametrize(
    "key,cols,exact_sql,floor,max_sag",
    _TRAINED_STRUCTURE_SAG_CASES,
    ids=[c[0] for c in _TRAINED_STRUCTURE_SAG_CASES],
)
def test_trained_structure_recall_holds_across_sf(key, cols, exact_sql, floor, max_sag):
    """VERDICT r11 item 6: recall of every trained-structure key,
    measured from its own SQL oracle (Spark ≡ oracle is the hash
    gate's job), must clear an absolute floor at BOTH sf0.001 and
    sf0.1 and sag no more than ``max_sag`` between them.  The
    IVF-blocked dedup pair family has the same guard in
    test_dedup_embedding_ivf_blocking_supersedes_label_blocking."""
    import duckdb

    from hbasemapreduce_spark.registry import all_specs

    oracle = all_specs()[key].oracle
    recalls = {}
    for sf_dir in (SF_DIR, "/root/testdata/sf0.1"):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        exact = set(map(tuple, con.execute(exact_sql).fetchall()))
        got = {
            (r[0], r[1])
            for r in con.execute(
                f"SELECT {cols[0]}, {cols[1]} FROM ({oracle})"
            ).fetchall()
        }
        con.close()
        recalls[sf_dir] = len(got & exact) / len(exact)
        assert recalls[sf_dir] >= floor, (
            f"{key} @ {sf_dir}: recall {recalls[sf_dir]:.3f} < floor {floor}"
        )
    sag = recalls[SF_DIR] - recalls["/root/testdata/sf0.1"]
    assert sag <= max_sag, (
        f"{key}: recall sags {sag:.3f} from sf0.001 to sf0.1 "
        f"({recalls[SF_DIR]:.3f} -> {recalls['/root/testdata/sf0.1']:.3f}) — "
        "the probe/shortlist budget is not scaling with the structure"
    )


def test_hdr_quantile_bound_and_merge(spark):
    """x_agg_hdr_quantiles' two claims:

    1. ERROR BOUND — the reported estimate is the containing bucket's
       lower bound, so est <= exact_quantile < est * (1 + 1/16) for
       every (priority, pct), exact computed by full sort here.
    2. MERGEABILITY — bucket counts add: sketching two disjoint halves
       of the corpus and SUMMING the histograms answers every quantile
       identically to the one-shot sketch (the property that makes it
       one map-side-combined aggregate at any shard/partition split).
       Proven on the SQL spec; Spark == spec is the oracle test's job.
    """
    import duckdb

    rows = SPECS["x_agg_hdr_quantiles"].fn(spark, SF_DIR).collect()
    assert len(rows) == 15  # 5 priorities x 3 percentiles
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/orders.parquet')"
    )
    exact = {}
    for prio, p50, p95, p99 in con.execute(
        "WITH c AS (SELECT o_orderpriority AS prio, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS cents "
        "FROM orders) "
        "SELECT prio, CAST(quantile_disc(cents, 0.50) AS BIGINT), "
        "CAST(quantile_disc(cents, 0.95) AS BIGINT), "
        "CAST(quantile_disc(cents, 0.99) AS BIGINT) FROM c GROUP BY prio"
    ).fetchall():
        exact[(prio, 50)], exact[(prio, 95)], exact[(prio, 99)] = p50, p95, p99
    for r in rows:
        t = exact[(r.o_orderpriority, r.pct)]
        assert r.est_cents <= t < r.est_cents * (1 + 1 / 16) + 1, (
            r.o_orderpriority,
            r.pct,
            r.est_cents,
            t,
        )
    # merge: histogram(half A) + histogram(half B) == histogram(all),
    # so the derived quantiles match the one-shot answer exactly
    merged = con.execute(
        "WITH c AS (SELECT o_orderpriority AS prio, "
        "  CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT) AS cents, "
        "  (o_orderkey * 2654435761) % 2 AS half FROM orders), "
        "bk AS (SELECT prio, half, length(bin(cents)) - 1 AS b, "
        "  (cents >> greatest(length(bin(cents)) - 5, 0)) & 15 AS sub FROM c), "
        "h_half AS (SELECT prio, half, b, sub, COUNT(*) AS cnt "
        "  FROM bk GROUP BY 1, 2, 3, 4), "
        "h AS (SELECT prio, b, sub, CAST(SUM(cnt) AS BIGINT) AS cnt "
        "  FROM h_half GROUP BY 1, 2, 3), "  # <- the merge: counts add
        "cu AS (SELECT prio, b, sub, cnt, "
        "  SUM(cnt) OVER (PARTITION BY prio ORDER BY b, sub) AS cum, "
        "  SUM(cnt) OVER (PARTITION BY prio) AS n FROM h), "
        "p AS (SELECT cu.*, t.pct FROM cu, (VALUES (50),(95),(99)) AS t(pct)) "
        "SELECT prio, CAST(pct AS BIGINT), "
        "CAST(CASE WHEN b >= 4 THEN (16 + sub) << (b - 4) ELSE sub END AS BIGINT) "
        "FROM p WHERE cum >= (n * pct + 99) // 100 "
        "AND cum - cnt < (n * pct + 99) // 100"
    ).fetchall()
    got = {(r.o_orderpriority, r.pct): r.est_cents for r in rows}
    assert {(p, q): e for p, q, e in merged} == got
    con.close()


def test_hdr_bucketing_handles_small_values_identically(spark):
    """ADVICE r11: the HDR sub-bucket shift is clamped at zero on both
    engines, so values in [0, 16) land in exact single-value buckets
    instead of driving a negative shift count (which Spark masks mod 64
    and DuckDB rejects).  Drive the shared bucketing arithmetic over
    0..1000 — covering the sub-16 linear range, the 16..31 first
    exponent, and multi-exponent values — and require (1) Spark ==
    DuckDB on (b, sub) for every value, (2) the derived lower bound is
    exact for v < 16 and within the 1/16 relative bound above."""
    import duckdb

    from pyspark.sql import functions as FF

    vals = list(range(0, 1001))
    sdf = (
        spark.range(0, 1001)
        .select(FF.col("id").cast("long").alias("cents"))
        .select(
            "cents",
            (FF.length(FF.bin(FF.col("cents"))) - 1).alias("b"),
            FF.expr(
                "shiftright(cents, CAST(greatest(length(bin(cents)) - 5, 0)"
                " AS INT)) & 15"
            ).alias("sub"),
        )
    )
    got = {r.cents: (r.b, r.sub) for r in sdf.collect()}
    con = duckdb.connect()
    oracle = {
        v: (b, s)
        for v, b, s in con.execute(
            "SELECT v, length(bin(v)) - 1, "
            "(v >> greatest(length(bin(v)) - 5, 0)) & 15 "
            "FROM (SELECT CAST(range AS BIGINT) AS v FROM range(0, 1001))"
        ).fetchall()
    }
    con.close()
    assert got == oracle
    for v in vals:
        b, sub = got[v]
        est = ((16 + sub) << (b - 4)) if b >= 4 else sub
        if v < 16:
            assert est == v, (v, est)  # exact single-value bucket
        else:
            assert est <= v < est * (1 + 1 / 16) + 1, (v, est)


def test_heavy_hitters_sandwich_bound(spark):
    """x_agg_heavy_hitters' Misra-Gries guarantee at two scale factors:
    every reported token satisfies est <= true_count <= est + err_bound
    (true counts recomputed exactly in DuckDB), err_bound is one global
    value <= n_tokens/(K+1) per compression applied (three here), and
    the report is exactly the top-10 of the merged summary with a total
    (est DESC, token) ordering."""
    import duckdb

    for sf_dir in (SF_DIR, "/root/testdata/sf0.01"):
        rows = SPECS["x_agg_heavy_hitters"].fn(spark, sf_dir).collect()
        assert 0 < len(rows) <= 10
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        order = [(-r.est_count, r.token) for r in rows]
        assert order == sorted(order)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        true = dict(
            con.execute(
                "SELECT token, CAST(COUNT(*) AS BIGINT) FROM (SELECT "
                "unnest(string_split(text, ' ')) AS token FROM documents) "
                "GROUP BY token"
            ).fetchall()
        )
        n_tok = sum(true.values())
        con.close()
        err = rows[0].err_bound
        assert all(r.err_bound == err for r in rows)  # one global bound
        assert 0 <= err <= 3 * n_tok // 21 + 3  # three K=20 compressions
        for r in rows:
            t = true[r.token]
            assert r.est_count <= t <= r.est_count + err, (r.token, r.est_count, t, err)


def test_ewma_matches_direct_recursion_and_bounds(spark):
    """x_time_ewma: the reported value equals the direct 16-term
    weighted mean recomputed from the raw ordered series (numpy int64
    arithmetic, same dyadic weights), and therefore lies within
    [min, max] of its 16-value window."""
    import numpy as np
    import pyarrow.parquet as pq_

    rows = SPECS["x_time_ewma"].fn(spark, SF_DIR).collect()
    assert rows
    t = pq_.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    t["m"] = np.round(np.round(t.value.astype("float64"), 6) * 1e6).astype("int64")
    t["ts_us"] = t.ts.values.astype("datetime64[us]").astype("int64")
    got = {(r.event_type, r.ts_us, r.event_id): r.ewma for r in rows}
    n_checked = 0
    for etype, g in t.groupby("event_type"):
        g = g.sort_values(["ts_us", "event_id"]).reset_index(drop=True)
        m = g.m.values
        # ascending weights: the window slice is oldest->newest, and the
        # CURRENT row carries the largest weight 2^15
        w = (2 ** np.arange(0, 16)).astype("int64")
        for i in range(15, len(g)):
            num = int((m[i - 15 : i + 1] * w).sum())
            expect = num / 65535.0 / 1000000.0
            key = (etype, int(g.ts_us[i]), int(g.event_id[i]))
            assert key in got, key
            assert got[key] == expect, (key, got[key], expect)
            lo, hi = m[i - 15 : i + 1].min() / 1e6, m[i - 15 : i + 1].max() / 1e6
            assert lo - 1e-9 <= got[key] <= hi + 1e-9
            n_checked += 1
    assert n_checked == len(rows)


def test_lttb_downsample_covers_buckets_and_endpoints(spark):
    """x_time_downsample_lttb structural invariants: exactly one point
    per (series, bucket) for all 22 buckets; the bucket-0 / bucket-21
    points ARE the series' true first/last points (tie-broken by
    event_id); every selected point is a real input row."""
    from pyspark.sql import functions as FF

    from hbasemapreduce_spark.catalog import load_table

    rows = SPECS["x_time_downsample_lttb"].fn(spark, SF_DIR).collect()
    per_series: dict[str, set[int]] = {}
    for r in rows:
        per_series.setdefault(r.event_type, set()).add(r.bucket)
    assert len(per_series) == 5
    for et, buckets in per_series.items():
        assert buckets == set(range(22)), (et, sorted(buckets))
    assert len(rows) == 5 * 22  # exactly one per bucket

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type",
        "event_id",
        FF.unix_micros(FF.col("ts").cast("timestamp")).alias("ts_us"),
        (FF.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    first_last = {
        (r.event_type, which): (r.ts_us, r.cents)
        for which, order in (
            ("first", [FF.col("ts_us"), FF.col("event_id")]),
            ("last", [FF.col("ts_us").desc(), FF.col("event_id").desc()]),
        )
        for r in ev.withColumn(
            "rn",
            FF.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("event_type")
                .orderBy(*order)
            ),
        )
        .filter(FF.col("rn") == 1)
        .collect()
    }
    inputs = {(r.event_type, r.ts_us, r.cents) for r in ev.collect()}
    for r in rows:
        assert (r.event_type, r.ts_us, r.cents) in inputs
        if r.bucket == 0:
            assert first_last[(r.event_type, "first")] == (r.ts_us, r.cents)
        if r.bucket == 21:
            assert first_last[(r.event_type, "last")] == (r.ts_us, r.cents)


def test_hdr_cdf_sketch_is_a_conservative_lower_bound(spark):
    # x_agg_hdr_cdf's structural claim: the sketch-side count (buckets
    # whose exact upper bound clears T) can never exceed the exact
    # count, and can undershoot by at most the one straddling bucket's
    # population per threshold — i.e. the value-side error stays inside
    # the < 1/16 relative band around T.
    rows = SPECS["x_agg_hdr_cdf"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        for tag in ("20m", "30m", "40m"):
            sk, ex = r[f"sk_le_{tag}"], r[f"ex_le_{tag}"]
            assert 0 <= sk <= ex <= r.n_rows, (r.o_orderpriority, tag, sk, ex)


def test_holt_matches_exact_fraction_recursion(spark):
    """x_time_holt: the closed-form dyadic weights reproduce the
    textbook Holt recursion run directly in exact Fractions over each
    10-observation window (init level=x1, trend=x2-x1, alpha=beta=1/2),
    and on a constant series level==the constant, trend==0."""
    from fractions import Fraction

    import numpy as np
    import pyarrow.parquet as pq_

    rows = SPECS["x_time_holt"].fn(spark, SF_DIR).collect()
    assert rows
    t = pq_.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    t["m"] = np.round(t.value.astype("float64") * 100).astype("int64")
    t["ts_us"] = t.ts.values.astype("datetime64[us]").astype("int64")
    got = {(r.event_type, r.ts_us, r.event_id): r for r in rows}
    n = 0
    for etype, g in t.groupby("event_type"):
        g = g.sort_values(["ts_us", "event_id"]).reset_index(drop=True)
        m = [int(v) for v in g.m.values]
        for i in range(9, len(g)):
            win = m[i - 9 : i + 1]
            lvl = Fraction(win[0])
            trd = Fraction(win[1] - win[0])
            for x in win[1:]:
                prev = lvl
                lvl = (Fraction(x) + lvl + trd) / 2
                trd = (lvl - prev + trd) / 2
            r = got[(etype, int(g.ts_us[i]), int(g.event_id[i]))]
            assert r.level == float(lvl * 65536) / 6553600.0
            assert r.trend == float(trd * 65536) / 6553600.0
            assert r.forecast == float((lvl + trd) * 65536) / 6553600.0
            n += 1
    assert n == len(rows)


def test_decay_topk_rebase_shift_and_bounds(spark):
    """x_agg_decay_topk invariants: scores are exact sums of powers of
    two recomputed from raw event ages; the rank-k list is the true
    top-k under (score DESC, user_id); and the streaming re-base
    identity holds — shifting the reference time by d days divides
    every score by 2^d exactly (up to the K-horizon cutoff mass)."""
    import numpy as np
    import pyarrow.parquet as pq_

    rows = SPECS["x_agg_decay_topk"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    t = pq_.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    us = t.ts.values.astype("datetime64[us]").astype("int64")
    day = us // 86400000000
    age = int(day.max()) - day
    K = 20
    w = np.where(age <= K, 1 << (K - np.minimum(age, K)), 0).astype("int64")
    import collections

    true_score = collections.defaultdict(int)
    true_n = collections.defaultdict(int)
    for u, wt in zip(t.user_id.values, w):
        true_score[int(u)] += int(wt)
        true_n[int(u)] += 1
    order = sorted(true_score, key=lambda u: (-true_score[u], u))
    assert [r.user_id for r in rows] == order[: len(rows)]
    for r in rows:
        assert r.score == true_score[r.user_id]
        assert r.n_events == true_n[r.user_id]
        # re-base identity: one extra day halves every surviving term
        rebased = sum(
            1 << (K - a - 1)
            for u, a in zip(t.user_id.values, age)
            if int(u) == r.user_id and a <= K - 1
        )
        assert rebased == sum(
            1 << (K - a - 1)
            for u, a in zip(t.user_id.values, age)
            if int(u) == r.user_id and a <= K
            if a <= K - 1
        )
        assert abs(rebased - r.score // 2) <= (true_n[r.user_id] + 1) // 2


def test_interval_overlap_grid_join_is_exactly_once(spark):
    """x_join_interval_overlap: the grid-cell rewrite emits each
    overlapping pair EXACTLY once (no dedup shuffle to hide double
    emission), matches the O(n*m) numpy recomputation pair-for-pair,
    and every overlap length lies in (0, 5min] — the shorter side
    bounds the intersection."""
    import numpy as np
    import pyarrow.parquet as pq_

    rows = SPECS["x_join_interval_overlap"].fn(spark, SF_DIR).collect()
    assert rows
    pairs = [(r.error_id, r.purchase_id) for r in rows]
    assert len(pairs) == len(set(pairs))  # exactly-once, not deduped
    t = pq_.read_table(f"{SF_DIR}/events.parquet").to_pandas()
    t["us"] = t.ts.values.astype("datetime64[us]").astype("int64")
    err = t[t.event_type == "error"]
    pur = t[t.event_type == "purchase"]
    want = {}
    for eid, sa in zip(err.event_id.values, err.us.values):
        ea = sa + 600_000_000
        for pid, sb in zip(pur.event_id.values, pur.us.values):
            eb = sb + 300_000_000
            if sa < eb and sb < ea:
                want[(int(eid), int(pid))] = int(min(ea, eb) - max(sa, sb))
    assert {(r.error_id, r.purchase_id): r.overlap_us for r in rows} == want
    for r in rows:
        assert 0 < r.overlap_us <= 300_000_000


def test_positional_delete_tombstones_recover_exact_keys(spark):
    """x_source_positional_deletes: joining the tombstone sidecar's
    (bucket, pos) pairs back onto the staged files' physical
    _metadata.row_index recovers EXACTLY the keys the deletion was
    derived from (o_orderkey % 7 == 3) — the position->key round-trip
    the operator's anti-join depends on — and the survivors plus the
    deleted rows partition the staged table."""
    import os

    from pyspark.sql import functions as F

    from hbasemapreduce_spark.operators.pipeline import _stage_posdelete_table

    staged = _stage_posdelete_table(spark, SF_DIR)
    data = spark.read.parquet(os.path.join(staged["root"], "data")).select(
        "o_orderkey", "bucket", F.col("_metadata.row_index").alias("pos")
    )
    dels = spark.read.parquet(os.path.join(staged["root"], "deletes"))
    hit = data.join(dels, ["bucket", "pos"]).select("o_orderkey").collect()
    got = sorted(r.o_orderkey for r in hit)
    allk = [r.o_orderkey for r in data.select("o_orderkey").collect()]
    want = sorted(k for k in allk if k % 7 == 3)
    assert got == want and len(got) == dels.count() > 0
    live = data.join(dels, ["bucket", "pos"], "left_anti").count()
    assert live + len(got) == len(allk)


def test_gram_containment_hash_keys_are_collision_free_and_prefix_lossless(spark):
    """x_dedup_gram_containment (r12 optimization) moved the SSJoin
    index and verify onto xxhash64-packed gram keys and rarest-first
    (df-ordered) prefixes.  Exactness preconditions pinned here:

    1. the corpus 3-gram vocabulary is xxhash64-COLLISION-FREE (the
       verify's intersect-on-hashes equals intersect-on-strings only
       then; the candidate join needs nothing — collisions there can
       only add candidates the exact verify rejects);
    2. the rarest-first prefix filter is LOSSLESS: every pair the
       naive all-pairs containment accepts survives the prefix-join
       candidate generation (pigeonhole over any fixed
       (n DIV 5 + 1)-gram subset).
    """
    from hbasemapreduce_spark.operators.llm_dedup import _CONT_N

    docs = load_table(spark, SF_DIR, "documents")
    w = F.split("text", " ")
    grams = docs.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(split(text, ' ')) - {_CONT_N - 1}), "
                f"i -> concat_ws(' ', slice(split(text, ' '), i, {_CONT_N})))"
            )
        ).alias("gram")
    ).filter(F.size(w) >= _CONT_N).distinct()
    counts = grams.agg(
        F.count("*").alias("n_grams"),
        F.countDistinct(F.xxhash64("gram")).alias("n_hashes"),
    ).collect()[0]
    assert counts.n_grams == counts.n_hashes > 0

    # Prefix losslessness: the registered (prefix-filtered) output must
    # equal the naive all-pairs containment computed right here.
    d = docs.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(split(text, ' ')) - {_CONT_N - 1}), "
                f"i -> concat_ws(' ', slice(split(text, ' '), i, {_CONT_N})))"
            )
        ).alias("g"),
    ).filter(F.size(w) >= _CONT_N)
    a, b = d.alias("a"), d.alias("b")
    naive = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.size(F.array_intersect("a.g", "b.g")).cast("double")
                / F.size("a.g")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
    )
    want = sorted(map(tuple, naive.collect()))
    got = sorted(map(tuple, SPECS["x_dedup_gram_containment"].fn(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0


def test_span_gram_hash_keys_are_collision_free(spark):
    """x_dedup_span (r12 optimization) keys the duplicated-gram
    dictionary on xxhash64 of the 8-token slice instead of an md5 hex
    string.  Exactness precondition: the corpus 8-gram occurrence
    vocabulary is xxhash64-collision-free (then any injective key
    yields the same duplicated-position set the md5 oracle derives)."""
    from hbasemapreduce_spark.operators.llm_dedup import _SPAN_K

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    grams = (
        docs.filter(F.size("w") >= _SPAN_K)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {_SPAN_K - 1}), "
                    f"i -> slice(w, i, {_SPAN_K}))"
                )
            ).alias("g")
        )
        .distinct()
    )
    counts = grams.agg(
        F.count("*").alias("n_grams"),
        F.countDistinct(F.xxhash64("g")).alias("n_hashes"),
    ).collect()[0]
    assert counts.n_grams == counts.n_hashes > 0


def test_phash_signature_reads_only_the_256_byte_prefix(spark, tmp_path):
    """x_multimodal_phash_dedup (r12 optimization) builds its byte-value
    array over substring(payload, 1, 256) instead of the whole document
    — sound because the 64-block fold addresses byte indices 1..256
    only.  Pin it semantically: two corpora that agree on every
    document's first 256 bytes but diverge loudly afterwards must yield
    the EXACT same near-dup pair set (and the same for the CC twin's
    input, which reuses the operator)."""
    from hbasemapreduce_spark.operators.llm_multimodal import (
        multimodal_phash_dedup,
    )

    docs = load_table(spark, SF_DIR, "documents")
    # shared 600-char ASCII pad: every doc's first 256 bytes are
    # text+pad-prefix in BOTH corpora; the corpora differ only past the
    # pad (far beyond byte 256 for every row)
    pad = "x" * 600
    for name, tail in (("a", "AAAA"), ("b", "ZZZZZZZZ")):
        docs.withColumn(
            "text", F.concat(F.col("text"), F.lit(pad + tail))
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name / "documents.parquet")
        )
    rows_a = sorted(
        tuple(r) for r in multimodal_phash_dedup(spark, str(tmp_path / "a")).collect()
    )
    rows_b = sorted(
        tuple(r) for r in multimodal_phash_dedup(spark, str(tmp_path / "b")).collect()
    )
    assert rows_a == rows_b
    assert len(rows_a) > 0  # the padded corpus still yields near-dup pairs


def test_audio_energy_null_text_yields_zero_frames(spark, tmp_path):
    """x_multimodal_audio_energy's numpy kernel must not crash on a NULL
    payload: a NULL text has no bytes, so it yields zero frames — which
    is also what the DuckDB oracle's unnest over a NULL range gives."""
    import duckdb

    from hbasemapreduce_spark.operators.llm_multimodal import (
        multimodal_audio_energy,
    )

    docs = load_table(spark, SF_DIR, "documents")
    nulled = docs.withColumn(
        "text", F.when(F.col("doc_id") % 3 != 0, F.col("text"))
    )
    nulled.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = multimodal_audio_energy(spark, str(tmp_path))
    assert got.count() > 0
    assert got.filter(F.col("doc_id") % 3 == 0).count() == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.execute(SPECS["x_multimodal_audio_energy"].oracle).df()
    con.close()
    assert_frames_match(got.toPandas(), want, "x_multimodal_audio_energy")


def test_substring_index_equals_first_split_token(spark):
    """x_dedup_url / x_text_pii_mask (r12 optimization) take the first
    text token via substring_index(text, ' ', 1) instead of
    element_at(split(text, ' '), 1) — equivalent by definition
    (everything before the first delimiter; whole string when absent),
    pinned here over the real corpus plus the edge shapes (no space,
    leading space, consecutive spaces, empty)."""
    docs = load_table(spark, SF_DIR, "documents").select("text")
    edge = spark.createDataFrame(
        [("nospace",), (" leading",), ("a  b",), ("",)], "text string"
    )
    both = docs.unionByName(edge).select(
        F.element_at(F.split("text", " "), 1).alias("a"),
        F.substring_index(F.col("text"), " ", 1).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0
    assert both.filter(F.col("a").isNull() != F.col("b").isNull()).count() == 0


def test_split_long_sum_matches_decimal_sandwich(spark):
    # r13 (determinism.split_sum_parts/_total): the hi/lo long-pair sum
    # must be BIT-identical to the decimal sandwich for exact scaled
    # integers — including negatives (truncation identity), values
    # straddling the 1e6 split, and group sums past 2^53 where a plain
    # long->double->divide spelling would double-round.
    import struct

    from pyspark.sql import Row

    from hbasemapreduce_spark.functions.determinism import (
        split_sum_parts,
        split_sum_total,
    )

    rows = [
        Row(g="a", c=123456789012345),   # > 1e6 split
        Row(g="a", c=-987654321),        # negative
        Row(g="a", c=999999),            # just under the split
        Row(g="a", c=-1000001),          # just past the split, negative
        Row(g="b", c=(1 << 55) + 3),     # group sum beyond 2^53
        Row(g="b", c=(1 << 55) + 1),
        Row(g="b", c=7),
        Row(g="c", c=0),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r.g: r.s
        for r in df.groupBy("g")
        .agg(*split_sum_parts("c", "s"))
        .select("g", split_sum_total("s", 4))
        .collect()
    }
    want = {
        r.g: r.s
        for r in df.groupBy("g")
        .agg(
            F.sum((F.col("c").cast("decimal(38,4)") / F.lit(10**4).cast("decimal(38,0)")))
            .cast("double")
            .alias("s")
        )
        .collect()
    }
    # reference: exact decimal sum of c/10^4, single rounding to double
    assert set(got) == set(want)
    for g in got:
        assert struct.pack("<d", got[g]) == struct.pack("<d", want[g]), (
            g,
            repr(got[g]),
            repr(want[g]),
        )


# -- engine-portable hashes: one definition, four agreeing spellings ----

_HASH_STRINGS = ("0123456789abcdef", "conv(", str(KNUTH))


def _portable_hash_spellings(path) -> list[str]:
    tree = ast.parse(path.read_text())
    docstrings = docstring_ids(tree)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docstrings:
                found += [f"{path}:{node.lineno} {s!r}" for s in _HASH_STRINGS if s in node.value]
        elif isinstance(node, ast.Constant) and node.value == KNUTH:
            found.append(f"{path}:{node.lineno} {KNUTH}")
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "conv"
            and isinstance(node.value, ast.Name)
            and node.value.id == "F"
        ):
            found.append(f"{path}:{node.lineno} F.conv")
    return found


def test_only_determinism_module_spells_portable_hashes():
    # The md5-hex parse and the Knuth constant are spelled once, in
    # functions/determinism.py; every operator and oracle calls them.
    from pathlib import Path

    from hbasemapreduce_spark.functions import determinism

    own = Path(determinism.__file__).resolve()
    found = [
        use
        for path in sorted(own.parents[1].rglob("*.py"))
        if path != own
        for use in _portable_hash_spellings(path)
    ]
    assert found == [], found
    assert _portable_hash_spellings(own)  # the scan does see the spellings where they live


def test_portable_hex_parse_agrees_across_spellings(spark):
    # Spark Column, Spark SQL and DuckDB spellings of the hex parse all
    # equal Python's int(md5 hex span, 16), for fixed spans and for one
    # digit at a SQL-computed position.
    import hashlib

    import duckdb

    from hbasemapreduce_spark.functions.determinism import (
        hex_digit_duck,
        hex_int,
        hex_int_duck,
        hex_int_sql,
    )

    spans = [(1, 12), (1, 6), (7, 6), (19, 6)]
    pos = "k % 32 + 1"  # walks every digit of the 32-char md5
    keys = range(300)
    want = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        want[k] = tuple(int(h[s - 1 : s - 1 + n], 16) for s, n in spans) + (int(h[k % 32], 16),)

    base = spark.range(keys.start, keys.stop).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    spark_col = base.select(
        "k", *[hex_int("h", s, n) for s, n in spans], F.expr(hex_int_sql("h", pos, 1))
    )
    spark_sql = base.select(
        "k", *[F.expr(hex_int_sql("h", s, n)) for s, n in spans], F.expr(hex_int_sql("h", pos, 1))
    )
    duck = duckdb.connect().execute(
        "SELECT k, "
        + ", ".join([hex_int_duck("h", s, n) for s, n in spans] + [hex_digit_duck("h", pos)])
        + f" FROM (SELECT range AS k, md5(CAST(range AS VARCHAR)) AS h "
        f"FROM range({keys.start}, {keys.stop}))"
    ).fetchall()
    for name, rows in [
        ("spark column", [tuple(r) for r in spark_col.collect()]),
        ("spark sql", [tuple(r) for r in spark_sql.collect()]),
        ("duckdb", duck),
    ]:
        got = {r[0]: tuple(r[1:]) for r in rows}
        assert got == want, name
