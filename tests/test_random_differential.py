"""Seeded randomized differential tests against independent reference
implementations (pandas / pure Python) — a third opinion beside the
DuckDB oracle, on inputs the testdata does not cover.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hbasemapreduce_spark.functions.asof import asof_join
from hbasemapreduce_spark.functions.minhash import expand_bag, minhash_pairs


def test_asof_join_matches_pandas_merge_asof(spark):
    rng = np.random.default_rng(7)
    n_l, n_r, n_keys = 400, 150, 8
    left = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_l),
            "t": pd.to_datetime(rng.integers(0, 10_000, n_l), unit="s"),
            "lid": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_r),
            "t": pd.to_datetime(rng.integers(0, 10_000, n_r), unit="s"),
            "rid": np.arange(n_r),
            "val": rng.integers(0, 1000, n_r),
        }
    )
    # merge_asof semantics: latest right with rt <= lt per key.  Break
    # right-side timestamp ties deterministically by keeping only the
    # max-rid row per (k, t) — Spark's tiebreak arg does the same.
    right_dedup = right.sort_values("rid").groupby(["k", "t"], as_index=False).last()
    expected = pd.merge_asof(
        left.sort_values("t"),
        right_dedup.sort_values("t"),
        on="t",
        by="k",
        direction="backward",
    ).sort_values("lid")[["lid", "val"]]

    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right_dedup),
            left_key=F.col("k"),
            right_key=F.col("k"),
            left_time=F.col("t"),
            right_time=F.col("t"),
            payload={"val": F.col("val")},
            right_tiebreak=[F.col("rid")],
        )
        .select("lid", "val")
        .toPandas()
        .sort_values("lid")
    )
    e = expected.reset_index(drop=True)
    g = got.reset_index(drop=True)
    assert len(e) == len(g)
    for i in range(len(e)):
        ev, gv = e["val"].iloc[i], g["val"].iloc[i]
        assert (pd.isna(ev) and pd.isna(gv)) or ev == gv, (i, ev, gv)


def _bag_jaccard(a: list[str], b: list[str]) -> float:
    ca, cb = Counter(a), Counter(b)
    inter = sum((ca & cb).values())
    union = sum((ca | cb).values())
    return inter / union


def test_minhash_bag_pairs_precision_and_planted_recall(spark):
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(30)]
    docs, texts = [], {}
    for i in range(60):
        toks = list(rng.choice(vocab, size=int(rng.integers(20, 60))))
        texts[i] = toks
        docs.append((i, toks))
    # plant 10 shuffled near-dups of docs 0..9 as ids 100..109
    for i in range(10):
        dup = texts[i].copy()
        rng.shuffle(dup)
        if len(dup) > 25:  # light edit: drop one token
            dup = dup[:-1]
        texts[100 + i] = dup
        docs.append((100 + i, dup))
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    bags = expand_bag(df, id_col="id", tokens_col="toks")
    pairs = minhash_pairs(
        bags, id_col="id", items_col="items",
        n_hashes=128, n_bands=8, jaccard_threshold=0.8,
    ).collect()
    # precision is EXACT by construction; re-verify against pure python
    for r in pairs:
        truth = _bag_jaccard(texts[r.id_a], texts[r.id_b])
        assert abs(truth - r.jaccard) < 1e-9 and truth >= 0.8, r
    # planted pairs must be recalled (bag-J ~ 0.95+, deep in the S-curve)
    found = {(r.id_a, r.id_b) for r in pairs}
    for i in range(10):
        if _bag_jaccard(texts[i], texts[100 + i]) >= 0.8:
            assert (i, 100 + i) in found, i


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    _GAP_US = 1_000_000  # 1s sessions keep generated examples interesting

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),  # user
                st.integers(min_value=0, max_value=30_000_000),  # ts_us
            ),
            min_size=1,
            max_size=40,
        )
    )
    @settings(max_examples=10, deadline=None)
    def test_sessionize_properties(spark, events):
        from hbasemapreduce_spark.functions.sessionize import sessionize

        rows = [(u, t, i) for i, (u, t) in enumerate(events)]
        df = spark.createDataFrame(rows, "user_id long, ts_us long, event_id long")
        out = sessionize(df, gap_us=_GAP_US).collect()
        # reference: per-user sort by (ts, id), gap > threshold starts a session
        by_user = {}
        for r in sorted(out, key=lambda r: (r.user_id, r.ts_us, r.event_id)):
            by_user.setdefault(r.user_id, []).append(r)
        assert sum(len(v) for v in by_user.values()) == len(rows)  # partition
        for rs in by_user.values():
            expect = 0
            prev_t = None
            for r in rs:
                if prev_t is None or r.ts_us - prev_t > _GAP_US:
                    expect += 1
                assert r.sess_id == expect, (r, expect)  # exact session numbering
                prev_t = r.ts_us


if _HAS_HYPOTHESIS:
    # --- random-predicate differential: hypothesis-generated boolean
    # predicates over lineitem, Spark filter vs DuckDB WHERE.  Catches
    # translation/pushdown bugs (comparison semantics, null handling,
    # precedence) on inputs no hand-written query covers.  Shape is
    # explicit — (a AND b AND c) OR (d AND e) — so grouping is identical
    # in both engines by construction.
    _OPS = ["<", "<=", ">", ">=", "=", "!="]
    _ATOM = st.one_of(
        st.tuples(st.just("l_orderkey"), st.sampled_from(_OPS), st.integers(0, 61000)),
        st.tuples(st.just("l_linenumber"), st.sampled_from(_OPS), st.integers(1, 7)),
        st.tuples(st.just("l_quantity"), st.sampled_from(_OPS), st.integers(1, 55)),
        st.tuples(
            st.just("l_returnflag"),
            st.sampled_from(["=", "!="]),
            st.sampled_from(["A", "N", "R"]),
        ),
    )

    def _spark_atom(atom):
        c, op, v = atom
        col = F.col(c)
        return {
            "<": col < v, "<=": col <= v, ">": col > v,
            ">=": col >= v, "=": col == v, "!=": col != v,
        }[op]

    def _sql_atom(atom):
        c, op, v = atom
        lit = f"'{v}'" if isinstance(v, str) else repr(v)
        return f"{c} {'<>' if op == '!=' else op} {lit}"

    @given(
        conj_a=st.lists(_ATOM, min_size=1, max_size=3),
        conj_b=st.lists(_ATOM, min_size=1, max_size=3),
    )
    @settings(max_examples=15, deadline=None)
    def test_random_predicate_differential(spark, oracle, conj_a, conj_b):
        import functools
        import operator as op_

        from hbasemapreduce_spark.catalog import load_table

        from .conftest import SF_DIR

        li = load_table(spark, SF_DIR, "lineitem")
        pred = functools.reduce(op_.and_, map(_spark_atom, conj_a)) | functools.reduce(
            op_.and_, map(_spark_atom, conj_b)
        )
        n_spark = li.filter(pred).count()
        sql = (
            "SELECT COUNT(*) FROM lineitem WHERE ("
            + " AND ".join(map(_sql_atom, conj_a))
            + ") OR ("
            + " AND ".join(map(_sql_atom, conj_b))
            + ")"
        )
        n_duck = oracle.execute(sql).fetchone()[0]
        assert n_spark == n_duck, (sql, n_spark, n_duck)


def test_integer_pagerank_matches_pure_python(spark):
    # The exact integer PageRank recurrence, reimplemented in pure
    # Python over a seeded random graph, must match the Spark dataflow
    # BIT-FOR-BIT — integer arithmetic leaves no tolerance to hide
    # behind (a misplaced DIV or a float sneaking in fails exactly).
    from hbasemapreduce_spark.operators.graphs import pagerank_integer

    rng = np.random.default_rng(11)
    n_nodes, n_edges = 40, 120
    und = {
        (int(a), int(b)) if a < b else (int(b), int(a))
        for a, b in rng.integers(0, n_nodes, (n_edges, 2))
        if a != b
    }
    edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    sdf = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.pr for r in pagerank_integer(sdf).collect()}

    # pure-Python twin of the same integer recurrence
    outdeg = Counter(s for s, _ in edges)
    nodes = sorted(outdeg)
    base = 10**12 // len(nodes)
    pr = {n: base for n in nodes}
    for _ in range(3):
        s = Counter()
        for a, b in edges:
            s[b] += pr[a] // outdeg[a]
        pr = {n: (15 * base) // 100 + (85 * s[n]) // 100 for n in nodes}
    assert got == pr


def test_simhash_signatures_match_pure_python(spark):
    # Third opinion for the rows-only SimHash path: seeded random token
    # bags -> simhash_signatures must equal a pure-Python frequency-
    # weighted SimHash bit-for-bit.  Spark supplies only the xxhash64
    # primitive (dumped once); the bit-vote/sign/multiplicity algorithm
    # is reimplemented independently here.
    from hbasemapreduce_spark.functions.minhash import simhash_signatures

    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, [vocab[j] for j in rng.integers(0, 30, int(rng.integers(5, 40)))])
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, "id long, toks array<string>")
    got = {
        r.id: r.sh
        for r in simhash_signatures(df, id_col="id", items_col="toks").collect()
    }
    hmap = {
        r.item: r.h
        for r in spark.createDataFrame([(w,) for w in vocab], "item string")
        .select("item", F.xxhash64("item").alias("h"))
        .collect()
    }
    for i, toks in docs:
        sums = [0] * 64
        for t in toks:
            h = hmap[t]
            for j in range(64):
                sums[j] += 1 if (h >> j) & 1 else -1
        sh = 0
        for j in range(64):
            if sums[j] > 0:
                sh |= 1 << j
        if sh >= 1 << 63:  # python int -> signed 64-bit long
            sh -= 1 << 64
        assert got[i] == sh, i


def test_kcore_matches_pure_python_peel(spark):
    # Seeded Erdos-Renyi-ish graphs vs a pure-Python peel of the SAME
    # fixed-round recurrence (not exact k-core: both sides run the same
    # 3 rounds, so they must agree bit-for-bit).
    from hbasemapreduce_spark.operators.graphs import kcore_core

    rng = np.random.default_rng(23)
    for trial in range(3):
        n, m = 60, 180
        und = {
            tuple(sorted((int(a), int(b))))
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
            if a != b
        }
        edges = [(s, d) for a, b in und for s, d in ((a, b), (b, a))]

        def peel(edge_list, k=3, rounds=3):
            es = list(edge_list)
            for _ in range(rounds):
                deg = Counter(s for s, _ in es)
                keep = {v for v, c in deg.items() if c >= k}
                es = [(s, d) for s, d in es if s in keep and d in keep]
            deg = Counter(s for s, _ in es)
            return {v: c for v, c in deg.items() if c >= 3}

        expected = peel(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.deg for r in kcore_core(df).collect()}
        assert got == expected, f"trial {trial}: {got} != {expected}"


def test_bfs_hops_matches_pure_python(spark):
    # Seeded random digraphs + random seed sets vs a pure-Python twin
    # of the SAME bounded synchronous relaxation (3 rounds, previous
    # round's full distance table relaxed over every edge).  Integer
    # hop counts leave no tolerance — a frontier bug, an off-by-one
    # hop, or a MIN lost in the union fails exactly.
    from hbasemapreduce_spark.operators.graphs import bfs_hops

    rng = np.random.default_rng(17)
    for trial in range(3):
        n, m = 60, 220
        edges = sorted(
            {
                (int(a), int(b))
                for a, b in rng.integers(0, n, (m, 2))
                if a != b
            }
        )
        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        seeds = [v for v in nodes if v % 9 == trial]
        if not seeds:
            continue

        dist = {v: 0 for v in seeds}
        for _ in range(3):
            new = dict(dist)
            for s, d in edges:
                if s in dist and dist[s] + 1 < new.get(d, 1 << 60):
                    new[d] = dist[s] + 1
            dist = new

        e_df = spark.createDataFrame(edges, "src long, dst long")
        s_df = spark.createDataFrame(
            [(v, 0) for v in seeds], "node long, hops long"
        )
        got = {r.node: r.hops for r in bfs_hops(e_df, s_df).collect()}
        assert got == dist, f"trial {trial}"


def test_co_hits_integer_matches_pure_python(spark):
    # Seeded random bipartite graphs vs a pure-Python twin of the same
    # integer co-HITS recurrence (uniform hub start, a = E^T h,
    # h = E a, a again; every half-step L1-renormalized to 10^12 by
    # floor division).  Bit-exact integers: a wrong renorm order, a
    # rounding instead of floor, or a lost half-step fails exactly.
    # Each trial adds NULL-cust edges with the oracle's join semantics:
    # a NULL cust is no hub in the uniform start and never joins a hub
    # vector, but it is a hub of its own after h = E a.  One part is
    # reached only by a NULL cust, so it gets no first authority score.
    from hbasemapreduce_spark.operators.graphs import co_hits_integer

    rng = np.random.default_rng(19)
    scale = 10**12
    for trial in range(3):
        edges = sorted(
            {
                (int(c), 1000 + int(p))
                for c, p in zip(
                    rng.integers(0, 25, 150), rng.integers(0, 40, 150)
                )
            }
        )
        shared, lonely = (None, edges[0][1]), (None, 9999)
        edges += [[shared], [lonely], [shared, lonely]][trial]

        def renorm(scores):
            t = sum(scores.values())
            return {k: (scale * v) // t for k, v in scores.items()}

        def auth_step(h):
            a = Counter()
            for c, p in edges:
                if c is not None and c in h:
                    a[p] += h[c]
            return renorm(a)

        def hub_step(a):
            h = Counter()
            for c, p in edges:
                if p in a:
                    h[c] += a[p]
            return renorm(h)

        custs = sorted({c for c, _ in edges if c is not None})
        h0 = {c: scale // len(custs) for c in custs}
        a1 = auth_step(h0)
        h1 = hub_step(a1)
        a2 = auth_step(h1)
        expected = {("auth", p): v for p, v in a2.items()} | {
            ("hub", c): v for c, v in h1.items()
        }

        e_df = spark.createDataFrame(edges, "cust long, part long")
        got = {
            (r.kind, r.node): r.score for r in co_hits_integer(e_df).collect()
        }
        assert got == expected, f"trial {trial}"


def test_min_label_components_matches_union_find(spark):
    # Seeded random pair lists vs a pure-Python union-find: every
    # endpoint must get the exact minimum id of its connected
    # component.  Exercises the convergence loop itself (the riskiest
    # code path: several rounds per checkpoint and the chg flag read
    # from the checkpoint job), not just one propagation round.
    # max_rounds is generous because plain min-label propagation needs
    # rounds >= the min node's eccentricity, and a sparse random graph
    # can contain long chains.
    from hbasemapreduce_spark.operators.clustering import min_label_components

    def union_find(pairs):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        comp = {}
        for v in parent:
            comp.setdefault(find(v), []).append(v)
        return {v: min(members) for members in comp.values() for v in members}

    def components(pairs, schema, max_rounds=100):
        df = spark.createDataFrame(pairs, schema)
        return {
            r.id: r.label
            for r in min_label_components(df, max_rounds=max_rounds).collect()
        }

    rng = np.random.default_rng(29)
    cases = []
    for n, m in [(50, 40), (60, 90), (80, 30)]:
        cases.append(
            sorted(
                {
                    (int(a), int(b)) if a < b else (int(b), int(a))
                    for a, b in rng.integers(0, n, (m, 2))
                    if a != b
                }
            )
        )
    # a path whose minimum sits at one end: 14 rounds to reach the far
    # end plus one quiet round, i.e. converged only at the 5th checkpoint
    path = [int(v) for v in rng.permutation(np.arange(1, 15))]
    chain = list(zip([0] + path[:-1], path)) + [(100, 101), (101, 102)]
    cases.append(chain)
    for trial, pairs in enumerate(cases):
        got = components(pairs, "id_a long, id_b long")
        assert got == union_find(pairs), f"trial {trial}"

    # string ids, the x_pipeline_entity_resolution shape: labels are the
    # lexicographic minimum, not the numeric one
    words = [(f"n{a}", f"n{b}") for a, b in chain]
    assert components(words, "id_a string, id_b string") == union_find(words)

    # a pair with a NULL endpoint names no node and is dropped
    with_null = cases[0] + [(None, 7), (8, None), (None, None)]
    assert components(with_null, "id_a long, id_b long") == union_find(cases[0])

    # the chain's minimum has eccentricity 14 > max_rounds: must raise,
    # never return the intermediate labels
    with pytest.raises(RuntimeError, match="did not converge"):
        components(chain, "id_a long, id_b long", max_rounds=6)


def test_bpe_train_core_matches_pure_python(spark):
    # Seeded random vocabularies (4-letter alphabet, heavy pair ties)
    # vs a pure-Python Sennrich BPE: per round, count adjacent pairs
    # weighted by word freq, take the (cnt DESC, pa, pb) argmax, merge
    # greedily left-to-right non-overlapping.  The run-parity window
    # trick must reproduce the sequential greedy schedule exactly —
    # including inside runs like 'aaaa' where overlap handling is the
    # whole point.
    from hbasemapreduce_spark.operators.llm_text import bpe_train_core

    rng = np.random.default_rng(31)
    alphabet = "abcd"
    for trial in range(3):
        words = {
            "".join(alphabet[j] for j in rng.integers(0, 4, int(ln))): int(f)
            for ln, f in zip(rng.integers(2, 9, 30), rng.integers(1, 9, 30))
        }

        def bpe_py(word_freq, rounds=3):
            syms = {w: list(w) for w in word_freq}
            merges = []
            for rank in range(1, rounds + 1):
                cnt = Counter()
                for w, f in word_freq.items():
                    s = syms[w]
                    for i in range(len(s) - 1):
                        cnt[(s[i], s[i + 1])] += f
                if not cnt:
                    break
                (pa, pb), c = min(
                    cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
                )
                merges.append((rank, pa, pb, c))
                for w in syms:
                    s, out, i = syms[w], [], 0
                    while i < len(s):
                        if i + 1 < len(s) and s[i] == pa and s[i + 1] == pb:
                            out.append(pa + pb)
                            i += 2
                        else:
                            out.append(s[i])
                            i += 1
                    syms[w] = out
            return merges

        expected = bpe_py(words)
        wdf = spark.createDataFrame(
            list(words.items()), "word string, freq long"
        )
        bests, _ = bpe_train_core(wdf)
        got = [
            (r.merge_rank, r.left_sym, r.right_sym, r.cnt)
            for b in bests
            for r in b.collect()
        ]
        assert got == expected, f"trial {trial}"


def test_hilbert_map_matches_textbook_xy2d(spark):
    # Third opinion for the Hilbert curve: the Spark numpy fold and the
    # DuckDB CTE chain are generated from the SAME level parameters, so
    # the oracle check cannot catch a common-mode bug in the rotation
    # algebra.  Here: seeded random points vs the textbook scalar xy2d
    # routine (Wikipedia / Hacker's Delight form) written independently
    # of the vectorized derivation.
    from hbasemapreduce_spark.functions.zorder import ZBITS, hilbert_map

    def xy2d(x, y, bits=ZBITS):
        d, s = 0, 1 << (bits - 1)
        while s > 0:
            rx = 1 if x & s else 0
            ry = 1 if y & s else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    rng = np.random.default_rng(37)
    pts = [(int(i), int(x), int(y)) for i, (x, y) in enumerate(
        rng.integers(0, 1 << ZBITS, (200, 2))
    )]
    # include the corners and the diagonal seam
    top = (1 << ZBITS) - 1
    pts += [(1000 + j, x, y) for j, (x, y) in enumerate(
        [(0, 0), (0, top), (top, 0), (top, top), (1, 0), (0, 1)]
    )]
    df = spark.createDataFrame(pts, "pid long, x long, y long")
    got = {
        r.pid: r.hv
        for r in hilbert_map(df, "x", "y", keep=["pid"]).collect()
    }
    for pid, x, y in pts:
        assert got[pid] == xy2d(x, y), (pid, x, y)


def test_winnow_fingerprints_match_naive_python(spark):
    # Third opinion for winnowing: the HOF form and the Arrow deque
    # form are already property-tested equal to EACH OTHER; this pins
    # both to a naive pure-Python winnow (hashlib md5, slice-min per
    # window, first-occurrence distinct) on seeded random strings —
    # including ties from repeated substrings, and the short-string
    # empty guards.
    from hashlib import md5

    from hbasemapreduce_spark.functions.text import winnow_fingerprints

    rng = np.random.default_rng(41)
    k, w = 8, 16
    texts = []
    for i in range(20):
        n = int(rng.integers(0, 120))
        # tiny alphabet -> repeated k-grams -> min ties inside windows
        texts.append((i, "".join("ab c"[j] for j in rng.integers(0, 4, n))))
    texts += [(100, ""), (101, "short"), (102, "a" * (k + w - 2)), (103, "a" * (k + w - 1))]

    def naive(t):
        if len(t) < k + w - 1:
            return []
        grams = [md5(t[i : i + k].encode()).hexdigest() for i in range(len(t) - k + 1)]
        mins = [min(grams[j : j + w]) for j in range(len(grams) - w + 1)]
        out, seen = [], set()
        for g in mins:
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: list(r.fps)
        for r in winnow_fingerprints(df, k=k, w=w).collect()
    }
    for i, t in texts:
        assert got[i] == naive(t), i


def test_kmeans_centroids_matches_pure_python_lloyd(spark):
    # One exact-integer Lloyd round on seeded random vectors vs a
    # pure-Python twin: seed centroids are the k lowest vec_ids,
    # assignment argmin is (d2, cid) lexicographic, and the new
    # centroid is the per-dimension floor-div mean.  Bit-exact int64 —
    # a tie broken the other way or a DIV/round slip fails exactly.
    # Micros stay non-negative so Spark's truncating DIV equals
    # Python's floor //.
    from hbasemapreduce_spark.operators.stats_ml import _KM_K, kmeans_centroids

    rng = np.random.default_rng(43)
    for trial in range(2):
        vecs = {
            vid: [int(v) for v in rng.integers(0, 2_000_000, 4)]
            for vid in range(40)
        }

        cents = {vid: m for vid, m in vecs.items() if vid < _KM_K}
        assign = {
            vid: min(
                (sum((a - b) ** 2 for a, b in zip(m, cm)), cid)
                for cid, cm in cents.items()
            )[1]
            for vid, m in vecs.items()
        }
        expected = {}
        for cid in set(assign.values()):
            members = [vecs[v] for v in vecs if assign[v] == cid]
            expected[cid] = [
                sum(col) // len(members) for col in zip(*members)
            ]

        e = spark.createDataFrame(
            [(vid, m) for vid, m in vecs.items()], "vec_id long, m array<long>"
        )
        got = {
            r.cid: list(r.cm)
            for r in kmeans_centroids(spark, "", e=e, dim=4).collect()
        }
        assert got == expected, f"trial {trial}"


@pytest.mark.parametrize("short", [True, False], ids=["short", "null"])
def test_kmeans_and_pq_reject_short_vectors(spark, short):
    # The per-dimension centroid sums would skip a short (or NULL)
    # vector's missing coordinates while its row still counts in the
    # divisor — a silently wrong centroid.  Both trainers must raise.
    from hbasemapreduce_spark.operators.stats_ml import kmeans_centroids, pq_codebooks

    rng = np.random.default_rng(47)
    trainers = [
        ("kmeans_centroids", 4, lambda e: kmeans_centroids(spark, "", e=e, dim=4)),
        ("pq_codebooks", 64, pq_codebooks),
    ]
    for name, dim, train in trainers:
        rows = [(v, [int(x) for x in rng.integers(0, 2_000_000, dim)]) for v in range(40)]
        schema = "vec_id long, m array<long>"
        assert train(spark.createDataFrame(rows, schema)).count() > 0
        bad = rows[0][1][: dim - 3] if short else None
        broken = spark.createDataFrame(rows + [(99, bad)], schema)
        with pytest.raises(Exception, match=f"{name}: vectors must have {dim} dims"):
            train(broken).collect()


def test_cusum_chart_matches_sequential_recurrence(spark):
    # Both engines compute the CUSUM via the reflection identity
    # (S_t = P_t - min(0, min prefix P)), so the oracle cannot catch a
    # common-mode error in the identity itself.  Here: seeded random
    # hourly count series vs the textbook sequential recurrence
    # S_t = max(0, S_{t-1} + (c_t - k - 1)) with the same integer
    # allowance k = floor(mean) and alarm threshold h = k.
    from hbasemapreduce_spark.operators.stats_ml import cusum_chart

    rng = np.random.default_rng(47)
    rows = []
    series = {}
    for et in ("a", "b", "c"):
        hrs = sorted(int(x) for x in rng.choice(200, size=40, replace=False))
        cs = [int(c) for c in rng.integers(1, 30, len(hrs))]
        series[et] = list(zip(hrs, cs))
        rows += [(et, hr, c) for hr, c in series[et]]

    df = spark.createDataFrame(rows, "event_type string, hr long, c long")
    got = {
        (r.event_type, r.hr): (r.cusum, r.alarm)
        for r in cusum_chart(df).collect()
    }

    for et, pts in series.items():
        k = sum(c for _, c in pts) // len(pts)
        s = 0
        for hr, c in pts:
            s = max(0, s + (c - k - 1))
            assert got[(et, hr)] == (s, s > k), (et, hr)


def test_asof_tolerance_matches_pandas_merge_asof(spark):
    # The tolerance variant's subtle semantics: the match is the
    # latest PRIOR right row, and if THAT row is too old the result
    # is NULL — not "the latest right row within the window".  pandas
    # merge_asof(tolerance=...) defines exactly this; drive the same
    # asof machinery + post-filter shape x_join_asof_tolerance uses
    # against it on seeded random streams.
    rng = np.random.default_rng(53)
    n_l, n_r, n_keys = 300, 120, 6
    tol_s = 900
    left = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_l),
            "t": pd.to_datetime(rng.integers(0, 20_000, n_l), unit="s"),
            "lid": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_r),
            "t": pd.to_datetime(rng.integers(0, 20_000, n_r), unit="s"),
            "rid": np.arange(n_r),
            "val": rng.integers(0, 1000, n_r),
        }
    )
    right_dedup = right.sort_values("rid").groupby(["k", "t"], as_index=False).last()
    expected = pd.merge_asof(
        left.sort_values("t"),
        right_dedup.sort_values("t"),
        on="t",
        by="k",
        direction="backward",
        tolerance=pd.Timedelta(seconds=tol_s),
    ).sort_values("lid")[["lid", "val"]]

    out = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right_dedup),
        left_key=F.col("k"),
        right_key=F.col("k"),
        left_time=F.col("t"),
        right_time=F.col("t"),
        payload={"val": F.col("val"), "matched_t": F.col("t")},
        right_tiebreak=[F.col("rid")],
    )
    within = F.col("matched_t") >= F.col("t") - F.expr(
        f"INTERVAL {tol_s} SECOND"
    )
    got = (
        out.select("lid", F.when(within, F.col("val")).alias("val"))
        .toPandas()
        .sort_values("lid")
    )
    e, g = expected.reset_index(drop=True), got.reset_index(drop=True)
    assert len(e) == len(g)
    for i in range(len(e)):
        ev, gv = e["val"].iloc[i], g["val"].iloc[i]
        assert (pd.isna(ev) and pd.isna(gv)) or ev == gv, (i, ev, gv)


def test_asof_nearest_matches_pandas_merge_asof(spark):
    # Nearest-direction semantics: the closest right row in ABSOLUTE
    # distance, backward preferred on exact ties — pandas
    # merge_asof(direction='nearest') implements the same preference
    # (backward when distances are equal), so it is a true third
    # opinion for asof_nearest_join on streams with forward-only
    # matches, backward-only matches, exact-timestamp hits and
    # equidistant ties (integer times make ties likely).
    from hbasemapreduce_spark.functions.asof import asof_nearest_join

    rng = np.random.default_rng(101)
    n_l, n_r, n_keys = 300, 120, 6
    left = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_l),
            "t": rng.integers(0, 2_000, n_l),  # small domain -> ties
            "lid": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, n_keys, n_r),
            "t": rng.integers(0, 2_000, n_r),
            "rid": np.arange(n_r),
            "val": rng.integers(0, 1000, n_r),
        }
    )
    # pandas breaks equal right timestamps by row position, our join by
    # the tiebreak column; dedup per (k, t) removes the ambiguity the
    # same way the backward/tolerance differentials do.
    right_dedup = right.sort_values("rid").groupby(["k", "t"], as_index=False).last()
    expected = pd.merge_asof(
        left.sort_values(["t", "lid"]).astype({"t": "int64"}),
        right_dedup.sort_values("t").astype({"t": "int64"}),
        on="t",
        by="k",
        direction="nearest",
    ).sort_values("lid")[["lid", "val"]]

    got = (
        asof_nearest_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right_dedup),
            left_key=F.col("k"),
            right_key=F.col("k"),
            left_time=F.col("t"),
            right_time=F.col("t"),
            payload={"val": F.col("val")},
            right_tiebreak=F.col("rid"),
        )
        .select("lid", "val")
        .toPandas()
        .sort_values("lid")
    )
    e, g = expected.reset_index(drop=True), got.reset_index(drop=True)
    assert len(e) == len(g) == n_l
    for i in range(len(e)):
        ev, gv = e["val"].iloc[i], g["val"].iloc[i]
        assert (pd.isna(ev) and pd.isna(gv)) or ev == gv, (i, ev, gv)


def test_dp_noise_is_two_sided_geometric(spark):
    # Third opinion on the geometric-mechanism noise: recompute the
    # draws INDEPENDENTLY with hashlib (not the engines' md5), assert
    # the noise is NOT degenerate (the first shipped spelling used a
    # multiplicative hash, which PRESERVES 2-adic valuation — both
    # draws always cancelled and noise was identically zero while the
    # oracle agreed; this test must never pass on an all-zero noise
    # stream again), then census the ACTUAL salted-md5 draw stream to
    # confirm the valuation law is geometric.
    import hashlib

    from hbasemapreduce_spark.operators.analytics import _DP_V2_CAP
    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR

    def v2(u: int) -> int:
        mag = 0
        for k in range(1, _DP_V2_CAP + 1):
            mag += 1 if u % (1 << k) == 0 else 0
        return mag

    def draw(salt: str, key: int) -> int:
        return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:12], 16)

    out = all_specs()["x_privacy_dp_counts"].fn(spark, SF_DIR).collect()
    assert len(out) > 0
    noises = []
    for r in out:
        expect = v2(draw("dpA-", r.c_nationkey)) - v2(draw("dpB-", r.c_nationkey))
        got = r.noisy_cnt - r.true_cnt
        assert got == expect, r
        noises.append(got)
    # Degeneracy guard: a broken hash that cancels (or never perturbs)
    # must fail loudly.  P(all 25 draws are zero) = 3^-25 for the true
    # law — not a flake risk.
    assert any(n != 0 for n in noises), "DP noise is degenerate (all zero)"

    # Census the REAL draw stream (4096 salted-md5 hashes): the
    # valuation law must be geometric — P(v2=0)=1/2, P(v2=1)=1/4 —
    # within wide 5-sigma-ish tolerances (sigma ~ 0.008 at n=4096).
    census = Counter(v2(draw("dpA-", k)) for k in range(4096))
    assert abs(census[0] / 4096 - 0.5) < 0.05, census[0]
    assert abs(census[1] / 4096 - 0.25) < 0.05, census[1]
    assert abs(census[2] / 4096 - 0.125) < 0.04, census[2]


def test_bootstrap_weights_census_matches_poisson_design(spark):
    # Census-style differential for x_stats_bootstrap's Poisson(1)
    # replicate weights (VERDICT r7 item 5 — the x_privacy_dp_counts
    # lesson: engine agreement is blind to a degenerate draw stream,
    # so the draw law must be asserted against its DESIGN directly,
    # with hashes recomputed independently of both engines).
    from hbasemapreduce_spark.functions.determinism import KNUTH
    from hbasemapreduce_spark.operators.stats_ml import _BOOT_B, _BOOT_CDF, _BOOT_H2
    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR

    def weight(u: int) -> int:
        for k, t in enumerate(_BOOT_CDF):
            if u < t:
                return k
        return 5

    # Design law: w ~ Poisson(1) truncated at 5, via the shared ppm
    # inverse CDF.  Census the ACTUAL (event_id, b) draw stream over
    # sequential ids — the operator's real key shape — and assert each
    # weight's observed frequency lands within ~5 sigma of design.
    n_ids = 4096
    census: Counter[int] = Counter(
        weight((eid * KNUTH + (b + 1) * _BOOT_H2) % 1_000_000)
        for eid in range(1, n_ids + 1)
        for b in range(_BOOT_B)
    )
    n_draws = n_ids * _BOOT_B
    design = {0: 0.367879, 1: 0.367880, 2: 0.183940, 3: 0.061313, 4: 0.015328}
    for k, p in design.items():
        obs = census[k] / n_draws
        tol = 5 * (p * (1 - p) / n_draws) ** 0.5 + 0.003
        assert abs(obs - p) <= tol, (k, obs, p)
    # Degeneracy guards a broken hash would trip: the stream must not
    # collapse to one weight, and replicate b must actually change the
    # draw for a fixed id (the all-cancelling failure mode).
    assert len(census) >= 5
    some_id = 17
    per_b = {
        weight((some_id * KNUTH + (b + 1) * _BOOT_H2) % 1_000_000)
        for b in range(_BOOT_B)
    }
    assert len(per_b) > 1, "replicate index does not perturb the draw"

    # And the operator's CI must reflect live draws: a degenerate
    # stream makes every replicate mean identical -> ci_lo == ci_hi.
    out = all_specs()["x_stats_bootstrap"].fn(spark, SF_DIR).collect()
    assert out
    assert any(r.ci_lo_cents < r.ci_hi_cents for r in out), (
        "bootstrap CI degenerate: every replicate mean identical"
    )


def test_rr_coin_census_matches_design_probabilities(spark):
    # Census-style differential for x_privacy_rr_freq's response coin
    # and lie-category draw (VERDICT r7 item 5), recomputed over the
    # ACTUAL customer keys so a key-pattern/hash interaction (the
    # 2-adic-valuation failure mode) cannot hide.
    from hbasemapreduce_spark.functions.determinism import KNUTH
    from hbasemapreduce_spark.operators.analytics import _RR_H2, _RR_KEEP_PPM

    from .conftest import SF_DIR

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    keys = [r.c_custkey for r in cust.select("c_custkey").collect()]
    k_dom = cust.select("c_mktsegment").distinct().count()
    n = len(keys)
    assert n > 0 and k_dom > 1

    # Keep-coin: P(report truth) = _RR_KEEP_PPM ppm by design.
    keeps = sum(1 for c in keys if (c * KNUTH) % 1_000_000 < _RR_KEEP_PPM)
    p = _RR_KEEP_PPM / 1_000_000
    tol = 5 * (p * (1 - p) / n) ** 0.5 + 0.01
    assert abs(keeps / n - p) <= tol, (keeps / n, p)

    # Lie category: uniform over the k-segment domain.
    lie_census: Counter[int] = Counter((c * _RR_H2) % k_dom for c in keys)
    for idx in range(k_dom):
        obs = lie_census[idx] / n
        tol = 5 * ((1 / k_dom) * (1 - 1 / k_dom) / n) ** 0.5 + 0.01
        assert abs(obs - 1 / k_dom) <= tol, (idx, obs, 1 / k_dom)
    # Degeneracy guards: the coin must actually flip both ways and the
    # lie draw must reach every category.
    assert 0 < keeps < n, "RR coin is constant"
    assert len(lie_census) == k_dom, "lie draw misses categories"


def test_rouge2_matches_pure_python_clipped_counts(spark):
    # Third opinion on x_eval_rouge_n: recompute clipped bigram overlap
    # with collections.Counter over the raw parquet text and compare
    # every pair's integers and derived doubles exactly.
    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }

    def bigrams(text: str) -> Counter[str]:
        toks = text.split(" ")
        return Counter(
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        )

    out = all_specs()["x_eval_rouge_n"].fn(spark, SF_DIR).collect()
    assert out
    seen = set()
    for r in out:
        ca, cb = bigrams(docs[r.doc_cand]), bigrams(docs[r.doc_ref])
        ov = sum((ca & cb).values())
        na, nb = sum(ca.values()), sum(cb.values())
        assert (r.overlap_2, r.na, r.nb) == (ov, na, nb), r
        assert r.rouge2_prec == ov / na
        assert r.rouge2_rec == ov / nb
        assert r.rouge2_f1 == 2 * ov / (na + nb)
        seen.add(r.doc_cand)
    # Every adjacent pair with bigrams on both sides must be present.
    expected_pairs = {
        i
        for i in docs
        if i + 1 in docs
        and sum(bigrams(docs[i]).values()) > 0
        and sum(bigrams(docs[i + 1]).values()) > 0
    }
    assert seen == expected_pairs


def test_wer_char_packing_equals_token_levenshtein(spark):
    # x_eval_wer's core claim: after vocab char-packing, CHAR-level
    # levenshtein == TOKEN-level edit distance.  Recompute the token
    # DP directly in python over the raw parquet text for every pair.
    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR
    from .test_properties import _lev

    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    out = all_specs()["x_eval_wer"].fn(spark, SF_DIR).collect()
    assert len(out) == len(docs) - 1
    for r in out:
        hyp, ref = docs[r.doc_hyp], docs[r.doc_ref]
        expect = _lev(hyp, ref)
        assert r.dist == expect, (r.doc_hyp, r.dist, expect)
        assert (r.len_hyp, r.len_ref) == (len(hyp), len(ref))
        assert r.wer == expect / len(ref)


def test_changepoint_matches_pure_python_scan(spark):
    # x_time_changepoint: recompute the binary-segmentation argmax per
    # type in pure python big-ints (same floor-ppm score, same
    # earliest-hour tie rule) from the raw hourly counts.
    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from pyspark.sql import functions as SF

    h = (
        ev.groupBy(
            "event_type",
            (SF.unix_micros(SF.date_trunc("hour", SF.col("ts").cast("timestamp")))
             / SF.lit(3_600_000_000)).cast("long").alias("hr"),
        )
        .agg(SF.count("*").alias("c"))
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in h:
        series.setdefault(r.event_type, []).append((r.hr, r.c))
    out = {r.event_type: r for r in
           all_specs()["x_time_changepoint"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(series)
    for et, pts in series.items():
        pts.sort()
        n = len(pts)
        s = sum(c for _, c in pts)
        best = None
        cum = 0
        for i, (hr, c) in enumerate(pts[:-1], 1):
            cum += c
            n_l, n_r = i, n - i
            s_l, s_r = cum, s - cum
            score = 1_000_000 * (s_l * s_l * n_r + s_r * s_r * n_l) // (n_l * n_r)
            key = (-score, hr)
            if best is None or key < best[0]:
                best = (key, hr, score, n_l, n_r)
        r = out[et]
        assert (r.split_hr, r.score_ppm, r.n_l, r.n_r) == best[1:], (et, r, best)
        assert r.baseline_ppm == 1_000_000 * s * s // n
        assert r.score_ppm >= r.baseline_ppm  # split never explains less


def test_pca_power_matches_pure_numpy_integer_chain(spark):
    # x_ml_pca_power: reproduce the ENTIRE integer chain (micro-gram,
    # two sign-decomposed renormalized power steps, Rayleigh ppm) in
    # numpy int64/python bigints from the raw embeddings and compare
    # exactly; then sanity-check the direction against numpy's true
    # top eigenvector (cosine, sign-aligned).
    import numpy as np

    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR

    X = np.array(
        [
            r.embedding
            for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    d = X.shape[1]
    G = np.zeros((d, d), dtype=np.int64)
    for row in X:
        G += np.round(np.round(np.outer(row, row), 6) * 1e6).astype(np.int64)

    def sdiv(num: int, den: int) -> int:
        return num // den if num >= 0 else -((-num) // den)

    v1 = [int(s) for s in G.sum(axis=1)]
    m1 = max(abs(v) for v in v1)
    v1s = [sdiv(v * 1_000_000, m1) for v in v1]
    v2 = [sum(int(G[i][j]) * v1s[j] for j in range(d)) for i in range(d)]
    m2 = max(abs(v) for v in v2)
    v2s = [sdiv(1_000_000 * v, m2) for v in v2]
    num = sum(v2[i] * v1s[i] for i in range(d))
    den = sum(s * s for s in v1s)
    ray = sdiv(1_000_000 * num, den)

    out = {r.i: r for r in all_specs()["x_ml_pca_power"].fn(spark, SF_DIR).collect()}
    assert len(out) == d
    for i in range(d):
        assert (out[i].v1s, out[i].v2s, out[i].rayleigh_ppm) == (
            v1s[i],
            v2s[i],
            ray,
        ), i

    # Convergence sanity: this corpus is near-isotropic (lambda2 /
    # lambda1 ~ 0.93 measured), so 2 steps CANNOT be near the top
    # eigenvector — the honest invariant is the power-iteration
    # monotonicity: rayleigh(v2) > rayleigh(v1), both bounded above by
    # the true top eigenvalue of the float gram (in micro units).
    Gf = np.array(G, dtype=np.float64)
    v1f = np.array(v1s, dtype=np.float64)
    ray1 = (v1f @ Gf @ v1f) / (v1f @ v1f)
    v2f = np.array(v2s, dtype=np.float64)
    ray2 = (v2f @ Gf @ v2f) / (v2f @ v2f)
    lam1 = np.linalg.eigvalsh(Gf)[-1]
    assert ray1 < ray2 <= lam1 * (1 + 1e-9), (ray1, ray2, lam1)
    # and the reported ppm quotient is floor(1e6 * rayleigh(v1s))
    assert abs(ray - 1e6 * ray1) <= 1e-6 * abs(1e6 * ray1) + 2, (ray, ray1)


# --- engine-semantics micro-asserts (VERDICT r8 item 9) ----------------
# The r8 review refuted standing repo lore by EXECUTING it (Spark DIV
# and DuckDB // both truncate toward zero — the sign-decomposition
# machinery built on the opposite belief was dead code).  Every
# remaining cross-engine-parity claim written in a docstring gets the
# same treatment here: an executable assert, so the claim can never
# rot silently.


def test_integer_div_truncates_toward_zero_in_both_engines(spark, oracle):
    # The bf5a7f1 refutation, pinned: -7 DIV 2 == -7 // 2 == -3 (trunc,
    # not floor) on BIGINT in both engines; Python's // floors (-4) —
    # the actual hazard the differentials' sdiv() helpers guard.
    got = spark.sql("SELECT CAST(-7 AS BIGINT) DIV 2 AS q").collect()[0].q
    assert got == -3
    assert oracle.execute("SELECT CAST(-7 AS BIGINT) // 2").fetchone()[0] == -3
    assert -7 // 2 == -4  # python floors: never use bare // in oracles


def test_decimal_div_semantics_diverge_duckdb_floors(spark, oracle):
    """DuckDB's // on a DECIMAL operand goes through the FLOAT path and
    FLOORS (-7 -> -4), unlike its integer // (truncates) and unlike
    Spark's DECIMAL DIV (truncates) — the divergence that broke
    x_ml_pca_power's v1s when its oracle briefly routed the rescale
    through DECIMAL(38,0) this round.  Rule pinned here: DuckDB-side
    big-integer routing uses HUGEINT (truncating //); DECIMAL(38,0)
    is the SPARK-side routing (truncating DIV).  If a DuckDB release
    ever changes this, the assert flips and every oracle using
    DECIMAL // needs an audit."""
    q = spark.sql(
        "SELECT CAST(CAST(-7 AS DECIMAL(38,0)) DIV 2 AS BIGINT) AS q"
    ).collect()[0].q
    assert q == -3  # Spark DECIMAL DIV truncates like integer DIV
    assert (
        oracle.execute("SELECT CAST(CAST(-7 AS HUGEINT) // 2 AS BIGINT)").fetchone()[0]
        == -3
    )  # HUGEINT // truncates — safe for oracle big-int routing
    assert (
        oracle.execute(
            "SELECT CAST(CAST(-7 AS DECIMAL(38,0)) // 2 AS BIGINT)"
        ).fetchone()[0]
        == -4
    )  # DECIMAL // floors (float path) — never use in an oracle


def test_char_chr_agree_on_full_byte_domain_and_diverge_past_it(spark, oracle):
    # llm_text.py (x_text_bpe_apply packing): "Spark's char() wraps
    # codepoints mod 256 (DuckDB's chr() does not), so the packing is
    # engine-identical only on codes <= 255".  Executable form: exact
    # agreement on the whole used domain 1..255, and a demonstrated
    # divergence at 256 + 65 proving the <= 255 precondition is real,
    # not folklore.
    got = {
        r.c: r.ch
        for r in spark.sql(
            "SELECT id AS c, char(id) AS ch FROM range(1, 256)"
        ).collect()
    }
    want = {
        c: v
        for c, v in oracle.execute(
            "SELECT i, chr(CAST(i AS INT)) FROM range(1, 256) t(i)"
        ).fetchall()
    }
    assert got == want and len(got) == 255
    spark_wrap = spark.sql("SELECT char(321) AS ch").collect()[0].ch
    duck_321 = oracle.execute("SELECT chr(321)").fetchone()[0]
    assert spark_wrap == chr(321 % 256) == "A"  # Spark wraps mod 256
    assert duck_321 == chr(321)  # DuckDB does not: 'Ł'
    assert spark_wrap != duck_321


def test_gemm_products_never_tie_at_6dp_on_this_corpus(spark):
    """x_emb_gram_gemm's exactness claim: "no float product is ever an
    exact 6-dp tie, so numpy's HALF_EVEN and Spark's HALF_UP agree".
    Checked over EVERY within-row element product the gram actually
    computes at the test scale factor: the double x*y, scaled by 1e6,
    never lands exactly on a .5 boundary (which is where the two
    rounding modes part ways), and numpy's round-then-rint micro
    integer equals Python's round-half-up of the Decimal value."""
    import decimal

    from .conftest import SF_DIR

    from hbasemapreduce_spark.catalog import load_table

    emb = np.array(
        [
            r.embedding
            for r in load_table(spark, SF_DIR, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    # all within-row pair products, the exact set the GEMM reduces
    prods = np.einsum("ni,nj->nij", emb, emb).ravel()
    scaled = np.abs(prods) * 1e6
    frac = scaled - np.floor(scaled)
    # no exact .5 fractional part anywhere -> HALF_EVEN == HALF_UP
    assert not np.any(frac == 0.5), "a 6-dp tie exists; rounding modes diverge"
    # and the two mode implementations agree on a sample of products
    rng = np.random.default_rng(13)
    for p in rng.choice(prods, size=min(5000, prods.size), replace=False):
        half_even = np.rint(np.round(p, 6) * 1e6)
        half_up = decimal.Decimal(repr(round(p, 6) * 1e6)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
        assert int(half_even) == int(half_up), p


def test_bleu_components_match_pure_python_counters(spark):
    # Third opinion on x_eval_bleu_components: recompute every pair's
    # clipped n-gram overlaps (n = 1..4), the BLEU^4 floor division,
    # and the brevity ratio with collections.Counter + python bigints
    # over the raw parquet text.
    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR

    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }

    def grams(toks: list[str], n: int) -> Counter[str]:
        return Counter(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )

    out = all_specs()["x_eval_bleu_components"].fn(spark, SF_DIR).collect()
    assert out
    seen = set()
    for r in out:
        cand, ref = docs[r.doc_cand], docs[r.doc_ref]
        ov, na = [], []
        for n in (1, 2, 3, 4):
            gc, gr = grams(cand, n), grams(ref, n)
            ov.append(sum((gc & gr).values()))
            na.append(sum(gc.values()))
        assert (r.ov1, r.ov2, r.ov3, r.ov4) == tuple(ov), r
        assert (r.cand_len, r.ref_len) == (len(cand), len(ref)), r
        # exact integer floor division, python bigints (no overflow)
        want_pow4 = (
            1_000_000 * ov[0] * ov[1] * ov[2] * ov[3]
        ) // (na[0] * na[1] * na[2] * na[3])
        assert r.bleu_pow4_ppm == want_pow4, r
        assert r.bp_ratio_ppm == 1_000_000 * len(ref) // len(cand), r
        assert r.brevity_penalized == int(len(cand) < len(ref)), r
        seen.add(r.doc_cand)
    # every adjacent pair where both sides have >= 4 tokens is present
    expected = {
        i
        for i in docs
        if i + 1 in docs and len(docs[i]) >= 4 and len(docs[i + 1]) >= 4
    }
    assert seen == expected


def test_bitext_margin_matches_pure_numpy(spark):
    # Third opinion on x_sim_bitext_margin: recompute every mined
    # pair's sim micros, both kNN neighborhood sums, and the exact
    # margin floor division with numpy float64 + python bigints over
    # the raw parquet embeddings.
    from hbasemapreduce_spark.registry import all_specs

    from .conftest import SF_DIR

    rows = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    a_side = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in rows
        if r.label == 0 and r.vec_id < 200
    }
    b_side = {
        r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows if r.label == 1
    }
    assert a_side and b_side

    def sim_micros(x, y):
        c = float(x @ y) / (np.sqrt(float(x @ x)) * np.sqrt(float(y @ y)))
        return int(np.rint(np.round(c, 6) * 1_000_000))

    pairs = {
        (ai, bi): sim_micros(av, bv)
        for ai, av in a_side.items()
        for bi, bv in b_side.items()
    }
    pos = {k: v for k, v in pairs.items() if v > 0}
    suma, ka, sumb, kb = {}, {}, {}, {}
    for ai in a_side:
        top = sorted(
            ((v, bi) for (a, bi), v in pos.items() if a == ai),
            key=lambda t: (-t[0], t[1]),
        )[:4]
        if top:
            suma[ai], ka[ai] = sum(v for v, _ in top), len(top)
    for bi in b_side:
        top = sorted(
            ((v, a) for (a, b), v in pos.items() if b == bi),
            key=lambda t: (-t[0], t[1]),
        )[:4]
        if top:
            sumb[bi], kb[bi] = sum(v for v, _ in top), len(top)
    best = {}
    for (ai, bi), v in pos.items():
        m = (2 * v * ka[ai] * kb[bi] * 1_000_000) // (
            suma[ai] * kb[bi] + sumb[bi] * ka[ai]
        )
        cur = best.get(ai)
        if cur is None or (m, -bi) > (cur[1], -cur[0]):
            best[ai] = (bi, m, v)

    out = all_specs()["x_sim_bitext_margin"].fn(spark, SF_DIR).collect()
    assert len(out) == len(best) > 0
    for r in out:
        bi, m, v = best[r.vec_a]
        assert (r.vec_b, r.margin_ppm, r.sim_micros) == (bi, m, v), r
        assert r.mined == int(m >= 1_060_000)


if _HAS_HYPOTHESIS:

    @given(
        st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c", "", "ü", "木", "a b"]),
                min_size=0,
                max_size=8,
            ),
            min_size=1,
            max_size=6,
        )
    )
    @settings(max_examples=10, deadline=None)
    def test_clipped_core_matches_counter_on_random_docs(spark, docs):
        # Property differential for _pair_clipped_lvl2, the ONE core
        # behind ROUGE/chrF/BLEU: on hypothesis-generated doc sets
        # (empty docs, empty-string grams, unicode, repeats — shapes
        # the parquet testdata never produces), the doubled-stream
        # two-level aggregate must equal the Counter clip exactly.
        import pandas as pd

        from hbasemapreduce_spark.operators.llm_text import _pair_clipped_lvl2

        rows = [
            {"doc_id": i, "g": g} for i, toks in enumerate(docs) for g in toks
        ]
        got = {}
        if rows:
            bg = spark.createDataFrame(pd.DataFrame(rows))
            got = {
                r.k: (r.na, r.nb, r.ov)
                for r in _pair_clipped_lvl2(bg).collect()
            }
        for k in range(-1, len(docs)):
            ca = Counter(docs[k]) if 0 <= k < len(docs) else Counter()
            cb = Counter(docs[k + 1]) if k + 1 < len(docs) else Counter()
            na, nb = sum(ca.values()), sum(cb.values())
            ov = sum((ca & cb).values())
            if na == 0 and nb == 0:
                assert k not in got  # no gram on either side -> no row
            else:
                assert got[k] == (na, nb, ov), (k, got.get(k), (na, nb, ov))


def test_bigint_to_double_conversion_diverges_past_int64(spark, oracle):
    """Engine-parity pin #4 (found live in x_stats_moments' second
    replay): converting the SAME exact integer > 2^63 to DOUBLE is not
    engine-portable — Spark's DECIMAL(38,0) -> double is correctly
    rounded (BigDecimal.doubleValue) while DuckDB's HUGEINT -> double
    is not; the witness value below is a real s4 power sum from the
    sf0.01 events table that differed in the last ulp.  Rule pinned:
    any big-integer quantity destined for double arithmetic must enter
    it through the hi/lo int64 split (DIV / % 2^62 + recombine), since
    int64 -> double IS correctly rounded in both engines."""
    w = 31293724858271074718  # the real diverging witness
    got_spark = spark.sql(
        f"SELECT CAST(CAST('{w}' AS DECIMAL(38,0)) AS DOUBLE) AS d"
    ).collect()[0].d
    got_duck = oracle.execute(
        f"SELECT CAST(CAST('{w}' AS HUGEINT) AS DOUBLE)"
    ).fetchone()[0]
    assert got_spark == float(w)  # python's int->float is correctly rounded
    assert got_duck != got_spark  # the divergence this pin exists for
    # and the portable path: hi/lo int64 split recombined in doubles
    hi, lo = w // (1 << 62), w % (1 << 62)
    expr = f"CAST({hi} AS DOUBLE) * {1 << 62} + CAST({lo} AS DOUBLE)"
    s2 = spark.sql(f"SELECT {expr} AS d").collect()[0].d
    d2 = oracle.execute(f"SELECT {expr}").fetchone()[0]
    assert s2 == d2  # identical IEEE sequence -> identical double


def test_sync_table_core_matches_pandas_naive_diff(spark):
    # The digest+prune+diff machinery must equal a naive pandas
    # full-outer diff on ANY pair of tables — duplicate keys, bucket
    # boundary keys (63/64/65), one-sided buckets, empty diffs — not
    # just the fixed corpus the oracle pins.  A digest false-clean
    # (sum collision) or a prune that drops a dirty range shows up
    # here as a missing diff row.
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from hbasemapreduce_spark.operators.pipeline import (
        _sync_dirty,
        _sync_row_diff,
    )

    row = st.tuples(
        st.integers(min_value=0, max_value=300),  # keys straddle buckets 0..4
        st.integers(min_value=0, max_value=5),
        st.sampled_from(["O", "F", "P"]),
        st.integers(min_value=-100, max_value=100),
    )

    def naive(src_rows, tgt_rows):
        a = pd.DataFrame(src_rows, columns=["k", "c", "s", "cents"])
        b = pd.DataFrame(tgt_rows, columns=["k", "c", "s", "cents"])
        m = a.merge(b, on="k", how="outer", indicator="which", suffixes=("_a", "_b"))
        out = []
        for r in m.itertuples():
            if r.which == "left_only":
                out.append((r.k, "removed", r.cents_a, None))
            elif r.which == "right_only":
                out.append((r.k, "added", None, r.cents_b))
            elif (r.cents_a != r.cents_b) or (r.c_a != r.c_b) or (r.s_a != r.s_b):
                out.append((r.k, "changed", r.cents_a, r.cents_b))
        return Counter(out)

    schema = "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, cents LONG"

    @given(
        src=st.lists(row, min_size=0, max_size=40),
        muts=st.lists(
            st.tuples(
                st.sampled_from(["drop", "flip", "insert"]),
                row,
                st.integers(min_value=0, max_value=10**6),
            ),
            min_size=0,
            max_size=8,
        ),
    )
    @settings(max_examples=6, deadline=None)
    def run(src, muts):
        # Unique row keys per side — the documented precondition of the
        # digest+prune+diff composition (_sync_dirty docstring): with
        # duplicate keys, an identical multiset correctly digests CLEAN
        # while the full-outer naive model cross-products the key and
        # invents 'changed' rows, so the two models legitimately
        # disagree and the comparison would test nothing.
        src = list({r[0]: r for r in src}.values())
        tgt = list(src)
        # idx comes from the strategy, not hash(): string hashing is
        # PYTHONHASHSEED-randomized, which would make saved failing
        # examples non-reproducible across processes
        for op, r, idx in muts:
            if op == "drop" and tgt:
                tgt.pop(idx % len(tgt))
            elif op == "flip" and tgt:
                k, c, s, cents = tgt[idx % len(tgt)]
                tgt[idx % len(tgt)] = (k, c, s, cents + 1)
            elif r[0] not in {t[0] for t in tgt}:
                # insert only keys absent from tgt (dropped keys may
                # re-enter); a colliding insert is a no-op, keeping
                # both sides inside the unique-key precondition
                tgt.append(r)
        sdf = spark.createDataFrame(src or [], schema)
        tdf = spark.createDataFrame(tgt or [], schema)
        got = Counter(
            (r.o_orderkey, r.change_type, r.src_cents, r.tgt_cents)
            for r in _sync_row_diff(sdf, tdf, _sync_dirty(sdf, tdf)).collect()
        )
        assert got == naive(src, tgt)

    run()
