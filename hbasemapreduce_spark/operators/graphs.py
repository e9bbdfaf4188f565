"""Graph analytics over the co-purchase graph (beyond-contract, r5).

The graph: nodes are parts, undirected edges are part pairs co-occurring
in >= 3 orders — exactly x_basket_pairs' output (analytics.py), so these
operators demonstrate graph algorithms composing on top of a shipped
relational operator, the way a 100 TB pipeline would chain them.

- x_graph_pagerank: 3 power iterations of PageRank in EXACT INTEGER
  arithmetic — every rank is a bigint, so the result is bit-identical
  at any partition count and fully hash-checkable against a DuckDB twin
  (the float formulation would accumulate in partition order).
- x_graph_triangles: triangle / wedge census via the node-iterator
  join, plus node and edge counts — the clustering-coefficient inputs.
- x_graph_bfs: multi-source BFS (3 unrolled relaxation rounds) — hop
  distance from a seed set, the frontier-expansion building block.

Scale shapes documented per operator; iteration count is FIXED (3), so
the unrolled plan is static — no convergence loop at all (contrast
x_dedup_clusters, which needs one because component diameter is
data-dependent, and reads its convergence flag off each eager
checkpoint job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

_SUPPORT = 3  # min co-purchase support, mirrors x_basket_pairs
_SCALE = 10**12  # integer rank scale: total initial mass = _SCALE
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as an exact rational

def _edge_sql(support: int = _SUPPORT) -> str:
    return (
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "und AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b "
        "        FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey "
        "        AND a.l_partkey < b.l_partkey "
        f"       GROUP BY 1, 2 HAVING COUNT(*) >= {support}), "
        "edges AS (SELECT part_a AS src, part_b AS dst FROM und "
        "          UNION ALL SELECT part_b, part_a FROM und) "
    )


_EDGE_SQL = _edge_sql()


def _undirected_edges(
    spark: SparkSession, sf_dir: str, support: int = _SUPPORT
) -> DataFrame:
    """(src, dst) both directions of the support-thresholded co-purchase
    pairs; every node therefore has outdegree >= 1 (no dangling mass)."""
    # lazy localCheckpoint: every graph operator reads the edge list 2-4
    # times (wedge sides, degree table, anti-join, per-round relaxation);
    # without it each read re-runs the pair derivation from the fact
    # table.  r12: ONE spark.sql call, and the pair generation is
    # per-order in-row — collect each order's parts once (ONE exchange
    # keyed on l_orderkey), emit the sorted-set pairs, then the support
    # aggregate (the second and last exchange); the items-distinct +
    # self-join shape re-measured slower again this round (1.24 vs
    # 0.97 s).  Per-order sets are order-sized (bounded, TPC-H <= 7
    # lines), so the in-row expansion never materializes a corpus-sized
    # array.  r13 (guide §4.1/§1.2): collect_list + one in-row
    # array_distinct(array_sort(...)) replaces collect_set (same sorted
    # set, cheaper ObjectHashAggregate update path), and the pair
    # expansion is TWO stacked generators (posexplode + slice-explode)
    # instead of the interpreted nested transform/flatten/struct chain
    # — edge stage 1.24 -> 0.97 s interleaved at sf0.1, output pair
    # multiset digest-identical (also vs the self-join spelling).
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return spark.sql(
        "WITH sets AS (SELECT array_distinct(array_sort(collect_list(l_partkey))) AS ps "
        "  FROM {li} GROUP BY l_orderkey), "
        "und AS (SELECT part_a, part_b FROM ("
        "    SELECT ps, i, part_a FROM sets LATERAL VIEW posexplode(ps) t1 AS i, part_a) "
        "  LATERAL VIEW explode(slice(ps, i + 2, size(ps))) t2 AS part_b "
        f"  GROUP BY 1, 2 HAVING COUNT(*) >= {support}) "
        "SELECT part_a AS src, part_b AS dst FROM und "
        "UNION ALL SELECT part_b, part_a FROM und",
        li=li,
    ).localCheckpoint(eager=False)


@query(
    "x_graph_pagerank",
    category="graph",
    oracle=(
        _EDGE_SQL
        + "SELECT * FROM ("
        "WITH deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY 1), "
        f"base AS (SELECT CAST({_SCALE} AS BIGINT) // COUNT(*) AS b FROM deg), "
        "r0 AS (SELECT node, outdeg, (SELECT b FROM base) AS pr FROM deg), "
        "s1 AS (SELECT e.dst AS node, CAST(SUM(r.pr // r.outdeg) AS BIGINT) AS s "
        "       FROM r0 r JOIN edges e ON r.node = e.src GROUP BY 1), "
        f"r1 AS (SELECT d.node, d.outdeg, ({_DAMP_DEN - _DAMP_NUM} * (SELECT b FROM base)) // {_DAMP_DEN} "
        f"       + ({_DAMP_NUM} * COALESCE(s1.s, 0)) // {_DAMP_DEN} AS pr "
        "       FROM deg d LEFT JOIN s1 ON d.node = s1.node), "
        "s2 AS (SELECT e.dst AS node, CAST(SUM(r.pr // r.outdeg) AS BIGINT) AS s "
        "       FROM r1 r JOIN edges e ON r.node = e.src GROUP BY 1), "
        f"r2 AS (SELECT d.node, d.outdeg, ({_DAMP_DEN - _DAMP_NUM} * (SELECT b FROM base)) // {_DAMP_DEN} "
        f"       + ({_DAMP_NUM} * COALESCE(s2.s, 0)) // {_DAMP_DEN} AS pr "
        "       FROM deg d LEFT JOIN s2 ON d.node = s2.node), "
        "s3 AS (SELECT e.dst AS node, CAST(SUM(r.pr // r.outdeg) AS BIGINT) AS s "
        "       FROM r2 r JOIN edges e ON r.node = e.src GROUP BY 1), "
        f"r3 AS (SELECT d.node, ({_DAMP_DEN - _DAMP_NUM} * (SELECT b FROM base)) // {_DAMP_DEN} "
        f"       + ({_DAMP_NUM} * COALESCE(s3.s, 0)) // {_DAMP_DEN} AS pr "
        "       FROM deg d LEFT JOIN s3 ON d.node = s3.node) "
        "SELECT node, pr FROM r3)"
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 power iterations) over the co-purchase
    graph, in EXACT integer arithmetic: ranks are bigints scaled so the
    initial total mass is 10^12, damping is the rational 85/100 applied
    with integer div, and per-edge shares are rank DIV outdegree.
    Every operation is exact and order-independent, so the result is
    bit-identical at any partition count AND hash-identical to the
    DuckDB twin — the float formulation would be neither (its partial
    sums accumulate in partition order).

    Scale shape: the classic dataflow PageRank — shares = one
    projection per node, contributions = EQUI-join of ranks with the
    edge list on src followed by a hash aggregate on dst (map-side
    partials; the shuffle carries one row per in-edge, coalesced to
    one per (partition, dst) by partial aggregation).  The edge list
    is read by all three iterations: localCheckpoint stops the
    distinct + self-join basket derivation re-executing per iteration
    (Spark shares no common subplans across branches).  Hot dst nodes
    (graph celebrities) are ordinary aggregate skew — AQE handles
    them; at web scale the standard mitigation is splitting
    high-degree nodes, which changes this plan nowhere.

    Fixed iteration count keeps the unrolled plan static; dangling
    nodes cannot exist (edges are symmetrized, outdeg >= 1), so no
    mass-redistribution term is needed.  Truncation drift from DIV is
    deterministic and identical in both engines."""
    edges = _undirected_edges(spark, sf_dir)
    return pagerank_integer(edges)


def pagerank_integer(edges: DataFrame, *, rounds: int = 3) -> DataFrame:
    """Integer PageRank core over a symmetric (src, dst) edge list —
    see x_graph_pagerank for semantics.  Exposed separately so the
    randomized differential test (tests/test_random_differential.py)
    can drive it with arbitrary seeded graphs against a pure-Python
    reimplementation of the same integer recurrence."""
    # integer base rank via DIV (cast-of-true-division would ROUND;
    # the oracle's `//` floors) — 1-row scalar subquery per iteration.
    # r12: the unrolled recurrence is ONE spark.sql call (identical
    # integer expressions, A/B-proven bit-identical; the per-op
    # DataFrame chain re-analyzed the growing tree every round).
    tele = f"({_DAMP_DEN - _DAMP_NUM} * (SELECT b FROM base)) DIV {_DAMP_DEN}"
    ctes = [
        "deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM {edges} GROUP BY src)",
        f"base AS (SELECT CAST({_SCALE} AS BIGINT) DIV COUNT(*) AS b FROM deg)",
        "r0 AS (SELECT node, outdeg, (SELECT b FROM base) AS pr FROM deg)",
    ]
    for i in range(rounds):
        j = i + 1
        ctes.append(
            f"s{j} AS (SELECT e.dst AS node, SUM(r.pr DIV r.outdeg) AS s "
            f"  FROM r{i} r JOIN {{edges}} e ON r.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{j} AS (SELECT d.node, d.outdeg, {tele} "
            f"  + ({_DAMP_NUM} * COALESCE(s{j}.s, CAST(0 AS BIGINT))) DIV {_DAMP_DEN} AS pr "
            f"  FROM deg d LEFT JOIN s{j} ON d.node = s{j}.node)"
        )
    return edges.sparkSession.sql(
        "WITH " + ", ".join(ctes) + f" SELECT node, pr FROM r{rounds}",
        edges=edges,
    )


@query(
    "x_graph_triangles",
    category="graph",
    oracle=(
        _EDGE_SQL
        + "SELECT * FROM ("
        "WITH und AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst), "
        "wedge AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
        "          FROM und e1 JOIN und e2 ON e1.b = e2.a), "
        "tri AS (SELECT w.a FROM wedge w JOIN und e3 ON w.a = e3.a AND w.c = e3.b) "
        "SELECT CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges, "
        "CAST((SELECT COUNT(DISTINCT a) FROM (SELECT a FROM und UNION ALL SELECT b FROM und)) AS BIGINT) AS n_nodes, "
        "CAST((SELECT COUNT(*) FROM wedge) AS BIGINT) AS n_wedges, "
        "CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles)"
    ),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle and wedge census of the co-purchase graph (node/edge
    counts included) — the global clustering coefficient's inputs, and
    the standard probe for community structure in a co-occurrence
    graph.

    Scale shape: the node-iterator algorithm as TWO equi-joins on
    oriented edges (a < b < c ordering counts each wedge and triangle
    exactly once): wedges = edges ⋈ edges on the middle vertex,
    triangles = wedges semi-joined against the closing edge.  Work is
    sum-of-squared-degrees bounded — the orientation makes the middle
    vertex the SMALLER id, the cheap deterministic stand-in for the
    degree-ordering heuristic production systems use (orient toward
    lower degree; same plan, different orientation key).  All three
    relations are counted in one pass each; nothing is ever collected.
    """
    edges = _undirected_edges(spark, sf_dir)
    und = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).localCheckpoint(eager=False)  # read by 4 census branches below
    # the census stays ONE declarative plan: each relation collapses to
    # a 1-row aggregate attached as a scalar subquery — no driver-side
    # .count() actions anywhere.  r12: one spark.sql call (the scalar-
    # subquery form replaces the former broadcast cross-joins; same
    # values, fewer BNLJ nodes, A/B-proven bit-identical).
    return spark.sql(
        "WITH wedge AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
        "  FROM {und} e1 JOIN {und} e2 ON e1.b = e2.a), "
        "tri AS (SELECT w.a FROM wedge w LEFT SEMI JOIN {und} e3 "
        "  ON w.a = e3.a AND w.c = e3.b) "
        "SELECT n_edges, "
        "  (SELECT COUNT(DISTINCT n) FROM (SELECT a AS n FROM {und} "
        "   UNION ALL SELECT b FROM {und})) AS n_nodes, "
        "  (SELECT COUNT(*) FROM wedge) AS n_wedges, "
        "  (SELECT COUNT(*) FROM tri) AS n_triangles "
        "FROM (SELECT COUNT(*) AS n_edges FROM {und})",
        und=und,
    )




# the 2-round synchronous LPA as DuckDB CTEs ending in l2 (node, lbl) —
# shared by the x_graph_label_prop and x_graph_modularity oracles
_LPA_SQL_CHAIN = (
    "WITH l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges), "
    "c1 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS c "
    "       FROM l0 l JOIN edges e ON l.node = e.src GROUP BY 1, 2), "
    "l1 AS (SELECT node, lbl FROM ("
    "  SELECT node, lbl, row_number() OVER ("
    "    PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM c1) WHERE rn = 1), "
    "c2 AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS c "
    "       FROM l1 l JOIN edges e ON l.node = e.src GROUP BY 1, 2), "
    "l2 AS (SELECT node, lbl FROM ("
    "  SELECT node, lbl, row_number() OVER ("
    "    PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM c2) WHERE rn = 1) "
)


@query(
    "x_graph_label_prop",
    category="graph",
    oracle=(
        _EDGE_SQL
        + "SELECT * FROM ("
        + _LPA_SQL_CHAIN
        + "SELECT node, lbl AS community FROM l2)"
    ),
)
def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation (2 synchronous rounds) over the co-purchase
    graph — the classic near-linear community detection: every node
    starts as its own community and repeatedly adopts the most common
    label among its neighbours.  Complements x_dedup_clusters'
    connected components (which merge everything reachable) by finding
    DENSE communities inside one component.

    Determinism: synchronous rounds (all updates from the previous
    round's labels) with a TOTAL argmax — neighbour-label count desc,
    then smallest label — via ``max_by(lbl, struct(cnt, -lbl))``, a
    hash aggregate with map-side partials; asynchronous/randomized LPA
    variants converge faster but are irreproducible, the wrong trade
    for a pipeline whose outputs must be auditable.  Fixed round count
    keeps the plan static (the fixpoint variant would add
    x_dedup_clusters' convergence flag, observed on each eager
    checkpoint).

    Scale shape per round: one equi-join of the label table with the
    edge list on src + two bounded hash aggregates ((node, lbl) counts,
    then the per-node argmax) — the same join-aggregate skeleton as
    PageRank, so the same skew/AQE story applies."""
    return label_prop_core(_undirected_edges(spark, sf_dir))


def label_prop_core(edges: DataFrame) -> DataFrame:
    """2 synchronous LPA rounds over an already-checkpointed edge list
    — shared by x_graph_label_prop and x_graph_modularity so the judge
    query doesn't rebuild the edge self-join a second time."""
    # r12: both synchronous rounds in ONE spark.sql call (identical
    # max_by/struct argmax expressions, A/B-proven bit-identical).
    ctes = ["l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM {edges})"]
    for i in range(2):
        j = i + 1
        ctes.append(
            f"c{j} AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS c "
            f"  FROM l{i} l JOIN {{edges}} e ON l.node = e.src GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{j} AS (SELECT node, max_by(lbl, struct(c, -lbl)) AS lbl "
            f"  FROM c{j} GROUP BY node)"
        )
    return edges.sparkSession.sql(
        "WITH " + ", ".join(ctes) + " SELECT node, lbl AS community FROM l2",
        edges=edges,
    )


_BFS_SUPPORT = 2  # the sparser threshold keeps the graph populated at every sf
_BFS_SEED_MOD = 20  # seeds: part ids divisible by 20 (~5% of nodes)
_BFS_HOPS = 3


@query(
    "x_graph_bfs",
    category="graph",
    oracle=(
        _edge_sql(_BFS_SUPPORT)
        + "SELECT * FROM ("
        "WITH nodes AS (SELECT DISTINCT src AS node FROM edges), "
        f"d0 AS (SELECT node, 0 AS hops FROM nodes WHERE node % {_BFS_SEED_MOD} = 0), "
        "e1 AS (SELECT e.dst AS node, d.hops + 1 AS hops "
        "       FROM d0 d JOIN edges e ON d.node = e.src), "
        "d1 AS (SELECT node, MIN(hops) AS hops FROM "
        "       (SELECT * FROM d0 UNION ALL SELECT * FROM e1) GROUP BY node), "
        "e2 AS (SELECT e.dst AS node, d.hops + 1 AS hops "
        "       FROM d1 d JOIN edges e ON d.node = e.src), "
        "d2 AS (SELECT node, MIN(hops) AS hops FROM "
        "       (SELECT * FROM d1 UNION ALL SELECT * FROM e2) GROUP BY node), "
        "e3 AS (SELECT e.dst AS node, d.hops + 1 AS hops "
        "       FROM d2 d JOIN edges e ON d.node = e.src), "
        "d3 AS (SELECT node, MIN(hops) AS hops FROM "
        "       (SELECT * FROM d2 UNION ALL SELECT * FROM e3) GROUP BY node) "
        "SELECT node, CAST(hops AS BIGINT) AS hops FROM d3)"
    ),
)
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance (<= 3) from the seed set to every
    reachable node of the co-purchase graph — the reachability query
    behind blast-radius analysis ('which parts are within 3 links of a
    recalled part?') and the frontier-expansion building block of every
    distributed graph traversal.  Seeds are the part ids divisible by
    20; the graph uses support >= 2 (sparser than the census operators'
    >= 3, which collapses to a handful of nodes at larger sf).

    Scale shape per round — frontier relaxation as dataflow: one
    EQUI-join of the current distance table with the edge list on src
    (candidate distances = hops+1), then a min-aggregate unioned with
    the previous distances.  This is the Bellman-Ford relaxation
    specialized to unit weights; the shuffle each round carries one row
    per (reached-node, in-edge), coalesced by map-side partial MIN.
    Unlike the textbook frontier formulation (delta = newly-reached
    only), re-relaxing the full reached set costs at most a constant
    factor with 3 rounds and keeps every round's plan IDENTICAL — no
    driver-side frontier-size check, fully static plan (contrast
    x_dedup_clusters, which needs a convergence loop).  Rounds are
    bounded (3), so the unrolled plan is static; unreached nodes simply
    never appear, no infinity sentinel needed.  MIN is idempotent and
    order-independent — bit-identical at any partition count.

    Lineage note (measured, r7): each round consumes dist twice (relax
    join + union), so the STATIC plan unrolls to 1+2+4 = 7 edge joins;
    at runtime AQE's exchange reuse deduplicates the repeats
    (ReusedExchange nodes in the final adaptive plan) and the query
    runs ~3.1 s at sf0.1.  The alternative — a per-round lazy
    localCheckpoint like x_graph_hits' renorm — collapses the static
    plan to 3 joins but measures ~3.5 s here: the round-boundary
    materialization blocks stage pipelining and costs more than the
    reuse saves.  Chosen: the hint-free unroll, trusting exchange
    reuse; revisit only if a profile shows the duplicate relaxations
    actually re-executing."""
    edges = _undirected_edges(spark, sf_dir, _BFS_SUPPORT)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(F.col("node") % _BFS_SEED_MOD == 0)
        .withColumn("hops", F.lit(0).cast("long"))
    )
    return bfs_hops(edges, seeds)


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, *, rounds: int = _BFS_HOPS
) -> DataFrame:
    """Bounded multi-source BFS core — `rounds` synchronous unit-weight
    Bellman-Ford relaxations of a (node, hops) seed table over a
    (src, dst) edge list; see x_graph_bfs for semantics and scale
    shape.  Exposed separately so the randomized differential test
    (tests/test_random_differential.py) can drive it with arbitrary
    seeded graphs against a pure-Python reimplementation of the same
    relaxation recurrence."""
    # r12: the unrolled relaxation rounds in ONE spark.sql call
    # (identical join/min-union recurrence, A/B-proven bit-identical).
    ctes = ["d0 AS (SELECT node, hops FROM {seeds})"]
    for i in range(rounds):
        j = i + 1
        ctes.append(
            f"e{j} AS (SELECT e.dst AS node, d.hops + 1 AS hops "
            f"  FROM d{i} d JOIN {{edges}} e ON d.node = e.src)"
        )
        ctes.append(
            f"d{j} AS (SELECT node, MIN(hops) AS hops FROM "
            f"  (SELECT * FROM d{i} UNION ALL SELECT * FROM e{j}) GROUP BY node)"
        )
    return edges.sparkSession.sql(
        "WITH " + ", ".join(ctes) + f" SELECT node, hops FROM d{rounds}",
        edges=edges,
        seeds=seeds,
    )


@query(
    "x_graph_jaccard",
    category="graph",
    oracle=(
        _EDGE_SQL
        + ", cand AS (SELECT e1.src AS part_a, e2.dst AS part_b, "
        "    CAST(COUNT(*) AS BIGINT) AS cn "
        "  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst "
        "  GROUP BY 1, 2), "
        "fresh AS (SELECT c.part_a, c.part_b, c.cn FROM cand c "
        "  WHERE NOT EXISTS (SELECT 1 FROM edges x "
        "                    WHERE x.src = c.part_a AND x.dst = c.part_b)), "
        "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        "        FROM edges GROUP BY 1) "
        "SELECT part_a, part_b, cn, "
        "  CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE) AS jacc "
        "FROM fresh JOIN deg da ON part_a = da.node "
        "JOIN deg db ON part_b = db.node "
        "ORDER BY jacc DESC, part_a, part_b LIMIT 20"
    ),
)
def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbourhood Jaccard: for part pairs NOT yet
    co-purchased, score |N(a) n N(b)| / |N(a) u N(b)| and return the
    top 20 — 'customers who buy these also buy' candidate generation.

    Exactness: common-neighbour and degree counts are bigints;
    jacc = cn / (deg_a + deg_b - cn) is ONE division of two exactly
    converted doubles (correctly rounded IEEE, identical both
    engines), and equal rationals produce equal doubles, so the
    (jacc DESC, part_a, part_b) ranking is total and engine-stable.

    Scale shape: candidate generation is the node-iterator wedge join
    (e1.dst = e2.src — an equi-join; work is sum of squared degrees,
    the x_graph_triangles budget; hub nodes get capped or sampled at
    real scale, the standard link-prediction mitigation).  Known edges
    leave via one left-anti equi-join, degrees arrive via two equi
    joins on the |nodes|-row degree table, and the top-20 is a
    tie-broken global sort of the |candidates| scored pairs."""
    edges = _undirected_edges(spark, sf_dir)
    # r12: one spark.sql call (identical wedge-join / anti-join / degree
    # tree and the same single-division jacc, A/B-proven bit-identical).
    return spark.sql(
        "WITH cand AS (SELECT e1.src AS part_a, e2.dst AS part_b, "
        "    COUNT(*) AS cn "
        "  FROM {edges} e1 JOIN {edges} e2 "
        "  ON e1.dst = e2.src AND e1.src < e2.dst GROUP BY 1, 2), "
        "fresh AS (SELECT c.part_a, c.part_b, c.cn FROM cand c "
        "  LEFT ANTI JOIN {edges} x "
        "  ON x.src = c.part_a AND x.dst = c.part_b), "
        "deg AS (SELECT src AS node, COUNT(*) AS deg FROM {edges} GROUP BY src) "
        "SELECT part_a, part_b, cn, "
        "  CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE) AS jacc "
        "FROM fresh JOIN deg da ON part_a = da.node "
        "JOIN deg db ON part_b = db.node "
        "ORDER BY jacc DESC, part_a, part_b LIMIT 20",
        edges=edges,
    )


@query(
    "x_graph_modularity",
    category="graph",
    oracle=(
        _EDGE_SQL
        + "SELECT * FROM ("
        + _LPA_SQL_CHAIN
        + ", etot AS (SELECT CAST(COUNT(*) AS BIGINT) AS e FROM edges), "
        "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d "
        "        FROM edges GROUP BY 1), "
        "intra AS (SELECT a.lbl AS community, CAST(COUNT(*) AS BIGINT) AS ec "
        "  FROM edges e JOIN l2 a ON e.src = a.node "
        "  JOIN l2 b ON e.dst = b.node AND a.lbl = b.lbl GROUP BY 1), "
        "dsum AS (SELECT l.lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        "  CAST(SUM(d.d) AS BIGINT) AS deg_sum "
        "  FROM l2 l JOIN deg d ON l.node = d.node GROUP BY 1) "
        "SELECT s.community, s.n_nodes, COALESCE(i.ec, 0) AS intra_edges, "
        "  s.deg_sum, "
        "  CAST(COALESCE(i.ec, 0) AS DOUBLE) / t.e "
        "  - (CAST(s.deg_sum AS DOUBLE) / t.e) * (CAST(s.deg_sum AS DOUBLE) / t.e) "
        "  AS q_contrib "
        "FROM dsum s LEFT JOIN intra i ON s.community = i.community CROSS JOIN etot t)"
    ),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the label-propagation communities (Newman's Q, per
    community): q_c = E_c/E - (D_c/E)^2 over DIRECTED edge counts
    (E = 2m), so Q = sum(q_c) measures how much denser the communities
    are than a degree-preserving random graph — the evaluation step
    that turns x_graph_label_prop from 'some labels' into a judged
    clustering.  All inputs (intra-edge counts, degree sums, edge
    total) are exact bigints; q_contrib is one fixed IEEE tree over
    exactly-converted operands, identical both engines.

    Scale shape: re-runs the 2-round LPA (static plan), then ONE
    two-hop equi-join (edges against the label table on both
    endpoints) for intra counts and one join-aggregate for degree
    sums — the node-iterator budget; the totals row is a broadcast
    scalar."""
    edges = _undirected_edges(spark, sf_dir)
    labels = label_prop_core(edges).select(
        F.col("node"), F.col("community").alias("lbl")
    ).localCheckpoint(eager=False)
    # r12: one spark.sql call; the edge-total arrives as a scalar
    # subquery instead of the former broadcast cross-join (same value
    # everywhere, one fewer BNLJ node; A/B-proven bit-identical — the
    # q_contrib IEEE tree is unchanged).
    ed = "CAST((SELECT COUNT(*) FROM {edges}) AS DOUBLE)"
    return spark.sql(
        "WITH deg AS (SELECT src AS node, COUNT(*) AS d FROM {edges} GROUP BY src), "
        "intra AS (SELECT a.lbl AS community, COUNT(*) AS ec "
        "  FROM {edges} e JOIN {labels} a ON e.src = a.node "
        "  JOIN {labels} b ON e.dst = b.node "
        "  WHERE a.lbl = b.lbl GROUP BY a.lbl), "
        "dsum AS (SELECT l.lbl AS community, COUNT(*) AS n_nodes, "
        "  SUM(d.d) AS deg_sum FROM {labels} l "
        "  JOIN deg d ON l.node = d.node GROUP BY l.lbl) "
        "SELECT s.community, s.n_nodes, COALESCE(i.ec, 0) AS intra_edges, "
        "  s.deg_sum, "
        f"  CAST(COALESCE(i.ec, 0) AS DOUBLE) / {ed} "
        f"  - (CAST(s.deg_sum AS DOUBLE) / {ed}) * (CAST(s.deg_sum AS DOUBLE) / {ed}) "
        "  AS q_contrib "
        "FROM dsum s LEFT JOIN intra i ON s.community = i.community",
        edges=edges,
        labels=labels,
    )


_KCORE_K = 3  # core order
_KCORE_ROUNDS = 3  # fixed peel rounds (static plan; see docstring)
_KCORE_SUPPORT = 2  # sparser edge threshold keeps the 3-core populated at every sf


def _kcore_round_sql(i: int, k: int = _KCORE_K) -> str:
    """One unrolled peel round as DuckDB CTEs: degree census on the
    current edge set -> keep nodes with deg >= k -> restrict edges to
    kept endpoints on BOTH sides."""
    j = i + 1
    return (
        f"d{i} AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        f"  FROM e{i} GROUP BY 1), "
        f"k{i} AS (SELECT node FROM d{i} WHERE deg >= {k}), "
        f"e{j} AS (SELECT e.src, e.dst FROM e{i} e "
        f"  JOIN k{i} a ON e.src = a.node JOIN k{i} b ON e.dst = b.node)"
    )


@query(
    "x_graph_kcore",
    category="graphs",
    oracle=(
        _edge_sql(_KCORE_SUPPORT)
        + ", e0 AS (SELECT src, dst FROM edges), "
        + ", ".join(_kcore_round_sql(i) for i in range(_KCORE_ROUNDS))
        + f", df AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        f"  FROM e{_KCORE_ROUNDS} GROUP BY 1) "
        f"SELECT node, deg FROM df WHERE deg >= {_KCORE_K}"
    ),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 3-core of the co-purchase graph via THREE unrolled
    peeling rounds — each round drops every node whose degree in the
    CURRENT subgraph is < k and restricts the edge set to surviving
    endpoints; output = surviving nodes with their subgraph degree.
    Fixed round count keeps the plan static (exact k-core peels to a
    fixed point; three rounds converge on this graph — asserted by the
    idempotence property test — and production would loop like
    x_dedup_clusters, observing a changed-flag on each eager
    checkpoint).

    Scale shape per round: one degree hash-aggregate (map-side
    partials, one row per node) + two semi-join-shaped equi-joins of
    the edge list against the kept-node set — never materializes
    anything bigger than the edge list, and the edge list only
    SHRINKS.  Lazy localCheckpoint per round stops round r from
    re-running rounds 0..r-1 (the x_dedup_clusters discipline).

    Everything is integer counts — fully hash-checkable."""
    return kcore_core(_undirected_edges(spark, sf_dir, _KCORE_SUPPORT))


def kcore_core(
    edges: DataFrame, *, k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS
) -> DataFrame:
    """Fixed-round k-core peel over a symmetric (src, dst) edge list —
    see x_graph_kcore for semantics.  Exposed separately so the
    randomized differential test can drive it with seeded graphs
    against a pure-Python peel of the same recurrence."""
    # r12: each peel round is one spark.sql call (identical degree +
    # double-semi-restriction tree, A/B-proven bit-identical); the
    # per-round lazy localCheckpoint — round r must not re-run rounds
    # 0..r-1 — is unchanged.
    spark = edges.sparkSession
    e = edges
    for _ in range(rounds):
        e = spark.sql(
            "WITH deg AS (SELECT src AS node, COUNT(*) AS deg "
            "  FROM {e} GROUP BY src), "
            f"keep AS (SELECT node FROM deg WHERE deg >= {k}) "
            "SELECT e.src, e.dst FROM {e} e "
            "JOIN keep a ON e.src = a.node JOIN keep b ON e.dst = b.node",
            e=e,
        ).localCheckpoint(eager=False)
    return spark.sql(
        "SELECT node, deg FROM (SELECT src AS node, COUNT(*) AS deg "
        f"FROM {{e}} GROUP BY src) WHERE deg >= {k}",
        e=e,
    )


# -- bipartite HITS (co-HITS) -------------------------------------------


@query(
    "x_graph_hits",
    category="graph",
    oracle=(
        "WITH e AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part "
        "  FROM orders JOIN lineitem ON o_orderkey = l_orderkey), "
        f"h0 AS (SELECT cust, CAST({_SCALE} AS BIGINT) // "
        "  (SELECT COUNT(DISTINCT cust) FROM e) AS h FROM (SELECT DISTINCT cust FROM e)), "
        "a1r AS (SELECT e.part, CAST(SUM(h0.h) AS BIGINT) AS a "
        "  FROM e JOIN h0 ON e.cust = h0.cust GROUP BY 1), "
        "a1t AS (SELECT CAST(SUM(a) AS BIGINT) AS t FROM a1r), "
        f"a1 AS (SELECT part, CAST(CAST({_SCALE} AS HUGEINT) * a // t AS BIGINT) "
        "  AS a FROM a1r CROSS JOIN a1t), "
        "h1r AS (SELECT e.cust, CAST(SUM(a1.a) AS BIGINT) AS h "
        "  FROM e JOIN a1 ON e.part = a1.part GROUP BY 1), "
        "h1t AS (SELECT CAST(SUM(h) AS BIGINT) AS t FROM h1r), "
        f"h1 AS (SELECT cust, CAST(CAST({_SCALE} AS HUGEINT) * h // t AS BIGINT) "
        "  AS h FROM h1r CROSS JOIN h1t), "
        "a2r AS (SELECT e.part, CAST(SUM(h1.h) AS BIGINT) AS a "
        "  FROM e JOIN h1 ON e.cust = h1.cust GROUP BY 1), "
        "a2t AS (SELECT CAST(SUM(a) AS BIGINT) AS t FROM a2r), "
        f"a2 AS (SELECT part, CAST(CAST({_SCALE} AS HUGEINT) * a // t AS BIGINT) "
        "  AS a FROM a2r CROSS JOIN a2t) "
        "SELECT 'auth' AS kind, part AS node, a AS score FROM a2 "
        "UNION ALL SELECT 'hub', cust, h FROM h1"
    ),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite HITS (Kleinberg 1999, the co-HITS form): customers are
    hubs, parts are authorities on the purchase graph — a good hub buys
    authoritative parts, an authoritative part is bought by good hubs.
    Two mutual-reinforcement rounds (a = E^T h, h = E a, then a again),
    each L1-renormalized to total mass 10^12 in EXACT integer
    arithmetic (the classic L2 norm needs a sqrt; L1 keeps every step a
    bigint sum + one integer division and therefore hash-checkable and
    partition-invariant — the x_graph_pagerank discipline).

    Scale shape: each half-step is ONE equi-join of the current score
    vector with the edge list plus a hash aggregate on the other side
    (map-side partials carry the shuffle); the renormalizer is a 1-row
    broadcast total.  The distinct (cust, part) edge derivation is
    localCheckpointed because all four half-steps re-read it, and each
    half-step's raw vector is lazily checkpointed inside renorm (see
    comment there).  Bench attribution (r7, sf0.1): ~2.9 s, of which
    the orders-by-lineitem distinct edge shuffle alone measures
    ~1.3 s; the rest is three vector half-steps' small shuffles plus
    checkpoint materialization.  Structural for an iterative graph
    pass, not a plan defect.  Hot
    parts are aggregate skew — AQE splits them.  Spark-side 10^12 * x
    products stay under 2^63 because every renormalized mass is
    <= 10^12; the DuckDB twin routes the same products through HUGEINT
    and casts back, proving no overflow on either engine."""
    e = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    return co_hits_integer(e)


def co_hits_integer(e: DataFrame) -> DataFrame:
    """Integer co-HITS core over a distinct (cust, part) bipartite edge
    list — two mutually-reinforcing half-step rounds, L1-renormalized
    to total mass 10^12 in exact integer arithmetic; see x_graph_hits
    for semantics and scale shape.  Exposed separately so the
    randomized differential test (tests/test_random_differential.py)
    can drive it with arbitrary seeded bipartite graphs against a
    pure-Python reimplementation of the same integer recurrence.  The
    edge list is lazily checkpointed here (all four half-steps re-read
    it)."""
    e = e.localCheckpoint(eager=False)
    spark = e.sparkSession
    # r12: every half-step is one spark.sql call; the 1-row totals arrive
    # as scalar subqueries instead of the former broadcast cross-joins
    # (same value everywhere, fewer BNLJ nodes; A/B-proven
    # bit-identical).

    def renorm(df: DataFrame, key: str, col: str) -> DataFrame:
        # lazy checkpoint of the half-step's raw score vector: renorm
        # consumes it twice (the L1 total and the join-back) and every
        # later half-step re-reads the renormed result — without the
        # cut, Spark unrolls the full prior-iteration lineage per
        # consumer (no common-subplan sharing), turning 3 edge joins
        # into 20.  The checkpoint is score-vector-sized (one row per
        # cust/part), never edge-sized.
        df = df.localCheckpoint(eager=False)
        # decimal(38,0) sandwich: score * 10^12 can exceed int64
        # mid-product; the quotient is back under 10^12
        return spark.sql(
            f"SELECT {key}, CAST(CAST({_SCALE} AS DECIMAL(38,0)) * {col} "
            f"DIV (SELECT SUM({col}) FROM {{df}}) AS BIGINT) AS {col} "
            "FROM {df}",
            df=df,
        )

    def auth_step(hdf: DataFrame) -> DataFrame:
        raw = spark.sql(
            "SELECT part, SUM(h) AS a FROM {e} JOIN {h} USING (cust) "
            "GROUP BY part",
            e=e,
            h=hdf,
        )
        return renorm(raw, "part", "a")

    def hub_step(adf: DataFrame) -> DataFrame:
        raw = spark.sql(
            "SELECT cust, SUM(a) AS h FROM {e} JOIN {a} USING (part) "
            "GROUP BY cust",
            e=e,
            a=adf,
        )
        return renorm(raw, "cust", "h")

    # r13: the initial hub vector is the CONSTANT SCALE DIV n_cust, so
    # the first half-step's join degenerates to COUNT(*) per part times
    # that scalar (SUM of a constant over a part's cust-edges) — the
    # initial hub relation, its two distinct scans, and the first
    # edge-score join disappear.  A NULL cust never joins the hub
    # vector, so its edges are filtered out of the count exactly as the
    # join dropped them (and COUNT(DISTINCT cust) skips it too).
    # Bit-identical by definition; pinned by the seeded randomized
    # differential against pure Python, NULL-cust edges included.
    a1 = renorm(
        spark.sql(
            "SELECT part, COUNT(*) * (SELECT CAST("
            f"{_SCALE} AS BIGINT) DIV COUNT(DISTINCT cust) FROM {{e}}) AS a "
            "FROM {e} WHERE cust IS NOT NULL GROUP BY part",
            e=e,
        ),
        "part",
        "a",
    )
    h1 = hub_step(a1)
    a2 = auth_step(h1)
    return spark.sql(
        "SELECT 'auth' AS kind, part AS node, a AS score FROM {a2} "
        "UNION ALL SELECT 'hub', cust, h FROM {h1}",
        a2=a2,
        h1=h1,
    )


# -- degree assortativity ------------------------------------------------


@query(
    "x_graph_assortativity",
    category="graph",
    oracle=(
        _EDGE_SQL
        + "SELECT * FROM ("
        "WITH deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d "
        "  FROM edges GROUP BY 1), "
        "de AS (SELECT da.d AS x, db.d AS y FROM edges e "
        "  JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node), "
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx, "
        "  CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy, "
        "  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx, "
        "  CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy, "
        "  CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy FROM de), "
        "d2 AS (SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, "
        "  CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd, "
        "  CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd FROM m) "
        "SELECT n AS n_directed_edges, "
        "CASE WHEN nd * sxxd - sxd * sxd > 0 "
        "  AND nd * syyd - syd * syd > 0 "
        "  THEN (nd * sxyd - sxd * syd) / sqrt((nd * sxxd - sxd * sxd) "
        "  * (nd * syyd - syd * syd)) END AS assortativity "
        "FROM d2)"
    ),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the co-purchase graph:
    the Pearson correlation of endpoint degrees over directed edges —
    positive means hubs buy with hubs (social-network shape), negative
    means hubs connect to the periphery (catalog/star shape).  The
    one-number structural summary that tells you whether degree-based
    sampling or hub-pruning will distort the graph, completing the
    graph-science panel beside modularity, k-core, and triangles.

    Determinism: degrees are exact integer counts and the five
    cross-moments exact DECIMAL(38,0)/HUGEINT sums off ONE pass over
    the edge list (a hub degree of 1e8 makes d^2 1e16 per edge row, so
    even the plain degree sums pass int64 at scale; symmetric edges
    make x/y moments mirror-consistent).  The correlation is the
    identical exact-int->double IEEE tree on both engines — below 2^63
    bit-identical to the old int64 path, beyond it both engines still
    agree to the last ulp instead of overflowing; sqrt is correctly
    rounded by IEEE 754.

    Scale shape: one degree aggregate, two equi-joins of the edge list
    against the |nodes| degree table, one 1-row moment aggregate —
    edge-list-linear, no quadratic step."""
    edges = _undirected_edges(spark, sf_dir)
    # per-edge degrees square and cross: a 1e8-degree hub makes
    # x*x 1e16 PER ROW, so every moment (even the plain sums —
    # SUM(x) = sum of d^2 over nodes) routes through
    # DECIMAL(38,0)/HUGEINT before the double conversion.
    # a degree-REGULAR surviving graph (it happens: at sf0.1 the
    # support threshold leaves all-equal degrees) has zero variance —
    # assortativity is undefined there, NULL in both engines, never a
    # divide-by-zero under ANSI mode.  r12: one spark.sql call with the
    # identical exact-int -> double IEEE tree (A/B-proven bit-identical).
    vx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    vy = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    return spark.sql(
        "WITH deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d "
        "  FROM {edges} GROUP BY src), "
        "de AS (SELECT da.d AS x, db.d AS y FROM {edges} e "
        "  JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node), "
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "  SUM(CAST(x AS DECIMAL(38,0))) AS sx, "
        "  SUM(CAST(y AS DECIMAL(38,0))) AS sy, "
        "  SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx, "
        "  SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy, "
        "  SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy FROM de) "
        "SELECT n AS n_directed_edges, "
        f"CASE WHEN {vx} > 0 AND {vy} > 0 "
        "  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) "
        f"  / sqrt({vx} * {vy}) END AS assortativity "
        "FROM m",
        edges=edges,
    )


@query(
    "x_graph_clustering_coeff",
    category="graph",
    oracle=(
        # inner CTE names deliberately avoid shadowing the outer
        # items/und/edges names: DuckDB re-binds an outer CTE's body in
        # the INNER scope at each reference, so an inner `und` next to
        # a second `edges` reference reports a circular CTE.
        _EDGE_SQL
        + "SELECT * FROM ("
        "WITH u1 AS (SELECT src AS a, dst AS b FROM edges WHERE src < dst), "
        "wg AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
        "       FROM u1 e1 JOIN u1 e2 ON e1.b = e2.a), "
        "tr AS (SELECT w.a, w.b, w.c FROM wg w "
        "       JOIN u1 e3 ON w.a = e3.a AND w.c = e3.b), "
        "tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM ("
        "  SELECT a AS node FROM tr UNION ALL SELECT b FROM tr "
        "  UNION ALL SELECT c FROM tr) GROUP BY 1), "
        "dg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree "
        "       FROM edges GROUP BY 1) "
        "SELECT d.node, d.degree, COALESCE(t.n_tri, 0) AS n_tri, "
        "CASE WHEN d.degree >= 2 THEN CAST(2000000 * COALESCE(t.n_tri, 0) "
        "  // (d.degree * (d.degree - 1)) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS cc_ppm "
        "FROM dg d LEFT JOIN tn t ON d.node = t.node)"
    ),
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient — x_graph_triangles'
    census distributed back onto nodes: cc(v) = 2*T(v) / (d(v)*(d(v)-1))
    as an exact ppm integer (floor DIV), with degree and triangle
    counts riding along.  The per-node signal separates hub nodes
    bridging communities (low cc) from clique members (high cc) where
    the global census only averages.

    Scale shape: identical join budget to x_graph_triangles (the
    oriented wedge join + closing-edge join are the only corpus-sized
    ops, sum-of-squared-degrees bounded); the per-node rollup explodes
    each triangle to its 3 member nodes — a 3x generator on the
    triangle relation, not the edge relation — and degree is one hash
    aggregate on the edge list."""
    edges = _undirected_edges(spark, sf_dir)
    und = (
        edges.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .localCheckpoint(eager=False)
    )
    # r12: one spark.sql call (identical wedge/closing joins, per-node
    # rollup and exact ppm DIV tree, A/B-proven bit-identical).
    return spark.sql(
        "WITH wedge AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
        "  FROM {und} e1 JOIN {und} e2 ON e1.b = e2.a), "
        "tri AS (SELECT w.a, w.b, w.c FROM wedge w "
        "  JOIN {und} e3 ON w.a = e3.a AND w.c = e3.b), "
        "tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM ("
        "  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri "
        "  UNION ALL SELECT c FROM tri) GROUP BY node), "
        "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree "
        "  FROM {edges} GROUP BY src) "
        "SELECT d.node, d.degree, "
        "  COALESCE(t.n_tri, CAST(0 AS BIGINT)) AS n_tri, "
        "  CASE WHEN d.degree >= 2 "
        "    THEN CAST(2000000 * COALESCE(t.n_tri, 0) "
        "      DIV (d.degree * (d.degree - 1)) AS BIGINT) "
        "    ELSE CAST(0 AS BIGINT) END AS cc_ppm "
        "FROM deg d LEFT JOIN tn t ON d.node = t.node",
        und=und,
        edges=edges,
    )
