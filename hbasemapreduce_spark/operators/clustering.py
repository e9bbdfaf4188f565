"""Duplicate-cluster assignment: connected components over verified
near-dup pairs — the step that turns pairwise dedup output into an
actionable keep/drop decision (keep cluster_id = min doc_id, drop the
rest).

Algorithm: iterative min-label propagation to a fixpoint, the
DataFrame-native core of the large-star/small-star method (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
literature).  Each round is one equi-join + one aggregate; rounds
needed = component diameter (near-dup clusters are shallow — single
digits).  An eager ``localCheckpoint`` every three rounds truncates
lineage so plans don't grow, and the convergence flag is an observed
metric of that same checkpoint job: one job round-trip per three
rounds.

The edge set is the EXACT (oracle-checked) blocked-Jaccard pair list,
so the DuckDB oracle can rebuild identical clusters with a recursive
CTE over the same pairs — an iterative Spark algorithm with a full
value-hash oracle, not just a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .llm_dedup import dedup_ngram_jaccard

# the dedup_ngram_jaccard oracle, minus the projection — single source
# for the edge set on the DuckDB side
_PAIRS_SQL = (
    "WITH d AS (SELECT doc_id, lang, "
    "           list_distinct(string_split(text, ' ')) AS toks, "
    "           len(string_split(text, ' ')) AS n_toks "
    "           FROM documents), "
    "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM d a JOIN d b "
    "ON a.lang = b.lang AND a.n_toks = b.n_toks AND a.doc_id < b.doc_id "
    "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
    "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8)"
)


@query(
    "x_dedup_clusters",
    category="llm_dedup",
    oracle=(
        "WITH RECURSIVE "
        + _PAIRS_SQL[5:]  # strip the leading "WITH " (merged into RECURSIVE)
        + ", e AS (SELECT id_a AS a, id_b AS b FROM pairs "
        "          UNION ALL SELECT id_b, id_a FROM pairs), "
        "nodes AS (SELECT DISTINCT a AS id FROM e), "
        "reach AS (SELECT id, id AS r FROM nodes "
        "          UNION SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id) "
        "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id"
    ),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc in a near-dup pair; cluster_id
    = smallest doc_id in the connected component."""
    return _doc_clusters(dedup_ngram_jaccard(spark, sf_dir))


def _doc_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) of :func:`min_label_components` over ``pairs``."""
    return pairs.sparkSession.sql(
        "SELECT id AS doc_id, label AS cluster_id FROM {labels}",
        labels=min_label_components(pairs),
    )


_ROUNDS_PER_CHECKPOINT = 3


def min_label_components(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Iterative min-label connected components over an (id_a, id_b)
    pair list (other columns are ignored) — the shared harness behind
    x_dedup_clusters, x_dedup_phash_clusters and
    x_pipeline_entity_resolution (string ids).  Returns (id, label) for
    every endpoint, label = component minimum.  Pairs with a NULL
    endpoint are dropped (NULL names no node).

    Each pair becomes four edges, both directions plus a self-loop per
    endpoint, so a round is one join + one ``min(label)`` per id_a; the
    same aggregate over the self-loop alone is the previous label, which
    gives ``chg``.  Round 1 runs over identity labels: a plain groupBy.
    ``_ROUNDS_PER_CHECKPOINT`` rounds run per eager ``localCheckpoint``
    (the barrier is a full job round-trip, the dominant per-round
    cost), and ``max(chg)`` of the last round is observed on that same
    job; a round that changed nothing is the fixpoint (labels only
    decrease).  Each step is one SQL text: x_dedup_clusters builds in
    85 py4j round trips at sf0.01, against 1080 as a Column-API chain.

    Refuted: pointer-doubling (rounds 6 -> 5, wall time flat-to-worse
    at shallow near-dup diameters) and self-loops built with
    ``distinct``, an extra shuffle (x_dedup_clusters at sf0.1 on 4
    cores: 2.5 -> 4.1 s).  Measured and refuted for x_dedup_clusters at
    sf0.01 on 4 cores, interleaved in one process, digests equal,
    against this loop's ~0.51 s and 10 jobs:

    - a checkpoint every 1, 2 or 4 rounds: 0.63 / 0.66 / 0.54 s;
    - an eager ``edges`` checkpoint; no ``edges`` checkpoint at all
      (+50% executor CPU);
    - ``edges`` repartitioned by ``id_b``, with or without a merge
      hint: 9-12 jobs, no faster;
    - adjacency arrays carried through each round's aggregate: 7 jobs
      but slower, because ``max`` over an array forces SortAggregate.
    """
    spark = pairs.sparkSession
    edges = spark.sql(
        "SELECT inline(array(struct(id_a, id_b), struct(id_b AS id_a, id_a AS id_b), "
        "  struct(id_a, id_a AS id_b), struct(id_b AS id_a, id_b))) "
        "FROM {pairs} WHERE id_a IS NOT NULL AND id_b IS NOT NULL",
        pairs=pairs,
    ).localCheckpoint(eager=False)
    labelled = "SELECT id_a, id_b, id_b AS label FROM {edges}"  # round 1: identity labels, no join
    labels = None
    rounds = -(-max_rounds // _ROUNDS_PER_CHECKPOINT) * _ROUNDS_PER_CHECKPOINT
    for rnd in range(1, rounds + 1):  # diameter guard; clusters are shallow
        labels = spark.sql(
            "SELECT id, label, label < own AS chg FROM (SELECT id_a AS id, min(label) AS label, "
            "  min(CASE WHEN id_b = id_a THEN label END) AS own "
            f"  FROM ({labelled}) GROUP BY id_a)",
            edges=edges,
            labels=labels,
        )
        if rnd % _ROUNDS_PER_CHECKPOINT == 0:
            seen = Observation()
            labels = labels.observe(seen, F.expr("max(chg) AS chg")).localCheckpoint()
            if not seen.get["chg"]:
                return spark.sql("SELECT id, label FROM {labels}", labels=labels)
        labelled = "SELECT e.id_a, e.id_b, l.label FROM {edges} e JOIN {labels} l ON e.id_b = l.id"
    # fail LOUDLY: truncated propagation would return intermediate
    # labels as if they were component minima — a wrong answer, not an
    # error.  A component diameter > max_rounds means this corpus needs
    # the large-star/small-star contraction (halves diameter per round)
    # instead of plain min-label propagation.
    raise RuntimeError(
        "min_label_components: propagation did not converge in "
        f"{max_rounds} rounds (component diameter > {max_rounds})"
    )


# -- media near-dup clusters (CC over perceptual-hash pairs) -------------


def _phash_clusters_oracle() -> str:
    from .llm_multimodal import _PHASH_MAX_HAM, PHASH_HAM_SQL

    return (
        "WITH RECURSIVE "
        + PHASH_HAM_SQL
        + ", pp AS (SELECT doc_a, doc_b FROM ham "
        f"  WHERE hamming <= {_PHASH_MAX_HAM}), "
        "e AS (SELECT doc_a AS a, doc_b AS b FROM pp "
        "          UNION ALL SELECT doc_b, doc_a FROM pp), "
        "nodes AS (SELECT DISTINCT a AS id FROM e), "
        "reach AS (SELECT id, id AS r FROM nodes "
        "          UNION SELECT e.a, reach.r FROM e JOIN reach "
        "            ON e.b = reach.id) "
        "SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id"
    )


@query(
    "x_dedup_phash_clusters",
    category="llm_multimodal",
    oracle=_phash_clusters_oracle(),
)
def dedup_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media duplicate GROUPS: connected components over
    x_multimodal_phash_dedup's verified near-dup pairs, cluster_id =
    smallest doc_id — the keep-one-per-cluster decision for binary
    media, exactly what x_dedup_clusters provides for text.  Proves
    the min-label CC harness (min_label_components above) is a
    reusable component, not a one-off: same iterative equi-join +
    aggregate rounds, same localCheckpoint lineage discipline, same
    recursive-CTE oracle pattern over a different edge set.

    Scale shape: the pair list is banded-candidate-bounded (see
    x_multimodal_phash_dedup); CC rounds = component diameter
    (near-dup clusters are shallow), each round one equi-join +
    aggregate over the edge endpoints."""
    from .llm_multimodal import multimodal_phash_dedup

    return _doc_clusters(
        spark.sql(
            "SELECT doc_a AS id_a, doc_b AS id_b FROM {pairs}",
            pairs=multimodal_phash_dedup(spark, sf_dir),
        )
    )
