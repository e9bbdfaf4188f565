"""Experiment analysis and training-data logistics operators.

- x_stats_abtest: Welch two-sample t-statistic per event type — the
  A/B experiment readout, with hash-assigned variants and
  order-independent moment sums.
- x_stats_linreg: per-group OLS slope/intercept (value vs. event day)
  from exact decimal moments — trend detection over a time series.
- x_shard_manifest: deterministic shard assignment + per-shard
  manifest (doc/token/char totals) — the bookkeeping step before a
  training corpus ships to the trainer fleet.
- x_etl_cdc_apply: last-writer-wins change-log application with
  delete markers — MERGE of an ordered CDC stream collapsed to one
  argmax aggregate.
- x_ml_kmeans: two unrolled Lloyd iterations of k-means over the
  embedding corpus in EXACT integer arithmetic — the cluster
  assignment behind corpus bucketing, IVF list training, and
  diversity sampling.

Determinism: all float outputs start from EXACT decimal moment sums
(events.value is 2-dp, so products are exact at scale 4; day indexes
are bigints) and finish with identical IEEE double arithmetic in both
engines — sqrt included, which IEEE 754 requires correctly rounded.
Variant/shard assignment uses the same Knuth multiplicative hash as
the sampling operators: plain bigint arithmetic, portable across
engines, uncorrelated with id order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.determinism import KNUTH
from ..registry import query


@query(
    "x_stats_abtest",
    category="agg",
    oracle=(
        f"WITH e AS (SELECT event_type, value, (user_id * {KNUTH}) % 2 AS variant "
        "           FROM events), "
        "m AS ("
        "  SELECT event_type, variant, COUNT(*) AS n, "
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s, "
        "  CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS ss "
        "  FROM e GROUP BY 1, 2), "
        "w AS ("
        "  SELECT a.event_type, a.n AS n_a, b.n AS n_b, "
        "  a.s / a.n AS mean_a, b.s / b.n AS mean_b, "
        "  (a.ss - a.s * a.s / a.n) / (a.n - 1) AS var_a, "
        "  (b.ss - b.s * b.s / b.n) / (b.n - 1) AS var_b "
        "  FROM m a JOIN m b ON a.event_type = b.event_type "
        "  AND a.variant = 0 AND b.variant = 1 "
        "  AND a.n >= 2 AND b.n >= 2) "
        "SELECT event_type, n_a, n_b, mean_a, mean_b, "
        "(mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat "
        "FROM w"
    ),
)
def stats_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-statistic per event type between two hash-assigned
    user variants — the standard A/B readout (unequal variances, no
    pooling).  Users are split by the portable Knuth hash, so the
    assignment is reproducible on any engine and uncorrelated with id
    order.

    Scale shape: ONE aggregate pass over the fact stream — both
    variants' count and exact decimal moment sums are conditional
    aggregates in the same groupBy(event_type), so the fact table is
    scanned exactly once (plan-gated in tests/test_plans.py) and no
    post-aggregate join exists at all."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.pmod(F.col("user_id") * KNUTH, F.lit(2))).alias("variant"),
    )
    v = F.col("value")

    def side(tag: int, suffix: str) -> list:
        cond = F.col("variant") == tag
        return [
            F.count(F.when(cond, 1)).alias(f"n_{suffix}"),
            F.sum(F.when(cond, v.cast("decimal(18,2)"))).cast("double").alias(f"s_{suffix}"),
            F.sum(F.when(cond, (v * v).cast("decimal(18,4)"))).cast("double").alias(f"ss_{suffix}"),
        ]

    m = ev.groupBy("event_type").agg(*side(0, "a"), *side(1, "b"))

    def mean(sfx: str):
        return F.col(f"s_{sfx}") / F.col(f"n_{sfx}")

    def var(sfx: str):
        s, ss, n = F.col(f"s_{sfx}"), F.col(f"ss_{sfx}"), F.col(f"n_{sfx}")
        return (ss - s * s / n) / (n - 1)

    t = (mean("a") - mean("b")) / F.sqrt(
        var("a") / F.col("n_a") + var("b") / F.col("n_b")
    )
    # Degenerate-group guard (ADVICE r4): a variant that is empty or has a
    # single user would make the oracle's inner self-join drop the group
    # while the single-pass aggregate emits null/NaN moments — filter both
    # engines identically so sparse corpora agree.
    m = m.filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    return m.select(
        "event_type",
        "n_a",
        "n_b",
        mean("a").alias("mean_a"),
        mean("b").alias("mean_b"),
        t.alias("t_stat"),
    )


@query(
    "x_stats_linreg",
    category="agg",
    oracle=(
        "WITH e AS ("
        "  SELECT event_type, "
        "  CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', "
        "       date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) AS x, "
        "  value AS y FROM events), "
        "m AS ("
        "  SELECT event_type, COUNT(*) AS n, "
        "  CAST(SUM(x) AS DOUBLE) AS sx, "
        "  CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy, "
        "  CAST(SUM(CAST(x * y AS DECIMAL(24,2))) AS DOUBLE) AS sxy, "
        "  CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx "
        "  FROM e GROUP BY 1) "
        "SELECT event_type, n, "
        "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope, "
        "(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept "
        "FROM m"
    ),
)
def stats_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression of event value against event DAY — the
    trend line behind every 'metric drifting up?' panel, computed
    order-independently (the built-in regr_* aggregates accumulate
    float moments in partition order).

    x is the integer epoch-day (exact bigint), y is the 2-dp value, so
    every moment sum is exact: Sx in plain bigint, Sxx through
    DECIMAL(38,0)/HUGEINT (day^2 ~ 4e8 per row passes a long sum at
    ~2e10 rows per type), Sy/Sxy through the decimal sandwich (day *
    2-dp value is exact at scale 2; 24 digits of headroom for the day
    magnitude).  The closed-form
    slope/intercept doubles then start from identical inputs in both
    engines.  One aggregate pass, map-side partials, |event_types|
    output rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86_400_000_000)
         ).cast("long").alias("x"),
        F.col("value").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(24,2)")).cast("double").alias("sxy"),
        # epoch-day^2 ~ 4e8 per row: the plain-long sum passes int64 at
        # ~2e10 rows per type — decimal-routed like the other moments
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        "event_type", "n", slope.alias("slope"), intercept.alias("intercept")
    )


@query(
    "x_shard_manifest",
    category="pipeline",
    oracle=(
        f"WITH s AS (SELECT doc_id, n_chars, (doc_id * {KNUTH}) % 16 AS shard, "
        "            length(string_split(text, ' ')) AS n_toks FROM documents) "
        "SELECT shard, COUNT(*) AS n_docs, "
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens, "
        "CAST(SUM(n_chars) AS BIGINT) AS n_bytes, "
        "MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id "
        "FROM s GROUP BY shard"
    ),
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way shard assignment plus the per-shard
    manifest (doc/token/byte totals, key range) — the bookkeeping a
    training-data export runs last, so the trainer fleet can verify
    every shard it pulls.  Hash sharding (not range) keeps shard sizes
    balanced under any doc_id distribution; the manifest is one
    aggregate pass with map-side partials, 16 output rows at any
    corpus size.  In production the same dataflow feeds
    ``.write.partitionBy('shard')`` — sink_partitioned covers that
    path; this key oracle-checks the manifest numbers themselves."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        "n_chars",
        F.pmod(F.col("doc_id") * KNUTH, F.lit(16)).alias("shard"),
        F.size(F.split("text", " ")).alias("n_toks"),
    )
    return s.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_bytes"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(
    "x_etl_cdc_apply",
    category="etl",
    oracle=(
        "WITH ranked AS ("
        "  SELECT user_id, event_type, value, event_id, "
        "  row_number() OVER (PARTITION BY user_id "
        "                     ORDER BY ts DESC, event_id DESC) AS rn "
        "  FROM events) "
        "SELECT user_id, event_type AS last_type, value AS last_value, "
        "event_id AS last_event_id "
        "FROM ranked WHERE rn = 1 AND event_type <> 'error'"
    ),
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: collapse an ordered change log to
    final per-key state with last-writer-wins, honoring delete markers
    — a key whose LAST change is an 'error' row is tombstoned out of
    the result entirely.  MERGE semantics for a CDC stream, done as
    ONE argmax aggregate instead of the textbook row_number window
    (the oracle keeps the window form; both engines must agree
    exactly).

    max_by on the (ts, event_id) struct is a hash aggregate with
    map-side partials — no per-key sort, no full-partition window
    buffering, and the shuffle moves one row per key, not the change
    log.  The tiebreak on event_id makes the winner total, so the
    result is identical under any partitioning."""
    ev = load_table(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    last = ev.groupBy("user_id").agg(
        F.max_by("event_type", ordk).alias("last_type"),
        F.max_by("value", ordk).alias("last_value"),
        F.max_by("event_id", ordk).alias("last_event_id"),
    )
    return last.filter(F.col("last_type") != "error").select(
        "user_id", "last_type", "last_value", "last_event_id"
    )


# CTE chain ending in the nearest-centroid confusion matrix ``conf``
# (label, predicted, cnt) — shared between the x_ml_centroid_classify
# oracle below and x_eval_classification's oracle, which derives
# precision/recall/F1 from the same matrix.
CENTROID_CONFUSION_SQL = (
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb "
    "           FROM embeddings), "
    "el AS (SELECT label, i, "
    "       CAST(round(round(emb[i],6) * 1000000, 0) AS BIGINT) AS micros "
    "       FROM e, unnest(range(1, len(emb) + 1)) AS t(i)), "
    "cm AS (SELECT label, i, CAST(SUM(micros) AS BIGINT) AS s, COUNT(*) AS n "
    "       FROM el GROUP BY 1, 2), "
    "cent AS (SELECT label AS c_label, "
    "         list(CAST(s AS DOUBLE) / (1000000.0 * n) ORDER BY i) AS c_emb "
    "         FROM cm GROUP BY 1), "
    "scored AS ("
    "  SELECT e.vec_id, e.label, c.c_label, "
    "  round(list_cosine_similarity(e.emb, c.c_emb), 6) AS sim "
    "  FROM e CROSS JOIN cent c), "
    "ranked AS ("
    "  SELECT vec_id, label, c_label, sim, row_number() OVER ("
    "    PARTITION BY vec_id ORDER BY sim DESC, c_label) AS rn FROM scored), "
    "conf AS (SELECT label, c_label AS predicted, COUNT(*) AS cnt "
    "  FROM ranked WHERE rn = 1 GROUP BY 1, 2)"
)


@query(
    "x_ml_centroid_classify",
    category="stats_ml",
    oracle=(
        "WITH "
        + CENTROID_CONFUSION_SQL
        + " SELECT label, predicted, cnt FROM conf"
    ),
)
def ml_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of every embedding against the
    per-label mean vectors, reported as the confusion matrix (true
    label x predicted label x count) — the shape of every 'apply the
    trained quality/topic classifier to the corpus' pass in a
    training-data pipeline (swap the data-derived centroids for
    trained probe weights; the dataflow is identical).

    Scale shape: centroids are a per-(label, dim) hash aggregate
    (posexplode -> sum, |labels| x d output rows at any corpus size),
    collapsed to |labels| centroid ARRAYS and broadcast; per-vector
    scoring is then |labels| higher-order-function cosines per row with
    the argmax taken by the array_sort(struct) trick — ZERO shuffle
    beyond the centroid aggregate, and the confusion matrix is one
    |labels|^2-bounded hash aggregate.  The corpus streams through
    once for centroids and once for scoring.

    Determinism: centroid elements start from 6-dp-rounded integer
    micros (exact bigint sums at any partition count — the x_emb_gram
    trick) and become doubles via ONE division with exact operands, so
    both engines hold bit-identical centroids; scoring rounds to 6 dp
    with a label tie-break before the argmax, the proven IVF ranking
    discipline.  Output is integer counts — fully hash-checkable."""
    pred = _centroid_predictions(spark, sf_dir)
    return pred.groupBy("label", "predicted").agg(F.count("*").alias("cnt"))


def _centroid_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector nearest-centroid winner (label, predicted, sim) —
    the shared scoring pass behind x_ml_centroid_classify (confusion
    matrix) and x_eval_calibration (reliability bins)."""
    from ..functions.vectors import dot, norm

    e = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    micros = F.round(F.round(F.col("x"), 6) * 1_000_000, 0).cast("long")
    cm = (
        e.select("label", F.posexplode("emb").alias("i", "x"))
        .select("label", "i", micros.alias("micros"))
        .groupBy("label", "i")
        .agg(F.sum("micros").alias("s"), F.count("*").alias("n"))
    )
    cent_val = F.col("s").cast("double") / (F.lit(1_000_000.0) * F.col("n"))
    cent = (
        cm.select("label", F.struct(F.col("i"), cent_val.alias("v")).alias("iv"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(F.sort_array(F.collect_list("iv")).alias("ivs"))
        .select(
            "c_label", F.transform("ivs", lambda s: s["v"]).alias("c_emb")
        )
        .withColumn("c_nrm", norm(F.col("c_emb")))
        .select(F.struct("c_label", "c_emb", "c_nrm").alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )

    def scored(c):
        sim = F.round(
            dot(F.col("emb"), c["c_emb"]) / (F.col("nrm") * c["c_nrm"]), 6
        )
        return F.struct(sim.alias("sim"), (-c["c_label"]).alias("neg_label"))

    winner = F.reverse(F.array_sort(F.transform(F.col("cents"), scored)))[0]
    return (
        e.withColumn("nrm", norm(F.col("emb")))
        .crossJoin(F.broadcast(cent))
        .select(
            "label",
            (-winner["neg_label"]).alias("predicted"),
            winner["sim"].alias("sim"),
        )
    )


_KM_K = 8  # clusters; init = the k lowest vec_ids (deterministic seed)
_KM_D = 64  # embedding dimensionality (the corpus constant every
# oracle spells as generate_series(0, 63))

# CTE chain ending in the trained centroid table ``c1`` (cid, cm:
# offset-micros BIGINT[]) — one full Lloyd round: init from the k
# lowest vec_ids, assign, integer-mean update.  Shared between the
# x_ml_kmeans oracle below and x_sim_ivf_kmeans's oracle
# (llm_similarity.py), which probes these trained centroids.
# Offset-micros trick: adding a constant to every coordinate changes no
# Euclidean distance but makes every integer non-negative, so DuckDB's
# floor-div `//` and Spark's truncating DIV agree on the means.
KMEANS_CENT_SQL = (
    "e AS (SELECT vec_id, "
    "  list_transform(CAST(embedding AS DOUBLE[]), "
    "    x -> CAST(round((round(x, 6) + 1) * 1000000) AS BIGINT)) AS m "
    "  FROM embeddings), "
    f"c0 AS (SELECT vec_id AS cid, m AS cm FROM e WHERE vec_id < {_KM_K}), "
    "d1 AS (SELECT e.vec_id, c.cid, "
    "  CAST(list_sum(list_transform(list_zip(e.m, c.cm), "
    "    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2 "
    "  FROM e CROSS JOIN c0 c), "
    "a1 AS (SELECT vec_id, cid FROM ("
    "  SELECT vec_id, cid, row_number() OVER ("
    "    PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1), "
    "mem AS (SELECT a1.cid, e.m FROM a1 JOIN e USING (vec_id)), "
    "dim AS (SELECT cid, i, m[i] AS v "
    "        FROM mem, unnest(range(1, len(m) + 1)) AS t(i)), "
    "cs AS (SELECT cid, i, CAST(SUM(v) AS BIGINT) // COUNT(*) AS c "
    "       FROM dim GROUP BY 1, 2), "
    "c1 AS (SELECT cid, list(c ORDER BY i) AS cm FROM cs GROUP BY cid)"
)


def _micros_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as (vec_id, m: offset-micros array<long>) — the exact
    integer coordinate space every k-means step runs in."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round((F.round(x, 6) + 1) * 1_000_000, 0).cast("long"),
            ).alias("m"),
        )
        .localCheckpoint(eager=False)  # read by init + both assignment passes
    )


def _count_of_dim(vec: str, dim: int, msg: str):
    """``COUNT(*)`` for a per-dimension-sum aggregate that raises ``msg``
    on a vector whose size is not ``dim`` (a NULL vector included): the
    NULL-tolerant ``get`` sums beside it would skip the missing
    coordinates while the row still counts in the divisor."""
    bad = F.coalesce(F.size(vec), F.lit(-1)) != dim
    return F.count(F.when(bad, F.raise_error(F.lit(msg))).otherwise(F.lit(1)))


def _collapse(cent_rows: DataFrame) -> DataFrame:
    """(cid, cm) rows -> ONE array-of-structs row, the broadcastable
    scalar the zero-shuffle assignment pass consumes."""
    return cent_rows.select(
        F.struct(F.col("cid"), F.col("cm")).alias("c")
    ).agg(F.sort_array(F.collect_list("c")).alias("cents"))


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Zero-shuffle Lloyd assignment: broadcast the centroid arrays,
    score k squared distances per vector with JVM higher-order
    functions, argmin via array_sort(struct(d2, cid))[0]."""

    def scored(c):
        d2 = F.aggregate(
            F.zip_with(F.col("m"), c["cm"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.struct(d2.alias("d2"), c["cid"].alias("cid"))

    best = F.array_sort(F.transform(F.col("cents"), scored))[0]
    return (
        e.crossJoin(F.broadcast(cents))
        .withColumn("best", best)
        .select(
            "vec_id",
            "m",
            F.col("best.cid").alias("cluster"),
            F.col("best.d2").alias("d2"),
        )
    )


def kmeans_centroids(
    spark: SparkSession,
    sf_dir: str,
    e: DataFrame | None = None,
    *,
    checkpoint: bool = True,
    dim: int = _KM_D,
) -> DataFrame:
    """The trained centroid table after one full Lloyd round — (cid,
    cm: offset-micros array<long>), the Spark twin of KMEANS_CENT_SQL's
    ``c1``.  Consumed by x_ml_kmeans's second assignment pass and by
    x_sim_ivf_kmeans's probe (llm_similarity.py).

    Callers that already hold the micros table pass it via ``e`` so the
    load+transform+checkpoint isn't built twice; by default the k-row
    result is lazily localCheckpointed because most consumers broadcast
    it more than once (each broadcast would otherwise re-run the whole
    Lloyd round) — a caller that immediately re-collapses and
    checkpoints the scalar itself (x_sim_ivfpq) passes
    ``checkpoint=False`` to skip the redundant materialization
    barrier.  ``dim`` is the vector dimensionality (a schema constant
    the caller owns — the corpus embeds at 64); the r13 per-dimension
    update needs it at plan-build time."""
    if e is None:
        e = _micros_table(spark, sf_dir)
    c0 = _collapse(
        e.filter(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cid"), F.col("m").alias("cm")
        )
    )
    a1 = _assign(e, c0)
    # r13 centroid update (guide §2.3/§2.4): one groupBy(cluster) with a
    # per-dimension sum column each instead of posexplode(m) -> 64x row
    # blowup -> groupBy(cluster, i) -> second groupBy(cluster) with a
    # sorted collect_list.  Same integers (per-dim long sum, DIV by the
    # same per-cluster count, array order = dim order); one exchange and
    # no 64x intermediate.
    out = (
        a1.groupBy("cluster")
        .agg(
            *[F.sum(F.get("m", i)).alias(f"s{i}") for i in range(dim)],
            _count_of_dim("m", dim, f"kmeans_centroids: vectors must have {dim} dims")
            .alias("n"),
        )
        .select(
            F.col("cluster").alias("cid"),
            F.array(*[F.expr(f"s{i} DIV n") for i in range(dim)]).alias("cm"),
        )
    )
    return out.localCheckpoint(eager=False) if checkpoint else out


@query(
    "x_ml_kmeans",
    category="stats_ml",
    oracle=(
        "WITH " + KMEANS_CENT_SQL + ", "
        "dd AS (SELECT e.vec_id, c.cid, "
        "  CAST(list_sum(list_transform(list_zip(e.m, c.cm), "
        "    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2 "
        "  FROM e CROSS JOIN c1 c) "
        "SELECT vec_id, cid AS cluster, d2 FROM ("
        "  SELECT vec_id, cid, d2, row_number() OVER ("
        "    PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dd) WHERE rn = 1"
    ),
)
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (Lloyd), TWO unrolled iterations, k=8, over the embedding
    corpus — assignment + squared distance per vector, in EXACT integer
    arithmetic end to end, so the clustering is bit-identical at any
    partition count and fully hash-checkable against the DuckDB twin.
    This is the trainer for the IVF list structure the ANN operators
    probe (x_sim_ivf's stride centroids are the untrained stand-in;
    x_sim_ivf_kmeans probes THESE centroids).

    Number tricks: coordinates become OFFSET MICROS — round to 6 dp,
    add 1 (embeddings live in [-0.58, 0.52]), scale to integer
    micro-units.  The constant offset changes no squared distance; it
    was added as defence for negative-operand division semantics —
    later measured UNNECESSARY for this engine pair (Spark's DIV and
    DuckDB's // both truncate toward zero; verified -7 -> -3 on both,
    see x_ml_pca_power) — and kept because non-negative operands also
    stay safe against any future oracle engine that floors.  Squared
    distances are then exact bigints (64 dims x ~(1.1e6)^2 ~ 7.7e13,
    far inside bigint), and argmin ties break on centroid id.

    Scale shape per iteration — the canonical distributed k-means:
    (1) assignment is ZERO-shuffle: the k centroid arrays collapse to a
    1-row array-of-structs scalar, broadcast; each vector scores k
    centroids with JVM higher-order functions and takes argmin via
    array_sort(struct(d2, cid))[0] — no n x k pair stream, no window;
    (2) the update is one hash aggregate on (cluster, dim) — k*d output
    rows at ANY corpus size, map-side partials do the heavy lifting.
    Fixed iteration count keeps the plan static (production runs this
    loop to convergence with a delta observed on each checkpoint, the
    x_dedup_clusters pattern).  Init = the k lowest vec_ids, the
    deterministic stand-in for k-means|| sampling."""
    e = _micros_table(spark, sf_dir)
    c1 = _collapse(kmeans_centroids(spark, sf_dir, e))
    return _assign(e, c1).select("vec_id", "cluster", "d2")


@query(
    "x_stats_ks_drift",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT event_type, value, "
        "  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day FROM events), "
        "b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev), "
        "s AS (SELECT event_type, value, "
        "  CAST(COUNT(*) FILTER (WHERE day <= mid) AS BIGINT) AS c_e, "
        "  CAST(COUNT(*) FILTER (WHERE day > mid) AS BIGINT) AS c_l "
        "  FROM ev CROSS JOIN b GROUP BY 1, 2), "
        "c AS (SELECT event_type, "
        "  CAST(SUM(c_e) OVER w AS BIGINT) AS cum_e, "
        "  CAST(SUM(c_l) OVER w AS BIGINT) AS cum_l "
        "  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY value "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        "t AS (SELECT event_type, CAST(SUM(c_e) AS BIGINT) AS n_early, "
        "  CAST(SUM(c_l) AS BIGINT) AS n_late FROM s GROUP BY 1) "
        "SELECT c.event_type, n_early, n_late, "
        "  MAX(ABS(cum_e * n_late - cum_l * n_early)) AS ks_num, "
        "  CAST(MAX(ABS(cum_e * n_late - cum_l * n_early)) AS DOUBLE) "
        "    / CAST(n_early * n_late AS DOUBLE) AS ks_d "
        "FROM c JOIN t ON c.event_type = t.event_type "
        "WHERE n_early >= 1 AND n_late >= 1 "
        "GROUP BY c.event_type, n_early, n_late"
    ),
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event type between
    the early and late calendar halves of the event stream — the
    distribution-shift alarm a training pipeline runs between data
    snapshots before re-training.

    The D statistic is computed in EXACT INTEGER arithmetic: at each
    distinct value v, D's numerator is |cum_early * n_late -
    cum_late * n_early| (bigints; cum <= n <= ~1.5e6 at sf0.1, so the
    product stays far inside int64), and only the final single
    division to ks_d touches floats — two exactly-converted doubles,
    one correctly-rounded IEEE divide, identical in both engines.
    A float ECDF (cum/n per side, subtract) would round twice per
    point and could flip the argmax between engines.

    Scale shape: one fact scan -> one hash aggregate on (event_type,
    value) — output is bounded by |types| x |distinct 2-dp values|,
    NOT by row count — then one window pass per type over those
    bounded groups and a broadcast join of the |types|-row totals.
    The calendar-midpoint split is a 1-row broadcast aggregate, the
    x_time_gapfill bounds pattern.  Types with an empty half are
    filtered identically in both engines (the x_stats_abtest
    degenerate-group guard)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    )
    bounds = ev.agg(
        ((F.min("day") + F.max("day")) / 2).cast("bigint").alias("mid")
    )
    s = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", "value")
        .agg(
            F.count(F.when(F.col("day") <= F.col("mid"), 1)).alias("c_e"),
            F.count(F.when(F.col("day") > F.col("mid"), 1)).alias("c_l"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = s.select(
        "event_type",
        F.sum("c_e").over(w).alias("cum_e"),
        F.sum("c_l").over(w).alias("cum_l"),
    )
    t = s.groupBy("event_type").agg(
        F.sum("c_e").alias("n_early"), F.sum("c_l").alias("n_late")
    )
    num = F.abs(F.col("cum_e") * F.col("n_late") - F.col("cum_l") * F.col("n_early"))
    return (
        c.join(F.broadcast(t), "event_type")
        .filter((F.col("n_early") >= 1) & (F.col("n_late") >= 1))
        .groupBy("event_type", "n_early", "n_late")
        .agg(F.max(num).alias("ks_num"))
        .select(
            "event_type",
            "n_early",
            "n_late",
            "ks_num",
            (
                F.col("ks_num").cast("double")
                / (F.col("n_early") * F.col("n_late")).cast("double")
            ).alias("ks_d"),
        )
    )


@query(
    "x_stats_mad",
    category="stats_ml",
    oracle=(
        "WITH v AS (SELECT event_type, event_id, value FROM events), "
        "c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1), "
        "r AS (SELECT event_type, value, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY value, event_id) AS rn FROM v), "
        "med AS (SELECT r.event_type, r.value AS med "
        "  FROM r JOIN c USING (event_type) WHERE rn = (cnt + 1) // 2), "
        "d AS (SELECT v.event_type, v.event_id, ABS(v.value - m.med) AS dev, m.med "
        "  FROM v JOIN med m USING (event_type)), "
        "r2 AS (SELECT event_type, dev, med, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY dev, event_id) AS rn FROM d), "
        "mad AS (SELECT r2.event_type, r2.med, r2.dev AS mad "
        "  FROM r2 JOIN c USING (event_type) WHERE rn = (cnt + 1) // 2) "
        "SELECT d.event_type, m.med, m.mad, "
        "  CAST(COUNT(*) FILTER (WHERE d.dev > 5 * m.mad) AS BIGINT) AS n_outliers, "
        "  MAX(d.dev) AS max_absdev "
        "FROM d JOIN mad m ON d.event_type = m.event_type "
        "GROUP BY 1, 2, 3"
    ),
)
def stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier summary: EXACT median and MAD (median
    absolute deviation) by rank arithmetic, then count values beyond
    5 MADs — the mean/sigma-free twin of x_stats_outliers for
    heavy-tailed metrics, where one corrupt batch drags the mean but
    not the median.

    Exactness: the (lower) median is THE value at row (cnt+1) DIV 2 of
    the totally-ordered group (event_id tie-break) — rank arithmetic,
    no float interpolation; |value - med| is one correctly-rounded
    IEEE subtraction of identical doubles, so the second ranked pass
    and the 5*mad cut agree bit-for-bit across engines.

    Scale shape: two range-partitioned per-type sorts (the exact
    percentile price, each one shuffle; the 100 TB fast path swaps in
    the percentile_approx sketch exactly as x_agg_decile documents,
    with these exact medians as its test bound) plus |types|-row
    broadcast joins of the median/MAD tables; output is one row per
    type."""
    from pyspark.sql import Window

    v = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    c = v.groupBy("event_type").agg(F.count("*").alias("cnt"))

    def lower_median(df: DataFrame, order_col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(order_col, "event_id")
        r = df.select("event_type", order_col, "event_id", F.row_number().over(w).alias("rn"))
        return (
            r.join(F.broadcast(c), "event_type")
            .filter(F.col("rn") == F.expr("(cnt + 1) DIV 2"))
            .select("event_type", F.col(order_col).alias(out))
        )

    med = lower_median(v, "value", "med")
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = lower_median(d, "dev", "mad").join(F.broadcast(med), "event_type")
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.when(F.col("dev") > 5 * F.col("mad"), 1)).alias("n_outliers"),
            F.max("dev").alias("max_absdev"),
        )
        .select("event_type", "med", "mad", "n_outliers", "max_absdev")
    )


@query(
    "x_feature_binning",
    category="stats_ml",
    oracle=(
        "WITH c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt "
        "           FROM events GROUP BY 1), "
        "r AS (SELECT event_type, event_id, value, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY value, event_id) AS rn FROM events) "
        "SELECT r.event_id, r.event_type, r.value, "
        "  (rn * 10 + cnt - 1) // cnt AS bucket "
        "FROM r JOIN c ON r.event_type = c.event_type"
    ),
)
def feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (decile) feature binning: every event's value is
    replaced by its within-type decile bucket 1..10 — the monotone,
    outlier-immune discretization fed to tree ensembles and categorical
    embeddings.  The row-assignment twin of x_agg_decile's boundary
    query: bucket = ceildiv(rank * 10, cnt) in PURE bigint arithmetic over the
    tie-broken (value, event_id) total order, so same-valued rows at a
    decile boundary split deterministically and identically in both
    engines (a value-threshold assignment would put all ties in one
    bin and make bins unequal).

    Scale shape: one range-partitioned per-type sort (the window) plus
    a broadcast join of the |types|-row count table — linear pass,
    no self-join; the sketch-based fast path at 100 TB is
    percentile_approx boundaries + a range join, bounded by
    x_agg_decile's exact twin."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select("event_type", "event_id", "value", F.row_number().over(w).alias("rn"))
    return (
        r.join(F.broadcast(c), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.expr("(rn * 10 + cnt - 1) DIV cnt").alias("bucket"),
        )
    )


_PQ_M = 4  # subspaces
_PQ_DSUB = 16  # dims per subspace (embedding d = 64)
_PQ_K = 16  # codes per subspace -> 16^4 = 65536 cells, 16 bits/vector

# hash-spread deterministic PQ seed set: the _PQ_K smallest vec_ids in
# portable-Knuth-hash order — uniform over the corpus regardless of how
# ids correlate with labels (first-k-ids init collapsed onto 1-2 labels
# and cost 3x recall in the IVF-PQ probe)
PQ_SEED_SQL = (
    "pseeds AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid "
    "  FROM (SELECT vec_id FROM e "
    f"        ORDER BY (vec_id * {KNUTH}) % 4294967296, vec_id LIMIT {_PQ_K}))"
)


def _pq_sub_sql(s: int) -> str:
    """Unrolled CTE chain for subspace ``s``: slice -> init (4 lowest
    vec_ids) -> assign -> integer-mean update -> encode against the
    trained sub-codebook.  Mirrors KMEANS_CENT_SQL's one-Lloyd-round
    structure on a 16-dim slice."""
    lo, hi = s * _PQ_DSUB + 1, (s + 1) * _PQ_DSUB
    return (
        f"es{s} AS (SELECT vec_id, m[{lo}:{hi}] AS sm FROM e), "
        f"c0_{s} AS (SELECT p.cid, x.sm AS cm FROM es{s} x "
        f"           JOIN pseeds p USING (vec_id)), "
        f"d1_{s} AS (SELECT x.vec_id, c.cid, "
        "  CAST(list_sum(list_transform(list_zip(x.sm, c.cm), "
        "    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2 "
        f"  FROM es{s} x CROSS JOIN c0_{s} c), "
        f"a1_{s} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn "
        f"    FROM d1_{s}) WHERE rn = 1), "
        f"mem{s} AS (SELECT a.cid, x.sm FROM a1_{s} a JOIN es{s} x USING (vec_id)), "
        f"dim{s} AS (SELECT cid, i, sm[i] AS v "
        f"           FROM mem{s}, unnest(range(1, len(sm) + 1)) AS t(i)), "
        f"cs{s} AS (SELECT cid, i, CAST(SUM(v) AS BIGINT) // COUNT(*) AS c "
        f"          FROM dim{s} GROUP BY 1, 2), "
        f"c1_{s} AS (SELECT cid, list(c ORDER BY i) AS cm FROM cs{s} GROUP BY cid), "
        f"d2_{s} AS (SELECT x.vec_id, c.cid, "
        "  CAST(list_sum(list_transform(list_zip(x.sm, c.cm), "
        "    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2 "
        f"  FROM es{s} x CROSS JOIN c1_{s} c), "
        f"enc{s} AS (SELECT vec_id, cid AS code_{s}, d2 AS err_{s} "
        "  FROM (SELECT vec_id, cid, d2, row_number() OVER ("
        f"    PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d2_{s}) "
        "  WHERE rn = 1)"
    )


@query(
    "x_emb_pq",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT vec_id, "
        "  list_transform(CAST(embedding AS DOUBLE[]), "
        "    x -> CAST(round((round(x, 6) + 1) * 1000000) AS BIGINT)) AS m "
        "  FROM embeddings), "
        + PQ_SEED_SQL + ", "
        + ", ".join(_pq_sub_sql(s) for s in range(_PQ_M))
        + " SELECT e0.vec_id, e0.code_0, e1.code_1, e2.code_2, e3.code_3, "
        "  e0.err_0 + e1.err_1 + e2.err_2 + e3.err_3 AS d2 "
        "FROM enc0 e0 JOIN enc1 e1 USING (vec_id) "
        "JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)"
    ),
)
def emb_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al., TPAMI 2011): the embedding
    splits into 4 subspaces of 16 dims; each subspace trains its own
    16-entry codebook (one Lloyd round of the EXACT-integer k-means,
    x_ml_kmeans' machinery on a slice) and every vector is encoded as 4
    sub-codes — 16 bits replacing 64 floats, the memory diet that lets
    an ANN index hold 100 TB of vectors in RAM; the per-vector
    reconstruction error Sum d2_s comes out of the same integer
    arithmetic, so the whole encoding is hash-checkable.

    Scale shape: training per subspace is the k-means budget on a
    16-dim slice (zero-shuffle broadcast assignment + a (k x 16)-row
    hash-aggregate update); ENCODING is four argmin projections over
    broadcast sub-codebooks fused into one pass over the corpus — the
    vec_id equi-joins of the oracle's formulation collapse into
    chained withColumn projections, so no corpus-sized shuffle exists
    anywhere.  At query time an IVF-PQ index scans codes with
    precomputed distance tables — the probe shape x_sim_ivf already
    ships."""
    e = _micros_table(spark, sf_dir)
    enc = pq_encode(e, pq_codebooks(e))
    return enc.select(
        "vec_id",
        *[f"code_{s}" for s in range(_PQ_M)],
        sum(F.col(f"err_{s}") for s in range(_PQ_M)).alias("d2"),
    )


def _pq_sub(col, s):
    return F.slice(col, s * _PQ_DSUB + 1, _PQ_DSUB)


def pq_codebooks(e: DataFrame) -> DataFrame:
    """Train the 4 sub-codebooks (one Lloyd round each on a 16-dim
    slice of the offset-micros table ``e``), FUSED into a single
    dataflow: the corpus explodes once to (vec_id, s, sm) sub-vector
    rows, so all 4 subspaces share ONE broadcast-argmin assignment pass
    and ONE (s, cluster, dim) hash-aggregate update — versus the
    4 sequential per-subspace job chains of the unfused formulation,
    which benched 4.0-4.6 s at sf0.1 against ~1.3 s fused (identical
    integers: same seeds, same tie-breaks, same floor-division means).
    Returns ONE 1-row DataFrame with columns ``cents_0..cents_3`` — the
    broadcastable array-of-(cid, cm) scalars.  Shared by x_emb_pq and
    the IVF-PQ probe (llm_similarity.py)."""
    from pyspark.sql import Window

    # r13 (guide §2.4): the seed rows carry their vectors, so all 4 init
    # codebooks come straight off the 16 seed rows — the former
    # corpus-sized sub x seeds equi-join and its aggregate are gone
    seeds = (
        e.select("vec_id", "m")
        .orderBy(F.pmod(F.col("vec_id") * KNUTH, F.lit(4294967296)), "vec_id")
        .limit(_PQ_K)
    )
    seeds = seeds.select(
        "m", (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid")
    )
    sub = e.select(
        "vec_id",
        F.posexplode(
            F.array(*[_pq_sub(F.col("m"), s) for s in range(_PQ_M)])
        ).alias("s", "sm"),
    )
    c0 = seeds.groupBy().agg(
        *[
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("cid"), _pq_sub(F.col("m"), s).alias("cm"))
                )
            ).alias(f"cents_{s}")
            for s in range(_PQ_M)
        ]
    )

    def scored(c):
        d2 = F.aggregate(
            F.zip_with(F.col("sm"), c["cm"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.struct(d2.alias("d2"), c["cid"].alias("cid"))

    cents_for_s = F.element_at(
        F.array(*[F.col(f"cents_{s}") for s in range(_PQ_M)]),
        (F.col("s") + 1).cast("int"),
    )
    a1 = (
        sub.crossJoin(F.broadcast(c0))
        .withColumn("best", F.array_sort(F.transform(cents_for_s, scored))[0])
        .select("s", "sm", F.col("best.cid").alias("cluster"))
    )
    # r13 centroid update: one groupBy(s, cluster) with 16 per-dimension
    # sums instead of posexplode(sm) -> groupBy(s, cluster, i) ->
    # groupBy(s, cluster) (same integers, one exchange, no 16x rows —
    # the kmeans_centroids discipline)
    c1 = (
        a1.groupBy("s", "cluster")
        .agg(
            *[F.sum(F.get("sm", i)).alias(f"v{i}") for i in range(_PQ_DSUB)],
            _count_of_dim(
                "sm", _PQ_DSUB, f"pq_codebooks: vectors must have {_PQ_M * _PQ_DSUB} dims"
            ).alias("n"),
        )
        .select(
            "s",
            F.col("cluster").alias("cid"),
            F.array(*[F.expr(f"v{i} DIV n") for i in range(_PQ_DSUB)]).alias("cm"),
        )
    )
    return (
        c1.groupBy()
        .agg(
            *[
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("s") == s, F.struct(F.col("cid"), F.col("cm")))
                    )
                ).alias(f"cents_{s}")
                for s in range(_PQ_M)
            ]
        )
        # the 1-row all-codebooks scalar is broadcast by every consumer
        # (encode + the IVF-PQ distance tables) — checkpoint it so a
        # second broadcast doesn't re-run the fused Lloyd round
        .localCheckpoint(eager=False)
    )


def pq_encode(e: DataFrame, books: DataFrame) -> DataFrame:
    """Fused PQ encode: one pass over ``e``, one broadcast of the 1-row
    all-codebooks scalar, no joins — adds ``code_{s}``/``err_{s}``
    columns for every subspace."""

    def make_scored(s):
        subvec = _pq_sub(F.col("m"), s)

        def scored(c):
            d2 = F.aggregate(
                F.zip_with(subvec, c["cm"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            return F.struct(d2.alias("d2"), c["cid"].alias("cid"))

        return scored

    out = e.crossJoin(F.broadcast(books))
    for s in range(_PQ_M):
        best = F.array_sort(F.transform(F.col(f"cents_{s}"), make_scored(s)))[0]
        out = out.withColumn(f"best_{s}", best).drop(f"cents_{s}")
    return out.select(
        "*",
        *[F.col(f"best_{s}.cid").alias(f"code_{s}") for s in range(_PQ_M)],
        *[F.col(f"best_{s}.d2").alias(f"err_{s}") for s in range(_PQ_M)],
    ).drop(*[f"best_{s}" for s in range(_PQ_M)])


# log10(1 + 1/d) in ppm for d = 1..9 — fixed public constants, so no
# transcendental is ever EVALUATED (the package's no-log rule)
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


@query(
    "x_stats_benford",
    category="stats_ml",
    oracle=(
        "WITH v AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents "
        "  FROM events WHERE value > 0), "
        "d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit "
        "  FROM v), "
        "c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1), "
        "t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c), "
        "e AS (SELECT * FROM (VALUES "
        + ", ".join(f"({d + 1}, {p})" for d, p in enumerate(_BENFORD_PPM))
        + ") AS t(digit, expected_ppm)) "
        "SELECT e.digit, COALESCE(c.cnt, 0) AS cnt, "
        "  CAST(1000000 * COALESCE(c.cnt, 0) // t.n AS BIGINT) AS share_ppm, "
        "  CAST(e.expected_ppm AS BIGINT) AS expected_ppm, "
        "  CAST(1000000 * COALESCE(c.cnt, 0) // t.n - e.expected_ppm AS BIGINT) "
        "    AS delta_ppm "
        "FROM e LEFT JOIN c USING (digit) CROSS JOIN t"
    ),
)
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of the event values — the
    fabricated-data / unit-mixing alarm auditors run on financial
    columns: observed first-significant-digit shares against Benford's
    law, as exact integer counts and ppm deltas.  The expected
    distribution enters as FIXED public constants (log10(1+1/d) in
    ppm), so no transcendental function is evaluated anywhere — the
    package's determinism rule holds even here.

    Digit extraction stays exact: 2-dp values become integer cents
    (round-half-even on an exact double both engines), and the leading
    digit of the cents IS the first significant digit of the value.
    One fact scan -> 9-row aggregate; the digit spine left-join keeps
    all 9 rows even for digits that never occur."""
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select(
            F.substring(
                F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit")
        )
    )
    c = v.groupBy("digit").agg(F.count("*").alias("cnt"))
    t = c.agg(F.sum("cnt").alias("n"))
    e = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(_BENFORD_PPM)],
        "digit long, expected_ppm long",
    )
    return (
        e.join(c, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.expr("1000000 * coalesce(cnt, 0) DIV n").alias("share_ppm"),
            "expected_ppm",
            F.expr("1000000 * coalesce(cnt, 0) DIV n - expected_ppm").alias(
                "delta_ppm"
            ),
        )
    )


@query(
    "x_time_autocorr",
    category="stats_ml",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) / 3600000000 AS hr, "
        "  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        "p AS (SELECT event_type, c AS x, lead(c) OVER ("
        "  PARTITION BY event_type ORDER BY hr) AS y, "
        "  lead(hr) OVER (PARTITION BY event_type ORDER BY hr) - hr AS gap "
        "  FROM h), "
        "q AS (SELECT event_type, x, y FROM p WHERE y IS NOT NULL AND gap = 1), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, "
        "  CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy, "
        "  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx, "
        "  CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy "
        "  FROM q GROUP BY 1 HAVING COUNT(*) >= 2), "
        "d AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, "
        "  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, "
        "  CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd, "
        "  CAST(syy AS DOUBLE) AS syyd FROM m) "
        "SELECT event_type, n, "
        "(nd * sxyd - sxd * syd) / "
        "(sqrt(nd * sxxd - sxd * sxd) * sqrt(nd * syyd - syd * syd)) AS acf1 "
        "FROM d"
    ),
)
def time_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series per type
    — the burstiness/seasonality detector run before capacity planning
    or anomaly thresholds: acf1 ~ 0 means hours are independent, high
    acf1 means load clusters.  Pairs are CONSECUTIVE hours only (gap =
    1 via lead over the integer hour index — missing hours don't fake
    correlation), and acf1 is Pearson over (c_t, c_t+1).

    Determinism: counts are bigints, so all five moment sums are EXACT;
    the final expression is one fixed IEEE tree over exactly-converted
    doubles (sqrt is IEEE-correctly-rounded — the package admits it).
    Groups with < 2 pairs are filtered identically in both engines
    (the x_stats_abtest degenerate guard).

    Scale shape: fact scan -> (type, hour) hash aggregate (bounded by
    the calendar grid), ONE window pass per type over that bounded
    series, one |types|-row moment aggregate."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr"),
        )
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("hr")
    p = h.select(
        "event_type",
        F.col("c").alias("x"),
        F.lead("c").over(w).alias("y"),
        (F.lead("hr").over(w) - F.col("hr")).alias("gap"),
    ).filter(F.col("y").isNotNull() & (F.col("gap") == 1))
    m = (
        p.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            # count-squared moments pass int64 at ~3e9 events/hour —
            # DECIMAL(38,0)/HUGEINT routed, then the x_stats_cuped-style
            # double algebra (identical IEEE tree both engines)
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
            F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    den = F.sqrt(
        nd * F.col("sxx").cast("double") - sxd * sxd
    ) * F.sqrt(nd * F.col("syy").cast("double") - syd * syd)
    return m.select("event_type", "n", (num / den).alias("acf1"))


@query(
    "x_stats_gini",
    category="stats_ml",
    oracle=(
        "WITH u AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c "
        "  FROM events GROUP BY 1, 2), "
        "r AS (SELECT event_type, c, CAST(row_number() OVER ("
        "  PARTITION BY event_type ORDER BY c, user_id) AS BIGINT) AS i FROM u), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(c) AS BIGINT) AS s, "
        "  CAST(SUM(CAST(i AS HUGEINT) * c) AS HUGEINT) AS sic "
        "  FROM r GROUP BY 1) "
        "SELECT event_type, n, s AS n_events, "
        "(2 * CAST(sic AS DOUBLE) "
        "  - (CAST(n AS DOUBLE) + 1) * CAST(s AS DOUBLE)) "
        "/ (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) AS gini "
        "FROM m"
    ),
)
def stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity within each event type —
    the imbalance audit (0 = every user equally active, ->1 = a few
    users dominate) that flags both engagement concentration and the
    hot-key skew x_profile_skew measures from the join-planning angle.

    Exact rank formula on the tie-broken ascending order:
    G = (2*sum(i*c_i) - (n+1)*sum(c_i)) / (n*sum(c_i)) — every term a
    bigint (user_id tie-break makes rank i total, and equal counts
    yield the same SUM(i*c) under any tie permutation, so the result
    is partition-invariant), ONE final division of exactly-converted
    doubles.

    Scale shape: fact scan -> (type, user) hash aggregate, one
    per-type sort over the user-count table (range-partitioned at
    scale), one moment aggregate — the x_stats_mad budget."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("c", "user_id")
    r = u.select(
        "event_type", "c", F.row_number().over(w).cast("long").alias("i")
    )
    m = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        # rank * count reaches ~n_users * per-user activity per row and
        # ~n^2 summed — DECIMAL(38,0)/HUGEINT routed; the rank formula
        # then runs in doubles with the identical tree on both engines
        F.sum(F.expr("CAST(i AS DECIMAL(38,0)) * c")).alias("sic"),
    )
    nd, sd = F.col("n").cast("double"), F.col("s").cast("double")
    gini = (2 * F.col("sic").cast("double") - (nd + 1) * sd) / (nd * sd)
    return m.select("event_type", "n", F.col("s").alias("n_events"), gini.alias("gini"))


@query(
    "x_agg_diversity",
    category="stats_ml",
    oracle=(
        "WITH u AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c "
        "  FROM events GROUP BY 1, 2), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users, "
        "  CAST(SUM(c) AS BIGINT) AS n, "
        "  CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sc2 "
        "  FROM u GROUP BY 1) "
        "SELECT event_type, n_users, n AS n_events, "
        "1.0 - CAST(sc2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) "
        "AS simpson FROM m"
    ),
)
def agg_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson diversity index of per-user activity within each
    event type: 1 - sum(p_u^2) = 1 - sum(c_u^2)/N^2 — the probability
    two random events come from DIFFERENT users.  The
    transcendental-free stand-in for Shannon entropy (same ordering on
    concentration, no log), the diversity audit run on corpus source /
    author distributions before training.  Complements x_stats_gini:
    Gini measures inequality of the activity CURVE, Simpson the
    collision probability a sampler cares about.

    Exactness: the c^2 sum and the N^2 denominator both reach ~N^2, so
    sc2 routes through DECIMAL(38,0)/HUGEINT and N^2 is a product of
    two exactly-converted doubles (identical IEEE multiply both
    engines; below 2^63 the values equal today's int64 path bit for
    bit, beyond it the engines still agree to the last ulp instead of
    overflowing).  ONE final division.  Fact scan -> (type, user)
    aggregate -> |types|-row rollup."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("c"))
    )
    m = u.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum("c").alias("n"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("sc2"),
    )
    simpson = F.lit(1.0) - F.col("sc2").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return m.select(
        "event_type", "n_users", F.col("n").alias("n_events"), simpson.alias("simpson")
    )


_PEAK_MARGIN_BP = 12_000  # peak must exceed both neighbours by 20% (x1.2)


@query(
    "x_time_peaks",
    category="stats_ml",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 "
        "    AS BIGINT) AS hr, "
        "  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        "w AS (SELECT event_type, hr, c, "
        "  lag(c) OVER win AS pc, lead(c) OVER win AS nc, "
        "  hr - lag(hr) OVER win AS pgap, lead(hr) OVER win - hr AS ngap "
        "  FROM h WINDOW win AS (PARTITION BY event_type ORDER BY hr)) "
        "SELECT event_type, hr, c, pc, nc FROM w "
        "WHERE pc IS NOT NULL AND nc IS NOT NULL AND pgap = 1 AND ngap = 1 "
        f"AND 10000 * c >= {_PEAK_MARGIN_BP} * pc "
        f"AND 10000 * c >= {_PEAK_MARGIN_BP} * nc"
    ),
)
def time_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on the hourly count series per
    event type: an hour is a peak iff BOTH calendar neighbours exist
    (gap = 1 on the integer hour index — series edges and gaps can
    never fake a peak) and the count exceeds each neighbour by the
    20% margin, tested as the exact integer cross-product
    10000*c >= 12000*neighbour — no ratios, no floats.  The burst
    detector feeding alerting and surge-capacity dashboards;
    x_stats_spc flags absolute control-limit breaches, this flags
    RELATIVE spikes whatever the baseline.

    Scale shape: fact scan -> calendar-bounded (type, hour) aggregate
    -> ONE window pass per type.  All integer."""
    from pyspark.sql import Window

    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr"),
        )
        .agg(F.count("*").alias("c"))
    )
    win = Window.partitionBy("event_type").orderBy("hr")
    w = h.select(
        "event_type",
        "hr",
        "c",
        F.lag("c").over(win).alias("pc"),
        F.lead("c").over(win).alias("nc"),
        (F.col("hr") - F.lag("hr").over(win)).alias("pgap"),
        (F.lead("hr").over(win) - F.col("hr")).alias("ngap"),
    )
    return (
        w.filter(
            F.col("pc").isNotNull()
            & F.col("nc").isNotNull()
            & (F.col("pgap") == 1)
            & (F.col("ngap") == 1)
            & (10_000 * F.col("c") >= _PEAK_MARGIN_BP * F.col("pc"))
            & (10_000 * F.col("c") >= _PEAK_MARGIN_BP * F.col("nc"))
        )
        .select("event_type", "hr", "c", "pc", "nc")
    )


@query(
    "x_feature_minmax",
    category="stats_ml",
    oracle=(
        "WITH v AS (SELECT event_id, event_type, "
        "  CAST(round(value * 100) AS BIGINT) AS cents FROM events), "
        "b AS (SELECT event_type, CAST(MIN(cents) AS BIGINT) AS lo, "
        "  CAST(MAX(cents) AS BIGINT) AS hi FROM v GROUP BY 1) "
        "SELECT v.event_id, v.event_type, v.cents, "
        "  CAST(CASE WHEN b.hi > b.lo THEN "
        "    (v.cents - b.lo) * 1000000 // (b.hi - b.lo) ELSE 0 END AS BIGINT) "
        "    AS norm_ppm "
        "FROM v JOIN b USING (event_type)"
    ),
)
def feature_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling per event type, in EXACT integer ppm:
    2-dp values become integer cents, and each row normalizes to
    (cents - min) * 10^6 // (max - min) — the [0, 1e6] feature range
    gradient methods want, with zero float arithmetic so the scaled
    corpus is bit-identical at any partition count (a float (v-min)/
    (max-min) would already differ in the last ulp between engines'
    fused ops).  Degenerate constant groups map to 0 identically.
    The equal-frequency sibling is x_feature_binning; this is the
    equal-width one distance-based models prefer.

    Scale shape: one |types|-row min/max aggregate broadcast back over
    the fact scan — the x_stats_outliers budget; the normalize itself
    is a stateless projection."""
    v = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    b = v.groupBy("event_type").agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    norm = F.expr(
        "CAST(CASE WHEN hi > lo THEN (cents - lo) * 1000000 DIV (hi - lo) "
        "ELSE 0 END AS BIGINT)"
    )
    return (
        v.join(F.broadcast(b), "event_type")
        .select("event_id", "event_type", "cents", norm.alias("norm_ppm"))
    )


@query(
    "x_time_dow_profile",
    category="stats_ml",
    oracle=(
        "WITH d AS (SELECT event_type, "
        "  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow, "
        "  CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), "
        "t AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total FROM d GROUP BY 1) "
        "SELECT d.event_type, d.dow, d.cnt, "
        "  CAST(1000000 * d.cnt // t.total AS BIGINT) AS share_ppm, "
        "  CASE WHEN rank() OVER (PARTITION BY d.event_type "
        "    ORDER BY d.cnt DESC, d.dow) = 1 THEN 1 ELSE 0 END AS is_peak_dow "
        "FROM d JOIN t USING (event_type)"
    ),
)
def time_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: counts, ppm
    shares, and the peak day flagged — the weekly-rhythm readout
    capacity planning and anomaly baselining start from (x_time_peaks
    finds hourly spikes; this finds the standing weekly shape).

    dayofweek runs on the UTC-pinned calendar DATE; Spark numbers
    Sunday=1 while DuckDB numbers Sunday=0, so the oracle adds 1 —
    measured, not assumed (the classic calendar-convention trap).
    Shares are
    integer ppm floor-divisions; the peak flag uses rank() with a dow
    tie-break so ties pick the earliest day deterministically.

    One fact scan -> |types| x 7 aggregate -> broadcast totals join."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    t = d.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), F.asc("dow"))
    return (
        d.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "dow",
            "cnt",
            F.expr("CAST(1000000 * cnt DIV total AS BIGINT)").alias("share_ppm"),
            F.when(F.rank().over(w) == 1, 1).otherwise(0).cast("long").alias(
                "is_peak_dow"
            ),
        )
    )


# -- ranking-quality evaluation: NDCG@10 --------------------------------

import math as _math

_NDCG_K = 10
_NDCG_REL_CAP = 5
# Integer micro-scaled log2(p) for discount positions p = 2..K+1; both
# engines consume the SAME literal constants, so every per-position
# division is identical integer arithmetic (no runtime log calls).
_LG2_MICRO = [round(_math.log2(p) * 1_000_000) for p in range(2, _NDCG_K + 2)]


def _ndcg_term_sql(rel: str, rn: str) -> str:
    """gain(rel) * 10^12 // lg2micro(rn + 1) — the exact DCG term."""
    lut = ", ".join(str(v) for v in _LG2_MICRO)
    return f"((1 << {rel}) - 1) * 1000000000000 // (list_extract([{lut}], {rn}))"


@query(
    "x_eval_ndcg",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT event_type, user_id, value, "
        "  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day FROM events), "
        "b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev), "
        "pred AS (SELECT event_type, user_id, "
        "  SUM(CAST(value AS DECIMAL(18,2))) AS pred "
        "  FROM ev CROSS JOIN b WHERE day <= mid GROUP BY 1, 2), "
        "rel AS (SELECT event_type, user_id, "
        f"  LEAST(CAST(COUNT(*) AS BIGINT), {_NDCG_REL_CAP}) AS rel "
        "  FROM ev CROSS JOIN b WHERE day > mid GROUP BY 1, 2), "
        "cand AS (SELECT p.event_type, p.user_id, p.pred, "
        "  COALESCE(r.rel, 0) AS rel FROM pred p "
        "  LEFT JOIN rel r ON p.event_type = r.event_type "
        "    AND p.user_id = r.user_id), "
        "dpos AS (SELECT event_type, rel, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY pred DESC, user_id) AS rn FROM cand), "
        "ipos AS (SELECT event_type, rel, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY rel DESC, user_id) AS rn FROM cand), "
        "dcg AS (SELECT event_type, "
        f"  CAST(SUM({_ndcg_term_sql('rel', 'rn')}) AS BIGINT) AS dcg_micro "
        f"  FROM dpos WHERE rn <= {_NDCG_K} GROUP BY 1), "
        "idcg AS (SELECT event_type, "
        f"  CAST(SUM({_ndcg_term_sql('rel', 'rn')}) AS BIGINT) AS idcg_micro "
        f"  FROM ipos WHERE rn <= {_NDCG_K} GROUP BY 1) "
        "SELECT d.event_type, d.dcg_micro, i.idcg_micro, "
        "  1000000 * d.dcg_micro // i.idcg_micro AS ndcg_micro "
        "FROM dcg d JOIN idcg i ON d.event_type = i.event_type "
        "WHERE i.idcg_micro > 0"
    ),
)
def eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking-quality evaluation per event type: rank users by
    their early-half exact-decimal value total (the 'model score'),
    grade against graded relevance from the late calendar half
    (event count, capped at 5), and report DCG/IDCG/NDCG — the
    offline metric every retrieval/recommendation pipeline runs before
    shipping a ranker (complements x_eval_rank_corr's order
    correlation with position-discounted top-k quality).

    Determinism: gains are integers ((2^rel - 1)); the log2 position
    discounts are a 10-entry literal micro-int lookup table embedded
    identically in both engines, so each DCG term is one exact integer
    division — no runtime transcendentals anywhere.  Predicted order
    ties break on user_id; ideal-order ties need no break (equal rel
    contributes equal gain regardless of position).

    Scale shape: two (type, user)-grained aggregates off one fact scan
    (map-side partials), a same-key left join, and two
    WindowGroupLimit-able top-10 windows per type — output is
    |types|-bounded.  The calendar-midpoint split is the whitelisted
    1-row broadcast scalar (x_stats_ks_drift's pattern)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "value",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    )
    bounds = ev.agg(((F.min("day") + F.max("day")) / 2).cast("bigint").alias("mid"))
    evb = ev.crossJoin(F.broadcast(bounds))
    pred = (
        evb.filter(F.col("day") <= F.col("mid"))
        .groupBy("event_type", "user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("pred"))
    )
    rel = (
        evb.filter(F.col("day") > F.col("mid"))
        .groupBy("event_type", "user_id")
        .agg(F.least(F.count("*"), F.lit(_NDCG_REL_CAP)).cast("long").alias("rel"))
    )
    cand = (
        pred.join(rel, ["event_type", "user_id"], "left")
        .select(
            "event_type",
            "user_id",
            "pred",
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        )
    )
    lut = f"array({', '.join(str(v) for v in _LG2_MICRO)})"
    term = f"((1 << rel) - 1) * 1000000000000 DIV element_at({lut}, rn)"
    wd = Window.partitionBy("event_type").orderBy(F.desc("pred"), F.asc("user_id"))
    wi = Window.partitionBy("event_type").orderBy(F.desc("rel"), F.asc("user_id"))
    dcg = (
        cand.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= _NDCG_K)
        .groupBy("event_type")
        .agg(F.expr(f"CAST(SUM({term}) AS BIGINT)").alias("dcg_micro"))
    )
    idcg = (
        cand.withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= _NDCG_K)
        .groupBy("event_type")
        .agg(F.expr(f"CAST(SUM({term}) AS BIGINT)").alias("idcg_micro"))
    )
    return (
        dcg.join(idcg, "event_type")
        .filter(F.col("idcg_micro") > 0)
        .select(
            "event_type",
            "dcg_micro",
            "idcg_micro",
            F.expr("1000000 * dcg_micro DIV idcg_micro").alias("ndcg_micro"),
        )
    )


# -- decision-stump training by exact Gini split search -----------------


@query(
    "x_ml_gini_stump",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y, "
        "  CAST(hour(ts) AS BIGINT) AS hour, "
        "  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow, "
        "  LEAST(CAST(FLOOR(value / 20) AS BIGINT), 9) AS vbucket FROM events), "
        "f AS (SELECT 'hour' AS feature, hour AS bin, y FROM ev "
        "  UNION ALL SELECT 'dow', dow, y FROM ev "
        "  UNION ALL SELECT 'vbucket', vbucket, y FROM ev), "
        "g AS (SELECT feature, bin, CAST(SUM(y) AS BIGINT) AS pos, "
        "  CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg FROM f GROUP BY 1, 2), "
        "c AS (SELECT feature, bin, "
        "  CAST(SUM(pos) OVER w AS BIGINT) AS pl, "
        "  CAST(SUM(neg) OVER w AS BIGINT) AS nl "
        "  FROM g WINDOW w AS (PARTITION BY feature ORDER BY bin "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        "t AS (SELECT feature, CAST(SUM(pos) AS BIGINT) AS p, "
        "  CAST(SUM(neg) AS BIGINT) AS n FROM g GROUP BY 1), "
        "cand AS (SELECT c.feature, c.bin AS threshold, "
        "  pl, nl, t.p - pl AS pr, t.n - nl AS nr, t.p + t.n AS tot, "
        "  1000000 - CAST((CAST(pl AS HUGEINT)*pl + CAST(nl AS HUGEINT)*nl) "
        "    * 1000000 // (CAST(pl+nl AS HUGEINT)*(pl+nl)) AS BIGINT) AS gl, "
        "  1000000 - CAST((CAST(t.p-pl AS HUGEINT)*(t.p-pl) "
        "      + CAST(t.n-nl AS HUGEINT)*(t.n-nl)) * 1000000 "
        "    // (CAST(t.p+t.n-pl-nl AS HUGEINT)*(t.p+t.n-pl-nl)) AS BIGINT) AS gr "
        "  FROM c JOIN t USING (feature) "
        "  WHERE pl + nl > 0 AND t.p + t.n - pl - nl > 0), "
        "sc AS (SELECT feature, threshold, pl + nl AS n_left, pl AS pos_left, "
        "  pr + nr AS n_right, pr AS pos_right, "
        "  ((pl+nl) * gl + (pr+nr) * gr) // tot AS weighted_micro "
        "  FROM cand), "
        "parent AS (SELECT 1000000 - CAST((CAST(p AS HUGEINT)*p "
        "    + CAST(n AS HUGEINT)*n) * 1000000 "
        "  // (CAST(p+n AS HUGEINT)*(p+n)) AS BIGINT) "
        "  AS parent_micro FROM (SELECT CAST(SUM(y) AS BIGINT) AS p, "
        "  CAST(COUNT(*) - SUM(y) AS BIGINT) AS n FROM ev)) "
        "SELECT feature, threshold, n_left, pos_left, n_right, pos_right, "
        "  weighted_micro, parent_micro, "
        "  parent_micro - weighted_micro AS gain_micro FROM ("
        "  SELECT *, row_number() OVER (ORDER BY weighted_micro, feature, "
        "    threshold) AS rn FROM sc CROSS JOIN parent) WHERE rn = 1"
    ),
)
def ml_gini_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 decision-tree (stump) training by exhaustive Gini split
    search — predict 'is this event a purchase' from hour-of-day,
    day-of-week, and a capped value bucket.  The whole trainer is one
    declarative plan: per-(feature, bin) class counts, prefix sums per
    feature give every 'bin <= t' candidate split, weighted Gini
    impurity in micro-scaled EXACT integer arithmetic (each side's
    impurity is one integer division; ties break on (feature,
    threshold)), global argmin = the trained stump.  The impurity
    mid-products route through DECIMAL(38,0)/HUGEINT (the
    x_ml_var_stump discipline): 1e6 * (pl^2 + nl^2) passes int64
    already at ~3e6 rows on one split side; the divided-out micro
    impurities are <= 1e6 and come back as bigints.

    Scale shape: the only corpus-sized job is the (feature, bin) class
    count — 3 features x <= 24 bins regardless of row count; the split
    search runs on that bounded grid (prefix window + |features|-row
    totals join + one ~55-row global argmin window, single-partition by
    construction).  This is how a GBDT histogram builder (LightGBM's
    binned split finder) maps onto Spark: fact pass to histograms,
    driver-free argmin on the grid."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.hour("ts").cast("long").alias("hour"),
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow"),
        F.least(F.floor(F.col("value") / 20), F.lit(9)).cast("long").alias(
            "vbucket"
        ),
    )
    f = (
        ev.select(F.lit("hour").alias("feature"), F.col("hour").alias("bin"), "y")
        .unionAll(ev.select(F.lit("dow"), F.col("dow"), "y"))
        .unionAll(ev.select(F.lit("vbucket"), F.col("vbucket"), "y"))
    )
    g = f.groupBy("feature", "bin").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg"),
    )
    wc = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.select(
        "feature",
        "bin",
        F.sum("pos").over(wc).cast("long").alias("pl"),
        F.sum("neg").over(wc).cast("long").alias("nl"),
    )
    t = g.groupBy("feature").agg(
        F.sum("pos").cast("long").alias("p"), F.sum("neg").cast("long").alias("n")
    )
    cand = (
        c.join(F.broadcast(t), "feature")
        .filter((F.col("pl") + F.col("nl") > 0) & (F.col("p") + F.col("n") - F.col("pl") - F.col("nl") > 0))
        .select(
            "feature",
            F.col("bin").alias("threshold"),
            "pl",
            "nl",
            (F.col("p") - F.col("pl")).alias("pr"),
            (F.col("n") - F.col("nl")).alias("nr"),
            (F.col("p") + F.col("n")).alias("tot"),
            F.expr(
                "1000000 - CAST((CAST(pl AS DECIMAL(38,0))*pl "
                "+ CAST(nl AS DECIMAL(38,0))*nl) * 1000000 "
                "DIV (CAST(pl+nl AS DECIMAL(38,0))*(pl+nl)) AS BIGINT)"
            ).alias("gl"),
            F.expr(
                "1000000 - CAST((CAST(p-pl AS DECIMAL(38,0))*(p-pl) "
                "+ CAST(n-nl AS DECIMAL(38,0))*(n-nl)) * 1000000 "
                "DIV (CAST(p+n-pl-nl AS DECIMAL(38,0))*(p+n-pl-nl)) AS BIGINT)"
            ).alias("gr"),
        )
    )
    sc = cand.select(
        "feature",
        "threshold",
        (F.col("pl") + F.col("nl")).alias("n_left"),
        F.col("pl").alias("pos_left"),
        (F.col("pr") + F.col("nr")).alias("n_right"),
        F.col("pr").alias("pos_right"),
        F.expr("((pl+nl) * gl + (pr+nr) * gr) DIV tot").alias("weighted_micro"),
    )
    parent = ev.agg(
        F.sum("y").cast("long").alias("p"),
        (F.count("*") - F.sum("y")).cast("long").alias("n"),
    ).select(
        F.expr(
            "1000000 - CAST((CAST(p AS DECIMAL(38,0))*p "
            "+ CAST(n AS DECIMAL(38,0))*n) * 1000000 "
            "DIV (CAST(p+n AS DECIMAL(38,0))*(p+n)) AS BIGINT)"
        ).alias("parent_micro")
    )
    wr = Window.orderBy("weighted_micro", "feature", "threshold")
    return (
        sc.crossJoin(F.broadcast(parent))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "feature",
            "threshold",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "weighted_micro",
            "parent_micro",
            (F.col("parent_micro") - F.col("weighted_micro")).alias("gain_micro"),
        )
    )


# -- categorical association: chi-squared + Cramer's V ------------------


@query(
    "x_stats_cramers_v",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT event_type, "
        "  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow FROM events), "
        "cell AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS nij "
        "  FROM ev GROUP BY 1, 2), "
        "rt AS (SELECT event_type, CAST(SUM(nij) AS BIGINT) AS ri FROM cell GROUP BY 1), "
        "ct AS (SELECT dow, CAST(SUM(nij) AS BIGINT) AS cj FROM cell GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n, "
        "  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r_card, "
        "  CAST(COUNT(DISTINCT dow) AS BIGINT) AS c_card FROM cell), "
        "grid AS (SELECT rt.event_type, ct.dow, rt.ri, ct.cj, "
        "  COALESCE(cell.nij, 0) AS nij FROM rt CROSS JOIN ct "
        "  LEFT JOIN cell ON cell.event_type = rt.event_type AND cell.dow = ct.dow), "
        "terms AS (SELECT CAST((CAST(n AS HUGEINT) * nij - CAST(ri AS HUGEINT) * cj) "
        "  * (CAST(n AS HUGEINT) * nij - CAST(ri AS HUGEINT) * cj) * 1000000 "
        "  // (CAST(n AS HUGEINT) * ri * cj) AS BIGINT) AS t "
        "  FROM grid CROSS JOIN tot) "
        "SELECT n, r_card, c_card, "
        "  CAST(SUM(t) AS BIGINT) AS chi2_micro, "
        "  CAST(SUM(t) // (n * LEAST(r_card - 1, c_card - 1)) AS BIGINT) AS v2_micro "
        "FROM terms CROSS JOIN tot GROUP BY n, r_card, c_card"
    ),
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test + Cramer's V² between event type
    and day-of-week — 'is traffic mix a function of weekday?', the
    categorical-association audit behind stratification and drift
    checks (x_stats_ks_drift covers numeric drift; this covers the
    categorical-categorical pair).

    Exactness: every chi-squared term is the integer rational
    (n*nij - ri*cj)^2 * 10^6 // (n*ri*cj) over the FULL r x c grid
    (absent cells materialized as zeros — they still contribute
    ri*cj/n), with mid-products routed through DECIMAL(38,0) on Spark
    and HUGEINT on DuckDB because (n*nij)^2 overflows int64; the
    quotient is back under 10^12, so the summed chi2_micro and the
    final V² division are plain bigints.  V² (phi²/min(r-1,c-1)) is
    reported instead of V to avoid the sqrt.

    Scale shape: ONE fact-scan hash aggregate to the |types| x 7 cell
    grid; everything after runs on content-bounded tables (the grid
    spine is a broadcast cross of the two margin tables, the
    x_time_gapfill bounds pattern)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow"),
    )
    cell = ev.groupBy("event_type", "dow").agg(
        F.count("*").cast("long").alias("nij")
    )
    rt = cell.groupBy("event_type").agg(F.sum("nij").cast("long").alias("ri"))
    ct = cell.groupBy("dow").agg(F.sum("nij").cast("long").alias("cj"))
    tot = cell.agg(
        F.sum("nij").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("r_card"),
        F.countDistinct("dow").cast("long").alias("c_card"),
    )
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(cell, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            "ri",
            "cj",
            F.coalesce(F.col("nij"), F.lit(0)).alias("nij"),
        )
    )
    terms = grid.crossJoin(F.broadcast(tot)).select(
        "n",
        "r_card",
        "c_card",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * nij - CAST(ri AS DECIMAL(38,0)) * cj) "
            "* (CAST(n AS DECIMAL(38,0)) * nij - CAST(ri AS DECIMAL(38,0)) * cj) "
            "* 1000000 DIV (CAST(n AS DECIMAL(38,0)) * ri * cj) AS BIGINT)"
        ).alias("t"),
    )
    return terms.groupBy("n", "r_card", "c_card").agg(
        F.sum("t").cast("long").alias("chi2_micro"),
        F.expr(
            "CAST(SUM(t) DIV (n * LEAST(r_card - 1, c_card - 1)) AS BIGINT)"
        ).alias("v2_micro"),
    )


# -- M4 time-series downsampling ----------------------------------------

_M4_BUCKETS = 20


@query(
    "x_time_m4",
    category="stats_ml",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 "
        "    AS BIGINT) AS hr, "
        "  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        "b AS (SELECT event_type, MIN(hr) AS mn, MAX(hr) AS mx FROM h GROUP BY 1) "
        "SELECT h.event_type, "
        f"  CAST((h.hr - b.mn) * {_M4_BUCKETS} // (b.mx - b.mn + 1) AS BIGINT) AS bucket, "
        "  CAST(COUNT(*) AS BIGINT) AS n_points, "
        "  MIN(h.hr) AS first_hr, MAX(h.hr) AS last_hr, "
        "  MIN(h.c) AS min_c, MAX(h.c) AS max_c, "
        "  arg_min(h.c, h.hr) AS first_c, arg_max(h.c, h.hr) AS last_c "
        "FROM h JOIN b ON h.event_type = b.event_type "
        "GROUP BY 1, 2"
    ),
)
def time_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB'14) of the hourly count
    series per event type to 20 buckets, each reduced to its min, max,
    first, and last points — the downsample that renders a
    pixel-perfect line chart from billions of points because any
    vertical pixel column is fully determined by exactly those four
    values (LTTB is the aesthetic alternative but is inherently
    sequential; M4 is one declarative aggregate).

    All integers: hour index, equal-width bucket assignment by integer
    division over the per-type [min, max] span, and first/last via
    min_by/max_by on the unique-within-series hour index (no ties, so
    both engines agree).

    Scale shape: fact scan -> calendar-bounded (type, hour) aggregate,
    then a |types|-row bounds broadcast join and a second bounded
    aggregate.  Output is |types| x 20 regardless of corpus size."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr"),
        )
        .agg(F.count("*").alias("c"))
    )
    b = h.groupBy("event_type").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    return (
        h.join(F.broadcast(b), "event_type")
        .groupBy(
            "event_type",
            F.expr(
                f"CAST((hr - mn) * {_M4_BUCKETS} DIV (mx - mn + 1) AS BIGINT)"
            ).alias("bucket"),
        )
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.min("hr").alias("first_hr"),
            F.max("hr").alias("last_hr"),
            F.min("c").alias("min_c"),
            F.max("c").alias("max_c"),
            F.min_by("c", "hr").alias("first_c"),
            F.max_by("c", "hr").alias("last_c"),
        )
    )


# -- CUSUM control chart -------------------------------------------------


@query(
    "x_time_cusum",
    category="stats_ml",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 "
        "    AS BIGINT) AS hr, "
        "  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        "t AS (SELECT event_type, CAST(SUM(c) // COUNT(*) AS BIGINT) AS k, "
        "  CAST(SUM(c) // COUNT(*) AS BIGINT) AS alarm_h FROM h GROUP BY 1), "
        "p AS (SELECT h.event_type, h.hr, h.c, t.alarm_h, "
        "  CAST(SUM(h.c - t.k - 1) OVER w AS BIGINT) AS pf "
        "  FROM h JOIN t ON h.event_type = t.event_type "
        "  WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hr "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        "s AS (SELECT event_type, hr, c, alarm_h, "
        "  pf - LEAST(CAST(0 AS BIGINT), MIN(pf) OVER ("
        "    PARTITION BY event_type ORDER BY hr "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s "
        "  FROM p) "
        "SELECT event_type, hr, c, CAST(s AS BIGINT) AS cusum, "
        "CASE WHEN s > alarm_h THEN true ELSE false END AS alarm FROM s"
    ),
)
def time_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upper CUSUM control chart (Page 1954) on the hourly
    count series per event type — the drift alarm that catches SMALL
    persistent shifts x_stats_spc's per-point Shewhart limits miss and
    x_time_peaks' single-hour spikes aren't.  Allowance k = per-type
    mean + 1; alarm threshold h = one mean's worth of accumulated
    excess.

    The textbook recurrence S_t = max(0, S_{t-1} + (c_t - k)) is a
    running max-recursion no window frame expresses — but it equals
    P_t - min(0, min_{j<=t} P_j) for the plain prefix sum P (the
    reflection identity), so the whole chart is TWO chained window
    frames over ONE per-type sort, exact bigints end to end.

    Scale shape: fact scan -> calendar-bounded (type, hour) aggregate,
    a |types|-row mean join, one Exchange+Sort reused by both window
    passes.  Missing hours are skipped (the chart runs on observed
    points; a gap-filled variant would compose with x_time_gapfill)."""
    from pyspark.sql import Window

    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr"),
        )
        .agg(F.count("*").alias("c"))
    )
    return cusum_chart(h)


def cusum_chart(h: DataFrame) -> DataFrame:
    """CUSUM chart core over an arbitrary (event_type, hr, c) count
    series — see x_time_cusum for semantics; the reflection identity
    replaces the sequential max(0, ...) recurrence with two chained
    window frames.  Exposed separately so the randomized differential
    test (tests/test_random_differential.py) can drive it with seeded
    random series against the textbook sequential recurrence, which
    neither engine executes (both use the identity, so the oracle
    alone cannot catch a common-mode error in it)."""
    from pyspark.sql import Window

    t = h.groupBy("event_type").agg(
        F.expr("CAST(SUM(c) DIV COUNT(*) AS BIGINT)").alias("k"),
        F.expr("CAST(SUM(c) DIV COUNT(*) AS BIGINT)").alias("alarm_h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = h.join(F.broadcast(t), "event_type").select(
        "event_type",
        "hr",
        "c",
        "alarm_h",
        F.sum(F.col("c") - F.col("k") - 1).over(w).cast("long").alias("pf"),
    )
    s = p.select(
        "event_type",
        "hr",
        "c",
        "alarm_h",
        (
            F.col("pf")
            - F.least(F.lit(0).cast("long"), F.min("pf").over(w))
        ).alias("s"),
    )
    return s.select(
        "event_type",
        "hr",
        "c",
        F.col("s").cast("long").alias("cusum"),
        (F.col("s") > F.col("alarm_h")).alias("alarm"),
    )


# -- ridge regression (closed-form normal equations) ---------------------


@query(
    "x_ml_ridge",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT event_type, "
        "  CAST(hour(ts) AS BIGINT) AS x1, "
        "  CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', "
        "       date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) AS x2, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc FROM events), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(x1 * x1) AS BIGINT) AS a, "
        "  CAST(SUM(x1 * x2) AS BIGINT) AS b, "
        "  CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS ch, "
        "  CAST(SUM(x1 * yc) AS BIGINT) AS p, "
        "  CAST(SUM(CAST(x2 AS HUGEINT) * yc) AS HUGEINT) AS qh "
        "  FROM e GROUP BY 1), "
        "d AS (SELECT event_type, n, a, b, "
        "  CAST(ch AS BIGINT) AS c, p, CAST(qh AS BIGINT) AS q, "
        "  CAST(n AS DOUBLE) AS nd, CAST(a AS DOUBLE) AS ad, "
        "  CAST(b AS DOUBLE) AS bd, CAST(ch AS DOUBLE) AS cd, "
        "  CAST(p AS DOUBLE) AS pd, CAST(qh AS DOUBLE) AS qd FROM m) "
        "SELECT event_type, n, a, b, c, p, q, "
        "(ad + nd) * (cd + nd) - bd * bd AS det, "
        "((cd + nd) * pd - bd * qd) / ((ad + nd) * (cd + nd) - bd * bd) "
        "  AS beta_hour, "
        "((ad + nd) * qd - bd * pd) / ((ad + nd) * (cd + nd) - bd * bd) "
        "  AS beta_day "
        "FROM d"
    ),
)
def ml_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression per event type by closed-form
    normal equations — value-in-cents against (hour-of-day, epoch-day),
    penalty lambda = n so regularization scales with group size:
    beta = (X'X + nI)^{-1} X'y via the exact 2x2 adjugate.  The
    multivariate, regularized sibling of x_stats_linreg's simple OLS
    (same one-pass moment discipline; ridge is what production feature
    pipelines actually fit when features correlate, as hour and
    calendar day do here).

    Exactness: all five moments are exact integers off ONE aggregate
    pass — a, b, p in plain bigint (hour <= 23 keeps them small), c
    and q through DECIMAL(38,0)/HUGEINT because epoch-day^2 and
    epoch-day*cents pass a long sum at ~2e10 rows per type.  Each
    moment is then cast to double: int64→double is correctly rounded
    in every IEEE engine; the decimal→double casts for c/q are
    bit-identical to the old int64 path below 2^63 (DuckDB's
    HUGEINT→double double-rounding only bites at the 2^64 limb
    boundary), and beyond it both engines still agree to the last ulp
    instead of overflowing.  The determinant/adjugate arithmetic runs
    in doubles with the identical expression tree on both engines, so
    the coefficients match bitwise — x_stats_linreg's proven
    discipline.  Moments are emitted alongside the coefficients so the
    oracle checks the exact integers too (c/q as documented-saturation
    bigint casts).

    Scale shape: one fact-scan hash aggregate (map-side partials),
    |types| output rows, no second pass — the x_stats_linreg budget
    with one more feature."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("x1"),
        (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86_400_000_000))
        .cast("long")
        .alias("x2"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("yc"),
    )
    x1, x2, yc = F.col("x1"), F.col("x2"), F.col("yc")
    m = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        # x1 = hour (<= 23): a and p stay comfortably in int64; x2 =
        # epoch-day (~2e4) makes c = SUM(x2^2) and q = SUM(x2*yc) pass
        # int64 at ~2e10 rows per type — decimal-routed, with the
        # exposed bigint columns a documented-saturation cast
        F.sum(x1 * x1).cast("long").alias("a"),
        F.sum(x1 * x2).cast("long").alias("b"),
        F.sum(F.expr("CAST(x2 AS DECIMAL(38,0)) * x2")).alias("ch"),
        F.sum(x1 * yc).cast("long").alias("p"),
        F.sum(F.expr("CAST(x2 AS DECIMAL(38,0)) * yc")).alias("qh"),
    )
    nd, ad, bd = [F.col(k).cast("double") for k in ("n", "a", "b")]
    cd, pd_, qd = [
        F.col("ch").cast("double"),
        F.col("p").cast("double"),
        F.col("qh").cast("double"),
    ]
    det = (ad + nd) * (cd + nd) - bd * bd
    return m.select(
        "event_type",
        "n",
        "a",
        "b",
        F.col("ch").cast("long").alias("c"),
        "p",
        F.col("qh").cast("long").alias("q"),
        det.alias("det"),
        (((cd + nd) * pd_ - bd * qd) / det).alias("beta_hour"),
        (((ad + nd) * qd - bd * pd_) / det).alias("beta_day"),
    )


# -- classification metrics (precision / recall / F1) --------------------


@query(
    "x_eval_classification",
    category="stats_ml",
    oracle=(
        "WITH "
        + CENTROID_CONFUSION_SQL
        + ", t AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS n_true, "
        "  CAST(SUM(CASE WHEN predicted = label THEN cnt ELSE 0 END) "
        "    AS BIGINT) AS tp "
        "  FROM conf GROUP BY 1), "
        "p AS (SELECT predicted, CAST(SUM(cnt) AS BIGINT) AS n_pred "
        "  FROM conf GROUP BY 1) "
        "SELECT t.label, n_true, tp, "
        "COALESCE(p.n_pred, 0) - tp AS fp, "
        "n_true - tp AS fn, "
        "CASE WHEN COALESCE(p.n_pred, 0) > 0 "
        "  THEN 1000000 * tp // p.n_pred END AS precision_ppm, "
        "1000000 * tp // n_true AS recall_ppm, "
        "2000000 * tp // (n_true + COALESCE(p.n_pred, 0)) AS f1_ppm "
        "FROM t LEFT JOIN p ON t.label = p.predicted"
    ),
)
def eval_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label precision / recall / F1 over x_ml_centroid_classify's
    confusion matrix — the scorecard every 'did the quality/topic
    classifier get better?' review reads, completing the eval suite
    beside x_eval_ann_recall (retrieval), x_eval_rank_corr (ranking),
    and x_eval_ndcg (graded relevance).

    Exactness: the confusion matrix is integer counts, so every metric
    is an exact ppm floor division of non-negative bigints (DuckDB //
    and Spark DIV agree there); F1 uses the identity
    2tp/(2tp+fp+fn) = 2tp/(n_true+n_pred), keeping it one division.
    A label never predicted gets NULL precision identically on both
    engines (guarded CASE, not a 0/0).

    Scale shape: both metric aggregates run over the |labels|^2-bounded
    confusion matrix — driver-trivial no matter the corpus size; the
    corpus-sized work is the classify pass itself (see
    x_ml_centroid_classify).  The per-predicted-label totals join back
    broadcast."""
    conf = ml_centroid_classify(spark, sf_dir)
    t = conf.groupBy("label").agg(
        F.sum("cnt").cast("long").alias("n_true"),
        F.sum(F.when(F.col("predicted") == F.col("label"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    p = conf.groupBy(F.col("predicted").alias("p_label")).agg(
        F.sum("cnt").cast("long").alias("n_pred")
    )
    d = (
        t.join(F.broadcast(p), t["label"] == p["p_label"], "left")
        .select(
            "label",
            "n_true",
            "tp",
            F.coalesce(F.col("n_pred"), F.lit(0).cast("long")).alias("n_pred"),
        )
    )
    return d.select(
        "label",
        "n_true",
        "tp",
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_true") - F.col("tp")).alias("fn"),
        F.expr(
            "CASE WHEN n_pred > 0 THEN 1000000 * tp DIV n_pred END"
        ).alias("precision_ppm"),
        F.expr("1000000 * tp DIV n_true").alias("recall_ppm"),
        F.expr("2000000 * tp DIV (n_true + n_pred)").alias("f1_ppm"),
    )


# -- ALS half-step (closed-form per-user factor solve) -------------------


@query(
    "x_ml_als_step",
    category="stats_ml",
    oracle=(
        "WITH r AS (SELECT o.o_custkey AS user_id, "
        f"  (l.l_partkey * {KNUTH}) % 16 + 1 AS v1, "
        f"  ((l.l_partkey + 1) * {KNUTH}) % 16 + 1 AS v2, "
        "  CAST(CAST(l.l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS rc "
        "  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey), "
        "m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(v1 * v1) AS BIGINT) AS a, "
        "  CAST(SUM(v1 * v2) AS BIGINT) AS b, "
        "  CAST(SUM(v2 * v2) AS BIGINT) AS c, "
        "  CAST(SUM(v1 * rc) AS BIGINT) AS p, "
        "  CAST(SUM(v2 * rc) AS BIGINT) AS q "
        "  FROM r GROUP BY 1), "
        "d AS (SELECT user_id, n, a, b, c, p, q, "
        "  CAST(n AS DOUBLE) AS nd, CAST(a AS DOUBLE) AS ad, "
        "  CAST(b AS DOUBLE) AS bd, CAST(c AS DOUBLE) AS cd, "
        "  CAST(p AS DOUBLE) AS pd, CAST(q AS DOUBLE) AS qd FROM m) "
        "SELECT user_id, n, a, b, c, p, q, "
        "((cd + nd) * pd - bd * qd) / ((ad + nd) * (cd + nd) - bd * bd) "
        "  AS u1, "
        "((ad + nd) * qd - bd * pd) / ((ad + nd) * (cd + nd) - bd * bd) "
        "  AS u2 "
        "FROM d"
    ),
)
def ml_als_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One alternating-least-squares half-step of a rank-2 implicit
    recommender: given FIXED per-item factors, solve every user's
    regularized least squares u = (V'V + nI)^{-1} V'r in closed form —
    exactly how distributed ALS (Spark MLlib's own factorizer) updates
    one side per sweep.  Item factors here are hash-derived small
    integers (the deterministic stand-in for the previous sweep's
    factors; swapping in trained factors changes no dataflow), ratings
    are quantity-cents from the customer x part purchase matrix.

    Exactness: x_ml_ridge's proven discipline — five exact-bigint
    moments per user off ONE aggregate over the joined facts, then
    int64->double (correctly rounded) and an identical IEEE expression
    tree for the 2x2 adjugate solve, so factors match bitwise; lambda
    = n keeps the determinant strictly positive (Cauchy-Schwarz + n).

    Scale shape: one fact-fact equi-join (lineitem x orders on
    orderkey — co-partitionable/bucketable on the key) followed by one
    hash aggregate with map-side partials; |users| output rows, factor
    rank bounds the moment count, no iteration inside the query (sweeps
    compose across jobs, as in production ALS)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        ((F.col("l_partkey") * KNUTH) % 16 + 1).alias("v1"),
        (((F.col("l_partkey") + 1) * KNUTH) % 16 + 1).alias("v2"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("rc"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("o_custkey").alias("user_id"), "v1", "v2", "rc"
    )
    v1, v2, rc = F.col("v1"), F.col("v2"), F.col("rc")
    m = r.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(v1 * v1).cast("long").alias("a"),
        F.sum(v1 * v2).cast("long").alias("b"),
        F.sum(v2 * v2).cast("long").alias("c"),
        F.sum(v1 * rc).cast("long").alias("p"),
        F.sum(v2 * rc).cast("long").alias("q"),
    )
    nd, ad, bd = [F.col(k).cast("double") for k in ("n", "a", "b")]
    cd, pd_, qd = [F.col(k).cast("double") for k in ("c", "p", "q")]
    det = (ad + nd) * (cd + nd) - bd * bd
    return m.select(
        "user_id",
        "n",
        "a",
        "b",
        "c",
        "p",
        "q",
        (((cd + nd) * pd_ - bd * qd) / det).alias("u1"),
        (((ad + nd) * qd - bd * pd_) / det).alias("u2"),
    )


# -- Poisson bootstrap confidence interval -------------------------------

_BOOT_B = 32  # bootstrap replicates
_BOOT_H2 = 2246822519  # second hash multiplier (xxhash prime, public)
# Poisson(1) inverse CDF over a ppm-uniform draw: cumulative
# e^-1 * sum(1/k!) in ppm, truncated at weight 5 (P > 5 is 6e-4 —
# the standard truncation; both engines share the constants exactly).
_BOOT_CDF = [367879, 735759, 919699, 981012, 996340]

_BOOT_W_SQL = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF)
    )
    + " ELSE 5 END"
)


@query(
    "x_stats_bootstrap",
    category="stats_ml",
    oracle=(
        "WITH r AS (SELECT event_type, event_id, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "full_est AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(cents) AS BIGINT) AS sum_cents FROM r GROUP BY 1), "
        "reps AS (SELECT r.event_type, t.b, "
        f"  (r.event_id * {KNUTH} + (t.b + 1) * {_BOOT_H2}) % 1000000 AS u, "
        "  r.cents "
        f"  FROM r, range(0, {_BOOT_B}) AS t(b)), "
        f"w AS (SELECT event_type, b, {_BOOT_W_SQL} AS w, cents FROM reps), "
        "bm AS (SELECT event_type, b, "
        "  CAST(SUM(w) AS BIGINT) AS ws, "
        "  CAST(SUM(w * cents) AS BIGINT) AS wc "
        "  FROM w GROUP BY 1, 2), "
        "means AS (SELECT event_type, b, "
        "  CAST(wc AS DOUBLE) / CAST(ws AS DOUBLE) AS mean_b, "
        "  row_number() OVER (PARTITION BY event_type "
        "    ORDER BY CAST(wc AS DOUBLE) / CAST(ws AS DOUBLE), b) AS rn "
        "  FROM bm), "
        "ci AS (SELECT event_type, "
        "  MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo_cents, "
        f"  MAX(CASE WHEN rn = {_BOOT_B - 1} THEN mean_b END) AS ci_hi_cents "
        "  FROM means GROUP BY 1) "
        "SELECT f.event_type, f.n, f.sum_cents, "
        "CAST(f.sum_cents AS DOUBLE) / CAST(f.n AS DOUBLE) AS mean_cents, "
        "ci.ci_lo_cents, ci.ci_hi_cents "
        "FROM full_est f JOIN ci USING (event_type)"
    ),
)
def stats_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type mean-value confidence interval by the POISSON BOOTSTRAP
    (Chamandy et al., 'Estimating Uncertainty for Massive Data
    Streams', Google 2012) — the bootstrap that actually runs at
    warehouse scale: instead of resampling n rows with replacement
    (impossible without global coordination), every row draws an
    independent Poisson(1) replicate weight, so each of the B=32
    replicates is ONE weighted aggregate and the whole CI costs one
    map-side-combined pass over rows x B.

    Determinism: the replicate weight comes from a portable two-prime
    integer hash of (event_id, replicate) mapped through the shared
    ppm-quantized Poisson(1) inverse CDF — no RNG, identical in both
    engines.  Weighted sums are exact bigints; each replicate mean is
    ONE IEEE division of exactly-converted int64s, so the doubles and
    their (mean, b)-tie-broken rank order match bitwise; the CI is the
    2nd/31st order statistic of the 32 replicate means.

    Scale shape: the x B fan-out collapses in the partial aggregate
    (|types| x B groups reach the shuffle), the rank window runs over
    B rows per type, and the full-data estimate joins back broadcast —
    no row-level resample ever materializes."""
    r = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    full_est = r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    reps = r.select(
        "event_type",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "b",
        (
            (F.col("event_id") * KNUTH + (F.col("b") + 1) * _BOOT_H2)
            % 1_000_000
        ).alias("u"),
        "cents",
    )
    w = reps.select(
        "event_type", "b", F.expr(_BOOT_W_SQL).alias("w"), "cents"
    )
    bm = w.groupBy("event_type", "b").agg(
        F.sum("w").cast("long").alias("ws"),
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("wc"),
    )
    mean_b = F.col("wc").cast("double") / F.col("ws").cast("double")
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(mean_b, F.col("b"))
    )
    means = bm.select("event_type", "b", mean_b.alias("mean_b"), rn.alias("rn"))
    ci = means.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == _BOOT_B - 1, F.col("mean_b"))).alias(
            "ci_hi_cents"
        ),
    )
    return full_est.join(F.broadcast(ci), "event_type").select(
        "event_type",
        "n",
        "sum_cents",
        (F.col("sum_cents").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
        "ci_lo_cents",
        "ci_hi_cents",
    )


# -- logistic regression Newton step (closed form) -----------------------


@query(
    "x_ml_logreg_step",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT "
        "  CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) + 1 AS dow, "
        "  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x1, "
        "  CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', "
        "       date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) AS x2, "
        "  CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS s "
        "  FROM events), "
        "m AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, "
        "  CAST(SUM(x1 * x1) AS BIGINT) AS a, "
        "  CAST(SUM(x1 * x2) AS BIGINT) AS b, "
        "  CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS ch, "
        "  CAST(SUM(x1 * s) AS BIGINT) AS g1, "
        "  CAST(SUM(x2 * s) AS BIGINT) AS g2 "
        "  FROM e GROUP BY 1), "
        "d AS (SELECT dow, n, n_pos, a, b, CAST(ch AS BIGINT) AS c, g1, g2, "
        "  CAST(n AS DOUBLE) AS nd, CAST(a AS DOUBLE) AS ad, "
        "  CAST(b AS DOUBLE) AS bd, CAST(ch AS DOUBLE) AS cd, "
        "  CAST(g1 AS DOUBLE) AS gd1, CAST(g2 AS DOUBLE) AS gd2 FROM m) "
        "SELECT dow, n, n_pos, a, b, c, g1, g2, "
        "2 * ((cd + 4 * nd) * gd1 - bd * gd2) / "
        "  ((ad + 4 * nd) * (cd + 4 * nd) - bd * bd) AS beta_hour, "
        "2 * ((ad + 4 * nd) * gd2 - bd * gd1) / "
        "  ((ad + 4 * nd) * (cd + 4 * nd) - bd * bd) AS beta_day "
        "FROM d"
    ),
)
def ml_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Newton/IRLS step of L2-regularized logistic regression from
    the beta=0 start, per day-of-week cohort: purchase propensity
    against (hour-of-day, epoch-day).  At beta=0 the sigmoid is
    exactly 1/2, so the step has a CLOSED FORM — gradient X'(y - 1/2)
    = g/2 with g = X'(2y-1), Hessian X'X/4 + nI — giving
    beta = 2 (X'X + 4nI)^{-1} g: the one step of iterative
    model fitting that IS expressible as a declarative aggregate
    (later steps compose across jobs, each reusing this dataflow with
    per-row weights).  Completes the fitting family: OLS
    (x_stats_linreg), ridge (x_ml_ridge), ALS (x_ml_als_step),
    trees (x_ml_gini_stump), and now a GLM.

    Exactness: signed labels s = 2y-1 keep every moment an exact
    integer off ONE aggregate pass — epoch-day^2 through
    DECIMAL(38,0)/HUGEINT (the x_ml_ridge routing), the rest plain
    bigint; the exact-int->double conversions are correctly rounded
    and the 2x2 adjugate solve is the identical IEEE expression tree
    in both engines, so betas match bitwise.  The determinant is
    strictly positive (Cauchy-Schwarz + 4n).

    Scale shape: one fact-scan hash aggregate with map-side partials,
    7 output rows, no second pass.  (dow is Spark's 1=Sunday..7
    convention; the oracle shifts DuckDB's 0-based dayofweek by +1.)"""
    ev = load_table(spark, sf_dir, "events").select(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("x1"),
        (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86_400_000_000))
        .cast("long")
        .alias("x2"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("s"),
    )
    x1, x2, s = F.col("x1"), F.col("x2"), F.col("s")
    m = ev.groupBy("dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(s == 1, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(x1 * x1).cast("long").alias("a"),
        F.sum(x1 * x2).cast("long").alias("b"),
        # epoch-day^2 passes a long sum at ~2e10 rows per cohort — the
        # x_ml_ridge decimal routing, bigint output cast documented there
        F.sum(F.expr("CAST(x2 AS DECIMAL(38,0)) * x2")).alias("ch"),
        F.sum(x1 * s).cast("long").alias("g1"),
        F.sum(x2 * s).cast("long").alias("g2"),
    )
    nd, ad, bd = [F.col(k).cast("double") for k in ("n", "a", "b")]
    cd = F.col("ch").cast("double")
    gd1, gd2 = F.col("g1").cast("double"), F.col("g2").cast("double")
    det = (ad + 4 * nd) * (cd + 4 * nd) - bd * bd
    return m.select(
        "dow",
        "n",
        "n_pos",
        "a",
        "b",
        F.col("ch").cast("long").alias("c"),
        "g1",
        "g2",
        (2 * ((cd + 4 * nd) * gd1 - bd * gd2) / det).alias("beta_hour"),
        (2 * ((ad + 4 * nd) * gd2 - bd * gd1) / det).alias("beta_day"),
    )


# -- classifier calibration (reliability bins) ---------------------------


@query(
    "x_eval_calibration",
    category="stats_ml",
    oracle=(
        "WITH "
        + CENTROID_CONFUSION_SQL
        + ", win AS (SELECT label, c_label AS predicted, sim "
        "  FROM ranked WHERE rn = 1), "
        "b AS (SELECT CAST(floor(sim * 10) AS BIGINT) AS bin, "
        "  CASE WHEN predicted = label THEN 1 ELSE 0 END AS ok, "
        "  CAST(round(sim * 1000000) AS BIGINT) AS sim_micros FROM win) "
        "SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(ok) AS BIGINT) AS n_correct, "
        "1000000 * CAST(SUM(ok) AS BIGINT) // COUNT(*) AS acc_ppm, "
        "CAST(SUM(sim_micros) AS BIGINT) AS sim_micros_sum "
        "FROM b GROUP BY 1"
    ),
)
def eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram data for the nearest-centroid classifier:
    winning-similarity deciles vs observed accuracy — the calibration
    check ('does confidence 0.9 mean right 90% of the time?') every
    model-gated curation pipeline runs before trusting a threshold.

    Determinism: the winner similarity is the proven 6-dp-rounded
    bitwise-stable double, so floor(sim*10) bins and round(sim*1e6)
    micros are identical in both engines; accuracy is a non-negative
    ppm floor division and the per-bin confidence mass is an exact
    bigint micros sum (no float mean anywhere).

    Scale shape: rides _centroid_predictions' zero-extra-shuffle
    scoring pass; the bin rollup is one hash aggregate to at most ~20
    sign-split decile groups."""
    win = _centroid_predictions(spark, sf_dir)
    b = win.select(
        F.floor(F.col("sim") * 10).cast("long").alias("bin"),
        F.when(F.col("predicted") == F.col("label"), 1)
        .otherwise(0)
        .alias("ok"),
        F.round(F.col("sim") * 1_000_000, 0).cast("long").alias("sim_micros"),
    )
    return b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ok").cast("long").alias("n_correct"),
        F.expr("1000000 * CAST(SUM(ok) AS BIGINT) DIV COUNT(*)").alias(
            "acc_ppm"
        ),
        F.sum("sim_micros").cast("long").alias("sim_micros_sum"),
    )


# -- funnel stage-transition latency -------------------------------------


@query(
    "x_funnel_latency",
    category="analytics",
    oracle=(
        "WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
        "           WHERE event_type = 'view' GROUP BY 1), "
        "s2 AS (SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1 "
        "      FROM events e JOIN s1 ON e.user_id = s1.user_id "
        "      AND e.ts > s1.t1 WHERE e.event_type = 'click' GROUP BY 1), "
        "s3 AS (SELECT e.user_id, MIN(e.ts) AS t3, MIN(s2.t2) AS t2 "
        "      FROM events e JOIN s2 ON e.user_id = s2.user_id "
        "      AND e.ts > s2.t2 WHERE e.event_type = 'purchase' GROUP BY 1), "
        "d AS (SELECT 'view->click' AS transition, user_id, "
        "        CAST(epoch_us(t2) - epoch_us(t1) AS BIGINT) AS delta_us "
        "      FROM s2 "
        "      UNION ALL "
        "      SELECT 'click->purchase', user_id, "
        "        CAST(epoch_us(t3) - epoch_us(t2) AS BIGINT) FROM s3), "
        "r AS (SELECT transition, delta_us, "
        "  row_number() OVER (PARTITION BY transition "
        "    ORDER BY delta_us, user_id) AS rn, "
        "  COUNT(*) OVER (PARTITION BY transition) AS n FROM d) "
        "SELECT transition, CAST(MAX(n) AS BIGINT) AS n_users, "
        "CAST(MIN(delta_us) AS BIGINT) AS min_us, "
        "CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN delta_us END) "
        "  AS BIGINT) AS median_us, "
        "CAST(MAX(CASE WHEN rn = least(n, greatest(1, (9 * (n + 1)) // 10)) "
        "  THEN delta_us END) AS BIGINT) AS p90_us, "
        "CAST(MAX(delta_us) AS BIGINT) AS max_us "
        "FROM r GROUP BY 1"
    ),
)
def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for each funnel transition —
    x_funnel_conversion tells you HOW MANY users advance; this tells
    you HOW LONG the advance takes (min / exact lower-median / exact
    p90 / max, microseconds), the numbers an activation team actually
    stares at.  Quantiles are EXACT order statistics at explicit ranks
    (median at (n+1) div 2, p90 at clamp(9(n+1) div 10)), not an
    approximate percentile sketch, with a (delta, user) tie-break so
    both engines pick identical rows.

    Scale shape: the stage anchors reuse x_funnel_conversion's
    shrinking aggregate-join chain (hash aggregates on user_id, AQE
    broadcasts the later joins); the rank window partitions by
    transition over already-stage-sized rows.  All integer micros —
    positive, so floor-div and DIV agree."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )
    d1 = s2.select(
        F.lit("view->click").alias("transition"),
        "user_id",
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("delta_us"),
    )
    d2 = s3.select(
        F.lit("click->purchase").alias("transition"),
        "user_id",
        (F.unix_micros("t3") - F.unix_micros("t2")).alias("delta_us"),
    )
    d = d1.unionByName(d2)
    from pyspark.sql import Window

    byt = Window.partitionBy("transition")
    r = d.select(
        "transition",
        "delta_us",
        F.row_number()
        .over(byt.orderBy("delta_us", "user_id"))
        .alias("rn"),
        F.count("*").over(byt).alias("n"),
    )
    return r.groupBy("transition").agg(
        F.max("n").cast("long").alias("n_users"),
        F.min("delta_us").cast("long").alias("min_us"),
        F.max(
            F.expr("CASE WHEN rn = (n + 1) DIV 2 THEN delta_us END")
        ).cast("long").alias("median_us"),
        F.max(
            F.expr(
                "CASE WHEN rn = least(n, greatest(1, (9 * (n + 1)) DIV 10)) "
                "THEN delta_us END"
            )
        ).cast("long").alias("p90_us"),
        F.max("delta_us").cast("long").alias("max_us"),
    )


# -- sample-ratio-mismatch guardrail -------------------------------------


@query(
    "x_stats_srm",
    category="stats_ml",
    oracle=(
        f"WITH e AS (SELECT event_type, (user_id * {KNUTH}) % 2 AS variant "
        "           FROM events), "
        "m AS (SELECT event_type, "
        "  CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "    AS obs_a, "
        "  CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "    AS obs_b "
        "  FROM e GROUP BY 1) "
        "SELECT event_type, obs_a, obs_b, "
        "CAST(CAST(1000000 AS HUGEINT) * (obs_a - obs_b) * (obs_a - obs_b) "
        "  // (obs_a + obs_b) AS BIGINT) AS chi2_micro, "
        "CAST((CAST(1000000 AS HUGEINT) * (obs_a - obs_b) * (obs_a - obs_b) "
        "  // (obs_a + obs_b)) >= 3841459 AS BOOLEAN) AS srm_alarm "
        "FROM m"
    ),
)
def stats_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the A/B assignment
    x_stats_abtest reads: under a healthy 50/50 hash split the
    one-degree chi-square statistic (obs_a - obs_b)^2 / n stays small;
    chi2 >= 3.841459 (p < 0.05) flags a broken randomizer, lossy
    logging, or a variant-correlated filter — the first dashboard an
    experimentation platform checks before believing any t-stat.

    Exactness: counts are exact bigints off ONE conditional aggregate
    pass (the abtest single-fact-pass shape); the statistic is held as
    an integer in MICRO units via a non-negative floor division, and
    the alarm compares against the 3.841459 critical value in the same
    micro units — no float anywhere.  The 1e6 * delta^2 mid-product
    routes through DECIMAL(38,0)/HUGEINT (the x_basket_lift
    discipline): a BROKEN randomizer — the very case this alarm exists
    for — makes delta ~ n, and 1e6 * delta^2 passes int64 already at
    delta > 3e6 rows.  The divided-out result is <= 1e6 * n, int64 to
    ~9e12 rows per type.

    Scale shape: one fact-scan hash aggregate, |types| rows out."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("user_id") * KNUTH) % 2).alias("variant"),
    )
    m = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("obs_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("obs_b"),
    )
    from ..functions.determinism import srm_chi2_micro

    chi2 = srm_chi2_micro()
    return m.select(
        "event_type",
        "obs_a",
        "obs_b",
        chi2.alias("chi2_micro"),
        (chi2 >= 3_841_459).alias("srm_alarm"),
    )


# -- leave-one-out target encoding ---------------------------------------


@query(
    "x_feature_target_enc",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT event_id, event_type, "
        "  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "g AS (SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(cents) AS BIGINT) AS s FROM e GROUP BY 1, 2) "
        "SELECT e.event_id, e.event_type, e.hr, "
        "CASE WHEN g.n > 1 THEN (g.s - e.cents) // (g.n - 1) END "
        "  AS loo_enc_cents, "
        "g.n AS level_n "
        "FROM e JOIN g ON e.event_type = g.event_type AND e.hr = g.hr"
    ),
)
def feature_target_enc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the (event_type, hour) feature
    level against value-cents — the categorical-feature trick every
    tabular training pipeline uses (CatBoost's core idea): each row's
    feature becomes the mean target of its level EXCLUDING the row
    itself, killing the self-leakage that makes naive target encoding
    overfit.  Singleton levels get NULL identically on both engines
    (the honest answer; production backfills with the global prior).

    Exactness: level sums/counts are exact bigints off ONE aggregate;
    the encoding (s - own) / (n - 1) is a floor division of
    NON-NEGATIVE cents (value >= 0 in this corpus), so // and DIV
    agree and the output is integer cents — no float path at all.

    Scale shape: one hash aggregate to the |types| x 24 level grid,
    broadcast back onto the fact rows — the encode pass touches each
    row once with zero extra shuffle; output is row-grain, as a
    feature materialization must be."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    g = e.groupBy("event_type", "hr").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    return e.join(F.broadcast(g), ["event_type", "hr"]).select(
        "event_id",
        "event_type",
        "hr",
        F.expr(
            "CASE WHEN n > 1 THEN (s - cents) DIV (n - 1) END"
        ).alias("loo_enc_cents"),
        F.col("n").alias("level_n"),
    )


# -- regression metrics (exact integer SSE / MAE / R^2) ------------------


@query(
    "x_eval_regression",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT event_id, event_type, "
        "  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "g AS (SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(cents) AS BIGINT) AS s FROM e GROUP BY 1, 2), "
        "p AS (SELECT e.event_type, e.cents, "
        "  (g.s - e.cents) // (g.n - 1) AS pred "
        "  FROM e JOIN g ON e.event_type = g.event_type AND e.hr = g.hr "
        "  WHERE g.n > 1), "
        "t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(cents) AS BIGINT) AS s, "
        "  CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2, "
        "  CAST(SUM(CAST(cents - pred AS HUGEINT) * (cents - pred)) "
        "    AS HUGEINT) AS sse, "
        "  CAST(SUM(abs(cents - pred)) AS BIGINT) AS sae "
        "  FROM p GROUP BY 1) "
        "SELECT event_type, n, CAST(sse AS BIGINT) AS sse, sae, "
        "sae // n AS mae_cents, "
        "CASE WHEN s2 - CAST(s AS HUGEINT) * s // n > 0 THEN "
        "  1000000 - CAST(1000000 * sse "
        "    // (s2 - CAST(s AS HUGEINT) * s // n) AS BIGINT) END AS r2_micro "
        "FROM t"
    ),
)
def eval_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression scorecard (SSE / MAE / R^2) for the leave-one-out
    target encoder used as a value predictor — the regression half of
    the eval suite beside x_eval_classification.  The predictor is
    x_feature_target_enc's integer-cents encoding, so every residual
    is an EXACT integer and the scorecard needs no float sums (a float
    SSE would be partition-order-dependent; this one is
    order-independent by construction).

    Exactness: residual squares and the raw second moment route
    through DECIMAL(38,0)/HUGEINT (cents^2 passes int64 at warehouse
    row counts); MAE and the unexplained-variance ratio are
    NON-NEGATIVE floor divisions (SST >= 0, SSE >= 0), and R^2 =
    1e6 - unexplained_micro is derived by exact subtraction AFTER the
    division so a worse-than-mean predictor goes negative identically
    in both engines.  SST uses the one-pass identity
    s2 - s^2/n in the same integer space.

    Scale shape: the encode pass is x_feature_target_enc's broadcast
    level grid; the scorecard is ONE hash aggregate over row-grain
    residuals, |types| rows out."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    g = e.groupBy("event_type", "hr").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    p = (
        e.join(F.broadcast(g), ["event_type", "hr"])
        .filter(F.col("n") > 1)
        .select(
            "event_type",
            "cents",
            F.expr("(s - cents) DIV (n - 1)").alias("pred"),
        )
    )
    t = p.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("s2"),
        F.sum(
            F.expr("CAST(cents - pred AS DECIMAL(38,0)) * (cents - pred)")
        ).alias("sse"),
        F.sum(F.abs(F.col("cents") - F.col("pred"))).cast("long").alias("sae"),
    )
    return t.select(
        "event_type",
        "n",
        F.col("sse").cast("long").alias("sse"),
        "sae",
        F.expr("sae DIV n").alias("mae_cents"),
        # SST = 0 (a type whose cents are constant) would be an ANSI
        # divide-by-zero crash, not a wrong number — R^2 is undefined
        # there, NULL in both engines (the x_eval_auc guard convention)
        F.expr(
            "CASE WHEN s2 - CAST(s AS DECIMAL(38,0)) * s DIV n > 0 THEN "
            "1000000 - CAST(1000000 * sse "
            "DIV (s2 - CAST(s AS DECIMAL(38,0)) * s DIV n) AS BIGINT) END"
        ).alias("r2_micro"),
    )


# -- user-journey transition matrix --------------------------------------


@query(
    "x_path_transitions",
    category="stats_ml",
    oracle=(
        "WITH o AS (SELECT user_id, event_type, "
        "  lag(event_type) OVER (PARTITION BY user_id "
        "    ORDER BY ts, event_id) AS prev_type "
        "  FROM events), "
        "t AS (SELECT prev_type AS src, event_type AS dst, "
        "  CAST(COUNT(*) AS BIGINT) AS cnt FROM o "
        "  WHERE prev_type IS NOT NULL GROUP BY 1, 2), "
        "s AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_total "
        "  FROM t GROUP BY 1) "
        "SELECT t.src, t.dst, t.cnt, s.out_total, "
        "1000000 * t.cnt // s.out_total AS prob_ppm "
        "FROM t JOIN s USING (src)"
    ),
)
def path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event journeys
    — P(next event type | current), the 'what do users do after X'
    model behind path analysis, next-action prediction, and journey
    Sankey charts.  Consecutive-event pairs come from ONE lag window
    per user ordered by (ts, event_id) — a total order, so both
    engines pair identical neighbors even under timestamp ties.

    Scale shape: the window shuffles once on user_id (each user's
    history sorts locally — bounded by per-user activity, never global
    row count); the transition rollup is a hash aggregate to the
    |types|^2 grid and the row-probability join touches |types|^2
    rows.  Counts and ppm floor divisions only — fully hash-checkable."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    t = (
        o.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    s = t.groupBy("src").agg(F.sum("cnt").cast("long").alias("out_total"))
    return t.join(F.broadcast(s), "src").select(
        "src",
        "dst",
        "cnt",
        "out_total",
        F.expr("1000000 * cnt DIV out_total").alias("prob_ppm"),
    )


# -- experiment power / sample-size calculator ---------------------------

# Standard normal quantiles shared as exact literals by both engines:
# z_{0.975} (two-sided alpha = 5%) and z_{0.80} (80% power).
_POWER_Z_ALPHA = 1.959964
_POWER_Z_BETA = 0.841621
_POWER_MDE_REL = 0.01  # minimum detectable effect: 1% of the mean


@query(
    "x_stats_power",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT event_type, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(cents) AS BIGINT) AS s, "
        "  CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) "
        "    AS s2 FROM e GROUP BY 1 HAVING COUNT(*) >= 2), "
        "d AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, "
        "  CAST(s AS DOUBLE) AS sd, CAST(CAST(s2 AS BIGINT) AS DOUBLE) "
        "    AS s2d FROM m) "
        "SELECT event_type, n, sd / nd AS mean_cents, "
        "(s2d - sd * sd / nd) / (nd - 1) AS var_cents2, "
        f"CAST(ceil(2 * ({_POWER_Z_ALPHA} + {_POWER_Z_BETA}) "
        f"  * ({_POWER_Z_ALPHA} + {_POWER_Z_BETA}) "
        "  * ((s2d - sd * sd / nd) / (nd - 1)) "
        f"  / (({_POWER_MDE_REL} * sd / nd) * ({_POWER_MDE_REL} * sd / nd))) "
        "  AS BIGINT) AS n_required_per_arm "
        "FROM d"
    ),
)
def stats_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric sample-size calculator — how many users per arm an
    A/B test needs to detect a 1% lift at alpha=5% / 80% power,
    n = 2 (z_a + z_b)^2 sigma^2 / delta^2 — the question every
    experiment review asks BEFORE x_stats_abtest reads the result and
    x_stats_srm audits the split (this key completes that trio).

    Determinism: count/sum/sum-of-squares are exact integers off ONE
    aggregate pass (squares through DECIMAL(38,0) — cents^2 passes
    int64 at warehouse row counts, then collapse to BIGINT before the
    double cast so the conversion is the correctly-rounded int64 path,
    never the double-rounding HUGEINT one); mean, variance, and the
    power formula are the identical IEEE tree with shared z-quantile
    literals, and ceil of bit-identical doubles is bit-identical.

    Scale shape: one fact-scan hash aggregate, |types| rows out."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    m = (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
            F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("long").cast("double")
    mean = sd / nd
    var = (s2d - sd * sd / nd) / (nd - 1)
    z = _POWER_Z_ALPHA + _POWER_Z_BETA
    delta = _POWER_MDE_REL * sd / nd
    return m.select(
        "event_type",
        "n",
        mean.alias("mean_cents"),
        var.alias("var_cents2"),
        F.ceil(2 * z * z * var / (delta * delta)).alias("n_required_per_arm"),
    )


# -- regression stump (variance-reduction split search) ------------------


@query(
    "x_ml_var_stump",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        "  CAST(hour(ts) AS BIGINT) AS hour, "
        "  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow, "
        "  LEAST(CAST(FLOOR(value / 20) AS BIGINT), 9) AS vbucket "
        "  FROM events), "
        "f AS (SELECT 'hour' AS feature, hour AS bin, cents FROM ev "
        "  UNION ALL SELECT 'dow', dow, cents FROM ev "
        "  UNION ALL SELECT 'vbucket', vbucket, cents FROM ev), "
        "g AS (SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(cents) AS BIGINT) AS s FROM f GROUP BY 1, 2), "
        "c AS (SELECT feature, bin, "
        "  CAST(SUM(n) OVER w AS BIGINT) AS nl, "
        "  CAST(SUM(s) OVER w AS BIGINT) AS sl "
        "  FROM g WINDOW w AS (PARTITION BY feature ORDER BY bin "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        "t AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS nt, "
        "  CAST(SUM(s) AS BIGINT) AS st FROM g GROUP BY 1), "
        "cand AS (SELECT c.feature, c.bin AS threshold, nl, sl, "
        "  t.nt - nl AS nr, t.st - sl AS sr "
        "  FROM c JOIN t USING (feature) "
        "  WHERE nl > 0 AND t.nt - nl > 0), "
        "sc AS (SELECT feature, threshold, nl, sl, nr, sr, "
        "  (CAST(sl AS HUGEINT) * nr - CAST(sr AS HUGEINT) * nl) "
        "  * (CAST(sl AS HUGEINT) * nr - CAST(sr AS HUGEINT) * nl) "
        "  // (CAST(nl AS HUGEINT) * nr) AS score FROM cand) "
        "SELECT feature, threshold, nl AS n_left, sl AS sum_left, "
        "  nr AS n_right, sr AS sum_right, "
        "  sl // nl AS mean_left_cents, sr // nr AS mean_right_cents "
        "FROM (SELECT *, row_number() OVER (ORDER BY score DESC, feature, "
        "  threshold) AS rn FROM sc) WHERE rn = 1"
    ),
)
def ml_var_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 REGRESSION tree training by exhaustive variance-
    reduction split search over the (hour, dow, value-bucket) feature
    grid against value-cents — the regression sibling of
    x_ml_gini_stump and the literal inner loop of gradient boosting
    (each GBDT round fits exactly this stump to residuals; rounds
    compose across jobs).  SSE reduction ranks splits by
    (sL*nR - sR*nL)^2 / (nL*nR) — the n-free form of the two-sample
    variance identity — so the search needs only the histogram's
    (count, sum) prefix pairs, never a second data pass.

    Exactness: the score lives in DECIMAL(38,0)/HUGEINT (d^2 reaches
    ~10^32 at this scale) and is ONLY used for ordering — exact
    integer comparison in both engines, (score DESC, feature,
    threshold) total order — while every EMITTED column is an int64
    count/sum or a non-negative cents floor division (the stump's
    leaf predictions), keeping the output off the HUGEINT->double
    conversion path entirely.

    Scale shape: ONE (feature, bin) histogram aggregate over the fact
    stream (map-side partials; grid is 24+7+10 bins), prefix sums and
    the split search on the bounded grid — the LightGBM
    histogram-builder shape as a declarative plan."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.hour("ts").cast("long").alias("hour"),
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow"),
        F.least(
            F.floor(F.col("value") / 20).cast("long"), F.lit(9).cast("long")
        ).alias("vbucket"),
    )
    f = None
    for feat in ("hour", "dow", "vbucket"):
        part = ev.select(
            F.lit(feat).alias("feature"),
            F.col(feat).alias("bin"),
            "cents",
        )
        f = part if f is None else f.unionByName(part)
    g = f.groupBy("feature", "bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "feature",
        "bin",
        F.sum("n").over(w).cast("long").alias("nl"),
        F.sum("s").over(w).cast("long").alias("sl"),
    )
    t = g.groupBy("feature").agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )
    cand = (
        c.join(F.broadcast(t), "feature")
        .filter((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0))
        .select(
            "feature",
            F.col("bin").alias("threshold"),
            "nl",
            "sl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            (F.col("st") - F.col("sl")).alias("sr"),
        )
    )
    sc = cand.select(
        "*",
        F.expr(
            "(CAST(sl AS DECIMAL(38,0)) * nr - CAST(sr AS DECIMAL(38,0)) * nl) "
            "* (CAST(sl AS DECIMAL(38,0)) * nr - CAST(sr AS DECIMAL(38,0)) * nl) "
            "DIV (CAST(nl AS DECIMAL(38,0)) * nr)"
        ).alias("score"),
    )
    rn = F.row_number().over(
        Window.orderBy(F.col("score").desc(), "feature", "threshold")
    )
    return (
        sc.select("*", rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "feature",
            "threshold",
            F.col("nl").alias("n_left"),
            F.col("sl").alias("sum_left"),
            F.col("nr").alias("n_right"),
            F.col("sr").alias("sum_right"),
            F.expr("sl DIV nl").alias("mean_left_cents"),
            F.expr("sr DIV nr").alias("mean_right_cents"),
        )
    )


# -- one gradient-boosting round (stump -> residuals -> stump) -----------

_BOOST_OFF = 100_000  # residual offset keeping round-2 sums non-negative


def _stump_cte_sql(src: str, sfx: str, cents: str) -> str:
    """CTE chain for one histogram split search over ``src`` (which
    must expose hour/dow/vbucket plus the ``cents`` target), ending in
    ``best{sfx}`` = the single winning split with leaf sums.  Shared
    by the x_ml_var_stump twin logic and both x_ml_boost_round rounds
    (score is offset-invariant: replacing s by s + C*n leaves
    sL*nR - sR*nL unchanged, so the same chain ranks residual
    histograms correctly)."""
    return (
        f"f{sfx} AS (SELECT 'hour' AS feature, hour AS bin, {cents} AS c "
        f"  FROM {src} "
        f"  UNION ALL SELECT 'dow', dow, {cents} FROM {src} "
        f"  UNION ALL SELECT 'vbucket', vbucket, {cents} FROM {src}), "
        f"g{sfx} AS (SELECT feature, bin, CAST(COUNT(*) AS BIGINT) AS n, "
        f"  CAST(SUM(c) AS BIGINT) AS s FROM f{sfx} GROUP BY 1, 2), "
        f"c{sfx} AS (SELECT feature, bin, "
        "  CAST(SUM(n) OVER w AS BIGINT) AS nl, "
        "  CAST(SUM(s) OVER w AS BIGINT) AS sl "
        f"  FROM g{sfx} WINDOW w AS (PARTITION BY feature ORDER BY bin "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        f"t{sfx} AS (SELECT feature, CAST(SUM(n) AS BIGINT) AS nt, "
        f"  CAST(SUM(s) AS BIGINT) AS st FROM g{sfx} GROUP BY 1), "
        f"sc{sfx} AS (SELECT c.feature, c.bin AS threshold, nl, sl, "
        "  t.nt - nl AS nr, t.st - sl AS sr, "
        "  (CAST(sl AS HUGEINT) * (t.nt - nl) "
        "    - CAST(t.st - sl AS HUGEINT) * nl) "
        "  * (CAST(sl AS HUGEINT) * (t.nt - nl) "
        "    - CAST(t.st - sl AS HUGEINT) * nl) "
        "  // (CAST(nl AS HUGEINT) * (t.nt - nl)) AS score "
        f"  FROM c{sfx} c JOIN t{sfx} t USING (feature) "
        "  WHERE nl > 0 AND t.nt - nl > 0), "
        f"best{sfx} AS (SELECT feature, threshold, nl, sl, nr, sr FROM ("
        "  SELECT *, row_number() OVER (ORDER BY score DESC, feature, "
        f"    threshold) AS rn FROM sc{sfx}) WHERE rn = 1)"
    )


@query(
    "x_ml_boost_round",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        "  CAST(hour(ts) AS BIGINT) AS hour, "
        "  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow, "
        "  LEAST(CAST(FLOOR(value / 20) AS BIGINT), 9) AS vbucket "
        "  FROM events), "
        + _stump_cte_sql("ev", "1", "cents")
        + ", ev2 AS (SELECT ev.hour, ev.dow, ev.vbucket, "
        "  ev.cents - (CASE WHEN (CASE b.feature WHEN 'hour' THEN ev.hour "
        "      WHEN 'dow' THEN ev.dow ELSE ev.vbucket END) <= b.threshold "
        f"    THEN b.sl // b.nl ELSE b.sr // b.nr END) + {_BOOST_OFF} "
        "    AS r_off "
        "  FROM ev CROSS JOIN best1 b), "
        + _stump_cte_sql("ev2", "2", "r_off")
        + " SELECT 1 AS round, feature, threshold, nl AS n_left, "
        "  nr AS n_right, sl // nl AS leaf_left_cents, "
        "  sr // nr AS leaf_right_cents FROM best1 "
        "UNION ALL SELECT 2, feature, threshold, nl, nr, "
        f"  sl // nl - {_BOOST_OFF}, sr // nr - {_BOOST_OFF} FROM best2"
    ),
)
def ml_boost_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full gradient-boosting round, declaratively: fit the
    variance-reduction stump (x_ml_var_stump's search), subtract its
    leaf predictions to form residuals, fit a SECOND stump to those
    residuals — all one dataflow with no driver round-trip, proving
    the GBDT composition story the stump docstrings promise (round 3+
    repeats the same chain).

    Exactness: residuals are shifted by a constant offset so every
    round-2 sum stays NON-NEGATIVE (floor-div and DIV agree), which is
    free because the split score (sL*nR - sR*nL)^2/(nL*nR) is
    OFFSET-INVARIANT — replacing s with s + C*n cancels exactly — so
    round 2 ranks true residual splits; leaf values un-shift by the
    same constant.  Scores stay in DECIMAL(38,0)/HUGEINT for ordering
    only; all emitted columns are int64.

    Scale shape: two histogram aggregates over the fact stream with a
    1-row broadcast (the winning split) between them — each round is
    x_ml_var_stump's one-pass budget, and rounds chain linearly."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.hour("ts").cast("long").alias("hour"),
        F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow"),
        F.least(
            F.floor(F.col("value") / 20).cast("long"), F.lit(9).cast("long")
        ).alias("vbucket"),
    )

    from pyspark.sql import Window

    def split_search(src: DataFrame, cents_col: str) -> DataFrame:
        # r13 (guide §1.2/§2.3 — don't re-read what one pass can emit):
        # the former 3-branch union scanned/recomputed `src` once PER
        # FEATURE (3 scans of events in round 1, 3 rebuilds of the
        # residual projection in round 2); one posexplode emits the same
        # (feature, bin, c) rows from a single pass.  Row stream and the
        # downstream aggregate are unchanged.
        f = src.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(feat).alias("feature"),
                            F.col(feat).alias("bin"),
                        )
                        for feat in ("hour", "dow", "vbucket")
                    ]
                )
            ).alias("fb"),
            F.col(cents_col).alias("c"),
        ).select("fb.feature", "fb.bin", "c")
        g = f.groupBy("feature", "bin").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
        )
        w = (
            Window.partitionBy("feature")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c = g.select(
            "feature",
            "bin",
            F.sum("n").over(w).cast("long").alias("nl"),
            F.sum("s").over(w).cast("long").alias("sl"),
        )
        t = g.groupBy("feature").agg(
            F.sum("n").cast("long").alias("nt"),
            F.sum("s").cast("long").alias("st"),
        )
        sc = (
            c.join(F.broadcast(t), "feature")
            .filter((F.col("nl") > 0) & (F.col("nt") - F.col("nl") > 0))
            .select(
                "feature",
                F.col("bin").alias("threshold"),
                "nl",
                "sl",
                (F.col("nt") - F.col("nl")).alias("nr"),
                (F.col("st") - F.col("sl")).alias("sr"),
            )
            .select(
                "*",
                F.expr(
                    "(CAST(sl AS DECIMAL(38,0)) * nr "
                    "- CAST(sr AS DECIMAL(38,0)) * nl) "
                    "* (CAST(sl AS DECIMAL(38,0)) * nr "
                    "- CAST(sr AS DECIMAL(38,0)) * nl) "
                    "DIV (CAST(nl AS DECIMAL(38,0)) * nr)"
                ).alias("score"),
            )
        )
        rn = F.row_number().over(
            Window.orderBy(F.col("score").desc(), "feature", "threshold")
        )
        return (
            sc.select("*", rn.alias("rn"))
            .filter(F.col("rn") == 1)
            .select("feature", "threshold", "nl", "sl", "nr", "sr")
        )

    best1 = split_search(ev, "cents")
    feat_val = F.expr(
        "CASE feature WHEN 'hour' THEN hour WHEN 'dow' THEN dow "
        "ELSE vbucket END"
    )
    pred = F.when(
        feat_val <= F.col("threshold"), F.expr("sl DIV nl")
    ).otherwise(F.expr("sr DIV nr"))
    ev2 = ev.crossJoin(F.broadcast(best1)).select(
        "hour",
        "dow",
        "vbucket",
        (F.col("cents") - pred + _BOOST_OFF).alias("r_off"),
    )
    best2 = split_search(ev2, "r_off")
    out1 = best1.select(
        F.lit(1).alias("round"),
        "feature",
        "threshold",
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        F.expr("sl DIV nl").alias("leaf_left_cents"),
        F.expr("sr DIV nr").alias("leaf_right_cents"),
    )
    out2 = best2.select(
        F.lit(2).alias("round"),
        "feature",
        "threshold",
        F.col("nl").alias("n_left"),
        F.col("nr").alias("n_right"),
        (F.expr("sl DIV nl") - _BOOST_OFF).alias("leaf_left_cents"),
        (F.expr("sr DIV nr") - _BOOST_OFF).alias("leaf_right_cents"),
    )
    return out1.unionByName(out2)


# -- delete-one-bucket jackknife for ratio metrics -----------------------

_JK_B = 32  # user buckets; delete-one-bucket jackknife replicates


@query(
    "x_stats_jackknife",
    category="stats_ml",
    oracle=(
        "WITH u AS (SELECT event_type, user_id, "
        f"  (user_id * {KNUTH}) % {_JK_B} AS b, "
        "  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "    AS BIGINT) AS uc "
        "  FROM events GROUP BY 1, 2, 3), "
        "bk AS (SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS n_b, "
        "  CAST(SUM(uc) AS BIGINT) AS s_b FROM u GROUP BY 1, 2), "
        "t AS (SELECT event_type, CAST(SUM(n_b) AS BIGINT) AS n, "
        "  CAST(SUM(s_b) AS BIGINT) AS s FROM bk GROUP BY 1), "
        "r AS (SELECT bk.event_type, bk.b, "
        "  CAST(round(100.0 * CAST(t.s - bk.s_b AS DOUBLE) "
        "    / CAST(t.n - bk.n_b AS DOUBLE)) AS BIGINT) AS x "
        "  FROM bk JOIN t USING (event_type) WHERE t.n - bk.n_b > 0), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nb, "
        "  CAST(SUM(x) AS BIGINT) AS sx, "
        "  CAST(SUM(x * x) AS BIGINT) AS sxx FROM r GROUP BY 1) "
        "SELECT m.event_type, t.n AS n_users, t.s AS sum_cents, "
        "CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE) AS ratio_cents, "
        "m.nb * m.sxx - m.sx * m.sx AS jk_var_num, "
        "sqrt(CAST((m.nb - 1) * (m.nb * m.sxx - m.sx * m.sx) AS DOUBLE)) "
        "  / (CAST(m.nb AS DOUBLE) * 100.0) AS jk_se_cents "
        "FROM m JOIN t USING (event_type)"
    ),
)
def stats_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a RATIO metric
    (revenue cents per active user, per event type) — the
    experimentation-platform standard for ratio metrics, where the
    naive per-row variance is simply wrong because users, not events,
    are the independent unit.  Users hash into 32 buckets; replicate b
    recomputes the ratio with bucket b deleted — (S - s_b)/(N - n_b),
    one number per bucket off ONE bucket-level aggregate, never a
    re-scan — and SE = sqrt((B-1)/B * sum (R_b - R_bar)^2).

    Determinism: each replicate ratio is one IEEE division of exact
    int64s (bitwise stable) quantized to CENTI-CENTS (an exact integer
    both engines round identically), so the spread moments sum as
    exact bigints in any order — B*sxx - sx^2 stays under int64 by
    construction of the quantization — and the final sqrt is the
    IEEE-correctly-rounded function of an exactly-converted integer.
    No order-dependent float sum anywhere.

    Scale shape: user rollup (hash aggregate), bucket rollup (B x
    |types| rows), totals joined back broadcast — the replicate table
    never exceeds B rows per type at any corpus size."""
    u = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            F.pmod(F.col("user_id") * KNUTH, F.lit(_JK_B)).alias("b"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("event_type", "user_id", "b")
        .agg(F.sum("cents").cast("long").alias("uc"))
    )
    bk = u.groupBy("event_type", "b").agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum("uc").cast("long").alias("s_b"),
    )
    t = bk.groupBy("event_type").agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("s_b").cast("long").alias("s"),
    )
    r = (
        bk.join(F.broadcast(t), "event_type")
        .filter(F.col("n") - F.col("n_b") > 0)
        .select(
            "event_type",
            "b",
            F.round(
                100.0
                * (F.col("s") - F.col("s_b")).cast("double")
                / (F.col("n") - F.col("n_b")).cast("double")
            )
            .cast("long")
            .alias("x"),
        )
    )
    m = r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("nb"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    var_num = F.col("nb") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.join(F.broadcast(t), "event_type").select(
        "event_type",
        F.col("n").alias("n_users"),
        F.col("s").alias("sum_cents"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "ratio_cents"
        ),
        var_num.alias("jk_var_num"),
        (
            F.sqrt(((F.col("nb") - 1) * var_num).cast("double"))
            / (F.col("nb").cast("double") * 100.0)
        ).alias("jk_se_cents"),
    )


# -- rank-based quantile normalization -----------------------------------


@query(
    "x_feature_quantile_norm",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT event_id, event_type, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "r AS (SELECT event_id, event_type, cents, "
        "  CAST(rank() OVER (PARTITION BY event_type ORDER BY cents) "
        "    AS BIGINT) AS rk, "
        "  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n "
        "  FROM e) "
        "SELECT event_id, event_type, cents, rk, "
        "CASE WHEN n > 1 THEN 1000000 * (rk - 1) // (n - 1) ELSE 0 END "
        "  AS qnorm_ppm "
        "FROM r"
    ),
)
def feature_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of value within each event
    type — percent_rank as an EXACT ppm integer, the distribution-free
    feature transform (robust to outliers and unit changes) tabular
    pipelines apply before mixing heterogeneous metrics.  Ties share a
    rank (RANK, not ROW_NUMBER), so equal inputs get equal outputs —
    the property that makes the transform a function of the value, and
    what makes it hash-checkable without a row tie-break.

    Scale shape: ONE rank window per type (sort bounded by the type
    partition), row-grain output as a feature materialization must be;
    the ppm division is non-negative so floor-div and DIV agree."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    byt = Window.partitionBy("event_type")
    r = e.select(
        "event_id",
        "event_type",
        "cents",
        F.rank().over(byt.orderBy("cents")).cast("long").alias("rk"),
        F.count("*").over(byt).cast("long").alias("n"),
    )
    return r.select(
        "event_id",
        "event_type",
        "cents",
        "rk",
        F.expr(
            "CASE WHEN n > 1 THEN 1000000 * (rk - 1) DIV (n - 1) "
            "ELSE 0 END"
        ).alias("qnorm_ppm"),
    )


# -- CUPED variance reduction --------------------------------------------


@query(
    "x_stats_cuped",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT event_type, user_id, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        "  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day "
        "  FROM events), "
        "b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev), "
        "u AS (SELECT event_type, user_id, "
        "  CAST(COALESCE(SUM(cents) FILTER (WHERE day <= mid), 0) "
        "    AS BIGINT) AS x, "
        "  CAST(COALESCE(SUM(cents) FILTER (WHERE day > mid), 0) "
        "    AS BIGINT) AS y "
        "  FROM ev CROSS JOIN b GROUP BY 1, 2), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, "
        "  CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx, "
        "  CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy, "
        "  CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy "
        "  FROM u GROUP BY 1 HAVING COUNT(*) >= 2), "
        "d AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, "
        "  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, "
        "  CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd, "
        "  CAST(syy AS DOUBLE) AS syyd FROM m) "
        "SELECT event_type, n, "
        "(nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS theta, "
        "(nd * syyd - syd * syd) / (nd * (nd - 1)) AS var_y, "
        "((nd * syyd - syd * syd) - (nd * sxyd - sxd * syd) "
        "  * (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) "
        "  / (nd * (nd - 1)) AS var_adj, "
        "((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)) "
        "  / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) AS rho2 "
        "FROM d WHERE nd * sxxd - sxd * sxd > 0 "
        "AND nd * syyd - syd * syd > 0"
    ),
)
def stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM'13)
    per event type: use each user's PRE-period spend (first calendar
    half, the x_stats_ks_drift midpoint split) as the control
    covariate for their experiment-period spend — theta = cov(Y,X) /
    var(X), adjusted variance var(Y) - cov^2/var(X), and rho^2 = the
    fraction of metric variance the covariate removes, which is
    exactly the sample-size saving x_stats_power would bank.  The
    modern experimentation stack's biggest single win, computed here
    at warehouse scale.

    Determinism: per-user pre/post sums are exact bigints (user-level
    rollup — users, not events, are the independent unit, the
    x_stats_jackknife discipline), the five cross-moments are exact
    int64 sums off ONE aggregate, and every output is the identical
    int64->double IEEE expression tree in both engines.  Degenerate
    groups (zero variance either side, n < 2) are filtered by the
    same guard in both.

    Scale shape: one user-grain rollup (hash aggregate), one moment
    aggregate, |types| rows out; the calendar midpoint is a 1-row
    broadcast."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    b = ev.agg(
        F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid")
    )
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("event_type", "user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("day") <= F.col("mid"), F.col("cents"))),
                F.lit(0),
            )
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("day") > F.col("mid"), F.col("cents"))),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
    )
    x, y = F.col("x"), F.col("y")
    m = (
        u.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(x).cast("long").alias("sx"),
            F.sum(y).cast("long").alias("sy"),
            # per-user period cents squared passes int64 PER ROW for a
            # ~3e9-cent whale user — DECIMAL(38,0)/HUGEINT routed
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
            F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    sxyd = F.col("sxy").cast("double")
    syyd = F.col("syy").cast("double")
    vx = nd * sxxd - sxd * sxd
    vy = nd * syyd - syd * syd
    cov = nd * sxyd - sxd * syd
    return m.filter((vx > 0) & (vy > 0)).select(
        "event_type",
        "n",
        (cov / vx).alias("theta"),
        (vy / (nd * (nd - 1))).alias("var_y"),
        ((vy - cov * cov / vx) / (nd * (nd - 1))).alias("var_adj"),
        ((cov * cov) / (vx * vy)).alias("rho2"),
    )


# -- median-of-means robust estimator ------------------------------------

_MOM_B = 32  # estimator buckets


@query(
    "x_agg_median_of_means",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT event_type, "
        f"  (event_id * {KNUTH}) % {_MOM_B} AS b, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "bk AS (SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS n_b, "
        "  CAST(SUM(cents) AS BIGINT) AS s_b, "
        "  CAST(SUM(cents) AS BIGINT) // COUNT(*) AS mean_b "
        "  FROM e GROUP BY 1, 2), "
        "r AS (SELECT event_type, mean_b, "
        "  row_number() OVER (PARTITION BY event_type "
        "    ORDER BY mean_b, b) AS rn, "
        "  COUNT(*) OVER (PARTITION BY event_type) AS nb FROM bk), "
        "t AS (SELECT event_type, CAST(SUM(n_b) AS BIGINT) AS n, "
        "  CAST(SUM(s_b) AS BIGINT) AS s FROM bk GROUP BY 1) "
        "SELECT r.event_type, t.n, CAST(MAX(r.nb) AS BIGINT) AS n_buckets, "
        "CAST(MAX(CASE WHEN rn = (nb + 1) // 2 THEN mean_b END) AS BIGINT) "
        "  AS mom_cents, "
        "t.s // t.n AS mean_cents "
        "FROM r JOIN t USING (event_type) "
        "GROUP BY r.event_type, t.n, t.s"
    ),
)
def agg_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean estimator per event type: rows hash
    into 32 buckets, each bucket contributes its mean, the estimate is
    the MEDIAN of the bucket means — sub-Gaussian concentration under
    heavy tails where the plain mean is hostage to outliers (the
    robust-statistics workhorse; the plain mean rides along so the gap
    IS the outlier influence).  Completes the robust panel beside
    x_stats_mad (median/MAD outliers) and x_stats_jackknife (which
    reuses this same delete/bucket discipline for variance).

    Determinism: bucket assignment is the portable Knuth hash; bucket
    means are NON-NEGATIVE integer floor divisions of exact sums, so
    the (mean, bucket)-ordered median rank is total and integer-exact
    — no float anywhere.

    Scale shape: one (type, bucket) hash aggregate with map-side
    partials, a rank window over <= 32 rows per type, totals joined
    at |types| rows."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(F.col("event_id") * KNUTH, F.lit(_MOM_B)).alias("b"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    bk = e.groupBy("event_type", "b").agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum("cents").cast("long").alias("s_b"),
        F.expr("CAST(SUM(cents) AS BIGINT) DIV COUNT(*)").alias("mean_b"),
    )
    byt = Window.partitionBy("event_type")
    r = bk.select(
        "event_type",
        "mean_b",
        F.row_number()
        .over(byt.orderBy("mean_b", "b"))
        .alias("rn"),
        F.count("*").over(byt).alias("nb"),
    )
    t = bk.groupBy("event_type").agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("s_b").cast("long").alias("s"),
    )
    return (
        r.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "n", "s")
        .agg(
            F.max("nb").cast("long").alias("n_buckets"),
            F.max(
                F.expr("CASE WHEN rn = (nb + 1) DIV 2 THEN mean_b END")
            )
            .cast("long")
            .alias("mom_cents"),
        )
        .select(
            "event_type",
            "n",
            "n_buckets",
            "mom_cents",
            F.expr("s DIV n").alias("mean_cents"),
        )
    )


# -- inter-event burstiness ----------------------------------------------


@query(
    "x_time_burstiness",
    category="stats_ml",
    oracle=(
        "WITH o AS (SELECT event_type, "
        "  (epoch_us(CAST(ts AS TIMESTAMP)) "
        "  - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER ("
        "    PARTITION BY event_type ORDER BY ts, event_id)) "
        "  // 1000000 AS gap_s "
        "  FROM events), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(gap_s) AS BIGINT) AS s, "
        "  CAST(SUM(CAST(gap_s AS HUGEINT) * gap_s) AS HUGEINT) AS s2 "
        "  FROM o WHERE gap_s IS NOT NULL GROUP BY 1 "
        "  HAVING COUNT(*) >= 2), "
        "d AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, "
        "  CAST(s AS DOUBLE) AS sd, CAST(s2 AS DOUBLE) AS s2d, s FROM m) "
        "SELECT event_type, n, s AS sum_gap_s, "
        "sd / nd AS mean_gap_s, "
        "sqrt((s2d - sd * sd / nd) / (nd - 1)) AS sd_gap_s, "
        "(sqrt((s2d - sd * sd / nd) / (nd - 1)) - sd / nd) "
        "/ (sqrt((s2d - sd * sd / nd) / (nd - 1)) + sd / nd) "
        "  AS burstiness "
        "FROM d"
    ),
)
def time_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness coefficient B = (sigma - mu)/(sigma + mu)
    of inter-event gaps per type: -1 = metronome, 0 = Poisson, ->1 =
    bursty — the point-process diagnostic that says whether traffic
    smoothing, batching, or burst-aware capacity is the right lever,
    complementing x_time_autocorr (rhythm) and x_time_peaks (spikes).

    Determinism: gaps come from the (ts, event_id)-total-ordered lag
    window, floored to whole SECONDS (a non-negative integer division
    both engines share) so the squared-gap sum stays comfortably in
    int64 even on sparse corpora where micro-gaps overflow it; the
    int64->double conversions are correctly rounded and mean/sd/B are
    the identical IEEE tree, sqrt correctly rounded.

    Scale shape: one lag window per type + one moment aggregate,
    |types| rows out."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER ("
            "PARTITION BY event_type ORDER BY ts, event_id)) DIV 1000000"
        ).alias("gap_s"),
    )
    m = (
        o.filter(F.col("gap_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("gap_s").cast("long").alias("s"),
            # squared gaps sum past int64 at corpus row counts —
            # DECIMAL(38,0)/HUGEINT routed like every squared moment
            F.sum(F.expr("CAST(gap_s AS DECIMAL(38,0)) * gap_s")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("double")
    mean = sd / nd
    sdev = F.sqrt((s2d - sd * sd / nd) / (nd - 1))
    return m.select(
        "event_type",
        "n",
        F.col("s").alias("sum_gap_s"),
        mean.alias("mean_gap_s"),
        sdev.alias("sd_gap_s"),
        ((sdev - mean) / (sdev + mean)).alias("burstiness"),
    )


# -- winsorized mean -----------------------------------------------------


@query(
    "x_agg_winsorized_mean",
    category="stats_ml",
    oracle=(
        "WITH e AS (SELECT event_type, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "r AS (SELECT event_type, cents, "
        "  row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn, "
        "  COUNT(*) OVER (PARTITION BY event_type) AS n FROM e), "
        "lim AS (SELECT event_type, "
        "  CAST(MAX(CASE WHEN rn = greatest(1, (5 * n + 99) // 100) "
        "    THEN cents END) AS BIGINT) AS lo, "
        "  CAST(MAX(CASE WHEN rn = least(n, (95 * n) // 100 + 1) "
        "    THEN cents END) AS BIGINT) AS hi, "
        "  CAST(MAX(n) AS BIGINT) AS n FROM r GROUP BY 1) "
        "SELECT e.event_type, lim.n, lim.lo AS p5_cents, lim.hi AS p95_cents, "
        "CAST(SUM(least(greatest(e.cents, lim.lo), lim.hi)) AS BIGINT) "
        "  // lim.n AS winsorized_mean_cents, "
        "CAST(SUM(e.cents) AS BIGINT) // lim.n AS mean_cents "
        "FROM e JOIN lim USING (event_type) "
        "GROUP BY e.event_type, lim.n, lim.lo, lim.hi"
    ),
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean per event type: clamp values to the exact
    rank-based [p5, p95] order statistics, then average — the
    outlier-capped metric revenue dashboards quote when a single
    whale order would otherwise move the line; the plain mean rides
    along so the gap IS the tail influence (the x_agg_median_of_means
    presentation discipline, different estimator family: clamping vs
    bucketing).

    Determinism: the clamp bounds are EXACT order statistics at
    explicit integer ranks (ceil(5n/100) clamped to >= 1 and
    floor(95n/100)+1 clamped to <= n), clamping and the final means
    are all non-negative integer arithmetic — no float anywhere.

    Scale shape: one rank window per type, the bounds collapse to
    |types| rows joined back broadcast, one clamped aggregate pass."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    byt = Window.partitionBy("event_type")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(byt.orderBy("cents")).alias("rn"),
        F.count("*").over(byt).alias("n"),
    )
    lim = r.groupBy("event_type").agg(
        F.max(
            F.expr(
                "CASE WHEN rn = greatest(1, (5 * n + 99) DIV 100) "
                "THEN cents END"
            )
        )
        .cast("long")
        .alias("lo"),
        F.max(
            F.expr(
                "CASE WHEN rn = least(n, (95 * n) DIV 100 + 1) "
                "THEN cents END"
            )
        )
        .cast("long")
        .alias("hi"),
        F.max("n").cast("long").alias("n"),
    )
    return (
        e.join(F.broadcast(lim), "event_type")
        .groupBy("event_type", "n", F.col("lo").alias("p5_cents"),
                 F.col("hi").alias("p95_cents"))
        .agg(
            F.expr(
                "CAST(SUM(least(greatest(cents, lo), hi)) AS BIGINT) DIV n"
            ).alias("winsorized_mean_cents"),
            F.expr("CAST(SUM(cents) AS BIGINT) DIV n").alias("mean_cents"),
        )
        .select(
            "event_type",
            "n",
            "p5_cents",
            "p95_cents",
            "winsorized_mean_cents",
            "mean_cents",
        )
    )


# -- SAX symbolic series encoding ----------------------------------------

# N(0,1) quartile breakpoints for a 4-symbol alphabet (Lin et al. 2003)
_SAX_B1, _SAX_B2, _SAX_B3 = -0.6745, 0.0, 0.6745


@query(
    "x_time_sax",
    category="stats_ml",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) "
        "    AS BIGINT) AS hr, "
        "  CAST(100 * SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 "
        "    AS BIGINT)) // COUNT(*) AS BIGINT) AS hci "
        "  FROM events GROUP BY 1, 2), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS mh, "
        "  CAST(SUM(hci) AS BIGINT) AS s, "
        "  CAST(SUM(CAST(hci AS HUGEINT) * hci) AS HUGEINT) AS s2 "
        "  FROM h GROUP BY 1 "
        "  HAVING COUNT(*) >= 2), "
        "z AS (SELECT h.event_type, h.hr, h.hci, "
        "  (CAST(h.hci AS DOUBLE) - CAST(m.s AS DOUBLE) "
        "    / CAST(m.mh AS DOUBLE)) "
        "  / sqrt((CAST(m.s2 AS DOUBLE) - CAST(m.s AS DOUBLE) "
        "    * CAST(m.s AS DOUBLE) / CAST(m.mh AS DOUBLE)) "
        "    / (CAST(m.mh AS DOUBLE) - 1)) AS zd "
        "  FROM h JOIN m USING (event_type)), "
        "sym AS (SELECT event_type, hr, hr // 86400 AS day, "
        f"  CASE WHEN zd < {_SAX_B1} THEN 'a' "
        f"       WHEN zd < {_SAX_B2} THEN 'b' "
        f"       WHEN zd < {_SAX_B3} THEN 'c' ELSE 'd' END AS s "
        "  FROM z) "
        "SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n_hours, "
        "string_agg(s, '' ORDER BY hr) AS sax_word "
        "FROM sym GROUP BY 1, 2"
    ),
)
def time_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic encoding (Lin, Keogh et al., DMKD 2003) of each
    type's hourly revenue series: z-normalize the hourly means, map
    them through the N(0,1) quartile breakpoints to a 4-letter
    alphabet, and emit one WORD per (type, day) — the representation
    behind time-series motif discovery, anomaly grep ('find days that
    read like abba'), and whole-series indexing, here as a declarative
    plan.

    Determinism: hourly means are exact centi-cent integers (floor
    division of exact sums), per-type moments are exact int64 sums
    over those integers, the z-score is the identical int64->double
    IEEE tree, and breakpoint comparison of bit-identical doubles is
    bit-identical (a zero-variance series yields NaN z-scores, which
    both engines order above every breakpoint -> constant 'd' words);
    the day word concatenates symbols in exact hr order.

    Scale shape: hourly aggregate (map-side partials), |types|-row
    moment table broadcast back, word assembly groups |hours| rows by
    (type, day) — nothing row-grain leaves the first aggregate."""
    from pyspark.sql import Window  # noqa: F401  (uniform import style)

    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hr"),
        )
        .agg(
            F.expr(
                "CAST(100 * SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 "
                "AS BIGINT)) DIV COUNT(*) AS BIGINT)"
            ).alias("hci")
        )
    )
    m = (
        h.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("mh"),
            F.sum("hci").cast("long").alias("s"),
            # squared hourly cent-indexes sum past int64 over the hour
            # grid — DECIMAL(38,0)/HUGEINT routed
            F.sum(F.expr("CAST(hci AS DECIMAL(38,0)) * hci")).alias("s2"),
        )
        .filter(F.col("mh") >= 2)
    )
    mhd = F.col("mh").cast("double")
    sd = F.col("s").cast("double")
    s2d = F.col("s2").cast("double")
    zd = (F.col("hci").cast("double") - sd / mhd) / F.sqrt(
        (s2d - sd * sd / mhd) / (mhd - 1)
    )
    sym = (
        h.join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "hr",
            F.expr("hr DIV 86400").alias("day"),
            F.when(zd < _SAX_B1, "a")
            .when(zd < _SAX_B2, "b")
            .when(zd < _SAX_B3, "c")
            .otherwise("d")
            .alias("s"),
        )
    )
    return sym.groupBy("event_type", "day").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(F.collect_list(F.struct("hr", "s"))),
                lambda x: x["s"],
            ),
        ).alias("sax_word"),
    )


# -- difference-in-differences -------------------------------------------


@query(
    "x_stats_did",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT event_type, "
        f"  (user_id * {KNUTH}) % 2 AS variant, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        "  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day "
        "  FROM events), "
        "b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev), "
        "m AS (SELECT event_type, "
        "  CAST(COUNT(*) FILTER (WHERE variant = 0 AND day <= mid) "
        "    AS BIGINT) AS n_a0, "
        "  CAST(COALESCE(SUM(cents) FILTER (WHERE variant = 0 "
        "    AND day <= mid), 0) AS BIGINT) AS s_a0, "
        "  CAST(COUNT(*) FILTER (WHERE variant = 0 AND day > mid) "
        "    AS BIGINT) AS n_a1, "
        "  CAST(COALESCE(SUM(cents) FILTER (WHERE variant = 0 "
        "    AND day > mid), 0) AS BIGINT) AS s_a1, "
        "  CAST(COUNT(*) FILTER (WHERE variant = 1 AND day <= mid) "
        "    AS BIGINT) AS n_b0, "
        "  CAST(COALESCE(SUM(cents) FILTER (WHERE variant = 1 "
        "    AND day <= mid), 0) AS BIGINT) AS s_b0, "
        "  CAST(COUNT(*) FILTER (WHERE variant = 1 AND day > mid) "
        "    AS BIGINT) AS n_b1, "
        "  CAST(COALESCE(SUM(cents) FILTER (WHERE variant = 1 "
        "    AND day > mid), 0) AS BIGINT) AS s_b1 "
        "  FROM ev CROSS JOIN b GROUP BY 1) "
        "SELECT event_type, n_a0, s_a0, n_a1, s_a1, "
        "  n_b0, s_b0, n_b1, s_b1, "
        "(CAST(s_b1 AS DOUBLE) / n_b1 - CAST(s_b0 AS DOUBLE) / n_b0) "
        "- (CAST(s_a1 AS DOUBLE) / n_a1 - CAST(s_a0 AS DOUBLE) / n_a0) "
        "  AS did_cents "
        "FROM m WHERE n_a0 >= 1 AND n_a1 >= 1 AND n_b0 >= 1 AND n_b1 >= 1"
    ),
)
def stats_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator per metric: treatment
    effect = (B_post - B_pre) - (A_post - A_pre) over the hash-variant
    split and the calendar-midpoint period split — the causal workhorse
    when randomization is imperfect or a pre-period trend must be
    netted out, completing the experimentation suite's causal corner
    beside CUPED (which reduces variance with the same pre-period).

    Determinism: all eight cell counts/sums are exact bigints off ONE
    conditional aggregate pass (the x_stats_abtest single-fact-pass
    discipline — no joins between cells), and the estimate is the
    identical int64->double IEEE tree; empty cells are filtered by the
    same guard in both engines.

    Scale shape: one fact-scan hash aggregate with a 1-row broadcast
    midpoint, |types| rows out."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("user_id") * KNUTH) % 2).alias("variant"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    b = ev.agg(F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid"))

    def cell(vcond, pcond, agg):
        c = (F.col("variant") == vcond) & pcond
        if agg == "n":
            return F.count(F.when(c, 1)).cast("long")
        return F.coalesce(F.sum(F.when(c, F.col("cents"))), F.lit(0)).cast(
            "long"
        )

    pre = F.col("day") <= F.col("mid")
    post = F.col("day") > F.col("mid")
    m = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            cell(0, pre, "n").alias("n_a0"),
            cell(0, pre, "s").alias("s_a0"),
            cell(0, post, "n").alias("n_a1"),
            cell(0, post, "s").alias("s_a1"),
            cell(1, pre, "n").alias("n_b0"),
            cell(1, pre, "s").alias("s_b0"),
            cell(1, post, "n").alias("n_b1"),
            cell(1, post, "s").alias("s_b1"),
        )
    )
    did = (
        F.col("s_b1").cast("double") / F.col("n_b1")
        - F.col("s_b0").cast("double") / F.col("n_b0")
    ) - (
        F.col("s_a1").cast("double") / F.col("n_a1")
        - F.col("s_a0").cast("double") / F.col("n_a0")
    )
    return m.filter(
        (F.col("n_a0") >= 1)
        & (F.col("n_a1") >= 1)
        & (F.col("n_b0") >= 1)
        & (F.col("n_b1") >= 1)
    ).select(
        "event_type",
        "n_a0",
        "s_a0",
        "n_a1",
        "s_a1",
        "n_b0",
        "s_b0",
        "n_b1",
        "s_b1",
        did.alias("did_cents"),
    )


# -- forecast accuracy (seasonal-naive WAPE) -----------------------------


@query(
    "x_eval_forecast",
    category="stats_ml",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) "
        "    AS BIGINT) AS hr, "
        "  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "    AS BIGINT) AS cents FROM events GROUP BY 1, 2), "
        "j AS (SELECT a.event_type, a.hr, a.cents AS actual, "
        "  f.cents AS forecast "
        "  FROM h a JOIN h f ON a.event_type = f.event_type "
        "  AND f.hr = a.hr - 604800) "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours, "
        "CAST(SUM(actual) AS BIGINT) AS sum_actual, "
        "CAST(SUM(abs(actual - forecast)) AS BIGINT) AS sum_abs_err, "
        "CAST(1000000 * SUM(abs(actual - forecast)) // SUM(actual) "
        "  AS BIGINT) AS wape_ppm, "
        "CAST(SUM(actual - forecast) AS BIGINT) AS bias_cents "
        "FROM j GROUP BY 1 HAVING SUM(actual) > 0"
    ),
)
def eval_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scorecard for the SEASONAL-NAIVE baseline
    (this hour's revenue forecast = the same hour LAST WEEK): WAPE in
    exact ppm and the signed bias — the floor every real forecasting
    model must beat, and the eval harness that scores it; swapping a
    model's prediction table for the lag join changes nothing
    downstream.  Completes the eval suite's time-series corner beside
    classification / regression / ranking / retrieval.

    Determinism: hourly revenue is an exact cents sum; the forecast is
    an equi-self-join on (type, hr - 168h) — integer arithmetic only —
    and WAPE is a non-negative ppm floor division (SUM(actual) > 0
    guarded identically); bias is an exact signed bigint SUM, never a
    division, so no negative floor/trunc hazard exists.

    Scale shape: one hourly aggregate (map-side partials), one
    co-partitioned self-equi-join on (type, hour), one |types|-row
    rollup."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hr"),
        )
        .agg(
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    a = h.select("event_type", "hr", F.col("cents").alias("actual"))
    f = h.select(
        "event_type",
        (F.col("hr") + 604_800).alias("hr"),
        F.col("cents").alias("forecast"),
    )
    j = a.join(f, ["event_type", "hr"])
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_hours"),
            F.sum("actual").cast("long").alias("sum_actual"),
            F.sum(F.abs(F.col("actual") - F.col("forecast")))
            .cast("long")
            .alias("sum_abs_err"),
            F.sum(F.col("actual") - F.col("forecast"))
            .cast("long")
            .alias("bias_cents"),
        )
        .filter(F.col("sum_actual") > 0)
        .select(
            "event_type",
            "n_hours",
            "sum_actual",
            "sum_abs_err",
            F.expr("1000000 * sum_abs_err DIV sum_actual").alias("wape_ppm"),
            "bias_cents",
        )
    )


# -- ROC-AUC of classifier confidence (exact Mann-Whitney) ---------------


@query(
    "x_eval_auc",
    category="stats_ml",
    oracle=(
        "WITH "
        + CENTROID_CONFUSION_SQL
        + ", win AS (SELECT label, c_label AS predicted, sim "
        "  FROM ranked WHERE rn = 1), "
        "s AS (SELECT label, "
        "  CAST(round(sim * 1000000) AS BIGINT) AS sm, "
        "  CASE WHEN predicted = label THEN 1 ELSE 0 END AS ok FROM win), "
        "g AS (SELECT label, sm, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "  CAST(SUM(ok) AS BIGINT) AS pos FROM s GROUP BY 1, 2), "
        "r AS (SELECT label, cnt, pos, "
        "  2 * (SUM(cnt) OVER (PARTITION BY label ORDER BY sm) - cnt) "
        "    + cnt + 1 AS r2 FROM g) "
        "SELECT label, CAST(SUM(cnt) AS BIGINT) AS n, "
        "CAST(SUM(pos) AS BIGINT) AS n_correct, "
        "CAST(SUM(CAST(pos AS HUGEINT) * r2) "
        "  - SUM(pos) * (SUM(pos) + 1) AS BIGINT) AS u2, "
        "CASE WHEN SUM(pos) > 0 AND SUM(cnt) > SUM(pos) THEN "
        "  CAST(1000000 * (SUM(CAST(pos AS HUGEINT) * r2) "
        "      - SUM(pos) * (SUM(pos) + 1)) "
        "    // (2 * SUM(pos) * (SUM(cnt) - SUM(pos))) AS BIGINT) "
        "END AS auc_ppm "
        "FROM r GROUP BY label"
    ),
)
def eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-true-label ROC-AUC of the nearest-centroid classifier's
    winning similarity as a correct-vs-incorrect discriminator — the
    'is the model's confidence worth thresholding on?' number that
    pairs with x_eval_calibration: calibration asks whether 0.9 means
    90% right, AUC asks whether ranking by confidence separates hits
    from misses at all.

    Exactness: AUC is computed as the Mann-Whitney U statistic over
    the 6-dp-stable sim micros, with ties handled by DOUBLED average
    ranks (tie group spanning ranks lo..hi has 2*avg = lo + hi =
    2*cum_before + cnt + 1 — always an integer), so
    U2 = 2*U = sum(pos * r2) - n_pos*(n_pos+1) and
    AUC_ppm = 1e6 * U2 // (2 * n_pos * n_neg).  U2 and both products
    around it reach ~n^2, so the whole chain routes through
    DECIMAL(38,0)/HUGEINT (the x_basket_lift discipline) and the ppm
    statistic stays exact at any corpus size; the exposed u2 COLUMN is
    a bigint cast, exact to n ~ 4e9 rows per label.  U2 >= 0 by
    construction (positive ranks are at least 1..n_pos), so DuckDB's
    flooring // and Spark's truncating DIV agree; degenerate groups
    (all correct or all incorrect) return NULL identically via the
    same guarded CASE on both engines.

    Scale shape: rides _centroid_predictions' zero-extra-shuffle
    scoring pass; the rank pass first collapses the corpus to
    (label, sim_micros) groups — a hash aggregate bounded by
    |labels| x 2e6 distinct micro values regardless of corpus size —
    then runs ONE window partitioned by label over that bounded table
    (parallel across labels, never a global sort of the corpus) and a
    |labels|-row rollup."""
    from pyspark.sql import Window

    win = _centroid_predictions(spark, sf_dir)
    s = win.select(
        "label",
        F.round(F.col("sim") * 1_000_000, 0).cast("long").alias("sm"),
        F.when(F.col("predicted") == F.col("label"), 1).otherwise(0).alias("ok"),
    )
    g = s.groupBy("label", "sm").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("ok").cast("long").alias("pos"),
    )
    w = (
        Window.partitionBy("label")
        .orderBy("sm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.select(
        "label",
        "cnt",
        "pos",
        (2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1).alias("r2"),
    )
    agg = r.groupBy("label").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_correct"),
        # per-row products, the rank-sum, and the correction term all
        # reach ~n^2 — DECIMAL(38,0)/HUGEINT routed (u2d), with the
        # exposed u2 column a documented-saturation bigint cast
        (
            F.sum(F.expr("CAST(pos AS DECIMAL(38,0)) * r2"))
            - F.sum("pos").cast("decimal(38,0)") * (F.sum("pos") + 1)
        ).alias("u2d"),
    )
    return agg.select(
        "label",
        "n",
        "n_correct",
        F.col("u2d").cast("long").alias("u2"),
        F.expr(
            "CASE WHEN n_correct > 0 AND n > n_correct THEN "
            "CAST(1000000 * u2d "
            "DIV (CAST(2 AS DECIMAL(38,0)) * n_correct * (n - n_correct)) "
            "AS BIGINT) END"
        ).alias("auc_ppm"),
    )


# Shared STL core (x_time_stl_lite + x_time_seasonal_anomaly — factored
# per code-review r8 item 3 so a fix to the window bounds / hr
# derivation can never apply to one key and silently skip the other):
# hourly counts -> centered 24-pt trend window -> interior rows with
# det24 = 24*c - trend_sum24 -> per-hour-of-day seasonal rationals.
_STL_CORE_SQL = (
    "WITH h AS (SELECT "
    "  CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 "
    "    AS BIGINT) AS hr, "
    "  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1), "
    "t AS (SELECT hr, c, "
    "  CAST(SUM(c) OVER w AS BIGINT) AS trend_sum24, "
    "  CAST(COUNT(*) OVER w AS BIGINT) AS nwin FROM h "
    "  WINDOW w AS (ORDER BY hr ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)), "
    "i AS (SELECT hr, c, trend_sum24, 24 * c - trend_sum24 AS det24 "
    "  FROM t WHERE nwin = 24), "
    "s AS (SELECT hr % 24 AS hod, CAST(SUM(det24) AS BIGINT) AS s_num, "
    "  CAST(COUNT(*) AS BIGINT) AS s_den FROM i GROUP BY 1)"
)


def _stl_interior(spark: SparkSession, sf_dir: str):
    """Spark twin of _STL_CORE_SQL: returns (interior, seasonal) —
    interior = (hr, c, trend_sum24, det24) rows with a full centered
    window; seasonal = (hod, s_num, s_den) exact rationals."""
    from pyspark.sql import Window

    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr")
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    w24 = Window.orderBy("hr").rowsBetween(-12, 11)
    t = h.select(
        "hr",
        "c",
        F.sum("c").over(w24).cast("long").alias("trend_sum24"),
        F.count("*").over(w24).cast("long").alias("nwin"),
    )
    interior = t.filter(F.col("nwin") == 24).select(
        "hr",
        "c",
        "trend_sum24",
        (24 * F.col("c") - F.col("trend_sum24")).alias("det24"),
    )
    seasonal = interior.groupBy((F.col("hr") % 24).alias("hod")).agg(
        F.sum("det24").cast("long").alias("s_num"),
        F.count("*").cast("long").alias("s_den"),
    )
    return interior, seasonal



@query(
    "x_time_stl_lite",
    category="stats_ml",
    oracle=(
        _STL_CORE_SQL + " "
        "SELECT i.hr, i.c, i.trend_sum24, i.det24, s.s_num, s.s_den, "
        "CAST(i.trend_sum24 AS DOUBLE) / 24.0 AS trend, "
        "CAST(s.s_num AS DOUBLE) / CAST(24 * s.s_den AS DOUBLE) AS seasonal, "
        "CAST(i.det24 * s.s_den - s.s_num AS DOUBLE) "
        "  / CAST(24 * s.s_den AS DOUBLE) AS resid "
        "FROM i JOIN s ON i.hr % 24 = s.hod"
    ),
)
def time_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal-trend decomposition (the moving-average STL
    ancestor, Cleveland et al.'s 'decompose' baseline) of the hourly
    event-count series: trend = centered 24-point moving average,
    seasonal = per-hour-of-day mean of the detrended series, residual
    = the rest — the series triage that separates load growth from
    daily rhythm from anomalies before alerting on any of them.

    Exactness: the decomposition is carried in SCALED INTEGERS —
    det24 = 24*c - trend_sum24 (x24 units), per-hod seasonal kept as
    the exact rational s_num/s_den — so trend, seasonal and residual
    each become ONE IEEE division of exact integer operands (bitwise
    engine-identical; no chained float arithmetic anywhere).  Edge
    hours without a full 24-point window are excluded (nwin = 24), the
    standard centered-MA convention.

    Scale shape: the hourly rollup is one partial+final aggregate; the
    moving window and hod means run over |hours| rows, not |events|.
    The trend window here orders one global series (single-partition
    window at bench scale — the checkable stand-in); at 100 TB the
    identical plan runs per series key (partitionBy(metric)), which is
    how every multi-series deployment shards anyway."""
    i, s = _stl_interior(spark, sf_dir)
    return (
        i.join(F.broadcast(s), (F.col("hr") % 24) == F.col("hod"))
        .select(
            "hr",
            "c",
            "trend_sum24",
            "det24",
            "s_num",
            "s_den",
            (F.col("trend_sum24").cast("double") / F.lit(24.0)).alias("trend"),
            (
                F.col("s_num").cast("double")
                / (24 * F.col("s_den")).cast("double")
            ).alias("seasonal"),
            (
                (F.col("det24") * F.col("s_den") - F.col("s_num")).cast("double")
                / (24 * F.col("s_den")).cast("double")
            ).alias("resid"),
        )
    )


@query(
    "x_time_changepoint",
    category="stats_ml",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600000000 "
        "    AS BIGINT) AS hr, "
        "  CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        "r AS (SELECT event_type, hr, c, "
        "  row_number() OVER w AS rn, "
        "  CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY hr "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, "
        "  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n, "
        "  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s "
        "  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr)), "
        "cand AS (SELECT event_type, hr, rn AS n_l, cum AS s_l, "
        "  n - rn AS n_r, s - cum AS s_r, n, s FROM r WHERE rn < n), "
        "sc AS (SELECT event_type, hr, n_l, s_l, n_r, s_r, n, s, "
        "  CAST(CAST(1000000 AS HUGEINT) * (CAST(s_l AS HUGEINT) * s_l * n_r "
        "    + CAST(s_r AS HUGEINT) * s_r * n_l) // (CAST(n_l AS HUGEINT) * n_r) "
        "    AS BIGINT) AS score_ppm "
        "  FROM cand), "
        "best AS (SELECT *, row_number() OVER (PARTITION BY event_type "
        "  ORDER BY score_ppm DESC, hr) AS pick FROM sc) "
        "SELECT event_type, n AS n_hours, hr AS split_hr, n_l, n_r, "
        "CAST(s_l AS DOUBLE) / CAST(n_l AS DOUBLE) AS mean_l, "
        "CAST(s_r AS DOUBLE) / CAST(n_r AS DOUBLE) AS mean_r, "
        "score_ppm, "
        "CAST(CAST(1000000 AS HUGEINT) * s * s // n AS BIGINT) AS baseline_ppm "
        "FROM best WHERE pick = 1"
    ),
)
def time_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint localization by binary segmentation (the
    CART/Scott-Knott split rule) on the hourly count series per event
    type: pick the split that maximizes the between-segment explained
    sum S_l^2/n_l + S_r^2/n_r — equivalently the largest SSE drop —
    complementing x_time_cusum (which ALARMS on drift but does not
    localize it).

    Exactness: prefix sums are integers off one window pass; each
    candidate's score is the exact rational (S_l^2 n_r + S_r^2 n_l) /
    (n_l n_r), materialized as floor-ppm through HUGEINT/DECIMAL(38,0)
    cross-products so warehouse-scale counts cannot overflow; the
    argmax orders on (score_ppm DESC, hr) — ties at ppm resolution
    break on the earlier hour, deterministically in both engines.
    Segment means are one IEEE division each; the no-split baseline
    S^2/n rides along so the split's gain is visible.

    Scale shape: hourly rollup is one aggregate; every window is
    partitioned by event_type (no global sort); candidate scoring is a
    projection over |hours| rows and the argmax one more window over
    the same."""
    from pyspark.sql import Window

    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000))
            .cast("long")
            .alias("hr"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    word = Window.partitionBy("event_type").orderBy("hr")
    wall = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "hr",
        "c",
        F.row_number().over(word).alias("rn"),
        F.sum("c")
        .over(word.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
        F.count("*").over(wall).cast("long").alias("n"),
        F.sum("c").over(wall).cast("long").alias("s"),
    )
    cand = r.filter(F.col("rn") < F.col("n")).select(
        "event_type",
        "hr",
        F.col("rn").alias("n_l"),
        F.col("cum").alias("s_l"),
        (F.col("n") - F.col("rn")).alias("n_r"),
        (F.col("s") - F.col("cum")).alias("s_r"),
        "n",
        "s",
    )
    sc = cand.withColumn(
        "score_ppm",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * "
            "(CAST(s_l AS DECIMAL(38,0)) * s_l * n_r "
            " + CAST(s_r AS DECIMAL(38,0)) * s_r * n_l) "
            "DIV (CAST(n_l AS DECIMAL(38,0)) * n_r) AS BIGINT)"
        ),
    )
    pick = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.desc("score_ppm"), F.asc("hr"))
    )
    return (
        sc.select("*", pick.alias("pick"))
        .filter(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.col("hr").alias("split_hr"),
            "n_l",
            "n_r",
            (F.col("s_l").cast("double") / F.col("n_l").cast("double")).alias("mean_l"),
            (F.col("s_r").cast("double") / F.col("n_r").cast("double")).alias("mean_r"),
            "score_ppm",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * s * s DIV n AS BIGINT)"
            ).alias("baseline_ppm"),
        )
    )


@query(
    "x_time_seasonal_anomaly",
    category="stats_ml",
    oracle=(
        _STL_CORE_SQL + ", "
        "x AS (SELECT i.hr, i.c, "
        "  CAST(1000000 * (i.det24 * s.s_den - s.s_num) // (24 * s.s_den) "
        "    AS BIGINT) AS resid_ppm "
        "  FROM i JOIN s ON i.hr % 24 = s.hod), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(resid_ppm) AS BIGINT) AS sm, "
        "  SUM(CAST(resid_ppm AS HUGEINT) * resid_ppm) AS ss FROM x), "
        "d AS (SELECT x.hr, x.c, x.resid_ppm, "
        "  g.n * x.resid_ppm - g.sm AS dev, g.n, g.sm, g.ss FROM x, g), "
        "r AS (SELECT hr, c, resid_ppm, dev, "
        "  CASE WHEN CAST(dev AS HUGEINT) * dev > "
        "    9 * (n * ss - CAST(sm AS HUGEINT) * sm) THEN 1 ELSE 0 END "
        "    AS is_anomaly, "
        "  row_number() OVER (ORDER BY abs(dev) DESC, hr) AS rnk FROM d) "
        "SELECT hr, c, resid_ppm, CAST(dev AS BIGINT) AS dev, "
        "CAST(is_anomaly AS BIGINT) AS is_anomaly, CAST(rnk AS BIGINT) AS rnk "
        "FROM r WHERE rnk <= 10"
    ),
)
def time_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly ranking — the capstone on
    x_time_stl_lite: after removing trend (centered 24h MA) and the
    hour-of-day seasonal pattern, the top-10 hours by |residual
    z-score| are the genuinely unusual ones (a raw-count spike at the
    daily peak hour is NORMAL; the same count at 4am is an incident).
    Residuals are the stl key's exact rationals floored to ppm; the
    z-test is the exact integer cross-product form — flag iff
    (n*X - S)^2 > 9*(n*SS - S^2) — so no standard deviation is ever
    materialized as a float and both engines agree bitwise (the
    x_time_changepoint / x_win_pareto HUGEINT-DECIMAL(38,0) routing,
    since SS and the squared deviation overflow int64 at warehouse
    scale).  Ranking orders on |dev| = |n*X - S| — z-order with the
    global positive denominator cancelled — with the hour as the tie
    break, so the top-10 is total and hash-stable.  3 of 697 hours
    breach 3 sigma at sf0.01.

    Scale shape: stl's windows (partition per series at scale) + one
    1-row moment aggregate broadcast back + one WindowGroupLimit
    top-10."""
    from pyspark.sql import Window

    i, s = _stl_interior(spark, sf_dir)
    x = i.join(F.broadcast(s), (F.col("hr") % 24) == F.col("hod")).select(
        "hr",
        "c",
        F.expr(
            "CAST(1000000 * (det24 * s_den - s_num) DIV (24 * s_den) AS BIGINT)"
        ).alias("resid_ppm"),
    )
    g = x.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("resid_ppm").cast("long").alias("sm"),
        F.sum(F.expr("CAST(resid_ppm AS DECIMAL(38,0)) * resid_ppm")).alias("ss"),
    )
    d = x.crossJoin(F.broadcast(g)).select(
        "hr",
        "c",
        "resid_ppm",
        (F.col("n") * F.col("resid_ppm") - F.col("sm")).alias("dev"),
        "n",
        "sm",
        "ss",
    )
    rnk = F.row_number().over(Window.orderBy(F.abs(F.col("dev")).desc(), F.asc("hr")))
    return (
        d.select(
            "hr",
            "c",
            "resid_ppm",
            "dev",
            F.expr(
                "CAST(CASE WHEN CAST(dev AS DECIMAL(38,0)) * dev > "
                "9 * (n * ss - CAST(sm AS DECIMAL(38,0)) * sm) "
                "THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("is_anomaly"),
            rnk.alias("rnk"),
        )
        .filter(F.col("rnk") <= 10)
        .select(
            "hr", "c", "resid_ppm", "dev", "is_anomaly", F.col("rnk").cast("long").alias("rnk")
        )
    )


# x_stats_moments: the finishing doubles are ONE shared SQL string per
# column, consumed verbatim by BOTH engines (F.expr on Spark, inlined
# in the oracle) — the same literal operation sequence on the same
# exactly-representable inputs is what makes the IEEE results
# bit-identical.  Power sums are exact integer CENTS (skew/kurtosis
# are scale invariant; mean/variance rescale by the constant at the
# end), and each sum enters double arithmetic through a hi/lo int64
# split (see _mom_recombine) because big-integer -> double conversion
# itself is NOT engine-portable past 2^63.
_MOM_SPLIT = 1 << 62


def _mom_recombine(k: int) -> str:
    """``hi_k * 2^62 + lo_k`` in doubles: hi < 2^38-ish is exact, lo is
    an int64 whose -> double conversion is correctly rounded on BOTH
    engines (unlike DECIMAL/HUGEINT -> double, which diverged on real
    sums in this op's second replay), and the multiply-add is the same
    IEEE sequence in both."""
    return (
        f"(CAST(hi{k} AS DOUBLE) * {_MOM_SPLIT} + CAST(lo{k} AS DOUBLE))"
    )


def _mom_finish() -> dict[str, str]:
    s1, s2, s3, s4 = (_mom_recombine(k) for k in (1, 2, 3, 4))
    return {
        "mean": f"({s1} / nd) / 100",
        "variance": (
            f"(({s2} / nd - ({s1} / nd) * ({s1} / nd)) * nd / (nd - 1)) / 10000"
        ),
        "skewness": (
            f"({s3} / nd - 3 * ({s1} / nd) * ({s2} / nd) "
            f" + 2 * ({s1} / nd) * ({s1} / nd) * ({s1} / nd)) "
            f"/ (({s2} / nd - ({s1} / nd) * ({s1} / nd)) "
            f"   * sqrt({s2} / nd - ({s1} / nd) * ({s1} / nd)))"
        ),
        "ex_kurtosis": (
            f"({s4} / nd - 4 * ({s1} / nd) * ({s3} / nd) "
            f" + 6 * ({s1} / nd) * ({s1} / nd) * ({s2} / nd) "
            f" - 3 * ({s1} / nd) * ({s1} / nd) * ({s1} / nd) * ({s1} / nd)) "
            f"/ (({s2} / nd - ({s1} / nd) * ({s1} / nd)) "
            f"   * ({s2} / nd - ({s1} / nd) * ({s1} / nd))) - 3"
        ),
    }


@query(
    "x_stats_moments",
    category="agg",
    oracle=(
        "WITH c AS (SELECT event_type, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c "
        "  FROM events WHERE value IS NOT NULL), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(COUNT(*) AS DOUBLE) AS nd, "
        "  SUM(c) AS t1, SUM(c * c) AS t2, "
        "  SUM(c * c * c) AS t3, SUM(c * c * c * c) AS t4 "
        "  FROM c GROUP BY 1), "
        "h AS (SELECT event_type, n, nd, "
        + ", ".join(
            f"CAST(t{k} // {_MOM_SPLIT} AS BIGINT) AS hi{k}, "
            f"CAST(t{k} % {_MOM_SPLIT} AS BIGINT) AS lo{k}"
            for k in (1, 2, 3, 4)
        )
        + " FROM m) "
        "SELECT event_type, n, "
        + ", ".join(f"{sql} AS {name}" for name, sql in _mom_finish().items())
        + " FROM h WHERE n >= 2"
    ),
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution MOMENTS per event type — mean, sample variance,
    skewness, excess kurtosis: the four numbers a data-profiling pass
    prints per column before anyone trusts it (skew flags one-sided
    value domains, kurtosis flags heavy tails that break z-score
    outlier rules — x_stats_outliers' prerequisite diagnostics).

    Exactness discipline, learned across TWO failed replays of this
    op: (1) the abtest-style "CAST(value^k AS DECIMAL)" route fails at
    k >= 3 — Spark rounds a double->decimal cast from its SHORTEST
    DECIMAL REPR while DuckDB rounds the binary value, and the
    twice-rounded triple product lands on enough boundaries to
    diverge; (2) even with exact integer-cents power sums (per-row
    powers routed DECIMAL(38,0)/HUGEINT — c^4 ~ 9.8e18 exceeds
    int64), the final big-integer -> DOUBLE conversion ITSELF
    diverges past 2^63 (Spark's BigDecimal.doubleValue is correctly
    rounded, DuckDB's hugeint cast is not — one real s4 differed in
    the last ulp).  The shipped form therefore splits every sum into
    hi/lo int64 parts (DIV/% 2^62 — positive operands, so trunc
    agrees engine-wide) and recombines in doubles: int64 -> double is
    correctly rounded everywhere, and from there every finishing
    double is the LITERAL SAME SQL string in both engines
    (_mom_finish) — identical IEEE sequence, bit-equal results.
    Skewness/kurtosis are scale invariant so the cents domain needs
    no correction; mean/variance divide by the constant at the end.

    Scale shape: ONE partial+final hash aggregate (six accumulators)
    and a stateless finishing projection — the cheapest possible plan
    for the statistic, and the same shape at 100 TB."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))")
    m = ev.select("event_type", c.alias("c")).groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.count("*").cast("double").alias("nd"),
        F.sum("c").alias("t1"),
        F.sum(F.expr("c * c")).alias("t2"),
        F.sum(F.expr("c * c * c")).alias("t3"),
        F.sum(F.expr("c * c * c * c")).alias("t4"),
    )
    h = m.select(
        "event_type",
        "n",
        "nd",
        *[
            col
            for k in (1, 2, 3, 4)
            for col in (
                F.expr(f"CAST(t{k} DIV {_MOM_SPLIT} AS BIGINT)").alias(f"hi{k}"),
                F.expr(f"CAST(t{k} % {_MOM_SPLIT} AS BIGINT)").alias(f"lo{k}"),
            )
        ],
    )
    return h.filter(F.col("n") >= 2).select(
        "event_type",
        "n",
        *[F.expr(sql).alias(name) for name, sql in _mom_finish().items()],
    )


# -- ranking-quality evaluation: MRR@100 ---------------------------------

_MRR_K = 100
_MRR_REL_MIN = 3  # late-half events needed to count a user as relevant


@query(
    "x_eval_mrr",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT event_type, user_id, value, "
        "  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day "
        "  FROM events), "
        "b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev), "
        "pred AS (SELECT event_type, user_id, "
        "  SUM(CAST(value AS DECIMAL(18,2))) AS pred "
        "  FROM ev CROSS JOIN b WHERE day <= mid GROUP BY 1, 2), "
        "rel AS (SELECT event_type, user_id FROM ev CROSS JOIN b "
        f"  WHERE day > mid GROUP BY 1, 2 HAVING COUNT(*) >= {_MRR_REL_MIN}), "
        "cand AS (SELECT p.event_type, p.user_id, p.pred, "
        "  r.user_id IS NOT NULL AS is_rel FROM pred p "
        "  LEFT JOIN rel r ON p.event_type = r.event_type "
        "    AND p.user_id = r.user_id), "
        "dpos AS (SELECT event_type, is_rel, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY pred DESC, user_id) AS rn "
        "  FROM cand) "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ranked, "
        "  CAST(COALESCE(MIN(rn) FILTER (WHERE is_rel), 0) AS BIGINT) "
        "    AS first_rel_rank, "
        "  CAST(CASE WHEN MIN(rn) FILTER (WHERE is_rel) IS NULL THEN 0 "
        "    ELSE 1000000 // MIN(rn) FILTER (WHERE is_rel) END AS BIGINT) "
        "    AS rr_micro "
        f"FROM dpos WHERE rn <= {_MRR_K} GROUP BY 1"
    ),
)
def eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@100 per event type — the known-item-search companion to
    x_eval_ndcg (graded top-10 quality) and x_eval_rank_corr (whole-
    order correlation): rank users by their early-calendar-half exact-
    decimal value total, call a user RELEVANT when the late half shows
    >= 3 events of that type, and report the rank of the first relevant
    user plus its reciprocal.

    Determinism: the reciprocal rank is exact integer micro-arithmetic
    (1000000 DIV rank — no floats), scores tie-break on user_id, and
    the calendar-midpoint split is the same whitelisted 1-row broadcast
    scalar as ndcg/ks_drift.

    Scale shape: two (type, user)-grained aggregates off one fact scan,
    a same-key left join, ONE top-100 window per type (WindowGroupLimit
    prunes each map partition to 100 rows before the shuffle), and a
    |types|-bounded final aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "value",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    )
    bounds = ev.agg(((F.min("day") + F.max("day")) / 2).cast("bigint").alias("mid"))
    evb = ev.crossJoin(F.broadcast(bounds))
    pred = (
        evb.filter(F.col("day") <= F.col("mid"))
        .groupBy("event_type", "user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("pred"))
    )
    rel = (
        evb.filter(F.col("day") > F.col("mid"))
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n_late"))
        .filter(F.col("n_late") >= _MRR_REL_MIN)
        .select("event_type", "user_id", F.lit(1).alias("is_rel"))
    )
    cand = pred.join(rel, ["event_type", "user_id"], "left").select(
        "event_type",
        "user_id",
        "pred",
        F.col("is_rel").isNotNull().alias("is_rel"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("pred"), F.asc("user_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MRR_K)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_ranked"),
            F.coalesce(F.min(F.when(F.col("is_rel"), F.col("rn"))), F.lit(0))
            .cast("long")
            .alias("first_rel_rank"),
        )
        .select(
            "event_type",
            "n_ranked",
            "first_rel_rank",
            F.when(F.col("first_rel_rank") == 0, F.lit(0))
            .otherwise(F.expr("1000000 DIV first_rel_rank"))
            .cast("long")
            .alias("rr_micro"),
        )
    )


_RAK_K = 50


@query(
    "x_eval_recall_at_k",
    category="stats_ml",
    oracle=(
        "WITH ev AS (SELECT event_type, user_id, value, "
        "  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day "
        "  FROM events), "
        "b AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM ev), "
        "pred AS (SELECT event_type, user_id, "
        "  SUM(CAST(value AS DECIMAL(18,2))) AS pred "
        "  FROM ev CROSS JOIN b WHERE day <= mid GROUP BY 1, 2), "
        "rel AS (SELECT event_type, user_id FROM ev CROSS JOIN b "
        f"  WHERE day > mid GROUP BY 1, 2 HAVING COUNT(*) >= {_MRR_REL_MIN}), "
        "cand AS (SELECT p.event_type, p.user_id, p.pred, "
        "  r.user_id IS NOT NULL AS is_rel FROM pred p "
        "  LEFT JOIN rel r ON p.event_type = r.event_type "
        "    AND p.user_id = r.user_id), "
        "dpos AS (SELECT event_type, is_rel, row_number() OVER ("
        "  PARTITION BY event_type ORDER BY pred DESC, user_id) AS rn "
        "  FROM cand), "
        "hits AS (SELECT event_type, "
        "  CAST(COUNT(*) FILTER (WHERE is_rel) AS BIGINT) AS n_hit "
        f"  FROM dpos WHERE rn <= {_RAK_K} GROUP BY 1), "
        "tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rel "
        "  FROM cand WHERE is_rel GROUP BY 1) "
        "SELECT t.event_type, h.n_hit, t.n_rel, "
        "  1000000 * h.n_hit // t.n_rel AS recall_ppm "
        "FROM tot t JOIN hits h ON t.event_type = h.event_type "
        "WHERE t.n_rel > 0"
    ),
)
def eval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@50 per event type — the third leg of the retrieval-eval
    triad on the shared prediction/relevance spine (x_eval_mrr = how
    soon the first relevant hit, x_eval_ndcg = how well the whole top
    is ordered; this = what fraction of ALL relevant users the top-50
    covers — the metric that catches a ranker that nails its first hit
    but starves the tail).  Relevance = >= 3 late-half events, same as
    MRR, so the three metrics are directly comparable.

    Determinism: exact integer hits/relevant counts and a ppm floor
    division; ties break on user_id; the calendar-midpoint split is
    the same whitelisted 1-row broadcast scalar.

    Scale shape: identical to MRR — two (type, user) aggregates, a
    same-key left join, one WindowGroupLimit-able top-50 window, and
    two |types|-bounded aggregates joined on the type key."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "value",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    )
    bounds = ev.agg(((F.min("day") + F.max("day")) / 2).cast("bigint").alias("mid"))
    evb = ev.crossJoin(F.broadcast(bounds))
    pred = (
        evb.filter(F.col("day") <= F.col("mid"))
        .groupBy("event_type", "user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("pred"))
    )
    rel = (
        evb.filter(F.col("day") > F.col("mid"))
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n_late"))
        .filter(F.col("n_late") >= _MRR_REL_MIN)
        .select("event_type", "user_id", F.lit(1).alias("is_rel"))
    )
    cand = pred.join(rel, ["event_type", "user_id"], "left").select(
        "event_type",
        "user_id",
        "pred",
        F.col("is_rel").isNotNull().alias("is_rel"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("pred"), F.asc("user_id"))
    # count hits with a conditional aggregate over ALL top-k rows (not
    # a pre-filter on is_rel): a type whose top-50 holds zero relevant
    # users must still emit n_hit = 0, exactly like the oracle's
    # COUNT(*) FILTER — pre-filtering would drop the group entirely
    # and the inner join below would lose the type.
    hits = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RAK_K)
        .groupBy("event_type")
        .agg(F.count(F.when(F.col("is_rel"), 1)).cast("long").alias("n_hit"))
    )
    tot = (
        cand.filter(F.col("is_rel"))
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_rel"))
    )
    return (
        tot.join(hits, "event_type")
        .filter(F.col("n_rel") > 0)
        .select(
            "event_type",
            "n_hit",
            "n_rel",
            F.expr("1000000 * n_hit DIV n_rel").alias("recall_ppm"),
        )
    )


# -- code-eval metric: unbiased pass@k over attempt groups ---------------

_PAK_K = 5
_PAK_PROBLEMS = 101  # user-id bucket count: problems = (type, bucket)
# The unbiased pass@k estimator (Chen et al., "Evaluating Large
# Language Models Trained on Code", 2021): 1 - C(n-c, k)/C(n, k),
# expanded as the telescoping product so no binomial ever materializes.
# The SAME expression string runs in Spark and DuckDB: every factor is
# a correctly-rounded IEEE double division and the left-associated
# product multiplies them in the same order, so both engines compute
# the bit-identical double — FLOOR of identical doubles is identical,
# no rounding-rule argument needed (unlike round(x, 6), whose
# HALF_UP-on-repr vs binary-value semantics differ across engines).
_PAK_PPM_EXPR = (
    "CAST(CASE WHEN n - c < {k} THEN 1000000 ELSE "
    "FLOOR((1.0e0 - ("
    "(CAST(n - c AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE))"
    " * (CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE))"
    " * (CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE))"
    " * (CAST(n - c - 4 AS DOUBLE) / CAST(n - 4 AS DOUBLE))"
    ")) * 1000000e0) END AS BIGINT)"
).format(k=_PAK_K)


@query(
    "x_eval_pass_at_k",
    category="stats_ml",
    oracle=(
        "WITH att AS (SELECT event_type, user_id % {p} AS problem, "
        "  CAST(event_id % 5 = 0 AS BIGINT) AS ok FROM events), "
        "grp AS (SELECT event_type, problem, "
        "  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(ok) AS BIGINT) AS c "
        "  FROM att GROUP BY 1, 2 HAVING COUNT(*) >= {k}), "
        "pp AS (SELECT event_type, {expr} AS pass_ppm FROM grp) "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_problems, "
        "  CAST(SUM(pass_ppm) AS BIGINT) AS sum_pass_ppm, "
        "  CAST(MIN(pass_ppm) AS BIGINT) AS min_pass_ppm, "
        "  CAST(MAX(pass_ppm) AS BIGINT) AS max_pass_ppm "
        "FROM pp GROUP BY 1".format(
            p=_PAK_PROBLEMS, k=_PAK_K, expr=_PAK_PPM_EXPR
        )
    ),
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@5 per event type — the code-generation eval metric
    (fraction of problems solved by at least one of k sampled
    attempts, estimated without replacement bias as
    1 - C(n-c,k)/C(n,k)) over a deterministic attempt spine: each
    (event_type, user_id % 101) cell is a 'problem', its events are
    the attempts, and an attempt 'passes' when event_id % 5 == 0 (a
    fixed 20% success marker — the METRIC machinery is the deliverable;
    a real harness substitutes its grader bit for the marker without
    touching the aggregate).  Per type: problem count and the exact
    integer-ppm sum/min/max of the estimator, so the hash pins every
    problem's value through the sum.

    Determinism: the telescoping product runs as the IDENTICAL
    expression string on both engines (left-associated product of
    correctly-rounded double divisions -> bit-identical doubles), and
    the ppm conversion FLOORs that identical double instead of
    round()ing it, so no cross-engine rounding-rule or tie argument is
    needed anywhere.  Degenerate cells (n - c < k: fewer failures than
    the sample size, pass is certain) short-circuit to exactly 1e6.

    Scale shape: ONE hash aggregate to (type, problem) grain — the
    estimator is then scalar arithmetic on n and c, Catalyst-constant-
    folded into the same stage — and one |types|-bounded final
    aggregate.  No joins, no windows, no Python; at 100 TB this is a
    single map-side-combined pass over the attempt log."""
    att = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.pmod("user_id", F.lit(_PAK_PROBLEMS)).alias("problem"),
        (F.col("event_id") % 5 == 0).cast("long").alias("ok"),
    )
    grp = (
        att.groupBy("event_type", "problem")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("ok").cast("long").alias("c"),
        )
        .filter(F.col("n") >= _PAK_K)
    )
    return (
        grp.withColumn("pass_ppm", F.expr(_PAK_PPM_EXPR))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_problems"),
            F.sum("pass_ppm").cast("long").alias("sum_pass_ppm"),
            F.min("pass_ppm").cast("long").alias("min_pass_ppm"),
            F.max("pass_ppm").cast("long").alias("max_pass_ppm"),
        )
    )


# -- nonparametric two-sample test: Mann-Whitney U -----------------------


@query(
    "x_stats_mann_whitney",
    category="stats_ml",
    oracle=(
        f"WITH e AS (SELECT event_type, (user_id * {KNUTH}) % 2 AS variant, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "g AS (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS m, "
        "  CAST(COUNT(*) FILTER (WHERE variant = 1) AS BIGINT) AS m1 "
        "  FROM e GROUP BY 1, 2), "
        "c AS (SELECT event_type, cents, m, m1, "
        "  CAST(COALESCE(SUM(m) OVER (PARTITION BY event_type ORDER BY cents "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
        "    AS below FROM g) "
        "SELECT event_type, "
        "CAST(SUM(m1) AS BIGINT) AS n1, CAST(SUM(m - m1) AS BIGINT) AS n2, "
        "CAST(SUM(m1 * (2 * below + m + 1)) AS BIGINT) AS r1_x2, "
        "CAST(SUM(m1 * (2 * below + m + 1)) - SUM(m1) * (SUM(m1) + 1) "
        "  AS BIGINT) AS u1_x2, "
        "CAST(SUM(CAST(m AS HUGEINT) * m * m - m) AS BIGINT) AS tie_term "
        "FROM c GROUP BY event_type"
    ),
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) per event type — the
    NONPARAMETRIC sibling of x_stats_abtest's t-test on the same
    deterministic Knuth-hash variant split: valid when spend is
    skewed/heavy-tailed (event values always are) because it compares
    RANKS, not means.  Everything is exact integers: ranks never
    materialize per row — with average-rank tie handling, a tied group
    of m rows at a value with `below` rows strictly smaller
    contributes m1 * (2*below + m + 1) to TWICE the variant-1 rank sum
    (2*avg_rank is always integral), so one (type, value)-grained
    aggregate plus one cumulative window over the DISTINCT-value
    stream yields 2*R1 exactly; U follows by 2*U1 = 2*R1 - n1*(n1+1).
    The tie census sum(m^3 - m) rides along (DECIMAL(38,0)/HUGEINT
    sandwich for the cubes), so a consumer can form the tie-corrected
    variance without re-touching the data; the test statistic itself
    needs a sqrt and stays out of hash-checked output, per the repo's
    no-cross-engine-floats rule for outputs that a downstream dashboard
    computes anyway.

    Scale shape: one hash aggregate to (type, distinct-value) grain —
    the value domain (integer cents) is bounded, so the window runs
    over thousands of rows, not the corpus — then one |types|-bounded
    final aggregate.  The corpus is touched exactly once."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") * KNUTH % 2).alias("variant"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    from pyspark.sql import Window

    g = e.groupBy("event_type", "cents").agg(
        F.count("*").cast("long").alias("m"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("long").alias("m1"),
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.select(
        "event_type",
        "m",
        "m1",
        F.coalesce(F.sum("m").over(wb), F.lit(0)).cast("long").alias("below"),
    )
    r1x2 = F.sum(F.col("m1") * (2 * F.col("below") + F.col("m") + 1)).cast("long")
    n1 = F.sum("m1").cast("long")
    return c.groupBy("event_type").agg(
        n1.alias("n1"),
        F.sum(F.col("m") - F.col("m1")).cast("long").alias("n2"),
        r1x2.alias("r1_x2"),
        (r1x2 - n1 * (n1 + 1)).cast("long").alias("u1_x2"),
        F.sum(
            F.col("m").cast("decimal(38,0)") * F.col("m") * F.col("m") - F.col("m")
        )
        .cast("long")
        .alias("tie_term"),
    )


# -- permutation test: the third leg of the resampling trio --------------

_PERM_B = 32  # deterministic label permutations (salted Knuth re-hash)


@query(
    "x_stats_permutation",
    category="stats_ml",
    oracle=(
        f"WITH e AS (SELECT event_type, user_id, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        f"obs AS (SELECT event_type, "
        f"  CAST(SUM(cents) FILTER (WHERE (user_id * {KNUTH}) % 2 = 1) "
        "    AS HUGEINT) AS s1, "
        f"  CAST(COUNT(*) FILTER (WHERE (user_id * {KNUTH}) % 2 = 1) "
        "    AS HUGEINT) AS n1, "
        f"  CAST(SUM(cents) FILTER (WHERE (user_id * {KNUTH}) % 2 = 0) "
        "    AS HUGEINT) AS s0, "
        f"  CAST(COUNT(*) FILTER (WHERE (user_id * {KNUTH}) % 2 = 0) "
        "    AS HUGEINT) AS n0 FROM e GROUP BY 1), "
        f"p AS (SELECT event_type, t.b AS b, "
        f"  CAST(SUM(cents) FILTER (WHERE ((user_id + t.b) * {KNUTH}) % 2 = 1) "
        "    AS HUGEINT) AS s1, "
        f"  CAST(COUNT(*) FILTER (WHERE ((user_id + t.b) * {KNUTH}) % 2 = 1) "
        "    AS HUGEINT) AS n1, "
        f"  CAST(SUM(cents) FILTER (WHERE ((user_id + t.b) * {KNUTH}) % 2 = 0) "
        "    AS HUGEINT) AS s0, "
        f"  CAST(COUNT(*) FILTER (WHERE ((user_id + t.b) * {KNUTH}) % 2 = 0) "
        "    AS HUGEINT) AS n0 "
        f"  FROM e, unnest(range(1, {_PERM_B} + 1)) AS t(b) GROUP BY 1, 2), "
        "x AS (SELECT p.event_type, p.b, "
        "  CASE WHEN abs(p.s1 * p.n0 - p.s0 * p.n1) * (o.n1 * o.n0) "
        "    >= abs(o.s1 * o.n0 - o.s0 * o.n1) * (p.n1 * p.n0) "
        "  THEN 1 ELSE 0 END AS extreme "
        "  FROM p JOIN obs o USING (event_type)) "
        "SELECT x.event_type, "
        "CAST(SUM(x.extreme) AS BIGINT) AS n_extreme, "
        f"CAST({_PERM_B} AS BIGINT) AS n_perms, "
        # exact observed cross-term as sign + hi/lo int64 split (the
        # x_stats_moments discipline — a double cast of a >2^53
        # integer rounds differently across engines); DIV/% run on the
        # NON-NEGATIVE abs so floor and trunc agree
        "CAST(MAX(CASE WHEN o.s1 * o.n0 - o.s0 * o.n1 < 0 THEN -1 "
        "  WHEN o.s1 * o.n0 - o.s0 * o.n1 > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "  AS obs_sign, "
        "CAST(MAX(abs(o.s1 * o.n0 - o.s0 * o.n1) // 1073741824) AS BIGINT) "
        "  AS obs_hi, "
        "CAST(MAX(abs(o.s1 * o.n0 - o.s0 * o.n1) % 1073741824) AS BIGINT) "
        "  AS obs_lo "
        "FROM x JOIN obs o USING (event_type) GROUP BY x.event_type"
    ),
)
def stats_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test per event type — completing the resampling
    trio (x_stats_bootstrap = CI by resampling rows, x_stats_jackknife
    = bias/variance by leave-one-out; this = the null DISTRIBUTION by
    relabeling): the observed mean-spend gap between the Knuth-split
    variants is compared against 32 deterministic label permutations
    (salt b re-hashes the SAME users into new halves), and n_extreme
    counts permutations at least as extreme — the exact machinery of a
    permutation p-value (p ~ n_extreme/B), with B fixed and
    deterministic so the whole thing hash-checks.

    No division anywhere: |s1/n1 - s0/n0| >= |S1/N1 - S0/N0| is
    cross-multiplied to |s1*n0 - s0*n1| * (N1*N0) >= |S1*N0 - S0*N1| *
    (n1*n0) in DECIMAL(38,0)/HUGEINT — exact at any SF (sums of cents
    times counts stay under 38 digits past SF 100).  The observed
    cross-term is emitted as its exact integer cast to double.

    Scale shape: the permutation explode is x32 on the FACT STREAM but
    feeds one map-side-combined hash aggregate to (type, b) grain — no
    shuffle grows 32x, only partial-aggregate input; at 100 TB one
    would push the salt loop into the partial aggregate the same way.
    The observed row joins back by type (|types| rows, broadcast)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    d38 = "decimal(38,0)"

    def halves(df, label_expr):
        one = label_expr == 1
        return [
            F.sum(F.when(one, F.col("cents"))).cast(d38).alias("s1"),
            F.count(F.when(one, 1)).cast(d38).alias("n1"),
            F.sum(F.when(~one, F.col("cents"))).cast(d38).alias("s0"),
            F.count(F.when(~one, 1)).cast(d38).alias("n0"),
        ]

    # ONE scan serves observed and permuted: the observed split IS salt
    # b = 0 ((user_id + 0) * K % 2 == user_id * K % 2), so exploding
    # b over 0..B and peeling b = 0 after the aggregate halves the
    # fact-table passes (plan-pinned in tests/test_plans.py)
    ab = (
        e.select(
            "event_type",
            "user_id",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_B))).alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(*halves(e, (F.col("user_id") + F.col("b")) * KNUTH % 2))
        .localCheckpoint(eager=False)
    )
    obs = ab.filter(F.col("b") == 0).drop("b")
    p = ab.filter(F.col("b") >= 1)
    o = obs.select(
        "event_type",
        F.col("s1").alias("os1"),
        F.col("n1").alias("on1"),
        F.col("s0").alias("os0"),
        F.col("n0").alias("on0"),
    )
    x = p.join(F.broadcast(o), "event_type").select(
        "event_type",
        "os1",
        "on1",
        "os0",
        "on0",
        F.when(
            F.abs(F.col("s1") * F.col("n0") - F.col("s0") * F.col("n1"))
            * (F.col("on1") * F.col("on0"))
            >= F.abs(F.col("os1") * F.col("on0") - F.col("os0") * F.col("on1"))
            * (F.col("n1") * F.col("n0")),
            1,
        )
        .otherwise(0)
        .alias("extreme"),
    )
    cross = F.col("os1") * F.col("on0") - F.col("os0") * F.col("on1")
    return x.groupBy("event_type").agg(
        F.sum("extreme").cast("long").alias("n_extreme"),
        F.lit(_PERM_B).cast("long").alias("n_perms"),
        F.max(F.signum(cross).cast("long")).cast("long").alias("obs_sign"),
        F.max(F.expr("abs(os1 * on0 - os0 * on1) DIV 1073741824"))
        .cast("long")
        .alias("obs_hi"),
        F.max(F.abs(cross) % 1073741824).cast("long").alias("obs_lo"),
    )
