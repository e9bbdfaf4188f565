"""§2.4 Aggregations.

Reference grounding (SURVEY.md §2.4 `[public-api]`): RowCounter /
CellCounter stock tools, TableReducer sum jobs, the canonical MR
word-count.  Spark executes all of these as partial+final hash
aggregates (map-side combine is automatic — the Combiner the reference
had to hand-write).  ROLLUP/CUBE/approx-distinct are north-star
additions (BASELINE.json:6).

All float sums use the decimal sandwich (functions/determinism.py) so
results are bit-identical at any partition count — the property that
makes them hash-match DuckDB and makes reruns stable on a 1000-executor
cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_tables
from ..functions.determinism import (
    KNUTH,
    dec_sum,
    hex_int,
    hex_int_duck,
    split_sum_parts,
    split_sum_total,
)
from ..registry import query


@query("agg_rowcount", category="agg", oracle="SELECT COUNT(*) AS n FROM lineitem")
def agg_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RowCounter: total row count as a 1-row DataFrame."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@query(
    "agg_cellcount",
    category="agg",
    oracle=(
        "SELECT "
        + ", ".join(f"COUNT({c}) AS cnt_{c}" for c in _EVENT_COLS)
        + " FROM events"
    ),
)
def agg_cellcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CellCounter: non-null cell count per column."""
    return load_table(spark, sf_dir, "events").agg(
        *[F.count(c).alias(f"cnt_{c}") for c in _EVENT_COLS]
    )


@query(
    "agg_group_sum",
    category="agg",
    oracle=(
        "SELECT l_returnflag, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def agg_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical TableReducer sum: quantity per return flag."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(dec_sum("l_quantity", "sum_qty"))
    )


@query(
    "agg_multi",
    category="agg",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price, "
        "CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus"
    ),
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-accumulator aggregate with derived exprs.

    r13: the seven decimal sums accumulate as split hi/lo LONG sums
    (determinism.split_sum_parts — bit-equal to the decimal sandwich at
    any corpus size, see x_stats_corr).  The addends are exact scaled
    integers: quantity/price/discount at scale 2, and the disc_price /
    charge products built from the SAME decimal(18,6)-cast doubles the
    oracle casts (2-dp operand products are exact at scale <= 6 and a
    double's |error| ~1e-11 is far inside the cast's 5e-7 half-step, so
    the cast recovers the exact product on both engines — the SURVEY
    scale-6 rule), scaled to integers exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    pre = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long").alias("qty_c"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long").alias("disc_c"),
        (disc_price.cast("decimal(18,6)") * 1_000_000)
        .cast("long")
        .alias("dprice_c"),
        (charge.cast("decimal(18,6)") * 1_000_000).cast("long").alias("charge_c"),
    )
    aggs = [
        F.count("*").alias("count_order"),
        F.count("qty_c").alias("n_qty"),
        F.count("price_c").alias("n_price"),
        F.count("disc_c").alias("n_disc"),
    ]
    for c, a in (
        ("qty_c", "sum_qty"),
        ("price_c", "sum_base_price"),
        ("dprice_c", "sum_disc_price"),
        ("charge_c", "sum_charge"),
        ("disc_c", "sum_disc"),
    ):
        aggs += split_sum_parts(c, a)
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(*aggs)
        .select(
            "l_returnflag",
            "l_linestatus",
            split_sum_total("sum_qty", 2),
            split_sum_total("sum_base_price", 2),
            split_sum_total("sum_disc_price", 6),
            split_sum_total("sum_charge", 6),
            (split_sum_total("sum_qty", 2) / F.col("n_qty")).alias("avg_qty"),
            (split_sum_total("sum_base_price", 2) / F.col("n_price")).alias("avg_price"),
            (split_sum_total("sum_disc", 2) / F.col("n_disc")).alias("avg_disc"),
            "count_order",
        )
    )


@query(
    "agg_distinct",
    category="agg",
    oracle=(
        "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count per group (two-stage MR job in the genre)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_cust"))
    )


@query("agg_approx_distinct", category="agg", oracle=None)  # rows-only: HLL++ != DuckDB's sketch
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users (HLL++): constant memory at 100 TB,
    where exact countDistinct would shuffle every key.  Full-hash twin:
    x_agg_distinct_kmv (a portable k-minimum-values sketch)."""
    return load_table(spark, sf_dir, "events").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


_KMV_K = 64  # sketch size; relative error ~ 1/sqrt(k) ~ 12%
_KMV_DOMAIN = 1 << 48  # 12 hex chars of md5


@query(
    "x_agg_distinct_kmv",
    category="agg",
    oracle=(
        "WITH d AS (SELECT DISTINCT l_returnflag AS grp, l_partkey FROM lineitem), "
        "hd AS (SELECT DISTINCT grp, "
        f"  {hex_int_duck('md5(CAST(l_partkey AS VARCHAR))', 1, 12)} AS h FROM d), "
        "rk AS (SELECT grp, h, row_number() OVER ("
        "  PARTITION BY grp ORDER BY h) AS rn FROM hd), "
        f"kth AS (SELECT grp, MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS h_k, "
        f"  CAST(COUNT(*) AS BIGINT) AS n_seen "
        f"  FROM rk WHERE rn <= {_KMV_K} GROUP BY grp), "
        "tru AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_true FROM d GROUP BY grp) "
        "SELECT t.grp, t.n_true, k.h_k, "
        "CASE WHEN k.h_k IS NULL THEN k.n_seen "
        f"ELSE CAST({_KMV_K - 1} AS BIGINT) * {_KMV_DOMAIN} // k.h_k END AS est_kmv "
        "FROM tru t JOIN kth k ON t.grp = k.grp"
    ),
)
def agg_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_approx_distinct's full-hash twin (the portable-twin strategy
    applied to the sketch family): a k-minimum-values distinct-count
    sketch (Bar-Yossef et al. 2002) — keep the k smallest 48-bit md5
    hashes of the distinct values per group; the k-th minimum estimates
    density, n̂ = (k-1)·2^48 / h_k.  Unlike HLL++ the whole sketch is
    engine-portable exact integers (md5 hex parsed base-16, floor
    division for the estimate), so estimate AND sketch content
    hash-check against DuckDB; true counts ride along so the ~1/√k
    error is visible.

    Scale shape: distinct → per-group bottom-k window (Spark rewrites
    the rank<=k filter to WindowGroupLimit: per-partition partial
    top-k BEFORE the shuffle) → |groups|-row join.  KMV sketches also
    MERGE by k-smallest-of-union — the same partial-aggregate shape
    HLL uses, so the 100 TB story (combine per partition, merge tiny
    states) is identical, with the k-th-minimum here materialized via
    the window for oracle checkability."""
    d = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_returnflag").alias("grp"), "l_partkey")
        .distinct()
    )
    hd = d.select(
        "grp",
        hex_int(F.md5(F.col("l_partkey").cast("string")), 1, 12).alias("h"),
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    kth = (
        hd.select("grp", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("grp")
        .agg(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("h_k"),
            F.count("*").cast("long").alias("n_seen"),
        )
    )
    tru = d.groupBy("grp").agg(F.count("*").cast("long").alias("n_true"))
    # Undersized sketch (< k distinct hashes in the group): the sketch
    # holds EVERY hash, so the exact count n_seen is the estimate — the
    # standard KMV fallback; without it h_k is NULL and the estimate
    # silently nulls out.
    return tru.join(kth, "grp").select(
        "grp",
        "n_true",
        "h_k",
        F.expr(
            "CASE WHEN h_k IS NULL THEN n_seen "
            f"ELSE CAST({_KMV_K - 1} AS BIGINT) * {_KMV_DOMAIN} DIV h_k END"
        ).alias("est_kmv"),
    )


@query(
    "agg_rollup",
    category="agg",
    oracle=(
        "SELECT n_name, o_orderstatus, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
        "COUNT(*) AS cnt "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY ROLLUP(n_name, o_orderstatus)"
    ),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals: (nation, status) -> nation -> grand total."""
    orders, customer, nation = load_tables(spark, sf_dir, "orders", "customer", "nation")
    return (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_name", "o_orderstatus")
        .agg(dec_sum("o_totalprice", "revenue"), F.count("*").alias("cnt"))
    )


@query(
    "agg_cube",
    category="agg",
    oracle=(
        "SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY CUBE(event_type, user_bucket)"
    ),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All marginal totals over (event_type, user bucket)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 10
    )
    return ev.cube("event_type", "user_bucket").agg(
        F.count("*").alias("cnt"), dec_sum("value", "sum_value", scale=6)
    )


@query(
    "wordcount",
    category="agg",
    oracle=(
        "SELECT token, COUNT(*) AS cnt FROM "
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) "
        "GROUP BY token"
    ),
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical MapReduce job, over documents.text."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "x_agg_mode",
    category="agg",
    oracle=(
        "WITH cnt AS ("
        "  SELECT l_returnflag, l_shipmode_proxy, COUNT(*) AS c FROM ("
        "    SELECT l_returnflag, l_linestatus || '-' || CAST(l_linenumber % 3 AS VARCHAR) "
        "    AS l_shipmode_proxy FROM lineitem) GROUP BY 1, 2), "
        "rk AS ("
        "  SELECT l_returnflag, l_shipmode_proxy, c, "
        "  row_number() OVER (PARTITION BY l_returnflag "
        "                     ORDER BY c DESC, l_shipmode_proxy) AS rn FROM cnt) "
        "SELECT l_returnflag, l_shipmode_proxy AS mode_value, c AS mode_count "
        "FROM rk WHERE rn = 1"
    ),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group statistical MODE with a deterministic tie-break (count
    desc, then value asc) — the argmax-of-counts pattern.  Two-level
    shape: a partial+final count aggregate (map-side combine shrinks
    the shuffle to distinct (group, value) pairs), then a row_number
    window over the already-tiny count table.  Never a collect, never a
    re-scan; at 100 TB the window input is |groups| x |values|, not
    |rows|."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.concat(
            F.col("l_linestatus"), F.lit("-"), (F.col("l_linenumber") % 3).cast("string")
        ).alias("l_shipmode_proxy"),
    )
    cnt = li.groupBy("l_returnflag", "l_shipmode_proxy").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_shipmode_proxy"))
    return (
        cnt.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_shipmode_proxy").alias("mode_value"),
            F.col("c").alias("mode_count"),
        )
    )


_QBK_K = 128  # bottom-k sample size; quantile rank error ~ 1/sqrt(k)


@query(
    "x_agg_quantile_bottomk",
    category="agg",
    oracle=(
        "WITH e AS (SELECT event_type AS grp, event_id, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "h AS (SELECT grp, event_id, cents, "
        f"  {hex_int_duck('md5(CAST(event_id AS VARCHAR))', 1, 12)} AS hh FROM e), "
        "rk AS (SELECT grp, event_id, cents, row_number() OVER ("
        "  PARTITION BY grp ORDER BY hh, event_id) AS rn FROM h), "
        f"samp AS (SELECT grp, event_id, cents FROM rk WHERE rn <= {_QBK_K}), "
        "sv AS (SELECT grp, cents, row_number() OVER ("
        "  PARTITION BY grp ORDER BY cents, event_id) AS vr, "
        "  COUNT(*) OVER (PARTITION BY grp) AS ns FROM samp), "
        "est AS (SELECT grp, CAST(MAX(ns) AS BIGINT) AS k_used, "
        "  MAX(CASE WHEN vr = (ns + 3) // 4 THEN cents END) AS est_p25, "
        "  MAX(CASE WHEN vr = (ns + 1) // 2 THEN cents END) AS est_p50, "
        "  MAX(CASE WHEN vr = (3 * ns + 3) // 4 THEN cents END) AS est_p75 "
        "  FROM sv GROUP BY grp), "
        "fv AS (SELECT grp, cents, row_number() OVER ("
        "  PARTITION BY grp ORDER BY cents, event_id) AS vr, "
        "  COUNT(*) OVER (PARTITION BY grp) AS n FROM e), "
        "tru AS (SELECT grp, CAST(MAX(n) AS BIGINT) AS n, "
        "  MAX(CASE WHEN vr = (n + 3) // 4 THEN cents END) AS true_p25, "
        "  MAX(CASE WHEN vr = (n + 1) // 2 THEN cents END) AS true_p50, "
        "  MAX(CASE WHEN vr = (3 * n + 3) // 4 THEN cents END) AS true_p75 "
        "  FROM fv GROUP BY grp) "
        "SELECT t.grp, t.n, e.k_used, e.est_p25, e.est_p50, e.est_p75, "
        "t.true_p25, t.true_p50, t.true_p75 "
        "FROM tru t JOIN est e ON t.grp = e.grp"
    ),
)
def agg_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch by BOTTOM-K HASH SAMPLING (Cohen &
    Kaplan's bottom-k sketches): per group keep the k = 128 rows with
    the smallest 48-bit md5 hash of the row key — a uniform sample
    whose merge rule is k-smallest-of-union, the SAME partial-
    aggregate shape as x_agg_distinct_kmv — then read p25/p50/p75 off
    the sample's order statistics (ceil(p*k)-th, the lower empirical
    quantile).  This is the engine-portable cousin of
    percentile_approx/t-digest: every hash, rank and selected value is
    exact integer arithmetic, so the sketch AND its estimates
    hash-check against DuckDB; exact quantiles ride along so the
    ~1.36/sqrt(k) DKW rank error stays visible (x_agg_distinct_kmv's
    n_true discipline).

    Scale shape: the sample comes from a rank<=k filter Spark rewrites
    to WindowGroupLimit (per-partition partial bottom-k BEFORE the
    shuffle — k rows per partition per group cross the wire, never the
    corpus); the quantile read is a window over |groups| x k rows.
    The exact side is the audit, not the product: at 100 TB you ship
    only the sketch path and drop the full-sort branch."""
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    h = e.select(
        "grp",
        "event_id",
        "cents",
        hex_int(F.md5(F.col("event_id").cast("string")), 1, 12).alias("hh"),
    )
    ws = Window.partitionBy("grp").orderBy("hh", "event_id")
    samp = (
        h.select("grp", "event_id", "cents", F.row_number().over(ws).alias("rn"))
        .filter(F.col("rn") <= _QBK_K)
        .select("grp", "event_id", "cents")
    )

    # quantile position by integer ceil: ceil(p*n) spelled (num) DIV den
    # with num/den chosen per p — e.g. ceil(n/4) = (n + 3) DIV 4
    def _qsel(num: str, den: int):
        return F.max(
            F.when(F.col("vr") == F.expr(f"({num}) DIV {den}"), F.col("cents"))
        )

    wv = Window.partitionBy("grp").orderBy("cents", "event_id")
    wc = Window.partitionBy("grp")
    sv = samp.select(
        "grp",
        "cents",
        F.row_number().over(wv).alias("vr"),
        F.count("*").over(wc).alias("ns"),
    )
    est = sv.groupBy("grp").agg(
        F.max("ns").cast("long").alias("k_used"),
        _qsel("ns + 3", 4).alias("est_p25"),
        _qsel("ns + 1", 2).alias("est_p50"),
        _qsel("3 * ns + 3", 4).alias("est_p75"),
    )
    fv = e.select(
        "grp",
        "cents",
        F.row_number().over(wv).alias("vr"),
        F.count("*").over(wc).alias("n"),
    )
    tru = fv.groupBy("grp").agg(
        F.max("n").cast("long").alias("n"),
        _qsel("n + 3", 4).alias("true_p25"),
        _qsel("n + 1", 2).alias("true_p50"),
        _qsel("3 * n + 3", 4).alias("true_p75"),
    )
    return tru.join(est, "grp").select(
        "grp",
        "n",
        "k_used",
        "est_p25",
        "est_p50",
        "est_p75",
        "true_p25",
        "true_p50",
        "true_p75",
    )


@query(
    "x_agg_kmv_merge",
    category="agg",
    oracle=(
        # DIRECT path: global bottom-k over all distinct hashes — the
        # Spark side merges per-shard sketches instead, so the hash
        # match IS the proof of the KMV merge identity.
        "WITH d AS (SELECT DISTINCT l_partkey FROM lineitem), "
        "hd AS (SELECT DISTINCT "
        f"  {hex_int_duck('md5(CAST(l_partkey AS VARCHAR))', 1, 12)} AS h FROM d), "
        "rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hd), "
        f"kth AS (SELECT MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS h_k, "
        f"  CAST(COUNT(*) AS BIGINT) AS n_sketch FROM rk WHERE rn <= {_KMV_K}), "
        "tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM d), "
        "src AS (SELECT CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) "
        "  AS n_shards FROM lineitem) "
        "SELECT src.n_shards, tru.n_true, kth.n_sketch, kth.h_k, "
        "CASE WHEN kth.h_k IS NULL THEN kth.n_sketch "
        f"ELSE CAST({_KMV_K - 1} AS BIGINT) * {_KMV_DOMAIN} // kth.h_k END "
        "  AS est_kmv "
        "FROM kth CROSS JOIN tru CROSS JOIN src"
    ),
)
def agg_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGE — the property that makes sketches the 100 TB
    distinct-count answer: each shard (l_returnflag here standing in
    for an executor/partition/day) builds its own bottom-k sketch
    INDEPENDENTLY, and the global estimate comes from merging the tiny
    sketches (k smallest of their union), never from re-scanning the
    data.  Correctness of the merge is an exact identity, not an
    approximation: any hash among the k globally-smallest is, a
    fortiori, among the k smallest of every shard that contains it, so
    bottom-k(union of per-shard bottom-k) == bottom-k(everything).
    The oracle computes the DIRECT global sketch (no shard step), so
    the driver hash match IS a proof of the identity on this corpus —
    the same role the stage-equivalence property test plays for
    x_pipeline_pretrain_export.

    Scale shape: per-shard bottom-k via the WindowGroupLimit rewrite
    (per-partition partial top-k BEFORE the shuffle); the merge input
    is <= n_shards * k rows of one long each — the whole point; a
    second window over that tiny relation picks the global k.  At real
    scale shards are partitions and the merge is a treeReduce-shaped
    aggregate; the dataflow here keeps every intermediate a DataFrame
    so the oracle can see it."""
    li = load_table(spark, sf_dir, "lineitem")
    hd = li.select(
        F.col("l_returnflag").alias("shard"),
        hex_int(F.md5(F.col("l_partkey").cast("string")), 1, 12).alias("h"),
    ).distinct()
    # n_true counts distinct KEYS (pre-hash), matching the oracle's
    # COUNT(*) over distinct l_partkey — counting distinct hashes
    # instead would silently under-count by one per 48-bit collision
    # (~n^2/2^49, reachable at large SF) and diverge the engines.
    tru = (
        li.select("l_partkey")
        .distinct()
        .agg(F.count("*").cast("long").alias("n_true"))
    )
    w_shard = Window.partitionBy("shard").orderBy("h")
    shard_sketch = (
        hd.select("shard", "h", F.row_number().over(w_shard).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .select("h")
    )
    # merge = k smallest DISTINCT hashes of the sketch union (the same
    # hash can enter via several shards — distinct first)
    w_glob = Window.orderBy("h")
    merged = (
        shard_sketch.distinct()
        .select("h", F.row_number().over(w_glob).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .agg(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("h_k"),
            F.count("*").cast("long").alias("n_sketch"),
        )
    )
    src = li.agg(
        F.countDistinct("l_returnflag").cast("long").alias("n_shards")
    )
    return (
        merged.crossJoin(F.broadcast(tru))
        .crossJoin(F.broadcast(src))
        .select(
            "n_shards",
            "n_true",
            "n_sketch",
            "h_k",
            F.expr(
                "CASE WHEN h_k IS NULL THEN n_sketch "
                f"ELSE CAST({_KMV_K - 1} AS BIGINT) * {_KMV_DOMAIN} DIV h_k END"
            ).alias("est_kmv"),
        )
    )


# Shared by the KMV intersect and difference keys: each side's distinct
# hash set (A and R return flags) and theta, the k-th smallest hash of
# their union, with the union sketch's size.
_KMV_THETA_SQL = (
    "WITH a AS (SELECT DISTINCT l_partkey AS k FROM lineitem "
    "  WHERE l_returnflag = 'A'), "
    "b AS (SELECT DISTINCT l_partkey AS k FROM lineitem "
    "  WHERE l_returnflag = 'R'), "
    f"ha AS (SELECT DISTINCT {hex_int_duck('md5(CAST(k AS VARCHAR))', 1, 12)} "
    "  AS h FROM a), "
    f"hb AS (SELECT DISTINCT {hex_int_duck('md5(CAST(k AS VARCHAR))', 1, 12)} "
    "  AS h FROM b), "
    "u AS (SELECT h FROM ha UNION SELECT h FROM hb), "
    "rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u), "
    f"th AS (SELECT MAX(h) AS theta, CAST(COUNT(*) AS BIGINT) AS n_union_sk "
    f"  FROM rk WHERE rn <= {_KMV_K}), "
)


def _kmv_theta(li: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Spark twin of _KMV_THETA_SQL: (ha, hb, th)."""

    def side(flag: str) -> DataFrame:
        return (
            li.filter(F.col("l_returnflag") == flag)
            .select("l_partkey")
            .distinct()
            .select(hex_int(F.md5(F.col("l_partkey").cast("string")), 1, 12).alias("h"))
            .distinct()
        )

    ha = side("A").localCheckpoint(eager=False)
    hb = side("R").localCheckpoint(eager=False)
    th = (
        ha.unionByName(hb)
        .distinct()
        .select("h", F.row_number().over(Window.orderBy("h")).alias("rn"))
        .filter(F.col("rn") <= _KMV_K)
        .agg(
            F.max("h").alias("theta"),
            F.count("*").cast("long").alias("n_union_sk"),
        )
    )
    return ha, hb, th


@query(
    "x_agg_kmv_intersect",
    category="agg",
    oracle=(
        # Direct recompute of the whole estimator chain: per-side
        # distinct hash sets, union bottom-k and its theta, the common
        # hashes below theta, and the exact true intersection riding
        # along for the error-visibility column.
        _KMV_THETA_SQL
        + "com AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common "
        "  FROM ha JOIN hb USING (h) CROSS JOIN th WHERE ha.h <= th.theta), "
        "tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_inter "
        "  FROM a JOIN b USING (k)), "
        "est AS (SELECT th.n_union_sk, th.theta, com.n_common, "
        f"  CASE WHEN th.n_union_sk < {_KMV_K} THEN com.n_common "
        f"  ELSE CAST(CAST(com.n_common AS HUGEINT) * {_KMV_K - 1} "
        f"    * {_KMV_DOMAIN} // (CAST({_KMV_K} AS HUGEINT) * th.theta) "
        "    AS BIGINT) END AS est_inter "
        "  FROM th CROSS JOIN com) "
        "SELECT e.n_union_sk, e.theta, e.n_common, e.est_inter, "
        "  t.n_true_inter FROM est e CROSS JOIN tru t"
    ),
)
def agg_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-INTERSECTION estimation — the theta-sketch trick that
    completes the sketch algebra (x_agg_distinct_kmv = cardinality,
    x_agg_kmv_merge = union; this = intersection): take theta = the
    k-th smallest hash of the UNION sketch, count the hashes BOTH
    sides hold below theta, and scale — est = n_common * (k-1) *
    domain / (k * theta), i.e. the common density inside the uniform
    window [0, theta) extrapolated to the full domain.  This is how
    "how many documents do crawls A and B share?" is answered at
    100 TB without ever joining A against B: each side keeps a k-long
    sketch, the intersection estimate needs only the two sketches.
    The exact true intersection rides along so the ~1/sqrt(k) error
    stays visible, and the whole chain (hashes, theta, common count,
    floor-division estimate) is engine-portable exact integers —
    HUGEINT on DuckDB, DECIMAL(38,0) on Spark, per the pinned
    division rule.  Undersized union (< k hashes): the sketches hold
    everything, so n_common IS the exact intersection (standard KMV
    fallback).

    Scale shape: one distinct + bottom-k window per side (the
    WindowGroupLimit partial-top-k rewrite), a |2k|-row union window,
    and a k-bounded hash equi-join — nothing corpus x corpus; the
    1-row theta scalar broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    ha, hb, th = _kmv_theta(li)
    com = (
        ha.join(hb, "h")
        .crossJoin(F.broadcast(th.select("theta")))
        .filter(F.col("h") <= F.col("theta"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    tru = (
        li.filter(F.col("l_returnflag") == "A")
        .select("l_partkey")
        .distinct()
        .join(
            li.filter(F.col("l_returnflag") == "R")
            .select("l_partkey")
            .distinct(),
            "l_partkey",
        )
        .agg(F.count("*").cast("long").alias("n_true_inter"))
    )
    return (
        th.crossJoin(F.broadcast(com))
        .crossJoin(F.broadcast(tru))
        .select(
            "n_union_sk",
            "theta",
            "n_common",
            F.expr(
                f"CASE WHEN n_union_sk < {_KMV_K} THEN n_common "
                f"ELSE CAST(CAST(n_common AS DECIMAL(38,0)) * {_KMV_K - 1} "
                f"  * {_KMV_DOMAIN} DIV (CAST({_KMV_K} AS DECIMAL(38,0)) "
                "  * theta) AS BIGINT) END"
            ).alias("est_inter"),
            "n_true_inter",
        )
    )


@query(
    "x_agg_kmv_difference",
    category="agg",
    oracle=(
        _KMV_THETA_SQL
        + "onl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_only "
        "  FROM ha CROSS JOIN th WHERE ha.h <= th.theta "
        "  AND NOT EXISTS (SELECT 1 FROM hb WHERE hb.h = ha.h)), "
        "tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_diff FROM a "
        "  WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.k = a.k)), "
        "est AS (SELECT th.n_union_sk, th.theta, onl.n_only, "
        f"  CASE WHEN th.n_union_sk < {_KMV_K} THEN onl.n_only "
        f"  ELSE CAST(CAST(onl.n_only AS HUGEINT) * {_KMV_K - 1} "
        f"    * {_KMV_DOMAIN} // (CAST({_KMV_K} AS HUGEINT) * th.theta) "
        "    AS BIGINT) END AS est_diff "
        "  FROM th CROSS JOIN onl) "
        "SELECT e.n_union_sk, e.theta, e.n_only, e.est_diff, "
        "  t.n_true_diff FROM est e CROSS JOIN tru t"
    ),
)
def agg_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-DIFFERENCE estimation — the last leg of the theta-sketch
    algebra (cardinality / union / intersection shipped as
    x_agg_distinct_kmv / x_agg_kmv_merge / x_agg_kmv_intersect; this is
    A-and-not-B): theta = the k-th smallest hash of the UNION sketch,
    count A's hashes below theta that B does NOT hold (a k-bounded
    ANTI-join instead of the intersect's equi-join), scale by the same
    uniform-window extrapolation est = n_only * (k-1) * domain /
    (k * theta).  The "how many documents did the new crawl ADD?"
    question at 100 TB, answered from two k-long sketches without
    joining the crawls.  Exact true difference rides along for error
    visibility; the whole chain is engine-portable exact integers
    (HUGEINT / DECIMAL(38,0) floor division, the pinned rule).
    Undersized union (< k hashes): the sketches are lossless, so
    n_only IS the exact difference.

    Scale shape: identical to the intersect twin — one distinct +
    bottom-k window per side, a |2k|-row union window, one k-bounded
    anti-join; the 1-row theta scalar broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    ha, hb, th = _kmv_theta(li)
    onl = (
        ha.join(hb, "h", "left_anti")
        .crossJoin(F.broadcast(th.select("theta")))
        .filter(F.col("h") <= F.col("theta"))
        .agg(F.count("*").cast("long").alias("n_only"))
    )
    tru = (
        li.filter(F.col("l_returnflag") == "A")
        .select("l_partkey")
        .distinct()
        .join(
            li.filter(F.col("l_returnflag") == "R").select("l_partkey").distinct(),
            "l_partkey",
            "left_anti",
        )
        .agg(F.count("*").cast("long").alias("n_true_diff"))
    )
    return (
        th.crossJoin(F.broadcast(onl))
        .crossJoin(F.broadcast(tru))
        .select(
            "n_union_sk",
            "theta",
            "n_only",
            F.expr(
                f"CASE WHEN n_union_sk < {_KMV_K} THEN n_only "
                f"ELSE CAST(CAST(n_only AS DECIMAL(38,0)) * {_KMV_K - 1} "
                f"  * {_KMV_DOMAIN} DIV (CAST({_KMV_K} AS DECIMAL(38,0)) "
                "  * theta) AS BIGINT) END"
            ).alias("est_diff"),
            "n_true_diff",
        )
    )


@query(
    "x_agg_hdr_quantiles",
    category="agg",
    oracle=(
        "WITH c AS (SELECT o_orderpriority AS prio, "
        "  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM orders), "
        "bk AS (SELECT prio, length(bin(cents)) - 1 AS b, "
        "  (cents >> greatest(length(bin(cents)) - 5, 0)) & 15 AS sub FROM c), "
        "h AS (SELECT prio, b, sub, CAST(COUNT(*) AS BIGINT) AS cnt "
        "  FROM bk GROUP BY 1, 2, 3), "
        "cu AS (SELECT prio, b, sub, cnt, "
        "  SUM(cnt) OVER (PARTITION BY prio ORDER BY b, sub) AS cum, "
        "  SUM(cnt) OVER (PARTITION BY prio) AS n FROM h), "
        "p AS (SELECT cu.*, t.pct FROM cu, (VALUES (50), (95), (99)) AS t(pct)) "
        "SELECT prio AS o_orderpriority, CAST(pct AS BIGINT) AS pct, "
        "CAST(CASE WHEN b >= 4 THEN (16 + sub) << (b - 4) ELSE sub END "
        "  AS BIGINT) AS est_cents, "
        "CAST(n AS BIGINT) AS n_rows "
        "FROM p WHERE cum >= (n * pct + 99) // 100 "
        "AND cum - cnt < (n * pct + 99) // 100"
    ),
)
def agg_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style quantile sketch (power-of-two histogram with 16
    sub-buckets — the HdrHistogram/DDSketch family's integer-exact
    member): per order priority, estimate p50/p95/p99 of the order
    value from a (exponent, sub-bucket) histogram.  Bucket id is pure
    integer arithmetic — b = floor(log2(cents)) via length(bin(cents)),
    sub = the next four mantissa bits — so both engines bucket
    BIT-IDENTICALLY (no float log at bucket boundaries), and the
    estimate (the bucket's lower bound, (16+sub) << (b-4)) carries a
    guaranteed relative error < 1/16.  The sub-bucket shift is clamped
    at zero (greatest(b-4, 0)) identically on both engines, so values
    in [0, 16) land in exact single-value buckets (est = the value,
    zero error) instead of driving a negative shift count that Spark
    masks (count & 63) and DuckDB rejects — the sketch's domain is all
    non-negative bigints, enforced by arithmetic rather than by the
    corpus happening to stay large (ADVICE r11).  Rank thresholds are integer
    ceil(n*pct/100); the answered bucket is the unique one whose
    cumulative count straddles the threshold.

    This is the quantile twin of the KMV distinct algebra: the sketch
    is MERGEABLE (bucket counts add — any partition/shard split of the
    corpus merges by summing histograms, proven the same way the KMV
    merge rule is), so at 100 TB it is ONE map-side-combined aggregate
    of ~1024 possible buckets per group plus a per-group window over
    those bucket rows — never a sort of the corpus, never a
    percentile_approx black box.  The error-bound property
    (estimate <= exact < estimate * (1 + 1/16)) is asserted in
    tests/test_properties.py, and the streaming mirror
    (streaming/mirrors.py) executes the merge through four real
    foreachBatch micro-batches."""
    return hdr_quantiles(spark, hdr_histogram(_hdr_cents(spark, sf_dir)))


def _hdr_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"), cents.alias("cents")
    )


def hdr_histogram(c: DataFrame) -> DataFrame:
    """(prio, cents) -> the partial HDR sketch (prio, b, sub, cnt).
    Pure integer bucketing; partials from ANY corpus split merge by
    summing cnt (executed by x_agg_hdr_merge and the streaming
    mirror)."""
    b = F.length(F.bin(F.col("cents"))) - 1
    sub = F.expr(
        "shiftright(cents, CAST(greatest(length(bin(cents)) - 5, 0) AS INT)) & 15"
    )
    return (
        c.select("prio", b.alias("b"), sub.alias("sub"))
        .groupBy("prio", "b", "sub")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hdr_quantiles(spark: SparkSession, h: DataFrame) -> DataFrame:
    """Derive p50/p95/p99 per group from a (prio, b, sub, cnt) sketch:
    per-group cumulative window over the <=1024 bucket rows, integer
    rank thresholds, the unique straddling bucket answers."""
    w = Window.partitionBy("prio").orderBy("b", "sub")
    wn = Window.partitionBy("prio")
    cu = h.select(
        "prio",
        "b",
        "sub",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    p = cu.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))).alias("pct")
            )
        )
    )
    thr = F.expr("(n * pct + 99) DIV 100")
    return (
        p.filter((F.col("cum") >= thr) & (F.col("cum") - F.col("cnt") < thr))
        .select(
            F.col("prio").alias("o_orderpriority"),
            F.col("pct").cast("long").alias("pct"),
            F.expr(
                "CAST(CASE WHEN b >= 4 THEN shiftleft(16 + sub, CAST(b - 4 AS INT)) "
                "ELSE sub END AS BIGINT)"
            ).alias("est_cents"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )


_HDR_MERGE_ORACLE = (
    "WITH c AS (SELECT o_orderpriority AS prio, "
    "  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
    f"  (o_orderkey * {KNUTH}) % 2 AS half FROM orders), "
    "bk AS (SELECT prio, half, length(bin(cents)) - 1 AS b, "
    "  (cents >> greatest(length(bin(cents)) - 5, 0)) & 15 AS sub FROM c), "
    "h_half AS (SELECT prio, half, b, sub, COUNT(*) AS cnt "
    "  FROM bk GROUP BY 1, 2, 3, 4), "
    "h AS (SELECT prio, b, sub, CAST(SUM(cnt) AS BIGINT) AS cnt "
    "  FROM h_half GROUP BY 1, 2, 3), "
    "cu AS (SELECT prio, b, sub, cnt, "
    "  SUM(cnt) OVER (PARTITION BY prio ORDER BY b, sub) AS cum, "
    "  SUM(cnt) OVER (PARTITION BY prio) AS n FROM h), "
    "p AS (SELECT cu.*, t.pct FROM cu, (VALUES (50), (95), (99)) AS t(pct)) "
    "SELECT prio AS o_orderpriority, CAST(pct AS BIGINT) AS pct, "
    "CAST(CASE WHEN b >= 4 THEN (16 + sub) << (b - 4) ELSE sub END "
    "  AS BIGINT) AS est_cents, "
    "CAST(n AS BIGINT) AS n_rows "
    "FROM p WHERE cum >= (n * pct + 99) // 100 "
    "AND cum - cnt < (n * pct + 99) // 100"
)


@query("x_agg_hdr_merge", category="agg", oracle=_HDR_MERGE_ORACLE)
def agg_hdr_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HDR sketch's MERGE rule as a driver-checkable query (the
    x_agg_kmv_merge discipline applied to quantiles): two disjoint
    corpus shards (a deterministic Knuth hash split) are sketched
    INDEPENDENTLY, the partial histograms merge by summing bucket
    counts, and the merged sketch answers p50/p95/p99 — byte-identical
    to x_agg_hdr_quantiles' one-shot answer, which the shared oracle
    derivation re-proves every window.  This is the exact dataflow of
    a 1000-executor rollup: each executor sketches its shard with no
    coordination, the driver-side merge is a k-bounded aggregate of
    (group, b, sub) rows, and no corpus-sized sort or shuffle ever
    happens."""
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    c = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        cents.alias("cents"),
        F.pmod(F.col("o_orderkey") * KNUTH, F.lit(2)).alias("half"),
    )
    b = F.length(F.bin(F.col("cents"))) - 1
    sub = F.expr(
        "shiftright(cents, CAST(greatest(length(bin(cents)) - 5, 0) AS INT)) & 15"
    )
    # per-shard partial sketches (independent aggregates)...
    h_half = (
        c.select("prio", "half", b.alias("b"), sub.alias("sub"))
        .groupBy("prio", "half", "b", "sub")
        .agg(F.count("*").alias("cnt"))
    )
    # ...merged by summing counts — the sketch algebra under test
    h = h_half.groupBy("prio", "b", "sub").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return hdr_quantiles(spark, h)


@query(
    "x_agg_hdr_cdf",
    category="agg",
    oracle=(
        "WITH c AS (SELECT o_orderpriority AS prio, "
        "  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM orders), "
        "bk AS (SELECT prio, cents, "
        "  CASE WHEN length(bin(cents)) >= 5 THEN "
        "    (17 + ((cents >> (length(bin(cents)) - 5)) & 15)) "
        "      << (length(bin(cents)) - 5) "
        "  ELSE cents + 1 END AS ub FROM c) "
        "SELECT prio AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(SUM(CASE WHEN ub <= 20000000 THEN 1 ELSE 0 END) AS BIGINT) AS sk_le_20m, "
        "CAST(SUM(CASE WHEN cents <= 20000000 THEN 1 ELSE 0 END) AS BIGINT) AS ex_le_20m, "
        "CAST(SUM(CASE WHEN ub <= 30000000 THEN 1 ELSE 0 END) AS BIGINT) AS sk_le_30m, "
        "CAST(SUM(CASE WHEN cents <= 30000000 THEN 1 ELSE 0 END) AS BIGINT) AS ex_le_30m, "
        "CAST(SUM(CASE WHEN ub <= 40000000 THEN 1 ELSE 0 END) AS BIGINT) AS sk_le_40m, "
        "CAST(SUM(CASE WHEN cents <= 40000000 THEN 1 ELSE 0 END) AS BIGINT) AS ex_le_40m "
        "FROM bk GROUP BY prio"
    ),
)
def agg_hdr_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HDR sketch's CDF / percentile-of-value query (the inverse of
    x_agg_hdr_quantiles, completing the HdrHistogram API: quantile-of-
    rank, rank-of-value, merge): per order priority, how many orders
    fall at or under each of three fixed value thresholds — answered
    BOTH from the sketch (count of buckets whose exact integer UPPER
    bound, (17+sub) << (b-4), clears the threshold — a guaranteed
    LOWER bound on the true count: cents < upper <= T implies
    cents <= T) and exactly, so the conservative-bound relation
    sk <= ex is visible in the row itself and asserted in
    tests/test_properties.py.

    Scale shape: ONE map-side-combined conditional aggregate — on a
    pre-built histogram this is a k-bounded scan of (group, b, sub)
    rows, and over raw data (as here) it is a single pass with pure
    integer bucket arithmetic, bit-identical on both engines."""
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    c = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"), cents.alias("cents")
    )
    bk = c.select(
        "prio",
        "cents",
        F.expr(
            "CASE WHEN length(bin(cents)) >= 5 THEN "
            "shiftleft(17 + (shiftright(cents, "
            "CAST(length(bin(cents)) - 5 AS INT)) & 15), "
            "CAST(length(bin(cents)) - 5 AS INT)) "
            "ELSE cents + 1 END"
        ).alias("ub"),
    )
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for t, tag in ((20_000_000, "20m"), (30_000_000, "30m"), (40_000_000, "40m")):
        aggs.append(
            F.sum(F.when(F.col("ub") <= t, 1).otherwise(0))
            .cast("long")
            .alias(f"sk_le_{tag}")
        )
        aggs.append(
            F.sum(F.when(F.col("cents") <= t, 1).otherwise(0))
            .cast("long")
            .alias(f"ex_le_{tag}")
        )
    return bk.groupBy(F.col("prio").alias("o_orderpriority")).agg(*aggs)


_HH_K = 20  # summary size: at most K surviving counters per summary

# Shared CTE prefix: per-shard Misra-Gries summaries over document
# tokens (two deterministic Knuth-hash shards standing in for
# executors), built scale-true — counts are one map-side-combined
# aggregate, and each shard's summary touches only its top-(K+1)
# counters (a WindowGroupLimit, never the full vocabulary sort).
_HH_SQL = (
    f"tok AS (SELECT (doc_id * {KNUTH}) % 2 AS half, "
    "  unnest(string_split(text, ' ')) AS token FROM documents), "
    "c AS (SELECT half, token, CAST(COUNT(*) AS BIGINT) AS c "
    "  FROM tok GROUP BY 1, 2), "
    "rk AS (SELECT half, token, c, row_number() OVER ("
    "  PARTITION BY half ORDER BY c DESC, token) AS rn FROM c), "
    f"rk1 AS (SELECT * FROM rk WHERE rn <= {_HH_K + 1}), "
    f"th AS (SELECT half, COALESCE(MAX(CASE WHEN rn = {_HH_K + 1} THEN c END), 0) "
    "  AS t FROM rk1 GROUP BY half), "
    "s AS (SELECT rk1.token, rk1.c - th.t AS est FROM rk1 "
    "  JOIN th USING (half) WHERE rk1.c - th.t > 0), "
    "m AS (SELECT token, CAST(SUM(est) AS BIGINT) AS em FROM s GROUP BY token), "
    "mrk AS (SELECT token, em, row_number() OVER ("
    "  ORDER BY em DESC, token) AS rn FROM m), "
    f"tm AS (SELECT COALESCE(MAX(CASE WHEN rn = {_HH_K + 1} THEN em END), 0) "
    "  AS t FROM mrk), "
    "eb AS (SELECT CAST((SELECT SUM(t) FROM th) + (SELECT t FROM tm) "
    "  AS BIGINT) AS err), "
    "fin AS (SELECT token, em - (SELECT t FROM tm) AS est FROM mrk "
    "  WHERE em - (SELECT t FROM tm) > 0)"
)


@query(
    "x_agg_heavy_hitters",
    category="agg",
    oracle=(
        "WITH " + _HH_SQL + " "
        "SELECT token, CAST(est AS BIGINT) AS est_count, "
        "(SELECT err FROM eb) AS err_bound, rnk FROM ("
        "  SELECT token, est, CAST(row_number() OVER ("
        "    ORDER BY est DESC, token) AS BIGINT) AS rnk FROM fin) "
        "WHERE rnk <= 10"
    ),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters (the mergeable frequent-items summary
    of Agarwal et al., 'Mergeable Summaries', PODS 2012) over document
    tokens — completing the repo's mergeable-sketch family: KMV
    (distinct), CMS (point counts), HLL, HDR (quantiles), and now
    frequent items.  Two deterministic Knuth-hash shards each build a
    K=20-counter summary (exact shard counts compressed by subtracting
    the shard's (K+1)-th largest count — the MG decrement in closed
    form), the summaries MERGE by summing matched counters and
    re-compressing at the merged (K+1)-th largest, and the top-10
    survivors are reported with the summary's global error bound
    err = t_shard0 + t_shard1 + t_merge.  The MG guarantee — est <=
    true_count <= est + err for every reported token — is
    property-tested against exact counts in tests/test_properties.py.

    Scale shape (the 1000-executor story): shard counts are ONE
    map-side-combined aggregate; each shard summary reads only the
    shard's top-(K+1) counters via a per-shard WindowGroupLimit (the
    rank filter is pushed into the window, so the full vocabulary is
    never sorted); everything downstream of `s` — merge, re-compress,
    rank — operates on <= 2K rows.  In production the per-partition
    summary comes from bounded-memory MG inside each executor; the
    closed-form compression here IS that summary (same decrements),
    derived from counts so both engines stay bit-identical.

    Determinism: every threshold takes the value at a (count DESC,
    token ASC) tie-broken rank, and integer arithmetic only — no
    sampling, no hashing beyond the shard split."""
    tok = load_table(spark, sf_dir, "documents").select(
        F.pmod(F.col("doc_id") * KNUTH, F.lit(2)).alias("half"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    c = tok.groupBy("half", "token").agg(F.count("*").cast("long").alias("c"))
    w = Window.partitionBy("half").orderBy(F.desc("c"), F.asc("token"))
    rk1 = c.select("half", "token", "c", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= _HH_K + 1
    )
    th = rk1.groupBy("half").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _HH_K + 1, F.col("c"))),
            F.lit(0).cast("long"),
        ).alias("t")
    )
    s = (
        rk1.join(F.broadcast(th), "half")
        .filter(F.col("c") - F.col("t") > 0)
        .select("token", (F.col("c") - F.col("t")).alias("est"))
    )
    m = s.groupBy("token").agg(F.sum("est").cast("long").alias("em"))
    # <= 2K rows from here on: the global windows are constant-size
    wm = Window.orderBy(F.desc("em"), F.asc("token"))
    mrk = m.select("token", "em", F.row_number().over(wm).alias("rn"))
    tm = mrk.agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _HH_K + 1, F.col("em"))),
            F.lit(0).cast("long"),
        ).alias("tmv")
    )
    err = (
        th.agg(F.sum("t").cast("long").alias("tsum"))
        .crossJoin(F.broadcast(tm))
        .select(
            (F.col("tsum") + F.col("tmv")).cast("long").alias("err_bound"),
            "tmv",
        )
    )
    fin = (
        mrk.crossJoin(F.broadcast(err))
        .filter(F.col("em") - F.col("tmv") > 0)
        .select("token", (F.col("em") - F.col("tmv")).alias("est"), "err_bound")
    )
    wf = Window.orderBy(F.desc("est"), F.asc("token"))
    return (
        fin.select(
            "token",
            F.col("est").cast("long").alias("est_count"),
            "err_bound",
            F.row_number().over(wf).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 10)
    )


_DECAY_K = 20  # counters decay to zero past K half-lives (days)


def decay_day_counts(df) -> DataFrame:
    """Mergeable partial of x_agg_decay_topk: per-(user_id, day)
    event counts over a (user_id, us) frame — the bounded per-key
    state a streaming deployment keeps (<= K+1 live day buckets per
    user once expired days are vacuumed).  Partials from shards or
    micro-batches merge by SUMMING cnt; the streaming mirror executes
    exactly that through real foreachBatch micro-batches."""
    return (
        df.select("user_id", F.expr("us DIV 86400000000").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def decay_topk_from_counts(counts: DataFrame) -> DataFrame:
    """Finisher of x_agg_decay_topk: decayed scores and the top-20
    rank derived from merged (user_id, day, cnt) partials — one scalar
    max-day broadcast, one aggregate over day buckets (never the raw
    stream), one rank over <= |users| aggregated rows."""
    ref = counts.agg(F.max("day").alias("rd"))
    sc = (
        counts.crossJoin(F.broadcast(ref))
        .select("user_id", "cnt", (F.col("rd") - F.col("day")).alias("age"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN age <= {_DECAY_K} THEN "
                    f"cnt * shiftleft(1L, CAST({_DECAY_K} - age AS INT)) "
                    "ELSE 0L END"
                )
            )
            .cast("long")
            .alias("score"),
            F.sum("cnt").cast("long").alias("n_events"),
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("user_id"))
    return (
        sc.select(
            "user_id",
            "score",
            "n_events",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 20)
    )


@query(
    "x_agg_decay_topk",
    category="agg",
    oracle=(
        "WITH d AS (SELECT user_id, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, "
        "  CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), "
        "ref AS (SELECT MAX(day) AS rd FROM d), "
        "sc AS (SELECT user_id, CAST(SUM(CASE WHEN ref.rd - day <= "
        f"  {_DECAY_K} THEN cnt * (1::BIGINT << ({_DECAY_K} - (ref.rd - day))) "
        "  ELSE 0 END) AS BIGINT) AS score, "
        "  CAST(SUM(cnt) AS BIGINT) AS n_events "
        "  FROM d, ref GROUP BY user_id) "
        "SELECT user_id, score, n_events, rnk FROM ("
        "  SELECT user_id, score, n_events, CAST(row_number() OVER ("
        "    ORDER BY score DESC, user_id) AS BIGINT) AS rnk FROM sc) "
        "WHERE rnk <= 20"
    ),
)
def agg_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity counters with half-life one
    day, top-20 entities — the 'trending now' primitive behind feed
    ranking and hot-key detection.  Each event contributes
    2^-(age_days) of weight, age measured in calendar-day buckets from
    the corpus reference day (the max event day); integerized as
    cnt * 2^(K - age) with K = 20 so the score is an EXACT bigint
    (events older than K half-lives contribute < 2^-20 of a fresh
    event and are dropped — below any ranking-relevant mass).

    The mergeability story is the production point: the partial is
    per-(user, day) COUNTS (decay_day_counts) — a plain-sum monoid, so
    shards / executors / micro-batches merge by addition like the
    KMV/CMS/HDR sketch family, and the streaming mirror
    (streaming/mirrors.py) EXECUTES that merge through four real
    foreachBatch micro-batches; re-basing the reference day by d is an
    exact bit shift, score(rd + d) = score(rd) >> d.

    Scale shape: one map-side-combinable day-bucket aggregate over the
    fact table, one scalar max-day broadcast, the decay weighting over
    day buckets (never the raw stream), and a rank over the aggregated
    rows; AQE handles skewed entities.  Exact integers -> full hash
    oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    return decay_topk_from_counts(decay_day_counts(ev))
