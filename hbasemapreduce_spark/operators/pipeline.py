"""Training-data-pipeline operators beyond the §2.9 core: sampling,
repetition/LM scoring, contamination checks, skew-safe aggregation,
and extra sink formats.

Design rules shared by every operator here:
- deterministic at any partition count/cluster size (multiplicative
  integer hashing instead of rand(); integer or decimal aggregates);
- the only joins against "small" relations are broadcast
  (benchmark-gram set, vocabulary frequency table — both bounded by
  content, not corpus size);
- no Python in any hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet
from ..functions.determinism import KNUTH, hex_int
from ..functions.staging import sink_dir, staged
from ..functions.text import tokens
from ..registry import query
from .stats_ml import KMEANS_CENT_SQL as _KM_SQL


@query(
    "x_sample_stratified",
    category="pipeline",
    oracle=(
        "SELECT doc_id, lang FROM documents "
        f"WHERE (doc_id * {KNUTH}) % 100 < "
        "(CASE WHEN lang = 'en' THEN 10 ELSE 30 END)"
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: 10% of 'en' docs (the
    majority class), 30% of everything else — the class-rebalancing
    shape of training-data curation.  Hash-based membership means the
    sample is reproducible across engines, runs, and cluster sizes,
    and composes with incremental ingestion (a doc's membership never
    changes when other docs arrive)."""
    rate = F.when(F.col("lang") == "en", 10).otherwise(30)
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.pmod(F.col("doc_id") * KNUTH, F.lit(100)) < rate)
        .select("doc_id", "lang")
    )


@query(
    "x_text_repetition",
    category="pipeline",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), "
        "per AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2) "
        "SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct, MAX(c) AS max_tok_cnt, "
        "1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_ratio "
        "FROM per GROUP BY doc_id"
    ),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition features for quality filtering: token count, distinct
    count, the most-repeated token's count, duplicate-token ratio.
    One explode + one hash aggregate per level; int/int division only
    at the end (deterministic)."""
    per = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("max_tok_cnt"),
        (F.lit(1.0) - F.count("*").cast("double") / F.sum("c")).alias("dup_ratio"),
    )


@query(
    "x_text_unigram_lm",
    category="pipeline",
    oracle=(
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), "
        "freq AS (SELECT token, COUNT(*) AS cf FROM tok GROUP BY 1) "
        "SELECT tok.doc_id, CAST(SUM(freq.cf) AS BIGINT) AS sum_tok_freq, COUNT(*) AS n_tokens, "
        "CAST(SUM(freq.cf) AS DOUBLE) / COUNT(*) AS avg_tok_freq "
        "FROM tok JOIN freq USING (token) GROUP BY tok.doc_id"
    ),
)
def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM-style rarity scoring: corpus term frequencies joined
    back onto every token occurrence, aggregated per doc.  The
    frequency table is vocabulary-sized and joined hint-free — a raw
    web-scale token vocabulary keeps growing (urls, hashes, typos), so
    AQE broadcasts it only while it actually fits, and the token
    equi-join degrades gracefully to a shuffle join beyond that.
    Integer sums keep the oracle hash exact; the avg is one int/int
    division at the end."""
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens()).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("cf"))
    return (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("cf").alias("sum_tok_freq"),
            F.count("*").alias("n_tokens"),
            (F.sum("cf").cast("double") / F.count("*")).alias("avg_tok_freq"),
        )
    )


@query(
    "x_text_length_histogram",
    category="pipeline",
    oracle=(
        "SELECT len(string_split(text, ' ')) // 10 AS bucket, COUNT(*) AS cnt, "
        "MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars "
        "FROM documents GROUP BY 1"
    ),
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact doc-length histogram (10-token buckets) — corpus shape at a
    glance; integer bucketing, fully exact, one hash aggregate."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy((F.floor(F.size(tokens()) / 10)).alias("bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


_GRAM_N = 5


def _grams(df: DataFrame) -> DataFrame:
    """doc_id + exploded DISTINCT 5-gram strings per doc."""
    g = F.expr(
        f"transform(sequence(1, greatest(size(split(text, ' ')) - {_GRAM_N - 1}, 0)), "
        f"i -> array_join(slice(split(text, ' '), i, {_GRAM_N}), ' '))"
    )
    return df.select("doc_id", F.explode(F.array_distinct(g)).alias("gram"))


@query(
    "x_contamination_ngram",
    category="pipeline",
    oracle=(
        "WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents), "
        "grams AS (SELECT DISTINCT doc_id, source, "
        "  unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS gram "
        "  FROM toks), "
        "bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'), "
        "corpus AS (SELECT doc_id, gram FROM grams WHERE source <> 'src0') "
        "SELECT c.doc_id, COUNT(*) AS n_grams, "
        "CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, "
        "CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) "
        "AS containment "
        "FROM corpus c LEFT JOIN bench b USING (gram) GROUP BY c.doc_id"
    ),
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: 5-gram containment of every
    corpus doc (source != 'src0') against the benchmark set's (src0)
    distinct 5-grams.  The benchmark gram set is bounded by benchmark
    size, not corpus size -> broadcast; the corpus-side explode is
    embarrassingly parallel and never shuffles the text.

    The doc-level repartition spreads the 5-gram explode + distinct
    across cores: the testdata table is a single one-row-group parquet
    file, so without it the whole gram expansion serializes onto one
    task; a 100 TB table already arrives as thousands of splits and
    would skip it.  The shuffle moves raw docs, not the ~50x larger
    gram stream."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    bench = (
        _grams(docs.filter(F.col("source") == "src0"))
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = _grams(docs.filter(F.col("source") != "src0"))
    return (
        corpus.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / F.count("*")
            ).alias("containment"),
        )
    )


@query(
    "x_agg_salted_twophase",
    category="pipeline",
    oracle=(
        "SELECT user_id, COUNT(*) AS n_events, "
        "COUNT(DISTINCT event_type) AS n_types "
        "FROM events GROUP BY user_id"
    ),
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: explicit salt -> partial agg on
    (user_id, salt) -> final agg on user_id.  Result is identical to
    the plain GROUP BY (the oracle proves it); the point is the shape:
    when one user owns 10% of 100 TB of events, the salted first phase
    spreads that key over 16 reducers instead of melting one.  (AQE
    skew handling covers joins; aggregation skew still wants this.)
    countDistinct survives salting because phase 1 keeps the distinct
    sets disjoint per salt: distinct (event_type) collected per
    (user_id, salt) never double-counts across salts for SUM of
    per-salt distincts only if types don't repeat across salts — so
    phase 1 dedups (user_id, event_type) pairs instead, which is the
    standard exact-distinct rewrite."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(16)))
    phase1 = salted.groupBy("user_id", "salt").agg(F.count("*").alias("c"))
    counts = phase1.groupBy("user_id").agg(F.sum("c").alias("n_events"))
    # exact distinct under skew: dedup pairs first (spreads by type),
    # then count per user
    types = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_types"))
    )
    return counts.join(types, "user_id")


@query(
    "x_sink_orc",
    category="scan",
    oracle=(
        "SELECT o_orderstatus, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip: second columnar format, same
    predicate-pushdown/column-pruning story as parquet."""
    from ..functions.determinism import dec_sum

    orders = load_table(spark, sf_dir, "orders")
    out = sink_dir("sink_orc", os.path.join(sf_dir, "orders.parquet"))
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice").write.mode(
        "overwrite"
    ).orc(out)
    return (
        spark.read.orc(out)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), dec_sum("o_totalprice", "sum_price"))
    )


@query(
    "x_sink_json_lines",
    category="scan",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS cnt, MIN(o_orderkey) AS min_key "
        "FROM orders GROUP BY o_orderpriority"
    ),
)
def sink_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round-trip with an explicit read schema
    (schema-on-read, no inference pass — inference would re-scan 100 TB).
    Timestamps are excluded from the payload by design: JSON round-trips
    of timestamps are the classic cross-engine drift source."""
    orders = load_table(spark, sf_dir, "orders")
    out = sink_dir("sink_json", os.path.join(sf_dir, "orders.parquet"))
    orders.select("o_orderkey", "o_orderpriority").write.mode("overwrite").json(out)
    typed = spark.read.schema("o_orderkey LONG, o_orderpriority STRING").json(out)
    return typed.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"), F.min("o_orderkey").alias("min_key")
    )


@query(
    "x_join_salted",
    category="pipeline",
    oracle=(
        "SELECT c_mktsegment, COUNT(*) AS n_events "
        "FROM events JOIN customer ON (user_id % 150) + 1 = c_custkey "
        "GROUP BY c_mktsegment"
    ),
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe JOIN: the big (events) side gets a random-ish salt from
    its row identity; the small (customer) side is replicated once per
    salt value; the join key becomes (key, salt).  Result identical to
    the plain join (the oracle proves it) — the point is that one hot
    user's rows land on 16 reducers instead of one.  This is the
    pre-AQE manual pattern; AQE's skew-join split covers sort-merge
    joins, but salting still matters when the skew is in a
    hash-partitioned stateful op or AQE can't see the stats.
    (user_id % 150 + 1 = c_custkey is the testdata's synthetic
    event->customer key, same as join_asof.)"""
    n_salt = 16
    ev = load_table(spark, sf_dir, "events").select(
        ((F.col("user_id") % 150) + 1).alias("k"),
        F.pmod(F.xxhash64("event_id"), F.lit(n_salt)).alias("salt"),
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"), "c_mktsegment")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    )
    return (
        ev.join(cust, ["k", "salt"])
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
    )


# --- flagship composition: end-to-end corpus curation ----------------

_CURATE_SQL = (
    # quality gate: length in [20, 95] tokens, dup-token ratio <= 0.72
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), "
    "per AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2), "
    "rep AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, "
    "        1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_ratio FROM per GROUP BY doc_id), "
    "quality AS (SELECT doc_id FROM rep WHERE n_tokens BETWEEN 20 AND 95 AND dup_ratio <= 0.72), "
    # dedup gate: exact blocked-Jaccard pairs -> connected components -> keep min id
    "d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks, "
    "      len(string_split(text, ' ')) AS n_toks FROM documents), "
    "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM d a JOIN d b "
    "ON a.lang = b.lang AND a.n_toks = b.n_toks AND a.doc_id < b.doc_id "
    "WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / "
    "(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8), "
    "e AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs), "
    "nodes AS (SELECT DISTINCT a AS id FROM e), "
    "reach AS (SELECT id, id AS r FROM nodes "
    "          UNION SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id), "
    "comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id), "
    "dropped_dups AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id) "
    # final: quality-passing, non-duplicate, hash-sampled 50%
    "SELECT q.doc_id, docs.lang FROM quality q "
    "JOIN documents docs USING (doc_id) "
    "WHERE q.doc_id NOT IN (SELECT doc_id FROM dropped_dups) "
    f"AND (q.doc_id * {KNUTH}) % 100 < 50"
)


@query(
    "x_pipeline_curate",
    category="pipeline",
    oracle="WITH RECURSIVE " + _CURATE_SQL[5:],
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end curation: quality gate (length + repetition)
    -> near-dup removal (keep each cluster's min doc_id, via the
    oracle-checked connected-components operator) -> deterministic 50%
    hash sample.  Composed entirely from this package's operators, and
    the WHOLE pipeline is still one oracle-checkable dataflow.

    Scale shape: two explode+agg passes over the corpus (quality), the
    blocked pair join (dedup), a broadcast-able drop-list anti-join,
    and a stateless hash filter — no collects except the
    connected-components convergence counts."""
    from .clustering import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    rep = text_repetition(spark, sf_dir)
    quality = rep.filter(
        (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 95) & (F.col("dup_ratio") <= 0.72)
    ).select("doc_id")
    dropped = (
        dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return (
        quality.join(docs.select("doc_id", "lang"), "doc_id")
        .join(dropped, "doc_id", "left_anti")
        .filter(F.pmod(F.col("doc_id") * KNUTH, F.lit(100)) < 50)
        .select("doc_id", "lang")
    )


@query(
    "x_profile_table",
    category="pipeline",
    oracle=(
        "SELECT 'l_quantity' AS col, COUNT(l_quantity) AS n_nonnull, "
        "COUNT(DISTINCT l_quantity) AS n_distinct, "
        "CAST(MIN(l_quantity) AS DOUBLE) AS min_v, CAST(MAX(l_quantity) AS DOUBLE) AS max_v "
        "FROM lineitem "
        "UNION ALL SELECT 'l_extendedprice', COUNT(l_extendedprice), "
        "COUNT(DISTINCT l_extendedprice), "
        "CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem "
        "UNION ALL SELECT 'l_discount', COUNT(l_discount), COUNT(DISTINCT l_discount), "
        "CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE) FROM lineitem "
        "UNION ALL SELECT 'l_tax', COUNT(l_tax), COUNT(DISTINCT l_tax), "
        "CAST(MIN(l_tax) AS DOUBLE), CAST(MAX(l_tax) AS DOUBLE) FROM lineitem"
    ),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE TABLE pattern): non-null count,
    exact distinct, min, max for each numeric column, one row per
    column.

    r13 shape (guide §2.3, measured): the former single wide aggregate
    with 4 countDistinct accumulators planned as an EXPAND — every row
    multiplied 5x through the aggregate (one copy per distinct column
    plus one for the plain stats).  Shipped instead: per-column
    branches, each a column-PRUNED parquet scan whose distinct count is
    a group-by collapsed map-side (these columns' cardinalities shrink
    partials to near-nothing) arriving as a scalar subquery next to the
    plain min/max/count aggregate.  Bytes read stay ~one column per
    branch (columnar scans); no 5x row expansion anywhere.  1.23 ->
    0.58 s at sf0.1 interleaved, identical rows.  This per-column
    sweep IS how per-column NDV stats collection runs at 100 TB —
    each column's pass is independent and prunable."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        f"SELECT '{c}' AS col, COUNT({c}) AS n_nonnull, "
        f"(SELECT COUNT(*) FROM (SELECT {c} FROM {{li}} "
        f"  WHERE {c} IS NOT NULL GROUP BY {c})) AS n_distinct, "
        f"CAST(MIN({c}) AS DOUBLE) AS min_v, "
        f"CAST(MAX({c}) AS DOUBLE) AS max_v FROM {{li}}"
        for c in cols
    ]
    return spark.sql(" UNION ALL ".join(parts), li=li)


@query(
    "x_etl_upsert",
    category="pipeline",
    oracle=(
        "WITH updates AS (SELECT o_orderkey, o_custkey, "
        "  CAST(CAST(o_totalprice * 1.1 AS DECIMAL(18,6)) AS DOUBLE) AS o_totalprice "
        "  FROM orders WHERE o_orderkey % 10 = 0), "
        "inserts AS (SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey, o_totalprice "
        "  FROM orders WHERE o_orderkey % 100 = 0) "
        "SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey, "
        "COALESCE(u.o_custkey, b.o_custkey) AS o_custkey, "
        "COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice "
        "FROM orders b FULL OUTER JOIN "
        "(SELECT * FROM updates UNION ALL SELECT * FROM inserts) u "
        "USING (o_orderkey)"
    ),
)
def etl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics without a lakehouse format: base FULL OUTER
    JOIN changeset on the key, changeset wins per column.  Derived here
    from the base table itself (10% price-bumped updates + synthetic
    inserts) so the result is oracle-checkable.  One shuffle on the
    merge key; at scale, partition/bucket both sides on the key so the
    rewrite only touches affected partitions (the Hive/Iceberg
    copy-on-write shape)."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice",
        # scale 6, not 2: 2-dp x 1.1 products land exactly on .5 at scale
        # 2 (e.g. 264802.55 * 1.1 = 291282.805) where Spark rounds the
        # shortest decimal repr and DuckDB the binary value — scale 6
        # represents the product exactly on both engines
        (F.col("o_totalprice") * 1.1).cast("decimal(18,6)").cast("double"),
    )
    inserts = base.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1000000
    )
    chg = updates.unionByName(inserts).alias("u")
    b = base.alias("b")
    return b.join(chg, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer").select(
        F.coalesce(F.col("u.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("u.o_custkey"), F.col("b.o_custkey")).alias("o_custkey"),
        F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias("o_totalprice"),
    )


@query(
    "x_etl_scd2",
    category="pipeline",
    oracle=(
        "WITH chg AS ("
        "  SELECT user_id, value, event_id, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us "
        "  FROM events WHERE event_type IN ('signup', 'purchase')) "
        "SELECT user_id, value, "
        "row_number() OVER w AS version, "
        "ts_us AS valid_from_us, "
        "COALESCE(lead(ts_us) OVER w, 9223372036854775807) AS valid_to_us "
        "FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)"
    ),
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: turn a change-event log into versioned
    dimension rows with [valid_from, valid_to) intervals — the standard
    warehouse shape for 'what was this attribute worth at time T'
    (an as-of join against it answers that with a range predicate).

    Spark shape: ONE window over (user, ts) — a single shuffle on the
    dimension key; lead() closes each interval, the open-ended current
    row gets a +inf sentinel (NULL would be hash-unstable across
    engines' NaN/None handling; Long.MAX_VALUE compares correctly in
    range predicates).  At 100 TB the shuffle is partitioned by the
    same key every downstream as-of lookup needs — the sort amortizes."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            "value",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    return chg.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("version"),
        F.col("ts_us").alias("valid_from_us"),
        F.coalesce(
            F.lead("ts_us").over(w), F.lit(9223372036854775807).cast("long")
        ).alias("valid_to_us"),
    )


@query(
    "x_etl_snapshot_diff",
    category="pipeline",
    oracle=(
        "WITH v2 AS ("
        "  SELECT o_orderkey, o_custkey, "
        "  CASE WHEN o_orderkey % 7 = 0 THEN "
        "  CAST(CAST(o_totalprice * 1.05 AS DECIMAL(18,6)) AS DOUBLE) "
        "  ELSE o_totalprice END AS o_totalprice "
        "  FROM orders WHERE o_orderkey % 11 <> 0 "
        "  UNION ALL "
        "  SELECT o_orderkey + 2000000, o_custkey, o_totalprice "
        "  FROM orders WHERE o_orderkey % 13 = 0) "
        "SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey, "
        "CASE WHEN a.o_orderkey IS NULL THEN 'added' "
        "     WHEN b.o_orderkey IS NULL THEN 'removed' "
        "     ELSE 'changed' END AS change_type, "
        "a.o_totalprice AS old_price, b.o_totalprice AS new_price "
        "FROM orders a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey "
        "WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL "
        "OR a.o_totalprice <> b.o_totalprice"
    ),
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two table versions into
    added / removed / changed rows — the audit step between any two
    loads of the same 100 TB table (and the input to an incremental
    downstream refresh, which then touches only the diff).  Version 2
    is derived deterministically from orders (drops every 11th key,
    reprices every 7th, appends shifted copies of every 13th).

    Spark shape: ONE full-outer shuffle join on the key — both sides
    hash-partition once; the unchanged-row filter runs inside the join
    output before anything materializes.  At equal-snapshot scale AQE
    handles the skew; there is no driver-side comparison loop."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = (
        base.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                (F.col("o_totalprice") * 1.05).cast("decimal(18,6)").cast("double"),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionAll(
            base.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 2000000).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
            )
        )
    )
    a = base.select(
        F.col("o_orderkey").alias("a_key"), F.col("o_totalprice").alias("old_price")
    )
    b = v2.select(
        F.col("o_orderkey").alias("b_key"), F.col("o_totalprice").alias("new_price")
    )
    return (
        a.join(b, F.col("a_key") == F.col("b_key"), "full_outer")
        .filter(
            F.col("a_key").isNull()
            | F.col("b_key").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select(
            F.coalesce("a_key", "b_key").alias("o_orderkey"),
            F.when(F.col("a_key").isNull(), "added")
            .when(F.col("b_key").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
            "old_price",
            "new_price",
        )
    )


@query(
    "x_incremental_agg",
    category="pipeline",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM orders GROUP BY o_orderpriority"
    ),
)
def incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the base snapshot's aggregate
    state and a delta batch's aggregate state are MERGED (sum+sum,
    count+count, min/min, max/max) instead of rescanning the base — the
    foundation of every incremental-refresh pipeline (only the delta is
    scanned on refresh; the 100 TB base is touched once, ever).

    The oracle is the PLAIN full-table aggregate: the checked result
    proves merge(base_state, delta_state) == agg(base ∪ delta), i.e.
    that every statistic here is algebraically mergeable and the merge
    implementation honors it (avg would need sum/count carried
    separately — which is exactly how dec_avg works).  Spark shape: two
    partial aggregates + one tiny merge aggregate on |groups| rows."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 11 != 0)
    delta = orders.filter(F.col("o_orderkey") % 11 == 0)

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_dec"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    merged = state(base).unionAll(state(delta))
    return merged.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_dec").cast("double").alias("sum_price"),
        F.min("min_key").alias("min_key"),
        F.max("max_key").alias("max_key"),
    )


@query(
    "x_pipeline_pretrain_export",
    category="pipeline",
    oracle=(
        "WITH corpus AS ("
        "  SELECT doc_id, text, len(string_split(text, ' ')) AS n_toks "
        "  FROM documents WHERE source <> 'src0'), "
        "q AS (SELECT * FROM corpus WHERE n_toks BETWEEN 20 AND 95), "
        "k AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY lower(trim(text))), "
        "d AS (SELECT q.* FROM q JOIN k USING (doc_id)), "
        "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM d), "
        "grams AS (SELECT DISTINCT doc_id, "
        "  unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS gram "
        "  FROM toks), "
        "btoks AS (SELECT string_split(text, ' ') AS t FROM documents WHERE source = 'src0'), "
        "bgrams AS (SELECT DISTINCT "
        "  unnest(list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))) AS gram "
        "  FROM btoks), "
        "cont AS (SELECT g.doc_id, "
        "  CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS c "
        "  FROM grams g LEFT JOIN bgrams b USING (gram) GROUP BY g.doc_id), "
        "clean AS (SELECT d.doc_id, d.n_toks FROM d "
        "  LEFT JOIN cont USING (doc_id) WHERE COALESCE(cont.c, 0) <= 0.1), "
        f"train AS (SELECT * FROM clean WHERE (doc_id * {KNUTH}) % 100 < 80) "
        f"SELECT (doc_id * {KNUTH}) % 16 AS shard, COUNT(*) AS n_docs, "
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM train GROUP BY 1"
    ),
)
def pipeline_pretrain_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training export, end to end in ONE dataflow:
    quality gate (20-95 tokens) -> exact-dedup keep-first ->
    benchmark decontamination (drop docs with >10% 5-gram containment
    against the src0 benchmark) -> 80% train split by portable hash ->
    16-way shard manifest.  Every stage is an operator this package
    ships standalone (text_stats, dedup_exact, x_contamination_ngram,
    x_sample_split, x_shard_manifest); the composition proves they
    chain without a driver round-trip, and the whole chain is still
    one oracle-checkable query.

    Scale shape: two corpus passes (tokenize/quality + gram explode),
    one hash-agg dedup, a broadcast decontamination join (the
    benchmark gram set is bounded by benchmark size, not corpus size),
    then stateless hash filters and a 16-row manifest aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0").select(
        "doc_id", "text", F.size(F.split("text", " ")).alias("n_toks")
    )
    q = corpus.filter((F.col("n_toks") >= 20) & (F.col("n_toks") <= 95))
    keep = q.groupBy(F.lower(F.trim(F.col("text"))).alias("norm")).agg(
        F.min("doc_id").alias("doc_id")
    )
    d = q.join(keep.select("doc_id"), "doc_id", "left_semi")
    bench = (
        _grams(docs.filter(F.col("source") == "src0"))
        .select("gram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cont = (
        _grams(d)
        .join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / F.count("*")
            ).alias("c")
        )
    )
    clean = d.join(cont, "doc_id", "left").filter(
        F.coalesce(F.col("c"), F.lit(0.0)) <= 0.1
    )
    train = clean.filter(F.pmod(F.col("doc_id") * KNUTH, F.lit(100)) < 80)
    return train.groupBy(
        F.pmod(F.col("doc_id") * KNUTH, F.lit(16)).alias("shard")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )


@query(
    "x_quality_rules",
    category="pipeline",
    oracle=(
        "WITH li AS (SELECT COUNT(*) AS n, "
        "  CAST(SUM(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 45, FALSE) "
        "      THEN 1 ELSE 0 END) AS BIGINT) AS v_qty, "
        "  CAST(SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0 AND 0.08, FALSE) "
        "      THEN 1 ELSE 0 END) AS BIGINT) AS v_disc, "
        "  CAST(SUM(CASE WHEN NOT COALESCE(l_tax >= 0, FALSE) "
        "      THEN 1 ELSE 0 END) AS BIGINT) AS v_tax "
        "  FROM lineitem), "
        "o AS (SELECT COUNT(*) AS n, "
        "  CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F', 'O'), FALSE) "
        "      THEN 1 ELSE 0 END) AS BIGINT) AS v_status, "
        "  CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) "
        "      THEN 1 ELSE 0 END) AS BIGINT) AS v_price "
        "  FROM orders), "
        "ref AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_ref FROM lineitem l "
        "  WHERE NOT EXISTS (SELECT 1 FROM orders oo "
        "                    WHERE oo.o_orderkey = l.l_orderkey)) "
        "SELECT rule, n_rows, n_violations, n_violations = 0 AS pass FROM ("
        "  SELECT 'lineitem.l_quantity_in_1_45' AS rule, li.n AS n_rows, "
        "         li.v_qty AS n_violations FROM li "
        "  UNION ALL SELECT 'lineitem.l_discount_in_0_0.08', li.n, li.v_disc FROM li "
        "  UNION ALL SELECT 'lineitem.l_tax_nonnegative', li.n, li.v_tax FROM li "
        "  UNION ALL SELECT 'orders.o_orderstatus_in_F_O', o.n, o.v_status FROM o "
        "  UNION ALL SELECT 'orders.o_totalprice_positive', o.n, o.v_price FROM o "
        "  UNION ALL SELECT 'lineitem.l_orderkey_ref_orders', li.n, ref.v_ref "
        "            FROM li, ref)"
    ),
)
def quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality validation (the Deequ/Great-Expectations
    pattern): a rule set — range, domain-membership, non-negativity,
    referential integrity — evaluated over the fact tables and reported
    as one summary row per rule (rows checked, violations, pass flag).
    The gate a production pipeline runs BEFORE publishing a snapshot.

    Scale shape: all scalar rules per table collapse into ONE aggregate
    pass (conditional sums side by side — the x_profile_table
    discipline: never one scan per rule), the referential rule is a
    single LEFT ANTI join counted (at 100 TB both sides shuffle on the
    key — or prune with a broadcast bloom of orderkeys first), and the
    three 1-row aggregates broadcast-cross-join into the 6-row summary.
    NULL semantics are pinned identically in both engines: a row where
    the predicate evaluates to NULL counts as a VIOLATION
    (NOT COALESCE(pred, FALSE)) — completeness and conformance in one
    rule, the Deequ convention."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def viol(pred) -> F.Column:
        return F.sum(
            F.when(~F.coalesce(pred, F.lit(False)), 1).otherwise(0)
        ).cast("long")

    li_agg = li.agg(
        F.count("*").alias("li_n"),
        viol(F.col("l_quantity").between(1, 45)).alias("v_qty"),
        viol(F.col("l_discount").between(0, 0.08)).alias("v_disc"),
        viol(F.col("l_tax") >= 0).alias("v_tax"),
    )
    o_agg = orders.agg(
        F.count("*").alias("o_n"),
        viol(F.col("o_orderstatus").isin("F", "O")).alias("v_status"),
        viol(F.col("o_totalprice") > 0).alias("v_price"),
    )
    ref_agg = (
        li.join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("v_ref"))
    )
    wide = li_agg.crossJoin(F.broadcast(o_agg)).crossJoin(F.broadcast(ref_agg))
    rules = wide.select(
        F.expr(
            "stack(6, "
            "'lineitem.l_quantity_in_1_45', li_n, v_qty, "
            "'lineitem.l_discount_in_0_0.08', li_n, v_disc, "
            "'lineitem.l_tax_nonnegative', li_n, v_tax, "
            "'orders.o_orderstatus_in_F_O', o_n, v_status, "
            "'orders.o_totalprice_positive', o_n, v_price, "
            "'lineitem.l_orderkey_ref_orders', li_n, v_ref"
            ") AS (rule, n_rows, n_violations)"
        )
    )
    return rules.select(
        "rule", "n_rows", "n_violations", (F.col("n_violations") == 0).alias("pass")
    )


_ER_PAIR_SQL = (
    # x_join_fuzzy's oracle pair predicate, reused verbatim as the ER edge set
    "names AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts "
    "          FROM part GROUP BY 1), "
    "tok AS (SELECT p_name, unnest(string_split(p_name, ' ')) AS t FROM names), "
    "pairs AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b "
    "          FROM tok a JOIN tok b ON a.t = b.t AND a.p_name < b.p_name), "
    "close AS (SELECT name_a, name_b FROM pairs "
    "          WHERE levenshtein(name_a, name_b) <= 3)"
)


@query(
    "x_pipeline_entity_resolution",
    category="pipeline",
    oracle=(
        "WITH RECURSIVE " + _ER_PAIR_SQL + ", "
        "e AS (SELECT name_a AS a, name_b AS b FROM close "
        "      UNION ALL SELECT name_b, name_a FROM close), "
        "reach AS (SELECT p_name AS id, p_name AS r FROM names "
        "          UNION SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.id), "
        "lab AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id), "
        "g AS (SELECT l.cluster_id, n.p_name, n.n_parts "
        "      FROM lab l JOIN names n ON l.id = n.p_name) "
        "SELECT cluster_id, canonical_name, n_names, total_parts FROM ("
        "  SELECT cluster_id, p_name AS canonical_name, "
        "    ROW_NUMBER() OVER (PARTITION BY cluster_id "
        "      ORDER BY n_parts DESC, p_name) AS rn, "
        "    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_names, "
        "    CAST(SUM(n_parts) OVER (PARTITION BY cluster_id) AS BIGINT) AS total_parts "
        "  FROM g) WHERE rn = 1"
    ),
)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full entity-resolution pipeline in one dataflow: BLOCK
    (token blocking over distinct part names) -> MATCH (Levenshtein <=
    3, x_join_fuzzy's exact predicate) -> CLUSTER (connected components
    by min-label propagation, the x_dedup_clusters machinery) ->
    CANONICALIZE (golden record per cluster: the name backing the most
    part rows, name tie-break).  Every name resolves — singletons
    become their own cluster WITHOUT entering the iteration, so the
    loop runs only over pair-connected names (a small fraction of the
    dictionary).

    Exactness: labels are strings minimized lexicographically — the
    same fixpoint the oracle's recursive CTE reaches; golden-record
    selection is a rank-1 window with a total (n_parts DESC, name)
    order.  Convergence fails LOUDLY past the diameter guard, exactly
    as x_dedup_clusters documents.

    Scale shape: quadratic work confined to per-token blocks of
    DISTINCT names; each CC round is one equi-join + one aggregate
    over the (tiny) matched-pair node set with localCheckpoint lineage
    truncation; canonicalization is one window over |names| rows."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
    )
    tok = names.select("p_name", F.explode(F.split("p_name", " ")).alias("t"))
    close = (
        tok.select(F.col("p_name").alias("name_a"), "t")
        .join(tok.select(F.col("p_name").alias("name_b"), "t"), "t")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .filter(F.levenshtein("name_a", "name_b") <= 3)
    )
    # CLUSTER via the shared min-label CC harness (x_dedup_clusters'
    # machinery, see min_label_components); labels are strings
    # minimized lexicographically, which the harness handles unchanged.
    from .clustering import min_label_components

    labels = min_label_components(
        close.select(F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b"))
    )
    matched = labels.select("id", F.col("label").alias("cluster_id"))
    resolved = (
        names.join(matched, names.p_name == matched.id, "left")
        .select(
            "p_name",
            "n_parts",
            F.coalesce("cluster_id", F.col("p_name")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_parts"), F.asc("p_name"))
    return (
        resolved.select(
            "cluster_id",
            F.col("p_name").alias("canonical_name"),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("cluster_id")).alias("n_names"),
            F.sum("n_parts").over(Window.partitionBy("cluster_id")).alias("total_parts"),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_id", "canonical_name", "n_names", "total_parts")
    )


@query(
    "x_pipeline_rag_index",
    category="pipeline",
    oracle=(
        # KMEANS_CENT_SQL (stats_ml.py) ends in c1: trained coarse
        # centroids in offset-micros space
        "WITH " + _KM_SQL + ", "
        "ld AS (SELECT x.vec_id, c.cid, "
        "  CAST(list_sum(list_transform(list_zip(x.m, c.cm), "
        "    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2 "
        "  FROM e x CROSS JOIN c1 c), "
        "lasg AS (SELECT vec_id, cid AS list_id FROM (SELECT vec_id, cid, "
        "    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn "
        "    FROM ld) WHERE rn = 1), "
        "gated AS (SELECT doc_id, len(string_split(text, ' ')) AS n_toks "
        "  FROM documents WHERE len(string_split(text, ' ')) BETWEEN 20 AND 95) "
        "SELECT l.list_id, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "  CAST(SUM(g.n_toks) AS BIGINT) AS n_tokens, "
        "  MIN(g.doc_id) AS min_doc, MAX(g.doc_id) AS max_doc "
        "FROM gated g JOIN lasg l ON g.doc_id = l.vec_id "
        "GROUP BY l.list_id"
    ),
)
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval-index build as one dataflow: quality gate (the
    pretrain export's 20-95-token spec) -> attach each surviving doc's
    embedding -> assign it to its trained IVF list (x_ml_kmeans'
    exact-integer coarse quantizer) -> per-list index manifest
    (doc/token counts + id range).  This is the offline half of a RAG
    system; the online half is exactly x_sim_ivfpq's probe over the
    lists this build lays out.  Every stage ships standalone
    (text_stats' gate, multimodal_join's text+vector attach, x_ml_kmeans'
    assignment, x_shard_manifest's bookkeeping); composing them stays
    ONE hash-checkable query.

    Scale shape: the gate is a stateless filter pushed to the scan;
    the embedding attach and list assignment are one equi-join plus
    the zero-shuffle broadcast argmin; the manifest is a |lists|-row
    aggregate.  No corpus-sized shuffle beyond the single doc->vector
    join, which at 100 TB is the bucketed-by-id co-located join
    x_join_bucketed demonstrates."""
    from .stats_ml import _assign, _collapse, _micros_table, kmeans_centroids

    gated = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_toks"))
        .filter(F.col("n_toks").between(20, 95))
    )
    em = _micros_table(spark, sf_dir)
    lasg = _assign(em, _collapse(kmeans_centroids(spark, sf_dir, em))).select(
        F.col("vec_id").alias("doc_id"), F.col("cluster").alias("list_id")
    )
    return (
        gated.join(lasg, "doc_id")
        .groupBy("list_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@query(
    "x_data_mixture",
    category="pipeline",
    oracle=(
        "WITH d AS (SELECT source, "
        "  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) "
        "  AS n_toks FROM documents), "
        "per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "        CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM d GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_tokens, "
        "        CAST(COUNT(*) AS BIGINT) AS n_src FROM per) "
        "SELECT source, n_docs, n_tokens, "
        "  CASE WHEN t_tokens > 0 "
        "    THEN 1000000 * n_tokens // t_tokens END AS share_ppm, "
        "  CASE WHEN n_tokens > 0 "
        "    THEN ((t_tokens // n_src) * 10000) // n_tokens END AS repeat_bp "
        "FROM per CROSS JOIN tot"
    ),
)
def data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture readout: per-source token census plus the two
    numbers a pretraining mixture rebalance needs — the source's share
    of the corpus (ppm) and the repeat factor (basis points) that would
    equalize every source's token contribution (epochs-per-source
    against the uniform target, the deterministic core of
    temperature-style mixture reweighting; a non-uniform target just
    swaps the t_tokens // n_src numerator for a per-source budget).

    All integer arithmetic: shares are 10^6-scaled floor divisions,
    repeat factors 10^4-scaled, identical positive-operand semantics in
    both engines.

    Scale shape: ONE corpus scan feeding a per-source hash aggregate
    (map-side partials; |sources| output rows at any corpus size), and
    the corpus total is a 1-row broadcast joined back — the same tiny
    dim-cross shape as x_shard_manifest.  Nothing downstream of the
    scan depends on corpus size."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).cast("long").alias("n_toks"),
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("t_tokens"), F.count("*").alias("n_src")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        # a source whose documents are all empty text has n_tokens = 0
        # (web scrapes produce these constantly) — its repeat factor is
        # undefined, NULL in both engines, never an ANSI crash
        F.expr(
            "CASE WHEN t_tokens > 0 "
            "THEN 1000000 * n_tokens DIV t_tokens END"
        ).alias("share_ppm"),
        F.expr(
            "CASE WHEN n_tokens > 0 "
            "THEN ((t_tokens DIV n_src) * 10000) DIV n_tokens END"
        ).alias("repeat_bp"),
    )


_MASK_PERMILLE = 150  # 15% expected token-mask rate
_MASK_POS_K = 40503  # position mixer (16-bit Knuth-style odd constant)


@query(
    "x_mask_spans",
    category="pipeline",
    oracle=(
        "WITH al AS (SELECT doc_id, "
        "  list_filter(string_split(text, ' '), x -> x <> '') AS a FROM documents), "
        "tk AS (SELECT doc_id, CAST(len(a) AS BIGINT) AS n_tokens FROM al), "
        "pos AS (SELECT doc_id, i FROM al, unnest(range(1, len(a) + 1)) AS t(i)), "
        f"m AS (SELECT doc_id, i FROM pos "
        f"  WHERE (doc_id * {KNUTH} + i * {_MASK_POS_K}) % 1000 < {_MASK_PERMILLE}), "
        "isl AS (SELECT doc_id, i - row_number() OVER ("
        "  PARTITION BY doc_id ORDER BY i) AS g FROM m), "
        "sp AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS len FROM isl GROUP BY 1, 2), "
        "agg AS (SELECT doc_id, CAST(SUM(len) AS BIGINT) AS n_masked, "
        "  CAST(COUNT(*) AS BIGINT) AS n_spans, CAST(MAX(len) AS BIGINT) AS max_span "
        "  FROM sp GROUP BY 1) "
        "SELECT t.doc_id, t.n_tokens, "
        "  CAST(COALESCE(a.n_masked, 0) AS BIGINT) AS n_masked, "
        "  CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans, "
        "  CAST(COALESCE(a.max_span, 0) AS BIGINT) AS max_span "
        "FROM tk t LEFT JOIN agg a USING (doc_id)"
    ),
)
def mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-LM span-corruption PLAN (BERT/T5 family data prep): a
    deterministic, RNG-free 15% token mask per document — token i of
    doc d masks iff (d*K1 + i*K2) mod 1000 < 150 — reported as per-doc
    span statistics (masked count, number of contiguous spans, longest
    span) via gaps-and-islands.  Hash-based masking is how a 100 TB
    corruption pass stays reproducible across re-runs, engines, and
    shard boundaries — re-running the pipeline masks the SAME
    positions, so training is exactly resumable.

    Scale shape: token-position explode (zero shuffle), a stateless
    per-position hash filter (prunes to 15% BEFORE the shuffle), one
    per-doc window for the island key, and two bounded hash
    aggregates; the doc spine left-join restores unmasked docs with
    zero counts.  All integer arithmetic."""
    al = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("a")
    )
    tk = al.select("doc_id", F.size("a").cast("long").alias("n_tokens"))
    pos = al.select("doc_id", F.posexplode("a").alias("i0", "tok")).select(
        "doc_id", (F.col("i0") + 1).alias("i")
    )
    m = pos.filter(
        F.pmod(
            F.col("doc_id") * KNUTH + F.col("i") * _MASK_POS_K, F.lit(1000)
        )
        < _MASK_PERMILLE
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    isl = m.select("doc_id", (F.col("i") - F.row_number().over(w)).alias("g"))
    sp = isl.groupBy("doc_id", "g").agg(F.count("*").alias("len"))
    agg = sp.groupBy("doc_id").agg(
        F.sum("len").alias("n_masked"),
        F.count("*").alias("n_spans"),
        F.max("len").alias("max_span"),
    )
    return tk.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_masked"), F.lit(0)).cast("long").alias("n_masked"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("max_span"), F.lit(0)).cast("long").alias("max_span"),
    )


_BINPACK_TARGET = 2000  # rows per compaction group (the size-based proxy)


@query(
    "x_compact_binpack",
    category="pipeline",
    oracle=(
        "WITH f AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
        "  CAST(month(o_orderdate) AS BIGINT) AS o_month, "
        "  CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders GROUP BY 1, 2), "
        "c AS (SELECT o_year, o_month, n_rows, "
        "  CAST(COALESCE(SUM(n_rows) OVER (ORDER BY o_year, o_month "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
        "    AS cum_before FROM f), "
        f"g AS (SELECT *, cum_before // {_BINPACK_TARGET} AS grp FROM c) "
        "SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_files, "
        "  CAST(SUM(n_rows) AS BIGINT) AS n_rows, "
        "  MIN(o_year * 100 + o_month) AS first_file, "
        "  MAX(o_year * 100 + o_month) AS last_file "
        "FROM g GROUP BY 1"
    ),
)
def compact_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction PLANNING via scan-order bin packing (the Iceberg
    binpack rewrite's grouping step): the fragmented manifest — here
    per-(year, month) row counts standing in for file sizes — is
    walked in layout order and cut into target-sized groups by
    grp = floor(cumulative_rows_before / target), then summarized as
    one plan row per output group (file count, rows, first/last file).
    x_etl_compact EXECUTES a compaction; this produces the plan that
    decides WHICH small files coalesce, bounded groups even when
    individual files exceed the target.

    Determinism: the manifest order (year, month) is total, the cumsum
    is an exact bigint prefix, and floor division is identical in both
    engines.

    Scale shape: the manifest is metadata (one row per file/partition,
    never corpus-sized); the global-order window is the planner's
    sequential walk — at real scale it runs per table-partition, which
    changes no group boundary inside a partition.  Output is bounded
    by total_rows/target."""
    f = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(F.count("*").alias("n_rows"))
    )
    w = Window.orderBy("o_year", "o_month").rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = f.select(
        "o_year",
        "o_month",
        "n_rows",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("cum_before"),
    ).select("*", F.expr(f"cum_before DIV {_BINPACK_TARGET}").alias("grp"))
    return g.groupBy("grp").agg(
        F.count("*").alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        F.min(F.col("o_year") * 100 + F.col("o_month")).alias("first_file"),
        F.max(F.col("o_year") * 100 + F.col("o_month")).alias("last_file"),
    )


# -- embedding-space benchmark decontamination --------------------------

_SEMCON_T = 0.3  # calibrated: corpus max-vs-bench cosine tops out ~0.49


@query(
    "x_contamination_semantic",
    category="pipeline",
    oracle=(
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        "           FROM embeddings), "
        "bench AS (SELECT e.vec_id AS bench_id, emb FROM e "
        "  JOIN documents d ON d.doc_id = e.vec_id WHERE d.source = 'src0'), "
        "corpus AS (SELECT e.vec_id AS doc_id, emb FROM e "
        "  JOIN documents d ON d.doc_id = e.vec_id WHERE d.source <> 'src0'), "
        "p AS (SELECT c.doc_id, b.bench_id, "
        "  list_cosine_similarity(c.emb, b.emb) AS raw_sim "
        "  FROM corpus c CROSS JOIN bench b), "
        "r AS (SELECT doc_id, bench_id, raw_sim, row_number() OVER ("
        "  PARTITION BY doc_id ORDER BY raw_sim DESC, bench_id) AS rn FROM p) "
        "SELECT doc_id, bench_id AS best_bench_id, "
        "round(raw_sim, 6) AS max_sim, "
        f"CASE WHEN raw_sim >= {_SEMCON_T} THEN true ELSE false END AS contaminated "
        "FROM r WHERE rn = 1"
    ),
)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus
    document, the maximum cosine against the benchmark set's (src0)
    embeddings, the closest benchmark item, and a contamination flag —
    the SEMANTIC companion to x_contamination_ngram's surface 5-gram
    containment (a paraphrased test item shares no 5-grams but sits
    close in embedding space; modern decontamination runs both).

    Scale shape: the benchmark side is bounded by benchmark size, not
    corpus size — it broadcasts whole (the x_contamination_ngram
    discipline), so the scoring pass is one corpus scan with a
    broadcast nested-loop against |bench| vectors, per-vector norms
    hoisted before the pair loop, then a WindowGroupLimit argmax per
    doc.  Per-pair cosines are identical IEEE float64 trees in both
    engines (the x_dedup_embedding recipe), so the raw-sim argmax and
    threshold agree without rounding tricks; only the reported max_sim
    is 6-dp rounded."""
    from ..functions.vectors import norm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .join(docs, F.col("vec_id") == F.col("doc_id"))
    )
    e = e.withColumn("nrm", norm(F.col("emb")))
    bench = e.filter(F.col("source") == "src0").select(
        F.col("vec_id").alias("bench_id"),
        F.col("emb").alias("bemb"),
        F.col("nrm").alias("bnrm"),
    )
    corpus = e.filter(F.col("source") != "src0").select(
        F.col("doc_id"), "emb", "nrm"
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb"), F.col("bemb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    p = corpus.crossJoin(F.broadcast(bench)).select(
        "doc_id", "bench_id", (dot / (F.col("nrm") * F.col("bnrm"))).alias("raw_sim")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("raw_sim"), F.asc("bench_id"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("bench_id").alias("best_bench_id"),
            F.round("raw_sim", 6).alias("max_sim"),
            (F.col("raw_sim") >= _SEMCON_T).alias("contaminated"),
        )
    )


@query(
    "x_join_scd2_pit",
    category="pipeline",
    oracle=(
        "WITH chg AS ("
        "  SELECT user_id, value, event_id, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us "
        "  FROM events WHERE event_type IN ('signup', 'purchase')), "
        "dim AS (SELECT user_id, value AS dim_value, "
        "  row_number() OVER w AS version, ts_us AS valid_from_us, "
        "  COALESCE(lead(ts_us) OVER w, 9223372036854775807) AS valid_to_us "
        "  FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), "
        "f AS (SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us "
        "  FROM events WHERE event_type IN ('click', 'view')) "
        "SELECT d.version, CAST(COUNT(*) AS BIGINT) AS n_events, "
        "CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users, "
        "CAST(SUM(CAST(f.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
        "FROM f JOIN dim d ON f.user_id = d.user_id "
        "AND f.ts_us >= d.valid_from_us AND f.ts_us < d.valid_to_us "
        "GROUP BY d.version"
    ),
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 history: every
    browse event (click/view) joins to the dimension VERSION that was
    valid at its event time — the leakage-free 'what was the attribute
    worth then' join every warehouse and feature pipeline runs against
    a slowly-changing dimension (x_etl_scd2 builds the history; this is
    its consumption side).  Grouped to a per-version census so the
    check is compact.

    Scale shape: the interval predicate rides an EQUI-join on the
    dimension key (user_id) — never an unbounded range join — and a
    user's version count is bounded by their change events, so the
    per-key fan-out before the interval filter is small and the join
    partitioning is exactly x_etl_scd2's output partitioning (the sort
    amortizes, as its docstring promises).  Events before a user's
    first version drop out identically on both engines (inner join)."""
    dim = etl_scd2(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        "version",
        "valid_from_us",
        "valid_to_us",
    )
    f = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "user_id",
            "value",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    return (
        f.join(
            dim,
            (F.col("user_id") == F.col("d_user"))
            & (F.col("ts_us") >= F.col("valid_from_us"))
            & (F.col("ts_us") < F.col("valid_to_us")),
        )
        .groupBy(F.col("version").cast("long").alias("version"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


# --- HBase HashTable / SyncTable: digest-pruned table reconciliation --

_SYNC_BUCKET = 64  # rowkey-range width of one digest bucket


def _sync_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(source, target, dirty-range ids) behind x_sync_table — the
    digest phase is exposed so tests can assert on ITS result (which
    ranges actually pass the mismatch filter), not just on the final
    diff output, which would stay correct even if the pruning filter
    regressed to a tautology."""
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    tgt = (
        src.filter(F.col("o_orderkey") % 997 != 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 523 == 0, F.col("cents") + 1)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionAll(
            # Inserted keys are NEGATED, not shifted by a constant: a
            # fixed +4e6 offset collides with real o_orderkey values
            # once SF grows past ~0.67 (max key is 6e6*SF), silently
            # breaking the unique-key precondition of the digest+prune+
            # diff composition.  Negation is out of the key domain
            # (o_orderkey >= 1) at EVERY scale factor.
            src.filter(F.col("o_orderkey") % 719 == 0).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                "o_custkey",
                "o_orderstatus",
                "cents",
            )
        )
    )

    return src, tgt, _sync_dirty(src, tgt)


def _sync_dirty(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Digest phase of x_sync_table over ARBITRARY (o_orderkey,
    o_custkey, o_orderstatus, cents) frames: per-range order-
    insensitive digests on both sides, returning the mismatched range
    ids.  PRECONDITION for the digest+prune+diff COMPOSITION: row keys
    must be unique within each side.  The digest itself is pure
    multiset equality and needs no such assumption, but the row phase
    (_sync_row_diff) is a full-outer equi-join, and the two semantics
    diverge on duplicate keys in BOTH directions: (a) a duplicate-key
    range whose multisets differ digests dirty, yet the join
    cross-product cannot express which copy changed (dirty-with-
    ambiguous-diff); (b) a duplicate-key range whose multisets are
    IDENTICAL digests clean — correctly — while the unpruned join
    would still emit cross-product 'changed' pairs for the duplicated
    key, so pruned and unpruned outputs would disagree (clean-range/
    diffable-join).  With unique keys per side the guarantee is exact
    both ways: every row-level diff makes its range dirty, and every
    clean range has zero diff rows.  x_sync_table satisfies this
    (o_orderkey is unique and the corruption model preserves
    uniqueness — inserted keys are negated, out of domain at any
    SF)."""

    def digest(df: DataFrame, side: str) -> DataFrame:
        # Row hash -> two 24-bit md5 words; the per-range digest is
        # their SUMS plus the rowcount — order-insensitive, so the
        # digest pass needs no sort, only one hash aggregate.
        # concat_ws DROPS null fields, so rows differing only in WHICH
        # column is NULL would hash identically — render each column
        # null-safely with a \x00 sentinel (outside every value domain)
        # before hashing.
        h = F.md5(
            F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in ("o_orderkey", "o_custkey", "o_orderstatus", "cents")
                ],
            )
        )
        return (
            df.select(
                F.expr(f"o_orderkey DIV {_SYNC_BUCKET}").alias("bkt"),
                hex_int(h, 1, 6).alias("w1"),
                hex_int(h, 7, 6).alias("w2"),
            )
            .groupBy("bkt")
            .agg(
                F.sum("w1").alias(f"{side}_s1"),
                F.sum("w2").alias(f"{side}_s2"),
                F.count("*").alias(f"{side}_n"),
            )
        )

    return (
        digest(src, "src")
        .join(digest(tgt, "tgt"), "bkt", "full_outer")
        .filter(
            ~(
                F.col("src_s1").eqNullSafe(F.col("tgt_s1"))
                & F.col("src_s2").eqNullSafe(F.col("tgt_s2"))
                & F.col("src_n").eqNullSafe(F.col("tgt_n"))
            )
        )
        .select("bkt")
        # The dirty-range set is corruption-bounded (a handful of range
        # ids), but it feeds BOTH row-phase semi-joins — without a cut
        # here Catalyst inlines the whole two-table digest subtree into
        # each branch (24 parquet scans at plan time).  The lazy local
        # checkpoint computes the digest comparison ONCE and shares the
        # tiny result, exactly like HBase HashTable materializing its
        # hash files before SyncTable runs.
        .localCheckpoint(eager=False)
    )



def _sync_row_diff(src: DataFrame, tgt: DataFrame, dirty: DataFrame) -> DataFrame:
    """Row phase of x_sync_table over ARBITRARY (o_orderkey, o_custkey,
    o_orderstatus, cents) frames: semi-join both sides to the dirty
    ranges, full-outer diff within them.  Factored out so the
    hypothesis differential can drive the digest+prune+diff machinery
    over generated tables (duplicate keys, boundary buckets, empty
    sides), not just the fixed corpus."""
    bkt = F.expr(f"o_orderkey DIV {_SYNC_BUCKET}").alias("bkt")
    s2 = src.select(bkt, "*").join(F.broadcast(dirty), "bkt", "left_semi")
    t2 = tgt.select(bkt, "*").join(F.broadcast(dirty), "bkt", "left_semi")
    a = s2.select(
        F.col("o_orderkey").alias("s_key"),
        F.col("o_custkey").alias("s_cust"),
        F.col("o_orderstatus").alias("s_status"),
        F.col("cents").alias("src_cents"),
    )
    b = t2.select(
        F.col("o_orderkey").alias("t_key"),
        F.col("o_custkey").alias("t_cust"),
        F.col("o_orderstatus").alias("t_status"),
        F.col("cents").alias("tgt_cents"),
    )
    # Null-SAFE content comparison (eqNullSafe / IS DISTINCT FROM on
    # both engines, same as verify_replication): a NULL-vs-value
    # difference must flag as changed, not evaluate to NULL and slip
    # through while the digest phase flags the range dirty.
    return (
        a.join(b, F.col("s_key") == F.col("t_key"), "full_outer")
        .filter(
            F.col("s_key").isNull()
            | F.col("t_key").isNull()
            | ~(
                F.col("src_cents").eqNullSafe(F.col("tgt_cents"))
                & F.col("s_cust").eqNullSafe(F.col("t_cust"))
                & F.col("s_status").eqNullSafe(F.col("t_status"))
            )
        )
        .select(
            F.coalesce("s_key", "t_key").alias("o_orderkey"),
            F.when(F.col("s_key").isNull(), "added")
            .when(F.col("t_key").isNull(), "removed")
            .otherwise("changed")
            .alias("change_type"),
            "src_cents",
            "tgt_cents",
        )
    )


@query(
    "x_sync_table",
    category="pipeline",
    oracle=(
        "WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, "
        "  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM orders), "
        "tgt AS ("
        "  SELECT o_orderkey, o_custkey, o_orderstatus, "
        "    CASE WHEN o_orderkey % 523 = 0 THEN cents + 1 ELSE cents END AS cents "
        "  FROM src WHERE o_orderkey % 997 <> 0 "
        "  UNION ALL "
        "  SELECT -o_orderkey, o_custkey, o_orderstatus, cents "
        "  FROM src WHERE o_orderkey % 719 = 0) "
        "SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey, "
        "CASE WHEN s.o_orderkey IS NULL THEN 'added' "
        "     WHEN t.o_orderkey IS NULL THEN 'removed' "
        "     ELSE 'changed' END AS change_type, "
        "s.cents AS src_cents, t.cents AS tgt_cents "
        "FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey "
        "WHERE s.o_orderkey IS NULL OR t.o_orderkey IS NULL "
        "OR s.cents IS DISTINCT FROM t.cents "
        "OR s.o_custkey IS DISTINCT FROM t.o_custkey "
        "OR s.o_orderstatus IS DISTINCT FROM t.o_orderstatus"
    ),
)
def sync_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase HashTable/SyncTable (the genre's two-MR-job table
    reconciliation tool) on DataFrames: phase 1 digests each
    64-key rowkey RANGE on both tables into an order-insensitive
    (sum-of-md5-words, rowcount) triple; phase 2 row-diffs ONLY the
    ranges whose digests disagree.  The replica is derived
    deterministically from orders (drops every 997th key, flips one
    cent on every 523rd, inserts negated-key copies of every 719th) so
    corruption is SPARSE — most ranges digest clean and never reach
    the row-level join (strict-subset pruning asserted in
    tests/test_plans.py at sf0.001), which is the entire point of the tool at
    100 TB: the digest pass shuffles ~(n_rows / 64) tiny triples and
    the expensive full-outer row diff touches only dirty ranges.

    The ORACLE is the naive full-table diff with no bucketing or
    hashing anywhere, so the driver's hash match proves the digest
    pruning LOSSLESS: a range containing any added/removed/changed row
    always digests dirty (a false-clean needs the 48-bit word sums of
    the two sides to collide — ~2^-48 per range, and deterministic on
    a fixed corpus: validated exact at every test SF).  Buckets are
    keyed by ``o_orderkey DIV 64`` so a dirty range maps back to a
    contiguous rowkey scan, exactly like HBase's per-range hash files.

    Money compares as exact integer cents; the one-cent corruption is
    invisible to any float tolerance but always flips the digest."""
    src, tgt, dirty = _sync_frames(spark, sf_dir)
    return _sync_row_diff(src, tgt, dirty)


@query(
    "x_verify_replication",
    category="pipeline",
    oracle=(
        "WITH src AS (SELECT event_id, user_id, event_type, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "surv AS (SELECT event_id, user_id, event_type, ts_us, "
        "  CASE WHEN event_id % 13 = 0 THEN cents + 1 ELSE cents END AS cents "
        "  FROM src WHERE event_id % 17 <> 0), "
        "rep_raw AS ("
        "  SELECT * FROM surv "
        "  UNION ALL SELECT * FROM surv WHERE event_id % 10 = 0 "
        "  UNION ALL SELECT event_id + 1000000000 AS event_id, user_id, "
        "    event_type, ts_us, cents FROM src WHERE event_id % 19 = 0), "
        "rep AS (SELECT event_id, user_id, event_type, ts_us, cents, "
        "  CAST(COUNT(*) AS BIGINT) AS n_copies FROM rep_raw "
        "  GROUP BY event_id, user_id, event_type, ts_us, cents), "
        "j AS (SELECT s.event_id AS sid, r.event_id AS rid, r.n_copies, "
        "  (s.user_id IS NOT DISTINCT FROM r.user_id "
        "   AND s.event_type IS NOT DISTINCT FROM r.event_type "
        "   AND s.ts_us IS NOT DISTINCT FROM r.ts_us "
        "   AND s.cents IS NOT DISTINCT FROM r.cents) AS same "
        "  FROM src s FULL OUTER JOIN rep r ON s.event_id = r.event_id) "
        "SELECT "
        "CAST(COUNT(*) FILTER (WHERE sid IS NOT NULL AND rid IS NOT NULL "
        "  AND same) AS BIGINT) AS goodrows, "
        "CAST(COUNT(*) FILTER (WHERE sid IS NOT NULL AND rid IS NOT NULL "
        "  AND NOT same) AS BIGINT) AS content_different, "
        "CAST(COUNT(*) FILTER (WHERE rid IS NULL) AS BIGINT) AS only_in_source, "
        "CAST(COUNT(*) FILTER (WHERE sid IS NULL) AS BIGINT) AS only_in_target, "
        "CAST(SUM(CASE WHEN rid IS NOT NULL THEN n_copies - 1 ELSE 0 END) "
        "  AS BIGINT) AS duplicate_deliveries "
        "FROM j"
    ),
)
def verify_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase VerifyReplication (the genre's cross-cluster audit MR job)
    under at-least-once delivery: the replica of the events stream is
    derived deterministically — every 17th event DROPPED (replication
    lag), every 13th survivor corrupted by one cent, every 10th
    survivor delivered TWICE (identical redelivery, the at-least-once
    case the real tool must tolerate), and every 19th source event
    echoed under a shifted id (foreign rows in the target).  The audit
    reports the census the HBase tool prints as MR counters: GOODROWS,
    CONTENT_DIFFERENT, ONLY_IN_SOURCE, ONLY_IN_TARGET — plus the
    duplicate-delivery count the grouped dedup absorbs.

    Spark shape: redeliveries collapse in the SAME hash aggregate that
    counts them (group by full row content -> n_copies; no separate
    DISTINCT pass), then ONE full-outer equi-join on event_id and one
    final census aggregate — two shuffles total for a billion-event
    audit, vs the tool's per-row replica GETs.  Content equality is
    null-safe on every column (eqNullSafe / IS NOT DISTINCT FROM): a
    NULL-valued event compares equal to its faithful replica, and a
    NULL cent corrupted by +1 stays NULL on both engines (that row
    counts GOOD — pinned in the oracle by the same arithmetic).

    Money compares as exact integer cents (DECIMAL(18,2)*100), so the
    one-cent corruption is always visible and never float-drifted."""
    src = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    surv = src.filter(F.col("event_id") % 17 != 0).select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        F.when(F.col("event_id") % 13 == 0, F.col("cents") + 1)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    rep_raw = surv.unionAll(surv.filter(F.col("event_id") % 10 == 0)).unionAll(
        src.filter(F.col("event_id") % 19 == 0).select(
            (F.col("event_id") + 1000000000).alias("event_id"),
            "user_id",
            "event_type",
            "ts_us",
            "cents",
        )
    )
    rep = rep_raw.groupBy("event_id", "user_id", "event_type", "ts_us", "cents").agg(
        F.count("*").cast("long").alias("n_copies")
    )
    s = src.select(
        F.col("event_id").alias("sid"),
        F.col("user_id").alias("s_user"),
        F.col("event_type").alias("s_type"),
        F.col("ts_us").alias("s_ts"),
        F.col("cents").alias("s_cents"),
    )
    r = rep.select(
        F.col("event_id").alias("rid"),
        F.col("user_id").alias("r_user"),
        F.col("event_type").alias("r_type"),
        F.col("ts_us").alias("r_ts"),
        F.col("cents").alias("r_cents"),
        "n_copies",
    )
    same = (
        F.col("s_user").eqNullSafe(F.col("r_user"))
        & F.col("s_type").eqNullSafe(F.col("r_type"))
        & F.col("s_ts").eqNullSafe(F.col("r_ts"))
        & F.col("s_cents").eqNullSafe(F.col("r_cents"))
    )
    both = F.col("sid").isNotNull() & F.col("rid").isNotNull()
    return (
        s.join(r, F.col("sid") == F.col("rid"), "full_outer")
        .agg(
            F.count(F.when(both & same, 1)).cast("long").alias("goodrows"),
            F.count(F.when(both & ~same, 1)).cast("long").alias("content_different"),
            F.count(F.when(F.col("rid").isNull(), 1))
            .cast("long")
            .alias("only_in_source"),
            F.count(F.when(F.col("sid").isNull(), 1))
            .cast("long")
            .alias("only_in_target"),
            F.sum(
                F.when(F.col("rid").isNotNull(), F.col("n_copies") - 1).otherwise(0)
            )
            .cast("long")
            .alias("duplicate_deliveries"),
        )
    )


@query(
    "x_sink_csv",
    category="scan",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS sum_cents "
        "FROM orders GROUP BY o_orderstatus, o_orderpriority"
    ),
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source round-trip — completing the sink matrix
    (parquet partitioned / ORC / JSON-lines / CSV), because the
    interchange format every downstream spreadsheet and legacy loader
    still demands is the one with NO types: the writer emits headers,
    the reader applies an EXPLICIT schema (schema-on-read like the
    JSON twin — inference would re-scan 100 TB and silently guess),
    and money crosses the text boundary as INTEGER CENTS, never a
    decimal string (the classic CSV corruption: a locale- or
    trailing-zero-sensitive float reparse; an int64 survives any
    CSV dialect byte-exactly).

    Scale shape: both legs are one pass; the read leg's explicit
    schema keeps the text parse a single projection (no inference
    job), and the aggregate is map-side combined."""
    orders = load_table(spark, sf_dir, "orders")
    out = sink_dir("sink_csv", os.path.join(sf_dir, "orders.parquet"))
    orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).write.mode("overwrite").option("header", True).csv(out)
    typed = (
        spark.read.schema(
            "o_orderkey LONG, o_orderstatus STRING, "
            "o_orderpriority STRING, cents LONG"
        )
        .option("header", True)
        .csv(out)
    )
    return typed.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


@query(
    "x_source_text",
    category="scan",
    oracle=(
        "WITH lines AS (SELECT doc_id || '\t' || lang || '\t' || "
        "  regexp_replace(text, '[\\r\\n]+', ' ', 'g') AS value "
        "  FROM documents), "
        "parsed AS (SELECT string_split(value, '\t') AS f FROM lines) "
        "SELECT f[2] AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(len(list_filter(string_split(f[3], ' '), t -> t <> ''))) "
        "  AS BIGINT) AS n_tokens "
        "FROM parsed GROUP BY f[2]"
    ),
)
def source_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source (``spark.read.text``) — the last source
    format in the matrix (parquet / JSON-lines / CSV / merged-schema /
    corrupt-record JSON / text): the corpus is staged as TAB-separated
    lines (one doc per line, the wire format of every classic
    MapReduce text pipeline — this is exactly how the HBase-MR genre's
    TSV bulk loaders see the world), read back as a single `value`
    STRING column, and parsed by an explicit split projection — the
    engine guarantees line framing only; structure is the reader's
    problem, which is the honest contract of .text.

    Tabs cannot collide: doc_id is numeric, lang is a code, and the
    corpus text is space-tokenized (asserted by the token count
    matching the documents-table count downstream).  Newlines ARE
    escaped before staging (r10 ADVICE): a doc containing '\\n' would
    otherwise split into multiple framed lines on the Spark read leg
    while the oracle parses table rows directly — the TSV discipline
    every real bulk loader applies, encoded on BOTH engines so the
    round-trip is newline-safe by construction, not by corpus luck.

    Scale shape: both legs one pass; text framing splits by newline at
    block boundaries exactly like any other splittable source, so a
    100 TB TSV dump parallelizes per block."""
    docs = load_table(spark, sf_dir, "documents")
    out = sink_dir("source_text", os.path.join(sf_dir, "documents.parquet"))
    docs.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            "lang",
            F.regexp_replace("text", "[\\r\\n]+", " "),
        ).alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    f = F.split("value", "\t")
    return (
        lines.select(
            f.getItem(1).alias("lang"),
            F.size(F.filter(F.split(f.getItem(2), " "), lambda t: t != "")).alias(
                "toks"
            ),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
        )
    )


def _stage_versioned_orders(spark: SparkSession, sf_dir: str) -> dict:
    """Stage the versioned-parquet table layout behind
    x_source_snapshot: a data directory accumulating immutable commit
    files plus per-snapshot MANIFESTS naming exactly the files each
    snapshot comprises (the table-format core of Iceberg/Delta/HBase
    snapshots, reduced to its read-path essence).

    - commit c1 (snapshot "s1"): the base 80% of orders (Knuth split).
    - commit c2 (lands AFTER s1's manifest is sealed): the remaining
      20% PLUS repriced copies of part of the base — POISON rows: any
      reader that globs the directory instead of pinning to the
      manifest double-counts keys and sees changed prices, so the
      oracle hash can only match through genuine snapshot isolation.
    - snapshot "s2": c1 + c2 files.
    - c0_aborted: a commit whose WRITE completed but whose manifest
      never landed (the writer died pre-commit) — a duplicate slice of
      the base (every 7th base key).  Referenced by NO manifest; it
      exists so x_etl_vacuum has real orphans to account, and as a
      second poison layer for any directory-globbing reader.

    Staged once per source version (functions/staging.staged);
    manifests are JSON file lists, exactly what a snapshot read needs
    and nothing more.  Returns {"root", "s1", "s2"} with each
    snapshot's absolute file list."""
    import json

    def _files(d: str) -> list[str]:
        return sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )

    def write(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        base = orders.filter(F.pmod(F.col("o_orderkey") * KNUTH, F.lit(10)) < 8)
        c1 = os.path.join(root, "c1")
        base.repartition(2).write.mode("overwrite").parquet(c1)
        s1_files = _files(c1)
        with open(os.path.join(root, "manifest_s1.json"), "w") as fh:
            json.dump({"snapshot": "s1", "files": s1_files}, fh)
        # post-snapshot commit: late rows + repriced rewrites of the base
        late = orders.filter(F.pmod(F.col("o_orderkey") * KNUTH, F.lit(10)) >= 8)
        repriced = base.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        c2 = os.path.join(root, "c2")
        late.unionAll(repriced).repartition(2).write.mode("overwrite").parquet(c2)
        with open(os.path.join(root, "manifest_s2.json"), "w") as fh:
            json.dump({"snapshot": "s2", "files": s1_files + _files(c2)}, fh)
        # the aborted write: files on disk, no manifest ever references
        # them (duplicate content — the realistic failure: the job died
        # between its file writes and its manifest commit)
        aborted = base.filter(F.col("o_orderkey") % 7 == 3)
        aborted.repartition(2).write.mode("overwrite").parquet(
            os.path.join(root, "c0_aborted")
        )

    root = staged("snapshot_table_v2", os.path.join(sf_dir, "orders.parquet"), write)
    out = {"root": root}
    for snap in ("s1", "s2"):
        with open(os.path.join(root, f"manifest_{snap}.json")) as fh:
            out[snap] = json.load(fh)["files"]
    return out


@query(
    "x_source_snapshot",
    category="scan",
    oracle=(
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS sum_cents, "
        "CAST(MAX(o_orderkey) AS BIGINT) AS max_key "
        f"FROM orders WHERE (o_orderkey * {KNUTH}) % 10 < 8 "
        "GROUP BY o_orderstatus"
    ),
)
def source_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolation read (VERDICT r10 item 6 — the
    TableSnapshotInputFormat analog, the last unmodeled genre read
    path): read the named point-in-time snapshot "s1" of a versioned
    parquet table by pinning the scan to EXACTLY the files s1's
    manifest records, while a later commit (c2: late-arriving rows plus
    repriced rewrites of s1's own keys) has already landed in the same
    table directory.  The oracle encodes ONLY the s1 membership, so the
    hash match proves the read is unaffected by every post-snapshot
    write — c2's poison rows would change counts, sums, AND max keys if
    any of them leaked into the scan.  The plan pin (tests/
    test_plans.py) asserts the scan's inputFiles are a subset of the
    manifest: nothing else is even opened.

    Scale shape: manifest resolution is a driver-side read of one tiny
    JSON (exactly how Iceberg/Delta/HBase snapshot readers plan), the
    data scan is an ordinary parallel parquet read of the manifest's
    files with pushdown intact, and the aggregate is map-side combined.
    No listing of the table directory ever happens — at 100 TB the
    directory holds every live and dead commit, and globbing it is both
    wrong (isolation) and slow (object-store LIST)."""
    snaps = _stage_versioned_orders(spark, sf_dir)
    s1 = read_parquet(spark, *snaps["s1"])
    return s1.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@query(
    "x_source_snapshot_delta",
    category="scan",
    oracle=(
        "WITH delta AS ("
        f"  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
        f"  WHERE (o_orderkey * {KNUTH}) % 10 >= 8 "
        "  UNION ALL "
        f"  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 FROM orders "
        f"  WHERE (o_orderkey * {KNUTH}) % 10 < 8 AND o_orderkey % 5 = 0) "
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS sum_cents, "
        "CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys "
        "FROM delta GROUP BY o_orderstatus"
    ),
)
def source_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot scan (the Iceberg/Delta incremental-read
    path, completing x_source_snapshot's surface): consume ONLY what
    changed between snapshot s1 and snapshot s2 by scanning the file
    set s2 MINUS s1 — pure manifest arithmetic, zero data-side diffing.
    The delta commit (late-arriving rows plus repriced rewrites of base
    keys) is exactly what a downstream incremental refresh must apply,
    and the oracle re-derives that content independently from the
    deterministic commit rule, so the hash match proves manifest
    subtraction selects precisely the committed delta — no base file
    re-read, no missed file.

    Scale shape: at 100 TB an incremental consumer reading manifests
    touches only the new commit's bytes (here 1/4 of the table) while a
    snapshot diff by content (x_etl_snapshot_diff) shuffles both full
    snapshots — this is why every table format records file-level
    lineage.  The scan is an ordinary parallel parquet read of the
    delta files; the aggregate is map-side combined."""
    snaps = _stage_versioned_orders(spark, sf_dir)
    s1 = set(snaps["s1"])
    delta_files = [f for f in snaps["s2"] if f not in s1]
    delta = read_parquet(spark, *delta_files)
    return delta.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
    )


@query(
    "x_etl_vacuum",
    category="pipeline",
    oracle=(
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS sum_cents "
        f"FROM orders WHERE (o_orderkey * {KNUTH}) % 10 < 8 "
        "AND o_orderkey % 7 = 3 GROUP BY o_orderstatus"
    ),
)
def etl_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vacuum audit for the versioned table (the table-format GC path,
    completing the snapshot surface: read -> incremental read ->
    vacuum): files present in the table directory but referenced by NO
    snapshot manifest are orphans — here the c0_aborted commit, whose
    writer died between writing its files and committing its manifest.
    The audit accounts exactly what a vacuum would reclaim (rows and
    cents per status, straight off the orphan bytes); the oracle
    re-derives the aborted job's deterministic content, so the hash
    match proves manifest-set subtraction finds precisely the
    unreferenced files — every live file excluded, every orphan found.
    The actual delete is a trivial driver-side rm of the audited list;
    the dataflow IS the audit (and the plan pin in tests/test_plans.py
    asserts only orphan files are opened).

    Scale shape: live-set resolution is manifest arithmetic on the
    driver (tiny JSON, exactly how Iceberg's expire-snapshots plans);
    the directory listing is one LIST per table (the one unavoidable
    listing in any GC); the orphan scan is an ordinary parallel parquet
    read of only the reclaimable bytes."""
    snaps = _stage_versioned_orders(spark, sf_dir)
    live = set(snaps["s1"]) | set(snaps["s2"])
    all_files = sorted(
        os.path.join(r, f)
        for r, _dirs, files in os.walk(snaps["root"])
        for f in files
        if f.endswith(".parquet")
    )
    orphans = [f for f in all_files if f not in live]
    return (
        read_parquet(spark, *orphans)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
    )


def _stage_posdelete_table(spark: SparkSession, sf_dir: str) -> dict:
    """Stage the positional-delete (deletion-vector) table layout
    behind x_source_positional_deletes — the Iceberg-v2 / Delta
    deletion-vector read path reduced to its essence: immutable sorted
    data files plus a sidecar of (file, position) tombstones that
    never names a key.

    - data/: orders bucketed by Knuth hash into 4 partitions
      (one file per bucket — repartition(4, bucket) pins each bucket
      to exactly one write task) and SORTED by o_orderkey within each
      file, so every row's physical position is a deterministic
      function of the data.
    - deletes.parquet: the tombstone sidecar, computed at stage time
      as the (bucket, pos) of every key with o_orderkey % 7 == 3 via
      the same (bucket, o_orderkey) ordering the writer used.  The
      sidecar stores ONLY positions — recovering which rows die is
      the reader's job, which is exactly what the oracle's logical
      encoding of the deletion then proves correct.

    Staged once per source version (functions/staging.staged)."""

    def write(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.pmod(F.col("o_orderkey") * KNUTH, F.lit(4)).alias("bucket"),
        )
        (
            orders.repartition(4, "bucket")
            .sortWithinPartitions("bucket", "o_orderkey")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(root, "data"))
        )
        w = Window.partitionBy("bucket").orderBy("o_orderkey")
        (
            orders.select(
                "bucket",
                "o_orderkey",
                (F.row_number().over(w) - 1).cast("long").alias("pos"),
            )
            .filter(F.col("o_orderkey") % 7 == 3)
            .select("bucket", "pos")
            .write.mode("overwrite")
            .parquet(os.path.join(root, "deletes"))
        )

    return {"root": staged("posdelete_table", os.path.join(sf_dir, "orders.parquet"), write)}


@query(
    "x_source_positional_deletes",
    category="scan",
    oracle=(
        # The LOGICAL encoding of the deletion: the sidecar's positions
        # were derived from o_orderkey % 7 == 3, so a hash match proves
        # the reader's PHYSICAL (file, row_index) reconstruction landed
        # on exactly the intended rows.
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS sum_cents, "
        "CAST(MAX(o_orderkey) AS BIGINT) AS max_key "
        "FROM orders WHERE o_orderkey % 7 <> 3 "
        "GROUP BY o_orderstatus"
    ),
)
def source_positional_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector read (the Iceberg v2 positional-delete / Delta
    deletion-vector shape, completing the versioned-table surface
    beside x_source_snapshot/_delta and x_etl_vacuum): scan immutable
    sorted data files, anti-join each row's PHYSICAL position
    (``_metadata.row_index``, the parquet reader's row ordinal) against
    a tombstone sidecar of (bucket, pos) pairs that never names a key,
    and aggregate the survivors.  The oracle encodes the deletion
    LOGICALLY (the key predicate the tombstones were derived from), so
    the hash match is an end-to-end proof that physical row addressing
    round-trips: writer order -> file layout -> reader row_index ->
    tombstone join all agree, or counts, sums, and max keys all break.

    Scale shape: this is why lakehouse formats use deletion vectors —
    deletes ship as tiny position sidecars (broadcast here; a bitmap in
    production) instead of rewriting data files, and the scan stays a
    plain parallel parquet read with pushdown and partition pruning
    intact.  The anti-join is equi-keyed on (bucket, pos) with the
    small side broadcast — no shuffle of the fact scan at any scale.
    Position-to-key recovery is differentially tested
    (tests/test_properties.py) against the staged layout."""
    staged = _stage_posdelete_table(spark, sf_dir)
    data = read_parquet(spark, os.path.join(staged["root"], "data")).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "bucket",
        F.col("_metadata.row_index").alias("pos"),
    )
    dels = read_parquet(spark, os.path.join(staged["root"], "deletes"))
    live = data.join(F.broadcast(dels), ["bucket", "pos"], "left_anti")
    return live.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )
