"""Extra coverage beyond the core §2 inventory.

- source_csv: the ImportTsv pattern end-to-end (text staging -> typed
  read with explicit schema -> aggregate), the genre's E2 entry point.
- agg_grouping_sets: GROUPING SETS (the general form of rollup/cube).
- tpch_q3 / tpch_q6: recognizable TPC-H workload shapes over the same
  star schema (Q3 shipping-priority top-10, Q6 forecast revenue).
- multimodal_frame_sample: frame-sampling plumbing for video-like
  payloads via mapInPandas (every-10th-frame policy on deterministic
  fake frame counts — the decode itself is the stubbed step).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.determinism import dec_sum, hex_int_duck, hex_int_sql
from ..functions.staging import sink_dir
from ..functions.zorder import (
    hilbert_ctes,
    hilbert_map,
    normalize,
    normalize_sql,
    z_value,
    z_value_sql,
)
from ..registry import query


@query(
    "x_source_csv",
    category="scan",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
        "FROM orders GROUP BY o_orderpriority"
    ),
)
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ImportTsv pattern: stage orders as headerless CSV text, re-read it
    with an explicit schema (the Mapper's hand-written parse, done by the
    CSV datasource), aggregate.  Round-trips through text exactly."""
    orders = load_table(spark, sf_dir, "orders")
    out = sink_dir("source_csv", os.path.join(sf_dir, "orders.parquet"))
    (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.format_number("o_totalprice", 2).alias("o_totalprice"),  # fixed 2dp text
            "o_orderpriority",
        )
        .withColumn("o_totalprice", F.regexp_replace("o_totalprice", ",", ""))
        .write.mode("overwrite")
        .option("header", "false")
        .csv(out)
    )
    typed = spark.read.schema(
        "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE, o_orderpriority STRING"
    ).csv(out)
    return typed.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"), dec_sum("o_totalprice", "sum_price")
    )


@query(
    "x_agg_grouping_sets",
    category="agg",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "COUNT(*) AS cnt FROM lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form rollup/cube desugar to."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "COUNT(*) AS cnt FROM _gs_lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"
    )


@query(
    "x_tpch_q3",
    category="join",
    oracle=(
        "SELECT l_orderkey, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue, "
        "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' "
        "AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00' "
        "GROUP BY l_orderkey, o_orderdate "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: shipping-priority top-10 (no o_shippriority column
    in this schema; grouped on (l_orderkey, o_orderdate))."""
    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(dec_sum(revenue, "revenue", scale=6))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "x_tpch_q6",
    category="agg",
    oracle=(
        "SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
    ),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecast-revenue-change — filter-heavy single-table agg;
    every predicate reaches the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue", scale=6))
    )


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: every-10th-frame sampling policy.

    Frame count is derived deterministically from payload size (a real
    video would get it from the container header — that decode is the
    stubbed step, see llm_multimodal.decode_image)."""
    for pdf in batches:
        n_frames = (pdf["payload"].map(len) // 256).astype("int64")
        out_ids, out_idx = [], []
        for doc_id, n in zip(pdf["doc_id"], n_frames):
            for i in range(0, int(n), 10):
                out_ids.append(doc_id)
                out_idx.append(i)
        yield pd.DataFrame({"doc_id": pd.Series(out_ids, dtype="int64"),
                            "frame_idx": pd.Series(out_idx, dtype="int64")})


@query(
    "x_multimodal_frame_sample",
    category="llm_multimodal",
    oracle=(
        "SELECT doc_id, CAST(unnest(range(0, octet_length(CAST(text AS BLOB)) // 256, 10)) AS BIGINT) AS frame_idx "
        "FROM documents WHERE octet_length(CAST(text AS BLOB)) // 256 > 0"
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: binary payload -> mapInPandas ->
    one row per sampled frame (1-row -> N-rows through the Arrow path)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return docs.mapInPandas(_sample_frames, schema="doc_id long, frame_idx long")


def _pid_owns_dir(pid: int, d: str) -> bool:
    """True iff ``pid`` is alive AND plausibly the process that wrote
    ``d`` — i.e. it started BEFORE the directory was last written.
    Bare ``os.kill(pid, 0)`` is defeated by pid recycling (code-review
    r8 item 5: a recycled pid on an unrelated long-lived process would
    shield the dead owner's tables forever); comparing the process
    start time from /proc/<pid>/stat against the dir mtime
    disambiguates, with a 5-minute slack for clock/tick skew.  Any
    parse failure counts as "owns" — never reap on uncertainty."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False  # dead — safe to reap
    except PermissionError:
        return True  # alive under another uid — leave it
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        # field 22 (1-indexed) = starttime in clock ticks since boot;
        # fields 2 can contain spaces — split after the closing paren
        ticks = float(stat.rsplit(")", 1)[1].split()[19])
        hz = os.sysconf("SC_CLK_TCK")
        with open("/proc/stat") as f:
            btime = next(
                float(line.split()[1]) for line in f if line.startswith("btime")
            )
        started = btime + ticks / hz
        return started <= os.path.getmtime(d) + 300
    except (OSError, StopIteration, IndexError, ValueError):
        return True  # can't prove recycling — keep the dir


@query(
    "x_join_bucketed",
    category="join",
    oracle=(
        "SELECT o_orderstatus, COUNT(*) AS cnt, "
        "COUNT(DISTINCT c_nationkey) AS n_nations "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY o_orderstatus"
    ),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables: both sides bucketBy(8) on
    the join key -> the sort-merge join reads pre-bucketed files with
    NO Exchange on either side (verified in tests/test_plans.py).

    This is THE 100 TB pattern for a fact table joined repeatedly on
    the same key: pay the bucketing shuffle once at ingest, then every
    subsequent join (and groupBy on the key) is shuffle-free.  The
    write-then-join here compresses ingest + query into one driver
    call so the driver can check it end-to-end.
    """
    # The pid suffix keeps two pytest/bench PROCESSES sharing this cwd's
    # warehouse from racing on the same table directory (observed as a
    # one-off failure when two suites ran concurrently); within a
    # process the name is stable so re-runs overwrite, not accumulate.
    sfx = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    orders_t = f"b_orders_{sfx}_{os.getpid()}"
    cust_t = f"b_customer_{sfx}_{os.getpid()}"
    # A managed table's directory outlives the in-memory catalog that
    # knew about it (fresh session -> LOCATION_ALREADY_EXISTS): drop
    # from the catalog AND clear the stale location before writing.
    import glob
    import shutil
    import time

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (orders_t, cust_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    # Sweep other pids' leftovers so the warehouse doesn't grow without
    # bound across runs; the 1-hour age guard keeps the sweep from
    # racing a LIVE concurrent process (whose dirs are seconds old —
    # the race this pid suffix exists to prevent).
    cutoff = time.time() - 3600
    stale = glob.glob(os.path.join(warehouse, f"b_orders_{sfx}_*")) + glob.glob(
        os.path.join(warehouse, f"b_customer_{sfx}_*")
    )
    # Also the un-suffixed names the pre-pid scheme wrote — never
    # matched by the `_*` glob, they would otherwise leak forever.
    stale += [
        p
        for p in (
            os.path.join(warehouse, f"b_orders_{sfx}"),
            os.path.join(warehouse, f"b_customer_{sfx}"),
        )
        if os.path.isdir(p)
    ]
    for d in stale:
        try:
            if os.path.getmtime(d) >= cutoff:
                continue
            # Liveness check (ADVICE r7 item 2): a >1h-old dir can still
            # belong to a LIVE long-running session (e.g. a full pytest
            # + bench run with >1h between its write and a re-join).
            # Only reap dirs whose embedded pid is dead.  The legacy
            # un-suffixed names (exactly b_{orders,customer}_{sfx},
            # whose trailing sf digits would misparse as a pid) carry no
            # owner at all — the scheme that wrote them is gone, so
            # they are always safe to reap.
            base = os.path.basename(d)
            is_legacy = base in (f"b_orders_{sfx}", f"b_customer_{sfx}")
            pid_part = base.rsplit("_", 1)[-1]
            if not is_legacy and pid_part.isdigit() and int(pid_part) != os.getpid():
                if _pid_owns_dir(int(pid_part), d):
                    continue  # owner alive — leave its tables alone
            spark.sql(f"DROP TABLE IF EXISTS {os.path.basename(d)}")
            shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass  # raced with another cleaner — fine
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .format("parquet")
        .saveAsTable(orders_t)
    )
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .format("parquet")
        .saveAsTable(cust_t)
    )
    o, c = spark.table(orders_t), spark.table(cust_t)
    # MERGE hint: at toy scale Catalyst would broadcast the small side,
    # hiding the thing this operator demonstrates — the bucketed
    # sort-merge join that needs no Exchange (and at 100 TB neither
    # side of a fact-fact join is broadcastable anyway).
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
    )


@query(
    "x_tpch_q5",
    category="join",
    oracle=(
        "SELECT n_name, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue "
        "FROM customer "
        "JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
        "GROUP BY n_name"
    ),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue — the full 6-table star.
    The fact table (lineitem) joins its dims hint-free (AQE picks
    broadcast per side while each fits) plus orders;
    the c_nationkey = s_nationkey constraint lands as a join filter,
    not a cross product.  Decimal-sandwich revenue at scale 6 (exact
    for products of 2-dp inputs)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            nation,
            (F.col("c_nationkey") == F.col("n_nationkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dec_sum(revenue, "revenue", scale=6))
    )


@query(
    "x_agg_pivot",
    category="agg",
    oracle=(
        "SELECT user_id, "
        "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click, "
        "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, "
        "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view "
        "FROM events GROUP BY user_id"
    ),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event_type counts as columns per user.  The value list is
    PINNED — without it Spark runs an extra distinct-collect job over
    the full table just to discover the columns (and the output schema
    becomes data-dependent, which no stable consumer wants).  Absent
    (user, type) combos pivot to null -> filled to 0 to match the
    conditional-sum semantics."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "purchase", "view"])
    )


_CMS_D = 4  # hash rows
_CMS_W = 1024  # counters per row
_HEAVY_DIV = 50  # heavy-hitter threshold: est >= total_tokens DIV 50 (2%)


@query("x_agg_sketch_cms", category="agg", oracle=None)  # rows-only: sketch path
def agg_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters over the document token stream —
    the OTHER mergeable sketch every 100 TB pipeline keeps next to HLL
    (x_agg_sketch_hll below): frequency estimation in d x w = 4 x 1024
    bounded counters regardless of vocabulary size, built in ONE pass
    and mergeable by cell-wise addition across partitions, days, or
    shards.

    Build: each token occurrence increments d counters (row r, bucket
    xxhash64(token, r) mod w) — a single hash aggregate over the
    exploded (r, bucket) stream, map-side partials, d*w output rows at
    ANY corpus size.  Query: est(t) = min over rows of its d counters;
    the counter table is broadcast (fixed-size by construction) and
    candidates equi-join it.  Reported: every candidate whose estimate
    clears total DIV 50, ranked (est desc, token asc — total order, so
    the global row_number window runs over a threshold-pruned relation).

    Determinism: counters are exact bigint sums and xxhash64 is
    partition-invariant, so the sketch and every estimate are
    bit-identical on any cluster — rows-only here only because DuckDB
    has no xxhash64 to rebuild the same sketch.  The CMS one-sided
    guarantee (est >= true count, always) is asserted differentially
    against the exact wordcount in tests/test_properties.py, including
    that every truly-heavy token is reported (overestimation can only
    ADD rows, never hide one).  Candidate set = distinct corpus tokens
    (this corpus's vocabulary is ~31 words, each ~3% of the stream, so the bar sits at 2%); in
    production the candidate stream is whatever suspects you track —
    the sketch itself never stores keys, which is its point at 100 TB.
    """
    from pyspark.sql import Window

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    buckets = F.explode(
        F.expr(
            f"transform(sequence(0, {_CMS_D - 1}), r -> "
            f"struct(r AS r, pmod(xxhash64(tok, r), {_CMS_W}) AS bkt))"
        )
    ).alias("rb")
    sketch = (
        toks.select(buckets)
        .select(F.col("rb.r").alias("r"), F.col("rb.bkt").alias("bkt"))
        .groupBy("r", "bkt")
        .agg(F.count("*").alias("c"))
    )
    total = toks.agg(F.count("*").alias("n"))
    cand = (
        toks.select("tok")
        .distinct()
        .select("tok", buckets)
        .select("tok", F.col("rb.r").alias("r"), F.col("rb.bkt").alias("bkt"))
    )
    est = (
        cand.join(F.broadcast(sketch), ["r", "bkt"])
        .groupBy("tok")
        .agg(F.min("c").alias("est"))
    )
    w = Window.orderBy(F.desc("est"), F.asc("tok"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est") >= F.expr(f"n DIV {_HEAVY_DIV}"))
        .select("tok", "est", F.row_number().over(w).cast("long").alias("rk"))
    )


def _cms_oracle() -> str:
    """DuckDB spec for the portable CMS: same sketch, same estimates,
    same ranked heavy-hitter report — md5 in place of xxhash64."""
    def bkt(r: int) -> str:
        return f"({hex_int_duck('h', 6 * r + 1, 6)} % {_CMS_W})"

    rows = ", ".join(
        f"({r}, {bkt(r)})" for r in range(_CMS_D)
    )
    return (
        "WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), "
        "t AS (SELECT tok, md5('cms-' || tok) AS h FROM toks WHERE tok <> ''), "
        f"pos AS (SELECT tok, rb.r, rb.bkt FROM t, LATERAL (VALUES {rows}) rb(r, bkt)), "
        "sketch AS (SELECT r, bkt, CAST(COUNT(*) AS BIGINT) AS c "
        "  FROM pos GROUP BY 1, 2), "
        "total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t), "
        "cand AS (SELECT DISTINCT tok, r, bkt FROM pos), "
        "est AS (SELECT tok, MIN(c) AS est FROM cand JOIN sketch USING (r, bkt) "
        "  GROUP BY tok), "
        f"heavy AS (SELECT tok, est FROM est CROSS JOIN total "
        f"  WHERE est >= n // {_HEAVY_DIV}) "
        "SELECT tok, est, CAST(row_number() OVER (ORDER BY est DESC, tok) "
        "AS BIGINT) AS rk FROM heavy"
    )


@query("x_agg_sketch_cms_portable", category="agg", oracle=_cms_oracle())
def agg_sketch_cms_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_agg_sketch_cms's full-hash twin — the last sketch family to
    get one (minhash, simhash, LSH and approx-distinct all have
    driver-hash-checkable portable twins; CMS was rows-only ONLY
    because DuckDB lacks xxhash64).  Same d x w = 4 x 1024 sketch,
    same min-estimate query, same ranked heavy-hitter report; the d
    row positions are disjoint 24-bit spans of ONE md5 per token
    occurrence (the Kirsch-Mitzenmacher trick of deriving d hash
    functions from one strong hash), parsed base-16 identically in
    both engines.  One md5 per occurrence, not d.

    Scale shape: identical to the xxhash64 original — one explode +
    hash aggregate into d*w bounded counters (map-side partials), the
    counter table broadcast, candidates equi-join it.  The CMS
    one-sided guarantee (est >= true, heavy hitters never hidden) is
    asserted for THIS sketch in tests/test_properties.py alongside the
    original's."""
    from pyspark.sql import Window

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("h", F.md5(F.concat(F.lit("cms-"), F.col("tok"))))
    )
    buckets = F.explode(
        F.expr(
            f"transform(sequence(0, {_CMS_D - 1}), r -> struct(r AS r, "
            f"pmod({hex_int_sql('h', 'r * 6 + 1', 6)}, {_CMS_W}) AS bkt))"
        )
    ).alias("rb")
    sketch = (
        toks.select(buckets)
        .select(F.col("rb.r").alias("r"), F.col("rb.bkt").alias("bkt"))
        .groupBy("r", "bkt")
        .agg(F.count("*").alias("c"))
    )
    total = toks.agg(F.count("*").alias("n"))
    cand = (
        toks.select("tok", "h")
        .distinct()
        .select("tok", buckets)
        .select("tok", F.col("rb.r").alias("r"), F.col("rb.bkt").alias("bkt"))
    )
    est = (
        cand.join(F.broadcast(sketch), ["r", "bkt"])
        .groupBy("tok")
        .agg(F.min("c").alias("est"))
    )
    w = Window.orderBy(F.desc("est"), F.asc("tok"))
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est") >= F.expr(f"n DIV {_HEAVY_DIV}"))
        .select("tok", "est", F.row_number().over(w).cast("long").alias("rk"))
    )


@query("x_agg_sketch_hll", category="agg", oracle=None)  # rows-only: sketch estimates
def agg_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches builtins): per-type
    user-cardinality sketches unioned into a total — the 100 TB pattern
    where per-partition/per-day sketches are stored once and merged at
    query time instead of re-scanning raw data.  Estimates are
    engine-specific -> rows-only; tests/test_properties.py bounds the
    error against the exact count."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return per_type.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("approx_users"),
        "exact_users",
    ).unionByName(
        per_type.agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("approx_users")
        ).select(
            F.lit("__all__").alias("event_type"),
            "approx_users",
            F.lit(None).cast("long").alias("exact_users"),
        )
    )


@query(
    "x_win_ntile",
    category="window",
    oracle=(
        "SELECT o_orderkey, o_orderstatus, "
        "ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS quartile "
        "FROM orders"
    ),
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment per status group — ntile needs a TOTAL order
    (tie-break on o_orderkey) or bucket boundaries are partition-order
    dependent and no two engines agree."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.ntile(4).over(w).alias("quartile")
    )


@query(
    "x_agg_decile",
    category="agg",
    oracle=(
        "WITH r AS (SELECT l_returnflag, l_quantity, "
        "  row_number() OVER (PARTITION BY l_returnflag "
        "    ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn, "
        "  COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt FROM lineitem) "
        "SELECT l_returnflag, CAST(d AS BIGINT) AS decile, l_quantity AS boundary "
        "FROM r, (SELECT unnest(range(1, 11)) AS d) "
        "WHERE rn = CAST(ceil(cnt * d / 10.0) AS BIGINT)"
    ),
)
def agg_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group deciles by rank arithmetic: decile d's boundary is
    the value at row ceil(cnt*d/10) of the totally-ordered group (ties
    broken on key columns so every engine agrees on THE boundary row).

    Scale shape: one range-partitioned sort per group (the window), then
    an equi-join against a 10-rows-per-group broadcast boundary table —
    never a 10x explode of the fact table.  This is the exact twin that
    bounds `percentile_approx` (the KLL/GK sketch is the 100 TB path;
    tests/test_properties.py asserts the sketch lands within one decile
    bin of these exact boundaries)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    r = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
    )
    # group sizes from a plain partial aggregate on the base table — NOT
    # from the windowed frame, which would re-execute the per-group sort
    # a second time just to read back a count
    targets = (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("l_returnflag").alias("t_rf"),
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("d"),
            "cnt",
        )
        .select(
            "t_rf",
            F.col("d").cast("long").alias("decile"),
            F.ceil(F.col("cnt") * F.col("d") / 10.0).alias("rn_t"),
        )
    )
    return (
        r.join(
            F.broadcast(targets),
            (F.col("l_returnflag") == F.col("t_rf")) & (F.col("rn") == F.col("rn_t")),
        )
        .select("l_returnflag", "decile", F.col("l_quantity").alias("boundary"))
    )


@query(
    "x_tpch_q18",
    category="join",
    oracle=(
        "WITH osum AS ("
        "  SELECT l_orderkey, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "  FROM lineitem GROUP BY l_orderkey "
        "  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300) "
        "SELECT c_name, c_custkey, o_orderkey, "
        "strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice, sum_qty "
        "FROM osum JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey"
    ),
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING-subquery
    workload.  Instead of the textbook IN-subquery + re-aggregation
    (two passes over the fact table), the per-order quantity sum is
    computed ONCE, filtered to >300, and only the surviving handful of
    orders joins outward to orders/customer — at 100 TB that means one
    shuffle aggregate on the fact table and two joins whose left side
    AQE sees as tiny (sub-percent selectivity) and broadcasts, instead
    of a second full fact-table pass."""
    from ..functions.determinism import fmt_date

    li = load_table(spark, sf_dir, "lineitem")
    osum = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        osum.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            fmt_date("o_orderdate", "o_date"),
            "o_totalprice",
            "sum_qty",
        )
    )


@query(
    "x_tpch_q14",
    category="agg",
    oracle=(
        "SELECT (100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN "
        "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) "
        "ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)) / "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) "
        "AS promo_share "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-09-01' "
        "AND l_shipdate < TIMESTAMP '1997-10-01'"
    ),
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): conditional aggregate
    ratio over a fact-dim join.  The month filter prunes the fact scan
    (pushed to parquet), part joins unhinted (sf-linear; AQE broadcasts
    it while it fits), and the two revenue
    sums ride ONE aggregate pass (map-side partials).  Both sums use
    the scale-6 decimal sandwich (exact for products of 2-dp inputs),
    and the final ratio is (100 * a) / b in double on both engines —
    deterministic at any partition count."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo.cast("decimal(18,6)")).cast("double").alias("a"),
            F.sum(revenue.cast("decimal(18,6)")).cast("double").alias("b"),
        )
        .select(((F.lit(100.0) * F.col("a")) / F.col("b")).alias("promo_share"))
    )


@query(
    "x_layout_zorder",
    category="sink",
    oracle=(
        "WITH b AS (SELECT MIN(l_orderkey) AS ok_mn, MAX(l_orderkey) AS ok_mx, "
        "           MIN(l_partkey) AS pk_mn, MAX(l_partkey) AS pk_mx FROM lineitem), "
        "n AS (SELECT l_orderkey, l_partkey, "
        + normalize_sql("l_orderkey", "ok_mn", "ok_mx")
        + " AS an, "
        + normalize_sql("l_partkey", "pk_mn", "pk_mx")
        + " AS bn FROM lineitem, b), "
        "z AS (SELECT l_orderkey, l_partkey, "
        + z_value_sql("an", "bn")
        + " AS zv FROM n) "
        "SELECT zv >> 24 AS z_bucket, COUNT(*) AS cnt, "
        "MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok, "
        "MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk "
        "FROM z GROUP BY z_bucket"
    ),
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout for two-key data skipping (see
    functions/zorder.py): both keys are normalized to a shared 16-bit
    space by exact integer arithmetic (min/max from a 1-row broadcast
    aggregate -- raw-bit interleaving degenerates to a single-key sort
    when key widths differ; measured in tests/test_plans.py), then
    bit-interleaved so range-sorting by the z-value keeps every output
    file tight in BOTH keys at once -- parquet min/max stats skip files
    for predicates on either key (the Delta/Iceberg OPTIMIZE ZORDER
    technique).  Checked output: per-z-bucket counts and key envelopes;
    the Spark expression and the DuckDB oracle are GENERATED FROM THE
    SAME bit loop, so the engines agree by construction.  The physical
    write (repartitionByRange on z + sortWithinPartitions) and its
    skipping payoff are asserted in tests/test_plans.py."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
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
    )
    return (
        zed.groupBy(F.shiftright("zv", 24).alias("z_bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
        )
    )


@query(
    "x_unpivot",
    category="agg",
    oracle=(
        "WITH u AS (SELECT DISTINCT user_id FROM events), "
        "t AS (SELECT unnest(['click', 'purchase', 'view']) AS event_type), "
        "c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events "
        "      WHERE event_type IN ('click', 'purchase', 'view') GROUP BY 1, 2) "
        "SELECT u.user_id, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS cnt "
        "FROM u CROSS JOIN t LEFT JOIN c USING (user_id, event_type)"
    ),
)
def unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the inverse of x_agg_pivot — wide per-user count
    columns back to long (user_id, event_type, cnt) rows, absent combos
    materialized as explicit zeros (round-tripping the pivot's fill).
    Spark's native ``unpivot`` is a zero-shuffle projection: the only
    shuffle in this plan is the pivot aggregate that builds the wide
    input.  Wide->long is how 100 TB feature matrices re-enter
    key-value processing without writing N per-column jobs."""
    wide = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "purchase", "view"])
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["click", "purchase", "view"],
        variableColumnName="event_type",
        valueColumnName="cnt",
    )


@query(
    "x_stats_corr",
    category="agg",
    oracle=(
        "WITH m AS ("
        "  SELECT l_returnflag, COUNT(*) AS n, "
        "  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx, "
        "  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy, "
        "  CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sxy, "
        "  CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx, "
        "  CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS syy "
        "  FROM lineitem GROUP BY l_returnflag) "
        "SELECT l_returnflag, n, "
        "(n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) "
        "AS corr_qty_disc FROM m"
    ),
)
def stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation done ORDER-INDEPENDENTLY: the
    built-in ``corr()`` accumulates running float moments whose value
    depends on partition merge order — fine for exploration, not for a
    deterministic pipeline.  The five moment sums are exact scaled
    integers (2-dp inputs -> cents exact; products exact at scale 4)
    accumulated as split hi/lo LONG sums (determinism.split_sum_parts
    — r13: the decimal(18,4) SUM buffer widens past Spark's
    compact-long decimal range and accumulates through BigDecimal per
    row; measured 1.75 -> 0.41 s at sf0.1, bit-identical at every sf),
    reassembled exactly in DECIMAL(38,s) so the single decimal->double
    rounding matches the oracle's decimal sums at any corpus size.
    One aggregate pass, map-side partials, no second scan."""
    from ..functions.determinism import split_sum_parts, split_sum_total

    li = load_table(spark, sf_dir, "lineitem")
    xc = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
    yc = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("long")
    pre = li.select(
        "l_returnflag",
        xc.alias("xc"),
        yc.alias("yc"),
        (xc * yc).alias("xy"),
        (xc * xc).alias("xx"),
        (yc * yc).alias("yy"),
    )
    aggs = [F.count("*").alias("n")]
    for c, a in (("xc", "sx"), ("yc", "sy"), ("xy", "sxy"), ("xx", "sxx"), ("yy", "syy")):
        aggs += split_sum_parts(c, a)
    m = pre.groupBy("l_returnflag").agg(*aggs).select(
        "l_returnflag",
        "n",
        split_sum_total("sx", 2),
        split_sum_total("sy", 2),
        split_sum_total("sxy", 4),
        split_sum_total("sxx", 4),
        split_sum_total("syy", 4),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select("l_returnflag", "n", corr.alias("corr_qty_disc"))


_IDX_BRANDS = ["Brand#3", "Brand#17", "Brand#25"]


@query(
    "x_index_inverted",
    category="scan",
    oracle=(
        "WITH idx AS (SELECT p_brand, list_sort(list(p_partkey)) AS keys FROM part "
        "             WHERE p_brand IN ('Brand#3','Brand#17','Brand#25') GROUP BY 1), "
        "hits AS (SELECT p_brand, unnest(keys) AS p_partkey FROM idx) "
        "SELECT h.p_brand, h.p_partkey, p.p_name, p.p_retailprice "
        "FROM hits h JOIN part p USING (p_partkey)"
    ),
)
def index_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index round trip — the big-table genre's answer to
    "query by a non-rowkey column": build an inverted index (indexed
    value -> sorted posting list of row keys), serve the lookup through
    it, then fetch the full rows by key.  The oracle is the DuckDB
    mirror of the same index path; tests/test_oracle.py's differential
    against it proves the index round trip loses and invents nothing
    versus a direct value filter.

    Scale shape: the index build is one hash aggregate on the indexed
    column (map-side partials; posting lists sorted per-group, not
    globally); the query path explodes only the REQUESTED postings —
    cardinality = matching keys, not table size — and the key-fetch is
    an equi-join of that hit set against the base table (AQE broadcasts
    it while it fits; the set is sf-linear, so no forced hint),
    i.e., point-gets batched into one scan, never a second full pass."""
    part = load_table(spark, sf_dir, "part")
    idx = (
        part.filter(F.col("p_brand").isin(_IDX_BRANDS))
        .groupBy("p_brand")
        .agg(F.sort_array(F.collect_list("p_partkey")).alias("keys"))
    )
    hits = idx.select("p_brand", F.explode("keys").alias("p_partkey"))
    return (
        part.drop("p_brand")  # fetch side; the index supplies the indexed value
        .join(hits, "p_partkey")
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


@query(
    "x_tpch_q10",
    category="join",
    oracle=(
        "SELECT c_custkey, c_name, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue, "
        "c_acctbal, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20"
    ),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter.  The quarter filter prunes
    the orders scan (pushed to parquet) BEFORE the fact join, so the
    lineitem side only meets the ~1/28th of orders that survive;
    l_returnflag = 'R' prunes the fact scan the same way.  nation is a
    broadcast dim; the group-by keys ride the customer row (no second
    customer pass), and the top-20 is a TakeOrderedAndProject with a
    total tie-broken ordering (revenue desc, c_custkey) — no global
    sort at any scale.  Revenue uses the scale-6 decimal sandwich
    (exact for products of 2-dp inputs, order-independent)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dec_sum(revenue, "revenue", scale=6))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "x_tpch_q19",
    category="agg",
    oracle=(
        "SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) "
        "AS revenue "
        "FROM lineitem JOIN part ON p_partkey = l_partkey "
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"
    ),
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    OR of three brand/size/quantity conjunctions across both join
    sides.  Catalyst can't push the whole disjunction below the join,
    but it CAN derive and push the per-side implied filters — p_brand
    IN (...) onto the part scan (a constant FRACTION of part, so it is
    left to AQE to broadcast while it fits) and l_quantity BETWEEN
    1 AND 30 onto the fact scan — so the join sees only candidate rows
    and the residual OR evaluates inside whole-stage codegen, never in
    Python.  One aggregate, map-side partials, decimal-sandwich sum."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(branch)
        .agg(dec_sum(revenue, "revenue", scale=6))
    )


@query(
    "x_tpch_q21",
    category="join",
    oracle=(
        # Textbook double-correlated EXISTS / NOT EXISTS formulation —
        # deliberately DIFFERENT from the Spark plan (one aggregate +
        # two joins) so the differential also proves the rewrite.
        "WITH l AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem), "
        "base AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F') "
        "SELECT s_name, COUNT(*) AS numwait "
        "FROM base JOIN l l1 ON l1.l_orderkey = o_orderkey "
        "  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY "
        "JOIN supplier ON l1.l_suppkey = s_suppkey "
        "WHERE EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey "
        "              AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey "
        "                AND l3.l_suppkey <> l1.l_suppkey "
        "                AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY) "
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25"
    ),
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): late =
    shipped more than 90 days after the order date; report suppliers
    that were the ONLY late shipper on a multi-supplier finalized
    order.

    The textbook form is a doubly-correlated EXISTS + NOT EXISTS — two
    extra passes over the fact table at 100 TB.  Here both collapse
    into ONE per-order aggregate: n_supp = distinct suppliers on the
    order ("some other supplier exists" = n_supp >= 2) and n_late =
    distinct LATE suppliers ("no other late supplier" = n_late = 1,
    and that one is necessarily l1's own).  The qualifying-order set is
    tiny, so AQE broadcasts it back onto the late rows; supplier joins
    unhinted (sf-linear; AQE broadcasts it while it fits); the top-25
    is a TakeOrderedAndProject with a total
    tie-broken ordering.  The oracle keeps the EXISTS formulation, so
    the differential test also proves the rewrite is semantics-
    preserving."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    l = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    qual = (
        l.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .select(F.col("l_orderkey").alias("q_orderkey"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        l.filter(F.col("late"))
        .join(qual, F.col("l_orderkey") == F.col("q_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(25)
    )


@query(
    "x_tpch_q2",
    category="join",
    oracle=(
        # Join-back argmin (the textbook correlated-MIN subquery,
        # decorrelated) — deliberately different from the Spark plan's
        # single min(struct) aggregate.
        "WITH up AS ("
        "  SELECT l_partkey, l_suppkey, round(l_extendedprice / l_quantity, 6) AS unit "
        "  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "  JOIN nation ON s_nationkey = n_nationkey "
        "  JOIN region ON n_regionkey = r_regionkey "
        "  WHERE r_name = 'EUROPE' AND l_quantity > 0), "
        "mn AS (SELECT l_partkey, MIN(unit) AS best_unit FROM up GROUP BY l_partkey), "
        "pick AS ("
        "  SELECT u.l_partkey, MIN(u.l_suppkey) AS best_suppkey, mn.best_unit "
        "  FROM up u JOIN mn ON u.l_partkey = mn.l_partkey AND u.unit = mn.best_unit "
        "  GROUP BY u.l_partkey, mn.best_unit) "
        "SELECT p_partkey, p_name, s_name, best_unit "
        "FROM pick JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON best_suppkey = s_suppkey "
        "WHERE p_retailprice > 990"
    ),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each expensive part,
    the EUROPE supplier offering the best unit price.

    The textbook form is a correlated MIN subquery re-scanning the
    supply table per part.  The oracle keeps that (decorrelated into a
    min + join-back — TWO passes over the supply stream); the Spark
    plan instead folds argmin into ONE aggregate — min(struct(unit,
    suppkey)) — whose struct ordering delivers both the minimum price
    and the deterministic supplier tie-break (smallest suppkey at equal
    price) in a single map-side-partial pass, no join-back.  Unit price
    is per-row float division rounded to 6 dp (identical both engines);
    min is order-independent, so no float-sum caveats anywhere."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    eur_supp = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    up = li.join(eur_supp, F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") / F.col("l_quantity"), 6).alias("unit"),
    )
    best = (
        up.groupBy("l_partkey")
        .agg(F.min(F.struct("unit", "l_suppkey")).alias("b"))
        .select("l_partkey", F.col("b.unit").alias("best_unit"), F.col("b.l_suppkey").alias("best_suppkey"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_retailprice") > 990)
    return (
        best.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            load_table(spark, sf_dir, "supplier"),
            F.col("best_suppkey") == F.col("s_suppkey"),
        )
        .select("p_partkey", "p_name", "s_name", "best_unit")
    )


@query(
    "x_layout_hilbert",
    category="sink",
    oracle=(
        "WITH b AS (SELECT MIN(l_orderkey) AS ok_mn, MAX(l_orderkey) AS ok_mx, "
        "           MIN(l_partkey) AS pk_mn, MAX(l_partkey) AS pk_mx FROM lineitem), "
        "n AS (SELECT l_orderkey, l_partkey, "
        + normalize_sql("l_orderkey", "ok_mn", "ok_mx")
        + " AS an, "
        + normalize_sql("l_partkey", "pk_mn", "pk_mx")
        + " AS bn FROM lineitem, b), "
        + hilbert_ctes("n", "an", "bn", out="hv")
        + " SELECT hv >> 24 AS h_bucket, COUNT(*) AS cnt, "
        "MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok, "
        "MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk "
        "FROM hfin GROUP BY h_bucket"
    ),
)
def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout for two-key data skipping — the
    locality-strict sibling of x_layout_zorder: consecutive Hilbert
    positions are always grid NEIGHBOURS (Morton order jumps across
    quadrant seams), so range-sorting by the Hilbert distance yields
    per-file key envelopes at least as tight as Z-order's on the same
    bucket grid (measured on this corpus in tests/test_plans.py).
    Same exact-integer normalization to a shared 16-bit space via the
    1-row bounds broadcast; the stateful xy->d rotation loop runs as a
    VECTORIZED numpy bit loop over Arrow batches (see
    functions/zorder.py — a JVM higher-order fold is interpreted and
    measured 8.6 s at sf0.1 vs ~1 s for this path; unrolled
    projections would invite CollapseProject expression blowup), and
    the DuckDB twin is a generated 16-stage CTE chain from the same
    level parameters, so both engines agree by construction — checked
    by the full-hash oracle on every run."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    bounds = li.agg(
        F.min("l_orderkey").alias("ok_mn"),
        F.max("l_orderkey").alias("ok_mx"),
        F.min("l_partkey").alias("pk_mn"),
        F.max("l_partkey").alias("pk_mx"),
    )
    hed = hilbert_map(
        li.crossJoin(F.broadcast(bounds))
        .withColumn("an", normalize("l_orderkey", "ok_mn", "ok_mx"))
        .withColumn("bn", normalize("l_partkey", "pk_mn", "pk_mx")),
        "an",
        "bn",
        keep=["l_orderkey", "l_partkey"],
        out="hv",
    )
    return (
        hed.groupBy(F.shiftright("hv", 24).alias("h_bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
        )
    )


@query(
    "x_source_merge_schema",
    category="scan",
    oracle=(
        "SELECT CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
        "  THEN NULL ELSE o_orderpriority END AS o_orderpriority, "
        "COUNT(*) AS cnt, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
        "FROM orders GROUP BY 1"
    ),
)
def source_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: orders staged as TWO parquet generations —
    an old layout without o_orderpriority (pre-1997 rows) and a new
    layout with it — read back in one scan with ``mergeSchema=true``,
    the missing column null-filled for old files.  This is the
    practical 100 TB reality check every long-lived lake hits: columns
    appear over time and historical files must stay readable without a
    rewrite.  The oracle derives the same null mask from the split rule
    directly, so the check proves Spark's schema merge fills exactly
    the rows the layout split implies.

    Scale note: mergeSchema=true costs a footer read per file at
    planning time; production tables pin the merged schema in a
    catalog (Delta/Iceberg) — the runtime null-fill behaviour checked
    here is identical."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    out = sink_dir("merge_schema", os.path.join(sf_dir, "orders.parquet"))
    old, new = os.path.join(out, "g1"), os.path.join(out, "g2")
    (
        orders.filter(F.col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(old)
    )
    (
        orders.filter(F.col("o_orderdate") >= cut)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(new)
    )
    merged = spark.read.option("mergeSchema", "true").parquet(old, new)
    return merged.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"), dec_sum("o_totalprice", "sum_price")
    )


_ZM_ZONES = 64
_ZM_LO = 9862  # epoch day of 1997-01-01 (predicate lower bound)
_ZM_HI = 10226  # epoch day of 1997-12-31 (predicate upper bound)


@query(
    "x_layout_zonemap",
    category="sink",
    oracle=(
        "WITH r AS (SELECT datediff('day', DATE '1970-01-01', "
        "    CAST(l_shipdate AS DATE)) AS d, l_orderkey, l_linenumber "
        "  FROM lineitem), "
        "z AS (SELECT d, "
        f"  ntile({_ZM_ZONES}) OVER (ORDER BY l_orderkey, l_linenumber) "
        "    AS zone_ingest, "
        f"  ntile({_ZM_ZONES}) OVER (ORDER BY d, l_orderkey, l_linenumber) "
        "    AS zone_sorted FROM r), "
        "u AS (SELECT 'ingest' AS layout, zone_ingest AS zone, d FROM z "
        "  UNION ALL SELECT 'shipdate_sorted', zone_sorted, d FROM z), "
        "zm AS (SELECT layout, zone, MIN(d) AS mn, MAX(d) AS mx, "
        "  CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2) "
        "SELECT layout, "
        f"CAST(COUNT(*) AS BIGINT) AS zones_total, "
        f"CAST(SUM(CASE WHEN mx < {_ZM_LO} OR mn > {_ZM_HI} THEN 1 ELSE 0 END) "
        "  AS BIGINT) AS zones_pruned, "
        "CAST(SUM(cnt) AS BIGINT) AS rows_total, "
        f"CAST(SUM(CASE WHEN mx < {_ZM_LO} OR mn > {_ZM_HI} THEN cnt ELSE 0 END) "
        "  AS BIGINT) AS rows_skipped, "
        f"CAST(SUM(CASE WHEN mx < {_ZM_LO} OR mn > {_ZM_HI} THEN cnt ELSE 0 END) "
        "  AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS skip_ratio "
        "FROM zm GROUP BY layout"
    ),
)
def layout_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max data-skipping) audit: how many zones a literal
    l_shipdate range predicate can prune under two physical layouts of
    the SAME table — raw ingest order vs shipdate-sorted.  This is the
    quantified version of the x_layout_zorder story: parquet/Iceberg
    file skipping is only as good as the min/max ENVELOPES, and on an
    unsorted layout every zone's envelope spans the whole date domain
    (skip_ratio ~ 0) while a sort-clustered layout prunes all zones
    outside the predicate (skip_ratio -> 1 - selectivity).  Output: one
    row per layout with zone counts, prunable zones, and the row
    fraction a scan would skip.

    Scale shape (r13, guide §2.5/§2.4): the naive spelling is
    ntile(64) OVER (ORDER BY ...) — an exchange-to-ONE-partition plus
    a full sort of the table on a single core per layout, the classic
    global-window straggler.  Shipped instead: the two-level rank
    decomposition — rn = (running count of earlier groups, a window
    over the per-group COUNTS, 150k/2.5k grouped rows instead of 600k
    raw) + row_number within the group (partitioned window, fully
    parallel) — and the zone id from rn by the exact SQL-ntile bucket
    arithmetic (q = n DIV 64 and the first n MOD 64 buckets take one
    extra row).  Same zone per row, no single-partition sort of the
    fact table anywhere in the plan; measured 1.87 -> 1.32 s at sf0.1
    (interleaved min-of-4) with the per-(layout, zone) min/max/count
    stream digest-identical at sf0.01 and sf0.1.  Note the ingest
    order key (l_orderkey, l_linenumber) is NOT unique in this corpus
    (44 duplicate pairs at sf0.01); both spellings leave tie order to
    the engine — verified not to reach the zone envelopes at any
    tested SF, and the decomposition keeps exactly the old tie class.
    At 100 TB the zone id is free anyway: it IS the file id after
    repartitionByRange(shipdate).sortWithinPartitions, and the audit
    is one partial+final aggregate over (layout, zone)."""
    from pyspark.sql import Window

    r = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("d"),
        "l_orderkey",
        "l_linenumber",
    )
    n1 = r.groupBy().agg(F.count("*").alias("n"))

    def ranked(part: str, order_cols: list[str]) -> DataFrame:
        # rn over the (part, *order_cols) total order without a global
        # sort: running-count offset of the group + rank within it
        off = (
            r.groupBy(part)
            .agg(F.count("*").alias("c"))
            .select(
                part,
                (F.sum("c").over(Window.orderBy(part)) - F.col("c")).alias("off"),
            )
        )
        w_in = Window.partitionBy(part).orderBy(*order_cols)
        return r.join(off, part).select(
            "d", (F.row_number().over(w_in) + F.col("off")).alias("rn")
        )

    # exact SQL-ntile bucket arithmetic: q = n DIV k, r = n MOD k; the
    # first r buckets hold q+1 rows, the rest q
    zone_of = F.expr(
        f"CASE WHEN rn <= (n % {_ZM_ZONES}) * (n DIV {_ZM_ZONES} + 1) "
        f"THEN (rn - 1) DIV (n DIV {_ZM_ZONES} + 1) + 1 "
        f"ELSE (n % {_ZM_ZONES}) "
        f"+ (rn - (n % {_ZM_ZONES}) * (n DIV {_ZM_ZONES} + 1) - 1) "
        f"DIV (n DIV {_ZM_ZONES}) + 1 END"
    ).cast("int")
    u = (
        ranked("l_orderkey", ["l_linenumber"])
        .crossJoin(F.broadcast(n1))
        .select(F.lit("ingest").alias("layout"), zone_of.alias("zone"), "d")
    ).unionAll(
        ranked("d", ["l_orderkey", "l_linenumber"])
        .crossJoin(F.broadcast(n1))
        .select(
            F.lit("shipdate_sorted").alias("layout"), zone_of.alias("zone"), "d"
        )
    )
    zm = u.groupBy("layout", "zone").agg(
        F.min("d").alias("mn"),
        F.max("d").alias("mx"),
        F.count("*").alias("cnt"),
    )
    pruned = (F.col("mx") < _ZM_LO) | (F.col("mn") > _ZM_HI)
    return zm.groupBy("layout").agg(
        F.count("*").alias("zones_total"),
        F.sum(F.when(pruned, 1).otherwise(0)).cast("long").alias("zones_pruned"),
        F.sum("cnt").cast("long").alias("rows_total"),
        F.sum(F.when(pruned, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("rows_skipped"),
        (
            F.sum(F.when(pruned, F.col("cnt")).otherwise(0)).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("skip_ratio"),
    )
