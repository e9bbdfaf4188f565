"""§2.1 Scans / sources / sinks.

Reference grounding (SURVEY.md §2.1, all `[public-api]` — the empty
reference checkout's genre exercises these via
org.apache.hadoop.hbase.mapreduce):
- full/projected/range scans = ``Scan`` + ``TableInputFormat`` with
  ``addColumn`` / ``withStartRow``/``withStopRow``;
- partitioned sink = ``HFileOutputFormat2`` bulk load;
- JSON-line parsing = ``ImportTsv``-style mapper parsing.

Spark-first notes: projection/range predicates are expressed
declaratively so Catalyst pushes them into the parquet scan
(PushedFilters / ReadSchema — verified in tests/test_plans.py).  At
100 TB the range scan prunes row groups by min/max stats exactly like
HBase region pruning, with zero custom code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import load_table, read_parquet
from ..functions.determinism import hex_int, hex_int_duck
from ..functions.staging import sink_dir, staged
from ..registry import query
from .common import LINEITEM_SQL, lineitem_select

# files per Hive partition in partitioned writes: bounds the small-file
# count AND the per-task write size (see sink_partitioned)
_SINK_SALT = 4


@query(
    "scan_full",
    category="scan",
    oracle=f"SELECT {LINEITEM_SQL} FROM lineitem",
)
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan of lineitem, all columns."""
    return load_table(spark, sf_dir, "lineitem").select(*lineitem_select(None))


@query(
    "scan_project",
    category="scan",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount "
        "FROM lineitem"
    ),
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key + 3 value columns — column pruning reaches the parquet reader."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )


@query(
    "scan_range",
    category="scan",
    oracle=f"SELECT {LINEITEM_SQL} FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 2000",
)
def scan_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-range scan (HBase start/stopRow) -> parquet min/max pruning."""
    df = load_table(spark, sf_dir, "lineitem")
    return df.filter((F.col("l_orderkey") >= 1000) & (F.col("l_orderkey") < 2000)).select(
        *lineitem_select(df)
    )


@query(
    "scan_prefix",
    category="scan",
    oracle="SELECT * FROM part WHERE p_name LIKE 'small%'",
)
def scan_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrefixFilter equivalent; startswith pushes down as a parquet filter."""
    return load_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))


@query(
    "sink_partitioned",
    category="scan",
    oracle=(
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, COUNT(*) AS cnt "
        "FROM orders GROUP BY 1"
    ),
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write (bulk-load analog), then re-read + count.

    Hive-style ``partitionBy('o_year')`` output is the columnar analog of
    region-aligned HFiles: downstream year-predicates become partition
    pruning (directory-level, no file reads at all).
    """
    orders = load_table(spark, sf_dir, "orders")
    out = sink_dir("sink_partitioned", os.path.join(sf_dir, "orders.parquet"))
    schema = _write_partitioned_orders(orders, out)
    return (
        spark.read.schema(schema)
        .parquet(out)
        .groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "x_etl_compact",
    category="scan",
    oracle=(
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, COUNT(*) AS cnt, "
        "CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys "
        "FROM orders GROUP BY 1"
    ),
)
def etl_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: rewrite the salted Hive-partitioned
    layout (up to _SINK_SALT files per partition) down to ONE file per
    partition, then prove the data survived byte-for-byte via a
    per-partition count + distinct-key aggregate against the original
    table's oracle.

    The maintenance job every long-lived 100 TB table needs: streaming
    ingest and salted writes accumulate small files, and scan cost
    grows with file COUNT (footer reads, scheduling overhead), not just
    bytes.  Compaction = read -> repartition ON THE PARTITION COLUMN
    (one task per partition writes one file) -> overwrite.  At real
    scale the repartition key is (partition, bounded salt) sized so
    each output file lands near the rowgroup-friendly target
    (~128 MB-1 GB), and only partitions whose small-file count crossed
    a threshold are rewritten.  File-count reduction is asserted in
    tests/test_plans.py (the oracle can only see rows, not files)."""
    src_dir = _staged_partitioned_orders(spark, sf_dir)
    out = staged(
        "compacted",
        os.path.join(sf_dir, "orders.parquet"),
        lambda d: compact_partitioned(spark, src_dir, d, "o_year"),
    )
    return (
        read_parquet(spark, out)
        .groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("o_orderkey").alias("n_keys"),
        )
    )


@query(
    "x_scan_partition_pruned",
    category="scan",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders "
        "WHERE year(o_orderdate) = 1997 GROUP BY 1"
    ),
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning end-to-end: year-predicate on a Hive-partitioned
    layout touches ONE directory (PartitionFilters in the plan — gated by
    tests/test_plans.py), no data files outside it are even listed.  This
    is the read-side payoff of sink_partitioned's layout and the columnar
    analog of HBase region pruning."""
    out = _staged_partitioned_orders(spark, sf_dir)
    return (
        read_parquet(spark, out)
        .filter(F.col("o_year") == 1997)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


def _write_partitioned_orders(orders: DataFrame, out: str) -> StructType:
    """The one salted Hive-partitioned write both the sink operator and
    the staging helper use — repartition on (partition column, bounded
    salt) first: without it every write task emits a file into every
    year directory (tasks x years small files — the classic sink
    failure); keying on the year ALONE would funnel each year through
    one task (a multi-TB single file at the 100 TB target).  The salt
    bounds both: <= _SINK_SALT files per year, each task one year
    slice.  Returns the written schema, which is also the read-back
    schema (the partition column is last in both), so a caller reading
    the fresh directory skips footer inference."""
    df = orders.withColumn("o_year", F.year("o_orderdate")).repartition(
        F.col("o_year"), F.pmod(F.hash("o_orderkey"), F.lit(_SINK_SALT))
    )
    df.write.mode("overwrite").partitionBy("o_year").parquet(out)
    return df.schema


def compact_partitioned(spark: SparkSession, src_dir: str, out: str, partition_col: str) -> str:
    """Rewrite a Hive-partitioned dir to exactly ONE file per partition:
    hash-repartitioning on the partition column alone puts each
    partition's rows in exactly one task, and a task writes one file per
    partition dir it touches.  (At real scale, repartition on
    (partition, bounded salt) instead to target ~128 MB-1 GB files —
    the single-file form is the floor, not the universal answer.)"""
    (
        spark.read.parquet(src_dir)
        .repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(out)
    )
    return out


def _staged_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders as a Hive-partitioned (by o_year) parquet layout
    (functions/staging.py states the keying and lifecycle rule)."""
    return staged(
        "part_pruned",
        os.path.join(sf_dir, "orders.parquet"),
        lambda d: _write_partitioned_orders(load_table(spark, sf_dir, "orders"), d),
    )


@query(
    "x_join_dpp",
    category="join",
    oracle=(
        "WITH dim AS (SELECT DISTINCT year(o_orderdate) AS o_year FROM orders "
        "             WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000) "
        "SELECT o_orderpriority, COUNT(*) AS cnt FROM "
        "(SELECT o_orderpriority, year(o_orderdate) AS o_year FROM orders) f "
        "JOIN dim USING (o_year) GROUP BY 1"
    ),
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: fact partitions selected at RUNTIME by
    the broadcast dim side — 'years containing an urgent big-ticket
    order' is only known after the dim subquery executes, so Catalyst
    injects a dynamicpruningexpression into the fact scan's
    PartitionFilters (gated by tests/test_plans.py) instead of scanning
    every partition.  At 100 TB this is the difference between reading
    the whole fact table and reading only the partitions the dim join
    can reach — with zero hand-written pruning code.  (Design note: the
    DPP rule requires a selective FILTER on the dim subtree; a dim
    derived through an aggregate threshold — 'years with >= 15% of
    orders' — does not qualify and silently falls back to a full scan,
    measured while building this.)"""
    fact = read_parquet(spark, _staged_partitioned_orders(spark, sf_dir))
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 450000))
        .select(F.year("o_orderdate").alias("o_year"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "o_year")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "source_json_lines",
    category="scan",
    oracle=(
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k "
        "FROM events"
    ),
)
def source_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON-string props column into typed fields."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


def bulkload_ranged(df: DataFrame, out_dir: str, row_key: str, n_regions: int) -> str:
    """The genre's E2 bulk-load pattern (HFileOutputFormat2 +
    LoadIncrementalHFiles) re-expressed: a total-order repartition on
    the row key (Spark's RangePartitioner = the TotalOrderPartitioner
    the MR job needed) + an in-partition sort, written as one file per
    'region'.  Files have DISJOINT key ranges and are internally
    sorted — exactly the property that lets HBase adopt HFiles without
    compaction, and that gives parquet readers perfect min/max pruning
    on the key (asserted in tests/test_plans.py)."""
    (
        df.repartitionByRange(n_regions, F.col(row_key))
        .sortWithinPartitions(row_key)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return out_dir


@query(
    "x_bulkload_ranged",
    category="sink",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS cnt, MIN(o_orderkey) AS min_key, "
        "MAX(o_orderkey) AS max_key FROM orders GROUP BY o_orderpriority"
    ),
)
def bulkload_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk load end-to-end: range-partition orders into 8 sorted
    'region files' (bulkload_ranged above), read the staged layout
    back, aggregate — proving the rewrite is lossless.  The oracle sees
    the same rows as the source table; the physical guarantees
    (disjoint per-file ranges, in-file sort) are layout properties the
    SQL oracle cannot see and are asserted in tests/test_plans.py."""
    orders = load_table(spark, sf_dir, "orders")
    out = sink_dir("bulkload", os.path.join(sf_dir, "orders.parquet"))
    bulkload_ranged(orders, out, "o_orderkey", 8)
    back = spark.read.schema(orders.schema).parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_PORTABLE_SQL = (
    "SELECT l_returnflag, "
    "CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) "
    "AS revenue, COUNT(*) AS n "
    "FROM lineitem WHERE l_quantity < 24 GROUP BY l_returnflag"
)


@query("x_sql_text", category="scan", oracle=_PORTABLE_SQL)
def sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT surface: the ONE portable ANSI string above runs
    unchanged through ``spark.sql()`` here and through DuckDB as its
    own oracle — engine-parity demonstrated at the dialect level, not
    just the result level.  Users of the fluent client (client.py) and
    the DataFrame operators get this surface for free; this key proves
    a SQL-first user can point existing ANSI queries at the engine
    (views registered per table, Catalyst plans them identically to
    the DataFrame form — same scan pushdown, same partial aggregates,
    same decimal sandwich determinism)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_PORTABLE_SQL)


_PIPE_ORACLE = (
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority, "
    "CAST(COUNT(*) AS BIGINT) AS cnt, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
    "FROM orders WHERE o_orderstatus = 'F' "
    "GROUP BY year(o_orderdate), o_orderpriority"
)


@query("x_sql_pipe", category="scan", oracle=_PIPE_ORACLE)
def sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 SQL PIPE syntax surface (SQL ref: operator pipe
    `|>`, new in Spark 4.0) — x_sql_text proves ANSI strings run
    unchanged; this key proves the pipeline-shaped dialect a
    data-engineering user increasingly writes instead: FROM first,
    then |> WHERE / |> EXTEND / |> AGGREGATE ... GROUP BY stages in
    reading order.  Catalyst lowers the pipe stages to the same
    logical plan as the ANSI equivalent (the oracle above), so scan
    pushdown, partial aggregation, and the decimal-sandwich
    determinism are identical — same result hash, different front
    door."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "FROM orders "
        "|> WHERE o_orderstatus = 'F' "
        "|> EXTEND CAST(year(o_orderdate) AS BIGINT) AS o_year "
        "|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS cnt, "
        "   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "   GROUP BY o_year, o_orderpriority"
    ).select("o_year", "o_orderpriority", "cnt", "total")


@query(
    "x_etl_backfill",
    category="scan",
    oracle=(
        "WITH yr AS (SELECT MIN(year(o_orderdate)) AS y0 FROM orders), "
        "final AS (SELECT year(o_orderdate) AS o_year, "
        "  CASE WHEN year(o_orderdate) = (SELECT y0 FROM yr) "
        "       THEN '0-BACKFILLED' ELSE o_orderpriority END AS prio "
        "  FROM orders) "
        "SELECT CAST(o_year AS BIGINT) AS o_year, CAST(COUNT(*) AS BIGINT) AS cnt, "
        "  CAST(COUNT(*) FILTER (WHERE prio = '0-BACKFILLED') AS BIGINT) AS n_backfilled "
        "FROM final GROUP BY 1"
    ),
)
def etl_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill via DYNAMIC partition overwrite —
    the correction job every long-lived partitioned table needs: a bug
    is found in one day/year of data, the pipeline recomputes JUST that
    partition and overwrites it in place, and every other partition's
    files are untouched (verified by file fingerprint in
    tests/test_plans.py).  With static overwrite mode the same write
    would DELETE the whole table first — the classic backfill footgun
    this operator exists to demonstrate against.

    Mechanics: full salted partitioned write (sink_partitioned's
    layout), then a second write of ONLY the corrected earliest-year
    rows with ``partitionOverwriteMode=dynamic`` — Spark replaces
    exactly the partitions present in the incoming frame.  The re-read
    proves the merge: the corrected year carries the backfilled
    priority, all other years are byte-identical originals.

    Scale shape: the backfill write shuffles only the corrected
    partition's rows; commit is a directory swap per touched partition
    — O(correction), never O(table)."""
    orders = load_table(spark, sf_dir, "orders")
    out = sink_dir("backfill", os.path.join(sf_dir, "orders.parquet"))
    schema = _write_partitioned_orders(orders, out)
    backfill_earliest_year(spark, orders, out)
    return (
        spark.read.schema(schema)
        .parquet(out)
        .groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.count("*").alias("cnt"),
            F.count(F.when(F.col("o_orderpriority") == "0-BACKFILLED", 1)).alias(
                "n_backfilled"
            ),
        )
    )


def backfill_earliest_year(spark: SparkSession, orders: DataFrame, out: str) -> None:
    """The dynamic-overwrite half of x_etl_backfill, separated so the
    file-fingerprint test can snapshot the layout between the base
    write and the correction write."""
    y0 = orders.agg(F.min(F.year("o_orderdate")).alias("y0"))
    corrected = (
        orders.crossJoin(F.broadcast(y0))
        .filter(F.year("o_orderdate") == F.col("y0"))
        .drop("y0")
        .withColumn("o_orderpriority", F.lit("0-BACKFILLED"))
        .withColumn("o_year", F.year("o_orderdate"))
        .repartition(F.col("o_year"), F.pmod(F.hash("o_orderkey"), F.lit(_SINK_SALT)))
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("o_year").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


@query(
    "x_source_json_corrupt",
    category="scan",
    oracle=(
        # The corruption pattern is deterministic (doc_id % 7 == 3), so
        # the oracle derives the expected PERMISSIVE outcome straight
        # from the source table: every corrupt line must land in
        # _corrupt_record (not vanish), every good line must parse.
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(*) FILTER (WHERE doc_id % 7 <> 3) AS BIGINT) AS n_good, "
        "CAST(COUNT(*) FILTER (WHERE doc_id % 7 = 3) AS BIGINT) AS n_corrupt, "
        "CAST(SUM(CASE WHEN doc_id % 7 <> 3 THEN n_chars ELSE 0 END) "
        "  AS BIGINT) AS sum_n_good "
        "FROM documents"
    ),
)
def source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSON-lines ingestion — the robustness half of
    the genre's ImportTsv story that matters at 100 TB: a crawl drop
    ALWAYS contains malformed lines, and the job must neither crash
    (FAILFAST) nor silently drop them (DROPMALFORMED), but account for
    every byte.  A JSONL file is staged with a deterministic fault
    pattern (every doc_id % 7 == 3 line loses its closing brace), read
    back in PERMISSIVE mode with an explicit ``_corrupt_record``
    column, and the census proves the contract: parsed + quarantined
    == every input line, and the good-side aggregate is unaffected by
    the bad lines.  The oracle derives the expected outcome from the
    source table, so a reader that dropped or double-counted corrupt
    lines hash-fails.

    Scale shape: text source splits like any line format; PERMISSIVE
    parsing is per-row (no shuffle); the census is one aggregate.  In
    production the quarantine column is written to a dead-letter sink
    and alerting keys on n_corrupt / n_rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    line = F.concat(
        F.lit('{"id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n": '),
        F.col("n_chars").cast("string"),
        # the fault: doc_id % 7 == 3 lines never close their object
        F.when(F.pmod("doc_id", F.lit(7)) == 3, F.lit("")).otherwise(F.lit("}")),
    )
    out = sink_dir("json_corrupt", os.path.join(sf_dir, "documents.parquet"))
    docs.select(line.alias("value")).write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema("id LONG, n LONG, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    good = F.col("_corrupt_record").isNull()
    return parsed.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(F.when(good, 1)).cast("long").alias("n_good"),
        F.count(F.when(~good, 1)).cast("long").alias("n_corrupt"),
        F.coalesce(F.sum(F.when(good, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("sum_n_good"),
    )


# --- RegionSplitter / TotalOrderPartitioner: sampled split points ------

_RSP_REGIONS = 8
_RSP_RATE = 10  # keep keys whose md5 draw is 0 mod 10 (~10% sample)


@query(
    "x_region_split_points",
    category="sink",
    oracle=(
        "WITH s AS (SELECT o_orderkey FROM orders WHERE "
        f"  ({hex_int_duck('md5(CAST(o_orderkey AS VARCHAR))', 1, 6)}"
        f"  ) % {_RSP_RATE} = 0), "
        f"t AS (SELECT o_orderkey, ntile({_RSP_REGIONS}) OVER "
        "  (ORDER BY o_orderkey) AS tile FROM s), "
        "cuts AS (SELECT MAX(o_orderkey) AS cut FROM t "
        f"  WHERE tile <= {_RSP_REGIONS - 1} GROUP BY tile), "
        "r AS (SELECT o.o_orderkey, "
        "  (SELECT COUNT(*) FROM cuts c WHERE c.cut < o.o_orderkey) AS region "
        "  FROM orders o) "
        "SELECT CAST(region AS BIGINT) AS region, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key "
        "FROM r GROUP BY region"
    ),
)
def region_split_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase RegionSplitter / Hadoop TotalOrderPartitioner: derive
    balanced region split points from a deterministic ~10% SAMPLE of
    the rowkey domain (md5 draw — portable, uncorrelated with key
    order, no multiplicative-hash overflow at any key domain), take
    equi-depth cut points (ntile max per tile, 7 cuts -> 8 regions),
    then audit the FULL table against those cuts: rows / min / max per
    region.  This is exactly the pre-split planning step before a bulk
    load (x_bulkload_ranged consumes such boundaries) — the census
    shows the sample's cuts balance the full table without scanning it
    twice at plan time.

    Scale shape: the sampled-key ntile is the one global-order window,
    and it runs over the SAMPLE only — in production the rate is tuned
    to a fixed key budget (TotalOrderPartitioner samples ~100k keys
    regardless of input size), so the single-partition window is
    content-bounded, not corpus-bounded.  The 7 cut points travel as a
    1-row broadcast array scalar (whitelisted BNLJ family); region
    assignment is then a zero-shuffle array scan per row, and the
    census is one hash aggregate on an 8-value key."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    draw = hex_int(F.md5(F.col("o_orderkey").cast("string")), 1, 6)
    s = orders.filter(draw % _RSP_RATE == 0)
    t = s.select(
        "o_orderkey",
        F.ntile(_RSP_REGIONS).over(Window.orderBy("o_orderkey")).alias("tile"),
    )
    cuts = (
        t.filter(F.col("tile") <= _RSP_REGIONS - 1)
        .groupBy("tile")
        .agg(F.max("o_orderkey").alias("cut"))
        .agg(F.sort_array(F.collect_list("cut")).alias("cuts"))
    )
    return (
        orders.crossJoin(F.broadcast(cuts))
        .select(
            F.expr("size(filter(cuts, c -> c < o_orderkey))")
            .cast("long")
            .alias("region"),
            "o_orderkey",
        )
        .groupBy("region")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


# --- major compaction: LSM cell merge with tombstones/TTL/versions -----


@query(
    "x_compact_major",
    category="scan",
    oracle=(
        "WITH base AS (SELECT user_id, event_type, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        "  event_id FROM events), "
        # gen1: a younger HFile generation of re-puts (newer versions of
        # every 5th cell, one day later, ten cents higher)
        "cells AS (SELECT * FROM base UNION ALL "
        "  SELECT user_id, event_type, ts_us + 86400000000, cents + 10, "
        "  event_id + 2000000000 FROM base WHERE event_id % 5 = 0), "
        # DeleteColumn tombstones: one marker per (user%11==0, 'click')
        # cell, masking every version at or before the marker timestamp
        "marks AS (SELECT DISTINCT user_id, event_type, "
        "  epoch_us(TIMESTAMP '2024-01-15 00:00:00') AS mark_ts "
        "  FROM base WHERE user_id % 11 = 0 AND event_type = 'click'), "
        "masked AS (SELECT c.* FROM cells c LEFT JOIN marks m "
        "  ON c.user_id = m.user_id AND c.event_type = m.event_type "
        "  WHERE m.mark_ts IS NULL OR c.ts_us > m.mark_ts), "
        "live AS (SELECT * FROM masked "
        "  WHERE ts_us >= epoch_us(TIMESTAMP '2024-01-05 00:00:00')), "
        "v AS (SELECT user_id, event_type, ts_us, cents, "
        "  row_number() OVER (PARTITION BY user_id, event_type "
        "    ORDER BY ts_us DESC, event_id DESC) AS version FROM live) "
        "SELECT user_id, event_type, CAST(version AS BIGINT) AS version, "
        "ts_us, cents FROM v WHERE version <= 2"
    ),
)
def compact_major(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase MAJOR COMPACTION as one dataflow — the storage semantic
    the whole genre sits on, composed end-to-end: two HFile
    generations (the base cells plus a younger generation of re-puts:
    every 5th cell re-written a day later, ten cents higher) merge by
    UNION; DeleteColumn tombstones (one per (user_id % 11, 'click')
    cell, stamped 2024-01-15) mask every version at-or-before the
    marker and are themselves PURGED — exactly what distinguishes a
    major compaction from a minor one; the column family's TTL floor
    (2024-01-05) expires old cells; and readVersions-style retention
    keeps the 2 newest surviving versions per (row key, qualifier),
    ranked.  x_cell_versions covers TTL+versions on a live read path;
    this key adds the generation merge and tombstone masking that run
    at rewrite time.

    Determinism: timestamps compare as epoch micros against literal
    marks (the events domain is fixed Jan-2024 at every SF); version
    ties break on event_id (re-put ids are offset by 2e9, so ranks are
    total); money is exact integer cents.

    Scale shape: the generation merge is a shuffle-free UNION; the
    tombstone mask is an equi-join on the SAME (row, qualifier) key
    the version window then partitions by, so one hash partitioning
    serves both (markers are corpus-keyed, hence a keyed join, NOT a
    broadcast); retention is one WindowGroupLimit-able rank filter.
    One compaction = two keyed shuffles, independent of how many
    generations union in."""
    base = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        "event_id",
    )
    gen1 = base.filter(F.col("event_id") % 5 == 0).select(
        "user_id",
        "event_type",
        (F.col("ts_us") + 86400000000).alias("ts_us"),
        (F.col("cents") + 10).alias("cents"),
        (F.col("event_id") + 2000000000).alias("event_id"),
    )
    cells = base.unionAll(gen1)
    mark_ts = F.unix_micros(F.lit("2024-01-15 00:00:00").cast("timestamp"))
    marks = (
        base.filter((F.col("user_id") % 11 == 0) & (F.col("event_type") == "click"))
        .select("user_id", "event_type")
        .distinct()
        .select("user_id", "event_type", mark_ts.alias("mark_ts"))
    )
    masked = cells.join(marks, ["user_id", "event_type"], "left").filter(
        F.col("mark_ts").isNull() | (F.col("ts_us") > F.col("mark_ts"))
    )
    ttl_floor = F.unix_micros(F.lit("2024-01-05 00:00:00").cast("timestamp"))
    live = masked.filter(F.col("ts_us") >= ttl_floor)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        live.withColumn("version", F.row_number().over(w).cast("long"))
        .filter(F.col("version") <= 2)
        .select("user_id", "event_type", "version", "ts_us", "cents")
    )


@query(
    "x_compact_minor",
    category="scan",
    oracle=(
        "WITH base AS (SELECT user_id, event_type, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        "  event_id FROM events), "
        # the two youngest files of x_compact_major's store: gen1
        # re-puts and the DeleteColumn marker file
        "gen1 AS (SELECT user_id, event_type, ts_us + 86400000000 AS ts_us, "
        "  cents + 10 AS cents, event_id + 2000000000 AS event_id, "
        "  'PUT' AS cell_type FROM base WHERE event_id % 5 = 0), "
        "marks AS (SELECT DISTINCT user_id, event_type, "
        "  epoch_us(TIMESTAMP '2024-01-15 00:00:00') AS ts_us, "
        "  CAST(NULL AS BIGINT) AS cents, CAST(NULL AS BIGINT) AS event_id, "
        "  'DELETE_COLUMN' AS cell_type "
        "  FROM base WHERE user_id % 11 = 0 AND event_type = 'click'), "
        "merged AS (SELECT * FROM gen1 UNION ALL SELECT * FROM marks) "
        "SELECT event_type, "
        "CAST(COUNT(*) FILTER (WHERE cell_type = 'PUT') AS BIGINT) AS n_put, "
        "CAST(COUNT(*) FILTER (WHERE cell_type = 'DELETE_COLUMN') AS BIGINT) "
        "  AS n_tombstone, "
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_rowkeys, "
        "CAST(SUM(cents) FILTER (WHERE cell_type = 'PUT') AS BIGINT) "
        "  AS sum_put_cents, "
        "MIN(ts_us) AS min_ts_us, MAX(ts_us) AS max_ts_us "
        "FROM merged GROUP BY event_type"
    ),
)
def compact_minor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase MINOR COMPACTION — the other half of the compaction pair
    (x_compact_major): merge a SUBSET of the store's files (here the
    two youngest — the gen1 re-put file and the DeleteColumn marker
    file) into one, and do NOTHING else.  Tombstones are RETAINED as
    cells (n_tombstone > 0 in the output is the semantic contrast
    with major, which purges them), masked puts are retained too, and
    no TTL or max-versions trimming applies — a minor compaction must
    be conservative because files OUTSIDE the compacted subset may
    hold versions its tombstones mask or that mask its puts; only a
    major compaction, seeing every file, may drop data.  The output
    summarizes the merged file per qualifier (event_type): put and
    tombstone cell counts, distinct row keys, exact put-cents sum, and
    the file's timestamp range (the metadata a real HFile writer
    records in its trailer for timerange-scan pruning).

    Determinism: same literal marker timestamp and exact integer cents
    as x_compact_major; tombstone rows carry NULL cents/event_id and a
    cell_type tag, exactly as an HFile serializes KeyValue types.

    Scale shape: the file MERGE itself is a shuffle-free UNION — a
    minor compaction's rewrite never pays a keyed shuffle (contrast
    major's two), which is why LSM stores run minors continuously and
    majors rarely.  The summary AGGREGATE adds three bounded keyed
    shuffles (the marker-file distinct plus Spark's two-phase
    countDistinct rowkey census), all keyed by (row, qualifier) —
    plan-pinned join-free in tests/test_plans.py."""
    base = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        "event_id",
    )
    gen1 = base.filter(F.col("event_id") % 5 == 0).select(
        "user_id",
        "event_type",
        (F.col("ts_us") + 86400000000).alias("ts_us"),
        (F.col("cents") + 10).alias("cents"),
        (F.col("event_id") + 2000000000).alias("event_id"),
        F.lit("PUT").alias("cell_type"),
    )
    mark_ts = F.unix_micros(F.lit("2024-01-15 00:00:00").cast("timestamp"))
    marks = (
        base.filter((F.col("user_id") % 11 == 0) & (F.col("event_type") == "click"))
        .select("user_id", "event_type")
        .distinct()
        .select(
            "user_id",
            "event_type",
            mark_ts.alias("ts_us"),
            F.lit(None).cast("long").alias("cents"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit("DELETE_COLUMN").alias("cell_type"),
        )
    )
    merged = gen1.unionAll(marks)
    is_put = F.col("cell_type") == "PUT"
    return merged.groupBy("event_type").agg(
        F.count(F.when(is_put, 1)).cast("long").alias("n_put"),
        F.count(F.when(~is_put, 1)).cast("long").alias("n_tombstone"),
        F.countDistinct("user_id").cast("long").alias("n_rowkeys"),
        F.sum(F.when(is_put, F.col("cents"))).cast("long").alias("sum_put_cents"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("ts_us").alias("max_ts_us"),
    )


@query(
    "x_etl_partition_evolution",
    category="scan",
    oracle=(
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
        "CAST(month(o_orderdate) AS BIGINT) AS o_month, "
        "CAST(COUNT(*) AS BIGINT) AS cnt, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS sum_cents "
        "FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1, 2"
    ),
)
def etl_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout EVOLUTION: rewrite the year-partitioned staging
    (sink_partitioned's layout) to a finer two-level (o_year, o_month)
    Hive layout, then prove the finer layout serves a month-grained
    query with BOTH partition columns pruned at directory level — the
    migration every growing table eventually runs when year partitions
    get too fat for the planner's pruning to matter.  The oracle sees
    the source rows; the physical claim (month directories exist, the
    month predicate becomes a PartitionFilter, rows survive exactly)
    is asserted in tests/test_plans.py, since SQL cannot see layout.

    Scale shape: the rewrite shuffles once on (year, month, bounded
    salt) — same small-file/fat-task bounds as sink_partitioned's
    salted write — and the evolved table's reads prune BOTH levels;
    at 100 TB the rewrite runs per-year (only fat years evolve), never
    O(table)."""
    src_dir = _staged_partitioned_orders(spark, sf_dir)

    def evolve(out: str) -> None:
        (
            read_parquet(spark, src_dir)
            .withColumn("o_month", F.month("o_orderdate"))
            .repartition(
                F.col("o_year"),
                F.col("o_month"),
                F.pmod(F.hash("o_orderkey"), F.lit(2)),
            )
            .write.mode("overwrite")
            .partitionBy("o_year", "o_month")
            .parquet(out)
        )

    out = staged("part_evo", os.path.join(sf_dir, "orders.parquet"), evolve)
    return (
        read_parquet(spark, out)
        .filter(F.col("o_year") == 1997)
        .groupBy(
            F.col("o_year").cast("long").alias("o_year"),
            F.col("o_month").cast("long").alias("o_month"),
        )
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
    )
