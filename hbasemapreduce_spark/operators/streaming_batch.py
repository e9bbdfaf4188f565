"""§2.8 Streaming-shaped queries — batch forms over `events`.

HBase-MR is batch-only (SURVEY.md §2.8); these are the north-star
streaming surface.  Per the design rule there, each key is implemented
as a *batch* query (what the oracle checks); streaming/mirrors.py runs
the same expressions through Structured Streaming (readStream +
watermarks) to prove incremental execution.

All event-time values in checked output are epoch bigints (seconds for
window starts, microseconds for gaps/durations) — never raw timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.determinism import KNUTH, srm_chi2_micro
from ..functions.sessionize import sessionize
from ..registry import query


def _ts():
    return F.col("ts").cast("timestamp")


@query(
    "stream_tumbling",
    category="stream",
    oracle=(
        "SELECT CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS ws, "
        "event_type, COUNT(*) AS cnt "
        "FROM events GROUP BY 1, 2"
    ),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per 1-hour tumbling window x event_type."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window(_ts(), "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )


@query(
    "stream_sliding",
    category="stream",
    oracle=(
        "SELECT ws, COUNT(*) AS cnt FROM ("
        "  SELECT (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) AS BIGINT) - k) * 900 AS ws "
        "  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)"
        ") GROUP BY ws"
    ),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event count per 1-hour window sliding every 15 minutes (each
    event lands in exactly 4 epoch-aligned windows)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window(_ts(), "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "cnt")
    )


@query(
    "stream_session",
    category="stream",
    oracle=(
        "WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events), "
        "flags AS ("
        "  SELECT user_id, event_id, ts_us, "
        "  CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000 "
        "       THEN 1 ELSE 0 END AS new_sess "
        "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), "
        "sess AS ("
        "  SELECT user_id, ts_us, CAST(SUM(new_sess) OVER ("
        "    PARTITION BY user_id ORDER BY ts_us, event_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id "
        "  FROM flags) "
        "SELECT user_id, sess_id, COUNT(*) AS n_events, MIN(ts_us) AS start_us, "
        "MAX(ts_us) AS end_us, MAX(ts_us) - MIN(ts_us) AS duration_us "
        "FROM sess GROUP BY user_id, sess_id"
    ),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute timeout) per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(_ts()).alias("ts_us")
    )
    sess = sessionize(ev, gap_us=1_800_000_000)
    return sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


@query(
    "stream_late_data",
    category="stream",
    oracle=(
        "WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mt FROM events) "
        "SELECT event_type, COUNT(*) AS cnt FROM events, m "
        "WHERE CAST(ts AS TIMESTAMP) >= mt - INTERVAL 1 HOUR "
        "GROUP BY event_type"
    ),
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data cut: keep only events within 1h of the global max(ts),
    then aggregate.  No streaming mirror: a watermark bounds state, it
    does not filter on the final max(ts).

    The scalar max is computed as a 1-row DataFrame and broadcast-cross-
    joined — no collect(), so the plan stays fully distributed.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(_ts()).alias("mt"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(_ts() >= F.col("mt") - F.expr("INTERVAL 1 HOUR"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "stream_dedup",
    category="stream",
    oracle=(
        "SELECT event_id, user_id, ts_us, event_type FROM ("
        "  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, "
        "  row_number() OVER (PARTITION BY event_id "
        "    ORDER BY CAST(ts AS TIMESTAMP), user_id, event_type, value) AS rn "
        "  FROM events) WHERE rn = 1"
    ),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop duplicate event_ids keeping the earliest occurrence (total
    tie-broken order).  Streaming twin: dropDuplicatesWithinWatermark."""
    w = Window.partitionBy("event_id").orderBy(_ts(), "user_id", "event_type", "value")
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.unix_micros(_ts()).alias("ts_us"),
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts_us", "event_type")
    )


@query(
    "x_stream_stateful",
    category="stream",
    oracle=(
        "SELECT user_id, COUNT(*) AS n_events, "
        "COUNT(DISTINCT event_type) AS n_types, "
        "epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS last_ts_us "
        "FROM events GROUP BY user_id"
    ),
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime profile (count, distinct types, last-seen) —
    the batch form of a CUSTOM STATEFUL streaming operator.  The
    streaming twin (streaming/mirrors.py `stateful`) computes the same
    aggregate with ``applyInPandasWithState``: explicit per-key state
    carried across micro-batches, which is the escape hatch when the
    built-in windowed aggregates can't express the state machine."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.unix_micros(F.max(_ts())).alias("last_ts_us"),
        )
    )


@query(
    "x_stream_interval_join",
    category="stream",
    oracle=(
        "SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id, "
        "epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP)) AS delta_us "
        "FROM events v JOIN events p ON v.user_id = p.user_id "
        "AND v.event_type = 'view' AND p.event_type = 'purchase' "
        "AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 6 HOUR"
    ),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch form: each view pairs with the
    same user's purchases within the following 6 hours (attribution
    window).  The time bound is part of the JOIN condition, which is
    what makes the streaming twin's state finite: with watermarks on
    both sides Spark evicts view-state older than (watermark - 6h), so
    state is bounded by rate x window, not by history.

    Batch plan shape: an equi-join on user_id with the interval as a
    post-join range condition — a plain shuffle-hash/sort-merge join on
    the user key, NEVER a cross product; at 100 TB both sides shuffle
    once on user_id and the range filter runs inside the join.  Checked
    output is integer-exact (ids + microsecond delta)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        _ts().alias("v_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        _ts().alias("p_ts"),
    )
    return (
        v.join(
            p,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 6 HOURS")),
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("delta_us"),
        )
    )


@query(
    "x_stream_hourly_top",
    category="stream",
    oracle=(
        "WITH hourly AS ("
        "  SELECT CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS ws, "
        "  event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2), "
        "rk AS ("
        "  SELECT ws, event_type, cnt, row_number() OVER ("
        "    PARTITION BY ws ORDER BY cnt DESC, event_type) AS rnk FROM hourly) "
        "SELECT ws, event_type, cnt, rnk FROM rk WHERE rnk <= 2"
    ),
)
def stream_hourly_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per tumbling hour: a rank over a windowed
    aggregate.  Structured Streaming cannot put a window function on a
    streaming aggregate natively — the streaming twin
    (streaming/mirrors.py hourly_top via ``foreachBatch``) applies the
    rank per micro-batch on the aggregate's update stream, the standard
    escape hatch for post-aggregation logic.  The rank input here is
    |hours| x |types| rows regardless of corpus size — scale-free."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window(_ts(), "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )
    w = Window.partitionBy("ws").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        hourly.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 2)
    )


_QM_TYPES = ("click", "purchase", "signup", "view")


def quality_monitor_expr(ev: DataFrame) -> DataFrame:
    """The shared batch/stream expression behind x_quality_monitor:
    per-hour rule-violation counters as conditional sums in ONE
    windowed aggregate (wide output — no generator after the aggregate,
    so the identical expression runs under IncrementalExecution)."""

    def viol(pred) -> F.Column:
        return F.sum(
            F.when(~F.coalesce(pred, F.lit(False)), 1).otherwise(0)
        ).cast("long")

    return (
        ev.groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_rows"),
            viol(F.col("value").between(0, 100)).alias("v_value_range"),
            viol(F.col("event_type").isin(*_QM_TYPES)).alias("v_type_domain"),
            viol(F.get_json_object("props", "$.k").isNotNull()).alias(
                "v_props_key"
            ),
        )
        .select(
            F.unix_timestamp("w.start").alias("ws"),
            "n_rows",
            "v_value_range",
            "v_type_domain",
            "v_props_key",
        )
    )


@query(
    "x_quality_monitor",
    category="stream",
    oracle=(
        "SELECT CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS ws, "
        "COUNT(*) AS n_rows, "
        "CAST(SUM(CASE WHEN NOT COALESCE(value BETWEEN 0 AND 100, FALSE) "
        "    THEN 1 ELSE 0 END) AS BIGINT) AS v_value_range, "
        "CAST(SUM(CASE WHEN NOT COALESCE(event_type IN "
        "    ('click', 'purchase', 'signup', 'view'), FALSE) "
        "    THEN 1 ELSE 0 END) AS BIGINT) AS v_type_domain, "
        "CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL "
        "    THEN 1 ELSE 0 END) AS BIGINT) AS v_props_key "
        "FROM events GROUP BY 1"
    ),
)
def quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality monitoring: x_quality_rules' validation
    discipline applied to the EVENT STREAM — per-hour counters for a
    value-range rule, an event-type domain rule, and a JSON-payload
    completeness rule, all as conditional sums inside one windowed
    aggregate.  This is the alerting feed a pipeline health dashboard
    reads ('error-typed events spiked at 14:00').

    Scale shape: one pass, one hash aggregate keyed by the hour window
    — map-side partials reduce the shuffle to one row per (partition,
    hour); adding a rule adds an accumulator, never a scan.  NULL
    predicates count as violations (NOT COALESCE(pred, FALSE)), same
    convention as x_quality_rules.  The streaming twin
    (streaming/mirrors.py quality_monitor_stream) runs the IDENTICAL
    expression with a 1-hour watermark: state is one row per open
    window, evicted as the watermark passes — proven equal to this
    batch form in tests/test_streaming.py."""
    return quality_monitor_expr(load_table(spark, sf_dir, "events"))


@query(
    "x_stream_chained_agg",
    category="stream",
    oracle=(
        "WITH mx AS (SELECT epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS mu FROM events), "
        "h AS (SELECT CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hs, "
        "      event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), "
        "d AS (SELECT (hs // 86400) * 86400 AS ds, event_type, "
        "      MAX(cnt) AS max_hourly FROM h GROUP BY 1, 2) "
        "SELECT ds, event_type, max_hourly FROM d CROSS JOIN mx "
        "WHERE (ds + 86400) * 1000000 <= mu - 3600000000"
    ),
)
def stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the CHAINED two-level windowed aggregate: hourly
    event counts per type, then the daily MAX of those hourly counts —
    the 'peak hourly rate per day' health metric.  The streaming form
    (streaming/mirrors.py chained_agg) is two stateful operators in ONE
    append-mode query — multiple chained stateful aggregations are a
    Spark 4 Structured Streaming capability; the second groupBy keys on
    F.window_time() of the first window, so event-time semantics (and
    the watermark) propagate through both levels.

    Append-mode finalization is part of the twin contract: a day window
    emits once the 1-hour watermark passes its end, so this batch form
    keeps exactly the days with day_end <= max_ts - 1h (microsecond
    arithmetic; proven equal to the streaming run in
    tests/test_streaming.py — the trailing unfinalized day is withheld
    by BOTH sides).

    Scale shape: two hash aggregates, each with map-side partials; the
    second runs on |days| x |types| rows, not the fact table.  In the
    streaming form state is one row per open hour window plus one per
    open day window, evicted by the watermark."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.unix_micros(F.max(F.col("ts").cast("timestamp"))).alias("mu")
    )
    hourly = ev.groupBy(
        F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    daily = (
        hourly.groupBy(F.window(F.col("w.start"), "1 day").alias("d"), "event_type")
        .agg(F.max("cnt").alias("max_hourly"))
        .select(F.unix_timestamp("d.start").alias("ds"), "event_type", "max_hourly")
    )
    return daily.crossJoin(F.broadcast(mx)).filter(
        (F.col("ds") + 86400) * 1_000_000 <= F.col("mu") - 3_600_000_000
    ).select("ds", "event_type", "max_hourly")


def stream_dim_enrich_expr(ev: DataFrame, nation: DataFrame) -> DataFrame:
    """Shared batch/stream expression behind x_stream_join_dim: enrich
    each event with its synthetic home nation (user_id % 25 — the
    testdata's stand-in for a profile attribute) via a BROADCAST
    stream-static join, then aggregate per nation."""
    enriched = ev.join(
        F.broadcast(nation),
        F.pmod(F.col("user_id"), F.lit(25)) == F.col("n_nationkey"),
    )
    return enriched.groupBy("n_name").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


@query(
    "x_stream_join_dim",
    category="stream",
    oracle=(
        "SELECT n.n_name, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
        "FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey "
        "GROUP BY 1"
    ),
)
def stream_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAM-STATIC dimension join — the single most
    common streaming enrichment shape: every event looks up a slowly
    changing dimension row (here the synthetic home nation) and the
    enriched stream aggregates per dimension value.  In Structured
    Streaming the static side is re-broadcast per micro-batch, so no
    state store is involved at all — the join is stateless, which is
    exactly why it scales to any stream rate.

    The streaming form (streaming/mirrors.py dim_enrich) runs this
    IDENTICAL expression (shared function) under IncrementalExecution
    in complete mode and is proven equal in tests/test_streaming.py —
    the 15th equality-proven twin.  Decimal-sandwich sum keeps the
    per-nation totals bit-identical at any partition count."""
    return stream_dim_enrich_expr(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
    )


def dup_rate_expr(ev: DataFrame) -> DataFrame:
    """Shared batch/stream expression behind x_stream_dup_rate: hourly
    duplicate-rate monitoring.  Level 1 counts occurrences of each
    duplicate identity (user_id, event_type, value) inside its hour
    window; level 2 rolls the hour up to total events, distinct keys,
    duplicated events, and an exact ppm rate.  The second groupBy keys
    on F.window_time() of the first window so the watermark propagates
    through both stateful operators in the streaming form (the
    x_stream_chained_agg Spark 4 capability); COUNT(DISTINCT ...) is
    not streamable, which is exactly why the rollup is CHAINED counts
    instead."""
    # no cast on ts: load_table already normalizes it to TIMESTAMP, and
    # casting a streaming column strips its watermark metadata (the
    # append-mode query then fails analysis)
    lvl1 = ev.groupBy(
        F.window("ts", "1 hour").alias("w"),
        "user_id",
        "event_type",
        "value",
    ).agg(F.count("*").alias("cnt"))
    return (
        lvl1.groupBy(F.window(F.window_time("w"), "1 hour").alias("h"))
        .agg(
            F.sum("cnt").cast("long").alias("n_events"),
            F.count("*").cast("long").alias("n_keys"),
            (F.sum("cnt") - F.count("*")).cast("long").alias("dup_events"),
        )
        .select(
            F.unix_timestamp("h.start").alias("hs"),
            "n_events",
            "n_keys",
            "dup_events",
            F.expr("1000000 * dup_events DIV n_events").alias("dup_ppm"),
        )
    )


@query(
    "x_stream_dup_rate",
    category="stream",
    oracle=(
        "WITH mx AS (SELECT epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS mu FROM events), "
        "k AS (SELECT CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) "
        "      AS BIGINT) AS hs, user_id, event_type, value, "
        "      CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2, 3, 4), "
        "h AS (SELECT hs, CAST(SUM(cnt) AS BIGINT) AS n_events, "
        "      CAST(COUNT(*) AS BIGINT) AS n_keys, "
        "      CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS dup_events FROM k GROUP BY 1) "
        "SELECT hs, n_events, n_keys, dup_events, "
        "1000000 * dup_events // n_events AS dup_ppm "
        "FROM h CROSS JOIN mx WHERE (hs + 3600) * 1000000 <= mu - 3600000000"
    ),
)
def stream_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the hourly DUPLICATE-RATE monitor: how much of
    each hour's traffic is repeated (user, type, value) identities —
    the ingestion-health alarm that catches replayed batches, stuck
    producers, and at-least-once inflation before dedup cost shows up
    downstream.  Rates are exact integer ppm.

    Append-mode finalization is part of the twin contract (the
    x_stream_chained_agg discipline): an hour emits once the 1-hour
    watermark passes its end, so the batch form keeps exactly the
    hours with hour_end <= max_ts - 1h; the streaming run is proven
    equal in tests/test_streaming.py.

    Scale shape: level 1 is a hash aggregate on (hour, identity) —
    map-side partials absorb true duplicates; level 2 runs on the
    deduplicated key census, not the fact table.  Streaming state is
    one row per open-hour identity plus one per open hour, both
    watermark-evicted."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.unix_micros(F.max(F.col("ts").cast("timestamp"))).alias("mu"))
    return (
        dup_rate_expr(ev)
        .crossJoin(F.broadcast(mx))
        .filter((F.col("hs") + 3600) * 1_000_000 <= F.col("mu") - 3_600_000_000)
        .select("hs", "n_events", "n_keys", "dup_events", "dup_ppm")
    )


def srm_expr(ev: DataFrame) -> DataFrame:
    """Shared batch/stream expression behind x_stream_srm: hourly
    sample-ratio-mismatch monitoring per event type.  ONE stateful
    conditional aggregate per (hour, type) — obs_a/obs_b from the
    portable variant hash — then the stateless chi-square projection in
    exact micro units (the x_stats_srm arithmetic, hour-grained)."""
    v = ev.select(
        "ts",
        "event_type",
        ((F.col("user_id") * KNUTH) % 2).alias("variant"),
    )
    chi2 = srm_chi2_micro()
    return (
        v.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
            .cast("long")
            .alias("obs_a"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
            .cast("long")
            .alias("obs_b"),
        )
        .select(
            F.unix_timestamp("w.start").alias("hs"),
            "event_type",
            "obs_a",
            "obs_b",
            chi2.alias("chi2_micro"),
            (chi2 >= 3_841_459).alias("srm_alarm"),
        )
    )


@query(
    "x_stream_srm",
    category="stream",
    oracle=(
        "WITH mx AS (SELECT epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS mu "
        "  FROM events), "
        "v AS (SELECT CAST(floor(epoch(date_trunc('hour', "
        "    CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hs, event_type, "
        f"  (user_id * {KNUTH}) % 2 AS variant FROM events), "
        "m AS (SELECT hs, event_type, "
        "  CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "    AS obs_a, "
        "  CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "    AS obs_b FROM v GROUP BY 1, 2) "
        "SELECT hs, event_type, obs_a, obs_b, "
        "CAST(CAST(1000000 AS HUGEINT) * (obs_a - obs_b) * (obs_a - obs_b) "
        "  // (obs_a + obs_b) AS BIGINT) AS chi2_micro, "
        "CAST((CAST(1000000 AS HUGEINT) * (obs_a - obs_b) * (obs_a - obs_b) "
        "  // (obs_a + obs_b)) >= 3841459 AS BOOLEAN) AS srm_alarm "
        "FROM m CROSS JOIN mx "
        "WHERE (hs + 3600) * 1000000 <= mu - 3600000000"
    ),
)
def stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the HOURLY sample-ratio-mismatch monitor — the
    live version of x_stats_srm's experiment guardrail: a broken
    randomizer or variant-correlated logging loss shows up within the
    hour it starts, not at the end-of-experiment readout.  Same exact
    micro-unit chi-square, same 3.841459 alarm threshold, hour-grained.

    Append-mode finalization is part of the twin contract: an hour
    emits once the 1-hour watermark passes its end, so the batch form
    keeps exactly the hours with hour_end <= max_ts - 1h; the
    streaming run (streaming/mirrors.py srm_stream — the 17th
    equality-proven twin, tests/test_streaming.py) maintains ONE state
    row per open (hour, type), watermark-evicted.

    Scale shape: one conditional hash aggregate with map-side
    partials; everything after is a stateless projection."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.unix_micros(F.max(F.col("ts").cast("timestamp"))).alias("mu")
    )
    return (
        srm_expr(ev)
        .crossJoin(F.broadcast(mx))
        .filter(
            (F.col("hs") + 3600) * 1_000_000 <= F.col("mu") - 3_600_000_000
        )
        .select(
            "hs", "event_type", "obs_a", "obs_b", "chi2_micro", "srm_alarm"
        )
    )


@query(
    "x_stream_tws_profile",
    category="stream",
    oracle=(
        "SELECT user_id, COUNT(*) AS n_events, "
        "CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS total_cents, "
        "CAST(MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS max_cents "
        "FROM events GROUP BY user_id"
    ),
)
def stream_tws_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend profile (count, exact-cents total, largest single
    event) — the batch form of a TRANSFORMWITHSTATE streaming operator.
    The streaming twin (streaming/mirrors.py ``tws_profile``) computes
    the same aggregate with Spark 4's ``transformWithStateInPandas`` —
    the successor API to applyInPandasWithState (x_stream_stateful's
    surface): a StatefulProcessor CLASS with named, individually-typed
    state primitives (ValueState here; ListState/MapState/timers in the
    handle) instead of one monolithic state tuple, and built-in
    per-state TTL.  Equality with this batch form is proven in
    tests/test_streaming.py — on runtimes shipping pyspark's declared
    protobuf dependency; THIS container does not (no installs), so the
    twin's test importorskips there and the mirror code carries the
    API evidence.

    Exactness: value converts to integer cents through DECIMAL on the
    JVM side before the Arrow hop, so sums are exact in both forms."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    )


def counter_fold_expr(deltas: DataFrame, base: DataFrame) -> DataFrame:
    """Shared batch/stream expression behind x_stream_counter: the
    genre's LIVE COUNTER TABLE (HBase Increment maintained in real
    time).  Each delta row joins its static base row (broadcast,
    stateless), then ONE per-key stateful aggregate carries the
    running counter: counter = base + SUM(deltas) — MAX(base) is the
    per-key-constant smuggled through the aggregate so the whole
    result is one state row per touched key.  No watermark: a running
    counter never closes, which is exactly complete/update-mode
    semantics."""
    joined = deltas.join(F.broadcast(base), "c_custkey")
    return joined.groupBy("c_custkey").agg(
        F.max("c_mktsegment").alias("c_mktsegment"),
        (F.max("base_cents") + F.sum("delta_cents"))
        .cast("long")
        .alias("counter_cents"),
        F.count("*").cast("long").alias("n_increments"),
    )


def counter_deltas(ev: DataFrame) -> DataFrame:
    """Purchase events as exact-cents increment rows (the NULL-value
    filter keeps both engines' sums identical — HBase increments are
    never NULL)."""
    return ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("user_id").alias("c_custkey"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("delta_cents"),
    )


def counter_base(customer: DataFrame) -> DataFrame:
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("base_cents"),
    )


@query(
    "x_stream_counter",
    category="stream",
    oracle=(
        "WITH d AS (SELECT user_id AS c_custkey, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS delta_cents "
        "  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), "
        "b AS (SELECT c_custkey, c_mktsegment, "
        "  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "    AS base_cents FROM customer) "
        "SELECT d.c_custkey, MAX(b.c_mktsegment) AS c_mktsegment, "
        "  CAST(MAX(b.base_cents) + SUM(d.delta_cents) AS BIGINT) "
        "    AS counter_cents, "
        "  CAST(COUNT(*) AS BIGINT) AS n_increments "
        "FROM d JOIN b USING (c_custkey) GROUP BY 1"
    ),
)
def stream_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live counter table, batch form: every purchase event
    increments its customer's balance counter in exact cents, and the
    per-key running value is maintained by counter_fold_expr — the
    same expression the Structured-Streaming mirror runs
    incrementally (streaming/mirrors.py counter_stream; equality
    proven in tests/test_streaming.py).  This is x_client_increment's
    semantics re-expressed as a STREAMABLE plan: the batch fold's
    left join becomes a stateless stream-static broadcast join BEFORE
    one per-key stateful aggregate, so the streaming state is one row
    per touched key (untouched base rows never enter state — the
    at-rest table serves them, the HBase reading of a counter CF).

    Scale shape: broadcast dim + single hash aggregate keyed by
    customer; at 100 TB of events the only wide stage is the per-key
    shuffle, and in streaming form the state store holds |touched
    keys| rows with no watermark to expire them — the monotone
    counter semantics."""
    deltas = counter_deltas(load_table(spark, sf_dir, "events"))
    base = counter_base(load_table(spark, sf_dir, "customer"))
    return counter_fold_expr(deltas, base)


# -- foreachBatch upsert sink: associative per-key profile fold ----------


def upsert_profile_deltas(ev: DataFrame) -> DataFrame:
    """Purchase stream -> the per-event upsert payload (user, ts_us,
    event_id, exact cents).  Shared by the batch key and the
    foreachBatch mirror so both fold the identical input."""
    return ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )


def upsert_profile_fold(deltas: DataFrame) -> DataFrame:
    """Fold upsert payloads into the profile table.  ASSOCIATIVE by
    construction — count and sum are monoids and `last` is max over
    the lexicographic (ts_us, event_id, cents) struct — so folding
    per micro-batch and merging snapshots (upsert_profile_merge)
    yields byte-identical state to one global fold, whatever the
    batch split.  That associativity IS the correctness argument for
    the foreachBatch mirror (streaming/mirrors.py upsert_sink_run)."""
    last = F.max(F.struct("ts_us", "event_id", "cents")).alias("l")
    return (
        deltas.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_purch"),
            F.sum("cents").cast("long").alias("sum_cents"),
            last,
        )
        .select(
            "user_id",
            "n_purch",
            "sum_cents",
            F.col("l.ts_us").alias("last_ts_us"),
            F.col("l.event_id").alias("last_event_id"),
            F.col("l.cents").alias("last_cents"),
        )
    )


def upsert_profile_merge(cur: DataFrame, part: DataFrame) -> DataFrame:
    """MERGE two profile snapshots: counts and sums add, `last` is the
    struct max — the same monoid as upsert_profile_fold, applied at
    snapshot grain."""
    last = F.max(F.struct("last_ts_us", "last_event_id", "last_cents")).alias("l")
    return (
        cur.unionByName(part)
        .groupBy("user_id")
        .agg(
            F.sum("n_purch").cast("long").alias("n_purch"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
            last,
        )
        .select(
            "user_id",
            "n_purch",
            "sum_cents",
            F.col("l.last_ts_us").alias("last_ts_us"),
            F.col("l.last_event_id").alias("last_event_id"),
            F.col("l.last_cents").alias("last_cents"),
        )
    )


@query(
    "x_stream_upsert_sink",
    category="stream",
    oracle=(
        "WITH d AS (SELECT user_id, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id "
        "  ORDER BY ts_us DESC, event_id DESC) AS rn FROM d), "
        "agg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_purch, "
        "  CAST(SUM(cents) AS BIGINT) AS sum_cents FROM d GROUP BY 1) "
        "SELECT a.user_id, a.n_purch, a.sum_cents, "
        "  r.ts_us AS last_ts_us, r.event_id AS last_event_id, "
        "  r.cents AS last_cents "
        "FROM agg a JOIN r ON r.user_id = a.user_id AND r.rn = 1"
    ),
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch-upsert profile table, batch form: every
    purchase upserts its customer's profile — purchase count, exact
    cents total, and the LATEST purchase (by event time, event_id
    tie-break).  This is the MERGE-INTO sink pattern every lakehouse
    streaming pipeline runs through foreachBatch: the streaming mirror
    (streaming/mirrors.py upsert_sink_run, equality-proven in
    tests/test_streaming.py) folds each micro-batch with the SAME
    upsert_profile_fold and merges versioned parquet snapshots with
    upsert_profile_merge; the fold is an associative monoid (count /
    sum / struct-max), so any micro-batch split — the mirror forces
    four via maxFilesPerTrigger=1 — reproduces this batch result
    byte-identically.

    Scale shape: one keyed hash aggregate (map-side combined); the
    streaming form's per-batch work is O(batch) + a |touched keys|
    snapshot merge, the exact Delta/Iceberg MERGE cost model, and the
    snapshot swap is atomic (write-new-then-replace), so readers never
    see a half-merged table."""
    return upsert_profile_fold(
        upsert_profile_deltas(load_table(spark, sf_dir, "events"))
    )
