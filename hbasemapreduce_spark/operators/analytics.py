"""Beyond-contract event-analytics and training-data-prep operators.

Four workload shapes a production analytics engine is asked for daily,
each fully hash-checkable against a DuckDB twin (SURVEY.md §2.9
extension table; no reference file:line can exist — the reference
checkout is empty, SURVEY.md §0):

- x_funnel_conversion: strict sequential funnel (view -> click ->
  purchase), each stage anchored AFTER the previous stage's timestamp.
- x_retention_cohort: weekly cohort retention triangle.
- x_pack_chunks: concat-and-chunk sequence packing — the canonical LLM
  pretraining step (concatenate a shard's token stream, split every
  `_CHUNK_TOKENS` tokens) expressed as a window cumsum, emitting each
  document's chunk span instead of materializing token arrays.
- x_sample_split: deterministic train/val/test assignment by portable
  integer hash (the split step every training-data pipeline ends with).

Determinism: outputs are bigints/strings only (no raw timestamps, per
the registry contract); the split hash is the same Knuth multiplicative
hash the sampling operators use — plain bigint arithmetic, identical in
both engines, uncorrelated with id order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.determinism import KNUTH, hex_int_duck, hex_int_sql
from ..registry import query

_FUNNEL = ["view", "click", "purchase"]


@query(
    "x_funnel_conversion",
    category="analytics",
    oracle=(
        "WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
        f"           WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1), "
        "s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e "
        f"      JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1 "
        f"      WHERE e.event_type = '{_FUNNEL[1]}' GROUP BY 1), "
        "s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e "
        f"      JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2 "
        f"      WHERE e.event_type = '{_FUNNEL[2]}' GROUP BY 1) "
        "SELECT 1 AS stage, 'view' AS event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1 "
        "UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2 "
        "UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3"
    ),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict sequential funnel: how many users viewed, then clicked
    AFTER their first view, then purchased AFTER that first qualifying
    click.  Each stage is a (filter -> per-user min-ts aggregate ->
    equi-join on user_id against the previous stage) — the textbook
    iterated-anchor formulation, NOT a same-day approximation.

    Scale shape: every stage is a hash aggregate on user_id followed by
    an equi-join on user_id; stages only shrink, so AQE converts the
    later joins to broadcasts for free.  No window over the raw event
    stream, no per-user event sorting."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stage = ev.filter(F.col("event_type") == _FUNNEL[0]).groupBy("user_id").agg(
        F.min("ts").alias("anchor")
    )
    stages = [stage]
    for ev_type in _FUNNEL[1:]:
        stage = (
            ev.filter(F.col("event_type") == ev_type)
            .join(stage.select("user_id", "anchor"), "user_id")
            .filter(F.col("ts") > F.col("anchor"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("anchor"))
        )
        stages.append(stage)
    # one dataflow, one action: no driver-side per-stage counts
    counted = [
        s.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).alias("stage"), F.lit(t).alias("event_type"), "n_users"
        )
        for i, (t, s) in enumerate(zip(_FUNNEL, stages))
    ]
    out = counted[0]
    for c in counted[1:]:
        out = out.unionByName(c)
    return out


@query(
    "x_retention_cohort",
    category="analytics",
    oracle=(
        # NB: DuckDB's bare `/` is FLOAT division and its float->int CAST
        # rounds half away instead of flooring, so `//` (floor division)
        # is the only correct spelling of the week bucket here.
        "WITH act AS (SELECT DISTINCT user_id, "
        "  CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week_num "
        "  FROM events), "
        "cohort AS (SELECT user_id, MIN(week_num) AS cohort_week FROM act GROUP BY 1) "
        "SELECT c.cohort_week, a.week_num - c.cohort_week AS week_offset, "
        "       CAST(COUNT(*) AS BIGINT) AS n_users "
        "FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2"
    ),
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by first-active
    week, counted in each later week they return.  (cohort_week,
    week_offset, n_users) — the matrix every growth dashboard renders.

    Weeks are floor(days-since-epoch / 7) — pure bigint arithmetic,
    identical in both engines (DuckDB's integer division on positive
    BIGINTs floors exactly like Spark's FLOOR(a/7)).

    Scale shape: distinct (user, week) first — collapses the raw stream
    before any join; the cohort side is one row per user, broadcast-able
    at any corpus size; one partial+final count at the end."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
        ).alias("week_num"),
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("week_num").alias("cohort_week"))
    return (
        act.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week_num") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
    )


_CHUNK_TOKENS = 256  # training sequence length, in whitespace tokens


@query(
    "x_pack_chunks",
    category="pipeline",
    oracle=(
        "WITH toks AS (SELECT doc_id, lang, "
        "  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents), "
        "offs AS (SELECT doc_id, lang, n_toks, "
        "  CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start "
        "  FROM toks) "
        "SELECT doc_id, lang, n_toks, tok_start, "
        f"  tok_start // {_CHUNK_TOKENS} AS first_chunk, "
        f"  (tok_start + n_toks - 1) // {_CHUNK_TOKENS} AS last_chunk "
        "FROM offs"
    ),
)
def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: concatenate each language
    shard's token stream in doc_id order and split it every 256 tokens
    — the standard LLM pretraining packing step — but emit each
    document's (tok_start, first_chunk, last_chunk) SPAN instead of
    materializing packed token arrays.  Downstream, an equi-join on
    (lang, chunk) regroups documents into training sequences; a doc
    whose span crosses a boundary is the straddling case packing
    deliberately allows.

    Scale shape: ONE window cumsum partitioned by the shard key (lang
    here; (lang, shard_id) at 100 TB keeps every partition bounded) —
    no global ordering, no driver state.  All bigint arithmetic:
    DuckDB's BIGINT/BIGINT division truncates exactly like Spark's DIV
    on these non-negative offsets."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_toks")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    offs = docs.withColumn("tok_start", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
    return offs.select(
        "doc_id",
        "lang",
        "n_toks",
        "tok_start",
        F.expr(f"tok_start DIV {_CHUNK_TOKENS}").alias("first_chunk"),
        F.expr(f"(tok_start + n_toks - 1) DIV {_CHUNK_TOKENS}").alias("last_chunk"),
    )


@query(
    "x_sample_split",
    category="pipeline",
    oracle=(
        f"WITH b AS (SELECT doc_id, lang, (doc_id * {KNUTH}) % 100 AS bucket FROM documents) "
        "SELECT doc_id, lang, CASE WHEN bucket < 80 THEN 'train' "
        "WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b"
    ),
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by portable
    integer hash of the document id — every training-data pipeline's
    final step.  Unlike x_sample_stratified (which FILTERS a sample),
    this labels every row, so the split is stable across runs, engines,
    and repartitioning, and a document can never migrate between
    splits as the corpus grows (its bucket depends only on its id).

    Scale shape: stateless per-row projection — no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    bucket = F.pmod(F.col("doc_id") * F.lit(KNUTH), F.lit(100))
    return docs.select(
        "doc_id",
        "lang",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@query(
    "x_sample_importance",
    category="analytics",
    oracle=(
        f"SELECT doc_id, lang, n_chars FROM documents "
        f"WHERE (doc_id * {KNUTH}) % 4000 < least(n_chars, 2000)"
    ),
)
def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted sampling WITHOUT a random number generator:
    document d is kept iff hash_bucket(d) < min(weight_d, cap), giving
    inclusion probability proportional to its size weight (n_chars,
    capped at 2000 of the 4000 bucket space).  The pipeline use case:
    oversample long/high-quality documents into a curation subset while
    keeping the draw exactly reproducible — on any engine, any
    partitioning, any corpus growth (a doc's fate depends only on its
    own id and weight, so adding data never flips earlier decisions,
    unlike RNG-stream or reservoir approaches).

    Scale shape: a stateless per-row predicate — filter pushdown
    territory, zero shuffle, embarrassingly parallel.  All arithmetic
    is bigint (the portable Knuth hash), so the sampled SET itself is
    hash-checked against the DuckDB twin, not just its size."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.pmod(F.col("doc_id") * F.lit(KNUTH), F.lit(4000))
        < F.least(F.col("n_chars"), F.lit(2000))
    ).select("doc_id", "lang", "n_chars")


@query(
    "x_sample_balanced",
    category="analytics",
    oracle=(
        f"WITH h AS (SELECT doc_id, lang, (doc_id * {KNUTH}) % 1000000 AS hk "
        "FROM documents), "
        "rk AS (SELECT doc_id, lang, "
        "  row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn FROM h) "
        "SELECT doc_id, lang, rn AS pick_rank FROM rk WHERE rn <= 50"
    ),
)
def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: cap every language at 50 docs,
    chosen by portable hash order (NOT id order — low ids would bias
    toward whatever was crawled first; the Knuth hash decorrelates pick
    order from insertion order while staying deterministic across
    engines and runs).  The majority-class cap is how training
    pipelines stop a 100 TB corpus's dominant class from drowning the
    gradient signal.

    Scale shape: one window per class over (class, hash) — the same
    single shuffle a per-class aggregation needs; no sampling collect,
    no two-pass count-then-filter."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    hk = F.pmod(F.col("doc_id") * F.lit(KNUTH), F.lit(1_000_000))
    w = Window.partitionBy("lang").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("pick_rank"))
        .filter(F.col("pick_rank") <= 50)
    )


@query(
    "x_session_paths",
    category="analytics",
    oracle=(
        "WITH e AS (SELECT user_id, event_id, event_type, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events), "
        "flags AS ("
        "  SELECT user_id, event_id, event_type, ts_us, "
        "  CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > 1800000000 "
        "       THEN 1 ELSE 0 END AS new_sess "
        "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)), "
        "sess AS ("
        "  SELECT user_id, event_type, ts_us, event_id, CAST(SUM(new_sess) OVER ("
        "    PARTITION BY user_id ORDER BY ts_us, event_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id "
        "  FROM flags), "
        "paths AS ("
        "  SELECT user_id, sess_id, "
        "  string_agg(event_type, '>' ORDER BY ts_us, event_id) AS full_path "
        "  FROM sess GROUP BY user_id, sess_id) "
        "SELECT path3, COUNT(*) AS n_sessions FROM ("
        "  SELECT array_to_string((string_split(full_path, '>'))[1:3], '>') AS path3 "
        "  FROM paths) GROUP BY path3"
    ),
)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the most common first-3-event journeys per
    session (the product-analytics 'what do users do first' query).
    Built on the SAME sessionizer as stream_session, then per-session
    paths via sort_array(collect_list(struct(ts, id, type))) — the
    struct sort makes collect_list's arrival order irrelevant, so the
    path string is deterministic under any partitioning; the heavy
    shuffle is the one sessionize already paid on user_id.

    Scale note: paths are truncated to 3 steps BEFORE the final count
    aggregate, so the group domain is |event_types|^3-bounded, not
    session-count-bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    from ..functions.sessionize import sessionize

    sess = sessionize(ev, gap_us=1_800_000_000)
    paths = (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts_us", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.slice(F.transform("evs", lambda e: e.event_type), 1, 3), ">"
            ).alias("path3")
        )
    )
    return paths.groupBy("path3").agg(F.count("*").alias("n_sessions"))


@query(
    "x_time_gapfill",
    category="analytics",
    oracle=(
        "WITH ev AS (SELECT event_type, "
        "  CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS ws "
        "  FROM events), "
        "b AS (SELECT MIN(ws) AS lo, MAX(ws) AS hi FROM ev), "
        "hrs AS (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b), 3600)) AS ws), "
        "types AS (SELECT DISTINCT event_type FROM ev), "
        "counts AS (SELECT event_type, ws, COUNT(*) AS n FROM ev GROUP BY 1, 2) "
        "SELECT t.event_type, h.ws, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events "
        "FROM types t CROSS JOIN hrs h "
        "LEFT JOIN counts c ON c.event_type = t.event_type AND c.ws = h.ws"
    ),
)
def time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts per type with ZERO-FILLED gaps — the
    hypertable-rollup / time-series spine every monitoring dashboard
    needs (a plain groupBy silently drops empty hours, so downstream
    moving averages and anomaly detectors see a shorter, gapless-looking
    series).

    Scale shape: the only big job is the (event_type, hour) count
    aggregate over the fact stream (map-side partials).  The spine is
    synthesized, not scanned: one 1-row min/max aggregate -> an exploded
    ``sequence()`` of hour starts (span-bounded, ~9k rows/year), crossed
    with the distinct type list (a broadcast of two content-bounded
    sides — whitelisted in test_plans, like the other deliberate
    scalar/dimension crosses), then a left join against the
    pre-aggregated counts — at 100 TB the spine side stays
    broadcast-size because its cardinality is hours x types,
    independent of row count."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("ws"),
    )
    counts = ev.groupBy("event_type", "ws").agg(F.count("*").alias("n"))
    hours = (
        ev.agg(F.min("ws").alias("lo"), F.max("ws").alias("hi"))
        .select(F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(3600))).alias("ws"))
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(hours))
    return spine.join(F.broadcast(counts), ["event_type", "ws"], "left").select(
        "event_type",
        "ws",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
    )


@query(
    "x_stats_outliers",
    category="agg",
    oracle=(
        "WITH m AS ("
        "  SELECT event_type, COUNT(*) AS n, "
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx, "
        "  CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sxx "
        "  FROM events GROUP BY 1), "
        "z AS ("
        "  SELECT e.event_id, e.event_type, e.value, "
        "         (e.value - m.sx / m.n) "
        "           / sqrt(m.sxx / m.n - (m.sx / m.n) * (m.sx / m.n)) AS zr "
        "  FROM events e JOIN m USING (event_type)) "
        "SELECT event_id, event_type, value, round(zr, 4) AS z_score "
        "FROM z WHERE abs(zr) > 2.0"
    ),
)
def stats_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging, ORDER-INDEPENDENTLY: the
    population moments come from exact decimal sums (2-dp inputs, so
    decimal(18,2) / products at scale 4 are exact), so mean and sigma
    are bit-identical on both engines at any partition count, and the
    |z| > 2 cut falls on identical doubles — no boundary flakiness.

    Scale shape: one moment aggregate per group (map-side partials,
    groups = event types, tiny), broadcast back onto the fact stream —
    the same two-pass shape as mean-centering features at 100 TB; the
    second pass is a broadcast hash join plus a codegen filter, no
    shuffle of the fact table."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum((v * v).cast("decimal(18,4)")).cast("double").alias("sxx"),
    )
    mu = F.col("sx") / F.col("n")
    z = (v - mu) / F.sqrt(F.col("sxx") / F.col("n") - mu * mu)
    return (
        ev.join(F.broadcast(m), "event_type")
        .filter(F.abs(z) > 2.0)
        .select("event_id", "event_type", "value", F.round(z, 4).alias("z_score"))
    )


@query(
    "x_join_fuzzy",
    category="join",
    oracle=(
        "WITH names AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts "
        "               FROM part GROUP BY 1), "
        "tok AS (SELECT p_name, unnest(string_split(p_name, ' ')) AS t FROM names), "
        "pairs AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b "
        "          FROM tok a JOIN tok b ON a.t = b.t AND a.p_name < b.p_name), "
        "close AS (SELECT name_a, name_b, "
        "          CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist "
        "          FROM pairs WHERE levenshtein(name_a, name_b) <= 3) "
        "SELECT c.name_a, c.name_b, c.dist, x.n_parts AS n_a, y.n_parts AS n_b "
        "FROM close c JOIN names x ON c.name_a = x.p_name "
        "JOIN names y ON c.name_b = y.p_name"
    ),
)
def join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (entity-resolution) join: near-duplicate part names
    within Levenshtein distance 3, candidate pairs generated by TOKEN
    BLOCKING — only names sharing at least one whitespace token are ever
    compared, so the edit-distance work is an equi-join on token, never
    an all-pairs pass.

    Scale shape: the quadratic risk is confined to the DISTINCT-name
    level (names first collapse to one row each with their part count),
    and within that to per-token blocks — the standard blocking shape
    for record linkage at 100 TB, where raw rows are billions but
    distinct join keys are orders of magnitude fewer.  The count-back
    joins carry no broadcast hint — the name-level aggregate grows
    with |part|, so AQE broadcasts it only while it actually fits."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").alias("n_parts"))
    )
    tok = names.select("p_name", F.explode(F.split("p_name", " ")).alias("t"))
    pairs = (
        tok.select(F.col("p_name").alias("name_a"), "t")
        .join(tok.select(F.col("p_name").alias("name_b"), "t"), "t")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    close = pairs.withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("long")
    ).filter(F.col("dist") <= 3)
    na = names.select(F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_a"))
    nb = names.select(F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_b"))
    return (
        close.join(na, "name_a")
        .join(nb, "name_b")
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


@query(
    "x_time_ohlc",
    category="analytics",
    oracle=(
        "WITH ev AS ("
        "  SELECT event_type, event_id, value, "
        "    CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) "
        "      // 21600 * 21600 AS ws, "
        "    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us "
        "  FROM events), "
        "r AS ("
        "  SELECT *, "
        "  ROW_NUMBER() OVER (PARTITION BY event_type, ws ORDER BY ts_us, event_id) AS rn_a, "
        "  ROW_NUMBER() OVER (PARTITION BY event_type, ws ORDER BY ts_us DESC, event_id DESC) AS rn_z "
        "  FROM ev) "
        "SELECT event_type, ws, "
        "  CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open, "
        "  MAX(value) AS high, MIN(value) AS low, "
        "  CAST(MAX(CASE WHEN rn_z = 1 THEN value END) AS DOUBLE) AS close, "
        "  CAST(COUNT(*) AS BIGINT) AS n_events "
        "FROM r GROUP BY 1, 2"
    ),
)
def time_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate downsampling: 6-hour OHLC (open / high /
    low / close) bars per event type — the hypertable-rollup shape that
    turns a raw tick stream into a chartable series.

    open/close are min_by/max_by over a (ts, event_id) struct — total,
    tie-broken orderings, so the bars are deterministic even with
    duplicate timestamps (the oracle spells the same selection as
    tie-broken ROW_NUMBERs).  high/low/count are plain min/max/count —
    no float summation anywhere, so no decimal sandwich is needed.

    Scale shape: ONE hash aggregate on (event_type, bucket) with
    map-side partials; min_by/max_by carry a single (ord, value)
    accumulator per group, so state per group is O(1) regardless of
    bucket population — the plan a 100 TB tick store wants."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        (
            F.floor(
                F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp")))
                / 21600
            )
            * 21600
        ).alias("ws"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    ord_asc = F.struct("ts_us", "event_id")
    return ev.groupBy("event_type", "ws").agg(
        F.min_by("value", ord_asc).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_asc).alias("close"),
        F.count("*").alias("n_events"),
    )


@query(
    "x_win_distinct_rolling",
    category="analytics",
    oracle=(
        "WITH uh AS (SELECT DISTINCT user_id, "
        "  CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hr "
        "  FROM events), "
        "b AS (SELECT MAX(hr) AS hi FROM uh), "
        "ex AS (SELECT user_id, unnest(generate_series(hr, hr + 82800, 3600)) AS t FROM uh) "
        "SELECT t AS ws, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_24h "
        "FROM ex WHERE t <= (SELECT hi FROM b) GROUP BY 1"
    ),
)
def win_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-hour distinct users, evaluated each hour — the
    sliding DISTINCT that plain window frames cannot express (COUNT
    (DISTINCT) over a RANGE frame is unsupported in both engines).

    Implemented by CONTRIBUTION EXPANSION instead of an inequality
    join: each distinct (user, hour) pair is exploded to the 24 bar
    hours it contributes to, then one count-distinct per bar.  That
    turns an O(rows x window) range join into a constant 24x expansion
    of the ALREADY-DEDUPLICATED pair set, all equi-shuffles — at 100 TB
    the expansion happens after the dedup collapse, and the per-bar
    distinct is a two-level hash aggregate.  The end-of-series cutoff
    is a 1-row scalar broadcast (whitelisted BNLJ, content-bounded)."""
    ev = load_table(spark, sf_dir, "events")
    uh = ev.select(
        "user_id",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("hr"),
    ).distinct()
    hi = uh.agg(F.max("hr").alias("hi"))
    ex = uh.select(
        "user_id",
        F.explode(F.sequence(F.col("hr"), F.col("hr") + 82800, F.lit(3600))).alias("t"),
    )
    return (
        ex.crossJoin(F.broadcast(hi))
        .filter(F.col("t") <= F.col("hi"))
        .groupBy(F.col("t").alias("ws"))
        .agg(F.count_distinct("user_id").alias("n_users_24h"))
    )


@query(
    "x_basket_pairs",
    category="analytics",
    oracle=(
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b "
        "          FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey "
        "          AND a.l_partkey < b.l_partkey) "
        "SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support "
        "FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 3"
    ),
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: pairs of parts appearing in the
    same order, with their support count, min-support 3 — the candidate
    -pair half of Apriori, and the shape behind "customers also
    bought".

    Scale shape (r12 rewrite, guide §2.4: remove shuffles outright):
    collapse each order to its sorted distinct item SET with ONE
    hash aggregate keyed on the order (map-side partials), emit the
    set's ordered pairs IN-ROW with a higher-order transform, then the
    pair-support hash aggregate — two exchanges total, no join.  The
    former distinct + self-join shape paid the distinct's two-column
    exchange AND re-keyed both join sides on the order key.  The
    quadratic blowup stays bounded by basket size (max 13 items/order
    here, so <=78 pairs per order; per-order arrays are basket-sized,
    never corpus-sized); min-support prunes the long tail before it
    reaches the driver.  Skewed mega-baskets at 100 TB would cap or
    salt the basket size — the standard Apriori mitigation.  Output
    proven identical to the join form (sorted-set pairs == a < b join
    pairs, same per-pair order counts; DuckDB oracle green)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return spark.sql(
        # r13: collect_list + one in-row array_distinct(array_sort(...))
        # replaces collect_set, and the pair expansion is two stacked
        # generators instead of the interpreted nested
        # transform/flatten/struct chain — same sorted-set pairs (the
        # graphs._undirected_edges measurement: 1.24 -> 0.97 s for the
        # shared stage shape), digest-identical output.
        "WITH sets AS (SELECT array_distinct(array_sort(collect_list(l_partkey))) AS ps "
        "  FROM {li} GROUP BY l_orderkey) "
        "SELECT part_a, part_b, COUNT(*) AS support FROM ("
        "    SELECT ps, i, part_a FROM sets LATERAL VIEW posexplode(ps) t1 AS i, part_a) "
        "  LATERAL VIEW explode(slice(ps, i + 2, size(ps))) t2 AS part_b "
        "GROUP BY 1, 2 HAVING COUNT(*) >= 3",
        li=li,
    )


_EMA_DEPTH = 8  # truncated EMA horizon; newest weight 2^7, halving back


def _ema_sql() -> str:
    num = " + ".join(
        f"COALESCE(lag(c, {k}) OVER w, 0) * {2 ** (_EMA_DEPTH - 1 - k)}"
        for k in range(_EMA_DEPTH)
    )
    den = " + ".join(
        f"CASE WHEN lag(c, {k}) OVER w IS NOT NULL THEN {2 ** (_EMA_DEPTH - 1 - k)} ELSE 0 END"
        for k in range(_EMA_DEPTH)
    )
    return (
        "WITH e AS (SELECT event_id, user_id, ts, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events), "
        f"t AS (SELECT event_id, user_id, ({num}) AS num, ({den}) AS den FROM e "
        "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
        "SELECT event_id, user_id, "
        "  CAST(num AS DOUBLE) / CAST(den * 100 AS DOUBLE) AS ema FROM t"
    )


@query("x_win_ema", category="window", oracle=_ema_sql())
def win_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value
    (alpha = 1/2), truncated at 8 observations — the smoothed-metric
    window a monitoring pipeline keeps per entity.

    A true EMA is a recurrence, which neither SQL engine expresses
    declaratively; the dyadic truncation makes it a plain window: the
    newest of the m <= 8 visible values weighs 2^7, each older one
    halves, and the divisor is the sum of the PRESENT weights, so short
    prefixes are correctly normalized (no cold-start bias).  With
    alpha = 1/2 the dropped tail mass is < 1/128 of the weight.

    Exactness: 2-dp values become integer CENTS (exact decimal
    rescale), the eight weighted terms and the divisor are pure bigint
    arithmetic in ONE window pass (8 lag reads of the same frame, no
    self-join), and the single final division has exactly-converted
    operands — bit-identical doubles on both engines at any partition
    count.  Scale shape: one hash-partition-by-user sort, linear state,
    the same budget as win_moving_avg."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for k in range(_EMA_DEPTH):
        lagged = F.col("c") if k == 0 else F.lag("c", k).over(w)
        wt = 2 ** (_EMA_DEPTH - 1 - k)
        term = F.coalesce(lagged, F.lit(0)) * wt
        pres = F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = pres if den is None else den + pres
    return e.select(
        "event_id",
        "user_id",
        (num.cast("double") / (den * 100).cast("double")).alias("ema"),
    )


@query(
    "x_stats_spc",
    category="analytics",
    oracle=(
        "WITH h AS (SELECT event_type, "
        "  CAST(floor(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hr, "
        "  CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2), "
        "m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(SUM(cnt) AS BIGINT) AS s, "
        "  CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS ss "
        "  FROM h GROUP BY 1), "
        "lim AS (SELECT event_type, "
        "  CAST(s AS DOUBLE) / n + 3 * sqrt((CAST(ss AS DOUBLE) "
        "    - CAST(s AS DOUBLE) * s / n) / n) AS ucl FROM m) "
        "SELECT h.event_type, h.hr, h.cnt, l.ucl "
        "FROM h JOIN lim l ON h.event_type = l.event_type "
        "WHERE h.cnt > l.ucl"
    ),
)
def stats_spc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-process-control alerting: flag the hours whose event
    count breaches the per-type 3-sigma upper control limit — the
    'traffic spiked at 14:00' detector a pipeline health monitor runs
    over its ingest counters.

    Exactness: hourly counts are bigints and the moment sums (S, SS)
    are EXACT integers — SS routed through DECIMAL(38,0)/HUGEINT since
    cnt^2 sums pass int64 at ~3e9 events/hour; ucl = S/n + 3*sqrt((SS
    - S^2/n)/n) is a FIXED tree of correctly-rounded IEEE ops over
    exactly-converted operands (incl. the IEEE-correct sqrt) —
    bit-identical limits, bit-identical breach sets, both engines.

    Scale shape: ONE fact-table hash aggregate to |types| x |hours|
    rows; moments and limits are |types|-row aggregates broadcast back
    onto the hourly grid.  The streaming twin of this discipline is
    x_quality_monitor's windowed counters; SPC adds the
    self-calibrating threshold."""
    h = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias("hr"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    m = h.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s"),
        # cnt^2 summed over hours reaches ~(rows/hour)^2 * hours —
        # DECIMAL(38,0)/HUGEINT routed like every squared-count moment
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * cnt")).alias("ss"),
    )
    ucl = F.col("s").cast("double") / F.col("n") + 3 * F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / F.col("n")
    )
    lim = m.select("event_type", ucl.alias("ucl"))
    return (
        h.join(F.broadcast(lim), "event_type")
        .filter(F.col("cnt") > F.col("ucl"))
        .select("event_type", "hr", "cnt", "ucl")
    )


@query(
    "x_win_streak",
    category="analytics",
    oracle=(
        "WITH d AS (SELECT DISTINCT user_id, "
        "  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day FROM events), "
        "r AS (SELECT user_id, day, day - row_number() OVER ("
        "  PARTITION BY user_id ORDER BY day) AS island FROM d), "
        "s AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len, "
        "  MIN(day) AS start_day FROM r GROUP BY 1, 2) "
        "SELECT user_id, len AS longest_streak, start_day FROM ("
        "  SELECT user_id, len, start_day, row_number() OVER ("
        "    PARTITION BY user_id ORDER BY len DESC, start_day) AS rn FROM s) "
        "WHERE rn = 1"
    ),
)
def win_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the
    gaps-and-islands pattern (day minus rank is constant within a
    consecutive run) that powers engagement-streak and uptime-run
    analytics.  All bigint arithmetic: distinct activity days, island
    key = day - row_number, per-island counts, earliest-start
    tie-break on equal streak lengths.

    Scale shape: one distinct projection to (user, day) — bounded by
    users x days, not events — then one per-user sort feeding both the
    island window and the final argmax; no self-join, no driver
    iteration, identical plans at any partition count."""
    d = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("day")
    r = d.select(
        "user_id", "day", (F.col("day") - F.row_number().over(wu)).alias("island")
    )
    s = r.groupBy("user_id", "island").agg(
        F.count("*").alias("len"), F.min("day").alias("start_day")
    )
    wbest = Window.partitionBy("user_id").orderBy(F.desc("len"), F.asc("start_day"))
    return (
        s.select("user_id", "len", "start_day", F.row_number().over(wbest).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("len").alias("longest_streak"), "start_day")
    )


@query(
    "x_win_drawdown",
    category="analytics",
    oracle=(
        "WITH e AS (SELECT user_id, ts, event_id, "
        "  CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) "
        "       ELSE -CAST(value AS DECIMAL(18,2)) END AS v FROM events), "
        "c AS (SELECT user_id, ts, event_id, SUM(v) OVER w AS cum FROM e "
        "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        "p AS (SELECT user_id, cum, MAX(cum) OVER w AS peak FROM c "
        "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
        "SELECT user_id, CAST(MAX(peak - cum) AS DOUBLE) AS max_drawdown, "
        "  CAST(MAX(peak) AS DOUBLE) AS peak_value "
        "FROM p GROUP BY 1"
    ),
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's NET cumulative flow (purchases
    credit, every other event debits its value) — the largest
    peak-to-trough drop, the risk metric every monitored cumulative
    KPI (net revenue, token budget, quota burn-down) inherits from
    finance.  Two CHAINED window passes over one sort: running sum,
    then running max of that sum; drawdown = peak - cum, maximized per
    user.  A single-signed series would make this degenerate (monotone
    cumsum, drawdown identically 0) — the net-flow spec is what makes
    the metric informative.

    Exactness: the running sums are DECIMAL(18,2) — exact at every
    prefix, so peak and trough are exact and the final double casts
    are single conversions; a float running sum would drift from the
    oracle after ~1e5 rows.  Scale shape: ONE shuffle (partition by
    user), both windows share the same sort order so Spark plans a
    single Exchange+Sort, then a per-user aggregate."""
    v = F.when(
        F.col("event_type") == "purchase", F.col("value").cast("decimal(18,2)")
    ).otherwise(-F.col("value").cast("decimal(18,2)"))
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", v.alias("v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = e.select("user_id", "ts", "event_id", F.sum("v").over(w).alias("cum"))
    p = c.select("user_id", "cum", F.max("cum").over(w).alias("peak"))
    return p.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("cum")).cast("double").alias("max_drawdown"),
        F.max("peak").cast("double").alias("peak_value"),
    )


def _skew_col_sql(col: str) -> str:
    """One key column's skew profile as a self-contained SELECT (CTE-free
    so two columns UNION ALL cleanly)."""
    return (
        "SELECT * FROM ("
        f"  WITH c AS (SELECT {col} AS k, CAST(COUNT(*) AS BIGINT) AS cnt "
        f"             FROM lineitem GROUP BY 1), "
        "    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, "
        "          CAST(SUM(cnt) AS BIGINT) AS n_rows, "
        "          CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c), "
        "    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS top10_rows FROM ("
        "      SELECT cnt FROM c ORDER BY cnt DESC, k LIMIT 10)) "
        f"  SELECT '{col}' AS col, n_rows, n_keys, max_cnt, "
        "    (max_cnt * n_keys * 100) // n_rows AS skew_x100, "
        "    1000000 * top10_rows // n_rows AS top10_ppm "
        "  FROM s CROSS JOIN t)"
    )


@query(
    "x_profile_skew",
    category="analytics",
    oracle=(_skew_col_sql("l_partkey") + " UNION ALL " + _skew_col_sql("l_suppkey")),
)
def profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the audit a 100 TB pipeline runs
    BEFORE choosing a join strategy: per candidate key column, total
    rows, distinct keys, the hottest key's row count, the max/mean
    ratio (x100 — 100 means perfectly uniform; AQE skew-join or salting
    territory starts around 500+), and the share of rows owned by the
    10 hottest keys (ppm).  Hot-key share is exactly what decides
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (x_join_salted ships the remedy; this ships the detector).

    Scale shape: ONE fact scan exploded to (col, key) pairs — both key
    columns profiled in a single pass, the multi-column ANALYZE trick —
    then a (col, key) hash aggregate (map-side partials; output bounded
    by total distinct keys), a |cols|-row stats aggregate, and a
    rank-10 window on the per-key counts.  All integer arithmetic."""
    kv = load_table(spark, sf_dir, "lineitem").select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("l_partkey").alias("col"),
                    F.col("l_partkey").cast("long").alias("k"),
                ),
                F.struct(
                    F.lit("l_suppkey").alias("col"),
                    F.col("l_suppkey").cast("long").alias("k"),
                ),
            )
        ).alias("e")
    ).select("e.col", "e.k")
    cnts = kv.groupBy("col", "k").agg(F.count("*").alias("cnt"))
    stats = cnts.groupBy("col").agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    w = Window.partitionBy("col").orderBy(F.desc("cnt"), F.asc("k"))
    top10 = (
        cnts.select("col", "cnt", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .groupBy("col")
        .agg(F.sum("cnt").alias("top10_rows"))
    )
    return stats.join(F.broadcast(top10), "col").select(
        "col",
        "n_rows",
        "n_keys",
        "max_cnt",
        F.expr("(max_cnt * n_keys * 100) DIV n_rows").alias("skew_x100"),
        F.expr("1000000 * top10_rows DIV n_rows").alias("top10_ppm"),
    )


_ROLLMED_N = 10  # trailing window width (rows)


@query(
    "x_win_rolling_median",
    category="window",
    oracle=(
        "SELECT event_id, event_type, value, l[(len(l) + 1) // 2] AS med FROM ("
        "  SELECT event_id, event_type, value, "
        "  list_sort(list(value) OVER ("
        "    PARTITION BY event_type ORDER BY ts, event_id "
        f"    ROWS BETWEEN {_ROLLMED_N - 1} PRECEDING AND CURRENT ROW)) AS l "
        "  FROM events)"
    ),
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of the trailing 10 event values per type —
    the robust smoother that survives the value spikes a rolling MEAN
    (win_moving_avg) absorbs; the streaming sibling of x_stats_mad's
    per-type median.

    The median is an ELEMENT PICK, not arithmetic: sort the trailing
    frame's list and take element (n+1)//2 (lower middle, 1-based) —
    no interpolation, so the result is one of the input doubles,
    bit-identical in both engines and immune to float-summation order
    (engine-native median() interpolates even halves and would differ).

    Scale shape: one shuffle on the partition key, one sort, then an
    O(w)-per-row frame aggregate (w=10 constant) — the same single
    Exchange+Sort budget as every win_* operator; frame membership is
    governed by the tie-broken (ts, event_id) total order.  At 100 TB
    wide frames would swap list-sort for a streaming two-heap window
    UDAF, same plan skeleton."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ROLLMED_N - 1), Window.currentRow)
    )
    lst = F.sort_array(F.collect_list(F.col("value")).over(w))
    med = F.element_at(lst, F.floor((F.size(lst) + 1) / 2).cast("int"))
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value", "ts")
        .select("event_id", "event_type", "value", med.alias("med"))
    )


_KANON_K = 10  # anonymity threshold (k=10 keeps the violating branch
# populated at every sf: k=5 measures zero violations at sf0.01)


@query(
    "x_privacy_kanon",
    category="analytics",
    oracle=(
        "WITH eq AS (SELECT c_nationkey, c_mktsegment, "
        "  CAST(COUNT(*) AS BIGINT) AS class_size FROM customer GROUP BY 1, 2) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_classes, "
        "  CAST(SUM(class_size) AS BIGINT) AS n_rows, "
        f"  CAST(COUNT(*) FILTER (WHERE class_size < {_KANON_K}) AS BIGINT) "
        "    AS n_violating_classes, "
        f"  CAST(COALESCE(SUM(class_size) FILTER (WHERE class_size < {_KANON_K}), 0) "
        "    AS BIGINT) AS n_violating_rows, "
        "  CAST(MIN(class_size) AS BIGINT) AS min_class_size, "
        f"  CAST(1000000 * COALESCE(SUM(class_size) FILTER (WHERE class_size < {_KANON_K}), 0) "
        "    // SUM(class_size) AS BIGINT) AS violating_ppm "
        "FROM eq"
    ),
)
def privacy_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=10) over the quasi-identifier pair
    (nation, market segment) — the release gate a dataset passes before
    rows with rare attribute combinations can leak identity: every
    equivalence class smaller than k is a re-identification risk, and
    the audit reports class counts, violating rows, the smallest class,
    and the violating-row share (ppm).  On a training corpus the same
    shape audits metadata columns before export; the remediation
    (suppress or generalize violating classes) is a join against the
    violating-class list this aggregate already produced.

    Scale shape: ONE hash aggregate to the equivalence-class grid
    (bounded by the quasi-identifier domain, not row count) and a
    second 1-row aggregate over it.  All integer arithmetic."""
    eq = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("class_size"))
    )
    viol = F.when(F.col("class_size") < _KANON_K, F.col("class_size"))
    return eq.agg(
        F.count("*").alias("n_classes"),
        F.sum("class_size").alias("n_rows"),
        F.count(viol).alias("n_violating_classes"),
        F.coalesce(F.sum(viol), F.lit(0)).alias("n_violating_rows"),
        F.min("class_size").alias("min_class_size"),
    ).select(
        "n_classes",
        "n_rows",
        "n_violating_classes",
        "n_violating_rows",
        "min_class_size",
        F.expr("1000000 * n_violating_rows DIV n_rows").alias("violating_ppm"),
    )


@query(
    "x_agg_histogram2d",
    category="analytics",
    oracle=(
        "WITH e AS (SELECT event_type, "
        "  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod, "
        "  CAST(LEAST(floor(value / 50), 9) AS BIGINT) AS vbin FROM events) "
        "SELECT event_type, hod, vbin, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM e GROUP BY 1, 2, 3"
    ),
)
def agg_histogram2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint 2-D histogram — hour-of-day x value bucket per event type
    (the usage-heatmap / joint-distribution readout behind every ops
    dashboard and the binned input to mutual-information checks).
    Value buckets are fixed-width 50-unit bins capped at bucket 9 (the
    overflow bucket), hour-of-day from the UTC-pinned calendar.

    One fact scan -> one hash aggregate; output bounded by
    |types| x 24 x 10, never by row count.  All integer."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9).cast("long")).alias(
            "vbin"
        ),
    )
    return e.groupBy("event_type", "hod", "vbin").agg(F.count("*").alias("cnt"))


# -- concentration curve (Pareto / 80-20) -------------------------------

_PARETO_TARGET_PPM = 800_000  # "how many users carry 80% of the value"
_PARETO_TOPK = 10


@query(
    "x_win_pareto",
    category="analytics",
    oracle=(
        "WITH u AS (SELECT event_type, user_id, "
        "  CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents "
        "  FROM events GROUP BY 1, 2), "
        "r AS (SELECT event_type, user_id, cents, "
        "  row_number() OVER w AS rnk, "
        "  CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY cents DESC, "
        "    user_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "    AS cum_cents "
        "  FROM u WINDOW w AS (PARTITION BY event_type ORDER BY cents DESC, user_id)), "
        "t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users, "
        "  CAST(SUM(cents) AS BIGINT) AS total_cents FROM u GROUP BY 1) "
        "SELECT r.event_type, t.n_users, t.total_cents, "
        f"  CAST(CAST(1000000 AS HUGEINT) * SUM(CASE WHEN rnk <= {_PARETO_TOPK} THEN cents ELSE 0 END) "
        "    // t.total_cents AS BIGINT) AS top10_share_ppm, "
        "  CAST(MIN(CASE WHEN CAST(1000000 AS HUGEINT) * cum_cents >= "
        f"    CAST({_PARETO_TARGET_PPM} AS HUGEINT) * t.total_cents THEN rnk END) AS BIGINT) "
        "    AS users_to_80pct "
        "FROM r JOIN t ON r.event_type = t.event_type "
        "GROUP BY r.event_type, t.n_users, t.total_cents"
    ),
)
def win_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration curve per event type — the Pareto/80-20 readout
    beside x_stats_gini's single coefficient: the value share of the
    top-10 users (ppm) and how many users it takes to cover 80% of the
    total.  The revenue-concentration audit that doubles as a join-skew
    early warning (the same heavy keys melt reducers).

    Exactness: per-user totals are exact DECIMAL(18,2) sums converted
    once to integer cents; shares and the 80% crossing are integer
    cross-products (1e6 * cum >= 8e5 * total — no ratio ever
    materialized) routed through DECIMAL(38,0)/HUGEINT so warehouse-
    scale cent totals cannot overflow int64, and the (cents DESC,
    user_id) order is total, so
    ranks are engine-independent.

    Scale shape: one fact-scan hash aggregate to (type, user), ONE
    sort per type for both window passes, and a |types|-row totals
    broadcast join — the x_stats_gini budget exactly."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("cents"), F.asc("user_id"))
    r = u.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rnk"),
        F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_cents"),
    )
    t = u.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    return (
        r.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "n_users", "total_cents")
        .agg(
            F.expr(
                f"CAST(CAST(1000000 AS DECIMAL(38,0)) * SUM(CASE WHEN rnk <= {_PARETO_TOPK} "
                "THEN cents ELSE 0 END) DIV total_cents AS BIGINT)"
            ).alias("top10_share_ppm"),
            F.expr(
                "CAST(MIN(CASE WHEN CAST(1000000 AS DECIMAL(38,0)) * cum_cents >= "
                f"CAST({_PARETO_TARGET_PPM} AS DECIMAL(38,0)) * total_cents THEN rnk END) AS BIGINT)"
            ).alias("users_to_80pct"),
        )
    )


# -- association rules: confidence + lift --------------------------------


@query(
    "x_basket_lift",
    category="analytics",
    oracle=(
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets "
        "  FROM items), "
        "isup AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM items "
        "  GROUP BY 1), "
        "pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, "
        "  CAST(COUNT(*) AS BIGINT) AS s_ab "
        "  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey "
        "  AND a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING COUNT(*) >= 3) "
        "SELECT part_a, part_b, s_ab, sa.s AS s_a, sb.s AS s_b, "
        "1000000 * s_ab // sa.s AS conf_a2b_ppm, "
        "1000000 * s_ab // sb.s AS conf_b2a_ppm, "
        "CAST(CAST(1000000 AS HUGEINT) * s_ab * n.n_baskets "
        "  // (CAST(sa.s AS HUGEINT) * sb.s) AS BIGINT) AS lift_micro "
        "FROM pairs JOIN isup sa ON part_a = sa.l_partkey "
        "JOIN isup sb ON part_b = sb.l_partkey CROSS JOIN n"
    ),
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over x_basket_pairs' co-occurrence candidates:
    per surviving pair, both directed confidences (ppm) and the
    symmetric LIFT — support(A,B)*N / (support(A)*support(B)), the
    'bought together more than chance' score behind every
    recommendation shelf (lift > 1e6 micro = positively associated).
    This is Apriori's rule-generation half; x_basket_pairs is its
    candidate half.

    Exactness: integer ppm/micro floor divisions; the lift numerator
    s_ab * N * 1e6 can pass int64 at warehouse scale, so it routes
    through DECIMAL(38,0)/HUGEINT (the x_stats_cramers_v discipline).

    Scale shape (r12 rewrite — the x_basket_pairs in-row pair
    derivation, one order-keyed set aggregate feeding pairs, item
    supports and the basket total): the pair aggregate is basket-size-
    bounded; item supports are an item-bounded dictionary joined twice
    (size-adaptive — AQE broadcasts when small, shuffles when |parts|
    outgrows the driver); the basket total arrives as a 1-row scalar
    subquery (former broadcast cross-join — same value, one fewer BNLJ
    node).  Integer expressions unchanged; DuckDB oracle green."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return spark.sql(
        # r13: same collect_list + two-generator pair expansion as
        # x_basket_pairs / graphs._undirected_edges (digest-identical)
        "WITH sets AS (SELECT array_distinct(array_sort(collect_list(l_partkey))) AS ps "
        "  FROM {li} GROUP BY l_orderkey), "
        "pairs AS (SELECT part_a, part_b, "
        "    CAST(COUNT(*) AS BIGINT) AS s_ab FROM ("
        "    SELECT ps, i, part_a FROM sets LATERAL VIEW posexplode(ps) t1 AS i, part_a) "
        "  LATERAL VIEW explode(slice(ps, i + 2, size(ps))) t2 AS part_b "
        "  GROUP BY 1, 2 HAVING COUNT(*) >= 3), "
        "isup AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS s FROM sets "
        "  LATERAL VIEW explode(ps) t AS part GROUP BY part), "
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets FROM sets) "
        "SELECT part_a, part_b, s_ab, sa.s AS s_a, sb.s AS s_b, "
        "  1000000 * s_ab DIV sa.s AS conf_a2b_ppm, "
        "  1000000 * s_ab DIV sb.s AS conf_b2a_ppm, "
        # the divisor is a count-by-count product too: two ~3e9-support
        # items would overflow a bare s_a * s_b
        "  CAST(CAST(1000000 AS DECIMAL(38,0)) * s_ab "
        "    * (SELECT n_baskets FROM n) "
        "    DIV (CAST(sa.s AS DECIMAL(38,0)) * sb.s) AS BIGINT) "
        "    AS lift_micro "
        "FROM pairs JOIN isup sa ON pairs.part_a = sa.part "
        "JOIN isup sb ON pairs.part_b = sb.part",
        li=li,
    )


# -- skyline (Pareto-optimal set) ----------------------------------------


@query(
    "x_agg_skyline",
    category="analytics",
    oracle=(
        "WITH p AS (SELECT p_partkey, "
        "  CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) "
        "    AS price_cents, "
        "  CAST(p_size AS BIGINT) AS p_size FROM part) "
        "SELECT p.p_partkey, p.price_cents, p.p_size FROM p "
        "WHERE NOT EXISTS (SELECT 1 FROM p q "
        "  WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size "
        "  AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))"
    ),
)
def agg_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query (Borzsonyi et al., ICDE'01) over
    parts: every part no other part dominates on (cheaper-or-equal
    price, larger-or-equal size, one strict) — the multi-criteria
    shortlist behind 'best tradeoff' product and candidate-selection
    screens.  The oracle states the quadratic NOT-EXISTS spec; the
    Spark plan is the O(n log n) sort-scan equivalent, the point of
    the operator at scale.

    Plan: collapse to price levels (per-price max size — ONE hash
    aggregate), prefix-max the level sizes in price order, keep levels
    strictly above every cheaper level's best, then join the survivors
    back to rows (equal (price, size) duplicates all survive, matching
    the spec's no-strict-part tie rule).  The ordered prefix pass runs
    over |distinct prices| rows, not row count; were the level table
    itself huge, the prefix max decomposes into per-range maxima plus
    broadcast offsets like every parallel prefix scan (the x_time_cusum
    machinery).  The survivor join-back carries no broadcast hint: a
    skyline is data-dependent (correlated price/size data makes it
    sf-linear), so AQE broadcasts it only while it actually fits.  All
    arithmetic is exact bigint cents."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    lvl = p.groupBy("price_cents").agg(F.max("p_size").alias("best"))
    run = F.max("best").over(
        Window.orderBy("price_cents").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    kept = (
        lvl.withColumn("run", run)
        .filter(F.col("run").isNull() | (F.col("best") > F.col("run")))
        .select("price_cents", F.col("best").alias("p_size"))
    )
    return p.join(kept, ["price_cents", "p_size"]).select(
        "p_partkey", "price_cents", "p_size"
    )


# -- randomized-response frequency estimation ----------------------------

_RR_H2 = 2246822519  # second hash prime (public xxhash constant)
_RR_KEEP_PPM = 750_000  # report truth with prob 3/4; lie uniform over k


@query(
    "x_privacy_rr_freq",
    category="analytics",
    oracle=(
        "WITH sl AS (SELECT list(s ORDER BY s) AS segs, "
        "  CAST(COUNT(*) AS BIGINT) AS k FROM "
        "  (SELECT DISTINCT c_mktsegment AS s FROM customer)), "
        f"rep AS (SELECT CASE WHEN (c_custkey * {KNUTH}) % 1000000 "
        f"    < {_RR_KEEP_PPM} THEN c_mktsegment "
        f"    ELSE segs[CAST((c_custkey * {_RR_H2}) % k AS INT) + 1] "
        "  END AS seg FROM customer CROSS JOIN sl), "
        "obs AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS obs_cnt FROM rep "
        "  GROUP BY 1), "
        "tru AS (SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) "
        "  AS true_cnt FROM customer GROUP BY 1), "
        "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer) "
        "SELECT t.seg, t.true_cnt, COALESCE(o.obs_cnt, 0) AS obs_cnt, tot.n, "
        "4 * sl.k * COALESCE(o.obs_cnt, 0) - tot.n AS est_numer, "
        "CAST(4 * sl.k * COALESCE(o.obs_cnt, 0) - tot.n AS DOUBLE) "
        "  / CAST(3 * sl.k AS DOUBLE) AS est_true "
        "FROM tru t LEFT JOIN obs o ON t.seg = o.seg CROSS JOIN tot "
        "CROSS JOIN sl"
    ),
)
def privacy_rr_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized randomized response (Warner 1965) frequency
    estimation over market segments — the local-differential-privacy
    primitive behind RAPPOR-style telemetry: each row reports its true
    category with probability 3/4, otherwise a uniform draw from the
    data-derived k-category domain, and the aggregator inverts the
    known noise channel to recover unbiased counts:
    t_hat = (obs - n*p/k) / (1-p), which for p=1/4 is the exact
    rational (4k*obs - n) / 3k.
    Ground-truth counts ride along so the estimator error is visible.

    Determinism: both the report/lie coin and the lie's category are
    portable integer hashes of the row key (no RNG); the estimator
    numerator is an exact bigint and the estimate ONE IEEE division by
    the exactly-representable integer 3k — bitwise identical in both
    engines.

    Scale shape: the k-element domain list is a tiny broadcast; the
    report pass is a pure projection; obs/true/total are three hash
    aggregates with map-side partials, joined at |k| rows."""
    cust = load_table(spark, sf_dir, "customer")
    # k is DATA-DERIVED (the distinct-segment count), never hardcoded:
    # the lie index, the inversion numerator 4k*obs - n, and the
    # denominator 3k all follow the collected domain size, so a corpus
    # with any segment cardinality inverts the correct channel.
    sl = cust.agg(
        F.sort_array(F.collect_set("c_mktsegment")).alias("segs"),
        F.countDistinct("c_mktsegment").cast("long").alias("k"),
    )
    rep = cust.crossJoin(F.broadcast(sl)).select(
        F.when(
            (F.col("c_custkey") * KNUTH) % 1_000_000 < _RR_KEEP_PPM,
            F.col("c_mktsegment"),
        )
        .otherwise(
            F.element_at(
                "segs",
                ((F.col("c_custkey") * _RR_H2) % F.col("k")).cast("int") + 1,
            )
        )
        .alias("seg")
    )
    obs = rep.groupBy("seg").agg(F.count("*").cast("long").alias("obs_cnt"))
    tru = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").cast("long").alias("true_cnt")
    )
    tot = cust.agg(F.count("*").cast("long").alias("n"))
    numer = 4 * F.col("k") * F.col("obs_cnt") - F.col("n")
    return (
        tru.join(F.broadcast(obs), "seg", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(sl.select("k")))
        .select(
            "seg",
            "true_cnt",
            F.coalesce(F.col("obs_cnt"), F.lit(0).cast("long")).alias(
                "obs_cnt"
            ),
            "n",
            "k",
        )
        .select(
            "seg",
            "true_cnt",
            "obs_cnt",
            "n",
            numer.alias("est_numer"),
            (numer.cast("double") / (3 * F.col("k")).cast("double")).alias(
                "est_true"
            ),
        )
    )


# -- geometric-mechanism DP counts ---------------------------------------

# Discrete-Laplace noise, built from EXACT integer bit arithmetic so
# both engines draw the identical value: for a uniform integer u, the
# 2-adic valuation v2(u) (count of trailing zero bits) is geometric —
# P(v2 = m) = 2^-(m+1) — and the DIFFERENCE of two independent
# geometric(1/2) draws is exactly the discrete Laplace law
# P(z) = (1/3) * 2^-|z| (Inusah & Kozubowski 2006): every unit shift
# changes the probability by a factor of EXACTLY 2, i.e. the geometric
# mechanism (Ghosh-Roughgarden-Sundararajan 2009) at epsilon = ln 2
# for a sensitivity-1 count.  (A sign-bit * magnitude construction
# does NOT give this: it puts 1/2 at zero and 2^-(m+2) at +-m, making
# the 0 <-> +-1 ratio 4 = e^(2 ln 2) — twice the epsilon.)
#
# The draws MUST come from a MIXING hash.  A multiplicative Knuth hash
# is useless here: odd * key mod 2^32 PRESERVES the key's 2-adic
# valuation, so two such "independent" draws are always equal and the
# noise cancels to exactly zero (caught in review; the first shipped
# spelling had this bug).  md5 mixes low bits properly (the hash
# contract in functions/determinism.py); each draw parses 12 hex chars
# (48 bits) of md5(salt || key) in both engines.
_DP_V2_CAP = 20  # per-draw cap: P(exceed) = 2^-20, keeps u=0 finite


def _dp_v2_sql(u: str) -> str:
    """SQL for v2(u) (capped), identical text for Spark SQL and DuckDB:
    the 2-adic valuation as a sum of exact divisibility tests."""
    return "(" + " + ".join(
        f"(CASE WHEN {u} % {1 << k} = 0 THEN 1 ELSE 0 END)"
        for k in range(1, _DP_V2_CAP + 1)
    ) + ")"


def _dp_hash_duck(salt: str, key: str) -> str:
    """48-bit integer from md5(salt || key) in DuckDB."""
    return hex_int_duck(f"md5('{salt}' || CAST({key} AS VARCHAR))", 1, 12)


def _dp_hash_spark(salt: str, key: str) -> str:
    """The same 48-bit draw in Spark SQL."""
    return hex_int_sql(f"md5(concat('{salt}', CAST({key} AS STRING)))", 1, 12)


@query(
    "x_privacy_dp_counts",
    category="analytics",
    oracle=(
        "WITH g AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS true_cnt "
        "  FROM customer GROUP BY 1), "
        f"h AS (SELECT c_nationkey, true_cnt, "
        f"  {_dp_hash_duck('dpA-', 'c_nationkey')} AS u1, "
        f"  {_dp_hash_duck('dpB-', 'c_nationkey')} AS u2 FROM g) "
        f"SELECT c_nationkey, true_cnt, "
        f"true_cnt + {_dp_v2_sql('u1')} - {_dp_v2_sql('u2')} AS noisy_cnt FROM h"
    ),
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer counts released through the geometric
    mechanism (the discrete analogue of Laplace noise — Ghosh et al.
    2009): each count gets additive discrete-Laplace noise
    P(z) = (1/3)·2^-|z|, drawn as the DIFFERENCE of two independent
    geometric(1/2) draws — which bounds every unit shift's probability
    ratio by exactly 2, an ε = ln 2 differentially-private release for
    the sensitivity-1 count.  x_privacy_rr_freq is the LOCAL-DP
    input-perturbation primitive; this is its central-DP
    output-perturbation sibling.  True counts ride along (rr_freq's
    precedent) so the noise error is visible; negative noisy counts are
    kept — post-hoc clamping is a consumer choice, not the mechanism's.

    Determinism: the noise stream is a keyed PRG — each geometric draw
    is the 2-adic valuation of 48 md5 bits of the salted group key
    (P(v2=m) = 2^-(m+1), geometric by construction), computed as a sum
    of exact integer divisibility tests, with two salts supplying the
    two draws.  md5 is the load-bearing choice: a multiplicative hash
    PRESERVES the key's 2-adic valuation (odd*k mod 2^32), which made
    the first spelling's two draws always cancel — noise ≡ 0 — with
    the oracle agreeing on the broken result; only a mixing hash makes
    the valuation actually geometric.  Both engines draw the identical
    value (a production release swaps in a secret-keyed PRF; the
    distributional shape and the ε accounting are unchanged).  No
    float log, no RNG, no engine-specific hash.

    Scale shape: ONE hash aggregate with map-side partials; the noise
    is a per-group projection over |groups| rows.  At 100 TB the plan
    is identical — DP cost is O(groups), not O(rows)."""
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("long").alias("true_cnt"))
    )
    # Project each hash ONCE (mirrors the oracle's CTE `h`): inlining
    # the md5 expr into all 20 divisibility tests would evaluate it up
    # to 40x per row and bloat the generated SQL the same factor.
    return (
        g.withColumn("u1", F.expr(_dp_hash_spark("dpA-", "c_nationkey")))
        .withColumn("u2", F.expr(_dp_hash_spark("dpB-", "c_nationkey")))
        .select(
            "c_nationkey",
            "true_cnt",
            F.expr(
                f"true_cnt + {_dp_v2_sql('u1')} - {_dp_v2_sql('u2')}"
            ).alias("noisy_cnt"),
        )
    )


# -- windowed funnel (conversion within a deadline) ----------------------


@query(
    "x_funnel_window",
    category="analytics",
    oracle=(
        "WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
        "           WHERE event_type = 'view' GROUP BY 1), "
        "s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e "
        "      JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1 "
        "      AND epoch_us(e.ts) <= epoch_us(s1.t1) + 86400000000 "
        "      WHERE e.event_type = 'click' GROUP BY 1), "
        "s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e "
        "      JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2 "
        "      AND epoch_us(e.ts) <= epoch_us(s2.t2) + 86400000000 "
        "      WHERE e.event_type = 'purchase' GROUP BY 1) "
        "SELECT 1 AS stage, 'view' AS event_type, "
        "  CAST(COUNT(*) AS BIGINT) AS n_users FROM s1 "
        "UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2 "
        "UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3"
    ),
)
def funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-constrained funnel: view -> click -> purchase where
    each step must land within 24 HOURS of the previous stage's
    anchor — the 'did they convert promptly' variant product teams
    compare against x_funnel_conversion's unconstrained counts (the
    gap between the two IS the stale-conversion share), with
    x_funnel_latency completing the trio by measuring the delays
    themselves.

    Scale shape: identical to x_funnel_conversion — per-stage hash
    aggregate on user_id + equi-join on user_id with the deadline as
    an extra residual predicate on the SAME join (never a range-only
    join); stages only shrink, AQE broadcasts the later joins.
    Deadline arithmetic is exact integer micros."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    stage = (
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("anchor"))
    )
    stages = [stage]
    for ev_type in _FUNNEL[1:]:
        stage = (
            ev.filter(F.col("event_type") == ev_type)
            .join(stage.select("user_id", "anchor"), "user_id")
            .filter(
                (F.col("ts") > F.col("anchor"))
                & (
                    F.unix_micros("ts")
                    <= F.unix_micros("anchor") + 86_400_000_000
                )
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("anchor"))
        )
        stages.append(stage)
    counted = [
        s.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i + 1).alias("stage"),
            F.lit(t).alias("event_type"),
            "n_users",
        )
        for i, (t, s) in enumerate(zip(_FUNNEL, stages))
    ]
    out = counted[0]
    for c in counted[1:]:
        out = out.unionByName(c)
    return out


# -- pseudonymization with integrity audit -------------------------------

_PSEUDO_M = 2_147_483_647  # Mersenne prime 2^31-1; coprime multiplier hash


@query(
    "x_privacy_pseudonymize",
    category="analytics",
    oracle=(
        "WITH ev AS (SELECT event_type, user_id, "
        f"  (user_id * {KNUTH} + 40503) % {_PSEUDO_M} AS pseudo "
        "  FROM events), "
        "u AS (SELECT event_type, user_id, MIN(pseudo) AS pseudo, "
        "  CAST(COUNT(*) AS BIGINT) AS n_ev FROM ev GROUP BY 1, 2) "
        "SELECT event_type, "
        "CAST(SUM(n_ev) AS BIGINT) AS n_events, "
        "CAST(COUNT(*) AS BIGINT) AS n_users, "
        "CAST(COUNT(DISTINCT pseudo) AS BIGINT) AS n_pseudonyms, "
        "CAST(COUNT(*) - COUNT(DISTINCT pseudo) AS BIGINT) AS collisions "
        "FROM u GROUP BY 1"
    ),
)
def privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization audit: replace user ids with a
    keyed multiplicative hash into a 2^31-1 pseudonym space and report,
    per event type, exactly what a privacy review asks — how many
    events/users were re-keyed and whether any two users COLLIDED onto
    one pseudonym (a collision silently merges two people's histories:
    worse for analytics AND for privacy accounting).  Completes the
    privacy family: x_privacy_kanon audits quasi-identifiers,
    x_privacy_rr_freq randomizes responses, this key re-keys subjects.

    Scale shape: the pseudonym is a pure projection; the audit is one
    user-grain rollup then one |types|-bounded aggregate whose
    COUNT(DISTINCT) runs over user-grain rows, not events.  In
    production the same projection feeds the export sink; the audit
    rides the same scan.  All integer arithmetic."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        ((F.col("user_id") * KNUTH + 40503) % _PSEUDO_M).alias("pseudo"),
    )
    u = ev.groupBy("event_type", "user_id").agg(
        F.min("pseudo").alias("pseudo"),
        F.count("*").cast("long").alias("n_ev"),
    )
    return u.groupBy("event_type").agg(
        F.sum("n_ev").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_users"),
        F.countDistinct("pseudo").cast("long").alias("n_pseudonyms"),
        (F.count("*") - F.countDistinct("pseudo"))
        .cast("long")
        .alias("collisions"),
    )


_LDIV_L = 3  # distinct-sensitive-values floor per equivalence class


@query(
    "x_privacy_ldiversity",
    category="analytics",
    oracle=(
        "WITH eq AS (SELECT c_nationkey, c_mktsegment AS qi2, "
        "  CAST(COUNT(*) AS BIGINT) AS class_size, "
        "  CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' "
        "    WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END) AS BIGINT) "
        "    AS l_distinct, "
        "  CAST(MAX(cnt_top) AS BIGINT) AS top_sensitive FROM ("
        "    SELECT c_nationkey, c_mktsegment, c_acctbal, "
        "    COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, "
        "      CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 "
        "      THEN 'mid' ELSE 'high' END) AS cnt_top FROM customer) "
        "  GROUP BY 1, 2) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_classes, "
        "  CAST(SUM(class_size) AS BIGINT) AS n_rows, "
        f"  CAST(COUNT(*) FILTER (WHERE l_distinct < {_LDIV_L}) AS BIGINT) "
        "    AS n_violating_classes, "
        f"  CAST(COALESCE(SUM(class_size) FILTER (WHERE l_distinct < {_LDIV_L}), 0) "
        "    AS BIGINT) AS n_violating_rows, "
        "  CAST(MIN(l_distinct) AS BIGINT) AS min_l, "
        "  CAST(MAX(1000000 * top_sensitive // class_size) AS BIGINT) "
        "    AS max_top_share_ppm "
        "FROM eq"
    ),
)
def privacy_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the attack
    k-anonymity misses: a class can hold k rows yet expose everyone if
    they all share the SENSITIVE value (homogeneity attack).  Audits
    the same (nation, segment) quasi-identifier grid as
    x_privacy_kanon with account-balance BAND as the sensitive
    attribute: every class must see >= l = 3 distinct bands, and the
    report adds the worst single-band concentration (ppm) — the
    probabilistic-inference risk even l-diverse classes carry.

    Scale shape: one window to count the per-(class, band) mass on the
    row stream, one hash aggregate to the class grid (bounded by the
    quasi-identifier domain), one 1-row rollup.  All integers."""
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", band.alias("band")
    )
    wb = Window.partitionBy("c_nationkey", "c_mktsegment", "band")
    eq = (
        cust.select(
            "c_nationkey", "c_mktsegment", "band", F.count("*").over(wb).alias("cnt_top")
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("class_size"),
            F.countDistinct("band").cast("long").alias("l_distinct"),
            F.max("cnt_top").cast("long").alias("top_sensitive"),
        )
    )
    viol = F.when(F.col("l_distinct") < _LDIV_L, F.col("class_size"))
    return eq.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.count(viol).cast("long").alias("n_violating_classes"),
        F.coalesce(F.sum(viol), F.lit(0)).cast("long").alias("n_violating_rows"),
        F.min("l_distinct").cast("long").alias("min_l"),
        F.max(
            F.expr("1000000 * top_sensitive DIV class_size")
        ).cast("long").alias("max_top_share_ppm"),
    )



_PRI_K = 32  # priority-sample size per group
_PRI_DOMAIN = 1 << 48  # 12 hex chars of md5


@query(
    "x_sample_priority",
    category="analytics",
    oracle=(
        "WITH d AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS w "
        "  FROM documents WHERE n_chars > 0), "
        "h AS (SELECT lang, doc_id, w, "
        f"  {hex_int_duck('md5(CAST(doc_id AS VARCHAR))', 1, 12)} + 1 AS h1 FROM d), "
        f"q AS (SELECT lang, doc_id, w, (w * {_PRI_DOMAIN}) // h1 AS pri FROM h), "
        "rk AS (SELECT lang, doc_id, w, pri, row_number() OVER ("
        "  PARTITION BY lang ORDER BY pri DESC, doc_id) AS rn FROM q), "
        f"tau AS (SELECT lang, COALESCE(MAX(CASE WHEN rn = {_PRI_K + 1} "
        "  THEN pri END), 0) AS tau FROM rk GROUP BY lang), "
        f"samp AS (SELECT lang, doc_id, w FROM rk WHERE rn <= {_PRI_K}), "
        "est AS (SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS k_used, "
        "  CAST(SUM(CASE WHEN s.w > t.tau THEN s.w ELSE t.tau END) AS BIGINT) "
        "    AS est_total_chars, "
        "  CAST(SUM(s.doc_id) AS BIGINT) AS sample_id_sum "
        "  FROM samp s JOIN tau t ON s.lang = t.lang GROUP BY 1), "
        "tru AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "  CAST(SUM(w) AS BIGINT) AS true_total_chars FROM d GROUP BY 1) "
        "SELECT tr.lang, tr.n_docs, tr.true_total_chars, e.k_used, "
        "CAST(t.tau AS BIGINT) AS tau, e.est_total_chars, e.sample_id_sum "
        "FROM tru tr JOIN est e ON tr.lang = e.lang JOIN tau t ON tr.lang = t.lang"
    ),
)
def sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup, JACM 2007): the
    WEIGHTED companion to x_agg_quantile_bottomk's uniform bottom-k —
    per language keep the k = 32 docs with the largest priority
    q = w / u (u = a 48-bit md5 uniform, so q = w*2^48 DIV (h+1) in
    exact integers), and estimate the group's TOTAL weight from just
    the sample as sum(max(w_i, tau)) with tau = the (k+1)-th priority
    — the near-optimal subset-sum estimator behind weighted netflow /
    corpus-share accounting.  Merge rule is top-k-of-union (the same
    partial shape as KMV); groups at or under k reproduce the exact
    total (tau = 0, every max picks w_i).  True totals and a
    sample-membership checksum ride along, so the ESTIMATE and the
    sampled SET both hash-check; estimator error is property-tested.

    Overflow precondition: w*2^48 needs w < 2^15 to stay in a signed
    bigint — n_chars tops out near 550 here, and a raise_error guard
    fails loudly at the first wider weight (a larger-weight corpus
    rescales w or the domain).

    Scale shape: priorities are a stateless projection; the top-k
    filter is the rank<=k WindowGroupLimit shape; tau and the
    estimate are |groups|-sized aggregates."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("lang", "doc_id", F.col("n_chars").cast("long").alias("w"))
        # Overflow precondition as a LOUD guard (code-review r8 item 4:
        # the docstring note alone is inconsistent with the
        # x_sim_ann_lsh_portable / x_join_fuzzy_name fail-loudly rule):
        # w * 2^48 needs w < 2^15 to stay inside a signed bigint —
        # beyond it, ANSI mode dies with an opaque mid-plan overflow
        # and non-ANSI would silently wrap the priorities.
        .filter(
            F.when(F.col("w") < 32768, F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("x_sample_priority: weight "),
                        F.col("w").cast("string"),
                        F.lit(" exceeds the 2^15 priority-scale budget"),
                    )
                )
            )
        )
    )
    q = d.select(
        "lang",
        "doc_id",
        "w",
        F.expr(
            f"(w * {_PRI_DOMAIN}) DIV "
            f"({hex_int_sql('md5(CAST(doc_id AS STRING))', 1, 12)} + 1)"
        ).alias("pri"),
    )
    w_rk = Window.partitionBy("lang").orderBy(F.desc("pri"), F.asc("doc_id"))
    rk = q.select("lang", "doc_id", "w", "pri", F.row_number().over(w_rk).alias("rn"))
    tau = rk.groupBy("lang").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == _PRI_K + 1, F.col("pri"))), F.lit(0)
        )
        .cast("long")
        .alias("tau")
    )
    samp = rk.filter(F.col("rn") <= _PRI_K).select("lang", "doc_id", "w")
    est = (
        samp.join(F.broadcast(tau), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("k_used"),
            F.sum(F.greatest(F.col("w"), F.col("tau"))).cast("long").alias(
                "est_total_chars"
            ),
            F.sum("doc_id").cast("long").alias("sample_id_sum"),
        )
    )
    tru = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("true_total_chars"),
    )
    return (
        tru.join(F.broadcast(est), "lang")
        .join(F.broadcast(tau), "lang")
        .select(
            "lang",
            "n_docs",
            "true_total_chars",
            "k_used",
            "tau",
            "est_total_chars",
            "sample_id_sum",
        )
    )


_PBAL_BUCKETS = 32  # model shuffle width


@query(
    "x_profile_partition_balance",
    category="analytics",
    oracle=(
        "WITH b AS ("
        "  SELECT 'l_orderkey' AS shuffle_key, "
        f"  ((l_orderkey % {_PBAL_BUCKETS}) * {KNUTH % _PBAL_BUCKETS}) "
        f"    % {_PBAL_BUCKETS} AS bkt FROM lineitem "
        "  UNION ALL "
        "  SELECT 'l_returnflag', "
        "  (CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END "
        f"    * {KNUTH}) % {_PBAL_BUCKETS} FROM lineitem), "
        "c AS (SELECT shuffle_key, bkt, CAST(COUNT(*) AS BIGINT) AS cnt "
        "  FROM b GROUP BY 1, 2) "
        "SELECT shuffle_key, "
        "CAST(COUNT(*) AS BIGINT) AS buckets_hit, "
        "CAST(SUM(cnt) AS BIGINT) AS n_rows, "
        "CAST(MAX(cnt) AS BIGINT) AS max_bucket, "
        "CAST(MIN(cnt) AS BIGINT) AS min_bucket, "
        f"CAST(1000000 * MAX(cnt) * {_PBAL_BUCKETS} // SUM(cnt) AS BIGINT) "
        "  AS max_over_even_ppm "
        "FROM c GROUP BY 1"
    ),
)
def profile_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-balance audit: model a 32-way hash shuffle under two
    candidate keys — the high-cardinality l_orderkey vs the 3-value
    l_returnflag — and report how far the heaviest bucket sits above
    the even share (1e6 = perfectly even; 10.67e6 = one bucket carries
    a third of the data on 32 workers).  The pre-flight check before
    choosing a join/groupBy key at 100 TB: a skewed key here is a
    straggler there, and the fix (salting, AQE skew join, key change —
    x_join_salted ships the pattern) is cheap BEFORE the shuffle runs.
    Complements x_profile_skew (top-key frequencies) with the
    bucket-level view the executor actually experiences.

    Determinism: the bucket model is the portable Knuth hash mod 32 —
    NOT Spark's internal Murmur3 (engine-private), so both engines
    reproduce identical bucket census; the flag's 3-value domain maps
    through a pinned CASE so the model is stable across engines.

    Scale shape: one projection + one (key, bucket) hash aggregate per
    candidate — bounded by 2 x 32 rows after the combine."""
    li = load_table(spark, sf_dir, "lineitem")
    # (k * KNUTH) % 32 == ((k % 32) * (KNUTH % 32)) % 32 — the modular
    # decomposition keeps the bucket value bit-identical while the
    # intermediate never exceeds 31 * 31, so the raw-BIGINT k * KNUTH
    # overflow (silent wrap in non-ANSI Spark vs loud error in DuckDB
    # beyond k ~ 3.4e9, ADVICE r8) cannot occur at any key domain.
    b1 = li.select(
        F.lit("l_orderkey").alias("shuffle_key"),
        (
            (F.col("l_orderkey") % _PBAL_BUCKETS) * (KNUTH % _PBAL_BUCKETS)
            % _PBAL_BUCKETS
        ).alias("bkt"),
    )
    flag_code = (
        F.when(F.col("l_returnflag") == "A", 0)
        .when(F.col("l_returnflag") == "N", 1)
        .otherwise(2)
    )
    b2 = li.select(
        F.lit("l_returnflag").alias("shuffle_key"),
        ((flag_code * KNUTH) % _PBAL_BUCKETS).alias("bkt"),
    )
    c = (
        b1.unionByName(b2)
        .groupBy("shuffle_key", "bkt")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return c.groupBy("shuffle_key").agg(
        F.count("*").cast("long").alias("buckets_hit"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_bucket"),
        F.min("cnt").cast("long").alias("min_bucket"),
        F.expr(
            f"CAST(1000000 * MAX(cnt) * {_PBAL_BUCKETS} DIV SUM(cnt) AS BIGINT)"
        ).alias("max_over_even_ppm"),
    )


_TCLOSE_T_PPM = 200_000  # the canonical t = 0.2 release threshold


@query(
    "x_privacy_tcloseness",
    category="analytics",
    oracle=(
        "WITH b AS (SELECT c_nationkey, c_mktsegment, "
        "  CASE WHEN c_acctbal < 0 THEN 0 WHEN c_acctbal < 5000 THEN 1 "
        "    ELSE 2 END AS band FROM customer), "
        "cls AS (SELECT c_nationkey, c_mktsegment, "
        "  CAST(COUNT(*) AS BIGINT) AS s, "
        "  CAST(COUNT(*) FILTER (WHERE band = 0) AS BIGINT) AS c1, "
        "  CAST(COUNT(*) FILTER (WHERE band = 1) AS BIGINT) AS c2 "
        "  FROM b GROUP BY 1, 2), "
        "g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "  CAST(COUNT(*) FILTER (WHERE band = 0) AS BIGINT) AS g1, "
        "  CAST(COUNT(*) FILTER (WHERE band = 1) AS BIGINT) AS g2 FROM b), "
        "t AS (SELECT cls.s, CAST((1000000 * ("
        "    abs(CAST(cls.c1 AS HUGEINT) * g.n - CAST(g.g1 AS HUGEINT) * cls.s) "
        "    + abs(CAST(cls.c1 + cls.c2 AS HUGEINT) * g.n "
        "        - CAST(g.g1 + g.g2 AS HUGEINT) * cls.s))) "
        "    // (2 * CAST(cls.s AS HUGEINT) * g.n) AS BIGINT) AS t_ppm "
        "  FROM cls CROSS JOIN g) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_classes, "
        "  CAST(SUM(s) AS BIGINT) AS n_rows, "
        "  CAST(MAX(t_ppm) AS BIGINT) AS max_t_ppm, "
        f"  CAST(COUNT(*) FILTER (WHERE t_ppm > {_TCLOSE_T_PPM}) AS BIGINT) "
        "    AS n_violating_classes, "
        f"  CAST(COALESCE(SUM(s) FILTER (WHERE t_ppm > {_TCLOSE_T_PPM}), 0) "
        "    AS BIGINT) AS n_violating_rows "
        "FROM t"
    ),
)
def privacy_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    attack l-diversity misses: a class can see l distinct sensitive
    values yet still leak if its DISTRIBUTION over them diverges from
    the table's (skewness attack: "90% of this class is in the
    negative-balance band" is a disclosure even with 3 bands present).
    Same (nation, segment) quasi-identifier grid and ordered
    balance-band sensitive attribute as x_privacy_kanon /
    x_privacy_ldiversity — the third member of the release-gate triad.

    For an ordered m-value domain the Earth-Mover distance reduces to
    EMD = (1/(m-1)) * sum_i |cumsum_i(p - q)|; with m = 3 bands that
    is (|d1| + |d1 + d2|) / 2 over the exact count rationals
    d_i = c_i/s - g_i/n.  Clearing denominators gives ONE integer
    floor division per class:
    t_ppm = 1e6 * (|c1*n - g1*s| + |(c1+c2)*n - (g1+g2)*s|)
            DIV (2*s*n)
    routed through DECIMAL(38,0) on Spark and HUGEINT on DuckDB (the
    pinned big-integer rule — c*n alone overflows int64 once the table
    passes ~3e9 rows; numerators are absolute values and denominators
    positive, so trunc-vs-floor never fires).

    Scale shape: one hash aggregate to the QI grid (domain-bounded),
    one 1-row global-distribution scalar broadcast against it, one
    1-row summary — identical dataflow to the other two audits."""
    band = (
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") < 5000, 1)
        .otherwise(2)
    )
    b = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", band.alias("band")
    )
    cls = b.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("s"),
        F.count(F.when(F.col("band") == 0, 1)).cast("long").alias("c1"),
        F.count(F.when(F.col("band") == 1, 1)).cast("long").alias("c2"),
    )
    g = b.agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(F.col("band") == 0, 1)).cast("long").alias("g1"),
        F.count(F.when(F.col("band") == 1, 1)).cast("long").alias("g2"),
    )
    t = cls.crossJoin(F.broadcast(g)).select(
        "s",
        F.expr(
            "CAST((1000000 * ("
            "  abs(CAST(c1 AS DECIMAL(38,0)) * n - CAST(g1 AS DECIMAL(38,0)) * s) "
            "  + abs(CAST(c1 + c2 AS DECIMAL(38,0)) * n "
            "      - CAST(g1 + g2 AS DECIMAL(38,0)) * s))) "
            "DIV (2 * CAST(s AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("t_ppm"),
    )
    viol = F.when(F.col("t_ppm") > _TCLOSE_T_PPM, F.col("s"))
    return t.agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("s").cast("long").alias("n_rows"),
        F.max("t_ppm").cast("long").alias("max_t_ppm"),
        F.count(viol).cast("long").alias("n_violating_classes"),
        F.coalesce(F.sum(viol), F.lit(0)).cast("long").alias("n_violating_rows"),
    )


@query(
    "x_funnel_attribution",
    category="analytics",
    oracle=(
        "WITH e AS (SELECT user_id, event_id, event_type, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events), "
        "seg AS (SELECT user_id, event_type, ts_us, event_id, "
        "  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p, "
        "  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 "
        "    ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts_us, event_id "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
        "    AS seg_id "
        "  FROM e), "
        "sl AS (SELECT user_id, seg_id, "
        "  CAST(MAX(is_p) AS BIGINT) AS has_conv, "
        "  CAST(COUNT(*) FILTER (WHERE is_p = 0) AS BIGINT) AS n_touches "
        "  FROM seg GROUP BY 1, 2), "
        "t AS (SELECT s.user_id, s.seg_id, s.event_type, l.n_touches, "
        "  row_number() OVER (PARTITION BY s.user_id, s.seg_id "
        "    ORDER BY s.ts_us, s.event_id) AS rn_a, "
        "  row_number() OVER (PARTITION BY s.user_id, s.seg_id "
        "    ORDER BY s.ts_us DESC, s.event_id DESC) AS rn_d "
        "  FROM seg s JOIN sl l ON s.user_id = l.user_id "
        "    AND s.seg_id = l.seg_id "
        "  WHERE s.is_p = 0 AND l.has_conv = 1) "
        "SELECT event_type AS channel, "
        "  CAST(COUNT(*) FILTER (WHERE rn_a = 1) AS BIGINT) AS first_touch_conv, "
        "  CAST(COUNT(*) FILTER (WHERE rn_d = 1) AS BIGINT) AS last_touch_conv, "
        "  CAST(SUM(1000000 // n_touches) AS BIGINT) AS linear_credit_micro, "
        "  CAST(COUNT(*) AS BIGINT) AS n_touches_total "
        "FROM t GROUP BY 1"
    ),
)
def funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution — the credit-assignment query behind every
    conversion dashboard, and the funnel family's missing piece
    (x_funnel_conversion counts who converts; this answers WHICH
    channel gets credit).  Each user's event stream is segmented at
    purchases (a purchase converts exactly the touches since the
    previous purchase; touches after the last purchase attribute to
    nothing); within each converting segment the non-purchase touches
    earn first-touch, last-touch, and linear credit per channel
    (= event type).

    Determinism: segment ids come from a strictly-preceding purchase
    count (ties broken by event_id everywhere), and linear credit is
    exact integer micro-arithmetic — 1000000 DIV n_touches per touch,
    both engines truncating identically on positive ints (remainders
    drop rather than float-drift; the per-segment credit sum is
    documented as <= 1000000, not == — the standard integer-credit
    convention).

    Scale shape: one user-keyed window (the sessionize shuffle every
    path/funnel query already pays), a (user, segment) aggregate and
    its co-keyed join back, two (user, segment) windows on the same
    partitioning, and a |channels|-bounded final aggregate.  No
    self-joins over the event stream, no per-conversion lookback scan
    — a billion conversions cost the same two keyed shuffles."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        is_p.alias("is_p"),
        F.coalesce(
            F.sum(is_p).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("seg_id"),
    )
    sl = (
        seg.groupBy("user_id", "seg_id")
        .agg(
            F.max("is_p").cast("long").alias("has_conv"),
            F.count(F.when(F.col("is_p") == 0, 1)).cast("long").alias("n_touches"),
        )
        .filter(F.col("has_conv") == 1)
        .select("user_id", "seg_id", "n_touches")
    )
    # One ascending window suffices: within a segment the descending
    # rank is n_touches - rn_a + 1 (the windows range over touch rows
    # only), so "last touch" is rn_a == n_touches — one sort per
    # (user, segment) partitioning instead of two opposite-order sorts.
    # The oracle keeps the naive second window as the spec.
    wa = Window.partitionBy("user_id", "seg_id").orderBy("ts_us", "event_id")
    touches = (
        seg.filter(F.col("is_p") == 0)
        .join(sl, ["user_id", "seg_id"])
        .select(
            "event_type",
            "n_touches",
            F.row_number().over(wa).alias("rn_a"),
        )
    )
    return touches.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.when(F.col("rn_a") == 1, 1)).cast("long").alias("first_touch_conv"),
        F.count(F.when(F.col("rn_a") == F.col("n_touches"), 1))
        .cast("long")
        .alias("last_touch_conv"),
        F.sum(F.expr("1000000 DIV n_touches")).cast("long").alias("linear_credit_micro"),
        F.count("*").cast("long").alias("n_touches_total"),
    )


_RANGE_FRAME_US = 3_600_000_000  # 1-hour value-range window frame


@query(
    "x_win_range_frame",
    category="window",
    oracle=(
        "WITH e AS (SELECT event_id, user_id, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events) "
        "SELECT event_id, user_id, ts_us, cents, "
        "CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts_us "
        f"  RANGE BETWEEN {_RANGE_FRAME_US} PRECEDING AND CURRENT ROW) "
        "  AS BIGINT) AS hour_cents, "
        "CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us "
        f"  RANGE BETWEEN {_RANGE_FRAME_US} PRECEDING AND CURRENT ROW) "
        "  AS BIGINT) AS n_hour "
        "FROM e"
    ),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VALUE-RANGE window frame (`rangeBetween`) — every other
    window key in the repo frames by ROW COUNT (rowsBetween /
    running / ntile); this one frames by the ORDER KEY'S VALUE: per
    user, the exact-cents spend and event count inside the trailing
    ONE HOUR of event time, however many rows that hour holds.  The
    two semantics differ exactly when event spacing is irregular —
    which is always, for event logs — and the range frame is the one
    sliding-window questions ('spend in the last hour') actually ask.
    The trailing-hour sum over an event-time order key is also the
    batch twin of stream_sliding's windowed aggregate, at per-event
    rather than per-window-start grain.

    Determinism: the frame boundary is integer micros on an integer
    order key — no timestamp arithmetic ambiguity — and RANGE frames
    include order-key PEERS identically on both engines, so duplicate
    (user, ts) rows get identical frame contents; money is exact
    cents under a plain integer SUM.

    Scale shape: one hash partition by user + one sort by ts within —
    the same single-shuffle shape as every other window key; the
    range frame is evaluated by Spark's sliding frame cursor in O(n)
    per partition, never by re-scanning the hour per row."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_RANGE_FRAME_US, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_us",
        "cents",
        F.sum("cents").over(w).cast("long").alias("hour_cents"),
        F.count("*").over(w).cast("long").alias("n_hour"),
    )


_LTTB_NB = 20  # interior buckets; endpoints always kept (buckets 0, 21)


@query(
    "x_time_downsample_lttb",
    category="analytics",
    oracle=(
        "WITH ev AS (SELECT event_type, event_id, "
        "    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, "
        "    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents "
        "  FROM events), "
        "r AS (SELECT *, ROW_NUMBER() OVER w AS rk, "
        "    COUNT(*) OVER (PARTITION BY event_type) AS n, "
        "    MIN(ts_us) OVER (PARTITION BY event_type) AS mn "
        "  FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)), "
        "p AS (SELECT event_type, event_id, ts_us, cents, ts_us - mn AS x, "
        f"    CASE WHEN rk = 1 THEN 0 WHEN rk = n THEN {_LTTB_NB + 1} "
        f"         ELSE 1 + ((rk - 2) * {_LTTB_NB}) // (n - 2) END AS bucket "
        "  FROM r), "
        "s AS (SELECT event_type, bucket, COUNT(*) AS cnt, "
        "    SUM(x) AS sx, SUM(cents) AS sy FROM p GROUP BY 1, 2), "
        "cand AS (SELECT c.event_type, c.bucket, c.event_id, c.ts_us, c.cents, c.x, "
        "    sp.cnt AS np, sp.sx AS sxp, sp.sy AS syp, "
        "    sn.cnt AS nn, sn.sx AS sxn, sn.sy AS syn "
        "  FROM p c "
        "  JOIN s sp ON sp.event_type = c.event_type AND sp.bucket = c.bucket - 1 "
        "  JOIN s sn ON sn.event_type = c.event_type AND sn.bucket = c.bucket + 1 "
        f"  WHERE c.bucket BETWEEN 1 AND {_LTTB_NB}), "
        "a AS (SELECT event_type, bucket, event_id, ts_us, cents, "
        "    abs( (CAST(sxp AS HUGEINT) * nn - CAST(sxn AS HUGEINT) * np) "
        "         * (CAST(cents AS HUGEINT) * np - CAST(syp AS HUGEINT)) "
        "       - (CAST(sxp AS HUGEINT) - CAST(x AS HUGEINT) * np) "
        "         * (CAST(syn AS HUGEINT) * np - CAST(syp AS HUGEINT) * nn) "
        "    ) AS area FROM cand), "
        "sel AS (SELECT event_type, bucket, ts_us, cents, ROW_NUMBER() OVER ("
        "    PARTITION BY event_type, bucket ORDER BY area DESC, event_id) AS rn "
        "  FROM a) "
        "SELECT event_type, CAST(bucket AS BIGINT) AS bucket, ts_us, cents "
        "FROM sel WHERE rn = 1 "
        "UNION ALL "
        "SELECT event_type, CAST(bucket AS BIGINT) AS bucket, ts_us, cents "
        f"FROM p WHERE bucket IN (0, {_LTTB_NB + 1})"
    ),
)
def time_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style time-series downsampling (largest-triangle-three-
    buckets, Steinarsson 2013 — the dashboard downsampler): each event
    type's series is reduced to 22 points (both endpoints + one point
    per interior equal-count bucket) choosing, per bucket, the point
    forming the largest triangle with the NEIGHBOUR BUCKETS' mean
    anchors — the parallel mean-anchor variant of the original
    sequential rule, so selection is ONE window + one argmax, no
    point-to-point chain.

    Exactness discipline: mean anchors are never divided out — each
    candidate's triangle area is cross-multiplied by both neighbour
    counts (a per-bucket constant, so argmax is unchanged) and
    evaluated in exact wide-integer arithmetic (Spark DECIMAL(38,0) /
    DuckDB HUGEINT, products bounded ~1e30), x is micros since the
    series start so sums stay well inside the window; ties break on
    event_id.  Both engines therefore pick the IDENTICAL point set —
    a hash-checkable answer from a visually-motivated heuristic.

    Scale shape: one rank/min/count window per series, one k-bounded
    (series x 22) stats aggregate, two broadcastable stats joins, one
    per-bucket argmax window — at 100 TB of ticks every corpus-sized
    pass is a single keyed window or map-side-combined aggregate, and
    the output is k-bounded per series regardless of input size."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("ts_us", "event_id")
    r = ev.select(
        "*",
        F.row_number().over(wo).alias("rk"),
        F.count("*").over(wp).alias("n"),
        F.min("ts_us").over(wp).alias("mn"),
    )
    p = r.select(
        "event_type",
        "event_id",
        "ts_us",
        "cents",
        (F.col("ts_us") - F.col("mn")).alias("x"),
        F.expr(
            f"CASE WHEN rk = 1 THEN 0 WHEN rk = n THEN {_LTTB_NB + 1} "
            f"ELSE 1 + ((rk - 2) * {_LTTB_NB}) DIV (n - 2) END"
        ).alias("bucket"),
    ).localCheckpoint(eager=False)
    s = p.groupBy("event_type", "bucket").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sy"),
    )
    sp = s.select(
        "event_type",
        (F.col("bucket") + 1).alias("bucket"),
        F.col("cnt").alias("np"),
        F.col("sx").alias("sxp"),
        F.col("sy").alias("syp"),
    )
    sn = s.select(
        "event_type",
        (F.col("bucket") - 1).alias("bucket"),
        F.col("cnt").alias("nn"),
        F.col("sx").alias("sxn"),
        F.col("sy").alias("syn"),
    )
    cand = (
        p.filter((F.col("bucket") >= 1) & (F.col("bucket") <= _LTTB_NB))
        .join(F.broadcast(sp), ["event_type", "bucket"])
        .join(F.broadcast(sn), ["event_type", "bucket"])
    )
    area = F.expr(
        "abs( (sxp * nn - sxn * np) "
        "      * (CAST(cents AS DECIMAL(38,0)) * np - syp) "
        "    - (sxp - CAST(x AS DECIMAL(38,0)) * np) "
        "      * (syn * np - syp * nn) )"
    )
    wsel = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("area").desc(), F.col("event_id")
    )
    sel = (
        cand.withColumn("area", area)
        .withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("bucket").cast("long").alias("bucket"), "ts_us", "cents")
    )
    ends = p.filter(F.col("bucket").isin(0, _LTTB_NB + 1)).select(
        "event_type", F.col("bucket").cast("long").alias("bucket"), "ts_us", "cents"
    )
    return sel.unionAll(ends)


_EWMA_W = 16  # window length: weights 2^15 .. 2^0, denominator 2^16 - 1

# numerator = sum_{j=0..15} lag(m, j) * 2^(15-j) — spelled as explicit
# lag terms so BOTH engines evaluate the identical integer expression
_EWMA_NUM_SQL = " + ".join(
    ("m" if j == 0 else f"lag(m, {j}) OVER w") + f" * {1 << (_EWMA_W - 1 - j)}"
    for j in range(_EWMA_W)
)


@query(
    "x_time_ewma",
    category="analytics",
    oracle=(
        "WITH ev AS (SELECT event_type, event_id, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, "
        "  CAST(round(CAST(value AS DECIMAL(18,6)) * 1000000) AS BIGINT) AS m "
        "  FROM events), "
        "l AS (SELECT event_type, event_id, ts_us, "
        "  row_number() OVER w AS rn, "
        f"  {_EWMA_NUM_SQL} AS num "
        "  FROM ev WINDOW w AS ("
        "    PARTITION BY event_type ORDER BY ts_us, event_id)) "
        "SELECT event_type, ts_us, event_id, "
        "CAST(num AS DOUBLE) / 65535.0 / 1000000.0 AS ewma "
        f"FROM l WHERE rn >= {_EWMA_W}"
    ),
)
def time_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) per event
    type — the smoothing primitive behind monitoring dashboards and
    drift detectors, expressed EXACTLY: the classic recursive EWMA is
    order-dependent float accumulation, but with a dyadic alpha the
    16-term truncation has weights 2^15..2^0, so the numerator is a
    single integer expression over micros-scaled values (bounded by
    2^16 · |m|, no overflow for |value| < 10^5) and both engines divide
    the SAME bigint by the same constants — bit-identical doubles, full
    hash check, no decimal sandwich needed.  The truncation error vs
    the infinite recursion is bounded by max|v| / 2^16, below the 6-dp
    rounding already applied to the input.

    Scale shape: ONE window pass per event type with O(1) per-row state
    (16 lag slots — Spark keeps a bounded rows-frame buffer, never the
    partition in memory), no self-join, no collect.  At 100 TB this is
    exactly the streaming-friendly shape: the same 16-value carry is
    what a transformWithState operator would keep per key.  The series
    key here is low-cardinality (5 types), so a 100 TB deployment
    splits each series into time chunks and stitches the fixed 16-row
    halo across chunk boundaries (two-pass: per-chunk tails, then a
    broadcast of the <= 15-row handoffs) — the frame depth being
    BOUNDED is what makes that split exact; at this corpus the flat
    per-series window is the right plan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("m"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    num = F.col("m") * F.lit(1 << (_EWMA_W - 1))
    for j in range(1, _EWMA_W):
        num = num + F.lag("m", j).over(w) * F.lit(1 << (_EWMA_W - 1 - j))
    return (
        ev.select(
            "event_type",
            "ts_us",
            "event_id",
            F.row_number().over(w).alias("rn"),
            num.alias("num"),
        )
        .filter(F.col("rn") >= _EWMA_W)
        .select(
            "event_type",
            "ts_us",
            "event_id",
            (F.col("num").cast("double") / 65535.0 / 1000000.0).alias("ewma"),
        )
    )


_HOLT_W = 10  # window length; denominator 2^16 after W-1 recursion steps


def _holt_coefs() -> tuple[int, list[int], list[int]]:
    """Closed-form integer weights for Holt's linear method with
    alpha = beta = 1/2 over a W-observation window: textbook init
    (level = x1, trend = x2 - x1), then W-1 recursion steps unrolled
    symbolically in exact rational arithmetic.  Returns (den, level
    weights, trend weights) with x[0] the OLDEST observation; the
    level weights sum to den (affine in a constant series) and the
    trend weights sum to 0 (shift-invariant) — both asserted."""
    from fractions import Fraction

    w = _HOLT_W
    lvl = [Fraction(0)] * w
    trd = [Fraction(0)] * w
    lvl[0] = Fraction(1)
    trd[0], trd[1] = Fraction(-1), Fraction(1)
    for t in range(1, w):
        x = [Fraction(0)] * w
        x[t] = Fraction(1)
        prev = lvl[:]
        lvl = [(xi + li + bi) / 2 for xi, li, bi in zip(x, lvl, trd)]
        trd = [(li - pi + bi) / 2 for li, pi, bi in zip(lvl, prev, trd)]
    den = 1 << 16
    li = [int(f * den) for f in lvl]
    bi = [int(f * den) for f in trd]
    assert all(f * den == i for f, i in zip(lvl, li))
    assert all(f * den == i for f, i in zip(trd, bi))
    assert sum(li) == den and sum(bi) == 0
    return den, li, bi


_HOLT_DEN, _HOLT_L, _HOLT_B = _holt_coefs()

# x[j] (j=0 oldest) sits at lag(m, W-1-j); current row is x[W-1]
_HOLT_NUM_L_SQL = " + ".join(
    ("m" if j == _HOLT_W - 1 else f"lag(m, {_HOLT_W - 1 - j}) OVER w")
    + f" * ({_HOLT_L[j]})"
    for j in range(_HOLT_W)
)
_HOLT_NUM_B_SQL = " + ".join(
    ("m" if j == _HOLT_W - 1 else f"lag(m, {_HOLT_W - 1 - j}) OVER w")
    + f" * ({_HOLT_B[j]})"
    for j in range(_HOLT_W)
)


@query(
    "x_time_holt",
    category="analytics",
    oracle=(
        "WITH ev AS (SELECT event_type, event_id, "
        "  epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, "
        "  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS m "
        "  FROM events), "
        "l AS (SELECT event_type, event_id, ts_us, "
        "  row_number() OVER w AS rn, "
        f"  {_HOLT_NUM_L_SQL} AS nl, {_HOLT_NUM_B_SQL} AS nb "
        "  FROM ev WINDOW w AS ("
        "    PARTITION BY event_type ORDER BY ts_us, event_id)) "
        "SELECT event_type, ts_us, event_id, "
        f"CAST(nl AS DOUBLE) / {_HOLT_DEN * 100}.0 AS level, "
        f"CAST(nb AS DOUBLE) / {_HOLT_DEN * 100}.0 AS trend, "
        f"CAST(nl + nb AS DOUBLE) / {_HOLT_DEN * 100}.0 AS forecast "
        f"FROM l WHERE rn >= {_HOLT_W}"
    ),
)
def time_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method (double exponential smoothing, alpha =
    beta = 1/2) per event type: smoothed level, trend, and the
    one-step-ahead forecast level + trend — the forecasting primitive
    a capacity planner or anomaly detector runs over every metric
    stream, and the trend-aware upgrade of x_time_ewma.

    The recursion is order-dependent float accumulation in its usual
    form, so neither engine could hash-match it naively.  With dyadic
    parameters the W=10-observation truncation has CLOSED-FORM integer
    weights over the window (denominator 2^16, derived symbolically in
    exact rational arithmetic at import — see _holt_coefs, with the
    affine/shift invariants asserted): both engines evaluate one
    identical bigint dot product over cents-scaled values and divide by
    the same constant — bit-identical doubles, full hash oracle.  The
    init truncation decays as (3/4)^t, <1% of weight at W=10.

    Scale shape: ONE window pass per event type with an O(1) 10-lag
    rows frame (Spark buffers the frame, never the partition), no
    self-join, no collect — the same per-key carry a transformWithState
    streaming forecaster would keep.  At 100 TB: hash-partition by
    series key, in-partition sort, linear scan; for the low-cardinality
    series key here, split each series into time chunks with the
    bounded 10-row halo stitched across boundaries (the x_time_ewma
    note) — at this corpus the flat per-series window is the right
    plan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("m"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    nl, nb = None, None
    for j in range(_HOLT_W):
        x = F.col("m") if j == _HOLT_W - 1 else F.lag("m", _HOLT_W - 1 - j).over(w)
        tl, tb = x * F.lit(_HOLT_L[j]), x * F.lit(_HOLT_B[j])
        nl = tl if nl is None else nl + tl
        nb = tb if nb is None else nb + tb
    d = float(_HOLT_DEN * 100)
    return (
        ev.select(
            "event_type",
            "ts_us",
            "event_id",
            F.row_number().over(w).alias("rn"),
            nl.alias("nl"),
            nb.alias("nb"),
        )
        .filter(F.col("rn") >= _HOLT_W)
        .select(
            "event_type",
            "ts_us",
            "event_id",
            (F.col("nl").cast("double") / d).alias("level"),
            (F.col("nb").cast("double") / d).alias("trend"),
            ((F.col("nl") + F.col("nb")).cast("double") / d).alias("forecast"),
        )
    )
