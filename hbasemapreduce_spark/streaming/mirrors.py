"""Structured Streaming mirrors of §2.8 (SURVEY.md design rule: batch
form is oracle-checked; the streaming twin proves the same expression
runs incrementally through the IncrementalExecution planner).

Each mirror reads the same events parquet through ``readStream`` (file
source, explicit schema — required for streaming sources) and applies
the *same logical expression* as its batch twin:

    batch  groupBy(window(ts, '1 hour'))         = stream_tumbling
    batch  window(ts, '1 hour', '15 minutes')    = stream_sliding
    batch  lag+cumsum sessionize                 = session_window(ts, '30 min')
    batch  row_number over event_id = 1          = dropDuplicates after watermark

State-store notes for a real cluster: watermarks bound state (eviction
of closed windows / expired dedup keys); session_window merges adjacent
state entries per key; shuffle partitioning of state is by group key —
identical to the batch shuffle, so the scale story carries over.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import configure, load_table, read_parquet
from ..functions.staging import sink_dir, staged


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (schema from the batch
    read; ts rebuilt from int64 nanos exactly as catalog.load_table).

    The file source needs a *directory* (its drop-zone); the testdata
    table is a single file, so it is staged once (functions/staging.py) —
    in production this directory is where micro-batch files land.
    """
    configure(spark)
    src = os.path.join(sf_dir, "events.parquet")
    stage = staged(
        "stream_events", src, lambda d: shutil.copyfile(src, os.path.join(d, "events.parquet"))
    )
    raw_schema = read_parquet(spark, os.path.join(stage, "events.parquet")).schema
    return _with_ts(spark.readStream.schema(raw_schema).format("parquet").load(stage))


def _with_ts(df: DataFrame) -> DataFrame:
    """``ts`` as session TIMESTAMP, rebuilt from int64 nanos exactly as
    catalog.load_table does when the file stores them raw."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _drain(q, what: str) -> None:
    """Wait for an availableNow query to finish, then stop it.

    awaitTermination returns False on timeout with the query STILL
    RUNNING — reading its sink then would return a partial result
    masquerading as the complete one, so a timeout raises."""
    try:
        if not q.awaitTermination(300):
            raise TimeoutError(f"{what} did not drain within 300s")
    finally:
        q.stop()


def tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )


def sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "cnt")
    )


def session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start").cast("timestamp")).alias("start_us"),
            "n_events",
        )
    )


def dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), "event_type")
    )


def ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_time_ohlc: the same 6-hour OHLC bars as an
    incremental windowed aggregate.  min_by/max_by keep one (ord,
    value) accumulator per open window, so state is O(windows x types)
    — bars finalize as the watermark passes, exactly the continuous
    -aggregate maintenance a hypertable does on ingest."""
    ev = events_stream(spark, sf_dir)
    ord_asc = F.struct(F.unix_micros(F.col("ts")).alias("ts_us"), F.col("event_id"))
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.min_by("value", ord_asc).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_asc).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.unix_timestamp("w.start").alias("ws"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


# No stream_late_data mirror: its 1 h cut is from the global max(ts), not a watermark.
MIRRORS = {
    "stream_tumbling": tumbling,
    "stream_sliding": sliding,
    "stream_session": session,
    "stream_dedup": dedup,
    "x_time_ohlc": ohlc,
}


def run_mirror_to_memory(
    spark: SparkSession, sf_dir: str, name: str, *, output_mode: str
) -> DataFrame:
    """Run one mirror to completion (availableNow) into a memory sink and
    return the sink contents as a batch DataFrame."""
    sink = f"mirror_{name}"
    spark.catalog.dropTempView(sink)  # allow re-runs within one session
    q = (
        MIRRORS[name](spark, sf_dir)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, f"{name} mirror")
    return spark.table(sink)


def stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    (n_events, distinct types, last-seen micros) carried in explicit
    state across micro-batches.

    State schema holds the running count, the distinct-type set as a
    sorted comma-joined string (state fields must be SQL types, not
    Python sets), and the max event-time micros.  Watermark-less NoTimeout
    state: the per-user profile is lifetime state by design; a
    production deployment with unbounded keys would use TTL state
    (``GroupStateTimeout.ProcessingTimeTimeout``) or event-time TTL.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_profile(key, pdfs, state: GroupState):
        if state.exists:
            n, types_csv, last_us = state.get
            types = set(types_csv.split(",")) if types_csv else set()
        else:
            n, types, last_us = 0, set(), 0
        for pdf in pdfs:
            n += len(pdf)
            types.update(pdf["event_type"].dropna().tolist())
            if len(pdf):
                # normalize to micros regardless of the pandas datetime
                # unit Arrow hands over (ns here, us elsewhere)
                ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
                last_us = max(last_us, int(ts_us.max()))
        state.update((n, ",".join(sorted(types)), last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_types": [len(types)],
                "last_ts_us": [last_us],
            }
        )

    return (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_profile,
            outputStructType="user_id long, n_events long, n_types long, last_ts_us long",
            stateStructType="n long, types_csv string, last_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


MIRRORS["x_stream_stateful"] = stateful


def interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks on BOTH sides and the
    6-hour interval inside the join condition — the combination that
    bounds join state (views evict once the purchase-side watermark
    passes v_ts + 6h).  Inner-join matches emit eagerly per micro-batch,
    so one availableNow pass yields exactly the batch twin's rows."""
    v = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
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


MIRRORS["x_stream_interval_join"] = interval_join


def session_paths_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_session_paths: first-3-event journey per
    session, maintained incrementally.  ``session_window(ts, '30 min')``
    per user partitions events exactly like the batch gap-sessionizer
    (merge events closer than the gap), and
    sort_array(collect_list(struct(...))) inside the session aggregate
    makes arrival order irrelevant — the same determinism trick the
    batch twin uses, now applied to session-window state merges.

    Emits one (path3) row per finalized session; the per-path COUNT
    lives downstream of the sink (a second unbounded stateful aggregate
    can't share the pipeline in one pass — the equality test aggregates
    the sink, which is what a dashboard on this sink would do)."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("ts_us"),
                        F.col("event_id"),
                        F.col("event_type"),
                    )
                )
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.slice(F.transform("evs", lambda e: e.event_type), 1, 3), ">"
            ).alias("path3")
        )
    )


MIRRORS["x_session_paths"] = session_paths_stream


def funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_funnel_conversion: per-user strict funnel
    anchors (first view, first click AFTER it, first purchase after
    THAT) carried as explicit state in applyInPandasWithState.

    Within each micro-batch events are sorted by event time and played
    through the anchor automaton; anchors only ever move from unset to
    set, so the per-user stage is monotone.  Exactness caveat (inherent
    to one-pass funnels, not this implementation): if a batch delivers
    an event EARLIER than an anchor already set from a previous batch,
    a retraction would be needed — exact when per-key event-time order
    across micro-batches is non-decreasing, which the file source's
    single availableNow batch satisfies.  Output is one (user_id,
    stage) update per user; stage-k user counts = rows with stage >= k
    (the equality test folds this against the batch twin's counts)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_funnel(key, pdfs, state: GroupState):
        if state.exists:
            t1, t2, t3 = state.get
        else:
            t1, t2, t3 = 0, 0, 0
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            ev = pd.concat(frames, ignore_index=True)
            ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
            ev = ev.sort_values(["ts_us", "event_id"], ignore_index=True)
            for ts_us, etype in zip(ev["ts_us"], ev["event_type"]):
                if t1 == 0 and etype == "view":
                    t1 = ts_us
                elif t2 == 0 and t1 > 0 and etype == "click" and ts_us > t1:
                    t2 = ts_us
                elif t3 == 0 and t2 > 0 and etype == "purchase" and ts_us > t2:
                    t3 = ts_us
        state.update((t1, t2, t3))
        stage = 3 if t3 else (2 if t2 else (1 if t1 else 0))
        yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})

    return (
        events_stream(spark, sf_dir)
        .select("user_id", "event_id", "event_type", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_funnel,
            outputStructType="user_id long, stage long",
            stateStructType="t1 long, t2 long, t3 long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


MIRRORS["x_funnel_conversion"] = funnel_stream


def cdc_apply_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_etl_cdc_apply: per-key last-writer-wins
    state maintained incrementally — the CDC-consumer service every
    batch MERGE approximates.  State per user is the (ts_us, event_id,
    event_type, value) of the current winner; each micro-batch's rows
    challenge it under the same total (ts, event_id) order the batch
    argmax uses, so after draining the log the state equals the batch
    aggregate exactly (update-mode sink keeps each key's LAST update).
    Tombstoned keys ('error' wins) emit stage NULLs downstream of the
    sink rather than being dropped here: update mode has no
    retractions, so the consumer applies the tombstone (the equality
    test does exactly that)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_lww(key, pdfs, state: GroupState):
        if state.exists:
            ts_us, eid, etype, val = state.get
        else:
            ts_us, eid, etype, val = -1, -1, "", 0.0
        for pdf in pdfs:
            if not len(pdf):
                continue
            c = pdf.assign(_us=pdf["ts"].astype("datetime64[us]").astype("int64"))
            w = c.sort_values(["_us", "event_id"]).iloc[-1]
            if (int(w["_us"]), int(w["event_id"])) > (ts_us, eid):
                ts_us, eid = int(w["_us"]), int(w["event_id"])
                etype, val = str(w["event_type"]), float(w["value"])
        state.update((ts_us, eid, etype, val))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_type": [etype],
                "last_value": [val],
                "last_event_id": [eid],
            }
        )

    return (
        events_stream(spark, sf_dir)
        .select("user_id", "event_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_lww,
            outputStructType=(
                "user_id long, last_type string, last_value double, last_event_id long"
            ),
            stateStructType="ts_us long, eid long, etype string, val double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


MIRRORS["x_etl_cdc_apply"] = cdc_apply_stream


def run_hourly_top_foreachbatch(spark: SparkSession, sf_dir: str, out_dir: str) -> DataFrame:
    """Streaming twin of x_stream_hourly_top via ``foreachBatch`` — the
    escape hatch for logic Structured Streaming can't express on an
    aggregate stream (here: a rank window).  Each micro-batch delivers
    the hourly-count updates; the callback ranks WITHIN the batch
    dataframe (plain batch Catalyst plan) and overwrites the sink.
    With one availableNow pass the single batch holds every hour's
    final count, so the sink equals the batch twin exactly; in a live
    run each trigger refreshes the leaderboard with current counts —
    idempotent by construction (overwrite, not append)."""
    from pyspark.sql import Window

    hourly = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )

    def rank_and_write(batch_df: DataFrame, batch_id: int) -> None:
        # availableNow may fire a trailing WATERMARK-ADVANCE batch with
        # zero update rows; overwriting the leaderboard with it would
        # erase the final state
        if batch_df.isEmpty():
            return
        w = Window.partitionBy("ws").orderBy(F.desc("cnt"), F.asc("event_type"))
        (
            batch_df.select("*", F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= 2)
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    q = (
        hourly.writeStream.foreachBatch(rank_and_write)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "hourly_top foreachBatch")
    return spark.read.parquet(out_dir)


def fill_forward_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_time_fill_forward: per-user last-observation-
    carried-forward via ``applyInPandasWithState`` — the carried
    (value, seen-anything) pair IS the state, so the fill survives
    micro-batch boundaries with O(1) state per user.

    Rows inside each delivered batch are sorted by (ts, event_id)
    before filling, matching the batch twin's total order; ordering
    ACROSS batches relies on the source delivering each user's data
    in event-time order (true here: the staged table arrives as one
    availableNow batch).  A production deployment with out-of-order
    arrivals would buffer rows in state until the watermark passes
    them — the standard stream-sorting pattern — without changing the
    fill logic below."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )

    def fill(key, pdfs, state: GroupState):
        if state.exists:
            carry_k, has_carry = state.get
        else:
            carry_k, has_carry = 0, False
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            pdf = pdf.assign(_us=us).sort_values(["_us", "event_id"])
            filled = []
            for v in pdf["k"]:
                if not pd.isna(v):
                    carry_k, has_carry = int(v), True
                filled.append(carry_k if has_carry else None)
            state.update((carry_k, has_carry))
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"].astype("int64"),
                    "event_id": pdf["event_id"].astype("int64"),
                    "k": pdf["k"].astype("Int32"),
                    "k_filled": pd.Series(filled, dtype="Int32"),
                }
            )

    return ev.groupBy("user_id").applyInPandasWithState(
        fill,
        outputStructType="user_id long, event_id long, k int, k_filled int",
        stateStructType="carry_k int, has_carry boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MIRRORS["x_time_fill_forward"] = fill_forward_stream


def quality_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_quality_monitor: the identical windowed
    conditional-sum expression (operators/streaming_batch.py
    quality_monitor_expr) over the event stream with a 1-hour
    watermark — per-hour quality counters maintained incrementally,
    state bounded to open windows."""
    from ..operators.streaming_batch import quality_monitor_expr

    return quality_monitor_expr(
        events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    )


MIRRORS["x_quality_monitor"] = quality_monitor_stream


def chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_stream_chained_agg: two chained stateful
    windowed aggregates in one append-mode query (a Spark 4
    capability).  The daily level keys on F.window_time() of the hourly
    window so the watermark flows through both operators; each level's
    state is evicted as the watermark passes its windows."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    h = s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("cnt")
    )
    d = h.groupBy(
        F.window(F.window_time("w"), "1 day").alias("d"), "event_type"
    ).agg(F.max("cnt").alias("max_hourly"))
    return d.select(
        F.unix_timestamp("d.start").alias("ds"), "event_type", "max_hourly"
    )


MIRRORS["x_stream_chained_agg"] = chained_agg


def dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_stream_join_dim: stream-static broadcast
    join (static side re-read per micro-batch, zero state) feeding a
    complete-mode aggregate — the shared expression guarantees the
    twins cannot drift."""
    from ..catalog import load_table
    from ..operators.streaming_batch import stream_dim_enrich_expr

    return stream_dim_enrich_expr(
        events_stream(spark, sf_dir),
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
    )


MIRRORS["x_stream_join_dim"] = dim_enrich


def dup_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_stream_dup_rate: the identical chained
    two-level expression (operators/streaming_batch.py dup_rate_expr)
    over the event stream with a 1-hour watermark — per-hour duplicate
    rates maintained incrementally, identity-level state evicted as the
    watermark passes each hour."""
    from ..operators.streaming_batch import dup_rate_expr

    return dup_rate_expr(events_stream(spark, sf_dir).withWatermark("ts", "1 hour"))


MIRRORS["x_stream_dup_rate"] = dup_rate_stream


def srm_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_stream_srm: the identical conditional
    aggregate + chi-square projection (operators/streaming_batch.py
    srm_expr) over the event stream with a 1-hour watermark — hourly
    sample-ratio-mismatch alarms emitted as each hour finalizes."""
    from ..operators.streaming_batch import srm_expr

    return srm_expr(events_stream(spark, sf_dir).withWatermark("ts", "1 hour"))


MIRRORS["x_stream_srm"] = srm_stream


def tws_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas``: the arbitrary-stateful
    successor to applyInPandasWithState.  Differences that matter at
    scale, demonstrated here: state is a HANDLE of named primitives
    (this processor keeps one ValueState; ListState/MapState and
    event/processing-time timers come from the same handle) so each
    piece is read/written independently in the state store instead of
    round-tripping one monolithic tuple; TTL is per-state
    (``getValueState(..., ttlDurationMs=...)``) rather than one
    timeout for the whole key.  Lifetime profile by design, so no TTL
    here — the production guard for unbounded keys is the TTL arg.

    Runtime note: the TWS state-server protocol imports
    google.protobuf (a declared pyspark dependency this container
    omits); the equality test importorskips when absent.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n LONG, cents LONG, mx LONG")

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n, cents, mx = self._agg.get()
            else:
                n, cents, mx = 0, 0, 0
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    cents += int(pdf["cents"].sum())
                    mx = max(mx, int(pdf["cents"].max()))
            self._agg.update((n, cents, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                    "max_cents": [mx],
                }
            )

        def close(self) -> None:
            pass

    src = events_stream(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ProfileProcessor(),
        outputStructType=(
            "user_id long, n_events long, total_cents long, max_cents long"
        ),
        outputMode="Update",
        timeMode="None",
    )


MIRRORS["x_stream_tws_profile"] = tws_profile


def counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_stream_counter: the live counter table —
    purchase increments folded into per-customer exact-cents counters
    via the identical counter_fold_expr (stateless stream-static
    broadcast join before ONE per-key stateful aggregate; no
    watermark, monotone state — the HBase Increment column family
    maintained incrementally)."""
    from ..operators.streaming_batch import (
        counter_base,
        counter_deltas,
        counter_fold_expr,
    )

    return counter_fold_expr(
        counter_deltas(events_stream(spark, sf_dir)),
        counter_base(load_table(spark, sf_dir, "customer")),
    )


MIRRORS["x_stream_counter"] = counter_stream


def attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_funnel_attribution: per-user conversion
    segments carried as explicit state in applyInPandasWithState — a
    purchase CLOSES the open segment, emitting one append-mode row per
    channel that touched it (touch count, segment size, first/last
    flags); the state then resets for the next segment.  Touches after
    the last purchase stay in state and are never emitted, matching
    the batch key's "attribute to nothing" rule.

    Channel counts live in the state as a sorted-key JSON string (the
    channel domain is |event_types|-bounded, a few bytes); emitted
    rows are per-SEGMENT facts, so append mode is exact — a closed
    segment can never retract.  Same one-pass caveat as funnel_stream:
    exact when per-key event-time order across micro-batches is
    non-decreasing, which the file source's single availableNow batch
    satisfies.  The equality test folds channel rows into first/last-
    touch counts and linear micro-credit (c * (1000000 DIV n) — every
    touch in a segment carries the same exact credit) and compares
    against the batch key."""
    import json as _json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_attr(key, pdfs, state: GroupState):
        if state.exists:
            n, ft, lt, cc = state.get
            counts = _json.loads(cc)
        else:
            n, ft, lt, counts = 0, "", "", {}
        out = []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            ev = pd.concat(frames, ignore_index=True)
            ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
            ev = ev.sort_values(["ts_us", "event_id"], ignore_index=True)
            for etype in ev["event_type"]:
                if etype == "purchase":
                    if n > 0:
                        for ch, c in counts.items():
                            out.append(
                                (ch, c, n, int(ch == ft), int(ch == lt))
                            )
                    n, ft, lt, counts = 0, "", "", {}
                else:
                    n += 1
                    if n == 1:
                        ft = etype
                    lt = etype
                    counts[etype] = counts.get(etype, 0) + 1
        state.update((n, ft, lt, _json.dumps(counts, sort_keys=True)))
        yield pd.DataFrame(
            out,
            columns=["channel", "n_in_channel", "n_touches", "is_first", "is_last"],
        )

    return (
        events_stream(spark, sf_dir)
        .select("user_id", "event_id", "event_type", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_attr,
            outputStructType=(
                "channel string, n_in_channel long, n_touches long, "
                "is_first long, is_last long"
            ),
            stateStructType="n long, ft string, lt string, cc string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


MIRRORS["x_funnel_attribution"] = attribution_stream


def compaction_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_compact_major: the LSM semantic maintained
    INCREMENTALLY — cells stream in (base puts plus the gen1 re-put
    stream unioned in), TTL and tombstone masking apply as STATELESS
    filters (the batch key's tombstone join reduces to a pure
    predicate here: every masked (user%11, 'click') mark is witnessed
    by the very cells it masks, so existence is implied), and per-cell
    applyInPandasWithState keeps the 2 newest surviving versions —
    HBase's memstore + compaction picture, where the read path always
    sees the post-compaction state.

    Update-mode: each micro-batch re-emits a key's current top-2; with
    the file source's single availableNow batch there is exactly one
    update per cell, which the equality test compares row-for-row
    against the batch key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        "event_id",
    )
    gen1 = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id",
        "event_type",
        (F.col("ts_us") + 86400000000).alias("ts_us"),
        (F.col("cents") + 10).alias("cents"),
        (F.col("event_id") + 2000000000).alias("event_id"),
    )
    mark = F.unix_micros(F.lit("2024-01-15 00:00:00").cast("timestamp"))
    ttl = F.unix_micros(F.lit("2024-01-05 00:00:00").cast("timestamp"))
    live = (
        ev.unionByName(gen1)
        .filter(F.col("ts_us") >= ttl)
        .filter(
            ~(
                (F.col("user_id") % 11 == 0)
                & (F.col("event_type") == "click")
                & (F.col("ts_us") <= mark)
            )
        )
    )

    def update_cell(key, pdfs, state: GroupState):
        # state: the 2 newest surviving versions as flat longs
        # (cents may be NULL -> None; ts/eid are never NULL)
        vers = []
        if state.exists:
            t1, e1, c1, t2, e2, c2 = state.get
            vers.append((t1, e1, c1))
            if t2 is not None:
                vers.append((t2, e2, c2))
        for pdf in pdfs:
            for t, c, e in zip(pdf["ts_us"], pdf["cents"], pdf["event_id"]):
                vers.append((int(t), int(e), None if pd.isna(c) else int(c)))
        vers.sort(key=lambda v: (-v[0], -v[1]))
        vers = vers[:2]
        flat = [x for v in vers for x in v] + [None] * (6 - 3 * len(vers))
        state.update(tuple(flat))
        yield pd.DataFrame(
            [
                (key[0], key[1], i + 1, v[0], v[2])
                for i, v in enumerate(vers)
            ],
            columns=["user_id", "event_type", "version", "ts_us", "cents"],
        )

    return live.groupBy("user_id", "event_type").applyInPandasWithState(
        update_cell,
        outputStructType=(
            "user_id long, event_type string, version long, ts_us long, cents long"
        ),
        stateStructType="t1 long, e1 long, c1 long, t2 long, e2 long, c2 long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MIRRORS["x_compact_major"] = compaction_stream


def _fold_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    name: str,
    project: Callable[[DataFrame], DataFrame],
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """The foreachBatch fold the three runner mirrors share.

    ``table`` is staged once per source version into FOUR parquet files
    and read with maxFilesPerTrigger=1, so availableNow drains through
    four real micro-batches.  Each batch's ``partial`` (over the
    ``project``-ed stream) is folded into a versioned parquet snapshot
    with ``merge(current, partial)``, written new and then swapped in:
    readers never see a half-merged table.  Returns the final snapshot
    as a batch DataFrame; the runner applies its finish step.  The
    snapshot dir is keyed on (``name``, source) and cleared by every
    call, so a later call on the same source invalidates the frame an
    earlier one returned."""
    configure(spark)
    src = os.path.join(sf_dir, f"{table}.parquet")
    stage = staged(
        f"stream4_{table}",
        src,
        lambda d: spark.read.parquet(src).repartition(4).write.mode("overwrite").parquet(d),
    )
    stream = project(
        spark.readStream.schema(read_parquet(spark, stage).schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )

    out_root = sink_dir(f"{name}_snap", src)
    shutil.rmtree(out_root, ignore_errors=True)
    os.makedirs(out_root, exist_ok=True)
    snap = {"path": None}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = partial(batch_df)
        if snap["path"] is not None:
            part = merge(spark.read.parquet(snap["path"]), part)
        new_path = os.path.join(out_root, f"v{batch_id}")
        part.write.mode("overwrite").parquet(new_path)
        old = snap["path"]
        snap["path"] = new_path
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(out_root, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, f"{name} mirror")
    assert snap["path"] is not None, "no micro-batch ever fired"
    return spark.read.parquet(snap["path"])


def _sum_cnt(*keys: str) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Merge of count partials: sum ``cnt`` per ``keys``."""
    return lambda cur, part: (
        cur.unionAll(part).groupBy(*keys).agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def upsert_sink_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE-upsert mirror of x_stream_upsert_sink — the
    21st executed streaming equality (tests/test_streaming.py), and
    the only one exercising the foreachBatch SINK surface: the events
    stream drains through four micro-batches (_fold_stream); each
    batch folds its purchases with the batch key's own
    upsert_profile_fold and MERGEs into the versioned parquet snapshot
    via upsert_profile_merge (the Delta-less MERGE INTO pattern).
    Associativity of the fold monoid is the equality argument: any
    batch split reproduces the one-shot batch fold.

    Returns the final snapshot as a batch DataFrame."""
    from ..operators.streaming_batch import (
        upsert_profile_deltas,
        upsert_profile_fold,
        upsert_profile_merge,
    )

    return _fold_stream(
        spark,
        sf_dir,
        "events",
        "upsert",
        _with_ts,
        lambda batch: upsert_profile_fold(upsert_profile_deltas(batch)),
        upsert_profile_merge,
    )


MIRRORS["x_stream_upsert_sink"] = upsert_sink_run  # foreachBatch runner form


def hdr_sketch_stream_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch HDR-sketch merge mirror of x_agg_hdr_quantiles —
    the 22nd executed streaming equality, and the one that executes the
    sketch ALGEBRA incrementally: the orders table drains through four
    micro-batches (_fold_stream); each batch computes its own partial
    histogram (prio, b, sub, cnt) with operators/aggregates.hdr_histogram,
    and foreachBatch MERGES it into the versioned parquet sketch
    snapshot by summing bucket counts.  After the drain, hdr_quantiles
    derives p50/p95/p99 from the merged sketch — equal to the batch
    key's one-shot answer because bucket counts form a commutative
    monoid under addition, whatever the batch split.

    This is the production shape for streaming percentile dashboards:
    per-batch state is k-bounded (<=1024 buckets per group), the merge
    is associative so late/replayed batches fold in identically, and
    nothing ever sorts or retains the raw stream."""
    from ..operators.aggregates import hdr_histogram, hdr_quantiles

    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    sketch = _fold_stream(
        spark,
        sf_dir,
        "orders",
        "hdr",
        lambda orders: orders.select(F.col("o_orderpriority").alias("prio"), cents.alias("cents")),
        hdr_histogram,
        _sum_cnt("prio", "b", "sub"),
    )
    return hdr_quantiles(spark, sketch)


MIRRORS["x_agg_hdr_quantiles"] = hdr_sketch_stream_run  # foreachBatch runner


def decay_counter_stream_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch decayed-counter merge mirror of x_agg_decay_topk —
    the 23rd executed streaming equality, driving the decay algebra
    through IncrementalExecution: the events table drains through four
    micro-batches (_fold_stream), each micro-batch computes its own
    per-(user, day) count partial (operators/aggregates.decay_day_counts),
    and foreachBatch MERGES it into the versioned parquet snapshot by
    summing counts.  After the drain, decay_topk_from_counts derives
    the decayed scores and top-20 rank from the merged day counts —
    equal to the batch key's one-shot answer because day counts form a
    commutative monoid under addition, whatever the batch split.

    This is the production trending-counter shape: per-key state is
    bounded (<= K+1 live day buckets per user after vacuuming expired
    days), the merge is associative so late/replayed batches fold in
    identically, and the raw stream is never retained."""
    from ..operators.aggregates import decay_day_counts, decay_topk_from_counts

    counts = _fold_stream(
        spark,
        sf_dir,
        "events",
        "decay",
        lambda events: _with_ts(events).select("user_id", F.unix_micros("ts").alias("us")),
        decay_day_counts,
        _sum_cnt("user_id", "day"),
    )
    return decay_topk_from_counts(counts)


MIRRORS["x_agg_decay_topk"] = decay_counter_stream_run  # foreachBatch runner
