"""§2.8 streaming mirrors: prove the batch expressions run incrementally
and (where the sink mode allows a full view) agree with the batch twin.
"""

from __future__ import annotations

import os

import pytest

from hbasemapreduce_spark.registry import all_specs
from hbasemapreduce_spark.streaming.mirrors import run_mirror_to_memory

from .conftest import SF_DIR


@pytest.mark.parametrize("key", ["stream_tumbling", "stream_sliding"])
def test_stream_window_mirror_matches_batch(spark, key):
    got = run_mirror_to_memory(spark, SF_DIR, key, output_mode="complete")
    batch = all_specs()[key].fn(spark, SF_DIR)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b


def test_stream_session_counts(spark):
    got = run_mirror_to_memory(spark, SF_DIR, "stream_session", output_mode="complete")
    rows = got.collect()
    assert len(rows) > 0
    # same number of (user, session) groups as the batch sessionizer
    batch_n = all_specs()["stream_session"].fn(spark, SF_DIR).count()
    assert len(rows) == batch_n


def test_stream_dedup_append(spark):
    got = run_mirror_to_memory(spark, SF_DIR, "stream_dedup", output_mode="append")
    batch_n = all_specs()["stream_dedup"].fn(spark, SF_DIR).count()
    assert got.count() == batch_n


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    # File sink + checkpoint: the first availableNow run drains the
    # staged input; a RESTART against the same checkpoint must commit
    # nothing new (source offsets are in the checkpoint — the
    # exactly-once recovery contract a production pipeline relies on).
    from hbasemapreduce_spark.streaming.mirrors import MIRRORS

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        q = (
            MIRRORS["stream_dedup"](spark, SF_DIR)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "stream did not drain within 300s"
        finally:
            q.stop()  # never leak an active stream into the shared session

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()
    n2 = spark.read.parquet(out).count()
    assert n1 > 0 and n2 == n1


def test_stream_stateful_matches_batch(spark):
    # applyInPandasWithState profile must agree with the batch aggregate
    # (single availableNow pass: every user's final update is its only
    # update in the memory sink).
    got = run_mirror_to_memory(spark, SF_DIR, "x_stream_stateful", output_mode="update")
    batch = all_specs()["x_stream_stateful"].fn(spark, SF_DIR)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b


def test_stream_interval_join_matches_batch(spark):
    # Stream-stream inner join: eager per-batch emission means one
    # availableNow pass must produce exactly the batch twin's pairs.
    got = run_mirror_to_memory(spark, SF_DIR, "x_stream_interval_join", output_mode="append")
    batch = all_specs()["x_stream_interval_join"].fn(spark, SF_DIR)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_stream_hourly_top_foreachbatch_matches_batch(spark, tmp_path):
    # foreachBatch rank-on-aggregate: one availableNow pass must equal
    # the batch twin exactly
    from hbasemapreduce_spark.streaming.mirrors import run_hourly_top_foreachbatch

    got = run_hourly_top_foreachbatch(spark, SF_DIR, str(tmp_path / "top"))
    batch = all_specs()["x_stream_hourly_top"].fn(spark, SF_DIR)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_stream_ohlc_matches_batch(spark):
    # The incremental 6-hour OHLC bars must equal the batch operator's
    # bars exactly (complete mode exposes the full aggregate view).
    got = run_mirror_to_memory(spark, SF_DIR, "x_time_ohlc", output_mode="complete")
    batch = all_specs()["x_time_ohlc"].fn(spark, SF_DIR).select(
        "event_type", "ws", "open", "high", "low", "close", "n_events"
    )
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b


def test_stream_session_paths_matches_batch(spark):
    # Session-window path extraction must reproduce the batch twin's
    # per-path session counts exactly: aggregate the per-session sink
    # rows (one path3 per finalized session) and compare.
    import pyspark.sql.functions as F

    got = run_mirror_to_memory(spark, SF_DIR, "x_session_paths", output_mode="complete")
    g = {tuple(r) for r in got.groupBy("path3").agg(F.count("*").alias("n_sessions")).collect()}
    b = {tuple(r) for r in all_specs()["x_session_paths"].fn(spark, SF_DIR).collect()}
    assert g == b and len(g) > 0


def test_stream_funnel_matches_batch(spark):
    # Per-user funnel state: stage-k count = users whose final update
    # reached stage >= k; must equal the batch funnel's n_users column.
    got = run_mirror_to_memory(spark, SF_DIR, "x_funnel_conversion", output_mode="update")
    stages = [r.stage for r in got.collect()]
    batch = {
        r.stage: r.n_users
        for r in all_specs()["x_funnel_conversion"].fn(spark, SF_DIR).collect()
    }
    for k in (1, 2, 3):
        assert sum(1 for s in stages if s >= k) == batch[k], f"stage {k}"


def test_stream_cdc_apply_matches_batch(spark):
    # Per-key LWW state after draining the log must equal the batch
    # argmax aggregate; tombstoned keys (last event 'error') are
    # dropped sink-side, mirroring the batch filter.
    got = run_mirror_to_memory(spark, SF_DIR, "x_etl_cdc_apply", output_mode="update")
    g = {
        (r.user_id, r.last_type, r.last_value, r.last_event_id)
        for r in got.collect()
        if r.last_type != "error"
    }
    b = {tuple(r) for r in all_specs()["x_etl_cdc_apply"].fn(spark, SF_DIR).collect()}
    assert g == b and len(g) > 0


def test_stream_fill_forward_matches_batch(spark):
    # Stateful LOCF: the streaming fill (carried value in explicit
    # per-user state) must reproduce the batch window's k_filled for
    # every single row.
    got = run_mirror_to_memory(
        spark, SF_DIR, "x_time_fill_forward", output_mode="update"
    )
    g = {
        (r.user_id, r.event_id, r.k_filled) for r in got.collect()
    }
    b = {
        (r.user_id, r.event_id, r.k_filled)
        for r in all_specs()["x_time_fill_forward"].fn(spark, SF_DIR).collect()
    }
    assert g == b and len(g) > 0


def test_quality_monitor_mirror_equals_batch(spark):
    got = run_mirror_to_memory(spark, SF_DIR, "x_quality_monitor", output_mode="complete")
    from hbasemapreduce_spark.registry import all_specs

    batch = all_specs()["x_quality_monitor"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b and len(g) > 0


def test_stream_chained_agg_matches_batch(spark):
    """Two chained stateful aggregates (hourly counts -> daily max) in
    one append-mode query equal the batch twin exactly — including the
    finalization contract (trailing unfinalized day withheld by both)."""
    got = run_mirror_to_memory(spark, SF_DIR, "x_stream_chained_agg", output_mode="append")
    from hbasemapreduce_spark.registry import all_specs

    want = all_specs()["x_stream_chained_agg"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0


def test_stream_join_dim_matches_batch(spark):
    """Stream-static broadcast enrichment equals the batch twin exactly
    (stateless join + complete-mode aggregate)."""
    got = run_mirror_to_memory(spark, SF_DIR, "x_stream_join_dim", output_mode="complete")
    from hbasemapreduce_spark.registry import all_specs

    want = all_specs()["x_stream_join_dim"].fn(spark, SF_DIR)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dup_rate_matches_batch(spark):
    """The hourly duplicate-rate monitor (two chained stateful aggs) in
    append mode equals the batch twin exactly, including the withheld
    trailing hour."""
    got = run_mirror_to_memory(spark, SF_DIR, "x_stream_dup_rate", output_mode="append")
    from hbasemapreduce_spark.registry import all_specs

    want = all_specs()["x_stream_dup_rate"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert g == b and len(g) > 0


def test_stream_srm_matches_batch(spark):
    """The hourly sample-ratio-mismatch monitor in append mode equals
    the batch twin exactly, including the withheld trailing hour."""
    got = run_mirror_to_memory(spark, SF_DIR, "x_stream_srm", output_mode="append")
    from hbasemapreduce_spark.registry import all_specs

    want = all_specs()["x_stream_srm"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert g == b and len(g) > 0


def test_stream_transform_with_state_matches_batch(spark):
    # Spark 4 transformWithStateInPandas (StatefulProcessor + named
    # ValueState) must agree with the batch aggregate — same single
    # availableNow-pass argument as the applyInPandasWithState test.
    # The TWS state-server protocol speaks protobuf, which this
    # container does not ship (no installs allowed) — skip cleanly
    # there; the mirror runs wherever pyspark's declared protobuf
    # dependency is present.
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state protocol needs protobuf (not in container)",
    )
    got = run_mirror_to_memory(
        spark, SF_DIR, "x_stream_tws_profile", output_mode="update"
    )
    batch = all_specs()["x_stream_tws_profile"].fn(spark, SF_DIR)
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_tws_gate_is_exactly_the_protobuf_dep(spark):
    """Pin of the FROZEN r10 decision (VERDICT r9 item 7, SURVEY §2.8):
    x_stream_tws_profile's streaming equality is API-evidence-only in
    this container PERMANENTLY, and the gate is exactly pyspark's
    declared protobuf dependency — nothing else.  Two directions:
    (a) if google.protobuf is absent, the mirror test above is the
    expected importorskip (the pinned container state); (b) if it is
    PRESENT (any deployment shipping pyspark's declared deps), the
    equality must execute — this test fails loudly so the skip can
    never linger as a stale artifact where the proof could run."""
    import importlib.util

    try:  # find_spec raises when the parent 'google' package is absent
        have_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        have_protobuf = False
    if have_protobuf:
        # the gate no longer fires: the equality proof must execute —
        # delegate to the real test so the claim upgrades automatically
        test_stream_transform_with_state_matches_batch(spark)
    else:
        # the pinned container state: pyspark itself declares protobuf
        # for the TWS state protocol, so the skip is the dependency's
        # absence and not a defect in this repo's mirror — prove the
        # TWS API surface the mirror targets actually exists in this
        # pyspark (filesystem check: find_spec would import the parent
        # package, which itself requires the missing protobuf), and
        # that the mirror stays registered without protobuf
        import os

        import pyspark

        assert os.path.exists(
            os.path.join(
                os.path.dirname(pyspark.__file__),
                "sql",
                "streaming",
                "stateful_processor.py",
            )
        )
        from hbasemapreduce_spark.streaming import mirrors

        assert "x_stream_tws_profile" in mirrors.MIRRORS


def test_stream_counter_matches_batch(spark):
    """The live counter table (stream-static join + per-key stateful
    fold, no watermark) equals the batch fold exactly — every touched
    customer's counter, segment, and increment count."""
    got = run_mirror_to_memory(spark, SF_DIR, "x_stream_counter", output_mode="complete")
    want = all_specs()["x_stream_counter"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert g == b and len(g) > 0


def test_stream_attribution_matches_batch(spark):
    # Per-user segment state: append-mode channel rows from closed
    # segments fold into the exact batch census — first/last-touch
    # counts and linear micro-credit (every touch in a segment carries
    # the identical 1000000 DIV n credit, so channel credit is
    # c * (1000000 DIV n)).
    from collections import defaultdict

    got = run_mirror_to_memory(
        spark, SF_DIR, "x_funnel_attribution", output_mode="append"
    )
    acc = defaultdict(lambda: [0, 0, 0, 0])  # ft, lt, linear, touches
    for r in got.collect():
        a = acc[r.channel]
        a[0] += r.is_first
        a[1] += r.is_last
        a[2] += r.n_in_channel * (1_000_000 // r.n_touches)
        a[3] += r.n_in_channel
    batch = {
        r.channel: [
            r.first_touch_conv,
            r.last_touch_conv,
            r.linear_credit_micro,
            r.n_touches_total,
        ]
        for r in all_specs()["x_funnel_attribution"].fn(spark, SF_DIR).collect()
    }
    assert dict(acc) == batch


def test_stream_compaction_matches_batch(spark):
    # Per-cell top-2 version state after draining the cell stream must
    # equal the batch major compaction row-for-row (single availableNow
    # batch -> exactly one update per cell).
    got = run_mirror_to_memory(
        spark, SF_DIR, "x_compact_major", output_mode="update"
    )
    g = {
        (r.user_id, r.event_type, r.version, r.ts_us, r.cents)
        for r in got.collect()
    }
    b = {
        (r.user_id, r.event_type, r.version, r.ts_us, r.cents)
        for r in all_specs()["x_compact_major"].fn(spark, SF_DIR).collect()
    }
    assert g == b


def test_stream_upsert_foreachbatch_matches_batch(spark):
    """The foreachBatch MERGE-upsert mirror — four forced micro-batches
    (maxFilesPerTrigger=1 over a 4-file staging), versioned parquet
    snapshot merge — must equal the batch key's one-shot fold exactly:
    the associative-monoid argument (count/sum/struct-max) made
    executable.  The 21st executed streaming equality, and the only
    one driving the foreachBatch sink surface."""
    from hbasemapreduce_spark.streaming.mirrors import upsert_sink_run

    got = upsert_sink_run(spark, SF_DIR)
    want = all_specs()["x_stream_upsert_sink"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert g == b and len(g) > 0


def test_fold_mirror_leaves_no_per_process_snapshot_dir(spark):
    """The fold mirrors' snapshot root is keyed on (mirror, source), not
    on the process: a per-pid dir would be left behind by every process
    that ran a mirror."""
    import glob

    from hbasemapreduce_spark.functions.staging import SCRATCH
    from hbasemapreduce_spark.streaming.mirrors import upsert_sink_run

    upsert_sink_run(spark, SF_DIR).collect()
    assert glob.glob(os.path.join(SCRATCH, f"*_snap_{os.getpid()}")) == []


def test_hdr_sketch_foreachbatch_matches_batch(spark):
    """The foreachBatch HDR-sketch merge mirror — four forced
    micro-batches over a 4-file orders staging, each folding its
    partial histogram into a versioned parquet sketch snapshot — must
    answer p50/p95/p99 exactly like x_agg_hdr_quantiles' one-shot
    sketch: bucket counts form a commutative monoid under addition, so
    ANY batch split merges to the same histogram.  The 22nd executed
    streaming equality, and the one driving the sketch algebra through
    IncrementalExecution."""
    from hbasemapreduce_spark.streaming.mirrors import hdr_sketch_stream_run

    got = hdr_sketch_stream_run(spark, SF_DIR)
    want = all_specs()["x_agg_hdr_quantiles"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert g == b and len(g) == 15


def test_decay_counter_foreachbatch_matches_batch(spark):
    """The foreachBatch decayed-counter merge mirror — four forced
    micro-batches over a 4-file events staging, each folding its
    per-(user, day) count partial into a versioned parquet snapshot —
    must rank the same top-20 with the same exact scores as
    x_agg_decay_topk's one-shot answer: day counts form a commutative
    monoid under addition, so ANY batch split merges identically.  The
    23rd executed streaming equality."""
    from hbasemapreduce_spark.streaming.mirrors import decay_counter_stream_run

    got = decay_counter_stream_run(spark, SF_DIR)
    want = all_specs()["x_agg_decay_topk"].fn(spark, SF_DIR)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert g == b and 0 < len(g) <= 20
