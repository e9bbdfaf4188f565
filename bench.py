#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output protocol (VERDICT r2, items 2 and 6): the grading driver captures
only a ~2 KB TAIL of stdout, and r1/r2's single compact line with ~100
per-query timings exceeded it (head — including the headline "value" —
was cut off, "parsed": null both rounds).  So:

- per-query timings and executor CPU-seconds go to an EARLIER stdout
  line (prefix "DETAIL ") and to BENCH_DETAIL.json next to this script;
- the FINAL stdout line is a small (<1 KB) summary that always fits the
  tail (`summary_line`).

Timing rules (SURVEY.md §5.5): one action per query via a noop-format
write (full plan executes, nothing is collected to the driver — collect
would measure Python serialization, not the engine), no caching, warm
session (JVM startup excluded; reported separately as "startup_sec").

The harness has three parts:

- fault-isolated two-phase timing (`time_queries`): phase 1 takes one
  pass over every key; phase 2 re-times every key over 1 s cheapest-first
  to a median of 3 while the wall budget lasts, and keys over
  ALWAYS_RETIME_SEC even after it is spent;
- one multi-threaded CPU probe (`cpu_probe_mt`) before and after timing,
  kept as a box-speed label;
- per-key executor CPU-seconds next to wall time.  Each pass runs under
  the job group ``<key>@<pass>``, whose CPU time is read from Spark's
  status store right after the pass, outside the timed region.  CPU
  time is far less sensitive than wall time to hypervisor steal.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from etlbench.harness import StatusStore  # noqa: E402
from hbasemapreduce_spark.catalog import configure  # noqa: E402
from hbasemapreduce_spark.registry import all_specs  # noqa: E402

RETIME_THRESHOLD_SEC = 1.0
RETIME_PASSES = 3  # median-of-3 for queries over the threshold
# VERDICT r6 item 3: a first pass this slow is ALWAYS re-timed, even
# after the global budget is spent — BENCH_r06's tail had passes=1
# spikes (x_stats_corr 5.88 s on a ONE-hash-aggregate plan) that were
# indistinguishable from regressions.  Three extra passes on the few
# keys this slow cost well under 30 s total.
ALWAYS_RETIME_SEC = 2.5
# Global wall budget (r5): on a slow box most keys cross the 1 s retime
# threshold, tripling wall time until the loop blows any outer timeout
# and records NOTHING.  A first pass for every key always completes;
# median-of-3 re-timing stops once the loop has spent the budget (those
# keys report their single first pass, `passes` records which).
BUDGET_SEC = 900.0
# Janino compile cache (r12): the default 100 entries thrashes under this
# registry — one full pass generates ~1100 codegen units, so every
# re-timed pass recompiled every query (876 recompiles and 60 s for an
# 80-key re-pass at the default vs ~0 and 28-31 s at 5000).  Static
# conf, so it must be set before session start.
CODEGEN_CACHE_ENTRIES = 5000


def cpu_probe_mt(threads: int = 32) -> float:
    """Multi-threaded CPU probe (seconds, lower = faster): `threads`
    concurrent numpy sorts (GIL-released), sized to saturate every
    vCPU at once.  Round-7 finding: a box window measured 0.98 s/q vs
    the 0.80 record with an identical single-thread probe — only a
    full-width load sees the hypervisor steal that every Spark stage
    is exposed to.  Recorded before and after timing as a label."""
    import threading

    import numpy as np

    base = np.random.default_rng(7).random(2_000_000)
    arrays = [base.copy() for _ in range(threads)]  # memcpy, not re-gen

    def work(a):
        for _ in range(6):  # ~0.3 s of full-width saturation per rep
            np.sort(a)

    warm = [threading.Thread(target=np.sort, args=(a,)) for a in arrays]
    for th in warm:  # fault pages in parallel before timing
        th.start()
    for th in warm:
        th.join()

    best = float("inf")
    for _ in range(2):  # min-of-2: the probe itself is ~0.5 s
        ts = [threading.Thread(target=work, args=(a,)) for a in arrays]
        t = time.perf_counter()
        for th in ts:
            th.start()
        for th in ts:
            th.join()
        best = min(best, time.perf_counter() - t)
    return round(best, 3)


def time_queries(
    spark, specs, sf_dir: str
) -> tuple[dict[str, float], dict[str, int], dict[str, str], dict[str, float]]:
    """Time every spec with per-query fault isolation.

    Returns (timings, passes, errors, cpu_sec): median wall seconds,
    passes taken, the error of each key that failed its first pass, and
    median executor CPU-seconds over the key's passes.

    Fault isolation (VERDICT r3 item 2): in round 3 a single plan-time
    AnalysisException aborted the whole bench (BENCH_r03 rc=1, zero
    timings).  One broken query must cost exactly one entry in `errors`,
    never the other timings — every pass is wrapped, errors recorded
    per-key.  Unit-tested with a deliberately-broken spec in
    tests/test_bench.py.
    """
    sc = spark.sparkContext
    status = StatusStore(spark)
    cpu: dict[str, list[float]] = {}

    def run_once(key: str, pass_no: int) -> float:
        group = f"{key}@{pass_no}"
        sc.setJobGroup(group, key)
        t = time.perf_counter()
        specs[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t
        try:  # a telemetry read must never void a timing
            status.drain()
            cpu_s = status.counters([group], full=False)["cpu_s"]
            cpu.setdefault(key, []).append(cpu_s)
        except Exception as e:  # noqa: BLE001
            print(
                f"CPU READ ERROR {group}: {type(e).__name__}: {e}"[:300],
                file=sys.stderr,
            )
        return elapsed

    t_loop = time.perf_counter()
    timings: dict[str, float] = {}
    passes: dict[str, int] = {}
    errors: dict[str, str] = {}

    # Two-phase schedule (VERDICT r7 item 8: BENCH_r07 carried 184/287
    # keys at passes=1 because interleaved re-timing burned the budget
    # on whichever slow keys came FIRST in emission order).  Phase 1
    # takes exactly one guaranteed pass over every key; phase 2 spends
    # whatever budget remains adding 2 more passes to every key over
    # the re-time threshold, CHEAPEST FIRST — maximizing the COUNT of
    # keys that report a median rather than the depth on a few.
    for key in specs:
        try:
            timings[key] = round(run_once(key, 1), 3)
            passes[key] = 1
        except Exception as e:  # noqa: BLE001 — isolate ANY per-query failure
            errors[key] = f"{type(e).__name__}: {e}"[:300]
            print(f"ERROR {key}: {errors[key]}", file=sys.stderr)

    retime = sorted(
        (k for k, t in timings.items() if t > RETIME_THRESHOLD_SEC),
        key=lambda k: timings[k],
    )
    for key in retime:
        in_budget = (time.perf_counter() - t_loop) < BUDGET_SEC
        if not in_budget and timings[key] <= ALWAYS_RETIME_SEC:
            continue
        try:
            samples = [timings[key]] + [
                run_once(key, p) for p in range(2, RETIME_PASSES + 1)
            ]
            timings[key] = round(statistics.median(samples), 3)
            passes[key] = len(samples)
        except Exception as e:  # noqa: BLE001 — keep the phase-1 timing
            print(
                f"RETIME ERROR {key} (phase-1 timing kept): "
                f"{type(e).__name__}: {e}"[:300],
                file=sys.stderr,
            )
    sc.setLocalProperty("spark.jobGroup.id", None)
    cpu_sec = {k: round(statistics.median(v), 3) for k, v in cpu.items()}
    return timings, passes, errors, cpu_sec


def summary_line(
    timings: dict[str, float],
    errors: dict[str, str],
    cpu_sec: dict[str, float],
    sf: float | None,
    startup_sec: float,
    cpu_mt_sec: list[float],
) -> str:
    """The FINAL stdout line: always inside the driver's ~2 KB tail."""
    summary = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        # top-5 slowest; the full map is in BENCH_DETAIL.json
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5]),
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "startup_sec": round(startup_sec, 2),
        "executor_cpu_sec": round(sum(cpu_sec.values()), 3),
        # box-speed label: multi-threaded CPU probe before and after timing
        "cpu_mt_sec": cpu_mt_sec,
    }
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1024, f"final bench line too long ({len(line)} B)"
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    t0 = time.perf_counter()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("hbasemapreduce_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")  # keep stdout clean
        .config("spark.driver.memory", "16g")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The status store evicts past 1000 jobs/stages, skipped stages
        # first, and a key whose stage was evicted has no CPU figure.
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    configure(spark)
    startup = time.perf_counter() - t0

    specs = all_specs()
    # Warm-up (untimed): exercises the noop writer, parquet footer reads,
    # codegen and the Python-worker pool so the first timed query isn't
    # charged for one-time session costs.
    for wk in ("agg_rowcount", "scan_project", "udf_scalar_pandas"):
        try:
            specs[wk].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — warm-up must never abort the run
            print(f"WARMUP ERROR {wk}: {e}", file=sys.stderr)

    cpu_mt_pre = cpu_probe_mt()
    timings, passes, errors, cpu_sec = time_queries(spark, specs, sf_dir)
    cpu_mt = [cpu_mt_pre, cpu_probe_mt()]

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf else None

    detail = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "errors": errors,
        "cpu_sec": cpu_sec,
        "sf": sf_val,
        "cpus": int(cpus),  # r13: archives are only comparable same-cpu
        "n_queries": len(timings),
        "n_errors": len(errors),
        "startup_sec": round(startup, 2),
        "executor_cpu_sec": round(sum(cpu_sec.values()), 3),
        "cpu_mt_sec": cpu_mt,
    }
    with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # VERDICT r6 item 5: BENCH_DETAIL.json is overwritten each run and
    # BENCH_r0N.json keeps only the top-5 slowest, so per-key
    # round-over-round deltas required git archaeology.  Archive the
    # full detail under the upcoming round's number (1 + the highest
    # existing driver BENCH_r0N artifact); the driver's own run is the
    # last one before snapshot, so its detail wins.
    rounds = [
        int(m.group(1))
        for bp in glob.glob(os.path.join(HERE, "BENCH_r*.json"))
        for m in [re.search(r"BENCH_r(\d+)\.json$", bp)]
        if m
    ]
    nxt = (max(rounds) + 1) if rounds else 1
    # only the canonical sf belongs in the round archive: a builder-side
    # sf0.001 verification drive must not clobber the sf0.1 record
    # (it did once, r7 — restored from git)
    if sf_val is not None and abs(sf_val - 0.1) < 1e-9:
        with open(os.path.join(HERE, f"BENCH_DETAIL_r{nxt:02d}.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    # Earlier line: full per-query map for humans / logs that keep stdout.
    print("DETAIL " + json.dumps(detail, separators=(",", ":")))
    print(summary_line(timings, errors, cpu_sec, sf_val, startup, cpu_mt))
    spark.stop()


if __name__ == "__main__":
    main()
