#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default:
the cores this process may run on).

Output protocol (VERDICT r2, items 2 and 6): the grading driver captures
only a ~2 KB TAIL of stdout, and r1/r2's single compact line with ~100
per-query timings exceeded it (head — including the headline "value" —
was cut off, "parsed": null both rounds).  So:

- per-query timings and executor CPU-seconds go to an EARLIER stdout
  line (prefix "DETAIL ") and to BENCH_DETAIL.json next to this script;
- the FINAL stdout line is a small (<1 KB) summary that always fits the
  tail (`summary_line`).

Every pass is one `etlbench.harness.Runner.run_key` call in the session
of `etlbench.harness.start_spark`: build the DataFrame, then a noop
write (the full plan executes, nothing is collected to the driver), no
caching, warm session (JVM startup is reported separately as
"startup_sec").  On top of it:

- fault-isolated two-phase timing (`time_queries`): phase 1 takes one
  pass over every key; phase 2 re-times every key over 1 s cheapest-first
  to a median of 3 while the wall budget lasts, and keys over
  ALWAYS_RETIME_SEC even after it is spent;
- per-key executor CPU-seconds next to wall time, read from Spark's
  status store for the pass's job groups right after the pass, outside
  the timed region.  CPU time is far less sensitive than wall time to
  hypervisor steal;
- after timing, one traced pass per key that did not fail, recorded in
  BENCH_DETAIL.json under "layers": build / plan / exec seconds, jobs
  (``jobs.build`` ran while building), stages, tasks, shuffle, spill and
  I/O bytes, Python-worker time and the final plan's shape counts.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from etlbench.harness import Runner, start_spark, stop_spark  # noqa: E402
from hbasemapreduce_spark.catalog import configure  # noqa: E402
from hbasemapreduce_spark.registry import all_specs  # noqa: E402

RETIME_THRESHOLD_SEC = 1.0
RETIME_PASSES = 3  # median-of-3 for queries over the threshold
# VERDICT r6 item 3: a first pass this slow is ALWAYS re-timed, even
# after the global budget is spent — round 6's bench tail had passes=1
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


def time_queries(
    spark, specs, sf_dir: str
) -> tuple[dict[str, float], dict[str, int], dict[str, str], dict[str, float], dict[str, dict]]:
    """Time every spec with per-query fault isolation.

    Returns (timings, passes, errors, cpu_sec, layers): median wall
    seconds, passes taken, the exception line of each key that failed
    its first pass, median executor CPU-seconds over the key's
    passes, and the traced pass's record of each timed key.

    Fault isolation (VERDICT r3 item 2): in round 3 a single plan-time
    AnalysisException aborted the whole bench (rc=1, zero timings).  One broken query must cost exactly one entry in `errors`,
    never the other timings; a failed status-store read costs only that
    key's CPU figure or layer record.  Unit-tested with deliberately
    broken specs in tests/test_bench.py.
    """
    runner = Runner(spark, specs, sf_dir)
    cpu: dict[str, list[float]] = {}

    def run_once(key: str, pass_no: int):
        r = runner.run_key(key, pass_no, traced=False)
        if r.error is None:
            try:  # a telemetry read must never void a timing
                runner.status.drain()
                cpu_s = runner.status.counters([r.group("build"), r.group("exec")], full=False)["cpu_s"]
                cpu.setdefault(key, []).append(cpu_s)
            except Exception as e:  # noqa: BLE001
                print(f"CPU READ ERROR {key}@{pass_no}: {type(e).__name__}: {e}"[:300], file=sys.stderr)
        return r

    t_loop = time.perf_counter()
    timings: dict[str, float] = {}
    passes: dict[str, int] = {}
    errors: dict[str, str] = {}

    # Two-phase schedule (VERDICT r7 item 8: round 7's bench carried 184/287
    # keys at passes=1 because interleaved re-timing burned the budget
    # on whichever slow keys came FIRST in emission order).  Phase 1
    # takes exactly one guaranteed pass over every key; phase 2 spends
    # whatever budget remains adding 2 more passes to every key over
    # the re-time threshold, CHEAPEST FIRST — maximizing the COUNT of
    # keys that report a median rather than the depth on a few.
    for key in specs:
        r = run_once(key, 1)
        if r.error is None:
            timings[key], passes[key] = round(r.wall_s, 3), 1
        else:  # the exception's first line: its message may span lines
            errors[key] = next(ln for ln in r.error.splitlines()[1:] if ln[:1].strip())[:300]

    retime = sorted(
        (k for k, t in timings.items() if t > RETIME_THRESHOLD_SEC),
        key=lambda k: timings[k],
    )
    for key in retime:
        in_budget = (time.perf_counter() - t_loop) < BUDGET_SEC
        if not in_budget and timings[key] <= ALWAYS_RETIME_SEC:
            continue
        runs = [run_once(key, p) for p in range(2, RETIME_PASSES + 1)]
        if any(r.error for r in runs):
            print(f"RETIME ERROR {key}: phase-1 timing kept", file=sys.stderr)
            continue
        samples = [timings[key]] + [r.wall_s for r in runs]
        timings[key] = round(statistics.median(samples), 3)
        passes[key] = len(samples)

    layers: dict[str, dict] = {}
    for key in timings:
        try:  # run_key reads the traced counters outside its own try
            r = runner.run_key(key, RETIME_PASSES + 1, traced=True)
        except Exception as e:  # noqa: BLE001
            print(f"LAYER READ ERROR {key}: {type(e).__name__}: {e}"[:300], file=sys.stderr)
            continue
        if r.error is None:
            record = {"build_s": r.build_s, "plan_s": r.plan_s, "exec_s": r.exec_s, **r.counters}
            layers[key] = {k: round(v, 3) for k, v in record.items()}
    cpu_sec = {k: round(statistics.median(v), 3) for k, v in cpu.items()}
    return timings, passes, errors, cpu_sec, layers


def summary_line(
    timings: dict[str, float],
    errors: dict[str, str],
    cpu_sec: dict[str, float],
    sf: float | None,
    startup_sec: float,
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
    }
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1024, f"final bench line too long ({len(line)} B)"
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = start_spark(cpus)
    configure(spark)
    startup = time.perf_counter() - t0

    specs = all_specs()
    # Warm-up (untimed): exercises the noop writer, parquet footer reads,
    # codegen and the Python-worker pool so the first timed query isn't
    # charged for one-time session costs.  run_key isolates its errors.
    warm = Runner(spark, specs, sf_dir)
    for wk in ("agg_rowcount", "scan_project", "udf_scalar_pandas"):
        warm.run_key(wk, 0, traced=False)

    timings, passes, errors, cpu_sec, layers = time_queries(spark, specs, sf_dir)

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
        "cpus": cpus,  # r13: runs are only comparable same-cpu
        "n_queries": len(timings),
        "n_errors": len(errors),
        "startup_sec": round(startup, 2),
        "executor_cpu_sec": round(sum(cpu_sec.values()), 3),
    }
    with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as f:
        json.dump({**detail, "layers": layers}, f, indent=1, sort_keys=True)
    # Earlier line: full per-query map for humans / logs that keep stdout;
    # the per-key layer records stay in BENCH_DETAIL.json.
    print("DETAIL " + json.dumps(detail, separators=(",", ":")))
    print(summary_line(timings, errors, cpu_sec, sf_val, startup))
    stop_spark(spark)


if __name__ == "__main__":
    main()
