"""Run one workload of the batch-ETL benchmark; print its metrics as one JSON line.

    python3 etlbench/run.py --workload hbase_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process: start a Spark session at
local[nproc], run an untimed first pass that checks every key's output
digest, then timed passes over the workload's keys (order shuffled by
the seed) for ``--seconds``.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes, prints the
per-layer metrics and writes the spans to ``.benchwork/trace/``.
Workloads, their keys and data scale are in ``workloads.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

UNITS = {"setup_s": "s", "wall_s": "s", "executor_cpu_s": "s", "peak_exec_memory_mb": "MB"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    return "ratio" if name == "core_busy_share" else "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-root", help="holds one directory per scale (default: the program's)")
    ap.add_argument("--sf", help="override the workload's data scale, e.g. sf0.001")
    args = ap.parse_args(argv)

    workloads = harness.load_workloads()
    wl = workloads.get(args.workload)
    if wl is None:
        print(f"etlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(harness.ROOT))
    try:
        from hbasemapreduce_spark import registry
        from hbasemapreduce_spark.catalog import configure
    except ImportError as e:
        print(f"etlbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2
    sf = args.sf or wl["sf"]
    sf_dir = Path(args.data_root or harness.default_data_root()) / sf
    if not (sf_dir / "lineitem.parquet").exists():
        print(f"etlbench: no input tables in {sf_dir}", file=sys.stderr)
        return 2
    specs = registry.all_specs()
    unknown = [k for k in wl["keys"] if k not in specs]
    if unknown:
        print(f"etlbench: keys not in the registry: {unknown}", file=sys.stderr)
        return 2
    expected = harness.load_digests().get(sf, {})
    cores = len(os.sched_getaffinity(0))
    rng = random.Random(args.seed)
    keys = list(wl["keys"])
    rng.shuffle(keys)

    spark = harness.start_spark(cores)
    try:
        configure(spark)
        session_s = time.perf_counter() - T0
        runner = harness.Runner(spark, specs, str(sf_dir))
        compiles0, t_first = runner.status.compiles(), time.perf_counter()
        failures = runner.check_pass(keys, expected)
        first_pass_s = time.perf_counter() - t_first
        setup_s = time.perf_counter() - T0
        compiles = runner.status.compiles() - compiles0
        passes = runner.timed_passes(keys, args.seconds, rng, bool(args.trace))
        runner.read_counters(passes)
        print(f"etlbench: session {session_s:.1f} s, first pass {first_pass_s:.1f} s, "
              f"{len(passes)} passes in {time.perf_counter() - T0 - setup_s:.1f} s", file=sys.stderr)
    finally:
        harness.stop_spark(spark)

    for p in passes:
        for r in p:
            if r.error and r.key not in failures:
                failures[r.key] = r.error
    for key, why in failures.items():
        print(f"etlbench: FAILED {key}: {why.strip().splitlines()[-1]}", file=sys.stderr)

    if args.trace:
        # one metric pair per module any workload touches, so every run reports the same names
        layers = sorted({harness.module_of(specs[k]) for w in workloads.values() for k in w["keys"]})
        values = harness.per_layer(passes, layers, cores, first_pass_s, compiles)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
        out = harness.WORK / "trace" / f"{args.workload}-seed{args.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "sf_dir": str(sf_dir), "cores": cores,
            "setup_s": setup_s, "first_pass_s": first_pass_s, "failures": failures,
            "metrics": values, "runs": harness.trace_record(passes, T0),
        }, indent=1))
    else:
        values = harness.end_to_end(setup_s, passes)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    print(json.dumps({
        "correct": not failures,
        "attempted": len(keys),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
