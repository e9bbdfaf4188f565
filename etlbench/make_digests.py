"""Regenerate etlbench/digests.json: each key's expected output digest.

    python3 etlbench/make_digests.py [--data-root DIR]

For every workload key at its data scale (and every ``hbase_etl`` key at
sf0.001, the scale of the benchmark's own tests), the key's Spark output
is first compared with its DuckDB oracle by the repository's exact rule
(``tests/conftest.py``: row count, dtype kinds, order-insensitive values,
floats bit-equal).  Only a key that matches gets a digest.  Keys without
an oracle are rows-only: their digest is the row count and schema.  An
oracle that runs longer than ORACLE_TIMEOUT_S counts as a mismatch.  Nothing is
written unless every key passes; ``verified`` records each key's check.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

sys.path.insert(0, str(harness.ROOT))

ORACLE_TIMEOUT_S = 300.0


def oracle_frame(con, sql: str, timeout: float):
    """DuckDB result of ``sql`` as pandas, or None if it ran past ``timeout``."""
    import duckdb

    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def mismatch(con, spec, df, timeout: float) -> str | None:
    """Why ``df`` differs from the key's DuckDB oracle, or None if it matches."""
    from tests.conftest import assert_frames_match

    want = oracle_frame(con, spec.oracle, timeout)
    if want is None:
        return f"oracle ran past {timeout} s"
    try:
        assert_frames_match(df.toPandas(), want, spec.name)
    except AssertionError as e:
        return str(e)
    return None


def duck(data_root: Path, sf: str):
    import duckdb

    from hbasemapreduce_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_root / sf / t}.parquet')")
    return con


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--data-root", help="holds one directory per scale (default: the program's)")
    args = ap.parse_args()
    data_root = Path(args.data_root or harness.default_data_root())

    from hbasemapreduce_spark import registry
    from hbasemapreduce_spark.catalog import configure

    specs = registry.all_specs()
    todo: dict[str, list[str]] = {}
    for name, wl in harness.load_workloads().items():
        todo.setdefault(wl["sf"], []).extend(wl["keys"])
        if name == "hbase_etl":
            todo.setdefault("sf0.001", []).extend(wl["keys"])

    spark = harness.start_spark(len(os.sched_getaffinity(0)))
    digests: dict[str, dict[str, str]] = {}
    verified: dict[str, dict[str, str]] = {}
    bad = []
    try:
        configure(spark)
        for sf, keys in sorted(todo.items()):
            con = duck(data_root, sf)
            sf_dir = str(data_root / sf)
            for key in sorted(set(keys)):
                spec = specs[key]
                df = spec.fn(spark, sf_dir)
                how = "rows-only" if spec.oracle is None else "duckdb"
                problem = None if spec.oracle is None else mismatch(con, spec, df, ORACLE_TIMEOUT_S)
                if problem:
                    bad.append(f"{sf} {key}: {problem}")
                    print(f"MISMATCH {sf} {key}: {problem}", file=sys.stderr, flush=True)
                    continue
                digests.setdefault(sf, {})[key] = harness.digest(df, spec.oracle is None)
                verified.setdefault(sf, {})[key] = how
                print(f"{sf} {key}: {how} {digests[sf][key]}", file=sys.stderr, flush=True)
            con.close()
    finally:
        harness.stop_spark(spark)
    if bad:
        print("not written; mismatches:\n" + "\n".join(bad), file=sys.stderr)
        return 1
    (harness.HERE / "digests.json").write_text(
        json.dumps({"digests": digests, "verified": verified}, indent=1, sort_keys=True) + "\n"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
