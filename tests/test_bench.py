"""Bench-harness fault isolation (VERDICT r3 item 2) and output contract.

Round 3's driver bench died with rc=1 and ZERO timings because one key
(`x_cell_versions`) threw a plan-time AnalysisException and the timing
loop had no per-query try/except.  These tests prove the rewritten loop
survives a deliberately-broken spec: the breakage costs exactly one
`errors` entry and every other key still gets a timing and its executor
CPU-seconds and layer record.  The final summary line must fit the
driver's stdout tail.
"""

from __future__ import annotations

from dataclasses import dataclass

import bench
import etlbench.harness


@dataclass(frozen=True)
class _FakeSpec:
    name: str
    fn: object
    oracle: str | None = None
    category: str = "test"


def _good(spark, sf_dir):
    return spark.range(5).toDF("id")


def _broken_at_plan_time(spark, sf_dir):
    df = spark.range(5).toDF("id")
    return df.select("no_such_column")  # AnalysisException at analysis


def _broken_at_build_time(spark, sf_dir):
    raise RuntimeError("query builder itself exploded")


def test_broken_key_cannot_void_the_bench(spark, tmp_path):
    specs = {
        "good_a": _FakeSpec("good_a", _good),
        "broken_plan": _FakeSpec("broken_plan", _broken_at_plan_time),
        "broken_build": _FakeSpec("broken_build", _broken_at_build_time),
        "good_b": _FakeSpec("good_b", _good),
    }
    timings, passes, errors, cpu_sec, layers = bench.time_queries(
        spark, specs, str(tmp_path)
    )
    # the two good keys timed; the two broken keys isolated into errors
    assert set(timings) == {"good_a", "good_b"}
    assert set(errors) == {"broken_plan", "broken_build"}
    assert "AnalysisException" in errors["broken_plan"]
    assert "RuntimeError" in errors["broken_build"]
    assert all(v >= 0 for v in timings.values())
    # executor CPU-seconds for every good key, none for a broken one
    assert set(cpu_sec) == {"good_a", "good_b"}
    assert all(v >= 0 for v in cpu_sec.values())
    # a layer record for every good key, none for a broken one
    assert set(layers) == {"good_a", "good_b"}
    for record in layers.values():
        assert {"build_s", "plan_s", "exec_s", "stages", "jobs.build", "jobs.exec"} <= set(record)
        assert any(k.startswith("plan.") for k in record)
        assert record["exec_s"] >= 0 and record["stages"] >= 1


def test_all_good_keys_have_no_errors(spark, tmp_path):
    specs = {f"k{i}": _FakeSpec(f"k{i}", _good) for i in range(3)}
    timings, passes, errors, cpu_sec, layers = bench.time_queries(
        spark, specs, str(tmp_path)
    )
    assert errors == {}
    assert set(timings) == set(specs)
    assert set(cpu_sec) == set(specs)
    assert all(v >= 0 for v in cpu_sec.values())
    assert set(layers) == set(specs)


def test_failed_cpu_read_keeps_the_timing(spark, tmp_path, monkeypatch):
    # The status store raises once a stage is evicted; that costs the
    # key its CPU figure and layer record, never its timing.
    def evicted(self, groups, full):
        raise RuntimeError("No stage with id 0")

    monkeypatch.setattr(etlbench.harness.StatusStore, "counters", evicted)
    specs = {"k": _FakeSpec("k", _good)}
    timings, passes, errors, cpu_sec, layers = bench.time_queries(
        spark, specs, str(tmp_path)
    )
    assert set(timings) == {"k"} and errors == {} and cpu_sec == {}
    assert layers == {}


def test_summary_line_fits_the_tail_at_full_registry_width():
    # The driver keeps only a ~2 KB tail of stdout, so the final line
    # must parse, carry the contract fields and stay under 1 KB with a
    # registry-sized key set of long names.
    import json

    keys = [f"x_{i:03d}_".ljust(40, "k") for i in range(354)]
    timings = {k: 1000.0 + i / 7 for i, k in enumerate(keys)}
    cpu_sec = {k: 100.0 + i / 7 for i, k in enumerate(keys)}
    errors = {k: "RuntimeError: " + "e" * 280 for k in keys[:10]}
    line = bench.summary_line(timings, errors, cpu_sec, 0.1, 12.345)
    summary = json.loads(line)
    assert {
        "metric", "value", "unit", "queries", "sf", "n_queries",
        "n_errors", "startup_sec", "executor_cpu_sec",
    } <= set(summary)
    assert summary["n_queries"] == 354 and len(summary["queries"]) == 5
    assert len(line.encode()) < 1024


def test_dataset_bytes_handles_files_dirs_and_missing(tmp_path):
    # The r10 ADVICE fix: a directory-backed parquet dataset must size
    # by its part files (getsize on the dir returns the inode size,
    # ~4 KB, without raising — which silently set width=1), metadata
    # files don't count, and a missing path raises for the caller's
    # full-parallelism fallback.
    import os

    import pytest

    from hbasemapreduce_spark.operators.llm_similarity import dataset_bytes

    f = tmp_path / "single.parquet"
    f.write_bytes(b"x" * 1000)
    assert dataset_bytes(str(f)) == 1000

    d = tmp_path / "dataset.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a" * 600)
    (d / "part-1.parquet").write_bytes(b"b" * 400)
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"c" * 50)
    assert dataset_bytes(str(d)) == 1000
    assert dataset_bytes(str(d)) != os.path.getsize(str(d))  # the bug shape

    with pytest.raises(OSError):
        dataset_bytes(str(tmp_path / "missing.parquet"))


def test_trend_table_is_the_script_output():
    # BENCH_TREND.md is generated, never edited by hand: a committed
    # bench detail without its row (or a hand edit) fails here.
    import os

    import bench_trend

    with open(os.path.join(os.path.dirname(bench_trend.__file__), "BENCH_TREND.md")) as f:
        assert f.read() == bench_trend.render()
