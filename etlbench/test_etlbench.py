"""The benchmark's own tests, at sf0.001.

    python3 -m pytest etlbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

sys.path.insert(0, str(harness.ROOT))

SF = "sf0.001"
DATA_ROOT = harness.default_data_root()
SF_DIR = str(DATA_ROOT / SF)

pytestmark = pytest.mark.skipif(not (DATA_ROOT / SF).is_dir(), reason="no sf0.001 tables")


@pytest.fixture(scope="module")
def runner():
    from hbasemapreduce_spark import registry
    from hbasemapreduce_spark.catalog import configure

    def broken(spark, sf_dir):
        raise ValueError("broken on purpose")

    specs = dict(registry.all_specs())
    specs["broken"] = registry.QuerySpec("broken", broken, "SELECT 1", "test")
    spark = harness.start_spark(2)
    configure(spark)
    yield harness.Runner(spark, specs, SF_DIR)
    harness.stop_spark(spark)


def run_cli(checkout: Path, workload: str, trace: int = 0) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "etlbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", SF, "--data-root", str(DATA_ROOT)],
        cwd=checkout, capture_output=True, text=True, timeout=600,
    )


def copy_checkout(dst: Path) -> Path:
    for d in ("hbasemapreduce_spark", "etlbench"):
        shutil.copytree(harness.ROOT / d, dst / d, ignore=shutil.ignore_patterns("__pycache__"))
    return dst


def test_broken_key_and_wrong_digest_fail_without_crashing(runner):
    good = harness.digest(runner.specs["scan_project"].fn(runner.spark, SF_DIR), False)
    failures = runner.check_pass(
        ["broken", "scan_project", "filter_value"],
        {"scan_project": good, "filter_value": "0:0000000000000000:00000000"},
    )
    assert set(failures) == {"broken", "filter_value"}
    assert "broken on purpose" in failures["broken"]
    passes = runner.timed_passes(["broken", "scan_project"], 0, random.Random(0), True)
    runner.read_counters(passes)
    errors = {r.key: r.error for p in passes for r in p}
    assert "broken on purpose" in errors["broken"] and errors["scan_project"] is None
    assert harness.end_to_end(1.0, passes)["wall_s"] > 0
    assert harness.per_layer(passes, ["operators.scans"], 2, 1.0, 0)["jobs"] >= 1


def test_digest_is_order_insensitive_and_sees_values_and_schema(runner):
    spark = runner.spark
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")], "k int, v string")
    assert harness.digest(df, False) == harness.digest(df.orderBy(df.k.desc()).repartition(3), False)
    swapped = spark.createDataFrame([(1, None), (2, "a"), (3, "c")], "k int, v string")
    assert harness.digest(df, False) != harness.digest(swapped, False)
    assert harness.digest(df, False) != harness.digest(df.selectExpr("CAST(k AS long) k", "v"), False)
    assert harness.digest(df, True) == f"3:{harness.digest(df, False).rsplit(':', 1)[1]}"


def test_traced_key_reports_every_layer(runner):
    r = runner.run_key("x_udf_arrow", 99, traced=True)
    assert r.error is None and r.build_s > 0 and r.plan_s > 0 and r.exec_s > 0
    assert len(r.loads) >= 1
    c = r.counters
    assert c["jobs"] >= 1 and c["stages"] >= 1 and c["tasks"] >= 1
    assert c["python.total_s"] > 0 and c["python.data_sent_bytes"] > 0
    assert c["plan.python_eval"] >= 1 and c["plan.scan"] >= 1


def test_parse_metric():
    assert harness.parse_metric("803 ms") == pytest.approx(0.803)
    assert harness.parse_metric("47.0 KiB") == 47 * 1024
    assert harness.parse_metric("6,000") == 6000
    assert harness.parse_metric("total (min, med, max (stageId: taskId))\n2.0 s (1.0 s, 1.0 s)") == 2.0


def test_cli_reports_every_metric_and_exits_without_program(tmp_path):
    checkout = copy_checkout(tmp_path / "a")
    proc = run_cli(checkout, "hbase_etl")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 14
    bench = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert set(result["metrics"]) == {m["name"] for m in bench["end_to_end"]}

    proc = run_cli(checkout, "hbase_etl", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]
    }
    assert (checkout / ".benchwork" / "trace" / "hbase_etl-seed3.json").is_file()

    bare = tmp_path / "bare"
    shutil.copytree(harness.HERE, bare / "etlbench")
    proc = run_cli(bare, "hbase_etl")
    assert proc.returncode != 0 and not proc.stdout.strip()


def test_copied_checkout_with_copied_scratch_is_flagged(tmp_path):
    """Staged state under .scratch keyed by absolute paths goes stale when
    a checkout moves; the output check must catch it."""
    first = copy_checkout(tmp_path / "first")
    assert run_cli(first, "hbase_etl").returncode == 0
    moved = tmp_path / "moved"
    shutil.copytree(first, moved)
    shutil.rmtree(first)
    proc = run_cli(moved, "hbase_etl")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["failed"] >= 1
    assert "FAILED x_etl_vacuum" in proc.stderr or "FAILED x_source_snapshot" in proc.stderr
