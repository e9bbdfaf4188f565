"""Layer-resolved batch-ETL benchmark harness.

Runs registry keys in one Spark driver, one after another (a closed loop
with one client), and measures each layer from outside the program by
timing the calls into its public functions:

- build: ``registry.all_specs()[key].fn(spark, sf_dir)``.  Eager
  checkpoint and collect jobs run here.  On traced passes each
  ``catalog.load_table`` call is a child span of it.
- plan: ``DataFrame.queryExecution().executedPlan()`` (traced passes only;
  an untraced pass leaves planning to the write).
- exec: the noop write.

Counters come from Spark's own status stores, read after the listener
bus is drained.  Every key runs its build under one job group and its
plan + exec under another, so each job is charged to one key and step.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".benchwork"

# plan-shape counts: metric suffix -> predicate on a final-plan node name
PLAN_SHAPE = {
    "exchange": lambda n: n in ("Exchange", "BroadcastExchange"),
    "sort": lambda n: n == "Sort",
    "bnlj": lambda n: n == "BroadcastNestedLoopJoin",
    "cartesian": lambda n: n == "CartesianProduct",
    "python_eval": lambda n: any(s in n for s in ("EvalPython", "InPandas", "InArrow")),
    "scan": lambda n: n.startswith(("Scan ", "BatchScan", "InMemoryTableScan", "LocalTableScan")),
    "generate": lambda n: n == "Generate",
    "window": lambda n: n == "Window",
    "hash_agg": lambda n: n == "HashAggregate",
}

# Spark 4.1's Python-worker SQL metrics (PythonSQLMetrics), by display name
PYTHON_METRICS = {
    "time to run Python workers": "total_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}

# v1.StageData getter -> counter name, scale to seconds where the field is a time
STAGE_FIELDS = {
    "executorCpuTime": ("cpu_s", 1e-9),
    "executorRunTime": ("run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def load_workloads() -> dict:
    return json.loads((HERE / "workloads.json").read_text())


def default_data_root() -> Path:
    """Root of the generated input tables, one directory per scale: the
    parent of the scale the program's entry module smoke-tests on."""
    import __spark_entry__

    return Path(__spark_entry__._SMOKE_SF_DIR).parent


def load_digests() -> dict[str, dict[str, str]]:
    """{scale: {key: expected digest}}, written by make_digests.py."""
    return json.loads((HERE / "digests.json").read_text())["digests"]


def start_spark(cores: int):
    """The benchmark's own session: local[cores], temp files inside the checkout."""
    local = WORK / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(local)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("etlbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local}")
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        # same Janino cache size as bench.py: one pass must not evict its own classes
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # a run must be able to read back every job, stage and SQL execution
        # it started; Spark's defaults (1000 each) drop early ones mid-run
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .config("spark.sql.ui.retainedExecutions", "1000000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def digest(df, rows_only: bool) -> str:
    """Order-insensitive digest of a DataFrame's rows, row count and schema.

    Computed inside Spark: the sum of per-row xxhash64 values modulo 2**64
    (null positions hashed too), so no output is collected to the driver.
    Rows-only keys (sketches, LSH banding: no oracle in the registry) are
    checked on row count and schema only.
    """
    from pyspark.sql import functions as F

    schema = hashlib.md5(df.schema.simpleString().encode()).hexdigest()[:8]
    if rows_only:
        return f"{df.count()}:{schema}"
    cols = []
    for name in df.columns:
        c = F.col("`" + name.replace("`", "``") + "`")
        cols += [c, c.isNull()]
    h = F.xxhash64(*cols)
    n, lo, hi = df.select(h.alias("h")).agg(
        F.count(F.lit(1)),
        F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)),
        F.sum(F.shiftrightunsigned("h", 32)),
    ).first()
    return f"{n}:{((lo or 0) + ((hi or 0) << 32)) % (1 << 64):016x}:{schema}"


def parse_metric(text: str) -> float:
    """Value of a SQLMetrics string ('803 ms', '47.0 KiB', '6,000', or the
    'total (min, med, max ...)' form) in seconds, bytes or units."""
    line = text.strip().split("\n")[-1].split(" (")[0].replace(",", "")
    num, _, unit = line.partition(" ")
    return float(num) * _UNITS.get(unit, 1)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


class LoadTableSpans:
    """Times ``catalog.load_table`` by rebinding it, in the catalog and in
    every package module that imported it, to a timing wrapper.  Spans are
    appended to ``self.sink`` while it is a list."""

    def __init__(self) -> None:
        self.sink: list | None = None

    def install(self) -> None:
        from hbasemapreduce_spark import catalog

        orig = catalog.load_table

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                if self.sink is not None:
                    self.sink.append((t0, time.perf_counter()))

        for name, mod in list(sys.modules.items()):
            if name.startswith("hbasemapreduce_spark") and getattr(mod, "load_table", None) is orig:
                mod.load_table = load_table


class StatusStore:
    """Reads job/stage counters (AppStatusStore) and SQL metrics
    (SQLAppStatusStore) over py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.codegen = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def drain(self) -> None:
        self.bus.waitUntilEmpty()

    def executions_count(self) -> int:
        return self.sql.executionsCount()

    def compiles(self) -> int:
        return self.codegen.METRIC_COMPILATION_TIME().getCount()

    def stages(self, group: str) -> tuple[int, dict[int, object]]:
        """(job count, {stage id: StageData}) of a job group's stages that
        ran.  A stage shared by several jobs counts once; skipped stages
        do not count.  Raises if a job or stage can no longer be read."""
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {}
        for j in jobs:
            job = self.store.job(j)  # raises NoSuchElementException if evicted
            if job.status().toString() == "RUNNING":
                raise RuntimeError(f"job {j} of {group} still running after drain")
            for sid in job.stageIds().mkString(",").split(","):
                if sid and int(sid) not in out:
                    out[int(sid)] = self.store.lastStageAttempt(int(sid))
        ran = {s: d for s, d in out.items() if d.status().toString() != "SKIPPED"}
        return len(jobs), ran

    def counters(self, groups: list[str], full: bool) -> dict:
        """Summed stage counters over job groups; ``full`` adds the traced set."""
        c = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "peak_mem_bytes": 0}
        for g in groups:
            n_jobs, ran = self.stages(g)
            c["jobs"] += n_jobs
            c[f"jobs.{g.rsplit(':', 1)[-1]}"] = n_jobs
            c["stages"] += len(ran)
            for d in ran.values():
                c["tasks"] += d.numTasks()
                c["peak_mem_bytes"] = max(c["peak_mem_bytes"], d.peakExecutionMemory())
                fields = STAGE_FIELDS if full else {"executorCpuTime": STAGE_FIELDS["executorCpuTime"]}
                for getter, (name, scale) in fields.items():
                    c[name] = c.get(name, 0) + getattr(d, getter)() * scale
        return c

    def sql_metrics(self, first: int, exec_first: int) -> dict:
        """Python-worker metrics summed over the SQL executions from index
        ``first`` on, and plan-shape counts over the final (AQE) plans of
        the executions from index ``exec_first`` on."""
        out = {f"python.{v}": 0.0 for v in PYTHON_METRICS.values()}
        out.update({f"plan.{k}": 0 for k in PLAN_SHAPE})
        for i, e in enumerate(_seq(self.sql.executionsList(first, 1 << 30)), start=first):
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                name = node.name()
                if i >= exec_first:
                    for k, pred in PLAN_SHAPE.items():
                        out[f"plan.{k}"] += pred(name)
                if not PLAN_SHAPE["python_eval"](name):
                    continue
                for m in _seq(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        out[f"python.{key}"] += parse_metric(v.get())
        return out


def module_of(spec) -> str:
    """Layer name of a key: ``operators.<module>`` or ``client``."""
    parts = spec.fn.__module__.split(".")
    return f"operators.{parts[-1]}" if "operators" in parts else parts[-1]


@dataclass
class KeyRun:
    """One key in one pass: step times, catalog spans and counters."""

    key: str
    layer: str
    pass_no: int
    traced: bool
    start: float = 0.0
    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    loads: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.plan_s + self.exec_s

    def group(self, step: str) -> str:
        return f"{self.key}@{self.pass_no}:{step}"


class Runner:
    """Runs keys against one session and data directory."""

    def __init__(self, spark, specs: dict, sf_dir: str) -> None:
        self.spark = spark
        self.specs = specs
        self.sf_dir = sf_dir
        self.status = StatusStore(spark)
        self.loads: LoadTableSpans | None = None  # installed by the first traced key

    def _group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.spark.sparkContext.setJobGroup(group, desc)

    def check_pass(self, keys: list[str], expected: dict[str, str]) -> dict[str, str]:
        """Untimed first pass: build every key and compare its output digest
        with the committed one.  Returns {key: reason} for the keys that
        raised or mismatched; neither aborts the pass."""
        failures = {}
        for key in keys:
            spec = self.specs[key]
            self._group(f"{key}@check", key)
            try:
                got = digest(spec.fn(self.spark, self.sf_dir), spec.oracle is None)
            except Exception:  # noqa: BLE001 — a broken key is a failed key, not a failed run
                failures[key] = traceback.format_exc()
            else:
                if got != expected.get(key):
                    failures[key] = f"digest {got} != expected {expected.get(key)}"
            finally:
                self._group(None)
        return failures

    def run_key(self, key: str, pass_no: int, traced: bool) -> KeyRun:
        spec = self.specs[key]
        r = KeyRun(key, module_of(spec), pass_no, traced)
        if traced:
            if self.loads is None:
                self.loads = LoadTableSpans()
                self.loads.install()
            self.loads.sink = r.loads
            first_exec = self.status.executions_count()
        step, t = "build", time.perf_counter()
        r.start = t
        try:
            self._group(r.group("build"), key)
            df = spec.fn(self.spark, self.sf_dir)
            r.build_s, t = time.perf_counter() - t, time.perf_counter()
            self._group(r.group("exec"), key)
            if traced:
                exec_first = self.status.executions_count()
                t = time.perf_counter()
                step = "plan"
                df._jdf.queryExecution().executedPlan()
                r.plan_s, t = time.perf_counter() - t, time.perf_counter()
            step = "exec"
            df.write.format("noop").mode("overwrite").save()
            r.exec_s = time.perf_counter() - t
        except Exception:  # noqa: BLE001 — a broken key is a failed key, not a failed run
            setattr(r, f"{step}_s", time.perf_counter() - t)
            r.error = traceback.format_exc()
            print(f"etlbench: {key} (pass {pass_no}) raised:\n{r.error}", file=sys.stderr)
        finally:
            self._group(None)
            if traced:
                self.loads.sink = None
        if traced:
            self.status.drain()
            r.counters = self.status.counters([r.group("build"), r.group("exec")], full=True)
            if r.error is None:
                r.counters.update(self.status.sql_metrics(first_exec, exec_first))
        return r

    def timed_passes(self, keys: list[str], seconds: float, rng, trace: bool) -> list[list[KeyRun]]:
        """Passes over ``keys`` (order reshuffled by ``rng`` each pass) until
        ``seconds`` have elapsed.  With ``trace``, untraced and traced
        passes alternate, at least one of each."""
        passes: list[list[KeyRun]] = []
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(passes) < (2 if trace else 1):
            order = list(keys)
            rng.shuffle(order)
            traced = trace and len(passes) % 2 == 1
            passes.append([self.run_key(k, len(passes), traced) for k in order])
        return passes

    def read_counters(self, passes: list[list[KeyRun]]) -> None:
        """Fill the cheap counters (jobs, CPU, peak memory) of untraced runs."""
        self.status.drain()
        for runs in passes:
            for r in runs:
                if not r.traced:
                    r.counters = self.status.counters([r.group("build"), r.group("exec")], full=False)


def key_medians(runs: list[KeyRun], value) -> dict[str, float]:
    """{key: median over passes of value(run)}."""
    by_key: dict[str, list[float]] = {}
    for r in runs:
        by_key.setdefault(r.key, []).append(value(r))
    return {k: statistics.median(v) for k, v in by_key.items()}


def summed_median(runs: list[KeyRun], value) -> float:
    """One pass's worth of ``value``: the per-key medians over passes, summed."""
    return sum(key_medians(runs, value).values())


def end_to_end(setup_s: float, passes: list[list[KeyRun]]) -> dict[str, float]:
    runs = [r for p in passes for r in p if not r.traced]
    peak = statistics.median(
        max(r.counters["peak_mem_bytes"] for r in p) for p in passes if not p[0].traced
    )
    return {
        "setup_s": setup_s,
        "wall_s": summed_median(runs, lambda r: r.wall_s),
        "executor_cpu_s": summed_median(runs, lambda r: r.counters["cpu_s"]),
        "peak_exec_memory_mb": peak / (1 << 20),
    }


COUNTER_METRICS = {
    "build_jobs": "jobs.build",
    "jobs": "jobs",
    "stages": "stages",
    "tasks": "tasks",
    "executor_run_s": "run_s",
    "gc_s": "gc_s",
    "shuffle_write_bytes": "shuffle_write_bytes",
    "shuffle_read_bytes": "shuffle_read_bytes",
    "spill_bytes": "spill_bytes",
    "input_bytes": "input_bytes",
    "output_bytes": "output_bytes",
    **{f"python.{v}": f"python.{v}" for v in PYTHON_METRICS.values()},
    **{f"plan.{k}": f"plan.{k}" for k in PLAN_SHAPE},
}


def per_layer(
    passes: list[list[KeyRun]], layers: list[str], cores: int, first_pass_s: float, compiles: int
) -> dict[str, float]:
    """Per-layer metrics of the traced passes (per-key medians, summed)."""
    traced = [r for p in passes for r in p if r.traced]
    plain = [r for p in passes for r in p if not r.traced]
    wall = summed_median(traced, lambda r: r.wall_s)
    out = {
        "build_s": summed_median(traced, lambda r: r.build_s),
        "plan_s": summed_median(traced, lambda r: r.plan_s),
        "exec_s": summed_median(traced, lambda r: r.exec_s),
        "first_pass_s": first_pass_s,
        "codegen.compiles": compiles,
        "catalog.load_table_calls": summed_median(traced, lambda r: len(r.loads)),
        "catalog.load_table_s": summed_median(traced, lambda r: sum(b - a for a, b in r.loads)),
    }
    for name, counter in COUNTER_METRICS.items():
        out[name] = summed_median(traced, lambda r: r.counters.get(counter, 0))
    out["core_busy_share"] = out["executor_run_s"] / (wall * cores) if wall else 0.0
    for layer in layers:
        mine = [r for r in traced if r.layer == layer]
        out[f"{layer}.build_s"] = summed_median(mine, lambda r: r.build_s)
        out[f"{layer}.exec_s"] = summed_median(mine, lambda r: r.exec_s)
    out["tracing_overhead_s"] = wall - summed_median(plain, lambda r: r.wall_s)
    return out


def trace_record(passes: list[list[KeyRun]], t0: float) -> dict:
    """Spans (times from process start, with self times) and counters of
    every traced key run, keyed by span id ``key@pass``."""
    out = {}
    for r in (r for p in passes for r in p if r.traced):
        rel = r.start - t0
        loads = [{"name": "catalog.load_table", "parent": "build", "start": a - t0, "end": b - t0,
                  "self_s": b - a} for a, b in r.loads]
        spans = [
            {"name": "key", "parent": None, "start": rel, "end": rel + r.wall_s, "self_s": 0.0},
            {"name": "build", "parent": "key", "start": rel, "end": rel + r.build_s,
             "self_s": r.build_s - sum(s["self_s"] for s in loads)},
            *loads,
            {"name": "plan", "parent": "key", "start": rel + r.build_s,
             "end": rel + r.build_s + r.plan_s, "self_s": r.plan_s},
            {"name": "exec", "parent": "key", "start": rel + r.build_s + r.plan_s,
             "end": rel + r.wall_s, "self_s": r.exec_s},
        ]
        out[f"{r.key}@{r.pass_no}"] = {
            "key": r.key, "layer": r.layer, "error": r.error, "spans": spans, "counters": r.counters,
        }
    return out
