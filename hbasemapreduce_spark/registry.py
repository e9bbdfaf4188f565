"""Query registry: the single source of truth behind __spark_entry__.py.

Every operator from SURVEY.md §2 registers here via the ``@query``
decorator with (a) a pure function ``(spark, sf_dir) -> DataFrame`` and
(b) an optional DuckDB-runnable ANSI-SQL oracle string.  Keys with an
oracle get the driver's full row-count + schema + value-hash check;
keys without one get the weaker rows-only check (SURVEY.md §2 marks
which — approx/float-path/map-ordering cases).

Emission order is part of the contract surface: the driver's
CORRECTNESS check covers the FIRST 50 keys of ``queries()``.  The order
is derived, not kept by hand.  A key's evidence round is the round of
the newest ``CORRECTNESS_r<N>.json`` in the repo root that contains it,
or 0 if that entry failed or no artifact holds it.  Keys sort by
(evidence round, name), so never-checked and failing keys lead, then
the oldest evidence.  Each rows-only key is emitted directly before the
full-hash twin that vouches for its values (``ROWS_ONLY_TWINS``).  The
next artifact therefore rotates the window without a code edit.

Determinism contract (SURVEY.md §2 "determinism rules"):
- every computed column is aliased identically in Spark and SQL;
- no raw TIMESTAMP column ever appears in checked output (epoch
  bigints or formatted strings instead — pandas dtype-stable across
  Spark and DuckDB);
- float aggregates use the decimal-sandwich helpers in
  functions/determinism.py so results are bit-identical regardless of
  partitioning / addition order;
- limit/top-k queries carry total (tie-broken) orderings.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

_OPERATOR_MODULES = [
    "hbasemapreduce_spark.operators.scans",
    "hbasemapreduce_spark.operators.filters",
    "hbasemapreduce_spark.operators.joins",
    "hbasemapreduce_spark.operators.aggregates",
    "hbasemapreduce_spark.operators.windows",
    "hbasemapreduce_spark.operators.sorts_sets",
    "hbasemapreduce_spark.operators.scalars",
    "hbasemapreduce_spark.operators.streaming_batch",
    "hbasemapreduce_spark.operators.llm_text",
    "hbasemapreduce_spark.operators.llm_dedup",
    "hbasemapreduce_spark.operators.llm_similarity",
    "hbasemapreduce_spark.operators.llm_multimodal",
    "hbasemapreduce_spark.operators.udx",
    "hbasemapreduce_spark.operators.extras",
    "hbasemapreduce_spark.operators.tpch",
    "hbasemapreduce_spark.operators.stats_ml",
    "hbasemapreduce_spark.operators.intervals",
    "hbasemapreduce_spark.operators.analytics",
    "hbasemapreduce_spark.operators.pipeline",
    "hbasemapreduce_spark.operators.clustering",
    "hbasemapreduce_spark.operators.graphs",
    "hbasemapreduce_spark.client",
]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None for rows-only keys
    category: str


def query(name: str, *, category: str, oracle: str | None = None):
    """Register a query function under a SURVEY.md §2 key."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, category=category)
        return fn

    return deco


def _load_all() -> None:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


# SURVEY.md §2 contract keys.  Every other key carries an ``x_`` prefix,
# so even a driver that re-sorts keys by name sees these 60 first.
CONTRACT_KEYS = frozenset({
    "scan_full", "scan_prefix", "scan_range", "scan_project", "page_limit",
    "filter_value", "filter_compound", "filter_regex", "filter_in", "filter_null",
    "join_inner", "join_left", "join_semi", "join_anti", "join_star",
    "join_theta_range", "join_asof",
    "agg_rowcount", "agg_cellcount", "agg_group_sum", "agg_multi", "agg_distinct",
    "agg_approx_distinct", "agg_rollup", "agg_cube",
    "win_rank", "win_topk_per_group", "win_running_sum", "win_lag_delta",
    "win_moving_avg",
    "sort_orderby", "topk_global", "distinct_rows",
    "set_union_all", "set_union_distinct", "set_intersect", "set_except",
    "scalar_string", "scalar_date", "scalar_math", "scalar_json", "scalar_array",
    "scalar_map",
    "stream_tumbling", "stream_sliding", "stream_session", "stream_late_data",
    "stream_dedup",
    "wordcount", "text_stats", "text_tf_topterms", "dedup_exact", "dedup_minhash",
    "sim_cosine_topk", "multimodal_join",
    "udf_scalar_pandas", "udaf_grouped_pandas", "udtf_explode_like",
    "sink_partitioned", "source_json_lines",
})

# Each rows-only key (seed-dependent sketch/LSH membership, so no
# oracle) -> the full-hash twin whose hash pass vouches for its values.
ROWS_ONLY_TWINS = {
    "dedup_minhash": "x_dedup_minhash_portable",
    "agg_approx_distinct": "x_agg_distinct_kmv",
    "x_agg_sketch_hll": "x_agg_distinct_kmv",
    "x_dedup_simhash": "x_dedup_simhash_portable",
    "x_agg_sketch_cms": "x_agg_sketch_cms_portable",
    "x_sim_ann_lsh": "x_sim_ann_lsh_portable",
}

_ROOT = Path(__file__).resolve().parents[1]
_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _read_evidence(root: Path) -> dict[str, int]:
    """Key -> round of the newest CORRECTNESS artifact under ``root`` that
    holds it, or 0 when that entry did not pass."""
    artifacts = sorted(
        (int(m.group(1)), p) for p in root.iterdir() if (m := _ARTIFACT.fullmatch(p.name))
    )
    evidence: dict[str, int] = {}
    for rnd, path in artifacts:
        for key, entry in json.loads(path.read_text()).items():
            passed = entry.get("hash_match") is True or (
                entry.get("err") == "no_oracle" and key in ROWS_ONLY_TWINS
            )
            evidence[key] = rnd if passed else 0
    return evidence


def emission_order(keys, evidence: dict[str, int]) -> list[str]:
    """Sort ``keys`` by (evidence round, name), missing evidence as 0,
    with each rows-only key directly before its twin."""
    keys = set(keys)
    held = {k for k in keys if ROWS_ONLY_TWINS.get(k) in keys}
    order: list[str] = []
    for k in sorted(keys - held, key=lambda k: (evidence.get(k, 0), k)):
        order += sorted(r for r in held if ROWS_ONLY_TWINS[r] == k)
        order.append(k)
    return order


@functools.cache
def _ordered_keys(n_registered: int) -> list[str]:
    # Registration only appends (duplicates raise), so the size names the
    # registry's state; the artifacts are read once per process.
    return emission_order(_REGISTRY, _read_evidence(_ROOT))


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    missing = CONTRACT_KEYS - _REGISTRY.keys()
    if missing:
        raise RuntimeError(f"unregistered SURVEY §2 contract keys: {sorted(missing)}")
    stray = [
        k for k in _REGISTRY if k not in CONTRACT_KEYS and not k.startswith("x_")
    ]
    if stray:
        raise RuntimeError(f"beyond-contract keys must use the x_ prefix: {stray}")
    return {k: _REGISTRY[k] for k in _ordered_keys(len(_REGISTRY))}


def queries() -> dict[str, QueryFn]:
    return {k: spec.fn for k, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {k: spec.oracle for k, spec in all_specs().items() if spec.oracle is not None}
