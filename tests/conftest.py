"""Shared fixtures: one SparkSession, a DuckDB oracle and one registry-wide
plan walk per session.

The oracle comparison here mirrors the driver's t2 check (SURVEY.md §5):
row count, schema (pandas dtypes after sorting columns by name), and
order-insensitive value equality — but STRICTER: exact equality, no
tolerances.  If a query needs a tolerance it is nondeterministic and
must be fixed in the query, not the test.
"""

from __future__ import annotations

import ast
import contextlib
import io
import os
import sys
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hbasemapreduce_spark.catalog import TABLES, configure  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("hbasemapreduce_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    configure(spark)
    yield spark
    spark.stop()


def explain_text(df, mode: str = "formatted") -> str:
    """``df.explain(mode)`` captured as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@dataclass(frozen=True)
class KeyPlan:
    """One registry key built once at SF_DIR."""

    width: int | None  # schema width; None if the build or analysis raised
    plan: str | None  # formatted physical plan; None if anything raised
    error: Exception | None

    def formatted(self) -> str:
        """The formatted plan, or the build's own exception re-raised."""
        if self.plan is None:
            raise self.error
        return self.plan


@pytest.fixture(scope="session")
def registry_plans(spark) -> dict[str, KeyPlan]:
    """Every registered key built and planned once, shared by the
    registry-wide gates (no Python eval, BNLJ whitelist, no cartesian
    product, every key analyzes)."""
    from hbasemapreduce_spark.registry import all_specs

    plans = {}
    for key, spec in all_specs().items():
        width = plan = error = None
        try:
            df = spec.fn(spark, SF_DIR)
            width = len(df.schema.fields)
            plan = explain_text(df)
        except Exception as e:  # noqa: BLE001 — each gate reports it as before
            error = e
        plans[key] = KeyPlan(width, plan, error)
    return plans


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def docstring_ids(tree: ast.AST) -> set[int]:
    """ids of the docstring constants in ``tree``, for source guards
    that scan string constants but let prose name an idiom."""
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize row order, reset index."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), na_position="first").reset_index(drop=True)
    return pdf


def _dtype_kind(dtype) -> str:
    """Collapse a pandas dtype to the equivalence class the driver's
    value-hash distinguishes: pandas hashing folds integer widths
    together (int32 == int64) but NOT numeric kind (int64 5 != float64
    5.0 — exactly the DuckDB-HUGEINT→float64 failure seen in r1)."""
    k = np.dtype(dtype).kind if not pd.api.types.is_extension_array_dtype(dtype) else dtype.kind
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}.get(k, "obj")


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, key: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{key}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    kind_mism = {
        c: (str(spark_pdf[c].dtype), str(duck_pdf[c].dtype))
        for c in spark_pdf.columns
        if _dtype_kind(spark_pdf[c].dtype) != _dtype_kind(duck_pdf[c].dtype)
    }
    assert not kind_mism, (
        f"{key}: dtype-kind drift (driver hash would fail): spark vs duck {kind_mism}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{key}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    s = canonicalize(spark_pdf)
    d = canonicalize(duck_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa = sv.astype("float64").to_numpy()
            da = dv.astype("float64").to_numpy()
            same = (sa == da) | (np.isnan(sa) & np.isnan(da))
            if not same.all():
                bad = np.flatnonzero(~same)[:5]
                raise AssertionError(
                    f"{key}.{col}: {len(np.flatnonzero(~same))} float mismatches, "
                    f"first rows {bad.tolist()}: spark={sa[bad].tolist()} duck={da[bad].tolist()}"
                )
        elif pd.api.types.is_integer_dtype(sv) and pd.api.types.is_integer_dtype(dv):
            assert (sv.astype("int64").to_numpy() == dv.astype("int64").to_numpy()).all(), (
                f"{key}.{col}: integer values differ"
            )
        else:
            sv = sv.astype("object").where(pd.notna(sv), None)
            dv = dv.astype("object").where(pd.notna(dv), None)
            mism = [
                (i, a, b) for i, (a, b) in enumerate(zip(sv, dv)) if a != b
            ][:5]
            assert not mism, f"{key}.{col}: value mismatches {mism}"
