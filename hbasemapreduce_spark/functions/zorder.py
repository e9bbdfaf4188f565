"""Z-order (Morton) interleaving for multi-dimensional data skipping.

A 100 TB table queried by EITHER of two keys can't be range-sorted for
both — but sorting by the bit-interleaved Z-value keeps every output
file tight in BOTH dimensions at once, so parquet row-group min/max
stats skip files for predicates on either key (the technique behind
Delta/Iceberg OPTIMIZE ZORDER; public literature: Morton 1966).

Interleaving RAW key bits fails when the keys have unequal magnitudes:
the wider key's high bits monopolize the top of the z-value and the
curve degenerates to a plain sort on that key (measured here —
l_orderkey's ~3 extra bits made per-file l_partkey spans full-width).
So both keys are first NORMALIZED to a common 16-bit space with exact
integer arithmetic:

    k' = ((k - min) * 65535) DIV max(max - min, 1)

min/max come from a 1-row broadcast aggregate (no collect), and the
division is INTEGER division on both engines (Spark ``DIV``, DuckDB
``//``) — float floor(a/b) can round up across an integer boundary and
is not used.  The interleave itself is ONE SQL string
(:func:`z_value_sql`) that both engines parse — Spark through a single
``F.expr`` instead of ~200 chained py4j Column calls — so they agree by
construction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ZBITS = 16  # per-key bits AFTER normalization; z < 2^32
ZMAX = (1 << ZBITS) - 1


def normalize(col: str, mn: str, mx: str) -> Column:
    """Exact-integer rescale of `col` into [0, ZMAX] given min/max
    columns (from a broadcast 1-row aggregate)."""
    return F.expr(
        f"CAST((({col} - {mn}) * {ZMAX}) DIV GREATEST({mx} - {mn}, 1) AS BIGINT)"
    )


def normalize_sql(col: str, mn: str, mx: str) -> str:
    """DuckDB twin of :func:`normalize` (`//` = integer division)."""
    return f"CAST((({col} - {mn}) * {ZMAX}) // GREATEST({mx} - {mn}, 1) AS BIGINT)"


def z_value(a: str, b: str) -> Column:
    """Interleave the low ZBITS bits of two normalized integer columns,
    named by `a` and `b`: bit i of `a` lands at z-bit 2i, bit i of `b`
    at 2i+1.  Spark parses the same SQL string DuckDB runs."""
    return F.expr(z_value_sql(a, b))


def z_value_sql(a: str, b: str) -> str:
    """The interleave as one SQL expression, valid in both Spark and
    DuckDB."""
    terms = []
    for i in range(ZBITS):
        terms.append(f"(((CAST({a} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({b} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


# -- Hilbert curve ------------------------------------------------------
#
# The Hilbert curve preserves locality strictly better than Morton
# order (no Z-shaped jumps between quadrants: consecutive curve
# positions are always grid neighbours), which tightens per-file key
# envelopes further for two-key data skipping.  Public algorithm:
# the classic xy->d bit loop (Hilbert 1891; iterative form as in
# Warren, Hacker's Delight §16-2 / the Wikipedia xy2d routine).
#
# The per-level rotation makes the loop STATEFUL — unrolling it as 16
# chained projections invites exponential expression blowup when
# CollapseProject inlines each level into the next, and threading the
# state through one higher-order ``aggregate`` runs INTERPRETED
# (HOFs get no codegen; measured 8.6 s at sf0.1 — the x_text_winnow
# lesson).  The Spark form is therefore the vectorized-numpy bit loop
# over Arrow batches (mapInPandas: 16 array-wide iterations, zero
# per-row Python); the DuckDB twin is a generated 16-stage CTE chain.
# Both are generated from the same level parameters, so the engines
# agree by construction — and the operator's full-hash oracle check
# proves it on every run.


def hilbert_map(df, a: str, b: str, keep: list[str], out: str = "hv"):
    """Append the Hilbert distance of two ZBITS-normalized integer
    columns via one vectorized numpy bit loop per Arrow batch."""
    import numpy as np
    import pandas as pd  # noqa: F401 — mapInPandas contract

    cols = [*keep, out]
    schema = ", ".join(f"{c} long" for c in cols)

    def fold(batches):
        for pdf in batches:
            x = pdf[a].to_numpy(dtype="int64").copy()
            y = pdf[b].to_numpy(dtype="int64").copy()
            d = np.zeros_like(x)
            for i in range(ZBITS - 1, -1, -1):
                s = np.int64(1 << i)
                rx = (x >> i) & 1
                ry = (y >> i) & 1
                d += (s * s) * ((3 * rx) ^ ry)
                flip = (ry == 0) & (rx == 1)
                keep_m = ry != 0
                x0 = x
                x = np.where(keep_m, x, np.where(flip, s - 1 - y, y))
                y = np.where(keep_m, y, np.where(flip, s - 1 - x0, x0))
            res = pdf[list(keep)].copy()
            res[out] = d
            yield res

    return df.mapInPandas(fold, schema=schema)


def hilbert_ctes(src: str, a: str, b: str, out: str = "hv") -> str:
    """DuckDB twin: chained CTE stages `hl0..hl{ZBITS}` computing the
    same fold; the last stage exposes the distance as `{out}`.  Returns
    the CTE fragment to splice after a WITH list; read FROM hl{ZBITS}."""
    stages = [
        f"hl0 AS (SELECT *, CAST({a} AS BIGINT) AS hx, "
        f"CAST({b} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM {src})"
    ]
    for n, i in enumerate(reversed(range(ZBITS)), start=1):
        s = 1 << i
        rx = f"((hx >> {i}) & 1)"
        ry = f"((hy >> {i}) & 1)"
        stages.append(
            f"hl{n} AS (SELECT * EXCLUDE (hx, hy, hd), "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hy ELSE hy END ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hx ELSE hx END ELSE hy END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd FROM hl{n - 1})"
        )
    stages.append(
        f"hfin AS (SELECT * EXCLUDE (hx, hy, hd), hd AS {out} FROM hl{ZBITS})"
    )
    return ", ".join(stages)
