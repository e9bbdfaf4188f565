"""Cross-engine determinism helpers (SURVEY.md §2 determinism rules).

Why: IEEE-754 addition is not associative, and Spark's partial
aggregates sum partitions in nondeterministic order, so
``SUM(double)`` is not bit-stable — it cannot hash-match a DuckDB
oracle reliably.  The *decimal sandwich* fixes this:

    CAST(SUM(CAST(x AS DECIMAL(18, s))) AS DOUBLE)

Per-row double→decimal rounding is deterministic (a binary double is
never exactly on a decimal .5 boundary for s>=1 unless dyadic, and both
engines round the same true binary value), decimal summation is exact
and order-independent, and the final decimal→double cast is
deterministic.  Result: bit-identical doubles on both engines at any
partition count — i.e., at 1000 executors as much as at local[32].

Timestamps never appear raw in checked output (pandas dtype drift
between engines); use :func:`fmt_date` / epoch-second bigints instead.

Hashes that both engines must compute bit for bit are spelled here and
nowhere else, one spelling per engine:

- md5 hex digits parsed base-16 (:func:`hex_int` as a Spark Column,
  :func:`hex_int_sql` as Spark SQL text, :func:`hex_int_duck` and
  :func:`hex_digit_duck` as DuckDB text — DuckDB has no base-16
  ``conv``, so its spelling sums the digits).  Use md5 wherever two
  draws of one key must be independent (sketch hashes, noise, LSH
  permutations): it mixes all bits, the low ones included.
- :data:`KNUTH`, the multiplicative hash ``(key * KNUTH) % m``, only
  for splits of integer keys (train/holdout, A/B variants, shards,
  fixed-rate samples): plain bigint arithmetic, uncorrelated with key
  order, and ``key * KNUTH`` stays far below 2^63 at any realistic id
  range.  An odd multiplier preserves the key's 2-adic valuation (its
  trailing zero bits), so two Knuth "draws" of one key are not
  independent: a noise difference built from them cancels to exactly
  zero.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec_sum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent SUM over a money-ish double column."""
    return F.sum(_c(col).cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent AVG: exact decimal sum / exact count."""
    s = F.sum(_c(col).cast(f"decimal(18,{scale})")).cast("double")
    return (s / F.count(_c(col))).alias(alias)


# -- split long sums: the decimal sandwich at long-accumulation speed ----
#
# r13 (guide §2.3 narrower types / §1.2 per-task work): a decimal(18,s)
# SUM widens its buffer past Spark's compact-long decimal range, so every
# row accumulates through BigDecimal — measured 4.3x slower than a long
# sum on the x_stats_corr moment pass (1.75 -> 0.41 s at sf0.1).  When
# the addend is an EXACT scaled integer (money cents, 4-dp moment
# products), the sum can instead run as TWO exact long sums — hi = SUM(c
# DIV 1e6), lo = SUM(c % 1e6); the truncation identity c = (c DIV m)*m +
# (c % m) holds for negatives too, lo only overflows past ~9.2e12
# rows/group, hi is m times safer than the plain long sum — and the
# total is reconstructed EXACTLY in DECIMAL(38,s) before the single
# decimal->double rounding.  Bit-identical to dec_sum at ANY corpus
# size (same exact integer, same one rounding); a plain long sum would
# double-round past 2^53 and overflow ~1e6x earlier.

_SPLIT = 1_000_000


def split_sum_parts(col_name: str, alias: str) -> list[Column]:
    """The two exact long partial sums for an exact-scaled-integer
    column; feed both to the aggregate, then finish with
    :func:`split_sum_total`."""
    return [
        F.sum(F.expr(f"{col_name} DIV {_SPLIT}")).alias(f"{alias}__hi"),
        F.sum(F.expr(f"{col_name} % {_SPLIT}")).alias(f"{alias}__lo"),
    ]


def split_sum_total(alias: str, scale: int) -> Column:
    """Reassemble the exact total from the hi/lo long pair and apply the
    single decimal->double rounding dec_sum would: result is bit-equal
    to ``CAST(SUM(CAST(x AS DECIMAL(18,scale))) AS DOUBLE)``."""
    total = (
        F.col(f"{alias}__hi").cast("decimal(38,0)") * _SPLIT
        + F.col(f"{alias}__lo")
    ).cast(f"decimal(38,{scale})")
    return (total / F.lit(10**scale).cast("decimal(38,0)")).cast("double").alias(alias)


def fmt_date(col: Column | str, alias: str) -> Column:
    """Date-valued timestamp -> 'yyyy-MM-dd' string (dtype-stable)."""
    return F.date_format(_c(col), "yyyy-MM-dd").alias(alias)


# Epoch conversions are inlined at call sites as F.unix_timestamp /
# F.unix_micros (DuckDB twins: CAST(floor(epoch(ts)) AS BIGINT) /
# epoch_us(ts)) — helpers for them sat unused here and drifted from
# practice, so they were removed rather than left as a second source
# of truth.


def srm_chi2_micro() -> Column:
    """One-degree chi-square of a 50/50 split in exact MICRO units:
    1e6 * (obs_a - obs_b)^2 DIV (obs_a + obs_b), the mid-product routed
    through DECIMAL(38,0) because a BROKEN randomizer — the case the
    SRM alarm exists for — makes the delta ~ n, and 1e6 * delta^2
    passes int64 already at delta > 3e6 rows.  The divided-out result
    is <= 1e6 * n, bigint to ~9e12 rows per group.  Shared by
    x_stats_srm and the x_stream_srm batch/stream expression; the
    DuckDB twin spells the same shape with HUGEINT."""
    return F.expr(
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * (obs_a - obs_b) "
        "* (obs_a - obs_b) DIV (obs_a + obs_b) AS BIGINT)"
    )


# -- engine-portable hashes ----------------------------------------------

KNUTH = 2654435761

_HEX_DIGITS = "0123456789abcdef"


def hex_int(col: Column | str, start: int, n: int) -> Column:
    """``n`` hex digits of ``col`` from 1-based ``start`` as a bigint."""
    return F.conv(F.substring(col, start, n), 16, 10).cast("long")


def hex_int_sql(expr: str, start: int | str, n: int) -> str:
    """Spark SQL twin of :func:`hex_int`; ``start`` may be SQL text."""
    return f"CAST(conv(substring({expr}, {start}, {n}), 16, 10) AS BIGINT)"


def hex_digit_duck(expr: str, pos: int | str) -> str:
    """DuckDB: the hex digit of ``expr`` at 1-based ``pos`` (an int or
    SQL text) as an integer 0-15."""
    return f"(strpos('{_HEX_DIGITS}', substr({expr}, {pos}, 1)) - 1)"


def hex_int_duck(expr: str, start: int, n: int) -> str:
    """DuckDB twin of :func:`hex_int`: the digits as a weighted sum."""
    terms = " + ".join(
        f"{hex_digit_duck(expr, start + i)} * {16 ** (n - 1 - i)}" for i in range(n)
    )
    return f"CAST({terms} AS BIGINT)"
