"""Shared column-expression helpers — the engine's scalar-function surface.

Mirrors the expression vocabulary the reference's SQL uses (SURVEY.md §2.8):
COALESCE/NULLIF/GREATEST/LEAST, epoch-millis timestamps, date formatting,
CASE ladders, saturating subtraction. Everything stays JVM-side (built-in
``pyspark.sql.functions``) — no Python UDFs in any hot path.

Determinism conventions (these make DuckDB-oracle hash checks exact):

- every float-valued output column is ``round(x, N)`` (N=4 unless noted);
- every CASE ladder / threshold filter compares the *rounded* value, so both
  engines branch on identical doubles;
- timestamps leave the engine as epoch milliseconds (``unix_millis``), dates
  as ``yyyy-MM-dd`` strings — never raw temporal types;
- every ``LIMIT`` is preceded by an ORDER BY ending in a unique key, so both
  engines pick the same top-k rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_ms(c: Column) -> Column:
    """Timestamp → epoch milliseconds (UTC session pinned).

    Oracle twin: ``CAST(epoch_ms(x) AS BIGINT)``. The cast handles
    TIMESTAMP_NTZ columns (naive parquet timestamps) under the UTC session.
    """
    return F.unix_millis(c.cast("timestamp"))


def date_str(c: Column) -> Column:
    """Date → 'yyyy-MM-dd' string. Oracle twin: ``strftime(x, '%Y-%m-%d')``."""
    return F.date_format(c, "yyyy-MM-dd")


def _portable_round(c: Column, scale: float) -> Column:
    # Engine-portable rounding: FLOOR(x*10^n + 0.5)/10^n. Native ROUND differs
    # between engines on exact decimal boundaries (DuckDB rounds the scaled
    # float, Spark rounds the decimal string); this form is the same IEEE op
    # sequence in both, so results are bit-identical by construction.
    return F.floor(c * scale + F.lit(0.5)) / scale


def r4(c: Column) -> Column:
    """Canonical 4-decimal rounding for float outputs (portable, both engines).

    Oracle twin: ``FLOOR(x * 10000.0 + 0.5) / 10000.0``.
    """
    return _portable_round(c, 10000.0)


def r6(c: Column) -> Column:
    """6-decimal portable rounding. Oracle twin: FLOOR(x*1e6+0.5)/1e6."""
    return _portable_round(c, 1000000.0)


def safe_div(num: Column, den: Column) -> Column:
    """num / NULLIF(den, 0) — the reference's div-by-zero guard."""
    return num / F.nullif(den, F.lit(0))


def count_if(pred: Column) -> Column:
    """COUNT(CASE WHEN pred THEN 1 END) — the conditional-count idiom used
    throughout the reference's aggregates."""
    return F.count(F.when(pred, F.lit(1)))


def floor_long(c: Column) -> Column:
    """CAST(FLOOR(x) AS BIGINT) — portable double→int.

    Plain CAST(double AS BIGINT) *rounds* in DuckDB but *truncates* in Spark;
    flooring first makes both engines agree for all inputs.
    """
    return F.floor(c).cast("long")
