"""Scalar/aggregate helper expressions shared by the operator library.

Two concerns live here:

1. Reference-parity scalar surface (SURVEY.md section 2 H1-H10): JSON
   parse/extract, epoch<->timestamp casts, interval windows — all thin
   wrappers over built-in ``pyspark.sql.functions`` so everything stays
   inside whole-stage codegen (zero-UDF discipline, SURVEY.md section
   2 K).

2. Oracle-determinism helpers.  The driver hash-compares Spark output
   against DuckDB; floating-point *sums* are order-dependent, so hashed
   aggregates go through exact decimal accumulation (``dsum``) and
   timestamps are truncated to whole seconds (parquet ns vs Spark us
   precision) before leaving a query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- determinism


def dsum(col: Column | str, scale: int = 4) -> Column:
    """Order-independent sum of a double column.

    Casts each value to an exact DECIMAL before summing (decimal
    addition is associative — no float reassociation drift between
    Spark's partial/final agg tree and DuckDB's sequential sum), then
    returns DOUBLE for a stable output schema.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def msum(col: Column | str) -> Column:
    """Order-independent sum of a fixed-point monetary DOUBLE column.

    For columns whose values carry at most 2 decimal digits
    (TPC-H money: cents), ``round(x * 100)`` recovers the exact
    scaled integer (the double representation error is ~1e-9 of a unit,
    never near a .5 boundary), so a LONG sum is exact and associative.
    The final ``/ 10^scale`` yields the correctly-rounded double —
    bit-identical to :func:`dsum`'s decimal-sum-then-cast result while
    the accumulation stays in whole-stage codegen's primitive-long path
    instead of Decimal's object path (measured 0.75 s -> 0.31 s on the
    sf0.1 global sum).

    Bounds: exact while the scaled total stays under 2^53 (~9e15 —
    $90e12 at cents); beyond that use :func:`dsum` (decimal(28,s) holds
    ~1e24).  Non-fixed-point inputs silently round — use :func:`dsum`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * 100).cast("long")) / F.lit(100.0)


def lsum(term: Column) -> Column:
    """Exact order-independent sum of an INTEGRAL expression via
    primitive-long accumulation (whole-stage codegen), bit-identical to
    the decimal-sum-then-cast path while ~4x cheaper (Decimal's agg
    buffer above precision 18 is a boxed BigDecimal).

    Caller proves the width bound: max|term| x rows-per-group < 2^63
    (Spark 4 ANSI mode turns a misjudged bound into an explicit
    overflow error, never a silent wrap).  For per-row magnitudes above
    ~2^24 where the bound gets tight, use :func:`xlsum`."""
    return F.sum(term.cast("long")).cast("double")


def xlsum(term: Column) -> Column:
    """Exact order-independent sum of an integral expression whose
    per-row magnitude (up to ~2^53) would push a plain long sum past
    2^63 at large row counts: each row splits into hi/lo halves at
    ``shift`` bits, both halves accumulate as primitive longs, and the
    halves recombine EXACTLY in decimal once per group before the
    single cast to DOUBLE — bit-identical to full decimal accumulation
    with the hot path entirely in codegen long arithmetic.

    Width bounds at the default shift=24: sum(lo) overflows at 2^39
    rows per group (~5.5e11 — a full 100 TB fact table in one group);
    sum(hi) at 2^63 * 2^24 / max|term| rows.  Above that, fall back to
    :func:`dsum`-style decimal accumulation."""
    t = term.cast("long")
    hi = F.shiftright(t, 24)
    lo = t - hi * F.lit(2**24).cast("long")
    return (
        F.sum(hi).cast("decimal(38,0)") * F.lit(2**24)
        + F.sum(lo).cast("decimal(38,0)")
    ).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / count, as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(28,4)")).cast("double")
        / F.count(c).cast("double")
    )


def ts_second(col: Column | str) -> Column:
    """Truncate a timestamp to whole seconds for hash-stable output.

    Testdata timestamps are nanosecond parquet values; Spark reads
    microseconds, DuckDB nanoseconds — second truncation makes both
    engines emit identical values.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("second", c)


# ------------------------------------------------------- reference H* surface


def json_parse(col: Column | str, schema: str) -> Column:
    """H1 ``from_json`` (reference ``streaming_job.py:200``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, schema)


def json_extract(col: Column | str, path: str) -> Column:
    """H3 ``get_json_object`` (reference DataModel_SchemaDesign.md:129)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, path)


def epoch_seconds_to_ts(col: Column | str) -> Column:
    """H7 epoch-seconds LONG -> TIMESTAMP (reference ``streaming_job.py:202``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c)


def seconds_between(start: Column, end: Column) -> Column:
    """H6 ``date_diff('second', ...)`` parity (reference
    lakehouse_monitor.json:181): whole-second difference.  Both inputs
    are second-truncated first so Spark (elapsed-floor) and DuckDB
    (boundary-count) semantics coincide."""
    return (
        F.date_trunc("second", end).cast("long")
        - F.date_trunc("second", start).cast("long")
    )
