"""Spark <-> DuckDB oracle alignment helpers (SURVEY.md §5.3 rules).

The driver hash-compares every query's Spark result against a DuckDB
run of ``oracle_sql()`` (row-count + schema + order-insensitive
value-hash). Floats, timestamps and integer widths are where two
correct engines diverge; these helpers enforce one discipline on BOTH
sides so results are bit-comparable:

1. **Sums of doubles**: accumulate in DECIMAL (exact, order-independent)
   then cast the total back to DOUBLE. A double sum's value depends on
   partition/accumulation order; at 60k+ rows Spark and DuckDB disagree
   in the low bits, which breaks any hash. Per-row double->decimal
   rounding is deterministic, decimal addition is exact, and the final
   decimal->double cast is deterministic, so both engines produce the
   identical double. Spark: ``dsum(col)``; SQL: ``DSUM('x')`` template.
2. **Averages**: exact decimal sum divided by count, both as doubles -
   identical operands -> identical IEEE result. Never the engines' own
   AVG over doubles.
3. **Order-dependent float aggregates that cannot be made exact**
   (stddev/variance/corr): round to 6 dp on both sides; results here
   are O(1e3) with O(1e-10) cross-engine error, so 6 dp is stable.
4. **Timestamps**: never emit TimestampType. Emit epoch microseconds
   (BIGINT) or an ISO date string. events.ts is parquet timestamp[ns];
   Spark truncates to µs on read, so the oracle must cast through
   TIMESTAMP (µs) before epoch extraction - ``EPOCH_US`` template.
5. **Integer widths**: CAST every integral output to BIGINT on both
   sides (DuckDB SUM(int) yields HUGEINT, COUNT yields BIGINT; Spark
   count yields LONG - normalize all to 64-bit).
6. **No arrays/maps/structs in final output**: stringify
   (``array_join``/``array_to_string``) or explode to rows.
7. **Ties**: every rank/top-k breaks ties with a unique key column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Decimal wide enough for 100 TB-scale sums of ~1e6-magnitude values:
# DECIMAL(30,6) holds 1e26 -- sums never overflow; Spark widens the sum
# to precision 38 internally.
_DEC = T.DecimalType(30, 6)


def dsum(col: str | Column) -> Column:
    """Order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double")


def dsum_sql(expr: str) -> str:
    """DuckDB equivalent of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE)"


def dsum_where_sql(expr: str, cond: str, default: str = "0.0") -> str:
    """Filtered variant of :func:`dsum_sql` (FILTER binds to SUM, not to
    the outer CAST), COALESCEd like Spark's sum-of-when."""
    return (
        f"COALESCE(CAST(SUM(CAST(({expr}) AS DECIMAL(30,6)))"
        f" FILTER (WHERE {cond}) AS DOUBLE), {default})"
    )


def davg(col: str | Column) -> Column:
    """Order-independent mean: exact decimal sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(_DEC)).cast("double") / F.count(c)).cast("double")


def davg_sql(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS DOUBLE)"
    )


def bcount(*cols: str) -> Column:
    """COUNT(*) (or COUNT(col)) as BIGINT to match DuckDB."""
    return (F.count(cols[0]) if cols else F.count(F.lit(1))).cast("long")


def epoch_us(col: str | Column) -> Column:
    """Timestamp -> epoch microseconds (BIGINT), the canonical output
    form for any timestamp column (rule 4).

    Parquet ms timestamps surface as TIMESTAMP_NTZ in Spark 4; the cast
    to (LTZ) timestamp interprets the wall-clock in the session TZ,
    which session.provision pins to UTC for every op - the same
    interpretation DuckDB's epoch_us gives naive timestamps."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp")).cast("long")


def epoch_us_sql(expr: str) -> str:
    """DuckDB twin of :func:`epoch_us`; the CAST through TIMESTAMP
    truncates parquet ns-precision to Spark's µs."""
    return f"CAST(epoch_us(CAST(({expr}) AS TIMESTAMP)) AS BIGINT)"


def r6(col: Column) -> Column:
    """Round an order-dependent float aggregate to 6 dp (rule 3)."""
    return F.round(col, 6)
