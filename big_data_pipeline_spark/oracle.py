"""Oracle-parity expression helpers: the engine's one exact-sum kernel.

The driver cross-checks every query against DuckDB with an
order-insensitive value hash (see ``__spark_entry__.py``). Floating-point
SUM/AVG are order-sensitive, and Spark's partial aggregation order is
nondeterministic — so any query whose output contains a raw double sum
can hash-mismatch even when "correct". Every checked double sum goes
through the kernel here instead; SURVEY.md §7.4 ("DuckDB↔Spark
float/hash parity") is the design note behind it.

Per-row double arithmetic (products, 1-x) is IEEE-754 and bit-identical
across engines. The SQL twins sum ``CAST(x AS DECIMAL(38,6))`` in DuckDB;
the Spark kernel computes the same total without a decimal per row:

* **Per row**, ``x`` becomes an integer count of micro-units,
  ``u = rint(v + sign(v)·1e-9)`` with ``v = x·10⁶``, cast to BIGINT.
  This is DuckDB's own DOUBLE→DECIMAL(·,6) rule (multiply in double,
  nudge away from zero by 1e-9, round half to even), so ``u`` equals the
  oracle's decimal digit for digit, ties included. Spark's own cast
  formats ``Double.toString`` and rounds that half-up, which disagrees
  with DuckDB on values whose ``x·10⁶`` lands on a half.
* **Aggregate:** ``u`` is split into three BIGINT limbs,
  ``u div 10¹²``, ``(u div 10⁶) % 10⁶`` and ``u % 10⁶`` (all of one
  sign), each summed as a plain long. Long buffers are fixed-width and
  several times cheaper to update than a 38-digit decimal buffer. (Two
  limbs, ``u div 10⁶`` and ``u % 10⁶``, are cheaper still — q1 in
  0.53 s against 0.65 s on a 4-core host — but the high one sums to
  about Σx and would wrap silently under ``spark.sql.ansi.enabled=false``
  once |Σx| passes 9.2e18.)
* **Per group, once:** the limb sums recombine exactly into a
  DECIMAL(38,6) (``top·10⁶ + mid + lo·10⁻⁶``); the double result is the
  correctly-rounded cast of that decimal, as before.

Bounds. ``u`` fits a BIGINT while ``|x| < 2⁶³/10⁶ ≈ 9.2e12``. Each row
adds less than 10⁶ to the two low limbs and at most 9.2e6 to the top
one, so no limb sum can overflow below about 10¹² rows per group, at any
value mix. A row outside the range (or NaN/±Inf) raises an error whatever
``spark.sql.ansi.enabled`` says — never a wrapped, saturated or null
contribution. DuckDB's DECIMAL(38,6) cast raises on NaN/±Inf and beyond
10³², so rows with 9.2e12 ≤ |x| < 10³² raise on the Spark side only.
NULL rows are skipped; a group of only NULLs, or no rows,
sums to NULL. Averages divide the exact sum, as a double, by the row
count — one deterministic division.

Column helpers build Spark Columns (call inside a query function, with
an active session); ``*_sql`` helpers emit the equivalent ANSI fragment
for the DuckDB oracle, so query and oracle share one definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"

_MICRO = 10**6
# 2**63 as a double: every double below it rints to a value a BIGINT holds.
_U_LIMIT = float(2**63)


# DuckDB's direct DECIMAL→DOUBLE cast is NOT correctly rounded once the
# decimal's digits exceed double precision (observed: 1-ulp error on a
# 20-digit DECIMAL(38,0) at sf0.1 — the int128 is converted piecewise).
# Spark's cast (BigDecimal.doubleValue) IS correctly rounded. Routing
# the oracle's cast through VARCHAR (exact digits → strtod, correctly
# rounded) makes both engines bit-identical at ANY magnitude.


def _dec_to_double_sql(inner: str) -> str:
    return f"CAST(CAST({inner} AS VARCHAR) AS DOUBLE)"


def exact_decimal_sum(expr_sql: str) -> Column:
    """Exact, order-insensitive SUM of a double expression, as DECIMAL(38,6).

    This is the kernel; ``exact_sum`` and ``exact_avg`` are its
    double-valued forms. It is built as one SQL expression because
    composing it from Column calls costs a driver round trip per node:
    about 0.3 s more to build q1's seven kernels on a 4-core host.
    """
    x = f"CAST({expr_sql} AS DOUBLE)"
    v = f"({x} * 1e6)"
    u = (
        # NaN compares greater than any double in Spark, so it raises too
        f"CAST(CASE WHEN abs({v}) >= {_U_LIMIT!r} THEN raise_error(concat("
        f"'exact sum: |x| >= 9.2e12 or NaN: ', CAST({x} AS STRING))) "
        f"ELSE rint({v} + signum({v}) * 1e-9) END AS BIGINT)"
    )
    return F.expr(
        f"CAST(CAST(sum({u} div {_MICRO**2}) AS DECIMAL(38,0)) * {_MICRO}"
        f" + sum(({u} div {_MICRO}) % {_MICRO})"
        f" + sum({u} % {_MICRO}) * 0.000001BD AS DECIMAL(38,6))"
    )


def exact_sum(expr_sql: str, alias: str | None = None) -> Column:
    """Order-insensitive SUM of a double expression, returned as double."""
    out = exact_decimal_sum(expr_sql).cast("double")
    return out.alias(alias) if alias else out


def exact_sum_sql(expr_sql: str, alias: str) -> str:
    inner = f"SUM(CAST({expr_sql} AS DECIMAL(38,6)))"
    return f"{_dec_to_double_sql(inner)} AS {alias}"


def exact_avg(expr_sql: str, alias: str | None = None) -> Column:
    """Order-insensitive AVG: exact sum / row count, one double divide."""
    out = exact_decimal_sum(expr_sql).cast("double") / F.count(F.lit(1))
    return out.alias(alias) if alias else out


def exact_avg_sql(expr_sql: str, alias: str) -> str:
    inner = f"SUM(CAST({expr_sql} AS DECIMAL(38,6)))"
    return f"{_dec_to_double_sql(inner)} / COUNT(*) AS {alias}"
