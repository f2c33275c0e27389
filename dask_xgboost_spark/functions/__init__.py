"""Expression helpers implementing the cross-engine determinism contract.

SURVEY.md §2C: monetary/double aggregations go through exact DECIMAL
arithmetic so Spark and the DuckDB oracle produce bit-identical results
regardless of partitioning / aggregation order. Empirically verified on
this machine (2026-08-13):

- ``ROUND`` on decimals is half-away-from-zero in BOTH engines, but
  decimal→decimal CAST ties differ (Spark HALF_UP, DuckDB half-even):
  every decimal cast in a hash-mode query must therefore be *lossless*
  (widening, or scale-reduction that provably drops only zeros); use
  ROUND() when actual rounding is intended.
- decimal→double conversion differs by 1 ulp once the unscaled value
  exceeds 2^53 (Spark via BigDecimal.doubleValue is correctly rounded;
  DuckDB divides a converted int by 10^scale) → big sums are returned AS
  DECIMAL(38,6); doubles are only derived from small-unscaled decimals.
- Fixture data: prices/balances/values have exactly 2 decimals, rates 2,
  quantity integral → all products have ≤6 decimal digits, so the final
  DECIMAL(38,6) cast never rounds at all.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"  # exact carrier for 2-decimal fixture data


def c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dec(col: str | Column) -> Column:
    """Exact decimal carrier: CAST(x AS DECIMAL(18,4))."""
    return c(col).cast(DEC)


def one_minus(col: str | Column) -> Column:
    return F.lit(1).cast(DEC) - dec(col)


def one_plus(col: str | Column) -> Column:
    return F.lit(1).cast(DEC) + dec(col)


def net_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal (scale 8, ≤4 real)."""
    return dec("l_extendedprice") * one_minus("l_discount")


def charge() -> Column:
    """net_price * (1 + l_tax); re-anchored to scale 6 to stay within p=38."""
    return net_price().cast("decimal(18,6)") * one_plus("l_tax")


# --- fixed-point fast path ----------------------------------------------
# For 2-decimal monetary data, FLOOR(x*100 + 0.5) of the identical double
# is an identical int64 in both engines; integer sums then stay in Spark's
# codegen fast path (Long-backed) instead of BigDecimal. int64→double
# conversion is IEEE-correctly-rounded in both engines (unlike Spark's
# decimal→double, which detours through shortest-string), so derived
# doubles are bit-identical at any magnitude. Used for the bench headliner
# queries; the decimal carrier above stays the scale-proof default (an
# int64 Σ(price·disc·tax cents³) overflows around 9e7 rows per group).


def cents(col: str | Column) -> Column:
    """Exact int64 cents: FLOOR(x*100 + 0.5) (x has ≤2 true decimals)."""
    return F.floor(c(col) * 100 + F.lit(0.5))


def sql_cents(x: str) -> str:
    return f"CAST(FLOOR({x} * 100 + 0.5) AS BIGINT)"


# --- SQL-side mirrors (DuckDB oracle text) ------------------------------

SQL_DEC = "CAST({x} AS DECIMAL(18,4))"


def sql_dec(x: str) -> str:
    return SQL_DEC.format(x=x)


def sql_net_price() -> str:
    return f"({sql_dec('l_extendedprice')} * (CAST(1 AS DECIMAL(18,4)) - {sql_dec('l_discount')}))"


def sql_charge() -> str:
    return f"(CAST({sql_net_price()} AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,4)) + {sql_dec('l_tax')}))"


def md5_poly(arg_sql: str, n_terms: int, *, descending: bool = False) -> str:
    """THE dialect-neutral md5-polynomial hash fragment — the single
    audited definition behind every deterministic engine-neutral hash
    in the repo (MinHash permutations, calibration scores, class-flip
    predictions, skew-profile buckets). Emits

        (Σ_i CAST(ascii(substr(md5(arg), i+1, 1)) AS BIGINT) · 31^p_i)

    over the first ``n_terms`` hex chars of ``md5(arg_sql)``, with
    powers ascending (p_i = i, MinHash convention) or ``descending``
    (p_i = n-1-i, Horner/score convention). The text runs UNCHANGED in
    Spark SQL and DuckDB (md5/ascii/substr/|| agree across dialects);
    any dialect-specific cast goes inside ``arg_sql`` (STRING vs
    VARCHAR).

    Overflow discipline (the reason this must live in ONE place,
    VERDICT r8): every ascii() factor is cast to BIGINT *before* the
    coefficient multiply — 31⁵·127 already overflows int32, which Spark
    would silently wrap with ANSI off while DuckDB widens, diverging
    the engines. Unit coefficients (31⁰) are omitted rather than
    emitted as ``* 1``; the value is identical and the fragment stays
    readable inside larger expressions."""
    terms = []
    for i in range(n_terms):
        p = (n_terms - 1 - i) if descending else i
        t = f"CAST(ascii(substr(md5({arg_sql}), {i + 1}, 1)) AS BIGINT)"
        if p:
            t += f" * {31 ** p}"
        terms.append(t)
    return "(" + " + ".join(terms) + ")"


def hex_nibbles(hex_sql: str, start: int, n_chars: int) -> str:
    """Dialect-neutral UNIFORM integer from md5 hex characters — the
    second audited hash fragment next to :func:`md5_poly`, added for the
    hash-mode sketch twins (Q-AGG-27 HLL registers, Q-AGG-28 count-min).

    ``md5_poly`` weights raw ascii codes by powers of 31, which is fine
    for MinHash orderings and bucket checksums but NOT uniform modulo a
    power of two — a sketch whose bucket/rank statistics feed an
    estimator needs genuinely uniform bits. This fragment decodes each
    hex char to its 4-bit value (``ascii - 48`` for ``'0'..'9'``,
    ``ascii - 87`` for ``'a'..'f'``) and assembles a big-endian base-16
    integer over ``n_chars`` chars starting at 1-based ``start``:

        Σ_j (CAST(ascii(substr(hx, start+j, 1)) AS BIGINT)
             - CASE ascii >= 97 THEN 87 ELSE 48) · 16^(n-1-j)

    The result is EXACTLY uniform on [0, 16^n) given a uniform hex
    string, so ``value % 2^k`` is exactly uniform for any ``k ≤ 4n``
    (16^n is a multiple of every smaller power of two) — no division
    needed, which matters because integer division is the one operator
    Spark SQL (``DIV``) and DuckDB (``//``) spell differently. Only
    ascii/substr/CASE/+/* appear, all dialect-identical.

    Overflow discipline (same as md5_poly): each nibble is BIGINT-cast
    before its coefficient multiply, and ``n_chars <= 15`` keeps the
    maximum value under 2^60 < int64 max. Unit coefficients (16^0) are
    omitted. ``hex_sql`` should reference a precomputed md5 column, not
    inline ``md5(...)`` — the fragment repeats it 2·n times."""
    assert 1 <= n_chars <= 15, n_chars
    assert start >= 1, start
    terms = []
    for j in range(n_chars):
        i = start + j
        p = n_chars - 1 - j
        a = f"ascii(substr({hex_sql}, {i}, 1))"
        t = (
            f"(CAST({a} AS BIGINT) - "
            f"CASE WHEN {a} >= 97 THEN 87 ELSE 48 END)"
        )
        if p:
            t += f" * {16 ** p}"
        terms.append(t)
    return "(" + " + ".join(terms) + ")"


# DuckDB view of events with Spark's exact µs truncation applied (the
# fixture parquet is ns; Spark reads µs — see sources/tables.py).
EVENTS_US = (
    "(SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id, "
    "event_type, value, props FROM events)"
)

# --- Fixed-point vector templates (array<float> columns) -----------------
# Spark-SQL dot/norm with each elementwise product floored at 1e-12 so the
# sum — and the derived cosine — is the identical IEEE double in Spark and
# DuckDB (the L-SIM-01 discipline). The DUCK_* strings are the DuckDB
# mirrors (1-based list indexing; range(n) is 0..n-1). Shared by
# operators/similarity.py and the L-DEDUP-05 oracle.
DOT12 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e12) AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v) / 1e12"
)
NORM12 = (
    "SQRT(aggregate(transform({a}, x -> "
    "CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v) / 1e12)"
)
DUCK_DOT12 = (
    "list_sum(list_transform(range(1, len({a}) + 1), i -> "
    "FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * 1e12))) / 1e12"
)
DUCK_NORM12 = (
    "SQRT(list_sum(list_transform({a}, x -> "
    "FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12))) / 1e12)"
)
