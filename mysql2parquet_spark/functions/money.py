"""Fixed-point money kernel: exact ``DECIMAL(18,2)`` sums in BIGINT.

``CAST(double AS DECIMAL(18,2))`` formats every value with
``Double.toString`` and parses a ``java.math.BigDecimal``, and each money
product is then a BigDecimal multiply into a ``DECIMAL(38,x)`` sum buffer.
The three helpers here compute the same exact values on BIGINT instead:

- ``cents(col)``: the unscaled BIGINT of ``CAST(col AS DECIMAL(18,2))``.
- ``mul(a, b)``: a BIGINT product that raises ``MONEY_OVERFLOW`` instead
  of wrapping, under either ANSI setting.
- ``exact_sum(col, scale)``: the exact SUM of a BIGINT fixed-point column
  as ``DECIMAL(38, scale)``, from three 21-bit limb sums.

Bounds: a per-row value must stay below 2^63 units of the sum's scale
(``mul`` raises ``MONEY_OVERFLOW`` above that), and a group may hold up
to 2^42 rows (each limb sum is below 2^63), beyond the 10^10-row design
point of Spark's own DECIMAL SUM.

Each helper takes SQL expressions (column names included) and returns
SQL text, for ``selectExpr``/``F.expr``: one parse per expression
instead of one Py4J call per operator keeps query construction as cheap
as the per-row decimal casts it replaces. Compute the fixed-point values
once, in a projection directly under the aggregate: each ``exact_sum``
reads its column three times, and an inlined ``cents`` CASE would be
evaluated once per limb.
"""

from __future__ import annotations

OVERFLOW = "MONEY_OVERFLOW"

_LIMB_BITS = 21
_LIMB_MASK = (1 << _LIMB_BITS) - 1
# |v| below this takes the fast path: rint(v*100) < 1e15 has at most 15
# significant digits, so the double nearest to it/100 prints as exactly
# that 2-dp decimal, which is what the cast parses.
_FAST_BOUND = "1e13"


def cents(col: str) -> str:
    """The exact unscaled BIGINT of ``CAST(col AS DECIMAL(18,2))`` for a
    DOUBLE column. A value whose nearest 2-dp decimal round-trips
    (``rint(v*100)/100 == v``, ``|v| < 1e13``) is ``rint(v*100)``; every
    other row (half-cent ties such as 1.005, NaN, ±Inf, ``|v| >= 1e13``,
    NULL) goes through the cast itself, so it keeps the cast's value,
    error or NULL under both ANSI settings."""
    v = f"({col})"
    return (
        f"CASE WHEN abs({v}) < {_FAST_BOUND} AND rint({v} * 100) / 100 = {v}"
        f" THEN CAST(rint({v} * 100) AS BIGINT)"
        f" ELSE CAST(CAST({v} AS DECIMAL(18,2)) * 100 AS BIGINT) END"
    )


def mul(a: str, b: str) -> str:
    """BIGINT ``a * b`` that raises ``MONEY_OVERFLOW`` when the product
    leaves BIGINT, instead of wrapping (non-ANSI) or raising Spark's
    generic arithmetic error (ANSI). NULL in, NULL out."""
    a, b = f"({a})", f"({b})"
    p = f"try_multiply({a}, {b})"
    return (
        f"CASE WHEN {p} IS NULL AND {a} IS NOT NULL AND {b} IS NOT NULL"
        f" THEN raise_error(concat('{OVERFLOW}: ', CAST({a} AS STRING), ' * ',"
        f" CAST({b} AS STRING), ' leaves BIGINT'))"
        f" ELSE {p} END"
    )


def exact_sum(col: str, scale: int) -> str:
    """Exact ``SUM`` of a BIGINT column of units of ``10^-scale``, as
    ``DECIMAL(38, scale)``: NULL for an empty or all-NULL group. The
    value splits into two unsigned 21-bit limbs and a signed top limb;
    each limb sum stays a BIGINT aggregate buffer (no overflow below
    2^42 rows), and the limbs recombine in ``DECIMAL(38,0)`` after
    aggregation."""
    c = f"({col})"
    lo = f"CAST(sum({c} & {_LIMB_MASK}) AS DECIMAL(38,0))"
    mid = f"CAST(sum(shiftright({c}, {_LIMB_BITS}) & {_LIMB_MASK}) AS DECIMAL(38,0))"
    hi = f"CAST(sum(shiftright({c}, {2 * _LIMB_BITS})) AS DECIMAL(38,0))"
    unit = f"1E-{scale}BD" if scale else "1BD"
    return (
        f"(({lo} + {mid} * {1 << _LIMB_BITS} + {hi} * {1 << 2 * _LIMB_BITS})"
        f" * {unit})"
    )
