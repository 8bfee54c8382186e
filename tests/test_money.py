"""Fixed-point money kernel (functions/money.py) against the decimal
arithmetic it replaces: ``cents`` must give the unscaled value of
``CAST(x AS DECIMAL(18,2))`` (or its error, or its NULL) under both ANSI
settings, ``exact_sum`` the exact decimal SUM, and ``mul`` its named
error instead of a wrapped or generic overflow."""

from __future__ import annotations

import contextlib
import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from mysql2parquet_spark.functions.money import OVERFLOW, cents, exact_sum, mul

ANSI = "spark.sql.ansi.enabled"
REF = "CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT)"


@contextlib.contextmanager
def ansi(spark, enabled: bool):
    prev = spark.conf.get(ANSI)
    spark.conf.set(ANSI, str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set(ANSI, prev)


def _frame(spark, rows, schema):
    # the exchange keeps the projections out of ConvertToLocalRelation,
    # so they run as generated code, as on a table scan
    return spark.createDataFrame(rows, schema).repartition(2)


def _outcome(fn):
    """The collected rows, or the error class (and exception type) an
    action raised."""
    try:
        return ("rows", fn())
    except Exception as e:  # compare errors by class, not message
        cond = getattr(e, "getCondition", lambda: None)()
        return ("error", type(e).__name__, cond)


def _random_values(n: int) -> list[float]:
    rng = random.Random(7)
    vals = [round(rng.uniform(-1e5, 1e5), 2) for _ in range(n)]
    vals += [rng.uniform(-1e6, 1e6) for _ in range(n)]
    # every magnitude the cast accepts: 1e-4 .. 1e15
    vals += [rng.uniform(-1, 1) * 10 ** rng.randint(-4, 15) for _ in range(n)]
    return vals


SPECIALS = [
    1.005, 2.675, 0.125, 0.005, -1.005, -0.0,
    1e13 - 0.01, 1e13, 1e13 + 0.01,
    None, float("nan"), float("inf"), float("-inf"), 1e16, 1e17,
]


@pytest.mark.parametrize("enabled", [True, False])
def test_cents_matches_decimal_cast_random(spark, enabled):
    df = _frame(spark, [(i, v) for i, v in enumerate(_random_values(2000))],
                "i long, v double")
    with ansi(spark, enabled):
        bad = (
            df.selectExpr("v", f"{cents('v')} AS got", f"{REF} AS want")
            .filter(~F.col("got").eqNullSafe(F.col("want")))
            .collect()
        )
    assert bad == []


@pytest.mark.parametrize("enabled", [True, False])
@pytest.mark.parametrize("v", SPECIALS, ids=repr)
def test_cents_matches_decimal_cast_special(spark, enabled, v):
    df = _frame(spark, [(v,)], "v double")
    with ansi(spark, enabled):
        got = _outcome(lambda: df.selectExpr(f"{cents('v')} AS x").collect())
        want = _outcome(lambda: df.selectExpr(f"{REF} AS x").collect())
    assert got == want
    if v is not None and abs(v) < 1e16 and v == v:
        assert got[1][0].x == int(
            (Decimal(repr(v)) * 100).quantize(Decimal(1), rounding="ROUND_HALF_UP")
        )


def test_cents_half_cent_ties_round_half_up(spark):
    df = _frame(spark, [(1.005,), (2.675,), (0.125,), (-1.005,)], "v double")
    got = [r.x for r in df.selectExpr(f"{cents('v')} AS x").collect()]
    assert sorted(got) == sorted([101, 268, 13, -101])


def _group_sums(spark, rows, scale):
    df = _frame(spark, rows, "g string, v long")
    dec_ref = F.sum(F.col("v").cast("decimal(20,0)")) * F.lit(Decimal(1).scaleb(-scale))
    return {
        r.g: (r.got, r.want)
        for r in df.groupBy("g")
        .agg(F.expr(exact_sum("v", scale)).alias("got"), dec_ref.alias("want"))
        .collect()
    }


@pytest.mark.parametrize("enabled", [True, False])
def test_exact_sum_matches_decimal_sum(spark, enabled):
    rng = random.Random(11)
    vals = [round(rng.uniform(-1e4, 1e4), 2) for _ in range(3000)]
    rows = [(f"g{i % 7}", v) for i, v in enumerate(vals)]
    rows += [("nulls", None), ("nulls", None), ("mixed", None), ("mixed", -0.01)]
    df = _frame(spark, rows, "g string, v double").selectExpr(
        "g", "v", f"{cents('v')} AS c"
    )
    with ansi(spark, enabled):
        got = {
            r.g: (r.got, r.want, r.as_double)
            for r in df.groupBy("g").agg(
                F.expr(exact_sum("c", 2)).alias("got"),
                F.sum(F.col("v").cast("decimal(18,2)")).alias("want"),
                F.expr(f"CAST({exact_sum('c', 2)} AS DOUBLE)").alias("as_double"),
            ).collect()
        }
    assert got["nulls"] == (None, None, None)
    for g, (a, b, d) in got.items():
        assert a == b, g
        assert d == float(b) if b is not None else d is None, g
    # the mixed-sign groups are what a carry bug in the limbs would break
    assert any(b < 0 for _, b, _ in got.values() if b is not None)
    assert any(b > 0 for _, b, _ in got.values() if b is not None)


def test_exact_sum_beyond_bigint(spark):
    """Values near 2^62: a BIGINT SUM of two of them overflows, the limb
    sums stay exact, with both signs and a cancelling group."""
    big = (1 << 62) + 12345
    rows = [("pos", big)] * 5 + [("neg", -big)] * 5 + [("zero", big), ("zero", -big)]
    rows += [("mix", big), ("mix", -(1 << 62) + 1), ("mix", (1 << 63) - 1), ("mix", -(1 << 63))]
    got = _group_sums(spark, rows, 6)
    for g, (a, b) in got.items():
        assert a == b, g
    assert got["pos"][0] == Decimal(5 * big).scaleb(-6)
    assert got["zero"][0] == 0
    with ansi(spark, False):  # the plain BIGINT sum wraps silently
        wrapped = _frame(spark, rows, "g string, v long").filter("g = 'pos'")
        assert wrapped.agg(F.sum("v")).first()[0] != 5 * big


def test_exact_sum_empty_input_is_null(spark):
    df = _frame(spark, [], "v long")
    row = df.agg(F.expr(exact_sum("v", 2)).alias("s"), F.sum("v").alias("ref")).first()
    assert row.s is None and row.ref is None


@pytest.mark.parametrize("enabled", [True, False])
def test_mul_overflow_raises_named_error(spark, enabled):
    df = _frame(spark, [(1 << 40, 1 << 30)], "a long, b long")
    with ansi(spark, enabled):
        with pytest.raises(Exception, match=OVERFLOW):
            df.selectExpr(f"{mul('a', 'b')} AS p").collect()


@pytest.mark.parametrize("enabled", [True, False])
def test_mul_in_range_and_null(spark, enabled):
    rows = [(3, -7), (None, 5), (5, None), ((1 << 31), (1 << 31) - 1)]
    df = _frame(spark, rows, "a long, b long")
    with ansi(spark, enabled):
        got = {
            (r.a, r.b): r.p
            for r in df.selectExpr("a", "b", f"{mul('a', 'b')} AS p").collect()
        }
    assert got == {
        (a, b): None if a is None or b is None else a * b for a, b in rows
    }
