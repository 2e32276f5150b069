"""The exact-arithmetic kernel (operators/exact.py) against Spark itself:
the HALF_UP round at 6 and 0 decimals and the DoubleType sort order,
each checked in one action over the degenerate doubles (half-way
values, tiny negatives, signed zeros, infinities, NaN, huge values).
Plus the guard that keeps each rule written once in the package."""

from __future__ import annotations

import functools
import struct
from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F

from publicationsretriever_spark.operators.exact import (
    double_compare,
    round_half_up,
)

NAN, INF = float("nan"), float("inf")

ROUND_INPUTS = [
    5e-7, -5e-7, 1.0000005, -1.0000005, 4e-7, -4e-7, 1.5e-7, -1.5e-7,
    0.0, -0.0, 0.5, -0.5, 2.5, -2.5, 123456789.0000005, 1e22,
    1e300, -1e300, INF, -INF, NAN,
]

ORDER_INPUTS = [-0.0, 0.0, NAN, INF, -INF, 1.0]

PKG = Path(__file__).resolve().parent.parent / "publicationsretriever_spark"


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_round_half_up_matches_spark_round(spark):
    df = spark.createDataFrame(
        list(enumerate(ROUND_INPUTS)), "i long, x double"
    )
    for r in df.select(
        "i", F.round("x", 6).alias("r6"), F.round("x", 0).alias("r0")
    ).collect():
        x = ROUND_INPUTS[r["i"]]
        assert _bits(round_half_up(x)) == _bits(r["r6"]), x
        assert _bits(round_half_up(x, 0)) == _bits(r["r0"]), x


def test_double_compare_matches_spark_sort_order(spark):
    """Both id directions as the second key: Spark's order ties -0.0
    with 0.0, so only the id decides between them."""
    df = spark.createDataFrame(
        list(enumerate(ORDER_INPUTS)), "i long, x double"
    )
    rows = df.select(
        "i",
        F.row_number().over(Window.orderBy("x", "i")).alias("asc"),
        F.row_number()
        .over(Window.orderBy(F.col("x"), F.col("i").desc()))
        .alias("desc"),
    ).collect()
    for col, sign in (("asc", 1), ("desc", -1)):
        want = [r["i"] for r in sorted(rows, key=lambda r: r[col])]
        got = sorted(
            range(len(ORDER_INPUTS)),
            key=functools.cmp_to_key(
                lambda a, b: double_compare(
                    ORDER_INPUTS[a], ORDER_INPUTS[b]
                )
                or sign * (a - b)
            ),
        )
        assert got == want, col


def _modules_with(needle: str) -> list[str]:
    return sorted(
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if needle in p.read_text()
    )


def test_exact_rules_are_written_once():
    assert _modules_with("ROUND_HALF_UP") == ["operators/exact.py"]
    assert set(_modules_with('pack("<d"')) <= {"operators/exact.py"}
