"""Pins for the vecfold fold generators.

Two contracts:
1. Every generator emits exactly its historical fold SQL text, so
   every plan built from it is reproducible byte for byte.
2. Spark evaluates each fold as a sequential left fold seeded at
   ``+0.0``: bit-identical to that fold replayed in Python on every
   input — NULL arrays, NULL elements, mismatched widths, empty arrays
   and adversarial doubles (-0.0, NaN, inf, denormals) where an
   accumulation-order change would show.
"""

from __future__ import annotations

import math
import struct
from itertools import zip_longest

import pytest

from huckli_spark.functions import vecfold


def _same(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if isinstance(want, float) and math.isnan(want):
        return math.isnan(got)
    if isinstance(want, float):
        return struct.pack("<d", got) == struct.pack("<d", want)
    return got == want


def _left_fold(a, b, term, seed=0.0):
    """``aggregate(zip_with(a, b, term), seed, (acc, v) -> acc + v)``:
    zip_with pads the shorter side with NULL, and a NULL term makes
    the sum NULL."""
    if a is None or b is None:
        return None
    acc = seed
    for x, y in zip_longest(a, b):
        if x is None or y is None:
            return None
        acc = acc + term(x, y)
    return acc


def _mul(x, y):
    return x * y


def _sqdiff(x, y):
    return (x - y) * (x - y)


class TestOffSwitch:
    def test_zero_width_is_exact_fold_text(self):
        assert vecfold.sql_dot("a", "b") == (
            "aggregate(zip_with(a, b, (x, y) -> cast(x AS double)"
            " * cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)"
        )
        assert vecfold.sql_sqdist("a", "b") == (
            "aggregate(zip_with(a, b,"
            " (x, y) -> (cast(x AS double) - cast(y AS double))"
            " * (cast(x AS double) - cast(y AS double))),"
            " cast(0.0 AS double), (acc, v) -> acc + v)"
        )
        assert vecfold.sql_dot_lit("a", [1.5]) == (
            "aggregate(zip_with(a, array(cast(1.5 AS double)),"
            " (x, y) -> cast(x AS double) * y),"
            " cast(0.0 AS double), (acc, v) -> acc + v)"
        )
        assert vecfold.sql_sqdist_lit_at("a", 2, [1.5]) == (
            "aggregate(zip_with(slice(a, 3, 1), array(cast(1.5 AS double)),"
            " (x, y) -> (cast(x AS double) - y) * (cast(x AS double) - y)),"
            " cast(0.0 AS double), (acc, v) -> acc + v)"
        )
        assert vecfold.sql_sqdist_int_lit("a", [3]) == (
            "aggregate(zip_with(a, array(3L), (x, y) -> (x - y) * (x - y)),"
            " cast(0 AS bigint), (acc, v) -> acc + v)"
        )


ADVERSARIAL = [
    # (a, b) pairs of array<double>
    ([1.0, 2.0, 3.0, 4.0], [0.5, -0.25, 8.0, 1e300]),
    ([-0.0, 0.0, -0.0, 1.0], [0.0, -0.0, 5.0, -0.0]),
    ([-0.0, -0.0, -0.0, -0.0], [1.0, 1.0, 1.0, 1.0]),  # all -0.0 terms
    ([float("nan"), 1.0, 2.0, 3.0], [1.0, 1.0, 1.0, 1.0]),
    ([float("inf"), 1.0, -1e308, 1e308], [2.0, float("-inf"), 1e10, 1e10]),
    ([5e-324, 2.5e-323, 1.0, -1.0], [5e-324, 4.0, 1e-300, 1e-300]),
    ([0.1, 0.2, 0.3, 0.4], [0.7, 0.11, 0.13, 0.17]),
    ([1.0, None, 3.0, 4.0], [1.0, 2.0, None, 4.0]),  # NULL elements
    ([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
    ([1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 2.0, 3.0, 4.0]),  # mismatched
    ([], []),  # empty
    (None, [1.0, 2.0, 3.0, 4.0]),  # NULL array
    ([1.0, 2.0, 3.0, 4.0], None),
    (None, None),
]


@pytest.mark.usefixtures("spark")
class TestBitIdentity:
    def _check(self, spark, expr, expected):
        df = spark.createDataFrame(
            ADVERSARIAL, "a array<double>, b array<double>"
        ).coalesce(1).selectExpr(f"{expr} AS f")
        got = [r.f for r in df.collect()]
        want = [expected(a, b) for a, b in ADVERSARIAL]
        for i, (g, w) in enumerate(zip(got, want)):
            assert _same(g, w), (i, g, w)

    def test_dot(self, spark):
        self._check(spark, vecfold.sql_dot("a", "b"),
                    lambda a, b: _left_fold(a, b, _mul))

    def test_sqdist(self, spark):
        self._check(spark, vecfold.sql_sqdist("a", "b"),
                    lambda a, b: _left_fold(a, b, _sqdiff))

    def test_dot_lit(self, spark):
        # literal vectors in production (hyperplanes, centroids) are
        # always finite doubles; adversarial values live on the column
        lit = [0.1, -0.0, 5e-324, 1e300]
        self._check(spark, vecfold.sql_dot_lit("a", lit),
                    lambda a, b: _left_fold(a, lit, _mul))

    def test_sqdist_lit_at(self, spark):
        # offset 1, sub-width 3 against 0/3/4/5-length and NULL arrays
        lit = [0.1, -0.0, 1e300]
        self._check(
            spark, vecfold.sql_sqdist_lit_at("a", 1, lit),
            lambda a, b: _left_fold(None if a is None else a[1:4], lit,
                                    _sqdiff),
        )

    def test_sqdist_int(self, spark):
        lit = [7, -3, 0, 2**20]
        rows = [
            ([1, 2, 3, 4],),
            ([-(2**20), 2**20, 0, 5],),
            ([1, None, 3, 4],),
            ([1, 2, 3],),
            ([],),
            (None,),
        ]
        df = spark.createDataFrame(rows, "a array<bigint>").coalesce(1)
        got = [
            r.f for r in
            df.selectExpr(f"{vecfold.sql_sqdist_int_lit('a', lit)} AS f")
            .collect()
        ]
        assert got == [_left_fold(a, lit, _sqdiff, seed=0) for (a,) in rows]
