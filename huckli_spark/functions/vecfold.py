"""Codegen-friendly unrolling of the portable array folds.

The engine's vector kernels (dot product, squared L2) are sequential
left-folds over array columns — ``aggregate(zip_with(...))`` — so the
DuckDB oracles' ``list_dot_product`` accumulation is replayed
bit-for-bit. Spark evaluates higher-order lambdas INTERPRETED, per
element, with boxed doubles (``HigherOrderFunction`` is codegen
fallback); measured on this box that costs ~2.3x vs the equivalent
unrolled ``a[1]*b[1] + ... + a[n]*b[n]`` expression, which whole-stage
codegen compiles (optimization guide §4.1: prefer built-in
expressions over per-element lambdas).

Bit-identity argument: the unrolled sum IS the fold's accumulation
chain, ``((((0.0 + p1) + p2) + p3) + ...)`` — the leading ``0.0 +``
is kept deliberately because ``0.0 + (-0.0) == +0.0`` (dropping the
seed would flip the sign of an all-negative-zero-product sum; the
adversarial pin in tests/test_vecfold.py caught exactly that), so
both forms produce the same bits at the unrolled width.
For every other width (including NULL arrays, NULL elements and empty
arrays) a ``CASE WHEN size(a) = n AND size(b) = n`` guard falls back
to the original fold, so semantics are unchanged for every input —
property-pinned in tests/test_kernels.py.

The unroll width is parameterised: ``SPARK_GRAFT_DOT_UNROLL``
(default 0 = OFF). Paired A/B at sf0.1 (tools/abmeasure.py, r13)
measured the unroll as a net LOSS on every bench row it touches
(q_ann_lsh 2.8x, q_semdedup 5.3x slower): at fixture row counts the
O(width) larger expression trees cost more in parse + analysis +
planning than the per-row win returns, and any site nested inside a
higher-order parent (array_sort comparator, transform) is evaluated
interpreted regardless. The per-row win (~4us/row/dot measured on
500K-row batches) only amortises at production row counts, so a
100 TB deployment sets the env to its embedding dim; the guard makes
any value CORRECT; only matching the real dim makes it fast.
"""

from __future__ import annotations

import os

UNROLL_ENV = "SPARK_GRAFT_DOT_UNROLL"
_DEFAULT_WIDTH = 0

# Unrolling is only a win when each operand is cheap to re-evaluate
# per term (a column reference, struct field, or literal array —
# constant-folded by the optimizer). Callers must NOT pass compound
# per-row expressions (e.g. slice(...)) as operands.


def unroll_width() -> int:
    """Configured unroll width (0 = disabled). Read per call so tests
    and deployments can override without rebuilding plans."""
    raw = os.environ.get(UNROLL_ENV, "").strip()
    if not raw:
        return _DEFAULT_WIDTH
    try:
        return max(0, int(raw))
    except ValueError:
        return _DEFAULT_WIDTH


def _guarded(a: str, b: str, terms: str, fold: str, n: int) -> str:
    return (
        f"(CASE WHEN size({a}) = {n} AND size({b}) = {n}"
        f" THEN ({terms}) ELSE ({fold}) END)"
    )


def sql_dot(a: str, b: str) -> str:
    """Dot product in double precision, both operands cast per element
    (the simsearch.dot contract). Sequential left-fold semantics."""
    fold = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double)"
        f" * cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)"
    )
    n = unroll_width()
    if n <= 0:
        return fold
    terms = "cast(0.0 AS double) + " + " + ".join(
        f"cast(element_at({a}, {i}) AS double)"
        f" * cast(element_at({b}, {i}) AS double)"
        for i in range(1, n + 1)
    )
    return _guarded(a, b, terms, fold, n)


def sql_sqdist(a: str, b: str) -> str:
    """Squared L2 in double precision with per-element casts on both
    sides — the exact text the ANN serve/recall paths fold today."""
    fold = (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> (cast(x AS double) - cast(y AS double))"
        f" * (cast(x AS double) - cast(y AS double))),"
        f" cast(0.0 AS double), (acc, v) -> acc + v)"
    )
    n = unroll_width()
    if n <= 0:
        return fold
    terms = "cast(0.0 AS double) + " + " + ".join(
        f"(cast(element_at({a}, {i}) AS double)"
        f" - cast(element_at({b}, {i}) AS double))"
        f" * (cast(element_at({a}, {i}) AS double)"
        f" - cast(element_at({b}, {i}) AS double))"
        for i in range(1, n + 1)
    )
    return _guarded(a, b, terms, fold, n)


def sql_sqdist_int(a: str, b: str) -> str:
    """Squared L2 over micro-integer vectors (bigint accumulator —
    integer addition is associative, so ANY order is exact; the
    unroll keeps the left-assoc shape anyway)."""
    fold = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" cast(0 AS bigint), (acc, v) -> acc + v)"
    )
    n = unroll_width()
    if n <= 0:
        return fold
    terms = " + ".join(
        f"(element_at({a}, {i}) - element_at({b}, {i}))"
        f" * (element_at({a}, {i}) - element_at({b}, {i}))"
        for i in range(1, n + 1)
    )
    return _guarded(a, b, terms, fold, n)


def sql_micro_sqdist(a: str, b: str) -> str:
    """The shared serve-path scorer: double squared L2 lifted to micro
    integers — one generator for the five sites that previously
    duplicated this string (exact_refine_topk, PQ recall oracles,
    ann_serve_scored)."""
    return f"cast(floor({sql_sqdist(a, b)} * 1000000.0 + 0.5) AS bigint)"


# ---------------------------------------------------------------------------
# Literal-operand variants. When one operand is a Python-side constant
# vector (LSH hyperplanes, k-means / IVF / PQ centroids baked into the
# plan), inlining each component as its own literal keeps the unrolled
# expression O(n) nodes — element_at(array(...64 literals...), i) would
# re-embed the whole array per term, an O(n^2) plan. The literal side's
# length is known, so the guard only checks the column side.


def sql_dot_lit(a: str, values: list[float]) -> str:
    """Dot of column ``a`` (any numeric element type) with a constant
    double vector. Fold text matches the hyperplane/centroid sites:
    ``(x, y) -> cast(x AS double) * y`` over a literal array<double>."""
    arr = "array(" + ", ".join(f"cast({v!r} AS double)" for v in values) + ")"
    fold = (
        f"aggregate(zip_with({a}, {arr}, (x, y) -> cast(x AS double) * y),"
        f" cast(0.0 AS double), (acc, v) -> acc + v)"
    )
    n = len(values)
    if unroll_width() <= 0:
        return fold
    terms = "cast(0.0 AS double) + " + " + ".join(
        f"cast(element_at({a}, {i + 1}) AS double) * cast({values[i]!r} AS double)"
        for i in range(n)
    )
    return f"(CASE WHEN size({a}) = {n} THEN ({terms}) ELSE ({fold}) END)"


def sql_sqdist_lit_at(a: str, offset: int, values: list[float]) -> str:
    """Squared L2 between ``slice(a, offset+1, len(values))`` and a
    constant double vector — the PQ subvector shape. The unroll indexes
    the ORIGINAL column at ``offset + i`` so no slice array is built.
    Bit-identity: slice(a, o, n)[i] == a[o + i - 1] element-for-element
    whenever size(a) >= o + n - 1, which the guard enforces; otherwise
    the original slice-fold runs."""
    n = len(values)
    arr = "array(" + ", ".join(f"cast({v!r} AS double)" for v in values) + ")"
    fold = (
        f"aggregate(zip_with(slice({a}, {offset + 1}, {n}), {arr},"
        f" (x, y) -> (cast(x AS double) - y) * (cast(x AS double) - y)),"
        f" cast(0.0 AS double), (acc, v) -> acc + v)"
    )
    if unroll_width() <= 0:
        return fold
    terms = "cast(0.0 AS double) + " + " + ".join(
        f"(cast(element_at({a}, {offset + i + 1}) AS double)"
        f" - cast({values[i]!r} AS double))"
        f" * (cast(element_at({a}, {offset + i + 1}) AS double)"
        f" - cast({values[i]!r} AS double))"
        for i in range(n)
    )
    return (
        f"(CASE WHEN size({a}) >= {offset + n} THEN ({terms})"
        f" ELSE ({fold}) END)"
    )


def sql_sqdist_int_lit(a: str, values: list[int]) -> str:
    """Integer squared L2 between bigint column ``a`` and a constant
    bigint vector (k-means micro-integer assignment). Exact in any
    order; left-assoc kept for form."""
    n = len(values)
    arr = "array(" + ", ".join(f"{int(v)}L" for v in values) + ")"
    fold = (
        f"aggregate(zip_with({a}, {arr}, (x, y) -> (x - y) * (x - y)),"
        f" cast(0 AS bigint), (acc, v) -> acc + v)"
    )
    if unroll_width() <= 0:
        return fold
    terms = " + ".join(
        f"(element_at({a}, {i + 1}) - {int(values[i])}L)"
        f" * (element_at({a}, {i + 1}) - {int(values[i])}L)"
        for i in range(n)
    )
    return f"(CASE WHEN size({a}) = {n} THEN ({terms}) ELSE ({fold}) END)"
