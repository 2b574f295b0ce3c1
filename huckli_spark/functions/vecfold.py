"""SQL text of the portable array folds.

The engine's vector kernels (dot product, squared L2) are sequential
left-folds over array columns — ``aggregate(zip_with(...))`` seeded
at ``0.0`` — so the DuckDB oracles' ``list_dot_product`` accumulation
is replayed bit-for-bit. Each generator returns one fixed fold text;
the exact strings are pinned in tests/test_vecfold.py, so every plan
built from them is reproducible.
"""

from __future__ import annotations


def sql_dot(a: str, b: str) -> str:
    """Dot product in double precision, both operands cast per element
    (the simsearch.dot contract). Sequential left-fold semantics."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS double)"
        f" * cast(y AS double)), cast(0.0 AS double), (acc, v) -> acc + v)"
    )


def sql_sqdist(a: str, b: str) -> str:
    """Squared L2 in double precision with per-element casts on both
    sides — the exact text the ANN serve/recall paths fold today."""
    return (
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> (cast(x AS double) - cast(y AS double))"
        f" * (cast(x AS double) - cast(y AS double))),"
        f" cast(0.0 AS double), (acc, v) -> acc + v)"
    )


def sql_micro_sqdist(a: str, b: str) -> str:
    """The shared serve-path scorer: double squared L2 lifted to micro
    integers — one generator for the five sites that previously
    duplicated this string (exact_refine_topk, PQ recall oracles,
    ann_serve_scored)."""
    return f"cast(floor({sql_sqdist(a, b)} * 1000000.0 + 0.5) AS bigint)"


# ---------------------------------------------------------------------------
# Literal-operand variants: one operand is a Python-side constant vector
# (LSH hyperplanes, k-means / IVF / PQ centroids baked into the plan).


def _lit_array(values: list[float]) -> str:
    return "array(" + ", ".join(f"cast({v!r} AS double)" for v in values) + ")"


def sql_dot_lit(a: str, values: list[float]) -> str:
    """Dot of column ``a`` (any numeric element type) with a constant
    double vector. Fold text matches the hyperplane/centroid sites:
    ``(x, y) -> cast(x AS double) * y`` over a literal array<double>."""
    return (
        f"aggregate(zip_with({a}, {_lit_array(values)},"
        f" (x, y) -> cast(x AS double) * y),"
        f" cast(0.0 AS double), (acc, v) -> acc + v)"
    )


def sql_sqdist_lit_at(a: str, offset: int, values: list[float]) -> str:
    """Squared L2 between ``slice(a, offset+1, len(values))`` and a
    constant double vector — the PQ subvector shape."""
    return (
        f"aggregate(zip_with(slice({a}, {offset + 1}, {len(values)}),"
        f" {_lit_array(values)},"
        f" (x, y) -> (cast(x AS double) - y) * (cast(x AS double) - y)),"
        f" cast(0.0 AS double), (acc, v) -> acc + v)"
    )


def sql_sqdist_int_lit(a: str, values: list[int]) -> str:
    """Integer squared L2 between bigint column ``a`` and a constant
    bigint vector (k-means micro-integer assignment). Integer addition
    is exact in any order."""
    arr = "array(" + ", ".join(f"{int(v)}L" for v in values) + ")"
    return (
        f"aggregate(zip_with({a}, {arr}, (x, y) -> (x - y) * (x - y)),"
        f" cast(0 AS bigint), (acc, v) -> acc + v)"
    )
