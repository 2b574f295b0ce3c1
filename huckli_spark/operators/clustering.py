"""Distributed k-means in exact fixed-point arithmetic.

The IVF coarse quantizer and PQ codebooks ship with deterministic
SAMPLED centroids (lowest-id vectors); production trains them with
k-means. This module provides that trainer with the same bit-
portability discipline as the PageRank operator:

- vectors become micro fixed-point integers ONCE
  (``vm[j] = floor(v[j] * 1e6 + 0.5)``),
- assignment distances are EXACT integer sums of squared integer
  differences — no float enters the argmin at all; ties break on the
  lowest centroid id,
- centroid updates are exact integer per-dimension sums (64-bit on
  Spark — exact past 4e12 rows/cluster at unit-scale micro cells;
  HUGEINT on DuckDB) divided once in double and floored back to
  micro ints.

Every iteration is therefore bit-identical on any engine and any
partitioning, and the DuckDB oracle replays the identical iterations
relationally (generated unrolled SQL, ``sql_kmeans``).

Scale shape per iteration: assignment is MAP-ONLY (centroids are k
baked literal arrays — k*dim values — never a join side); the update
is one map-combined groupBy over (cid, dim); the driver touches only
k*dim centroid cells between iterations (the broadcast-k-means
pattern). Empty clusters keep their previous centroid.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from huckli_spark.functions import vecfold

MICRO = 1_000_000


def _vm_expr(vec_col: str) -> str:
    return (
        f"transform({vec_col}, x -> cast(floor(cast(x AS double)"
        f" * {float(MICRO)} + 0.5) AS bigint))"
    )


def _sums_array_expr(dim: int) -> str:
    """All `dim` per-dimension LONG sums as ONE parsed array
    expression — identical aggregates to `dim` separate
    sum(element_at(...)) columns, without the py4j Column-building
    cost (measured ~0.7 s of pure driver time per iteration at
    dim=64)."""
    return (
        "array("
        + ", ".join(
            f"cast(sum(element_at(__vm, {j + 1})) as double)"
            for j in range(dim)
        )
        + ")"
    )


def _assign_expr(cents: list[list[int]]) -> str:
    """cid = argmin over exact integer squared L2; ties -> lowest cid."""
    entries = []
    for cid, c in enumerate(cents):
        d = vecfold.sql_sqdist_int_lit("__vm", c)
        entries.append(f"named_struct('d', {d}, 'cid', {cid})")
    return (
        "element_at(array_sort(array(" + ", ".join(entries) + "),"
        " (l, r) -> CASE WHEN l.d < r.d THEN -1 WHEN l.d > r.d THEN 1"
        " WHEN l.cid < r.cid THEN -1 ELSE 1 END), 1).cid"
    )


# Above this many centroid cells (k * dim) the literal assignment
# expression stops being free: plan/codegen size is O(cells). Past
# the bound the codebook travels as a broadcast payload (one row of
# array<struct<cid,cv>>) with an in-row argmin — plan O(1), still
# map-only. Same trade and bit-identical arithmetic as
# kmeans_assign_join / ivf_assign_join.
LITERAL_CELL_BOUND = 20_000

_FLAT_BCAST_ASSIGN = (
    "element_at(array_sort(transform(__cents, c -> named_struct("
    "'d', aggregate(zip_with(__vm, c.cv, (x, y) -> (x - y) * (x - y)),"
    " cast(0 AS bigint), (acc, v) -> acc + v), 'cid', c.cid)),"
    " (l, r) -> CASE WHEN l.d < r.d THEN -1 WHEN l.d > r.d THEN 1"
    " WHEN l.cid < r.cid THEN -1 ELSE 1 END), 1).cid"
)


def _flat_cents_onerow(spark, cents: list[list[int]]):
    cent_df = spark.createDataFrame(
        [(cid, [int(v) for v in c]) for cid, c in enumerate(cents)],
        "cid int, cv array<bigint>",
    )
    return cent_df.agg(F.collect_list(F.struct("cid", "cv")).alias("__cents"))


def _flat_use_broadcast(cents: list[list[int]]) -> bool:
    return len(cents) * len(cents[0]) > LITERAL_CELL_BOUND


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Train k centroids (micro fixed-point ints). Init = the k
    lowest-id vectors (deterministic; any seeding works — production
    would use k-means|| — the ARITHMETIC is what must be portable).

    Plan form by size: up to LITERAL_CELL_BOUND k*dim cells the
    centroids are baked into the per-iteration assignment expression
    (fastest at small k*dim); past it they ship as data (plan O(1) —
    the SemDeDup paper's k~100k regime would otherwise build a
    6M-literal expression per iteration). Bit-identical either way
    (pinned in tests/test_clustering.py)."""
    spark = df.sparkSession
    vm = df.select(F.col(id_col), F.expr(_vm_expr(vec_col)).alias("__vm"))
    vm = vm.persist()
    # init = the k LOWEST ids (not ids < k: a filtered corpus need not
    # contain 0..k-1); deterministic and equal on contiguous-id data
    init = vm.orderBy(id_col).limit(k).select("__vm").collect()
    cents = [[int(x) for x in r[0]] for r in init]
    if len(cents) < k:
        # Loud failure (ADVICE r5): an empty corpus used to IndexError
        # on cents[0]; a short one silently trained < k clusters.
        raise ValueError(
            f"kmeans_fit: k={k} requested but the corpus has only "
            f"{len(cents)} row(s); supply k <= corpus size"
        )
    dim = len(cents[0])
    bcast = _flat_use_broadcast(cents)
    try:
        for _ in range(iterations):
            # update via `dim` per-dimension sum aggregates on the
            # UNEXPLODED rows: a posexplode formulation multiplies the
            # row count by `dim` before the combine and measured 4.6x
            # slower at the 10x probe scale for identical centroids
            if bcast:
                assigned = vm.crossJoin(
                    F.broadcast(_flat_cents_onerow(spark, cents))
                ).select(F.expr(_FLAT_BCAST_ASSIGN).alias("cid"), "__vm")
            else:
                assigned = vm.select(
                    F.expr(_assign_expr(cents)).alias("cid"), "__vm"
                )
            # exact LONG sums (r13, guide §2.3 narrower types): micro
            # cells are |vm| <= ~2^21 for unit-scale embeddings, so a
            # 64-bit sum is exact past 4e12 rows per cluster — far
            # beyond the bounded cluster sizes the k-scaling
            # discipline allows — and measured ~1.6x faster per
            # iteration than the former decimal(38) accumulation
            # (decimal aggregation runs 128-bit arithmetic per row).
            # One parsed expression for all `dim` sums: building 64
            # Column objects through py4j cost ~0.7 s per iteration
            # in driver time alone (measured) — same aggregates, one
            # parse.
            cells = assigned.groupBy("cid").agg(
                F.expr("count(*)").alias("n"),
                F.expr(_sums_array_expr(dim)).alias("s"),
            ).collect()
            nxt = [list(c) for c in cents]  # empty clusters persist
            for r in cells:
                n = r["n"]
                s = r["s"]
                nxt[r["cid"]] = [
                    int(math.floor(s[j] / n + 0.5)) for j in range(dim)
                ]
            cents = nxt
    finally:
        vm.unpersist()
    return cents


def kmeans_assign(
    df: DataFrame,
    cents: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid): map-only exact-integer assignment. Delegates to
    ``kmeans_assign_join`` (codebook as a broadcast payload, plan
    O(1)) when k*dim exceeds LITERAL_CELL_BOUND — identical output."""
    if _flat_use_broadcast(cents):
        return kmeans_assign_join(df, cents, id_col, vec_col)
    return df.select(
        F.col(id_col), F.expr(_vm_expr(vec_col)).alias("__vm")
    ).select(F.col(id_col), F.expr(_assign_expr(cents)).alias("cid"))


# Above this many total centroid cells (n_groups * k * dim) the
# grouped CASE-of-literals assignment expression stops being free:
# plan/codegen size is O(cells). Past the bound the centroids travel
# as a broadcast payload instead (one row of array<struct>), keeping
# the plan O(1) — same trade, same arithmetic, as kmeans_assign_join
# / ivf_assign_join (crossover discussion in SCALE.md round 6).
GROUPED_LITERAL_CELL_BOUND = 20_000


def _grouped_case_expr(cents: dict[int, list[list[int]]],
                       group_expr: str = "__g") -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {group_expr} = {g} THEN ({_assign_expr(cents[g])})"
            for g in sorted(cents)
        )
        + " END"
    )


_GROUPED_BCAST_ASSIGN = (
    "element_at(array_sort(transform(filter(__cents, c -> c.g = __g),"
    " c -> named_struct('d', aggregate(zip_with(__vm, c.cv,"
    " (x, y) -> (x - y) * (x - y)), cast(0 AS bigint),"
    " (acc, v) -> acc + v), 'cid', c.cid)),"
    " (l, r) -> CASE WHEN l.d < r.d THEN -1 WHEN l.d > r.d THEN 1"
    " WHEN l.cid < r.cid THEN -1 ELSE 1 END), 1).cid"
)


def _grouped_cents_onerow(spark, cents: dict[int, list[list[int]]]):
    rows = [
        (int(g), int(cid), [int(v) for v in c])
        for g, cs in cents.items()
        for cid, c in enumerate(cs)
    ]
    return spark.createDataFrame(
        rows, "g int, cid int, cv array<bigint>"
    ).agg(F.collect_list(F.struct("g", "cid", "cv")).alias("__cents"))


def _use_broadcast(cents: dict[int, list[list[int]]]) -> bool:
    cells = sum(len(cs) * len(cs[0]) for cs in cents.values())
    return cells > GROUPED_LITERAL_CELL_BOUND


def kmeans_fit_grouped(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "cid",
) -> dict[int, list[list[int]]]:
    """Train an independent k-means PER GROUP in shared Spark jobs —
    the de-serialized form of ``for g in groups: kmeans_fit(...)``
    (VERDICT r07 #3). Same batching trick as ``pq_codebooks_trained``:
    each iteration runs ONE assignment+update pass where the
    assignment dispatches on the row's group, so the driver pays
    ``iterations + 1`` job waves total regardless of the number of
    groups, instead of ``n_groups * (iterations + 1)``.

    Plan form by size: up to GROUPED_LITERAL_CELL_BOUND centroid cells
    the centroids are baked into a CASE of ``_assign_expr``s (fastest
    at small geometry); past it they ship as one broadcast
    array<struct<g,cid,cv>> row with an in-row filter+argmin (plan
    size O(1) — required when n_groups is in the hundreds, where the
    literal plan alone is n_groups*k*dim cells). Both forms use the
    exact integer arithmetic of ``_assign_expr`` and are bit-identical
    (pinned in tests/test_curation.py).

    Bit-identity with the sequential loop (pinned in
    ``tests/test_curation.py``): init is the k lowest-id vectors
    WITHIN each group (one window job), assignment/update use the
    exact same fixed-point arithmetic as ``kmeans_fit``, empty
    clusters persist their previous centroid, and a non-empty group
    with fewer than k rows raises the same ValueError the sequential
    trainer would.

    Returns {group: centroids} for every group present in ``df``.
    Driver state: n_groups * k * dim centroid cells — bounded by the
    clustering geometry, never by the corpus.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    vm = df.select(
        F.col(group_col).alias("__g"),
        F.col(id_col),
        F.expr(_vm_expr(vec_col)).alias("__vm"),
    ).persist()
    try:
        w = Window.partitionBy("__g").orderBy(id_col)
        seed = (
            vm.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .select("__g", "__rn", "__vm")
            .collect()
        )
        cents: dict[int, list[list[int]]] = {}
        for r in sorted(seed, key=lambda r: (r["__g"], r["__rn"])):
            cents.setdefault(int(r["__g"]), []).append(
                [int(x) for x in r["__vm"]]
            )
        short = {g: len(c) for g, c in cents.items() if len(c) < k}
        if short:
            # mirror kmeans_fit's loud under-k failure, per group
            g, n = next(iter(sorted(short.items())))
            raise ValueError(
                f"kmeans_fit_grouped: k={k} requested but group {g} has "
                f"only {n} row(s); supply k <= smallest group size"
            )
        if not cents:
            raise ValueError("kmeans_fit_grouped: empty input")
        dim = len(next(iter(cents.values()))[0])
        bcast = _use_broadcast(cents)
        for _ in range(iterations):
            if bcast:
                assigned = vm.crossJoin(
                    F.broadcast(_grouped_cents_onerow(spark, cents))
                ).select(
                    "__g",
                    F.expr(_GROUPED_BCAST_ASSIGN).alias("cid"),
                    "__vm",
                )
            else:
                assigned = vm.select(
                    "__g",
                    F.expr(_grouped_case_expr(cents)).alias("cid"),
                    "__vm",
                )
            # exact LONG sums — same bound + measurement as kmeans_fit
            # (one parsed array expression, see kmeans_fit)
            cells = assigned.groupBy("__g", "cid").agg(
                F.expr("count(*)").alias("n"),
                F.expr(_sums_array_expr(dim)).alias("s"),
            ).collect()
            nxt = {g: [list(c) for c in cs] for g, cs in cents.items()}
            for r in cells:
                n = r["n"]
                s = r["s"]
                nxt[int(r["__g"])][r["cid"]] = [
                    int(math.floor(s[j] / n + 0.5)) for j in range(dim)
                ]
            cents = nxt
    finally:
        vm.unpersist()
    return cents


def kmeans_assign_grouped(
    df: DataFrame,
    cents: dict[int, list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "cid",
    out_col: str = "sub_cid",
) -> DataFrame:
    """(id, group, sub-assignment): one MAP-ONLY pass assigning every
    row against its own group's centroids — the grouped twin of
    ``kmeans_assign`` / ``kmeans_assign_join`` (same size switch as
    the grouped trainer; the broadcast form's crossJoin is a
    broadcast of ONE row, still zero shuffle)."""
    vm = df.select(
        F.col(id_col),
        F.col(group_col),
        F.expr(_vm_expr(vec_col)).alias("__vm"),
    )
    if _use_broadcast(cents):
        onerow = _grouped_cents_onerow(df.sparkSession, cents)
        expr = _GROUPED_BCAST_ASSIGN.replace("c.g = __g", f"c.g = {group_col}")
        return vm.crossJoin(F.broadcast(onerow)).select(
            F.col(id_col),
            F.col(group_col),
            F.expr(expr).cast("int").alias(out_col),
        )
    return vm.select(
        F.col(id_col),
        F.col(group_col),
        F.expr(_grouped_case_expr(cents, group_col)).cast("int").alias(out_col),
    )


def kmeans_table(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Gate-friendly result: (cid, dim, c_micro, n_members) — the full
    trained codebook plus cluster sizes, all exact integers."""
    cents = kmeans_fit(df, k, iterations, id_col, vec_col)
    sizes = (
        kmeans_assign(df, cents, id_col, vec_col)
        .groupBy("cid")
        .agg(F.count("*").alias("n_members"))
    )
    spark = df.sparkSession
    cent_rows = [
        (cid, dim, int(v))
        for cid, c in enumerate(cents)
        for dim, v in enumerate(c)
    ]
    cent_df = spark.createDataFrame(
        cent_rows, "cid int, dim int, c_micro long"
    )
    return (
        cent_df.join(sizes, "cid", "left")
        .select(
            "cid",
            "dim",
            "c_micro",
            F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias(
                "n_members"
            ),
        )
    )


def sql_kmeans_chain(
    k: int, iterations: int, prefix: str = "", vm: str = "vm"
) -> str:
    """CTE chain replaying kmeans_fit's iterations over an EXISTING
    ``{vm}(vec_id, dim, val)`` CTE. All chain CTEs carry ``prefix`` so
    several independent trainings (one per PQ subspace) compose into a
    single oracle. Final centroids land in ``{prefix}c{iterations}``."""
    parts = [
        f"""{prefix}init AS (
          -- the k LOWEST ids, renumbered positionally (mirrors the
          -- operator's centroid-list indexing on any id space)
          SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
          FROM (SELECT DISTINCT vec_id FROM {vm})
          ORDER BY vec_id LIMIT {k}
        ), {prefix}c0 AS (
          SELECT {prefix}init.cid, {vm}.dim, {vm}.val AS c
          FROM {vm} JOIN {prefix}init USING (vec_id)
        )"""
    ]
    for i in range(iterations):
        p, q = f"{prefix}c{i}", f"{prefix}c{i + 1}"
        d, a, u = f"{prefix}d{i}", f"{prefix}a{i}", f"{prefix}u{i}"
        parts.append(
            f"""{d} AS (
              SELECT {vm}.vec_id, {p}.cid,
                     sum(({vm}.val - {p}.c) * ({vm}.val - {p}.c)) AS d
              FROM {vm} JOIN {p} ON {p}.dim = {vm}.dim
              GROUP BY 1, 2
            ), {a} AS (
              SELECT vec_id, CAST(min(cid) AS INT) AS cid
              FROM (
                SELECT vec_id, cid, d,
                       min(d) OVER (PARTITION BY vec_id) AS md
                FROM {d}
              ) WHERE d = md GROUP BY vec_id
            ), {u} AS (
              SELECT {a}.cid, {vm}.dim,
                     CAST(floor(CAST(sum({vm}.val) AS DOUBLE) / count(*) + 0.5)
                          AS BIGINT) AS c
              FROM {vm} JOIN {a} ON {a}.vec_id = {vm}.vec_id
              GROUP BY 1, 2
            ), {q} AS (
              -- empty clusters keep their previous centroid
              SELECT {p}.cid, {p}.dim, coalesce({u}.c, {p}.c) AS c
              FROM {p} LEFT JOIN {u}
                ON {u}.cid = {p}.cid AND {u}.dim = {p}.dim
            )"""
        )
    return ",\n".join(parts)


def sql_kmeans_vm_cte(source: str = "embeddings", name: str = "vm") -> str:
    """The micro fixed-point (vec_id, dim, val) CTE body."""
    return f"""{name} AS (
          SELECT vec_id, dim - 1 AS dim,
                 CAST(floor(v * {float(MICRO)} + 0.5) AS BIGINT) AS val
          FROM (
            SELECT vec_id,
                   generate_subscripts(embedding::DOUBLE[], 1) AS dim,
                   unnest(embedding::DOUBLE[]) AS v
            FROM {source}
          )
        )"""


def sql_kmeans_ctes(k: int = 8, iterations: int = 3) -> str:
    """The shared CTE text (vm, c0..c{iterations}) — composable into
    oracles that consume the trained centroids (sql_kmeans, the
    trained-IVF gate)."""
    return sql_kmeans_vm_cte() + ",\n" + sql_kmeans_chain(k, iterations)


def sql_kmeans(k: int = 8, iterations: int = 3) -> str:
    """DuckDB oracle for the full kmeans_table result."""
    last = f"c{iterations}"
    return (
        "WITH "
        + sql_kmeans_ctes(k, iterations)
        + f""",
        final_assign AS (
          SELECT vm.vec_id, {last}.cid,
                 sum((vm.val - {last}.c) * (vm.val - {last}.c)) AS d
          FROM vm JOIN {last} ON {last}.dim = vm.dim
          GROUP BY 1, 2
        ), fa AS (
          SELECT vec_id, CAST(min(cid) AS INT) AS cid FROM (
            SELECT vec_id, cid, d, min(d) OVER (PARTITION BY vec_id) AS md
            FROM final_assign
          ) WHERE d = md GROUP BY vec_id
        ), sizes AS (
          SELECT cid, count(*) AS n_members FROM fa GROUP BY cid
        )
        SELECT CAST({last}.cid AS INT) AS cid, CAST({last}.dim AS INT) AS dim,
               {last}.c AS c_micro,
               CAST(coalesce(sizes.n_members, 0) AS BIGINT) AS n_members
        FROM {last} LEFT JOIN sizes ON sizes.cid = {last}.cid"""
    )


def kmeans_assign_join(
    df: DataFrame,
    cents: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Large-k assignment: identical (id, cid) output to
    ``kmeans_assign``, but the codebook travels as DATA — one
    broadcast row holding array<struct<cid,cv>> — instead of being
    baked into the plan as literals. The literal form's plan/codegen
    size grows O(k*dim) and wins at k ≲ 64; this form keeps the plan
    O(1) (the k*dim cells are a broadcast payload) and wins at large
    k. Still map-only: the argmin folds over the centroid array
    in-row, no explode, no groupBy, zero shuffle. Crossover measured
    in SCALE.md (round 6).

    Arithmetic is the exact integer discipline of ``_assign_expr``:
    integer squared L2, ties to the lowest cid — collect_list's
    nondeterministic order is irrelevant because the argmin sort is
    total."""
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(cid, [int(v) for v in c]) for cid, c in enumerate(cents)],
        "cid int, cv array<bigint>",
    )
    onerow = cent_df.agg(
        F.collect_list(F.struct("cid", "cv")).alias("__cents")
    )
    vm = df.select(F.col(id_col), F.expr(_vm_expr(vec_col)).alias("__vm"))
    assign = (
        "element_at(array_sort(transform(__cents, c -> named_struct("
        "'d', aggregate(zip_with(__vm, c.cv, (x, y) -> (x - y) * (x - y)),"
        " cast(0 AS bigint), (acc, v) -> acc + v), 'cid', c.cid)),"
        " (l, r) -> CASE WHEN l.d < r.d THEN -1 WHEN l.d > r.d THEN 1"
        " WHEN l.cid < r.cid THEN -1 ELSE 1 END), 1).cid"
    )
    return vm.crossJoin(F.broadcast(onerow)).select(
        F.col(id_col), F.expr(assign).alias("cid")
    )
