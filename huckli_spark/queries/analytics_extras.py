"""Round-5 analytics additions: count-min heavy hitters, weighted
priority sampling, and fixed-point z-score outlier detection.

Portability notes (the driver hashes every value):
- count-min is pure integer arithmetic over h60 — bit-identical.
- the weighted sampler ranks on a ROUNDED key (fround 9) with an id
  tiebreak, the same discipline q_tfidf_terms uses for its ln-derived
  score — engines agree unless an ulp lands exactly on a rounding
  boundary (~1e-12 per value).
- z-scores need mean/stddev, but summing doubles is partition-order
  dependent; instead values become fixed-point micro units (BIGINT),
  summed exactly (decimal(38) on Spark, HUGEINT on DuckDB), and only
  the final moments convert to double — identical IEEE arithmetic on
  identical exact integers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from huckli_spark.functions.portable import fround, h60, sql_fround, sql_h60
from huckli_spark.operators import freq
from huckli_spark.queries import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value/user_id/event_type only — no timestamp handling needed
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "event_type", "value"
    )


# ------------------------------------------------------------- count-min
@query(
    "q_countmin_topk",
    f"""
    WITH sketch AS (
      {freq.sql_cms_build_cte(
          "SELECT unnest(string_split(text, ' ')) AS key FROM documents")}
    ), truth AS (
      SELECT w AS key, count(*) AS true_cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY 1
    ), probes AS (
      SELECT key, true_cnt, unnest([{", ".join(
          f"{{'row': {r}, 'bucket': {freq.sql_cms_bucket('key', r, freq.CMS_W)}}}"
          for r in range(freq.CMS_D))}]) AS c
      FROM truth
    ), est AS (
      SELECT p.key, p.true_cnt, min(coalesce(s.cnt, 0)) AS est
      FROM probes p LEFT JOIN sketch s
        ON s.row = c.row AND s.bucket = c.bucket
      GROUP BY 1, 2
    ), ranked AS (
      SELECT key, est, true_cnt, est - true_cnt AS overestimate,
             row_number() OVER (ORDER BY est DESC, key) AS rnk
      FROM est
    )
    SELECT key, est, true_cnt, overestimate, rnk FROM ranked WHERE rnk <= 20
    """,
    doc="count-min sketch heavy hitters over the corpus token stream: "
    "a 4x256 counter matrix (fixed size regardless of cardinality, "
    "cell-wise mergeable), min-over-rows estimates, exact counts "
    "alongside so the gate hashes the overestimation error itself. "
    "est >= true_cnt is structural. Sketch broadcastable; top-k is "
    "TakeOrderedAndProject, no global sort.",
)
def q_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _docs(spark, sf_dir).select(
        F.explode(F.split("text", " ")).alias("w")
    )
    return freq.cms_heavy_hitters(words, "w", k=20).withColumnRenamed("w", "key")


# ------------------------------------------------- weighted priority sample
_WS_K = 100


@query(
    "q_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ({sql_h60("'samp:' || CAST(doc_id AS VARCHAR)")} % 1000000 + 1)
               / 1000001.0 AS u
      FROM documents
    ), scored AS (
      SELECT doc_id, n_chars,
             {sql_fround('-ln(u) / n_chars', 9)} AS priority
      FROM keyed
    )
    SELECT doc_id, n_chars, priority,
           row_number() OVER (ORDER BY priority, doc_id) AS rnk
    FROM scored
    ORDER BY priority, doc_id
    LIMIT {_WS_K}
    """,
    doc="weighted sampling without replacement (Efraimidis-Spirakis "
    "A-ES by exponential priority): u from the portable hash, key "
    "-ln(u)/weight, keep the k smallest — inclusion probability "
    "proportional to n_chars. Deterministic, retry-safe, and "
    "partitioning-invariant; top-k by rounded key compiles to "
    "TakeOrderedAndProject. The training-mix primitive when strata "
    "weights are continuous rather than categorical.",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    u = (
        F.pmod(h60(F.concat(F.lit("samp:"), F.col("doc_id").cast("string"))),
               F.lit(1000000))
        + 1
    ) / F.lit(1000001.0)
    scored = d.select(
        "doc_id",
        "n_chars",
        fround(-F.log(u) / F.col("n_chars"), 9).alias("priority"),
    )
    top = scored.orderBy("priority", "doc_id").limit(_WS_K)
    rk = F.row_number().over(Window.orderBy("priority", "doc_id"))
    return top.withColumn("rnk", rk)


# ----------------------------------------------------------------- pagerank
_EDGE_SQL = """
  SELECT src, dst, count(*) AS weight FROM (
    SELECT event_type AS dst,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS src
    FROM events
  ) WHERE src IS NOT NULL GROUP BY 1, 2
"""


def _pagerank_oracle() -> str:
    from huckli_spark.operators.graph import sql_pagerank

    return sql_pagerank(_EDGE_SQL, damping=0.85, iterations=3)


@query(
    "q_pagerank",
    _pagerank_oracle(),  # generated unrolled-iteration oracle
    doc="PageRank over the per-user event-type transition graph "
    "(link-analysis quality prior; generic over any (src,dst,weight) "
    "edges — for web corpora the edges are host hyperlinks). Ranks "
    "are micro fixed-point BIGINTs: per-edge contributions floor to "
    "integers and per-node accumulation is exact integer summation, "
    "so all 3 damped iterations (with dangling-mass redistribution) "
    "are bit-identical on any engine/partitioning. One shuffle per "
    "iteration + broadcast rank vector; edge extraction is a per-user "
    "window.",
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.operators.graph import pagerank, transition_edges
    from huckli_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    edges = transition_edges(events)
    return pagerank(edges, damping=0.85, iterations=3)


# --------------------------------------------------------- z-score outliers
@query(
    "q_zscore_outliers",
    f"""
    WITH m AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
      FROM events
    ), stats AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(vm) AS DOUBLE) AS s1,
             CAST(sum(vm * vm) AS DOUBLE) AS s2
      FROM m GROUP BY 1
    ), z AS (
      SELECT m.event_id, m.event_type,
             {sql_fround('m.vm / 1000000.0', 4)} AS value_r,
             {sql_fround(
                 '(m.vm - s.s1 / s.n)'
                 ' / sqrt((s.s2 - s.s1 * s.s1 / s.n) / s.n)', 4)} AS z
      FROM m JOIN stats s USING (event_type)
    )
    SELECT event_id, event_type, value_r, z
    FROM z WHERE abs(z) > 2
    """,
    doc="per-group z-score outlier detection with ORDER-INDEPENDENT "
    "moments: values become fixed-point micro ints, the two sums are "
    "exact integer aggregation (decimal(38) / HUGEINT), and only the "
    "final mean/std/z computation runs in double — so the result is "
    "partition-count-invariant AND engine-portable, which naive "
    "sum(double) is not. One shuffle on event_type (map-combined); "
    "the stats relation broadcasts back onto the row stream.",
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_raw(spark, sf_dir)
    m = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("vm"),
    )
    stats = m.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("vm").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("vm") * F.col("vm")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    z_expr = (F.col("vm") - F.col("s1") / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")
    )
    z = m.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        fround(F.col("vm") / 1000000.0, 4).alias("value_r"),
        fround(z_expr, 4).alias("z"),
    )
    return z.where(F.abs(F.col("z")) > 2)


# ------------------------------------------------------------- fuzzy join
_FUZZY_PLANT = (
    "CASE WHEN p_partkey % 7 = 0 THEN substr(p_name, 1, 2) ||"
    " substr(p_name, 4, length(p_name))"
    " WHEN p_partkey % 7 = 1 THEN p_name || 'x'"
    " ELSE p_name END"
)


@query(
    "q_fuzzy_join",
    f"""
    WITH named AS (
      SELECT p_partkey, {_FUZZY_PLANT} AS name
      FROM part WHERE p_partkey <= 600
    ), v AS (
      SELECT DISTINCT p_partkey, name,
             {sql_h60('var')} AS vh
      FROM (
        SELECT p_partkey, name,
               unnest(list_distinct(list_prepend(name,
                 list_transform(range(1, length(name) + 1),
                   i -> substr(name, 1, i - 1)
                        || substr(name, i + 1, length(name)))))) AS var
        FROM named
      )
    ), cand AS (
      SELECT DISTINCT a.p_partkey AS a_id, b.p_partkey AS b_id,
                      a.name AS a, b.name AS b
      FROM v a JOIN v b ON a.vh = b.vh AND a.p_partkey < b.p_partkey
    )
    SELECT a_id, b_id, a, b,
           CAST(levenshtein(a, b) AS INTEGER) AS dist
    FROM cand WHERE levenshtein(a, b) <= 1
    """,
    doc="fuzzy entity-resolution join (edit distance <= 1) via "
    "SymSpell deletion-neighborhood blocking: variants join on the "
    "8-byte portable hash, exact levenshtein verifies candidates only "
    "— never all pairs. Typos are planted deterministically on the "
    "part-name fixture (both engines identically) so the pair set is "
    "non-trivial; both engines' levenshtein agree exactly. At corpus "
    "scale the hot-variant guard (max_variant_freq) bounds the join.",
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.operators.dedup import fuzzy_pairs
    from huckli_spark.session import load_table

    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") <= 600)
        .select(
            "p_partkey",
            F.expr(_FUZZY_PLANT.replace("substr(", "substring(")).alias("name"),
        )
    )
    out = fuzzy_pairs(p, id_col="p_partkey", str_col="name", max_dist=1)
    return out.select(
        F.col("a_id"), F.col("b_id"), "a", "b", F.col("dist").cast("int")
    )


# ----------------------------------------------------------- graph: triangles
def _cosupply_edges(
    spark: SparkSession, sf_dir: str, min_qty: int, materialize: bool = True
) -> DataFrame:
    """Supplier co-supply edge relation (s1 < s2, DISTINCT), derived
    from high-quantity lineitem rows, optionally MATERIALIZED once
    (scratch parquet via eager_release — the leak-free lineage cut).

    All five graph queries (triangles, k-core, BFS, label propagation,
    common neighbors) consume this relation through self-joins and
    bounded-iteration loops that reference it 3-10x. Whether the cut
    pays depends on HOW the references execute (measured r13, paired
    A/B at sf0.1):

    - k-core / LPA run eager ``localCheckpoint`` rounds, each a
      SEPARATE job that replays the uncut derivation — no cross-job
      exchange reuse exists, so materializing wins (0.80x / 0.89x).
    - Triangle counting is one job whose three join sides exchange on
      DIFFERENT keys (b; a; (a,b)) — runtime exchange reuse cannot
      dedupe them, so materializing wins (0.90x).
    - Common neighbors is one job whose wedge sides exchange the SAME
      relation on the SAME key — AQE's runtime ReusedExchange already
      dedupes it, and the scratch round trip is pure overhead
      (measured 1.16-1.26x SLOWER); BFS already cuts lineage inside
      the operator (und.localCheckpoint), so the extra cut is flat
      (0.97-1.03x). Both pass ``materialize=False``.

    The guide §2.4/§3.3 rule, refined: materialize an intermediate
    that a large plan references repeatedly ONLY where those
    references execute as separate jobs or exchange on distinct keys.
    The k-core oracle mirrors the cut with ``e AS MATERIALIZED``."""
    from huckli_spark.operators.cache import eager_release
    from huckli_spark.session import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > min_qty)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    e = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .distinct()
    )
    return eager_release(e) if materialize else e


@query(
    "q_triangle_count",
    """
    WITH l AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      WHERE l_quantity > 40
    ), e AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM l a JOIN l b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), t AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM e e1
      JOIN e e2 ON e2.s1 = e1.s2
      JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    )
    SELECT CAST(v AS BIGINT) AS suppkey,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS v FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t
    ) GROUP BY v
    """,
    doc="per-node triangle counting over the supplier co-supply graph "
    "(suppliers sharing an order, high-quantity lines only) — the "
    "classic clustering-coefficient building block, as the canonical "
    "two-equi-join distributed plan: oriented edges (s1 < s2) make "
    "each triangle appear exactly once as a<b<c, wedges build on the "
    "shared middle vertex, the closing edge is an equi-join. Scale: "
    "all joins shuffle on vertex keys; degree skew is the known "
    "hazard — the standard mitigation (orient edges by degree) drops "
    "in without changing the output.",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cosupply_edges(spark, sf_dir, 40)
    from huckli_spark.operators.graph import triangles_per_node

    # id-oriented form (the oracle's twin); triangles_per_node also
    # offers the degree-oriented skew mitigation, pinned equal in
    # tests/test_graph.py
    return triangles_per_node(e).select(
        F.col("v").cast("long").alias("suppkey"), "n_triangles"
    )


# ------------------------------------------------------------ graph: k-core
_KCORE_K = 5
_KCORE_ITERS = 6  # measured converged by round 5 at sf0.01 (SCALE.md)


def _kcore_oracle() -> str:
    parts = [
        """l AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      WHERE l_quantity > 47
    ), e AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM l a JOIN l b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), e0 AS MATERIALIZED (
      SELECT s1 AS v, s2 AS w FROM e UNION ALL SELECT s2, s1 FROM e
    )"""
    ]
    # MATERIALIZED: every round references its predecessor 3x — the
    # same 3^n re-inlining hazard the Spark side cuts with
    # localCheckpoint
    for i in range(_KCORE_ITERS):
        parts.append(
            f"""d{i} AS (
      SELECT v, count(*) AS d FROM e{i} GROUP BY v
    ), k{i} AS MATERIALIZED (
      SELECT v FROM d{i} WHERE d >= {_KCORE_K}
    ), e{i + 1} AS MATERIALIZED (
      SELECT x.v, x.w FROM e{i} x
      JOIN k{i} a ON a.v = x.v
      JOIN k{i} b ON b.v = x.w
    )"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT CAST(v AS BIGINT) AS suppkey,
           CAST(count(*) AS BIGINT) AS core_deg
    FROM e{_KCORE_ITERS} GROUP BY v"""
    )


@query(
    "q_kcore",
    _kcore_oracle(),
    doc=f"k-core decomposition (k={_KCORE_K}) of the supplier co-supply "
    "graph (l_quantity > 47 lines): iteratively peel nodes with "
    "degree below k until the dense core remains — the standard "
    "graph-mining primitive for community cores / spam-cluster "
    f"detection. {_KCORE_ITERS} unrolled rounds (measured converged "
    "by round 5 at gate scale; each round is a monotone shrink, so "
    "the count is deterministic), oracle replays the identical "
    "rounds. Scale: one degree groupBy + two vertex-key equi-joins "
    "per round, O(iters * |E|) total, no wedge blowup; lineage cut "
    "every other round on the Spark side mirrors the oracle's "
    "MATERIALIZED CTEs (3 refs/round would otherwise re-analyze the "
    "base 3^iters times).",
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.operators.graph import kcore

    e = _cosupply_edges(spark, sf_dir, 47)
    return kcore(e, k=_KCORE_K, iterations=_KCORE_ITERS).select(
        F.col("v").cast("long").alias("suppkey"), "core_deg"
    )


# ---------------------------------------------------------- table profiling
_PROFILE_NUM = ["l_quantity", "l_extendedprice", "l_discount"]
_PROFILE_STR = ["l_returnflag", "l_linestatus"]


def _profile_oracle() -> str:
    aggs = ["count(*) AS n_rows"]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs += [
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS nn_{c}",
            f"count(DISTINCT {c}) AS nd_{c}",
            f"min({c}) AS mn_{c}",
            f"max({c}) AS mx_{c}",
        ]
    arms = []
    for c in _PROFILE_NUM:
        arms.append(
            f"SELECT '{c}' AS column, n_rows, CAST(nn_{c} AS BIGINT) AS n_nulls,"
            f" CAST(nd_{c} AS BIGINT) AS n_distinct,"
            f" CAST(mn_{c} AS DOUBLE) AS min_num, CAST(mx_{c} AS DOUBLE) AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
            f" FROM a"
        )
    for c in _PROFILE_STR:
        arms.append(
            f"SELECT '{c}', n_rows, CAST(nn_{c} AS BIGINT), CAST(nd_{c} AS BIGINT),"
            f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn_{c}, mx_{c} FROM a"
        )
    return (
        "WITH a AS (SELECT "
        + ", ".join(aggs)
        + " FROM lineitem)\n"
        + "\nUNION ALL ".join(arms)
    )


@query(
    "q_profile_table",
    _profile_oracle(),
    doc="column-level data-quality profile of lineitem (row count, "
    "null count, exact distinct count, typed min/max per column) — "
    "the audit summary a pipeline runs before admitting a new data "
    "drop into the training mix. ONE aggregate pass computes every "
    "metric (column-pruned scan, map-side combine); the per-column "
    "rows are an in-row inline() over the single aggregate row, so "
    "profiling a 100 TB table costs exactly one scan. Exact distinct "
    "counts shuffle per column; the approx_count_distinct swap is "
    "one word when 2%% error is acceptable (q_approx_distinct).",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    a = li.agg(*aggs)
    structs = []
    for c in _PROFILE_NUM:
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows"),
                F.col(f"nn_{c}").cast("long").alias("n_nulls"),
                F.col(f"nd_{c}").cast("long").alias("n_distinct"),
                F.col(f"mn_{c}").cast("double").alias("min_num"),
                F.col(f"mx_{c}").cast("double").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for c in _PROFILE_STR:
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows"),
                F.col(f"nn_{c}").cast("long").alias("n_nulls"),
                F.col(f"nd_{c}").cast("long").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"mn_{c}").alias("min_str"),
                F.col(f"mx_{c}").alias("max_str"),
            )
        )
    return a.select(F.inline(F.array(*structs)))


# -------------------------------------------------------------- event funnel
@query(
    "q_event_funnel",
    """
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
        AND epoch_us(e.ts) <= v.t1 + 86400000000
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
        AND epoch_us(e.ts) <= c.t2 + 86400000000
      GROUP BY e.user_id
    )
    SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
           CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 2, 'click', count(*) FROM c
    UNION ALL
    SELECT 3, 'purchase', count(*) FROM p
    """,
    doc="ordered funnel analysis (view -> click -> purchase, max 24 h "
    "between steps): a user advances a step only with an event "
    "STRICTLY AFTER their earliest completion of the previous step "
    "and within the conversion window — the earliest-continuation "
    "semantics product-analytics engines implement (min-timestamp "
    "chaining, not mere per-type existence); the window makes the "
    "funnel genuinely selective (150 -> 60 -> 25 at gate scale). "
    "All arithmetic is exact "
    "integer epoch-micros. Scale: each stage is one groupBy(user) on "
    "the already-filtered event slice joined to the (shrinking) "
    "survivor set — cost O(events of that type), survivors broadcast "
    "as the funnel narrows.",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("__us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("__us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .where(
            (F.col("__us") > F.col("t1"))
            & (F.col("__us") <= F.col("t1") + 86400000000)
        )
        .groupBy("user_id")
        .agg(F.min("__us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(
            (F.col("__us") > F.col("t2"))
            & (F.col("__us") <= F.col("t2") + 86400000000)
        )
        .groupBy("user_id")
        .agg(F.min("__us").alias("t3"))
    )

    def n(df, step, et):
        return df.agg(
            F.lit(step).cast("int").alias("step"),
            F.lit(et).alias("event_type"),
            F.count("*").cast("long").alias("n_users"),
        )

    return n(v, 1, "view").unionByName(n(c, 2, "click")).unionByName(
        n(p, 3, "purchase")
    )


# ---------------------------------------------------------------- event paths
@query(
    "q_event_paths",
    """
    WITH seq AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn <= 5
      GROUP BY user_id
    )
    , counts AS (
      SELECT path, count(*) AS n_users FROM seq GROUP BY path
    ), ranked AS (
      SELECT path, n_users,
             row_number() OVER (ORDER BY n_users DESC, path) AS rnk
      FROM counts
    )
    SELECT path, CAST(n_users AS BIGINT) AS n_users,
           CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 10
    """,
    doc="clickstream path mining: each user's first five events (total "
    "order: ts then event_id) concatenate into a path string, then "
    "the 10 most common paths — the session-flow analysis marketing/"
    "product engines run. Path assembly is deterministic because the "
    "sort key includes the unique event_id (no ties), so the string "
    "itself is hash-portable. Scale: one window over (user, ts) + one "
    "count shuffle over O(distinct paths); top-k is a bounded window.",
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("__us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("__us", "event_id")
    first5 = ev.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= 5
    )
    seq = first5.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("__us", "event_id", "event_type")
                    )
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    wp = Window.orderBy(F.desc("n_users"), F.asc("path"))
    return (
        seq.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_users"))
        .withColumn("rank", F.row_number().over(wp).cast("int"))
        .where(F.col("rank") <= 10)
    )


# ------------------------------------------------------- event transitions
@query(
    "q_event_transitions",
    f"""
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ), pairs AS (
      SELECT src, dst, count(*) AS n_transitions
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT src, sum(n_transitions) AS t FROM pairs GROUP BY src
    )
    SELECT p.src, p.dst,
           CAST(p.n_transitions AS BIGINT) AS n_transitions,
           {sql_fround('p.n_transitions * 1.0 / t.t', 6)} AS prob
    FROM pairs p JOIN tot t USING (src)
    """,
    doc="first-order Markov transition matrix over per-user event "
    "sequences (ordered by ts then the unique event_id, so the "
    "successor relation is total and hash-portable): the next-action "
    "model behind session simulation and anomaly scoring. Scale: ONE "
    "shuffle on user_id for the lead() window, then a bounded "
    "|types|^2 aggregate; the per-src totals relation is tiny and "
    "broadcast back. prob is count/total — two exact integers through "
    "one IEEE division, engine-portable.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("__us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("__us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    pairs = seq.groupBy("src", "dst").agg(
        F.count("*").cast("long").alias("n_transitions")
    )
    tot = pairs.groupBy("src").agg(F.sum("n_transitions").alias("t"))
    return pairs.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        "n_transitions",
        fround(F.col("n_transitions") * 1.0 / F.col("t"), 6).alias("prob"),
    )


# ------------------------------------------------------- MAD robust outliers
# Everything runs in integer half-micro units so the medians (the only
# interpolating step: (a+b)/2 on exact integers, exact in IEEE) and the
# 3-MAD comparison are engine-portable with NO rounding at all:
#   vm       = round(value * 1e6)                  (micro ints)
#   med2     = 2 * median(vm)                      (exact BIGINT)
#   dh       = |2*vm - med2|                       (half-micro deviation)
#   mad2h    = 2 * median(dh)                      (exact BIGINT)
#   outlier  <=>  |v - med| > 3 * MAD  <=>  2*dh > 3*mad2h   (all BIGINT)
@query(
    "q_mad_outliers",
    f"""
    WITH m AS (
      SELECT event_id, event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
      FROM events
    ), med AS (
      SELECT event_type, CAST(2 * median(vm) AS BIGINT) AS med2
      FROM m GROUP BY 1
    ), d AS (
      SELECT m.event_id, m.event_type, m.vm,
             abs(2 * m.vm - med.med2) AS dh, med.med2
      FROM m JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type, CAST(2 * median(dh) AS BIGINT) AS mad2h
      FROM d GROUP BY 1
    )
    SELECT d.event_id, d.event_type,
           {sql_fround('d.vm / 1000000.0', 4)} AS value_r,
           {sql_fround('d.med2 / 2000000.0', 4)} AS median_r,
           {sql_fround('d.dh / 2000000.0', 4)} AS abs_dev_r
    FROM d JOIN mad USING (event_type)
    WHERE 2 * d.dh > 3 * mad.mad2h
    """,
    doc="median-absolute-deviation outlier detection per event_type — "
    "the robust twin of q_zscore_outliers (a single 490.0 spike can "
    "drag a mean/stddev gate, but not the median). Exact medians on "
    "fixed-point ints, doubled to stay integral, so the 3-MAD "
    "threshold never touches a float. Scale: two shuffles on "
    "event_type (percentile is a sort-based exact agg; at 100 TB "
    "swap in approx_percentile with a documented tolerance), the "
    "5-row med/mad relations broadcast back onto the row stream.",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_raw(spark, sf_dir)
    m = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("vm"),
    )
    med = m.groupBy("event_type").agg(
        (2 * F.percentile("vm", F.lit(0.5))).cast("long").alias("med2")
    )
    d = m.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "vm",
        "med2",
        F.abs(2 * F.col("vm") - F.col("med2")).alias("dh"),
    )
    mad = d.groupBy("event_type").agg(
        (2 * F.percentile("dh", F.lit(0.5))).cast("long").alias("mad2h")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .where(2 * F.col("dh") > 3 * F.col("mad2h"))
        .select(
            "event_id",
            "event_type",
            fround(F.col("vm") / 1000000.0, 4).alias("value_r"),
            fround(F.col("med2") / 2000000.0, 4).alias("median_r"),
            fround(F.col("dh") / 2000000.0, 4).alias("abs_dev_r"),
        )
    )


# ------------------------------------------------------ time-spine gap fill
# Gauge series: daily max micro-value of a systematic 1-in-29
# subsample (event_id % 29 == 0 — a sampled telemetry stream, so the
# observation density scales with the data and every fixture scale has
# both observed days and gaps). The spine materializes EVERY
# (type, day) cell over the observed global date range; missing cells
# forward-fill from the last observed day (LOCF) — the standard
# resampling step before any time-series model sees the data.
_FILL_SAMPLE_MOD = 29


@query(
    "q_timeseries_fill",
    f"""
    WITH obs AS (
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             max(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS gauge_vm
      FROM events WHERE event_id % {_FILL_SAMPLE_MOD} = 0 GROUP BY 1, 2
    ), spine AS (
      SELECT t.event_type,
             CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT CAST(min(ts) AS DATE) AS d0,
                         CAST(max(ts) AS DATE) AS d1 FROM events) b
    )
    SELECT s.event_type, s.day,
           o.gauge_vm IS NOT NULL AS observed,
           last_value(o.gauge_vm IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_vm
    FROM spine s
    LEFT JOIN obs o ON o.event_type = s.event_type AND o.day = s.day
    """,
    doc="time-spine resampling + LOCF gap fill: a dense daily grid per "
    "event_type over the global date range, left-joined with the "
    "sparse observed gauge (daily max micro-value of a systematic "
    "1-in-29 event subsample), missing days carrying the last "
    "observation forward. "
    "Leading unobserved days stay NULL (nothing to carry). Scale: the "
    "bounds row is a full-scan aggregate that broadcasts; the spine "
    "is |types| x |days| rows built by sequence-explode (never a "
    "per-row range probe); the fill is one window shuffle on the "
    "series key. Values stay micro-int end to end.",
)
def q_timeseries_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value", "ts"
    )
    obs = (
        ev.where(F.col("event_id") % _FILL_SAMPLE_MOD == 0)
        .groupBy("event_type", "day")
        .agg(
            F.max(
                F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
            ).alias("gauge_vm")
        )
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.join(obs, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.col("gauge_vm").isNotNull().alias("observed"),
        F.last("gauge_vm", ignorenulls=True).over(w).alias("filled_vm"),
    )


# ---------------------------------------------------- link prediction (CN)
@query(
    "q_common_neighbors",
    """
    WITH l AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      WHERE l_quantity > 40
    ), e AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM l a JOIN l b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ), und AS (
      SELECT s1 AS src, s2 AS dst FROM e
      UNION ALL SELECT s2, s1 FROM e
    ), cand AS (
      -- edges are DISTINCT, so each wedge (a, w, c) occurs exactly
      -- once per shared neighbor w: plain count(*) == count(DISTINCT
      -- w) without the extra dedup shuffle (measured 5.6 -> ~2x
      -- faster at sf0.1)
      SELECT n1.src AS a, n2.src AS c, count(*) AS n_common
      FROM und n1 JOIN und n2
        ON n1.dst = n2.dst AND n1.src < n2.src
      GROUP BY 1, 2
    ), nonedge AS (
      SELECT cand.* FROM cand
      LEFT JOIN e ON e.s1 = cand.a AND e.s2 = cand.c
      WHERE e.s1 IS NULL
    ), ranked AS (
      SELECT a, c, CAST(n_common AS BIGINT) AS n_common,
             row_number() OVER (ORDER BY n_common DESC, a, c) AS rnk
      FROM nonedge
    )
    SELECT a AS supp_a, c AS supp_c, n_common, CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 20
    """,
    doc="common-neighbors link prediction on the supplier co-supply "
    "graph: the 20 non-adjacent supplier pairs sharing the most "
    "co-supply partners — the classic 'who should be connected next' "
    "recommender primitive. Scale: the wedge join (n1.dst = n2.dst) "
    "shuffles on the shared-neighbor id, so a celebrity node fans out "
    "deg^2 wedges — same skew profile as triangle counting, and the "
    "same mitigations apply (degree-oriented orientation, per-node "
    "neighbor caps; see operators/graph.py). The existing-edge "
    "anti-join and the global top-20 window are bounded.",
)
def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy: the wedge sides reuse one runtime exchange; a scratch cut
    # measured 1.16-1.26x SLOWER (see _cosupply_edges)
    e = _cosupply_edges(spark, sf_dir, 40, materialize=False)
    und = e.select(F.col("s1").alias("src"), F.col("s2").alias("dst")).unionAll(
        e.select(F.col("s2").alias("src"), F.col("s1").alias("dst"))
    )
    cand = (
        und.alias("n1")
        .join(
            und.alias("n2"),
            (F.col("n1.dst") == F.col("n2.dst"))
            & (F.col("n1.src") < F.col("n2.src")),
        )
        .groupBy(F.col("n1.src").alias("a"), F.col("n2.src").alias("c"))
        # wedges are unique per shared neighbor (distinct edge set) —
        # count(*) == count(DISTINCT dst) minus one dedup shuffle
        .agg(F.count("*").alias("n_common"))
    )
    nonedge = cand.join(
        e,
        (F.col("a") == F.col("s1")) & (F.col("c") == F.col("s2")),
        "left_anti",
    )
    wr = Window.orderBy(F.desc("n_common"), F.asc("supp_a"), F.asc("supp_c"))
    return (
        nonedge.select(
            F.col("a").alias("supp_a"),
            F.col("c").alias("supp_c"),
            F.col("n_common").cast("long").alias("n_common"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= 20)
    )


# ------------------------------------------------- multi-touch attribution
# Linear attribution with EXACT integer credit conservation: each
# purchase distributes exactly 1,000,000 micro-credits equally over
# the user's click/view touches in the 24 h before it (inclusive);
# integer division would leak the remainder, so the EARLIEST touch
# absorbs it — per-purchase credit always sums to exactly 1e6, making
# the per-channel totals partition-order-free integers.
_ATTR_WINDOW_US = 24 * 3600 * 1000000


@query(
    "q_attribution",
    f"""
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
      FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS tid, user_id, event_type, epoch_us(ts) AS tus
      FROM events WHERE event_type IN ('click', 'view')
    ), m AS (
      SELECT p.pid, t.tid, t.event_type,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY t.tus, t.tid) AS rn,
             count(*) OVER (PARTITION BY p.pid) AS n_t
      FROM p JOIN t
        ON t.user_id = p.user_id
       AND t.tus <= p.pus AND t.tus > p.pus - {_ATTR_WINDOW_US}
    ), c AS (
      SELECT event_type, pid,
             CASE WHEN rn = 1
                  THEN 1000000 - (n_t - 1) * (1000000 // n_t)
                  ELSE 1000000 // n_t END AS credit
      FROM m
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases_touched,
           CAST(sum(credit) AS BIGINT) AS credit_micro,
           {sql_fround('sum(credit) / 1000000.0', 6)} AS conversions
    FROM c GROUP BY event_type
    """,
    doc="linear multi-touch attribution: every purchase splits one "
    "conversion equally across the user's click/view touches in the "
    "prior 24 h, in exact micro-credit integers (the earliest touch "
    "absorbs the integer-division remainder, so credit conserves to "
    "exactly 1e6 per attributed purchase — asserted in tests). Scale: "
    "ONE equi-join shuffle on user_id with the time predicate as a "
    "post-join filter (co-partitioned, never a per-row range probe), "
    "two bounded windows per purchase, integer aggregation.",
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        F.col("us").alias("pus"),
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("tid"), "user_id", "event_type",
        F.col("us").alias("tus"),
    )
    m = p.join(
        t,
        (F.col("user_id") == F.col("puser"))
        & (F.col("tus") <= F.col("pus"))
        & (F.col("tus") > F.col("pus") - _ATTR_WINDOW_US),
    )
    wp = Window.partitionBy("pid")
    m = m.select(
        "pid",
        "tid",
        "event_type",
        F.row_number().over(wp.orderBy("tus", "tid")).alias("rn"),
        F.count("*").over(wp).alias("n_t"),
    )
    base = F.floor(F.lit(1000000) / F.col("n_t")).cast("long")
    credit = F.when(
        F.col("rn") == 1, F.lit(1000000) - (F.col("n_t") - 1) * base
    ).otherwise(base)
    return (
        m.select("event_type", "pid", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.count_distinct("pid").cast("long").alias("n_purchases_touched"),
            F.sum("credit").cast("long").alias("credit_micro"),
            fround(F.sum("credit") / 1000000.0, 6).alias("conversions"),
        )
    )


# ----------------------------------------------------------- graph: BFS
_BFS_HOPS = 4
_BFS_EDGES_CTE = """
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            WHERE l_quantity > 40) a
      JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            WHERE l_quantity > 40) b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
"""
_BFS_SEEDS_SQL = "SELECT s_suppkey AS v FROM supplier WHERE s_nationkey = 0"


def _bfs_oracle() -> str:
    from huckli_spark.operators.graph import sql_bfs

    return sql_bfs(_BFS_EDGES_CTE, _BFS_SEEDS_SQL, hops=_BFS_HOPS)


@query(
    "q_bfs_layers",
    _bfs_oracle(),
    doc=f"multi-source BFS over the supplier co-supply graph: every "
    "supplier reachable from the nation-0 seed set labeled with its "
    f"minimum hop distance, bounded to {_BFS_HOPS} rounds — the "
    "reachability/novelty-radius primitive behind influence spread "
    "and citation-distance features. Set-semantics frontier expansion "
    "(each vertex enters once, at its first hop) makes the bounded "
    "unroll deterministic; the oracle replays identical rounds as "
    "MATERIALIZED CTEs. Scale: per round ONE equi-join of the "
    "frontier (not the visited set) against the edges plus a "
    "vertex-key anti-join; lineage cut every round "
    "(operators/graph.py bfs_layers).",
)
def q_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.operators.graph import bfs_layers
    from huckli_spark.session import load_table

    # lazy: bfs_layers localCheckpoints `und` itself; the extra cut
    # measured flat 0.97-1.03x (see _cosupply_edges)
    e = _cosupply_edges(spark, sf_dir, 40, materialize=False)
    seeds = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 0)
        .select(F.col("s_suppkey").alias("v"))
    )
    return bfs_layers(e, seeds, hops=_BFS_HOPS).select(
        F.col("v").cast("long").alias("suppkey"), F.col("hop").cast("int")
    )


# ------------------------------------------------------------ winsorization
# Robust preprocessing twin of q_mad_outliers: clip each group's
# values at its exact NEAREST-RANK p05/p95 (rank = ceil(q*n), an
# integer selection — no interpolation, so the clip thresholds are
# integers and the clip decision never compares against a float).
@query(
    "q_winsorize",
    f"""
    WITH m AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
             row_number() OVER (PARTITION BY event_type ORDER BY vm) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), cuts AS (
      SELECT event_type,
             min(CASE WHEN rk = CAST(ceil(0.05 * n) AS BIGINT)
                      THEN vm END) AS lo,
             min(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN vm END) AS hi
      FROM m GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(m.n AS BIGINT) AS n,
           CAST(sum(CASE WHEN m.vm < c.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN m.vm > c.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           {sql_fround('CAST(sum(m.vm) AS DOUBLE) / m.n / 1000000.0', 6)}
             AS mean_before,
           {sql_fround(
               'CAST(sum(least(greatest(m.vm, c.lo), c.hi)) AS DOUBLE)'
               ' / m.n / 1000000.0', 6
           )} AS mean_after
    FROM m JOIN cuts c USING (event_type)
    GROUP BY m.event_type, m.n
    """,
    doc="winsorization: clip per-group values at the exact "
    "nearest-rank p05/p95 (integer rank selection — no interpolated "
    "float thresholds, so the clip comparisons stay integer-vs-"
    "integer) and report clip counts + exact fixed-point means "
    "before/after — the robust-mean preprocessing step for "
    "heavy-tailed metrics. Scale: one sort-window per group for the "
    "rank (at 100 TB: approx_percentile thresholds with documented "
    "tolerance), then a single pass with the 5-row cuts relation "
    "broadcast; sums are exact integers (HUGEINT/decimal38), only "
    "the final means divide in double.",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_raw(spark, sf_dir)
    wm = Window.partitionBy("event_type").orderBy("vm")
    wc = Window.partitionBy("event_type")
    m = e.select(
        "event_type",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("vm"),
    ).select(
        "event_type",
        "vm",
        F.row_number().over(wm).alias("rk"),
        F.count("*").over(wc).alias("n"),
    )
    cuts = m.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rk") == F.ceil(0.05 * F.col("n")).cast("long"),
                F.col("vm"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rk") == F.ceil(0.95 * F.col("n")).cast("long"),
                F.col("vm"),
            )
        ).alias("hi"),
    )
    d38 = "decimal(38,0)"
    clipped = F.least(F.greatest(F.col("vm"), F.col("lo")), F.col("hi"))
    return (
        m.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(F.when(F.col("vm") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_low"),
            F.sum(F.when(F.col("vm") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped_high"),
            fround(
                F.sum(F.col("vm").cast(d38)).cast("double")
                / F.col("n")
                / 1000000.0,
                6,
            ).alias("mean_before"),
            fround(
                F.sum(clipped.cast(d38)).cast("double") / F.col("n") / 1000000.0,
                6,
            ).alias("mean_after"),
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            "n_clipped_low",
            "n_clipped_high",
            "mean_before",
            "mean_after",
        )
    )


# ----------------------------------------------- graph: label propagation
_LPA_ITERS = 4


def _lpa_oracle() -> str:
    from huckli_spark.operators.graph import sql_label_propagation

    with_clause, last = sql_label_propagation(_BFS_EDGES_CTE, _LPA_ITERS)
    return f"""{with_clause},
    sizes AS (SELECT label, count(*) AS n_members FROM {last} GROUP BY label)
    SELECT CAST(l.v AS BIGINT) AS suppkey,
           CAST(l.label AS BIGINT) AS label,
           CAST(s.n_members AS BIGINT) AS n_members
    FROM {last} l JOIN sizes s USING (label)"""


@query(
    "q_label_prop",
    _lpa_oracle(),
    doc=f"label-propagation community detection over the supplier "
    "co-supply graph: every node adopts its neighbors' most frequent "
    "label, ties toward the smallest — the near-linear community "
    f"primitive behind spam-cluster/topic grouping. {_LPA_ITERS} "
    "synchronous unrolled rounds (deterministic by the count-desc/"
    "label-asc total order; the oracle replays identical rounds), "
    "community size joined back. Scale: one neighbor-label count "
    "shuffle + one per-node top-1 window per round, O(iters * |E|). "
    "The fixture's co-supply graph is a community-free random "
    "bipartite projection, so LPA correctly converges toward one "
    "giant label here; separation on planted two-clique structure "
    "is proven in tests/test_wave7_extras.py.",
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.operators.graph import label_propagation

    e = _cosupply_edges(spark, sf_dir, 40)
    labels = label_propagation(e, iterations=_LPA_ITERS)
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "label").select(
        F.col("v").cast("long").alias("suppkey"),
        F.col("label").cast("long").alias("label"),
        F.col("n_members").cast("long").alias("n_members"),
    )


# ------------------------------------------------------- time-decay score
# Recency-weighted engagement: each event contributes value * 2^-age
# (age in whole days from the corpus max timestamp). A float decay
# (exp(-lambda*age)) would make per-user sums partition-order
# dependent; halving per day is the SAME semantics with an exact
# integer implementation — vm >> age_days — so the aggregate is
# bit-identical on any engine and partitioning.
@query(
    "q_decay_score",
    f"""
    WITH mx AS (
      SELECT CAST(max(ts) AS DATE) AS d1 FROM events
    ), scored AS (
      SELECT user_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT)
               // CAST(power(2.0, least(datediff('day', CAST(ts AS DATE),
                                                 mx.d1), 62)) AS BIGINT)
               AS dv
      FROM events, mx
    ), agg AS (
      SELECT user_id,
             CAST(sum(dv) AS BIGINT) AS score_micro,
             CAST(count(*) AS BIGINT) AS n_events
      FROM scored GROUP BY user_id
    ), ranked AS (
      SELECT user_id, score_micro, n_events,
             row_number() OVER (ORDER BY score_micro DESC, user_id) AS rnk
      FROM agg
    )
    SELECT user_id, score_micro, n_events,
           {sql_fround('score_micro / 1000000.0', 6)} AS score,
           CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 25
    """,
    doc="recency-weighted engagement score (top-25 users): every event "
    "contributes value * 2^-age_days — exponential time decay with "
    "half-life one day — computed as an INTEGER shift (vm >> age), "
    "so the per-user sum is exact and partition-order free where a "
    "float exp() decay would drift by summation order. The anchor is "
    "the corpus max date (one broadcast scalar). Scale: one scan, "
    "one user_id aggregate shuffle, bounded top-k window — the "
    "leaderboard/churn-signal primitive.",
)
def q_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.to_date("ts").alias("d")
    )
    mx = ev.agg(F.max("d").alias("d1"))
    vm = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    age = F.least(F.datediff(F.col("d1"), F.col("d")), F.lit(62))
    dv = F.floor(vm / F.pow(F.lit(2.0), age)).cast("long")
    agg = (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", dv.alias("dv"))
        .groupBy("user_id")
        .agg(
            F.sum("dv").cast("long").alias("score_micro"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    wr = Window.orderBy(F.desc("score_micro"), F.asc("user_id"))
    return (
        agg.withColumn("score", fround(F.col("score_micro") / 1000000.0, 6))
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= 25)
        .select("user_id", "score_micro", "n_events", "score", "rank")
    )


# ---------------------------------------------------- CMS join-size estimate
# "Will this join explode?" — the count-min INNER PRODUCT estimates a
# join's output cardinality from two d*w sketches alone: |A join B| =
# sum_k cA(k)*cB(k) <= min over rows r of sum_b cntA(r,b)*cntB(r,b)
# (Cormode-Muthukrishnan). Here: the attribution join's user-key
# blowup (clicks x purchases per user), estimated without touching
# the join — the planner-side primitive for choosing salting /
# broadcast strategies up front.
@query(
    "q_cms_join_size",
    f"""
    WITH a AS ({freq.sql_cms_build_cte(
        "SELECT CAST(user_id AS VARCHAR) AS key FROM events"
        " WHERE event_type = 'click'")}
    ), b AS ({freq.sql_cms_build_cte(
        "SELECT CAST(user_id AS VARCHAR) AS key FROM events"
        " WHERE event_type = 'purchase'")}
    ), dots AS (
      SELECT a.row, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
      FROM a JOIN b ON a.row = b.row AND a.bucket = b.bucket
      GROUP BY a.row
    ), est AS (
      SELECT CAST(min(dot) AS BIGINT) AS est_pairs FROM dots
    ), exact AS (
      SELECT CAST(sum(nc * np) AS BIGINT) AS exact_pairs FROM (
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id
      )
    )
    SELECT est.est_pairs, exact.exact_pairs,
           CAST(est.est_pairs - exact.exact_pairs AS BIGINT)
             AS overestimate,
           {sql_fround('est.est_pairs * 1.0 / exact.exact_pairs', 4)}
             AS ratio
    FROM est, exact
    """,
    doc="join-cardinality estimation by count-min inner product: the "
    "click x purchase per-user join size (the attribution join's "
    "blowup) from two 4x256 sketches alone — est >= exact is "
    "structural (one-sided error), gated alongside the exact count "
    "so the estimator's overshoot itself is hash-checked. Scale: "
    "each side collapses to <= d*w cells however large the input; "
    "the dot product touches 2*d*w rows — the planning primitive "
    "for salting/broadcast decisions without running the join.",
)
def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_raw(spark, sf_dir)
    key = F.col("user_id").cast("string")
    a = freq.cms_build(
        e.where(F.col("event_type") == "click").select(key.alias("key")), "key"
    )
    b = freq.cms_build(
        e.where(F.col("event_type") == "purchase").select(key.alias("key")),
        "key",
    )
    dots = (
        a.join(b.withColumnRenamed("cnt", "cntb"), ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("cnt") * F.col("cntb")).alias("dot"))
    )
    est = dots.agg(F.min("dot").cast("long").alias("est_pairs"))
    exact = (
        e.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "nc"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .agg(F.sum(F.col("nc") * F.col("np")).cast("long").alias("exact_pairs"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_pairs",
        "exact_pairs",
        (F.col("est_pairs") - F.col("exact_pairs"))
        .cast("long")
        .alias("overestimate"),
        fround(F.col("est_pairs") * 1.0 / F.col("exact_pairs"), 4).alias(
            "ratio"
        ),
    )


# ------------------------------------------------- rolling-median anomalies
# Time-series anomaly detection over a robust rolling baseline: a day
# is anomalous when its total exceeds 1.3x the trailing 7-day median
# (doubled fixed-point ints — with med2 = 2*median the test
# daily > 1.3*median is exactly 20*vm > 13*med2, never touching a
# float; the first 7 days have no baseline and are skipped).
@query(
    "q_anomaly_days",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS vm
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT event_type, day, vm,
             CAST(2 * median(vm) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS med2
      FROM daily
    )
    SELECT event_type, day,
           {sql_fround('vm / 1000000.0', 4)} AS daily_total,
           {sql_fround('med2 / 2000000.0', 4)} AS baseline_median,
           {sql_fround('2.0 * vm / med2', 4)} AS ratio
    FROM base WHERE med2 IS NOT NULL AND 20 * vm > 13 * med2
    """,
    doc="rolling robust anomaly detection: flag days whose per-type "
    "total exceeds 1.3x the trailing 7-day median — the alerting "
    "primitive that survives the outliers a rolling MEAN baseline "
    "absorbs. Exact integer daily sums, window median on ints "
    "(doubled to stay integral), threshold compared in integers. "
    "Scale: one (type, day) aggregate — bounded rows — then a "
    "7-row-frame window per series; at 100 TB the daily rollup is "
    "the only data-sized pass.",
)
def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("vm"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.sum("vm").cast("long").alias("vm")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    base = daily.withColumn(
        "med2", (2 * F.percentile("vm", F.lit(0.5)).over(w)).cast("long")
    )
    return base.where(
        F.col("med2").isNotNull() & (20 * F.col("vm") > 13 * F.col("med2"))
    ).select(
        "event_type",
        "day",
        fround(F.col("vm") / 1000000.0, 4).alias("daily_total"),
        fround(F.col("med2") / 2000000.0, 4).alias("baseline_median"),
        fround(2.0 * F.col("vm") / F.col("med2"), 4).alias("ratio"),
    )


# ------------------------------------------------- hash-sample quantiles
_HQ_K = 1024
_HQ_PCTS = (1, 5, 25, 50, 75, 95, 99)


@query(
    "q_hash_quantiles",
    f"""
    WITH keyed AS (
      SELECT l_orderkey * 10 + l_linenumber AS k,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             {sql_h60("'q:' || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)")}
               AS h
      FROM lineitem
    ), samp AS (
      SELECT k, v FROM keyed ORDER BY h, k LIMIT {_HQ_K}
    ), ranked AS (
      SELECT v, row_number() OVER (ORDER BY v, k) AS r,
             count(*) OVER () AS sz
      FROM samp
    ), pcts AS (
      SELECT unnest([{', '.join(str(p) for p in _HQ_PCTS)}]) AS pct
    )
    SELECT p.pct,
           CAST(r.sz AS BIGINT) AS sample_size,
           r.v AS est_cents
    FROM pcts p JOIN ranked r
      ON r.r = greatest(1, CAST(ceil(p.pct * r.sz / 100.0) AS BIGINT))
    """,
    doc="deterministic sampled quantiles: a bottom-k sample by the "
    "portable 60-bit hash of the row key (k=1024 — a uniform, "
    "MERGEABLE, engine-reproducible sample: the union of two "
    "partitions' bottom-k IS the corpus bottom-k) + nearest-rank "
    "quantiles over the sample. THE scalable quantile pattern when "
    "an exact global sort is off the table: the corpus-side work is "
    "one TakeOrdered; everything after runs on 1024 rows. Values in "
    "exact integer cents; est error vs the true quantile is "
    "O(1/sqrt(k)) in rank.",
)
def q_hash_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v"),
        h60(
            F.concat(
                F.lit("q:"),
                (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast(
                    "string"
                ),
            )
        ).alias("h"),
    )
    samp = keyed.orderBy(F.asc("h"), F.asc("k")).limit(_HQ_K)
    wr = Window.orderBy(F.asc("v"), F.asc("k"))
    ranked = samp.select(
        "v",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(Window.partitionBy()).alias("sz"),
    )
    pcts = spark.sql(
        "SELECT col1 AS pct FROM VALUES "
        + ", ".join(f"({p})" for p in _HQ_PCTS)
    )
    return pcts.join(
        ranked,
        ranked["r"]
        == F.greatest(
            F.lit(1),
            F.ceil(F.col("pct") * F.col("sz") / 100.0).cast("long"),
        ),
    ).select(
        "pct",
        F.col("sz").cast("long").alias("sample_size"),
        F.col("v").alias("est_cents"),
    )
