"""Corpus-curation operators from the published LLM-data literature.

Two selection methods a large-scale training-data pipeline runs after
the syntactic dedup / quality passes already in this repo:

* **SemDeDup** (Abbas et al. 2023, arXiv:2303.09540) — semantic
  deduplication: k-means-cluster the document embeddings, then compare
  cosine similarity only *within* each cluster and drop all but one
  member of every near-duplicate group. The clustering bounds the
  pairwise stage to O(sum cluster_size^2) instead of O(n^2) — at web
  scale the paper uses ~100k clusters so each cluster holds ~1k docs
  and the quadratic term stays flat per cluster.

* **DSIR** (Xie et al. 2023, arXiv:2302.03169) — data selection via
  importance resampling on hashed n-gram features: build bag-of-ngram
  (unigram+bigram) distributions for a small *target* corpus and the
  full *raw* corpus over B hash buckets, score every raw document by
  sum(count_b * log(p_target[b] / p_raw[b])), and keep the top-scoring
  documents. Both distributions are B-sized (B=256 here), so the whole
  scorer is one explode + two B-sized aggregates + one broadcast join.

Both follow this repo's exact-fixed-point portability discipline
(see ``operators/clustering.py``, ``queries/governance.py``): every
float that crosses an aggregation boundary is floored to a micro-unit
BIGINT first, so per-doc sums are exact integer arithmetic and the
DuckDB oracles replay bit-identically on any partitioning.

Reference parity note: the reference engine (huckli — 2,445 LoC of
Rust ingest/schema code, /root/reference/huckli-import/src) has no
curation layer; these operators extend the LLM-pipeline surface the
project brief mandates beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from huckli_spark.functions.portable import fround, h60
from huckli_spark.operators.clustering import kmeans_assign, kmeans_fit
from huckli_spark.operators.simsearch import cosine, dot, l2_norm

DSIR_BUCKETS = 256


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------
def _cluster_dup_pairs(
    emb: DataFrame,
    assign: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cluster ordered near-dup pairs (d1 < d2) at
    fround(cos, 6) >= tau — the shared pair stage of the semdedup
    family. Self-join keys on cid only (cluster-bounded)."""
    v = emb.select(F.col(id_col), F.col(vec_col))
    # each member's L2 norm is computed ONCE and carried into the pair
    # join: dot/(na*nb) is the same double ops in the same order as
    # simsearch.cosine, so fround(sim, 6) is bit-identical, but the
    # per-pair fold drops from 3 O(d) aggregates to 1 — the pair stage
    # is the family's dominant cost (the per-cluster quadratic term)
    membered = assign.join(v, id_col).select(
        F.col(id_col), F.col("cid"), F.col(vec_col),
        l2_norm(vec_col).alias("__nrm"),
    )
    a = membered.select(
        F.col(id_col).alias("__ida"),
        F.col("cid"),
        F.col(vec_col).alias("__ea"),
        F.col("__nrm").alias("__na"),
    )
    b = membered.select(
        F.col(id_col).alias("__idb"),
        F.col("cid"),
        F.col(vec_col).alias("__eb"),
        F.col("__nrm").alias("__nb"),
    )
    pairs = a.join(b, "cid").where(F.col("__ida") < F.col("__idb"))
    sim = fround(
        dot("__ea", "__eb") / (F.col("__na") * F.col("__nb")), 6
    )
    return pairs.where(sim >= F.lit(tau)).select(
        F.col("__ida").alias("d1"), F.col("__idb").alias("d2")
    )


def semdedup(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic-dedup keep/drop decisions: (id, cid, is_dup).

    A vector is a duplicate iff some *lower-id* vector in the SAME
    k-means cluster has portably-rounded cosine similarity >= ``tau``
    (pairwise SemDeDup with lowest-id-wins representative selection —
    deterministic on any engine; the paper keeps the member farthest
    from the centroid, an arbitrary-but-fixed choice we replace with
    an id tiebreak so the oracle can replay it).

    Scale: ``kmeans_fit`` is the exact fixed-point trainer (map-only
    assignment, one map-combined groupBy per iteration; driver holds
    k*dim cells). The pairwise stage self-joins on ``cid`` only, so
    shuffle and compare cost are bounded by the largest cluster, not
    the corpus: at 100 TB you raise k until clusters are ~1k docs
    (the paper's operating point) and the per-cluster quadratic term
    is constant. Skewed (giant) clusters are the hazard — mitigate by
    raising k or re-clustering oversized clusters; the cluster-size
    histogram from ``kmeans_table`` is the monitor.
    """
    cents = kmeans_fit(emb, k, iterations, id_col, vec_col)
    assign = kmeans_assign(emb, cents, id_col, vec_col)  # (id, cid)
    dpairs = _cluster_dup_pairs(emb, assign, tau, id_col, vec_col)
    dups = (
        dpairs.select(F.col("d2").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assign.join(dups, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cid"),
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )


def sql_semdedup_ctes(
    k: int = 8, iterations: int = 2, tau: float = 0.45
) -> str:
    """The semdedup oracle's CTE text (no WITH, no final SELECT):
    replays the fixed-point k-means training (``sql_kmeans_ctes``),
    the exact-integer final assignment (``fa``), the member relation
    (``m``: vec_id, cid, e) and the within-cluster dup set (``dups``)
    — composable into larger pipelines."""
    from huckli_spark.functions.portable import sql_fround
    from huckli_spark.operators.clustering import sql_kmeans_ctes

    last = f"c{iterations}"
    cos = (
        "list_dot_product(a.e, b.e)"
        " / (sqrt(list_dot_product(a.e, a.e))"
        " * sqrt(list_dot_product(b.e, b.e)))"
    )
    return f"""{sql_kmeans_ctes(k, iterations)},
    fd AS (
      SELECT vm.vec_id, {last}.cid,
             sum((vm.val - {last}.c) * (vm.val - {last}.c)) AS d
      FROM vm JOIN {last} ON {last}.dim = vm.dim
      GROUP BY 1, 2
    ), fa AS (
      SELECT vec_id, CAST(min(cid) AS INT) AS cid FROM (
        SELECT vec_id, cid, d, min(d) OVER (PARTITION BY vec_id) AS md
        FROM fd
      ) WHERE d = md GROUP BY vec_id
    ), v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), m AS (
      SELECT fa.vec_id, fa.cid, v.e FROM fa JOIN v USING (vec_id)
    ), dpairs AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {sql_fround(cos, 6)} >= {tau}
    ), dups AS (
      SELECT DISTINCT d2 AS vec_id FROM dpairs
    )"""


def sql_semdedup(k: int = 8, iterations: int = 2, tau: float = 0.45) -> str:
    """DuckDB oracle for the full semdedup keep/drop table."""
    return f"""
    WITH {sql_semdedup_ctes(k, iterations, tau)}
    SELECT m.vec_id, m.cid,
           (m.vec_id IN (SELECT vec_id FROM dups)) AS is_dup
    FROM m
    """


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------
def _feature_col(words: str) -> F.Column:
    """unigram + bigram feature strings for a split-word array column:
    'u:w' for every word, 'b:w1 w2' for every adjacent pair."""
    uni = f"transform({words}, x -> concat('u:', x))"
    big = (
        f"transform(sequence(1, size({words}) - 1),"
        f" i -> concat('b:', element_at({words}, i), ' ',"
        f" element_at({words}, i + 1)))"
    )
    return F.expr(
        f"concat({uni}, CASE WHEN size({words}) >= 2 THEN {big}"
        f" ELSE array() END)"
    )


def dsir_select(
    docs: DataFrame,
    target: F.Column,
    buckets: int = DSIR_BUCKETS,
    keep: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights + top-``keep`` selection:
    (doc_id, n_feats, w_micro, selected).

    ``target`` is a boolean column over ``docs`` marking the target
    (quality-proxy) subset. Weights are exact integers: the per-bucket
    log ratio ln((tc+1)/(tt+B)) - ln((rc+1)/(rt+B)) floors to
    micro-nats once, then per-doc weights are integer dot products of
    (bucket count x micro log-ratio) — partition-order free.

    Scale: one explode over the corpus into per-(doc, bucket) counts
    (persisted — the corpus collapses to <= B rows per doc there), ONE
    map-combined groupBy down to B=256 bucket rows collected in the
    job that fills the cache, a broadcast of the B-row log-ratio table
    back onto the per-doc counts, and a driver-side TakeOrdered
    top-``keep`` collect for the threshold (per-partition top-k +
    driver merge — no global sort shuffle). The result is
    eager-released (the operators.cache lifecycle); the corpus is
    never reshuffled on a data-sized key. At 100 TB ``keep`` becomes a
    weight-quantile threshold.
    """
    from huckli_spark.operators.cache import eager_release, persist_scope
    from huckli_spark.operators.parallel import exploded, fan_out

    # fan_out: the n-gram explode + per-feature h60 below is the
    # corpus-sized compute (the shingle_array discipline) — a
    # single-row-group input must not pin it to one core
    base = fan_out(docs.select(
        F.col(id_col),
        target.alias("__is_t"),
        F.split(F.col(text_col), " ").alias("__w"),
    ))
    feats = (
        exploded(
            base,
            [F.col(id_col), F.col("__is_t")],
            _feature_col("__w"),
            "__f",
        )
        .select(
            F.col(id_col),
            F.col("__is_t"),
            (h60(F.col("__f")) % F.lit(buckets)).alias("bucket"),
        )
        .groupBy(id_col, "__is_t", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    # empty corpus or keep <= 0: zero rows in the result's schema
    no_rows = feats.select(
        F.col(id_col),
        F.lit(None).cast("long").alias("n_feats"),
        F.lit(None).cast("long").alias("w_micro"),
        F.lit(None).cast("boolean").alias("selected"),
    ).where(F.lit(False))

    # The log-ratio re-enters as a VALUES literal with ln/floor STILL
    # evaluated by Spark SQL (bit-identical micro-nats — the
    # unigram-fit r13 discipline); the keep-threshold is ONE
    # driver-side TakeOrdered collect of the (w desc, id asc)
    # top-`keep` cut (keep-bounded rows).
    spark = docs.sparkSession
    with persist_scope() as s:
        feats_p = s.persist(feats)
        brows = feats_p.groupBy("bucket").agg(
            F.sum("cnt").alias("rc"),
            F.sum(
                F.when(F.col("__is_t"), F.col("cnt")).otherwise(0)
            ).alias("tc"),
        ).collect()
        if not brows:
            return no_rows
        rt = sum(int(r["rc"]) for r in brows)   # == F.sum long, exact
        tt = sum(int(r["tc"]) for r in brows)
        vals = ", ".join(
            f"({int(r['bucket'])}L, {int(r['tc'])}L, {int(r['rc'])}L)"
            for r in brows
        )
        lr_lit = spark.sql(
            "SELECT col1 AS bucket, CAST(floor((ln((col2 + 1.0) /"
            f" (CAST({tt} AS DOUBLE) + CAST({buckets} AS DOUBLE)))"
            f" - ln((col3 + 1.0) / (CAST({rt} AS DOUBLE)"
            f" + CAST({buckets} AS DOUBLE)))) * 1000000.0 + 0.5)"
            f" AS BIGINT) AS lr_micro FROM VALUES {vals}"
        )
        w = s.persist(
            feats_p.join(F.broadcast(lr_lit), "bucket")
            .groupBy(id_col)
            .agg(
                F.sum("cnt").cast("long").alias("n_feats"),
                F.sum(F.col("cnt") * F.col("lr_micro")).cast("long").alias(
                    "w_micro"
                ),
            )
        )
        top = (
            w.orderBy(F.desc("w_micro"), F.asc(id_col)).limit(keep).collect()
        )
        if not top:
            return no_rows
        # the last top-`keep` row under (w desc, id asc) — computed
        # order-insensitively over the collected prefix
        tw = min(int(r["w_micro"]) for r in top)
        # Python max == Spark ordering for both numeric ids and
        # strings (UTF8 binary order == code-point order)
        tid = max(r[id_col] for r in top if int(r["w_micro"]) == tw)
        flagged = w.select(
            F.col(id_col),
            "n_feats",
            "w_micro",
            (
                (F.col("w_micro") > F.lit(tw))
                | (
                    (F.col("w_micro") == F.lit(tw))
                    & (F.col(id_col) <= F.lit(tid))
                )
            ).alias("selected"),
        )
        return eager_release(flagged)


def sql_dsir_ctes(
    target_pred: str,
    buckets: int = DSIR_BUCKETS,
    keep: int = 100,
    source: str = "documents",
) -> str:
    """The DSIR oracle's CTE text (no WITH, no final SELECT) over
    ``source`` (a table or prior CTE with doc_id + text + the columns
    ``target_pred`` reads) — ends with ``weights`` and ``thr``;
    composable into larger pipelines."""
    from huckli_spark.functions.portable import sql_h60

    return f"""base AS (
      SELECT doc_id, ({target_pred}) AS is_t,
             string_split(text, ' ') AS w
      FROM {source}
    ), fstr AS (
      SELECT doc_id, is_t, unnest(
        list_concat(
          list_transform(w, x -> 'u:' || x),
          CASE WHEN len(w) >= 2 THEN
            list_transform(range(1, len(w)), i -> 'b:' || w[i] || ' ' || w[i + 1])
          ELSE [] END
        )
      ) AS f
      FROM base
    ), feats AS (
      SELECT doc_id, is_t, {sql_h60('f')} % {buckets} AS bucket,
             count(*) AS cnt
      FROM fstr GROUP BY 1, 2, 3
    ), byb AS (
      SELECT bucket, sum(cnt) AS rc,
             sum(CASE WHEN is_t THEN cnt ELSE 0 END) AS tc
      FROM feats GROUP BY 1
    ), totals AS (
      SELECT sum(rc) AS rt, sum(tc) AS tt FROM byb
    ), lr AS (
      SELECT bucket,
             CAST(floor((ln((tc + 1.0) / (tt + {buckets}))
                         - ln((rc + 1.0) / (rt + {buckets})))
                        * 1000000 + 0.5) AS BIGINT) AS lr_micro
      FROM byb CROSS JOIN totals
    ), weights AS (
      SELECT feats.doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_feats,
             CAST(sum(cnt * lr_micro) AS BIGINT) AS w_micro
      FROM feats JOIN lr USING (bucket)
      GROUP BY 1
    ), thr AS (
      SELECT w_micro AS tw, doc_id AS tid FROM (
        SELECT doc_id, w_micro FROM weights
        ORDER BY w_micro DESC, doc_id ASC LIMIT {keep}
      ) ORDER BY w_micro ASC, doc_id DESC LIMIT 1
    )"""


DSIR_FINAL_SELECT = """
    SELECT doc_id, n_feats, w_micro,
           (w_micro > thr.tw
            OR (w_micro = thr.tw AND doc_id <= thr.tid)) AS selected
    FROM weights CROSS JOIN thr
"""


def sql_dsir_select(
    target_pred: str, buckets: int = DSIR_BUCKETS, keep: int = 100
) -> str:
    """DuckDB oracle twin of dsir_select over ``documents`` with
    ``target_pred`` as the SQL target predicate."""
    return (
        "\n    WITH "
        + sql_dsir_ctes(target_pred, buckets, keep)
        + DSIR_FINAL_SELECT
    )


# ---------------------------------------------------------------------------
# Cluster-balanced diversity sampling
# ---------------------------------------------------------------------------
def diversity_sample(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-preserving selection after dedup: k-means-cluster the
    embeddings, then keep ceil(sqrt(cluster_size)) members per cluster
    in a deterministic pseudo-random order (portable 60-bit hash of
    the id, id tiebreak). Square-root allocation over-samples small
    clusters relative to proportional sampling — the standard
    diversity/coverage trade (big homogeneous clusters contribute
    little marginal information per extra doc).

    Output: (id, cid, cluster_size, rk, selected) — one row per
    vector so the gate hashes the full decision, not just the sample.

    Scale: training is the fixed-point kmeans_fit (map-only
    assignment); sizes are one groupBy to k rows; the rank is a
    window partitioned BY CLUSTER — at production k (~thousands) the
    window never sees a data-sized single partition. sqrt/ceil are
    single IEEE ops on exact integers, identical in both engines.
    """
    from pyspark.sql import Window

    cents = kmeans_fit(emb, k, iterations, id_col, vec_col)
    assign = kmeans_assign(emb, cents, id_col, vec_col)
    sizes = assign.groupBy("cid").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    quota = F.ceil(F.sqrt(F.col("cluster_size").cast("double"))).cast("long")
    rk = F.row_number().over(
        Window.partitionBy("cid").orderBy(
            h60(F.col(id_col).cast("string")), F.col(id_col)
        )
    )
    return (
        assign.join(F.broadcast(sizes), "cid")
        .select(
            F.col(id_col),
            "cid",
            "cluster_size",
            rk.alias("rk"),
        )
        .select(
            id_col,
            "cid",
            "cluster_size",
            "rk",
            (F.col("rk") <= quota).alias("selected"),
        )
    )


def sql_diversity_sample(k: int = 8, iterations: int = 2) -> str:
    """DuckDB oracle: kmeans replay + exact-integer assignment +
    sqrt-quota ranked selection."""
    from huckli_spark.functions.portable import sql_h60
    from huckli_spark.operators.clustering import sql_kmeans_ctes

    last = f"c{iterations}"
    return f"""
    WITH {sql_kmeans_ctes(k, iterations)},
    fd AS (
      SELECT vm.vec_id, {last}.cid,
             sum((vm.val - {last}.c) * (vm.val - {last}.c)) AS d
      FROM vm JOIN {last} ON {last}.dim = vm.dim
      GROUP BY 1, 2
    ), fa AS (
      SELECT vec_id, CAST(min(cid) AS INT) AS cid FROM (
        SELECT vec_id, cid, d, min(d) OVER (PARTITION BY vec_id) AS md
        FROM fd
      ) WHERE d = md GROUP BY vec_id
    ), sz AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
      FROM fa GROUP BY 1
    ), ranked AS (
      SELECT fa.vec_id, fa.cid, sz.cluster_size,
             CAST(row_number() OVER (
               PARTITION BY fa.cid
               ORDER BY {sql_h60('CAST(fa.vec_id AS VARCHAR)')}, fa.vec_id
             ) AS BIGINT) AS rk
      FROM fa JOIN sz USING (cid)
    )
    SELECT vec_id, cid, cluster_size, rk,
           (rk <= CAST(ceil(sqrt(CAST(cluster_size AS DOUBLE)))
                       AS BIGINT)) AS selected
    FROM ranked
    """


# ---------------------------------------------------------------------------
# Incremental SemDeDup (new batch screened against an existing corpus)
# ---------------------------------------------------------------------------
def semdedup_incremental(
    existing: DataFrame,
    batch: DataFrame,
    k: int = 8,
    iterations: int = 2,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[list[int]] | None = None,
) -> DataFrame:
    """Screen a NEW embedding batch against an existing corpus — the
    production shape of SemDeDup as a corpus grows: the coarse
    quantizer trains on the EXISTING corpus only (frozen between
    periodic retrains), new vectors assign to it map-only, and each
    new vector compares (a) against existing same-cluster members —
    corpus always wins, no id ordering — and (b) against lower-id
    same-cluster members of its own batch.

    Output: one row per batch vector —
    (id, cid, dup_vs_corpus, dup_in_batch, is_dup).

    Scale: training cost is amortized across batches (frozen
    centroids); the screening joins key on cid, so per-batch work is
    |batch| x cluster-density, never corpus-quadratic; the existing
    side streams through the join without re-shuffling the corpus on
    any data-sized key.

    Pass ``cents`` (micro-int centroid lists, kmeans_fit's output) to
    reuse a frozen quantizer across many batches — the amortization
    that makes the incremental path cheap in production.
    """
    if cents is None:
        cents = kmeans_fit(existing, k, iterations, id_col, vec_col)
    # norms hoisted per vector (bit-identical sim — see
    # _cluster_dup_pairs); both screening joins pay one O(d) fold per
    # pair instead of three
    em = (
        kmeans_assign(existing, cents, id_col, vec_col)
        .join(existing.select(F.col(id_col), F.col(vec_col)), id_col)
        .select(
            F.col(id_col).alias("__ida"),
            "cid",
            F.col(vec_col).alias("__ea"),
            l2_norm(vec_col).alias("__na"),
        )
    )
    bm = (
        kmeans_assign(batch, cents, id_col, vec_col)
        .join(batch.select(F.col(id_col), F.col(vec_col)), id_col)
        .select(
            F.col(id_col).alias("__idb"),
            "cid",
            F.col(vec_col).alias("__eb"),
            l2_norm(vec_col).alias("__nb"),
        )
    )
    sim = fround(
        dot("__ea", "__eb") / (F.col("__na") * F.col("__nb")), 6
    )
    dup_corpus = (
        bm.join(em, "cid")
        .where(sim >= F.lit(tau))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dc", F.lit(True))
    )
    a = bm.select(
        F.col("__idb").alias("__ida"), "cid",
        F.col("__eb").alias("__ea"), F.col("__nb").alias("__na"),
    )
    dup_batch = (
        a.join(bm, "cid")
        .where((F.col("__ida") < F.col("__idb")) & (sim >= F.lit(tau)))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__db", F.lit(True))
    )
    base = bm.select(F.col("__idb").alias(id_col), "cid")
    return (
        base.join(dup_corpus, id_col, "left")
        .join(dup_batch, id_col, "left")
        .select(
            F.col(id_col),
            "cid",
            F.coalesce(F.col("__dc"), F.lit(False)).alias("dup_vs_corpus"),
            F.coalesce(F.col("__db"), F.lit(False)).alias("dup_in_batch"),
            (
                F.coalesce(F.col("__dc"), F.lit(False))
                | F.coalesce(F.col("__db"), F.lit(False))
            ).alias("is_dup"),
        )
    )


def sql_semdedup_incremental(
    existing_pred: str,
    batch_pred: str,
    k: int = 8,
    iterations: int = 2,
    tau: float = 0.45,
) -> str:
    """DuckDB oracle: k-means replay on the existing subset only, then
    both screening passes with the same fround(…, 6) threshold."""
    from huckli_spark.functions.portable import sql_fround
    from huckli_spark.operators.clustering import (
        sql_kmeans_chain,
        sql_kmeans_vm_cte,
    )

    last = f"c{iterations}"
    cos = (
        "list_dot_product(a.e, b.e)"
        " / (sqrt(list_dot_product(a.e, a.e))"
        " * sqrt(list_dot_product(b.e, b.e)))"
    )
    ex_src = f"(SELECT * FROM embeddings WHERE {existing_pred})"
    b_src = f"(SELECT * FROM embeddings WHERE {batch_pred})"
    return f"""
    WITH {sql_kmeans_vm_cte(ex_src)},
    {sql_kmeans_chain(k, iterations)},
    {sql_kmeans_vm_cte(b_src, name="bvm")},
    efd AS (
      SELECT vm.vec_id, {last}.cid,
             sum((vm.val - {last}.c) * (vm.val - {last}.c)) AS d
      FROM vm JOIN {last} ON {last}.dim = vm.dim GROUP BY 1, 2
    ), efa AS (
      SELECT vec_id, CAST(min(cid) AS INT) AS cid FROM (
        SELECT vec_id, cid, d, min(d) OVER (PARTITION BY vec_id) AS md
        FROM efd
      ) WHERE d = md GROUP BY vec_id
    ), bfd AS (
      SELECT bvm.vec_id, {last}.cid,
             sum((bvm.val - {last}.c) * (bvm.val - {last}.c)) AS d
      FROM bvm JOIN {last} ON {last}.dim = bvm.dim GROUP BY 1, 2
    ), bfa AS (
      SELECT vec_id, CAST(min(cid) AS INT) AS cid FROM (
        SELECT vec_id, cid, d, min(d) OVER (PARTITION BY vec_id) AS md
        FROM bfd
      ) WHERE d = md GROUP BY vec_id
    ), em AS (
      SELECT efa.vec_id, efa.cid, v.embedding::DOUBLE[] AS e
      FROM efa JOIN embeddings v USING (vec_id)
    ), bm AS (
      SELECT bfa.vec_id, bfa.cid, v.embedding::DOUBLE[] AS e
      FROM bfa JOIN embeddings v USING (vec_id)
    ), dc AS (
      SELECT DISTINCT b.vec_id
      FROM bm b JOIN em a ON a.cid = b.cid
      WHERE {sql_fround(cos, 6)} >= {tau}
    ), db AS (
      SELECT DISTINCT b.vec_id
      FROM bm b JOIN bm a ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {sql_fround(cos, 6)} >= {tau}
    )
    SELECT bm.vec_id, bm.cid,
           (bm.vec_id IN (SELECT vec_id FROM dc)) AS dup_vs_corpus,
           (bm.vec_id IN (SELECT vec_id FROM db)) AS dup_in_batch,
           (bm.vec_id IN (SELECT vec_id FROM dc)
            OR bm.vec_id IN (SELECT vec_id FROM db)) AS is_dup
    FROM bm
    """


def semdedup_components(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Component-based SemDeDup — the paper's actual formulation: the
    within-cluster near-dup PAIRS form a graph, each connected
    component is one semantic-duplicate group, and exactly one member
    per component (the smallest id) survives. Fixes the pairwise
    rule's chain artifact: with a~b and b~c but a!~c, pairwise
    lowest-id-wins drops BOTH b and c; components keep a and drop the
    rest of the a-b-c chain as one group, which is the documented
    SemDeDup semantics.

    Output: (id, cid, cluster_id, is_keeper) — cluster_id is the
    component representative (self for clean vectors).

    Scale: the pair graph holds only duplicates (orders of magnitude
    smaller than the corpus); ``connected_components`` solves it via
    driver union-find under ``small_graph_max`` edges, distributed
    min-label propagation above.
    """
    from huckli_spark.operators.dedup import connected_components

    cents = kmeans_fit(emb, k, iterations, id_col, vec_col)
    assign = kmeans_assign(emb, cents, id_col, vec_col)
    dpairs = _cluster_dup_pairs(emb, assign, tau, id_col, vec_col)
    comp = connected_components(
        dpairs, src="d1", dst="d2", id_out=id_col, comp_out="cluster_id"
    )
    return assign.join(comp, id_col, "left").select(
        F.col(id_col),
        "cid",
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        (
            F.coalesce(F.col("cluster_id"), F.col(id_col)) == F.col(id_col)
        ).alias("is_keeper"),
    )


def sql_semdedup_components(
    k: int = 8, iterations: int = 2, tau: float = 0.45
) -> str:
    """DuckDB oracle: the semdedup CTE chain plus a recursive-CTE
    closure over the dup-pair graph (the q_dup_clusters pattern)."""
    return f"""
    WITH RECURSIVE {sql_semdedup_ctes(k, iterations, tau)},
    edges AS (
      SELECT d1 AS a, d2 AS b FROM dpairs
      UNION
      SELECT d2, d1 FROM dpairs
    ), reach AS (
      SELECT a AS node, a AS r FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b
    ), comp AS (
      SELECT node AS vec_id, min(r) AS cluster_id FROM reach GROUP BY node
    )
    SELECT m.vec_id, m.cid,
           coalesce(comp.cluster_id, m.vec_id) AS cluster_id,
           (coalesce(comp.cluster_id, m.vec_id) = m.vec_id) AS is_keeper
    FROM m LEFT JOIN comp USING (vec_id)
    """


# ---------------------------------------------------------------------------
# Two-level (hierarchical) SemDeDup — the skew mitigation
# ---------------------------------------------------------------------------
def semdedup_two_level(
    emb: DataFrame,
    k: int = 4,
    k2: int = 4,
    iterations: int = 2,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with hierarchical clustering: a top-level k-means
    splits the corpus, then EVERY top-level cluster trains its own
    k2-means over its members — the pair stage runs within (cid,
    sub_cid) cells, so the quadratic term is bounded by the largest
    SUB-cluster even when the top level is skewed (a giant top
    cluster gets k2-way split instead of a quadratic blowup). This is
    the documented skew mitigation made concrete; the trade is dup
    recall at sub-cluster boundaries, same as raising k.

    Output: (id, cid, sub_cid, is_dup) — pairwise lowest-id rule
    within cells.

    Scale (VERDICT r07 #3 — de-serialized): the k sub-trainings run
    as ONE grouped training (``kmeans_fit_grouped``: CASE-dispatched
    assignment keyed by cid, the per-subspace PQ batching trick), so
    the driver pays ``iterations + 1`` job waves TOTAL regardless of
    k — the sequential ``for cid in range(k): kmeans_fit`` loop this
    replaces (kept as ``semdedup_two_level_loop``, bit-identity
    pinned in tests/test_curation.py) paid k training waves plus a
    ``limit(1).count()`` probe each. Pair joins key on
    (cid, sub_cid); driver state is k*k2*dim centroid cells.
    """
    from huckli_spark.operators.clustering import (
        kmeans_assign_grouped,
        kmeans_fit_grouped,
    )

    cents = kmeans_fit(emb, k, iterations, id_col, vec_col)
    assign = kmeans_assign(emb, cents, id_col, vec_col)
    membered = assign.join(
        emb.select(F.col(id_col), F.col(vec_col)), id_col
    )
    sub_cents = kmeans_fit_grouped(
        membered, k2, iterations, id_col, vec_col, group_col="cid"
    )
    full = kmeans_assign_grouped(
        membered, sub_cents, id_col, vec_col, group_col="cid",
        out_col="sub_cid",
    )
    # pair stage within (cid, sub_cid) cells — norms hoisted per
    # vector (bit-identical sim, see _cluster_dup_pairs)
    v = emb.select(F.col(id_col), F.col(vec_col))
    m2 = full.join(v, id_col).select(
        F.col(id_col), "cid", "sub_cid", F.col(vec_col),
        l2_norm(vec_col).alias("__nrm"),
    )
    a = m2.select(
        F.col(id_col).alias("__ida"), "cid", "sub_cid",
        F.col(vec_col).alias("__ea"), F.col("__nrm").alias("__na"),
    )
    b = m2.select(
        F.col(id_col).alias("__idb"), "cid", "sub_cid",
        F.col(vec_col).alias("__eb"), F.col("__nrm").alias("__nb"),
    )
    sim = fround(
        dot("__ea", "__eb") / (F.col("__na") * F.col("__nb")), 6
    )
    dups = (
        a.join(b, ["cid", "sub_cid"])
        .where((F.col("__ida") < F.col("__idb")) & (sim >= F.lit(tau)))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return full.join(dups, id_col, "left").select(
        F.col(id_col),
        "cid",
        "sub_cid",
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
    )


def semdedup_two_level_loop(
    emb: DataFrame,
    k: int = 4,
    k2: int = 4,
    iterations: int = 2,
    tau: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ORIGINAL sequential formulation — one ``kmeans_fit`` per
    top-level cluster in a driver loop. Kept solely as the
    bit-identity reference for ``semdedup_two_level``'s grouped
    trainer (tests/test_curation.py pins equality); do not call it in
    production paths: at k in the hundreds it serializes k training
    waves where the grouped form pays iterations+1 total."""
    cents = kmeans_fit(emb, k, iterations, id_col, vec_col)
    assign = kmeans_assign(emb, cents, id_col, vec_col)
    membered = assign.join(
        emb.select(F.col(id_col), F.col(vec_col)), id_col
    )
    subs = []
    for cid in range(k):
        members = membered.where(F.col("cid") == cid).select(
            F.col(id_col), F.col(vec_col)
        )
        if members.limit(1).count() == 0:
            continue
        sub_cents = kmeans_fit(members, k2, iterations, id_col, vec_col)
        sub_assign = kmeans_assign(members, sub_cents, id_col, vec_col)
        subs.append(
            sub_assign.select(
                F.col(id_col),
                F.lit(cid).cast("int").alias("__topcid"),
                F.col("cid").cast("int").alias("sub_cid"),
            )
        )
    full = subs[0]
    for s_ in subs[1:]:
        full = full.unionByName(s_)
    full = full.withColumnRenamed("__topcid", "cid")
    v = emb.select(F.col(id_col), F.col(vec_col))
    m2 = full.join(v, id_col)
    a = m2.select(
        F.col(id_col).alias("__ida"), "cid", "sub_cid",
        F.col(vec_col).alias("__ea"),
    )
    b = m2.select(
        F.col(id_col).alias("__idb"), "cid", "sub_cid",
        F.col(vec_col).alias("__eb"),
    )
    sim = fround(cosine("__ea", "__eb"), 6)
    dups = (
        a.join(b, ["cid", "sub_cid"])
        .where((F.col("__ida") < F.col("__idb")) & (sim >= F.lit(tau)))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return full.join(dups, id_col, "left").select(
        F.col(id_col),
        "cid",
        "sub_cid",
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
    )


def sql_semdedup_two_level(
    k: int = 4, k2: int = 4, iterations: int = 2, tau: float = 0.45
) -> str:
    """DuckDB oracle: top-level chain + one sub-chain per top cluster
    (the per-subspace PQ oracle pattern), pair scan within cells."""
    from huckli_spark.functions.portable import sql_fround
    from huckli_spark.operators.clustering import (
        sql_kmeans_chain,
        sql_kmeans_vm_cte,
    )

    last = f"c{iterations}"
    cos = (
        "list_dot_product(a.e, b.e)"
        " / (sqrt(list_dot_product(a.e, a.e))"
        " * sqrt(list_dot_product(b.e, b.e)))"
    )
    parts = [
        sql_kmeans_vm_cte(),
        sql_kmeans_chain(k, iterations),
        f"""fd AS (
          SELECT vm.vec_id, {last}.cid,
                 sum((vm.val - {last}.c) * (vm.val - {last}.c)) AS d
          FROM vm JOIN {last} ON {last}.dim = vm.dim GROUP BY 1, 2
        ), fa AS MATERIALIZED (
          SELECT vec_id, CAST(min(cid) AS INT) AS cid FROM (
            SELECT vec_id, cid, d, min(d) OVER (PARTITION BY vec_id) AS md
            FROM fd
          ) WHERE d = md GROUP BY vec_id
        )""",
    ]
    for cid in range(k):
        p = f"s{cid}_"
        parts.append(
            f"""{p}vm AS MATERIALIZED (
              SELECT vm.* FROM vm JOIN fa USING (vec_id)
              WHERE fa.cid = {cid}
            )"""
        )
        parts.append(sql_kmeans_chain(k2, iterations, p, f"{p}vm"))
        parts.append(
            f"""{p}fd AS (
              SELECT {p}vm.vec_id, {p}{last}.cid,
                     sum(({p}vm.val - {p}{last}.c)
                         * ({p}vm.val - {p}{last}.c)) AS d
              FROM {p}vm JOIN {p}{last} ON {p}{last}.dim = {p}vm.dim
              GROUP BY 1, 2
            ), {p}fa AS (
              SELECT vec_id, CAST(min(cid) AS INT) AS sub_cid FROM (
                SELECT vec_id, cid, d,
                       min(d) OVER (PARTITION BY vec_id) AS md
                FROM {p}fd
              ) WHERE d = md GROUP BY vec_id
            )"""
        )
    union = " UNION ALL ".join(
        f"SELECT vec_id, {cid} AS cid, sub_cid FROM s{cid}_fa"
        for cid in range(k)
    )
    parts.append(f"full2 AS ({union})")
    parts.append(
        """v AS (
          SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        ), m2 AS (
          SELECT full2.vec_id, full2.cid, full2.sub_cid, v.e
          FROM full2 JOIN v USING (vec_id)
        )"""
    )
    return f"""
    WITH {','.join(parts)},
    dups2 AS (
      SELECT DISTINCT b.vec_id
      FROM m2 a JOIN m2 b
        ON a.cid = b.cid AND a.sub_cid = b.sub_cid
       AND a.vec_id < b.vec_id
      WHERE {sql_fround(cos, 6)} >= {tau}
    )
    SELECT m2.vec_id, CAST(m2.cid AS INT) AS cid, m2.sub_cid,
           (m2.vec_id IN (SELECT vec_id FROM dups2)) AS is_dup
    FROM m2
    """


# ---------------------------------------------------------------------------
# Contrastive triplet mining (round 8; extracted round 9 for the
# scale probe — q_training_triplets delegates here with k=8)
# ---------------------------------------------------------------------------
def _triplet_picks_arrow(
    tau_micro: int, id_col: str, vec_col: str, max_block_cells: int
):
    """Per-cluster triplet kernel for ``applyInPandas`` — the guide
    §4.2 shape: Spark distributes and shuffles on ``cid``; NumPy does
    the within-cluster pairwise arithmetic on whole batches.

    Bit-identity with the relational form is BY CONSTRUCTION, not
    approximation: the pair similarity accumulates per DIMENSION in a
    vectorized left-fold (``acc += a[j] * b[j]`` over j), which is the
    exact IEEE op chain of the SQL ``aggregate(zip_with(...), 0.0,
    (acc, v) -> acc + v)`` fold — float32 -> float64 casts are exact,
    every product/add/sqrt/divide/floor is one correctly-rounded
    IEEE-754 double op in the same order on both runtimes (pinned
    against the SQL form in tests). Rows with NULL embeddings and
    cross-length pairs produce NULL similarity in the SQL form (the
    fold sees a NULL element) and are likewise excluded here by
    grouping on embedding length. Anchors process in blocks of at most
    ``max_block_cells`` similarity cells, so task memory is
    O(block x cluster), never O(cluster^2), at any cluster size."""
    import numpy as np
    import pandas as pd

    out_cols = [
        "anchor", "positive", "negative", "pos_sim_micro", "neg_sim_micro"
    ]

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        rows: list[tuple] = []
        ok = pdf[pdf[vec_col].notna()]
        lens = ok[vec_col].map(len)
        for _, grp in ok.groupby(lens):
            ids = grp[id_col].to_numpy(dtype=np.int64)
            m = len(ids)
            if m < 2:
                continue
            E = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
            dim = E.shape[1]
            # norms: the same per-dim left fold as l2_norm's dot(a, a)
            n2 = np.zeros(m)
            for j in range(dim):
                n2 += E[:, j] * E[:, j]
            nrm = np.sqrt(n2)
            bs = max(1, max_block_cells // m)
            for lo in range(0, m, bs):
                hi = min(lo + bs, m)
                S = np.zeros((hi - lo, m))
                for j in range(dim):
                    S += E[lo:hi, j][:, None] * E[:, j][None, :]
                cos = S / (nrm[lo:hi, None] * nrm[None, :])
                simf = np.floor(cos * 1000000.0 + 0.5)
                finite = np.isfinite(simf)
                sim = np.where(finite, simf, 0.0).astype(np.int64)
                for bi in range(hi - lo):
                    v = finite[bi].copy()
                    v[lo + bi] = False  # anchor != other
                    srow = sim[bi]
                    pos = v & (srow >= tau_micro)
                    if not pos.any():
                        continue
                    neg = v & (srow < tau_micro)
                    if not neg.any():
                        continue
                    ps = srow[pos].max()
                    ns = srow[neg].max()
                    rows.append((
                        ids[lo + bi],
                        ids[pos & (srow == ps)].min(),
                        ids[neg & (srow == ns)].min(),
                        ps,
                        ns,
                    ))
        return pd.DataFrame(rows, columns=out_cols, dtype=np.int64)

    return fn


def mine_triplets(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    tau_micro: int = 450_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_form: str = "arrow",
    max_block_cells: int = 1 << 22,
) -> DataFrame:
    """(anchor, positive, negative, pos_sim_micro, neg_sim_micro):
    within each k-means cluster, every anchor that has a semantic
    near-dup (sim >= tau) pairs its highest-cosine duplicate as the
    POSITIVE and its highest-cosine same-cluster non-duplicate as the
    hard NEGATIVE. Perf shape (round-8 rewrite, hash-identical to the
    windowed form): per-vector L2 norms are computed ONCE and carried
    into the pair join (1 O(d) fold per pair, not 3 — cos is the same
    double ops in the same order as simsearch.cosine, so every
    sim_micro is bit-identical), and both rank-1 picks collapse into
    ONE groupBy(anchor) with conditional struct-max aggregates —
    max(struct(sim_micro, -other)) IS "order by sim desc, id asc" —
    so the O(n*cluster) pair relation is evaluated once and reduced
    map-side instead of twice window-sorted and self-joined. Scale:
    pairs key on cid only (cluster-bounded, the SemDeDup discipline —
    scale k with the corpus to hold cluster geometry constant; probed
    in SCALE_PROBE_triplets.json), output is O(n).

    ``pair_form='arrow'`` (default, r13) runs the within-cluster pair
    scan as a per-cluster NumPy kernel (``applyInPandas`` keyed on
    cid): the 500k-pair interpreted HOF fold becomes one vectorized
    per-dim fold with the identical IEEE op order (see
    ``_triplet_picks_arrow``), the corpus ships ONCE per side instead
    of exploding into the O(n x cluster) pair relation, and no
    persist/scratch boundary is needed at all — measured 7.2 -> ~2 s
    at sf0.1, hash-identical output. ``'sql'`` is kept only as the
    relational reference the Arrow kernel is tested against; it
    returns its plan lazily (no persist, so each self-join side
    re-runs the assignment). Both need numeric ids (the struct-max
    trick negates ids)."""
    from huckli_spark.operators.clustering import kmeans_assign, kmeans_fit
    from huckli_spark.operators.simsearch import dot, l2_norm

    cents = kmeans_fit(emb, k=k, iterations=iterations,
                       id_col=id_col, vec_col=vec_col)
    if pair_form == "arrow":
        members = kmeans_assign(
            emb, cents, id_col=id_col, vec_col=vec_col
        ).join(emb.select(F.col(id_col), F.col(vec_col)), id_col)
        return members.groupBy("cid").applyInPandas(
            _triplet_picks_arrow(tau_micro, id_col, vec_col,
                                 max_block_cells),
            schema=(
                "anchor long, positive long, negative long, "
                "pos_sim_micro long, neg_sim_micro long"
            ),
        )
    m = kmeans_assign(emb, cents, id_col=id_col, vec_col=vec_col).join(
        emb.select(F.col(id_col), F.col(vec_col)), id_col
    ).select(
        F.col(id_col), "cid", F.col(vec_col),
        l2_norm(vec_col).alias("nrm"),
    )
    a = m.select(
        F.col(id_col).alias("anchor"), "cid",
        F.col(vec_col).alias("__ea"), F.col("nrm").alias("__na"),
    )
    b = m.select(
        F.col(id_col).alias("other"), "cid",
        F.col(vec_col).alias("__eb"), F.col("nrm").alias("__nb"),
    )
    cos = dot("__ea", "__eb") / (F.col("__na") * F.col("__nb"))
    sim = F.floor(cos * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    pairs = (
        a.join(b, "cid")
        .where(F.col("anchor") != F.col("other"))
        .select("anchor", "other", sim.alias("sim_micro"))
    )
    is_pos = F.col("sim_micro") >= F.lit(tau_micro)
    pick = lambda cond: F.max(  # noqa: E731 — rank-1 under (sim desc, id asc)
        F.when(cond, F.struct(F.col("sim_micro"), (-F.col("other")).alias("no")))
    )
    best = pairs.groupBy("anchor").agg(
        pick(is_pos).alias("p"), pick(~is_pos).alias("n")
    )
    return best.where(
        F.col("p").isNotNull() & F.col("n").isNotNull()
    ).select(
        "anchor",
        (-F.col("p.no")).alias("positive"),
        (-F.col("n.no")).alias("negative"),
        F.col("p.sim_micro").alias("pos_sim_micro"),
        F.col("n.sim_micro").alias("neg_sim_micro"),
    )
