"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline; ``lsh_assign`` gives the
scale path (random-hyperplane signatures → candidate buckets). Dot
products run as JVM higher-order functions (zip_with + aggregate in
DOUBLE, sequential left-fold) — deterministic and identical to the
DuckDB oracle's list_dot_product accumulation; no Python in the loop.

Scale design (100 TB corpus, millions of queries):
- queries are broadcast; the corpus side never shuffles for the join.
- top-k uses a window per query id over the candidate set; for huge
  query sets switch to the two-phase per-partition heap variant.
- LSH signatures are computed map-side from deterministic
  md5-seeded hyperplanes; bucket join replaces the cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from huckli_spark.functions import vecfold
from huckli_spark.functions.portable import fround
from huckli_spark.operators.cache import eager_unless_scoped
from huckli_spark.operators.parallel import fan_out


def _as_double(col) -> Column:
    return F.expr(f"transform({col}, x -> cast(x AS double))")


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product in double precision, emitted as
    the fold text of vecfold.sql_dot."""
    return F.expr(vecfold.sql_dot(a, b))


def l2_norm(a: str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: str, b: str) -> Column:
    # dot / (|a| * |b|) — mirrored exactly by the SQL oracle
    # (list_dot_product / (sqrt * sqrt)); keep the operand shape in sync.
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cos_sim, rank); rank is computed on
    the portably-rounded similarity with neighbor-id tiebreak, so
    ordering is deterministic across engines.
    """
    # per-vector norms computed ONCE per side (bit-identical sims:
    # dot/(nq*nn) is the same double ops in the same order as cosine)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        l2_norm(vec_col).alias("__nq"),
    )
    # fan_out: |corpus| x |queries| dot products must not run in one
    # task when the corpus arrives as a single row group
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__nv"),
            l2_norm(vec_col).alias("__nn"),
        )
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            fround(
                dot("__qv", "__nv") / (F.col("__nq") * F.col("__nn")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def maxsim_topk(
    members: DataFrame,
    tokens: DataFrame,
    k: int = 5,
    doc_col: str = "doc_id",
    query_col: str = "query_id",
    token_col: str = "token_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LATE-INTERACTION (ColBERT-style MaxSim) retrieval, exact
    baseline: documents and queries are BAGS of vectors; score(q, d)
    = sum over q's tokens of the max cosine against any of d's member
    vectors (Khattab & Zaharia 2020, arXiv:2004.12832). Returns
    (query_id, doc_id, score_micro, rank) — per-token maxes are
    portably rounded then lifted to micro-integers BEFORE the sum, so
    the score is an exact integer (order-free addition, bit-identical
    across engines and partitionings).

    Plan shape: query tokens broadcast (query bags are small); the
    corpus-member relation fans out and is scanned ONCE; two
    map-side-combined groupBys (max per (query, token, doc), then sum
    per (query, doc)) and a per-query top-k window. The scale path
    composes with the frozen IVF store — per-token ANN shortlists
    then the same regroup — exactly how PLAID serves this."""
    q = tokens.select(
        F.col(query_col).alias("query_id"),
        F.col(token_col).alias("token_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(vec_col).alias("__nq"),
    )
    c = fan_out(
        members.select(
            F.col(doc_col).alias("doc_id"),
            F.col(vec_col).alias("__nv"),
            l2_norm(vec_col).alias("__nn"),
        )
    )
    return _maxsim_regroup(c.crossJoin(F.broadcast(q)), k)


def _maxsim_regroup(pairs: DataFrame, k: int) -> DataFrame:
    """The shared MaxSim tail: (token, member) candidate pairs →
    per-token max cosine → micro-int lift → order-free integer sum →
    per-query top-k. ``pairs`` carries (query_id, token_id, doc_id,
    __qv, __nq, __nv, __nn); both the exact path (all pairs) and the
    IVF serving path (shortlisted pairs) regroup through here, so the
    rerank arithmetic is one implementation."""
    per_token = (
        pairs.select(
            "query_id",
            "token_id",
            "doc_id",
            fround(
                dot("__qv", "__nv") / (F.col("__nq") * F.col("__nn")), 6
            ).alias("cs"),
        )
        .groupBy("query_id", "token_id", "doc_id")
        .agg(
            F.floor(F.max("cs") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("m")
        )
    )
    score = per_token.groupBy("query_id", "doc_id").agg(
        F.sum("m").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        score.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_micro", "rank")
    )


def maxsim_regroup_scored(scored: DataFrame, k: int = 5) -> DataFrame:
    """The MaxSim regroup over STAGE-ONE scored pairs — rows already
    carrying the per-(token, candidate member) micro-integer cosine
    (query_id, token_id, doc_id, cos_micro), as the streaming serving
    tier emits them (maxsim_stream_scored). Per-token max commutes
    with the micro lift (floor of a monotone map), so this is the same
    arithmetic as :func:`_maxsim_regroup`, picked up after the lift:
    per-token max -> order-free integer sum -> per-query top-k.
    Returns (query_id, doc_id, score_micro, rank).

    This is the foreachBatch sink composition for the streaming path:
    a query's tokens all arrive in the SAME request micro-batch (a
    query never spans batches), so the per-batch regroup is exact per
    query — the cross-row state lives in the batch plan, zero
    streaming state."""
    per_token = scored.groupBy("query_id", "token_id", "doc_id").agg(
        F.max("cos_micro").alias("m")
    )
    score = per_token.groupBy("query_id", "doc_id").agg(
        F.sum("m").alias("score_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        score.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_micro", "rank")
    )


def maxsim_topk_ivf(
    members: DataFrame,
    tokens: DataFrame,
    centroids: "list[tuple[int, list[float]]]",
    posting: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    max_candidates: "int | None" = None,
    doc_col: str = "doc_id",
    query_col: str = "query_id",
    token_col: str = "token_id",
    vec_col: str = "embedding",
    member_id_col: str = "vec_id",
) -> DataFrame:
    """MaxSim at PRODUCTION shape (the PLAID serving form, Santhanam
    et al. 2022): per-token ANN shortlists from a FROZEN IVF store,
    then the exact MaxSim regroup over only the shortlisted documents.

    * each query token probes its ``nprobe`` nearest coarse cells
      (map-only against the broadcast-sized frozen quantizer);
    * the candidate set is every document with ANY member vector in
      ANY probed cell of ANY of the query's tokens (posting equi-join
      on cid against the broadcast probe list — never a cross
      product, never a corpus broadcast);
    * the exact rerank (:func:`_maxsim_regroup` — the same integer
      arithmetic as :func:`maxsim_topk`) runs on shortlist-sized
      pairs only.

    With ``nprobe`` = number of centroids the shortlist is the whole
    corpus and the result is bit-identical to the exact path (the
    equivalence unit tests pin this); smaller nprobe trades recall
    for a corpus-fraction scan, the IVF contract.

    ``posting`` is the store's frozen (member_id, cid) assignment —
    pass the relation loaded from ``ann_index`` so serving matches
    what the index was built with, not a recomputed assignment. If it
    ALSO carries ``doc_col`` (store the doc key at index-build time —
    the production layout), candidate generation becomes a pure
    map-side scan of the posting store against the broadcast probe
    list: the member relation is never joined for candidates and is
    scanned exactly once, for the rerank. Without it, a member->doc
    lookup join runs first (fixture convenience, one extra
    corpus-sized equi-join).

    ``max_candidates`` is the PLAID per-query candidate budget
    (ndocs): rank candidate docs by stage-one CENTROID EVIDENCE — for
    each query token, the best probed-cell centroid cosine among the
    cells holding that doc's members (the centroid score is the
    stage-one bound PLAID ranks by), summed over tokens in exact
    micro-integers — then rerank only the top-C per query (evidence
    DESC, doc ASC, deterministic). Raw hit COUNTS tie badly on
    clustered corpora (every member of a doc lands in one cell, so
    most candidates count the same and the doc-id tiebreak decides —
    measured recall@5 0.8 at budget 320 on the 10x probe vs 1.0 for
    centroid evidence, SCALE_PROBE_maxsim_serve.json). The budget is
    what makes the candidate set BOUNDED at any corpus size, which in
    turn justifies broadcasting it into the rerank join (the corpus
    never shuffles on the doc key). ``None`` reranks every
    probed-cell doc (exact-within-probes; fine when cells are small).
    """
    tok_bag = tokens.select(
        F.col(query_col).alias("query_id"),
        F.col(token_col).alias("token_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(vec_col).alias("__nq"),
    )
    # per-token probes with the rounded centroid cosine lifted to
    # micro-ints (order-free integer evidence sums) -> tiny relation
    probe_scored = (
        ivf_assign(tokens, centroids, id_col=token_col, vec_col=vec_col,
                   nprobe=nprobe, with_sim=True)
        .select(
            F.col(token_col).alias("token_id"),
            "cid",
            F.floor(F.col("sim") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("__s"),
        )
        .join(
            F.broadcast(
                tokens.select(
                    F.col(token_col).alias("token_id"),
                    F.col(query_col).alias("query_id"),
                )
            ),
            "token_id",
        )
    )
    probe_cells = probe_scored.select("query_id", "cid").distinct()
    mem = fan_out(
        members.select(
            F.col(doc_col).alias("doc_id"),
            F.col(member_id_col).alias("__mid"),
            F.col(vec_col).alias("__nv"),
            l2_norm(vec_col).alias("__nn"),
        )
    )
    if doc_col in posting.columns:
        # production layout: the store maps member -> (cid, doc), so
        # candidates come from ONE map-side scan of the posting store
        member_cells = posting.select(
            F.col(doc_col).alias("doc_id"), "cid"
        )
    else:
        member_cells = mem.join(
            posting.select(F.col(member_id_col).alias("__mid"), "cid"),
            "__mid",
        )
    if max_candidates is None:
        hits = member_cells.join(F.broadcast(probe_cells), "cid")
        cand = hits.select("query_id", "doc_id").distinct()
    else:
        # stage-one evidence: per (query, token, doc) the BEST probed
        # centroid cosine among cells holding the doc's members, then
        # the exact integer sum over tokens — two map-side-combined
        # groupBys over hit-sized rows, never corpus-sized state
        ev = (
            member_cells.join(F.broadcast(probe_scored), "cid")
            .groupBy("query_id", "token_id", "doc_id")
            .agg(F.max("__s").alias("__ev"))
        )
        w_cap = Window.partitionBy("query_id").orderBy(
            F.desc("__evsum"), F.asc("doc_id")
        )
        cand = (
            ev.groupBy("query_id", "doc_id")
            .agg(F.sum("__ev").alias("__evsum"))
            .withColumn("__r", F.row_number().over(w_cap))
            .where(F.col("__r") <= max_candidates)
            .select("query_id", "doc_id")
        )
    # shortlist-sized rerank: every member vector of a candidate doc
    # against the query's full token bag. The broadcast hint is only
    # justified when the PLAID budget bounds cand at queries x C rows
    # (ADVICE r11 #3); the uncapped arm is queries x all probed-cell
    # docs — a corpus fraction — so it takes a plain equi-join and
    # lets AQE broadcast only if the runtime size allows.
    cand_side = F.broadcast(cand) if max_candidates is not None else cand
    pairs = mem.join(cand_side, "doc_id").join(
        F.broadcast(tok_bag), "query_id"
    )
    return _maxsim_regroup(pairs, k)


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """All pairs (d1 < d2) with cosine >= threshold — the exact
    embedding near-dup baseline. O(n²): use ``lsh_assign`` buckets to
    prefilter at scale."""
    a = fan_out(df.select(
        F.col(id_col).alias("d1"), F.col(vec_col).alias("__a"),
        l2_norm(vec_col).alias("__na"),
    ))
    b = df.select(
        F.col(id_col).alias("d2"), F.col(vec_col).alias("__b"),
        l2_norm(vec_col).alias("__nb"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("d1") < F.col("d2"))
        .withColumn(
            "cos_sim",
            fround(dot("__a", "__b") / (F.col("__na") * F.col("__nb")), 6),
        )
        .where(F.col("cos_sim") >= threshold)
        .select("d1", "d2", "cos_sim")
    )


def lsh_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
    seed: str = "huckli",
) -> DataFrame:
    """Random-hyperplane LSH signature per vector (deterministic:
    plane components derive from md5(seed, plane, coord), mapped to
    [-1, 1]). Vectors with equal signatures are near-dup candidates;
    join on ``bucket`` replaces the O(n²) cross product."""
    planes = [
        [_md5_unit(seed, p, i) for i in range(dim)] for p in range(n_planes)
    ]
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        d = F.expr(vecfold.sql_dot_lit(vec_col, plane))
        sig = sig + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return df.select(F.col(id_col), F.col(vec_col), sig.alias("bucket"))


def _md5_unit(seed: str, plane: int, coord: int) -> float:
    """Deterministic pseudo-random value in [-1, 1] from md5."""
    import hashlib

    h = hashlib.md5(f"{seed}:{plane}:{coord}".encode()).hexdigest()
    return int(h[:15], 16) / float(16**15) * 2.0 - 1.0


# Banded near-dup parameters — mirrored verbatim in the SQL oracle
# (queries/embeddings.py::q_dedup_embed_lsh). Bands trade recall for
# candidate volume: P(candidate) = 1 - (1 - p^planes)^bands with
# p = 1 - angle/pi. Production configs at tighter thresholds use more
# bands (e.g. 16 x 8); the composition below is parameter-agnostic.
LSH_PAIR_BANDS = 4
LSH_PAIR_PLANES_PER_BAND = 6


def lsh_band_sigs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = LSH_PAIR_BANDS,
    planes_per_band: int = LSH_PAIR_PLANES_PER_BAND,
    dim: int = 64,
    seed: str = "huckli",
) -> DataFrame:
    """(id, bs0..bs{B-1}) — one small-int signature per band, each from
    ``planes_per_band`` deterministic md5-seeded hyperplanes (global
    plane index = band * planes_per_band + j). Pure map stage: every
    dot product is a JVM fold inside the row — zero shuffle."""
    cols = []
    for band in range(n_bands):
        terms = []
        for j in range(planes_per_band):
            p = band * planes_per_band + j
            plane = [_md5_unit(seed, p, i) for i in range(dim)]
            d = vecfold.sql_dot_lit(vec_col, plane)
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END)")
        cols.append(F.expr(" + ".join(terms)).cast("long").alias(f"bs{band}"))
    return df.select(F.col(id_col), *cols)


@eager_unless_scoped
def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_bands: int = LSH_PAIR_BANDS,
    planes_per_band: int = LSH_PAIR_PLANES_PER_BAND,
    dim: int = 64,
    seed: str = "huckli",
    scope=None,
) -> DataFrame:
    """Scale path for :func:`cosine_pairs`: banded random-hyperplane
    LSH candidates, then exact cosine verification restricted to the
    candidate pairs. Returns (d1, d2, cos_sim) with d1 < d2 and
    cos_sim >= threshold — the composition VERDICT r02 asked to gate.

    Scale shape (100 TB): signatures are map-side; the candidate join
    shuffles O(#vecs x #bands) 8-byte sigs (never the vectors); a pair
    sharing k bands is emitted once via the first-matching-band column
    filter (same trick as minhash/simhash banding — no distinct()
    shuffle); exact cosine runs only on candidates, with the two
    vector lookups joining a candidate set that is ≪ corpus.
    Approximate by design: recall follows the banding probability
    (see LSH_PAIR_BANDS note); the oracle re-derives identical planes
    so the probabilistic structure itself is hash-gated.
    Cache lifecycle as in operators.cache: both self-join sides read
    the signature relation, so it is persisted through ``scope`` (eager
    unless the caller passes one).
    """
    sig = scope.persist(
        lsh_band_sigs(df, id_col, vec_col, n_bands, planes_per_band, dim, seed)
    )
    entries = [
        F.struct(F.lit(b).alias("band"), F.col(f"bs{b}").alias("band_sig"))
        for b in range(n_bands)
    ]
    bands = sig.select(
        F.col(id_col),
        *[F.col(f"bs{b}") for b in range(n_bands)],
        F.explode(F.array(*entries)).alias("b"),
    ).select(id_col, "b.band", "b.band_sig", *[f"bs{b}" for b in range(n_bands)])
    a = bands.select(
        F.col(id_col).alias("d1"),
        "band",
        "band_sig",
        *[F.col(f"bs{i}") for i in range(n_bands)],
    )
    b_side = bands.select(
        F.col(id_col).alias("d2"),
        F.col("band"),
        F.col("band_sig"),
        *[F.col(f"bs{i}").alias(f"_b{i}") for i in range(n_bands)],
    )
    fm = F.when(F.col("bs0") == F.col("_b0"), F.lit(0))
    for i in range(1, n_bands - 1):
        fm = fm.when(F.col(f"bs{i}") == F.col(f"_b{i}"), F.lit(i))
    first_match = F.col("band") == fm.otherwise(F.lit(n_bands - 1))
    cand = (
        a.join(b_side, ["band", "band_sig"])
        .where(F.col("d1") < F.col("d2"))
        .where(first_match)
        .select("d1", "d2")
    )
    v1 = df.select(
        F.col(id_col).alias("d1"), F.col(vec_col).alias("__a"),
        l2_norm(vec_col).alias("__na"),
    )
    v2 = df.select(
        F.col(id_col).alias("d2"), F.col(vec_col).alias("__b"),
        l2_norm(vec_col).alias("__nb"),
    )
    return (
        cand.join(v1, "d1")
        .join(v2, "d2")
        .withColumn(
            "cos_sim",
            fround(dot("__a", "__b") / (F.col("__na") * F.col("__nb")), 6),
        )
        .where(F.col("cos_sim") >= threshold)
        .select("d1", "d2", "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) partitioned search
# ---------------------------------------------------------------------------
# Coarse quantizer -> per-cluster posting lists -> probe nprobe nearest
# clusters per query -> exact rank within the probed candidates. The
# classic ANN scale structure: the corpus is range-partitioned by
# cluster id, a query touches nprobe/k of the data instead of all of
# it, and the per-cluster scan is an equi-join on cid (no cross
# product). Centroids here are deterministic seed vectors (lowest ids)
# so the SQL oracle re-derives the identical structure; production
# swaps in k-means centroids — every downstream step is unchanged.


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_centroids`` vectors with
    the lowest ids. The bounded driver-side collect (k rows) is the
    same pattern as broadcasting k-means centroids. Assumes ids
    0..n-1 exist (fixture convention); pass kmeans-trained centroids
    to ``ivf_topk(centroids=...)`` for arbitrary corpora."""
    rows = (
        df.where(F.col(id_col) < n_centroids)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _centroid_sim_entries(
    vec_col: str, norm_col: str, centroids: list[tuple[int, list[float]]]
) -> str:
    """SQL array<struct<sim,cid>> of portably-rounded cosine sims to
    each centroid. Centroid values and norms are baked in as literals
    (centroid side never shuffles, never even joins); the row's own
    norm is computed once and shared by all k dot-product folds."""
    import math

    entries = []
    for cid, vec in centroids:
        cnorm = math.sqrt(sum(v * v for v in vec))
        dot_e = vecfold.sql_dot_lit(vec_col, vec)
        sim = f"({dot_e} / ({norm_col} * cast({cnorm!r} AS double)))"
        rounded = f"cast(floor({sim} * 1000000.0 + 0.5) / 1000000.0 AS double)"
        entries.append(f"named_struct('sim', {rounded}, 'cid', {cid})")
    # sort best-first: sim DESC, cid ASC (rounded sims make the
    # comparator engine-portable)
    return (
        "array_sort(array(" + ", ".join(entries) + "),"
        " (l, r) -> CASE WHEN l.sim > r.sim THEN -1"
        " WHEN l.sim < r.sim THEN 1"
        " WHEN l.cid < r.cid THEN -1 ELSE 1 END)"
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    with_sim: bool = False,
) -> DataFrame:
    """(id, vec, cid) with each vector's ``nprobe`` nearest clusters
    (nprobe=1 = storage assignment). Pure map stage: all k sims are
    array expressions inside the row — zero shuffle at any scale.

    ``with_sim`` adds the portably-rounded centroid cosine as ``sim``
    — the stage-one evidence PLAID ranks candidates by (the probe's
    centroid score bounds the token's true max cosine against any
    member stored in that cell)."""
    with_norm = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("__norm")
    )
    sims = _centroid_sim_entries(vec_col, "__norm", centroids)
    out = with_norm.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(F.expr(f"slice({sims}, 1, {nprobe})")).alias("__c"),
    )
    cols = [F.col(id_col), F.col(vec_col), F.col("__c.cid").alias("cid")]
    if with_sim:
        cols.append(F.col("__c.sim").alias("sim"))
    return out.select(*cols)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    centroids: "list[tuple[int, list[float]]] | None" = None,
) -> DataFrame:
    """IVF search: exact cosine top-k within the ``nprobe`` probed
    clusters per query. Returns (query_id, neighbor_id, cos_sim, rank).

    Scale shape: corpus assignment is map-only; the probe join is an
    equi-join on cid (queries broadcast); each query scans ~nprobe/k
    of the corpus instead of all of it.
    """
    # pass trained centroids (e.g. clustering.kmeans_fit scaled to
    # floats) to upgrade the sampled coarse quantizer in place
    cents = (centroids if centroids is not None
             else ivf_centroids(corpus, n_centroids, id_col, vec_col))
    posting = ivf_assign(corpus, cents, id_col, vec_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"),
        l2_norm(vec_col).alias("__nn"), "cid",
    )
    probes = ivf_assign(queries, cents, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        l2_norm(vec_col).alias("__nq"), "cid",
    )
    # norms per vector, not per candidate (bit-identical sims)
    sims = (
        posting.join(F.broadcast(probes), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            fround(
                dot("__qv", "__nv") / (F.col("__nq") * F.col("__nn")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): code-based vector compression + ADC search
# ---------------------------------------------------------------------------
# 64-dim embeddings -> PQ_M=8 subspaces x PQ_CODES=16 codes: each vector
# stores 8 x 4-bit codes packed into ONE BIGINT (4 bytes vs 256 bytes of
# float32 — the classic 64x memory cut that makes billion-vector indexes
# fit in RAM). Codebooks follow the ivf_centroids convention: the
# subvectors of the lowest-id vectors form the sampled codebook
# (deterministic; production swaps in k-means-trained codebooks, the
# encode/search arithmetic is unchanged).
#
# Portability: per-(subspace, code) squared distances round to micro
# units (BIGINT); argmin ties break on code id; reconstruction error and
# ADC distances are SUMS OF INTEGERS in explicit order — bit-identical
# on any engine/partitioning, like the PageRank fixed-point discipline.
PQ_M = 8
PQ_CODES = 16


def pq_codebooks(
    df: DataFrame,
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """codebooks[s][c] = subvector s of the vector with id c. Bounded
    driver collect (n_codes rows) — broadcast as baked literals.

    Assumes ids 0..n_codes-1 exist (true for the fixtures and any
    contiguous-id corpus; clustering.kmeans_fit shows the
    lowest-k-ids pattern for arbitrary id spaces, and trained
    codebooks are the production path anyway — see q_ann_ivf_trained
    and the clustering module)."""
    rows = (
        df.where(F.col(id_col) < n_codes)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    dim = len(rows[0][1])
    sub = dim // m
    return [
        [[float(x) for x in r[1][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def pq_codebooks_trained(
    df: DataFrame,
    m: int = PQ_M,
    n_codes: int = PQ_CODES,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """K-means-trained codebooks: one independent ``kmeans_fit`` per
    subspace slice (the production PQ training path — sampled
    codebooks are only the deterministic baseline). Fixed-point micro
    centroids convert back to exact doubles (c / 1e6 — both engines
    perform the identical IEEE division), so encode/ADC arithmetic
    stays bit-portable end to end.

    Scale: the m trainings BATCH into shared Spark jobs — per
    iteration, one tagged union carries every subspace through one
    assignment+update pass, so the driver pays iterations+2 job
    round-trips total instead of m*(iterations+1) (measured 19 s ->
    7 s on the gate fixture; arithmetic per subspace is unchanged and
    a test pins equality with the sequential per-subspace
    ``kmeans_fit`` loop). Driver state stays m*k*sub centroid cells —
    the broadcast-k-means shape documented in
    ``clustering.kmeans_fit``."""
    import math

    from huckli_spark.operators.clustering import (
        MICRO,
        _assign_expr,
        _vm_expr,
    )

    head = df.select(vec_col).head()
    if head is None:
        raise ValueError("pq_codebooks_trained: empty corpus")
    dim = len(head[0])
    sub = dim // m
    # one tagged relation: (tag, id, micro-int subvector) for all m slices
    vm_full = df.select(F.col(id_col), F.expr(_vm_expr(vec_col)).alias("__vmf"))
    tagged = vm_full.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.slice("__vmf", s * sub + 1, sub)
                    for s in range(m)
                ]
            )
        ).alias("tag", "__vm"),
    ).persist()
    try:
        # init: the k lowest ids (one bounded top-k job), then their
        # subvectors for every subspace (one m*k-row collect)
        seed_ids = [
            r[0]
            for r in df.select(id_col).orderBy(id_col).limit(n_codes).collect()
        ]
        if len(seed_ids) < n_codes:
            raise ValueError(
                f"pq_codebooks_trained: corpus has only {len(seed_ids)} "
                f"row(s) but n_codes={n_codes}"
            )
        seed_rows = tagged.where(F.col(id_col).isin(seed_ids)).collect()
        rank = {vid: i for i, vid in enumerate(sorted(seed_ids))}
        cents = [[None] * n_codes for _ in range(m)]
        for r in seed_rows:
            cents[r["tag"]][rank[r[id_col]]] = [int(x) for x in r["__vm"]]
        for _ in range(iterations):
            assign = "CASE " + " ".join(
                f"WHEN tag = {s} THEN ({_assign_expr(cents[s])})"
                for s in range(m)
            ) + " END"
            aggs = [F.count("*").alias("n")] + [
                F.sum(F.element_at("__vm", j + 1).cast("decimal(38,0)"))
                .cast("double")
                .alias(f"s{j}")
                for j in range(sub)
            ]
            cells = (
                tagged.select("tag", F.expr(assign).alias("cid"), "__vm")
                .groupBy("tag", "cid")
                .agg(*aggs)
                .collect()
            )
            nxt = [[list(c) for c in cents[s]] for s in range(m)]
            for r in cells:
                n = r["n"]
                nxt[r["tag"]][r["cid"]] = [
                    int(math.floor(r[f"s{j}"] / n + 0.5)) for j in range(sub)
                ]
            cents = nxt
    finally:
        tagged.unpersist()
    return [
        [[c / MICRO for c in cent] for cent in cents[s]] for s in range(m)
    ]


def _pq_sub_entries(vec_col: str, s: int, sub: int, codebook_s) -> str:
    """SQL array<struct<d:bigint, code:int>> of micro-rounded squared
    distances from this row's subvector s to every code centroid,
    sorted (d ASC, code ASC) — element 1 is the assignment."""
    entries = []
    for c, cv in enumerate(codebook_s):
        d = vecfold.sql_sqdist_lit_at(vec_col, s * sub, cv)
        dm = f"cast(floor({d} * 1000000.0 + 0.5) AS bigint)"
        entries.append(f"named_struct('d', {dm}, 'code', {c})")
    return (
        "array_sort(array(" + ", ".join(entries) + "),"
        " (l, r) -> CASE WHEN l.d < r.d THEN -1 WHEN l.d > r.d THEN 1"
        " WHEN l.code < r.code THEN -1 ELSE 1 END)"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code_word, err_micro): 4-bit codes packed little-endian into
    one BIGINT, plus the exact-integer total reconstruction error.
    Pure map stage — all distances are in-row expressions, zero shuffle."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    picks = [
        f"element_at({_pq_sub_entries(vec_col, s, sub, codebooks[s])}, 1)"
        for s in range(m)
    ]
    code_word = " + ".join(
        f"shiftleft(cast({p}.code AS bigint), {4 * s})"
        for s, p in enumerate(picks)
    )
    err = " + ".join(f"{p}.d" for p in picks)
    return df.select(
        F.col(id_col),
        F.expr(code_word).alias("code_word"),
        F.expr(err).alias("err_micro"),
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    self_exclude: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k: the corpus side supplies ONLY its
    packed code word; each query row evaluates its 16-entry distance
    table per subspace in-row and sums the looked-up entries (exact
    integers). Queries broadcast; the corpus never moves or decodes.
    Returns (query_id, neighbor_id, adc_micro, rank).

    ``self_exclude`` assumes queries and corpus SHARE an id space
    (the fixture convention: queries are sampled corpus rows), and
    drops the neighbor whose id equals the query's. When queries come
    from a DIFFERENT id space, pass ``self_exclude=False`` — otherwise
    a corpus vector whose id coincidentally equals a query id would be
    silently excluded (ADVICE r5). Same caveat as pq_codebooks /
    ivf_centroids' documented 0..n-1-id sampling convention."""
    from pyspark.sql import Window

    m = len(codebooks)
    sub = len(codebooks[0][0])
    # materialize each query's m x n_codes distance table ONCE on the
    # (broadcast) query side — the join then does pure element_at
    # lookups per pair. Folding the table expression into the joined
    # row instead re-evaluates all m*n_codes distances per PAIR: the
    # 1x/10x probe measured that at 7x the wall of this formulation.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    for s in range(m):
        tab = (
            "array("
            + ", ".join(
                "cast(floor("
                + vecfold.sql_sqdist_lit_at("__qv", s * sub, codebooks[s][code])
                + " * 1000000.0 + 0.5) AS bigint)"
                for code in range(len(codebooks[s]))
            )
            + ")"
        )
        q = q.withColumn(f"__tab{s}", F.expr(tab))
    q = q.drop("__qv")
    c = codes.select(F.col(id_col).alias("neighbor_id"), "code_word")
    cond = (
        F.col("neighbor_id") != F.col("query_id")
        if self_exclude
        else F.lit(True)
    )
    pair = c.join(F.broadcast(q), cond)
    adc = " + ".join(
        f"element_at(__tab{s},"
        f" cast((shiftright(code_word, {4 * s}) & 15) AS int) + 1)"
        for s in range(m)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_micro"), F.asc("neighbor_id")
    )
    return (
        pair.select("query_id", "neighbor_id", F.expr(adc).alias("adc_micro"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_assign_join(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Large-k twin of ``ivf_assign``: identical output, but the
    coarse quantizer travels as ONE broadcast row of
    array<struct<cid,cv>> instead of k*dim baked literals (plan size
    O(1) vs O(k*dim) — see clustering.kmeans_assign_join for the
    measured crossover). Map-only, zero shuffle; centroid norms are
    folded in-row in the same element order as the literal form's
    Python-computed norms, so the rounded sims are bit-identical."""
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, cv array<double>",
    )
    onerow = cent_df.agg(
        F.collect_list(F.struct("cid", "cv")).alias("__cents")
    )
    with_norm = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("__norm")
    )
    dot = (
        f"aggregate(zip_with({vec_col}, c.cv, (x, y) -> cast(x AS double) * y),"
        " cast(0.0 AS double), (acc, v) -> acc + v)"
    )
    cnorm = (
        "sqrt(aggregate(transform(c.cv, v -> v * v),"
        " cast(0.0 AS double), (acc, v) -> acc + v))"
    )
    sims = (
        "array_sort(transform(__cents, c -> named_struct("
        f"'sim', cast(floor(({dot} / (__norm * {cnorm}))"
        " * 1000000.0 + 0.5) / 1000000.0 AS double), 'cid', c.cid)),"
        " (l, r) -> CASE WHEN l.sim > r.sim THEN -1"
        " WHEN l.sim < r.sim THEN 1"
        " WHEN l.cid < r.cid THEN -1 ELSE 1 END)"
    )
    return (
        with_norm.crossJoin(F.broadcast(onerow))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode(F.expr(f"slice({sims}, 1, {nprobe})")).alias("__c"),
        )
        .select(F.col(id_col), F.col(vec_col), F.col("__c.cid").alias("cid"))
    )


def exact_refine_topk(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank of a bounded ANN shortlist — the standard serving
    pattern that buys back the quantization loss: ADC (code-only)
    produces a cheap top-N shortlist, then ONLY those N rows fetch
    their full vectors for an exact micro-integer L2 ranking
    (measured recall@5 0.29 -> 0.76 at shortlist=50 on the gate
    fixtures, SCALE.md). ``shortlist`` is (query_id, neighbor_id).
    Returns (query_id, neighbor_id, d_micro, rank), rank <= k.

    Scale shape: the refine join moves O(queries * N) rows — the
    corpus is only touched via the semi-join fetch of shortlist
    members; queries broadcast."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    d = vecfold.sql_micro_sqdist("__qv", "__nv")
    w = Window.partitionBy("query_id").orderBy("d_micro", "neighbor_id")
    return (
        shortlist.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", F.expr(d).alias("d_micro"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
