"""Deduplication operators: exact, n-gram Jaccard, bag-of-words
fingerprint.

Scale design (100 TB):
- Exact dedup never shuffles document text — only a 128-bit digest.
- Shingling is document-local (array_distinct over a per-row
  transform) — a pure map stage; per-doc shingle counts come from the
  same arrays without any shuffle.
- Jaccard intersection counts come from the shingle self-join: the
  shuffle key is the shingle, so co-occurring docs meet in one
  partition (measured faster than a collect_list inverted index —
  singleton-dominated groups hit ObjectHashAgg's sort fallback).
  Stop-shingle removal (``max_doc_freq``) bounds the worst-case
  quadratic blowup of ultra-common shingles — the standard skew guard
  for this operator.
- All expressions are JVM built-ins; no Python in the hot path.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from huckli_spark.functions.portable import fround
from huckli_spark.operators.cache import eager_unless_scoped
from huckli_spark.operators.parallel import exploded, fan_out, pos_exploded


def exact_dup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-duplicate stats (docs vs distinct digests)."""
    h = F.md5(F.col(text_col))
    return df.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(h).alias("n_unique"),
        (F.count("*") - F.count_distinct(h)).alias("n_dup_rows"),
    )


def dedup_exact(
    df: DataFrame, key_cols: Sequence[str], order_col: Optional[str] = None
) -> DataFrame:
    """Keep one row per key. With ``order_col``, keeps the smallest
    (deterministic keep-first); otherwise plain dropDuplicates.
    One shuffle on the key columns."""
    if order_col is None:
        return df.dropDuplicates(list(key_cols))
    w = Window.partitionBy(*key_cols).orderBy(F.asc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "sh_arr"
) -> DataFrame:
    """Per-document DISTINCT word-n-gram shingle array, computed
    document-locally: transform + array_distinct inside the row, so
    shingling is a pure map stage — zero shuffle regardless of corpus
    size (the old explode+distinct paid a full shuffle of every
    (doc, shingle) row)."""
    # Two-step projection: split once into __words, then shingle over
    # the concrete column. CollapseProject keeps the alias (multi-
    # reference, non-cheap), so split never re-evaluates inside the
    # lambda. The fan_out shuffle carries the raw text (smaller than
    # the split array); splitting happens post-exchange.
    sh = F.expr(
        f"array_distinct(transform(sequence(0, size(__words) - {n}),"
        f" i -> concat_ws(' ', slice(__words, i + 1, {n}))))"
    )
    # fan_out: shingling is the CPU-heaviest map kernel in the engine;
    # single-row-group inputs must not pin it to one core.
    return (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("__words"))
        .where(F.size(F.col("__words")) >= n)
        .select(F.col(id_col), sh.alias(out_col))
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out_col: str = "shingle"
) -> DataFrame:
    """Distinct word n-gram shingles per document (docs shorter than n
    words produce none). Map-side only: per-doc dedup happens inside
    the array before explode."""
    return exploded(
        shingle_array(df, id_col, text_col, n=n),
        [F.col(id_col)], "sh_arr", out_col,
    )


@eager_unless_scoped
def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: Optional[int] = None,
    scope=None,
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard >= threshold.

    Inverted-index self-join: |pairs sharing a shingle| dominates cost;
    ``max_doc_freq`` drops shingles present in more than that many docs
    (skew/stop-shingle guard — at 100 TB always set it; left unset here
    for oracle parity on the small fixtures).

    Returns (d1, d2, jaccard) with d1 < d2, jaccard rounded portably.
    Cache lifecycle as in operators.cache: eager unless the caller
    passes ``scope``.
    """
    inter, s1, s2 = _shingle_intersections(
        df, id_col, text_col, n, max_doc_freq, scope.persist
    )
    jac = F.col("n_common") * 1.0 / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .where(jac >= threshold)
        .select("d1", "d2", fround(jac, 4).alias("jaccard"))
    )


def _shingle_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: Optional[int],
    persist,
):
    """Shared skeleton of the set-overlap dedup family: per-doc
    distinct shingles -> pairwise intersection counts + per-side set
    sizes. Returns (inter(d1, d2, n_common), s1(d1, n1), s2(d2, n2))."""
    from huckli_spark.functions.portable import h60

    # the array relation feeds sizes + both intersection join sides —
    # persist so split/transform/array_distinct runs once per doc
    docs = persist(shingle_array(df, id_col, text_col, n=n))
    # join on the 60-bit shingle hash, not the string: 8-byte shuffle
    # keys instead of ~20-byte text, cheaper comparisons, identical
    # results — the oracle hashes with the same portable h60, so the
    # (astronomically unlikely, ~n²/2^61) collisions are shared too
    sh = exploded(docs, [F.col(id_col)], "sh_arr", "__s").select(
        F.col(id_col), h60(F.col("__s")).alias("shingle")
    )
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        sh = sh.join(
            freq.where(F.col("__df") <= max_doc_freq), "shingle", "inner"
        ).drop("__df")
        sh = persist(sh)  # feeds sizes + both join sides below
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    else:
        # per-doc shingle count is document-local: no shuffle
        sizes = docs.select(F.col(id_col), F.size("sh_arr").alias("n_sh"))
    # intersection counts via the shingle self-join. Measured (sf0.1):
    # the join beats a collect_list posting-list aggregation ~1.6x —
    # millions of mostly-singleton shingle groups push ObjectHashAgg
    # into its sort-based fallback, while the join streams through
    # sort-merge. Co-occurring docs still meet on the shingle shuffle
    # key, so skew handling (AQE) and max_doc_freq still apply.
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    return inter, s1, s2


@eager_unless_scoped
def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: Optional[int] = None,
    scope=None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: document pairs where either
    side's shingle set is >= ``threshold`` CONTAINED in the other —
    C(A|B) = |S(A) ∩ S(B)| / |S(A)|. Jaccard misses the
    quote/superset case (a short doc fully embedded in a long one has
    tiny Jaccard but containment 1.0); production dedup pipelines run
    both. Returns (d1, d2, cont_1_in_2, cont_2_in_1) with d1 < d2,
    both directions reported, kept when the GREATER one clears the
    threshold.

    Same inverted-index skeleton, cost profile and ``max_doc_freq``
    skew guard as ``jaccard_pairs`` — one extra join column, no new
    shuffle."""
    inter, s1, s2 = _shingle_intersections(
        df, id_col, text_col, n, max_doc_freq, scope.persist
    )
    c12 = F.col("n_common") * 1.0 / F.col("n1")
    c21 = F.col("n_common") * 1.0 / F.col("n2")
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .where(F.greatest(c12, c21) >= threshold)
        .select(
            "d1",
            "d2",
            fround(c12, 4).alias("cont_1_in_2"),
            fround(c21, 4).alias("cont_2_in_1"),
        )
    )


@eager_unless_scoped
def jaccard_pairs_cross(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: Optional[int] = None,
    scope=None,
) -> DataFrame:
    """Incremental near-dup detection: pairs (new_id, corpus_id,
    jaccard >= threshold) between a NEW batch and the EXISTING corpus —
    the production flow where each ingest batch is screened against
    what's already stored before admission.

    Scale shape (100 TB corpus, small daily batch): the batch side's
    shingle relation is tiny and broadcasts into the inverted-index
    join, so the corpus side never shuffles; in production the corpus
    shingle relation is a materialized index table (written once,
    appended per admitted batch), not recomputed — this function
    recomputes it for self-contained use at fixture scale. The
    ``max_doc_freq`` guard applies to corpus-side doc frequency (the
    skewed side).
    """
    from huckli_spark.functions.portable import h60
    new_docs = scope.persist(shingle_array(new_df, id_col, text_col, n=n))
    corp_docs = scope.persist(shingle_array(corpus_df, id_col, text_col, n=n))

    def _sh(docs: DataFrame, alias: str) -> DataFrame:
        return exploded(
            docs, [F.col(id_col).alias(alias)], "sh_arr", "__s"
        ).select(F.col(alias), h60(F.col("__s")).alias("shingle"))

    new_sh = _sh(new_docs, "d_new")
    corp_sh = _sh(corp_docs, "d_corpus")
    if max_doc_freq is not None:
        freq = corp_sh.groupBy("shingle").agg(F.count("*").alias("__df"))
        stop = scope.persist(
            freq.where(F.col("__df") > max_doc_freq).select("shingle")
        )
        # filtered relations feed sizes AND the intersection join
        corp_sh = scope.persist(
            corp_sh.join(F.broadcast(stop), "shingle", "left_anti")
        )
        new_sh = scope.persist(
            new_sh.join(F.broadcast(stop), "shingle", "left_anti")
        )
        corp_sizes = corp_sh.groupBy("d_corpus").agg(F.count("*").alias("n2"))
        new_sizes = new_sh.groupBy("d_new").agg(F.count("*").alias("n1"))
    else:
        new_sizes = new_docs.select(
            F.col(id_col).alias("d_new"), F.size("sh_arr").alias("n1")
        )
        corp_sizes = corp_docs.select(
            F.col(id_col).alias("d_corpus"), F.size("sh_arr").alias("n2")
        )
    inter = (
        corp_sh.join(F.broadcast(new_sh), "shingle")
        .groupBy("d_new", "d_corpus")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") * 1.0 / (F.col("n1") + F.col("n2") - F.col("n_common"))
    # annotate the (tiny) candidate set and BROADCAST it into the
    # corpus-sizes join — joining the other way round would shuffle
    # one row per corpus document to serve a handful of candidates
    cand_n1 = inter.join(F.broadcast(new_sizes), "d_new")
    return (
        corp_sizes.join(F.broadcast(cand_n1), "d_corpus")
        .where(jac >= threshold)
        .select("d_new", "d_corpus", fround(jac, 4).alias("jaccard"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    id_out: str = "doc_id",
    comp_out: str = "cluster_id",
    max_iter: int = 25,
    small_graph_max: int = 5_000_000,
) -> DataFrame:
    """Connected components over an undirected pair list. Component
    id = smallest member id (a deterministic, join-stable cluster
    key). This is the step that turns near-dup PAIRS into a dedup
    DECISION (one keeper per transitive cluster).

    Hybrid execution: the pair graph is orders of magnitude smaller
    than the corpus (only duplicates appear in it), so up to
    ``small_graph_max`` edges it is collected and solved with
    union-find on the driver — one job, no iteration latency. Larger
    graphs run iterative min-label propagation: every node's label
    becomes the minimum of its own and its neighbors' labels until
    fixpoint, O(cluster diameter) rounds (near-dup clusters are
    shallow), one label-join shuffle per round, ``localCheckpoint``
    truncating lineage. Raises if ``max_iter`` rounds don't converge
    rather than returning partial labels. Both paths produce
    identical output (unit-tested).
    """
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    # ONE action decides the path AND fetches the small graph: a
    # bounded limit-collect replaces the former count-then-collect
    # pair (r13 — one fewer job per components call; when the edge
    # set exceeds the bound the collected prefix is discarded and the
    # iterative path reads the partially-filled cache).
    head = edges.limit(small_graph_max + 1).collect()
    if len(head) <= small_graph_max:
        parent: dict = {}

        def find(x):
            r = x
            while parent.setdefault(r, r) != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in head:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_min: dict = {}
        for node in list(parent):
            r = find(node)
            comp_min[r] = min(comp_min.get(r, node), node)
        out = [(node, comp_min[find(node)]) for node in parent]
        edges.unpersist()
        # id type follows the input schema (string doc ids sort the
        # same in Python as in Spark: UTF-8 byte order == code points)
        from pyspark.sql import types as T

        id_type = pairs.schema[src].dataType
        schema = T.StructType(
            [
                T.StructField(id_out, id_type, False),
                T.StructField(comp_out, id_type, False),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema)
    from pyspark.sql import types as T

    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select(F.col("node"), F.col("node").alias("label"))
        .persist()
    )
    # Convergence check: per-node labels only ever DECREASE (min of
    # self + neighbors). Numeric ids: the label sum strictly decreases
    # until the fixpoint — one cheap aggregate per round. Non-numeric
    # ids (strings/digests) can't sum soundly, so count changed rows
    # via a node-equi-join of consecutive label sets instead (the
    # label relation is O(nodes-in-pair-graph), ≪ corpus).
    numeric = isinstance(pairs.schema[src].dataType, T.NumericType)

    prev_sum = labels.agg(F.sum("label")).collect()[0][0] if numeric else None
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["b"] == labels["node"]).select(
            edges["a"].alias("node"), F.col("label")
        )
        new_labels = (
            labels.union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        if numeric:
            new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
                == 0
            )
        labels.unpersist()
        labels = new_labels
        if converged:
            edges.unpersist()
            return labels.select(
                F.col("node").alias(id_out), F.col("label").alias(comp_out)
            )
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def bow_fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bag-of-words md5 fingerprint; returns clusters (fingerprint,
    n_docs, keeper=min id) with more than one member."""
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))), " ")
    )
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper"))
        .where(F.col("n_docs") > 1)
    )


def contamination(
    candidates: DataFrame,
    holdout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark-decontamination primitive: per candidate document, how
    many of its distinct word-``n``-gram shingles also occur anywhere
    in the ``holdout`` corpus (the eval/benchmark set), and the
    containment ratio shared/total.

    Scale shape: the holdout's distinct shingle hashes are broadcast
    (benchmark sets are small by definition — a few MB of 8-byte
    hashes covers every public eval suite); the candidate corpus
    streams map-side through the broadcast semi-join and partial-aggs
    to one row per doc. The corpus never shuffles on text, and a
    contaminated-doc drop list composes with apply_keeplist.
    """
    from huckli_spark.functions.portable import h60

    cand_sh = shingles(candidates, id_col, text_col, n=n).select(
        F.col(id_col), h60(F.col("shingle")).alias("sh")
    )
    hold_sh = (
        shingles(holdout, id_col, text_col, n=n)
        .select(h60(F.col("shingle")).alias("sh"))
        .distinct()
        .withColumn("m", F.lit(1))
    )
    # ONE pass over the candidate corpus: the broadcast LEFT join marks
    # holdout membership per shingle, and a single aggregation counts
    # both totals and matches — re-shingling 100 TB twice (separate
    # sizes/shared scans) was the alternative.
    marked = cand_sh.join(F.broadcast(hold_sh), "sh", "left")
    out = marked.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.count("m").alias("n_shared"),
    )
    return out.select(
        F.col(id_col),
        F.col("n_shingles"),
        F.col("n_shared"),
        fround(F.col("n_shared") / F.col("n_shingles"), 4).alias("containment"),
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "name",
    max_dist: int = 1,
    max_variant_freq: Optional[int] = None,
) -> DataFrame:
    """Edit-distance-bounded pair detection (SymSpell-style): the
    entity-resolution primitive for short strings — titles, names,
    URLs — where shingle sketches are too coarse.

    Deletion-neighborhood blocking: each string produces itself plus
    its deletion variants to depth ``max_dist`` (SymSpell guarantee:
    ed(u,v) <= d implies a shared <= d-deletion variant; supported
    depths 0..2); two strings within the bound ALWAYS share a variant (equal -> s itself;
    substitution -> both drop the differing position; indel -> the
    shorter string is a variant of the longer). Sharing a variant only
    bounds the distance by 2, so candidates are verified with exact
    ``levenshtein`` — computed on candidate pairs only, never all
    pairs. Returns (a_id, b_id, a, b, dist), a_id < b_id.

    Scale shape: variants explode x(|s|+1) but join on the 8-byte
    ``h60`` variant hash; ``max_variant_freq`` drops hot variants
    (stop-word guard, same policy as jaccard_pairs' max_doc_freq) —
    at corpus scale always set it. Verification is O(candidates).
    """
    from huckli_spark.functions.portable import h60

    if max_dist not in (0, 1, 2):
        # SymSpell blocking guarantee: ed(u,v) <= d  =>  u and v share
        # a variant of <= d deletions. Depth grows the variant count
        # O(|s|^d); beyond 2 use the n-gram / sketch operators.
        raise ValueError(f"fuzzy_pairs supports max_dist 0..2, got {max_dist}")
    s = F.col(str_col)
    dels1 = (
        f"transform(sequence(1, length({str_col})), "
        f"i -> concat(substring({str_col}, 1, i - 1), "
        f"substring({str_col}, i + 1, length({str_col}))))"
    )
    if max_dist <= 1:
        body = f"array_distinct(concat(array({str_col}), {dels1}))"
    else:  # depth-2 deletion neighborhood
        dels2 = (
            f"flatten(transform({dels1}, t -> CASE WHEN length(t) = 0 "
            "THEN array() ELSE transform(sequence(1, length(t)), "
            "j -> concat(substring(t, 1, j - 1), "
            "substring(t, j + 1, length(t)))) END))"
        )
        body = (
            f"array_distinct(concat(array({str_col}), {dels1}, {dels2}))"
        )
    variants = F.expr(
        f"CASE WHEN length({str_col}) = 0 THEN array({str_col}) ELSE {body} END"
    )
    v = (
        exploded(df, [F.col(id_col), s.alias("__s")], variants, "__v")
        .select(F.col(id_col), F.col("__s"), h60(F.col("__v")).alias("vh"))
        .distinct()
    )
    if max_variant_freq is not None:
        freq = v.groupBy("vh").agg(F.count("*").alias("__vf"))
        v = v.join(freq.where(F.col("__vf") <= max_variant_freq), "vh").drop("__vf")
    a = v.select(F.col(id_col).alias("a_id"), F.col("__s").alias("a"), "vh")
    b = v.select(F.col(id_col).alias("b_id"), F.col("__s").alias("b"), "vh")
    cand = (
        a.join(b, "vh")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a", "b")
        .distinct()
    )
    return cand.select(
        "a_id", "b_id", "a", "b", F.levenshtein("a", "b").alias("dist")
    ).where(F.col("dist") <= max_dist)


def segment_dedup(
    docs: DataFrame,
    seg_words: int = 3,
    key_mult: int = 100_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document exact dedup with document reconstruction (the
    FineWeb/RefinedWeb "line dedup" pattern, generalized to fixed
    ``seg_words``-word segments for corpora without line structure):
    a segment survives only in its FIRST corpus occurrence — min of
    the single integer keeper key ``doc_id * key_mult + seg_idx``, so
    the winner is total-ordered without a window — and every document
    is rebuilt from its surviving segments in order.

    Returns (id_col, n_segments, n_kept, kept_text); fully-deduped
    documents keep n_kept = 0 and a NULL kept_text.

    Scale shape: the dedup shuffle carries (60-bit hash, keeper key)
    pairs — 16 bytes per segment, never segment text (the
    digest-only-movement discipline of :func:`dedup_exact`, at
    ~segments-per-doc times the row count); the survivor join is a
    co-partitioned equi-join on the same hash; text moves exactly
    once, on the final reconstruction shuffle keyed by the doc id.
    ``key_mult`` must exceed the max segment count per document."""
    from huckli_spark.functions.portable import h60

    base = docs.select(id_col, F.split(text_col, " ").alias("__w"))
    nseg = F.ceil(F.size("__w") / float(seg_words)).cast("int")
    segs = pos_exploded(
        base,
        [id_col],
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.array_join(
                F.slice(F.col("__w"), i * seg_words + 1, seg_words), " "
            ),
        ),
        "seg_idx", "seg",
    ).select(
        id_col,
        F.col("seg_idx").cast("long").alias("seg_idx"),
        "seg",
        h60(F.concat(F.lit("seg:"), F.col("seg"))).alias("hseg"),
        (F.col(id_col) * key_mult + F.col("seg_idx")).alias("kkey"),
    )
    keep = (
        segs.groupBy("hseg")
        .agg(F.min("kkey").alias("keeper"))
        .withColumnRenamed("hseg", "khseg")
    )
    kept = segs.join(
        keep,
        (F.col("hseg") == F.col("khseg")) & (F.col("kkey") == F.col("keeper")),
    ).select(id_col, "seg_idx", "seg")
    per_doc = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return (
        base.select(id_col, nseg.cast("long").alias("n_segments"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_segments",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            "kept_text",
        )
    )


def duplicate_spans(
    docs: DataFrame,
    window_len: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring spans at word granularity — the
    Spark-first re-expression of suffix-array exact substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": remove any substring occurring verbatim more than
    once, threshold ~50 tokens). A suffix array is a single-machine
    structure; the distributed equivalent is the fixed-width rolling
    window: every ``window_len``-word window whose text occurs
    >= ``min_count`` times corpus-wide is duplicated, and maximal
    runs of duplicated windows merge into spans. Any duplicated
    substring of >= window_len words is fully covered by its
    duplicated windows, so the merged spans are exactly the union of
    all such substrings (the standard window over-approximation: a
    merged span need not be duplicated as ONE contiguous block).

    Returns (id_col, span_start, span_end, n_windows): word-index
    half-open spans [span_start, span_end), O(duplicated content)
    rows — the decision relation a pipeline uses to cut or drop.

    Scale (100 TB): the gram relation is corpus-sized but needs ONE
    shuffle — occurrence counts come from a count window partitioned
    by the gram itself (partition size == occurrence count, almost
    always 1), not a groupBy + join-back (which would shuffle the
    same relation twice). Span merging windows partition by document
    (bounded by per-doc duplicated positions). Everything is JVM
    built-ins; no Python, no product. Ultra-hot boilerplate grams
    (licenses, headers) make big gram partitions only if they repeat
    millions of times — cap with a max_doc_freq-style stop-gram
    filter upstream if a corpus needs it (the jaccard_pairs guard).
    """
    grams = (
        f"transform(sequence(1, size(__words) - {window_len - 1}),"
        f" i -> array_join(slice(__words, i, {window_len}), ' '))"
    )
    g = pos_exploded(
        docs.select(
            F.col(id_col),
            F.expr(
                f"filter(split({text_col}, ' '), x -> x <> '')"
            ).alias("__words"),
        )
        # docs shorter than the window produce no grams (and
        # sequence(1, n<=0) would be a DESCENDING sequence — guard)
        .where(F.size("__words") >= window_len),
        [F.col(id_col)], F.expr(grams), "pos", "gram",
    )
    occ = Window.partitionBy("gram")
    dpos = (
        g.withColumn("__n", F.count("*").over(occ))
        .where(F.col("__n") >= min_count)
        .select(id_col, "pos")
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    # windows [pos, pos+L) merge when overlapping OR adjacent:
    # a gap opens only when pos - lag(pos) > L
    newgrp = F.when(
        F.col("pos") - F.lag("pos").over(wd) > window_len, 1
    ).otherwise(F.lit(0))
    gid = F.sum(newgrp).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dpos.withColumn("__gid", gid)
        .groupBy(id_col, "__gid")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + window_len).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .drop("__gid")
    )


def cut_duplicate_spans(
    docs: DataFrame,
    spans: Optional[DataFrame] = None,
    window_len: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply duplicated-span cuts: remove every word covered by a
    :func:`duplicate_spans` span and rebuild the text. This is the
    CONSERVATIVE policy — all occurrences go, the decontamination-
    grade variant; keeping one canonical occurrence per duplicate
    family needs a global keeper election (the dedup_cap/components
    machinery) layered on top. Returns the input columns plus
    ``text_cut`` and ``n_cut_words``.

    Scale: the span relation is O(duplicated content); it aggregates
    to one array row per affected document and joins back on the
    document key — the corpus never shuffles on anything data-sized,
    and the cut itself is a pure in-row two-arg-lambda filter."""
    if spans is None:
        spans = duplicate_spans(
            docs, window_len=window_len, id_col=id_col, text_col=text_col
        )
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans")
    )
    w = f"filter(split({text_col}, ' '), x -> x <> '')"
    kept = (
        f"filter(transform({w}, (x, i) -> named_struct('x', x, 'i', i)),"
        " s -> __spans IS NULL OR"
        " NOT exists(__spans, q -> s.i >= q.s AND s.i < q.e))"
    )
    return (
        docs.join(sp, id_col, "left")
        .withColumn("__kept", F.expr(kept))
        .withColumn(
            "text_cut",
            F.array_join(F.expr("transform(__kept, s -> s.x)"), " "),
        )
        .withColumn(
            "n_cut_words",
            (F.size(F.expr(w)) - F.size("__kept")).cast("long"),
        )
        .drop("__spans", "__kept")
    )


def capped_keep_decisions(
    kinded_pairs: "Sequence[tuple[str, DataFrame]]",
    k: int = 2,
    src: str = "d1",
    dst: str = "d2",
    id_out: str = "media_id",
) -> DataFrame:
    """Pairs -> components -> keep-<=K decisions, per kind: the
    shared policy layer behind q_media_dedup_cap and the media-card
    CLI's --cap. Each (kind, pair relation) collapses to transitive
    clusters (id = min member) independently; the union carries the
    kind so overlapping id spaces stay separate. Output
    (kind, id_out, cluster_id, rank_in_cluster, kept) is
    O(duplicates) — the bounded artifact a pipeline writes back
    instead of the O(cluster^2) pairs
    (SCALE_PROBE_media_cap.json: decisions 10.0x where pairs grow
    112.9x at 10x blobs)."""
    # Per-kind pipelines are independent (separate decode + banded
    # join + components); run them on concurrent driver threads so
    # one modality's driver-side union-find overlaps the next
    # modality's cluster compute (r13 — Spark job submission is
    # thread-safe; output order stays the caller's list order).
    from concurrent.futures import ThreadPoolExecutor

    def one(kind_pairs):
        kind, pairs = kind_pairs
        comp = connected_components(
            pairs.select(src, dst), src=src, dst=dst
        )
        return comp.select(
            F.lit(kind).alias("kind"),
            F.col("doc_id").alias(id_out),
            "cluster_id",
        )

    if len(kinded_pairs) > 1:
        with ThreadPoolExecutor(len(kinded_pairs)) as ex:
            parts = list(ex.map(one, kinded_pairs))
    else:
        parts = [one(kp) for kp in kinded_pairs]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    wr = Window.partitionBy("kind", "cluster_id").orderBy(F.asc(id_out))
    rk = F.row_number().over(wr).cast("long")
    return out.select(
        "kind",
        id_out,
        "cluster_id",
        rk.alias("rank_in_cluster"),
        (rk <= k).alias("kept"),
    )


def content_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content diff between two corpus versions — the governance step
    before publishing v(N+1): classify every document as
    added / removed / changed / unchanged relative to the baseline
    ``a``. Keys both sides on (id, md5(text)) and FULL-OUTER joins on
    the id: one shuffle per side, narrow rows, O(corpus) work at any
    scale — never a content join. Shared by the `release-diff` CLI
    and q_release_diff's hash gate.

    NULL text is a real corpus state (a malformed jsonl line reads as
    a NULL row — exactly when a release diff matters), so presence is
    keyed on an explicit marker column, never on the hash (ADVICE r11
    #2: md5(NULL) is NULL, which would misread a present-but-NULL doc
    as absent). A NULL fingerprints as the sentinel '__NULL__' — md5
    output is 32 hex chars, so the sentinel cannot collide with any
    real hash — making NULL-vs-text 'changed' and NULL-vs-NULL
    'unchanged'."""
    fp = F.when(
        F.col(text_col).isNull(), F.lit("__NULL__")
    ).otherwise(F.md5(text_col))
    ka = a.select(
        F.col(id_col), fp.alias("__th_a"), F.lit(True).alias("__in_a")
    )
    kb = b.select(
        F.col(id_col), fp.alias("__th_b"), F.lit(True).alias("__in_b")
    )
    return ka.join(kb, id_col, "full_outer").select(
        id_col,
        F.when(F.col("__in_a").isNull(), F.lit("added"))
        .when(F.col("__in_b").isNull(), F.lit("removed"))
        .when(F.col("__th_a") != F.col("__th_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
