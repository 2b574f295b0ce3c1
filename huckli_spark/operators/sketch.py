"""Sketch-based near-duplicate detection: MinHash+LSH and SimHash.

Both sketches are fully deterministic and engine-portable: the base
hash is the 60-bit md5 prefix (functions.portable.h60), so the DuckDB
oracles in queries/dedup_sketch.py compute bit-identical signatures.

Scale design (100 TB):
- Signatures are DOCUMENT-LOCAL: shingle/word arrays, their hashes,
  and all K min-hash permutations (resp. all SimHash bit sums) are
  higher-order array expressions inside the row — the signature stage
  shuffles NOTHING.
- Candidate generation groups ids per (band, signature) bucket and
  explodes pairs from the sorted posting list — one shuffled side,
  shuffle volume O(#docs x #bands), independent of document size.
- MinHash verification re-computes exact Jaccard for candidate docs
  only (semi-join pushdown on the shingle relation).
- SimHash banding is exact, not probabilistic: splitting the 60-bit
  signature into 4 chunks guarantees (pigeonhole) that any pair within
  Hamming distance 3 shares a chunk — banded output == brute force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from huckli_spark.functions.portable import fround
from huckli_spark.operators.cache import eager_release, eager_unless_scoped
from huckli_spark.operators.dedup import shingle_array
from huckli_spark.operators.parallel import exploded, fan_out

# MinHash parameters — mirrored verbatim in the SQL oracle.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4  # K = BANDS * ROWS

# SQL fragment: portable 60-bit hash of a lambda variable (h60 twin,
# usable inside higher-order functions).
_H60 = "cast(conv(substr(md5({v}), 1, 15), 16, 10) AS bigint)"


def _perm_params(k: int) -> tuple[int, int]:
    """Fixed odd multiplier / offset per permutation (deterministic,
    coprime-ish with P; magnitudes keep a*h < 2^63)."""
    return (2 * k + 3, 7_919 * k + 1)


def _signature_from_arrays(
    docs: DataFrame, id_col: str = "doc_id", fast_hash: bool = False
) -> DataFrame:
    """(id, mh0..mh{K-1}) from a (id, sh_arr) relation: explode the
    shingles, hash once, take K permuted minima as codegen'd MIN
    aggregates. Measured faster than the document-local
    array_min(transform(...)) formulation — higher-order lambdas are
    interpreted per element, MIN aggregates stay in whole-stage
    codegen; map-side partial agg reduces the shuffle to one
    (K+1)-column row per doc per partition."""
    # explode before hashing so the hash runs codegen-side per shingle
    # row. fast_hash swaps the md5-based portable hash for xxhash64 —
    # the production path (SCALE.md: md5 is the deliberate DuckDB-
    # parity floor). Signatures differ from the portable ones, so the
    # ORACLE-GATED pipelines never set it; candidate recall vs the
    # portable pipeline is pinned in tests/test_sketch_properties.py.
    h_expr = (
        f"pmod(xxhash64(s), {MINHASH_P})"
        if fast_hash
        else f"{_H60.format(v='s')} % {MINHASH_P}"
    )
    # document-local: hash each shingle ONCE inside the row, then K
    # permuted array_min's — same multiset, same min, zero shuffle
    # (and no explode: the exploded groupBy formulation paid the
    # Generate filter-pushdown re-derivation, see parallel.pos_exploded,
    # plus a corpus-wide (doc, h) exchange; r13 measured this form
    # ~7x faster at sf0.1 and it stays a pure map stage at any scale).
    # Rows match the old explode+groupBy exactly: docs with empty or
    # NULL sh_arr (none survive shingle_array's size filter) drop.
    hashed = docs.where(F.size("sh_arr") > 0).select(
        F.col(id_col),
        F.expr(f"transform(sh_arr, s -> {h_expr})").alias("__h"),
    )
    mins = [
        F.expr(
            f"array_min(transform(__h, h -> (h * {a} + {b}) % {MINHASH_P}))"
        ).alias(f"mh{k}")
        for k, (a, b) in ((k, _perm_params(k)) for k in range(MINHASH_K))
    ]
    return hashed.select(F.col(id_col), *mins)


def minhash_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, mh0..mh{K-1}) MinHash signature over word-n-gram shingles."""
    docs = shingle_array(df, id_col, text_col, n=n)
    return _signature_from_arrays(docs, id_col)


def minhash_bands(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, band_sig, bs0..bs{B-1}) — 60-bit integer hash over
    each band's row values; all bands emitted in one pass via an array
    explode (no self-union). Integer sigs keep the band-join shuffle
    rows at 8 bytes per sig instead of a 32-char md5 string, and every
    row carries ALL band sigs so the candidate join can dedup
    emissions with a column filter (see _candidates_from_bands)."""
    bs_cols = []
    for band in range(MINHASH_BANDS):
        cols = [f"mh{band * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)]
        concat = "concat_ws(',', " + ", ".join(cols) + ")"
        bs_cols.append(F.expr(_H60.format(v=concat)).alias(f"bs{band}"))
    with_sigs = sig.select(F.col(id_col), *bs_cols)
    entries = [
        F.struct(F.lit(b).alias("band"), F.col(f"bs{b}").alias("band_sig"))
        for b in range(MINHASH_BANDS)
    ]
    return with_sigs.select(
        F.col(id_col),
        *[f"bs{b}" for b in range(MINHASH_BANDS)],
        F.explode(F.array(*entries)).alias("b"),
    ).select(
        id_col, "b.band", "b.band_sig", *[f"bs{b}" for b in range(MINHASH_BANDS)]
    )


def _candidates_from_bands(bands: DataFrame, id_col: str) -> DataFrame:
    """Pairs sharing any band bucket, each emitted exactly once, via
    the bucket equi-join (singleton-dominated buckets make a
    collect_list inverted index slower — see operators.dedup module
    notes). Each row carries all four band sigs (bs0..bs3) so a pair
    joined under band b is kept only when every band below b differs
    — a pure column filter that replaces the distinct() shuffle of
    the candidate set (same trick as the SimHash first-matching-chunk
    filter, property-tested there). Callers persist ``bands`` — both
    join sides read it — and release it via operators.cache."""
    keep = ["band", "band_sig"] + [f"bs{i}" for i in range(MINHASH_BANDS)]
    a = bands.select(F.col(id_col).alias("d1"), *keep)
    b_side = bands.select(
        F.col(id_col).alias("d2"),
        F.col("band"),
        F.col("band_sig"),
        *[F.col(f"bs{i}").alias(f"_b{i}") for i in range(MINHASH_BANDS)],
    )
    fm = F.when(F.col("bs0") == F.col("_b0"), F.lit(0))
    for i in range(1, MINHASH_BANDS - 1):
        fm = fm.when(F.col(f"bs{i}") == F.col(f"_b{i}"), F.lit(i))
    first_match = F.col("band") == fm.otherwise(F.lit(MINHASH_BANDS - 1))
    return (
        a.join(b_side, ["band", "band_sig"])
        .where(F.col("d1") < F.col("d2"))
        .where(first_match)
        .select("d1", "d2")
    )


@eager_unless_scoped
def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    scope=None,
) -> DataFrame:
    """Distinct candidate pairs (d1 < d2) sharing any LSH band bucket.
    Cache lifecycle as in operators.cache (eager unless scoped)."""
    bands = scope.persist(
        minhash_bands(minhash_signature(df, id_col, text_col, n), id_col)
    )
    return _candidates_from_bands(bands, id_col)


def _exact_jaccard_for_candidates(
    docs: DataFrame,
    cand: DataFrame,
    id_col: str,
    persist,
    threshold: "float | None" = None,
) -> DataFrame:
    """(d1, d2, jaccard) — exact Jaccard for candidate pairs only,
    with the shingle relation semi-join-restricted to candidate docs
    first (at scale the candidate set is a tiny fraction of the
    corpus, so the intersect stage touches almost nothing). Pairs with
    zero overlap don't appear (callers coalesce if needed).
    ``threshold`` filters on the RAW ratio, before portable rounding —
    matching the oracles' WHERE placement. Shared by the dedup
    pipeline and the estimator query — one implementation, one place
    to fix."""
    sizes = docs.select(F.col(id_col), F.size("sh_arr").alias("n_sh"))
    cand_ids = cand.select(F.col("d1").alias(id_col)).union(
        cand.select(F.col("d2").alias(id_col))
    ).distinct()
    sh_c = persist(
        exploded(
            docs.join(F.broadcast(cand_ids), id_col, "left_semi"),
            [F.col(id_col)], "sh_arr", "shingle",
        )
    )
    a = sh_c.select(F.col(id_col).alias("d1"), "shingle")
    b = sh_c.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .join(cand, ["d1", "d2"], "left_semi")
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_common") * 1.0 / (F.col("n1") + F.col("n2") - F.col("n_common"))
    joined = inter.join(s1, "d1").join(s2, "d2")
    if threshold is not None:
        joined = joined.where(jac >= threshold)
    return joined.select("d1", "d2", fround(jac, 4).alias("jaccard"))


@eager_unless_scoped
def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    scope=None,
    fast_hash: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: candidates from band buckets,
    then exact-Jaccard verification restricted to candidates.
    Returns (d1, d2, jaccard) with jaccard >= threshold.
    Cache lifecycle as in operators.cache (eager unless scoped)."""
    # one shared (id, shingle-array) relation: signatures, sizes, and
    # verification all derive from it document-locally
    docs = scope.persist(shingle_array(df, id_col, text_col, n=n))
    sig = _signature_from_arrays(docs, id_col, fast_hash=fast_hash)
    bands = scope.persist(minhash_bands(sig, id_col))
    cand = scope.persist(_candidates_from_bands(bands, id_col))
    return _exact_jaccard_for_candidates(
        docs, cand, id_col, scope.persist, threshold=threshold
    )


@eager_unless_scoped
def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    scope=None,
) -> DataFrame:
    """Estimated AND exact Jaccard for every LSH candidate pair:
    (d1, d2, est_jaccard, jaccard). The estimate is the classic
    MinHash statistic — the fraction of the K signature components
    that agree — whose expectation is the true Jaccard; emitting both
    per pair makes the estimator's quality itself a gated, engine-
    portable result (both engines derive identical signatures).

    Scale: identical to minhash_dedup_pairs minus the threshold — the
    estimate join touches only (candidate, K-component) rows."""
    docs = scope.persist(shingle_array(df, id_col, text_col, n=n))
    sig = scope.persist(_signature_from_arrays(docs, id_col))
    bands = scope.persist(minhash_bands(sig, id_col))
    cand = scope.persist(_candidates_from_bands(bands, id_col))

    agree = sum(
        F.when(F.col(f"__a{k}") == F.col(f"__b{k}"), 1).otherwise(0)
        for k in range(MINHASH_K)
    )
    s1 = sig.select(
        F.col(id_col).alias("d1"), *[F.col(f"mh{k}").alias(f"__a{k}") for k in range(MINHASH_K)]
    )
    s2 = sig.select(
        F.col(id_col).alias("d2"), *[F.col(f"mh{k}").alias(f"__b{k}") for k in range(MINHASH_K)]
    )
    est = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", fround(agree / F.lit(float(MINHASH_K)), 4).alias("est_jaccard"))
    )
    exact = _exact_jaccard_for_candidates(docs, cand, id_col, scope.persist)
    # candidates with zero shingle overlap (band collision) get 0.0
    return est.join(exact, ["d1", "d2"], "left").select(
        "d1",
        "d2",
        "est_jaccard",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
# 60 bits (h60's full width; max term 2^59 stays in BIGINT): a 16-bit
# signature has only 65k distinct values, so chunk buckets collide
# quadratically once the corpus passes ~10^4 docs — measured 14s at
# sf0.1 vs <2s for 60-bit, and the wider sketch is also the one that
# actually separates near-dups from noise.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 4 x 15-bit chunks: pigeonhole-exact for Hamming <= 3


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over distinct lowercase words.
    Bit j is set iff sum over words of (2*bit_j(h60(word)) - 1) > 0.

    Formulation: explode distinct words, then 60 codegen'd SUM
    aggregates grouped by doc. Measured ~2.3x faster than the
    document-local zip_with/aggregate fold — higher-order lambdas run
    interpreted per element while the explode path stays inside
    whole-stage codegen. The groupBy shuffle is harmless at scale:
    a doc's words are map-side partial-aggregated to ONE 61-column
    row per doc per partition before the exchange."""
    words = exploded(
        fan_out(df.select(F.col(id_col), F.col(text_col))),
        [F.col(id_col)],
        F.expr(f"array_distinct(split({text_col}, ' '))"),
        "__w",
    )
    hashed = words.select(F.col(id_col), F.expr(_H60.format(v="__w")).alias("h"))
    sums = [
        F.sum(F.expr(f"(shiftright(h, {j}) % 2) * 2 - 1")).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sig = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN cast({1 << j} AS bigint)"
        f" ELSE cast(0 AS bigint) END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        hashed.groupBy(id_col).agg(*sums).select(F.col(id_col), F.expr(sig).alias("simhash"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming``, via exact
    pigeonhole banding: 4 chunks of 15 bits — any pair with <= 3
    differing bits shares at least one chunk, so the banded join loses
    nothing vs brute force (and the brute-force SQL oracle matches).

    The one-row-per-doc signature is materialized to scratch parquet
    (eager_release with nothing to unpersist) so the words-explode +
    60-SUM pipeline runs ONCE instead of once per self-join side: r13
    measured every A/B pair faster (median ratio 0.76) vs recompute,
    and 1.77s with the boundary on the corpus-scale PAIR output
    instead (271k pairs at sf0.1 — only the 16-byte-per-doc sig, never
    the pairs, should hit a boundary; guide §5's cheap lineage cut).
    A localCheckpoint variant was rejected twice (r3 and again r13):
    its blocks pin the block manager until the plan is GC'd, so five
    sequential builds grew getPersistentRDDs 3 -> 8 — the scratch
    round trip is the leak-free form (test_cache_discipline pins it).
    A streaming input keeps the lazy signature (a stream cannot be
    written to scratch mid-plan)."""
    sig = simhash(df, id_col, text_col)
    if not df.isStreaming:
        sig = eager_release(sig)
    return simhash_pairs_from_signatures(sig, id_col, max_hamming)


def _simhash_chunk_geometry(max_hamming: int) -> tuple[int, int, int]:
    """Shared banding geometry, generated from SIMHASH_CHUNKS (ADVICE
    r09 #3: the chunk loop must honor the constant in every variant,
    or raising it would silently mis-dedup). Returns (n_chunks,
    chunk_bits, mask) after enforcing the pigeonhole exactness bound."""
    n_chunks = SIMHASH_CHUNKS
    if max_hamming >= n_chunks:
        # pigeonhole: with n chunks, <= n-1 differing bits force a
        # shared chunk. Beyond that the banded join silently DROPS
        # pairs whose differing bits spread across all chunks — make
        # the exactness boundary loud instead.
        raise ValueError(
            f"banded simhash is exact only for max_hamming <= "
            f"{n_chunks - 1}; got {max_hamming} (raise SIMHASH_CHUNKS "
            "or use brute-force XOR for looser bounds)"
        )
    chunk_bits = SIMHASH_BITS // n_chunks
    return n_chunks, chunk_bits, (1 << chunk_bits) - 1


def _simhash_bands(sig: DataFrame, id_col: str, n_chunks: int,
                   chunk_bits: int, mask: int) -> DataFrame:
    """Explode a (id, simhash) relation into one row per chunk —
    pure in-row expression (stream-safe, no shuffle)."""
    entries = [
        F.struct(
            F.lit(c).alias("chunk_id"),
            F.shiftright(F.col("simhash"), c * chunk_bits)
            .bitwiseAND(mask)
            .alias("chunk"),
        )
        for c in range(n_chunks)
    ]
    return sig.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*entries)).alias("b")
    ).select(id_col, "simhash", "b.chunk_id", "b.chunk")


def _simhash_first_match(xor, n_chunks: int, chunk_bits: int, mask: int):
    """Emit each pair from its FIRST matching chunk only: a pair
    joined under chunk c is kept iff every chunk below c differs.
    Pure ALU filter — replaces the distinct() that shuffled the full
    surviving pair set (each pair can match in up to n_chunks
    buckets). Built by looping over range(n_chunks) so the chain
    always covers every chunk."""
    if n_chunks == 1:
        return F.col("chunk_id") == F.lit(0)
    fm = F.when(
        F.shiftright(xor, 0).bitwiseAND(mask) == 0, F.lit(0)
    )
    for c in range(1, n_chunks - 1):
        fm = fm.when(
            F.shiftright(xor, c * chunk_bits).bitwiseAND(mask) == 0, F.lit(c)
        )
    return F.col("chunk_id") == fm.otherwise(F.lit(n_chunks - 1))


def simhash_pairs_from_signatures(
    sig: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Banded pair generation over a (id, simhash) relation. Exactness
    contract (property-tested in tests/test_sketch_properties.py
    against a brute-force cross join): output == all pairs with
    Hamming <= max_hamming, each EXACTLY once — the first-matching-
    chunk filter dedups emission without a shuffle."""
    n_chunks, chunk_bits, mask = _simhash_chunk_geometry(max_hamming)
    bands = _simhash_bands(sig, id_col, n_chunks, chunk_bits, mask)
    a = bands.select(
        F.col(id_col).alias("d1"), F.col("simhash").alias("h1"), "chunk_id", "chunk"
    )
    b = bands.select(
        F.col(id_col).alias("d2"), F.col("simhash").alias("h2"), "chunk_id", "chunk"
    )
    xor = F.col("h1").bitwiseXOR(F.col("h2"))
    ham = F.bit_count(xor)
    first_match = _simhash_first_match(xor, n_chunks, chunk_bits, mask)
    return (
        a.join(b, ["chunk_id", "chunk"])
        .where(F.col("d1") < F.col("d2"))
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .where(first_match)
        .select("d1", "d2", "hamming")
    )


def simhash_pairs_cross(
    new_sig: DataFrame,
    corpus_sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Cross-relation banded Hamming screen: every (new, corpus) pair
    within ``max_hamming`` bits, each emitted EXACTLY once — the
    incremental/streaming twin of ``simhash_pairs_from_signatures``
    (same pigeonhole exactness proof, same first-matching-chunk
    dedup). Both inputs are (id, simhash) relations; ids live in
    separate spaces, so no d1<d2 ordering is applied. The corpus side
    is NEVER broadcast-hinted (it is corpus-sized — the
    q_stream_ann_serve lesson); the new side's band explode is a pure
    in-row expression, so this works stream-static with the new side
    streaming. Returns (new_id, dup_of, hamming)."""
    n_chunks, chunk_bits, mask = _simhash_chunk_geometry(max_hamming)

    def bands(sig: DataFrame) -> DataFrame:
        return _simhash_bands(sig, id_col, n_chunks, chunk_bits, mask)

    a = bands(new_sig).select(
        F.col(id_col).alias("new_id"),
        F.col("simhash").alias("h1"),
        "chunk_id",
        "chunk",
    )
    b = bands(corpus_sig).select(
        F.col(id_col).alias("dup_of"),
        F.col("simhash").alias("h2"),
        "chunk_id",
        "chunk",
    )
    xor = F.col("h1").bitwiseXOR(F.col("h2"))
    ham = F.bit_count(xor)
    first_match = _simhash_first_match(xor, n_chunks, chunk_bits, mask)
    return (
        a.join(b, ["chunk_id", "chunk"])
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .where(first_match)
        .select("new_id", "dup_of", "hamming")
    )
