"""Distributed unigram-LM (SentencePiece-style) tokenizer training.

The OTHER canonical subword algorithm (Kudo 2018, arXiv:1804.10959;
the SentencePiece default): score every candidate piece with a unigram
language model and segment each word with the Viterbi-best (lowest
total cost) piece sequence. Training is hard-EM: E-step = Viterbi
segmentation of the corpus under the current piece costs, M-step =
re-estimate piece probabilities from the segmentation counts, plus a
pruning step that keeps the vocabulary at ``vocab_size``. Complements
:mod:`huckli_spark.operators.bpe` (greedy merges) with the
probabilistic trainer real pipelines choose between.

Distribution shape (the part that matters at 100 TB):
- The corpus collapses to a (word, freq) relation ONCE (the same
  collapse ``bpe_train`` uses) — every EM iteration touches
  vocab-/word-table-sized data, never the corpus again.
- The E-step is MAP-ONLY: the piece table travels as one broadcast
  row holding a ``map<piece, cost>`` (the broadcast-codebook idiom of
  ``clustering.kmeans_fit``), and the whole Viterbi DP — forward keys
  and backtrack — runs as in-row higher-order folds (JVM, whole-stage
  codegen, no Python). The only shuffle per iteration is the
  vocab-sized piece-count groupBy (map-side combined).
- Nothing is quadratic: candidates are bounded by ``max_piece_len``
  substrings per word position, the DP is O(len * max_piece_len) per
  word, and every rank cut is a TakeOrdered (no global sort).

Fixed-point portability: piece costs are integer micro-nats
(``-floor(ln(p_smoothed) * 1e6 + 0.5)``, the house discipline of
q_unigram_logprob), so Viterbi comparisons, tie-breaks, and counts are
exact integer arithmetic — bit-identical across engines and
partitionings. The Viterbi tie-break is encoded IN the DP key:
``key = total_cost * JSHIFT + j`` (j = start of the last piece), so
``min`` picks lowest cost, then the longest final piece. Words are
truncated to ``WCAP`` chars identically in both engines (the fixture
max is 8; the cap is a documented contract, not an assumption).

Verification: ``unigram_fit_local`` is a pure-Python single-node
reference trained differentially in tests/test_unigram_lm.py (vocab,
costs, and tokenizations must match exactly); the full trainer +
final corpus segmentation is SQL-oracle-gated end to end
(q_unigram_tokenize) via :func:`unigram_oracle_sql`, which unrolls
the Viterbi DP as generated forward/backtrack CTEs.

Reference scope note: the reference engine (huckli) ships no
tokenizer — this operator is part of the training-data toolkit the
build brief adds beyond reference parity.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Words are truncated to WCAP chars in BOTH engines before any
# statistics (identical truncation => identical results even if a
# longer word appears; fixture max word length is 8).
WCAP = 16
# DP key = cost * JSHIFT + j. JSHIFT > WCAP so j never collides;
# costs stay < 2^40 so the key fits comfortably in BIGINT.
JSHIFT = 32
# OOV policy (ADVICE r08 #1): single-character coverage is guaranteed
# only for the TRAINING corpus, but the stored table explicitly serves
# new corpora (tokenizer_store), where unseen characters are likely.
# Every path — the Spark in-row DP, the pure-Python twin, and the
# DuckDB oracle — falls back to the raw character as its own piece at
# a fixed penalty of UNK_COST micro-nats (SentencePiece's
# byte-fallback shape: emit the surface char, never a cost-0 phantom
# token). e^-48 is below any trainable piece probability on corpora
# up to ~1e20 tokens, so the fallback can never outbid a real piece;
# a 16-char all-OOV word keys at 48e6*16*32 < 2^35, comfortably in
# the BIGINT key budget.
UNK_COST = 48_000_000


# ------------------------------------------------------------------ words
def word_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): corpus collapsed once, words capped at WCAP.
    fan_out: the explode is the corpus-sized map stage — single-
    row-group inputs must not pin it to one core (no-op on wide
    layouts)."""
    from huckli_spark.operators.parallel import fan_out

    return (
        fan_out(docs.select(F.col(text_col)))
        .select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .select(F.substring("w", 1, WCAP).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


# ------------------------------------------------------- candidate seeding
def _candidate_pieces(words: DataFrame, max_piece_len: int) -> DataFrame:
    """(piece, score): every substring of length 1..max_piece_len of
    every word, scored by frequency-weighted occurrence count (each
    start position counts — the suffix-array seed statistic of the
    paper, computed relationally)."""
    slots = F.expr(
        f"flatten(transform(sequence(1, {max_piece_len}), l -> "
        "CASE WHEN length(word) >= l THEN "
        "transform(sequence(1, length(word) - l + 1), "
        "s -> named_struct('s', s, 'l', l)) "
        "ELSE cast(array() as array<struct<s:int,l:int>>) END))"
    )
    return (
        words.select(F.explode(slots).alias("sl"), "word", "freq")
        .select(
            F.expr("substring(word, sl.s, sl.l)").alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("score"))
    )


def _costed(vocab_scored: DataFrame, score_col: str) -> DataFrame:
    """M-step: (piece, cost) with cost = -floor(ln((s+1)/(tot+V))*1e6
    + 0.5) — add-one smoothing over the KEPT vocabulary, so every
    piece (even count-0 survivors) has a finite cost.

    The normalizer travels as an unpartitioned window over the
    vocab-sized relation (bounded by ``vocab_size`` — never corpus-
    sized; the single-partition WindowExec warning is the accepted
    cost, as in q_source_overlap's share-of-corpus window): the old
    agg+crossJoin(broadcast) form cost one extra driver round-trip
    job per EM iteration, and a constant-key shuffle join costs an
    AQE re-plan per call — A/B at sf0.1 (fit, 2 iters, bit-identical
    vocab all three ways): window 7.8 s, broadcast 16.1 s,
    constant-key join 14.1 s."""
    from pyspark.sql import Window

    w = Window.partitionBy()
    return (
        vocab_scored.select(
            "piece",
            F.col(score_col),
            # sum in the native LONG type, cast once: windowed double
            # accumulation loses exactness past 2^53 total mass and
            # becomes row-order-dependent, which could flip a
            # borderline ln()*1e6 micro-nat cost across runs
            # (ADVICE r10 #1)
            F.sum(F.col(score_col)).over(w).cast("double").alias("__tot"),
            F.count("*").over(w).cast("double").alias("__v"),
        )
        .select(
            "piece",
            (
                -F.floor(
                    F.log(
                        (F.col(score_col) + F.lit(1.0))
                        / (F.col("__tot") + F.col("__v"))
                    )
                    * 1000000
                    + F.lit(0.5)
                )
            )
            .cast("long")
            .alias("cost"),
        )
    )


def _keep_top(scored: DataFrame, score_col: str, vocab_size: int,
              n_chars: int) -> DataFrame:
    """Prune to vocab_size: ALL single chars (segmentability
    guarantee) + the top multi-char pieces by (score desc, piece asc)
    — a TakeOrdered cut, never a global sort."""
    chars = scored.where(F.length("piece") == 1)
    k = max(vocab_size - n_chars, 0)
    multi = (
        scored.where(F.length("piece") > 1)
        .orderBy(F.desc(score_col), F.asc("piece"))
        .limit(k)
    )
    return chars.unionByName(multi)


# ------------------------------------------------------------ Viterbi fold
def _forward_expr(max_piece_len: int, word: str = "word",
                  vc: str = "__vc") -> str:
    """Forward DP as one in-row fold. acc[pos+1] = best key reaching
    pos; key = cost * JSHIFT + j (min => lowest cost, then smallest
    j = longest last piece). ``word``/``vc`` are the SQL expressions
    for the word and the piece-cost map — column references in the
    batch path, lambda variables / literals in the streaming in-row
    path. The single-char arm (j = t-1) coalesces an out-of-vocab
    character to ``UNK_COST`` (module OOV policy), so every position
    is always reachable and OOV chars surface as penalized
    char-fallback pieces instead of silent cost-0 tokens."""
    return (
        f"aggregate(sequence(1, length({word})), array(cast(0 as bigint)),"
        " (acc, t) -> acc || array(array_min(filter(transform("
        f"sequence(greatest(0, t - {max_piece_len}), t - 1),"
        " j -> CASE WHEN j = t - 1 THEN"
        f" (element_at(acc, j + 1) div {JSHIFT}"
        f" + coalesce(try_element_at({vc}, substring({word}, j + 1, 1)),"
        f" cast({UNK_COST} as bigint)))"
        f" * {JSHIFT} + j"
        f" WHEN try_element_at({vc}, substring({word}, j + 1, t - j))"
        " IS NOT NULL THEN"
        f" (element_at(acc, j + 1) div {JSHIFT}"
        f" + try_element_at({vc}, substring({word}, j + 1, t - j)))"
        f" * {JSHIFT} + j"
        " ELSE cast(null as bigint) END), x -> x IS NOT NULL))))"
    )


def _backtrack_expr(word: str = "word", best: str = "__best") -> str:
    return (
        f"reverse(aggregate(sequence(1, length({word})),"
        f" named_struct('pos', cast(length({word}) as int),"
        " 'ps', cast(array() as array<string>)),"
        " (st, i) -> CASE WHEN st.pos <= 0 THEN st ELSE named_struct("
        f" 'pos', cast(element_at({best}, st.pos + 1) % {JSHIFT} as int),"
        f" 'ps', st.ps || array(substring({word},"
        f" cast(element_at({best}, st.pos + 1) % {JSHIFT} as int) + 1,"
        f" st.pos - cast(element_at({best}, st.pos + 1) % {JSHIFT} as int))))"
        " END, st -> st.ps))"
    )


_BACKTRACK = _backtrack_expr()


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def frozen_vocab_expr(vocab_rows: list) -> str:
    """Bake a trained (piece, cost) table as a map literal for
    stateless streaming serving (the q_stream_dsir baked-table
    pattern). Plan size is O(vocab); MEASURED crossover
    (SCALE_PROBE_unigram_vocab.json, 100k docs): the literal wins at
    1k/8k pieces, loses by 32k (238 s vs 146 s — a 3.5 MB expression
    to compile), so above ~10k pieces production serves via
    foreachBatch with ``encode_docs_broadcast``'s one-row broadcast
    map instead."""
    entries = ", ".join(
        f"{_sql_str(p)}, {int(c)}L" for p, c in sorted(vocab_rows)
    )
    return f"map({entries})"


def _tokens_expr(vc: str, lmax, text_col: str) -> str:
    """The document-tokenize expression core, parameterized on the
    vocab-map SQL expression (a baked literal OR the broadcast
    ``__vc`` column) and the lookback bound (an int or ``__vmax``):
    split to words (WCAP-truncated), per-word forward DP + backtrack.
    Returns a struct(tokens array<string>, cost_micro bigint)
    expression."""
    words = (
        f"transform(filter(split({text_col}, ' '), x -> x <> ''),"
        f" x -> substring(x, 1, {WCAP}))"
    )
    staged = (
        f"transform({words}, w -> named_struct('w', w,"
        f" 'best', {_forward_expr(lmax, 'w', vc)}))"
    )
    return (
        f"named_struct('tokens', flatten(transform({staged},"
        f" s -> {_backtrack_expr('s.w', 's.best')})),"
        f" 'cost_micro', aggregate({staged}, cast(0 as bigint),"
        " (acc, s) -> acc + element_at(s.best, length(s.w) + 1)"
        f" div {JSHIFT}))"
    )


def tokens_in_row_expr(vocab_rows: list, max_piece_len: int,
                       text_col: str = "text") -> str:
    """Whole-document tokenization as ONE stateless in-row
    expression against the baked vocab LITERAL (plan weight O(vocab);
    the streaming serving path at vocabs in the thousands)."""
    return _tokens_expr(frozen_vocab_expr(vocab_rows), max_piece_len,
                        text_col)


# Literal-vs-broadcast crossover, MEASURED (SCALE_PROBE_unigram_vocab
# .json, 100k docs x 12 words): the baked literal wins at 1k (5.0 vs
# 15.5 s) and 8k pieces (33.9 vs 57.3 s), loses at 32k (237.6 vs
# 145.8 s — a 3.5 MB expression to compile). The flip is between 8k
# and 32k; 10k is the documented "above ~10k serve via broadcast"
# operating point.
LITERAL_PIECE_BOUND = 10_000


def encode_docs(
    docs: DataFrame,
    vocab: DataFrame,
    max_piece_len: int | None = None,
    text_col: str = "text",
    plan_form: str = "auto",
) -> DataFrame:
    """THE batch serving entry point (VERDICT r10 #7): one call that
    picks the tokenization plan form itself, mirroring
    ``clustering.kmeans_fit``'s broadcast-codebook auto-switch.

    'literal' bakes the (piece, cost) table into the in-row DP
    expression (fastest below ~10k pieces); 'broadcast' ships it as a
    one-row broadcast map (plan O(1) in vocab — the 100k-piece
    regime); 'auto' switches on ``LITERAL_PIECE_BOUND`` using the
    vocab's own row count. Output is bit-identical across arms
    (pinned in tests/test_unigram_lm.py at the boundary): the input
    columns plus ``tk struct<tokens array<string>, cost_micro
    bigint>``. Streaming keeps calling :func:`tokens_in_row_expr`
    directly — a stateless stream can't re-resolve a broadcast, so
    the literal IS its production form (foreachBatch callers get the
    switch by calling this)."""
    from huckli_spark.operators.parallel import fan_out

    if plan_form not in ("auto", "literal", "broadcast"):
        raise ValueError(f"plan_form must be auto|literal|broadcast, "
                         f"got {plan_form!r}")
    if plan_form == "auto":
        # vocab relations are vocab-sized by construction; the count
        # is the same bounded scan the literal arm's collect would do
        plan_form = (
            "literal" if vocab.count() <= LITERAL_PIECE_BOUND
            else "broadcast"
        )
    if plan_form == "broadcast":
        return encode_docs_broadcast(docs, vocab, max_piece_len, text_col)
    rows = [(r["piece"], r["cost"]) for r in vocab.collect()]
    if not rows:
        # auto routes count 0 <= bound here; without this guard the
        # lmax max() below raises a bare 'max() arg is an empty
        # sequence' (ADVICE r11 #4)
        raise ValueError(
            "vocab is empty — train or load a vocab before encoding"
        )
    lmax = (max_piece_len if max_piece_len is not None
            else max(len(p) for p, _ in rows))
    return fan_out(docs).withColumn(
        "tk", F.expr(tokens_in_row_expr(rows, lmax, text_col))
    )


def encode_docs_broadcast(docs: DataFrame, vocab: DataFrame,
                          max_piece_len: int | None = None,
                          text_col: str = "text") -> DataFrame:
    """Document-level tokenization via the ONE-ROW broadcast vocab
    map — the production serving path at 100k+ piece vocabs, where
    the baked literal's O(vocab) plan weight is prohibitive (the
    frozen_vocab_expr trade, measured in
    SCALE_PROBE_unigram_vocab.json). Same in-row DP; plan size O(1)
    in vocab. In streaming, run this inside foreachBatch (the
    broadcast re-resolves per micro-batch). Output is bit-identical
    to the literal path (pinned in tests/test_unigram_lm.py):
    (input columns..., tk struct<tokens array<string>, cost_micro
    bigint>)."""
    from huckli_spark.operators.parallel import fan_out

    expr = _tokens_expr("__vc", _lspec(max_piece_len), text_col)
    return (
        fan_out(docs)
        .crossJoin(F.broadcast(_vocab_onerow(vocab)))
        .withColumn("tk", F.expr(expr))
        .drop("__vc", "__vmax")
    )


def _vocab_onerow(vocab: DataFrame) -> DataFrame:
    """Piece table as ONE broadcast row of map<piece, cost> (+ the
    vocab's max piece length) — plan size O(1) regardless of vocab
    size (the kmeans broadcast-codebook trade: a 100k-piece vocab
    must not bake a 100k-literal plan)."""
    return vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "cost"))).alias(
            "__vc"
        ),
        F.max(F.length("piece")).alias("__vmax"),
    )


def _lspec(max_piece_len) -> str:
    """The DP's lookback bound: an explicit int, or None to derive
    it from the broadcast vocab row itself (``__vmax``) — eliminates
    the train-with-L-6-encode-with-L-4 silent-mismatch hazard."""
    return str(max_piece_len) if max_piece_len is not None else "__vmax"


def segment_words(words: DataFrame, vocab: DataFrame,
                  max_piece_len: int | None) -> DataFrame:
    """(word, freq, pieces): Viterbi-best segmentation of every word
    under the (piece, cost) table. Map-only: broadcast vocab row +
    two in-row folds. Every corpus char is a single-char piece of the
    vocab by construction, so the DP always completes.
    ``max_piece_len=None`` derives the lookback from the vocab."""
    return (
        words.crossJoin(F.broadcast(_vocab_onerow(vocab)))
        .withColumn("__best", F.expr(_forward_expr(_lspec(max_piece_len))))
        .select("word", "freq", F.expr(_BACKTRACK).alias("pieces"))
    )


def piece_counts(words: DataFrame, vocab: DataFrame,
                 max_piece_len: int | None) -> DataFrame:
    """E-step statistics: (piece, c) frequency-weighted usage counts
    under the Viterbi segmentation. One map-side-combined groupBy —
    the iteration's only shuffle."""
    return (
        segment_words(words, vocab, max_piece_len)
        .select(F.explode("pieces").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("c"))
    )


# ------------------------------------------------------------------- train
def _vocab_literal(spark, rows: list) -> DataFrame:
    """(piece, cost) rows as a VALUES literal — a JVM LocalRelation,
    so downstream plans root in a constant instead of a checkpointed
    RDD. Bounded by vocab_size (the collected-codebook discipline
    kmeans_fit uses for its centroids)."""
    vals = ", ".join(f"({_sql_str(p)}, {int(c)}L)" for p, c in rows)
    return spark.sql(f"SELECT col1 AS piece, col2 AS cost FROM VALUES {vals}")


def _keep_top_local(scored: list, vocab_size: int, n_chars: int) -> list:
    """Driver twin of :func:`_keep_top` over (piece, score) tuples:
    ALL single chars + the top multi-char pieces by (score desc,
    piece asc). Exact integer compares; Python str order equals
    Spark's UTF8 binary order (both compare code points)."""
    chars = [(p, s) for p, s in scored if len(p) == 1]
    k = max(vocab_size - n_chars, 0)
    multi = sorted(
        ((p, s) for p, s in scored if len(p) > 1),
        key=lambda t: (-t[1], t[0]),
    )[:k]
    return chars + multi


def _costed_literal(spark, scored_kept: list) -> DataFrame:
    """Driver-assembled M-step: the add-one-smoothed cost expression
    of :func:`_costed` evaluated by Spark SQL over a VALUES literal —
    the normalizer totals are exact Python ints (same longs the
    window produced), and log/floor stay Spark expressions, so every
    micro-nat cost is bit-identical to the windowed form."""
    tot = sum(s for _, s in scored_kept)
    v = len(scored_kept)
    vals = ", ".join(
        f"({_sql_str(p)}, {int(s)}L)" for p, s in scored_kept
    )
    return spark.sql(
        "SELECT col1 AS piece, CAST(-floor(log((col2 + 1.0) /"
        f" (CAST({tot} AS DOUBLE) + CAST({v} AS DOUBLE)))"
        " * 1000000 + 0.5) AS BIGINT) AS cost"
        f" FROM VALUES {vals}"
    )


def unigram_fit(
    docs: DataFrame,
    vocab_size: int = 60,
    n_iters: int = 2,
    max_piece_len: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Train the unigram-LM piece table; returns (piece, cost) with
    integer micro-nat costs. Corpus-scale work stays dataflow: the
    candidate seeding and each E-step run distributed (one
    piece-counts job per iteration, its output bounded by the vocab).
    The vocab-sized bookkeeping between E-steps (keep-top, add-one
    costs) runs on collected rows — vocab_size-bounded, the
    collected-codebook discipline kmeans_fit already uses — with the
    cost expression still evaluated by Spark SQL over a VALUES
    literal, so every cost is bit-identical to the former windowed
    form (r13: this removed one localCheckpoint round-trip plus a
    window/TakeOrdered stage chain per iteration, ~2x on fit wall)."""
    spark = docs.sparkSession
    words = word_table(docs, text_col).persist()
    # No separate materialize action: the first downstream job (the
    # n_chars count) fills the cache in-line, and every later
    # iteration reads the cached relation — one fewer corpus-scan
    # round trip per fit.
    try:
        cand = _candidate_pieces(words, max_piece_len)
        # chars never change across iterations (always kept)
        n_chars = cand.where(F.length("piece") == 1).count()
        # seed: keep-top runs distributed (the candidate relation is
        # corpus-vocab-sized); the 60-row costed result collects once
        vocab_rows = [
            (r["piece"], int(r["cost"]))
            for r in _costed(
                _keep_top(cand, "score", vocab_size, n_chars), "score"
            ).collect()
        ]
        vocab = _vocab_literal(spark, vocab_rows)
        for _ in range(n_iters):
            counts = {
                r["piece"]: int(r["c"])
                for r in piece_counts(words, vocab, max_piece_len).collect()
            }
            scored = [(p, counts.get(p, 0)) for p, _ in vocab_rows]
            kept = _keep_top_local(scored, vocab_size, n_chars)
            vocab = _costed_literal(spark, kept)
            vocab_rows = [
                (r["piece"], int(r["cost"])) for r in vocab.collect()
            ]
        return vocab
    finally:
        words.unpersist()


def unigram_table(
    docs: DataFrame,
    vocab_size: int = 60,
    n_iters: int = 2,
    max_piece_len: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Gate relation: final (piece, cost_micro, corpus_count) — the
    trained table plus one final segmentation pass, so the output
    hash covers training AND encoding."""
    vocab = unigram_fit(docs, vocab_size, n_iters, max_piece_len, text_col)
    words = word_table(docs, text_col)
    final_counts = piece_counts(words, vocab, max_piece_len)
    return vocab.join(final_counts, "piece", "left").select(
        "piece",
        F.col("cost").alias("cost_micro"),
        F.coalesce("c", F.lit(0)).cast("long").alias("corpus_count"),
    )


def unigram_encode(
    docs: DataFrame,
    vocab: DataFrame,
    max_piece_len: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, tokens, n_tokens): tokenize documents under a frozen
    (piece, cost) table. Words segment map-only (broadcast vocab);
    the one shuffle reassembles tokens in word order per document."""
    from huckli_spark.operators.parallel import fan_out

    # fan_out: the per-word DP below is the corpus-sized compute —
    # single-row-group inputs must not pin it to one core
    pos_words = fan_out(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    ).where(F.length("w") > 0).select(
        id_col, "pos", F.substring("w", 1, WCAP).alias("word")
    )
    seg = pos_words.crossJoin(F.broadcast(_vocab_onerow(vocab))).withColumn(
        "__best", F.expr(_forward_expr(_lspec(max_piece_len)))
    ).select(id_col, "pos", F.expr(_BACKTRACK).alias("pieces"))
    return (
        seg.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "pieces"))
                    ),
                    lambda s: s["pieces"],
                )
            ).alias("tokens")
        )
        .select(id_col, "tokens", F.size("tokens").alias("n_tokens"))
    )


# ----------------------------------------------- Arrow encode-counts kernel
def _word_ntok_cost(word: str, vc: dict, max_piece_len: int) -> tuple:
    """(n_tokens, cost) for ONE word — the exact integer op chain of
    ``_forward_expr`` + ``_backtrack_expr`` (same JSHIFT key packing,
    same UNK_COST single-char fallback, same min tie-break). Every
    quantity is a Python int, so the replay is bit-identical to the
    SQL fold by construction (pinned in tests/test_unigram_lm.py)."""
    best = [0]
    L = len(word)
    for t in range(1, L + 1):
        c1 = vc.get(word[t - 1 : t], UNK_COST)
        m = (best[t - 1] // JSHIFT + c1) * JSHIFT + (t - 1)
        for j in range(max(0, t - max_piece_len), t - 1):
            c = vc.get(word[j:t])
            if c is not None:
                k = (best[j] // JSHIFT + c) * JSHIFT + j
                if k < m:
                    m = k
        best.append(m)
    nt, pos = 0, L
    while pos > 0:
        pos = best[pos] % JSHIFT
        nt += 1
    return nt, best[L] // JSHIFT


def encode_counts(
    docs: DataFrame,
    vocab_rows: list,
    max_piece_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str | None = None,
) -> DataFrame:
    """(id, n_tokens, cost_micro) for every document with >= 1 token —
    the streaming-serve relation of q_unigram_serve /
    q_stream_unigram_encode. Works on batch AND streaming inputs
    (mapInPandas is stateless, so the stream stays append-mode with
    zero state store).

    Default ``arrow`` form (guide §4.2, the r13 triplets discipline):
    one mapInPandas kernel replays the integer Viterbi DP in Python
    with a per-task memo keyed on the word string — the DP runs once
    per DISTINCT word per task instead of once per word INSTANCE
    (Zipf makes distinct << instances at any scale), and only
    (id, text) crosses the Arrow boundary. Measured at sf0.1
    (paired in-session A/B, 4 pairs): SQL in-row fold 2.3 s/run vs
    Arrow kernel 0.75 s/run, ratio 0.34, rows bit-identical (all
    arithmetic is int64). ``form='sql'`` (or
    SPARK_GRAFT_UNIGRAM_ENCODE=sql) keeps the pure-JVM in-row
    expression — the no-Python-runtime deployment escape hatch."""
    import os

    if form is None:
        form = os.environ.get("SPARK_GRAFT_UNIGRAM_ENCODE", "arrow")
    if form == "sql":
        expr = tokens_in_row_expr(vocab_rows, max_piece_len, text_col)
        return (
            docs.select(id_col, F.expr(expr).alias("tk"))
            .select(
                id_col,
                F.size("tk.tokens").cast("long").alias("n_tokens"),
                F.col("tk.cost_micro").alias("cost_micro"),
            )
            .where(F.col("n_tokens") > 0)
        )

    import pandas as pd

    vc = dict(vocab_rows)
    lmax = max_piece_len
    id_type = docs.schema[id_col].dataType.simpleString()
    if id_type != "bigint":
        raise ValueError(
            f"encode_counts arrow form requires a bigint {id_col!r} "
            f"(got {id_type}); pass form='sql' for other id types"
        )

    # A NULL id crosses as 0 plus a flag: Arrow->pandas turns a bigint
    # column holding nulls into float64, which is inexact past 2^53.
    def kernel(batches):
        memo: dict = {}
        for pdf in batches:
            ids, nts, cms = [], [], []
            for i, null, txt in zip(
                pdf[id_col].values, pdf["__id_null"].values, pdf[text_col]
            ):
                if txt is None:
                    continue
                nt = 0
                cm = 0
                for w in txt.split(" "):
                    if not w:
                        continue
                    w = w[:WCAP]
                    r = memo.get(w)
                    if r is None:
                        r = _word_ntok_cost(w, vc, lmax)
                        memo[w] = r
                    nt += r[0]
                    cm += r[1]
                if nt > 0:
                    ids.append(None if null else i)
                    nts.append(nt)
                    cms.append(cm)
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="Int64"),
                    "n_tokens": pd.array(nts, dtype="int64"),
                    "cost_micro": pd.array(cms, dtype="int64"),
                }
            )

    return docs.select(
        F.coalesce(id_col, F.lit(0)).alias(id_col),
        F.col(id_col).isNull().alias("__id_null"),
        text_col,
    ).mapInPandas(kernel, f"{id_col} {id_type}, n_tokens long, cost_micro long")


# --------------------------------------------------- pure-Python reference
def _viterbi_local(word: str, cost: dict, max_piece_len: int) -> list:
    word = word[:WCAP]
    best = [0]
    for t in range(1, len(word) + 1):
        # single-char arm always exists: OOV chars fall back to
        # UNK_COST (module OOV policy)
        c1 = cost.get(word[t - 1 : t], UNK_COST)
        cands = [(best[t - 1] // JSHIFT + c1) * JSHIFT + (t - 1)]
        for j in range(max(0, t - max_piece_len), t - 1):
            piece = word[j:t]
            if piece in cost:
                cands.append((best[j] // JSHIFT + cost[piece]) * JSHIFT + j)
        best.append(min(cands))
    pieces, pos = [], len(word)
    while pos > 0:
        j = best[pos] % JSHIFT
        pieces.append(word[j:pos])
        pos = j
    return list(reversed(pieces))


def unigram_fit_local(
    texts: list,
    vocab_size: int = 60,
    n_iters: int = 2,
    max_piece_len: int = 4,
) -> dict:
    """Single-node reference with the same integer arithmetic —
    the differential twin of ``unigram_fit``."""
    freqs: dict = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                w = w[:WCAP]
                freqs[w] = freqs.get(w, 0) + 1

    def costed(scored: dict) -> dict:
        tot = float(sum(scored.values()))
        v = float(len(scored))
        return {
            p: -math.floor(math.log((s + 1.0) / (tot + v)) * 1000000 + 0.5)
            for p, s in scored.items()
        }

    def keep_top(scored: dict, n_chars: int) -> dict:
        chars = {p: s for p, s in scored.items() if len(p) == 1}
        multi = sorted(
            ((p, s) for p, s in scored.items() if len(p) > 1),
            key=lambda ps: (-ps[1], ps[0]),
        )[: max(vocab_size - n_chars, 0)]
        out = dict(chars)
        out.update(dict(multi))
        return out

    cand: dict = {}
    for w, f in freqs.items():
        for ln in range(1, max_piece_len + 1):
            for s in range(len(w) - ln + 1):
                p = w[s : s + ln]
                cand[p] = cand.get(p, 0) + f
    n_chars = sum(1 for p in cand if len(p) == 1)
    vocab = costed(keep_top(cand, n_chars))
    for _ in range(n_iters):
        counts = {p: 0 for p in vocab}
        for w, f in freqs.items():
            for p in _viterbi_local(w, vocab, max_piece_len):
                counts[p] += f
        vocab = costed(keep_top(counts, n_chars))
    return vocab


def unigram_counts_local(texts: list, vocab: dict,
                         max_piece_len: int = 4) -> dict:
    freqs: dict = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                w = w[:WCAP]
                freqs[w] = freqs.get(w, 0) + 1
    counts = {p: 0 for p in vocab}
    for w, f in freqs.items():
        for p in _viterbi_local(w, vocab, max_piece_len):
            counts[p] += f
    return counts


def word_stats(words: DataFrame, vocab: DataFrame,
               max_piece_len: int | None) -> DataFrame:
    """(word, np, wcost): per-distinct-word token count and total
    Viterbi cost under the frozen table — computed ONCE per word,
    then joinable back to documents (never re-derived per
    occurrence)."""
    return (
        words.crossJoin(F.broadcast(_vocab_onerow(vocab)))
        .withColumn("__best", F.expr(_forward_expr(_lspec(max_piece_len))))
        .select(
            "word",
            F.expr(f"element_at(__best, length(word) + 1) div {JSHIFT}")
            .cast("long")
            .alias("wcost"),
            F.size(F.expr(_BACKTRACK)).cast("long").alias("np"),
        )
    )


# ------------------------------------------------------------- oracle SQL
def _oracle_parts(
    vocab_size: int,
    n_iters: int,
    max_piece_len: int,
    table: str,
    text_col: str,
) -> list:
    """Shared CTE prefix of both oracles: seeding, every EM iteration
    (forward DP + backtrack as unrolled CTEs), pruning, M-step, and a
    final segmentation pass under vocab{n_iters}. The same
    generated-unrolled-iteration pattern as the logreg / pagerank
    oracles; AS MATERIALIZED keeps DuckDB from re-evaluating shared
    CTEs (the round-7 CTE lesson)."""
    L, W, S = max_piece_len, WCAP, JSHIFT
    parts = [
        f"""words AS MATERIALIZED (
  SELECT substr(w, 1, {W}) AS word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split({text_col}, ' ')) AS w FROM {table}
  ) WHERE length(w) > 0 GROUP BY 1
)""",
        f"""cand AS MATERIALIZED (
  SELECT substr(word, s, l) AS piece, CAST(sum(freq) AS BIGINT) AS score
  FROM words, range(1, {L + 1}) t(l), range(1, {W + 1}) ts(s)
  WHERE s + l - 1 <= length(word)
  GROUP BY 1
)""",
        """nch AS (SELECT count(*) AS n FROM cand WHERE length(piece) = 1)""",
    ]

    def keep(src: str, score: str, out: str) -> str:
        return f"""{out} AS MATERIALIZED (
  SELECT piece, {score} AS s FROM {src} WHERE length(piece) = 1
  UNION ALL
  SELECT piece, s FROM (
    SELECT piece, {score} AS s,
           row_number() OVER (ORDER BY {score} DESC, piece) AS rnk
    FROM {src} WHERE length(piece) > 1)
  WHERE rnk <= {vocab_size} - (SELECT n FROM nch)
)"""

    def costed(src: str, out: str) -> str:
        return f"""{out} AS MATERIALIZED (
  SELECT piece,
         -CAST(floor(ln((s * 1.0 + 1) / (tot + v)) * 1000000 + 0.5)
               AS BIGINT) AS cost
  FROM {src}, (SELECT sum(s) * 1.0 AS tot, count(*) * 1.0 AS v FROM {src})
)"""

    parts.append(keep("cand", "score", "keep0"))
    parts.append(costed("keep0", "vocab0"))

    def dp_block(i: int, vocab: str) -> list:
        blk = [
            f"""b{i}_0 AS (SELECT word, CAST(0 AS BIGINT) AS k FROM words)"""
        ]
        for t in range(1, W + 1):
            arms = []
            for j in range(max(0, t - L), t):
                if j == t - 1:
                    # single-char arm: LEFT JOIN + UNK_COST fallback
                    # (module OOV policy — matches _forward_expr)
                    arms.append(
                        f"""    SELECT b.word,
           (b.k // {S} + COALESCE(vc.cost, {UNK_COST})) * {S} + {j} AS cnd
    FROM b{i}_{j} b LEFT JOIN {vocab} vc
      ON vc.piece = substr(b.word, {j + 1}, 1)
    WHERE length(b.word) >= {t}"""
                    )
                    continue
                arms.append(
                    f"""    SELECT b.word,
           (b.k // {S} + vc.cost) * {S} + {j} AS cnd
    FROM b{i}_{j} b JOIN {vocab} vc
      ON vc.piece = substr(b.word, {j + 1}, {t - j})
    WHERE length(b.word) >= {t}"""
                )
            body = "\n    UNION ALL\n".join(arms)
            blk.append(
                f"""b{i}_{t} AS MATERIALIZED (
  SELECT word, MIN(cnd) AS k FROM (
{body}
  ) GROUP BY word
)"""
            )
        dp_union = "\n    UNION ALL\n".join(
            f"    SELECT word, {t} AS pos, k FROM b{i}_{t}"
            for t in range(1, W + 1)
        )
        blk.append(
            f"""dp{i} AS MATERIALIZED (
{dp_union}
)"""
        )
        blk.append(
            f"""w{i}_0 AS (SELECT word, freq,
  CAST(length(word) AS BIGINT) AS pos FROM words)"""
        )
        for s_ in range(1, W + 1):
            blk.append(
                f"""w{i}_{s_} AS MATERIALIZED (
  SELECT w.word, w.freq, d.k % {S} AS pos,
         substr(w.word, CAST(d.k % {S} AS INT) + 1,
                CAST(w.pos - d.k % {S} AS INT)) AS piece
  FROM w{i}_{s_ - 1} w JOIN dp{i} d
    ON d.word = w.word AND d.pos = w.pos
  WHERE w.pos > 0
)"""
            )
        emit = "\n    UNION ALL\n".join(
            f"    SELECT piece, freq FROM w{i}_{s_}" for s_ in range(1, W + 1)
        )
        blk.append(
            f"""counts{i} AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM (
{emit}
  ) GROUP BY 1
)"""
        )
        return blk

    for i in range(n_iters):
        parts.extend(dp_block(i, f"vocab{i}"))
        parts.append(
            f"""jn{i} AS MATERIALIZED (
  SELECT v.piece, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
  FROM vocab{i} v LEFT JOIN counts{i} c ON c.piece = v.piece
)"""
        )
        parts.append(keep(f"jn{i}", "c", f"keep{i + 1}"))
        parts.append(costed(f"keep{i + 1}", f"vocab{i + 1}"))

    parts.extend(dp_block(n_iters, f"vocab{n_iters}"))
    return parts


def unigram_oracle_sql(
    vocab_size: int = 60,
    n_iters: int = 2,
    max_piece_len: int = 4,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB replay of the whole trainer; output = the gate relation
    of :func:`unigram_table` (piece, cost_micro, corpus_count)."""
    parts = _oracle_parts(vocab_size, n_iters, max_piece_len, table, text_col)
    final = f"""SELECT v.piece AS piece, v.cost AS cost_micro,
       CAST(COALESCE(c.c, 0) AS BIGINT) AS corpus_count
FROM vocab{n_iters} v LEFT JOIN counts{n_iters} c ON c.piece = v.piece"""
    return "WITH " + ",\n".join(parts) + "\n" + final


def unigram_encode_oracle_sql(
    vocab_size: int = 60,
    n_iters: int = 2,
    max_piece_len: int = 4,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of training + per-document encoding: (doc_id,
    n_tokens, cost_micro) — token count and total Viterbi cost per
    document under the trained table. Per-word stats come from the
    final DP block's relations (finals = cost at the word's last
    position; np = emitted-piece count), joined back to the document
    word stream."""
    n, W, S = n_iters, WCAP, JSHIFT
    parts = _oracle_parts(vocab_size, n_iters, max_piece_len, table, text_col)
    emit = "\n    UNION ALL\n".join(
        f"    SELECT word FROM w{n}_{s_}" for s_ in range(1, W + 1)
    )
    parts.append(
        f"""npieces AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS np FROM (
{emit}
  ) GROUP BY 1
)"""
    )
    parts.append(
        f"""finals AS MATERIALIZED (
  SELECT d.word, CAST(d.k // {S} AS BIGINT) AS wcost
  FROM dp{n} d JOIN words w ON w.word = d.word
  WHERE d.pos = length(d.word)
)"""
    )
    parts.append(
        f"""docw AS (
  SELECT {id_col}, substr(w, 1, {W}) AS word FROM (
    SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS w FROM {table}
  ) WHERE length(w) > 0
)"""
    )
    final = f"""SELECT dw.{id_col} AS doc_id,
       CAST(sum(np.np) AS BIGINT) AS n_tokens,
       CAST(sum(f.wcost) AS BIGINT) AS cost_micro
FROM docw dw
JOIN npieces np ON np.word = dw.word
JOIN finals f ON f.word = dw.word
GROUP BY 1"""
    return "WITH " + ",\n".join(parts) + "\n" + final


# --------------------------------------------------- store-backed serving
def unigram_serve_rows(spark, store_path: str) -> tuple[list, int]:
    """Load a checksummed unigram tokenizer store and return the
    (piece, cost) rows plus the DERIVED Viterbi lookback (max piece
    length in the stored vocab) — THE serving entry point for
    persisted tokenizers (CLI ``tokenize``/``release`` bundles and
    q_unigram_serve). Deriving the lookback from the artifact itself
    kills the train-with-L-6-serve-with-L-4 silent mismatch; the
    checksum verification inside ``load_tokenizer`` makes a drifted
    artifact a loud failure, so a hash-green serve certifies the
    whole train -> store -> load -> encode round trip."""
    from huckli_spark.operators.tokenizer_store import load_tokenizer

    table, _manifest = load_tokenizer(spark, store_path,
                                      expect_kind="unigram")
    rows = [(r["piece"], r["cost"]) for r in table.collect()]
    lmax = max(len(p) for p, _ in rows)
    return rows, lmax


# ----------------------------------------------- greedy MaxMatch (WordPiece)
# The BERT-family tokenization rule: at each position take the
# LONGEST vocab piece (no global optimization). Sharing the unigram
# vocab lets the engine quantify the greedy-vs-optimal gap: Viterbi
# cost <= greedy cost ALWAYS (Viterbi is exact); token counts can go
# either way. Key packing for the SQL twin: l * 2^44 + cost (longest
# piece wins the MAX; cost rides along).
LKEY = 1 << 44


def _greedy_expr(max_piece_len, word: str = "word",
                 vc: str = "__vc") -> str:
    """One in-row fold: state (pos, n, c) — greedy longest-match
    walk. The candidate key array is recomputed per reference (no
    let-binding in SQL expressions); the single-char candidate
    coalesces an OOV character to ``UNK_COST`` (module OOV policy),
    so the walk always progresses on any input."""
    best = (
        f"array_max(filter(transform(sequence(1, {max_piece_len}),"
        f" l -> CASE WHEN l = 1 AND st.pos + 1 <= length({word}) THEN"
        f" cast(1 AS bigint) * {LKEY}"
        f" + coalesce(try_element_at({vc}, substring({word}, st.pos + 1, 1)),"
        f" cast({UNK_COST} as bigint))"
        f" WHEN st.pos + l <= length({word})"
        f" AND try_element_at({vc}, substring({word}, st.pos + 1, l))"
        " IS NOT NULL THEN"
        f" cast(l AS bigint) * {LKEY}"
        f" + try_element_at({vc}, substring({word}, st.pos + 1, l))"
        " END), x -> x IS NOT NULL))"
    )
    return (
        f"aggregate(sequence(1, length({word})),"
        " named_struct('pos', 0, 'n', 0, 'c', cast(0 as bigint)),"
        f" (st, i) -> CASE WHEN st.pos >= length({word}) THEN st"
        " ELSE named_struct("
        f" 'pos', st.pos + cast({best} div {LKEY} as int),"
        " 'n', st.n + 1,"
        f" 'c', st.c + {best} % {LKEY}) END)"
    )


def maxmatch_stats(words: DataFrame, vocab: DataFrame,
                   max_piece_len: int | None) -> DataFrame:
    """(word, gn, gcost): greedy MaxMatch token count + total cost
    per distinct word under the (piece, cost) table. Map-only, same
    broadcast-vocab-row shape as the Viterbi path."""
    g = _greedy_expr(_lspec(max_piece_len))
    return (
        words.crossJoin(F.broadcast(_vocab_onerow(vocab)))
        .select(
            "word",
            F.expr(f"({g}).n").cast("long").alias("gn"),
            F.expr(f"({g}).c").cast("long").alias("gcost"),
        )
    )


def _greedy_local(word: str, cost: dict, max_piece_len: int):
    word = word[:WCAP]
    pos, n, c = 0, 0, 0
    while pos < len(word):
        for ln in range(min(max_piece_len, len(word) - pos), 0, -1):
            p = word[pos : pos + ln]
            if ln == 1:
                # OOV char-fallback (module OOV policy)
                pos, n, c = pos + 1, n + 1, c + cost.get(p, UNK_COST)
                break
            if p in cost:
                pos += ln
                n += 1
                c += cost[p]
                break
    return n, c


def greedy_oracle_block(n_iters: int, max_piece_len: int) -> list:
    """CTE block replaying the greedy walk under vocab{n_iters} —
    appended after :func:`_oracle_parts` (which defines words + the
    trained vocab). Produces gstats(word, gn, gcost)."""
    L, W, K = max_piece_len, WCAP, LKEY
    vocab = f"vocab{n_iters}"
    blk = [
        """g_0 AS (SELECT word, 0 AS pos, 0 AS n,
  CAST(0 AS BIGINT) AS c FROM words)"""
    ]
    for s_ in range(1, W + 1):
        # l = 1 is the char-fallback arm: LEFT JOIN + UNK_COST
        # (module OOV policy — matches _greedy_expr)
        arms = "\n    UNION ALL\n".join(
            [
                f"""    SELECT g.word, g.pos, g.n, g.c,
           CAST(1 AS BIGINT) * {K} + COALESCE(vc.cost, {UNK_COST}) AS key
    FROM g_{s_ - 1} g LEFT JOIN {vocab} vc
      ON vc.piece = substr(g.word, g.pos + 1, 1)
    WHERE g.pos + 1 <= length(g.word)"""
            ]
            + [
                f"""    SELECT g.word, g.pos, g.n, g.c,
           CAST({l} AS BIGINT) * {K} + vc.cost AS key
    FROM g_{s_ - 1} g JOIN {vocab} vc
      ON vc.piece = substr(g.word, g.pos + 1, {l})
    WHERE g.pos + {l} <= length(g.word)"""
                for l in range(2, L + 1)
            ]
        )
        blk.append(
            f"""g_{s_} AS MATERIALIZED (
  SELECT word, pos + CAST(max(key) // {K} AS INT) AS pos,
         n + 1 AS n, c + max(key) % {K} AS c
  FROM (
{arms}
  ) GROUP BY word, pos, n, c
)"""
        )
    finals = "\n    UNION ALL\n".join(
        f"    SELECT word, pos, n, c FROM g_{s_}" for s_ in range(1, W + 1)
    )
    blk.append(
        f"""gstats AS MATERIALIZED (
  SELECT f.word, f.n AS gn, f.c AS gcost FROM (
{finals}
  ) f JOIN words w ON w.word = f.word
  WHERE f.pos = length(f.word)
)"""
    )
    return blk


def maxmatch_oracle_sql(
    vocab_size: int = 60,
    n_iters: int = 2,
    max_piece_len: int = 4,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of training + per-document greedy-vs-Viterbi
    comparison: (doc_id, greedy_n, greedy_cost_micro, viterbi_n,
    viterbi_cost_micro)."""
    n, W, S = n_iters, WCAP, JSHIFT
    parts = _oracle_parts(vocab_size, n_iters, max_piece_len, table, text_col)
    emit = "\n    UNION ALL\n".join(
        f"    SELECT word FROM w{n}_{s_}" for s_ in range(1, W + 1)
    )
    parts.append(
        f"""npieces AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS np FROM (
{emit}
  ) GROUP BY 1
)"""
    )
    parts.append(
        f"""finals AS MATERIALIZED (
  SELECT d.word, CAST(d.k // {S} AS BIGINT) AS wcost
  FROM dp{n} d JOIN words w ON w.word = d.word
  WHERE d.pos = length(d.word)
)"""
    )
    parts.extend(greedy_oracle_block(n_iters, max_piece_len))
    parts.append(
        f"""docw AS (
  SELECT {id_col}, substr(w, 1, {W}) AS word FROM (
    SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS w FROM {table}
  ) WHERE length(w) > 0
)"""
    )
    final = f"""SELECT dw.{id_col} AS doc_id,
       CAST(sum(g.gn) AS BIGINT) AS greedy_n,
       CAST(sum(g.gcost) AS BIGINT) AS greedy_cost_micro,
       CAST(sum(np.np) AS BIGINT) AS viterbi_n,
       CAST(sum(f.wcost) AS BIGINT) AS viterbi_cost_micro
FROM docw dw
JOIN gstats g ON g.word = dw.word
JOIN npieces np ON np.word = dw.word
JOIN finals f ON f.word = dw.word
GROUP BY 1"""
    return "WITH " + ",\n".join(parts) + "\n" + final
