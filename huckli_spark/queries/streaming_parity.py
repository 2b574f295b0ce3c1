"""Streaming parity queries.

q_stream_time_bucket runs the REAL Structured Streaming pipeline
(file-source stream -> watermarked tumbling window -> memory sink,
availableNow trigger) and must hash-match the plain batch SQL oracle —
proving the streaming operator computes the same aggregate as the
batch engine on a drained backlog.

q_sessionize is the batch form of the custom stateful operator
(streaming.sessionize); its streaming twin is differentially tested in
tests/test_streaming.py (emission semantics make it non-comparable to
a single batch SQL statement: only closed sessions emit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from huckli_spark.functions import vecfold
from huckli_spark.functions.portable import fround, sql_fround
from huckli_spark.operators.retrieval import sql_bm25
from huckli_spark.queries import query
from huckli_spark.session import load_table as _t
from huckli_spark.streaming.sessionize import sessionize_batch, sessionize_batch_oracle
from huckli_spark.streaming.windows import (
    events_stream,
    run_to_memory,
    stage_table_stream,
    tumbling_agg,
)


@query(
    "q_stream_time_bucket",
    f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, count(*) AS n,
           {sql_fround('sum(value)')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling-window aggregate (watermarked, "
    "availableNow) vs the batch SQL oracle.",
)
def q_stream_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream_dir = stage_table_stream(sf_dir, "events")
    stream = events_stream(spark, stream_dir)
    agg = tumbling_agg(stream, width="1 hour", watermark="2 hours")
    return run_to_memory(agg, output_mode="complete")


@query(
    "q_stream_dedup",
    f"""
    SELECT event_type, count(*) AS n, {sql_fround('sum(value)')} AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc="streaming idempotent re-ingest: the SAME file delivered twice "
    "into the stream, deduplicated on event_id by "
    "dropDuplicatesWithinWatermark, must aggregate to the single-copy "
    "batch oracle. Models (and fixes, stream-side) the reference's "
    "at-least-once duplicate window (huckli-import/src/lib.rs:202-210).",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from huckli_spark.streaming.dedup import dedup_stream

    stream_dir = stage_table_stream(sf_dir, "events")
    # second delivery of the same file = the reference's crash-between-
    # append-and-checkpoint re-import
    shutil.copy(
        f"{stream_dir}/events.parquet", f"{stream_dir}/events_redelivered.parquet"
    )
    stream = events_stream(spark, stream_dir)
    # watermark delay far beyond the fixture's time span: within one
    # drain the state never evicts, so the dedup is exact (production
    # uses a horizon sized to the redelivery window)
    deduped = dedup_stream(stream, ["event_id"], delay="87600 hours")
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr(
            "cast(floor(sum(value) * 100.0 + 0.5) / 100.0 AS double)"
        ).alias("total_value"),
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "q_sessionize",
    sessionize_batch_oracle(gap_minutes=60),
    doc="gap-based sessionization (60 min), batch form of the stateful "
    "streaming operator.",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_batch(_t(spark, sf_dir, "events"), gap_minutes=60)


@query(
    "q_stream_interval_join",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id,
           count(*) AS n_pairs,
           count(DISTINCT p.event_id) AS n_purchases
    FROM p
    JOIN c ON c.user_id = p.user_id
          AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    GROUP BY p.user_id
    """,
    doc="stream-stream interval join (purchase <- clicks of the same "
    "user within the preceding hour — the attribution join), run as a "
    "REAL watermarked Structured Streaming join with a time-range "
    "condition; the emitted pair stream is drained (availableNow) and "
    "aggregated, hash-matched against the batch SQL join. Scale: the "
    "time bound lets the watermark evict join state beyond the "
    "interval horizon — state is O(events per hour), not O(stream).",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream_dir = stage_table_stream(sf_dir, "events")
    stream = events_stream(spark, stream_dir)
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    pairs = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
        "inner",
    )
    # append-mode pair stream -> memory sink; the aggregate runs on the
    # drained batch (q_stream_join_window gates the CHAINED in-stream
    # aggregation; here the gate stays focused on the JOIN semantics)
    drained = run_to_memory(pairs.select("p_user", "p_id"), output_mode="append")
    return drained.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("p_id").alias("n_purchases"),
    )


@query(
    "q_stream_join_window",
    """
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    pairs AS (
      SELECT p.ts AS p_ts FROM p JOIN c ON c.user_id = p.user_id
       AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    ),
    wm AS (
      -- NULL (not least-ignoring-NULL) when either side is empty:
      -- Spark's min-policy global watermark never advances if an
      -- input has no data, so nothing is emitted
      SELECT CASE WHEN (SELECT max(ts) FROM p) IS NULL
                    OR (SELECT max(ts) FROM c) IS NULL THEN NULL
             ELSE least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                  - INTERVAL 2 HOUR END AS w
    )
    SELECT strftime(date_trunc('day', p_ts), '%Y-%m-%d') AS day,
           count(*) AS n_pairs
    FROM pairs, wm
    WHERE date_trunc('day', p_ts) + INTERVAL 1 DAY < w - INTERVAL 1 HOUR
    GROUP BY 1
    """,
    doc="CHAINED stateful streaming (Spark 3.5+ multiple stateful "
    "operators): the watermarked interval join feeds a daily tumbling "
    "aggregation IN-STREAM, append mode — two state stores in one "
    "continuous query. Append emission bounds the output at the "
    "watermark frontier, which the oracle reproduces: min of both "
    "inputs' max event time, minus the 2h delay, minus the JOIN's "
    "OWN 1h output-watermark delay (the interval bound propagates "
    "into the downstream operator's watermark; strict <, verified "
    "empirically at the boundary). The late-data semantics are "
    "hash-gated, not just the values.",
)
def q_stream_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream_dir = stage_table_stream(sf_dir, "events")
    stream = events_stream(spark, stream_dir)
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    pairs = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "inner",
    )
    agg = pairs.groupBy(F.window("p_ts", "1 day").alias("win")).agg(
        F.count("*").alias("n_pairs")
    )
    out = agg.select(
        F.date_format("win.start", "yyyy-MM-dd").alias("day"), "n_pairs"
    )
    return run_to_memory(out, output_mode="append")


@query(
    "q_stream_left_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    wm AS (
      -- NULL when either side is empty (Spark's min-policy watermark
      -- never advances): unmatched purchases then never emit
      SELECT CASE WHEN (SELECT max(ts) FROM p) IS NULL
                    OR (SELECT max(ts) FROM c) IS NULL THEN NULL
             ELSE least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
                  - INTERVAL 2 HOUR END AS w
    )
    SELECT p.event_id AS p_id, p.user_id, count(c.event_id) AS n_clicks
    FROM p
    LEFT JOIN c ON c.user_id = p.user_id
               AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts, wm
    GROUP BY p.event_id, p.user_id, p.ts, wm.w
    HAVING count(c.event_id) > 0 OR max(p.ts) < wm.w
    """,
    doc="stream-stream LEFT OUTER join with watermarked state: matched "
    "pairs emit eagerly; unmatched purchases emit null-padded only "
    "once the global watermark (min of both inputs' max event time "
    "minus the 2h delay) passes their event time — the oracle "
    "reproduces exactly that frontier (strict <, pinned by boundary "
    "probes in tests/test_streaming.py). Scale: state is bounded by "
    "the watermark horizon on both sides, identical to the inner "
    "interval join.",
)
def q_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream_dir = stage_table_stream(sf_dir, "events")
    stream = events_stream(spark, stream_dir)
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    pairs = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "left_outer",
    )
    drained = run_to_memory(pairs, output_mode="append")
    return drained.groupBy(
        F.col("p_id"), F.col("p_user").alias("user_id")
    ).agg(F.count("c_id").alias("n_clicks"))


@query(
    "q_stream_session_native",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, event_id, us,
            CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 3600000000
                 THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, us,
            sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM m)
    SELECT user_id, min(us) AS start_us, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Spark's NATIVE session_window operator (dynamic-gap session "
    "aggregation inside Structured Streaming) drained and hash-matched "
    "against a batch SQL oracle. Boundary semantics differ from the "
    "custom sessionizer: session_window breaks when gap >= the window "
    "duration (windows [t, t+gap) merge only on strict overlap), and "
    "the oracle reproduces exactly that. Complements q_sessionize "
    "(custom applyInPandasWithState) with the built-in operator.",
)
def q_stream_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream_dir = stage_table_stream(sf_dir, "events")
    stream = events_stream(spark, stream_dir)
    agg = (
        stream.withWatermark("ts", "24 hours")
        .groupBy(F.session_window("ts", "60 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = agg.select(
        "user_id", F.unix_micros("win.start").alias("start_us"), "n_events"
    )
    return run_to_memory(out, output_mode="complete")


@query(
    "q_stream_static_join",
    f"""
    WITH dim AS (
      SELECT DISTINCT user_id, user_id % 3 AS tier FROM events
    )
    SELECT d.tier, e.event_type, count(*) AS n,
           CAST(sum(CAST(floor(e.value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_vm
    FROM events e JOIN dim d ON d.user_id = e.user_id
    GROUP BY 1, 2
    """,
    doc="stream-static (dimension) join: the unbounded event stream "
    "joins a bounded user->tier dim that Spark re-broadcasts per "
    "micro-batch — no state store involved (unlike stream-stream "
    "joins), the canonical enrich-then-aggregate shape. Drained with "
    "availableNow and hash-matched against the batch join; value sums "
    "are fixed-point micros (exact integer aggregation).",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    stream_dir = stage_table_stream(sf_dir, "events")
    stream = events_stream(spark, stream_dir)
    static_dim = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.col("user_id") % 3)
    )
    vm = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    joined = stream.join(F.broadcast(static_dim), "user_id")
    agg = joined.groupBy("tier", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(vm.cast("decimal(38,0)")).cast("long").alias("sum_vm"),
    )
    return run_to_memory(agg, output_mode="complete")


def _cms_user_oracle() -> str:
    from huckli_spark.operators import freq

    probes = ", ".join(
        f"{{'row': {r}, 'bucket': {freq.sql_cms_bucket('key', r, freq.CMS_W)}}}"
        for r in range(freq.CMS_D)
    )
    return f"""
    WITH sketch AS (
      {freq.sql_cms_build_cte(
          "SELECT CAST(user_id AS VARCHAR) AS key FROM events")}
    ), truth AS (
      SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS true_cnt
      FROM events GROUP BY 1
    ), probes AS (
      SELECT key, true_cnt, unnest([{probes}]) AS c
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
    """


@query(
    "q_stream_countmin",
    _cms_user_oracle(),
    doc="STREAMING count-min sketch: the cell matrix builds as a "
    "running streaming aggregate (groupBy (row, bucket) count, "
    "complete mode — bounded state of at most d*w rows regardless of "
    "stream length or key cardinality: the whole point of sketching a "
    "stream). The drained cells then serve heavy-hitter estimates "
    "batch-side, hash-matched against the batch-built sketch — "
    "streaming build == batch build because cms cells are exactly "
    "mergeable (the property cms_merge pins in unit tests).",
)
def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from huckli_spark.operators import freq
    from huckli_spark.streaming.windows import (
        events_stream,
        run_to_memory,
        stage_table_stream,
    )

    stream_dir = stage_table_stream(sf_dir, "events")
    stream = events_stream(spark, stream_dir).select(
        F.col("user_id").cast("string").alias("key")
    )
    cells = run_to_memory(freq.cms_build(stream, "key"), "complete")

    truth = (
        _t(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("true_cnt"))
    )
    est = freq.cms_estimate(truth.select("key"), cells, "key")
    scored = truth.join(est, "key").select(
        "key", "est", "true_cnt",
        (F.col("est") - F.col("true_cnt")).alias("overestimate"),
    )
    top = scored.orderBy(F.desc("est"), F.asc("key")).limit(20)
    rk = F.row_number().over(Window.orderBy(F.desc("est"), F.asc("key")))
    return top.withColumn("rnk", rk)


def _stream_bloom_oracle() -> str:
    from huckli_spark.operators import bloom as bl

    return f"""
    WITH mem AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events
    ), bloom AS (
      {bl.sql_bloom_build_cte('SELECT key FROM mem', 64, 4)}
    )
    SELECT word_idx, bits FROM bloom
    """


@query(
    "q_stream_bloom",
    _stream_bloom_oracle(),
    doc="STREAMING Bloom-filter build: the bit array accumulates as a "
    "running streaming aggregate (bit_or per word_idx, complete mode) "
    "— bounded state of at most m_words rows however long the stream "
    "runs, and the drained bits hash-match the batch-built filter "
    "exactly because bit_or is idempotent and commutative (duplicate "
    "key deliveries cannot corrupt the filter — the streaming-ingest "
    "membership use case). Pairs with q_stream_countmin as the "
    "mergeable-sketch streaming family.",
)
def q_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.operators import bloom as bl
    from huckli_spark.streaming.windows import (
        events_stream,
        run_to_memory,
        stage_table_stream,
    )

    stream_dir = stage_table_stream(sf_dir, "events")
    keys = events_stream(spark, stream_dir).select(
        F.col("user_id").cast("string").alias("key")
    )
    return run_to_memory(bl.bloom_build(keys, "key"), "complete")


@query(
    "q_stream_chunks",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS __w FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ), starts AS (
      SELECT doc_id, __w, unnest(range(0, len(__w), 30)) AS start_tok
      FROM w
    )
    SELECT doc_id,
           CAST(start_tok // 30 AS INT) AS chunk_idx,
           CAST(start_tok AS INT) AS start_tok,
           CAST(len(__w[start_tok + 1 : start_tok + 40]) AS INT) AS n_tok,
           array_to_string(__w[start_tok + 1 : start_tok + 40], ' ')
             AS chunk_text
    FROM starts
    """,
    doc="STREAMING RAG chunking: the chunk_windows operator applied to "
    "a documents file stream (stateless select/explode — streamable "
    "in append mode with no watermark or state) drained availableNow, "
    "hash-matched against the batch oracle — chunking a live corpus "
    "feed produces byte-identical chunks to a batch backfill. Memory "
    "sink is fixture-only; production writes parquet/Delta per batch.",
)
def q_stream_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from huckli_spark.operators.retrieval import chunk_windows
    from huckli_spark.streaming.windows import run_to_memory

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    stream_dir = stage_table_stream(sf_dir, "documents")
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    chunks = chunk_windows(stream, window=40, stride=30)
    out = run_to_memory(chunks, output_mode="append")
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int"),
        F.col("start_tok").cast("int"),
        F.col("n_tok").cast("int"),
        "chunk_text",
    )


_STREAM_BM25_TERMS = ["spark", "join", "filter"]


@query(
    "q_stream_bm25",
    "WITH "
    + sql_bm25("SELECT doc_id, text FROM documents",
               ["spark", "join", "filter"])
    + " SELECT doc_id, score_bm25 FROM bm",
    doc="STREAMING BM25 scoring against FROZEN index statistics — the "
    "production serving split: the one-row corpus stats (N, exact-sum "
    "avgdl, per-term df) come from the static reference corpus, and "
    "the live document stream scores MAP-ONLY against the broadcast "
    "stats row (stream-static cross join of a singleton; no aggregate "
    "ever runs on the stream, so this is stateless append mode). "
    "Drained availableNow over the same corpus, the stream's scores "
    "hash-match the batch oracle exactly. Scale: stats refresh is a "
    "periodic batch job; scoring keeps up with any ingest rate since "
    "it's one narrow stage.",
)
def q_stream_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql import types as T

    from huckli_spark.operators.retrieval import bm25_score, bm25_stats

    batch_docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    )
    stats = bm25_stats(batch_docs, _STREAM_BM25_TERMS)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    stream_dir = stage_table_stream(sf_dir, "documents")
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    scored = bm25_score(stream, _STREAM_BM25_TERMS, stats=stats)
    return run_to_memory(scored, output_mode="append").select(
        "doc_id", "score_bm25"
    )


@query(
    "q_stream_dq",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN event_type IN
                    ('view','click','purchase','signup','error')
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_bad_type,
           CAST(sum(CASE WHEN value IS NULL OR value <= 0 OR value > 300
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_range,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_user
    FROM events
    GROUP BY event_type
    """,
    doc="STREAMING data-quality monitor: q_dq_audit's rule shapes "
    "(accepted values, range, not-null) as RUNNING per-group "
    "violation counters over a live event stream (complete mode, "
    "bounded state of |groups| rows however long the stream runs), "
    "drained availableNow and hash-matched to the batch audit — the "
    "freshness path for a warehouse CI gate: violations surface "
    "per micro-batch instead of at the next batch audit. The range "
    "rule (value in (0, 300]) fires on real fixture rows, so the "
    "monitor is provably not vacuous.",
)
def q_stream_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from huckli_spark.streaming.windows import (
        events_stream,
        run_to_memory,
        stage_table_stream,
    )

    stream_dir = stage_table_stream(sf_dir, "events")
    ev = events_stream(spark, stream_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("event_type").isin(
                    "view", "click", "purchase", "signup", "error"
                ),
                0,
            ).otherwise(1)
        )
        .cast("long")
        .alias("n_bad_type"),
        F.sum(
            F.when(
                F.col("value").isNull()
                | (F.col("value") <= 0)
                | (F.col("value") > 300),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_range"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_user"),
    )
    return run_to_memory(agg, "complete")


@query(
    "q_stream_leaderboard",
    f"""
    WITH agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS total_vm
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT user_id, n_events, total_vm,
             row_number() OVER (ORDER BY n_events DESC, user_id) AS rnk
      FROM agg
    )
    SELECT user_id, n_events, total_vm,
           {sql_fround('total_vm / 1000000.0', 4)} AS total_value,
           CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 10
    """,
    doc="STREAMING leaderboard: per-user running counters (count + "
    "exact fixed-point value total) accumulate as a complete-mode "
    "streaming aggregate — state bounded by |users| rows however "
    "long the stream runs — drained availableNow; the top-10 rank "
    "is applied to the drained state as the batch serving step (the "
    "dashboard split: the stream maintains counters, the read path "
    "ranks). Hash-matched to the batch oracle end to end.",
)
def q_stream_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from huckli_spark.streaming.windows import (
        events_stream,
        run_to_memory,
        stage_table_stream,
    )

    stream_dir = stage_table_stream(sf_dir, "events")
    ev = events_stream(spark, stream_dir)
    agg = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("total_vm"),
    )
    drained = run_to_memory(agg, "complete")
    wr = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        drained.withColumn("total_value", fround(F.col("total_vm") / 1000000.0, 4))
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= 10)
        .select("user_id", "n_events", "total_vm", "total_value", "rank")
    )


@query(
    "q_stream_quality_gate",
    # identical computation to q_gopher_rules' oracle (fixture
    # stopword list — see queries/curation.py::_GSTOP)
    """
    WITH sig AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             list_sum(list_transform(string_split(text, ' '),
                                     x -> length(x))) AS chars,
             len(list_filter(string_split(text, ' '),
                             x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(regexp_replace(text, '\\.\\.\\.',
                                                       '', 'g'))) / 3
               AS symbols,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                                ['the', 'a'])) AS stop_hits
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(floor(chars * 1000000.0 / n_words + 0.5) AS BIGINT)
               AS mean_word_len_micro,
             CAST(floor(alpha * 1000000.0 / n_words + 0.5) AS BIGINT)
               AS alpha_frac_micro,
             CAST(floor(symbols * 1000000.0 / n_words + 0.5) AS BIGINT)
               AS symbol_ratio_micro,
             CAST(stop_hits AS BIGINT) AS stop_hits
      FROM sig
    )
    SELECT doc_id,
           ((n_words >= 50 AND n_words <= 100000)
            AND (mean_word_len_micro >= 3000000
                 AND mean_word_len_micro <= 10000000)
            AND (alpha_frac_micro > 800000)
            AND (symbol_ratio_micro < 100000)
            AND (stop_hits >= 2)) AS passes
    FROM m
    """,
    doc="STREAMING quality gate: the Gopher-rules filter applied to a "
    "documents file stream — stateless map-only select, streamable in "
    "append mode with no watermark or state, drained availableNow and "
    "hash-matched against the batch oracle. This is the production "
    "ingest shape: rule verdicts at arrival time, byte-identical to a "
    "batch backfill, so a doc admitted by the live gate is exactly "
    "the doc a batch re-audit would admit.",
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from huckli_spark.operators.textstats import gopher_rules
    from huckli_spark.streaming.windows import run_to_memory

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    stream_dir = stage_table_stream(sf_dir, "documents")
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    gated = gopher_rules(stream, stopwords=("the", "a"))
    out = run_to_memory(gated.select("doc_id", "passes"), output_mode="append")
    return out


def _stream_screen_oracle() -> str:
    # corpus-screening arm of the incremental semdedup oracle only:
    # the within-batch arm needs cross-row state (not stateless) and
    # stays batch-only — scope documented in the query doc.
    from huckli_spark.operators.curation import sql_semdedup_incremental

    full = sql_semdedup_incremental(
        "vec_id < 400", "vec_id >= 400", k=8, iterations=2, tau=0.45
    )
    # reuse the full oracle and project the corpus-screening columns
    return (
        "WITH inc AS (" + full + ")"
        " SELECT vec_id, cid, dup_vs_corpus FROM inc"
    )


@query(
    "q_stream_semdedup_screen",
    _stream_screen_oracle(),
    doc="STREAMING semantic-dedup screening: a live embedding batch "
    "(vec_id >= 400) assigns map-only to the FROZEN quantizer "
    "(trained on the existing corpus before the stream starts) and "
    "is screened against the static member relation via stream-"
    "static semi/anti joins on cid + cosine — stateless, append "
    "mode, no state store. Emitted verdicts hash-match the batch "
    "incremental screen's dup_vs_corpus arm. Scope: the within-batch "
    "arm needs cross-row comparisons (state) and remains batch-only; "
    "production runs the streaming screen at ingest and the batch "
    "pass at compaction. Scale: quantizer + member relation are "
    "broadcast/static; per-micro-batch work is batch x cluster-"
    "density (probed flat at 10x corpus).",
)
def q_stream_semdedup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from huckli_spark.functions.portable import fround
    from huckli_spark.operators.clustering import kmeans_assign, kmeans_fit
    from huckli_spark.operators.simsearch import cosine
    from huckli_spark.streaming.windows import run_to_memory

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    existing = emb.where(F.col("vec_id") < 400)
    cents = kmeans_fit(existing, k=8, iterations=2)
    members = (
        kmeans_assign(existing, cents)
        .join(existing.select("vec_id", "embedding"), "vec_id")
        .select(
            F.col("vec_id").alias("__ida"),
            "cid",
            F.col("embedding").alias("__ea"),
        )
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    )
    stream_dir = stage_table_stream(sf_dir, "embeddings")
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .where(F.col("vec_id") >= 400)
    )
    # kmeans_assign's two-step select would make the vector join a
    # stream-stream join (state) — derive cid + vector in ONE select
    from huckli_spark.operators.clustering import _assign_expr, _vm_expr

    b = stream.select(
        F.col("vec_id").alias("__idb"),
        F.col("embedding").alias("__eb"),
        F.expr(_vm_expr("embedding")).alias("__vm"),
    ).select(
        "__idb", "__eb", F.expr(_assign_expr(cents)).alias("cid")
    )
    sim = fround(cosine("__ea", "__eb"), 6)
    cond = (F.col("__cm.cid") == F.col("__b.cid")) & (sim >= F.lit(0.45))
    dup = (
        b.alias("__b")
        .join(F.broadcast(members.alias("__cm")), cond, "left_semi")
        .select(
            F.col("__idb").alias("vec_id"),
            "cid",
            F.lit(True).alias("dup_vs_corpus"),
        )
    )
    clean = (
        b.alias("__b")
        .join(F.broadcast(members.alias("__cm")), cond, "left_anti")
        .select(
            F.col("__idb").alias("vec_id"),
            "cid",
            F.lit(False).alias("dup_vs_corpus"),
        )
    )
    return run_to_memory(dup.unionByName(clean), output_mode="append")


def _stream_dsir_oracle() -> str:
    from huckli_spark.operators.curation import sql_dsir_ctes

    return (
        "WITH "
        + sql_dsir_ctes("lang = 'en'", keep=100)
        + " SELECT doc_id, n_feats, w_micro FROM weights"
    )


@query(
    "q_stream_dsir",
    _stream_dsir_oracle(),
    doc="STREAMING DSIR scoring against FROZEN distribution stats — "
    "the serving split of importance resampling (q_stream_bm25's "
    "shape): the 256-row bucket log-ratio table comes from the "
    "static reference corpus — collected (256 bounded cells) and "
    "baked as an array literal — and the live document stream scores "
    "with a pure IN-ROW fold: no streaming aggregation, no state "
    "store, append mode. Emitted weights "
    "hash-match the batch scorer; the top-K selection threshold is "
    "a batch/compaction step (needs the full weight distribution), "
    "documented scope.",
)
def q_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import types as T

    from huckli_spark.operators.clustering import MICRO
    from huckli_spark.operators.curation import DSIR_BUCKETS, _feature_col
    from huckli_spark.functions.portable import h60
    from huckli_spark.streaming.windows import run_to_memory

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # frozen stats from the static corpus (identical arithmetic to
    # dsir_select's bucket/log-ratio derivation)
    base = docs.select(
        F.col("doc_id"),
        (F.col("lang") == "en").alias("__is_t"),
        F.split(F.col("text"), " ").alias("__w"),
    )
    feats = (
        base.select(
            "doc_id", "__is_t", F.explode(_feature_col("__w")).alias("__f")
        )
        .select(
            "doc_id",
            "__is_t",
            (h60(F.col("__f")) % F.lit(DSIR_BUCKETS)).alias("bucket"),
        )
        .groupBy("doc_id", "__is_t", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    byb = feats.groupBy("bucket").agg(
        F.sum("cnt").alias("rc"),
        F.sum(F.when(F.col("__is_t"), F.col("cnt")).otherwise(0)).alias("tc"),
    )
    totals = byb.agg(F.sum("rc").alias("rt"), F.sum("tc").alias("tt"))

    # ALL 256 buckets (missing ones get the zero-count ratio) so the
    # frozen table is total; computed by Spark (same engine arithmetic
    # as the batch scorer), then collected — 256 bounded cells — and
    # baked as an array literal for in-row lookup
    all_b = spark.range(DSIR_BUCKETS).select(
        F.col("id").cast("long").alias("bucket")
    )
    lr_full = (
        all_b.join(byb, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
                        / (F.col("tt") + F.lit(DSIR_BUCKETS))
                    )
                    - F.log(
                        (F.coalesce(F.col("rc"), F.lit(0)) + 1.0)
                        / (F.col("rt") + F.lit(DSIR_BUCKETS))
                    )
                )
                * F.lit(float(MICRO))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    lr_map = {r["bucket"]: r["lr_micro"] for r in lr_full.collect()}
    lr_lit = ", ".join(f"{lr_map[b]}L" for b in range(DSIR_BUCKETS))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    stream_dir = stage_table_stream(sf_dir, "documents")
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    h = "cast(conv(substring(md5(f), 1, 15), 16, 10) AS long)"
    scored = stream.select(
        F.col("doc_id"),
        F.split(F.col("text"), " ").alias("__w"),
    ).select(
        "doc_id",
        _feature_col("__w").alias("__fs"),
    ).select(
        "doc_id",
        F.expr("cast(size(__fs) AS long)").alias("n_feats"),
        F.expr(
            f"aggregate(transform(__fs, f -> element_at(array({lr_lit}),"
            f" cast({h} % {DSIR_BUCKETS} AS int) + 1)),"
            " 0L, (acc, v) -> acc + v)"
        ).alias("w_micro"),
    )
    return run_to_memory(scored, output_mode="append")



# --------------------------------------------------------------------------
# Streaming ANN serving from a frozen IVF index (round 8)
# --------------------------------------------------------------------------
def _stream_ann_oracle() -> str:
    from huckli_spark.operators.clustering import sql_kmeans_ctes

    sim = sql_fround(
        "list_dot_product(v.e, cent.c)"
        " / (sqrt(list_dot_product(v.e, v.e))"
        " * sqrt(list_dot_product(cent.c, cent.c)))",
        6,
    )
    return (
        "WITH "
        + sql_kmeans_ctes(k=8, iterations=3).replace(
            "vm AS (", "vm AS MATERIALIZED (", 1
        )
        + f""",
    cent AS MATERIALIZED (
      SELECT cid, list(c / 1000000.0 ORDER BY dim) AS c
      FROM c3 GROUP BY cid
    ), v AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), corpus_sims AS MATERIALIZED (
      SELECT v.vec_id, v.e, cent.cid,
             row_number() OVER (
               PARTITION BY v.vec_id ORDER BY {sim} DESC, cent.cid
             ) AS rn
      FROM v CROSS JOIN cent
    ), posting AS (
      SELECT vec_id AS neighbor_id, cid FROM corpus_sims WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid
      FROM corpus_sims WHERE vec_id < 20 AND rn <= 2
    )
    SELECT p.query_id, po.neighbor_id, p.cid,
           CAST(floor(list_sum(list_transform(range(1, 65), j ->
             (vq.e[j] - vn.e[j]) * (vq.e[j] - vn.e[j])
           )) * 1000000.0 + 0.5) AS BIGINT) AS d_micro
    FROM probes p
    JOIN posting po ON po.cid = p.cid
    JOIN v vq ON vq.vec_id = p.query_id
    JOIN v vn ON vn.vec_id = po.neighbor_id
    WHERE po.neighbor_id <> p.query_id
    """
    )


@query(
    "q_stream_ann_serve",
    _stream_ann_oracle(),
    doc="STREAMING ANN serving from a FROZEN IVF index — the online "
    "retrieval split: the coarse quantizer and posting lists are "
    "trained/frozen before the stream starts; live query vectors "
    "(vec_id < 20 of the staged embedding feed) assign to their "
    "nprobe=2 clusters MAP-ONLY (literal quantizer on the stream), "
    "candidates arrive via a stateless stream-static equi-join on "
    "cid against the FROZEN cid-partitioned posting store (never "
    "broadcast-hinted: the posting relation is corpus-sized, so the "
    "static side shuffles/hashes — only AQE may size-bound-broadcast "
    "it at fixture scale), and every (query, candidate) pair scores "
    "an exact micro-integer L2 in-row — append mode, zero streaming "
    "state. The oracle replays the quantizer training and the whole "
    "serve relationally; the rank cut stays a batch/sink step (the "
    "q_stream_dsir discipline: ranking needs cross-row state that "
    "belongs in the serving layer). Scale: per-query work is nprobe "
    "x cluster size — flat in the corpus at constant cluster "
    "geometry (the SCALE_PROBE_hybrid_serve economics, live feed).",
)
def q_stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from pyspark.sql import types as T

    from huckli_spark.operators import simsearch
    from huckli_spark.operators.clustering import kmeans_fit

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents_micro = kmeans_fit(emb, k=8, iterations=3)
    cents = [
        (cid, [x / 1e6 for x in c]) for cid, c in enumerate(cents_micro)
    ]
    # FREEZE the posting lists before the stream starts (VERDICT r08
    # "What's wrong #1"): the posting relation is corpus-sized (every
    # vector + its cid), so it persists as cid-partitioned parquet —
    # the ann_index serving discipline — and is NEVER broadcast-hinted.
    # A forced broadcast of this side is exactly the plan that OOMs
    # driver + executors at 100 TB. The un-hinted stream-static
    # equi-join lets Spark hash/shuffle the static side (AQE may still
    # size-bound-broadcast at fixture scale — adaptive, not forced),
    # and the cid partitioning keeps the serve scan prunable to the
    # probed clusters. Plan pin: test_stream_ann_serve_posting_not
    # _broadcast (tests/test_plans.py) proves no hint survives.
    from huckli_spark.operators.cache import _scratch_dir

    idx_dir = os.path.join(
        _scratch_dir(), f"stream_ann_idx_{uuid.uuid4().hex[:12]}", "posting"
    )
    simsearch.ivf_assign(emb, cents, nprobe=1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__nv"),
        F.col("cid"),
    ).write.partitionBy("cid").parquet(idx_dir)
    posting = spark.read.parquet(idx_dir).select(
        "neighbor_id", "__nv", F.col("cid").cast("int").alias("cid")
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    )
    stream_dir = stage_table_stream(sf_dir, "embeddings")
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .where(F.col("vec_id") < 20)
    )
    q = simsearch.ivf_assign(stream, cents, nprobe=2).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid"),
        F.col("embedding").alias("__qv"),
    )
    return run_to_memory(
        ann_serve_scored(q, posting), output_mode="append"
    )


def ann_serve_scored(q: DataFrame, posting: DataFrame) -> DataFrame:
    """Serve-side join of q_stream_ann_serve, shared with its plan pin:
    (query_id, cid, __qv) x frozen posting (neighbor_id, __nv, cid)
    -> exact micro-integer L2 per candidate. The posting side carries
    NO broadcast hint — it is corpus-sized; any broadcast at fixture
    scale must come from AQE's size bound, never from the plan."""
    d = vecfold.sql_micro_sqdist("__qv", "__nv")
    return (
        q.join(posting, "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "cid", F.expr(d).alias("d_micro"))
    )


def maxsim_stream_scored(probes: DataFrame, posting: DataFrame) -> DataFrame:
    """Serve-side join of q_stream_maxsim_serve, shared with its plan
    pin: per-token probes (query_id, token_id, cid, __qv) x frozen
    posting (member_id, __nv, cid) -> the per-(token, candidate
    member) micro-integer cosine, PLAID's stage-one emission. The
    posting side carries NO broadcast hint (corpus-sized — the
    ann_serve_scored discipline); the MaxSim regroup (per-token max,
    per-doc sum, rank) is cross-row state and belongs to the sink /
    batch layer (_maxsim_regroup), exactly as the rank cut does in
    q_stream_ann_serve."""
    from huckli_spark.operators.simsearch import dot, l2_norm

    cos_micro = F.floor(
        fround(
            dot("__qv", "__nv") / (l2_norm("__qv") * l2_norm("__nv")), 6
        )
        * 1000000
        + F.lit(0.5)
    ).cast("long")
    return probes.join(posting, "cid").select(
        "query_id",
        "token_id",
        F.expr("member_id div 4").alias("doc_id"),
        "member_id",
        cos_micro.alias("cos_micro"),
    )


def _stream_maxsim_oracle(regroup: bool = False) -> str:
    sim = sql_fround(
        "list_dot_product(v.e, cent.c)"
        " / (sqrt(list_dot_product(v.e, v.e))"
        " * sqrt(list_dot_product(cent.c, cent.c)))",
        6,
    )
    pair_cos = sql_fround(
        "list_dot_product(vq.e, vn.e)"
        " / (sqrt(list_dot_product(vq.e, vq.e))"
        " * sqrt(list_dot_product(vn.e, vn.e)))",
        6,
    )
    ctes = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), cent AS (
      SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8
    ), asn AS (
      SELECT v.vec_id, cent.cid,
             row_number() OVER (
               PARTITION BY v.vec_id ORDER BY {sim} DESC, cent.cid
             ) AS rn
      FROM v CROSS JOIN cent
    ), posting AS (
      SELECT vec_id, cid FROM asn WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS token_id, vec_id // 2 AS query_id, cid
      FROM asn WHERE vec_id < 8 AND rn <= 2
    ), pairs AS (
      SELECT p.query_id, p.token_id, po.vec_id // 4 AS doc_id,
             po.vec_id AS member_id,
             CAST(floor({pair_cos} * 1000000 + 0.5) AS BIGINT)
               AS cos_micro
      FROM probes p
      JOIN posting po ON po.cid = p.cid
      JOIN v vq ON vq.vec_id = p.token_id
      JOIN v vn ON vn.vec_id = po.vec_id
    )"""
    if not regroup:
        return ctes + """
    SELECT query_id, token_id, doc_id, member_id, cos_micro FROM pairs
    """
    return ctes + """
    , per_tok AS (
      SELECT query_id, token_id, doc_id, max(cos_micro) AS m
      FROM pairs GROUP BY 1, 2, 3
    ), score AS (
      SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
      FROM per_tok GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score_micro, rank FROM (
      SELECT query_id, doc_id, score_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_micro DESC, doc_id) AS rank
      FROM score
    ) WHERE rank <= 5
    """


@query(
    "q_stream_maxsim_serve",
    _stream_maxsim_oracle(),
    doc="STREAMING late-interaction serving from the FROZEN IVF store "
    "— PLAID's stage one as an online feed: the sampled coarse "
    "quantizer and member posting lists freeze (cid-partitioned "
    "parquet) before the stream starts; live query TOKENS (vec_id < "
    "8 of the staged embedding feed, query = vec_id div 2) probe "
    "their nprobe=2 cells MAP-ONLY via the literal quantizer, and a "
    "stateless stream-static equi-join on cid emits the per-(token, "
    "candidate member) micro-integer cosine — append mode, zero "
    "streaming state. The MaxSim regroup (per-token max -> per-doc "
    "integer sum -> rank) is cross-row state and composes at the "
    "sink via the same _maxsim_regroup the batch paths share "
    "(q_ann_maxsim / q_ann_maxsim_serve); emitting stage-one scores "
    "is exactly how a PLAID serving tier decomposes. The oracle "
    "replays quantizer, assignment, probes, and pair scores "
    "relationally. Scale: per-token work is nprobe x cell size — "
    "flat in the corpus at constant cell geometry; the posting side "
    "is never broadcast-hinted (plan-pinned).",
)
def q_stream_maxsim_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        _stream_maxsim_stage_one(spark, sf_dir), output_mode="append"
    )


def _stream_maxsim_stage_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared streaming MaxSim stage one: freeze the sampled coarse
    quantizer + cid-partitioned member posting store, stage the token
    feed, probe map-only, and emit the per-(token, candidate member)
    micro-integer cosine as a stateless stream-static equi-join on cid.
    q_stream_maxsim_serve drains it raw; q_stream_maxsim_topk composes
    the exact regroup in a foreachBatch sink."""
    import os
    import uuid

    from pyspark.sql import types as T

    from huckli_spark.operators import simsearch
    from huckli_spark.operators.cache import _scratch_dir

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = simsearch.ivf_centroids(emb, n_centroids=8)
    idx_dir = os.path.join(
        _scratch_dir(), f"stream_maxsim_idx_{uuid.uuid4().hex[:12]}",
        "posting",
    )
    simsearch.ivf_assign(emb, cents, nprobe=1).select(
        F.col("vec_id").alias("member_id"),
        F.col("embedding").alias("__nv"),
        F.col("cid"),
    ).write.partitionBy("cid").parquet(idx_dir)
    posting = spark.read.parquet(idx_dir).select(
        "member_id", "__nv", F.col("cid").cast("int").alias("cid")
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    )
    stream_dir = stage_table_stream(sf_dir, "embeddings")
    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .where(F.col("vec_id") < 8)
    )
    probes = simsearch.ivf_assign(stream, cents, nprobe=2).select(
        F.expr("vec_id div 2").alias("query_id"),
        F.col("vec_id").alias("token_id"),
        F.col("cid"),
        F.col("embedding").alias("__qv"),
    )
    return maxsim_stream_scored(probes, posting)


@query(
    "q_stream_maxsim_topk",
    _stream_maxsim_oracle(regroup=True),
    doc="STREAMING late-interaction serving, COMPLETE to final top-k "
    "(VERDICT r11 #6): the same frozen-store stage one as "
    "q_stream_maxsim_serve (map-only probes, stateless cid equi-join "
    "emitting per-(token, candidate member) micro-integer cosines), "
    "composed with the exact MaxSim regroup INSIDE a foreachBatch "
    "sink — per-token max, order-free integer sum, per-query top-5 "
    "(maxsim_regroup_scored: the same arithmetic as _maxsim_regroup "
    "picked up after the micro lift, which commutes with max). A "
    "query's tokens all arrive in the SAME request micro-batch — a "
    "query never spans batches — so the per-batch regroup is exact "
    "per query with ZERO streaming state; the sink ENFORCES the "
    "invariant (a second batch raises instead of appending "
    "conflicting ranks) and overwrites, so a batch retry is "
    "idempotent (ADVICE r12 #1). The oracle replays stage one "
    "AND the regroup relationally; the stream/batch agreement pin "
    "(tests/test_streaming.py) gates the drained result against the "
    "batch plan on the same feed. Scale: regroup input per batch is "
    "shortlist-sized (nprobe x cell geometry per token), the posting "
    "side is never broadcast-hinted, and the sink append is the only "
    "write.",
)
def q_stream_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from huckli_spark.operators.cache import _scratch_dir
    from huckli_spark.operators.simsearch import maxsim_regroup_scored

    scored = _stream_maxsim_stage_one(spark, sf_dir)
    base = os.path.join(
        _scratch_dir(), f"stream_maxsim_topk_{uuid.uuid4().hex[:12]}"
    )
    out_dir = os.path.join(base, "topk")
    ckpt = os.path.join(base, "ckpt")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # The per-batch regroup is exact ONLY because the staged feed
        # arrives as ONE availableNow micro-batch (a query's tokens
        # must never span batches). Enforce the invariant instead of
        # assuming it (ADVICE r12 #1): a second batch fails loudly
        # rather than appending conflicting (query, rank) rows, and
        # the overwrite makes a batch-0 retry idempotent where the
        # old append was not.
        if batch_id != 0:
            raise ValueError(
                "q_stream_maxsim_topk requires the whole feed in one "
                f"micro-batch; got batch_id={batch_id} — drain the raw "
                "scored stream and run maxsim_regroup_scored once over "
                "the drained relation instead"
            )
        maxsim_regroup_scored(batch_df, k=5).write.mode(
            "overwrite"
        ).parquet(out_dir)

    q = (
        scored.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.read.parquet(out_dir)


def _stream_unigram_oracle() -> str:
    from huckli_spark.operators.unigram_lm import unigram_encode_oracle_sql

    return unigram_encode_oracle_sql(vocab_size=60, n_iters=2,
                                     max_piece_len=4)


@query(
    "q_stream_unigram_encode",
    _stream_unigram_oracle(),
    doc="STREAMING tokenization under a FROZEN unigram-LM table: the "
    "table trains in batch before the stream starts, then bakes as a "
    "map literal and every live document tokenizes with a pure "
    "in-row Viterbi fold (per-word forward DP + backtrack inside one "
    "expression) — stateless, append mode, zero state store, the "
    "q_stream_dsir baked-table pattern. Emitted (doc_id, n_tokens, "
    "cost_micro) rows hash-match the BATCH encode oracle, which "
    "replays training + encoding relationally. Scale: per-doc work "
    "is O(words x WCAP x max_piece_len); the baked literal is "
    "O(vocab) plan weight — fine at serving vocabs in the "
    "thousands, above that production tokenizes in foreachBatch "
    "with the broadcast map row (documented in "
    "operators/unigram_lm.py).",
)
def q_stream_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from huckli_spark.operators import unigram_lm as U

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = U.unigram_fit(docs, vocab_size=60, n_iters=2, max_piece_len=4)
    vrows = [(r.piece, r.cost) for r in vocab.collect()]

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    # stage as ~core-count files: the per-doc Viterbi DP is the
    # micro-batch's compute, and file-stream parallelism is
    # per-file for small inputs (one staged file = one task)
    stream_dir = stage_table_stream(sf_dir, "documents", n_files=32)
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    # r14: the encode leg is the word-memoized Arrow kernel (exact
    # integer DP replay; empty/whitespace-only docs drop in-kernel,
    # matching the batch oracle's inner join — ADVICE r08 #3)
    toks = U.encode_counts(stream, vrows, 4)
    return run_to_memory(toks, output_mode="append")


@query(
    "q_unigram_serve",
    _stream_unigram_oracle(),
    doc="the COMPLETE tokenizer lifecycle in one gated query (VERDICT "
    "r08 #4): train the unigram-LM table in batch, PERSIST it through "
    "the checksummed atomic tokenizer_store, RELOAD it (checksum "
    "re-verified, kind-checked), and serve streaming tokenization "
    "from the LOADED artifact — the Viterbi lookback derives from "
    "the stored vocab itself, never from a caller-supplied constant. "
    "The oracle is q_stream_unigram_encode's (training + encoding "
    "replayed relationally), so a green row certifies the "
    "train -> store -> load -> serve round trip bit-identically — "
    "the q_hybrid_serve discipline applied to tokenizers. Scale: the "
    "store is vocab-sized, serving is the same stateless in-row DP "
    "as the in-session path; release bundles' tokenizers serve "
    "through the same unigram_serve_rows entry point.",
)
def q_unigram_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from pyspark.sql import types as T

    from huckli_spark.operators import unigram_lm as U
    from huckli_spark.operators.tokenizer_store import save_tokenizer

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = U.unigram_fit(docs, vocab_size=60, n_iters=2, max_piece_len=4)
    # the store outlives this function (the streaming encode reads the
    # baked rows eagerly, but keep the artifact inspectable)
    from huckli_spark.operators.cache import _scratch_dir

    path = os.path.join(
        _scratch_dir(), f"unigram_store_{uuid.uuid4().hex[:12]}", "tok"
    )
    save_tokenizer(
        path, "unigram", vocab,
        params={"vocab_size": 60, "n_iters": 2, "max_piece_len": 4},
    )
    vrows, lmax = U.unigram_serve_rows(spark, path)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    # stage as ~core-count files: the per-doc Viterbi DP is the
    # micro-batch's compute, and file-stream parallelism is
    # per-file for small inputs (one staged file = one task)
    stream_dir = stage_table_stream(sf_dir, "documents", n_files=32)
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    # r14: serve through the word-memoized Arrow kernel (exact
    # integer DP replay of the stored table's costs)
    toks = U.encode_counts(stream, vrows, lmax)
    return run_to_memory(toks, output_mode="append")


# ---------------------------------------------------------------------------
# streaming substring screen (round 10): the frozen-index lifecycle
# applied to exact substring dedup — live documents screened for
# L-word windows that occur verbatim anywhere in a frozen corpus.
# ---------------------------------------------------------------------------
_SUBSTR_SPLIT = 100
_SUBSTR_L = 3

_SUBSTR_SCREEN_ORACLE = f"""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ), gr AS (
      SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(0, greatest(array_length(w) - {_SUBSTR_L - 1}, 0)),
                 i -> struct_pack(
                   pos := i,
                   gram := array_to_string(w[i + 1:i + {_SUBSTR_L}], ' '))
               )) AS u
        FROM words)
    )
    SELECT n.doc_id, n.pos
    FROM gr n
    WHERE n.doc_id < {_SUBSTR_SPLIT} AND EXISTS (
      SELECT 1 FROM gr c
      WHERE c.doc_id >= {_SUBSTR_SPLIT} AND c.gram = n.gram)
"""


@query(
    "q_stream_substring_screen",
    _SUBSTR_SCREEN_ORACLE,
    doc="STREAMING exact-substring screen against a FROZEN gram index "
    "(the frozen-fingerprint lifecycle applied to substring dedup): "
    "the corpus's L-word window texts freeze to parquet before the "
    "stream starts; live documents explode to windows IN-STREAM (pure "
    "in-row transform + posexplode) and screen via a stream-static "
    "LEFT SEMI equi-join on the window text — stateless, append mode, "
    "each matched window emitted exactly once regardless of corpus "
    "multiplicity, corpus side never broadcast-hinted (it is "
    "corpus-sized; AQE may size-bound-broadcast at fixture scale). "
    "The oracle replays both sides' windows and the EXISTS semantics.",
)
def q_stream_substring_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from pyspark.sql import types as T

    from huckli_spark.operators.cache import _scratch_dir

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    words = "filter(split(text, ' '), x -> x <> '')"
    grams = (
        f"transform(sequence(1, size(__words) - {_SUBSTR_L - 1}),"
        f" i -> array_join(slice(__words, i, {_SUBSTR_L}), ' '))"
    )

    def with_words(df: DataFrame) -> DataFrame:
        # short docs produce no windows (and sequence(1, n<=0) would
        # be DESCENDING — guard before the transform)
        return df.select(
            "doc_id", F.expr(words).alias("__words")
        ).where(F.size("__words") >= _SUBSTR_L)

    root = os.path.join(
        _scratch_dir(), f"substr_screen_{uuid.uuid4().hex[:12]}"
    )
    # freeze the corpus windows before the stream starts
    (
        with_words(docs.where(F.col("doc_id") >= _SUBSTR_SPLIT))
        .select(F.explode(F.expr(grams)).alias("gram"))
        .write.parquet(os.path.join(root, "corpus_grams"))
    )
    corpus_grams = spark.read.parquet(os.path.join(root, "corpus_grams"))
    stream_dir = stage_table_stream(sf_dir, "documents")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    new_grams = (
        with_words(stream.where(F.col("doc_id") < _SUBSTR_SPLIT))
        .select(
            "doc_id", F.posexplode(F.expr(grams)).alias("pos", "gram")
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "gram")
    )
    matched = new_grams.join(corpus_grams, "gram", "left_semi").select(
        "doc_id", "pos"
    )
    return run_to_memory(matched, output_mode="append")
