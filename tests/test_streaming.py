"""Structured Streaming tests: streaming ingest end-to-end (with
restart/exactly-once file tracking), and the stateful sessionization
operator differentially against its batch form.

The watermarked tumbling-window aggregate is covered by the parity
gate (q_stream_time_bucket hash-matches the DuckDB batch oracle).
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from huckli_spark.ingest.warehouse import Warehouse
from huckli_spark.sources.framing import write_framed_gzip
from huckli_spark.streaming.ingest import stream_ingest
from huckli_spark.streaming.sessionize import sessionize_batch, sessionize_stream
from tests.test_ingest import T0_MS, _speedtest_payloads


class TestStreamIngest:
    def test_backlog_restart_and_tail(self, spark, tmp_path):
        raw = tmp_path / "raw"
        raw.mkdir()
        for i in range(2):
            ms = T0_MS + i * 3_600_000
            write_framed_gzip(
                str(raw / f"verified_speedtest.{ms}.gz"),
                _speedtest_payloads(10, base_ms=ms),
            )
        wh = Warehouse(spark, str(tmp_path / "wh"))
        ckpt = str(tmp_path / "ckpt")

        q = stream_ingest(spark, "verified-speedtest", str(raw), wh, ckpt)
        assert q.awaitTermination(180)
        assert wh.table("verified_speedtest_report").count() == 20
        assert wh.table("files_processed").count() == 2

        # restart on the same checkpoint: nothing re-ingested (the
        # stream's file log subsumes the reference's files_processed
        # lower-bound scan — and closes its at-least-once gap)
        q = stream_ingest(spark, "verified-speedtest", str(raw), wh, ckpt)
        assert q.awaitTermination(180)
        assert wh.table("verified_speedtest_report").count() == 20
        assert wh.table("files_processed").count() == 2

        # a new file lands; only it is processed on the next run
        ms = T0_MS + 2 * 3_600_000
        write_framed_gzip(
            str(raw / f"verified_speedtest.{ms}.gz"),
            _speedtest_payloads(5, base_ms=ms),
        )
        q = stream_ingest(spark, "verified-speedtest", str(raw), wh, ckpt)
        assert q.awaitTermination(180)
        assert wh.table("verified_speedtest_report").count() == 25
        assert wh.table("files_processed").count() == 3
        # provenance rows from the new file only
        new_rows = (
            wh.table("verified_speedtest_report")
            .where(F.col("file_source") == f"verified_speedtest.{ms}.gz")
            .count()
        )
        assert new_rows == 5

    def test_kill_and_restart_mid_batch_no_loss_no_dupes(self, spark, tmp_path):
        """VERDICT r05 directive #6: the streaming twin of the txlog
        crash matrix. Inject a crash INSIDE the foreachBatch commit at two points
        for the second file — (a) before its data append, (b) after
        the appends but before the files_processed checkpoint (the
        reference's at-least-once gap, §3.1 step 8) — restart on the
        same streaming checkpoint each time, and prove no file is
        lost and no row is duplicated (acid partition-replace absorbs
        the replayed appends)."""
        from pyspark.errors.exceptions.captured import StreamingQueryException

        raw = tmp_path / "raw"
        raw.mkdir()
        keys = []
        for i in range(3):
            ms = T0_MS + i * 3_600_000
            keys.append(f"verified_speedtest.{ms}.gz")
            write_framed_gzip(
                str(raw / keys[-1]), _speedtest_payloads(10, base_ms=ms)
            )
        wh = Warehouse(spark, str(tmp_path / "wh"), idempotent=True, acid=True)
        ckpt = str(tmp_path / "ckpt")

        # crash (a): append of file[1] raises before any data lands
        orig_append, orig_save = wh.append, wh.save_files_processed
        state = {"arm": "append"}

        def failing_append(name, df, *a, **kw):
            if state["arm"] == "append" and "file_source" in df.columns:
                srcs = {
                    r[0] for r in df.select("file_source").distinct().collect()
                }
                if keys[1] in srcs:
                    raise RuntimeError("injected crash before append")
            return orig_append(name, df, *a, **kw)

        def failing_save(infos):
            if state["arm"] == "save" and keys[1] in {i.key for i in infos}:
                raise RuntimeError("injected crash after append, before checkpoint")
            return orig_save(infos)

        wh.append, wh.save_files_processed = failing_append, failing_save
        q = stream_ingest(
            spark, "verified-speedtest", str(raw), wh, ckpt,
            max_files_per_trigger=1,
        )
        with pytest.raises(StreamingQueryException, match="injected crash"):
            q.awaitTermination(180)
        done = {r[0] for r in wh.table("files_processed")
                .select("file_name").collect()}
        assert keys[1] not in done  # the crashed file is NOT checkpointed

        # crash (b): restart; file[1] replays — appends land, then the
        # checkpoint write crashes (the at-least-once gap, post-data)
        state["arm"] = "save"
        q = stream_ingest(
            spark, "verified-speedtest", str(raw), wh, ckpt,
            max_files_per_trigger=1,
        )
        with pytest.raises(StreamingQueryException, match="injected crash"):
            q.awaitTermination(180)

        # healthy restart: the batch replays once more and completes
        state["arm"] = "off"
        q = stream_ingest(
            spark, "verified-speedtest", str(raw), wh, ckpt,
            max_files_per_trigger=1,
        )
        assert q.awaitTermination(180)

        # every file exactly once — crash (b)'s replayed appends were
        # absorbed by the acid partition replace, not doubled
        per_file = {
            r["file_source"]: r["n"]
            for r in wh.table("verified_speedtest_report")
            .groupBy("file_source").agg(F.count("*").alias("n")).collect()
        }
        assert per_file == {k: 10 for k in keys}
        done = {r[0] for r in wh.table("files_processed")
                .select("file_name").collect()}
        assert done == set(keys)

    def test_stream_into_acid_warehouse_is_exactly_once(self, spark, tmp_path):
        # streaming ingest composed with the transaction log: a file
        # redelivered under a FRESH checkpoint (the stream's own file
        # log wiped — the crash-and-lose-checkpoint scenario) must
        # REPLACE its partition, not double it
        raw = tmp_path / "raw"
        raw.mkdir()
        write_framed_gzip(
            str(raw / f"verified_speedtest.{T0_MS}.gz"),
            _speedtest_payloads(10),
        )
        wh = Warehouse(
            spark, str(tmp_path / "wh"), idempotent=True, acid=True
        )
        q = stream_ingest(
            spark, "verified-speedtest", str(raw), wh, str(tmp_path / "ck1")
        )
        assert q.awaitTermination(180)
        assert wh.table("verified_speedtest_report").count() == 10
        # fresh checkpoint = the stream forgets what it processed;
        # the warehouse's replace commit absorbs the redelivery
        q = stream_ingest(
            spark, "verified-speedtest", str(raw), wh, str(tmp_path / "ck2")
        )
        assert q.awaitTermination(180)
        assert wh.table("verified_speedtest_report").count() == 10

    def test_zero_row_file_writes_no_part_file(self, spark, tmp_path):
        """A micro-batch whose file decodes to no rows (an empty gz)
        appends nothing: an unpartitioned Spark write of an empty
        DataFrame leaves one empty part-file, so the batch is skipped
        before its appends. The file gets no checkpoint row, as it has
        no rows to name it."""
        import pyarrow.parquet as pq

        raw = tmp_path / "raw"
        raw.mkdir()
        keys = [f"verified_speedtest.{T0_MS + i * 3_600_000}.gz" for i in range(2)]
        write_framed_gzip(str(raw / keys[0]), _speedtest_payloads(10))
        write_framed_gzip(str(raw / keys[1]), [])
        wh = Warehouse(spark, str(tmp_path / "wh"))
        q = stream_ingest(
            spark, "verified-speedtest", str(raw), wh, str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        )
        assert q.awaitTermination(180)
        assert wh.table("verified_speedtest_report").count() == 10
        done = {r[0] for r in wh.table("files_processed")
                .select("file_name").collect()}
        assert done == {keys[0]}
        parts = wh._table_files("verified_speedtest_report")
        assert parts
        assert all(pq.ParquetFile(p).metadata.num_rows > 0 for p in parts)


_EV_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_T0 = 1_700_000_000_000_000  # epoch micros


def _ts(minutes: float):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(
        (_T0 + int(minutes * 60 * 1_000_000)) / 1e6, tz=timezone.utc
    )


class TestSessionize:
    def _stage(self, spark, tmp_path, rows_batches):
        """Write each batch as one parquet file into the stream dir with
        increasing mtimes so the file source replays them in order."""
        stream_dir = tmp_path / "stream"
        stream_dir.mkdir()
        for i, rows in enumerate(rows_batches):
            df = spark.createDataFrame(rows, _EV_SCHEMA).coalesce(1)
            part_dir = tmp_path / f"part{i}"
            df.write.mode("overwrite").parquet(str(part_dir))
            src = next(
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            )
            dst = stream_dir / f"batch{i}.parquet"
            shutil.copy(part_dir / src, dst)
            base = time.time() - 1000
            os.utime(dst, (base + i * 10, base + i * 10))
        return str(stream_dir)

    def test_stream_matches_batch_closed_sessions(self, spark, tmp_path):
        # user 1: [0m, 10m] gap> [180m, 185m]; user 2: [60m, 90m] gap> [600m]
        batch1 = [
            (1, 1, _ts(0)),
            (1, 2, _ts(10)),
            (2, 3, _ts(60)),
            (2, 4, _ts(90)),
        ]
        batch2 = [(1, 5, _ts(180)), (1, 6, _ts(185)), (2, 7, _ts(600))]
        stream_dir = self._stage(spark, tmp_path, [batch1, batch2])

        stream = (
            spark.readStream.schema(_EV_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
        )
        sess = sessionize_stream(stream, gap_minutes=60, watermark="0 seconds")
        name = "sess_test_sink"
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        emitted = {
            (r.user_id, r.n_events, r.start_us, r.end_us)
            for r in spark.table(name).collect()
        }

        all_events = spark.createDataFrame(batch1 + batch2, _EV_SCHEMA)
        batch = sessionize_batch(all_events, gap_minutes=60)
        by_key = {
            (r.user_id, r.session_id): (
                r.user_id,
                r.n_events,
                r.start_us,
                int(r.start_us + r.duration_s * 1_000_000),
            )
            for r in batch.collect()
        }
        closed_by_data = {by_key[(1, 1)], by_key[(2, 1)]}
        # sessions the watermark could additionally have flushed via
        # timeout (final watermark = last event = 600m; u1 session 2
        # timed out at 185m+60m < 600m; u2 session 2 never can)
        timeout_eligible = {by_key[(1, 2)]}

        assert closed_by_data <= emitted
        assert emitted <= closed_by_data | timeout_eligible
        # every emission is a genuine batch session (no corruption)
        assert emitted <= set(by_key.values())

    def test_single_batch_all_in_order(self, spark, tmp_path):
        rows = [
            (7, i, _ts(m))
            for i, m in enumerate([0, 5, 10, 200, 210, 500])
        ]
        stream_dir = self._stage(spark, tmp_path, [rows])
        stream = spark.readStream.schema(_EV_SCHEMA).parquet(stream_dir)
        sess = sessionize_stream(stream, gap_minutes=60, watermark="0 seconds")
        name = "sess_test_sink2"
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        emitted = {
            (r.user_id, r.n_events) for r in spark.table(name).collect()
        }
        # sessions [0,5,10] and [200,210] close in-batch; [500] stays open
        assert {(7, 3), (7, 2)} <= emitted
        assert (7, 1) not in emitted


class TestChainedJoinWindowBoundary:
    """Off-by-one probe for q_stream_join_window's emission frontier
    (VERDICT r03 item 9). The oracle claims append-mode emits a day
    window iff window_end < min(max p_ts, max c_ts) - 2h (watermark
    delay) - 1h (the interval join's own output-watermark delay),
    STRICTLY. Two fixtures pin the boundary on the timestamp[us]/NTZ
    physical type: one where the frontier lands exactly ON a window end
    (must NOT emit), and one shifted +1s past it (must emit)."""

    DAY = "2024-01-01"

    def _write_events(self, path, frontier_shift_s: int):
        import pandas as pd

        base = pd.Timestamp("2024-01-01 12:00:00")
        # the frontier-setting tail: latest purchase AND click at T =
        # day+1 03:00(+shift); frontier = T - 3h = day+1 00:00(+shift)
        tail = pd.Timestamp("2024-01-02 03:00:00") + pd.Timedelta(seconds=frontier_shift_s)
        rows = [
            # day-1 pairs: purchase at 12:00, clicks 20/40 min before
            (1, base, 10, "purchase", 1.0, "{}"),
            (2, base - pd.Timedelta(minutes=20), 10, "click", 1.0, "{}"),
            (3, base - pd.Timedelta(minutes=40), 10, "click", 1.0, "{}"),
            # tail events on a different user, paired (same instant)
            (4, tail, 99, "purchase", 1.0, "{}"),
            (5, tail, 99, "click", 1.0, "{}"),
        ]
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # current fixture type
        import os

        os.makedirs(path, exist_ok=True)
        pdf.to_parquet(os.path.join(path, "events.parquet"), index=False)

    def _run(self, spark, sf_dir):
        from huckli_spark.queries import all_queries

        spec = all_queries()["q_stream_join_window"]
        return {r.day: r.n_pairs for r in spec.build(spark, sf_dir).collect()}

    def _oracle(self, sf_dir):
        import os

        import duckdb

        from huckli_spark.queries import all_queries

        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'events.parquet')}'"
        )
        spec = all_queries()["q_stream_join_window"]
        return {d: n for d, n in con.sql(spec.oracle).fetchall()}

    def test_frontier_exactly_on_window_end_does_not_emit(self, spark, tmp_path):
        sf = str(tmp_path / "sf_boundary")
        self._write_events(sf, frontier_shift_s=0)
        got = self._run(spark, sf)
        assert self.DAY not in got, got  # strict <: boundary day withheld
        assert got == self._oracle(sf)

    def test_frontier_one_second_past_emits(self, spark, tmp_path):
        sf = str(tmp_path / "sf_shifted")
        self._write_events(sf, frontier_shift_s=1)
        got = self._run(spark, sf)
        assert got.get(self.DAY) == 2, got  # 1 purchase x 2 clicks
        assert got == self._oracle(sf)


class TestLeftOuterJoinFrontier:
    """Boundary probe for q_stream_left_join's null-emission frontier:
    an unmatched purchase exactly AT the global watermark must be
    withheld (strict <); one second older must emit null-padded."""

    def _write_events(self, path, probe_shift_s: int):
        import os

        import pandas as pd

        T = pd.Timestamp("2024-01-02 03:00:00")  # frontier w = T - 2h
        probe = T - pd.Timedelta(hours=2) - pd.Timedelta(seconds=probe_shift_s)
        rows = [
            # frontier-setting tail on user 99 (matched pair at T)
            (1, T, 99, "purchase", 1.0, "{}"),
            (2, T, 99, "click", 1.0, "{}"),
            # the probe: unmatched purchase at w - shift on user 10
            (3, probe, 10, "purchase", 1.0, "{}"),
        ]
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        os.makedirs(path, exist_ok=True)
        pdf.to_parquet(os.path.join(path, "events.parquet"), index=False)

    def _run(self, spark, sf_dir):
        from huckli_spark.queries import all_queries

        spec = all_queries()["q_stream_left_join"]
        return {r.p_id: r.n_clicks for r in spec.build(spark, sf_dir).collect()}

    def _oracle(self, sf_dir):
        import os

        import duckdb

        from huckli_spark.queries import all_queries

        con = duckdb.connect()
        con.sql("SET TimeZone = 'UTC'")
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(sf_dir, 'events.parquet')}'"
        )
        return {
            p: n
            for p, _, n in con.sql(all_queries()["q_stream_left_join"].oracle).fetchall()
        }

    def test_unmatched_at_watermark_withheld(self, spark, tmp_path):
        sf = str(tmp_path / "sf_at")
        self._write_events(sf, probe_shift_s=0)
        got = self._run(spark, sf)
        assert 3 not in got, got  # strict <: exactly-at-frontier withheld
        assert got == self._oracle(sf)

    def test_unmatched_one_second_past_emits_null_padded(self, spark, tmp_path):
        sf = str(tmp_path / "sf_past")
        self._write_events(sf, probe_shift_s=1)
        got = self._run(spark, sf)
        assert got.get(3) == 0, got  # null-padded emission
        assert got == self._oracle(sf)

    def test_empty_click_side_emits_nothing(self, spark, tmp_path):
        """With zero clicks, Spark's min-policy watermark never advances,
        so no purchase may emit null-padded; the oracle's NULL-guarded
        frontier must agree (a bare least() would ignore the NULL and
        wrongly emit every old purchase)."""
        import os

        import pandas as pd

        rows = [
            (1, pd.Timestamp("2024-01-01 10:00:00"), 10, "purchase", 1.0, "{}"),
            (2, pd.Timestamp("2024-01-03 10:00:00"), 11, "purchase", 1.0, "{}"),
        ]
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        sf = str(tmp_path / "sf_noclicks")
        os.makedirs(sf, exist_ok=True)
        pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)
        assert self._run(spark, sf) == {}
        assert self._oracle(sf) == {}


def test_stage_table_stream_zero_row_table(spark, tmp_path):
    # ADVICE r10 #2: n_files > 1 on an empty table used to compute a
    # zero range step and raise; it must stage the empty file instead
    import pyarrow as pa
    import pyarrow.parquet as pq

    from huckli_spark.streaming.windows import stage_table_stream

    sf = str(tmp_path)
    pq.write_table(
        pa.table({"doc_id": pa.array([], pa.int64()),
                  "text": pa.array([], pa.string())}),
        f"{sf}/empty.parquet",
    )
    d = stage_table_stream(sf, "empty", n_files=4)
    assert spark.read.parquet(d).count() == 0


class TestStreamMaxSimTopK:
    def test_stream_topk_agrees_with_batch_plan_on_same_feed(self, spark):
        """Stream/batch agreement pin (VERDICT r11 #6): the drained
        foreachBatch top-k must equal the batch composition — stage
        one computed in batch over the same frozen store construction,
        then the same maxsim_regroup_scored."""
        import os

        from huckli_spark.operators import simsearch
        from huckli_spark.operators.simsearch import maxsim_regroup_scored
        from huckli_spark.queries.streaming_parity import (
            maxsim_stream_scored,
            q_stream_maxsim_topk,
        )

        sf = "/root/testdata/sf0.001"
        streamed = {
            (r.query_id, r.doc_id, r.score_micro, r.rank)
            for r in q_stream_maxsim_topk(spark, sf).collect()
        }

        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        cents = simsearch.ivf_centroids(emb, n_centroids=8)
        posting = simsearch.ivf_assign(emb, cents, nprobe=1).select(
            F.col("vec_id").alias("member_id"),
            F.col("embedding").alias("__nv"),
            F.col("cid"),
        )
        probes = simsearch.ivf_assign(
            emb.where(F.col("vec_id") < 8), cents, nprobe=2
        ).select(
            F.expr("vec_id div 2").alias("query_id"),
            F.col("vec_id").alias("token_id"),
            F.col("cid"),
            F.col("embedding").alias("__qv"),
        )
        batch = {
            (r.query_id, r.doc_id, r.score_micro, r.rank)
            for r in maxsim_regroup_scored(
                maxsim_stream_scored(probes, posting), k=5
            ).collect()
        }
        assert streamed == batch and len(streamed) > 0
