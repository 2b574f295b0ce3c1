"""End-to-end ingest tests (SURVEY §5.3): synthetic gzip
length-delimited proto files -> pipeline -> warehouse tables -> SQL.

Covers the M1 minimum slice (verified-speedtest), the A11 demux +
A12 explode family (mobile-rewards), the S10 oneof dispatch
(coverage-object), malformed-frame tolerance (A8), and the
checkpoint/--continue semantics (A16-A18).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid as uuidlib
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from huckli_spark.functions.keys import helium_pubkey
from huckli_spark.ingest.filetypes import REGISTRY
from huckli_spark.ingest.warehouse import Warehouse
from huckli_spark.sources.framing import write_frames, write_framed_gzip
from huckli_spark.sources.listing import FileInfo, FileSelection
from huckli_spark.sources.protowire import encode

KEY1 = bytes(range(1, 34))
KEY2 = bytes(range(2, 35))
UUID1 = uuidlib.UUID("11111111-2222-3333-4444-555555555555")

T0_MS = 1_700_000_000_000  # 2023-11-14T22:13:20Z


def _speedtest_payloads(n: int, base_ms: int = T0_MS) -> list[bytes]:
    msg = REGISTRY["verified-speedtest"].msg
    out = []
    for i in range(n):
        out.append(
            encode(
                msg,
                {
                    # real wire shape: verified_speedtest.report is a
                    # speedtest_ingest_report_v1 wrapping speedtest_req_v1
                    "report": {
                        "received_timestamp": base_ms + i * 1000,  # millis
                        "report": {
                            "pub_key": KEY1 if i % 2 == 0 else KEY2,
                            "serial": f"sn-{i}",
                            "timestamp": (base_ms + i * 1000) // 1000,  # seconds
                            "upload_speed": 100 + i,
                            "download_speed": 1000 + i,
                            "latency": 10 + i,
                        },
                    },
                    "timestamp": base_ms + i * 1000 + 500,
                    "result": "SPEEDTEST_AVG_VALID" if i % 3 else "SPEEDTEST_AVG_FAIL",
                },
            )
        )
    return out


@pytest.fixture
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


class TestSpeedtestSlice:
    def test_end_to_end(self, wh, tmp_path):
        raw = tmp_path / "raw"
        raw.mkdir()
        write_framed_gzip(
            str(raw / f"verified_speedtest.{T0_MS}.gz"), _speedtest_payloads(10)
        )
        counts = wh.ingest("verified-speedtest", str(raw))
        assert counts == {"verified_speedtest_report": 10}

        df = wh.table("verified_speedtest_report")
        rows = {r.serial: r for r in df.collect()}
        r0 = rows["sn-0"]
        # S1 base58check key
        assert r0.hotspot_key == helium_pubkey(KEY1)
        # S4 heuristic: seconds field and millis field land on the same instant
        assert r0.timestamp == r0.received_timestamp
        # S8 enum name
        assert r0.result == "SPEEDTEST_AVG_FAIL"
        # A19 provenance
        assert r0.file_source == f"verified_speedtest.{T0_MS}.gz"

        # post-ingest SQL surface (§3.4): canonical group-by workload
        out = wh.sql(
            """
            SELECT hotspot_key, avg(download_speed) AS avg_down
            FROM verified_speedtest_report GROUP BY 1 ORDER BY 2 DESC
            """
        ).collect()
        assert len(out) == 2
        assert out[0].avg_down > out[1].avg_down

    def test_malformed_frames_dropped(self, wh, tmp_path):
        raw = tmp_path / "raw"
        raw.mkdir()
        payloads = _speedtest_payloads(4)
        # undecodable frame mid-file: LEN field claiming 255 bytes, truncated
        payloads.insert(2, b"\x0a\xff\x01")
        write_framed_gzip(str(raw / f"verified_speedtest.{T0_MS}.gz"), payloads)
        counts = wh.ingest("verified-speedtest", str(raw))
        # A8: bad record dropped, rest survive — and the drop is an
        # observable metric, not just an executor-stderr line
        assert counts == {"verified_speedtest_report": 4}
        assert wh.dropped_frames.value == 1


    def test_plain_framed_file_matches_its_gzip_twin(self, spark, tmp_path):
        # the reader gunzips a file only if its name ends in .gz
        payloads = _speedtest_payloads(10)
        rows = []
        for i, name in enumerate(
            [f"verified_speedtest.{T0_MS}", f"verified_speedtest.{T0_MS}.gz"]
        ):
            raw = tmp_path / f"raw{i}"
            raw.mkdir()
            if name.endswith(".gz"):
                write_framed_gzip(str(raw / name), payloads)
            else:
                with open(raw / name, "wb") as fh:
                    write_frames(fh, payloads)
            wh = Warehouse(spark, str(tmp_path / f"wh{i}"))
            assert wh.ingest("verified-speedtest", str(raw)) == {
                "verified_speedtest_report": 10
            }
            df = wh.table("verified_speedtest_report")
            assert {r.file_source for r in df.select("file_source").collect()} == {name}
            rows.append(sorted(df.drop("file_source").collect(), key=repr))
        assert rows[0] == rows[1]


class TestCheckpoint:
    def test_continue_flow(self, wh, tmp_path):
        raw = tmp_path / "raw"
        raw.mkdir()
        f1 = f"verified_speedtest.{T0_MS}.gz"
        write_framed_gzip(str(raw / f1), _speedtest_payloads(5))
        wh.ingest("verified-speedtest", str(raw))
        assert wh.table("verified_speedtest_report").count() == 5
        ck = wh.latest_file_processed_timestamp("verified_speedtest")
        assert ck == datetime.fromtimestamp(T0_MS / 1000, tz=timezone.utc)

        # second file lands later; --continue picks up only the new one
        t1 = T0_MS + 3_600_000
        write_framed_gzip(
            str(raw / f"verified_speedtest.{t1}.gz"), _speedtest_payloads(3, t1)
        )
        counts = wh.ingest(
            "verified-speedtest", str(raw), FileSelection(continue_=True)
        )
        assert counts == {"verified_speedtest_report": 3}
        assert wh.table("verified_speedtest_report").count() == 8
        assert wh.table("files_processed").count() == 2

        # re-running --continue ingests nothing (checkpoint advanced)
        counts = wh.ingest(
            "verified-speedtest", str(raw), FileSelection(continue_=True)
        )
        assert counts == {}

    def test_continue_without_history_fails(self, wh, tmp_path):
        with pytest.raises(ValueError, match="cannot continue"):
            wh.ingest("verified-speedtest", str(tmp_path), FileSelection(continue_=True))

    @pytest.mark.parametrize("acid", [False, True])
    def test_checkpoint_calls_start_no_spark_job(self, spark, tmp_path, acid):
        wh = Warehouse(spark, str(tmp_path / "wh"), acid=acid)
        sc = spark.sparkContext
        run = uuidlib.uuid4().hex

        def in_group(name, fn):
            sc.setJobGroup(f"{name}-{run}", name)
            try:
                return fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        in_group("write", lambda: wh.save_files_processed([_ckpt_info(PA, 1)]))
        got = in_group("read", lambda: wh.latest_file_processed_timestamp(PA))
        assert got == _ckpt_ts(1)
        # control: a Spark read in its own group does show up; listener
        # events arrive in order, so once it is visible a job of the
        # two groups above would be too
        in_group("control", lambda: wh.table("files_processed").collect())
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(f"control-{run}"):
            assert time.time() < deadline, "control job never reported"
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(f"write-{run}") == []
        assert tracker.getJobIdsForGroup(f"read-{run}") == []

    @pytest.mark.parametrize("acid", [False, True])
    def test_checkpoint_max_matches_spark_sql(self, spark, tmp_path, acid):
        wh = Warehouse(spark, str(tmp_path / "wh"), acid=acid)

        def check():
            for prefix in (PA, PB, "absent"):
                assert wh.latest_file_processed_timestamp(prefix) == _sql_max(
                    wh, prefix
                ), prefix

        # files written by the former Spark-job writer: one holding two
        # prefixes, a single-prefix one and an INT96 one (the default of
        # a vanilla session; it reads back tz-less)
        _spark_checkpoint(spark, wh, [(PA, 1), (PB, 5)])
        check()
        _spark_checkpoint(spark, wh, [(PA, 2)])
        _spark_checkpoint(spark, wh, [(PA, 3)], int96=True)
        check()
        assert wh.latest_file_processed_timestamp(PA) == _ckpt_ts(3)
        # driver-written: two prefixes in one file, then one prefix
        wh.save_files_processed([_ckpt_info(PA, 2), _ckpt_info(PB, 6)])
        check()
        assert wh.latest_file_processed_timestamp(PB) == _ckpt_ts(6)
        wh.save_files_processed([_ckpt_info(PA, 7)])
        check()
        assert wh.latest_file_processed_timestamp(PA) == _ckpt_ts(7)
        # a later file that is not part of the table: staged but never
        # published (acid), or a writer's hidden temp file (plain)
        other = Warehouse(spark, str(tmp_path / "other"))
        other.save_files_processed([_ckpt_info(PA, 9)])
        (late,) = other._table_files("files_processed")
        if acid:
            staging = wh._log("files_processed").staging_dir()
            os.makedirs(staging)
            shutil.copy(late, os.path.join(staging, "part-late.parquet"))
        else:
            base = wh.table_path("files_processed")
            shutil.copy(late, os.path.join(base, ".part-late.parquet.tmp"))
            os.makedirs(os.path.join(base, "_temporary"))
            shutil.copy(late, os.path.join(base, "_temporary", "part-late.parquet"))
        check()
        assert wh.latest_file_processed_timestamp(PA) == _ckpt_ts(7)

    @pytest.mark.parametrize("acid", [False, True])
    def test_checkpoint_max_empty_or_missing(self, spark, tmp_path, acid):
        wh = Warehouse(spark, str(tmp_path / "wh"), acid=acid)
        assert wh.latest_file_processed_timestamp(PA) is None
        base = wh.table_path("files_processed")
        os.makedirs(base)
        open(os.path.join(base, "_SUCCESS"), "w").close()
        assert wh.latest_file_processed_timestamp(PA) is None
        wh.save_files_processed([])
        assert wh.latest_file_processed_timestamp(PA) is None
        wh.save_files_processed([_ckpt_info(PB, 1)])
        assert wh.latest_file_processed_timestamp(PA) is None

    def test_checkpoint_read_ignores_driver_timezone(self, spark, tmp_path):
        """The checkpoint max is an instant whatever the driver's local
        zone: reading it through a Spark collect() returned local wall
        time, so under TZ=Asia/Tokyo the max read 9 h late and
        --continue skipped the files of those 9 hours."""
        saved = os.environ.get("TZ")
        os.environ["TZ"] = "Asia/Tokyo"
        time.tzset()
        try:
            wh = Warehouse(spark, str(tmp_path / "wh"))
            _spark_checkpoint(spark, wh, [(PA, 0)])
            assert wh.latest_file_processed_timestamp(PA) == _ckpt_ts(0)
            assert _sql_max(wh, PA) == _ckpt_ts(0)
            wh.save_files_processed([_ckpt_info(PA, 1)])
            assert wh.latest_file_processed_timestamp(PA) == _ckpt_ts(1)
            assert _sql_max(wh, PA) == _ckpt_ts(1)
        finally:
            if saved is None:
                del os.environ["TZ"]
            else:
                os.environ["TZ"] = saved
            time.tzset()


# checkpoint rows for the driver-side read tests: two prefixes, hourly
# file timestamps from T0
PA, PB = "verified_speedtest", "mobile_reward_share"


def _ckpt_ts(hour: int) -> datetime:
    return datetime.fromtimestamp(T0_MS / 1000 + hour * 3600, tz=timezone.utc)


def _ckpt_info(prefix: str, hour: int) -> FileInfo:
    return FileInfo.from_key(f"{prefix}.{T0_MS + hour * 3_600_000}.gz")


def _spark_checkpoint(spark, wh, rows, int96: bool = False) -> None:
    """Append checkpoint rows as the former writer did: a one-file
    Spark parquet write through ``Warehouse.append``."""
    infos = [_ckpt_info(p, h) for p, h in rows]
    now = datetime.now(timezone.utc)
    df = spark.createDataFrame(
        [(os.path.basename(i.key), i.prefix, i.timestamp, now) for i in infos],
        "file_name string not null, prefix string not null, "
        "file_timestamp timestamp not null, processed_at timestamp not null",
    ).coalesce(1)
    conf = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(conf)
    if int96:
        spark.conf.set(conf, "INT96")
    try:
        wh.append("files_processed", df)
    finally:
        spark.conf.set(conf, before)


def _sql_max(wh, prefix: str):
    """Spark SQL's max(file_timestamp) for ``prefix``, as a UTC instant
    (through unix_micros, so the driver's local zone cannot shift it)."""
    if not wh.has_table("files_processed"):
        return None
    us = (
        wh.table("files_processed")
        .where(F.col("prefix") == prefix)
        .agg(F.unix_micros(F.max("file_timestamp")).alias("us"))
        .collect()[0]
        .us
    )
    if us is None:
        return None
    return datetime.fromtimestamp(0, tz=timezone.utc) + timedelta(microseconds=us)


def _mobile_payloads(base_ms: int = T0_MS) -> list[bytes]:
    """One mobile-rewards record of each reward variant; the radio
    reward carries every child list (trust scores, speedtests, hexes)."""
    msg = REGISTRY["mobile-rewards"].msg
    periods = {"start_period": base_ms // 1000, "end_period": base_ms // 1000 + 86400}
    return [
        encode(msg, {**periods, "gateway_reward": {
            "hotspot_key": KEY1, "dc_transfer_reward": 10,
            "rewardable_bytes": 1000, "price": 5}}),
        encode(msg, {**periods, "subscriber_reward": {
            "subscriber_id": UUID1.bytes, "discovery_location_amount": 7,
            "verification_mapping_amount": 3, "reward_override_entity_key": "k"}}),
        encode(msg, {**periods, "service_provider_reward": {
            "service_provider_id": "HELIUM_MOBILE", "amount": 99,
            "rewardable_entity_key": "e"}}),
        encode(msg, {**periods, "unallocated_reward": {
            "reward_type": "UNALLOCATED_REWARD_TYPE_POC", "amount": 1}}),
        encode(msg, {**periods, "promotion_reward": {
            "entity": "promo", "service_provider_amount": 2, "matched_amount": 2}}),
        encode(msg, {**periods, "radio_reward_v2": {
            "hotspot_key": KEY2,
            # decimals cross the wire as helium.Decimal{value} messages
            "base_coverage_points_sum": {"value": "12.5"},
            "boosted_coverage_points_sum": {"value": "not-a-number"},  # S5 -> 0.0
            "base_reward_shares": {"value": "1.25"},
            "boosted_reward_shares": {"value": "0"},
            "base_poc_reward": 1000,
            "boosted_poc_reward": 0,
            "seniority_timestamp": base_ms // 1000,
            "coverage_object": UUID1.bytes,
            "location_trust_score_multiplier": {"value": "1.0"},
            "speedtest_multiplier": {"value": "0.75"},
            "sp_boosted_hex_status": "ELIGIBLE",
            "oracle_boosted_hex_status": "ELIGIBLE",
            "speedtest_average": {
                "upload_speed_bps": 5,
                "download_speed_bps": 50,
                "latency_ms": 30,
                "timestamp": base_ms // 1000,
            },
            "location_trust_scores": [
                {"meters_to_asserted": 10, "trust_score": {"value": "0.9"}},
                {"meters_to_asserted": 20, "trust_score": {"value": "0.5"}},
            ],
            "speedtests": [
                {"upload_speed_bps": 1, "download_speed_bps": 2, "latency_ms": 3,
                 "timestamp": base_ms // 1000},
            ],
            "covered_hexes": [
                {"location": 631_236_437_021_704_191 % (1 << 60),
                 "base_coverage_points": {"value": "4"},
                 "boosted_coverage_points": {"value": "8"},
                 "urbanized": "A", "footfall": "A",
                 "landtype": "A", "assignment_multiplier": {"value": "1"},
                 "rank": 1, "rank_multiplier": {"value": "1"},
                 "boosted_multiplier": 2,
                 "service_provider_override": False},
                {"location": 7, "base_coverage_points": {"value": "2"},
                 "boosted_coverage_points": {"value": "0"},
                 "urbanized": "C",
                 "footfall": "C", "landtype": "C",
                 "assignment_multiplier": {"value": "0.5"}, "rank": 2,
                 "rank_multiplier": {"value": "0.3"}, "boosted_multiplier": 0,
                 "service_provider_override": True},
            ],
        }}),
    ]


class TestMobileDemuxExplode:
    def test_demux_and_children(self, wh, tmp_path):
        raw = tmp_path / "raw"
        raw.mkdir()
        payloads = _mobile_payloads()
        write_framed_gzip(
            str(raw / f"mobile_network_reward_shares_v1.{T0_MS}.gz"), payloads
        )
        counts = wh.ingest("mobile-rewards", str(raw))
        assert counts == {
            "mobile_gateway_rewards": 1,
            "mobile_subscriber_rewards": 1,
            "mobile_service_provider_rewards": 1,
            "mobile_unallocated_rewards": 1,
            "mobile_promotion_rewards": 1,
            "mobile_radio_rewards": 1,
            "mobile_reward_trust_scores": 2,
            "mobile_reward_speedtests": 1,
            "mobile_reward_covered_hexes": 2,
        }
        radio = wh.table("mobile_radio_rewards").collect()[0]
        # S5 decimal defaults
        assert radio.base_coverage_points_sum == 12.5
        assert radio.boosted_coverage_points_sum == 0.0
        # S6 uuid formatting
        assert radio.coverage_object == str(UUID1)
        # A12/A13: children share the deterministic parent id
        hexes = wh.table("mobile_reward_covered_hexes").collect()
        assert {h.id for h in hexes} == {radio.id}
        # parent id is uuid-shaped
        uuidlib.UUID(radio.id)
        # subscriber id rendered as uuid (S6)
        sub = wh.table("mobile_subscriber_rewards").collect()[0]
        assert sub.subscriber_id == str(UUID1)


class TestBatchStreamParity:
    def test_mobile_rewards_batch_equals_stream(self, spark, tmp_path):
        """Batch ingest and the stream share the framed reader and the
        decode step: the same files give the same rows in all 9
        demuxed tables and the same dropped-frame count."""
        from huckli_spark.streaming.ingest import stream_ingest

        raw = tmp_path / "raw"
        raw.mkdir()
        for k, base_ms in enumerate([T0_MS, T0_MS + 3_600_000]):
            payloads = _mobile_payloads(base_ms)
            # complete frame, invalid protobuf: LEN field claiming 255 bytes
            payloads.insert(k + 1, b"\x0a\xff\x01")
            write_framed_gzip(
                str(raw / f"mobile_network_reward_shares_v1.{base_ms}.gz"), payloads
            )
        batch = Warehouse(spark, str(tmp_path / "wh_batch"))
        batch.ingest("mobile-rewards", str(raw))
        stream = Warehouse(spark, str(tmp_path / "wh_stream"))
        q = stream_ingest(
            spark, "mobile-rewards", str(raw), stream, str(tmp_path / "ckpt")
        )
        assert q.awaitTermination(180)

        tables = REGISTRY["mobile-rewards"].tables
        assert len(tables) == 9
        for name in tables:
            got = [
                sorted(wh.table(name).collect(), key=repr) for wh in (batch, stream)
            ]
            assert got[0], name
            assert got[0] == got[1], name
        assert batch.dropped_frames.value == stream.dropped_frames.value == 2


class TestCoverageOneof:
    def test_key_dispatch(self, wh, tmp_path):
        raw = tmp_path / "raw"
        raw.mkdir()
        msg = REGISTRY["coverage-object"].msg
        payloads = [
            encode(msg, {"coverage_object": {
                "hotspot_key": KEY1, "uuid": UUID1.bytes,
                "coverage_claim_time": T0_MS // 1000, "indoor": True,
                "coverage": [
                    {"location": "8c2681a3064d9ff", "signal_level": "SIGNAL_LEVEL_HIGH",
                     "signal_power": -70},
                    {"location": "8c2681a3064dbff", "signal_level": "SIGNAL_LEVEL_LOW",
                     "signal_power": -100},
                ]}}),
            encode(msg, {"coverage_object": {
                "cbsd_id": "CBSD-9", "uuid": uuidlib.uuid5(UUID1, "x").bytes,
                "coverage_claim_time": T0_MS // 1000, "indoor": False,
                "coverage": []}}),
        ]
        write_framed_gzip(str(raw / f"coverage_object.{T0_MS}.gz"), payloads)
        counts = wh.ingest("coverage-object", str(raw))
        assert counts == {"coverage_object": 2, "coverage_location": 2}
        parents = {r.radio_type: r for r in wh.table("coverage_object").collect()}
        # S10: oneof hotspot_key arm -> wifi + b58; cbsd_id arm -> cbrs
        assert parents["wifi"].radio_key == helium_pubkey(KEY1)
        assert parents["cbrs"].radio_key == "CBSD-9"
        locs = wh.table("coverage_location").collect()
        assert all(l.uuid == str(UUID1) for l in locs)
        assert {l.signal_level for l in locs} == {"SIGNAL_LEVEL_HIGH", "SIGNAL_LEVEL_LOW"}


class TestIdempotentReingest:
    """SURVEY §7 M6: re-ingesting the same file must not duplicate rows
    when the warehouse runs in idempotent mode, and must duplicate them
    in default mode (documented reference parity, §3.1 step 8)."""

    def _one_file(self, tmp_path, n=8):
        raw = tmp_path / "raw"
        raw.mkdir(exist_ok=True)
        path = raw / f"verified_speedtest.{T0_MS}.gz"
        write_framed_gzip(str(path), _speedtest_payloads(n))
        return str(raw)

    def test_idempotent_replaces(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh"), idempotent=True)
        raw = self._one_file(tmp_path)
        wh.ingest("verified-speedtest", raw)
        # crash-retry: the same file ingested again
        wh.ingest("verified-speedtest", raw)
        df = wh.table("verified_speedtest_report")
        assert df.count() == 8
        # partition column round-trips as the provenance column
        assert df.where(
            df.file_source == f"verified_speedtest.{T0_MS}.gz"
        ).count() == 8

    def test_default_mode_is_at_least_once(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path / "wh2"))
        raw = self._one_file(tmp_path)
        wh.ingest("verified-speedtest", raw)
        wh.ingest("verified-speedtest", raw)
        assert wh.table("verified_speedtest_report").count() == 16

    def test_idempotent_tables_visible_to_sql(self, spark, tmp_path):
        # has_table must see partitioned layouts (parquet only in
        # file_source=... subdirs) or Warehouse.sql silently registers
        # no data tables and every query fails table-not-found
        wh = Warehouse(spark, str(tmp_path / "wh3"), idempotent=True)
        raw = self._one_file(tmp_path)
        wh.ingest("verified-speedtest", raw)
        wh.ingest("verified-speedtest", raw)  # re-ingest: counts stable
        assert wh.has_table("verified_speedtest_report")
        n = wh.sql(
            "SELECT count(*) AS n FROM verified_speedtest_report"
        ).collect()[0].n
        assert n == 8

    def test_idempotent_write_does_not_mutate_session_conf(self, spark, tmp_path):
        # the dynamic overwrite mode must be scoped to the writer —
        # leaking it into the session flips overwrite semantics for
        # every other writer on the shared session
        key = "spark.sql.sources.partitionOverwriteMode"
        before = spark.conf.get(key, None)
        wh = Warehouse(spark, str(tmp_path / "wh4"), idempotent=True)
        wh.ingest("verified-speedtest", self._one_file(tmp_path))
        assert spark.conf.get(key, None) == before


class TestDatePartitionedLayout:
    """Idempotent/acid tables are partitioned (file_date, file_source):
    per-file replace granularity stays, and date-range scans prune
    partitions statically (VERDICT r04 item 7)."""

    def _two_day_warehouse(self, spark, tmp_path, **wh_kwargs):
        from tests.test_ingest import T0_MS, _speedtest_payloads

        wh = Warehouse(spark, str(tmp_path / "wh"), **wh_kwargs)
        raw = tmp_path / "raw"
        raw.mkdir()
        day_ms = 86_400_000
        for d in range(2):
            write_framed_gzip(
                str(raw / f"verified_speedtest.{T0_MS + d * day_ms}.gz"),
                _speedtest_payloads(4),
            )
        wh.ingest("verified-speedtest", str(raw))
        return wh

    def test_layout_and_pruning(self, spark, tmp_path):
        import datetime

        wh = self._two_day_warehouse(spark, tmp_path, idempotent=True)
        root = wh.table_path("verified_speedtest_report")
        days = sorted(d for d in os.listdir(root) if d.startswith("file_date="))
        assert len(days) == 2  # one directory per ingest day
        # file_source partitions nest under their date
        assert any(
            f.startswith("file_source=") for f in os.listdir(os.path.join(root, days[0]))
        )

        df = wh.table("verified_speedtest_report")
        day0 = datetime.datetime.fromtimestamp(
            T0_MS / 1000, datetime.timezone.utc
        ).date()
        scan = df.where(F.col("file_date") == F.lit(day0))
        plan = scan._jdf.queryExecution().executedPlan().toString()
        # static partition pruning: the filter reaches PartitionFilters
        # on the scan node, not a post-scan Filter
        assert "PartitionFilters" in plan and "file_date" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        assert scan.count() == 4

    def test_acid_nested_replace_is_per_file(self, spark, tmp_path):
        from tests.test_ingest import T0_MS, _speedtest_payloads

        wh = self._two_day_warehouse(
            spark, tmp_path, idempotent=True, acid=True
        )
        assert wh.table("verified_speedtest_report").count() == 8
        # re-ingest day 0's file alone: its nested partition is
        # replaced, day 1 untouched, total count unchanged
        raw2 = tmp_path / "raw2"
        raw2.mkdir()
        write_framed_gzip(
            str(raw2 / f"verified_speedtest.{T0_MS}.gz"), _speedtest_payloads(4)
        )
        wh.ingest("verified-speedtest", str(raw2))
        df = wh.table("verified_speedtest_report")
        assert df.count() == 8
        assert df.select("file_source").distinct().count() == 2
