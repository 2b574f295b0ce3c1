"""ACID warehouse mode: write-audit-publish transaction log.

The production sink target is Delta/Iceberg (BASELINE north star);
ingest/txlog.py provides the essential mechanism — atomic commits,
snapshot isolation from partial writes, idempotent partition replace,
orphan vacuum — over plain parquet. These tests exercise the crash
matrix the log exists for.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from huckli_spark.ingest.txlog import TransactionLog
from huckli_spark.ingest.warehouse import Warehouse
from tests.test_ingest import T0_MS, _speedtest_payloads
from huckli_spark.sources.framing import write_framed_gzip


@pytest.fixture
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"), idempotent=True, acid=True)


def _one_file(tmp_path, n=8, ms=T0_MS):
    raw = tmp_path / "raw"
    raw.mkdir(exist_ok=True)
    write_framed_gzip(
        str(raw / f"verified_speedtest.{ms}.gz"), _speedtest_payloads(n, base_ms=ms)
    )
    return str(raw)


def test_commit_then_read(spark, wh, tmp_path):
    wh.ingest("verified-speedtest", _one_file(tmp_path))
    assert wh.has_table("verified_speedtest_report")
    assert wh.table("verified_speedtest_report").count() == 8
    # sql() registration works through the log-resolved reader
    n = wh.sql("SELECT count(*) AS n FROM verified_speedtest_report").collect()[0].n
    assert n == 8


def test_reingest_is_exactly_once(spark, wh, tmp_path):
    raw = _one_file(tmp_path)
    wh.ingest("verified-speedtest", raw)
    wh.ingest("verified-speedtest", raw)  # crash-retry replay
    df = wh.table("verified_speedtest_report")
    assert df.count() == 8  # partition replaced, not doubled
    # the log records the replace action
    log = TransactionLog(wh.table_path("verified_speedtest_report"))
    assert any("replace" in e for e in log.entries())


def test_uncommitted_staging_is_invisible(spark, wh, tmp_path):
    wh.ingest("verified-speedtest", _one_file(tmp_path))
    # simulate a crash BEFORE publish: stage files, never commit
    log = TransactionLog(wh.table_path("verified_speedtest_report"))
    staging = log.staging_dir()
    wh.table("verified_speedtest_report").limit(3).write.parquet(staging)
    assert wh.table("verified_speedtest_report").count() == 8  # unchanged
    removed = log.vacuum(grace_seconds=0)
    assert removed  # the orphaned staging dir was swept
    assert wh.table("verified_speedtest_report").count() == 8


def test_orphan_data_files_are_invisible_and_vacuumable(spark, wh, tmp_path):
    wh.ingest("verified-speedtest", _one_file(tmp_path))
    base = wh.table_path("verified_speedtest_report")
    # simulate a crash AFTER file moves but BEFORE the log entry:
    # a parquet file in the table dir that no commit references
    part = os.path.join(base, "file_source=verified_speedtest.999.gz")
    wh.table("verified_speedtest_report").limit(2).drop("file_source").write.mode(
        "overwrite"
    ).parquet(part)
    assert wh.table("verified_speedtest_report").count() == 8  # not visible
    removed = TransactionLog(base).vacuum(grace_seconds=0)
    assert any("999" in r for r in removed)
    assert wh.table("verified_speedtest_report").count() == 8


def test_two_files_accumulate(spark, wh, tmp_path):
    wh.ingest("verified-speedtest", _one_file(tmp_path, n=8, ms=T0_MS))
    wh.ingest("verified-speedtest", _one_file(tmp_path, n=4, ms=T0_MS + 60_000))
    df = wh.table("verified_speedtest_report")
    assert df.count() == 12
    assert df.select("file_source").distinct().count() == 2


def test_compact_is_snapshot_replace(spark, wh, tmp_path):
    wh.ingest("verified-speedtest", _one_file(tmp_path))
    base = wh.table_path("verified_speedtest_report")
    before = wh.table("verified_speedtest_report").count()
    wh.compact("verified_speedtest_report", ["hotspot_key"], target_partitions=1)
    assert wh.table("verified_speedtest_report").count() == before
    log = TransactionLog(base)
    assert any(e.get("replace_all") for e in log.entries())
    # old snapshot's files became orphans; vacuum sweeps them, data intact
    log.vacuum(grace_seconds=0)
    assert wh.table("verified_speedtest_report").count() == before


def test_plain_compact_keeps_a_logged_tables_history(spark, tmp_path):
    # once a table has a log it stays logged: a Warehouse built
    # without acid=True must compact it through a log commit, not
    # replace the directory (and its _txlog) wholesale
    d = str(tmp_path / "wh")
    acid = Warehouse(spark, d, acid=True)
    acid.append("t", spark.range(20).withColumn("v", F.col("id") % 3))
    acid.append("t", spark.range(20, 40).withColumn("v", F.col("id") % 3))
    before = sorted(tuple(r) for r in acid.table("t").collect())
    plain = Warehouse(spark, d)
    plain.compact("t", ["v"], target_partitions=1)
    log = TransactionLog(plain.table_path("t"))
    assert log.latest_version() == 2
    assert log.entries()[-1].get("replace_all")
    assert sorted(tuple(r) for r in plain.table("t").collect()) == before
    assert plain.table("t", as_of=0).count() == 20
    assert sorted(tuple(r) for r in plain.table("t", as_of=1).collect()) == before


def test_version_conflict_detection(tmp_path):
    base = str(tmp_path / "t")
    os.makedirs(base)
    log = TransactionLog(base)
    s1 = log.staging_dir()
    os.makedirs(s1)
    with open(os.path.join(s1, "a.parquet"), "w") as fh:
        fh.write("x")
    v1 = log.publish(s1)
    s2 = log.staging_dir()
    os.makedirs(s2)
    with open(os.path.join(s2, "b.parquet"), "w") as fh:
        fh.write("y")
    v2 = log.publish(s2)
    assert (v1, v2) == (0, 1)
    assert log.live_files() == ["a.parquet", "b.parquet"]


def test_checkpoint_table_also_logged(spark, wh, tmp_path):
    wh.ingest("verified-speedtest", _one_file(tmp_path))
    assert wh.has_table("files_processed")
    assert wh.table("files_processed").count() == 1
    ts = wh.latest_file_processed_timestamp("verified_speedtest")
    assert ts is not None


def test_time_travel_reads_past_versions(spark, wh, tmp_path):
    wh.ingest("verified-speedtest", _one_file(tmp_path, n=8, ms=T0_MS))
    wh.ingest("verified-speedtest", _one_file(tmp_path, n=4, ms=T0_MS + 60_000))
    name = "verified_speedtest_report"
    log = TransactionLog(wh.table_path(name))
    assert log.latest_version() == 1
    assert wh.table(name, as_of=0).count() == 8
    assert wh.table(name).count() == 12
    # replace commit with a DIFFERENT row count: current changes,
    # both past snapshots are unchanged
    wh.ingest("verified-speedtest", _one_file(tmp_path, n=5, ms=T0_MS))
    assert wh.table(name).count() == 9  # 5 replaced + 4
    assert wh.table(name, as_of=0).count() == 8
    assert wh.table(name, as_of=1).count() == 12
    import pytest as _pytest

    with _pytest.raises(ValueError):
        wh.table(name, as_of=7)  # out of range: loud, not wrong-data
    with _pytest.raises(ValueError):
        Warehouse(spark, str(tmp_path / "plainwh")).table("nope", as_of=0)


def test_pipeline_operators_compose_with_warehouse_tables(spark, wh, tmp_path):
    # the two halves of the engine in one flow: reference-shaped acid
    # ingest produces tables, and the training-pipeline operators run
    # directly on them (keep-first dedup over re-observed serials)
    from huckli_spark.operators.dedup import dedup_exact

    wh.ingest("verified-speedtest", _one_file(tmp_path, n=8, ms=T0_MS))
    wh.ingest(
        "verified-speedtest", _one_file(tmp_path, n=8, ms=T0_MS + 60_000)
    )
    t = wh.table("verified_speedtest_report")
    assert t.count() == 16  # same serials observed in both files
    deduped = dedup_exact(t, ["serial"], order_col="timestamp")
    assert deduped.count() == 8
    # keep-first: every surviving row is the earliest observation
    firsts = {r.serial: r.timestamp for r in deduped.collect()}
    for r in t.collect():
        assert firsts[r.serial] <= r.timestamp


def test_acid_is_a_table_property_not_a_reader_flag(spark, wh, tmp_path):
    # re-ingest leaves replaced-partition orphans on disk; a reader
    # constructed WITHOUT acid=True must still resolve through the log
    # (a directory scan would return doubled rows with no error)
    raw = _one_file(tmp_path)
    wh.ingest("verified-speedtest", raw)
    wh.ingest("verified-speedtest", raw)
    plain = Warehouse(spark, wh.path)  # no acid flag
    assert plain.has_table("verified_speedtest_report")
    assert plain.table("verified_speedtest_report").count() == 8
    n = plain.sql(
        "SELECT count(*) AS n FROM verified_speedtest_report"
    ).collect()[0].n
    assert n == 8
    # and a plain append to a logged table must go through the log too
    # (an unlogged file would be invisible and vacuumable)
    extra = wh.table("verified_speedtest_report").limit(2)
    plain.append("verified_speedtest_report", extra)
    assert plain.table("verified_speedtest_report").count() == 10
    assert wh.table("verified_speedtest_report").count() == 10


# -- concurrent committers (VERDICT r04 item 5) -----------------------------
# Real Delta/Iceberg serialize concurrent commits; the txlog's commit
# point is a hard-link CAS on the next version number (publish()
# retries on FileExistsError). These tests drive MULTIPLE OS PROCESSES
# through contended publishes and assert full serialization: a dense
# version sequence, no lost commits, no duplicated versions.


def _contended_writer(table_path: str, writer_id: int, n_commits: int, barrier,
                      out_dir: str):
    """Module-level so forked child processes can run it; results land
    in a per-writer JSON file (synchronization primitives and return
    values don't cross a Pool boundary, Processes + files do)."""
    import json

    from huckli_spark.ingest.txlog import TransactionLog

    log = TransactionLog(table_path)
    versions = []
    barrier.wait()  # maximize contention: all writers start together
    for i in range(n_commits):
        staging = log.staging_dir()
        os.makedirs(staging)
        with open(os.path.join(staging, f"w{writer_id}-c{i}.parquet"), "wb") as fh:
            fh.write(b"PAR1" + bytes([writer_id, i]))
        versions.append(log.publish(staging))
    with open(os.path.join(out_dir, f"writer{writer_id}.json"), "w") as fh:
        json.dump(versions, fh)


def _replacing_writer(table_path: str, writer_id: int, out_dir: str):
    import json

    from huckli_spark.ingest.txlog import TransactionLog

    log = TransactionLog(table_path)
    out = []
    for i in range(3):
        staging = log.staging_dir()
        part = os.path.join(staging, "day=2026-01-01")
        os.makedirs(part)
        name = f"gen-w{writer_id}-c{i}.parquet"
        with open(os.path.join(part, name), "wb") as fh:
            fh.write(b"PAR1")
        out.append(
            (log.publish(staging, replace_partitions=["day=2026-01-01"]), name)
        )
    with open(os.path.join(out_dir, f"writer{writer_id}.json"), "w") as fh:
        json.dump(out, fh)


class TestConcurrentWriters:
    N_WRITERS = 4
    N_COMMITS = 6

    def test_contended_commits_serialize(self, tmp_path):
        import multiprocessing as mp

        table = str(tmp_path / "table")
        os.makedirs(table)
        import json

        out_dir = str(tmp_path / "results")
        os.makedirs(out_dir)
        ctx = mp.get_context("fork")
        barrier = ctx.Barrier(self.N_WRITERS)
        procs = [
            ctx.Process(
                target=_contended_writer,
                args=(table, w, self.N_COMMITS, barrier, out_dir),
            )
            for w in range(self.N_WRITERS)
        ]
        for pr in procs:
            pr.start()
        for pr in procs:
            pr.join(timeout=120)
            assert pr.exitcode == 0
        per_writer = {
            w: json.load(open(os.path.join(out_dir, f"writer{w}.json")))
            for w in range(self.N_WRITERS)
        }

        total = self.N_WRITERS * self.N_COMMITS
        all_versions = [v for vs in per_writer.values() for v in vs]
        # every publish landed with a distinct version, densely numbered:
        # no lost commits, no duplicated versions, no gaps
        assert sorted(all_versions) == list(range(total))
        # each writer observed ITS OWN commits in increasing order
        # (serialization: a later publish never lands behind an earlier)
        for vs in per_writer.values():
            assert vs == sorted(vs)

        log = TransactionLog(table)
        assert log.latest_version() == total - 1
        live = log.live_files()
        assert len(live) == total and len(set(live)) == total
        # every writer's every file survived the contention
        expected = {
            f"w{w}-c{i}.parquet"
            for w in range(self.N_WRITERS)
            for i in range(self.N_COMMITS)
        }
        assert set(live) == expected
        # the log itself is clean: no stray tmp files from lost races
        assert not [
            f for f in os.listdir(log.log_path) if not f.endswith(".json")
        ]

    def test_contended_replace_keeps_snapshot_consistent(self, tmp_path):
        """Writers doing partition replace under contention: after all
        commits, replaying the log yields exactly the files of the
        LAST committed replace per partition plus all plain adds —
        never a mix of two replace generations of one partition."""
        import multiprocessing as mp

        table = str(tmp_path / "table")
        os.makedirs(table)

        import json

        out_dir = str(tmp_path / "results")
        os.makedirs(out_dir)
        ctx = mp.get_context("fork")
        procs = [
            ctx.Process(target=_replacing_writer, args=(table, w, out_dir))
            for w in range(3)
        ]
        for pr in procs:
            pr.start()
        for pr in procs:
            pr.join(timeout=120)
            assert pr.exitcode == 0
        commits = [
            (v, name)
            for w in range(3)
            for v, name in json.load(open(os.path.join(out_dir, f"writer{w}.json")))
        ]

        log = TransactionLog(table)
        versions = [v for v, _ in commits]
        assert sorted(versions) == list(range(9))
        live = log.live_files()
        # snapshot holds exactly one generation: the highest version's file
        winner = max(commits)[1]
        assert live == [os.path.join("day=2026-01-01", winner)]


class TestMergeUpsert:
    """Round-7 MERGE INTO / CDC-apply: copy-on-write upsert + delete
    with one atomic snapshot-replace commit (ACID readers see either
    snapshot, never a mix) and time travel to the pre-merge state."""

    def _base(self, spark, n=10):
        return spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
        )

    def test_merge_updates_and_inserts(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append("t", self._base(spark))
        updates = spark.createDataFrame(
            [(3, 999), (7, 888), (42, 777)], "k long, v long"
        )
        res = wh.merge("t", updates, key="k")
        assert res == {"updated": 2, "inserted": 1}
        rows = {r["k"]: r["v"] for r in wh.table("t").collect()}
        assert rows[3] == 999 and rows[7] == 888 and rows[42] == 777
        assert rows[0] == 0 and len(rows) == 11
        # time travel: version 0 still shows the pre-merge values
        v0 = {r["k"]: r["v"] for r in wh.table("t", as_of=0).collect()}
        assert v0[3] == 30 and 42 not in v0

    def test_merge_composite_key(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        base = spark.createDataFrame(
            [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
            "k1 long, k2 string, v long",
        )
        wh.append("t", base)
        updates = spark.createDataFrame(
            [(1, "b", 99), (2, "b", 77)], "k1 long, k2 string, v long"
        )
        res = wh.merge("t", updates, key=["k1", "k2"])
        assert res == {"updated": 1, "inserted": 1}
        rows = {(r["k1"], r["k2"]): r["v"] for r in wh.table("t").collect()}
        assert rows[(1, "b")] == 99 and rows[(2, "b")] == 77
        assert rows[(1, "a")] == 10 and len(rows) == 4

    def test_merge_plain_table(self, spark, tmp_path):
        # non-acid path: tmp-dir swap, same semantics
        wh = Warehouse(spark, str(tmp_path))
        wh.append("t", self._base(spark, 5))
        res = wh.merge(
            "t",
            spark.createDataFrame([(0, 5), (9, 9)], "k long, v long"),
            key="k",
        )
        assert res == {"updated": 1, "inserted": 1}
        rows = {r["k"]: r["v"] for r in wh.table("t").collect()}
        assert rows[0] == 5 and rows[9] == 9 and len(rows) == 6

    def test_apply_cdc_latest_wins_and_deletes(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append("t", self._base(spark, 6))
        changes = spark.createDataFrame(
            [
                # key 1: two updates, version 5 wins
                ("U", 1, 111, 3),
                ("U", 1, 555, 5),
                # key 2: update then delete at a later version
                ("U", 2, 222, 1),
                ("D", 2, None, 9),
                # key 40: pure insert
                ("I", 40, 400, 2),
                # key 3: delete
                ("D", 3, None, 4),
            ],
            "op string, k long, v long, ver long",
        )
        res = wh.apply_cdc("t", changes, key="k", order_col="ver")
        assert res == {"upserted": 2, "deleted": 2}
        rows = {r["k"]: r["v"] for r in wh.table("t").collect()}
        assert rows[1] == 555 and rows[40] == 400
        assert 2 not in rows and 3 not in rows
        assert len(rows) == 5  # 6 base - 2 deleted + 1 insert (key 1 updated in place)

    def test_apply_cdc_idempotent(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append("t", self._base(spark, 4))
        changes = spark.createDataFrame(
            [("U", 0, 42, 1), ("D", 3, None, 1)],
            "op string, k long, v long, ver long",
        )
        wh.apply_cdc("t", changes, key="k", order_col="ver")
        first = sorted(map(tuple, wh.table("t").collect()))
        wh.apply_cdc("t", changes, key="k", order_col="ver")
        assert sorted(map(tuple, wh.table("t").collect())) == first

    def test_cdc_same_version_delete_wins(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append("t", self._base(spark, 3))
        changes = spark.createDataFrame(
            [("U", 1, 999, 7), ("D", 1, None, 7)],
            "op string, k long, v long, ver long",
        )
        res = wh.apply_cdc("t", changes, key="k", order_col="ver")
        assert res["deleted"] == 1 and 1 not in {
            r["k"] for r in wh.table("t").collect()
        }


class TestChangeDataFeed:
    """table_changes: the I/U/D diff between two txlog versions, and
    the round trip — applying the feed to a copy of the old snapshot
    reproduces the new one."""

    def test_diff_classifies_iud(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append(
            "t",
            spark.createDataFrame(
                [(0, 0), (1, 10), (2, 20)], "k long, v long"
            ),
        )
        wh.merge(
            "t",
            spark.createDataFrame([(1, 99), (5, 50)], "k long, v long"),
            key="k",
        )
        wh.apply_cdc(
            "t",
            spark.createDataFrame([("D", 2, None)], "op string, k long, v long"),
            key="k",
        )
        feed = {
            (r["op"], r["k"]): r["v"]
            for r in wh.table_changes("t", key="k", from_version=0).collect()
        }
        assert feed == {("U", 1): 99, ("I", 5): 50, ("D", 2): 20}

    def test_roundtrip_feed_reproduces_snapshot(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        base = spark.createDataFrame(
            [(i, i * 10) for i in range(8)], "k long, v long"
        )
        wh.append("t", base)
        wh.merge(
            "t",
            spark.createDataFrame(
                [(3, 333), (11, 111), (5, 555)], "k long, v long"
            ),
            key="k",
        )
        wh.apply_cdc(
            "t",
            spark.createDataFrame(
                [("D", 0, None), ("D", 7, None)], "op string, k long, v long"
            ),
            key="k",
        )
        feed = wh.table_changes("t", key="k", from_version=0)
        # replay the feed onto a COPY of version 0
        wh2 = Warehouse(spark, str(tmp_path / "copy"), acid=True)
        wh2.append("t", wh.table("t", as_of=0))
        wh2.apply_cdc("t", feed, key="k")
        assert sorted(map(tuple, wh2.table("t").collect())) == sorted(
            map(tuple, wh.table("t").collect())
        )

    def test_unchanged_rows_absent(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append(
            "t", spark.createDataFrame([(0, 0), (1, 1)], "k long, v long")
        )
        wh.merge(
            "t",
            spark.createDataFrame([(1, 1)], "k long, v long"),  # no-op value
            key="k",
        )
        assert wh.table_changes("t", key="k", from_version=0).count() == 0


class TestSCD2:
    """History-preserving merge: closed versions accumulate, current
    rows are valid_to IS NULL, and row-level as-of queries reconstruct
    any intermediate state."""

    def test_history_accumulates(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append(
            "dim",
            spark.createDataFrame(
                [(1, "alice", "NY"), (2, "bob", "LA")],
                "k long, name string, city string",
            ),
        )
        r1 = wh.merge_scd2(
            "dim",
            spark.createDataFrame(
                [(1, "alice", "SF"), (3, "carol", "TX")],
                "k long, name string, city string",
            ),
            key="k",
            version=1,
        )
        assert r1 == {"closed": 1, "inserted": 2}
        t = wh.table("dim")
        cur = {r["k"]: (r["city"], r["valid_from"]) for r in
               t.where(F.col("valid_to").isNull()).collect()}
        assert cur[1] == ("SF", 1) and cur[2] == ("LA", 0)
        assert cur[3] == ("TX", 1)
        hist = t.where(F.col("valid_to").isNotNull()).collect()
        assert len(hist) == 1 and hist[0]["k"] == 1
        assert hist[0]["city"] == "NY" and hist[0]["valid_to"] == 1

        # second wave: move alice again; bob unchanged (no-op update)
        r2 = wh.merge_scd2(
            "dim",
            spark.createDataFrame(
                [(1, "alice", "CHI"), (2, "bob", "LA")],
                "k long, name string, city string",
            ),
            key="k",
            version=2,
        )
        assert r2 == {"closed": 1, "inserted": 1}  # bob is a no-op
        t = wh.table("dim")
        assert t.count() == 5  # 3 current + 2 closed
        # row-level as-of: alice's city at version 1 was SF
        asof1 = t.where(
            (F.col("k") == 1)
            & (F.col("valid_from") <= 1)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > 1))
        ).collect()
        assert len(asof1) == 1 and asof1[0]["city"] == "SF"

    def test_noop_update_creates_no_history(self, spark, tmp_path):
        wh = Warehouse(spark, str(tmp_path), acid=True)
        wh.append(
            "dim", spark.createDataFrame([(1, "x")], "k long, v string")
        )
        res = wh.merge_scd2(
            "dim",
            spark.createDataFrame([(1, "x")], "k long, v string"),
            key="k",
            version=5,
        )
        assert res == {"closed": 0, "inserted": 0}
        assert wh.table("dim").count() == 1


class TestPointInTimeLookup:
    def test_every_version_cell_exercised(self, spark):
        # non-vacuity for q_stream_scd2_lookup's fixture: the events
        # must span all three as_of versions AND at least one key must
        # resolve to different v at different as_of (otherwise the
        # interval predicate is never load-bearing and the gate would
        # pass with a current-version-only join — the exact leakage
        # bug the query exists to prevent)
        from pyspark.sql import functions as F

        from huckli_spark.queries import all_queries
        from tests.conftest import SF_SMALL

        df = all_queries()["q_stream_scd2_lookup"].build(
            spark, SF_SMALL
        ).persist()
        try:
            as_ofs = {r["as_of"] for r in df.select("as_of").distinct().collect()}
            assert as_ofs == {0, 1, 2}, as_ofs
            # every event resolves to exactly one version
            dup = (
                df.groupBy("k", "as_of").count().where(F.col("count") > 1)
            ).count()
            assert dup == 0
            # version-dependence: some key appears with >1 distinct v
            # across the history (events here carry one as_of per key,
            # so check against the full history relation)
            from huckli_spark.queries.warehouse_ops import (
                _scd2_history_df,
                pit_lookup,
            )

            hist = _scd2_history_df(spark, SF_SMALL)
            ev3 = (
                hist.select("k").distinct()
                .crossJoin(spark.range(3).select(F.col("id").alias("as_of")))
            )
            full = pit_lookup(ev3, hist)
            versioned = (
                full.groupBy("k")
                .agg(F.count_distinct("v").alias("nv"))
                .where(F.col("nv") > 1)
            ).count()
            assert versioned > 0
        finally:
            df.unpersist()
