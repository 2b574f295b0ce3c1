"""The benchmark's four workloads.

All four are closed loop: one client in one process issues the next
operation only when the previous one has returned, on a Spark
``local[nproc]`` session. Each workload times two kinds of operation,
work and read, in wall and in CPU seconds (see README.md for the
mapping), and checks every output outside the timed region. The ingest workloads
run a fixed number of rounds, so the state each timed operation sees
does not depend on how fast the code under test is.

The benchmark calls only public functions of ``huckli_spark``; it
changes nothing in the package.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from datetime import datetime, timezone

import gen
from tracing import COUNTERS, TICKS_PER_S, Tracer, cpu_busy_ticks, vm_hwm_mb

from huckli_spark.ingest.decode import decode_frames
from huckli_spark.ingest.filetypes import REGISTRY
from huckli_spark.ingest.warehouse import Warehouse
from huckli_spark.queries import all_queries
from huckli_spark.session import get_spark
from huckli_spark.sources import protowire
from huckli_spark.sources.framing import frames_df, iter_frames, open_maybe_gzip
from huckli_spark.sources.listing import FileSelection
from huckli_spark.streaming.ingest import stream_ingest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ingest_bulk: one wide single-table batch per operation
BULK_FILES, BULK_PER_FILE = 8, 4000
# ingest_continue / ingest_stream: small demuxed rounds
ROUND_FILES, ROUND_PER_FILE = 2, 1000
ROUND_GAP_MS = 10 * gen.HOUR_MS
# Read-back queries after each round (each one a read sample) and
# timed rounds per run: --seconds over the wall of one round at the
# anchor (one ingest plus its read-backs), at least MIN_ROUNDS.
BULK_READS, BULK_ROUND_S = 3, 4.1
MOBILE_READS, MOBILE_ROUND_S = 2, 7.3
MIN_ROUNDS = 2
# in-process, single-core protowire.decode sample
DECODE_SAMPLE = 2000

READBACK_SQL = {
    "verified-speedtest": (
        "SELECT count(*) AS n, sum(upload_speed) AS s, "
        "(SELECT unix_millis(max(file_timestamp)) FROM files_processed) AS ckpt_ms "
        "FROM verified_speedtest_report"
    ),
    "mobile-rewards": (
        "SELECT count(*) AS n, sum(r.base_poc_reward) AS s, "
        "(SELECT unix_millis(max(file_timestamp)) FROM files_processed) AS ckpt_ms "
        "FROM mobile_radio_rewards r JOIN mobile_reward_covered_hexes h ON r.id = h.id"
    ),
}

# query_mix: two classes, so a gain in one that costs the other shows,
# over the fixtures at the scale the DuckDB correctness gate uses (at
# 0.1 one run's check pass and first timed pass alone take 50 s).
QUERY_SCALE = "0.01"
RELATIONAL = (
    "q_group_sum",
    "q_broadcast_dim_join",
    "q_parent_child_join",
    "q_window_rank",
    "q_asof_join",
    "q_cube",
    "q_topk",
    "q_tpch_q18",
)
OPERATOR = (
    "q_dedup_simhash",
    "q_hll_registers",
    "q_ann_lsh",
    "q_bm25_topk",
    "q_pack_emit",
    "q_token_count",
)

GROUPS = ("framing_decode", "project_write", "checkpoint", "readback", "stream")
GROUP_COUNTERS = ("jobs", "executor_run_s", "shuffle_write_bytes", "spill_bytes")
PER_LAYER = (
    [
        "session.start_s",
        "session.warmup_s",
        "session.peak_rss_mb",
        "framing.s",
        "framing.frames",
        "framing.gz_bytes",
        "protowire.frame_us",
        "decode.s",
        "decode.records",
        "decode.dropped",
        "listing.s",
        "checkpoint.read_s",
        "project.s",
        "project.rows",
        "write.s",
        "write.files",
        "write.bytes",
        "checkpoint.write_s",
        "checkpoint.rows",
        "readback.s",
        "readback.files_scanned",
        "stream.trigger_s",
        "stream.add_batch_s",
        "stream.planning_s",
        "stream.wal_commit_s",
        "stream.checkpoint_writes",
    ]
    + [f"{g}.{c}" for g in GROUPS for c in GROUP_COUNTERS]
    + [f"query.{q}.p50_s" for q in RELATIONAL + OPERATOR]
    + [f"query.{q}.jobs" for q in OPERATOR]
    + [
        f"query.{cls}.{m}"
        for cls in ("relational", "operator")
        for m in ("build_s", "execute_s", "shuffle_write_bytes", "collect_jobs")
    ]
    + ["trace.layer_sum_s", "trace.untraced_p50_s", "trace.overhead_s"]
)
UNITS = {
    "s": "s",
    "frames": "count",
    "records": "count",
    "dropped": "count",
    "rows": "count",
    "files": "count",
    "files_scanned": "count",
    "checkpoint_writes": "count",
    "jobs": "count",
    "collect_jobs": "count",
    "gz_bytes": "bytes",
    "bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "frame_us": "us",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    return UNITS.get(last) or ("s" if last.endswith("_s") else UNITS[last])


def mark() -> tuple[float, int]:
    """Wall clock and machine CPU ticks: the start of an interval."""
    return time.perf_counter(), cpu_busy_ticks()


def cpu_s(since: tuple[float, int]) -> float:
    """CPU seconds all cores spent since ``mark()`` returned ``since``."""
    return (cpu_busy_ticks() - since[1]) / TICKS_PER_S


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest-ranked sample with at least
    10 samples beyond it; (None, None) with 10 samples or fewer."""
    n = len(xs)
    if n <= 10:
        return None, None
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n


class Run:
    """One benchmark run: its session, samples, checks and report."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.tracer: Tracer | None = None
        self.start_s: list[float] = []
        # samples of each measured kind: "<kind>_s" (wall) and
        # "<kind>_cpu_s" (CPU time of every core meanwhile)
        self.e2e: dict[str, list[float]] = defaultdict(list)
        self.extra: dict[str, tuple[float, str, int]] = {}
        self.layers: dict[str, list[float]] = defaultdict(list)
        self.info: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._op_bad = False

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- sessions -----------------------------------------------------------
    def set_up(self) -> None:
        """Start the session as the CLI does: ``get_spark`` launches the
        JVM, then the first small job touches the executors and Python
        workers. One cold start per run; a second costs as much again."""
        from pyspark.sql import functions as F

        since = mark()
        self.spark = get_spark(app_name="perfbench")
        self.start_s.append(time.perf_counter() - since[0])
        self.spark.sparkContext.setLogLevel("ERROR")
        n = self.spark.range(0, 4096).agg(F.sum("id")).first()[0]
        self.record("setup", since)
        self.attempted += 1
        if n != 4096 * 4095 // 2:
            self.failed += 1
            self.problems.append(f"set-up job returned {n}")
        self.tracer = Tracer(self.spark, self.trace)
        sc = self.spark.sparkContext
        self.info["defaultParallelism"] = sc.defaultParallelism
        self.info["master"] = sc.master

    def record(self, kind: str, since: tuple[float, int]) -> None:
        """Close an interval opened by ``mark()``: its wall into
        ``<kind>_s`` and the CPU time all cores spent into ``<kind>_cpu_s``."""
        self.e2e[f"{kind}_s"].append(time.perf_counter() - since[0])
        self.e2e[f"{kind}_cpu_s"].append(cpu_s(since))

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)

    # -- operation accounting ----------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self._op_bad = True
            self.problems.append(what)

    def op(self, fn, *args):
        """Run one counted operation; a raise or a failed check fails it."""
        self.attempted += 1
        self._op_bad = False
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - counted, reported, run continues
            self._op_bad = True
            self.problems.append(traceback.format_exc(limit=3).strip().splitlines()[-1])
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self.failed += self._op_bad

    def warm_up(self, fn, *args) -> None:
        """The workload's first operation at full size, the first touch
        of every code path: its samples are dropped, its wall is
        ``session.warmup_s``."""
        t0 = time.perf_counter()
        self.op(fn, *args)
        for k in ("work_s", "work_cpu_s", "read_s", "read_cpu_s"):
            self.e2e.pop(k, None)
        self.layers = defaultdict(list, {"session.warmup_s": [time.perf_counter() - t0]})

    def time_left(self, t_start: float) -> bool:
        return time.perf_counter() - t_start < self.seconds


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# ingest helpers
# ---------------------------------------------------------------------------
def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _noop_count(df) -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


def _traced_ingest(run: Run, wh: Warehouse, ftype: str, raw: str, continue_: bool) -> tuple[dict, dict]:
    """One ingest, decomposed through the public layers.

    Cumulative prefixes over the same files: (1) ``frames_df`` -> noop,
    (2) + ``decode_frames``, (3) + ``spec.project`` (demux persisted as
    ``ingest_files`` does), then the real ``Warehouse.ingest_files``.
    Listing and the checkpoint read are the two calls
    ``Warehouse.ingest`` makes before ``ingest_files``; the checkpoint
    write is timed on a throwaway warehouse. Each layer's time is the
    difference between consecutive prefixes."""
    from pyspark import StorageLevel

    spark, tr = run.spark, run.tracer
    spec = REGISTRY[ftype]
    t_op = time.perf_counter()
    lay: dict[str, float] = {}
    ckpt_after = None
    ckpt_counters = dict.fromkeys(COUNTERS, 0.0)
    lay["checkpoint.read_s"] = 0.0
    if continue_:
        with tr.span("checkpoint.read") as sp:
            ckpt_after = wh.latest_file_processed_timestamp(spec.prefix.rstrip("."))
        lay["checkpoint.read_s"] = sp["s"]
        ckpt_counters = sp["counters"]
    with tr.span("listing") as sp:
        files = FileSelection(continue_=continue_).resolve_files(
            raw, spec.prefix, checkpoint_after=ckpt_after
        )
    lay["listing.s"] = sp["s"]
    paths = {f.key: os.path.join(raw, os.path.basename(f.key)) for f in files}
    plist = list(paths.values())
    with tr.span("framing") as p1:
        lay["framing.frames"] = _noop_count(frames_df(spark, plist))
    with tr.span("framing_decode") as p2:
        lay["decode.records"] = _noop_count(decode_frames(frames_df(spark, plist), spec.msg))
    with tr.span("project") as p3:
        decoded = decode_frames(frames_df(spark, plist), spec.msg)
        if len(spec.tables) > 1:
            decoded = decoded.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for df in spec.project(decoded).values():
                df.write.format("noop").mode("overwrite").save()
        finally:
            if len(spec.tables) > 1:
                decoded.unpersist()
    probe = Warehouse(spark, run.path("ckpt_probe"))
    with tr.span("checkpoint.write") as cw:
        probe.save_files_processed(list(files))
    before = _dir_stats(wh.path)
    dropped0 = wh.dropped_frames.value
    with tr.span("ingest_files") as full:
        out = wh.ingest_files(ftype, files, paths=paths)
    op_s = time.perf_counter() - t_op
    after = _dir_stats(wh.path)
    lay["framing.s"] = p1["s"]
    lay["framing.gz_bytes"] = float(sum(os.path.getsize(p) for p in plist))
    lay["decode.s"] = p2["s"] - p1["s"]
    lay["decode.dropped"] = float(wh.dropped_frames.value - dropped0)
    lay["project.s"] = p3["s"] - p2["s"]
    lay["project.rows"] = float(sum(out.values()))
    lay["checkpoint.write_s"] = cw["s"]
    lay["checkpoint.rows"] = float(len(files))
    lay["write.s"] = full["s"] - p3["s"] - cw["s"]
    lay["write.files"] = float(after[0] - before[0])
    lay["write.bytes"] = float(after[1] - before[1])
    # the calls Warehouse.ingest makes, whose layer times sum to it
    lay["trace.layer_sum_s"] = lay["checkpoint.read_s"] + lay["listing.s"] + full["s"]
    # the whole traced operation, prefix replays and REST reads included
    lay["trace.op_s"] = op_s
    for c in GROUP_COUNTERS:
        lay[f"framing_decode.{c}"] = p2["counters"][c]
        lay[f"project_write.{c}"] = (
            full["counters"][c] - p2["counters"][c] - cw["counters"][c]
        )
        lay[f"checkpoint.{c}"] = ckpt_counters[c] + cw["counters"][c]
    return out, lay


def _readback(run: Run, wh: Warehouse, ftype: str, reads: int, tot: _Totals, lay: dict | None) -> None:
    """``reads`` read-back queries, each checked against the generator:
    the aggregate over every round so far and the checkpoint max."""
    walls = []
    for _ in range(reads):
        since = mark()
        with run.tracer.span("readback") as sp:
            row = wh.sql(READBACK_SQL[ftype]).collect()[0]
        run.record("read", since)
        walls.append(sp["s"])
        run.check(row.n == tot.check_rows, f"read-back rows {row.n} != {tot.check_rows}")
        run.check((row.s or 0) == tot.check_sum, f"read-back sum {row.s} != {tot.check_sum}")
        run.check(
            row.ckpt_ms == tot.newest_ms,
            f"checkpoint max {row.ckpt_ms} != newest file {tot.newest_ms}",
        )
    if lay is not None:
        lay["readback.s"] = median(walls)
        names = ("files_processed", *REGISTRY[ftype].tables)
        lay["readback.files_scanned"] = float(
            sum(_dir_stats(wh.table_path(n))[0] for n in names)
        )
        for c in GROUP_COUNTERS:
            lay[f"readback.{c}"] = sp["counters"][c]


def _record_layers(run: Run, lay: dict) -> None:
    for k, v in lay.items():
        run.layers[k].append(v)


def _frame_us(paths: list[str], msg) -> float:
    """In-process, single-core ``protowire.decode`` cost per frame over
    the first DECODE_SAMPLE frames of the input (best of 3)."""
    frames: list[bytes] = []
    for p in paths:
        with open_maybe_gzip(p) as fh:
            frames.extend(iter_frames(fh))
        if len(frames) >= DECODE_SAMPLE:
            break
    frames = frames[:DECODE_SAMPLE]
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for f in frames:
            try:
                protowire.decode(msg, f)
            except protowire.WireError:
                pass
        best = min(best, time.perf_counter() - t0)
    return best / len(frames) * 1e6


def _ingest_loop(run: Run, one, round_s: float) -> None:
    """A fixed number of rounds: ``--seconds`` over ``round_s``, at
    least MIN_ROUNDS. The count does not follow the clock, so round
    ``k`` sees the same warehouse however fast the code is. In a traced
    run, rounds alternate untraced / traced so the tracing overhead is
    measured inside the run; the count is made odd (at least three) so
    the run starts and ends on an untraced round."""
    n = max(MIN_ROUNDS, round(run.seconds / round_s))
    if run.trace:
        n = max(3, n | 1)
    for i in range(n):
        if run.failed >= 3:
            break
        run.op(one, run.trace and i % 2 == 1)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def _drop(batch: gen.Batch, raw: str) -> None:
    """Make a round's files visible in the watched directory."""
    os.makedirs(raw, exist_ok=True)
    for p in batch.paths:
        os.replace(p, os.path.join(raw, os.path.basename(p)))


class _Totals:
    """Cumulative expectations over every round dropped so far."""

    def __init__(self) -> None:
        self.rounds = 0
        self.rows: dict[str, int] = defaultdict(int)
        self.check_rows = self.check_sum = self.newest_ms = 0
        self.records = self.bad = self.gz_bytes = 0
        self.first_digest = ""

    def add(self, b: gen.Batch) -> None:
        if not self.rounds:
            self.first_digest = gen.digest(b.paths)
        self.rounds += 1
        for k, v in b.rows.items():
            self.rows[k] += v
        self.check_rows += b.check_rows
        self.check_sum += b.check_sum
        self.newest_ms = max(self.newest_ms, b.newest_ms)
        self.records += b.records
        self.bad += b.bad
        self.gz_bytes += b.gz_bytes

    def info(self) -> dict:
        return {
            "digest_first_round": self.first_digest,
            "rounds": self.rounds,
            "records": self.records,
            "bad_frames": self.bad,
            "gz_bytes": self.gz_bytes,
        }


def _finish(run: Run, wh: Warehouse, ftype: str, tot: _Totals) -> None:
    """Rates, ratios and the tracing overhead; then rows per table
    against the generator, once, outside the timed loop."""
    run.info["input"] = tot.info()
    work = run.e2e["work_s"]
    if work:
        per_round = tot.records / tot.rounds
        run.extra["ingest_records_per_s"] = per_round / median(work), "1/s", len(work)
    if tot.gz_bytes:
        run.extra["stored_bytes_ratio"] = _dir_stats(wh.path)[1] / tot.gz_bytes, "ratio", tot.rounds
    if run.trace:
        # in a traced run, work_s holds the untraced operations only
        run.layers["trace.untraced_p50_s"] = work
        traced = run.layers.get("trace.op_s", [])
        if traced and work:
            run.layers["trace.overhead_s"] = [median(traced) - median(work)]
    counts = {t: wh.table(t).count() if wh.has_table(t) else 0 for t in REGISTRY[ftype].tables}
    run.attempted += 1
    if counts != dict(tot.rows):
        run.failed += 1
        run.problems.append(f"table rows {counts} != generated {dict(tot.rows)}")


def _continue_rounds(run: Run, ftype: str, make_round, reads: int, round_s: float) -> None:
    """Closed loop of ``--continue`` rounds into one growing warehouse.

    Each operation drops round ``k`` (``make_round(k)``) into the raw
    directory, runs ``Warehouse.ingest(..., FileSelection(continue_=True))``
    and then the read-back query. Round 0, the initial load without
    ``--continue``, is the warm-up."""
    raw = run.path("raw")
    tot = _Totals()
    run.set_up()
    wh = Warehouse(run.spark, run.path("wh"))

    def one(traced: bool) -> None:
        b = make_round(tot.rounds)
        first = not tot.rounds
        tot.add(b)
        _drop(b, raw)
        dropped0 = wh.dropped_frames.value
        lay = None
        if traced:
            out, lay = _traced_ingest(run, wh, ftype, raw, continue_=True)
        else:
            since = mark()
            out = wh.ingest(ftype, raw, FileSelection(continue_=not first))
            run.record("work", since)
        run.check(out == b.rows, f"rows {out} != {b.rows}")
        run.check(wh.dropped_frames.value - dropped0 == b.bad, "dropped frames != injected")
        _readback(run, wh, ftype, reads, tot, lay)
        if lay is not None:
            _record_layers(run, lay)

    run.warm_up(one, False)
    if run.trace:
        files = sorted(os.path.join(raw, f) for f in os.listdir(raw))
        run.layers["protowire.frame_us"].append(_frame_us(files, REGISTRY[ftype].msg))
    _ingest_loop(run, one, round_s)
    _finish(run, wh, ftype, tot)


def ingest_bulk(run: Run) -> None:
    """Wide ``verified-speedtest`` rounds (one table, no demux):
    framing and Python protowire decode dominate."""
    template = gen.speedtest_batch(run.seed, run.path("template"), BULK_FILES, BULK_PER_FILE)
    stage = run.path("staging")
    _continue_rounds(
        run,
        "verified-speedtest",
        lambda k: gen.restamp(template, stage, gen.T0_MS + k * BULK_FILES * gen.HOUR_MS),
        BULK_READS,
        BULK_ROUND_S,
    )


def _mobile_round(run: Run, k: int) -> gen.Batch:
    d = run.path("staging", str(k))
    return gen.mobile_batch(run.seed, d, ROUND_FILES, ROUND_PER_FILE, gen.T0_MS + k * ROUND_GAP_MS)


def ingest_continue(run: Run) -> None:
    """Small ``mobile-rewards`` rounds (a oneof demuxed into 6 tables,
    3 exploded child tables): per-round fixed costs dominate."""
    _continue_rounds(
        run, "mobile-rewards", lambda k: _mobile_round(run, k), MOBILE_READS, MOBILE_ROUND_S
    )


def ingest_stream(run: Run) -> None:
    """``mobile-rewards`` rounds drained by ``stream_ingest(available_now=True,
    max_files_per_trigger=2)``: one trigger per round, then the read-back."""
    ftype = "mobile-rewards"
    raw = run.path("raw")
    ckpt = run.path("stream_ckpt")
    tot = _Totals()
    run.set_up()
    wh = Warehouse(run.spark, run.path("wh"))

    def one(traced: bool) -> None:
        b = _mobile_round(run, tot.rounds)
        tot.add(b)
        _drop(b, raw)
        ckpt_files0 = _dir_stats(wh.table_path("files_processed"))[0]
        since = mark()
        q = stream_ingest(run.spark, ftype, raw, wh, ckpt, available_now=True, max_files_per_trigger=2)
        q.awaitTermination()
        if not traced:
            run.record("work", since)
        run.check(q.exception() is None, f"stream failed: {q.exception()}")
        progress = q.recentProgress
        run.check(len(progress) == 1, f"{len(progress)} triggers for one round")
        lay = None
        if traced:
            dur = progress[-1]["durationMs"]
            lay = {
                "stream.trigger_s": dur.get("triggerExecution", 0) / 1000.0,
                "stream.add_batch_s": dur.get("addBatch", 0) / 1000.0,
                "stream.planning_s": dur.get("queryPlanning", 0) / 1000.0,
                "stream.wal_commit_s": dur.get("walCommit", 0) / 1000.0,
                "stream.checkpoint_writes": float(
                    _dir_stats(wh.table_path("files_processed"))[0] - ckpt_files0
                ),
            }
            lay["trace.layer_sum_s"] = lay["stream.trigger_s"]
            totals = run.tracer.group_totals({str(q.runId)})
            for c in GROUP_COUNTERS:
                lay[f"stream.{c}"] = totals[c]
            # the whole traced operation, its REST reads included
            lay["trace.op_s"] = time.perf_counter() - since[0]
        _readback(run, wh, ftype, MOBILE_READS, tot, lay)
        if lay is not None:
            _record_layers(run, lay)

    run.warm_up(one, False)
    _ingest_loop(run, one, MOBILE_ROUND_S)
    _finish(run, wh, ftype, tot)


def fixture_dir(scale: str) -> str:
    """The repository's read-only analytics fixtures at ``scale``: the
    sibling of the directories the test suite reads (``tests/conftest.py``,
    see TESTDATA.md)."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from conftest import SF_MED

    return os.path.join(os.path.dirname(SF_MED), f"sf{scale}")


def query_mix(run: Run) -> None:
    """Each pass runs every listed registry query once, in an order
    permuted by the seed, over the repository's fixtures. The
    cache is cleared before each query and the timer covers ``build``
    plus a noop write, as ``bench.py`` does: the full computation, no
    driver-side collect. The untimed oracle-check pass before it is the
    warm-up."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import TABLES, arrow_kind, driver_canon_error, hash_rows, spark_kind

    sf = fixture_dir(QUERY_SCALE)
    paths = [os.path.join(sf, f"{t}.parquet") for t in TABLES]
    missing = [p for p in paths if not os.path.isfile(p)]
    if missing:
        raise FileNotFoundError(f"query_mix fixtures missing: {missing}")
    run.info["input"] = {"fixtures": f"sf{QUERY_SCALE}", "digest": gen.digest(paths)}
    specs = all_queries()
    names = RELATIONAL + OPERATOR

    run.set_up()
    spark = run.spark

    # check pass (untimed, also the warm-up): every query vs its oracle
    con = duckdb.connect()
    for t, p in zip(TABLES, paths):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def check_one(name: str) -> None:
        df = specs[name].build(spark, sf)
        srows = [tuple(r) for r in df.collect()]
        scols = df.columns
        skinds = {c: spark_kind(d) for c, d in df.dtypes}
        tbl = con.execute(specs[name].oracle).arrow()
        ocols = tbl.column_names
        okinds = {f.name: arrow_kind(f.type) for f in tbl.schema}
        orows = list(zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns))))
        run.check(len(srows) == len(orows), f"{name}: rows {len(srows)} != {len(orows)}")
        run.check(sorted(scols) == sorted(ocols), f"{name}: columns differ")
        if sorted(scols) == sorted(ocols):
            for c in scols:
                run.check(okinds[c] in ("null", skinds[c]), f"{name}: kind of {c}")
        run.check(driver_canon_error(scols, srows) is None, f"{name}: spark rows not canonical")
        run.check(hash_rows(scols, srows) == hash_rows(ocols, orows), f"{name}: value digest differs")

    t0 = time.perf_counter()
    for name in names:
        run.op(check_one, name)
    con.close()
    run.layers["session.warmup_s"] = [time.perf_counter() - t0]

    rng = random.Random(f"query_mix:{run.seed}")
    samples: dict[str, list[float]] = defaultdict(list)
    cpu: dict[str, list[float]] = defaultdict(list)
    parts: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))  # per query

    def time_one(name: str) -> None:
        spark.catalog.clearCache()
        tr = run.tracer
        since = mark()
        with tr.span(f"query.{name}.build") as b:
            df = specs[name].build(spark, sf)
        with tr.span(f"query.{name}.execute") as e:
            df.write.format("noop").mode("overwrite").save()
        cpu[name].append(cpu_s(since))
        samples[name].append(b["s"] + e["s"])
        if run.trace:
            p = parts[name]
            p["build_s"].append(b["s"])
            p["execute_s"].append(e["s"])
            for c in ("shuffle_write_bytes", "collect_jobs"):
                p[c].append(b["counters"][c] + e["counters"][c])
            p["jobs"].append(b["counters"]["jobs"] + e["counters"]["jobs"])

    t_start = time.perf_counter()
    passes = 0
    while run.time_left(t_start) or passes == 0:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            if passes and not run.time_left(t_start):
                break
            run.op(time_one, name)
        passes += 1
    rel = sum(median(samples[q]) for q in RELATIONAL)
    opr = sum(median(samples[q]) for q in OPERATOR)
    run.e2e["work_s"] = [opr]
    run.e2e["read_s"] = [rel]
    run.e2e["work_cpu_s"] = [sum(median(cpu[q]) for q in OPERATOR)]
    run.e2e["read_cpu_s"] = [sum(median(cpu[q]) for q in RELATIONAL)]
    run.info["passes"] = passes
    run.extra["relational_total_s"] = rel, "s", min(len(samples[q]) for q in RELATIONAL)
    run.extra["operator_total_s"] = opr, "s", min(len(samples[q]) for q in OPERATOR)
    for q in names:
        run.layers[f"query.{q}.p50_s"] = samples[q]
    if run.trace:
        for q in OPERATOR:
            run.layers[f"query.{q}.jobs"] = parts[q]["jobs"]
        # per-class figures: per-query medians summed over the class
        for cls, qs in (("relational", RELATIONAL), ("operator", OPERATOR)):
            for m in ("build_s", "execute_s", "shuffle_write_bytes", "collect_jobs"):
                run.layers[f"query.{cls}.{m}"] = [sum(median(parts[q][m]) for q in qs)]


WORKLOADS = {
    "ingest_bulk": ingest_bulk,
    "ingest_continue": ingest_continue,
    "ingest_stream": ingest_stream,
    "query_mix": query_mix,
}


def now_utc() -> str:
    return datetime.now(timezone.utc).isoformat(timespec="seconds")
