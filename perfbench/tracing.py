"""Spans and Spark counters, recorded from outside the program.

A traced call runs under its own Spark job group. Right after the call
returns (no sampler thread), the per-group totals are read once from
Spark's status REST API (``sc.uiWebUrl + /api/v1/applications/<id>``).
Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
With tracing off, ``span`` only times the call: no job group is set and
no REST request is made.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlsplit

COUNTERS = ("jobs", "executor_run_s", "shuffle_write_bytes", "spill_bytes", "collect_jobs")
_DONE_JOB = {"SUCCEEDED", "FAILED"}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._seq = 0
        if enabled:
            port = urlsplit(self.sc.uiWebUrl).port
            self._base = (
                f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
            )

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    def group_totals(self, groups: set[str]) -> dict[str, float]:
        """Summed counters of every job whose job group is in ``groups``.

        The status store is fed by the listener bus, so a job that has
        just returned may still read RUNNING for a few milliseconds;
        re-read until every matching job has ended (bounded)."""
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] in _DONE_JOB for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(jobs))
        out["collect_jobs"] = float(
            sum(j["name"].startswith(("collect", "toPandas")) for j in jobs)
        )
        if stage_ids:
            for s in self._get("/stages"):
                if s["stageId"] in stage_ids:
                    out["executor_run_s"] += s["executorRunTime"] / 1000.0
                    out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        return out

    @contextmanager
    def span(self, name: str):
        """Time a block; when tracing, label its Spark jobs and attach
        the group's counters to the span (``rec["counters"]``)."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        rec = {"name": name, "group": group}
        if self.enabled:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            if self.enabled:
                self.sc._jsc.clearJobGroup()
                rec["counters"] = self.group_totals({group})
                self.spans.append(rec)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, indent=1, default=str)


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``, in clock ticks:
    user, nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def cpu_busy_ticks() -> int:
    """Clock ticks all cores of the machine have spent running code
    (user, nice, system, irq, softirq). Time the hypervisor gave to
    other guests (steal) and idle time are not in it."""
    t = cpu_ticks()
    return t[0] + t[1] + t[2] + t[5] + t[6]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
