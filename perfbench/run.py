#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload in turn and ends with one
summary line whose metric names carry the workload as a prefix.

Human-readable report lines start with ``#``; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Everything the run creates lives
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``
(one side file per run, with the spans of a traced run).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_bulk", "ingest_continue", "ingest_stream", "query_mix")


def pin_env(work: str) -> int:
    """Pin the environment before Spark starts: ``local[nproc]``, a
    bounded JVM heap, executors that import the package from this
    checkout whatever the query order, and every temporary file inside
    the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            # UsePerfData off: no hsperfdata file in the system temp dir
            "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "HUCKLI_SPARK_ENUM_OVERRIDES"):
        os.environ.pop(var, None)
    return nproc


def fmt(v) -> str:
    return "n/a" if v is None else f"{v:.6g}"


def run_all(args) -> int:
    """``--workload all``: every workload in its own process, one after
    the other; their reports, then one summary line."""
    import subprocess

    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: {w} exited with code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        summary["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(summary))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    if not os.path.isfile(os.path.join(ROOT, "huckli_spark", "__init__.py")):
        print("perfbench: huckli_spark/ not found beside perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    nproc = pin_env(work)
    # Spark's JVM and its Python workers inherit fd 1; route them (and
    # stray prints) to stderr so the result stays the last stdout line.
    result = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)

    import duckdb
    import pyarrow
    import pyspark

    import workloads as wl
    from tracing import cpu_ticks

    started = wl.now_utc()
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    run = wl.Run(args.seed, args.seconds, bool(args.trace), work)
    try:
        wl.WORKLOADS[args.workload](run)
        rss = run.peak_rss_mb()
    finally:
        wl.stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while another run uses it
            os.rmdir(os.path.dirname(work))
    load_end = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]

    env = {
        "nproc": nproc,
        "defaultParallelism": run.info.get("defaultParallelism"),
        "master": run.info.get("master"),
        "loadavg_start": load_start[0],
        "loadavg_end": load_end[0],
        # CPU time the hypervisor gave to other guests, as a share of
        # all CPU time in the run: contention this process cannot see
        "steal_share": round(ticks[7] / max(1, sum(ticks)), 4),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
    work_s, read_s = run.e2e["work_s"], run.e2e["read_s"]
    e2e = {
        "setup_s": (wl.median(run.e2e["setup_cpu_s"]), "s"),
        "work_cpu_s": (wl.median(run.e2e["work_cpu_s"]), "s"),
        "read_cpu_s": (wl.median(run.e2e["read_cpu_s"]), "s"),
    }
    run.layers["session.peak_rss_mb"] = [rss]
    failed_ratio = run.failed / max(1, run.attempted)
    lines = [
        f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} started={started}",
        "# env " + " ".join(f"{k}={v}" for k, v in env.items()),
        f"# input {json.dumps(run.info.get('input'))}",
        f"# metric setup_s = {fmt(e2e['setup_s'][0])} s CPU "
        f"(wall {fmt(wl.median(run.e2e['setup_s']))} s, n={len(run.e2e['setup_s'])})",
        f"# metric work_cpu_s = {fmt(e2e['work_cpu_s'][0])} s (n={len(run.e2e['work_cpu_s'])})",
        f"# metric read_cpu_s = {fmt(e2e['read_cpu_s'][0])} s (n={len(run.e2e['read_cpu_s'])})",
    ]
    if args.workload == "query_mix":
        for name in ("relational_total_s", "operator_total_s"):
            v, unit, n = run.extra[name]
            lines.append(f"# metric {name} = {fmt(v)} {unit} (n={n} per query, sum of per-query medians)")
        lines.append(f"# passes = {run.info.get('passes')}")
    else:
        if "ingest_records_per_s" in run.extra:
            v, unit, n = run.extra["ingest_records_per_s"]
            lines.append(f"# metric ingest_records_per_s = {fmt(v)} {unit} (n={n})")
        for label, xs in (("batch", work_s), ("readback", read_s)):
            lines.append(f"# metric {label}_p50_s = {fmt(wl.median(xs))} s (n={len(xs)})")
            t, p = wl.tail(xs)
            lines.append(
                f"# metric {label}_tail_s = {fmt(t)} s (p{fmt(p)}, n={len(xs)}; "
                "needs more than 10 samples)"
            )
        if "stored_bytes_ratio" in run.extra:
            v, unit, n = run.extra["stored_bytes_ratio"]
            lines.append(f"# metric stored_bytes_ratio = {fmt(v)} {unit}")
    lines.append(f"# layer-metric peak_rss_mb = {fmt(rss)} MB (VmHWM of this Python process + the JVM)")
    lines.append(f"# metric failed_ratio = {fmt(failed_ratio)} ({run.failed}/{run.attempted})")
    for p in run.problems[:20]:
        lines.append(f"# problem {p}")

    if args.trace:
        layer = {}
        for name in wl.PER_LAYER:
            xs = run.start_s if name == "session.start_s" else run.layers.get(name, [])
            layer[name] = (wl.median(xs), wl.layer_unit(name), len(xs))
        for name, (v, unit, n) in layer.items():
            lines.append(f"# layer {name} = {fmt(v)} {unit} (n={n})")
        if args.workload != "query_mix":
            lines.append(
                f"# trace untraced batch_p50_s = {fmt(layer['trace.untraced_p50_s'][0])} s, "
                f"sum of layer times = {fmt(layer['trace.layer_sum_s'][0])} s, "
                f"tracing overhead = {fmt(layer['trace.overhead_s'][0])} s"
            )
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _n) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    correct = not run.problems and run.failed == 0 and bool(work_s)
    summary = {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
    os.makedirs(out_dir, exist_ok=True)
    side = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    samples = dict(run.e2e)
    if run.tracer is not None:
        run.tracer.dump(side, {"report": lines, "env": env, "samples": samples, "result": summary})
    result.write("\n".join(lines) + "\n")
    result.write(json.dumps(summary) + "\n")
    result.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
