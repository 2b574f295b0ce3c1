#!/usr/bin/env python
"""Per-query measurement harness for the optimization rounds.

For each named query: N untimed warm-up runs (JIT + footer cache; after
a single warm-up the third timed run still beat the first in 19 of 20
invocations), then N timed noop-sink runs (guide §1.4); prints
per-run walls + median,
and optionally writes ``explain("formatted")`` to a file.

Usage:
  python tools/qmeasure.py [--sf DIR] [--runs N] [--plans OUTDIR] q_a q_b ...

Plans land as OUTDIR/<query>.txt. Timing methodology matches bench.py
(build + noop write inside the timer, clearCache between runs) so
numbers are comparable to the bench artifact rows.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain output")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from huckli_spark.queries import all_queries
    from huckli_spark.session import get_spark

    spark = get_spark(app_name="qmeasure")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    for name in args.names:
        if name not in specs:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        spec = specs[name]
        if args.plans:
            try:
                import contextlib
                import io

                df = spec.build(spark, args.sf)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(buf.getvalue())
            except Exception as e:  # noqa: BLE001
                print(f"{name}: plan capture failed {type(e).__name__}: {e}",
                      flush=True)
        try:
            ts = []
            for i in range(2 * args.runs):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"run{i} {name}")
                t0 = time.perf_counter()
                spec.build(spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                ts.append(round(time.perf_counter() - t0, 3))
            ts = ts[args.runs:]  # the first half only warms up
            med = sorted(ts)[len(ts) // 2]
            print(f"{name}: median={med} runs={ts} "
                  f"load={os.getloadavg()[0]:.2f}", flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAILED {type(e).__name__}: {e}"[:300], flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
