#!/usr/bin/env python
"""Paired A/B timing for env-switchable optimizations (r13).

The box is co-tenant and suffers invisible steal, so absolute walls
drift by minutes. This harness alternates the two arms WITHIN one
SparkSession, run-by-run (A B A B ...), so slow phases hit both arms
about equally; the per-pair ratio is the robust statistic.

Usage:
  python tools/abmeasure.py --env NAME --a VALUE_A --b VALUE_B \
      [--sf DIR] [--pairs N] q_x q_y ...

NAME is an environment variable the code under test reads at query
build time. The set of variables ``huckli_spark`` may read is pinned
by tests/test_env_knobs.py, so a switch added only for an A/B is
removed again, or made the one behaviour, before it is merged.

Methodology per run matches bench.py: build + noop write (guide §1.4)
inside the timer, clearCache between runs.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--env", required=True)
    ap.add_argument("--a", required=True, help="arm A env value (baseline)")
    ap.add_argument("--b", required=True, help="arm B env value (candidate)")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from huckli_spark.queries import all_queries
    from huckli_spark.session import get_spark

    spark = get_spark(app_name="abmeasure")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    def one(name: str, arm: str, value: str) -> float:
        os.environ[args.env] = value
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{name} arm={arm}")
        t0 = time.perf_counter()
        specs[name].build(spark, args.sf).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    for name in args.names:
        if name not in specs:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        try:
            one(name, "warmA", args.a)
            one(name, "warmB", args.b)
            a_ts, b_ts, ratios = [], [], []
            for _ in range(args.pairs):
                ta = one(name, "A", args.a)
                tb = one(name, "B", args.b)
                a_ts.append(ta)
                b_ts.append(tb)
                ratios.append(tb / ta if ta > 0 else float("nan"))
            med = statistics.median
            print(
                f"{name}: A_med={med(a_ts):.3f} B_med={med(b_ts):.3f} "
                f"ratio_med={med(ratios):.3f} "
                f"A={[round(t,3) for t in a_ts]} B={[round(t,3) for t in b_ts]} "
                f"load={os.getloadavg()[0]:.2f}",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAILED {type(e).__name__}: {e}"[:300], flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
            os.environ.pop(args.env, None)


if __name__ == "__main__":
    main()
