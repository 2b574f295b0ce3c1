#!/usr/bin/env python
"""Paired A/B: mine_triplets pair_form='sql' (baseline) vs 'arrow'
(r13 candidate), alternating run-by-run within one SparkSession so
co-tenant steal hits both arms.

Usage: python tools/triplet_ab.py [--sf DIR] [--pairs N]
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
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from huckli_spark.operators.curation import mine_triplets
    from huckli_spark.session import get_spark

    spark = get_spark(app_name="triplet_ab")
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{args.sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )

    def one(arm: str) -> float:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"triplets arm={arm}")
        t0 = time.perf_counter()
        mine_triplets(emb, k=8, iterations=2, pair_form=arm).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    one("sql")
    one("arrow")
    a_ts, b_ts, ratios = [], [], []
    for _ in range(args.pairs):
        ta = one("sql")
        tb = one("arrow")
        a_ts.append(ta)
        b_ts.append(tb)
        ratios.append(tb / ta)
    med = statistics.median
    print(
        f"sql_med={med(a_ts):.3f} arrow_med={med(b_ts):.3f} "
        f"ratio_med={med(ratios):.3f} "
        f"sql={[round(t, 3) for t in a_ts]} "
        f"arrow={[round(t, 3) for t in b_ts]} "
        f"load={os.getloadavg()[0]:.2f}",
        flush=True,
    )


if __name__ == "__main__":
    main()
