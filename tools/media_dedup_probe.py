#!/usr/bin/env python
"""Perceptual-dedup scaling probe for the binary modalities (round 9).

The decode+fingerprint stage is map-only (one Arrow mapInPandas pass,
O(pixels|samples) per blob, zero shuffle) and the pair stage is the
banded equi-join, so wall should track blob count linearly. Probe the
image family at 1x / 10x the gate fixture's 240 images (2400 at 10x,
same 30-family near-dup structure so pair output scales with the
square of copies-per-family — the banding is judged on CANDIDATE
volume, not output volume). Writes SCALE_PROBE_media_dedup.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T

from huckli_spark.operators.multimodal import image_dedup_pairs
from huckli_spark.session import get_spark


def media_df(spark, n_images: int, n_fam: int):
    """Same closed-form family fixture as q_image_dedup, any size."""
    from typing import Iterator

    import pandas as pd  # noqa: F401

    ids = spark.range(n_images).selectExpr("id AS media_id")

    def synth(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from huckli_spark.operators import multimodal as mm

        y = np.arange(24, dtype=np.int64)[:, None]
        x = np.arange(33, dtype=np.int64)[None, :]
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                fam, shift = mid % n_fam, (mid // n_fam) % 40
                base = (fam * 53 + y * 17 + x * 29
                        + ((x * y + fam) % 13) * 9) % 200
                rows.append(
                    (mid, mm.encode_png((base + shift)
                                        .astype(np.uint8)[:, :, None]))
                )
            yield pd.DataFrame(rows, columns=["media_id", "data"])

    return ids.mapInPandas(
        synth,
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("data", T.BinaryType(), False),
            ]
        ),
    )


def main() -> None:
    spark = get_spark(app_name="media_dedup_probe")
    image_dedup_pairs(media_df(spark, 60, 30)).count()  # warmup
    results = {}
    for copies in (1, 10):
        n = 240 * copies
        t0 = time.perf_counter()
        pairs = image_dedup_pairs(media_df(spark, n, 30)).count()
        wall = time.perf_counter() - t0
        results[f"{copies}x"] = {
            "n_images": n,
            "wall_s": round(wall, 2),
            "n_pairs": pairs,
        }
        print(f"{copies}x: {results[f'{copies}x']}", flush=True)
    results["ratio_10x_over_1x"] = {
        "wall": round(results["10x"]["wall_s"] / results["1x"]["wall_s"], 2),
        "n_images": 10.0,
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_PROBE_media_dedup.json",
    )
    with open(out, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
