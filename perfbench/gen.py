"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical ``.gz`` files (gzip header mtime pinned to 0), and
``digest`` proves it. The program under
test only ever sees the files; the expectations returned beside them
are what the correctness checks compare its outputs against.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
from dataclasses import dataclass, field

from huckli_spark.ingest.filetypes import REGISTRY
from huckli_spark.sources.framing import write_frames
from huckli_spark.sources.protowire import encode

T0_MS = 1_700_000_000_000
HOUR_MS = 3_600_000
# One frame in a thousand ends mid-varint (a field-1 varint tag then a
# continuation byte and nothing after it): the decoder must drop it.
BAD_FRAME_RATE = 0.001
BAD_SUFFIX = b"\x08\x80"

# oneof arm mix for mobile-rewards: every record sets exactly one arm.
MOBILE_ARMS = (
    ("radio_reward_v2", 0.40),
    ("gateway_reward", 0.25),
    ("subscriber_reward", 0.15),
    ("promotion_reward", 0.10),
    ("service_provider_reward", 0.05),
    ("unallocated_reward", 0.05),
)
ARM_TABLE = {
    "radio_reward_v2": "mobile_radio_rewards",
    "gateway_reward": "mobile_gateway_rewards",
    "subscriber_reward": "mobile_subscriber_rewards",
    "promotion_reward": "mobile_promotion_rewards",
    "service_provider_reward": "mobile_service_provider_rewards",
    "unallocated_reward": "mobile_unallocated_rewards",
}
CHILD_TABLE = {
    "location_trust_scores": "mobile_reward_trust_scores",
    "speedtests": "mobile_reward_speedtests",
    "covered_hexes": "mobile_reward_covered_hexes",
}
# repeated-field lengths are drawn uniformly from 0..max
CHILD_MAX = {"location_trust_scores": 3, "speedtests": 4, "covered_hexes": 6}


@dataclass
class Batch:
    """Files of one ingest call, round or trigger, and what they hold."""

    paths: list[str]
    records: int = 0  # frames written, bad ones included
    bad: int = 0
    gz_bytes: int = 0
    rows: dict[str, int] = field(default_factory=dict)
    # read-back expectation (see workloads.READBACK_SQL): a row count
    # and a sum the read-back query must return for these files
    check_rows: int = 0
    check_sum: int = 0
    newest_ms: int = 0


def _write_gz(path: str, payloads: list[bytes]) -> int:
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0
    ) as gz:
        write_frames(gz, payloads)
    return os.path.getsize(path)


def _key(rng: random.Random, pool: int = 64) -> bytes:
    k = rng.randrange(pool)
    return bytes([1 + k % 250]) + hashlib.sha256(str(k).encode()).digest()


def _maybe_bad(rng: random.Random, payload: bytes) -> tuple[bytes, bool]:
    if rng.random() < BAD_FRAME_RATE:
        return payload + BAD_SUFFIX, True
    return payload, False


def speedtest_batch(
    seed: int, directory: str, n_files: int, per_file: int, t0_ms: int = T0_MS
) -> Batch:
    """``verified-speedtest`` files: one table, no demux."""
    rng = random.Random(f"speedtest:{seed}:{t0_ms}")
    msg = REGISTRY["verified-speedtest"].msg
    os.makedirs(directory, exist_ok=True)
    b = Batch(paths=[])
    for f in range(n_files):
        base = t0_ms + f * HOUR_MS
        payloads = []
        for i in range(per_file):
            ts = base + i * 1000 + rng.randrange(1000)
            upload = rng.randrange(10**7)
            p = encode(
                msg,
                {
                    "report": {
                        "received_timestamp": ts,
                        "report": {
                            "pub_key": _key(rng),
                            "serial": f"sn-{rng.randrange(10**6)}",
                            "timestamp": ts // 1000,
                            "upload_speed": upload,
                            "download_speed": rng.randrange(10**8),
                            "latency": rng.randrange(1, 500),
                        },
                    },
                    "timestamp": ts + 500,
                    "result": "SPEEDTEST_AVG_VALID" if rng.random() < 0.9 else "SPEEDTEST_AVG_FAIL",
                },
            )
            p, bad = _maybe_bad(rng, p)
            payloads.append(p)
            if bad:
                b.bad += 1
            else:
                b.check_rows += 1
                b.check_sum += upload
        path = os.path.join(directory, f"verified_speedtest.{base}.gz")
        b.gz_bytes += _write_gz(path, payloads)
        b.paths.append(path)
        b.records += per_file
        b.newest_ms = max(b.newest_ms, base)
    b.rows = {"verified_speedtest_report": b.records - b.bad}
    return b


def _dec(rng: random.Random) -> dict:
    return {"value": f"{rng.randrange(10**6) / 100:.2f}"}


def _mobile_record(rng: random.Random, start_s: int) -> tuple[dict, str, dict[str, int], int]:
    r = rng.random()
    arm = MOBILE_ARMS[-1][0]
    acc = 0.0
    for name, w in MOBILE_ARMS:
        acc += w
        if r < acc:
            arm = name
            break
    rec: dict = {"start_period": start_s, "end_period": start_s + 86_400}
    children: dict[str, int] = {}
    poc = 0
    if arm == "radio_reward_v2":
        lens = {c: rng.randint(0, m) for c, m in CHILD_MAX.items()}
        poc = rng.randrange(10**9)
        rec[arm] = {
            "hotspot_key": _key(rng),
            "base_coverage_points_sum": _dec(rng),
            "base_reward_shares": _dec(rng),
            "base_poc_reward": poc,
            "boosted_poc_reward": rng.randrange(10**6),
            "seniority_timestamp": start_s - rng.randrange(10**6),
            "coverage_object": rng.randbytes(16),
            "sp_boosted_hex_status": "ELIGIBLE",
            "location_trust_scores": [
                {"meters_to_asserted": rng.randrange(500), "trust_score": _dec(rng)}
                for _ in range(lens["location_trust_scores"])
            ],
            "speedtests": [
                {
                    "upload_speed_bps": rng.randrange(10**7),
                    "download_speed_bps": rng.randrange(10**8),
                    "latency_ms": rng.randrange(1, 300),
                    "timestamp": start_s + rng.randrange(86_400),
                }
                for _ in range(lens["speedtests"])
            ],
            "covered_hexes": [
                {
                    "location": rng.randrange(1 << 60),
                    "base_coverage_points": _dec(rng),
                    "urbanized": "A",
                    "rank": rng.randrange(1, 4),
                }
                for _ in range(lens["covered_hexes"])
            ],
            "speedtest_average": {
                "upload_speed_bps": rng.randrange(10**7),
                "latency_ms": rng.randrange(1, 300),
                "timestamp": start_s,
            },
        }
        children = {CHILD_TABLE[c]: n for c, n in lens.items()}
    elif arm == "gateway_reward":
        rec[arm] = {
            "hotspot_key": _key(rng),
            "dc_transfer_reward": rng.randrange(10**6),
            "rewardable_bytes": rng.randrange(10**9),
            "price": rng.randrange(10**5),
        }
    elif arm == "subscriber_reward":
        rec[arm] = {
            "subscriber_id": rng.randbytes(16),
            "discovery_location_amount": rng.randrange(10**6),
            "verification_mapping_amount": rng.randrange(10**6),
        }
    elif arm == "promotion_reward":
        rec[arm] = {
            "entity": f"entity-{rng.randrange(100)}",
            "service_provider_amount": rng.randrange(10**6),
            "matched_amount": rng.randrange(10**6),
        }
    elif arm == "service_provider_reward":
        rec[arm] = {"service_provider_id": "HELIUM_MOBILE", "amount": rng.randrange(10**6)}
    else:
        rec[arm] = {"reward_type": "UNALLOCATED_REWARD_TYPE_POC", "amount": rng.randrange(10**6)}
    return rec, arm, children, poc


def mobile_batch(
    seed: int, directory: str, n_files: int, per_file: int, t0_ms: int
) -> Batch:
    """``mobile-rewards`` files: a oneof demuxed into 6 tables, three
    repeated fields exploded into child tables."""
    spec = REGISTRY["mobile-rewards"]
    rng = random.Random(f"mobile:{seed}:{t0_ms}")
    os.makedirs(directory, exist_ok=True)
    b = Batch(paths=[], rows={t: 0 for t in spec.tables})
    for f in range(n_files):
        base = t0_ms + f * HOUR_MS
        payloads = []
        for _ in range(per_file):
            rec, arm, children, poc = _mobile_record(rng, base // 1000)
            p, bad = _maybe_bad(rng, encode(spec.msg, rec))
            payloads.append(p)
            if bad:
                b.bad += 1
                continue
            b.rows[ARM_TABLE[arm]] += 1
            for t, n in children.items():
                b.rows[t] += n
            hexes = children.get("mobile_reward_covered_hexes", 0)
            b.check_rows += hexes
            b.check_sum += hexes * poc
        path = os.path.join(directory, f"{spec.prefix}.{base}.gz")
        b.gz_bytes += _write_gz(path, payloads)
        b.paths.append(path)
        b.records += per_file
        b.newest_ms = max(b.newest_ms, base)
    return b


def digest(paths: list[str]) -> str:
    """sha256 over file names and bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def restamp(batch: Batch, directory: str, t0_ms: int) -> Batch:
    """Copies of ``batch``'s files under new ``{prefix}.{epoch_ms}.gz``
    names, one hour apart from ``t0_ms``; same bytes, same expectations."""
    import shutil

    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, src in enumerate(sorted(batch.paths)):
        prefix = os.path.basename(src).split(".", 1)[0]
        dst = os.path.join(directory, f"{prefix}.{t0_ms + i * HOUR_MS}.gz")
        shutil.copyfile(src, dst)
        paths.append(dst)
    return Batch(
        paths=paths,
        records=batch.records,
        bad=batch.bad,
        gz_bytes=batch.gz_bytes,
        rows=dict(batch.rows),
        check_rows=batch.check_rows,
        check_sum=batch.check_sum,
        newest_ms=t0_ms + (len(paths) - 1) * HOUR_MS,
    )
