"""Helium public-key encoding (reference S1).

The reference renders every pubkey as base58check with a 0x00 version
byte prepended (/root/reference/huckli-import/src/lib.rs:139-156) —
Helium's standard key encoding (base58check = payload + first 4 bytes
of sha256(sha256(payload)), base58-encoded with the Bitcoin alphabet).

No base58 lib ships in the container, so the codec is implemented
here (public algorithm). The Spark surface is an Arrow-batched Pandas
UDF — base58 is a bignum conversion with no JVM built-in; batching
keeps the Python cost amortized (~µs/key).
"""

from __future__ import annotations

import hashlib
from typing import Optional

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_INDEX = {c: i for i, c in enumerate(_ALPHABET)}


def b58encode(data: bytes) -> str:
    n = int.from_bytes(data, "big")
    out = []
    while n:
        n, r = divmod(n, 58)
        out.append(_ALPHABET[r])
    # leading zero bytes -> leading '1's
    pad = 0
    for b in data:
        if b == 0:
            pad += 1
        else:
            break
    return "1" * pad + "".join(reversed(out))


def b58decode(s: str) -> bytes:
    n = 0
    for c in s:
        n = n * 58 + _INDEX[c]
    raw = n.to_bytes((n.bit_length() + 7) // 8, "big")
    pad = 0
    for c in s:
        if c == "1":
            pad += 1
        else:
            break
    return b"\x00" * pad + raw


def b58check_encode(payload: bytes) -> str:
    chk = hashlib.sha256(hashlib.sha256(payload).digest()).digest()[:4]
    return b58encode(payload + chk)


def helium_pubkey(key_bytes: Optional[bytes]) -> Optional[str]:
    """base58check of (0x00 ‖ key) — huckli-import/src/lib.rs:148-156."""
    if key_bytes is None:
        return None
    return b58check_encode(b"\x00" + bytes(key_bytes))


def _pubkey_batch(keys: pd.Series) -> pd.Series:
    """Encode each DISTINCT key once per Arrow batch: hotspot keys
    repeat heavily within a file (one row per report per radio), so
    memoizing turns O(rows) bignum base58 encodes into O(radios)."""
    memo: dict[bytes, str] = {}

    def enc(b) -> Optional[str]:
        if b is None:
            return None
        kb = bytes(b)
        try:
            return memo[kb]
        except KeyError:
            out = memo[kb] = helium_pubkey(kb)
            return out

    return keys.map(enc)


def helium_pubkey_udf(col: Column) -> Column:
    """Arrow-batched pubkey encoder (UDF created lazily — pandas_udf
    needs an active SparkSession to resolve its return type)."""
    return pandas_udf(_pubkey_batch, "string")(col)


def uuid16(col: Column) -> Column:
    """16-byte blob -> canonical hyphenated UUID string (S6; e.g.
    mobile_rewards.rs:223). Pure JVM expression — stays in codegen."""
    h = F.lower(F.hex(col))
    return F.when(F.length(h) == 32, F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )).otherwise(F.lit(None).cast("string"))
