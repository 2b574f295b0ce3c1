"""Declarative file-type registry: 20 ingest file types -> 31 tables.

This module is the Spark-first replacement for the reference's derive
macro (/root/reference/huckli-import-derive/src/lib.rs:51-138) plus its
twenty ``impl From<Proto>`` modules: each ``FileTypeSpec`` carries the
wire schema, the S3 bucket/prefix binding, and a Catalyst projection
from the decoded struct DataFrame to one or more typed tables.

Proto wire provenance: every descriptor below is transcribed from the
public github.com/helium/proto definitions (the reference pins rev
3dbaedf via Cargo.lock — /root/reference/Cargo.lock:1758), at one of
two confidence tiers, marked per message/enum:

- **[transcribed]** — structure and numbering recalled directly from
  the public proto text, or forced by the reference's prost decode
  code (nested ``helium.Decimal{value}`` messages, the nested
  ``speedtest_avg``, the double-nested verified reports, the
  ``oneof key_type`` arms, the uniform ingest wrapper
  ``{ received_timestamp = 1; report = 2 }``).
- **[recalled-medium]** — grounded in the reference's field-access
  code (names + structure certain) with numbering reconstructed from
  the public repo's field-accretion history; plausible but not
  letter-verified in this offline sandbox.

Hand-built raw wire vectors (tests/test_wire_vectors.py) pin ALL
declared layouts independently of this repo's own encoder, and
tools/proto_manifest.py freezes them into proto_manifest.json — so a
correction after checking the pinned rev against a production bucket
is a two-line diff caught by both gates. The *behaviors* are
parity-faithful throughout:

- keys -> base58check(0x00‖key)    (S1, huckli-import/src/lib.rs:139-156)
- epoch -> sec/ms heuristic @1e12  (S4, lib.rs:165-175; subsumes the
  fixed sec/ms conversions S2/S3 for any realistic epoch)
- decimal-as-string -> f64, 0.0 on absence/garbage (S5, lib.rs:307-313)
- 16-byte blobs -> canonical UUID strings (S6)
- enums -> proto string names, decode-side (S8)
- oneof demux to N tables (A11), repeated -> child tables (A12)
- first-element-or-default (S12, boosting.rs:39)
- pubkey-nonempty-else-cbsd_id coalesce (S9, radio_thresholds.rs:35-39)
- nested report unwrap via struct navigation (S13)
- every table gets a trailing ``file_source`` provenance column (A19)

Deviation (documented, SURVEY §7): parent keys for exploded children
are deterministic — uuid-formatted md5(file_source:frame_index) — not
uuid4 (radio_reward.rs:117). Nondeterministic keys diverge between
parent and child under Spark stage retries; the deterministic key
preserves join semantics and is retry-safe.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from huckli_spark.functions.decimals import proto_decimal
from huckli_spark.functions.keys import helium_pubkey_udf, uuid16
from huckli_spark.functions.timestamps import ts_heuristic
from huckli_spark.sources.protowire import Field, Msg

# ---------------------------------------------------------------------------
# enum name tables (S8) — as_str_name() parity with the prost enums the
# reference decodes. The reference never spells these strings out; it
# calls as_str_name() on enums generated from the public helium/proto
# (e.g. data_transfer.rs:44, heartbeats.rs:38, iot_rewards.rs:159), so
# the string domain comes from that public repo's proto text. Tables
# marked [transcribed] carry spellings recalled from that text; tables
# marked [placeholder] keep deliberately-generic spellings because the
# real variant names aren't recoverable in this offline sandbox —
# re-verify both tiers against rev 3dbaedf before a production bucket.
#
# Unknown on-wire values decode to str(int) rather than prost's
# getter behavior (collapse to the 0-variant): collapsing requires the
# COMPLETE variant table, and with a partial table it would silently
# relabel real non-zero values as the default name — a raw "7" is the
# safer failure mode for a decoder that may lag the proto.
# ---------------------------------------------------------------------------
# [transcribed] poc_mobile data_transfer_radio_access_technology —
# 3GPP RAT-type names (data_transfer.rs:44).
E_TECHNOLOGY = {
    0: "UTRAN",
    1: "GERAN",
    2: "WLAN",
    3: "GAN",
    4: "HSPA_EVOLUTION",
    5: "EUTRAN",
    6: "NR",
}
# [placeholder] generic verified-wrapper status; the per-family real
# enums (data_transfer_ingest_report_status, unique-connections /
# radio-threshold verification statuses) each need their rev-3dbaedf
# spellings filled in before production use. 0 is the valid arm in
# every family (the reference treats status()==default as accepted).
E_STATUS = {0: "VALID", 1: "INVALID"}
# [transcribed 0-variant] poc_mobile heartbeat_validity — prefixed
# variant style; the non-zero invalid variants exist on the wire
# (heartbeats.rs:38 stores arbitrary validity strings) but their
# spellings aren't recoverable offline: unknown values surface as the
# raw int string rather than a guessed name.
E_VALIDITY = {0: "HEARTBEAT_VALIDITY_VALID"}
# [placeholder] invalidated_radio_threshold reason (radio_thresholds
# .rs:84).
E_REASON = {0: "NONE", 1: "BANNED", 2: "STALE", 3: "INVALID"}
# [transcribed] poc_mobile service_provider_boosted_rewards_banned_
# radio_req_v1 nested enums (sp_banned_radio.rs:44-46): helium
# prefixes nested-enum variants with the full enum name.
E_SP_BAN_REASON = {
    0: "SP_BOOSTED_REWARDS_BANNED_RADIO_REASON_UNBANNED",
    1: "SP_BOOSTED_REWARDS_BANNED_RADIO_REASON_NO_NETWORK_CORRELATION",
}
E_BAN_TYPE = {
    0: "SP_BOOSTED_REWARDS_BANNED_RADIO_BAN_TYPE_BOOSTED_HEX",
    1: "SP_BOOSTED_REWARDS_BANNED_RADIO_BAN_TYPE_POC",
}
# [transcribed] poc_mobile speedtest verification result
# (verified_speedtest.rs:45; settled round 4).
E_RESULT = {0: "SPEEDTEST_AVG_VALID", 1: "SPEEDTEST_AVG_FAIL"}
# [transcribed] poc_mobile signal_level (coverage.rs:85).
E_SIGNAL_LEVEL = {
    0: "SIGNAL_LEVEL_NONE",
    1: "SIGNAL_LEVEL_LOW",
    2: "SIGNAL_LEVEL_MEDIUM",
    3: "SIGNAL_LEVEL_HIGH",
}
# [transcribed] poc_mobile location_source (heartbeats.rs:47,94) —
# unprefixed variants, SKYHOOK is the wifi location oracle.
E_LOCATION_SOURCE = {0: "UNKNOWN", 1: "ASSERTED", 2: "GPS", 3: "SKYHOOK"}
# [transcribed] unallocated_reward_type — shared by the iot and mobile
# unallocated arms (iot_rewards.rs:159, mobile_rewards.rs:172).
E_REWARD_TYPE = {
    0: "UNALLOCATED_REWARD_TYPE_POC",
    1: "UNALLOCATED_REWARD_TYPE_OPERATION",
    2: "UNALLOCATED_REWARD_TYPE_ORACLE",
    3: "UNALLOCATED_REWARD_TYPE_DATA",
    4: "UNALLOCATED_REWARD_TYPE_MAPPER",
    5: "UNALLOCATED_REWARD_TYPE_SERVICE_PROVIDER",
}
# [transcribed] service_provider.proto — Helium Mobile is the single
# variant (mobile_rewards.rs:196).
E_SERVICE_PROVIDER = {0: "HELIUM_MOBILE"}
# [transcribed] subscriber_report_verification_status (subscribers.rs
# :78 — the verified subscriber mapping wrapper).
E_SUB_STATUS = {
    0: "SUBSCRIBER_REPORT_VERIFICATION_STATUS_VALID",
    1: "SUBSCRIBER_REPORT_VERIFICATION_STATUS_INVALID_SUBSCRIBER_ID",
    2: "SUBSCRIBER_REPORT_VERIFICATION_STATUS_INVALID_CARRIER_KEY",
}
# [placeholder] radio_reward_v2 sp/oracle boosted-hex status.
E_HEX_STATUS = {0: "ELIGIBLE", 1: "INELIGIBLE_LOCATION", 2: "INELIGIBLE_RADIO"}
# [placeholder] carrier identifier enum (usage.rs:48,
# data_transfer.rs:49 call carrier_id()/carrier_id_v2()): the enum's
# EXISTENCE is proven by those accessors, its variant spellings are
# not recoverable offline — swap in the real as_str_name strings when
# pointing at a production bucket.
E_CARRIER = {0: "CARRIER_UNKNOWN", 1: "CARRIER_A", 2: "CARRIER_B", 3: "CARRIER_C"}
# [transcribed] hexboosting Assignment — footfall / landtype /
# urbanized hex grades share one A/B/C enum in the public proto.
E_ASSIGNMENT = {0: "A", 1: "B", 2: "C"}

# ---------------------------------------------------------------------------
# Enum override hook (round 6): a production deployment injects the
# true ``as_str_name()`` spellings for the [placeholder] tables — no
# code change — via ``apply_enum_overrides`` or the
# ``HUCKLI_SPARK_ENUM_OVERRIDES`` env var (path to a JSON file of
# {"E_CARRIER": {"0": "REAL_NAME", ...}, ...}). The tables mutate IN
# PLACE so every Field already holding the dict sees the new names.
# ``tools/proto_manifest.py`` reports the placeholder census;
# ``warn_placeholder_enums`` fires a one-time loud warning when a
# file type decodes through a still-placeholder table.
# ---------------------------------------------------------------------------
ENUM_TABLES: dict[str, dict[int, str]] = {
    n: v
    for n, v in list(globals().items())
    if n.startswith("E_") and isinstance(v, dict)
}
# Tables whose variant SPELLINGS are invented (structure is proven by
# the reference's accessors; see the per-table comments above).
PLACEHOLDER_ENUM_TABLES: frozenset[str] = frozenset(
    {"E_STATUS", "E_REASON", "E_HEX_STATUS", "E_CARRIER"}
)
_OVERRIDDEN_TABLES: set[str] = set()
_WARNED_TABLES: set[str] = set()


def apply_enum_overrides(
    overrides: "dict[str, dict]", replace: bool = True
) -> list[str]:
    """Inject real variant spellings at runtime. Keys are table names
    (``E_CARRIER``), values map code (int or str form) -> name.
    ``replace=True`` (default) drops codes absent from the override —
    a complete real table should fully supersede invented entries.
    Returns the list of applied table names; unknown names raise."""
    applied = []
    for name, table in overrides.items():
        if name not in ENUM_TABLES:
            raise KeyError(
                f"unknown enum table {name!r}; known: {sorted(ENUM_TABLES)}"
            )
        new = {int(k): str(v) for k, v in table.items()}
        live = ENUM_TABLES[name]
        if replace:
            live.clear()
        live.update(new)
        _OVERRIDDEN_TABLES.add(name)
        applied.append(name)
    return applied


def load_enum_overrides_from_env() -> list[str]:
    """Apply overrides from ``$HUCKLI_SPARK_ENUM_OVERRIDES`` (a JSON
    file path). No-op when unset. On a cluster, ship the same value in
    ``spark.executorEnv`` — the decode UDF runs executor-side."""
    import json as _json
    import os as _os

    path = _os.environ.get("HUCKLI_SPARK_ENUM_OVERRIDES")
    if not path:
        return []
    with open(path) as fh:
        return apply_enum_overrides(_json.load(fh))


def _placeholder_tables_in(msg: Msg) -> set[str]:
    """Names of still-placeholder tables reachable from a message's
    fields (identity match — overrides mutate, never rebind)."""
    found: set[str] = set()
    for f in msg.fields:
        if f.ptype == "enum" and f.enum_names is not None:
            for name in PLACEHOLDER_ENUM_TABLES - _OVERRIDDEN_TABLES:
                if ENUM_TABLES[name] is f.enum_names:
                    found.add(name)
        elif f.ptype == "message" and f.schema is not None:
            found |= _placeholder_tables_in(f.schema)
    return found


def warn_placeholder_enums(msg: Msg, file_type: str) -> set[str]:
    """One-time loud warning per placeholder table actually decoded:
    the data flows, but its enum labels are not the reference's."""
    import warnings as _warnings

    hit = _placeholder_tables_in(msg)
    for name in sorted(hit - _WARNED_TABLES):
        _WARNED_TABLES.add(name)
        _warnings.warn(
            f"file type {file_type!r} decodes through PLACEHOLDER enum "
            f"table {name}: variant spellings are invented, not the "
            "reference's as_str_name() strings. Inject the real table "
            "via HUCKLI_SPARK_ENUM_OVERRIDES or apply_enum_overrides() "
            "before relying on these labels.",
            stacklevel=2,
        )
    return hit


@dataclass(frozen=True)
class FileTypeSpec:
    """One CLI-selectable file family (reference SupportedFileTypes,
    huckli-import/src/lib.rs:115-137)."""

    name: str  # CLI name
    bucket: str
    prefix: str
    msg: Msg
    project: Callable[[DataFrame], dict[str, DataFrame]]
    tables: tuple[str, ...]


REGISTRY: dict[str, FileTypeSpec] = {}


def _register(spec: FileTypeSpec) -> FileTypeSpec:
    REGISTRY[spec.name] = spec
    return spec


# column helpers ------------------------------------------------------------
def _key(src) -> Column:
    col = F.col(src) if isinstance(src, str) else src
    return helium_pubkey_udf(col)


def _ts(src) -> Column:
    col = F.col(src) if isinstance(src, str) else src
    return ts_heuristic(col)


def _uuid(src: str) -> Column:
    return uuid16(F.col(src))


def parent_id() -> Column:
    """Deterministic uuid-shaped parent key (documented deviation from
    uuid4 — see module docstring)."""
    return uuid16(
        F.unhex(F.md5(F.concat_ws(":", F.col("file_source"), F.col("frame_index"))))
    )


def _fs(cols: list[Column]) -> list[Column]:
    return [*cols, F.col("file_source")]


def _single(table: str, build: Callable[[DataFrame], DataFrame]):
    def project(df: DataFrame) -> dict[str, DataFrame]:
        return {table: build(df)}

    return project


# ---------------------------------------------------------------------------
# 1. boosted_hex_update (boosting.rs:13-39)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="boosted-hex-update",
        bucket="helium-mainnet-mobile-verified",
        prefix="boosted_hex_update",
        msg=Msg(
            "BoostedHexUpdateV1",
            (
                Field(1, "timestamp", "uint64"),
                Field(
                    2,
                    "update",
                    "message",
                    schema=Msg(
                        "BoostedHex",
                        (
                            Field(1, "location", "uint64"),
                            Field(2, "start_ts", "uint64"),
                            Field(3, "end_ts", "uint64"),
                            Field(4, "period_length", "uint32"),
                            Field(5, "multipliers", "uint32", repeated=True),
                            # fields 6/7 are the boost-config pubkeys
                            # the reference never reads (skipped as
                            # unknown); version sits at 8 in the
                            # public boosted_hex_info_v1
                            Field(8, "version", "uint32"),
                        ),
                    ),
                ),
            ),
        ),
        tables=("boosted_hex_update",),
        project=_single(
            "boosted_hex_update",
            lambda df: df.select(
                *_fs(
                    [
                        _ts("timestamp").alias("timestamp"),
                        F.col("update.location").alias("location"),
                        _ts(F.col("update.start_ts")).alias("start_ts"),
                        _ts(F.col("update.end_ts")).alias("end_ts"),
                        F.col("update.period_length").cast("int").alias("period_length"),
                        # S12 first-element-or-default (boosting.rs:39)
                        F.coalesce(
                            F.element_at("update.multipliers", 1), F.lit(0)
                        ).cast("int").alias("multiplier"),
                        F.col("update.version").cast("int").alias("version"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 2. coverage_object + coverage_location (coverage.rs:43-111)
# ---------------------------------------------------------------------------
# Wire numbering provenance: transcribed from the public helium/proto
# poc_mobile.proto (coverage_object_req_v1). Grounded in the reference
# decode (coverage.rs:58-67): the radio key is a true
# ``oneof key_type { string cbsd_id; bytes hotspot_key }`` — pub_key
# (field 1) is the oracle signer, NOT the radio key — and
# radio_hex_signal_level.location crosses the wire as an h3 STRING
# (coverage.rs:85 clones it into a String column directly).
_COVERAGE_MSG = Msg(
    "CoverageObjectV1",
    (
        Field(
            1,
            "coverage_object",
            "message",
            schema=Msg(
                "CoverageObjectReq",
                (
                    Field(1, "pub_key", "bytes"),  # oracle signer key
                    Field(2, "uuid", "bytes"),
                    Field(3, "coverage_claim_time", "uint64"),
                    Field(4, "indoor", "bool"),
                    Field(
                        5,
                        "coverage",
                        "message",
                        repeated=True,
                        schema=Msg(
                            "RadioHexSignalLevel",
                            (
                                Field(1, "location", "string"),
                                Field(2, "signal_level", "enum", enum_names=E_SIGNAL_LEVEL),
                                Field(3, "signal_power", "int32"),
                            ),
                        ),
                    ),
                    Field(6, "signature", "bytes"),
                    # oneof key_type (S10)
                    Field(7, "cbsd_id", "string"),
                    Field(8, "hotspot_key", "bytes"),
                ),
            ),
        ),
        Field(2, "validity", "enum", enum_names=E_VALIDITY),
    ),
)


def _coverage_project(df: DataFrame) -> dict[str, DataFrame]:
    co = df.select("file_source", F.col("coverage_object").alias("o"))
    # S10 oneof key dispatch: hotspot_key arm -> (b58 key, 'wifi'),
    # cbsd_id arm -> (cbsd_id, 'cbrs') — lowercase radio_type is the
    # one lowercase enum exception (coverage.rs:58-67)
    has_key = (F.col("o.hotspot_key").isNotNull()) & (F.length("o.hotspot_key") > 0)
    parent = co.select(
        *_fs(
            [
                F.when(has_key, helium_pubkey_udf(F.col("o.hotspot_key")))
                .otherwise(F.col("o.cbsd_id"))
                .alias("radio_key"),
                F.when(has_key, F.lit("wifi")).otherwise(F.lit("cbrs")).alias("radio_type"),
                uuid16(F.col("o.uuid")).alias("uuid"),
                _ts(F.col("o.coverage_claim_time")).alias("coverage_claim_time"),
                F.col("o.indoor").alias("indoor"),
            ]
        )
    )
    child = (
        co.select(
            "file_source",
            uuid16(F.col("o.uuid")).alias("uuid"),
            F.explode_outer("o.coverage").alias("c"),
        )
        .where(F.col("c").isNotNull())
        .select(
            *_fs(
                [
                    F.col("uuid"),
                    F.col("c.location").alias("location"),
                    F.col("c.signal_level").alias("signal_level"),
                    F.col("c.signal_power").alias("signal_power"),
                ]
            )
        )
    )
    return {"coverage_object": parent, "coverage_location": child}


_register(
    FileTypeSpec(
        name="coverage-object",
        bucket="helium-mainnet-mobile-verified",
        prefix="coverage_object",
        msg=_COVERAGE_MSG,
        tables=("coverage_object", "coverage_location"),
        project=_coverage_project,
    )
)

# ---------------------------------------------------------------------------
# 3-4. data transfer ingest + verified (data_transfer.rs:11-103)
# ---------------------------------------------------------------------------
# [transcribed] data_transfer_event — names from the reference's prost
# accessors (data_transfer.rs:40-51), numbering from the public
# poc_mobile.proto: the technology and carrier are wire ENUMS, not
# strings, and the ingest wrapper follows the poc_mobile convention
# { received_timestamp = 1; report = 2 } (same as speedtest).
_DT_USAGE = Msg(
    "DataTransferEvent",
    (
        Field(1, "pub_key", "bytes"),
        Field(2, "upload_bytes", "uint64"),
        Field(3, "download_bytes", "uint64"),
        Field(4, "radio_access_technology", "enum", enum_names=E_TECHNOLOGY),
        Field(5, "event_id", "string"),
        Field(6, "payer", "bytes"),
        Field(7, "timestamp", "uint64"),
        Field(8, "signature", "bytes"),
    ),
)
# [recalled-medium] data_transfer_session_req_v1 field accretion:
# the original req was { usage = 1; rewardable_bytes = 2; pub_key = 3;
# signature = 4 }, the deprecated STRING carrier_id landed at 5, and
# carrier_id_v2 (the enum the reference reads, data_transfer.rs:49)
# at 6. pub_key/signature/legacy carrier_id are unread by the
# reference and left undeclared (unknown-field skip).
_DT_SESSION = Msg(
    "DataTransferSessionReq",
    (
        Field(1, "data_transfer_usage", "message", schema=_DT_USAGE),
        Field(2, "rewardable_bytes", "uint64"),
        Field(6, "carrier_id_v2", "enum", enum_names=E_CARRIER),
    ),
)
_DT_INGEST = Msg(
    "DataTransferSessionIngestReportV1",
    (
        Field(1, "received_timestamp", "uint64"),
        Field(2, "report", "message", schema=_DT_SESSION),
    ),
)


def _dt_common(prefix: str) -> list[Column]:
    """S13 two-level struct navigation into report.data_transfer_usage."""
    u = f"{prefix}.data_transfer_usage"
    return [
        helium_pubkey_udf(F.col(f"{u}.pub_key")).alias("hotspot_key"),
        F.col(f"{u}.upload_bytes").alias("upload_bytes"),
        F.col(f"{u}.download_bytes").alias("download_bytes"),
        F.col(f"{prefix}.rewardable_bytes").alias("rewardable_bytes"),
        F.col(f"{u}.radio_access_technology").alias("technology"),
        F.col(f"{u}.event_id").alias("event_id"),
        helium_pubkey_udf(F.col(f"{u}.payer")).alias("payer"),
        _ts(F.col(f"{u}.timestamp")).alias("timestamp"),
    ]


_register(
    FileTypeSpec(
        name="data-transfer-ingest",
        bucket="helium-mainnet-mobile-ingest",
        prefix="data_transfer_session_ingest_report",
        msg=_DT_INGEST,
        tables=("data_transfer_ingest_report",),
        project=_single(
            "data_transfer_ingest_report",
            lambda df: df.select(
                *_fs(
                    [
                        *_dt_common("report"),
                        _ts("received_timestamp").alias("received_timestamp"),
                        F.col("report.carrier_id_v2").alias("carrier_id"),
                    ]
                )
            ),
        ),
    )
)

_register(
    FileTypeSpec(
        name="verified-data-transfer-ingest",
        bucket="helium-mainnet-mobile-packet-verifier",
        prefix="verified_data_transfer_session",
        msg=Msg(
            "VerifiedDataTransferIngestReportV1",
            (
                Field(1, "report", "message", schema=_DT_INGEST),
                Field(2, "status", "enum", enum_names=E_STATUS),
                Field(3, "timestamp", "uint64"),
            ),
        ),
        tables=("verified_data_transfer_ingest_report",),
        project=_single(
            "verified_data_transfer_ingest_report",
            # S13 three-level unwrap (data_transfer.rs:83-85)
            lambda df: df.select(
                *_fs(
                    [
                        *_dt_common("report.report"),
                        _ts(F.col("report.received_timestamp")).alias("received_timestamp"),
                        _ts("timestamp").alias("verified_timestamp"),
                        F.col("status").alias("status"),
                        F.col("report.report.carrier_id_v2").alias("carrier"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 5. data_transfer_burn (data_transfer.rs:105-127)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="data-transfer-burn",
        bucket="helium-mainnet-mobile-packet-verifier",
        prefix="valid_data_transfer_session",
        msg=Msg(
            "ValidDataTransferSession",
            (
                Field(1, "pub_key", "bytes"),
                Field(2, "upload_bytes", "uint64"),
                Field(3, "download_bytes", "uint64"),
                Field(4, "num_dcs", "uint64"),
                Field(5, "payer", "bytes"),
                Field(6, "first_timestamp", "uint64"),
                Field(7, "last_timestamp", "uint64"),
                Field(8, "rewardable_bytes", "uint64"),
                Field(9, "burn_timestamp", "uint64"),
            ),
        ),
        tables=("data_transfer_burn",),
        project=_single(
            "data_transfer_burn",
            lambda df: df.select(
                *_fs(
                    [
                        _key("pub_key").alias("hotspot_key"),
                        F.col("upload_bytes"),
                        F.col("download_bytes"),
                        F.col("num_dcs"),
                        _key("payer").alias("payer"),
                        _ts("first_timestamp").alias("first_timestamp"),
                        _ts("last_timestamp").alias("last_timestamp"),
                        F.col("rewardable_bytes"),
                        _ts("burn_timestamp").alias("burn_timestamp"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 6. enabled_carriers_info (enabled_carriers_info.rs:8-34)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="enabled-carriers-info",
        bucket="helium-mainnet-mobile-ingest",
        prefix="enabled_carriers_report",
        # Structure grounded in enabled_carriers_info.rs:25-35: the
        # report is NESTED (v.report), the carrier lists are repeated
        # ENUMS (packed varints on the wire — .enabled_carriers() /
        # .sampling_enabled_carriers() iterate enum values), and the
        # key field is hotspot_pubkey.
        msg=Msg(
            "EnabledCarriersInfoReportV1",
            (
                Field(
                    1,
                    "report",
                    "message",
                    schema=Msg(
                        "EnabledCarriersInfoReqV1",
                        (
                            Field(1, "hotspot_pubkey", "bytes"),
                            Field(2, "enabled_carriers", "enum", repeated=True,
                                  enum_names=E_CARRIER),
                            Field(3, "sampling_enabled_carriers", "enum", repeated=True,
                                  enum_names=E_CARRIER),
                            Field(4, "firmware_version", "string"),
                            Field(5, "timestamp_ms", "uint64"),
                        ),
                    ),
                ),
            ),
        ),
        tables=("enabled_carriers_info",),
        project=_single(
            "enabled_carriers_info",
            lambda df: df.select(
                *_fs(
                    [
                        _key(F.col("report.hotspot_pubkey")).alias("hotspot_key"),
                        # S11 json columns of enum name arrays
                        F.to_json(F.col("report.enabled_carriers")).alias(
                            "enabled_carriers"
                        ),
                        # reference quirk: TEXT by sql-attr omission
                        # (enabled_carriers_info.rs:17-19)
                        F.to_json(F.col("report.sampling_enabled_carriers")).alias(
                            "sampled_carriers"
                        ),
                        F.col("report.firmware_version").alias("firmware_version"),
                        # quirk: stringified datetime, not timestamptz
                        F.date_format(
                            _ts(F.col("report.timestamp_ms")), "yyyy-MM-dd HH:mm:ss 'UTC'"
                        ).alias("timestamp_ms"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 7-8. wifi heartbeats (heartbeats.rs:9-88)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="verified-wifi-heartbeat",
        bucket="helium-mainnet-mobile-verified",
        prefix="validated_heartbeat",
        # [recalled-medium] poc_mobile ``message heartbeat`` is the
        # CBRS-era message with wifi fields APPENDED, so the numbering
        # is sparse for a wifi decode: cbsd_id=1 and pub_key=2 lead
        # (cbrs heritage), 3 is the deprecated reward_multiplier and 4
        # the cell_type enum (both unread by the reference —
        # heartbeats.rs:33-49 — and left undeclared), then
        # validity/timestamp/lat/lon and the appended wifi-era
        # location fields.
        msg=Msg(
            "Heartbeat",
            (
                Field(2, "pub_key", "bytes"),
                Field(5, "validity", "enum", enum_names=E_VALIDITY),
                Field(6, "timestamp", "uint64"),
                Field(7, "lat", "double"),
                Field(8, "lon", "double"),
                Field(9, "coverage_object", "bytes"),
                Field(10, "location_validation_timestamp", "uint64"),
                Field(11, "distance_to_asserted", "uint64"),
                Field(12, "location_trust_score_multiplier", "uint32"),
                Field(13, "location_source", "enum", enum_names=E_LOCATION_SOURCE),
            ),
        ),
        tables=("verified_wifi_heartbeat",),
        project=_single(
            "verified_wifi_heartbeat",
            lambda df: df.select(
                *_fs(
                    [
                        _key("pub_key").alias("hotspot_key"),
                        _ts("timestamp").alias("timestamp"),
                        F.col("validity"),
                        F.col("lat"),
                        F.col("lon"),
                        _uuid("coverage_object").alias("coverage_object"),
                        _ts("location_validation_timestamp").alias(
                            "location_validation_timestamp"
                        ),
                        F.col("distance_to_asserted"),
                        F.col("location_trust_score_multiplier").cast("int").alias(
                            "location_trust_score_multiplier"
                        ),
                        F.col("location_source"),
                    ]
                )
            ),
        ),
    )
)

_register(
    FileTypeSpec(
        name="wifi-heartbeat-ingest",
        bucket="helium-mainnet-mobile-ingest",
        prefix="wifi_heartbeat_report",
        msg=Msg(
            "WifiHeartbeatIngestReportV1",
            (
                Field(1, "received_timestamp", "uint64"),
                Field(
                    2,
                    "report",
                    "message",
                    # [recalled-medium] wifi_heartbeat_req_v1 — wifi-
                    # native message (no cbrs gaps): pub_key then
                    # timestamp lead like every poc_mobile req;
                    # distance_to_asserted (6) and signature (8) are
                    # unread by the reference and left undeclared.
                    schema=Msg(
                        "WifiHeartbeatReqV1",
                        (
                            Field(1, "pub_key", "bytes"),
                            Field(2, "timestamp", "uint64"),
                            Field(3, "lat", "double"),
                            Field(4, "lon", "double"),
                            Field(5, "location_validation_timestamp", "uint64"),
                            Field(7, "operation_mode", "bool"),
                            Field(9, "coverage_object", "bytes"),
                            Field(10, "location_source", "enum", enum_names=E_LOCATION_SOURCE),
                        ),
                    ),
                ),
            ),
        ),
        tables=("wifi_heartbeat_ingest_report",),
        project=_single(
            "wifi_heartbeat_ingest_report",
            lambda df: df.select(
                *_fs(
                    [
                        helium_pubkey_udf(F.col("report.pub_key")).alias("hotspot_key"),
                        _ts(F.col("report.timestamp")).alias("timestamp"),
                        F.col("report.lat").alias("lat"),
                        F.col("report.lon").alias("lon"),
                        uuid16(F.col("report.coverage_object")).alias("coverage_object"),
                        _ts("received_timestamp").alias("received_timestamp"),
                        F.col("report.operation_mode").alias("operation_mode"),
                        _ts(F.col("report.location_validation_timestamp")).alias(
                            "location_validation_timestamp"
                        ),
                        F.col("report.location_source").alias("location_source"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 9. iot rewards — oneof demux to 3 tables (iot_rewards.rs:8-152)
# ---------------------------------------------------------------------------
# [transcribed] iot_reward_share — periods at 1/2, oneof reward arms
# gateway=3 / operational=4 / unallocated=5; gateway_reward_share is
# { hotspot_key=1; beacon_amount=2; witness_amount=3;
#   dc_transfer_amount=4 }.
_IOT_MSG = Msg(
    "IotRewardShare",
    (
        Field(1, "start_period", "uint64"),
        Field(2, "end_period", "uint64"),
        Field(
            3,
            "gateway_reward",
            "message",
            schema=Msg(
                "GatewayReward",
                (
                    Field(1, "hotspot_key", "bytes"),
                    Field(2, "beacon_amount", "uint64"),
                    Field(3, "witness_amount", "uint64"),
                    Field(4, "dc_transfer_amount", "uint64"),
                ),
            ),
        ),
        Field(
            4,
            "operational_reward",
            "message",
            schema=Msg("OperationalReward", (Field(1, "amount", "uint64"),)),
        ),
        Field(
            5,
            "unallocated_reward",
            "message",
            schema=Msg(
                "UnallocatedReward",
                (
                    Field(1, "reward_type", "enum", enum_names=E_REWARD_TYPE),
                    Field(2, "amount", "uint64"),
                ),
            ),
        ),
    ),
)


def _iot_project(df: DataFrame) -> dict[str, DataFrame]:
    # A11 oneof demux: single decoded pass feeds 3 filtered projections;
    # callers persist the decoded frame (pipeline.py) so Spark doesn't
    # re-read per sink (SURVEY §4 single-pass demux note).
    periods = [
        _ts("start_period").alias("start_period"),
        _ts("end_period").alias("end_period"),
    ]
    gw = df.where(F.col("gateway_reward").isNotNull()).select(
        *_fs(
            [
                *periods,
                helium_pubkey_udf(F.col("gateway_reward.hotspot_key")).alias("hotspot_key"),
                F.col("gateway_reward.beacon_amount").alias("beacon_amount"),
                F.col("gateway_reward.witness_amount").alias("witness_amount"),
                F.col("gateway_reward.dc_transfer_amount").alias("dc_transfer_amount"),
            ]
        )
    )
    op = df.where(F.col("operational_reward").isNotNull()).select(
        *_fs([*periods, F.col("operational_reward.amount").alias("amount")])
    )
    un = df.where(F.col("unallocated_reward").isNotNull()).select(
        *_fs(
            [
                *periods,
                F.col("unallocated_reward.reward_type").alias("reward_type"),
                F.col("unallocated_reward.amount").alias("amount"),
            ]
        )
    )
    return {
        "iot_gateway_rewards": gw,
        "iot_operational_rewards": op,
        "iot_unallocated_rewards": un,
    }


_register(
    FileTypeSpec(
        name="iot-rewards",
        bucket="helium-mainnet-iot-verified-rewards",
        prefix="iot_network_reward_shares_v1",
        msg=_IOT_MSG,
        tables=(
            "iot_gateway_rewards",
            "iot_operational_rewards",
            "iot_unallocated_rewards",
        ),
        project=_iot_project,
    )
)

# ---------------------------------------------------------------------------
# 10. mobile rewards — oneof demux to 6 tables + 3 exploded children
# (mobile_rewards.rs:12-165, radio_reward.rs:16-247)
#
# Wire numbering provenance: transcribed from the PUBLIC helium/proto
# repo (github.com/helium/proto, src/service/poc_mobile.proto; the
# reference pins rev 3dbaedf in Cargo.lock). Three structural facts are
# grounded directly in the reference decode code, independent of
# numbering: (a) decimals cross the wire as a nested
# ``helium.Decimal { string value = 1 }`` message, NOT a bare string
# (lib.rs:307 takes Option<&helium_proto::Decimal> and reads .value);
# (b) the radio reward's speedtest average is a nested
# ``speedtest_avg`` message (radio_reward.rs:142-151 reads
# reward.speedtest_average.upload_speed_bps); (c) MobileRewardShare's
# reward is a true oneof whose deprecated first arm (radio_reward v1)
# the reference maps to Deprecated/skip (mobile_rewards.rs:27-48).
# Field numbers are best-effort transcriptions from the public .proto
# at knowledge cutoff — re-verify against the pinned rev before
# pointing at a production bucket (tools/proto_manifest.py freezes
# whatever is declared here, so a correction is a two-line diff).
# ---------------------------------------------------------------------------
_DECIMAL = Msg("Decimal", (Field(1, "value", "string"),))


def _dec(num: int, name: str) -> Field:
    """helium.Decimal field: nested message carrying a decimal string
    (decode projects ``.value`` through proto_decimal -> f64, S5)."""
    return Field(num, name, "message", schema=_DECIMAL)


_SPEEDTEST_AVG = Msg(
    "SpeedtestAvg",
    (
        Field(1, "upload_speed_bps", "uint64"),
        Field(2, "download_speed_bps", "uint64"),
        Field(3, "latency_ms", "uint32"),
        Field(4, "timestamp", "uint64"),
    ),
)

_RADIO_REWARD_V2 = Msg(
    "RadioRewardV2",
    (
        Field(1, "hotspot_key", "bytes"),
        Field(2, "cbsd_id", "string"),  # deprecated cbrs arm, decoded+ignored
        _dec(3, "base_coverage_points_sum"),
        _dec(4, "boosted_coverage_points_sum"),
        _dec(5, "base_reward_shares"),
        _dec(6, "boosted_reward_shares"),
        Field(7, "base_poc_reward", "uint64"),
        Field(8, "boosted_poc_reward", "uint64"),
        Field(9, "seniority_timestamp", "uint64"),
        Field(10, "coverage_object", "bytes"),
        _dec(11, "location_trust_score_multiplier"),
        _dec(12, "speedtest_multiplier"),
        Field(13, "sp_boosted_hex_status", "enum", enum_names=E_HEX_STATUS),
        Field(14, "oracle_boosted_hex_status", "enum", enum_names=E_HEX_STATUS),
        Field(
            15,
            "location_trust_scores",
            "message",
            repeated=True,
            schema=Msg(
                "LocationTrustScore",
                (
                    Field(1, "meters_to_asserted", "uint64"),
                    _dec(2, "trust_score"),
                ),
            ),
        ),
        Field(
            16,
            "speedtests",
            "message",
            repeated=True,
            schema=Msg(
                "Speedtest",
                (
                    Field(1, "upload_speed_bps", "uint64"),
                    Field(2, "download_speed_bps", "uint64"),
                    Field(3, "latency_ms", "uint32"),
                    Field(4, "timestamp", "uint64"),
                ),
            ),
        ),
        Field(
            17,
            "covered_hexes",
            "message",
            repeated=True,
            schema=Msg(
                "CoveredHex",
                (
                    Field(1, "location", "uint64"),
                    _dec(2, "base_coverage_points"),
                    _dec(3, "boosted_coverage_points"),
                    Field(4, "urbanized", "enum", enum_names=E_ASSIGNMENT),
                    Field(5, "footfall", "enum", enum_names=E_ASSIGNMENT),
                    Field(6, "landtype", "enum", enum_names=E_ASSIGNMENT),
                    _dec(7, "assignment_multiplier"),
                    Field(8, "rank", "uint32"),
                    _dec(9, "rank_multiplier"),
                    Field(10, "boosted_multiplier", "uint32"),
                    Field(11, "service_provider_override", "bool"),
                ),
            ),
        ),
        Field(18, "speedtest_average", "message", schema=_SPEEDTEST_AVG),
    ),
)

# oneof reward: field 3 is the deprecated radio_reward (v1) arm — the
# reference maps it to MobileReward::Deprecated and persists nothing
# (mobile_rewards.rs:46-47), so we omit its descriptor; unknown-field
# skipping drops it on the wire, which IS the reference behavior.
_MOBILE_MSG = Msg(
    "MobileRewardShare",
    (
        Field(1, "start_period", "uint64"),
        Field(2, "end_period", "uint64"),
        Field(
            4,
            "gateway_reward",
            "message",
            schema=Msg(
                "MobileGatewayReward",
                (
                    Field(1, "hotspot_key", "bytes"),
                    Field(2, "dc_transfer_reward", "uint64"),
                    Field(3, "rewardable_bytes", "uint64"),
                    Field(4, "price", "uint64"),
                ),
            ),
        ),
        Field(
            5,
            "subscriber_reward",
            "message",
            schema=Msg(
                "SubscriberReward",
                (
                    Field(1, "subscriber_id", "bytes"),
                    Field(2, "discovery_location_amount", "uint64"),
                    Field(3, "verification_mapping_amount", "uint64"),
                    Field(4, "reward_override_entity_key", "string"),
                ),
            ),
        ),
        Field(
            6,
            "service_provider_reward",
            "message",
            schema=Msg(
                "ServiceProviderReward",
                (
                    # proto field name is service_provider_id
                    # (mobile_rewards.rs:203 calls service_provider_id())
                    Field(1, "service_provider_id", "enum", enum_names=E_SERVICE_PROVIDER),
                    Field(2, "amount", "uint64"),
                    Field(3, "rewardable_entity_key", "string"),
                ),
            ),
        ),
        Field(
            7,
            "unallocated_reward",
            "message",
            schema=Msg(
                "MobileUnallocatedReward",
                (
                    Field(1, "reward_type", "enum", enum_names=E_REWARD_TYPE),
                    Field(2, "amount", "uint64"),
                ),
            ),
        ),
        Field(8, "radio_reward_v2", "message", schema=_RADIO_REWARD_V2),
        Field(
            9,
            "promotion_reward",
            "message",
            schema=Msg(
                "PromotionReward",
                (
                    Field(1, "entity", "string"),
                    Field(2, "service_provider_amount", "uint64"),
                    Field(3, "matched_amount", "uint64"),
                ),
            ),
        ),
    ),
)


def _mobile_project(df: DataFrame) -> dict[str, DataFrame]:
    periods = [
        _ts("start_period").alias("start_period"),
        _ts("end_period").alias("end_period"),
    ]
    gw = df.where(F.col("gateway_reward").isNotNull()).select(
        *_fs(
            [
                *periods,
                helium_pubkey_udf(F.col("gateway_reward.hotspot_key")).alias("hotspot_key"),
                F.col("gateway_reward.dc_transfer_reward").alias("dc_transfer_reward"),
                F.col("gateway_reward.rewardable_bytes").alias("rewardable_bytes"),
                F.col("gateway_reward.price").alias("price"),
            ]
        )
    )
    sub = df.where(F.col("subscriber_reward").isNotNull()).select(
        *_fs(
            [
                *periods,
                uuid16(F.col("subscriber_reward.subscriber_id")).alias("subscriber_id"),
                F.col("subscriber_reward.discovery_location_amount").alias(
                    "discovery_location_amount"
                ),
                F.col("subscriber_reward.verification_mapping_amount").alias(
                    "verification_mapping_amount"
                ),
                F.col("subscriber_reward.reward_override_entity_key").alias(
                    "reward_override_entity_key"
                ),
            ]
        )
    )
    sp = df.where(F.col("service_provider_reward").isNotNull()).select(
        *_fs(
            [
                *periods,
                F.col("service_provider_reward.service_provider_id").alias("service_provider"),
                F.col("service_provider_reward.amount").alias("amount"),
                F.col("service_provider_reward.rewardable_entity_key").alias(
                    "rewardable_entity_key"
                ),
            ]
        )
    )
    un = df.where(F.col("unallocated_reward").isNotNull()).select(
        *_fs(
            [
                *periods,
                F.col("unallocated_reward.reward_type").alias("reward_type"),
                F.col("unallocated_reward.amount").alias("amount"),
            ]
        )
    )
    promo = df.where(F.col("promotion_reward").isNotNull()).select(
        *_fs(
            [
                *periods,
                F.col("promotion_reward.entity").alias("entity"),
                F.col("promotion_reward.service_provider_amount").alias(
                    "service_provider_amount"
                ),
                F.col("promotion_reward.matched_amount").alias("matched_amount"),
            ]
        )
    )

    # parent + A12 exploded children, joined by the deterministic id
    radio_base = df.where(F.col("radio_reward_v2").isNotNull()).select(
        "file_source",
        "frame_index",
        parent_id().alias("id"),
        *periods,
        F.col("radio_reward_v2").alias("r"),
    )
    radio = radio_base.select(
        *_fs(
            [
                F.col("id"),
                F.col("start_period"),
                F.col("end_period"),
                helium_pubkey_udf(F.col("r.hotspot_key")).alias("hotspot_key"),
                proto_decimal(F.col("r.base_coverage_points_sum.value")).alias(
                    "base_coverage_points_sum"
                ),
                proto_decimal(F.col("r.boosted_coverage_points_sum.value")).alias(
                    "boosted_coverage_points_sum"
                ),
                proto_decimal(F.col("r.base_reward_shares.value")).alias(
                    "base_reward_shares"
                ),
                proto_decimal(F.col("r.boosted_reward_shares.value")).alias(
                    "boosted_reward_shares"
                ),
                F.col("r.base_poc_reward").alias("base_poc_reward"),
                F.col("r.boosted_poc_reward").alias("boosted_poc_reward"),
                _ts(F.col("r.seniority_timestamp")).alias("seniority_timestamp"),
                uuid16(F.col("r.coverage_object")).alias("coverage_object"),
                proto_decimal(F.col("r.location_trust_score_multiplier.value")).alias(
                    "location_trust_score_multiplier"
                ),
                proto_decimal(F.col("r.speedtest_multiplier.value")).alias(
                    "speedtest_multiplier"
                ),
                F.col("r.sp_boosted_hex_status").alias("sp_boosted_hex_status"),
                F.col("r.oracle_boosted_hex_status").alias("oracle_boosted_hex_status"),
                # nested speedtest_avg message (radio_reward.rs:142-151)
                F.col("r.speedtest_average.upload_speed_bps").alias(
                    "speedtest_avg_upload"
                ),
                F.col("r.speedtest_average.download_speed_bps").alias(
                    "speedtest_avg_download"
                ),
                F.col("r.speedtest_average.latency_ms").cast("int").alias(
                    "speedtest_avg_latency_ms"
                ),
                _ts(F.col("r.speedtest_average.timestamp")).alias(
                    "speedtest_avg_timestamp"
                ),
            ]
        )
    )
    trust = (
        radio_base.select("file_source", "id", F.explode("r.location_trust_scores").alias("t"))
        .select(
            *_fs(
                [
                    F.col("id"),
                    F.col("t.meters_to_asserted").alias("meters_to_asserted"),
                    proto_decimal(F.col("t.trust_score.value")).alias("trust_score"),
                ]
            )
        )
    )
    speed = (
        radio_base.select("file_source", "id", F.explode("r.speedtests").alias("s"))
        .select(
            *_fs(
                [
                    F.col("id"),
                    F.col("s.upload_speed_bps").alias("upload"),
                    F.col("s.download_speed_bps").alias("download"),
                    F.col("s.latency_ms").cast("int").alias("latency_ms"),
                    _ts(F.col("s.timestamp")).alias("timestamp"),
                ]
            )
        )
    )
    hexes = (
        radio_base.select("file_source", "id", F.explode("r.covered_hexes").alias("h"))
        .select(
            *_fs(
                [
                    F.col("id"),
                    F.col("h.location").alias("location"),
                    proto_decimal(F.col("h.base_coverage_points.value")).alias(
                        "base_coverage_points"
                    ),
                    proto_decimal(F.col("h.boosted_coverage_points.value")).alias(
                        "boosted_coverage_points"
                    ),
                    F.col("h.urbanized").alias("urbanized"),
                    F.col("h.footfall").alias("footfall"),
                    F.col("h.landtype").alias("landtype"),
                    proto_decimal(F.col("h.assignment_multiplier.value")).alias(
                        "assignment_multiplier"
                    ),
                    F.col("h.rank").cast("int").alias("rank"),
                    proto_decimal(F.col("h.rank_multiplier.value")).alias("rank_multiplier"),
                    F.col("h.boosted_multiplier").cast("int").alias("boosted_multiplier"),
                    F.col("h.service_provider_override").alias("service_provider_override"),
                ]
            )
        )
    )
    return {
        "mobile_gateway_rewards": gw,
        "mobile_subscriber_rewards": sub,
        "mobile_service_provider_rewards": sp,
        "mobile_unallocated_rewards": un,
        "mobile_promotion_rewards": promo,
        "mobile_radio_rewards": radio,
        "mobile_reward_trust_scores": trust,
        "mobile_reward_speedtests": speed,
        "mobile_reward_covered_hexes": hexes,
    }


_register(
    FileTypeSpec(
        name="mobile-rewards",
        bucket="helium-mainnet-mobile-verified",
        prefix="mobile_network_reward_shares_v1",
        msg=_MOBILE_MSG,
        tables=(
            "mobile_gateway_rewards",
            "mobile_subscriber_rewards",
            "mobile_service_provider_rewards",
            "mobile_unallocated_rewards",
            "mobile_promotion_rewards",
            "mobile_radio_rewards",
            "mobile_reward_trust_scores",
            "mobile_reward_speedtests",
            "mobile_reward_covered_hexes",
        ),
        project=_mobile_project,
    )
)

# ---------------------------------------------------------------------------
# 11. mobile_reward_manifest (mobile_rewards.rs:260-293)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="mobile-reward-manifest",
        bucket="helium-mainnet-mobile-verified",
        prefix="network_reward_manifest_v1",
        # Wire numbering provenance: public helium/proto
        # reward_manifest.proto — fields 4/5 are the oneof reward_data
        # arms (mobile/iot reward metadata) the reference never reads,
        # so epoch/price sit at 6/7; unknown-field skipping drops 4/5.
        msg=Msg(
            "RewardManifest",
            (
                Field(1, "written_files", "string", repeated=True),
                Field(2, "start_timestamp", "uint64"),
                Field(3, "end_timestamp", "uint64"),
                Field(6, "epoch", "uint64"),
                Field(7, "price", "uint64"),
            ),
        ),
        tables=("mobile_reward_manifest",),
        project=_single(
            "mobile_reward_manifest",
            lambda df: df.select(
                *_fs(
                    [
                        _ts("start_timestamp").alias("start_period"),
                        _ts("end_timestamp").alias("end_period"),
                        F.col("epoch"),
                        F.col("price"),
                        # S11: repeated filename strings -> JSON array
                        F.to_json("written_files").alias("written_files"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 12-13. radio usage stats v1/v2 (usage.rs:8-79, usage_v2.rs:8-90)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="radio-usage-stats",
        bucket="helium-mainnet-mobile-ingest",
        prefix="radio_usage_stats_ingest_report.",  # trailing '.' (usage.rs:8-12)
        # Field NAMES grounded in usage.rs:66-75 (hotspot_pubkey,
        # epoch_start/end_timestamp, carrier_transfer_info with an
        # ENUM carrier_id); wrapper follows the poc_mobile ingest
        # convention { received_timestamp = 1; report = 2 }.
        msg=Msg(
            "RadioUsageStatsIngestReportV1",
            (
                Field(1, "received_timestamp", "uint64"),
                Field(
                    2,
                    "report",
                    "message",
                    schema=Msg(
                        "RadioUsageStatsReqV1",
                        (
                            Field(1, "hotspot_pubkey", "bytes"),
                            Field(2, "epoch_start_timestamp", "uint64"),
                            Field(3, "epoch_end_timestamp", "uint64"),
                            Field(4, "service_provider_user_count", "uint64"),
                            Field(5, "disco_mapping_user_count", "uint64"),
                            Field(6, "offload_user_count", "uint64"),
                            Field(7, "service_provider_transfer_bytes", "uint64"),
                            Field(8, "offload_transfer_bytes", "uint64"),
                            Field(
                                9,
                                "carrier_transfer_info",
                                "message",
                                repeated=True,
                                schema=Msg(
                                    "CarrierTransferInfo",
                                    (
                                        Field(1, "carrier_id", "enum", enum_names=E_CARRIER),
                                        Field(2, "transfer_bytes", "uint32"),
                                        Field(3, "user_count", "uint32"),
                                    ),
                                ),
                            ),
                            Field(10, "timestamp", "uint64"),
                        ),
                    ),
                ),
            ),
        ),
        tables=("radio_usage_stats",),
        project=_single(
            "radio_usage_stats",
            lambda df: df.select(
                *_fs(
                    [
                        helium_pubkey_udf(F.col("report.hotspot_pubkey")).alias("hotspot_key"),
                        _ts(F.col("report.epoch_start_timestamp")).alias("start_period"),
                        _ts(F.col("report.epoch_end_timestamp")).alias("end_period"),
                        F.col("report.service_provider_user_count").alias(
                            "service_provider_user_count"
                        ),
                        F.col("report.disco_mapping_user_count").alias(
                            "disco_mapping_user_count"
                        ),
                        F.col("report.offload_user_count").alias("offload_user_count"),
                        F.col("report.service_provider_transfer_bytes").alias(
                            "service_provider_transfer_bytes"
                        ),
                        F.col("report.offload_transfer_bytes").alias(
                            "offload_transfer_bytes"
                        ),
                        _ts(F.col("report.timestamp")).alias("timestamp"),
                        _ts("received_timestamp").alias("received_timestamp"),
                        F.to_json(F.col("report.carrier_transfer_info")).alias(
                            "carrier_transfer"
                        ),
                    ]
                )
            ),
        ),
    )
)

_register(
    FileTypeSpec(
        name="radio-usage-stats-v2",
        bucket="helium-mainnet-mobile-ingest",
        prefix="radio_usage_stats_ingest_report_v2",
        # Field NAMES grounded in usage_v2.rs:40-107 (hotspot_pubkey,
        # epoch_*_timestamp_ms, timestamp_ms, received_timestamp_ms,
        # enum carrier_id, rewarded/unrewarded split in the carrier
        # info, bytes_transferred in the sampling info).
        msg=Msg(
            "RadioUsageStatsIngestReportV2",
            (
                Field(1, "received_timestamp_ms", "uint64"),
                Field(
                    2,
                    "report",
                    "message",
                    schema=Msg(
                        "RadioUsageStatsReqV2",
                        (
                            Field(1, "hotspot_pubkey", "bytes"),
                            Field(2, "epoch_start_timestamp_ms", "uint64"),
                            Field(3, "epoch_end_timestamp_ms", "uint64"),
                            Field(4, "carrier_pubkey", "bytes"),
                            Field(5, "user_count_total", "uint64"),
                            Field(6, "rewarded_bytes_transferred_total", "uint64"),
                            Field(7, "unrewarded_bytes_transferred_total", "uint64"),
                            Field(8, "sampling_user_count_total", "uint64"),
                            Field(9, "sampling_bytes_transferred_total", "uint64"),
                            Field(
                                10,
                                "carrier_transfer_info",
                                "message",
                                repeated=True,
                                schema=Msg(
                                    "CarrierTransferInfoV2",
                                    (
                                        Field(1, "carrier_id", "enum", enum_names=E_CARRIER),
                                        Field(2, "user_count", "uint64"),
                                        Field(3, "rewarded_bytes_transferred", "uint64"),
                                        Field(4, "unrewarded_bytes_transferred", "uint64"),
                                    ),
                                ),
                            ),
                            Field(
                                11,
                                "sampling_carrier_transfer_info",
                                "message",
                                repeated=True,
                                schema=Msg(
                                    "SamplingCarrierTransferInfo",
                                    (
                                        Field(1, "carrier_id", "enum", enum_names=E_CARRIER),
                                        Field(2, "user_count", "uint64"),
                                        Field(3, "bytes_transferred", "uint64"),
                                    ),
                                ),
                            ),
                            Field(12, "timestamp_ms", "uint64"),
                        ),
                    ),
                ),
            ),
        ),
        tables=("radio_usage_stats_v2",),
        project=_single(
            "radio_usage_stats_v2",
            lambda df: df.select(
                *_fs(
                    [
                        helium_pubkey_udf(F.col("report.hotspot_pubkey")).alias("hotspot_key"),
                        _ts(F.col("report.epoch_start_timestamp_ms")).alias("start_period"),
                        _ts(F.col("report.epoch_end_timestamp_ms")).alias("end_period"),
                        _ts(F.col("report.timestamp_ms")).alias("timestamp"),
                        _ts("received_timestamp_ms").alias("received_timestamp"),
                        helium_pubkey_udf(F.col("report.carrier_pubkey")).alias(
                            "carrier_pubkey"
                        ),
                        F.col("report.user_count_total").alias("user_count_total"),
                        F.col("report.rewarded_bytes_transferred_total").alias(
                            "rewarded_bytes_transferred_total"
                        ),
                        F.col("report.unrewarded_bytes_transferred_total").alias(
                            "unrewarded_bytes_transferred_total"
                        ),
                        F.col("report.sampling_user_count_total").alias(
                            "sampling_user_count_total"
                        ),
                        F.col("report.sampling_bytes_transferred_total").alias(
                            "sampling_bytes_transferred_total"
                        ),
                        F.to_json(F.col("report.carrier_transfer_info")).alias(
                            "carrier_transfer_info"
                        ),
                        F.to_json(F.col("report.sampling_carrier_transfer_info")).alias(
                            "sampling_carrier_transfer_info"
                        ),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 14-15. subscriber mapping activity (subscribers.rs:11-76)
# ---------------------------------------------------------------------------
# [recalled-medium] subscriber_mapping_activity_req_v1: the signed-req
# convention puts carrier_pub_key=5 and signature=6 (unread,
# undeclared); the later-added reward_override_entity_key lands at 7.
_SUB_REPORT = Msg(
    "SubscriberMappingActivity",
    (
        Field(1, "subscriber_id", "bytes"),
        Field(2, "discovery_reward_shares", "uint64"),
        Field(3, "verification_reward_shares", "uint64"),
        Field(4, "timestamp", "uint64"),
        Field(7, "reward_override_entity_key", "string"),
    ),
)


def _sub_common(prefix: str) -> list[Column]:
    return [
        uuid16(F.col(f"{prefix}.subscriber_id")).alias("subscriber_id"),
        F.col(f"{prefix}.discovery_reward_shares").alias("discovery_reward_shares"),
        F.col(f"{prefix}.verification_reward_shares").alias("verification_reward_shares"),
        _ts(F.col(f"{prefix}.timestamp")).alias("timestamp"),
        F.col(f"{prefix}.reward_override_entity_key").alias("reward_override_entity_key"),
    ]


_register(
    FileTypeSpec(
        name="subscriber-mapping-activity",
        bucket="helium-mainnet-mobile-ingest",
        prefix="subscriber_mapping_activity_ingest_report",
        msg=Msg(
            "SubscriberMappingActivityIngestReportV1",
            (
                Field(1, "received_timestamp", "uint64"),
                Field(2, "report", "message", schema=_SUB_REPORT),
            ),
        ),
        tables=("subscriber_mapping_activity_ingest",),
        project=_single(
            "subscriber_mapping_activity_ingest",
            lambda df: df.select(
                *_fs(
                    [
                        *_sub_common("report"),
                        _ts("received_timestamp").alias("received_timestamp"),
                    ]
                )
            ),
        ),
    )
)

_register(
    FileTypeSpec(
        name="verified-subscriber-mapping-activity",
        bucket="helium-mainnet-mobile-verified",
        prefix="verified_subscriber_mapping_activity_report",
        msg=Msg(
            "VerifiedSubscriberMappingActivityReportV1",
            (
                Field(
                    1,
                    "report",
                    "message",
                    schema=Msg(
                        "SubscriberMappingActivityIngestReportV1",
                        (
                            Field(1, "received_timestamp", "uint64"),
                            Field(2, "report", "message", schema=_SUB_REPORT),
                        ),
                    ),
                ),
                Field(2, "status", "enum", enum_names=E_SUB_STATUS),
                Field(3, "timestamp", "uint64"),
            ),
        ),
        tables=("verified_subscriber_mapping_activity",),
        project=_single(
            "verified_subscriber_mapping_activity",
            lambda df: df.select(
                *_fs(
                    [
                        *_sub_common("report.report"),
                        _ts(F.col("report.received_timestamp")).alias("received_timestamp"),
                        _ts("timestamp").alias("verification_timestamp"),
                        F.col("status"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 16. verified_cdr_verification (sp_banned_radio.rs:11-49)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="verified-sp-banned-radio",
        bucket="helium-mainnet-mobile-verified",
        prefix="verified_service_provider_boosted_rewards_banned_radio",
        msg=Msg(
            "VerifiedSpBoostedRewardsBannedRadioIngestReportV1",
            (
                Field(
                    1,
                    "report",
                    "message",
                    schema=Msg(
                        "SpBoostedRewardsBannedRadioIngestReportV1",
                        (
                            Field(
                                2,
                                "report",
                                "message",
                                # [recalled-medium] the req is signed
                                # like every ingest req — signature
                                # sits at 5 (unread, undeclared) and
                                # the later-added ban_type lands at 6.
                                schema=Msg(
                                    "SpBoostedRewardsBannedRadioReq",
                                    (
                                        # oneof key_type (S10; prost
                                        # KeyType::HotspotKey/CbsdId —
                                        # sp_banned_radio.rs:37-39)
                                        Field(1, "hotspot_key", "bytes"),
                                        Field(2, "cbsd_id", "string"),
                                        Field(3, "reason", "enum", enum_names=E_SP_BAN_REASON),
                                        Field(4, "until", "uint64"),
                                        Field(6, "ban_type", "enum", enum_names=E_BAN_TYPE),
                                    ),
                                ),
                            ),
                            Field(1, "received_timestamp", "uint64"),
                        ),
                    ),
                ),
                Field(2, "status", "enum", enum_names=E_STATUS),
                Field(3, "timestamp", "uint64"),
            ),
        ),
        tables=("verified_cdr_verification",),
        project=_single(
            "verified_cdr_verification",
            lambda df: df.select(
                *_fs(
                    [
                        # S10 oneof key dispatch
                        F.when(
                            F.length(F.col("report.report.hotspot_key")) > 0,
                            helium_pubkey_udf(F.col("report.report.hotspot_key")),
                        )
                        .otherwise(F.col("report.report.cbsd_id"))
                        .alias("hotspot_key"),
                        F.col("report.report.reason").alias("reason"),
                        _ts(F.col("report.report.until")).alias("until"),
                        F.col("report.report.ban_type").alias("ban_type"),
                        _ts(F.col("report.received_timestamp")).alias("received_timestamp"),
                        _ts("timestamp").alias("verified_timestamp"),
                        F.col("status"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 17-18. radio thresholds (radio_thresholds.rs:10-80)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="verified-radio-threshold",
        bucket="helium-mainnet-mobile-verified",
        prefix="verified_radio_threshold_report",
        msg=Msg(
            "VerifiedRadioThresholdIngestReportV1",
            (
                Field(
                    1,
                    "report",
                    "message",
                    schema=Msg(
                        "RadioThresholdIngestReportV1",
                        (
                            Field(
                                2,
                                "report",
                                "message",
                                # [transcribed] radio_threshold_req_v1
                                # 1-5; carrier_pub_key=6 / signature=7
                                # are unread by the reference and left
                                # undeclared.
                                schema=Msg(
                                    "RadioThresholdReq",
                                    (
                                        Field(1, "hotspot_pubkey", "bytes"),
                                        Field(2, "cbsd_id", "string"),
                                        Field(3, "bytes_threshold", "uint64"),
                                        Field(4, "subscriber_threshold", "uint32"),
                                        Field(5, "threshold_timestamp", "uint64"),
                                    ),
                                ),
                            ),
                            Field(1, "received_timestamp", "uint64"),
                        ),
                    ),
                ),
                Field(2, "status", "enum", enum_names=E_STATUS),
                Field(3, "timestamp", "uint64"),
            ),
        ),
        tables=("verified_radio_threshold",),
        project=_single(
            "verified_radio_threshold",
            lambda df: df.select(
                *_fs(
                    [
                        # S9 conditional key coalesce (radio_thresholds.rs:35-39)
                        F.when(
                            F.length(F.col("report.report.hotspot_pubkey")) > 0,
                            helium_pubkey_udf(F.col("report.report.hotspot_pubkey")),
                        )
                        .otherwise(F.col("report.report.cbsd_id"))
                        .alias("radio_key"),
                        F.col("report.report.bytes_threshold").alias("bytes_threshold"),
                        F.col("report.report.subscriber_threshold").cast("int").alias(
                            "subscriber_threshold"
                        ),
                        _ts(F.col("report.report.threshold_timestamp")).alias(
                            "threshold_timestamp"
                        ),
                        _ts(F.col("report.received_timestamp")).alias("received_timestamp"),
                        _ts("timestamp").alias("verified_timestamp"),
                        F.col("status"),
                    ]
                )
            ),
        ),
    )
)

_register(
    FileTypeSpec(
        name="verified-invalidated-radio-threshold",
        bucket="helium-mainnet-mobile-verified",
        prefix="verified_invalidated_radio_threshold_report",
        msg=Msg(
            "VerifiedInvalidatedRadioThresholdIngestReportV1",
            (
                Field(
                    1,
                    "report",
                    "message",
                    schema=Msg(
                        "InvalidatedRadioThresholdIngestReportV1",
                        (
                            Field(
                                2,
                                "report",
                                "message",
                                # [transcribed] invalidated_radio_
                                # threshold_req_v1 1-4; carrier_pub_key
                                # =5 / signature=6 unread, undeclared.
                                schema=Msg(
                                    "InvalidatedRadioThresholdReq",
                                    (
                                        Field(1, "hotspot_pubkey", "bytes"),
                                        Field(2, "cbsd_id", "string"),
                                        Field(3, "reason", "enum", enum_names=E_REASON),
                                        Field(4, "timestamp", "uint64"),
                                    ),
                                ),
                            ),
                            Field(1, "received_timestamp", "uint64"),
                        ),
                    ),
                ),
                Field(2, "status", "enum", enum_names=E_STATUS),
                Field(3, "timestamp", "uint64"),
            ),
        ),
        tables=("verified_invalidated_radio_threshold",),
        project=_single(
            "verified_invalidated_radio_threshold",
            lambda df: df.select(
                *_fs(
                    [
                        F.when(
                            F.length(F.col("report.report.hotspot_pubkey")) > 0,
                            helium_pubkey_udf(F.col("report.report.hotspot_pubkey")),
                        )
                        .otherwise(F.col("report.report.cbsd_id"))
                        .alias("radio_key"),
                        F.col("report.report.reason").alias("reason"),
                        _ts(F.col("report.report.timestamp")).alias("threshold_timestamp"),
                        _ts(F.col("report.received_timestamp")).alias("received_timestamp"),
                        _ts("timestamp").alias("verified_timestamp"),
                        F.col("status"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 19. verified_speedtest_report — the M1 minimum slice
# (verified_speedtest.rs:8-48)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="verified-speedtest",
        bucket="helium-mainnet-mobile-verified",
        prefix="verified_speedtest",
        # Wire numbering provenance: public helium/proto poc_mobile.proto.
        # The report is DOUBLE-nested on the real wire —
        # verified_speedtest.report is a speedtest_ingest_report_v1
        # { received_timestamp = 1; speedtest_req_v1 report = 2 } —
        # grounded in the reference's two-level unwrap
        # (verified_speedtest.rs:33-34: value.report ... ingest.report).
        msg=Msg(
            "VerifiedSpeedtest",
            (
                Field(
                    1,
                    "report",
                    "message",
                    schema=Msg(
                        "SpeedtestIngestReportV1",
                        (
                            Field(1, "received_timestamp", "uint64"),
                            Field(
                                2,
                                "report",
                                "message",
                                schema=Msg(
                                    "SpeedtestReqV1",
                                    (
                                        Field(1, "pub_key", "bytes"),
                                        Field(2, "serial", "string"),
                                        Field(3, "timestamp", "uint64"),
                                        Field(4, "upload_speed", "uint64"),
                                        Field(5, "download_speed", "uint64"),
                                        Field(6, "latency", "uint32"),
                                        Field(7, "signature", "bytes"),
                                    ),
                                ),
                            ),
                        ),
                    ),
                ),
                Field(2, "result", "enum", enum_names=E_RESULT),
                Field(3, "timestamp", "uint64"),
            ),
        ),
        tables=("verified_speedtest_report",),
        project=_single(
            "verified_speedtest_report",
            lambda df: df.select(
                *_fs(
                    [
                        helium_pubkey_udf(F.col("report.report.pub_key")).alias(
                            "hotspot_key"
                        ),
                        F.col("report.report.serial").alias("serial"),
                        _ts(F.col("report.report.timestamp")).alias("timestamp"),
                        F.col("report.report.upload_speed").alias("upload_speed"),
                        F.col("report.report.download_speed").alias("download_speed"),
                        F.col("report.report.latency").cast("int").alias("latency"),
                        _ts(F.col("report.received_timestamp")).alias(
                            "received_timestamp"
                        ),
                        _ts("timestamp").alias("verified_timestamp"),
                        F.col("result"),
                    ]
                )
            ),
        ),
    )
)

# ---------------------------------------------------------------------------
# 20. verified_unique_connections (unique_connections.rs:8-28)
# ---------------------------------------------------------------------------
_register(
    FileTypeSpec(
        name="verified-unique-connections",
        bucket="helium-mainnet-mobile-verified",
        prefix="verified_unique_connections_report",
        # Structure grounded in unique_connections.rs:31-44: DOUBLE
        # nesting (value.report = ingest { received_timestamp, report:
        # req }), the sent time is req.timestamp, and the verified
        # wrapper is { report = 1; status = 2; timestamp = 3 }.
        msg=Msg(
            "VerifiedUniqueConnectionsIngestReportV1",
            (
                Field(
                    1,
                    "report",
                    "message",
                    schema=Msg(
                        "UniqueConnectionsIngestReportV1",
                        (
                            Field(1, "received_timestamp", "uint64"),
                            Field(
                                2,
                                "report",
                                "message",
                                # [transcribed] unique_connections_
                                # req_v1 1-5 (note the field is
                                # literally ``pubkey``, not pub_key —
                                # unique_connections.rs:41);
                                # carrier_key=6 / signature=7 unread.
                                schema=Msg(
                                    "UniqueConnectionsReqV1",
                                    (
                                        Field(1, "pubkey", "bytes"),
                                        Field(2, "start_timestamp", "uint64"),
                                        Field(3, "end_timestamp", "uint64"),
                                        Field(4, "unique_connections", "uint64"),
                                        Field(5, "timestamp", "uint64"),
                                    ),
                                ),
                            ),
                        ),
                    ),
                ),
                Field(2, "status", "enum", enum_names=E_STATUS),
                Field(3, "timestamp", "uint64"),
            ),
        ),
        tables=("verified_unique_connections",),
        project=_single(
            "verified_unique_connections",
            lambda df: df.select(
                *_fs(
                    [
                        helium_pubkey_udf(F.col("report.report.pubkey")).alias(
                            "hotspot_key"
                        ),
                        _ts(F.col("report.report.start_timestamp")).alias(
                            "start_timestamp"
                        ),
                        _ts(F.col("report.report.end_timestamp")).alias("end_timestamp"),
                        F.col("report.report.unique_connections").alias(
                            "unique_connections"
                        ),
                        _ts(F.col("report.report.timestamp")).alias("sent_timestamp"),
                        _ts(F.col("report.received_timestamp")).alias(
                            "received_timestamp"
                        ),
                        _ts("timestamp").alias("verified_timestamp"),
                        F.col("status"),
                    ]
                )
            ),
        ),
    )
)


ALL_TABLES: tuple[str, ...] = tuple(
    t for spec in REGISTRY.values() for t in spec.tables
)
