"""Deterministic ingest fixtures — synthetic device-message envelopes.

Builds the three message classes exactly as they arrive in the reference
pipeline (FIXTURES.md §1-3; reference: hello.py:64-133):

- SOH: ``data`` = base64(SOH JSON)            (single-encoded)
- sensor: ``data`` = base64(base64($PIMD8/9)) (double-encoded)
- unknown: ``data`` = base64(base64($GPGGA))  (double-encoded, other)

Used by unit/E2E tests and the streaming demo; NOT by driver correctness
queries (those derive inputs from the driver's own tables).
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame, SparkSession

from ..schemas import ENVELOPE_SCHEMA


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def soh_data(i: int, *, lt: float = 47.6, ln: float = -122.3, sv: float = 18.0,
             bv: float = 4.2, d: int = 1700000000) -> str:
    payload = {
        "ln": ln, "lt": lt, "si": 0.5 + i * 0.01, "bi": 0.2, "sv": sv,
        "bv": bv, "d": d + i * 3600, "n": i, "a": 120.0 + i, "s": 3.5,
        "c": 180.0, "r": -70, "ti": 0.1,
    }
    return _b64(json.dumps(payload))


def pimd8_sentence(ns: str = "N", ew: str = "W") -> str:
    # index:  0      1  2  3    4    5      6     7      8    ...
    return f"$PIMD8,01,02,ab,cd,47.60,{ns},122.33,{ew},5.5,end"


def envelope_rows(n_soh: int = 6, n_sensor: int = 5, n_unknown: int = 2) -> list[dict]:
    rows: list[dict] = []
    rid = 0

    def env(data: str, dev: int) -> dict:
        nonlocal rid
        rid += 1
        return {
            "recordId": f"rec-{rid:04d}",
            "packetId": 1000 + rid,
            "deviceType": 1,
            "deviceId": 100 + dev,
            "userApplicationId": 7,
            "organizationId": 42,
            "len": 64,
            "status": 0,
            "hiveRxTime": f"2023-11-14 22:{rid:02d}:00",
            "data": data,
        }

    for i in range(n_soh):
        sv = 10.0 if i % 3 == 0 else 18.0      # some trip the low-solar alert
        bv = 3.5 if i % 4 == 0 else 4.2        # some trip the low-battery alert
        rows.append(env(soh_data(i, sv=sv, bv=bv, lt=40.0 + i, ln=-120.0 + 2 * i), i % 3))
    hemis = [("N", "E"), ("N", "W"), ("S", "E"), ("S", "W")]
    for i in range(n_sensor):
        if i == 4:
            sent = "$PIMD9,status,ok"          # sensor class, no position
        else:
            ns, ew = hemis[i % 4]
            sent = pimd8_sentence(ns, ew)
        rows.append(env(_b64(_b64(sent)), i % 3))
    for i in range(n_unknown):
        rows.append(env(_b64(_b64("$GPGGA,123519,4807.038,N")), i % 3))
    return rows


def envelope_df(spark: SparkSession, **kwargs) -> DataFrame:
    return spark.createDataFrame(envelope_rows(**kwargs), ENVELOPE_SCHEMA)
