"""Seeded ingest load generator.

Builds JSON-line envelope files before any timing starts and records a
ledger of what it generated, so the benchmark can check the pipeline's
sinks against it.  The class mix is 90% SOH (1% of those with a
malformed payload), 8% sensor and 2% unknown; records spread over 40
event days and 500 devices; every 13th valid SOH record has a low solar
voltage and every 17th a low battery voltage, so each such record is
one planted threshold alert.

``Lander`` moves prebuilt files into the landing directory by atomic
rename on a fixed schedule (an open loop), so the file source never
sees a half-written file, and records how late each rename ran.
"""

from __future__ import annotations

import base64
import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

EVENT_DAYS = 40
DEVICES = 500
FIRST_EVENT_S = 1_700_006_400  # 2023-11-15 00:00:00 UTC
CLASSES = ("soh", "sensor", "unknown")


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


@dataclass
class Ledger:
    """What the generator produced: per-class counts and planted alerts."""

    generated: dict[str, int] = field(default_factory=lambda: dict.fromkeys(CLASSES, 0))
    valid_soh: int = 0
    malformed_soh: int = 0
    alerts: int = 0
    records: int = 0
    input_bytes: int = 0

    def add(self, other: "Ledger") -> "Ledger":
        out = Ledger()
        for c in CLASSES:
            out.generated[c] = self.generated[c] + other.generated[c]
        for name in ("valid_soh", "malformed_soh", "alerts", "records", "input_bytes"):
            setattr(out, name, getattr(self, name) + getattr(other, name))
        return out


class EnvelopeGen:
    """Deterministic envelope stream: the same seed gives the same records."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.seq = 0
        self.soh_seq = 0

    def _soh_payload(self, ledger: Ledger) -> str:
        rng = self.rng
        if rng.random() < 0.01:
            ledger.malformed_soh += 1
            if rng.random() < 0.5:
                return _b64('{"ln": 12.5, "lt": ')  # truncated JSON
            return _b64(json.dumps({"ln": 1.0, "lt": 2.0, "sv": 18.0}))  # no epoch
        i = self.soh_seq
        self.soh_seq += 1
        low_solar, low_batt = i % 13 == 0, i % 17 == 0
        ledger.valid_soh += 1
        ledger.alerts += low_solar or low_batt
        payload = {
            "ln": round(rng.uniform(-179.9, 179.9), 4),
            "lt": round(rng.uniform(-89.9, 89.9), 4),
            "si": round(rng.uniform(0.0, 2.0), 3),
            "bi": round(rng.uniform(0.0, 1.0), 3),
            "sv": 10.0 if low_solar else round(rng.uniform(14.0, 20.0), 2),
            "bv": 3.5 if low_batt else round(rng.uniform(4.1, 4.4), 2),
            "d": FIRST_EVENT_S + rng.randrange(EVENT_DAYS * 86_400),
            "n": rng.randrange(10_000),
            "a": round(rng.uniform(0.0, 500.0), 1),
            "s": round(rng.uniform(0.0, 20.0), 2),
            "c": round(rng.uniform(0.0, 360.0), 1),
            "r": -rng.randrange(40, 110),
            "ti": round(rng.uniform(0.0, 0.5), 3),
        }
        return _b64(json.dumps(payload))

    def _sensor_payload(self) -> str:
        rng = self.rng
        if rng.random() < 0.2:
            return _b64(_b64("$PIMD9,status,ok"))
        lat = f"{rng.uniform(0.0, 89.9):.2f}"
        lon = f"{rng.uniform(0.0, 179.9):.2f}"
        ns, ew = rng.choice("NS"), rng.choice("EW")
        return _b64(_b64(f"$PIMD8,01,02,ab,cd,{lat},{ns},{lon},{ew},5.5,end"))

    def lines(self, n: int, ledger: Ledger) -> list[str]:
        out = []
        rng = self.rng
        for _ in range(n):
            self.seq += 1
            r = rng.random()
            if r < 0.90:
                cls, data = "soh", self._soh_payload(ledger)
            elif r < 0.98:
                cls, data = "sensor", self._sensor_payload()
            else:
                cls, data = "unknown", _b64(_b64("$GPGGA,123519,4807.038,N"))
            ledger.generated[cls] += 1
            ledger.records += 1
            out.append(json.dumps({
                "recordId": f"rec-{self.seq:09d}",
                "packetId": 1_000_000 + self.seq,
                "deviceType": 1,
                "deviceId": 100 + rng.randrange(DEVICES),
                "userApplicationId": 7,
                "organizationId": 42,
                "len": 64,
                "status": 0,
                "hiveRxTime": "2023-11-14 22:00:00",
                "data": data,
            }))
        return out

    def write_files(self, out_dir: str, prefix: str, n_files: int,
                    per_file: int) -> tuple[list[str], Ledger]:
        """Write ``n_files`` files of ``per_file`` envelopes into ``out_dir``."""
        os.makedirs(out_dir, exist_ok=True)
        ledger = Ledger()
        paths = []
        for i in range(n_files):
            path = os.path.join(out_dir, f"{prefix}-{i:05d}.json")
            body = "\n".join(self.lines(per_file, ledger)) + "\n"
            with open(path, "w") as fh:
                fh.write(body)
            ledger.input_bytes += len(body)
            paths.append(path)
        return paths, ledger


def land_all(paths: list[str], landing: str) -> None:
    """Move prebuilt files into ``landing`` at once (a backlog)."""
    for p in paths:
        os.rename(p, os.path.join(landing, os.path.basename(p)))


class Lander(threading.Thread):
    """Open-loop lander: file ``i`` is due at ``start + i * interval_s``.

    Each file is renamed into ``landing`` at its due time whatever the
    pipeline is doing.  ``due[name]`` is the wall-clock due time and
    ``late[name]`` how far after it the rename happened."""

    def __init__(self, paths: list[str], landing: str, interval_s: float,
                 start: float) -> None:
        super().__init__(name="lander", daemon=True)
        self.paths = paths
        self.landing = landing
        self.interval_s = interval_s
        self.start_at = start
        self.due: dict[str, float] = {}
        self.late: dict[str, float] = {}

    def run(self) -> None:
        for i, p in enumerate(self.paths):
            due = self.start_at + i * self.interval_s
            time.sleep(max(0.0, due - time.time()))
            name = os.path.basename(p)
            os.rename(p, os.path.join(self.landing, name))
            self.late[name] = time.time() - due
            self.due[name] = due
