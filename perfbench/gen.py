"""Deterministic MBTA ``/vehicles`` snapshot generator for the benchmark.

``Fleet(seed, size)`` holds a fleet of vehicles.  Each ``poll()`` moves
them, replaces about 2 % of the ids (vehicles leaving and joining
service) and renders one JSON:API body in the raw nested shape the API
serves (``RAW_VEHICLE_SCHEMA``).  The declared shares of awkward rows are
the ones the transform has rules for:

- ``INVALID``: empty ``id`` or empty ``label`` (dropped by the transform);
- ``MALFORMED_TS``: an ``updated_at`` no parser accepts (falls back to the
  batch ingest time);
- ``NULL_SPEED`` / ``NULL_BEARING``: nulls defaulted to 0;
- ``EMPTY_STATUS``: empty ``current_status`` / ``occupancy_status``
  (normalised to ``UNKNOWN``).

``ExpectedState`` replays the transform's rules and last-write-wins upsert
in plain Python, so the published table can be checked against it row by
row.  ``historic_rows`` makes the large table a deep workload starts from.

The same seed gives byte-identical payloads: every random draw comes from
one ``random.Random(seed)`` in a fixed order, and the JSON is rendered with
a fixed key order.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta, timezone

CHURN = 0.02
INVALID = 0.01
MALFORMED_TS = 0.01
NULL_SPEED = 0.20
NULL_BEARING = 0.20
EMPTY_STATUS = 0.10

# (id prefix, share): every arm of the route classifier, its dead 'ynk'
# arm and the 'Other' fallback (plain numeric commuter-rail ids)
ROUTE_MIX = (("y", 0.55), ("ynk", 0.05), ("G-", 0.12), ("R-", 0.08),
             ("O-", 0.08), ("B-", 0.04), ("", 0.08))
STATUSES = ("IN_TRANSIT_TO", "STOPPED_AT", "INCOMING_AT")
OCCUPANCIES = ("MANY_SEATS_AVAILABLE", "FEW_SEATS_AVAILABLE", "FULL",
               "CRUSHED_STANDING_ROOM_ONLY")
MALFORMED = ("not-a-time", "", "2026-01-05T25:61:00-05:00")
EPOCH = datetime(2026, 1, 5, 8, 0, tzinfo=timezone(timedelta(hours=-5)))
POLL_EVERY = timedelta(seconds=10)
# historic rows were ingested before any poll: a poll always wins the merge
HISTORIC_AT = datetime(2025, 12, 31, tzinfo=timezone.utc)


def _pick(rng: random.Random, mix) -> str:
    x = rng.random()
    for value, share in mix:
        x -= share
        if x < 0:
            return value
    return mix[-1][0]


class Fleet:
    """A seeded fleet of ``size`` vehicles re-reported on every poll."""

    def __init__(self, seed: int, size: int, id_tag: str = "") -> None:
        self.rng = random.Random(seed)
        self.id_tag = id_tag
        self.next_id = 0
        self.polls = 0
        self.vehicles = [self._new_vehicle() for _ in range(size)]

    def _new_vehicle(self) -> dict:
        rng = self.rng
        vid = f"{_pick(rng, ROUTE_MIX)}{self.id_tag}{self.next_id:06d}"
        self.next_id += 1
        return {
            "id": vid,
            "label": str(rng.randrange(1000, 9999)),
            "lat": 42.20 + rng.random() * 0.25,
            "lon": -71.20 + rng.random() * 0.25,
            "direction_id": rng.randrange(2),
        }

    def poll(self) -> str:
        """Advance one poll and return its JSON:API body."""
        rng = self.rng
        for i in range(len(self.vehicles)):
            if rng.random() < CHURN:
                self.vehicles[i] = self._new_vehicle()
        stamp = EPOCH + self.polls * POLL_EVERY
        self.polls += 1
        return json.dumps({"data": [self._row(v, stamp) for v in self.vehicles]})

    def _row(self, v: dict, stamp: datetime) -> dict:
        rng = self.rng
        v["lat"] += rng.uniform(-0.002, 0.002)
        v["lon"] += rng.uniform(-0.002, 0.002)
        moving = rng.random() < 0.75
        speed = round(rng.uniform(0.5, 30.0), 1) if moving else 0.0
        bearing = 360 if rng.random() < 0.002 else rng.randrange(360)
        seen = stamp - timedelta(seconds=rng.randrange(60))
        attrs = {
            "updated_at": seen.isoformat(),
            "speed": None if rng.random() < NULL_SPEED else speed,
            "revenue_status": "REVENUE",
            "occupancy_status": "" if rng.random() < EMPTY_STATUS
            else rng.choice(OCCUPANCIES),
            "longitude": round(v["lon"], 6),
            "latitude": round(v["lat"], 6),
            "label": v["label"],
            "direction_id": v["direction_id"],
            "current_stop_sequence": rng.randrange(1, 40),
            "current_status": "" if rng.random() < EMPTY_STATUS
            else rng.choice(STATUSES),
            "bearing": None if rng.random() < NULL_BEARING else bearing,
        }
        if rng.random() < MALFORMED_TS:
            attrs["updated_at"] = rng.choice(MALFORMED)
        vid = v["id"]
        if rng.random() < INVALID:
            if rng.random() < 0.5:
                vid = ""
            else:
                attrs["label"] = ""
        return {"id": vid, "type": "vehicle", "attributes": attrs}


def epoch_us(ts: datetime) -> int:
    delta = ts - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


def parse_updated_at(s: str | None) -> int | None:
    """RFC3339 with offset → epoch microseconds; None where the transform
    falls back to the ingest time."""
    if not s or "T" not in s:
        return None
    try:
        ts = datetime.fromisoformat(s)
    except ValueError:
        return None
    return epoch_us(ts) if ts.tzinfo is not None else None


def _status(s: str | None) -> str:
    return s if s else "UNKNOWN"


class ExpectedState:
    """Last-write-wins table the transform + upsert should publish.

    ``rows[id]`` is the tuple ``(label, latitude, longitude, speed,
    direction_id, current_status, occupancy_status, bearing, updated_at)``
    with ``updated_at`` in epoch microseconds, or None where the row must
    carry its batch ingest time instead.  ``rejected`` counts the rows the
    validity filter drops.
    """

    def __init__(self) -> None:
        self.rows: dict[str, tuple] = {}
        self.rejected = 0

    def apply(self, body: str) -> None:
        for r in json.loads(body)["data"]:
            a = r["attributes"]
            if not r["id"] or not a["label"]:
                self.rejected += 1
                continue
            self.rows[r["id"]] = (
                a["label"], a["latitude"], a["longitude"],
                0.0 if a["speed"] is None else a["speed"],
                a["direction_id"],
                _status(a["current_status"]), _status(a["occupancy_status"]),
                0 if a["bearing"] is None else a["bearing"],
                parse_updated_at(a["updated_at"]),
            )


def historic_rows(seed: int, n: int) -> list[dict]:
    """``n`` already-normalised rows (the table's flat schema) for ids no
    live fleet uses, as the state left behind by earlier polls."""
    fleet = Fleet(seed, 0, id_tag="h")
    rng = fleet.rng
    out = []
    for _ in range(n):
        v = fleet._new_vehicle()
        seen = HISTORIC_AT - timedelta(seconds=rng.randrange(86_400))
        out.append({
            "id": v["id"],
            "label": v["label"],
            "latitude": round(v["lat"], 6),
            "longitude": round(v["lon"], 6),
            "speed": 0.0 if rng.random() < 0.3 else round(rng.uniform(0.5, 30.0), 1),
            "direction_id": v["direction_id"],
            "current_status": rng.choice(STATUSES + ("UNKNOWN",)),
            "occupancy_status": rng.choice(OCCUPANCIES + ("UNKNOWN",)),
            "bearing": rng.randrange(361),
            "updated_at": seen,
            "ingested_at": HISTORIC_AT,
        })
    return out


def expect_historic(state: ExpectedState, rows: list[dict]) -> None:
    for r in rows:
        state.rows[r["id"]] = (
            r["label"], r["latitude"], r["longitude"], r["speed"],
            r["direction_id"], r["current_status"], r["occupancy_status"],
            r["bearing"], epoch_us(r["updated_at"]),
        )
