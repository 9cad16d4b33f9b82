"""The paper's refresh cycle as a benchmark workload.

One pass is one refresh cycle: a generated JSON:API snapshot goes through
``etl.run`` (ingest → transform → upsert/publish) and then each of the
seven queries ``cli.main`` dispatches is answered the way the CLI answers
it: read the published table, build the query, ``show(100,
truncate=False)`` with stdout captured.

Correctness, outside the timed window: the published table must equal
the generator's last-write-wins state id by id, and every query's full
result (``collect``) must equal a DuckDB evaluation of the same parquet
version.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import random
import shutil
from datetime import datetime, timezone
from decimal import Decimal

import duckdb

import gen

QUERIES = ("top10_fastest", "route_breakdown", "summary_stats",
           "vehicles_by_bearing", "bearing_summary", "count_vehicles",
           "vehicle_speed")
BEARING_TARGET, BEARING_DELTA = 180.0, 45.0  # cli.main's defaults
SHOW_ROWS = 100  # cli.main's --limit default
TABLE_COLS = ("id", "label", "latitude", "longitude", "speed", "direction_id",
              "current_status", "occupancy_status", "bearing", "updated_at",
              "ingested_at")


class Pipeline:
    def __init__(self, seed: int, fleet: int, historic: int, work: str) -> None:
        self.seed = seed
        self.fleet_size = fleet
        self.historic = historic
        self.work = work
        self.rng = random.Random(seed + 1)
        # the historic rows are input, made once; publishing them is set-up
        self.historic_state = gen.ExpectedState()
        self.staging = None
        if historic:
            rows = gen.historic_rows(seed, historic)
            gen.expect_historic(self.historic_state, rows)
            self.staging = os.path.join(work, "historic.parquet")
            _write_parquet(rows, self.staging)

    def provenance(self) -> dict:
        # every poll reports the whole fleet: the batch is the fleet
        return {"fleet": self.fleet_size, "historic_ids": self.historic}

    # -- set-up -------------------------------------------------------------
    def warm(self, spark) -> None:
        """Publish the historic rows (if any) through the program's own
        upsert into a fresh table, then run one untimed refresh cycle."""
        from mbta_etl_spark.pipeline.load import upsert_parquet
        from mbta_etl_spark.pipeline.schema import VEHICLE_SCHEMA

        self.table = os.path.join(self.work, "vehicles")
        self.fleet = gen.Fleet(self.seed, self.fleet_size)
        self.expected = gen.ExpectedState()
        self.expected.rows.update(self.historic_state.rows)
        if self.staging:
            upsert_parquet(spark, spark.read.schema(VEHICLE_SCHEMA).parquet(self.staging),
                           self.table)
        self.run_pass(spark, self.next_input(), lambda name, fn: fn(), None)

    # -- one timed pass (a pass is a round here) -----------------------------
    round_size = 1
    # the minimum over two cycles of each operation stands clear of a
    # one-cycle stall
    min_rounds = 2

    def next_input(self) -> tuple[str, str]:
        """The next poll's payload and the id the speed query asks for."""
        body = self.fleet.poll()
        self.expected.apply(body)
        return body, self.rng.choice(self.fleet.vehicles)["id"]

    def run_pass(self, spark, inp, timed, tracer) -> None:
        """One refresh cycle; ``timed(name, fn)`` runs and times each op."""
        from mbta_etl_spark.pipeline import etl

        body, probe = inp
        rows_in = self.fleet_size
        n = timed("poll", lambda: etl.run(spark, self.table, body=body))
        if tracer is not None and tracer.enabled and n is not None:
            tracer.add("http_json.ingest_payload.rows", rows_in)
            tracer.add("transform.rows_in", rows_in)
            tracer.add("transform.rows_out", n)
            files = [f for f in os.listdir(os.path.realpath(self.table))
                     if f.endswith(".parquet")]
            tracer.add("load.files_written", len(files))
        for q in QUERIES:
            timed(q, lambda q=q: self._answer(spark, q, probe, tracer))

    def _answer(self, spark, q: str, probe: str, tracer) -> None:
        from mbta_etl_spark.pipeline import vehicle_queries as vq

        if tracer is None or not tracer.enabled:
            df = _query(vq, spark.read.parquet(self.table), q, probe)
            with contextlib.redirect_stdout(io.StringIO()):
                df.show(SHOW_ROWS, truncate=False)
            return
        from tracing import plan_ms

        with tracer.span("vehicle_queries.read_parquet"):
            vehicles = spark.read.parquet(self.table)
        with tracer.span(f"vehicle_queries.{q}.build"), tracer.group(f"vehicle_queries.{q}.build"):
            df = _query(vq, vehicles, q, probe)
        with tracer.span(f"vehicle_queries.{q}.exec"), tracer.group(f"vehicle_queries.{q}.exec"):
            tracer.add(f"vehicle_queries.{q}.plan_ms", plan_ms(df))
            with contextlib.redirect_stdout(io.StringIO()):
                df.show(SHOW_ROWS, truncate=False)

    # -- correctness ----------------------------------------------------------
    def check(self, spark) -> list[tuple[str, str | None]]:
        """``(check name, None or a mismatch description)`` per check."""
        from mbta_etl_spark.pipeline import vehicle_queries as vq

        version = os.path.realpath(self.table)
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute(f"CREATE VIEW v AS SELECT * FROM read_parquet('{version}/*.parquet')")
            results = [("table_state", self._check_table(con))]
            probe = self.rng.choice(self.fleet.vehicles)["id"]
            vehicles = spark.read.parquet(version)
            for q in QUERIES:
                got = [tuple(r) for r in _query(vq, vehicles, q, probe).collect()]
                want = con.execute(_ORACLE[q].format(id=probe.replace("'", "''"))).fetchall()
                results.append((f"query:{q}", _compare_rows(got, want)))
        finally:
            con.close()
        return results

    def _check_table(self, con) -> str | None:
        rows = con.execute(
            "SELECT id, label, latitude, longitude, speed, direction_id, "
            "current_status, occupancy_status, bearing, epoch_us(updated_at), "
            "epoch_us(ingested_at) FROM v").fetchall()
        want = self.expected.rows
        if len(rows) != len(want):
            return f"{len(rows)} rows published, {len(want)} expected"
        bad = []
        for r in rows:
            exp = want.get(r[0])
            if exp is None:
                bad.append(r[0])
                continue
            ts = r[10] if exp[8] is None else exp[8]  # fallback = ingest time
            if tuple(r[1:9]) != exp[:8] or r[9] != ts:
                bad.append(r[0])
        return f"{len(bad)} ids differ, e.g. {bad[:3]}" if bad else None


def _query(vq, vehicles, q: str, probe: str):
    if q == "vehicles_by_bearing":
        return vq.vehicles_by_bearing(vehicles, BEARING_TARGET, BEARING_DELTA)
    if q == "vehicle_speed":
        return vq.vehicle_speed(vehicles, probe)
    return getattr(vq, q)(vehicles)


def _write_parquet(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.timestamp("us", tz="UTC")
    schema = pa.schema([
        ("id", pa.string()), ("label", pa.string()), ("latitude", pa.float64()),
        ("longitude", pa.float64()), ("speed", pa.float64()),
        ("direction_id", pa.int32()), ("current_status", pa.string()),
        ("occupancy_status", pa.string()), ("bearing", pa.int32()),
        ("updated_at", ts), ("ingested_at", ts)])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _canon(v):
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    if isinstance(v, Decimal):
        return float(v)
    return v


def _same(a, b) -> bool:
    a, b = _canon(a), _canon(b)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # both engines round the 6-digit averages themselves; they may
        # disagree by one unit in the last place on a midpoint
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1.5e-6)
    return a == b


def _compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
            return f"row {i}: {g} != oracle {w}"
    return None


_CARDINAL = """CASE WHEN bearing >= 337.5 OR bearing < 22.5 THEN 'North'
  WHEN bearing >= 22.5 AND bearing < 67.5 THEN 'Northeast'
  WHEN bearing >= 67.5 AND bearing < 112.5 THEN 'East'
  WHEN bearing >= 112.5 AND bearing < 157.5 THEN 'Southeast'
  WHEN bearing >= 157.5 AND bearing < 202.5 THEN 'South'
  WHEN bearing >= 202.5 AND bearing < 247.5 THEN 'Southwest'
  WHEN bearing >= 247.5 AND bearing < 292.5 THEN 'West'
  WHEN bearing >= 292.5 AND bearing < 337.5 THEN 'Northwest'
  ELSE 'North' END"""

_ALL_COLS = ", ".join(TABLE_COLS)

# The seven queries written independently in DuckDB SQL from the
# reference semantics the vehicle_queries docstrings cite.
_ORACLE = {
    "top10_fastest": f"SELECT {_ALL_COLS} FROM v ORDER BY speed DESC, id LIMIT 10",
    "route_breakdown": """
        SELECT route_type, count(*) AS count, round(avg(speed), 6) AS avg_speed,
               max(speed) AS max_speed
        FROM (SELECT CASE WHEN starts_with(id, 'R-') THEN 'Red Line'
                          WHEN starts_with(id, 'O-') THEN 'Orange Line'
                          WHEN starts_with(id, 'G-') THEN 'Green Line'
                          WHEN starts_with(id, 'B-') THEN 'Blue Line'
                          WHEN starts_with(id, 'y') THEN 'Bus'
                          ELSE 'Other' END AS route_type, speed FROM v)
        GROUP BY route_type ORDER BY count DESC, route_type""",
    "summary_stats": """
        WITH s AS (SELECT list_sort(list(speed)) AS l, count(*) AS n
                   FROM v WHERE speed > 0)
        SELECT count(*), round(avg(speed), 6), max(speed), min(speed),
               count(*) FILTER (current_status = 'IN_TRANSIT_TO'),
               count(*) FILTER (current_status = 'STOPPED_AT'),
               count(*) FILTER (current_status = 'INCOMING_AT'),
               round(count(*) FILTER (occupancy_status = 'MANY_SEATS_AVAILABLE') * 100.0 / count(*), 6),
               round(count(*) FILTER (occupancy_status = 'FEW_SEATS_AVAILABLE') * 100.0 / count(*), 6),
               round(count(*) FILTER (occupancy_status = 'UNKNOWN') * 100.0 / count(*), 6),
               count(*) FILTER (direction_id = 0), count(*) FILTER (direction_id = 1),
               count(*) FILTER (speed > 0), count(*) FILTER (speed = 0),
               round(count(*) FILTER (speed > 0) * 100.0 / count(*), 6),
               any_value(s.l[s.n // 2 + 1]), any_value(s.l[s.n * 9 // 10 + 1]),
               any_value(s.l[s.n * 95 // 100 + 1])
        FROM v, s""",
    "vehicles_by_bearing": f"""SELECT {_ALL_COLS} FROM v
        WHERE bearing BETWEEN {BEARING_TARGET - BEARING_DELTA} AND {BEARING_TARGET + BEARING_DELTA}
        ORDER BY id""",
    "bearing_summary": f"""
        SELECT d.direction, coalesce(c.cnt, 0) AS cnt
        FROM (SELECT unnest(['North', 'Northeast', 'East', 'Southeast', 'South',
                             'Southwest', 'West', 'Northwest']) AS direction) d
        LEFT JOIN (SELECT {_CARDINAL} AS direction, count(*) AS cnt FROM v GROUP BY 1) c
        USING (direction) ORDER BY d.direction""",
    "count_vehicles": "SELECT count(*) FROM v",
    "vehicle_speed": "SELECT id, speed FROM v WHERE id = '{id}'",
}
