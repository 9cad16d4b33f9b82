"""Tests of the benchmark's snapshot generator.

    python -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402


def _rows(seed: int, size: int, polls: int) -> list[dict]:
    fleet = gen.Fleet(seed, size)
    return [r for _ in range(polls) for r in json.loads(fleet.poll())["data"]]


def test_same_seed_gives_identical_payloads():
    a, b, c = gen.Fleet(7, 300), gen.Fleet(7, 300), gen.Fleet(8, 300)
    for _ in range(3):
        pa, pb, pc = a.poll(), b.poll(), c.poll()
        assert pa.encode() == pb.encode()
        assert pa != pc
    assert gen.historic_rows(7, 50) == gen.historic_rows(7, 50)


def test_declared_shares_hold():
    rows = _rows(3, 500, 40)  # 20 000 rows
    n = len(rows)

    def share(pred):
        return sum(1 for r in rows if pred(r)) / n

    attrs = lambda r: r["attributes"]  # noqa: E731
    assert share(lambda r: not r["id"] or not attrs(r)["label"]) == pytest.approx(gen.INVALID, abs=0.003)
    assert share(lambda r: gen.parse_updated_at(attrs(r)["updated_at"]) is None) == pytest.approx(
        gen.MALFORMED_TS, abs=0.003)
    assert share(lambda r: attrs(r)["speed"] is None) == pytest.approx(gen.NULL_SPEED, abs=0.015)
    assert share(lambda r: attrs(r)["bearing"] is None) == pytest.approx(gen.NULL_BEARING, abs=0.015)
    assert share(lambda r: attrs(r)["current_status"] == "") == pytest.approx(
        gen.EMPTY_STATUS, abs=0.01)
    ids = [r["id"] for r in rows[:500] if r["id"]]
    assert len(ids) == len(set(ids)), "ids repeat within one snapshot"


def test_churn_share():
    fleet = gen.Fleet(5, 2000)
    before = {v["id"] for v in fleet.vehicles}
    fleet.poll()
    replaced = len(before - {v["id"] for v in fleet.vehicles}) / 2000
    assert replaced == pytest.approx(gen.CHURN, abs=0.01)


def test_expected_state_agrees_with_etl_run(tmp_path):
    from pyspark.sql import functions as F

    from mbta_etl_spark.pipeline import etl
    from mbta_etl_spark.session import get_spark

    spark = get_spark("perfbench-test-gen")
    try:
        fleet, expected = gen.Fleet(11, 200), gen.ExpectedState()
        table = str(tmp_path / "vehicles")
        for _ in range(4):
            body = fleet.poll()
            expected.apply(body)
            etl.run(spark, table, body=body)
        got = spark.read.parquet(table).select(
            "id", "label", "latitude", "longitude", "speed", "direction_id",
            "current_status", "occupancy_status", "bearing",
            F.unix_micros("updated_at"), F.unix_micros("ingested_at")).collect()
    finally:
        spark.stop()
    assert expected.rejected > 0
    assert any(v[8] is None for v in expected.rows.values()), "no fallback row"
    assert len(got) == len(expected.rows)
    for r in got:
        want = expected.rows[r[0]]
        assert tuple(r[1:9]) == want[:8]
        assert r[9] == (r[10] if want[8] is None else want[8])
