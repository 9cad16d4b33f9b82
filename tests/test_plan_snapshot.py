"""The plan-snapshot refresh gate: ``scripts/plan_snapshot.refresh``
rewrites the snapshot only when every entry whose fingerprint changed,
or that is new, passes its oracle check. Spark-free: the oracle check is
a stub."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "plan_snapshot",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_snapshot.py"),
)
plan_snapshot = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_snapshot)

OLD = {"a_same": {"Exchange": 1}, "b_changed": {"Exchange": 2}}
NEW = {
    "a_same": {"Exchange": 1},
    "b_changed": {"Exchange": 3},
    "c_new": {"Exchange": 0},
}


def _snapshot(tmp_path):
    path = tmp_path / "plans_snapshot.json"
    path.write_text(json.dumps(OLD, indent=1, sort_keys=True) + "\n")
    return path


def _stub(ok: bool, checked: list[str]):
    def check(name: str) -> dict:
        checked.append(name)
        return {"name": name, "ok": ok}

    return check


def test_refresh_refuses_to_write_on_oracle_mismatch(tmp_path):
    path = _snapshot(tmp_path)
    before = path.read_bytes()
    checked: list[str] = []
    assert plan_snapshot.refresh(NEW, _stub(False, checked), str(path)) == 1
    assert checked == ["b_changed", "c_new"]
    assert path.read_bytes() == before


def test_refresh_writes_when_oracle_checks_pass(tmp_path):
    path = _snapshot(tmp_path)
    checked: list[str] = []
    assert plan_snapshot.refresh(NEW, _stub(True, checked), str(path)) == 0
    assert checked == ["b_changed", "c_new"]
    assert path.read_text() == json.dumps(NEW, indent=1, sort_keys=True) + "\n"


def test_refresh_with_no_changed_fingerprint_checks_nothing(tmp_path):
    path = _snapshot(tmp_path)
    before = path.read_bytes()
    checked: list[str] = []
    assert plan_snapshot.refresh(OLD, _stub(False, checked), str(path)) == 0
    assert checked == []
    assert path.read_bytes() == before
