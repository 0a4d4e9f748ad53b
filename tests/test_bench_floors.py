"""The two-run floor-confirmation state machine (VERDICT r5 wrong #4):
deep new bests park in pending_floors_sec and commit only on a second
quiet deep read — at the SLOWER of the two; loaded runs do not destroy
pendings; contrary quiet evidence does."""

import importlib.util
import json
import os

import pytest


@pytest.fixture()
def benchmod(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    p = tmp_path / "floors.json"
    p.write_text(json.dumps({"config": {}, "floors_sec": {"leg": 20.0}}))
    monkeypatch.setattr(mod, "_FLOORS_PATH", str(p))
    return mod, p


def _state(p):
    d = json.loads(p.read_text())
    return d["floors_sec"], d.get("pending_floors_sec", {})


def test_small_ratchet_commits_immediately(benchmod):
    mod, p = benchmod
    mod._update_floors({"leg": 18.0})  # 0.9x — normal ratchet
    fl, pend = _state(p)
    assert fl["leg"] == 18.0 and pend == {}


def test_deep_jump_parks_then_confirms_at_slower_read(benchmod):
    mod, p = benchmod
    mod._update_floors({"leg": 12.0})  # 0.6x — parked
    fl, pend = _state(p)
    assert fl["leg"] == 20.0 and pend == {"leg": 12.0}
    mod._update_floors({"leg": 13.0})  # second quiet deep read
    fl, pend = _state(p)
    assert fl["leg"] == 13.0 and pend == {}  # SLOWER of the two commits


def test_pending_survives_loaded_runs(benchmod):
    mod, p = benchmod
    mod._update_floors({"leg": 12.0})
    mod._update_floors({})  # fully loaded run: no updates, no quiet reads
    mod._update_floors({}, quiet_best={})  # same, explicit
    fl, pend = _state(p)
    assert fl["leg"] == 20.0 and pend == {"leg": 12.0}
    mod._update_floors({"leg": 12.5})  # eventual confirmation still lands
    fl, pend = _state(p)
    assert fl["leg"] == 12.5 and pend == {}


def test_contrary_quiet_evidence_discards_pending(benchmod):
    mod, p = benchmod
    mod._update_floors({"leg": 12.0})
    # a quiet read far off the pending regime (> pending x tolerance)
    mod._update_floors({}, quiet_best={"leg": 19.5})
    fl, pend = _state(p)
    assert fl["leg"] == 20.0 and pend == {}


def test_new_leg_first_record_commits(benchmod):
    mod, p = benchmod
    mod._update_floors({"newleg": 7.0})
    fl, pend = _state(p)
    assert fl["newleg"] == 7.0 and pend == {}


def test_normal_ratchet_keeps_consistent_pending(benchmod):
    """A normal ratchet inside pending × tolerance is not contrary
    evidence: the pending survives and a later deep read confirms it
    (the synth_hits10 4.96 record was once lost to an unconditional pop)."""
    mod, p = benchmod
    mod._FLOOR_TOL = 1.25
    mod._update_floors({"leg": 15.0})  # 0.75x — parked
    mod._update_floors({"leg": 18.0})  # normal ratchet, 18 <= 15 x 1.25
    fl, pend = _state(p)
    assert fl["leg"] == 18.0 and pend == {"leg": 15.0}
    mod._update_floors({"leg": 14.0})  # second deep read confirms
    fl, pend = _state(p)
    assert fl["leg"] == 15.0 and pend == {}


def test_normal_ratchet_far_off_pending_discards_it(benchmod):
    mod, p = benchmod
    mod._FLOOR_TOL = 1.25
    mod._update_floors({"leg": 12.0})  # parked
    mod._update_floors({"leg": 17.5})  # 17.5 > 12 x 1.25: contrary
    fl, pend = _state(p)
    assert fl["leg"] == 17.5 and pend == {}


def test_headline_stays_within_4kb(benchmod):
    """split_result moves the largest oversize keys to the detail and
    names them in the headline; a small headline is left whole."""
    mod, _ = benchmod
    small = {"metric": "m", "value": 1.0, "unit": "sec", "queries": {"a": 1.0}}
    head, detail = mod.split_result(dict(small))
    assert head == small and detail == {}
    big = dict(
        small,
        queries={f"leg_{i}": float(i) for i in range(400)},
        gteps_synth={f"k{i}": 0.1 for i in range(200)},
        sf=0.1,
        lp_supersteps=[1, 2, 3],
    )
    head, detail = mod.split_result(big)
    assert len(json.dumps(head)) <= 4096
    assert head["moved_to_detail"] == ["queries"]
    assert detail["queries"] == {f"leg_{i}": float(i) for i in range(400)}
    assert detail["lp_supersteps"] == [1, 2, 3]
    assert head["gteps_synth"] == {f"k{i}": 0.1 for i in range(200)}
    assert (head["metric"], head["value"], head["sf"]) == ("m", 1.0, 0.1)
