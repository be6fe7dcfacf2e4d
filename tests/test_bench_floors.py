"""bench.py floor-file keying (ADVICE r4): floors are provenance for
the adaptive noise retry, and they must be scoped to the exact bench
config — one run at a smaller scale must neither ratchet the default
config's floors down (min) nor be judged suspect against them. Also
the quiet gate in front of timed attempts: its waits share one budget
and each one is stamped in the noise audit.

Pure-Python: no Spark session involved.
"""

from __future__ import annotations

import importlib.util
import itertools
import json
import os
import sys
from pathlib import Path


def _load_bench(tmp_path, floors_content=None, seed_content=None):
    spec = importlib.util.spec_from_file_location(
        "bench_mod", Path(__file__).resolve().parents[1] / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod"] = mod
    spec.loader.exec_module(mod)
    mod._FLOORS_PATH = str(tmp_path / "floors.json")
    mod._SEED_FLOORS_PATH = str(tmp_path / "seed.json")
    if floors_content is not None:
        (tmp_path / "floors.json").write_text(json.dumps(floors_content))
    if seed_content is not None:
        (tmp_path / "seed.json").write_text(json.dumps(seed_content))
    return mod


def test_cfg_key_distinguishes_scales(tmp_path):
    b = _load_bench(tmp_path)
    k1 = b._cfg_key("/root/testdata/sf0.1", 32, 20000, 16)
    k2 = b._cfg_key("/root/testdata/sf0.01", 32, 20000, 16)
    k3 = b._cfg_key("/root/testdata/sf0.1", 8, 20000, 16)
    assert len({k1, k2, k3}) == 3
    assert k1 == b._LEGACY_CFG  # default config maps onto the legacy key


def test_off_config_run_does_not_ratchet_default_floors(tmp_path):
    b = _load_bench(tmp_path, floors_content={
        "per_query_floor": {"q": 10.0}})  # legacy (pre-keying) file
    small = b._cfg_key("/root/testdata/sf0.001", 8, 100, 16)
    # a tiny-scale run sees NO floors (so nothing is flagged suspect
    # against the big config's numbers)...
    assert b._load_floors(small) == {}
    b._save_floors(small, {"q": 0.2})
    # ...and its save lands under its own key while the legacy floors
    # migrate intact to the default config's key
    assert b._load_floors(small) == {"q": 0.2}
    assert b._load_floors(b._LEGACY_CFG) == {"q": 10.0}


def test_seed_file_only_feeds_the_default_config(tmp_path):
    b = _load_bench(tmp_path, seed_content={"per_query_floor": {"q": 3.0}})
    assert b._load_floors(b._LEGACY_CFG) == {"q": 3.0}
    assert b._load_floors("sf9_c2_d5_cap16") == {}


def test_headline_line_is_driver_parseable():
    """The r4 round defect: the final stdout line grew past the
    driver's bounded tail capture and BENCH_r04 came back parsed:null.
    Pin the contract: compact (<2000 chars even with a full 20-query
    map), valid JSON, and carries every key the driver and the
    round-over-round comparison read."""
    import json

    import bench as b

    timings = {f"query_{i:02d}": 1.234 for i in range(20)}
    r = {"timings": timings, "shuffle_partitions": 16,
         "corpus_docs_per_sec": 6104.0, "flagship_docs_per_sec": 1842.0}
    line = b.headline_line(r, 0.1, 32, round(sum(timings.values()), 3),
                           ["query_03"])
    assert "\n" not in line
    assert len(line) < 2000
    d = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "overlap16_total",
                "sf", "cores", "extract_docs_per_sec",
                "flagship_docs_per_sec", "noise_suspect_queries"):
        assert key in d, key
    assert d["metric"] == "headline_total"
    assert d["queries"] == timings


class _FakeClock:
    """Stands in for bench_probe's `time`: sleep advances a virtual clock."""

    def __init__(self):
        self.now = 0.0

    def monotonic(self):
        return self.now

    def sleep(self, s):
        self.now += s


def _gated_best_of(tmp_path, monkeypatch, loads):
    from ocr_service_spark import bench_probe

    b = _load_bench(tmp_path)
    clock = _FakeClock()
    monkeypatch.setattr(bench_probe, "time", clock)
    monkeypatch.setattr(bench_probe, "loadavg1", lambda: next(loads))
    gate = b.QuietGate(budget_s=60.0)
    # a floor no attempt can meet: every base rep is followed by retries
    _, n, entry = b.best_of(lambda: 7, 1e-9, gate, reps=2,
                            gate_first=True, max_attempts=4)
    return gate, clock, n, entry


def test_quiet_gate_stamps_waits_and_timeouts_in_one_budget(tmp_path, monkeypatch):
    busy = itertools.repeat(10.0 * os.cpu_count())
    gate, clock, n, entry = _gated_best_of(tmp_path, monkeypatch, busy)
    a = entry["attempts"]
    assert n == 7 and len(a) == 4 and entry["suspect"]
    # the first timed attempt and every retry are gated; base rep 2 is not
    assert "gate_wait_s" not in a[1]
    gated = [a[0], a[2], a[3]]
    assert [x["gate_timed_out"] for x in gated] == [True, True, True]
    # the first wait spends the whole shared budget; later ones get nothing
    assert [x["gate_wait_s"] for x in gated] == [60.0, 0.0, 0.0]
    assert gate.left_s == 0.0 and clock.now == 60.0


def test_quiet_gate_stops_waiting_once_the_host_is_quiet(tmp_path, monkeypatch):
    # busy for three polls, then quiet for good
    loads = itertools.chain([1e6] * 3, itertools.repeat(0.0))
    gate, clock, n, entry = _gated_best_of(tmp_path, monkeypatch, loads)
    a = entry["attempts"]
    assert a[0]["gate_wait_s"] == 15.0 and not a[0]["gate_timed_out"]
    assert [a[2]["gate_wait_s"], a[3]["gate_wait_s"]] == [0.0, 0.0]
    assert not a[2]["gate_timed_out"] and not a[3]["gate_timed_out"]
    assert gate.left_s == 45.0 and clock.now == 15.0
