"""bench.py floor-file keying (ADVICE r4): floors are provenance for
the adaptive noise retry, and they must be scoped to the exact bench
config — one run at a smaller scale must neither ratchet the default
config's floors down (min) nor be judged suspect against them.

Pure-Python: no Spark session involved.
"""

from __future__ import annotations

import importlib.util
import json
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
