"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

They need no Spark session: the generators are pure Python/Arrow, and
the span arithmetic runs against a stand-in SparkContext.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen_gate  # noqa: E402
import gen_transit  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(d: Path) -> dict[str, str]:
    return {str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.rglob("*")) if p.is_file()}


def test_transit_generator_is_byte_identical_per_seed(tmp_path):
    a = gen_transit.generate(tmp_path / "a", seed=7)
    b = gen_transit.generate(tmp_path / "b", seed=7)
    c = gen_transit.generate(tmp_path / "c", seed=8)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_transit_ledger_adds_up(tmp_path):
    led = gen_transit.generate(tmp_path, seed=3)["ist"]
    planted = (led["priority_duplicates"] + led["exact_duplicates"]
               + led["sbb_rows"] + led["zug_rows"])
    assert led["rows_rejected"] == planted > 0
    assert led["rows_in"] == led["base_rows"] + planted
    assert led["rows_out"] == led["base_rows"]


def test_gate_generator_is_byte_identical_per_seed(tmp_path):
    a = gen_gate.generate(tmp_path / "a", seed=5)
    b = gen_gate.generate(tmp_path / "b", seed=5)
    gen_gate.generate(tmp_path / "c", seed=6)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_metric_names_are_well_formed_and_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E
    assert layer == run.per_layer_units()
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert NAME_RE.fullmatch(name) and len(name) <= 64, name


class _FakeContext:
    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


# Self times are differences of the same perf_counter readings, so they
# add back up to the parent's wall time up to float rounding.
SELF_TIME_TOLERANCE_S = 1e-9


def test_self_times_add_up_to_parent_wall_time():
    tr = spans.Tracer(_FakeSpark())
    with tr.span("root") as root:
        time.sleep(0.002)
        with tr.span("a") as a:
            time.sleep(0.002)
            with tr.span("a1"):
                time.sleep(0.001)
        with tr.span("b") as b:
            time.sleep(0.001)
    direct = tr.self_time(root) + tr.self_time(a) + tr.self_time(b) \
        + sum(tr.self_time(c) for c in tr.children(a))
    assert abs(direct - root.wall) <= SELF_TIME_TOLERANCE_S
    assert abs(tr.self_time(root) + a.wall + b.wall - root.wall) \
        <= SELF_TIME_TOLERANCE_S
    assert abs(sum(tr.self_time(s) for s in tr.subtree(root)) - root.wall) \
        <= SELF_TIME_TOLERANCE_S
    assert tr.self_time(root) >= 0.002
    assert tr.outermost_time(root, "a") == a.wall
