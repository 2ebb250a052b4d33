"""The traced run's coverage rule: every per-layer name of a workload's
layers must be produced, and be non-zero unless zero is a valid
reading. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

import json
import os

from perfbench.workloads import TRACED, WORKLOADS, ZERO_OK, untraced

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def test_every_workload_has_layers():
    assert set(TRACED) == set(WORKLOADS)


def test_every_per_layer_name_belongs_to_a_workload():
    for n in _names():
        assert any(n.startswith(TRACED[w]) for w in TRACED), n


def test_missing_and_zero_names_are_reported():
    names = ["zonal.pairs", "zonal.python_s", "spark.failed_tasks", "dedup.python_s"]
    values = {"zonal.pairs": 0.0, "spark.failed_tasks": 0.0, "dedup.python_s": 1.0}
    # zonal.pairs is zero, zonal.python_s missing; failed tasks may be 0;
    # dedup is not a scene_toa layer
    assert untraced("scene_toa", names, values) == ["zonal.pairs", "zonal.python_s"]
    assert "spark.failed_tasks" in ZERO_OK


def test_other_workloads_layers_may_read_zero():
    assert untraced("web_pages", ["zonal.pairs", "cli.radiance.s"], {}) == []
