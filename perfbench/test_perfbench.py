"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark at a tiny input scale and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import measure, run  # noqa: E402


def _bench(workload, seed, trace, cwd=ROOT, seconds="2", scale="0.05"):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", seconds,
         "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p, p.stdout.strip().splitlines()


def test_tail_rule():
    assert measure.tail_stats([1.0] * 10)["tail"] is None
    st = measure.tail_stats(list(range(1, 21)))
    assert (st["tail_pct"], st["tail"], st["p50"]) == (50, 10, 10.5)
    st = measure.tail_stats(list(range(1, 101)))
    assert (st["tail_pct"], st["tail"]) == (90, 90)
    assert sum(x > st["tail"] for x in range(1, 101)) >= 10


class _FakeWorkload:
    """Two op types; the engine answer for ``contrib`` is made wrong."""

    op_types = ("snapshot", "contrib")

    def params(self, op):
        return [None]

    def run(self, op, p, tracer):
        with tracer.span("api.aggregate"):
            return [(op, 1)]

    def check(self, op, p, got):
        return got == [(op, 1)] if op == "snapshot" else got == [(op, 2)]


def test_wrong_answer_counts_as_failed():
    b = run.Bench(args=None, work="", out_dir="")
    samples, results = b.loop(_FakeWorkload(), measure.Tracer(False),
                              np.random.default_rng(0), 0.05)
    b.check(_FakeWorkload(), results)
    n_contrib = len(samples["contrib"])
    assert b.attempted == len(results) and n_contrib >= 1
    assert len(b.failures) == n_contrib
    assert all(f["op"] == "contrib" for f in b.failures)


@pytest.mark.parametrize("workload", ["node_history", "way_rel_geometry"])
def test_smoke_prints_every_metric_with_unit(workload):
    p, lines = _bench(workload, 7, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.E2E_UNITS
    for name, unit in run.E2E_UNITS.items():
        assert any(ln.startswith(f"metric {name} ") and ln.endswith(f" {unit}")
                   for ln in lines)


def test_traced_run_prints_layers_and_routing_repeats():
    routes = []
    for _ in range(2):
        p, lines = _bench("way_rel_geometry", 3, 1)
        assert p.returncode == 0, p.stderr[-3000:]
        res = json.loads(lines[-1])
        assert res["correct"], lines
        assert {k: v["unit"] for k, v in res["metrics"].items()} == run.LAYER_UNITS
        routes.append([ln for ln in lines if ln.startswith("detail routing ")])
    assert routes[0] and routes[0] == routes[1]


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, lines = _bench("node_history", 1, 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not any(ln.startswith("{") for ln in lines)


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
