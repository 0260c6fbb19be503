"""Self-tests of the benchmark.

    python3 -m pytest perfbench/ -q -p no:cacheprovider

The traced smoke runs both workloads end to end on sf0.001 tables
(a few minutes: two Spark sessions plus the one-time layout build).
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from collections import Counter
from itertools import islice
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import tracer  # noqa: E402
from workloads import WORKLOADS, passes  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_same_seed_gives_same_sequence():
    for w in WORKLOADS:
        assert list(islice(passes(w, 7), 3)) == list(islice(passes(w, 7), 3))


def test_seeds_permute_the_same_multiset():
    for w, spec in WORKLOADS.items():
        firsts = {tuple(next(passes(w, s))) for s in range(20)}
        assert len(firsts) > 1, w
        for order in firsts:
            assert Counter(order) == Counter(spec["queries"])


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    for w in BENCH["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]]["why"]


def test_every_query_is_registered_with_an_oracle():
    sys.path.insert(0, str(HERE.parent))
    from sales_agent_graphdb_spark.registry import all_queries

    specs = all_queries()
    for spec in WORKLOADS.values():
        for name in spec["queries"]:
            assert name in specs, name
            assert specs[name].oracle, name


def test_parse_metric():
    assert tracer.parse_metric("681 ms") == pytest.approx(0.681)
    assert tracer.parse_metric("1.4 s") == pytest.approx(1.4)
    assert tracer.parse_metric("2.0 m") == pytest.approx(120.0)
    assert tracer.parse_metric(
        "total (min, med, max (stageId: taskId))\n160.2 KiB (80.1 KiB, 80.1 KiB, "
        "80.1 KiB (stage 9.0: task 7))"
    ) == pytest.approx(160.2 * 1024)


def test_self_time_excludes_children_and_wrappers_restore():
    class Mod:
        @staticmethod
        def inner():
            time.sleep(0.02)

        @staticmethod
        def outer():
            time.sleep(0.01)
            Mod.inner()

    original = Mod.outer
    t = tracer.Tracer()
    t.wrap(Mod, "inner", "b")
    t.wrap(Mod, "outer", "a")
    Mod.outer()  # inactive: passes straight through
    t.start_trace()
    Mod.outer()
    Mod.inner()
    self_s, counts = t.end_trace()
    assert counts == {"a.calls": 1, "b.calls": 2}
    assert 0.01 <= self_s["a"] < 0.02
    assert self_s["b"] >= 0.04
    t.close()
    assert Mod.outer is original


def _traced_smoke(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", "1", "--sf", "0.001"],
        capture_output=True, text=True, timeout=900, cwd=HERE.parent,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_traced_smoke_shows_the_intended_layer_split():
    graph = _traced_smoke("graph_loops")
    curation = _traced_smoke("curation_rw")
    python = ["python.worker_run_s", "python.bytes_sent", "python.bytes_returned"]

    assert graph["barrier.count"] > 0
    assert graph["operators.graph.calls"] > 0
    assert all(graph[k] == 0 for k in python)
    assert graph["streaming.batches"] == 0

    assert all(curation[k] > 0 for k in python)
    assert curation["operators.graph.calls"] == 0
    assert curation["operators.lsh.s"] > 0 and curation["operators.ann.s"] > 0
    assert curation["sources.stamp.calls"] > 0
    # the upsert index is removed before each execution and rebuilt;
    # every other layout stays fresh
    assert curation["sources.stamp.builds"] == pytest.approx(
        1 / len(WORKLOADS["curation_rw"]["queries"]))
    assert curation["streaming.batches"] > 0
    for m in (graph, curation):
        # the wall is timed around the whole query, not summed from spans
        assert 0.9 <= m["trace.layer_sum_frac"] <= 1.0
        assert m["catalyst.probe_s"] > 0
    # the named layers carry a real share of the wall
    assert graph["trace.unattributed_frac"] < 0.8
