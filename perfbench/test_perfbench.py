"""The benchmark's own tests: tiny runs of every workload.

    python3 -m pytest perfbench -q

Each workload runs twice through the command line, shrunk to a tiny size
(an sf0.001 corpus, a 2x2x2-chunk array and 4 steps): once traced (every
per-layer metric prints with its unit, outputs are correct, span self
times sum to their parents) and once untraced with a planted wrong
answer (every end-to-end metric prints with its unit, and
the planted op is counted and named as failed).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

# Shrinks the workloads before ``run.main`` runs.
TINY = (
    "import array_load, run\n"
    "run.SF = 0.001\n"
    "array_load.SIZE = array_load.ArraySize(grid=(2, 2, 2), steps=4, optimize_every=2)\n"
)

# Planted wrong answers, applied in the benchmark process before it runs:
# the array workload's region reads come back shifted by one, and one
# catalog query returns a row too few.
PLANTS = {
    "array": (
        "from mandoline_hbase_spark.engine import Connection\n"
        "_read = Connection.read_region\n"
        "Connection.read_region = lambda self, *a, **k: _read(self, *a, **k) + 1.0\n",
        "read:",
    ),
    "sql": (
        "import dataclasses\n"
        "from mandoline_hbase_spark.queries.catalog import QUERIES\n"
        "q = QUERIES['q6_forecast_revenue']\n"
        "QUERIES[q.name] = dataclasses.replace(q, fn=lambda s, d: q.fn(s, d).limit(0))\n",
        "q6_forecast_revenue",
    ),
}


def _run(workload: str, trace: int, plant: str = "") -> tuple[dict, str]:
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r}); sys.path.insert(0, {HERE!r})\n"
        + TINY
        + plant
        + f"import run; sys.exit(run.main({argv!r}))\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def _check_units(metrics: dict, expected: dict[str, str]) -> None:
    assert set(metrics) == set(expected)
    for name, unit in expected.items():
        assert metrics[name]["unit"] == unit, name
        assert isinstance(metrics[name]["value"], (int, float)), name


@pytest.mark.parametrize("workload", ["array", "sql"])
def test_traced_run_reports_every_layer_and_consistent_spans(workload):
    res, stdout = _run(workload, trace=1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, stdout[-3000:]
    _check_units(res["metrics"], run.per_layer_units())
    assert res["metrics"]["session.start_s"]["value"] > 0
    if workload == "array":
        assert res["metrics"]["storage.scan_calls"]["value"] > 0
        assert res["metrics"]["maintenance.optimize_s"]["value"] > 0
    else:
        assert res["metrics"]["queries.build_s"]["value"] > 0
        assert res["metrics"]["spark.jobs"]["value"] > 0
        # bm25_served_topk builds its artifact in the warm-up
        assert res["metrics"]["served.calls"]["value"] > 0

    spans = [json.loads(line) for line in open(os.path.join(run.OUT_DIR, f"{workload}-seed7-spans.jsonl"))]
    assert spans
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def subtree_self(s: dict) -> float:
        return s["self_s"] + sum(subtree_self(c) for c in by_parent.get(s["id"], []))

    for root in by_parent[None]:
        total = root["end"] - root["start"]
        assert subtree_self(root) == pytest.approx(total, rel=1e-6, abs=1e-9), root["name"]


@pytest.mark.parametrize("workload", ["array", "sql"])
def test_planted_wrong_answer_raises_error_rate(workload):
    plant, culprit = PLANTS[workload]
    res, stdout = _run(workload, trace=0, plant=plant)
    _check_units(res["metrics"], run.END_TO_END)
    for name in ["wall_s", "peak_rss_mb"] + (["host_slowdown"] if workload == "array" else []):
        assert f"\n{name} = " in stdout, name
    assert not res["correct"] and res["failed"] >= 1
    assert f"error_rate = {res['failed'] / res['attempted']:.6f}" in stdout
    assert any(line.startswith("FAILED") and culprit in line for line in stdout.splitlines())
