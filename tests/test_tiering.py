"""The heavy-tier policy itself (tests/_tiering.py + conftest hook)."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

from tests import _tiering


def test_manifest_loads_and_names_real_tests():
    manifest = _tiering.load_manifest()
    assert len(manifest) > 50
    here = os.path.dirname(os.path.abspath(__file__))
    # every entry is a node id, not a bare file
    assert all("::" in nid for nid in manifest)
    # ... naming a test function that still exists: a renamed or deleted
    # test would otherwise drop out of the heavy tier silently
    defs: dict[str, set[str]] = {}
    for nid in sorted(manifest):
        f, name = nid.split("::", 1)
        path = os.path.join(os.path.dirname(here), f)
        assert os.path.exists(path), f
        if f not in defs:
            tree = ast.parse(open(path, encoding="utf-8").read())
            defs[f] = {
                n.name
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            }
        # Class::method ids name both; a [param] suffix is not a def
        assert set(name.split("[", 1)[0].split("::")) <= defs[f], nid


def test_daily_sample_is_deterministic_and_rotates():
    ids = [f"tests/test_x.py::t{i}" for i in range(40)]
    a = _tiering.daily_sample(ids, day_ordinal=738000)
    b = _tiering.daily_sample(ids, day_ordinal=738000)
    assert a == b and len(a) == _tiering.HEAVY_SAMPLE_K
    # across a fortnight the union covers far more than one day's sample
    union = set()
    for d in range(14):
        union |= _tiering.daily_sample(ids, day_ordinal=738000 + d)
    assert len(union) > _tiering.HEAVY_SAMPLE_K * 2


def test_default_collection_deselects_heavy_but_keeps_a_sample():
    manifest = _tiering.load_manifest()
    probe_file = "tests/test_merge_property.py"
    assert any(nid.startswith(probe_file) for nid in manifest)
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "PYTEST_ALL_TIERS": ""},
        timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    lines = [l.strip() for l in out.stdout.splitlines()]
    collected = {l for l in lines if l.startswith("tests/")}
    kept_heavy = collected & manifest
    assert len(kept_heavy) == _tiering.HEAVY_SAMPLE_K, sorted(kept_heavy)
    assert "deselected" in out.stdout
    # explicit node-id invocation is never filtered
    heavy_id = sorted(nid for nid in manifest if nid.startswith(probe_file))[0]
    out2 = subprocess.run(
        [sys.executable, "-m", "pytest", heavy_id, "--collect-only", "-q"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert out2.returncode == 0
    assert heavy_id in out2.stdout
