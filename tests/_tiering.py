"""Heavy-tier selection logic for the test suite.

The full suite outgrew the CI/driver verify budget (~32 min wall on
local[4]), so the slowest tests — listed in ``tests/heavy_tier.txt`` —
are deselected from the default run. To keep the tier exercised without
paying its full cost every run, each default run still executes a small
sample of it, seeded by the manifest's content: two runs of the same tree
run the same tests, and any edit of the manifest draws a new sample. Pure
functions here so the policy itself is unit-testable without spawning
pytest.
"""

from __future__ import annotations

import hashlib
import os

HEAVY_SAMPLE_K = 4


MANIFEST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "heavy_tier.txt")


def load_manifest(path: str = MANIFEST) -> set[str]:
    """Node ids of the heavy tier (comment/blank lines ignored)."""
    out: set[str] = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                out.add(line)
    return out


def manifest_seed(path: str = MANIFEST) -> str:
    """md5 of the manifest file's bytes: the sample's seed."""
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


def heavy_sample(node_ids: list[str], seed: str, k: int = HEAVY_SAMPLE_K) -> set[str]:
    """Deterministic k-subset for ``seed``: ranks by md5(seed:nodeid), so
    one seed always gives the same subset and a new seed a new one."""
    ranked = sorted(node_ids, key=lambda nid: hashlib.md5(f"{seed}:{nid}".encode()).hexdigest())
    return set(ranked[: max(0, k)])
