from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "heavy: long-running tier (tests/heavy_tier.txt); deselected from the "
        "default run except a sample seeded by the manifest's content — run all "
        "of it with -m heavy, or the whole suite with PYTEST_ALL_TIERS=1",
    )


def pytest_collection_modifyitems(config, items):
    from tests import _tiering

    manifest = _tiering.load_manifest()
    heavy = [it for it in items if it.nodeid in manifest]
    for it in heavy:
        it.add_marker(pytest.mark.heavy)

    # The default-run filter never applies when the caller selected tests
    # explicitly: a marker expression, an env override, or node-id args.
    if config.getoption("-m"):
        return
    if os.environ.get("PYTEST_ALL_TIERS"):
        return
    if any("::" in a for a in config.invocation_params.args):
        return
    if not heavy:
        return

    sample = _tiering.heavy_sample([it.nodeid for it in heavy], _tiering.manifest_seed())
    drop = [it for it in heavy if it.nodeid not in sample]
    if drop:
        dropped = set(drop)
        config.hook.pytest_deselected(items=drop)
        items[:] = [it for it in items if it not in dropped]


@pytest.fixture(scope="session")
def spark():
    from mandoline_hbase_spark.session import get_spark

    spark = get_spark(
        app_name="mandoline-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.warehouse.dir": "/tmp/spark-warehouse"},
    )
    yield spark


@pytest.fixture()
def store(tmp_path):
    from mandoline_hbase_spark.engine import mk_schema

    schema = mk_schema({"root": "integration-testing.mandoline.io", "base_path": str(tmp_path)})
    schema.create_dataset("test-dataset")
    yield schema.connect("test-dataset")
