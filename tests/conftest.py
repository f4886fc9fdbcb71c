from __future__ import annotations

import pytest

from realtime_change_data_capture_streaming_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="spark-graft-tests", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(config, items):
    # start the default-conf sweep's worker process (its own JVM) as soon
    # as its test is selected, so it overlaps the tests that run first;
    # trylast: run after -k/-m/--deselect have removed deselected items
    if config.option.collectonly:
        return
    for item in items:
        if item.nodeid.endswith("test_all_queries_plan_on_default_conf_session"):
            item.module.start_sweep()
