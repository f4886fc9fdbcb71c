"""The DuckDB oracle agrees with the package's batch apply-changes on a
small log with duplicates, within-key reorders and deletes."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

import oracle  # noqa: E402
from gen import ChangeLog, Traffic, write_lines  # noqa: E402

CHAOS = Traffic(zipf_s=1.1, delete_frac=0.15, insert_frac=0.1, dup_frac=0.2, reorder_frac=0.2, reorder_lag=1)


@pytest.fixture(scope="module")
def spark():
    from realtime_change_data_capture_streaming_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def log_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("log")
    log = ChangeLog(seed=7, n_keys=300, traffic=CHAOS)
    files = [log.snapshot(delete_frac=0.1)] + log.change_files(n_files=4, per_file=150)
    paths = []
    for i, evs in enumerate(files):
        paths.append(str(d / f"part-{i}.json"))
        write_lines(paths[-1], evs)
    return paths, log


def test_log_exercises_the_hard_cases(log_files):
    paths, log = log_files
    lines = [line for p in paths for line in open(p)]
    assert len(lines) > len(set(lines)), "no duplicate deliveries"
    events = [(json.loads(line)["key"], json.loads(json.loads(line)["value"])) for line in lines]
    assert any(env["op"] == "d" for _, env in events)
    seen: dict[str, int] = {}
    reordered = False
    for key, env in events:
        lsn = env["source"]["lsn"]
        reordered |= lsn < seen.get(key, -1)
        seen[key] = max(lsn, seen.get(key, -1))
    assert reordered, "no within-key reorder"


def test_oracle_matches_apply_changes_batch(spark, log_files):
    from realtime_change_data_capture_streaming_spark.cdc.apply_changes import apply_changes_batch
    from realtime_change_data_capture_streaming_spark.cdc.decode import parse_envelope

    paths, log = log_files
    live, deleted = oracle.fold(paths)
    parsed = parse_envelope(spark.read.schema("key string, value string").json(paths))
    rows = apply_changes_batch(parsed).select(*oracle.string_cells()).collect()
    assert oracle.diff_rows(live, rows) == 0
    assert set(live) == set(log.live_keys())
    assert deleted and not deleted & set(live)
    # the comparison is not vacuous: one changed cell is caught
    k = sorted(live)[0]
    assert oracle.diff_rows({**live, k: live[k][:-1] + ("x",)}, rows) == 1


def test_view_of_sums_cents_per_merchant():
    live = {
        "a": ("a", "u", "2024-01-01 00:00:00", "1.05", "EUR", "c", "TN", "m1", "p", "ip", "", "x"),
        "b": ("b", "u", "2024-01-01 00:00:00", "10.00", "EUR", "c", "TN", "m1", "p", "ip", "", "x"),
        "c": ("c", "u", "2024-01-01 00:00:00", "2.50", "EUR", "c", "TN", "m2", "p", "ip", "", "x"),
    }
    assert oracle.view_of(live) == {"m1": (2, 1105), "m2": (1, 250)}
