"""Replication lag from a hand-built streaming checkpoint."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from measure import backlog_max, batch_events, event_lags, percentile, weighted_percentile  # noqa: E402


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///w/watched/{name}", "timestamp": 1, "batchId": batch}) + "\n")


@pytest.fixture
def ckpt(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    _log(src / "0", [("f0", 0), ("f1", 0)])
    # a compacted source log repeats earlier entries; batch ids come from the entries
    _log(src / "1.compact", [("f0", 0), ("f1", 0), ("f2", 1)])
    commits = tmp_path / "commits"
    commits.mkdir()
    for batch, t in ((0, 100.0), (1, 103.0)):
        (commits / str(batch)).write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(commits / str(batch), (t, t))
    return str(tmp_path)


DUE = {"f0": 99.0, "f1": 99.5, "f2": 100.0}
COUNTS = {"f0": 10, "f1": 20, "f2": 30}


def test_event_lags_from_checkpoint(ckpt):
    lags = sorted(event_lags(ckpt, DUE, COUNTS))
    assert lags == [(0.5, 20), (1.0, 10), (3.0, 30)]
    # 60 events: the 30th by lag is in f0, the 60th in f2
    assert weighted_percentile(lags, 50) == 1.0
    assert weighted_percentile(lags, 99) == 3.0


def test_backlog_counts_released_but_uncommitted(ckpt):
    # at batch 0's commit (t=100) all three files are released, f2 is not yet applied
    assert backlog_max(DUE, COUNTS, ckpt) == 30


def test_batch_events_from_source_log(ckpt):
    assert batch_events(ckpt, COUNTS) == {0: 30, 1: 30}
    # files outside the measured set (warm-up) are not counted
    assert batch_events(ckpt, {"f2": 30}) == {1: 30}


def test_uncommitted_release_is_an_error(ckpt):
    with pytest.raises(RuntimeError):
        event_lags(ckpt, {**DUE, "f3": 101.0}, {**COUNTS, "f3": 5})


def test_percentile_nearest_rank():
    assert percentile([5, 1, 3, 2, 4], 50) == 3
    assert percentile([5, 1, 3, 2, 4], 100) == 5
    assert percentile([7], 99) == 7
