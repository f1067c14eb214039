"""The screen latency join on a recorded run.

``fixtures/screen_join`` holds what one paced phase left behind: the
checkpoint's file-source log (``sources/0``, including a ``.compact``
entry), the query's progress reports and the load generator's due
times.
"""

import json
import os

import pytest

import stats

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "screen_join")


def load(name):
    with open(os.path.join(FIXTURE, name)) as f:
        return json.load(f)


def test_commit_time_is_start_plus_trigger_execution():
    progress = [
        {"batchId": 4, "timestamp": "2026-10-17T04:00:00.500Z", "numInputRows": 3,
         "durationMs": {"triggerExecution": 1500}},
        {"batchId": 5, "timestamp": "2026-10-17T04:00:02.000Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 7}},
    ]
    assert stats.commit_times(progress) == {4: 1792209602.0}


def test_every_scheduled_file_joins_exactly_once():
    due = load("due.json")
    log = stats.read_source_log(FIXTURE)
    names = [n for files in log.values() for n in files]
    assert len(names) == len(set(names))
    lat = stats.file_latencies(due, log, stats.commit_times(load("progress.json")))
    assert set(lat) == set(due)
    assert all(0 < v < 10 for v in lat.values())


def test_compacted_batches_are_read():
    # batches 9 and 19 exist only inside their .compact files
    compacted = {int(f.split(".")[0]) for f in os.listdir(os.path.join(FIXTURE, "sources", "0"))
                 if f.endswith(".compact")}
    assert compacted and compacted <= set(stats.read_source_log(FIXTURE))


# batch 12 started 2026-10-17T04:17:49.410Z and ran 785 ms, so it
# committed at 1792210670.195; due times are in due.json
@pytest.mark.parametrize("name, latency", [
    ("paced-0133.parquet", 1792210670.195 - 1792210668.6895394),
    ("paced-0142.parquet", 1792210670.195 - 1792210669.3323965),
])
def test_recorded_latencies(name, latency):
    lat = stats.file_latencies(load("due.json"), stats.read_source_log(FIXTURE),
                               stats.commit_times(load("progress.json")))
    assert lat[name] == pytest.approx(latency, abs=1e-6)
