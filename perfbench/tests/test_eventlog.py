"""The event-log parser against a tiny recorded Spark 4.1 log.

``data/eventlog.jsonl`` is a trimmed log of: a partitioned parquet write
(no job group), then, under job group ``p0/audio``, a scan of two of its
four partitions through ``mapInArrow`` into a grouped count.
"""

import json
import os
import shutil

import pytest

from perfbench.eventlog import read_event_log, summarize_events

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as f:
        return summarize_events(json.loads(line) for line in f)


def test_only_grouped_jobs_are_attributed(groups):
    assert list(groups) == ["p0/audio"]
    g = groups["p0/audio"]
    assert g.jobs == 2
    assert g.tasks == 3


def test_task_metrics_are_summed_in_seconds_and_bytes(groups):
    g = groups["p0/audio"]
    assert g.executor_run_s == pytest.approx(3.633)
    assert g.executor_cpu_s == pytest.approx(0.7344897)
    assert g.input_bytes == 2032
    assert g.shuffle_write_bytes == 126
    assert g.output_bytes == 0


def test_python_node_metrics(groups):
    py = groups["p0/audio"].python
    assert py["python_bytes_sent"] == 736
    assert py["python_rows"] == 20  # the two scanned partitions hold 20 of 40 rows
    assert py["python_s"] == pytest.approx(2.977)


def test_scan_files_read(groups):
    g = groups["p0/audio"]
    assert g.source_scans("/data/bench/clips.parquet") == [4]
    assert g.source_scans("transcripts.parquet") == []


def test_read_event_log_reads_the_log_files_in_a_directory(tmp_path):
    shutil.copy(LOG, tmp_path / "local-1")
    g = read_event_log(str(tmp_path))["p0/audio"]
    assert g.tasks == 3 and g.python["python_bytes_sent"] == 736
