import os
import shutil

import pytest

from nrtbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.json")


def test_parses_jobs_tasks_and_groups():
    with open(DATA) as fh:
        log = eventlog.parse_lines(fh)
    assert sorted(log.jobs) == [0, 1]
    j0, j1 = log.jobs[0], log.jobs[1]
    assert j0.group == "7" and j1.group is None
    assert (j0.submit, j1.submit) == (1000.0, 1002.0)
    assert len(j0.tasks) == 3 and len(j1.tasks) == 1 and len(log.tasks) == 4
    assert sum(t.run_s for t in j0.tasks) == pytest.approx(0.83)
    assert sum(t.cpu_s for t in j0.tasks) == pytest.approx(0.55)
    assert sum(t.gc_s for t in j0.tasks) == pytest.approx(0.015)
    assert sum(t.shuffle_write_bytes for t in j0.tasks) == 3072
    assert sum(t.fetch_wait_s for t in j0.tasks) == pytest.approx(0.02)
    assert (j0.tasks[0].launch, j0.tasks[0].finish) == (1000.1, 1000.4)


def test_reads_a_rolling_log_directory(tmp_path):
    part = tmp_path / "eventlog_v2_local-1"
    part.mkdir()
    with open(DATA) as fh:
        lines = fh.readlines()
    (part / "events_2_local-1").write_text("".join(lines[6:]))
    (part / "events_1_local-1").write_text("".join(lines[:6]))
    (part / "appstatus_local-1").write_text("")
    log = eventlog.read_dir(str(tmp_path))
    assert sorted(log.jobs) == [0, 1] and len(log.tasks) == 4
    assert len(log.jobs[0].tasks) == 3


def test_reads_a_single_file_log(tmp_path):
    shutil.copy(DATA, tmp_path / "local-1")
    assert len(eventlog.read_dir(str(tmp_path)).tasks) == 4


def test_empty_directory_is_an_error(tmp_path):
    with pytest.raises(RuntimeError):
        eventlog.read_dir(str(tmp_path))
