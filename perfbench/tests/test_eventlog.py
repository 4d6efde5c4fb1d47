import os

import pytest

import eventlog

EXCERPT = os.path.join(os.path.dirname(__file__), "data", "eventlog_excerpt.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read(EXCERPT)


def test_jobs_are_attributed_to_their_group(log):
    assert sorted(j for j, job in log.jobs.items() if job.group == "q0:ann_ivf") == [83, 84, 85, 86, 87]
    assert log.groups["q2:pii_redaction_stats"]["jobs"] == 4
    job = log.jobs[86]
    assert (job.start, job.end) == (1792208147.763, 1792208149.972)


def test_task_metrics_sum_per_group(log):
    pii = log.groups["q2:pii_redaction_stats"]
    assert pii["tasks"] == 4 and pii["failed_tasks"] == 0
    assert pii["run_s"] == pytest.approx(1.005)
    assert pii["cpu_s"] == pytest.approx(1.006255762)
    assert pii["shuffle_write_bytes"] == 4031
    assert pii["shuffle_read_bytes"] == 6052
    assert pii["input_bytes"] == 1700
    assert pii["python_run_s"] == 0


def test_python_sql_metrics(log):
    ivf = log.groups["q0:ann_ivf"]
    assert ivf["tasks"] == 9
    assert ivf["run_s"] == pytest.approx(3.752)
    assert ivf["gc_s"] == pytest.approx(0.051)
    assert ivf["python_boot_s"] == pytest.approx(1.215)
    assert ivf["python_run_s"] == pytest.approx(1.897)
    assert ivf["python_bytes_sent"] == 1065048


def test_totals_and_intervals(log):
    both = {"q0:ann_ivf", "q2:pii_redaction_stats"}
    assert log.total(both)["tasks"] == 13
    assert log.total({"q0:ann_ivf"})["jobs"] == 5
    assert len(log.job_intervals({"q2:pii_redaction_stats"})) == 4
    assert log.total(set())["tasks"] == 0
