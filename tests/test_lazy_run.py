"""A project run is lazy: building the node DAG submits no Spark job.

The executor runs each destination's writes in a job group named after
the destination, so every job without a group was submitted while the
nodes were built. Both perfbench projects (a lowered render with input
hashing; a macro/md5/include render with a fan-out group_by -> pivot
summary) must run with none. Destinations write on concurrent threads,
and each write's jobs must land in its own group.
"""

import os

import pytest

from earthmover_spark.plans.executor import run_project
from perfbench import inputs

PROJECTS = os.path.join(os.path.dirname(__file__), "..", "perfbench", "projects")
ROWS = 2000
DESTINATIONS = {
    "render_native": ["attendance_events"],
    "render_jinja": ["attendance_events", "school_summary"],
}


@pytest.fixture(scope="module")
def attendance(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("attendance") / "attendance.tsv")
    inputs.attendance_tsv(path, ROWS, seed=5)
    return path


def _group_jobs(spark, group: str | None) -> set[int]:
    sc = spark.sparkContext
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    return set(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("project", ["render_native", "render_jinja"])
def test_run_submits_no_job_outside_a_destination(spark, tmp_path, attendance, project):
    config = os.path.join(PROJECTS, project, "earthmover.yaml")
    groups = [None, *(f"$destinations.{d}" for d in DESTINATIONS[project])]
    before = {g: _group_jobs(spark, g) for g in groups}
    results = run_project(
        spark, config, params={"INPUT_FILE": attendance},
        output_dir=str(tmp_path), runs_file=str(tmp_path / "runs.csv"), force=True,
    )
    new = {g: _group_jobs(spark, g) - before[g] for g in groups}
    assert new.pop(None) == set()
    # each destination's jobs carry its own group, though the writes
    # ran on concurrent threads
    assert all(new.values()), new
    assert len(set().union(*new.values())) == sum(map(len, new.values()))
    rows = results["$destinations.attendance_events"]
    with open(rows) as fh:
        assert sum(1 for _ in fh) == ROWS
