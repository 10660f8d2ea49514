"""Building a project's plans crosses into the JVM a bounded number of
times.

Every ``F.*`` call, ``Column`` method and DataFrame method is one py4j
round trip while the plan is built. ``get_spark`` turns off pyspark's
per-call call-site capture (about ten more round trips per call), and the
all-string view (``util.stringify``, the lowering's column renders) skips
columns the schema proves are non-null strings already. The bounds are a
third of what the perfbench projects cost with neither (render_native
1,482, render_jinja 2,382 on this 2k-row input); with both they cost
about 230 and 600. The count leaves out the py4j GC thread's handle
deletes, which depend on when Python collects, and counts the second
build, so the first-use caches (compiled templates, schemas) are warm.
"""

import os

import pytest

from earthmover_spark.plans.executor import explain_project
from earthmover_spark.util import count_round_trips
from perfbench import inputs

PROJECTS = os.path.join(os.path.dirname(__file__), "..", "perfbench", "projects")
ROWS = 2000
MAX_ROUND_TRIPS = {"render_native": 494, "render_jinja": 794}


@pytest.fixture(scope="module")
def attendance(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("attendance") / "attendance.tsv")
    inputs.attendance_tsv(path, ROWS, seed=5)
    return path


def test_get_spark_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("project", sorted(MAX_ROUND_TRIPS))
def test_explain_project_round_trips(spark, attendance, project):
    config = os.path.join(PROJECTS, project, "earthmover.yaml")
    params = {"INPUT_FILE": attendance}
    explain_project(spark, config, params=params)
    with count_round_trips(spark) as round_trips:
        plans = explain_project(spark, config, params=params)
    assert plans and all("Physical Plan" in p for p in plans.values())
    assert 0 < round_trips.n <= MAX_ROUND_TRIPS[project], round_trips.n
