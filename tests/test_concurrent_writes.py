"""A run writes its destinations concurrently.

Each destination write runs on a pool thread while the DAG walk goes on,
so two writes can be in flight at once. ``results`` and the results
file still list destinations in topological order, and a write that
fails its in-plan check fails the run as cleanly as a sequential one:
the reference's message, no partial file, no temp dir, no runs-file
entry and no check left registered.
"""

import glob
import json
import textwrap
import threading

import pytest

from earthmover_spark import util
from earthmover_spark.plans import executor
from earthmover_spark.plans.config import compile_config
from earthmover_spark.plans.executor import run_project
from earthmover_spark.plans.runs import RunsFile

#: long enough for any write to start, short enough that a sequential
#: run fails fast instead of hanging
WAIT_S = 10


@pytest.fixture
def project(tmp_path):
    (tmp_path / "people.csv").write_text("name\nann\nbob\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out
        sources:
          people:
            file: people.csv
        destinations:
          a:
            source: $sources.people
            extension: jsonl
          b:
            source: $sources.people
            extension: csv
    """))
    return tmp_path


def _meet_at_barrier(monkeypatch):
    """Every destination write waits until a second one is in flight."""
    barrier = threading.Barrier(2, timeout=WAIT_S)
    write = executor.write_destination

    def wrapped(*args, **kwargs):
        barrier.wait()
        return write(*args, **kwargs)

    monkeypatch.setattr(executor, "write_destination", wrapped)


def test_two_writes_are_in_flight_at_once(spark, project, monkeypatch):
    _meet_at_barrier(monkeypatch)
    results = run_project(spark, str(project / "earthmover.yaml"))
    assert list(results) == ["$destinations.a", "$destinations.b"]
    for path in results.values():
        assert open(path).read().count("\n") == 2


def test_results_keep_topological_order(spark, project, monkeypatch):
    """The first destination in DAG order finishes last; the results and
    the results file still list it first."""
    b_done = threading.Event()
    finished: list[str] = []
    write = executor.write_destination

    def wrapped(df, name, *args, **kwargs):
        if name == "a":
            b_done.wait(WAIT_S)
        path = write(df, name, *args, **kwargs)
        finished.append(name)
        if name == "b":
            b_done.set()
        return path

    monkeypatch.setattr(executor, "write_destination", wrapped)
    stats = project / "results.json"
    results = run_project(spark, str(project / "earthmover.yaml"),
                          results_file=str(stats))
    assert finished == ["b", "a"]
    assert list(results) == ["$destinations.a", "$destinations.b"]
    written = json.loads(stats.read_text())
    assert list(written["destinations"]) == list(results)
    assert list(written["nodes"]) == [
        "$sources.people", "$destinations.a", "$destinations.b",
    ]
    assert all(s["seconds"] >= 0 for s in written["nodes"].values())


def test_failed_concurrent_write_leaves_no_trace(spark, tmp_path, monkeypatch):
    """A pivot with a duplicate key fails its write while another write
    is in flight: the run raises the reference's message, and leaves
    neither the failed file, a temp dir, a runs-file entry nor a
    registered check. The other write may finish, but only whole."""
    (tmp_path / "temps.csv").write_text(
        "station,month,temp\ns1,jan,1\ns1,feb,2\ns1,feb,3\n"
    )
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out
          state_file: ./runs.csv
        sources:
          temps:
            file: temps.csv
        transformations:
          wide:
            source: $sources.temps
            operations:
              - operation: pivot
                rows_by: station
                cols_by: month
                values: temp
                distinct_values: [jan, feb]
        destinations:
          raw_out:
            source: $sources.temps
            extension: jsonl
          wide_out:
            source: $transformations.wide
            extension: jsonl
    """))
    config = str(tmp_path / "earthmover.yaml")
    out_dir = tmp_path / "out"
    _meet_at_barrier(monkeypatch)
    registered = set(util._DEFERRED)
    with pytest.raises(util.EarthmoverSparkError,
                       match="Found 3 rows but only 2 unique combinations"):
        run_project(spark, config)
    assert not (out_dir / "wide_out.jsonl").exists()
    raw = out_dir / "raw_out.jsonl"
    assert not raw.exists() or raw.read_text().count("\n") == 3
    assert glob.glob(str(out_dir / "em_dest_*")) == []
    assert RunsFile(compile_config(config), None).rows() == []
    assert set(util._DEFERRED) == registered
