"""Run state: input hashing, the all-or-nothing single-file sink and
the fan-out cache.

A run that fails must leave nothing behind that the next run could
mistake for success: no truncated destination file, no runs-file entry,
no temporary directory. Succeeded or failed, it leaves no cached data. Hashing must accept every config the executor
accepts, including YAML 1.1's boolean reading of a bare ``on:`` key.
"""

import glob
import json
import os
import shutil
import textwrap

import pytest

from earthmover_spark.plans.config import compile_config, yaml_keys
from earthmover_spark.plans.executor import run_project
from earthmover_spark.plans.runs import RunsFile, compute_hashes

EXAMPLES = os.path.join(os.path.dirname(__file__), "..", "examples")


def test_yaml_keys_names_bare_on():
    assert yaml_keys({True: "id", "how": "left"}) == {"on": "id", "how": "left"}
    nested = {"operation": "map_values", "mapping": {True: "Y", False: "N"}}
    assert yaml_keys(nested) == nested


def test_nested_true_key_stays_boolean(spark, tmp_path):
    """Only an operation's own keys are renamed: ``fractions: {true: 1.0}``
    keys a boolean stratum, and the run must also hash it."""
    (tmp_path / "docs.jsonl").write_text("".join(
        f'{{"doc_id": {i}, "is_en": {"true" if i % 3 == 0 else "false"}}}\n'
        for i in range(30)
    ))
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out
        sources:
          docs:
            file: docs.jsonl
        transformations:
          english:
            source: $sources.docs
            operations:
              - operation: stratified_sample
                strata_col: is_en
                fractions: {true: 1.0, false: 0.0}
                key_col: doc_id
        destinations:
          out:
            source: $transformations.english
            extension: jsonl
    """))
    run_project(spark, str(tmp_path / "earthmover.yaml"),
                runs_file=str(tmp_path / "runs.csv"))
    lines = (tmp_path / "out" / "out.jsonl").read_text().splitlines()
    assert sorted(int(json.loads(ln)["doc_id"]) for ln in lines) == list(
        range(0, 30, 3)
    )


def test_bare_on_key_hashes_like_quoted_on(tmp_path):
    """A bare ``on:`` next to string keys used to crash the config
    hash with "'<' not supported between 'bool' and 'str'"."""
    hashes = []
    for i, key in enumerate(("on", '"on"')):
        d = tmp_path / f"p{i}"
        d.mkdir()
        (d / "earthmover.yaml").write_text(textwrap.dedent(f"""
            sources:
              a:
                file: a.csv
              b:
                file: b.csv
            transformations:
              j:
                source: $sources.a
                operations:
                  - operation: join
                    sources: [$sources.b]
                    {key}: id
        """))
        project = compile_config(str(d / "earthmover.yaml"))
        hashes.append(compute_hashes(project, None, "*")["config_hash"])
    assert hashes[0] == hashes[1]
    example = os.path.join(EXAMPLES, "06_stream_analytics", "earthmover.yaml")
    assert compute_hashes(compile_config(example), None, "*")["config_hash"]


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
          out:
            source: $sources.people
            extension: jsonl
    """))
    return tmp_path


def test_failed_single_file_write_leaves_no_trace(spark, project, monkeypatch):
    config = str(project / "earthmover.yaml")
    runs = str(project / "runs.csv")
    out_dir = project / "out"
    out_file = out_dir / "out.jsonl"

    def broken_copy(src, dst, length=0):
        dst.write(src.read(5))
        raise OSError("disk full")

    def run_broken():
        with monkeypatch.context() as m:
            m.setattr(shutil, "copyfileobj", broken_copy)
            with pytest.raises(Exception, match="disk full"):
                run_project(spark, config, runs_file=runs)

    def runs_logged() -> int:
        return len(RunsFile(compile_config(config), runs).rows())

    # no previous output: nothing partial appears
    run_broken()
    assert not out_file.exists()
    assert runs_logged() == 0
    assert glob.glob(str(out_dir / "em_dest_*")) == []

    run_project(spark, config, runs_file=runs)
    before = out_file.read_bytes()
    assert before.count(b"\n") == 2
    assert runs_logged() == 1

    # changed input, failed write: the previous output stays intact
    (project / "people.csv").write_text("name\ncyd\ndee\neve\n")
    run_broken()
    assert out_file.read_bytes() == before
    assert runs_logged() == 1
    assert glob.glob(str(out_dir / "em_dest_*")) == []


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_releases_fan_out_persists(spark, project, monkeypatch):
    """A node with two consumers is persisted for the run only: the
    cache is released after a successful run and after a failed write."""
    config = project / "earthmover.yaml"
    config.write_text(textwrap.dedent("""
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
    before = _persistent_rdds(spark)
    results = run_project(spark, str(config), results_file=str(project / "r.json"))
    assert set(results) == {"$destinations.a", "$destinations.b"}
    assert _persistent_rdds(spark) == before

    def broken_copy(src, dst, length=0):
        raise OSError("disk full")

    monkeypatch.setattr(shutil, "copyfileobj", broken_copy)
    with pytest.raises(Exception, match="disk full"):
        run_project(spark, str(config))
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("distinct_values", [None, ["jan", "feb"]])
def test_failed_pivot_check_leaves_no_trace(spark, tmp_path, distinct_values):
    """A duplicate pivot key fails the run with the reference's message,
    whether the check runs in the destination's write (explicit
    ``distinct_values``) or in the scan for the output columns. The
    pivot's destination is not written, no run is logged, and the run
    keeps no check registered."""
    from earthmover_spark import util

    (tmp_path / "temps.csv").write_text(
        "station,month,temp\ns1,jan,1\ns1,feb,2\ns1,feb,3\n"
    )
    pivot = {"operation": "pivot", "rows_by": "station", "cols_by": "month",
             "values": "temp"}
    if distinct_values:
        pivot["distinct_values"] = distinct_values
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent(f"""
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
              - {json.dumps(pivot)}
        destinations:
          wide_out:
            source: $transformations.wide
            extension: jsonl
    """))
    config = str(tmp_path / "earthmover.yaml")
    registered = set(util._DEFERRED)
    with pytest.raises(util.EarthmoverSparkError,
                       match="Found 3 rows but only 2 unique combinations"):
        run_project(spark, config)
    assert not (tmp_path / "out" / "wide_out.jsonl").exists()
    assert glob.glob(str(tmp_path / "out" / "em_dest_*")) == []
    assert RunsFile(compile_config(config), None).rows() == []
    assert set(util._DEFERRED) == registered
