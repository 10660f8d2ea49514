"""Engine-level features: packages, compile-to-disk, results file,
connection sources in YAML, destination subtemplate includes."""

import json
import os
import textwrap

import pytest

from earthmover_spark.plans.config import compile_config, compile_to_disk
from earthmover_spark.plans.executor import run_project
from earthmover_spark.util import EarthmoverSparkError


@pytest.fixture()
def pkg_project(tmp_path):
    """A parent project installing a local package that contributes a
    source and a destination; the parent overrides the package's
    transformation."""
    pkg = tmp_path / "pkg"
    (pkg / "data").mkdir(parents=True)
    (pkg / "data" / "fruits.csv").write_text(
        "name,color\napple,red\nplum,purple\nkiwi,green\n"
    )
    (pkg / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          fruits:
            file: data/fruits.csv
        transformations:
          colored:
            source: $sources.fruits
            operations:
              - operation: filter_rows
                query: color == "red"
                behavior: include
        destinations:
          fruit_list:
            source: $transformations.colored
    """))
    parent = tmp_path / "parent"
    parent.mkdir()
    (parent / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./outputs
        packages:
          fruit_pkg:
            local: ../pkg
        transformations:
          colored:
            source: $sources.fruits
            operations:
              - operation: filter_rows
                query: color != "red"
                behavior: include
    """))
    return parent


def test_package_merge_and_override(spark, pkg_project, tmp_path):
    project = compile_config(str(pkg_project / "earthmover.yaml"))
    # package source merged with absolutized path
    assert os.path.isabs(project.sources["fruits"]["file"])
    # parent's transformation wins over the package's
    assert 'color != "red"' in project.transformations["colored"]["operations"][0]["query"]

    out = str(tmp_path / "out")
    results = run_project(spark, str(pkg_project / "earthmover.yaml"), output_dir=out)
    lines = open(results["$destinations.fruit_list"]).read().splitlines()
    names = sorted(json.loads(ln)["name"] for ln in lines)
    assert names == ["kiwi", "plum"]  # parent filter, package data


def test_show_progress_logs_node_timing(spark, tmp_path, capsys):
    import textwrap

    proj = tmp_path / "prog"
    proj.mkdir()
    (proj / "data.csv").write_text("a,b\n1,x\n2,y\n")
    (proj / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          show_progress: True
        sources:
          rows:
            file: data.csv
        destinations:
          rows_out:
            source: $sources.rows
    """))
    run_project(spark, str(proj / "earthmover.yaml"), output_dir=str(tmp_path / "o"))
    out = capsys.readouterr().out
    assert "$destinations.rows_out: written in" in out


def test_package_missing_dir_errors(tmp_path):
    (tmp_path / "earthmover.yaml").write_text(
        "packages:\n  nope:\n    local: ./missing\nsources:\n  a:\n    optional: True\n"
    )
    with pytest.raises(EarthmoverSparkError, match="no earthmover.yaml"):
        compile_config(str(tmp_path / "earthmover.yaml"))


def test_compile_to_disk(pkg_project):
    import yaml

    out = compile_to_disk(str(pkg_project / "earthmover.yaml"))
    doc = yaml.safe_load(open(out))
    assert set(doc) == {"config", "sources", "transformations", "destinations"}
    assert "fruits" in doc["sources"]  # merged package visible in the artifact


def test_results_file(spark, pkg_project, tmp_path):
    rf = str(tmp_path / "results.json")
    run_project(
        spark, str(pkg_project / "earthmover.yaml"),
        output_dir=str(tmp_path / "o"), results_file=rf,
    )
    doc = json.load(open(rf))
    assert doc["total_seconds"] >= 0
    assert doc["nodes"]["$transformations.colored"]["rows"] == 2
    assert "$destinations.fruit_list" in doc["destinations"]


def test_show_graph_dot(spark, pkg_project, tmp_path):
    rf = str(tmp_path / "results.json")
    results = run_project(
        spark, str(pkg_project / "earthmover.yaml"),
        output_dir=str(tmp_path / "o"), results_file=rf, show_graph=True,
    )
    dot = open(results["__graph__"]).read()
    assert dot.startswith("digraph earthmover_spark {")
    # an edge from the transformation into its destination
    assert '"$transformations.colored" ->' in dot
    # row counts from the results run are embedded in labels
    assert "2 rows" in dot
    assert dot.rstrip().endswith("}")


def test_sql_connection_source_in_yaml(spark, tmp_path):
    import duckdb

    db = str(tmp_path / "db.duckdb")
    con = duckdb.connect(db)
    con.sql("CREATE TABLE stock AS SELECT * FROM (VALUES ('widget', 5),"
            "('gadget', 0)) t(item, qty)")
    con.close()
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent(f"""
        sources:
          stock:
            connection: duckdb://{db}
            query: SELECT item, qty FROM stock WHERE qty > 0
        destinations:
          in_stock:
            source: $sources.stock
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"),
                          output_dir=str(tmp_path / "o"))
    lines = open(results["$destinations.in_stock"]).read().splitlines()
    assert json.loads(lines[0]) == {"item": "widget", "qty": "5"}


def test_destination_subtemplate_include(spark, tmp_path):
    """Jinja {% include %} subtemplates resolve relative to the template
    file (reference destination.py:74,98)."""
    (tmp_path / "templates").mkdir()
    (tmp_path / "templates" / "row.jsont").write_text(
        '{"item": "{{item}}", "mood": {% include "./mood.jsont" %}}'
    )
    (tmp_path / "templates" / "mood.jsont").write_text(
        '"{% if item == "sun" %}bright{% else %}dim{% endif %}"'
    )
    (tmp_path / "items.csv").write_text("item\nsun\nmoon\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          items:
            file: items.csv
        destinations:
          moods:
            source: $sources.items
            template: templates/row.jsont
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"),
                          output_dir=str(tmp_path / "o"))
    lines = sorted(open(results["$destinations.moods"]).read().splitlines())
    assert json.loads(lines[0]) == {"item": "moon", "mood": "dim"}
    assert json.loads(lines[1]) == {"item": "sun", "mood": "bright"}


def test_extension_ops_in_yaml(spark, tmp_path):
    """Extension operators (semi_join, except_rows) are YAML-usable."""
    (tmp_path / "all.csv").write_text("id,v\n1,a\n2,b\n3,c\n")
    (tmp_path / "banned.csv").write_text("bid\n2\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          all_rows:
            file: all.csv
          banned:
            file: banned.csv
        transformations:
          kept:
            source: $sources.all_rows
            operations:
              - operation: semi_join
                source: $sources.banned
                left_key: id
                right_key: bid
                anti: True
        destinations:
          kept_out:
            source: $transformations.kept
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"),
                          output_dir=str(tmp_path / "o"))
    ids = sorted(json.loads(ln)["id"] for ln in open(results["$destinations.kept_out"]))
    assert ids == ["1", "3"]


def test_parquet_destination_with_partitioning(spark, tmp_path):
    """Columnar destinations (extension): hive-partitioned parquet out,
    readable back with partition pruning."""
    (tmp_path / "rows.csv").write_text(
        "id,region,v\n1,east,a\n2,west,b\n3,east,c\n"
    )
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          rows:
            file: rows.csv
        destinations:
          lake:
            source: $sources.rows
            format: parquet
            partition_by: [region]
            compression: snappy
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"),
                          output_dir=str(tmp_path / "o"))
    out = results["$destinations.lake"]
    assert os.path.isdir(os.path.join(out, "region=east"))
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning reaches the scan
    plan = back.filter(back.region == "east")._jdf.queryExecution().toString()
    assert back.filter(back.region == "east").count() == 2


def test_golden_test_harness(spark, tmp_path):
    """The `earthmover_spark test` harness: sorted-line golden compare,
    like the reference's `earthmover -t`."""
    from earthmover_spark.plans.executor import run_golden_test

    (tmp_path / "pets.csv").write_text("name,legs\nrex,4\ntweety,2\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          pets:
            file: pets.csv
        destinations:
          pets_out:
            source: $sources.pets
    """))
    exp = tmp_path / "expected"
    exp.mkdir()
    # order-insensitive: goldens written in reverse order still match
    (exp / "pets_out.jsonl").write_text(
        '{"name":"tweety","legs":"2"}\n{"name":"rex","legs":"4"}\n'
    )
    assert run_golden_test(spark, str(tmp_path / "earthmover.yaml")) == {}

    # a changed golden is reported with the first differing line
    (exp / "pets_out.jsonl").write_text(
        '{"name":"tweety","legs":"3"}\n{"name":"rex","legs":"4"}\n'
    )
    failures = run_golden_test(spark, str(tmp_path / "earthmover.yaml"))
    assert "pets_out.jsonl" in failures


def test_parameter_defaults(spark, tmp_path):
    (tmp_path / "data.csv").write_text("a,b\n1,x\n2,y\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out
          parameter_defaults:
            DATA_FILE: data.csv
            SUFFIX: _dflt

        sources:
          d:
            file: ${DATA_FILE}

        transformations:
          t:
            source: $sources.d
            operations:
              - operation: add_columns
                columns:
                  tag: "v${SUFFIX}"

        destinations:
          o:
            source: $transformations.t
            extension: jsonl
    """))
    # defaults fill the unset params
    results = run_project(spark, str(tmp_path / "earthmover.yaml"))
    lines = [json.loads(x) for x in open(results["$destinations.o"])]
    assert {l["tag"] for l in lines} == {"v_dflt"}
    # explicit params beat defaults
    results = run_project(
        spark, str(tmp_path / "earthmover.yaml"),
        params={"SUFFIX": "_cli"},
    )
    lines = [json.loads(x) for x in open(results["$destinations.o"])]
    assert {l["tag"] for l in lines} == {"v_cli"}


def test_definitions_yaml_anchors(spark, tmp_path):
    (tmp_path / "p.csv").write_text("id,v\n1,aa\n2,bb\n3,aa\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out

        definitions:
          ops:
            - &keep_v
              operation: keep_columns
              columns: [v]

        sources:
          p:
            file: p.csv

        transformations:
          t1:
            source: $sources.p
            operations:
              - <<: *keep_v
              - operation: distinct_rows
          t2:
            source: $sources.p
            operations:
              - <<: *keep_v
                columns: [id, v]   # merge-key override

        destinations:
          o1:
            source: $transformations.t1
            extension: jsonl
          o2:
            source: $transformations.t2
            extension: jsonl
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"))
    o1 = sorted(open(results["$destinations.o1"]).read().splitlines())
    assert [json.loads(x)["v"] for x in o1] == ["aa", "bb"]
    o2 = [json.loads(x) for x in open(results["$destinations.o2"])]
    assert all(set(r) == {"id", "v"} for r in o2) and len(o2) == 3


def test_state_file_from_config(spark, tmp_path):
    state = tmp_path / "custom_state.csv"
    (tmp_path / "s.csv").write_text("a\n1\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent(f"""
        config:
          output_dir: ./out
          state_file: {state}

        sources:
          s:
            file: s.csv

        destinations:
          o:
            source: $sources.s
            extension: jsonl
    """))
    r1 = run_project(
        spark, str(tmp_path / "earthmover.yaml"), skip_if_unchanged=True
    )
    assert "__skipped__" not in r1
    assert state.exists()  # runs recorded at the configured path
    r2 = run_project(
        spark, str(tmp_path / "earthmover.yaml"), skip_if_unchanged=True
    )
    assert "__skipped__" in r2


def test_hashing_default_force_and_skip_flags(spark, tmp_path):
    """Reference flag parity (__main__.py:82-89): with a config
    `state_file`, hashing + skip is the DEFAULT (no opt-in flag);
    --force re-runs anyway but still logs; --skip-hashing disables
    hashing and the run-log write entirely."""
    state = tmp_path / "state.csv"
    (tmp_path / "s.csv").write_text("a\n1\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent(f"""
        config:
          output_dir: ./out
          state_file: {state}

        sources:
          s:
            file: s.csv

        destinations:
          o:
            source: $sources.s
            extension: jsonl
    """))
    cfg = str(tmp_path / "earthmover.yaml")
    # hashing-by-default: no skip_if_unchanged flag passed
    r1 = run_project(spark, cfg)
    assert "__skipped__" not in r1 and state.exists()
    r2 = run_project(spark, cfg)
    assert "__skipped__" in r2
    # -f/--force: executes despite matching hashes, appends to the log
    n_runs_before = len(state.read_text().splitlines())
    r3 = run_project(spark, cfg, force=True)
    assert "__skipped__" not in r3
    assert len(state.read_text().splitlines()) == n_runs_before + 1
    # -k/--skip-hashing: no skip AND no run-log write
    n_runs_before = len(state.read_text().splitlines())
    r4 = run_project(spark, cfg, skip_hashing=True)
    assert "__skipped__" not in r4
    assert len(state.read_text().splitlines()) == n_runs_before


def test_cli_force_skip_hashing_exit_codes(spark, tmp_path, capsys):
    """CLI surface: second identical run exits 99; -f exits 0; -k exits
    0 without touching the runs file."""
    from earthmover_spark.cli import main as cli_main

    state = tmp_path / "state.csv"
    (tmp_path / "s.csv").write_text("a\n1\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent(f"""
        config:
          output_dir: ./out
          state_file: {state}

        sources:
          s:
            file: s.csv

        destinations:
          o:
            source: $sources.s
            extension: jsonl
    """))
    cfg = ["-c", str(tmp_path / "earthmover.yaml")]
    assert cli_main(["run", *cfg]) == 0
    assert cli_main(["run", *cfg]) == 99
    assert cli_main(["run", *cfg, "--force"]) == 0
    mtime = state.stat().st_mtime_ns
    assert cli_main(["run", *cfg, "-k"]) == 0
    assert state.stat().st_mtime_ns == mtime
    capsys.readouterr()


def test_init_scaffold_runs_end_to_end(spark, tmp_path, capsys):
    """`init` writes a starter project that runs unmodified
    (reference init.py:1-35)."""
    import json as _json

    from earthmover_spark.cli import main as cli_main
    from earthmover_spark.plans.executor import run_project as _run

    import os as _os
    cwd = _os.getcwd()
    _os.chdir(tmp_path)
    try:
        assert cli_main(["init", "zoo demo!"]) == 0  # sanitized -> zoodemo
    finally:
        _os.chdir(cwd)
    proj = tmp_path / "zoodemo"
    assert (proj / "earthmover.yaml").exists()
    assert (proj / "README.md").exists()
    results = _run(spark, str(proj / "earthmover.yaml"))
    rows = [
        _json.loads(ln)
        for ln in open(results["$destinations.animals"]).read().splitlines()
    ]
    assert len(rows) == 6
    assert {r["kingdom"] for r in rows} == {"animalia"}
    assert {r["family"] for r in rows} >= {"Mustelidae", "Salmonidae"}
    # name with no valid characters errors like the reference
    assert cli_main(["init", "!!!"]) == 1
    capsys.readouterr()


def test_render_png_always_produces_an_image(spark, tmp_path):
    """PNG graph parity (reference graph.py:116-160). Since r12 the
    renderer chain ends in a pure-stdlib raster tier, so a PNG is
    produced in EVERY environment — no skip. When the raster tier ran
    (no dot/matplotlib here), our own PNG decoder must read it back
    with node-fill pixels present."""
    import shutil as _shutil

    from earthmover_spark.plans.config import compile_config
    from earthmover_spark.plans.graph import Graph, render_png

    (tmp_path / "s.csv").write_text("a\n1\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          s:
            file: s.csv
        destinations:
          o:
            source: $sources.s
            extension: jsonl
    """))
    project = compile_config(str(tmp_path / "earthmover.yaml"))
    out = render_png(Graph(project), str(tmp_path / "g.png"))
    assert out and (tmp_path / "g.png").stat().st_size > 0
    data = (tmp_path / "g.png").read_bytes()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    have_external = bool(_shutil.which("dot"))
    if not have_external:
        try:
            import matplotlib  # noqa: F401

            have_external = True
        except ImportError:
            pass
    if not have_external:
        from earthmover_spark.llm.png import decode_png

        w, h, rows = decode_png(data)
        assert w > 100 and h > 50
        flat = b"".join(rows)
        pixels = {flat[i:i + 3] for i in range(0, len(flat), 3)}
        assert bytes((139, 211, 199)) in pixels  # source fill
        assert bytes((244, 165, 174)) in pixels  # destination fill
        assert bytes((0, 0, 0)) in pixels  # borders/labels


def test_columnar_target_file_size(spark, tmp_path):
    """target_file_mb sizes the output part count from Catalyst's plan
    estimate — a 200-partition tiny frame coalesces to one file instead
    of 200 shards."""
    from earthmover_spark.destinations.file_destination import write_columnar

    df = spark.range(0, 10000).repartition(200)
    out = write_columnar(
        df, "sized", str(tmp_path), format="parquet", target_file_mb=64
    )
    parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(parts) == 1
    got = spark.read.parquet(out)
    assert got.count() == 10000


def test_set_overrides(spark, tmp_path):
    """`--set path value` dotted-path config overrides (reference
    earthmover/__main__.py:106-110) — applied post-parse, so they can
    retarget a source file or flip any config key."""
    from earthmover_spark.cli import main as cli_main

    (tmp_path / "a.csv").write_text("x\n1\n")
    (tmp_path / "b.csv").write_text("x\n2\n3\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          rows:
            file: a.csv
        destinations:
          rows_out:
            source: $sources.rows
    """))
    rc = cli_main([
        "run", "-c", str(tmp_path / "earthmover.yaml"),
        "-o", str(tmp_path / "o"),
        "--set", "sources.rows.file", str(tmp_path / "b.csv"),
    ])
    assert rc == 0
    lines = open(tmp_path / "o" / "rows_out.jsonl").read().splitlines()
    assert len(lines) == 2  # b.csv (2 rows), not a.csv (1 row)


def test_git_package(spark, tmp_path):
    """`packages: {git: <url>, branch:, subdirectory:}` clones with the
    system git client into <project>/packages/<name> (reference
    package.py:173-213) — tested against a local git repo, no network."""
    import subprocess

    repo = tmp_path / "pkg_repo"
    (repo / "bundle" / "data").mkdir(parents=True)
    (repo / "bundle" / "data" / "pets.csv").write_text("name\nrex\nfifi\n")
    (repo / "bundle" / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          pets:
            file: data/pets.csv
        destinations:
          pets_out:
            source: $sources.pets
    """))
    env = {"GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t", "HOME": str(tmp_path),
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t", "PATH": os.environ["PATH"]}
    for cmd in (["git", "init", "-q", "-b", "main"], ["git", "add", "-A"],
                ["git", "commit", "-q", "-m", "pkg"]):
        subprocess.run(cmd, cwd=repo, check=True, env=env)

    proj = tmp_path / "proj"
    proj.mkdir()
    (proj / "earthmover.yaml").write_text(textwrap.dedent(f"""
        packages:
          pet_pkg:
            git: file://{repo}
            branch: main
            subdirectory: bundle
    """))
    results = run_project(spark, str(proj / "earthmover.yaml"),
                          output_dir=str(tmp_path / "o"))
    lines = open(results["$destinations.pets_out"]).read().splitlines()
    assert sorted(json.loads(ln)["name"] for ln in lines) == ["fifi", "rex"]


def test_deps_subcommand(tmp_path, capsys):
    from earthmover_spark.cli import main as cli_main

    (tmp_path / "a.csv").write_text("x\n1\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          rows:
            file: a.csv
        destinations:
          out:
            source: $sources.rows
    """))
    rc = cli_main(["deps", "-c", str(tmp_path / "earthmover.yaml")])
    assert rc == 0
    assert "2 nodes" in capsys.readouterr().out


def test_temporal_ops_in_yaml(spark, tmp_path):
    """Temporal operators (window_agg, sessionize, asof_join) are
    YAML-drivable; asof_join resolves its `right:` node reference like
    join's sources."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7.0, "a"), (2, "2024-01-01 10:20:00", 8.0, "a"),
         (3, "2024-01-01 11:10:00", 9.0, "a")],
        ["event_id", "ts_s", "value", "sym"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    ev.write.mode("overwrite").parquet(str(tmp_path / "events"))
    quotes = spark.createDataFrame(
        [("2024-01-01 09:55:00", 100.0, "a"), ("2024-01-01 10:15:00", 200.0, "a")],
        ["qts_s", "px", "sym"],
    ).withColumn("qts", F.to_timestamp("qts_s")).drop("qts_s")
    quotes.write.mode("overwrite").parquet(str(tmp_path / "quotes"))

    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          events:
            file: events
            type: parquet
          quotes:
            file: quotes
            type: parquet
        transformations:
          hourly:
            source: $sources.events
            operations:
              - operation: window_agg
                ts_col: ts
                window_duration: 1 hour
                aggs: {sv: "sum(value)"}
          priced:
            source: $sources.events
            operations:
              - operation: asof_join
                right: $sources.quotes
                left_ts: ts
                right_ts: qts
                left_on: sym
                right_on: sym
                right_cols: [px]
        destinations:
          hourly_out:
            source: $transformations.hourly
          priced_out:
            source: $transformations.priced
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"),
                          output_dir=str(tmp_path / "o"))
    hourly = [json.loads(ln) for ln in
              open(results["$destinations.hourly_out"]).read().splitlines()]
    assert {(h["window_start"][:19], h["sv"]) for h in hourly} == {
        ("2024-01-01 10:00:00", "15.0"), ("2024-01-01 11:00:00", "9.0")
    }
    priced = {json.loads(ln)["event_id"]: json.loads(ln)["px"] for ln in
              open(results["$destinations.priced_out"]).read().splitlines()}
    assert priced == {"1": "100.0", "2": "200.0", "3": "200.0"}


def test_sql_transformation(spark, tmp_path):
    """`operation: sql` — dbt-style SQL transformations over upstream
    nodes referenced as $sources.x/$transformations.y (engine
    extension). References are rewritten to temp views, so full Spark
    SQL (CTEs, windows, joins) composes with YAML operations and
    Catalyst optimizes across the boundary."""
    (tmp_path / "orders.csv").write_text(
        "oid,cust,amt\n1,a,10\n2,a,20\n3,b,5\n"
    )
    (tmp_path / "names.csv").write_text("cust,full\na,Ann\nb,Bo\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          orders:
            file: orders.csv
          names:
            file: names.csv
        transformations:
          spend:
            operations:
              - operation: sql
                query: >
                  SELECT n.full, sum(CAST(o.amt AS DOUBLE)) AS total
                  FROM $sources.orders o
                  JOIN $sources.names n USING (cust)
                  GROUP BY n.full
              - operation: filter_rows
                query: total > "6"
                behavior: include
        destinations:
          spend_out:
            source: $transformations.spend
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"),
                          output_dir=str(tmp_path / "o"))
    rows = {json.loads(ln)["full"]: json.loads(ln)["total"] for ln in
            open(results["$destinations.spend_out"]).read().splitlines()}
    assert rows == {"Ann": "30.0"}


def test_explain_project_returns_plans_without_writing(spark, tmp_path):
    """The explain surface compiles + plans every destination but
    writes nothing; broadcast joins must be visible in the plan."""
    import os

    from earthmover_spark.plans.executor import explain_project

    cfg = os.path.join(
        os.path.dirname(__file__), "..", "examples",
        "01_orders_report", "earthmover.yaml",
    )
    plans = explain_project(
        spark, cfg, params={"SF_DIR": "/root/testdata/sf0.001"}
    )
    assert plans and all(p.strip() for p in plans.values())
    assert any("BroadcastHashJoin" in p for p in plans.values())
    # nothing written anywhere under the example's output dir
    out = os.path.join(os.path.dirname(cfg), "outputs")
    assert not os.path.exists(out)


def test_explain_project_plans_the_rendered_lines(spark, tmp_path):
    """A text destination's plan is the plan of the lines it writes: a
    template that needs the Jinja UDF shows its Python stage, a lowered
    one shows none, and a pivot's uniqueness check is in the plan of the
    destination that reads it."""
    import textwrap

    from earthmover_spark.plans.executor import explain_project

    (tmp_path / "temps.csv").write_text(
        "station,month,temp\ns1,jan,1\ns1,feb,2\ns2,jan,3\n"
    )
    (tmp_path / "called.jsont").write_text(
        '{"s": "{% call wrap() %}{{ station }}{% endcall %}"}\n'
    )
    (tmp_path / "plain.jsont").write_text('{"s": "{{ station }}"}\n')
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out
          macros: >-
            {%raw%}{% macro wrap() %}<{{ caller() }}>{% endmacro %}{%endraw%}
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
          called:
            source: $sources.temps
            template: ./called.jsont
          plain:
            source: $sources.temps
            template: ./plain.jsont
          summary:
            source: $transformations.wide
            extension: jsonl
          columnar:
            source: $transformations.wide
            format: parquet
    """))
    plans = explain_project(spark, str(tmp_path / "earthmover.yaml"))
    assert "ArrowEvalPython" in plans["$destinations.called"]
    assert "EvalPython" not in plans["$destinations.plain"]
    assert "AS line#" in plans["$destinations.summary"]
    for dest in ("summary", "columnar"):
        assert "raise_error" in plans[f"$destinations.{dest}"]
        assert "pivot: duplicate" in plans[f"$destinations.{dest}"]
    assert not (tmp_path / "out").exists()
